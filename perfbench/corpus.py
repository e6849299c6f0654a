"""Seeded synthetic text corpus for the ``corpus_udf`` workload.

The catalog entries read a ``documents`` table (doc_id, text, lang,
source, n_chars). This writes one with the same shape as the repository's
sf-scaled test data: 10-89 words per document drawn from a 30-word
vocabulary, 20 round-robin sources, and a share of near-duplicates (a copy
of an earlier document with one word appended, Jaccard >= 0.9) and exact
duplicates, so the dedup entries have work to find. Pure numpy + pyarrow,
no Spark: the same seed gives byte-identical rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])


def gen_documents_table(n_docs: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 90, size=n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        r = i % 25
        if i >= 25 and r == 7:
            # near-duplicate of an earlier document
            texts.append(texts[i - 7 - 25 * int(rng.integers(0, i // 25))] + " dup")
        elif i >= 25 and r == 19:
            texts.append(texts[i - 1])  # exact duplicate
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), lengths[i])]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_corpus(sf_dir: str, n_docs: int, seed: int) -> str:
    """Write ``<sf_dir>/documents.parquet``; returns its path."""
    import os

    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(gen_documents_table(n_docs, seed), path)
    return path
