"""Pin the bpe_encode merge semantics on hand-computed words: leftmost
occurrence of the LOWEST-rank pair merges first (not leftmost-any-pair,
not batch-all-occurrences), merged symbols immediately form new merge
candidates, and words with no table pair pass through as characters.
The corpus-level strict oracle gates the same loop at scale; this pins
the intent on cases small enough to verify by eye."""

from __future__ import annotations


def _encode(word: str, ranks: dict[str, int]) -> list[str]:
    """Reference implementation of the entry's per-word loop (kept in
    lockstep with queries.bpe_encode and its recursive-CTE oracle)."""
    syms = list(word)
    while True:
        best_r = best_i = None
        for i in range(len(syms) - 1):
            r = ranks.get(syms[i] + "\x1f" + syms[i + 1])
            if r is not None and (best_r is None or r < best_r):
                best_r, best_i = r, i
        if best_i is None:
            return syms
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]


def _ranks(*pairs: tuple[str, str]) -> dict[str, int]:
    return {a + "\x1f" + b: i + 1 for i, (a, b) in enumerate(pairs)}


def test_lowest_rank_beats_leftmost_position():
    # (a,b) is rank 1 — in "baba" it merges at position 2 even though
    # the rank-2 pair (b,a) occurs earlier at position 1
    r = _ranks(("a", "b"), ("b", "a"))
    assert _encode("baba", r) == ["b", "ab", "a"]


def test_merged_symbol_forms_new_candidates():
    # after (a,b)->ab, the (ab,ab) pair from the table merges the rest
    r = _ranks(("a", "b"), ("ab", "ab"))
    assert _encode("abab", r) == ["abab"]


def test_repeated_pair_consumed_left_to_right():
    r = _ranks(("a", "a"))
    assert _encode("aaa", r) == ["aa", "a"]
    assert _encode("aaaa", r) == ["aa", "aa"]


def test_no_table_pair_passes_through():
    r = _ranks(("x", "y"))
    assert _encode("abc", r) == ["a", "b", "c"]
    assert _encode("a", r) == ["a"]


def test_entry_matches_reference_loop(spark, sf_dir):
    """The catalog entry's Spark output equals this reference loop run
    over the same corpus with the same derived merge table."""
    import re

    from pyspark.sql import functions as F

    from opendataloader_pdf_spark.queries import QUERIES
    from opendataloader_pdf_spark.sources.tables import load_table

    got = {
        (r["doc_id"], r["wi"]): (r["n_pieces"], r["pieces_str"])
        for r in QUERIES["bpe_encode"].fn(spark, sf_dir).collect()
    }

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs: dict[str, int] = {}
    rows = docs.collect()
    for r in rows:
        for w in re.split(r"\s+", r["text"].strip()):
            for i in range(len(w) - 1):
                k = w[i] + "\x1f" + w[i + 1]
                pairs[k] = pairs.get(k, 0) + 1
    top = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:40]
    ranks = {k: i + 1 for i, (k, _c) in enumerate(top)}

    want = {}
    for r in rows:
        for wi, w in enumerate(re.split(r"\s+", r["text"].strip()), 1):
            if not w:  # a blank document has no word
                continue
            p = _encode(w, ranks)
            want[(r["doc_id"], wi)] = (len(p), " ".join(p))
    assert got == want


def test_blank_documents_emit_no_rows(spark, tmp_path):
    """An empty and a whitespace-only document hold no word: neither the
    Spark entry nor its DuckDB oracle emits a row for them (both split a
    blank text into one empty string, which must not count as a word),
    while the other documents' words keep their positions."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opendataloader_pdf_spark.queries import QUERIES

    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
                  "text": ["abab ab", "", "   ", " baba  ab ", "\t \n"]}),
        str(tmp_path / "documents.parquet"),
    )
    q = QUERIES["bpe_encode"]
    cols = ["doc_id", "wi", "n_chars", "n_pieces", "pieces_str"]
    got = sorted(tuple(r) for r in
                 q.fn(spark, str(tmp_path)).select(*cols).collect())
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path / 'documents.parquet'}'")
    want = sorted(tuple(r) for r in con.sql(
        f"SELECT {', '.join(cols)} FROM ({q.oracle})").fetchall())
    assert got == want
    assert {r[0] for r in got} == {1, 4}
    assert [(r[0], r[1]) for r in got] == [(1, 1), (1, 2), (4, 1), (4, 2)]
