"""Round-2 additions: LSH pair recall, similarity scale guards, the
exactly-once emission of the overlap join, and the finalized-flush
replay guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opendataloader_pdf_spark.cdc import ParquetMergeSink, ReplayEngine


# ------------------------------------------------------- similarity guards

def test_cosine_pairs_lsh_subset_and_recall(spark, sf_dir):
    from opendataloader_pdf_spark.functions.similarity import (
        cosine_pairs_above,
        cosine_pairs_lsh,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_above(
            emb, "vec_id", "embedding", 0.4, exact_limit=None
        ).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_lsh(
            emb, "vec_id", "embedding", 0.4, dim=64,
            planes_per_band=3, bands=6,
        ).collect()
    }
    assert approx <= exact              # every emitted pair is exact-verified
    if exact:
        assert len(approx) / len(exact) >= 0.6   # banded OR-construction recall


def test_cosine_pairs_above_size_gate_routes_to_lsh(spark):
    from opendataloader_pdf_spark.functions.similarity import cosine_pairs_above

    vecs = spark.createDataFrame(
        [(i, [1.0 + 0.001 * i, 0.5]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    # exact_limit below the corpus size → LSH path; near-identical vectors
    # share every sign signature, so recall here is 1.0 and the gated
    # result equals the exact one
    gated = cosine_pairs_above(vecs, "vec_id", "embedding", 0.99, exact_limit=5)
    exact = cosine_pairs_above(vecs, "vec_id", "embedding", 0.99, exact_limit=None)
    assert {tuple(r) for r in gated.collect()} == {tuple(r) for r in exact.collect()}


def test_ngram_df_cap_drops_hot_shingle(spark):
    from opendataloader_pdf_spark.functions.similarity import ngram_jaccard_pairs

    # every doc shares the boilerplate header; docs 1/2 share real content
    docs = spark.createDataFrame(
        [
            (1, "common header line alpha beta gamma"),
            (2, "common header line alpha beta gamma"),
            (3, "common header line totally different text here"),
            (4, "common header line nothing shared with others"),
        ],
        "doc_id long, text string",
    )
    uncapped = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_df=3
    )
    # 'common header line' (df=4) is dropped by the cap; docs 1/2 remain
    # perfect duplicates on their surviving shingles
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert got == {(1, 2): 1.0}
    # the uncapped form also pairs (1,2) but through the hot shingle it
    # additionally co-groups all 6 pairs in one reducer — the cap's point
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in uncapped.collect()}


def test_minhash_bucket_cap_bounds_candidates(spark):
    from opendataloader_pdf_spark.functions.similarity import (
        minhash_lsh_candidates,
    )

    # 12 identical docs → every band bucket has 12 members → 66 pairs;
    # with max_bucket=4 those degenerate buckets are dropped entirely
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated in every document") for i in range(12)]
        + [(100, "a unique document with its own words entirely")],
        "doc_id long, text string",
    )
    uncapped = minhash_lsh_candidates(docs, "doc_id", "text", n=3, k=8, bands=4)
    capped = minhash_lsh_candidates(
        docs, "doc_id", "text", n=3, k=8, bands=4, max_bucket=4
    )
    assert uncapped.count() == 66
    assert capped.count() == 0
    cset = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    uset = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    assert cset <= uset


# ------------------------------------------------ overlap join exact-once

def test_interval_overlap_join_emits_each_pair_once(spark):
    from opendataloader_pdf_spark.operators.spatial import interval_overlap_join

    a = spark.createDataFrame([(1, 0.0, 10.0)], "a_id long, lo double, hi double")
    b = spark.createDataFrame(
        [(10, 5.0, 25.0), (11, 9.5, 10.5), (12, 11.0, 12.0)],
        "b_id long, b_lo double, b_hi double",
    )
    # bucket_width=1 → interval a spans 10 buckets, b_10 spans 20: they
    # share 5 buckets but the pair must emit exactly once
    out = interval_overlap_join(a, b, "lo", "hi", "b_lo", "b_hi", bucket_width=1.0)
    rows = [(r["a_id"], r["b_id"]) for r in out.collect()]
    assert sorted(rows) == [(1, 10), (1, 11)]   # b_12 doesn't overlap


# ------------------------------------------------- XY-Cut++ fidelity

def _xy_rows(spark, boxes):
    """boxes: list of (label, left, top, right, bottom) in PDF coords
    (y grows upward, as in the reference's createTextLine(left, top,
    right, bottom))."""
    return spark.createDataFrame(
        [("d", 1, lab, float(l), float(r), float(b), float(t))
         for lab, l, t, r, b in boxes],
        "doc_id string, page int, label string, left_x double, "
        "right_x double, bottom_y double, top_y double",
    )


def _xy_order(spark, boxes, **kw):
    from opendataloader_pdf_spark.operators.folds import xy_cut_order

    df = _xy_rows(spark, boxes)
    out = xy_cut_order(df, **kw)
    rows = sorted(out.collect(), key=lambda r: r["reading_rank"])
    return [r["label"] for r in rows]


def test_xy_cut_single_column_top_to_bottom(spark):
    # XYCutPlusPlusSorterTest.sort_singleColumn_topToBottom (:61-76)
    order = _xy_order(spark, [
        ("C", 10, 70, 100, 60),
        ("A", 10, 90, 100, 80),
        ("B", 10, 80, 100, 70),
    ])
    assert order == ["A", "B", "C"]


def test_xy_cut_wide_header_cross_layout(spark):
    # XYCutPlusPlusSorterTest.identifyCrossLayoutElements_wideHeader
    # (:80-100): header (width 180 >= 0.7*180) overlapping both columns
    # is masked, columns read left column then right, header merges first
    order = _xy_order(spark, [
        ("Header", 10, 95, 190, 85),
        ("Col1-A", 10, 75, 50, 65),
        ("Col1-B", 10, 55, 50, 45),
        ("Col2-A", 100, 75, 140, 65),
        ("Col2-B", 100, 55, 140, 45),
    ], cross_layout_beta=0.7)
    assert order == ["Header", "Col1-A", "Col1-B", "Col2-A", "Col2-B"]


def test_xy_cut_narrow_elements_not_cross_layout(spark):
    # :102-112 — similar widths → nothing masked, plain top-to-bottom
    order = _xy_order(spark, [
        ("A", 10, 90, 50, 80),
        ("B", 10, 70, 50, 60),
        ("C", 10, 50, 50, 40),
    ], cross_layout_beta=0.7)
    assert order == ["A", "B", "C"]


def test_xy_cut_two_columns_reads_left_then_right(spark):
    # two-column layout: vertical gap between columns > min_gap → left
    # column fully precedes right column
    order = _xy_order(spark, [
        ("R1", 100, 90, 140, 80),
        ("L1", 10, 90, 50, 80),
        ("R2", 100, 70, 140, 60),
        ("L2", 10, 70, 50, 60),
    ])
    assert order == ["L1", "L2", "R1", "R2"]


# ------------------------------------------------- finalized-flush guard

EV_SCHEMA = (
    "lsn long, doc_id string, op string, tokens array<int>, n_tok int, "
    "source string, lang string, schema_version int, delivery_seq long, "
    "patch_start int, patch_del int"
)


def _ev(spark, rows):
    return spark.createDataFrame(rows, EV_SCHEMA).withColumn(
        "ts", F.current_timestamp()
    )


def test_finalized_sink_rejects_grown_log(spark, tmp_path):
    rows = [
        (1, "a", "insert", [1, 2], 2, "s", None, 1, 0, None, None),
        # orphan patch → parks in pending → terminal flush runs & finalizes
        (5, "b", "patch", [9], 1, "s", None, 1, 1, 0, 0),
    ]
    sink = ParquetMergeSink(spark, str(tmp_path / "fin"), n_buckets=4)
    eng = ReplayEngine(spark, sink)
    eng.bootstrap(None)
    eng.replay(_ev(spark, rows), batch_size=10)           # finalize=True

    # same log again: idempotent no-op, no error
    eng.replay(_ev(spark, rows), batch_size=10)

    # grown log (events land in the flushed slot) → must raise, not skip
    grown = rows + [(7, "c", "insert", [3], 1, "s", None, 1, 11, None, None)]
    with pytest.raises(ValueError, match="finalized"):
        eng.replay(_ev(spark, grown), batch_size=10)


def test_low_overlap_merge_keeps_one_file_set_per_bucket(spark, tmp_path):
    """Low-overlap batches (a few hundred changed keys against a 3000-row
    base) go through the one copy-on-write MERGE. Its final state and
    audit are the same whether the engine precomputes the audit or the
    merge derives it from the written files, and the snapshot write stays
    bucket-aligned: no batch adds files to a bucket."""
    import glob

    from pyspark.sql import functions as F  # noqa: F811

    from opendataloader_pdf_spark.datagen import gen_change_events

    base = spark.createDataFrame(
        [(f"doc{i:05d}", [i, i + 1], 2, "seed", i % 3 + 1)
         for i in range(3000)],
        "doc_id string, tokens array<int>, n_tok int, source string, lsn long",
    )
    ev = gen_change_events(spark, 800, 4000, seed=23).withColumn(
        "lsn", F.col("lsn") + 100
    )
    ev.cache()

    def max_files_per_bucket(sink):
        return max(
            len(glob.glob(f"{sink.data_dir}/{ent['path']}/*.parquet"))
            for ent in sink.manifest()["buckets"].values()
        )

    outs = {}
    for name, gate in (("precompute", 4_000_000), ("postwrite", 0)):
        sink = ParquetMergeSink(spark, str(tmp_path / name), n_buckets=4)
        eng = ReplayEngine(spark, sink, precompute_stats_max_batch=gate)
        eng.bootstrap(base)
        eng.replay(ev, batch_size=300, max_batches=1)
        after_first = max_files_per_bucket(sink)
        eng.replay(ev, batch_size=300)
        assert sink.last_batch_id() >= 2
        assert max_files_per_bucket(sink) <= after_first
        outs[name] = (
            sorted(map(tuple, sink.read().collect())),
            sorted(
                map(tuple, sink.read_audit()
                    .select("batch_id", "bucket", "updated", "inserted",
                            "deleted", "stale", "min_lsn", "max_lsn")
                    .collect())
            ),
        )
    ev.unpersist()
    assert outs["precompute"][0] == outs["postwrite"][0]
    assert outs["precompute"][1] == outs["postwrite"][1]


def test_patch_stream_requires_pending_store(spark, tmp_path):
    class RootlessSink(ParquetMergeSink):
        pass

    sink = RootlessSink(spark, str(tmp_path / "nr"), n_buckets=4)
    eng = ReplayEngine(spark, sink)
    eng.bootstrap(None)
    sink.root = None  # simulate a sink without a filesystem root
    rows = [(1, "a", "patch", [1], 1, "s", None, 1, 0, 0, 0)]
    with pytest.raises(ValueError, match="pending store"):
        eng.replay(_ev(spark, rows), batch_size=10)
