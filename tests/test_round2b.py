"""Round-2 engine additions: broadcast winner-fingerprint reduction,
stale-only metadata commits and per-bucket write elision, and cache-free
merge stats parity."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from opendataloader_pdf_spark.cdc import ParquetMergeSink, ReplayEngine
from opendataloader_pdf_spark.cdc.events import (
    reduce_batch,
    reduce_batch_broadcast,
)
from opendataloader_pdf_spark.datagen import gen_change_events


def _canon(df):
    pdf = df.toPandas()
    pdf["tokens"] = pdf["tokens"].map(
        lambda t: None if t is None else tuple(t)
    )
    return pdf.sort_values("doc_id").reset_index(drop=True)


def test_broadcast_reduce_equals_agg_reduce(spark):
    ev = gen_change_events(spark, 30_000, 2_000, seed=11).drop(
        "schema_version", "ts"
    )
    a = _canon(reduce_batch(ev))
    b = _canon(reduce_batch_broadcast(ev, n_keys=2_000))
    assert a.equals(b[a.columns])


def test_broadcast_strategy_replay_byte_identical(spark, tmp_path):
    ev = gen_change_events(spark, 20_000, 1_500, seed=12)
    evp = str(tmp_path / "events")
    ev.write.mode("overwrite").parquet(evp)
    ev = spark.read.parquet(evp)

    finals = {}
    for strategy in ("agg", "broadcast"):
        sink = ParquetMergeSink(spark, str(tmp_path / strategy), n_buckets=8)
        eng = ReplayEngine(spark, sink, reduce_strategy=strategy)
        eng.bootstrap(None)
        eng.replay(ev, batch_size=5_000)
        finals[strategy] = _canon(sink.read())
    assert finals["agg"].equals(finals["broadcast"])


def test_stale_only_batch_commits_metadata_only(spark, tmp_path):
    """Replaying an already-applied slice again (fresh engine, sink keeps
    its state) must not rewrite any data file: every event is stale, so
    the merge commits metadata only."""
    ev = gen_change_events(spark, 8_000, 600, seed=13)
    evp = str(tmp_path / "events")
    ev.write.mode("overwrite").parquet(evp)
    ev = spark.read.parquet(evp)

    sink = ParquetMergeSink(spark, str(tmp_path / "tbl"), n_buckets=8)
    eng = ReplayEngine(spark, sink)
    eng.bootstrap(None)
    eng.replay(ev, batch_size=100_000)  # whole log in one batch

    before = sink.manifest()
    data_files_before = {
        b: ent["path"] for b, ent in before["buckets"].items()
    }

    # same events, higher delivery_seq -> lands in a NEW batch slot, but
    # every (doc_id, lsn) already applied -> zero winners
    n_keys = ev.select("doc_id").distinct().count()
    shifted = ev.withColumn(
        "delivery_seq", F.col("delivery_seq") + F.lit(200_000)
    )
    shifted.write.mode("overwrite").parquet(str(tmp_path / "events2"))
    log2 = ev.unionByName(spark.read.parquet(str(tmp_path / "events2")))

    summary = eng.replay(log2, batch_size=100_000)
    applied = sum(b.get("applied", 0) for b in summary.batches)
    assert applied == 0

    after = sink.manifest()
    data_files_after = {b: ent["path"] for b, ent in after["buckets"].items()}
    # no bucket was rewritten: identical file paths, no new snap dir rows
    assert data_files_after == data_files_before
    assert after["batch_id"] > before["batch_id"]
    # the stale slice is still visible in lineage: one reduced (stale)
    # change row per key in the re-replayed slot
    audit = sink.read_audit().filter(F.col("batch_id") > before["batch_id"])
    stale_total = audit.agg(F.sum("stale")).collect()[0][0]
    assert stale_total == n_keys


def test_written_file_stats_match_analytic_precompute(spark, tmp_path):
    """Two independent lineage-stats paths must agree exactly: the
    cache-free post-write aggregation over the snapshot's persisted merge
    flags, and the upfront analytic per-key window precompute."""
    ev = gen_change_events(spark, 12_000, 900, seed=14)
    evp = str(tmp_path / "events")
    ev.write.mode("overwrite").parquet(evp)
    ev = spark.read.parquet(evp)

    audits = {}
    for name, gate in (("postwrite", 0), ("precompute", 10**9)):
        sink = ParquetMergeSink(spark, str(tmp_path / name), n_buckets=8)
        eng = ReplayEngine(spark, sink, precompute_stats_max_batch=gate)
        eng.bootstrap(None)
        eng.replay(ev, batch_size=3_000)
        audits[name] = (
            sink.read_audit()
            .groupBy("batch_id", "bucket")
            .agg(
                F.sum("updated").alias("u"), F.sum("inserted").alias("i"),
                F.sum("deleted").alias("d"), F.sum("stale").alias("s"),
                F.min("min_lsn").alias("lo"), F.max("max_lsn").alias("hi"),
            )
            .toPandas()
            .sort_values(["batch_id", "bucket"])
            .reset_index(drop=True)
        )
    assert audits["postwrite"].equals(audits["precompute"])


def test_partly_stale_batch_rewrites_only_winning_buckets(spark, tmp_path):
    """With the audit precomputed, a batch whose changes in one bucket
    all lose rewrites only the buckets that hold a winner: the losing
    bucket keeps its files, the new snapshot writes nothing for it, and
    its stale changes still show in the lineage."""
    sink = ParquetMergeSink(spark, str(tmp_path / "tbl"), n_buckets=4)
    eng = ReplayEngine(spark, sink)
    docs = [f"d{i}" for i in range(40)]
    base = spark.createDataFrame(
        [(d, [1], 1, "seed", 10) for d in docs],
        "doc_id string, tokens array<int>, n_tok int, source string, lsn long",
    )
    eng.bootstrap(base)
    bucket = {
        r["doc_id"]: r["b"] for r in
        base.select("doc_id", sink.bucket_of("doc_id").alias("b")).collect()
    }
    stale_b = bucket[docs[0]]
    assert len(set(bucket.values())) > 1
    ev = spark.createDataFrame(
        [(5 if bucket[d] == stale_b else 20, d, "update", [2], 1, "s", 1, i)
         for i, d in enumerate(docs)],
        "lsn long, doc_id string, op string, tokens array<int>, n_tok int, "
        "source string, schema_version int, delivery_seq long",
    ).withColumn("ts", F.current_timestamp())

    before = sink.manifest()["buckets"]
    eng.replay(ev, batch_size=100)
    after = sink.manifest()

    assert after["buckets"][str(stale_b)] == before[str(stale_b)]
    assert all(after["buckets"][b]["path"] != ent["path"]
               for b, ent in before.items() if b != str(stale_b))
    snap = os.path.join(sink.data_dir, f"snap-{after['snapshot_id']}")
    assert not os.path.exists(os.path.join(snap, f"bucket={stale_b}"))
    got = {r["doc_id"]: r["lsn"] for r in sink.read().collect()}
    assert got == {d: 10 if bucket[d] == stale_b else 20 for d in docs}
    audit = {r["bucket"]: r for r in sink.read_audit().collect()}
    assert audit[stale_b]["stale"] == sum(b == stale_b for b in bucket.values())
    assert audit[stale_b]["updated"] == 0
