"""Point lookups (bucket-pruned + pushed key predicate) and the
per-commit changelog follower."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import types as T

from opendataloader_pdf_spark.cdc import (
    MergeOnReadSink,
    ParquetMergeSink,
    ReplayEngine,
    apply_changes,
    follow_changes,
    read_at,
    schema_at,
)
from opendataloader_pdf_spark.cdc.storage import key_relation
from opendataloader_pdf_spark.datagen import gen_change_events
from opendataloader_pdf_spark.testing import assert_states_equal, count_jobs


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("lkp")
    ev = gen_change_events(spark, 8_000, 800, seed=17)
    ev.write.mode("overwrite").parquet(str(d / "events"))
    sink = ParquetMergeSink(spark, str(d / "tbl"), n_buckets=16)
    eng = ReplayEngine(spark, sink)
    eng.bootstrap(None)
    eng.replay(spark.read.parquet(str(d / "events")), batch_size=2_000)
    return sink


def test_lookup_matches_full_scan_filter(spark, table):
    all_rows = {r["doc_id"]: r["lsn"] for r in table.read().collect()}
    some = sorted(all_rows)[:7]
    got = {r["doc_id"]: r["lsn"] for r in table.lookup(some).collect()}
    assert got == {k: all_rows[k] for k in some}
    # a deleted/absent key returns nothing
    assert table.lookup(["no-such-doc"]).count() == 0
    assert table.lookup([]).count() == 0


def test_lookup_prunes_buckets(spark, table):
    some = sorted(r["doc_id"] for r in table.read().limit(3).collect())
    df = table.lookup(some)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the scan's file index holds only the keys' buckets, not all 16
    want = {
        r["b"] for r in
        spark.createDataFrame([(k,) for k in some], "doc_id string")
        .select(table.bucket_of("doc_id").alias("b")).collect()
    }
    import re
    opened = set(re.findall(r"bucket=(\d+)", plan))
    assert opened  # pruned paths are visible in the scan
    assert opened == {str(b) for b in want}
    # key predicate reaches the parquet scan
    assert "PushedFilters" in plan and "In(doc_id" in plan.replace(" ", "")[
        plan.replace(" ", "").find("PushedFilters"):]


# keys whose SQL literal needs escaping, or whose text looks like an
# escape sequence, next to plain ones; None routes like the writer's
# hash of NULL
TRICKY_STRINGS = ["it's", "back\\slash", "\\u0041", "line\nbreak",
                  "tab\there", "%_", "ünï©ødé 数据", "", "doc-1", None]


@pytest.mark.parametrize("key_type,keys", [
    (T.StringType(), TRICKY_STRINGS),
    (T.IntegerType(), [0, 1, -1, 7, 2**31 - 1, -2**31, None]),
    # hash(int 1) != hash(bigint 1): the routing must cast to the key type
    (T.LongType(), [0, 1, -1, 7, 2**40, 2**63 - 1, -2**63, None]),
], ids=["string", "int", "bigint"])
def test_lookup_routes_keys_like_the_writer(spark, tmp_path, key_type, keys):
    """The job-free routing gives every key the bucket a typed
    createDataFrame + bucket_of reference gives it, and a lookup of the
    keys opens exactly those buckets and returns every stored key."""
    schema = T.StructType([T.StructField("k", key_type),
                           T.StructField("lsn", T.LongType())])
    stored = [x for x in keys if x is not None]
    sink = ParquetMergeSink(spark, str(tmp_path / "t"), n_buckets=16,
                            key="k")
    sink.initialize(
        spark.createDataFrame([(x, i) for i, x in enumerate(stored)], schema),
        schema,
    )
    ref = [
        r["b"] for r in
        spark.createDataFrame([(x,) for x in keys],
                              T.StructType([schema.fields[0]]))
        .select(sink.bucket_of("k").alias("b")).collect()
    ]
    got = [
        r["b"] for r in
        key_relation(spark, keys, key_type)
        .select(sink.bucket_of("k").alias("b")).collect()
    ]
    assert got == ref

    df = sink.lookup(keys)
    stored_buckets = {int(b) for b in sink.manifest()["buckets"]}
    opened = {int(re.search(r"bucket=(\d+)", f).group(1))
              for f in df.inputFiles()}
    assert opened == set(ref) & stored_buckets
    assert sorted(r["k"] for r in df.collect()) == sorted(stored)


@pytest.fixture(scope="module")
def mor_events(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("lkp_mor")
    gen_change_events(spark, 3_000, 300, seed=23).write.mode(
        "overwrite"
    ).parquet(str(d / "ev"))
    return spark.read.parquet(str(d / "ev"))


@pytest.mark.parametrize("layout", ["cow", "mor", "mor_bloom"])
def test_lookup_builds_without_spark_jobs(spark, table, mor_events,
                                          tmp_path, layout):
    """Routing keys to buckets (and, with blooms, to delta files) is
    driver-side: building a lookup launches no Spark job. Collecting it
    does — which shows the counter sees jobs at all."""
    if layout == "cow":
        sink = table
    else:
        sink = MergeOnReadSink(
            spark, str(tmp_path / layout), n_buckets=8,
            bloom_bits=2048 if layout == "mor_bloom" else 0)
        eng = ReplayEngine(spark, sink)
        eng.bootstrap(None)
        eng.replay(mor_events, batch_size=1_000)
        deltas = [d for e in sink.manifest()["buckets"].values()
                  for d in e.get("deltas", [])]
        assert deltas
        assert all(("bloom" in d) == (layout == "mor_bloom")
                   for d in deltas)
    keys = sorted(r["doc_id"] for r in sink.read().limit(10).collect())
    with count_jobs(spark) as jobs:
        df = sink.lookup(keys + ["no-such-doc"])
        assert jobs() == 0
        assert sorted(r["doc_id"] for r in df.collect()) == keys
        assert jobs() >= 1


def test_follow_changes_replicates_history(spark, table, tmp_path):
    sid0 = table.manifest()["commits"][0]["snapshot_id"]
    replica = ParquetMergeSink(spark, str(tmp_path / "rep"), n_buckets=8)
    replica.initialize(read_at(table, sid0), schema_at(table, sid0))

    n_commits = 0
    last = sid0
    for commit, ch in follow_changes(table, sid0):
        apply_changes(ch, replica)
        n_commits += 1
        last = commit["snapshot_id"]
    assert n_commits >= 2
    if last != table.snapshot_id():  # trailing schema-evo snapshot
        from opendataloader_pdf_spark.cdc import changes_between

        apply_changes(changes_between(table, last, table.snapshot_id()), replica)

    cols = ["doc_id", "tokens", "n_tok", "source", "lang", "lsn"]

    def _cols(df):
        for c in cols:
            if c not in df.columns:
                df[c] = None
        return df[cols]

    assert_states_equal(
        _cols(replica.read().toPandas()), _cols(table.read().toPandas())
    )
