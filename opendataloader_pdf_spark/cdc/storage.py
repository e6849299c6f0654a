"""Lake sink with snapshot isolation: ParquetMergeSink.

When an Iceberg runtime jar is present (session.iceberg_available), the
engine uses real ``MERGE INTO`` against an Iceberg table (see
``IcebergSink``). This module provides the sandbox-portable equivalent
with the same commit semantics, built on plain parquet + an atomic
manifest swap — i.e. the parts of Iceberg the north rule actually
exercises:

* **snapshot isolation** — every commit writes NEW files and a new
  manifest; readers of the old manifest are unaffected; a crashed commit
  leaves only orphan files (never a half-updated table).
* **idempotent commits** — the manifest records ``batch_id``; re-applying
  a committed batch is a no-op (exactly-once under retries).
* **bucket pruning** — the table is hash-bucketed on the merge key
  (``bucket = pmod(hash(doc_id), n_buckets)``); a MERGE rewrites only
  the buckets containing changed keys (the copy-on-write analog of
  Iceberg partition-level overwrite). Hashing spreads keys uniformly, so
  a batch of k changed keys touches ``n_buckets * (1 - (1 - 1/n_buckets)**k)``
  buckets: once k exceeds the bucket count, nearly every bucket — and so
  nearly every file — is rewritten, however small a fraction of the
  table's keys the batch touches. Pruning pays for small batches and
  for key-clustered ones, not for a large uniform trickle.
* **additive schema evolution** — the manifest stores a schema per commit;
  old data files are never rewritten for a schema change; reads align
  per-file-group schemas to the current one (missing column → null,
  int32 → int64 widening by cast).
* **no storage listing beyond the manifest** — reads name the manifest's
  leaf dirs (one per bucket file set, plus MoR deltas) as root paths,
  and the session (``session.get_spark``) has Spark list up to 4096 of
  them on the driver instead of in a distributed listing job.

Layout::

    root/
      data/snap-{sid}/bucket={b}/*.parquet    # immutable once committed
      _audit/batch_id={id}/*.parquet          # per-partition lineage rows
      _meta/manifest-{sid}.json               # full state at snapshot sid
      _meta/HEAD                              # name of current manifest (atomic swap)

Reference parity: the commit-then-reread idempotency mirrors the
reference's golden-rerun invariant (IntegrationTest.java:42-52 — re-running
produces identical output); monotonic snapshot ids mirror the content-id
counter (StaticLayoutContainers.java:46-58).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

HEAD = "HEAD"


def _sql_literal(key) -> str:
    """A key as a SQL string literal (backslash and quote escaped;
    ``None`` → ``NULL``), for a cast to the key type."""
    if key is None:
        return "NULL"
    return "'" + str(key).replace("\\", "\\\\").replace("'", "\\'") + "'"


def key_relation(spark: SparkSession, keys: list,
                 key_type: T.DataType) -> DataFrame:
    """Driver-side probe keys as a one-column frame ``k`` of the table's
    key type, over a LocalRelation: ``VALUES`` of one escaped string
    literal per key, cast to ``key_type`` (the cast matters —
    ``hash(int 1) != hash(bigint 1)``). Catalyst folds a projection over
    a LocalRelation into the relation, so collecting a hash of ``k``
    launches no Spark job."""
    rows = ", ".join(f"({_sql_literal(x)})" for x in keys)
    return spark.sql(
        f"SELECT CAST(k AS {key_type.simpleString()}) AS k "
        f"FROM VALUES {rows} AS t(k)"
    )


def key_in(key: str, keys: list, key_type: T.DataType) -> "F.Column":
    """``key IN (…)`` over the same escaped literals as
    :func:`key_relation`, each cast to ``key_type``: one SQL expression
    parsed in one py4j call, where ``F.col(key).isin(keys)`` makes one
    call per key. The cast folds away, so parquet still gets an ``In``
    pushed filter."""
    t = key_type.simpleString()
    lits = ", ".join(f"CAST({_sql_literal(x)} AS {t})" for x in keys)
    return F.expr(f"`{key}` IN ({lits})")


class ConcurrentCommitError(RuntimeError):
    """Another writer moved this table's head between this operation's
    manifest read and its commit (optimistic concurrency, the CAS
    Iceberg performs on its metadata pointer). The losing writer must
    re-read the table state and retry — committing blindly would
    silently drop the other writer's snapshot from the chain."""


def manifest_data_paths(m: dict) -> set[str]:
    """Every data-dir-relative path a manifest references (bucket bases +
    MoR delta chains). THE single definition of 'what a manifest keeps
    alive' — snapshot expiry, orphan scan, and staged-chain abort must
    all agree on it or one of them deletes referenced files."""
    out: set[str] = set()
    for ent in m["buckets"].values():
        if ent.get("path"):
            out.add(ent["path"])
        for d in ent.get("deltas", []):
            out.add(d["path"])
    return out


def _atomic_write(path: str, payload: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class ParquetMergeSink:
    """Hash-bucketed copy-on-write table with manifest commits."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 64,
                 key: str = "doc_id", order: str = "lsn"):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.key = key
        self.order = order
        self.meta_dir = os.path.join(root, "_meta")
        self.data_dir = os.path.join(root, "data")
        self.audit_dir = os.path.join(root, "_audit")

    # ------------------------------------------------------------- manifest

    def _head_path(self) -> str:
        return os.path.join(self.meta_dir, HEAD)

    def exists(self) -> bool:
        return os.path.exists(self._head_path())

    def manifest(self) -> dict:
        with open(self._head_path()) as f:
            name = f.read().strip()
        with open(os.path.join(self.meta_dir, name)) as f:
            m = json.load(f)
        # the bucket count is a TABLE property, not a session choice:
        # adopt the manifest's value so reopening an existing table with a
        # different constructor n_buckets can never mis-bucket a merge or
        # mis-prune a read (pre-rescale manifests lack the field — keep
        # the constructor value there). maintenance.rescale_buckets is the
        # only writer of a changed value.
        nb = m.get("n_buckets")
        if nb is not None and nb != self.n_buckets:
            self.n_buckets = int(nb)
        # optimistic-concurrency tag: which head this manifest was read
        # from. _commit CASes against it and strips it before writing —
        # it never lands in a manifest file.
        m["_read_head"] = name
        return m

    def _commit(self, m: dict) -> None:
        expected = m.pop("_read_head", None)
        head = self._head_path()
        if expected is not None and os.path.exists(head):
            with open(head) as f:
                cur = f.read().strip()
            if cur != expected:
                raise ConcurrentCommitError(
                    f"head moved from {expected} to {cur} since this "
                    f"operation read the table — a concurrent writer "
                    f"committed; re-read and retry (this table follows "
                    f"Iceberg's single-winner CAS rule)"
                )
        name = f"manifest-{m['snapshot_id']}.json"
        _atomic_write(os.path.join(self.meta_dir, name), json.dumps(m, indent=1))
        _atomic_write(self._head_path(), name)

    def current_schema(self) -> T.StructType:
        m = self.manifest()
        return T.StructType.fromJson(json.loads(m["schemas"][str(m["schema_id"])]))

    def last_batch_id(self) -> int:
        return self.manifest()["batch_id"]

    def snapshot_id(self) -> int:
        return self.manifest()["snapshot_id"]

    # ----------------------------------------------------------------- init

    def bucket_of(self, col) -> "F.Column":
        """Bucket id of a key column. Deliberately Spark's OWN shuffle
        assignment — ``pmod(hash(key), n)`` with hash = Murmur3(seed 42),
        exactly ``hashpartitioning(key, n)`` — so any frame that just
        shuffled on the key (the reduce agg, the MERGE join) is already
        physically bucket-aligned and the snapshot write needs NO further
        repartition: one shuffle covers reduce + merge + bucketed write.
        (When spark.sql.shuffle.partitions P != n_buckets, a task holds
        the buckets ≡ pid (mod gcd) — still sorted, still a bounded file
        count per task.)"""
        return F.pmod(F.hash(F.col(col) if isinstance(col, str) else col),
                      F.lit(self.n_buckets)).cast("int")

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.withColumn("bucket", self.bucket_of(self.key))

    def initialize(self, base: DataFrame | None, schema: T.StructType) -> None:
        """Bootstrap snapshot 0 (empty table if base is None)."""
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.audit_dir, exist_ok=True)
        snap_dir = os.path.join(self.data_dir, "snap-0")
        buckets: dict[str, dict] = {}
        if base is not None:
            out = self._bucketed(
                base.select([f.name for f in schema.fields]).withColumn(
                    "_deleted", F.lit(False)
                )
            )
            (
                out.repartition(self.n_buckets, "bucket")
                .sortWithinPartitions(self.key)
                .write.partitionBy("bucket")
                .mode("overwrite")
                .parquet(snap_dir)
            )
            for b in range(self.n_buckets):
                d = os.path.join(snap_dir, f"bucket={b}")
                if os.path.isdir(d):
                    buckets[str(b)] = {"path": f"snap-0/bucket={b}",
                                       "schema_id": 0,
                                       "rows": self._dir_rows(d)}
        m = {
            "snapshot_id": 0,
            "batch_id": -1,
            "schema_id": 0,
            "n_buckets": self.n_buckets,
            "schemas": {"0": json.dumps(schema.jsonValue())},
            "buckets": buckets,
            "commits": [],
        }
        self._commit(m)

    # ----------------------------------------------------------------- read

    def _align(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """Project df onto schema: add missing columns as null, cast
        widened types (int32→int64, float→double)."""
        cols = []
        have = {f.name: f.dataType for f in df.schema.fields}
        for f in schema.fields:
            if f.name in have:
                c = F.col(f.name)
                if have[f.name] != f.dataType:
                    c = c.cast(f.dataType)
                cols.append(c.alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        extra = [c for c in df.columns if c in ("bucket", "_deleted", "op")]
        return df.select(*cols, *extra)

    def read(self, buckets: list[int] | None = None, with_bucket: bool = False,
             include_deleted: bool = False) -> DataFrame:
        """Current table state; ``buckets`` prunes to the given hash
        buckets (partition pruning — the scan never touches other files).

        Deletes are logical tombstones (``_deleted`` rows, Iceberg
        merge-on-read style): they stay in storage so the LSN guard can
        reject OLDER out-of-order events arriving after the delete —
        physical removal would let a late stale event resurrect the row.
        Default reads hide them."""
        m = self.manifest()
        schema = self.current_schema()
        want = None if buckets is None else {str(b) for b in buckets}
        by_schema: dict[int, list[tuple[int, str]]] = {}
        for b, ent in m["buckets"].items():
            if want is not None and b not in want:
                continue
            by_schema.setdefault(ent["schema_id"], []).append(
                (int(b), os.path.join(self.data_dir, ent["path"]))
            )
        parts: list[DataFrame] = []
        for sid, entries in sorted(by_schema.items()):
            file_schema = T.StructType.fromJson(json.loads(m["schemas"][str(sid)]))
            phys = T.StructType(
                list(file_schema.fields) + [T.StructField("_deleted", T.BooleanType(), True)]
            )
            paths = [p for _, p in entries]
            df = self.spark.read.schema(phys).parquet(*paths)
            if with_bucket:
                df = self._bucketed(df)
            parts.append(self._align(df, schema))
        if not parts:
            df = self.spark.createDataFrame([], schema).withColumn(
                "_deleted", F.lit(False)
            )
            if with_bucket:
                df = self._bucketed(df)
        else:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        if include_deleted:
            return df
        return df.filter(~F.coalesce(F.col("_deleted"), F.lit(False))).drop("_deleted")

    def lookup(self, keys: list) -> DataFrame:
        """Point read of the given keys: bucket-pruned (the scan opens
        ONLY the buckets the keys hash into — at 4096 buckets a 10-key
        lookup touches ≤10 files of a 100 TB table) with the key
        predicate pushed to parquet (files are key-sorted within buckets,
        so row-group min/max stats skip pages too).

        The bucket ids come from the sink's own bucket expression over a
        driver-side LocalRelation of the keys (:func:`key_relation`) —
        same hash as the writer, zero drift risk, and no Spark job: the
        projection folds into the relation before execution. The key
        predicate is one SQL ``IN`` list (:func:`key_in`)."""
        if not keys:
            return self.read(buckets=[])
        key_type = next(
            f.dataType for f in self.current_schema().fields if f.name == self.key
        )
        buckets = sorted({
            r["b"] for r in key_relation(self.spark, keys, key_type)
            .select(self.bucket_of("k").alias("b")).collect()
        })
        return self._lookup_read(buckets, list(keys)).filter(
            key_in(self.key, keys, key_type)
        )

    def _lookup_read(self, buckets: list[int], keys: list) -> DataFrame:
        """The state read a point lookup resolves against. The COW sink
        has one file per bucket, so bucket pruning is already file-exact;
        the MoR sink overrides this to ALSO skip delta files whose
        manifest key range excludes every looked-up key."""
        return self.read(buckets=buckets)

    # ---------------------------------------------------------------- merge

    def evolve_schema(self, target: T.StructType) -> int:
        """Register an evolved schema (additive/widening already validated
        by schema_evolution.diff_schemas). Metadata-only; folded into the
        next merge commit. Returns new schema_id."""
        m = self.manifest()
        cur = self.current_schema()
        if cur.jsonValue() == target.jsonValue():
            return m["schema_id"]
        new_id = max(int(k) for k in m["schemas"]) + 1
        m["schemas"][str(new_id)] = json.dumps(target.jsonValue())
        m["schema_id"] = new_id
        m["snapshot_id"] += 1
        self._commit(m)
        return new_id

    def _write_audit(self, batch_id: int, rows: list[dict]) -> None:
        """Persist per-bucket lineage rows. The rows are already on the
        driver (a few dozen per batch) — write with pyarrow directly
        instead of paying a Spark job (~0.35s of fixed single-task latency
        per micro-batch; a LocalRelation write is worse, ~5s in PySpark 4)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        names = ["batch_id", "snapshot_id", "bucket", "updated", "inserted",
                 "deleted", "stale", "min_lsn", "max_lsn"]
        adir = os.path.join(self.audit_dir, f"batch_id={batch_id}")
        os.makedirs(adir, exist_ok=True)
        pq.write_table(
            pa.table(
                {n: [row[n] for row in rows] for n in names},
                schema=pa.schema([
                    (n, pa.int32() if n == "bucket" else pa.int64()) for n in names
                ]),
            ),
            os.path.join(adir, "part-0.parquet"),
        )

    def merge(self, changes: DataFrame, batch_id: int,
              affected: list[int] | None = None,
              audit_rows: list[dict] | None = None,
              observe_stats: bool = False) -> dict | None:
        """LSN-guarded MERGE of a reduced batch (one row per key, with an
        ``op`` column) into the table. Copy-on-write on affected buckets
        only: one full-outer join of the changes with the affected
        buckets' base, written bucket-aligned. Returns per-batch metrics
        dict, or None if the batch was already committed (idempotent
        no-op).

        ``changes`` may arrive pre-bucketed (a ``bucket`` column) with the
        ``affected`` bucket list already known — the replay loop learns
        both from its stats probe, saving a distinct+collect here. When
        ``audit_rows`` (per-bucket win/stale/insert counts, precomputed
        by the caller's upfront probe) is supplied, the wide MERGE join
        runs exactly once — for the snapshot write — with no cache and no
        second stats pass, and buckets without a winner are not
        rewritten at all.

        Semantics (the reference's keep-later dedup rule, F2, as a MERGE):
          WHEN MATCHED  AND c.lsn > t.lsn AND op IN (insert,update) → UPDATE
          WHEN MATCHED  AND c.lsn > t.lsn AND op = delete           → DELETE
          WHEN NOT MATCHED AND op != delete                         → INSERT
          stale (c.lsn <= t.lsn) → ignored (late replays are no-ops)
        """
        import os as _os
        _timing = _os.environ.get("SPARK_GRAFT_MERGE_TIMING") == "1"
        _t = time.time()

        def _mark(label):
            nonlocal _t
            if _timing:
                print(f"  merge[{batch_id}] {label}: {time.time() - _t:.2f}s", flush=True)
            _t = time.time()

        m = self.manifest()
        if batch_id <= m["batch_id"]:
            return None  # already committed — exactly-once under retries
        schema = self.current_schema()
        table_cols = [f.name for f in schema.fields]

        ch = changes if "bucket" in changes.columns else self._bucketed(changes)
        if affected is None:
            affected = sorted(r["bucket"] for r in ch.select("bucket").distinct().collect())
        _mark("affected")
        if not affected:
            m["snapshot_id"] += 1
            m["batch_id"] = batch_id
            m["commits"].append({"batch_id": batch_id, "snapshot_id": m["snapshot_id"],
                                 "buckets": [], "wall_ts": time.time()})
            self._commit(m)
            return {"batch_id": batch_id, "applied": 0, "deleted": 0,
                    "inserted": 0, "stale": 0, "buckets": []}

        sid = m["snapshot_id"] + 1
        snap_rel = f"snap-{sid}"
        snap_dir = os.path.join(self.data_dir, snap_rel)
        if audit_rows is not None:
            # per-bucket write elision: a bucket whose changes are ALL stale
            # (no update, insert or tombstone) would be rewritten
            # byte-identical — keep its files and only record its audit
            # row. With no winner anywhere the commit is metadata-only
            # (Iceberg-style): late retransmission floods touch zero data
            # files. A skipped bucket's changes must leave the join too:
            # with its base unread they would "win" and be written to a
            # bucket dir that no manifest references.
            won = {a["bucket"] for a in audit_rows
                   if a["updated"] + a["inserted"] + a["deleted"]}
            if not won.issuperset(affected):
                affected = [b for b in affected if b in won]
                ch = ch.filter(F.col("bucket").isin(affected))
            if not affected:
                audit = [{**row, "batch_id": batch_id, "snapshot_id": sid}
                         for row in audit_rows]
                self._write_audit(batch_id, audit)
                return self._commit_snapshot(m, batch_id, sid, snap_rel,
                                             snap_dir, [], audit)

        base = self.read(buckets=affected, with_bucket=True, include_deleted=True)
        # _align keeps op/bucket as pass-through extras — no re-join needed
        c = self._align(ch.drop("delivery_seq"), schema)
        c = c.select(*[F.col(x).alias(f"c_{x}") for x in table_cols], F.col("op"),
                     F.col("bucket").alias("c_bucket"))

        j = base.join(
            c, base[self.key] == c[f"c_{self.key}"], "full_outer"
        )
        is_change = F.col(f"c_{self.key}").isNotNull()
        is_base = F.col(self.key).isNotNull()
        wins = is_change & (~is_base | (F.col(f"c_{self.order}") > F.col(self.order)))
        is_delete = F.col("op") == "delete"

        merged = j.select(
            *[
                F.when(wins, F.col(f"c_{x}")).otherwise(F.col(x)).alias(x)
                for x in table_cols
            ],
            F.coalesce(F.col("bucket"), F.col("c_bucket")).alias("bucket"),
            # tombstone semantics: a winning delete marks the row deleted but
            # KEEPS it (with its lsn) so later out-of-order stale events are
            # still rejected by the LSN guard; reads hide tombstones.
            F.when(wins, is_delete)
            .otherwise(F.coalesce(F.col("_deleted"), F.lit(False)))
            .alias("_deleted"),
            wins.alias("_wins"),
            is_base.alias("_was"),
            is_delete.alias("_del"),
            is_change.alias("_chg"),
            F.col(f"c_{self.order}").alias("_clsn"),
        )
        # stats strategy, fastest first:
        #   observe_stats — per-bucket lineage aggregates ride the write
        #     action via Observation (one wide pass total, no cache);
        #     falls back past ~256 buckets where the expression count and
        #     single-row agg buffer get unwieldy.
        #   audit_rows   — caller precomputed them.
        #   neither      — persist the per-row merge flags INTO the
        #     snapshot (5 narrow columns) and aggregate them from the
        #     just-written files: no cache of the wide token-array join
        #     (measured slower than recompute on this box) and the stats
        #     scan is column-pruned to the flags. Every change row is
        #     represented in the output — winners as themselves, stale
        #     changes on the surviving base row they lost to — so the
        #     written files carry the full audit.
        use_observe = observe_stats and audit_rows is None and len(affected) <= 256
        flag_cols = (
            [] if (audit_rows is not None or use_observe)
            else ["_wins", "_was", "_chg", "_del", "_clsn"]
        )
        out = merged.filter(F.col("_was") | F.col("_wins"))

        obs = None
        if use_observe:
            from pyspark.sql import Observation

            obs = Observation(f"merge-{batch_id}")
            exprs = []
            for bk in affected:
                hit = F.col("bucket") == bk
                exprs += [
                    F.sum(F.when(hit & F.col("_wins") & ~F.col("_del") & F.col("_was"), 1).otherwise(0)).alias(f"u{bk}"),
                    F.sum(F.when(hit & F.col("_wins") & ~F.col("_del") & ~F.col("_was"), 1).otherwise(0)).alias(f"i{bk}"),
                    F.sum(F.when(hit & F.col("_wins") & F.col("_del"), 1).otherwise(0)).alias(f"d{bk}"),
                    F.sum(F.when(hit & F.col("_chg") & ~F.col("_wins"), 1).otherwise(0)).alias(f"s{bk}"),
                    F.min(F.when(hit & F.col("_chg"), F.col("_clsn"))).alias(f"lo{bk}"),
                    F.max(F.when(hit & F.col("_chg"), F.col("_clsn"))).alias(f"hi{bk}"),
                ]
            out = out.observe(obs, *exprs)

        (
            out.select(*table_cols, "_deleted", *flag_cols, "bucket")
            # NO repartition: bucket_of == Spark's hashpartitioning
            # assignment, so the join's key shuffle already bucket-aligns
            # every row (shuffle.partitions == n_buckets → exactly one
            # bucket per task; otherwise the buckets ≡ pid mod gcd). The
            # sort clusters rows per dir so the dynamic-partition writer
            # never interleaves — one wide shuffle total for
            # reduce + MERGE join + bucketed write.
            .sortWithinPartitions("bucket", self.key)
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(snap_dir)
        )
        _mark("write")

        if use_observe:
            vals = obs.get
            audit = [
                {
                    "batch_id": batch_id, "snapshot_id": sid, "bucket": bk,
                    "updated": vals[f"u{bk}"] or 0, "inserted": vals[f"i{bk}"] or 0,
                    "deleted": vals[f"d{bk}"] or 0, "stale": vals[f"s{bk}"] or 0,
                    "min_lsn": vals[f"lo{bk}"], "max_lsn": vals[f"hi{bk}"],
                }
                for bk in affected
            ]
        elif audit_rows is None:
            # ---- lineage / metrics (per affected bucket) — one
            # column-pruned agg over the files the write just produced
            # (footers + flag columns are page-cache-warm). An all-parked
            # patch batch can write an EMPTY snapshot (no files, nothing
            # to infer a schema from) — zero rows means zero stats.
            import glob as _glob

            has_files = bool(
                _glob.glob(os.path.join(snap_dir, "bucket=*", "*.parquet"))
            )
            stats = [] if not has_files else (
                self.spark.read.parquet(snap_dir).groupBy("bucket")
                .agg(
                    F.sum(F.when(F.col("_wins") & ~F.col("_del") & F.col("_was"), 1).otherwise(0)).alias("updated"),
                    F.sum(F.when(F.col("_wins") & ~F.col("_del") & ~F.col("_was"), 1).otherwise(0)).alias("inserted"),
                    F.sum(F.when(F.col("_wins") & F.col("_del"), 1).otherwise(0)).alias("deleted"),
                    F.sum(F.when(F.col("_chg") & ~F.col("_wins"), 1).otherwise(0)).alias("stale"),
                    F.max(F.when(F.col("_chg"), F.col("_clsn"))).alias("max_lsn"),
                    F.min(F.when(F.col("_chg"), F.col("_clsn"))).alias("min_lsn"),
                )
                .collect()
            )
            _mark("stats")
            audit = [
                {
                    "batch_id": batch_id, "snapshot_id": sid, "bucket": r["bucket"],
                    "updated": r["updated"] or 0, "inserted": r["inserted"] or 0,
                    "deleted": r["deleted"] or 0, "stale": r["stale"] or 0,
                    "min_lsn": r["min_lsn"], "max_lsn": r["max_lsn"],
                }
                for r in stats
            ]
        else:
            audit = [
                {**row, "batch_id": batch_id, "snapshot_id": sid}
                for row in audit_rows
            ]
        self._write_audit(batch_id, audit)
        _mark("audit-write")
        return self._commit_snapshot(m, batch_id, sid, snap_rel, snap_dir,
                                     affected, audit)

    @staticmethod
    def _dir_rows(path: str) -> int:
        """Row count of a bucket dir from parquet footers (no Spark job)."""
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    def _commit_snapshot(self, m: dict, batch_id: int, sid: int,
                         snap_rel: str, snap_dir: str, affected: list[int],
                         audit: list[dict]) -> dict:
        """Shared commit tail: manifest bucket bookkeeping + atomic HEAD
        swap + totals."""
        for b in affected:
            d = os.path.join(snap_dir, f"bucket={b}")
            if os.path.isdir(d):
                m["buckets"][str(b)] = {"path": f"{snap_rel}/bucket={b}",
                                        "schema_id": m["schema_id"],
                                        "rows": self._dir_rows(d)}
            else:
                m["buckets"].pop(str(b), None)  # bucket emptied by deletes
        m["snapshot_id"] = sid
        m["batch_id"] = batch_id
        m["commits"].append({"batch_id": batch_id, "snapshot_id": sid,
                             "buckets": affected, "wall_ts": time.time()})
        self._commit(m)
        return {
            "batch_id": batch_id,
            "applied": sum(a["updated"] + a["inserted"] for a in audit),
            "inserted": sum(a["inserted"] for a in audit),
            "deleted": sum(a["deleted"] for a in audit),
            "stale": sum(a["stale"] for a in audit),
            "buckets": affected,
        }

    def read_audit(self) -> DataFrame:
        if not os.path.isdir(self.audit_dir) or not os.listdir(self.audit_dir):
            # no committed batch yet (fresh table, or every staged batch
            # aborted) — an empty lineage table, not a read error
            schema = ("batch_id long, snapshot_id long, bucket int, "
                      "updated long, inserted long, deleted long, "
                      "stale long, min_lsn long, max_lsn long")
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(os.path.join(self.audit_dir, "*"))

    def drop(self) -> None:
        if os.path.isdir(self.root):
            shutil.rmtree(self.root)
