"""MergeOnReadSink — append-only CDC sink with read-time LWW resolution.

The copy-on-write ``ParquetMergeSink`` pays O(affected-bucket rows) per
batch: every bucket containing a winner is rewritten. At 100 TB steady
state that write amplification dominates — the standard lake answer
(Iceberg v2 / Hudi MOR) is merge-on-read:

* **merge** appends the reduced batch as an immutable DELTA file set per
  bucket — no base read, no join, no guard check at write time. Write
  cost is O(batch winners), independent of table size.
* **read** resolves base + deltas with the same last-writer-wins rule
  the COW merge applies at write time: one ``max_by(payload, lsn)`` per
  key. A stale appended row simply loses at read time, so the LSN guard
  is deferred, not dropped; a winning delete resolves to a tombstone row
  that hides the key (and keeps rejecting older events), byte-for-byte
  the COW semantics.
* **compact** folds a bucket's deltas into a new base file set (keeping
  tombstones — they carry the LSN guard) and clears the delta list —
  bounding read cost. Compaction commits a new snapshot but no batch_id:
  it is maintenance, not ingest, and is idempotent.

Exactly-once carries over unchanged: the manifest commit (atomic HEAD
swap) records ``batch_id``; a re-applied batch is a no-op; a crash after
the delta write but before the commit leaves orphan files that the retry
overwrites.

Reference parity: the reference's incremental regeneration knob —
reprocess only changed artifacts, reuse the rest
(CLIMain.java:62-64 sequential loop + IntegrationTest.java:42-52 golden
rerun) — maps to deltas-on-top-of-base here; SURVEY.md §2.5's
keep-later rule is the read-time resolver.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opendataloader_pdf_spark.cdc.storage import ParquetMergeSink


def guard_audit_rows(d: "DataFrame") -> list[dict]:
    """Per-bucket lineage counters from a narrow guard frame with
    columns (bucket, _clsn, _cop, _blsn) — one changed key per row,
    ``_blsn`` = the key's current guard lsn (null if absent) — the
    same counters the COW merge derives from its join flags."""
    wins = F.col("_blsn").isNull() | (F.col("_clsn") > F.col("_blsn"))
    was = F.col("_blsn").isNotNull()
    dele = F.col("_cop") == "delete"
    stats = (
        d.groupBy("bucket")
        .agg(
            F.sum(F.when(wins & ~dele & was, 1).otherwise(0)).alias("updated"),
            F.sum(F.when(wins & ~dele & ~was, 1).otherwise(0)).alias("inserted"),
            F.sum(F.when(wins & dele, 1).otherwise(0)).alias("deleted"),
            F.sum(F.when(~wins, 1).otherwise(0)).alias("stale"),
            F.min("_clsn").alias("min_lsn"),
            F.max("_clsn").alias("max_lsn"),
        )
        .collect()
    )
    return [
        {
            "bucket": r["bucket"],
            "updated": r["updated"] or 0, "inserted": r["inserted"] or 0,
            "deleted": r["deleted"] or 0, "stale": r["stale"] or 0,
            "min_lsn": r["min_lsn"], "max_lsn": r["max_lsn"],
        }
        for r in stats
    ]


class MergeOnReadSink(ParquetMergeSink):
    def __init__(self, *args, compact_ratio: float = 4.0,
                 bloom_bits: int = 0, bloom_k: int = 4, **kwargs):
        super().__init__(*args, **kwargs)
        #: compact() folds buckets whose delta rows exceed this multiple
        #: of their base rows (None/inf = only explicit compaction)
        self.compact_ratio = compact_ratio
        #: per-delta bloom filters for point-read file skipping beyond
        #: the key min/max range (cdc/bloom.py). 0 = off (default: the
        #: extra narrow agg per merge is only worth paying on tables
        #: that SERVE point reads); bits are stored per entry, so
        #: geometry changes mid-table are safe — the prober hashes per
        #: recorded geometry.
        self.bloom_bits = bloom_bits
        self.bloom_k = bloom_k

    # ----------------------------------------------------------------- read

    def read_raw(self, buckets: list[int] | None = None,
                 with_bucket: bool = False,
                 keys: list | None = None) -> DataFrame:
        """Unresolved union of base + delta rows (every version of every
        key, tombstones included). This is what LWW-folding consumers
        (the engine's analytic probe window, compaction itself) want —
        they fold versions anyway, so resolving first would shuffle
        twice.

        ``keys`` enables manifest-level delta FILE pruning for point
        reads (the Iceberg file-stats move): each delta entry carries
        the key min/max its writer read from the parquet footers, and a
        delta whose range excludes every requested key provably holds
        no version of them — skipping it cannot change the LWW fold for
        those keys. Base files are never skipped (they anchor the
        bucket), and deltas without recorded stats (older manifests)
        are conservatively kept. A ``None`` key matches no row, so it
        selects no delta."""
        if keys is not None:
            keys = [k for k in keys if k is not None]
        m = self.manifest()
        schema = self.current_schema()
        want = None if buckets is None else {str(b) for b in buckets}
        by_schema: dict[int, list[str]] = {}
        candidates: list[dict] = []
        for b, ent in m["buckets"].items():
            if want is not None and b not in want:
                continue
            if ent.get("path"):  # delta-only buckets have no base yet
                by_schema.setdefault(ent["schema_id"], []).append(
                    os.path.join(self.data_dir, ent["path"])
                )
            for d in ent.get("deltas", []):
                if keys is not None and not self._range_may_contain(d, keys):
                    continue
                candidates.append(d)
        for d in self._bloom_prune(candidates, keys):
            by_schema.setdefault(d["schema_id"], []).append(
                os.path.join(self.data_dir, d["path"])
            )
        parts: list[DataFrame] = []
        for sid, paths in sorted(by_schema.items()):
            file_schema = T.StructType.fromJson(json.loads(m["schemas"][str(sid)]))
            phys = T.StructType(
                list(file_schema.fields)
                + [T.StructField("_deleted", T.BooleanType(), True)]
            )
            df = self.spark.read.schema(phys).parquet(*paths)
            parts.append(self._align(df, schema))
        if not parts:
            df = self.spark.createDataFrame([], schema).withColumn(
                "_deleted", F.lit(False)
            )
        else:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        if with_bucket:
            df = self._bucketed(df)
        return df

    def _bloom_prune(self, deltas: list[dict], keys) -> list[dict]:
        """Drop candidate deltas whose bloom filter excludes EVERY probe
        key (cdc/bloom.py). Probe positions are hashed once per bloom
        geometry with the writer's own JVM hash expression over a
        driver-side LocalRelation — no Spark job, no table scan; deltas
        without a bloom are conservatively kept. No-op for full scans
        (keys is None); no delta holds a version of an empty key list."""
        if keys is None:
            return deltas
        if not keys:
            return []
        if not any("bloom" in d for d in deltas):
            return deltas
        from opendataloader_pdf_spark.cdc.bloom import (
            may_contain,
            probe_positions,
        )

        key_type = next(
            f.dataType for f in self.current_schema().fields
            if f.name == self.key
        )
        geoms = {(d["bloom"]["bits"], d["bloom"]["k"])
                 for d in deltas if "bloom" in d}
        pos = {
            g: probe_positions(self.spark, list(keys), key_type, *g)
            for g in geoms
        }
        out = []
        for d in deltas:
            bl = d.get("bloom")
            if bl is None:
                out.append(d)
                continue
            by_key = pos[(bl["bits"], bl["k"])]
            if any(may_contain(bl, by_key[k], bits=bl["bits"])
                   for k in keys):
                out.append(d)
        return out

    @staticmethod
    def _range_may_contain(delta_ent: dict, keys: list) -> bool:
        """True unless the delta's recorded key range provably excludes
        every requested key. Missing stats → must read."""
        lo, hi = delta_ent.get("key_min"), delta_ent.get("key_max")
        if lo is None or hi is None:
            return True
        return any(lo <= k <= hi for k in keys)

    def _dir_key_range(self, dpath: str) -> tuple | None:
        """(min, max) of the key column across a delta dir's parquet
        footers — the writer already has the files open-adjacent, so the
        stats cost no Spark job (Iceberg collects file stats the same
        way). None when any footer lacks min/max."""
        import pyarrow.parquet as pq

        lo = hi = None
        for f in os.listdir(dpath):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(dpath, f))
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            ki = idx.get(self.key)
            if ki is None:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ki).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            return None
        if not isinstance(lo, (str, int, float)):  # manifest is JSON
            return None
        return (lo, hi)

    def _lookup_read(self, buckets: list[int], keys: list) -> DataFrame:
        return self.read(buckets=buckets, keys=keys)

    def read(self, buckets: list[int] | None = None, with_bucket: bool = False,
             include_deleted: bool = False,
             keys: list | None = None) -> DataFrame:
        """Resolved current state: one LWW fold (max_by over the order
        column) per key across base + deltas. Map-side combinable — a
        hot key's versions collapse per scan task before the shuffle.
        ``keys`` prunes delta files by manifest key range (point reads)."""
        raw = self.read_raw(buckets=buckets, keys=keys)
        schema = self.current_schema()
        cols = [f.name for f in schema.fields] + ["_deleted"]
        payload = [c for c in cols if c != self.key]
        resolved = (
            raw.groupBy(self.key)
            .agg(F.max_by(F.struct(*payload), F.col(self.order)).alias("_r"))
            .select(self.key, *[F.col(f"_r.{c}").alias(c) for c in payload])
        )
        if with_bucket:
            resolved = self._bucketed(resolved)
        if include_deleted:
            return resolved
        return resolved.filter(
            ~F.coalesce(F.col("_deleted"), F.lit(False))
        ).drop("_deleted")

    # ---------------------------------------------------------------- merge

    def merge(self, changes: DataFrame, batch_id: int,
              affected: list[int] | None = None,
              audit_rows: list[dict] | None = None,
              observe_stats: bool = False) -> dict | None:
        m = self.manifest()
        if batch_id <= m["batch_id"]:
            return None  # already committed — exactly-once under retries
        schema = self.current_schema()
        table_cols = [f.name for f in schema.fields]

        ch = changes if "bucket" in changes.columns else self._bucketed(changes)
        if affected is None:
            affected = sorted(
                r["bucket"] for r in ch.select("bucket").distinct().collect()
            )
        if not affected:
            m["snapshot_id"] += 1
            m["batch_id"] = batch_id
            m["commits"].append({"batch_id": batch_id,
                                 "snapshot_id": m["snapshot_id"],
                                 "buckets": [], "wall_ts": time.time()})
            self._commit(m)
            return {"batch_id": batch_id, "applied": 0, "deleted": 0,
                    "inserted": 0, "stale": 0, "buckets": []}

        sid = m["snapshot_id"] + 1
        delta_rel = f"delta-{sid}"
        delta_dir = os.path.join(self.data_dir, delta_rel)

        if audit_rows is None:
            # narrow lineage stats: per-key guard lsn from the raw state
            # (max over every stored version == the COW guard), joined to
            # the reduced batch keys. No payload column is read.
            state = (
                self.read_raw(buckets=affected)
                .groupBy(self.key)
                .agg(F.max(self.order).alias("_blsn"))
            )
            d = ch.select(
                self.key, "bucket",
                F.col(self.order).alias("_clsn"),
                F.col("op").alias("_cop"),
            ).join(state, self.key, "left")
            audit_rows = guard_audit_rows(d)
        audit = [
            {**row, "batch_id": batch_id, "snapshot_id": sid}
            for row in audit_rows
        ]

        # append the reduced batch — stale rows included (they lose at
        # read time; filtering them here would need the base read this
        # sink exists to avoid). Tombstones are rows with _deleted=true.
        c = self._align(ch.drop("delivery_seq"), schema)
        out = (
            c.select(
                *table_cols,
                (F.col("op") == "delete").alias("_deleted"),
                "bucket",
            )
            # reduced batches arrive key-shuffled; bucket_of == Spark's
            # hashpartitioning assignment, so rows are bucket-aligned —
            # sort only (see ParquetMergeSink.bucket_of)
            .sortWithinPartitions("bucket", self.key)
        )
        out.write.partitionBy("bucket").mode("overwrite").parquet(delta_dir)

        blooms: dict[int, dict] = {}
        if self.bloom_bits:
            from opendataloader_pdf_spark.cdc.bloom import build_blooms

            # one narrow (bucket, key) agg over the reduced batch —
            # O(batch winners), bounded shuffle (≤ bloom_bits ints per
            # bucket); the point-read file skip this buys is checked in
            # _bloom_prune
            blooms = build_blooms(ch, self.key, self.bloom_bits, self.bloom_k)
        for b in affected:
            dpath = os.path.join(delta_dir, f"bucket={b}")
            if not os.path.isdir(dpath):
                continue
            ent = m["buckets"].setdefault(
                str(b), {"path": None, "schema_id": m["schema_id"], "rows": 0}
            )
            dent = {
                "path": f"{delta_rel}/bucket={b}",
                "schema_id": m["schema_id"],
                "rows": self._dir_rows(dpath),
            }
            rng = self._dir_key_range(dpath)
            if rng is not None:
                dent["key_min"], dent["key_max"] = rng
            if b in blooms:
                dent["bloom"] = blooms[b]
            ent.setdefault("deltas", []).append(dent)
        m["snapshot_id"] = sid
        m["batch_id"] = batch_id
        m["commits"].append({"batch_id": batch_id, "snapshot_id": sid,
                             "buckets": affected, "wall_ts": time.time()})
        self._write_audit(batch_id, audit)
        self._commit(m)
        return {
            "batch_id": batch_id,
            "applied": sum(a["updated"] + a["inserted"] for a in audit),
            "inserted": sum(a["inserted"] for a in audit),
            "deleted": sum(a["deleted"] for a in audit),
            "stale": sum(a["stale"] for a in audit),
            "buckets": affected,
        }

    # ----------------------------------------------------------- compaction

    def delta_pressure(self) -> dict[int, float]:
        """Per-bucket delta-rows / base-rows ratio (inf for base-less
        buckets with deltas) — the compaction trigger signal."""
        m = self.manifest()
        out: dict[int, float] = {}
        for b, ent in m["buckets"].items():
            drows = sum(d["rows"] for d in ent.get("deltas", []))
            if not drows:
                continue
            brows = ent.get("rows") or 0
            out[int(b)] = (drows / brows) if brows else float("inf")
        return out

    def compact(self, buckets: list[int] | None = None) -> list[int]:
        """Fold deltas into a new base for the given buckets (default:
        every bucket over ``compact_ratio``). Keeps tombstones — they are
        the LSN guard. Commits a new snapshot, leaves batch_id untouched
        (maintenance, not ingest); idempotent per snapshot."""
        if buckets is None:
            buckets = sorted(
                b for b, r in self.delta_pressure().items()
                if r >= self.compact_ratio
            )
        m = self.manifest()
        todo = [b for b in buckets if m["buckets"].get(str(b), {}).get("deltas")]
        if not todo:
            return []
        sid = m["snapshot_id"] + 1
        snap_rel = f"snap-{sid}"
        snap_dir = os.path.join(self.data_dir, snap_rel)
        resolved = self.read(
            buckets=todo, with_bucket=True, include_deleted=True
        )
        cols = [f.name for f in self.current_schema().fields]
        (
            resolved.select(*cols, "_deleted", "bucket")
            .sortWithinPartitions("bucket", self.key)  # resolve agg key-shuffles
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(snap_dir)
        )
        for b in todo:
            d = os.path.join(snap_dir, f"bucket={b}")
            if os.path.isdir(d):
                m["buckets"][str(b)] = {"path": f"{snap_rel}/bucket={b}",
                                        "schema_id": m["schema_id"],
                                        "rows": self._dir_rows(d)}
            else:
                m["buckets"].pop(str(b), None)
        m["snapshot_id"] = sid
        m["commits"].append({"compaction": True, "snapshot_id": sid,
                             "buckets": todo, "wall_ts": time.time()})
        self._commit(m)
        return todo
