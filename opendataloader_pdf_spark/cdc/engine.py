"""ReplayEngine — checkpointed micro-batch replay of a change stream.

Mirrors the reference's five-phase per-document lifecycle
(DocumentProcessor.processFile, core/processors/DocumentProcessor.java:65-143:
parse → analyze → order → emit), lifted to fault-tolerant micro-batches:

    source slice (delivery_seq range)        — "parse"
    → dedup + last-writer-wins reduction     — "analyze"   (events.py)
    → schema-registry diff                   — gate        (schema_evolution.py)
    → LSN-guarded MERGE, bucket-pruned       — "emit"      (storage.py)
    → manifest commit + lineage audit        — checkpoint

The CLI's sequential per-file loop (CLIMain.java:62-64) becomes this
driver loop; the checkpoint is the sink manifest's ``batch_id`` — a killed
job resumes at ``last_batch_id + 1`` and a re-applied batch is a no-op
(storage.merge returns None), which together give exactly-once.

Scale notes: each batch filters the event log on a ``delivery_seq`` range;
with parquet min/max row-group stats this prunes the scan to the slice
(verify with .explain → PushedFilters). The reduction is one map-side
combinable aggregation; the MERGE shuffles only affected buckets.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opendataloader_pdf_spark.cdc.events import (
    invalid_event_cond,
    reduce_batch,
    reduce_batch_broadcast,
)
from opendataloader_pdf_spark.cdc.patches import (
    PendingStore,
    has_patch_columns,
    merge_pending,
    reduce_batch_patches,
    resolve_patches,
)
from opendataloader_pdf_spark.cdc.schema_evolution import diff_schemas
from opendataloader_pdf_spark.cdc.storage import ParquetMergeSink

#: payload schema per registry version (v2 adds the additive `lang` col)
def default_registry() -> dict[int, T.StructType]:
    v1 = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
            T.StructField("n_tok", T.IntegerType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    v2 = T.StructType(list(v1.fields) + [T.StructField("lang", T.StringType(), True)])
    return {1: v1, 2: v2}


class JobKilled(RuntimeError):
    """Injected failure for resumability tests."""


@dataclass
class ReplaySummary:
    batches: list[dict] = field(default_factory=list)
    #: malformed events diverted to the dead-letter table (quarantine mode)
    quarantined: int = 0
    #: events at or below the sink's vacuum_floor (delete-retention
    #: horizon) — beyond retention, diverted to _retention_expired:
    #: their tombstone counterparts were physically vacuumed, so
    #: applying them could resurrect deleted keys
    expired: int = 0

    @property
    def events(self) -> int:
        return sum(b["events"] for b in self.batches)

    @property
    def applied(self) -> int:
        return sum(b["applied"] for b in self.batches)

    @property
    def elapsed(self) -> float:
        return sum(b["secs"] for b in self.batches)


class ReplayEngine:
    def __init__(
        self,
        spark: SparkSession,
        sink: ParquetMergeSink,
        registry: dict[int, T.StructType] | None = None,
        salted: bool = False,
        observe_stats: bool = False,
        pending_path: str | None = None,
        disorder_window: int = 64,
        precompute_stats_max_batch: int = 4_000_000,
        reduce_strategy: str = "agg",
        broadcast_reduce_max_keys: int = 8_000_000,
        quarantine: bool = False,
    ):
        self.pending_path = pending_path
        #: dead-letter routing for malformed events (null key / null lsn /
        #: null or unknown op / null delivery_seq). Off by default: a
        #: trusted binlog never produces them and the guard predicate +
        #: probe column aren't free. On, invalid rows are diverted to
        #: <sink.root>/_quarantine/batch=<b>/ (idempotent per-batch
        #: overwrite, so crash/retry can't duplicate them), counted in the
        #: per-batch summary, and excluded from every reduce/merge — the
        #: quarantine write job only runs for batches the upfront probe
        #: says actually contain invalid rows. Clean-stream cost: one
        #: extra probe aggregate column (large-batch mode), or one extra
        #: narrow scan of invalid rows — near-empty by definition — when
        #: the small-batch stats precompute owns the main probe (whose
        #: per-key window excludes invalid rows, exactly matching the
        #: filtered batches the merge actually applies).
        self.quarantine = quarantine
        #: batch-size gate for the upfront audit-stats precompute: small
        #: batches amortize the one per-key window job (each saves a
        #: per-batch stats action); huge batches don't — their cached
        #: in-merge stats pass is cheaper.
        self.precompute_stats_max_batch = precompute_stats_max_batch
        #: batch-reduction strategy:
        #:   "agg" (default)  — one-shuffle map-side-combining max_by
        #:     aggregation (events.reduce_batch). Every pipeline stage
        #:     scales with cores; the shuffle carries partial winners
        #:     (payload rows).
        #:   "broadcast"      — winner-fingerprint semi-join
        #:     (events.reduce_batch_broadcast): shuffles only (key, lsn)
        #:     narrowly, broadcasts 8-byte winner fingerprints, re-scans
        #:     the batch. Measured ~1.7x faster per batch at LOW
        #:     parallelism (the wide agg hash map is the bottleneck
        #:     there), but adds a per-batch broadcast-subquery constant
        #:     that does not shrink with cores — on a single box at high
        #:     parallelism it erases the gain. Opt in for small-executor
        #:     deployments or very high events-per-key batches.
        if reduce_strategy not in ("agg", "broadcast"):
            raise ValueError(f"unknown reduce_strategy {reduce_strategy!r}")
        self.reduce_strategy = reduce_strategy
        #: winner-key-set size gate for the broadcast reduction: below it
        #: the winner fingerprint set is broadcast-safe (8 bytes/key);
        #: above it fall back to the one-shuffle max_by agg.
        self.broadcast_reduce_max_keys = broadcast_reduce_max_keys
        #: bounded out-of-order delivery: |delivery_seq - lsn| < this.
        #: Drives the patch watermark — after batch b every full write
        #: with lsn <= (b+1)*batch_size - window has provably arrived, so
        #: only those patches may apply (fresher ones park in pending
        #: until the watermark passes; see patches.resolve_patches).
        self.disorder_window = disorder_window
        self.spark = spark
        self.sink = sink
        self.registry = registry or default_registry()
        self.salted = salted
        #: lineage stats strategy: observe-on-write (True) vs cached join +
        #: grouped stats pass (False). Measured on this box the cached pass
        #: wins (the per-bucket observe expressions tax every written row);
        #: on a real cluster with many buckets the cached pass is also the
        #: safe default.
        self.observe_stats = observe_stats

    def _invalid_cond(self):
        return invalid_event_cond(self.sink.key, self.sink.order)

    def _quarantine_dir(self, batch_id: int) -> str:
        root = getattr(self.sink, "root", None)
        if root is None:
            raise ValueError(
                "quarantine=True but the sink has no .root to hold the "
                "dead-letter table — invalid events would be silently "
                "dropped"
            )
        return os.path.join(root, "_quarantine", f"batch={batch_id}")

    def bootstrap(self, base: DataFrame | None = None, version: int = 1) -> None:
        if not self.sink.exists():
            self.sink.initialize(base, self.registry[version])

    def replay(
        self,
        events: DataFrame,
        batch_size: int = 100_000,
        max_batches: int | None = None,
        fail_after: int | None = None,
        finalize: bool = True,
    ) -> ReplaySummary:
        """Replay the event log in delivery order. Resumes from the sink's
        committed batch_id; kill/retry-safe. ``finalize=False`` skips the
        terminal pending-patch flush (use when the log will keep growing
        and be replayed again)."""
        if self.quarantine and getattr(self.sink, "root", None) is None:
            # fail before any batch commits, not mid-replay on the first
            # invalid row (streaming tail applies the same eager check)
            self._quarantine_dir(0)
        # delete-retention enforcement: once vacuum_tombstones recorded a
        # floor, events at or below it are beyond retention — their
        # tombstones are physically gone, so a stale update down there
        # would find no row (and no LSN guard) and silently resurrect a
        # deleted key. Divert them upfront (ONE narrow scan of a
        # near-empty-by-contract predicate) so every downstream slice,
        # probe, and audit stat sees only admissible events. Idempotent:
        # the dead-letter dir is a deterministic overwrite of the
        # immutable log ∩ floor.
        n_expired = 0
        floor = (
            self.sink.manifest().get("vacuum_floor", -1)
            if self.sink.exists() else -1
        )
        if floor >= 0:
            expired_cond = F.col(self.sink.order) <= F.lit(floor)
            exp = events.filter(expired_cond)
            n_expired = exp.count()
            if n_expired:
                root = getattr(self.sink, "root", None)
                if root is None:
                    raise ValueError(
                        "events below the vacuum_floor found but the sink "
                        "has no .root for the _retention_expired table"
                    )
                # per-run subdir, same layout as the streaming tail's
                # batch=s<N> epochs: a flat overwrite of the shared root
                # would clobber the tail's (or an earlier round's) dead
                # letters, and dead letters exist precisely so no event
                # is ever lost. Keyed by the resume slot, so a rerun of
                # the same call overwrites its own dir (exactly-once).
                exp.write.mode("overwrite").parquet(
                    os.path.join(
                        root, "_retention_expired",
                        f"batch=e{self.sink.last_batch_id() + 1}",
                    )
                )
            events = events.filter(
                F.col(self.sink.order).isNull() | ~expired_cond
            )
        # quarantine mode: a malformed row must not size the batch loop
        # either — one corrupt delivery_seq of 10^15 would otherwise make
        # n_batches astronomical and replay commit empty slots forever
        bounded = (
            events.filter(~self._invalid_cond()) if self.quarantine else events
        )
        bounds = bounded.agg(
            F.min("delivery_seq").alias("lo"), F.max("delivery_seq").alias("hi")
        ).collect()[0]
        if bounds["hi"] is None:
            summary = ReplaySummary(expired=n_expired)
            if self.quarantine:
                # no valid event exists — dead-letter every malformed row
                # (the whole log, if nonempty) rather than silently skip
                bad = events.filter(self._invalid_cond())
                n_bad = bad.count()
                if n_bad:
                    bad.write.mode("overwrite").parquet(
                        self._quarantine_dir(-1)
                    )
                    summary.quarantined = n_bad
            return summary
        n_batches = int(bounds["hi"] // batch_size) + 1

        _timing = os.environ.get("SPARK_GRAFT_ENGINE_TIMING") == "1"

        def _mark(label, t0):
            if _timing:
                print(f"  engine[{label}]: {time.time() - t0:.2f}s", flush=True)
            return time.time()

        start = self.sink.last_batch_id() + 1
        # pending (cross-batch orphan-patch) state lags the merge commit by
        # at most one batch after a crash; re-running that batch is safe —
        # its merge is an idempotent no-op and the consumed pending
        # patches die by the LSN guard. (Every batch of a patch-capable
        # stream advances HEAD, so the lag is bounded at one.)
        if has_patch_columns(events):
            if self._pending_store() is None:
                raise ValueError(
                    "event stream carries patch ops but no pending store is "
                    "available (sink has no .root and pending_path was not "
                    "given) — parked patches would be silently dropped; "
                    "pass pending_path= to ReplayEngine"
                )
            ps = self._pending_store()
            fin = ps.finalized_at()
            if fin is not None and n_batches > fin:
                raise ValueError(
                    f"sink was finalized (terminal pending flush committed "
                    f"under batch_id={fin}) but the event log now extends "
                    f"to {n_batches} batches — events in slot {fin} would "
                    f"be silently skipped. Replay growing logs with "
                    f"finalize=False, or replay into a fresh sink."
                )
            head = self._pending_head()
            if head >= 0:
                start = min(start, head + 1)
        summary = ReplaySummary(expired=n_expired)
        done = 0
        # NARROW upfront probe — ONE column-pruned scan over the remaining
        # log (key, op, schema_version; token arrays are never read)
        # learns, for EVERY batch slot at once: batch size, target schema
        # version, the affected-bucket list, and whether partial-update
        # patches are present. Probe facts depend only on the immutable
        # log, never on sink state — so hoisting them out of the loop is
        # exact and replaces n_batches probe jobs with one.
        patchable = has_patch_columns(events)
        _t = time.time()
        # stats precompute only pays when batches are small: its per-key
        # reduce + window costs ~one batch-write of narrow shuffle, which
        # many small batches amortize (each saves a stats action) and few
        # huge batches don't (their cached in-merge stats pass is cheaper
        # than the upfront window). The plain probe (per-bucket counts,
        # no per-key work) is cheap at any size and always runs upfront.
        want_stats = batch_size <= self.precompute_stats_max_batch
        probe_rows = self._upfront_probe_and_stats(
            events, start, batch_size, with_stats=want_stats
        )
        # Quarantine bookkeeping (per-batch invalid counts + the
        # null-delivery rows that belong to NO batch slot):
        #   probe-only mode — the counts ride the probe itself as its
        #     `inv` column (one free aggregate);
        #   stats mode — the per-key window excludes invalid rows (the
        #     stats must describe the FILTERED batches), so the counts
        #     come from one extra narrow scan of invalid rows only.
        inv_by_batch: dict[int, int] = {}
        n_undeliverable = 0
        if self.quarantine:
            inv_rows = (
                self._quarantine_probe(events, start, batch_size)
                if want_stats else probe_rows
            )
            for r in inv_rows:
                iv = int(r["inv"] or 0)
                # _bid None: null or negative delivery_seq (below slot
                # 0). _bid >= n_batches: the row's slot lies beyond the
                # last VALID event's batch — the loop (bounded by valid
                # events so one corrupt 10^15 seq can't inflate it)
                # never visits that slot, so without this diversion the
                # row would silently vanish instead of dead-lettering.
                if r["_bid"] is None or int(r["_bid"]) >= n_batches:
                    n_undeliverable += iv
                else:
                    inv_by_batch[int(r["_bid"])] = (
                        inv_by_batch.get(int(r["_bid"]), 0) + iv
                    )
        probe_rows = [r for r in probe_rows if r["_bid"] is not None]
        if n_undeliverable:
            horizon = n_batches * batch_size
            events.filter(
                self._invalid_cond()
                & (
                    F.col("delivery_seq").isNull()
                    | (F.col("delivery_seq") < 0)
                    | (F.col("delivery_seq") >= F.lit(horizon))
                )
            ).write.mode("overwrite").parquet(self._quarantine_dir(-1))
            summary.quarantined += n_undeliverable
        probe_by_batch: dict[int, list] = {}
        any_patches = False
        for r in probe_rows:
            probe_by_batch.setdefault(int(r["_bid"]), []).append(r)
            any_patches = any_patches or bool(r["p"])
        # the analytically-precomputed audit stats assume every winner
        # applies with its own lsn — true iff NO patch op exists anywhere
        # in the remaining log (patch application rewrites row lsns and
        # parks/revives rows across batches)
        precompute_stats = (
            want_stats
            and not any_patches
            and self._pending_rows() == 0
            and isinstance(self.sink, ParquetMergeSink)
        )
        _mark("probe-upfront", _t)
        for b in range(start, n_batches):
            t0 = time.time()
            lo, hi = b * batch_size, (b + 1) * batch_size
            # range predicate → parquet row-group pruning at scan
            batch = events.filter(
                (F.col("delivery_seq") >= lo) & (F.col("delivery_seq") < hi)
            )
            _t = time.time()
            probe = probe_by_batch.get(b, [])
            n_events = int(sum(r["n"] for r in probe))
            inv_n = inv_by_batch.get(b, 0)
            if inv_n:
                bad = self._invalid_cond()
                # idempotent per-batch overwrite: a crash/retry of this
                # batch rewrites the same dead-letter partition. n_events
                # already excludes these rows (the probe counts valid only).
                batch.filter(bad).write.mode("overwrite").parquet(
                    self._quarantine_dir(b)
                )
                batch = batch.filter(~bad)
                summary.quarantined += inv_n
            _t = _mark("quarantine", _t) if inv_n else _t
            pending_prev, pending_n = (None, 0)
            if patchable:
                pending_prev, pending_n = self._read_pending()
            _t = _mark("pending-read", _t)
            if n_events or pending_n:
                vers = [int(r["v"]) for r in probe if r["v"] is not None]
                if vers:
                    target_schema = self.registry[max(vers)]
                else:
                    # zero events, pending only: stay on the sink's current
                    # schema — evolving to max(registry) would add columns
                    # no arrived event carries yet
                    target_schema = self.sink.current_schema()
                # buckets whose probe rows hold only quarantined events
                # carry no change — keep them out of the merge scope
                affected = sorted(r["bucket"] for r in probe if r["n"])
                batch_has_patches = patchable and any(
                    r["p"] for r in probe if "p" in r.asDict()
                )
                target = diff_schemas(self.sink.current_schema(), target_schema)
                self.sink.evolve_schema(target)
                # WIDE pass — exactly one per batch: reduce + MERGE join +
                # snapshot write, with per-bucket lineage stats observed on
                # the write action itself (zero extra passes). Patch
                # batches add one narrow base-token lookup for orphan
                # patches (patches.resolve_patches).
                if batch_has_patches or pending_n:
                    red = reduce_batch_patches(batch.drop("schema_version", "ts"))
                    red = merge_pending(red, pending_prev)
                    if pending_n:
                        # pending docs' buckets must join the merge scope
                        pb = {r["b"] for r in pending_prev.select(
                            self.sink.bucket_of(self.sink.key).alias("b")
                        ).distinct().collect()}
                        affected = sorted(set(affected) | pb)
                    red, pending_next = resolve_patches(
                        red, self.sink, affected,
                        floor=hi - self.disorder_window,
                    )
                    reduced = self.sink._bucketed(red)
                    stats = self.sink.merge(
                        reduced, batch_id=b, affected=affected,
                        observe_stats=self.observe_stats,
                    )
                    self._write_pending(b, pending_next)
                else:
                    drop = ["schema_version", "ts"] + (
                        ["patch_start", "patch_del"] if patchable else []
                    )
                    keys_est = int(sum(r["k"] or 0 for r in probe))
                    # broadcast reduction only when opted in AND the
                    # winner filter is selective (multiple events per key
                    # per batch) AND the winner set is broadcast-safe;
                    # otherwise the one-shuffle max_by agg
                    if (
                        self.reduce_strategy == "broadcast"
                        and not self.salted
                        and 0 < keys_est <= self.broadcast_reduce_max_keys
                        and keys_est < 0.7 * n_events
                    ):
                        red = reduce_batch_broadcast(
                            batch.drop(*drop),
                            key=self.sink.key, order=self.sink.order,
                            n_keys=keys_est,
                        )
                    else:
                        red = reduce_batch(batch.drop(*drop), salted=self.salted)
                    reduced = self.sink._bucketed(red)
                    audit_rows = None
                    if precompute_stats and probe:
                        audit_rows = [
                            {
                                "bucket": r["bucket"],
                                "updated": r["updated"] or 0,
                                "inserted": r["inserted"] or 0,
                                "deleted": r["deleted"] or 0,
                                "stale": r["stale"] or 0,
                                "min_lsn": r["min_lsn"],
                                "max_lsn": r["max_lsn"],
                            }
                            for r in probe
                        ]
                    stats = self.sink.merge(
                        reduced, batch_id=b, affected=affected,
                        observe_stats=self.observe_stats,
                        audit_rows=audit_rows,
                    )
                    _t = _mark("reduce+merge", _t)
                    if patchable:
                        # roll HEAD forward (pending is empty here — a
                        # nonempty pending routes through the patch path)
                        self._write_empty_pending(b)
                    _t = _mark("pending-write", _t)
            else:
                stats = self.sink.merge(
                    self.spark.createDataFrame([], self._empty_change_schema()), batch_id=b
                )
                if patchable:
                    self._write_empty_pending(b)
            secs = time.time() - t0
            rec = {"batch_id": b, "events": n_events, "secs": secs,
                   "quarantined": inv_n}
            rec.update(stats or {"applied": 0, "deleted": 0, "stale": 0})
            summary.batches.append(rec)
            done += 1
            if fail_after is not None and done >= fail_after:
                raise JobKilled(f"injected kill after batch {b}")
            if max_batches is not None and done >= max_batches:
                break
        if finalize and has_patch_columns(events) and max_batches is None:
            self.flush_pending(events, n_batches)
        return summary

    def _quarantine_probe(self, events: DataFrame, start: int,
                          batch_size: int) -> list:
        """Per-batch malformed-row counts (plus a _bid=null row for
        null-delivery events) — one narrow scan over INVALID rows only,
        used when the stats precompute owns the main probe (its window
        excludes invalid rows, so it can't carry these counts)."""
        # BIGINT: ANSI INT cast of a corrupt huge seq would throw here;
        # negatives map to NULL (DIV truncates toward zero — see the
        # matching probe expression above)
        bid = F.expr(
            f"CASE WHEN delivery_seq < 0 THEN NULL "
            f"ELSE CAST(delivery_seq DIV {int(batch_size)} AS BIGINT) END"
        )
        return (
            events.filter(self._invalid_cond())
            .filter(
                (F.col("delivery_seq") >= start * batch_size)
                | F.col("delivery_seq").isNull()
                | (F.col("delivery_seq") < 0)
            )
            .groupBy(bid.alias("_bid"))
            .agg(F.count(F.lit(1)).alias("inv"))
            .collect()
        )

    def _upfront_probe_and_stats(self, events: DataFrame, start: int,
                                 batch_size: int,
                                 with_stats: bool = True) -> list:
        """ONE narrow job computing, for every remaining batch slot:
        per-bucket event counts, target schema version, AND the full
        per-bucket audit stats (updated/inserted/deleted/stale, min/max
        lsn) — valid for patch-free streams only.

        The trick: after batch b the table's LSN guard for a key equals
        max(base lsn, every event lsn in batches ≤ b) — winners always
        apply and losers never raise it. So "did batch b's reduced row
        win" is answerable from the log alone with a per-key running max
        over batch ids (base rows ride along as batch −1), no per-batch
        action against evolving sink state. This replaces n_batches
        narrow stats jobs with one window over ~(keys × batches) narrow
        rows."""
        from pyspark.sql import Window

        key, order = self.sink.key, self.sink.order
        # BIGINT, not INT: under ANSI mode (Spark 4 default) an INT cast
        # of a corrupt 10^15 delivery_seq would THROW in the probe and
        # abort the replay instead of dead-lettering the row. Negative
        # seqs map to NULL: DIV truncates toward zero, so -5 DIV bs
        # would otherwise masquerade as slot 0 while the slot's slice
        # filter (seq >= 0) excludes it — count and row must agree.
        bid = F.expr(
            f"CASE WHEN delivery_seq < 0 THEN NULL "
            f"ELSE CAST(delivery_seq DIV {int(batch_size)} AS BIGINT) END"
        )
        flt = F.col("delivery_seq") >= start * batch_size
        if self.quarantine:
            # null-delivery and negative-seq rows belong to NO batch
            # slot; route them into the probe so replay() can dead-letter
            # them (negative: below slot 0, the loop never visits it)
            flt = (flt | F.col("delivery_seq").isNull()
                   | (F.col("delivery_seq") < 0))
        if not with_stats:
            # probe-only: per-(batch, bucket) counts/version/patch-flag —
            # a tiny agg over the narrow scan, no per-key shuffle.
            # Quarantine mode: EVERY decision aggregate (count, target
            # schema version, patch flag, key estimate) is computed over
            # VALID rows only — a malformed row must not drive schema
            # evolution or route a batch through the patch path; it only
            # feeds the `inv` diversion count.
            ok = ~self._invalid_cond() if self.quarantine else F.lit(True)
            return (
                events.filter(flt)
                .groupBy(
                    bid.alias("_bid"),
                    self.sink.bucket_of(key).alias("bucket"),
                )
                .agg(
                    F.sum(F.when(ok, 1).otherwise(0)).alias("n"),
                    F.max(F.when(ok, F.col("schema_version"))).alias("v"),
                    F.max(
                        F.when(ok & (F.col("op") == "patch"), 1).otherwise(0)
                    ).alias("p"),
                    F.sum(
                        F.when(~ok, 1).otherwise(0)
                        if self.quarantine else F.lit(None).cast("long")
                    ).alias("inv"),
                    # keys never cross buckets, so summing per-bucket
                    # distinct-key estimates gives the batch's key count
                    # (sizes/gates the broadcast reduction). The HLL
                    # costs a per-row hash — only pay it when the
                    # broadcast strategy is on.
                    (
                        F.approx_count_distinct(F.when(ok, F.col(key)))
                        if self.reduce_strategy == "broadcast"
                        else F.lit(None).cast("long")
                    ).alias("k"),
                )
                .collect()
            )
        stats_src = events.filter(flt)
        if self.quarantine:
            # the stats window must describe the FILTERED batches: invalid
            # rows never reach the reduce/merge, so they must not
            # contribute wins/losses or running-max lsn state here either
            # (their counts come from _quarantine_probe instead)
            stats_src = stats_src.filter(~self._invalid_cond())
        red_all = (
            stats_src
            .groupBy(bid.alias("_bid"), F.col(key))
            .agg(
                F.max(order).alias("_clsn"),
                F.max_by("op", F.col(order)).alias("_cop"),
                F.count(F.lit(1)).alias("_n"),
                F.max("schema_version").alias("_v"),
                F.max(F.when(F.col("op") == "patch", 1).otherwise(0)).alias("_p"),
            )
        )
        # raw (version-unresolved) state suffices here: the window below
        # takes a running MAX over prior rows, which folds versions for
        # free — so a merge-on-read sink skips its resolve shuffle
        base_read = (
            self.sink.read_raw()
            if hasattr(self.sink, "read_raw")
            else self.sink.read(include_deleted=True)
        )
        base_n = (
            base_read
            .select(
                F.col(key),
                F.col(order).alias("_clsn"),
                F.lit(-1).alias("_bid"),
                F.lit(None).cast("string").alias("_cop"),
                F.lit(0).cast("long").alias("_n"),
                F.lit(None).cast("int").alias("_v"),
                F.lit(0).alias("_p"),
            )
        )
        cols = ["_bid", key, "_clsn", "_cop", "_n", "_v", "_p"]
        u = red_all.select(*cols).unionByName(base_n.select(*cols))
        w = (
            Window.partitionBy(key).orderBy("_bid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        u = u.withColumn("_prev", F.max("_clsn").over(w)).filter(F.col("_bid") >= 0)
        wins = F.col("_prev").isNull() | (F.col("_clsn") > F.col("_prev"))
        was = F.col("_prev").isNotNull()
        dele = F.col("_cop") == "delete"
        bucket = self.sink.bucket_of(key)
        return (
            u.groupBy(F.col("_bid"), bucket.alias("bucket"))
            .agg(
                F.sum("_n").alias("n"),
                F.count(F.lit(1)).alias("k"),  # rows here are (batch, key)
                F.max("_v").alias("v"),
                F.max("_p").alias("p"),
                F.sum(F.when(wins & ~dele & was, 1).otherwise(0)).alias("updated"),
                F.sum(F.when(wins & ~dele & ~was, 1).otherwise(0)).alias("inserted"),
                F.sum(F.when(wins & dele, 1).otherwise(0)).alias("deleted"),
                F.sum(F.when(~wins, 1).otherwise(0)).alias("stale"),
                F.min("_clsn").alias("min_lsn"),
                F.max("_clsn").alias("max_lsn"),
            )
            .collect()
        )

    def flush_pending(self, events: DataFrame, flush_batch_id: int) -> None:
        """Terminal flush of watermark-parked patches: once the bounded
        log is exhausted no further full writes can arrive, so the
        watermark is effectively +∞ — apply every pending patch whose
        predecessor now exists; the rest can never apply and stay parked
        (a later re-run with a longer log would revisit them via
        streaming; for bounded replays this IS the end).

        Idempotent: the flush commits under ``flush_batch_id`` and writes
        a same-id pending HEAD, so a re-run replays it as a no-op."""
        head, pending_n = self._pending_store().head() if self._pending_store() else (-1, 0)
        if pending_n == 0 or head >= flush_batch_id:
            # crash-window heal: a prior flush attempt that advanced the
            # pending HEAD to the flush slot but died before
            # mark_finalized DID consume the slot — its merge committed
            # before the HEAD write. Without re-asserting the flag here,
            # the longer-log guard in replay() never engages and events
            # landing in the consumed slot would be silently skipped.
            # (head can only reach flush_batch_id via a flush: the batch
            # loop tops out one below it.)
            ps = self._pending_store()
            if ps and head >= flush_batch_id and ps.finalized_at() is None:
                ps.mark_finalized(head)
            return
        pending_prev, _ = self._read_pending()
        empty = events.filter(F.lit(False))
        red = reduce_batch_patches(empty.drop("schema_version", "ts"))
        red = merge_pending(red, pending_prev)
        affected = sorted(
            r["b"] for r in pending_prev.select(
                self.sink.bucket_of(self.sink.key).alias("b")
            ).distinct().collect()
        )
        red, pending_next = resolve_patches(
            red, self.sink, affected, floor=None
        )
        self.sink.merge(
            self.sink._bucketed(red), batch_id=flush_batch_id,
            affected=affected, observe_stats=self.observe_stats,
        )
        self._write_pending(flush_batch_id, pending_next)
        # the flush consumed batch slot `flush_batch_id`; a later replay
        # against a LONGER log must not silently skip events landing in
        # that slot — mark the sink finalized so replay() raises instead
        ps = self._pending_store()
        if ps:
            ps.mark_finalized(flush_batch_id)

    def _empty_change_schema(self) -> T.StructType:
        fields = list(self.sink.current_schema().fields)
        fields.append(T.StructField("op", T.StringType(), True))
        return T.StructType(fields)

    # -------------------------------------------------- pending patch state
    # (thin wrappers over the shared PendingStore — the streaming tail
    # uses the same store, so batch replay and streaming interoperate)

    def _pending_store(self) -> PendingStore | None:
        root = self.pending_path or (
            os.path.join(self.sink.root, "_pending")
            if getattr(self.sink, "root", None) else None
        )
        if root is None:
            return None
        return PendingStore(self.spark, root, key=self.sink.key)

    def _pending_head(self) -> int:
        ps = self._pending_store()
        return ps.head()[0] if ps else -1

    def _pending_rows(self) -> int:
        """Parked-patch row count (0 when no store or empty pending —
        the analytic stats precompute is exact iff this is 0, even if a
        pending HEAD exists from earlier batches)."""
        ps = self._pending_store()
        return ps.head()[1] if ps else 0

    def _read_pending(self):
        ps = self._pending_store()
        return ps.read() if ps else (None, 0)

    def _write_pending(self, batch_id: int, pending) -> None:
        ps = self._pending_store()
        if ps:
            ps.write(batch_id, pending)

    def _write_empty_pending(self, batch_id: int) -> None:
        ps = self._pending_store()
        if ps:
            ps.write_empty(batch_id)
