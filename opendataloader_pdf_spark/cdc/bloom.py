"""Per-delta-file bloom filters: point-read file skipping beyond min/max.

The MoR manifest already records each delta's key min/max (the Iceberg
file-stats move) — enough to skip deltas whose key RANGE excludes a
probe key, useless when the range is wide but the delta is sparse (a
zipf-hot ingest writes deltas spanning ``a0 .. z999`` that contain 1%
of that keyspace). Iceberg v2 answers with per-file bloom filters
(``write.parquet.bloom-filter-enabled``); this module is that answer
for the manifest-level delta skip:

* :func:`position_expr` — the k bloom bit positions of a key as a JVM
  expression (``xxhash64(seed_i, key) mod m`` per hash) — used by BOTH
  the writer and the prober, so there is one hash definition and zero
  cross-language drift.
* :func:`build_blooms` — per-bucket bitmaps for a reduced batch in ONE
  narrow aggregation (explode k positions → map-side-combining
  collect_set per bucket); the driver packs each set into an m-bit
  bitmap. Cost is O(batch keys), never O(table).
* :func:`probe_positions` — the probe keys' positions over a
  driver-side LocalRelation (no Spark job, no data-table scan).
* :func:`may_contain` — the driver-side test: all k bits set?

The safety invariant is one-sided: a bloom may say "maybe" for an
absent key (false positive → harmless extra file read) but must NEVER
say "absent" for a present key — that would silently drop the key's
newest version from the LWW fold. ``tests/test_bloom.py`` pins this
with a property test.

Sizing: bits default 8192 (1 KiB per delta entry in the manifest JSON,
k=4 → ~2.4% false positives at 1000 keys/delta, ~24% at 10k). The
writer stores ``n`` alongside so a reader can see the saturation; an
over-full bloom degrades to "always maybe", never to wrong answers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opendataloader_pdf_spark.cdc.storage import key_relation

__all__ = ["position_expr", "build_blooms", "probe_positions",
           "may_contain", "pack_bitmap"]


def position_expr(col, bits: int, k: int):
    """Array of the k bloom bit positions for ``col`` — pure JVM
    (xxhash64 with per-hash integer seeds, pmod to the bitmap size)."""
    return F.array(*[
        F.pmod(F.xxhash64(F.lit(i), col), F.lit(bits)).cast("int")
        for i in range(k)
    ])


def pack_bitmap(positions, bits: int) -> str:
    """Sorted position iterable → hex bitmap string (bits/4 chars)."""
    buf = bytearray(bits // 8)
    for p in positions:
        buf[p >> 3] |= 1 << (p & 7)
    return buf.hex()


def build_blooms(reduced: DataFrame, key: str, bits: int, k: int,
                 bucket_col: str = "bucket") -> dict[int, dict]:
    """Per-bucket bloom entries ``{bucket: {bits, k, n, hex}}`` for a
    bucketed reduced batch. One narrow agg job: only (bucket, key) are
    read; collect_set partials combine map-side, so the shuffle carries
    at most ``bits`` ints per bucket regardless of batch size."""
    rows = (
        reduced.select(
            F.col(bucket_col), F.col(key),
            F.explode(position_expr(F.col(key), bits, k)).alias("p"),
        )
        .groupBy(bucket_col)
        .agg(F.collect_set("p").alias("ps"),
             (F.count_distinct(key)).alias("n"))
        .collect()
    )
    return {
        int(r[bucket_col]): {
            "bits": bits, "k": k, "n": int(r["n"]),
            "hex": pack_bitmap(r["ps"], bits),
        }
        for r in rows
    }


def probe_positions(spark, keys: list, key_type, bits: int, k: int
                    ) -> dict[object, list[int]]:
    """Positions for a driver-side probe key list, computed with the
    SAME JVM hash as the writer over a LocalRelation of the keys
    (``storage.key_relation``): no Spark job, no table scan. Returns
    {key: [k positions]}."""
    rows = key_relation(spark, keys, key_type).select(
        "k", position_expr(F.col("k"), bits, k).alias("ps")
    ).collect()
    return {r["k"]: list(r["ps"]) for r in rows}


def may_contain(bloom: dict, positions: list[int],
                bits: int | None = None) -> bool:
    """Driver-side membership test against a manifest bloom entry.
    Position lists computed under a different (bits, k) geometry don't
    apply — err on "maybe" (read the file) rather than guess: testing
    the wrong bits could return a false "absent", the one failure a
    bloom must never produce. Pass ``bits`` (the geometry the positions
    were computed under) so a mismatch with the stored bloom's geometry
    is detectable in BOTH directions; without it, only oversized
    positions (probe bits > bloom bits) can be caught."""
    if bloom.get("k") != len(positions):
        return True
    if bits is not None and bloom.get("bits") not in (None, bits):
        return True
    stored_bits = bloom.get("bits")
    if stored_bits is not None and any(p >= stored_bits for p in positions):
        return True
    buf = bytes.fromhex(bloom["hex"])
    return all(buf[p >> 3] & (1 << (p & 7)) for p in positions)
