"""Unchanged-column ("TOAST") updates: change events whose token array
is a null *sentinel* meaning "unchanged — carry the previous value
forward", applied exactly under LSN-order fold semantics.

Postgres logical decoding omits large TOASTed values from UPDATE images
unless the column changed (Debezium surfaces the
``__debezium_unavailable_value`` placeholder); a CDC consumer that
applies such an update verbatim nulls out the very column the upstream
writer never touched. This module is that contract for the token-array
payload: ``op='update'`` with ``tokens IS NULL`` means "metadata changed,
tokens did not".

Reference parity: the reference's granularity re-application keeps a
parent block's text payload while replacing its structural metadata
(SURVEY.md §2 A10 lists-from-paragraphs re-run); generalized to
column-level carry-forward in the CDC apply path.

Semantics (the oracle's relational form)
----------------------------------------
Fold all events of a key in LSN order; the final row is the max-LSN
winner's metadata, and its token array is the **latest non-null tokens
at or below the winner's LSN** (deletes carry null tokens and are
looked through — a tombstone later revived by a toast update inherits
the last image written before the delete). A toast update with no
predecessor image anywhere (batch ∪ table) violates the producer
contract and is *diverted*, never applied as a null array.

Exactness
---------
``reduce_batch_toast`` is ONE map-side-combinable aggregation emitting
the winner's metadata plus the in-batch image (latest non-null tokens,
with its lsn). ``resolve_toast`` completes null images against the
table's current image — a column-pruned narrow read of (key, lsn,
tokens) joined with the *reduced* (small) side broadcast, so the base
is never shuffled. The combine rule — take the image with the larger
lsn — is associative, so the two-phase fold equals the global fold
whenever micro-batch cuts respect LSN order per key (the tail's
delivery contract); *within* a batch, arbitrary disorder is handled
exactly by the aggregation. Cross-batch stale full writes are no-ops by
the engine-wide MERGE LSN-guard rule, and this module inherits that
contract (a stale event's image dies with it). For unbounded cross-
batch disorder the table would store the image lsn as a companion
column and the same max-by combine applies; the engine's bounded-
disorder admission (disorder watermark) makes that unnecessary here.

Scale notes
-----------
* One shuffle for the reduction (groupBy key, partial-agg friendly:
  max_by ignores rows whose ordering expression is null, so winner and
  image ride the same pass).
* The completion join broadcasts the reduced batch against a two-column
  pruned scan of only the affected buckets — no base shuffle.
* No Python UDFs anywhere; everything is JVM expression work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: metadata columns that always follow the winning event
META_COLS = ("op", "n_tok", "source", "lang", "schema_version", "ts")


def reduce_batch_toast(events: DataFrame, key: str = "doc_id",
                       order: str = "lsn") -> DataFrame:
    """Reduce a batch with toast-sentinel updates to one row per key.

    Output: key, winner metadata (op/…/lsn), plus ``tokens`` = latest
    non-null in-batch image (null if the batch holds none for the key)
    and ``_img_lsn`` = that image's lsn (null likewise). ``n_tok`` is
    recomputed from the resolved image downstream, so the winner's
    (possibly sentinel-null) n_tok is replaced by size(tokens) later.
    """
    meta = [c for c in events.columns
            if c not in (key, "tokens") ]
    winner = F.max_by(F.struct(*meta), F.col(order)).alias("_w")
    has_img = F.col("tokens").isNotNull() & (F.col("op") != "delete")
    img = F.max_by(
        F.struct(F.col(order).alias("lsn"), F.col("tokens").alias("tokens")),
        F.when(has_img, F.col(order)),
    ).alias("_img")
    red = events.groupBy(key).agg(winner, img)
    return red.select(
        key,
        *[F.col(f"_w.{c}").alias(c) for c in meta],
        F.col("_img.tokens").alias("tokens"),
        F.col("_img.lsn").alias("_img_lsn"),
    )


def resolve_toast(reduced: DataFrame, base_narrow: DataFrame,
                  key: str = "doc_id",
                  order: str = "lsn") -> tuple[DataFrame, DataFrame]:
    """Complete a reduced toast batch against the table's current image.

    ``base_narrow``: (key, lsn, tokens) of the CURRENT table including
    tombstones (their retained image is what a toast revive inherits) —
    pass ``sink.read(include_deleted=True).select(key, order, 'tokens')``,
    optionally bucket-pruned to the batch's buckets.

    Returns ``(completed, violations)``: completed rows carry a non-null
    token image for every non-delete (image = in-batch image if its lsn
    beats the base row's, else the base image) with ``n_tok`` recomputed;
    violations are non-delete winners with no image anywhere — producer-
    contract breaches to dead-letter, never to apply.
    """
    b = base_narrow.select(
        F.col(key),
        F.col(order).alias("_b_lsn"),
        F.col("tokens").alias("_b_tokens"),
    )
    # two broadcast passes, base never shuffled: (1) stream the narrow
    # base scan past the broadcast key set (LeftSemi, build = reduced),
    # (2) left-join reduced against the now-tiny matched slice (build =
    # matched). A direct outer join can't broadcast: Spark must stream
    # the outer-preserved side, and the small side here IS the outer one.
    matched = b.join(F.broadcast(reduced.select(key)), on=key, how="left_semi")
    j = reduced.join(F.broadcast(matched), on=key, how="left")
    fresh = F.col("_img_lsn").isNotNull() & (
        F.col("_b_lsn").isNull() | (F.col("_img_lsn") > F.col("_b_lsn"))
    )
    image = F.when(fresh, F.col("tokens")).otherwise(F.col("_b_tokens"))
    is_del = F.col("op") == "delete"
    # winning deletes CARRY the image: the tombstone the MERGE writes
    # then retains the last token image (reads hide tombstones, so
    # nothing visible changes) and a later toast revive inherits it.
    out = j.select(
        *[c for c in reduced.columns if c not in ("tokens", "n_tok", "_img_lsn")],
        image.alias("tokens"),
        F.size(image).alias("n_tok"),
    )
    violations = out.filter(~is_del & F.col("tokens").isNull())
    completed = out.filter(is_del | F.col("tokens").isNotNull())
    return completed, violations
