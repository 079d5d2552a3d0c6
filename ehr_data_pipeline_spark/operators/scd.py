"""Slowly-changing-dimension (SCD type 2) operators: compress an event
stream into versioned dimension rows, and merge new batches into an
existing SCD2 table incrementally.

The reference pipeline rebuilds its tables from scratch every DAG run
(/root/reference/json_pipeline.py:100-118 re-reads the whole input
directory); at 100 TB a rebuild is a full-corpus pass, so the incremental
merge is the operator that makes a daily dimension update O(|new batch|)
instead of O(|history|).

Semantics:

- :func:`scd2_compress` — gaps-and-islands run compression: consecutive
  events of a key with identical tracked attributes collapse into one
  version row (valid_from, valid_to, is_current, n_events). valid_to is
  the next version's valid_from (half-open intervals, no gaps); the last
  version per key is open (valid_to null, is_current true).
- :func:`scd2_apply_batch` — merge a NEW batch of events into an
  existing compressed table: closed versions pass through untouched, the
  open version either extends (batch starts with the same attributes —
  counts merge, valid_from keeps its history) or closes at the batch's
  first change. Invariant, property-tested: apply(compress(b1), b2) ==
  compress(b1 ∪ b2) whenever b2's events are later than b1's per key
  (append-only event time — the standard warehouse assumption; late
  events need a rebuild of the affected keys).

Scale: both operators are window + groupBy over the KEY partitioning —
one shuffle lineage, no self-joins, no driver-side state. The merge
touches |existing versions| + |batch|, never the raw event history.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _attrs_equal(left_prefix: str, right_prefix: str, attrs: Sequence[str]) -> Column:
    """Null-safe equality across all tracked attributes."""
    cond = F.lit(True)
    for a in attrs:
        cond = cond & F.col(f"{left_prefix}{a}").eqNullSafe(F.col(f"{right_prefix}{a}"))
    return cond


def scd2_compress(
    df: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Compress an event log (event time ``ts``) into SCD2 version rows.

    Output: keys + attrs + (version, valid_from, valid_to, is_current,
    n_events). A version starts whenever ANY tracked attribute differs
    (null-safe) from the previous event of the same key in
    (ts, tiebreak) order; ``version`` is the 1-based run index in that
    order — the column that makes the version sequence a TOTAL order
    even when consecutive runs share a valid_from (several changes
    inside one timestamp, split by the tiebreak): valid_to/is_current
    derive from lead over ``version``, never over the tie-prone
    timestamp. ``tiebreak`` must make the event order total when ts
    alone has duplicates — otherwise run boundaries are
    nondeterministic.

    Timeline contract (``functions/measurement.py``): an event with a
    NULL ``ts`` has no position on the timeline and is excluded —
    which also keeps the lag(ts)-is-null first-event detection below
    sound (it relies on ts never being null for an included event)."""
    df = df.where(F.col("ts").isNotNull())
    keys = list(keys)
    attrs = list(attrs)
    order = [F.col("ts")] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*keys).orderBy(*order)

    # the first event of a key must ALWAYS open run 1 — detected via
    # lag(ts) being null (ts is never null for an event). Detecting it
    # through attr inequality alone fails when the first event's tracked
    # attrs are all null: eqNullSafe(null, lag=null) is true, the run
    # counter would start at 0, and scd2_apply_batch's version==1
    # first-run selection would miss the key entirely.
    changed = F.lag("ts").over(w).isNull()
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    run = F.sum(F.when(changed, 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = df.withColumn("__run", run)
    g = runs.groupBy(*keys, F.col("__run"), *[F.col(a) for a in attrs]).agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy(*keys).orderBy("__run")
    return g.select(
        *keys,
        *attrs,
        F.col("__run").cast("bigint").alias("version"),
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
        "n_events",
    )


def scd2_apply_batch(
    dim: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Merge a new event batch into an existing SCD2 table produced by
    :func:`scd2_compress` (same keys/attrs). Cost is O(|dim versions| +
    |batch|): the raw history is never touched. Requires batch events to
    be later than the dim's per-key history (append-only event time)."""
    keys = list(keys)
    attrs = list(attrs)
    upd = scd2_compress(batch, keys, attrs, tiebreak)

    # the batch's first run per key is version == 1 by construction —
    # no tie-prone valid_from ranking needed
    first_upd = upd.filter(F.col("version") == 1).select(
        *[F.col(k).alias(f"__fk_{k}") for k in keys],
        *[F.col(a).alias(f"__fa_{a}") for a in attrs],
        F.col("n_events").alias("__f_n"),
    )

    closed = dim.filter(~F.col("is_current"))
    cur = dim.filter(F.col("is_current"))

    # null-safe key joins: scd2_compress groups null key values into one
    # group, so the merge must match them too (plain == would silently
    # treat a null-keyed open version as "no batch arrived")
    join_cond = F.lit(True)
    for k in keys:
        join_cond = join_cond & F.col(k).eqNullSafe(F.col(f"__fk_{k}"))
    cur = cur.join(first_upd, join_cond, "left")

    same = _attrs_equal("", "__fa_", attrs) & F.col("__f_n").isNotNull()
    # open version: untouched (no batch for the key), extended (batch
    # starts with identical attrs — absorb its first run's count), or
    # unchanged-row-passed-through (batch changes attrs; the window
    # below recomputes its valid_to/is_current from the appended runs)
    adjusted_cur = cur.select(
        *keys,
        *attrs,
        "version",
        "valid_from",
        F.when(same, F.col("n_events") + F.col("__f_n"))
        .otherwise(F.col("n_events"))
        .alias("n_events"),
        same.alias("__absorbed_first"),
    )
    offsets = adjusted_cur.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        F.col("version").alias("__base_v"),
        F.col("__absorbed_first").alias("__abs"),
    )
    absorbed_keys = offsets.filter(F.col("__abs")).select(
        *[F.col(f"__ok_{k}").alias(f"__ak_{k}") for k in keys]
    )
    # drop the batch's first run for keys whose open version absorbed it
    anti_cond = F.lit(True)
    for k in keys:
        anti_cond = anti_cond & F.col(k).eqNullSafe(F.col(f"__ak_{k}"))
    off_cond = F.lit(True)
    for k in keys:
        off_cond = off_cond & F.col(k).eqNullSafe(F.col(f"__ok_{k}"))
    surviving_upd = (
        upd.join(absorbed_keys, anti_cond & (F.col("version") == 1), "left_anti")
        # renumber appended runs after the key's existing history: the
        # open version keeps its number, batch run v becomes base + v
        # (minus one when run 1 was absorbed into the open version)
        .join(offsets, off_cond, "left")
        .select(
            *keys,
            *attrs,
            (
                F.coalesce(F.col("__base_v"), F.lit(0))
                + F.col("version")
                - F.when(F.coalesce(F.col("__abs"), F.lit(False)), 1).otherwise(0)
            ).alias("version"),
            "valid_from",
            "n_events",
        )
    )

    cols = [*keys, *attrs, "version", "valid_from", "n_events"]
    stitched = (
        closed.select(*cols)
        .unionByName(adjusted_cur.select(*cols))
        .unionByName(surviving_upd.select(*cols))
    )
    wv = Window.partitionBy(*keys).orderBy("version")
    return stitched.select(
        *keys,
        *attrs,
        "version",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
        "n_events",
    )
