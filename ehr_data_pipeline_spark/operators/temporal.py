"""Temporal join operators Spark lacks as built-ins — as-of join and
range join — expressed as compositions of native DataFrame ops (no UDFs,
no per-row Python), per the engine's custom-operator policy.

**As-of join** (:func:`asof_join`): for each left row, the single right
row with the greatest ``right_time <= left_time`` (backward; forward is
the mirror) sharing the key. The classic implementations are a skewed
range join or a per-key loop; the scalable formulation here is
union + windowed carry-forward:

1. tag both sides, union by name (right payload as one struct column);
2. one window per key ordered by (time, side) carries the last non-null
   right payload forward (``last(..., ignorenulls=True)`` over
   unbounded-preceding);
3. keep left rows; their carried struct IS the as-of match.

Cost: ONE shuffle of left+right on the key, sort within partitions —
same shape as a sort-merge join, state O(1) per row. Equal timestamps
resolve by side ordering (backward: right sorts first, so a same-instant
right row matches — the inclusive `<=` convention, matching DuckDB's
ASOF).

**Range join** (:func:`range_join`): all right rows with
``lo <= right_time < hi`` per left row. With an equi key this is a plain
equi-join plus range predicates (Catalyst sort-merge-joins on the key and
post-filters the range — fine when keys are selective). Without an equi
key a naive formulation is a cross join; :func:`bucketed_range_join`
manufactures the equi key by exploding each left interval into the
fixed-width time buckets it overlaps and bucketing right rows once, so
the join shuffles on (bucket) and compares only co-bucketed rows — the
standard interval-bucketing trick, exact for any interval width.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def finite(col: str | Column) -> Column:
    """Value-domain guard shared by the rollup/gapfill aggregates — the
    engine-wide measurement contract (NaN, ±Inf and |v| ≥ 10^12 are
    MISSING measurements; see ``functions/measurement.py`` for the full
    statement and the DuckDB oracle twin)."""
    from ehr_data_pipeline_spark.functions.measurement import valid_measurement

    return valid_measurement(col)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    right_payload: Sequence[str],
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    matched_prefix: str = "asof_",
) -> DataFrame:
    """Backward (default) or forward as-of join; right payload columns
    come back prefixed ``matched_prefix`` plus ``{matched_prefix}ts``
    (the matched right timestamp, null when no match / outside
    ``tolerance_seconds``). Right rows should be unique per (key, time) —
    pre-aggregate otherwise, or the carried match among ties is the
    union-order last, which is not deterministic."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    on = list(on)
    back = direction == "backward"

    payload = F.struct(
        F.col(right_time).alias("__rt"), *[F.col(c) for c in right_payload]
    )
    r = right.select(
        *on,
        F.col(right_time).alias("__t"),
        # backward: right sorts before left at equal times (inclusive <=);
        # forward: after
        F.lit(0 if back else 1).alias("__side"),
        payload.alias("__rp"),
    )
    l_cols = [c for c in left.columns]
    l = left.select(
        *l_cols,
        F.col(left_time).alias("__t"),
        F.lit(1 if back else 0).alias("__side"),
        F.lit(None).cast(r.schema["__rp"].dataType).alias("__rp"),
    )
    u = l.unionByName(r, allowMissingColumns=True)

    base = Window.partitionBy(*on).orderBy("__t", "__side")
    if back:
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        carried = F.last("__rp", ignorenulls=True).over(w)
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        carried = F.first("__rp", ignorenulls=True).over(w)
    u = u.withColumn("__m", carried).filter(F.col("__side") == F.lit(1 if back else 0))

    if tolerance_seconds is not None:
        gap = F.abs(
            F.unix_micros(F.col("__t")) - F.unix_micros(F.col("__m.__rt"))
        ) / F.lit(1e6)
        u = u.withColumn(
            "__m", F.when(gap <= F.lit(tolerance_seconds), F.col("__m"))
        )

    out = u.select(
        *l_cols,
        F.col("__m.__rt").alias(f"{matched_prefix}ts"),
        *[F.col(f"__m.{c}").alias(f"{matched_prefix}{c}") for c in right_payload],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    right_time: str,
    lo: Column,
    hi: Column,
    how: str = "inner",
) -> DataFrame:
    """Equi-key range join: right rows with ``lo <= right_time < hi``
    per left row (half-open). Catalyst plans the equi part as a
    sort-merge/broadcast join and evaluates the range as a join-side
    predicate; use :func:`bucketed_range_join` when there is no equi key
    to shuffle on. ``how='left_outer'`` keeps zero-match left rows.

    Right-side key columns are renamed before the join: both sides often
    derive from the same scan, and dropping ``right[k]`` afterwards is
    ambiguous under self-join lineage — with an outer join it can drop
    the left copy and keep the null-filled right one."""
    rx = right
    for k in on:
        rx = rx.withColumnRenamed(k, f"__r_{k}")
    cond = (F.col(right_time) >= lo) & (F.col(right_time) < hi)
    for k in on:
        cond = cond & (F.col(k) == F.col(f"__r_{k}"))
    return left.join(rx, cond, how).drop(*[f"__r_{k}" for k in on])


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    right_time: str,
    lo: Column,
    hi: Column,
    bucket_seconds: int = 3600,
    on: Sequence[str] = (),
) -> DataFrame:
    """Range join without (or with a weak) equi key: explode each left
    interval into the ``bucket_seconds``-wide epoch buckets it overlaps,
    bucket right rows once, join on (bucket [+ key]), then re-apply the
    exact range predicate. Shuffles on the bucket instead of cross-
    joining; bucket width trades fan-out (wide intervals → many buckets
    per left row) against bucket occupancy. Exact for any inputs."""
    bs = F.lit(bucket_seconds)
    lb = (F.unix_micros(lo) / F.lit(1e6) / bs).cast("bigint")
    hb = (F.unix_micros(hi) / F.lit(1e6) / bs).cast("bigint")
    lx = left.withColumn("__lo", lo).withColumn("__hi", hi).withColumn(
        "__bucket", F.explode(F.sequence(lb, hb))
    )
    rx = right
    for k in on:
        rx = rx.withColumnRenamed(k, f"__r_{k}")
    rx = rx.withColumn(
        "__rbucket",
        (F.unix_micros(F.col(right_time)) / F.lit(1e6) / bs).cast("bigint"),
    )
    cond = (
        (F.col("__bucket") == F.col("__rbucket"))
        & (F.col(right_time) >= F.col("__lo"))
        & (F.col(right_time) < F.col("__hi"))
    )
    for k in on:
        cond = cond & (F.col(k) == F.col(f"__r_{k}"))
    joined = lx.join(rx, cond)
    return joined.drop(
        "__bucket", "__rbucket", "__lo", "__hi", *[f"__r_{k}" for k in on]
    )


def gapfill_time_series(df: DataFrame) -> DataFrame:
    """Dense time-spine gap filling — the hypertable/resample operator:
    every (hour, event_type) cell of the [min, max] time range exists in the
    output, with zero-filled counts, the bucket's decimal-exact value sum
    (NULL where the bucket is empty), and a last-observation-carried-
    forward column for downstream interpolation.

    Construction is all native: the spine is ONE row (global min/max
    truncated to the hour) exploded through ``sequence`` — the range
    never materializes on the driver; the group dimension broadcasts
    (distinct group keys are tiny by definition); the observed buckets
    left-join onto the dense grid; LOCF is ``last(ignorenulls)`` over an
    unbounded-preceding window per group. Shuffles: one for the bucket
    aggregate, one window per group — the spine cross join is
    broadcast-only. At 100 TB the aggregate dominates and partial
    aggregation applies; the spine stays proportional to range/step, not
    to row count.

    Cost model: output rows = (hours from the global min to the global
    max + 1) x distinct event types. The spine is exploded from one row
    in one task, so a single outlier timestamp sets the grid size: the
    edge corpus, whose 144 rows span 1969 to 2200, gives 12.1M rows
    (2.02M hours x 6 event types).

    Timeline contract (``functions/measurement.py``): NULL-``ts``
    rows are off the timeline — they can land in no bucket — and are
    excluded up front; the quality suite counts them."""
    df = df.where(F.col("ts").isNotNull())
    bucket = F.date_trunc("hour", F.col("ts"))
    bounds = df.agg(
        F.date_trunc("hour", F.min("ts")).alias("__lo"),
        F.date_trunc("hour", F.max("ts")).alias("__hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr("INTERVAL 1 hour"))
        ).alias("bucket_start")
    )
    groups = df.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(groups))
    observed = df.groupBy(bucket.alias("bucket_start"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(finite("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(observed, ["bucket_start", "event_type"], "left")
        .select(
            "bucket_start",
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            "sum_value",
            F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_locf"),
        )
    )


def time_rollup(events: DataFrame) -> DataFrame:
    """Hourly rollup in MERGEABLE partial form (the hypertable /
    continuous-aggregate building block): per (bucket_start, event_type) —
    n_events, n_values, exact DECIMAL sum, min, max. Every statistic is
    mergeable, so rollups of disjoint event slices combine cell-wise
    with :func:`rollup_merge` instead of re-reading history; derived
    statistics (avg) come from :func:`rollup_finalize` at read time.
    One shuffle on the (bucket, keys) grain with map-side combine.
    Non-finite measurements are missing data across EVERY statistic
    (n_values/sum/min/max all see the :func:`finite` projection), so the
    rollup never mixes a clean sum with an Inf-poisoned max.

    Timeline contract: NULL-``ts`` events are off the timeline and
    excluded (``functions/measurement.py``); ``n_events`` counts every
    on-timeline event, ``n_values`` only the valid measurements."""
    v = finite("value")
    return (
        events.where(F.col("ts").isNotNull())
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(v).alias("n_values"),
            F.sum(v.cast("decimal(18,6)")).cast("decimal(38,6)").alias("sum_value_dec"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
        )
    )


def rollup_merge(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two partial rollups cell-wise — the O(|affected buckets|)
    continuous-aggregate maintenance step: union + one groupBy on the
    grain; counts and exact decimal sums add, min/max take extremes.
    Invariant (oracle-checked by events_hourly_rollup_merge):
    merge(rollup(A), rollup(B)) == rollup(A ∪ B) for disjoint slices."""
    grain = [c for c in existing.columns
             if c not in ("n_events", "n_values", "sum_value_dec",
                          "min_value", "max_value")]
    return (
        existing.unionByName(delta)
        .groupBy(*grain)
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("n_values").cast("bigint").alias("n_values"),
            F.sum("sum_value_dec").cast("decimal(38,6)").alias("sum_value_dec"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


def rollup_finalize(rollup: DataFrame) -> DataFrame:
    """Read-time statistics from the mergeable partials: double sum and
    the derived average (one IEEE division of exact operands — identical
    in any engine)."""
    sum_d = F.col("sum_value_dec").cast("double")
    return rollup.select(
        *[c for c in rollup.columns if c != "sum_value_dec"],
        sum_d.alias("sum_value"),
        F.when(F.col("n_values") > 0, sum_d / F.col("n_values").cast("double"))
         .alias("avg_value"),
    )
