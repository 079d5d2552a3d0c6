"""Ordered event-sequence funnel analysis: how many users complete
step 1 → step 2 → ... → step k, each step strictly after the previous
one, optionally within a time horizon of the first step.

Semantics (the standard greedy-earliest funnel): a user completes step i
at the EARLIEST event of that step's type that is strictly later than
their step-(i-1) completion; an earliest-match chain exists iff any
valid ordered chain exists, so greedy matching is exact, deterministic,
and (unlike per-user sequence scans in Python) expressible as k - 1
min-aggregate joins.

Scale: each step is one groupBy(user) aggregate plus one equi-join on
user — k - 1 shuffle lineages on the SAME key, so at 100 TB the chain
co-partitions after the first shuffle (Exchange reuse) and nothing is
ever collected or sequence-scanned. Per-step frames hold one row per
surviving user (monotonically shrinking), so every join after step 1 is
small-side broadcastable if the funnel narrows sharply; Spark's AQE
makes that call at runtime.

The reference has no event-sequence surface at all; this is north-star
analytics like the temporal-join family (ASOF/range/gap-fill).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_user_steps(
    df: DataFrame,
    steps: Sequence[str],
    within: str | None = None,
) -> DataFrame:
    """Per-user funnel completion times over ``event_type`` and ``ts``:
    one row per ``user_id`` who completed
    at least step 1, with a ``step{i}_ts`` column per completed step
    (null once the chain breaks). ``within`` (an INTERVAL literal like
    ``'2 hours'``) additionally requires every later step to land within
    that horizon of the user's step-1 time."""
    if not steps:
        raise ValueError("steps must be non-empty")
    first = (
        df.filter(F.col("event_type") == steps[0])
        .groupBy(F.col("user_id").alias("user"))
        .agg(F.min("ts").alias("step1_ts"))
    )
    out = first
    for i, step in enumerate(steps[1:], start=2):
        prev = f"step{i - 1}_ts"
        ev = df.filter(F.col("event_type") == step).select(
            F.col("user_id").alias("__u"), F.col("ts").alias("__t")
        )
        cond = (out["user"] == ev["__u"]) & (ev["__t"] > out[prev])
        if within is not None:
            cond = cond & (
                ev["__t"] <= F.col("step1_ts") + F.expr(f"INTERVAL {within}")
            )
        out = (
            out.join(ev, cond, "left")
            .groupBy(*[F.col(c) for c in out.columns])
            .agg(F.min("__t").alias(f"step{i}_ts"))
        )
    return out.withColumnRenamed("user", "user_id")


def funnel_counts(
    df: DataFrame,
    steps: Sequence[str],
    within: str | None = None,
) -> DataFrame:
    """The funnel report: one row per step with the step name, the
    number of users whose earliest-match chain reaches it, and the
    conversion rate from step 1 (1.0 for step 1 itself). ONE aggregate
    over the per-user frame, then an in-row explode into the k report
    rows — the per-user chain is computed once, not once per step."""
    per_user = funnel_user_steps(df, steps, within)
    counts = per_user.agg(
        *[
            F.count(F.col(f"step{i}_ts")).alias(f"__n{i}")
            for i in range(1, len(steps) + 1)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("step"),
                F.lit(step).alias("step_name"),
                F.col(f"__n{i}").cast("bigint").alias("n_users"),
                # try_divide: an empty funnel (n1 = 0) reports null
                # conversions instead of an ANSI divide-by-zero error
                F.try_divide(F.col(f"__n{i}"), F.col("__n1"))
                .cast("double")
                .alias("conversion"),
            )
            for i, step in enumerate(steps, start=1)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select("r.*")
