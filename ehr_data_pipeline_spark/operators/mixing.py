"""Training-data mixture construction: token-weighted domain sampling
and length-bucketed batch assignment.

The two operators an LLM pretraining pipeline runs between curation and
packing (neither exists in the reference, which has no notion of a
training corpus — this is north-star surface like sampling.py and
packing.py):

- :func:`domain_mixture_sample` — build a corpus matching a target
  domain mixture BY TOKENS, not rows (the unit the training run
  consumes: "50% en, 20% fr, ..." in the data card always means token
  share). Each domain contributes documents in deterministic keyed-hash
  order until its token budget is met — so the draw is uniform within
  domain, stable across runs/repartitionings, and replayable in SQL.
- :func:`length_bucketed_batches` — group documents of similar token
  length into fixed-size batches (the padding-minimizing loader layout):
  bucket by length band, then number batches within each bucket in
  keyed-hash order.

Scale: both are one shuffle on the grouping key (domain / length
bucket) driving a partitioned window — the stratified-sample shape.
Domains and length bands are coarse (tens, not millions), so window
partitions are large but few; the within-partition work is a sort —
Spark spills it, nothing is driver-sized. A cross-domain skew note for
100 TB: the budget filter cuts each domain to its token budget, so the
post-sample table is bounded by sum(budgets) regardless of input size —
the window ranks only rows that survive no filter, which is the full
domain; for a domain too large to sort per-partition, pre-filter with
``deterministic_sample`` at a rate that oversamples the budget (e.g.
2× budget/domain_tokens) and run the exact budget cut on the survivors.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ehr_data_pipeline_spark.operators.sampling import keyed_hash60


def domain_mixture_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    token_count: Column,
    shares: Mapping[str, float],
    total_token_budget: int,
) -> DataFrame:
    """Sample a training mixture: from every domain named in ``shares``,
    take documents in keyed-hash order until the domain's token budget
    ``round(share * total_token_budget)`` is reached — a document is
    kept while the tokens BEFORE it (exclusive prefix sum in draw order)
    are under budget, so the budget-crossing document is included and
    each domain lands within one document of its target. Domains not in
    ``shares`` are excluded (mixture weights are a whitelist). Shares
    need not sum to 1 (relative budgets, same as sampling-rate configs).

    Output: ``id, domain, n_tokens`` for the surviving documents.
    Exact, deterministic, one window shuffle on the domain.
    """
    budgets = {
        d: int(round(s * total_token_budget)) for d, s in shares.items()
    }
    budget_expr: Column = F.lit(None).cast("bigint")
    for d, b in budgets.items():
        budget_expr = F.when(F.col(domain_col) == d, F.lit(b)).otherwise(
            budget_expr
        )
    h = keyed_hash60(F.col(id_col), "mixture")
    w = (
        Window.partitionBy("domain")
        .orderBy(h.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.select(
            F.col(id_col),
            F.col(domain_col).alias("domain"),
            token_count.cast("bigint").alias("n_tokens"),
            budget_expr.alias("__budget"),
        )
        .filter(F.col("__budget").isNotNull())
        .withColumn(
            "__tokens_before",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)),
        )
        .filter(F.col("__tokens_before") < F.col("__budget"))
        .drop("__budget", "__tokens_before")
    )


def temperature_mixture_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    token_count: Column,
    total_token_budget: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based domain mixture (the mT5/XLM-R reweighting):
    instead of hand-written shares, each domain's budget is proportional
    to ``T_d^alpha`` where ``T_d`` is the domain's total token count —
    alpha < 1 UPSAMPLES small domains relative to their natural share
    (alpha=1 is proportional sampling, alpha=0 is uniform-across-domains).
    The weights are derived from the data, so the whole mixture is one
    self-contained plan: domain token totals (one groupBy), weights
    ``round(T_d^alpha · 1e9)`` as exact integers, budgets
    ``round(w_d / Σw · total_token_budget)``, then the same
    keyed-hash-order exclusive-prefix-sum cut as
    :func:`domain_mixture_sample`.

    Cross-engine exactness: at the default ``alpha=0.5`` the weight uses
    ``sqrt`` (IEEE-correctly-rounded in every libm, so the quantized
    integer weights are bit-identical in SQL); other alphas go through
    ``pow``, which is NOT correctly rounded everywhere — the
    quantization usually absorbs the difference but exact oracle parity
    is only guaranteed at 0.5.

    The quantized weight is RELATIVE: ``round(T_d^α / max_d T_d^α ·
    1e9)`` — only weight ratios matter, and normalizing by the max
    before quantizing bounds every integer by 1e9 regardless of
    corpus size (an ABSOLUTE ``round(T^α·1e6)`` overflows int64 around
    T^α ≈ 9e12, i.e. a 1e13-token domain at α=1 — Spark's non-ANSI cast
    would silently saturate while the SQL twin errors; the relative form
    cannot overflow at any scale). The max over the ≤#domains weight
    frame is the same driver-sized unpartitioned window as Σw below.

    Exclusions (ADVICE r10): rows with a NULL domain are DROPPED AT
    ENTRY — before the domain token totals — so they neither receive a
    budget nor dilute anyone else's: an excluded-but-weighted NULL
    group would still sit in ``max_d`` and ``Σw`` and silently
    under-spend ``total_token_budget`` by its share (the same contract
    as :func:`domain_mixture_sample`'s whitelist, where an unlisted
    domain's tokens never enter the arithmetic; assign a sentinel
    domain first if unattributed docs should participate — the
    entry-filter invariance is pinned by a with/without-NULL-rows
    equality test). A domain whose
    relative weight rounds below ``0.5/1e9`` quantizes to weight 0
    and contributes nothing: at α=0.5 that needs a token-count ratio
    below ~2.5e-19 vs the largest domain — unreachable in practice (a
    1-token domain next to a 4e18-token one), and deliberately NOT
    floored to 1: a floor would give such a vanishing domain a budget
    of ``total/Σw`` tokens, a far larger distortion than excluding it.

    Scale: the domain-weight frame is ≤ #domains rows (broadcast both
    ways); the data path is one groupBy(domain) + one window on the
    domain — identical cost shape to ``domain_mixture_sample``."""
    h = keyed_hash60(F.col(id_col), "mixture")
    base = df.where(F.col(domain_col).isNotNull()).select(
        F.col(id_col),
        F.col(domain_col).alias("domain"),
        token_count.cast("bigint").alias("n_tokens"),
        h.alias("__h"),
    )
    t_pow = (
        F.sqrt(F.col("__T").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("__T").cast("double"), F.lit(float(alpha)))
    )
    wall0 = Window.partitionBy()
    dom = (
        base.groupBy("domain")
        .agg(F.sum("n_tokens").alias("__T"))
        .select("domain", t_pow.alias("__p"))
        .select(
            "domain",
            F.round(
                F.col("__p") / F.max("__p").over(wall0) * F.lit(1e9)
            )
            .cast("bigint")
            .alias("__q"),
        )
    )
    # Σw over the ≤#domains weight frame: an unpartitioned window over a
    # driver-sized aggregate frame (the Q22-threshold pattern)
    wall = Window.partitionBy()
    budgets = dom.select(
        "domain",
        F.round(
            F.col("__q").cast("double")
            / F.sum("__q").over(wall).cast("double")
            * F.lit(float(total_token_budget))
        )
        .cast("bigint")
        .alias("__budget"),
    )
    w = (
        Window.partitionBy("domain")
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.join(F.broadcast(budgets), "domain")
        .withColumn(
            "__tokens_before",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)),
        )
        .filter(F.col("__tokens_before") < F.col("__budget"))
        .select(id_col, "domain", "n_tokens")
    )


def length_bucketed_batches(
    df: DataFrame,
    id_col: str,
    token_count: Column,
    bucket_edges: list[int],
    batch_size: int,
) -> DataFrame:
    """Assign documents to fixed-size batches of similar length — the
    loader layout that minimizes padding waste: ``len_bucket`` is how
    many of ``bucket_edges`` the doc's token count reaches (band index,
    0..len(edges)), and within each bucket documents are numbered in
    keyed-hash order into batches of ``batch_size`` (the trailing
    partial batch keeps the last numbers). Output: ``id, n_tokens,
    len_bucket, batch_no, pos_in_batch`` — deterministic, one window
    shuffle on the bucket (a handful of coarse bands)."""
    edges = sorted(bucket_edges)
    n_tokens = token_count.cast("bigint")
    bucket: Column = F.lit(0)
    for e in edges:
        bucket = bucket + F.when(n_tokens >= e, 1).otherwise(0)
    h = keyed_hash60(F.col(id_col), "batch")
    w = Window.partitionBy("len_bucket").orderBy(h.asc(), F.col(id_col).asc())
    rn = F.row_number().over(w) - 1
    return (
        df.select(
            F.col(id_col),
            n_tokens.alias("n_tokens"),
            bucket.cast("int").alias("len_bucket"),
        )
        .withColumn("batch_no", (rn / batch_size).cast("bigint"))
        .withColumn("pos_in_batch", (rn % batch_size).cast("int"))
    )
