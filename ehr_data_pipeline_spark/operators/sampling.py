"""Deterministic sampling and dataset splitting for training-data
pipelines (BASELINE north-star family; absent in the reference, which has
no sampling at all).

A training corpus needs train/val/test assignment that is:

- **deterministic** — the same document lands in the same split on every
  run, every executor, every repartitioning (no RNG state, no seed file);
- **key-stable** — assignment depends only on the record's KEY, so
  re-ingesting a document (or its near-dup surviving a different shard)
  cannot leak it across splits;
- **engine-portable** — md5-derived, so the DuckDB oracle replays the
  exact assignment and the split query is hash-checked, not just
  rows-counted.

``hash_split_bucket`` maps a key to a bucket in [0, 10000) via the same
portable 60-bit md5 hash the dedup family uses; ``with_split`` turns
cumulative fraction ranges into a split label with one CASE chain — a
narrow map, no shuffle, no sampling pass. ``deterministic_sample`` is the
same idea as a WHERE clause: keep keys whose bucket falls under the
fraction — a stable sample that composes with incremental ingest (new
files sample themselves consistently).

Spark's built-in ``df.sample``/``randomSplit`` are NOT key-stable (they
sample by partition-position RNG: adding one input file reshuffles every
assignment), which is why a content-keyed hash split is the standard
pattern for corpus curation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.operators.text_analysis import portable_hash60

N_BUCKETS = 10000


def keyed_hash60(key: Column, salt: str) -> Column:
    """The keyed draw order of every sampling, mixing and shuffle
    operator: portable 60-bit md5 hash of '<salt>:<key>' — key-stable
    and engine-portable (DuckDB replays it). The salt decorrelates
    independent draws over the same keys."""
    return portable_hash60(F.concat(F.lit(f"{salt}:"), key.cast("string")))


def hash_split_bucket(key: Column, salt: str = "split") -> Column:
    """Deterministic bucket in [0, 10000): :func:`keyed_hash60` of the
    key mod 10000. The salt decorrelates independent splits over the
    same keys (e.g. a second holdout draw)."""
    return keyed_hash60(key, salt) % N_BUCKETS


def with_split(
    df: DataFrame, key_col: str, fractions: dict[str, float]
) -> DataFrame:
    """Assign every row a split label from cumulative bucket ranges —
    e.g. ``{"train": 0.8, "val": 0.1, "test": 0.1}`` maps buckets
    [0,8000) → train, [8000,9000) → val, [9000,10000) → test. Fractions
    must sum to 1 (to within rounding). One narrow projection: no
    shuffle, no extra pass, stable under any partitioning."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = hash_split_bucket(F.col(key_col), "split")
    expr: Column | None = None
    hi = 0
    for name, frac in fractions.items():
        hi += round(frac * N_BUCKETS)
        cond = bucket < hi
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    # guard against rounding leaving the last bucket unlabeled
    last = list(fractions)[-1]
    return df.withColumn("split", expr.otherwise(F.lit(last)))


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = "sample"
) -> DataFrame:
    """Keep rows whose key's bucket falls under ``fraction`` — a stable,
    repeatable sample: the same keys are kept on every run and on every
    incremental batch, unlike df.sample (partition-position RNG)."""
    return df.filter(
        hash_split_bucket(F.col(key_col), salt) < round(fraction * N_BUCKETS)
    )


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fraction: float,
) -> DataFrame:
    """EXACT stratified sample: ``ceil(fraction · n_s)`` rows from every
    stratum ``s`` — the class-balanced draw a training pipeline needs
    when plain hash sampling would under-represent small strata (a
    fraction-of-bucket filter only hits the target count in expectation,
    and for a 30-row stratum the variance is the whole stratum).

    Rows are ranked within their stratum by the portable keyed hash
    (deterministic, key-stable, engine-replayable) and the top
    ``ceil(f·n_s)`` by hash order are kept — so the selection is a
    uniform draw with an exact per-stratum quota, stable across runs and
    repartitionings, with the key as tiebreak for a total order. The
    quota multiplies in DECIMAL (fraction quantized to 6 decimal
    places), not doubles — ``0.07 * 100`` in IEEE is 7.000000000000001
    and a float ceil would over-sample such strata by one row. One
    shuffle on the stratum (window) — at 100 TB strata are usually
    coarse (language, source, label), so the window partitions are large
    but few. Every stratum goes through the window here; for a skewed
    GIANT stratum (billions of rows in one window partition) the caller
    should route that stratum to :func:`deterministic_sample` instead —
    at that size plain hash sampling's relative quota error is
    negligible and it avoids the single-partition sort."""
    from pyspark.sql.window import Window

    h = keyed_hash60(F.col(key_col), "strata")
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(key_col).asc())
    n = Window.partitionBy(strata_col)
    quota = F.ceil(F.lit(fraction).cast("decimal(9,6)") * F.col("__n"))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(n))
        .filter(F.col("__rk") <= quota)
        .drop("__rk", "__n")
    )


def pps_systematic_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n_samples: int,
    max_id: int | None = None,
    validate_weights: bool = True,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling, fully
    deterministic — the weighted draw (sample docs ∝ token count,
    users ∝ activity) that the float-based Efraimidis-Spirakis method
    cannot do cross-engine-exactly (it needs u^(1/w), a libm pow).
    Classic survey-sampling systematics instead: rows line up in the
    keyed-hash shuffle order (``packing.deterministic_shuffle_order`` —
    the hash is the randomization), each row owns the half-open weight
    interval [C, C+w) of the cumulative line (``packing.
    distributed_prefix_sum`` — both two-phase, no row-scale
    unpartitioned window), and the n equally spaced points
    p_k = (2k+1)·W/(2n) select whichever rows they land in. A row
    heavier than the stride captures several points — the standard
    with-multiplicity semantics, reported as ``n_hits``. Every selected
    row satisfies E[n_hits] = n·w/W exactly.

    All arithmetic is integer (points are compared as odd multiples of
    W on the 2n-scaled line), so the draw replays bit-for-bit in
    DuckDB. Weights must be positive non-null integers — enforced
    eagerly (a zero/negative weight makes cumulative intervals overlap
    and double-counts points; a NULL silently vanishes from the draw —
    both corrupt the Σn_hits == n invariant, so they fail fast instead).
    Requires 2·n_samples·ΣW < 2^63 (at 1e13 total tokens that allows n
    up to ~4.6e5; shard the sample for more).

    Plan construction runs two eager scalar jobs by default (the weight
    validation aggregate here, the max-id aggregate inside
    ``distributed_prefix_sum``). Callers that already know their bounds
    pass ``max_id`` (any id upper bound) and ``validate_weights=False``
    to build the plan with no Spark jobs at all — the dtype check stays,
    it's schema-only.
    """
    from ehr_data_pipeline_spark.operators.packing import (
        deterministic_shuffle_order,
        distributed_prefix_sum,
    )
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    # integral dtype check BEFORE the data scan: a positive fractional
    # DOUBLE weight (e.g. 2.5) passes the w_min >= 1 test but silently
    # breaks the integer cumulative line (__lo/__hi truncate double
    # prefix sums) and the documented Sum(n_hits) == n invariant
    w_type = df.schema[weight_col].dataType
    if not isinstance(w_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"pps_systematic_sample: {weight_col!r} has type "
            f"{w_type.simpleString()}; weights must be an integral type "
            "(tinyint/smallint/int/bigint) — cast explicitly, the integer "
            "cumulative line is what makes the draw cross-engine-exact"
        )

    if validate_weights:
        # one driver-sized validation aggregate: min weight and null
        # count over the bare input scan
        check = df.agg(
            F.min(weight_col).alias("w_min"),
            F.sum(F.col(weight_col).isNull().cast("int")).alias("n_null"),
        ).collect()[0]
        if check["n_null"]:
            raise ValueError(
                f"pps_systematic_sample: {check['n_null']} NULL weights in "
                f"{weight_col!r} (weights must be positive integers)"
            )
        if check["w_min"] is not None and check["w_min"] < 1:
            raise ValueError(
                f"pps_systematic_sample: min({weight_col}) = {check['w_min']} "
                "(weights must be positive integers)"
            )

    ordered = deterministic_shuffle_order(df, id_col, salt="pps", out_col="__ord")
    # when max_id is known, __ord (a dense 0..n-1 rank) is bounded by it
    pre = distributed_prefix_sum(
        ordered, "__ord", weight_col, out_col="__c", max_id=max_id
    )
    total = df.agg(F.sum(weight_col).cast("bigint").alias("__w_total"))
    two_n = 2 * n_samples

    # number of odd m >= 1 with m*W < x (x >= 0): ((x-1) div W + 1) div 2;
    # the x=0 guard keeps the negative operand away from div's
    # truncate-vs-floor divergence between engines
    odd_mults = (
        "(CASE WHEN {x} <= 0 THEN 0 "
        "ELSE (({x} - 1) div __w_total + 1) div 2 END)"
    )
    hits = (
        pre.crossJoin(F.broadcast(total))
        .withColumn("__lo", (F.col("__c") * two_n).cast("bigint"))
        .withColumn(
            "__hi",
            ((F.col("__c") + F.col(weight_col)) * two_n).cast("bigint"),
        )
        .withColumn(
            "n_hits",
            F.expr(
                odd_mults.format(x="__hi") + " - " + odd_mults.format(x="__lo")
            ).cast("bigint"),
        )
    )
    return hits.where(F.col("n_hits") >= 1).drop(
        "__c", "__ord", "__w_total", "__lo", "__hi"
    )


def cap_per_stratum(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    max_rows: int,
) -> DataFrame:
    """Frequency capping: at most ``max_rows`` rows per stratum — the
    standard per-domain quota in web-corpus curation (one boilerplate
    domain must not dominate the training mixture). The kept rows are a
    deterministic uniform draw: ranked within the stratum by the
    portable keyed hash (key-stable, engine-replayable — the
    :func:`stratified_sample_exact` machinery with a COUNT quota instead
    of a fraction) so the cap is reproducible across runs and
    repartitionings, and survivors don't churn when unrelated rows
    arrive. PRECONDITION (ADVICE r9, same contract as the index
    builders): ``key_col`` must be unique per row — rows sharing a key
    value within a stratum tie exactly on (hash, key) and row_number
    would then pick survivors nondeterministically across runs. With a
    non-unique natural key, pass a synthesized unique key (e.g.
    ``xxhash64`` of the full row or ``monotonically_increasing_id``
    captured once at ingest). One shuffle (the stratum window); same
    giant-stratum caveat as the fractional variant: route a
    billions-row stratum to plain hash sampling first, then cap the
    remainder."""
    from pyspark.sql.window import Window

    h = keyed_hash60(F.col(key_col), "cap")
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.lit(max_rows))
        .drop("__rk")
    )
