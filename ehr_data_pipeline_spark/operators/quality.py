"""Data-quality profiling operators.

Engine form of the reference's DataQualityChecker
(data_quality_checker.py:5-163): every report is ONE plan over its input
(the reference loops per column / per check in Python), returning a
small report DataFrame. At 100 TB this is the difference between one scan
and dozens. :func:`quality_report` is the one check-suite engine: the
FHIR six-table report (``fhir.quality``) and the events suite
(``queries.events_quality_suite``) both run through it.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.functions.measurement import valid_measurement


def _violations(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")


def missing_value_profile(df: DataFrame) -> DataFrame:
    """Per-column null count + percentage (A1, data_quality_checker.py:10-31)
    in one aggregate pass, unpivoted to rows (col_name, n_null, pct_null).

    The reference computes ``df.isna().sum()`` per column then sorts by
    percentage; sorting a <#columns>-row report is driver-side trivial, so
    ordering is left to the caller (the value hash is order-insensitive).
    """
    cols = df.columns
    wide = df.agg(
        F.count(F.lit(1)).alias("__total"),
        *[_violations(F.col(c).isNull()).alias(c) for c in cols],
    )
    # unpivot the single wide row into the report shape; stack() is a native
    # generator expression, no shuffle (input is one row)
    stack_args = ", ".join(f"'{c}', `{c}`" for c in cols)
    return wide.select(
        F.col("__total"),
        F.expr(f"stack({len(cols)}, {stack_args}) AS (col_name, n_null)"),
    ).select(
        "col_name",
        "n_null",
        (F.lit(100.0) * F.col("n_null") / F.col("__total")).alias("pct_null"),
    )


class Suite(NamedTuple):
    """One table's checks: its report name, the row-wise violation
    predicates by error type, and the keep=False duplicate checks as
    (key columns, error type)."""

    table_name: str
    checks: Callable[[], dict[str, Column]]
    duplicates: tuple[tuple[tuple[str, ...], str], ...] = ()


def _check_row(error_type: str, violated: Column, keys: Sequence[str] = ()) -> Column:
    """One generated row: a check's label, whether this input row violates
    it (row-wise checks), and the key it groups on (duplicate checks, the
    ones with ``keys``)."""
    k = [F.col(c).cast("string") for c in keys]
    k += [F.lit(None).cast("string")] * (2 - len(k))
    return F.struct(
        F.lit(error_type).alias("error_type"),
        F.lit(bool(keys)).alias("dup"),
        violated.alias("violated"),  # NULL counts as no violation: SUM skips it
        k[0].alias("k0"),
        k[1].alias("k1"),
    )


def quality_report(suites: Sequence[tuple[DataFrame, Suite]]) -> DataFrame:
    """Run each table's check suite (A2/A3/A4/A5, the reference's
    ``run_quality_checks``, data_quality_checker.py:34-45,97-163) and
    return the reference's report shape ``(table_name, error_type,
    n_violations, pct)``: rows in suite order, each table's row-wise
    checks before its duplicate checks.

    Execution shape: the whole report is ONE plan with two shuffles,
    however many tables it covers.

    - Every input row becomes one row per check of its table, through
      ``inline(array(struct(...)))``. A row-wise (format or
      logical-order) check carries its violation flag; a keep=False
      duplicate check carries the row's key (up to two columns,
      ``k0``/``k1``).
    - The tables union into one ``groupBy(table_name, error_type, dup,
      k0, k1)``. Row-wise checks have NULL keys, so the map-side combine
      folds them to one row per check per partition; duplicate checks
      get one group per key, NULL keys grouping together as in pandas.
    - A second ``groupBy(table_name, error_type)`` folds those groups
      into the report: a row-wise check sums its flags, a duplicate
      check sums the groups with more than one member (every member of
      a duplicate group counts, data_quality_checker.py:97-102), and
      both sum the group sizes for the table's row count.
    - A literal spine of every (table_name, error_type) is unioned into
      the second aggregate, so an empty table still reports each of its
      checks, with 0 violations and pct 0.0, as pandas does.

    The reference instead loops Python per check per row. At 100 TB
    this report is one scan per table and 2 shuffles: the first carries
    the duplicate keys, the second at most one row per check per
    partition."""
    branches: list[DataFrame] = []
    labels: list[tuple[str, str]] = []
    for df, suite in suites:
        checks = suite.checks()
        rows = [_check_row(et, c) for et, c in checks.items()]
        rows += [_check_row(et, F.lit(False), keys) for keys, et in suite.duplicates]
        branches.append(
            df.select(F.lit(suite.table_name).alias("table_name"), F.inline(F.array(*rows)))
        )
        labels += [(suite.table_name, et) for et in checks]
        labels += [(suite.table_name, et) for _, et in suite.duplicates]

    groups = (
        reduce(DataFrame.unionByName, branches)
        .groupBy("table_name", "error_type", "dup", "k0", "k1")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("violated").cast("bigint")).alias("viol"),
        )
        .select(
            "table_name",
            "error_type",
            F.when(F.col("dup"), F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
            .otherwise(F.col("viol"))
            .alias("n"),
            "cnt",
            F.lit(None).cast("int").alias("ord"),
        )
    )
    # built from one range row, not createDataFrame: a local Python list
    # would run a Python-worker job
    spine = branches[0].sparkSession.range(0, 1, 1, 1).select(
        F.inline(F.array(*[
            F.struct(
                F.lit(t).alias("table_name"),
                F.lit(e).alias("error_type"),
                F.lit(0).cast("bigint").alias("n"),
                F.lit(0).cast("bigint").alias("cnt"),
                F.lit(i).alias("ord"),
            )
            for i, (t, e) in enumerate(labels)
        ]))
    )
    totals = groups.unionByName(spine).groupBy("table_name", "error_type").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("t"),
        F.max("ord").alias("ord"),  # only the spine row carries one
    )
    return (
        totals.coalesce(1)
        .sortWithinPartitions("ord")
        .select(
            "table_name",
            "error_type",
            F.col("n").alias("n_violations"),
            F.when(F.col("t") > 0, F.lit(100.0) * F.col("n") / F.col("t"))
            .otherwise(F.lit(0.0))
            .alias("pct"),
        )
    )


def row_count_observer(df: DataFrame, name: str) -> tuple[DataFrame, "object"]:
    """Row-count logging parity (A6, json_pipeline.py:536-559 wraps every
    cleaning step in len() prints). The engine uses Observation metrics so
    counts ride along with the real action instead of forcing extra scans."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n_rows")), obs


def _drift_bucket(col: str, lo: float, hi: float, n_buckets: int) -> Column:
    """Fixed-width bucket id with under/overflow buckets -1 and n.

    The range tests happen in VALUE space (``c < lo`` / ``c >= hi``) so
    only in-range values ever reach the floor+INT cast — floor of an
    arbitrary in-domain double (up to ~10^12/width) would overflow an
    INT cast under ANSI if clamping happened after the cast, and the
    DuckDB twin has the identical failure mode. Oracle twin::

        CASE WHEN v < lo THEN -1 WHEN v >= hi THEN n
             ELSE CAST(FLOOR((v - lo) / width) AS INT) END
    """
    width = (hi - lo) / n_buckets
    c = valid_measurement(col)
    return (
        F.when(c < lo, F.lit(-1))
        .when(c >= hi, F.lit(n_buckets))
        .otherwise(F.floor((c - F.lit(lo)) / F.lit(width)).cast("int"))
    )


def _drift_counts(
    df_a: DataFrame, df_b: DataFrame, col: str, lo: float, hi: float, n_buckets: int
) -> DataFrame:
    """``(bucket, n_a, n_b)`` for the populated buckets of the
    :func:`_drift_bucket` grid: both snapshots tagged and counted in ONE
    union pass (shuffle on ~n_buckets rows); rows without a valid
    measurement are excluded."""
    bucket = _drift_bucket(col, lo, hi, n_buckets)
    keep = valid_measurement(col).isNotNull()
    tagged = df_a.select(
        bucket.alias("bucket"), F.lit(1).alias("__a"), F.lit(0).alias("__b")
    ).where(keep).unionByName(
        df_b.select(
            bucket.alias("bucket"),
            F.lit(0).alias("__a"),
            F.lit(1).alias("__b"),
        ).where(keep)
    )
    return tagged.groupBy("bucket").agg(
        F.sum("__a").cast("bigint").alias("n_a"),
        F.sum("__b").cast("bigint").alias("n_b"),
    )


def histogram_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 20,
) -> DataFrame:
    """Distribution-drift monitor between two snapshots of the same
    column (yesterday's ingest vs today's, train split vs incoming):
    fixed-width histogram of ``[lo, hi)`` with under/overflow buckets,
    plus the per-bucket chi-square contribution
    ``(n_b - e_b)^2 / e_b`` where ``e_b`` scales snapshot A's count to
    B's total — large contributions localize WHERE the distribution
    moved; their sum is the classic chi-square drift statistic.

    Chi-square here uses only +,-,*,/ on exactly-counted integers, so
    the report is bit-identical across engines with no quantization at
    all; :func:`psi_drift` provides the PSI companion (its libm
    logarithm made cross-engine-stable by the fixed-point trick the
    LM/DSIR/BM25 scorers use). Fixed-width bucketing (not quantiles) keeps the
    bucket id a narrow per-row expression; both inputs aggregate in ONE
    union pass (shuffle on ~n_buckets rows). Rows without a valid
    measurement (NULL/NaN/±Inf/|v| ≥ 10^12 — the engine-wide contract
    in ``functions/measurement.py``) are excluded. ``drift_chi2`` is
    null for buckets B populates but A does not (infinite-surprise
    bucket — report it, don't hide it)."""
    width = (hi - lo) / n_buckets
    counts = _drift_counts(df_a, df_b, col, lo, hi, n_buckets)
    tot = counts.agg(
        F.sum("n_a").cast("double").alias("__ta"),
        F.sum("n_b").cast("double").alias("__tb"),
    )
    expected = F.col("n_a").cast("double") * F.col("__tb") / F.col("__ta")
    chi2 = F.when(
        F.col("n_a") > 0,
        F.round(
            (F.col("n_b").cast("double") - expected)
            * (F.col("n_b").cast("double") - expected)
            / expected,
            6,
        ),
    )
    return (
        counts.join(F.broadcast(tot))
        .select(
            "bucket",
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("bucket_lo"),
            "n_a",
            "n_b",
            chi2.alias("drift_chi2"),
        )
    )


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_buckets: int = 20,
) -> DataFrame:
    """Population Stability Index between two snapshots — the
    industry-standard drift score (rule of thumb: < 0.1 stable, > 0.25
    shifted) that :func:`histogram_drift`'s docstring once ruled out
    because PSI's logarithm is libm and not cross-engine bit-stable.
    The fixed-point quantization developed for the LM/DSIR/BM25 scoring
    unlocks it: the log of each bucket's probability ratio is quantized
    to 1e-4 units as a BIGINT, the per-bucket term to 1e-9, so the
    per-bucket contributions AND their sum replay bit-for-bit in DuckDB.

    Same fixed-width grid as histogram_drift (under/overflow buckets -1
    and n), both snapshots counted in ONE union pass; probabilities are
    add-one (Laplace) smoothed over the full bucket spine — all
    n_buckets+2 buckets, including ones both snapshots leave empty, so
    PSI is always finite and the spine is an explicit tiny literal, not
    data-dependent. Returns one row per bucket:
    ``(bucket, bucket_lo, n_a, n_b, psi_term)`` — large terms localize
    WHERE the distribution moved; their exact sum is the PSI. Rows
    without a valid measurement are excluded per the engine-wide
    contract (``functions/measurement.py``)."""
    width = (hi - lo) / n_buckets
    n_spine = n_buckets + 2
    counts = _drift_counts(df_a, df_b, col, lo, hi, n_buckets)
    spark = df_a.sparkSession
    spine = spark.range(-1, n_buckets + 1).select(F.col("id").cast("int").alias("bucket"))
    full = spine.join(counts, "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("n_a"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).cast("bigint").alias("n_b"),
    )
    tot = full.agg(
        F.sum("n_a").cast("bigint").alias("__ta"),
        F.sum("n_b").cast("bigint").alias("__tb"),
    )
    # smoothed probabilities p = (n+1)/(N+B); the ratio p/q reduces to a
    # ratio of integer products. Each FACTOR casts to double BEFORE the
    # multiply: a BIGINT product (n_a+1)*(total_b+B) wraps silently past
    # 2^63 under non-ANSI Spark (~3e9 rows per side — well under target
    # scale) while DuckDB would error. Counts < 2^53 cast exactly, and
    # double*double is one correctly-rounded IEEE op on both engines, so
    # the chain stays deterministic at any row count.
    ratio = (
        ((F.col("n_a") + 1).cast("double") * (F.col("__tb") + n_spine).cast("double"))
        / ((F.col("n_b") + 1).cast("double") * (F.col("__ta") + n_spine).cast("double"))
    )
    q_ln = F.round(F.log(ratio) * 10000).cast("bigint")
    p = (F.col("n_a") + 1).cast("double") / (F.col("__ta") + n_spine).cast("double")
    q = (F.col("n_b") + 1).cast("double") / (F.col("__tb") + n_spine).cast("double")
    term_nano = F.round((p - q) * q_ln.cast("double") * F.lit(100000.0)).cast("bigint")
    return (
        full.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("bucket_lo"),
            "n_a",
            "n_b",
            term_nano.alias("psi_term_nano"),
            (term_nano.cast("double") / F.lit(1000000000.0)).alias("psi_term"),
        )
    )
