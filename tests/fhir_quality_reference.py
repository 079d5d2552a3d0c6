"""Reference twin of the FHIR quality report: the per-table suites the
report was built from before it became one plan. Each table is one
aggregate pass (``table_quality_report``) plus one ``groupBy`` per
duplicate check (``duplicate_check_row``), and the tables are unioned.
It shares the check predicates of ``fhir.quality.CHECK_SUITES``, so a
test comparing the two pins the plan shape, not the predicates.

One known difference: on an empty table this twin returns NULL
``n_violations`` for the row-wise checks (SQL's SUM over no rows); the
report returns 0.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.fhir.quality import CHECK_SUITES
from ehr_data_pipeline_spark.operators.quality import Suite


def table_quality_report(
    df: DataFrame, checks: dict[str, Column], table_name: str
) -> DataFrame:
    """One table's named violation predicates in one aggregate pass:
    (table_name, error_type, n_violations, pct)."""
    names = list(checks)
    wide = df.agg(
        F.count(F.lit(1)).alias("__total"),
        *[
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(f"__c{i}")
            for i, cond in enumerate(checks.values())
        ],
    )
    stack_args = ", ".join(f"'{name}', `__c{i}`" for i, name in enumerate(names))
    return wide.select(
        F.col("__total"),
        F.expr(f"stack({len(names)}, {stack_args}) AS (error_type, n_violations)"),
    ).select(
        F.lit(table_name).alias("table_name"),
        "error_type",
        "n_violations",
        F.when(
            F.col("__total") > 0,
            F.lit(100.0) * F.col("n_violations") / F.col("__total"),
        ).otherwise(F.lit(0.0)).alias("pct"),
    )


def duplicate_check_row(
    df: DataFrame, keys: Sequence[str], error_type: str, table_name: str
) -> DataFrame:
    """A4 keep=False duplicate counting as one report row: every member of
    a duplicate group counts (data_quality_checker.py:97-102)."""
    dup_rows = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n"))
    )
    total = df.agg(F.count(F.lit(1)).alias("t"))
    return dup_rows.crossJoin(total).select(
        F.lit(table_name).alias("table_name"),
        F.lit(error_type).alias("error_type"),
        F.col("n").alias("n_violations"),
        F.when(F.col("t") > 0, F.lit(100.0) * F.col("n") / F.col("t"))
        .otherwise(F.lit(0.0))
        .alias("pct"),
    )


def _suite(df: DataFrame, suite: Suite) -> DataFrame:
    report = table_quality_report(df, suite.checks(), suite.table_name)
    for keys, label in suite.duplicates:
        report = report.unionByName(
            duplicate_check_row(df, list(keys), label, suite.table_name)
        )
    return report


def reference_quality_report(tables: dict[str, DataFrame]) -> DataFrame:
    return reduce(
        DataFrame.unionByName,
        [_suite(df, CHECK_SUITES[rt]) for rt, df in tables.items() if rt in CHECK_SUITES],
    )
