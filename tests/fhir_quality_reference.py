"""Reference twin of the FHIR quality report: the per-table suites the
report was built from before it became one plan. Each table is one
aggregate pass (``operators.quality.quality_report``) plus one
``groupBy`` per duplicate check (``duplicate_check_row``), and the
tables are unioned. It shares the check predicates of
``fhir.quality.CHECK_SUITES``, so a test comparing the two pins the plan
shape, not the predicates.

One known difference: on an empty table this twin returns NULL
``n_violations`` for the row-wise checks (SQL's SUM over no rows); the
report returns 0.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame

from ehr_data_pipeline_spark.fhir.quality import (
    CHECK_SUITES,
    Suite,
    duplicate_check_row,
)
from ehr_data_pipeline_spark.operators.quality import quality_report


def _suite(df: DataFrame, suite: Suite) -> DataFrame:
    report = quality_report(df, suite.checks(), table_name=suite.table_name)
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
