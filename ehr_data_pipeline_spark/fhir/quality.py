"""Per-table quality-check suites (A2/A3/A4/A5) — the engine form of the
reference's ``DataQualityChecker.run_quality_checks``
(data_quality_checker.py:105-163), preserving its table names, error-type
labels, and report shape ``(table_name, error_type, n_violations, pct)``.

Execution shape: the six-table report is ONE plan with two shuffles.

- Every input row becomes one row per check of its table, through
  ``inline(array(struct(...)))``. A row-wise (format or logical-date)
  check carries its violation flag; a keep=False duplicate check carries
  the row's key (up to two columns, ``k0``/``k1``).
- The six tables union into one ``groupBy(table_name, error_type, dup,
  k0, k1)``. Row-wise checks have NULL keys, so the map-side combine
  folds them to one row per check per partition; duplicate checks get
  one group per key, NULL keys grouping together as in pandas.
- A second ``groupBy(table_name, error_type)`` folds those groups into
  the report: a row-wise check sums its flags, a duplicate check sums
  the groups with more than one member, and both sum the group sizes
  for the table's row count.
- A literal spine of every (table_name, error_type) is unioned into the
  second aggregate, so an empty table still reports each of its checks,
  with 0 violations and pct 0.0.

The reference instead loops Python per check per row. At 100 TB this
report is 6 scans and 2 shuffles: the first carries the duplicate keys,
the second at most one row per check per partition.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.functions.validation import (
    is_valid_date,
    is_valid_datetime,
    is_valid_latitude,
    is_valid_longitude,
    is_valid_phone,
)


def invalid(col: str, valid: Column) -> Column:
    """A2 semantics: non-null AND failing the validator
    (data_quality_checker.py:34-45 skips nulls)."""
    return F.col(col).isNotNull() & ~valid


def out_of_order(start: str, end: str) -> Column:
    """A3 semantics: both non-null AND start > end (lexicographic,
    data_quality_checker.py:83-94)."""
    s, e = F.col(start), F.col(end)
    return s.isNotNull() & e.isNotNull() & (s > e)


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


class Suite(NamedTuple):
    """One table's checks: its report name, the row-wise violation
    predicates by error type, and the keep=False duplicate checks as
    (key columns, error type)."""

    table_name: str
    checks: Callable[[], dict[str, Column]]
    duplicates: tuple[tuple[tuple[str, ...], str], ...] = ()


def _bad(col: str, validator: Callable[[Column], Column]) -> Column:
    return invalid(col, validator(F.col(col)))


# resourceType -> suite. The checks are thunks: a Column needs an
# active session, and this table is built at import.
CHECK_SUITES: dict[str, Suite] = {
    # data_quality_checker.py:136-145
    "Patient": Suite(
        "patient_df",
        lambda: {
            "BirthDate Errors": _bad("resource_birthDate", is_valid_date),
            "DeceasedDateTime Errors": _bad(
                "resource_deceasedDateTime", is_valid_datetime
            ),
            "Contact Number Errors": _bad("contact_number", is_valid_phone),
            "Latitude Errors": _bad("latitude", is_valid_latitude),
            "Longitude Errors": _bad("longitude", is_valid_longitude),
            "Birthdate vs DeceasedDateTime Logical Compliance": out_of_order(
                "resource_birthDate", "resource_deceasedDateTime"
            ),
        },
        ((("resource_id",), "Duplicate Resource.ID"),),
    ),
    # data_quality_checker.py:128-133 — careplan periods validate as
    # plain DATEs, not datetimes
    "CarePlan": Suite(
        "careplan_df",
        lambda: {
            "Invalid Period Start Format": _bad("resource_period_start", is_valid_date),
            "Invalid Period End Format": _bad("resource_period_end", is_valid_date),
            "Logical Date Compliance": out_of_order(
                "resource_period_start", "resource_period_end"
            ),
        },
    ),
    # data_quality_checker.py:111-117
    "Condition": Suite(
        "condition_df",
        lambda: {
            "Invalid OnsetDateTime Format": _bad(
                "resource_onsetDateTime", is_valid_datetime
            ),
            "Invalid AbatementDateTime Format": _bad(
                "resource_abatementDateTime", is_valid_datetime
            ),
            "Logical Date Compliance": out_of_order(
                "resource_onsetDateTime", "resource_abatementDateTime"
            ),
        },
        ((("fullUrl", "resource_id"), "Duplicate Check"),),
    ),
    # data_quality_checker.py:120-125
    "Encounter": Suite(
        "encounter_df",
        lambda: {
            "Invalid Period Start Format": _bad(
                "resource_period_start", is_valid_datetime
            ),
            "Invalid Period End Format": _bad("resource_period_end", is_valid_datetime),
        },
        ((("resource_id",), "Duplicate Resource.ID"),),
    ),
    # data_quality_checker.py:155-158
    "Immunization": Suite(
        "immunization_df",
        lambda: {"Invalid Resource.Date Format": _bad("resource_date", is_valid_datetime)},
    ),
    # data_quality_checker.py:148-152
    "Observation": Suite(
        "observation_df",
        lambda: {
            "Invalid EffectiveDateTime Format": _bad(
                "resource_effectiveDateTime", is_valid_datetime
            ),
        },
        ((("resource_id",), "Duplicate Resource.ID"),),
    ),
}


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


def fhir_quality_report(tables: dict[str, DataFrame]) -> DataFrame:
    """Full-suite report across the six tables (run_quality_checks parity,
    used for the reference's initial and final quality checks at
    json_pipeline.py:516-529 and :702-722), as one plan: see the module
    docstring. Rows come in table order, each table's row-wise checks
    before its duplicate check."""
    branches: list[DataFrame] = []
    labels: list[tuple[str, str]] = []
    for rt, df in tables.items():
        if rt not in CHECK_SUITES:
            continue
        suite = CHECK_SUITES[rt]
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
