"""Per-table quality-check suites (A2/A3/A4/A5) — the engine form of the
reference's ``DataQualityChecker.run_quality_checks``
(data_quality_checker.py:105-163), preserving its table names, error-type
labels, and report shape ``(table_name, error_type, n_violations, pct)``.

Each suite's checks are the reference's, keyed by resourceType in
:data:`CHECK_SUITES`; :func:`fhir_quality_report` runs all six tables
through :func:`~ehr_data_pipeline_spark.operators.quality.quality_report`
as one plan with two shuffles (its docstring has the execution shape).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.functions.validation import (
    is_valid_date,
    is_valid_datetime,
    is_valid_latitude,
    is_valid_longitude,
    is_valid_phone,
    out_of_order,
)
from ehr_data_pipeline_spark.operators.quality import Suite, quality_report


def invalid(col: str, valid: Column) -> Column:
    """A2 semantics: non-null AND failing the validator
    (data_quality_checker.py:34-45 skips nulls)."""
    return F.col(col).isNotNull() & ~valid


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


def fhir_quality_report(tables: dict[str, DataFrame]) -> DataFrame:
    """Full-suite report across the six tables (run_quality_checks parity,
    used for the reference's initial and final quality checks at
    json_pipeline.py:516-529 and :702-722), as one plan. Tables without
    a suite are skipped; rows come in table order."""
    return quality_report(
        [(df, CHECK_SUITES[rt]) for rt, df in tables.items() if rt in CHECK_SUITES]
    )
