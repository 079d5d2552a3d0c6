"""Cleaning composition — the reference's ``clean_*_df`` chains
(json_pipeline.py:534-698) built from the cleaning classes of
data_quality_checker.py, as lazy narrow transformations:

- P5  dropna on key subsets            (MissingValueHandler, :240-323)
- F12 boolean backfill                 (:250-258)
- F13 constant fill 0                  (:267)
- F9  conditional null-out of invalid date/phone formats
                                       (InvalidFormatCleaner, :173-187)
- F11 start/end swap when out of order (LogicalDateFixer, :197-211 —
      lexicographic comparison on ISO strings, valid for same-offset ISO)
- U2  dedup by resource_id             (DuplicateHandler, :340-352)
- F10 lat/lon range null-out           (InvalidLatitudeLongitudeCleaner, :219-230)

Everything here is a filter/projection — ZERO shuffles except the keep-first
dedup (one shuffle on resource_id). At 100 TB the whole cleaning pass fuses
into the extraction scan stage plus one exchange per deduped table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.functions.validation import (
    is_valid_date_or_datetime,
    is_valid_latitude,
    is_valid_longitude,
    is_valid_phone,
    null_out_invalid,
    out_of_order,
)
from ehr_data_pipeline_spark.operators.dedup import keep_first

# the InvalidFormatCleaner column list (data_quality_checker.py:178),
# dotted names already mapped to the extractors' `_` output names
DATE_COLUMNS = (
    "resource_onsetDateTime",
    "resource_abatementDateTime",
    "resource_period_start",
    "resource_period_end",
    "resource_effectiveDateTime",
    "resource_date",
    "resource_birthDate",
    "resource_deceasedDateTime",
)


def null_out_invalid_formats(df: DataFrame) -> DataFrame:
    """F9: every present date column keeps its value only when null or
    matching the date/datetime regexes; contact_number likewise with the
    phone patterns (data_quality_checker.py:173-187). One schema fetch
    and one projection, however many columns are present."""
    checks = {col: is_valid_date_or_datetime for col in DATE_COLUMNS}
    checks["contact_number"] = is_valid_phone
    present = set(df.columns)
    cols = {
        col: null_out_invalid(F.col(col), valid(F.col(col)))
        for col, valid in checks.items()
        if col in present
    }
    return df.withColumns(cols) if cols else df


def swap_out_of_order(df: DataFrame, start: str, end: str) -> DataFrame:
    """F11: swap start/end where both non-null and start > end
    (lexicographic on the ISO strings, exactly like the pandas mask at
    data_quality_checker.py:199-209)."""
    s, e = F.col(start), F.col(end)
    swap = out_of_order(start, end)
    return df.withColumns(
        {
            start: F.when(swap, e).otherwise(s),
            end: F.when(swap, s).otherwise(e),
        }
    )


def dedup_by_resource_id(df: DataFrame) -> DataFrame:
    """U2 with a deterministic keep-first: the reference keeps pandas input
    order (unspecified file-listing order); the engine orders within key by
    fullUrl so reruns agree across cluster layouts."""
    order: Sequence[Column] = (
        [F.col("fullUrl").asc_nulls_last()] if "fullUrl" in df.columns else [F.lit(1)]
    )
    return keep_first(df, keys=["resource_id"], order_by=order)


def clean_patient(df: DataFrame) -> DataFrame:
    """json_pipeline.py:534-559: dropna(resource_id) → F12 backfill → F13
    fill 0 → F9 formats → U2 dedup → F10 lat/lon."""
    df = df.na.drop(subset=["resource_id"])
    bool_c, int_c = F.col("resource_multipleBirthBoolean"), F.col("resource_multipleBirthInteger")
    df = df.withColumn(
        "resource_multipleBirthBoolean",
        F.when(int_c.isNotNull() & bool_c.isNull(), F.lit(True)).otherwise(bool_c),
    )
    df = df.na.fill({"resource_multipleBirthInteger": 0})
    df = null_out_invalid_formats(df)
    df = dedup_by_resource_id(df)
    lat, lon = F.col("latitude"), F.col("longitude")
    return df.withColumns(
        {
            "latitude": null_out_invalid(lat, is_valid_latitude(lat)),
            "longitude": null_out_invalid(lon, is_valid_longitude(lon)),
        }
    )


def clean_encounter(df: DataFrame) -> DataFrame:
    """json_pipeline.py:564-592: dropna(resource_id, patient.reference) →
    F9 → F11 period swap → U2 dedup."""
    df = df.na.drop(subset=["resource_id", "resource_patient_reference"])
    df = null_out_invalid_formats(df)
    df = swap_out_of_order(df, "resource_period_start", "resource_period_end")
    return dedup_by_resource_id(df)


def clean_careplan(df: DataFrame) -> DataFrame:
    """json_pipeline.py:595-612: F9 → F11 period swap (no dropna/dedup —
    careplan has no resource_id in its output shape)."""
    df = null_out_invalid_formats(df)
    return swap_out_of_order(df, "resource_period_start", "resource_period_end")


def clean_condition(df: DataFrame) -> DataFrame:
    """json_pipeline.py:616-644: dropna(resource_id, patient_id) → F9 →
    F11 onset/abatement swap → U2 dedup."""
    df = df.na.drop(subset=["resource_id", "patient_id"])
    df = null_out_invalid_formats(df)
    df = swap_out_of_order(df, "resource_onsetDateTime", "resource_abatementDateTime")
    return dedup_by_resource_id(df)


def clean_observation(df: DataFrame) -> DataFrame:
    """json_pipeline.py:647-667: dropna(resource_id, patient_id) → F9 →
    U2 dedup."""
    df = df.na.drop(subset=["resource_id", "patient_id"])
    df = null_out_invalid_formats(df)
    return dedup_by_resource_id(df)


def clean_immunization(df: DataFrame) -> DataFrame:
    """json_pipeline.py:670-687: dropna(encounter.reference,
    patient.reference) → F9 (no dedup)."""
    df = df.na.drop(
        subset=["resource_encounter_reference", "resource_patient_reference"]
    )
    return null_out_invalid_formats(df)


CLEANERS = {
    "Patient": clean_patient,
    "CarePlan": clean_careplan,
    "Condition": clean_condition,
    "Encounter": clean_encounter,
    "Immunization": clean_immunization,
    "Observation": clean_observation,
}


def clean_all(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The reference's cleaning fan-out (json_pipeline.py:693-698)."""
    return {rt: CLEANERS[rt](df) for rt, df in tables.items() if rt in CLEANERS}
