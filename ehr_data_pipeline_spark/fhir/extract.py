"""Per-entity nested-field extractors (N1-N11, F1-F4, P2-P4) as pure
column expressions — zero Python UDFs, so extraction stays inside
whole-stage codegen and nested-schema pruning limits the scan to the
fields actually extracted.

Each ``extract_*`` takes the routed entity frame from
:mod:`ehr_data_pipeline_spark.fhir.ingest` (columns: fullUrl,
resource struct, patient_id) and returns the reference's output table
shape — the DDL columns of json_pipeline.py:743-850 with ``.`` → ``_``
names (the rename the reference defers to load time, :869).

Null-safety contract (the reference's biggest correctness trap, SURVEY §7):
the pandas code tolerates ANY missing level via ``isinstance`` guards and
``.get(..., None)`` chains (json_pipeline.py:186-291). Here every array
access goes through ``try_element_at`` (null, never raise, under ANSI
mode) and struct access on null yields null — fixture tests exercise a
missing/empty value at every level.

Where the reference would *crash* on degenerate input (e.g. an empty
``coding`` list raises IndexError on ``coding_list[0]`` at
json_pipeline.py:351), the engine yields null instead — strictly more
tolerant, documented per column below.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.fhir.ingest import strip_urn_uuid
from ehr_data_pipeline_spark.functions.arrays import (
    ext_by_url,
    first,
    first_coding,
    first_match,
    join_nonempty,
)

RACE_URL = "http://hl7.org/fhir/StructureDefinition/us-core-race"
ETHNICITY_URL = "http://hl7.org/fhir/StructureDefinition/us-core-ethnicity"
BIRTHPLACE_URL = "http://standardhealthrecord.org/fhir/extensions/placeOfBirth"


def _r(field: str) -> Column:
    return F.col(f"resource.{field}")


def _empty_to_null_pair(c: Column) -> Column:
    """f-string guards like ``if first_name and last_name`` treat '' as
    falsy — mirrored by the callers below."""
    return c.isNotNull() & (c != F.lit(""))


def extract_patient(patient: DataFrame) -> DataFrame:
    """Patient refinement (json_pipeline.py:162-293 → DDL :743-767).

    - P2: photo columns are dropped by never selecting them (the
      pipeline prunes photo before its parse cache:
      ``ingest.UNCONSUMED_RESOURCE_FIELDS``).
    - P4: add-missing-column is subsumed by the explicit read schema —
      absent fields read as null.
    - N1 geo (json_pipeline.py:186-207): lat/lon/full_address are computed
      ONLY when address[0].extension exists (the reference's
      ``isinstance(address, list) and 'extension' in address[0]`` guard) —
      full_address is null for a patient with an address but no geo
      extension, faithfully.
    - N2 telecom (:213-222), N3 name (:224-243), N4 extensions (:245-279,
      last url-match wins), N5 maritalStatus (:281-291).
    - F2 address concat keeps the reference's ``.get(..., '')`` semantics:
      missing parts become empty strings, not skipped slots.
    - F3 full name is null unless BOTH parts are non-null and non-empty.
    """
    addr0 = first(_r("address"))
    has_geo = addr0.getField("extension").isNotNull()
    geo = first(addr0.getField("extension")).getField("extension")
    lat = first_match(geo, lambda e: e.getField("url") == F.lit("latitude"))
    lon = first_match(geo, lambda e: e.getField("url") == F.lit("longitude"))

    # F2: ', '.join(line) + ', ' + city + ', ' + state + ', ' + postalCode
    # with '' for missing parts (json_pipeline.py:198-200)
    full_address = F.concat(
        F.array_join(F.coalesce(addr0.getField("line"), F.array()), ", "),
        F.lit(", "),
        F.coalesce(addr0.getField("city"), F.lit("")),
        F.lit(", "),
        F.coalesce(addr0.getField("state"), F.lit("")),
        F.lit(", "),
        F.coalesce(addr0.getField("postalCode"), F.lit("")),
    )

    phone = first_match(
        _r("telecom"), lambda t: t.getField("system") == F.lit("phone")
    ).getField("value")

    name0 = first(_r("name"))
    first_name = first(name0.getField("given"))
    last_name = name0.getField("family")
    full_name = F.when(
        _empty_to_null_pair(first_name) & _empty_to_null_pair(last_name),
        F.concat_ws(" ", first_name, last_name),
    )

    race_ext = ext_by_url(_r("extension"), RACE_URL)
    race_coding0 = first(race_ext.getField("valueCodeableConcept").getField("coding"))
    eth_ext = ext_by_url(_r("extension"), ETHNICITY_URL)
    eth_coding0 = first(eth_ext.getField("valueCodeableConcept").getField("coding"))
    bp_ext = ext_by_url(_r("extension"), BIRTHPLACE_URL)
    # F4: f"{city}, {state}" with '' defaults — produced whenever the url
    # matched, even if both parts are missing (json_pipeline.py:266-268)
    birthplace = F.when(
        bp_ext.isNotNull(),
        F.concat(
            F.coalesce(bp_ext.getField("valueAddress").getField("city"), F.lit("")),
            F.lit(", "),
            F.coalesce(bp_ext.getField("valueAddress").getField("state"), F.lit("")),
        ),
    )

    return patient.select(
        strip_urn_uuid(F.col("fullUrl")).alias("fullUrl"),
        _r("id").alias("resource_id"),
        _r("gender").alias("resource_gender"),
        _r("birthDate").alias("resource_birthDate"),
        _r("multipleBirthBoolean").alias("resource_multipleBirthBoolean"),
        F.col("patient_id"),
        _r("deceasedDateTime").alias("resource_deceasedDateTime"),
        _r("multipleBirthInteger").alias("resource_multipleBirthInteger"),
        F.when(has_geo, lat.getField("valueDecimal")).alias("latitude"),
        F.when(has_geo, lon.getField("valueDecimal")).alias("longitude"),
        F.when(has_geo, full_address).alias("full_address"),
        phone.alias("contact_number"),
        first_name.alias("first_name"),
        last_name.alias("last_name"),
        full_name.alias("full_name"),
        race_coding0.getField("display").alias("race"),
        race_coding0.getField("code").alias("race_code"),
        eth_coding0.getField("display").alias("ethnicity"),
        eth_coding0.getField("code").alias("ethnicity_code"),
        birthplace.alias("birthplace"),
        first(_r("maritalStatus").getField("coding")).getField("code").alias("maritalStatus"),
    )


def extract_encounter(encounter: DataFrame) -> DataFrame:
    """Encounter refinement (N6, json_pipeline.py:300-336 → DDL :803-818).

    type_code and text share ONE guard in the reference (``'coding' in
    row['resource.type'][0]``): when type[0] has no coding, text is also
    nulled even if present (json_pipeline.py:310-315) — mirrored here.
    """
    type0 = first(_r("type"))
    has_type_coding = type0.getField("coding").isNotNull()
    reason0 = first_coding(_r("reason"))

    return encounter.select(
        strip_urn_uuid(F.col("fullUrl")).alias("fullUrl"),
        _r("id").alias("resource_id"),
        _r("status").alias("resource_status"),
        _r("class.code").alias("resource_class_code"),
        strip_urn_uuid(_r("patient.reference")).alias("resource_patient_reference"),
        _r("period.start").alias("resource_period_start"),
        _r("period.end").alias("resource_period_end"),
        F.col("patient_id"),
        F.when(has_type_coding, first(type0.getField("coding")).getField("code")).alias(
            "encounter_type_code"
        ),
        F.when(has_type_coding, type0.getField("text")).alias("encounter_text"),
        reason0.getField("code").alias("reason_code"),
        reason0.getField("display").alias("reason_display"),
    )


def extract_condition(condition: DataFrame) -> DataFrame:
    """Condition refinement (N7, json_pipeline.py:344-364 → DDL :786-800).
    fullUrl keeps its urn:uuid: prefix — clean_and_rename strips it only
    for patient/observation/encounter (json_pipeline.py:128-131)."""
    coding0 = first_coding(_r("code"))
    return condition.select(
        F.col("fullUrl"),
        _r("id").alias("resource_id"),
        _r("clinicalStatus").alias("resource_clinicalStatus"),
        _r("verificationStatus").alias("resource_verificationStatus"),
        strip_urn_uuid(_r("subject.reference")).alias("resource_subject_reference"),
        strip_urn_uuid(_r("context.reference")).alias("resource_context_reference"),
        _r("onsetDateTime").alias("resource_onsetDateTime"),
        F.col("patient_id"),
        _r("abatementDateTime").alias("resource_abatementDateTime"),
        coding0.getField("display").alias("condition_display"),
        coding0.getField("code").alias("condition_code"),
    )


def extract_observation(observation: DataFrame) -> DataFrame:
    """Observation refinement (N8, json_pipeline.py:372-392 → DDL :836-850)."""
    coding0 = first_coding(_r("code"))
    return observation.select(
        strip_urn_uuid(F.col("fullUrl")).alias("fullUrl"),
        _r("id").alias("resource_id"),
        _r("status").alias("resource_status"),
        strip_urn_uuid(_r("subject.reference")).alias("resource_subject_reference"),
        strip_urn_uuid(_r("encounter.reference")).alias("resource_encounter_reference"),
        _r("effectiveDateTime").alias("resource_effectiveDateTime"),
        _r("valueQuantity.value").alias("resource_valueQuantity_value"),
        _r("valueQuantity.unit").alias("resource_valueQuantity_unit"),
        F.col("patient_id"),
        coding0.getField("display").alias("observation_type"),
        coding0.getField("code").alias("observation_code"),
    )


def extract_immunization(immunization: DataFrame) -> DataFrame:
    """Immunization refinement (N9, json_pipeline.py:400-420 → DDL :821-833)."""
    coding0 = first_coding(_r("vaccineCode"))
    return immunization.select(
        _r("status").alias("resource_status"),
        _r("date").alias("resource_date"),
        strip_urn_uuid(_r("patient.reference")).alias("resource_patient_reference"),
        _r("wasNotGiven").alias("resource_wasNotGiven"),
        _r("primarySource").alias("resource_primarySource"),
        strip_urn_uuid(_r("encounter.reference")).alias("resource_encounter_reference"),
        F.col("patient_id"),
        coding0.getField("display").alias("vaccine_type"),
        coding0.getField("code").alias("vaccine_code"),
    )


def extract_careplan(careplan: DataFrame) -> DataFrame:
    """CarePlan refinement (N10/N11, json_pipeline.py:427-474 → DDL :770-783).

    - name/code: category[0].coding[0], gated on category[0] HAVING a
      coding field (json_pipeline.py:438) — same shared-guard pattern as
      encounter type.
    - N11 activity flatten: per activity, detail.code.coding[0] display and
      code, each kept only when truthy (``if activity_display:`` skips ''
      too), then ', '-joined; null when nothing survives
      (json_pipeline.py:451-466). displays and codes filter independently.
      This is an in-row array aggregation (transform → filter → array_join),
      NOT a group-by — no shuffle.
    """
    cat0 = first(_r("category"))
    has_cat_coding = cat0.getField("coding").isNotNull()
    cat_coding0 = first(cat0.getField("coding"))

    act_detail0 = lambda a: first(  # noqa: E731
        a.getField("detail").getField("code").getField("coding")
    )
    displays = F.transform(_r("activity"), lambda a: act_detail0(a).getField("display"))
    codes = F.transform(_r("activity"), lambda a: act_detail0(a).getField("code"))

    return careplan.select(
        _r("status").alias("resource_status"),
        strip_urn_uuid(_r("subject.reference")).alias("resource_subject_reference"),
        strip_urn_uuid(_r("context.reference")).alias("resource_context_reference"),
        _r("period.start").alias("resource_period_start"),
        F.col("patient_id"),
        _r("period.end").alias("resource_period_end"),
        F.when(has_cat_coding, cat_coding0.getField("display")).alias("careplan_name"),
        F.when(has_cat_coding, cat_coding0.getField("code")).alias("careplan_code"),
        join_nonempty(displays).alias("careplan_activity"),
        join_nonempty(codes).alias("careplan_activity_code"),
    )


EXTRACTORS = {
    "Patient": extract_patient,
    "CarePlan": extract_careplan,
    "Condition": extract_condition,
    "Encounter": extract_encounter,
    "Immunization": extract_immunization,
    "Observation": extract_observation,
}


def extract_all(routed: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Apply every entity extractor to its routed frame — the reference's
    extract fan-out (json_pipeline.py:297,340,368,396,424,478)."""
    return {rt: EXTRACTORS[rt](df) for rt, df in routed.items() if rt in EXTRACTORS}
