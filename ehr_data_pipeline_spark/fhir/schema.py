"""Explicit read schema for FHIR Bundle JSON files.

The reference infers schema dynamically per file (pd.json_normalize creates
whatever columns appear; absent ones are back-filled with None at
json_pipeline.py:165-184). At 100 TB schema inference is an extra full pass
and non-deterministic across file subsets, so the engine declares every
field the reference consumes (FIXTURES.md §1 catalogs them with file:line
citations) as an all-nullable StructType. Fields absent from a file read as
null — reproducing the reference's "column exists only if seen" tolerance —
and nested-schema pruning drops unread struct fields at the scan.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)


def _s(*fields: StructField) -> StructType:
    return StructType(list(fields))


def _f(name: str, dtype) -> StructField:
    return StructField(name, dtype, nullable=True)


# struct<coding: array<struct<code, display>>> — the universal FHIR pattern
CODING = ArrayType(_s(_f("code", StringType()), _f("display", StringType())))
REFERENCE = _s(_f("reference", StringType()))

# address[0].extension[0].extension[*]{url, valueDecimal} geo wrapper
# (json_pipeline.py:192-195)
GEO_EXTENSION = ArrayType(
    _s(
        _f(
            "extension",
            ArrayType(_s(_f("url", StringType()), _f("valueDecimal", DoubleType()))),
        )
    )
)

ADDRESS = ArrayType(
    _s(
        _f("line", ArrayType(StringType())),
        _f("city", StringType()),
        _f("state", StringType()),
        _f("postalCode", StringType()),
        _f("extension", GEO_EXTENSION),
    )
)

# patient-level extension[*] matched by url (json_pipeline.py:252-268):
# us-core-race | us-core-ethnicity | placeOfBirth
PATIENT_EXTENSION = ArrayType(
    _s(
        _f("url", StringType()),
        _f("valueCodeableConcept", _s(_f("coding", CODING))),
        _f("valueAddress", _s(_f("city", StringType()), _f("state", StringType()))),
    )
)

NAME = ArrayType(
    _s(_f("given", ArrayType(StringType())), _f("family", StringType()))
)

TELECOM = ArrayType(_s(_f("system", StringType()), _f("value", StringType())))

PERIOD = _s(_f("start", StringType()), _f("end", StringType()))

# CarePlan activity[*].detail.code.coding[0] (json_pipeline.py:451-466)
ACTIVITY = ArrayType(_s(_f("detail", _s(_f("code", _s(_f("coding", CODING)))))))

RESOURCE = _s(
    _f("resourceType", StringType()),
    _f("id", StringType()),
    _f("status", StringType()),
    # Patient (json_pipeline.py:162-293)
    _f("gender", StringType()),
    _f("birthDate", StringType()),
    _f("deceasedDateTime", StringType()),
    _f("multipleBirthBoolean", BooleanType()),
    _f("multipleBirthInteger", IntegerType()),
    _f("maritalStatus", _s(_f("coding", CODING))),
    _f("name", NAME),
    _f("telecom", TELECOM),
    _f("address", ADDRESS),
    _f("extension", PATIENT_EXTENSION),
    # consumed only to be dropped (P2/P3, json_pipeline.py:164,481-506)
    _f("photo", ArrayType(_s(_f("contentType", StringType()), _f("data", StringType())))),
    _f("text", _s(_f("status", StringType()), _f("div", StringType()))),
    _f("identifier", ArrayType(_s(_f("system", StringType()), _f("value", StringType())))),
    # references (json_pipeline.py:73-78,122-153)
    _f("subject", REFERENCE),
    _f("context", REFERENCE),
    _f("patient", REFERENCE),
    _f("encounter", REFERENCE),
    # Encounter (json_pipeline.py:300-336)
    _f("class", _s(_f("code", StringType()))),
    _f("type", ArrayType(_s(_f("coding", CODING), _f("text", StringType())))),
    _f("reason", _s(_f("coding", CODING))),
    _f("period", PERIOD),
    # Condition (json_pipeline.py:344-364)
    _f("code", _s(_f("coding", CODING))),
    _f("clinicalStatus", StringType()),
    _f("verificationStatus", StringType()),
    _f("onsetDateTime", StringType()),
    _f("abatementDateTime", StringType()),
    # Observation (json_pipeline.py:372-392)
    _f("effectiveDateTime", StringType()),
    _f(
        "valueQuantity",
        _s(
            _f("value", DoubleType()),
            _f("unit", StringType()),
            _f("system", StringType()),
            _f("code", StringType()),
        ),
    ),
    _f("component", ArrayType(_s(_f("code", _s(_f("coding", CODING)))))),
    _f("valueCodeableConcept", _s(_f("coding", CODING))),
    # Immunization (json_pipeline.py:400-420)
    _f("vaccineCode", _s(_f("coding", CODING))),
    _f("date", StringType()),
    _f("wasNotGiven", BooleanType()),
    _f("primarySource", BooleanType()),
    # CarePlan (json_pipeline.py:427-474)
    _f("category", ArrayType(_s(_f("coding", CODING)))),
    _f("activity", ACTIVITY),
    _f("addresses", ArrayType(REFERENCE)),
)

ENTRY = _s(_f("fullUrl", StringType()), _f("resource", RESOURCE))

BUNDLE_SCHEMA = _s(
    _f("resourceType", StringType()),
    _f("entry", ArrayType(ENTRY)),
)

RESOURCE_TYPES = (
    "Patient",
    "CarePlan",
    "Condition",
    "Encounter",
    "Immunization",
    "Observation",
)
