"""Validation predicates — engine twins of the reference's validators
(data_quality_checker.py:48-80), as native Column expressions.

Each ``is_valid_*`` returns a boolean Column that is true for VALID values;
callers decide null handling (the reference skips nulls everywhere:
``pd.isna(value) or validator(value)``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# data_quality_checker.py:50 — ISO-8601 datetime with offset
DATETIME_RE = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}[-+]\d{2}:\d{2}$"
# data_quality_checker.py:54 — plain date
DATE_RE = r"^\d{4}-\d{2}-\d{2}$"
# data_quality_checker.py:67-72 — four US phone formats, optional extension.
# re.match anchors at the start only; the $ anchors are in the patterns.
PHONE_RES = (
    r"^\(\d{3}\)\s?\d{3}-\d{4}( x\d+)?$",
    r"^\d{3}-\d{3}-\d{4}( x\d+)?$",
    r"^\d{3}\.\d{3}\.\d{4}( x\d+)?$",
    r"^1-\d{3}-\d{3}-\d{4}( x\d+)?$",
)
PHONE_RE = "|".join(f"(?:{p})" for p in PHONE_RES)


def is_valid_datetime(col: Column) -> Column:
    return col.rlike(DATETIME_RE)


def is_valid_date(col: Column) -> Column:
    return col.rlike(DATE_RE)


def is_valid_date_or_datetime(col: Column) -> Column:
    """The format-cleaner accepts either (data_quality_checker.py:179)."""
    return col.rlike(DATETIME_RE) | col.rlike(DATE_RE)


def is_valid_phone(col: Column) -> Column:
    return col.rlike(PHONE_RE)


def is_valid_latitude(col: Column) -> Column:
    return col.between(-90, 90)


def is_valid_longitude(col: Column) -> Column:
    return col.between(-180, 180)


def null_out_invalid(col: Column, valid: Column) -> Column:
    """Conditional null-out (F9/F10, data_quality_checker.py:173-187,
    219-230): keep the value only when null or valid."""
    return F.when(col.isNull() | valid, col)


def out_of_order(start: str, end: str) -> Column:
    """A3/F11: both non-null AND start > end (lexicographic on the ISO
    strings, data_quality_checker.py:83-94,199-209) — the quality check
    counts these rows, the cleaner swaps them."""
    s, e = F.col(start), F.col(end)
    return s.isNotNull() & e.isNotNull() & (s > e)
