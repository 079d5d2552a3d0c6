"""Nested array/struct access helpers — the engine's idiom for the
reference's ``list[0].get(field, None)`` chains (SURVEY §2.4, N1-N11).

All helpers are null-safe at every level (``try_element_at`` never raises
under ANSI mode; struct access on null yields null) because the reference
tolerates any missing level (json_pipeline.py:165-184 backfills, per-row
``isinstance`` guards everywhere).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def first(arr: Column) -> Column:
    """arr[0], null if the array is null/empty (never raises)."""
    return F.try_element_at(arr, F.lit(1))


def first_match(arr: Column, pred: Callable[[Column], Column]) -> Column:
    """First element satisfying pred, else null."""
    return F.try_element_at(F.filter(arr, pred), F.lit(1))


def last_match(arr: Column, pred: Callable[[Column], Column]) -> Column:
    """LAST element satisfying pred, else null.

    Matters for extension lookups: the reference's url-match loop
    (json_pipeline.py:258-268) overwrites on every match, so when an url
    appears twice the LAST occurrence wins — first_match would differ."""
    return F.try_element_at(F.filter(arr, pred), F.lit(-1))


def first_coding(codeable: Column) -> Column:
    """coding[0] of a CodeableConcept struct — the universal FHIR idiom
    (json_pipeline.py:351,379,407,438: ``coding_list[0]``)."""
    return first(codeable.getField("coding"))


def ext_by_url(ext_arr: Column, url: str) -> Column:
    """Extension element matched by url (json_pipeline.py:260-268 —
    last match wins, see :func:`last_match`)."""
    return last_match(ext_arr, lambda e: e.getField("url") == F.lit(url))


def join_nonempty(arr: Column) -> Column:
    """', '.join(non-null, truthy elements), null when nothing survives —
    the CarePlan activity join (N11, json_pipeline.py:461-466 keeps only
    truthy displays and yields None for an empty list)."""
    kept = F.filter(arr, lambda x: x.isNotNull() & (x != F.lit("")))
    return F.when(F.size(kept) > 0, F.array_join(kept, ", "))
