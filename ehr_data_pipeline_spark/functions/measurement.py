"""The events-domain measurement contract, stated once for the whole
engine (the numeric twin of the round-6 ``NULL text == empty text``
contract in ``operators/text_analysis.py``).

**A valid measurement is a finite double with |v| < 10^12.** Everything
else — NULL, NaN, ±Inf, and finite values at or beyond 10^12 — is a
MISSING measurement:

- every value statistic (sums, averages, min/max, histogram/quantile
  sketches, drift monitors, deltas, rolling windows) sees the column
  through :func:`valid_measurement` and aggregates only the valid
  values;
- the quality suite (A2, ``data_quality_checker.py:34-45`` counts
  violations rather than hiding them) is where the invalid rows
  surface, as the ``Invalid Measurement`` violation class;
- counts of EVENTS (``n_events``) count every row; counts of
  MEASUREMENTS (``n_values``) count only valid ones.

Why 10^12: the engine's order-independent exact sums go through
``DECIMAL(18,6)`` (12 integer digits). Inside the domain the cast is
exact on both engines; outside it, Spark under ANSI and DuckDB both
abort the whole job on a single junk value — so the domain bound is
what makes one poisoned measurement in 100 TB degrade to a quality
finding instead of a dead pipeline. The bound also keeps every derived
integer (bucket ids, epoch µs products) inside BIGINT so no downstream
cast can overflow.

The DuckDB oracle twin of :func:`valid_measurement` is
:func:`measurement_sql`; the cross-engine equivalence is pinned by the
adversarial events corpus in ``tests/test_edge_corpus.py`` (NaN, ±Inf,
1e308, NULLs) on every events-family registry query.

There is a second, related contract for timestamps — **an event with a
NULL ts is off the timeline**: every operator that buckets or orders by
event time (hourly rollups, gapfill, sessionization, SCD2, lag/lead
deltas, retention cohorts, rolling windows) excludes it, mirroring the
built-in behavior of ``session_window``/watermarked streaming (Spark
drops NULL event-time rows there with no opt-out), and the quality
suite counts it (``Missing Timestamp``). Oracles mirror with
``WHERE ts IS NOT NULL``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: |v| must be strictly below this to be a valid measurement —
#: DECIMAL(18,6) holds 12 integer digits.
MEASUREMENT_MAX_ABS = 1e12


def valid_measurement(col: str | Column) -> Column:
    """NULL unless the value is a finite double with |v| < 10^12.

    The strict ``-inf < v < inf`` comparisons are false for NaN and both
    infinities, and the whole guard folds to a cheap branch-free
    expression that costs nothing for in-domain data (the overwhelmingly
    common case)."""
    c = F.col(col) if isinstance(col, str) else col
    ok = (
        (c > F.lit(float("-inf")))
        & (c < F.lit(float("inf")))
        & (F.abs(c) < F.lit(MEASUREMENT_MAX_ABS))
    )
    return F.when(ok, c)


def measurement_sql() -> str:
    """The DuckDB oracle twin of :func:`valid_measurement` on ``value`` —
    splice into oracle SQL wherever the Spark plan uses the guard."""
    return "CASE WHEN isfinite(value) AND abs(value) < 1e12 THEN value END"


def valid_vector(col: str | Column, dim: int) -> Column:
    """The embeddings contract, third member of the family: a valid
    embedding has EXACTLY ``dim`` components, every component finite with
    |x| < 10^12 (the measurement domain), and a nonzero norm (a zero
    vector has no direction — its cosine is 0/0). Anything else is an
    invalid row the similarity operators exclude at entry.

    Why this must be a contract and not a per-query fix: a wrong-length
    vector DIVERGES silently between engines — Spark's ``zip_with`` pads
    the short side with NULL and the whole dot-product fold goes NULL,
    while DuckDB's ``list_transform(range(1, dim+1), ...)`` yields NULL
    elements that ``list_sum`` SKIPS, producing a partial dot product.
    NaN/±Inf components poison sums on both engines but then hit
    engine-specific NaN comparison semantics in top-k ranks. Exclusion at
    entry, mirrored by :func:`vector_sql` in every embeddings-family
    oracle, is the only formulation that hashes identically. Pinned by
    the embeddings edge corpus in tests/test_edge_corpus.py.

    The guard is null-safe per component (a NULL component is invalid,
    not propagated), so the result is always a real boolean."""
    c = F.col(col) if isinstance(col, str) else col

    def comp_ok(x: Column) -> Column:
        xd = x.cast("double")
        return (
            x.isNotNull()
            & (xd > F.lit(float("-inf")))
            & (xd < F.lit(float("inf")))
            & (F.abs(xd) < F.lit(MEASUREMENT_MAX_ABS))
        )

    return (
        c.isNotNull()
        & (F.size(c) == F.lit(dim))
        & F.forall(c, comp_ok)
        & F.exists(c, lambda x: x.cast("double") != F.lit(0.0))
    )


def vector_sql() -> str:
    """DuckDB oracle twin of :func:`valid_vector` on a 64-component
    ``embedding``."""
    return (
        "(embedding IS NOT NULL AND len(embedding) = 64"
        " AND len(list_filter(embedding, x -> x IS NULL"
        " OR NOT isfinite(CAST(x AS DOUBLE))"
        " OR abs(CAST(x AS DOUBLE)) >= 1e12)) = 0"
        " AND len(list_filter(embedding, x -> CAST(x AS DOUBLE) <> 0)) > 0)"
    )


def is_invalid_measurement(col: str | Column) -> Column:
    """True for present-but-invalid measurements (NaN, ±Inf, |v| ≥ 10^12)
    — the predicate the quality suite counts. NULL values are MISSING,
    not invalid, and are counted by the missing-value profile instead."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & valid_measurement(c).isNull()
