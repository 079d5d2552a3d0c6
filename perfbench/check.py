"""Output checks. Each returns a list of error strings; empty means the
op's output is correct. Pure Python, so the checks themselves can be
tested against planted wrong results.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter


def check_fhir(row_counts: dict[str, int], report: list[tuple], expected: dict) -> list[str]:
    """``row_counts``: the pipeline's post-clean rows per entity.
    ``report``: quality-report rows ``(table_name, error_type, n_violations, pct)``."""
    errs = []
    for rt, want in expected["row_counts"].items():
        got = row_counts.get(rt)
        if got != want:
            errs.append(f"{rt}: {got} rows, expected {want}")
    if len(report) != expected["quality_rows"]:
        errs.append(f"quality report: {len(report)} rows, expected {expected['quality_rows']}")
    got_dups = {(r[0], r[1]): r[2] for r in report}
    for check, want in expected["dup_violations"].items():
        if got_dups.get(check) != want:
            errs.append(f"quality {check}: {got_dups.get(check)} violations, expected {want}")
    return errs


def _canon_value(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    return v


def canon(rows) -> list[tuple]:
    """Rows as sorted tuples, floats rounded to 9 places."""
    return sorted(tuple(_canon_value(v) for v in r) for r in rows)


def result_hash(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def compare_rows(got: list[tuple], want: list[tuple], limit: int = 3) -> list[str]:
    """Multiset difference of two canonical row lists, sampled."""
    if got == want:
        return []
    g, w = Counter(got), Counter(want)
    missing, extra = list((w - g).elements()), list((g - w).elements())
    return [f"{len(got)} rows vs {len(want)} expected; missing {missing[:limit]}, unexpected {extra[:limit]}"]
