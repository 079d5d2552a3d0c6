"""Mimic the driver's DuckDB-oracle comparison: row count + column names +
order-insensitive value equality. Strict by default — we engineered the
queries so Spark and DuckDB produce bit-identical values."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        # Driver-faithful typing: the driver hashes typed serializations, so
        # an int-valued float (DuckDB HUGEINT -> pandas float64 -> "123.0")
        # MISMATCHES a true int ("123"). Tag floats so 123.0 != 123 here too —
        # this is the bug class that cost r2/r4 hash-red rows
        # (doc_repetition_stats, media_meta_profile, doc_pack_sequences).
        return ("__float__", v + 0.0)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, list):
        return tuple(_canon_value(x) for x in v)
    try:
        import numpy as np

        if isinstance(v, np.generic):
            return _canon_value(v.item())
        if isinstance(v, np.ndarray):
            return tuple(_canon_value(x) for x in v.tolist())
    except ImportError:
        pass
    return v


def _in_ns_range(vals) -> bool:
    """Whether a naive datetime64 array fits datetime64[ns]. numpy's
    cast to ns wraps silently (e.g. DuckDB's [us] timestamps past 2262),
    so the pandas Timestamp bounds are compared in the array's own unit,
    as integer ticks rounded inward."""
    import numpy as np

    if not len(vals):
        return True
    unit, count = np.datetime_data(vals.dtype)
    ns_per_tick = count * (np.timedelta64(1, unit) // np.timedelta64(1, "ns"))
    ticks = vals.view("int64")
    lo = -(-pd.Timestamp.min.value // ns_per_tick)
    hi = pd.Timestamp.max.value // ns_per_tick
    return lo <= ticks.min() and ticks.max() <= hi


def _canon_column(s: pd.Series) -> list:
    """Column-vectorized :func:`_canon_value`: dtype dispatch replaces a
    per-cell Python call for the common dtypes (floats, ints, bools,
    datetimes); object columns keep the per-value path. Semantics are
    IDENTICAL to mapping _canon_value over the cells, including a null
    timestamp staying ``pd.NaT``. ``NaT != NaT``, but ``pd.NaT`` is a
    singleton and tuple and ``Counter`` equality check identity first, so
    frames with null timestamps in the same rows compare equal, at any
    datetime resolution."""
    dt = s.dtype
    if pd.api.types.is_float_dtype(dt):
        return [None if v != v else ("__float__", v + 0.0) for v in s.tolist()]
    if pd.api.types.is_integer_dtype(dt) or pd.api.types.is_bool_dtype(dt):
        return s.tolist()
    if pd.api.types.is_datetime64_any_dtype(dt):
        # naive NaT-free datetimes canonicalize to int64 epoch-nanos —
        # a C-speed conversion that is resolution-normalized (ns on both
        # engines, so DuckDB's [us] and Spark's [ns] agree) and, within
        # the multiset compare, verdict-identical to naive-datetime
        # objects (both sides map through the same injection). Columns
        # with NaT keep the object path, where each null stays the
        # pd.NaT singleton; tz-aware or out-of-ns-range values fall back
        # too.
        if getattr(dt, "tz", None) is None and not s.isna().any():
            vals = s.to_numpy()
            if _in_ns_range(vals):
                return [
                    ("__dt__", v)  # tagged: a BIGINT column of epoch
                    # nanos must not compare equal to a TIMESTAMP column
                    for v in vals.astype("datetime64[ns]")
                    .astype("int64").tolist()
                ]
        return [
            v if v is pd.NaT else v.to_pydatetime().replace(tzinfo=None)
            for v in s
        ]
    return [_canon_value(v) for v in s.tolist()]


def _canon_multiset(pdf: pd.DataFrame):
    """Order-insensitive canonical form as a Counter — no sort. Sorting
    canonical tuples with a stringifying key was the suite's single
    hottest spot (r15: ONE gapfill compare over a ~10M-row dense grid
    took 767 s, nearly all in str()-keyed sorting + per-cell canon);
    multiset equality gives the identical pass/fail verdict (two
    multisets are equal iff their sorted lists are), and the sorted diff
    is built only on the failure path for the error message."""
    from collections import Counter

    cols = sorted(pdf.columns)
    return Counter(zip(*[_canon_column(pdf[c]) for c in cols])) if len(pdf) else Counter()


def canon_rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [
        tuple(_canon_value(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows, key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))


def prefetch_spark_pdfs(thunks: dict) -> dict:
    """Run every thunk's DataFrame to pandas CONCURRENTLY and return
    {name: pandas.DataFrame | Exception}.

    This is the r15 suite-duration fix (VERDICT r14 #2: the driver's
    pytest run was killed mid-suite): the oracle-replay sweeps are
    hundreds of INDEPENDENT tiny Spark queries whose cost is per-job
    fixed latency, serialized by pytest — guide §2.6's exact case.
    Spark's scheduler happily overlaps jobs submitted from driver
    threads (later jobs back-fill executors a draining job leaves
    idle), so a module-scoped fixture prefetches every query's result
    through a small thread pool and each parametrized test just
    compares its own precomputed frame against DuckDB. Per-test
    granularity is unchanged: a query that raises has its exception
    captured HERE and re-raised by the owning test (see
    :func:`unwrap_prefetched`), not by the fixture. The pool is capped at
    min(8, cores) to bound how many results are collected into driver
    memory at once."""
    from concurrent.futures import ThreadPoolExecutor

    def run(item):
        name, thunk = item
        try:
            return name, thunk().toPandas()
        except Exception as exc:  # noqa: BLE001 - re-raised per-test
            return name, exc

    with ThreadPoolExecutor(max_workers=min(8, os.cpu_count() or 1)) as pool:
        return dict(pool.map(run, thunks.items()))


def unwrap_prefetched(results: dict, name: str):
    """Take one prefetched result out of ``results``, re-raising its
    captured exception so the failure surfaces in the owning
    parametrized test. The entry is popped, so a module's prefetched
    frames are freed one by one as their tests compare them instead of
    all living until the module fixture is torn down."""
    res = results.pop(name)
    if isinstance(res, Exception):
        raise res
    return res


def compare_spark_vs_oracle(spark_df, con, sql: str, name: str = "?") -> None:
    """``spark_df`` may be a DataFrame or an already-collected pandas
    frame (the prefetch path)."""
    spdf = spark_df if isinstance(spark_df, pd.DataFrame) else spark_df.toPandas()
    ddf = con.execute(sql).df()
    assert sorted(spdf.columns) == sorted(ddf.columns), (
        f"{name}: column mismatch spark={sorted(spdf.columns)} duck={sorted(ddf.columns)}"
    )
    assert len(spdf) == len(ddf), f"{name}: row count spark={len(spdf)} duck={len(ddf)}"
    # fast path: multiset equality (same verdict as the sorted zip-wise
    # compare, without the stringify-keyed sort); the detailed sorted
    # diff runs only when something actually differs — or when a cell is
    # unhashable (e.g. a map-typed column), where only the slow path works
    try:
        if _canon_multiset(spdf) == _canon_multiset(ddf):
            return
    except TypeError:
        pass
    srows, drows = canon_rows(spdf), canon_rows(ddf)
    if srows == drows:
        return
    n_bad = sum(1 for a, b in zip(srows, drows) if a != b)
    examples = [(a, b) for a, b in zip(srows, drows) if a != b][:3]
    raise AssertionError(f"{name}: {n_bad}/{len(srows)} rows differ; first: {examples}")
