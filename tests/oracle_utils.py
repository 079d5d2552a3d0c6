"""Mimic the driver's DuckDB-oracle comparison: row count + column names +
order-insensitive value equality. Strict by default — we engineered the
queries so Spark and DuckDB produce bit-identical values.

Both sides stay columnar: Spark's ``DataFrame.toArrow()`` against DuckDB's
``.arrow()``, canonicalized and sorted on every column, then one
``Table.equals``. Python rows are built only to describe a mismatch."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

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


def _oracle_arrow(con, sql: str) -> pa.Table:
    """The oracle's result as Arrow. DECIMAL and HUGEINT columns are cast
    to DOUBLE by DuckDB itself: ``.df()`` reads them as float64, with
    DuckDB's rounding, which pyarrow's decimal cast does not
    reproduce."""
    rel = con.sql(sql)

    def column(name, typ):
        q = '"' + name.replace('"', '""') + '"'
        wide = str(typ).startswith("DECIMAL") or str(typ) in ("HUGEINT", "UHUGEINT")
        return f"CAST({q} AS DOUBLE) AS {q}" if wide else q

    return rel.project(
        ", ".join(column(c, t) for c, t in zip(rel.columns, rel.types))
    ).arrow()


def _canon_type(t: pa.DataType, oracle: bool) -> pa.DataType:
    """The type class each engine's pandas conversion gives a column, so
    the verdicts match a typed hash of those values: integer widths agree,
    int != float, BIGINT != TIMESTAMP, a Spark DECIMAL stays exact, a
    DuckDB DATE reads as a timestamp while a Spark DATE stays a date.
    Timestamps drop the tz=UTC Spark tags them with (the session runs in
    UTC) and keep their unit, so no value past 2262 can wrap."""
    if pa.types.is_integer(t):
        return pa.int64()
    if pa.types.is_floating(t):
        return pa.float64()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pa.large_string()
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return pa.large_binary()
    if pa.types.is_timestamp(t):
        return pa.timestamp(t.unit)
    if pa.types.is_date(t) and oracle:
        return pa.timestamp("us")
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return pa.large_list(_canon_type(t.value_type, oracle))
    if pa.types.is_map(t):
        return pa.map_(_canon_type(t.key_type, oracle), _canon_type(t.item_type, oracle))
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _canon_type(f.type, oracle)) for f in t])
    return t


def _canon_values(a, oracle: bool):
    """NaN -> NULL and -0.0 -> 0.0, also inside lists. Spark's toPandas
    reads a list of integers that holds a NULL as a float array, DuckDB's
    ``.df()`` as integers with None; that split is kept."""
    if pa.types.is_floating(a.type):
        return pc.add(pc.if_else(pc.is_nan(a), None, a), 0.0)
    if pa.types.is_large_list(a.type):
        a = pa.concat_arrays([a])  # from_arrays takes no sliced offsets with a mask
        values = a.values
        if not oracle and pa.types.is_integer(values.type) and values.null_count:
            values = values.cast(pa.float64(), safe=False)
        return pa.LargeListArray.from_arrays(
            a.offsets, _canon_values(values, oracle), mask=a.is_null()
        )
    return a


def _canon_column(col: pa.ChunkedArray, oracle: bool):
    t = _canon_type(col.type, oracle)
    # pandas reads an integer column with NULLs as float64, rounding past 2**53
    lossy = pa.types.is_integer(t) and col.null_count > 0
    col = col.cast(pa.float64() if lossy else t, safe=not lossy)
    if pa.types.is_timestamp(t) and t.unit != "us":
        try:  # one unit for both engines wherever that is exact
            col = col.cast(pa.timestamp("us"))
        except pa.ArrowInvalid:
            pass
    if pa.types.is_large_list(t):
        col = col.combine_chunks()
    col = _canon_values(col, oracle)
    # pandas compares cells: a column without a value has no type to differ
    return pa.nulls(len(col)) if col.null_count == len(col) else col


def _canon_sorted(t: pa.Table, oracle: bool) -> pa.Table:
    """Canonical columns in name order, rows sorted on every column. pyarrow
    cannot sort nested columns, so each sorts by the repr of its cells."""
    t = pa.table({c: _canon_column(t.column(c), oracle) for c in sorted(t.column_names)})
    keys = {
        c: pa.array([repr(v) for v in col.to_pylist()], pa.large_string())
        if pa.types.is_nested(col.type) else col
        for c, col in zip(t.column_names, t.columns)
    }
    order = pc.sort_indices(pa.table(keys), sort_keys=[(c, "ascending") for c in keys])
    return t.take(order)


def _row_diff(got: pa.Table, want: pa.Table) -> str:
    """The first differing rows of two sorted tables; only the first
    block that differs becomes Python rows."""
    block = 1024
    for i in range(0, got.num_rows, block):
        a, b = got.slice(i, block), want.slice(i, block)
        if not a.equals(b):
            bad = [
                (i + j, x, y)
                for j, (x, y) in enumerate(zip(a.to_pylist(), b.to_pylist()))
                if x != y
            ]
            return f"sorted rows differ from block {i}; first (row, spark, duck): {bad[:3]}"
    return "tables differ"


def prefetch_spark_arrow(thunks: dict) -> dict:
    """Collect every thunk's DataFrame with ``toArrow()`` CONCURRENTLY and
    return {name: pyarrow.Table | Exception}.

    The oracle sweeps are hundreds of independent tiny Spark queries
    whose cost is per-job fixed latency; Spark overlaps jobs submitted
    from driver threads, so a module-scoped fixture collects them through
    a small thread pool and each parametrized test compares its own
    table. A query that raises has its exception captured here and
    re-raised by the owning test (see :func:`unwrap_prefetched`). The
    pool is capped at min(8, cores) to bound how many results are
    collected into driver memory at once."""
    from concurrent.futures import ThreadPoolExecutor

    def run(item):
        name, thunk = item
        try:
            return name, thunk().toArrow()
        except Exception as exc:  # noqa: BLE001 - re-raised per-test
            return name, exc

    with ThreadPoolExecutor(max_workers=min(8, os.cpu_count() or 1)) as pool:
        return dict(pool.map(run, thunks.items()))


def unwrap_prefetched(results: dict, name: str):
    """Take one prefetched result out of ``results``, re-raising its
    captured exception so the failure surfaces in the owning
    parametrized test. The entry is popped, so a module's prefetched
    tables are freed one by one as their tests compare them instead of
    all living until the module fixture is torn down."""
    res = results.pop(name)
    if isinstance(res, Exception):
        raise res
    return res


def compare_spark_vs_oracle(spark_df, con, sql: str, name: str = "?") -> None:
    """``spark_df`` may be a DataFrame or its already-collected
    ``toArrow()`` table (the prefetch path)."""
    got = spark_df if isinstance(spark_df, pa.Table) else spark_df.toArrow()
    want = _oracle_arrow(con, sql)
    assert sorted(got.column_names) == sorted(want.column_names), (
        f"{name}: column mismatch spark={sorted(got.column_names)} "
        f"duck={sorted(want.column_names)}"
    )
    assert got.num_rows == want.num_rows, (
        f"{name}: row count spark={got.num_rows} duck={want.num_rows}"
    )
    got, want = _canon_sorted(got, oracle=False), _canon_sorted(want, oracle=True)
    types = [
        (f.name, str(f.type), str(g.type))
        for f, g in zip(got.schema, want.schema) if f.type != g.type
    ]
    assert not types, f"{name}: column types differ (column, spark, duck): {types}"
    assert got.equals(want), f"{name}: {_row_diff(got, want)}"
