"""SCD2 operator tests: run compression on a hand-built history (null
transitions, tie ordering) and the incremental-merge invariant
apply(compress(b1), b2) == compress(b1 ∪ b2) on real events."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from ehr_data_pipeline_spark.operators.scd import scd2_apply_batch, scd2_compress

SF = "/root/testdata/sf0.001"


def _ts(m):
    return datetime(2024, 1, 1, 10, m)


def _rows(df):
    return {
        (r["user_id"], r["valid_from"].minute): (
            r["event_type"],
            r["valid_to"].minute if r["valid_to"] is not None else None,
            r["is_current"],
            r["n_events"],
        )
        for r in df.collect()
    }


def test_scd2_compress_runs_and_nulls(spark):
    rows = [
        # user 1: a a b a  -> three versions (a, b, a)
        (1, _ts(0), "a", 1),
        (1, _ts(1), "a", 2),
        (1, _ts(2), "b", 3),
        (1, _ts(3), "a", 4),
        # user 2: null null x  -> null run compresses (null-safe equality)
        (2, _ts(0), None, 5),
        (2, _ts(1), None, 6),
        (2, _ts(2), "x", 7),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    out = _rows(
        scd2_compress(df, ["user_id"], ["event_type"], tiebreak="event_id")
    )
    assert out[(1, 0)] == ("a", 2, False, 2)
    assert out[(1, 2)] == ("b", 3, False, 1)
    assert out[(1, 3)] == ("a", None, True, 1)
    assert out[(2, 0)] == (None, 2, False, 2)
    assert out[(2, 2)] == ("x", None, True, 1)
    assert len(out) == 5


def test_scd2_compress_tiebreak_is_total(spark):
    """Two events at the SAME timestamp: the tiebreak column decides
    which value the version boundary lands on — deterministically."""
    rows = [
        (1, _ts(0), "a", 1),
        (1, _ts(1), "b", 2),  # same ts as the next row
        (1, _ts(1), "a", 3),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    out = scd2_compress(
        df, ["user_id"], ["event_type"], tiebreak="event_id"
    ).collect()
    # order by (ts, event_id): a, b, a -> three single-event versions,
    # exactly one of them open
    assert len(out) == 3
    assert sorted((r["event_type"], r["n_events"]) for r in out) == [
        ("a", 1), ("a", 1), ("b", 1),
    ]
    assert sum(1 for r in out if r["is_current"]) == 1
    assert next(r["event_type"] for r in out if r["is_current"]) == "a"


def test_scd2_apply_batch_equals_full_rebuild(spark):
    """Incremental merge invariant on real events: split the log at the
    global time median (so every key's batch-2 events are later than its
    batch-1 events) — merging batch 2 into compress(batch 1) must equal
    compress(everything), column for column."""
    from ehr_data_pipeline_spark.tables import load_table

    e = load_table(spark, SF, "events").select("user_id", "ts", "event_type", "event_id")
    split = e.approxQuantile("event_id", [0.5], 0.0)[0]
    b1 = e.filter(F.col("event_id") <= split)
    b2 = e.filter(F.col("event_id") > split)
    # event_id is assigned in ts order in the generator; enforce the
    # append-only premise explicitly rather than assuming it
    b1_max = b1.agg(F.max("ts")).collect()[0][0]
    b2_min = b2.agg(F.min("ts")).collect()[0][0]
    assert b1_max <= b2_min, "time split premise violated"

    args = dict(keys=["user_id"], attrs=["event_type"], tiebreak="event_id")
    full = scd2_compress(e, **args)
    merged = scd2_apply_batch(scd2_compress(b1, **args), b2, **args)

    cols = ["user_id", "event_type", "version", "valid_from", "valid_to",
            "is_current", "n_events"]
    f = {tuple(r) for r in full.select(*cols).collect()}
    m = {tuple(r) for r in merged.select(*cols).collect()}
    assert m == f and len(f) > 0


def test_scd2_apply_batch_new_and_absent_keys(spark):
    """Keys only in the batch appear as fresh histories; keys absent from
    the batch keep their open version untouched."""
    b1 = spark.createDataFrame(
        [(1, _ts(0), "a", 1), (2, _ts(0), "x", 2)],
        "user_id long, ts timestamp, event_type string, event_id long",
    )
    b2 = spark.createDataFrame(
        [(1, _ts(5), "b", 3), (3, _ts(5), "z", 4)],
        "user_id long, ts timestamp, event_type string, event_id long",
    )
    args = dict(keys=["user_id"], attrs=["event_type"], tiebreak="event_id")
    out = scd2_apply_batch(scd2_compress(b1, **args), b2, **args)
    merged = _rows(out)
    assert merged[(1, 0)] == ("a", 5, False, 1)   # closed by the batch
    assert merged[(1, 5)] == ("b", None, True, 1)
    assert merged[(2, 0)] == ("x", None, True, 1)  # untouched
    assert merged[(3, 5)] == ("z", None, True, 1)  # new key
    # appended runs continue the key's version sequence; new keys start at 1
    versions = {
        (r["user_id"], r["event_type"]): r["version"] for r in out.collect()
    }
    assert versions == {(1, "a"): 1, (1, "b"): 2, (2, "x"): 1, (3, "z"): 1}


def test_scd2_same_timestamp_runs_total_order(spark):
    """Three runs inside ONE timestamp (tiebreak-split) must still get a
    deterministic version chain: valid_to/is_current derive from the
    version number, not from the tie-prone valid_from."""
    rows = [
        (1, _ts(0), "a", 1),
        (1, _ts(1), "b", 2),
        (1, _ts(1), "a", 3),
        (1, _ts(1), "b", 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    out = sorted(
        scd2_compress(df, ["user_id"], ["event_type"], tiebreak="event_id")
        .collect(),
        key=lambda r: r["version"],
    )
    assert [(r["version"], r["event_type"]) for r in out] == [
        (1, "a"), (2, "b"), (3, "a"), (4, "b"),
    ]
    assert [r["is_current"] for r in out] == [False, False, False, True]
    # the three tied runs chain half-open intervals at the shared instant
    assert out[1]["valid_to"] == out[2]["valid_from"] == out[2]["valid_to"]


def test_scd2_apply_batch_null_keys_merge(spark):
    """Null key values are one group in compress — the merge must treat
    them the same (null-safe joins), extending the open null-key version
    instead of duplicating it."""
    b1 = spark.createDataFrame(
        [(None, _ts(0), "a", 1)],
        "user_id long, ts timestamp, event_type string, event_id long",
    )
    b2 = spark.createDataFrame(
        [(None, _ts(5), "a", 2), (None, _ts(6), "b", 3)],
        "user_id long, ts timestamp, event_type string, event_id long",
    )
    args = dict(keys=["user_id"], attrs=["event_type"], tiebreak="event_id")
    full = {tuple(r) for r in scd2_compress(
        b1.unionByName(b2), **args).collect()}
    merged = {tuple(r) for r in scd2_apply_batch(
        scd2_compress(b1, **args), b2, **args).collect()}
    assert merged == full and len(full) == 2


def test_scd2_all_null_attrs_first_event(spark):
    """A key whose FIRST event has all-null tracked attrs must still open
    run 1 (lag(ts)-null detection): attr inequality alone sees
    eqNullSafe(null, lag=null) == true and would start the counter at 0,
    breaking scd2_apply_batch's version==1 first-run selection. Covers
    both compress (1-based versions) and the merge invariant."""
    b1 = spark.createDataFrame(
        [(1, _ts(0), None, 1), (1, _ts(1), None, 2), (1, _ts(2), "a", 3)],
        "user_id long, ts timestamp, event_type string, event_id long",
    )
    args = dict(keys=["user_id"], attrs=["event_type"], tiebreak="event_id")
    dim = scd2_compress(b1, **args)
    versions = sorted((r["version"], r["event_type"]) for r in dim.collect())
    assert versions == [(1, None), (2, "a")]

    # batch whose first run is ALSO all-null, on a new key and on the
    # existing key (extends the open 'a'? no — changes back to null)
    b2 = spark.createDataFrame(
        [(1, _ts(5), None, 4), (2, _ts(5), None, 5), (2, _ts(6), "z", 6)],
        "user_id long, ts timestamp, event_type string, event_id long",
    )
    full = {tuple(r) for r in scd2_compress(b1.unionByName(b2), **args).collect()}
    merged = {tuple(r) for r in scd2_apply_batch(dim, b2, **args).collect()}
    assert merged == full and len(full) == 5
