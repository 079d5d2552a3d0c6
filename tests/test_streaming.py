"""Structured Streaming tests: the file stream with an availableNow
trigger must reproduce the batch plans exactly (batch output is the
oracle), and append mode must respect the watermark contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.queries import REGISTRY
from ehr_data_pipeline_spark.streaming import (
    EWMA_OUTPUT_SCHEMA,
    _ewma_fold,
    drain,
    hourly_event_counts,
    read_events_stream,
    run_to_memory,
    sessionize,
    user_value_ewma_stream,
)
from ehr_data_pipeline_spark.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def checkpointed(spark, tmp_path_factory):
    ckpt = tmp_path_factory.mktemp("ckpt")
    spark.conf.set("spark.sql.streaming.checkpointLocation", str(ckpt))
    yield spark
    spark.conf.unset("spark.sql.streaming.checkpointLocation")


def _rows(df, key_cols):
    return {tuple(r[c] for c in key_cols): r for r in df.collect()}


def test_stream_schema_matches_batch(spark):
    stream = read_events_stream(spark, SF)
    assert stream.isStreaming
    batch = load_table(spark, SF, "events")
    assert stream.schema == batch.schema


def test_hourly_counts_complete_mode_matches_batch(checkpointed):
    spark = checkpointed
    stream = hourly_event_counts(read_events_stream(spark, SF))
    run_to_memory(stream, "hourly_complete", output_mode="complete")
    got = _rows(
        spark.sql("SELECT * FROM hourly_complete"), ["hour_start", "event_type"]
    )
    want = _rows(
        REGISTRY["events_hourly"].fn(spark, SF), ["hour_start", "event_type"]
    )
    assert set(got) == set(want)
    for k, r in got.items():
        assert r["n_events"] == want[k]["n_events"]
        assert r["sum_value"] == want[k]["sum_value"]


def test_hourly_counts_append_mode_respects_watermark(checkpointed):
    """Append emits only windows the final watermark has closed: a subset
    of the batch result, every emitted row value-identical, and the open
    tail (last event's window) withheld."""
    spark = checkpointed
    stream = hourly_event_counts(read_events_stream(spark, SF), watermark="1 hour")
    run_to_memory(stream, "hourly_append", output_mode="append")
    got = _rows(spark.sql("SELECT * FROM hourly_append"), ["hour_start", "event_type"])
    want = _rows(
        REGISTRY["events_hourly"].fn(spark, SF), ["hour_start", "event_type"]
    )
    assert 0 < len(got) < len(want)
    for k, r in got.items():
        assert r["n_events"] == want[k]["n_events"]
        assert r["sum_value"] == want[k]["sum_value"]
    max_ts = load_table(spark, SF, "events").agg(F.max("ts")).collect()[0][0]
    watermark_cutoff = max_ts.timestamp() - 3600
    for hour_start, _ in got:
        # window end (start + 1h) must be at or below the final watermark
        assert hour_start.timestamp() + 3600 <= watermark_cutoff


def test_sessionize_stream_matches_batch(checkpointed):
    spark = checkpointed
    got_q = sessionize(read_events_stream(spark, SF))
    run_to_memory(got_q, "sessions_complete", output_mode="complete")
    got = _rows(
        spark.sql("SELECT * FROM sessions_complete"), ["user_id", "session_start"]
    )
    want = _rows(
        sessionize(load_table(spark, SF, "events"), watermark=None),
        ["user_id", "session_start"],
    )
    assert set(got) == set(want)
    for k, r in got.items():
        assert r["session_end"] == want[k]["session_end"]
        assert r["n_events"] == want[k]["n_events"]


def test_max_files_per_trigger_paces_microbatches(checkpointed):
    spark = checkpointed
    stream = hourly_event_counts(
        read_events_stream(spark, SF, max_files_per_trigger=1)
    )
    q = run_to_memory(stream, "hourly_paced", output_mode="complete")
    assert spark.sql("SELECT * FROM hourly_paced").count() > 0
    assert q.lastProgress is not None


def test_stream_static_enrich_matches_batch_join(checkpointed):
    """Stream-static broadcast enrichment: the streaming events joined to
    a static per-user dimension must equal the batch join row-for-row,
    and unmatched stream rows survive (left join, stateless)."""
    from ehr_data_pipeline_spark.streaming import enrich_stream_static

    spark = checkpointed
    batch = load_table(spark, SF, "events")
    # static dim derived from half the users so the left join has misses
    dim = (
        batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("user_id") % 2 == 0)
    )
    enriched = enrich_stream_static(
        read_events_stream(spark, SF).select("event_id", "user_id"),
        dim,
        on="user_id",
    )
    run_to_memory(enriched, "enriched_events", output_mode="append")
    got = _rows(spark.sql("SELECT * FROM enriched_events"), ["event_id"])
    want = _rows(batch.select("event_id", "user_id").join(
        F.broadcast(dim), "user_id", "left"), ["event_id"])
    assert len(got) == len(want) > 0
    miss = sum(1 for r in want.values() if r["n_events"] is None)
    assert miss > 0  # left-join semantics exercised
    for k, w in want.items():
        g = got[k]
        assert (g["user_id"], g["n_events"]) == (w["user_id"], w["n_events"])


def test_fhir_ingest_stream_matches_batch(checkpointed):
    """The streaming bundle scan must drive the SAME extract plan to the
    same rows as the batch path (fixtures as the finite stream)."""
    import os

    from ehr_data_pipeline_spark.fhir.extract import extract_patient
    from ehr_data_pipeline_spark.fhir.ingest import (
        explode_entries,
        read_and_route,
        read_bundles_stream,
        route_resources,
    )

    spark = checkpointed
    fixture_dir = os.path.join(os.path.dirname(__file__), "fixtures", "fhir")
    stream = read_bundles_stream(spark, fixture_dir, max_files_per_trigger=1)
    assert stream.isStreaming
    patients = extract_patient(
        route_resources(explode_entries(stream))["Patient"]
    )
    run_to_memory(patients, "fhir_stream_patients", output_mode="append")
    got = {
        r["resource_id"]: r
        for r in spark.sql("SELECT * FROM fhir_stream_patients").collect()
    }
    want = {
        r["resource_id"]: r
        for r in extract_patient(read_and_route(spark, fixture_dir)["Patient"]).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for rid, row in got.items():
        assert row == want[rid]


def _ewma_batch(events):
    """Batch twin of ``user_value_ewma_stream`` (``applyInPandas``, same
    fold): an ``availableNow`` drain over a static table must produce
    exactly these rows."""
    import pandas as pd

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        n, ewma = _ewma_fold(pdf["value"].to_list(), 0, None)
        return pd.DataFrame(
            [{
                "user_id": pdf["user_id"].iloc[0],
                "n_events": n,
                "ewma": ewma,
                "last_event_us": int(pdf["ts"].astype("int64").max()) // 1000,
            }]
        )

    return events.groupBy("user_id").applyInPandas(fold, EWMA_OUTPUT_SCHEMA)


def test_user_value_ewma_stream_matches_batch_twin(checkpointed):
    """availableNow drain of the stateful EWMA operator == batch twin
    (same fold code path, so equality is exact, not approximate)."""
    spark = checkpointed
    stream = user_value_ewma_stream(read_events_stream(spark, SF))
    run_to_memory(stream, "ewma_stream", output_mode="update")
    got = _rows(spark.sql("SELECT * FROM ewma_stream"), ["user_id"])
    want = _rows(_ewma_batch(load_table(spark, SF, "events")), ["user_id"])
    assert set(got) == set(want) and len(got) > 0
    for k, r in got.items():
        assert r["n_events"] == want[k]["n_events"]
        assert r["ewma"] == want[k]["ewma"]
        assert r["last_event_us"] == want[k]["last_event_us"]


def test_user_value_ewma_state_accumulates_across_microbatches(
    checkpointed, tmp_path
):
    """Two files drained with maxFilesPerTrigger=1 → two microbatches; the
    second batch's emitted rows must continue the first batch's state (the
    whole point of the state store), matching a batch fold over the union."""
    import os
    import time as _time

    spark = checkpointed
    events = load_table(spark, SF, "events").filter(F.col("user_id") < 20)
    early = events.filter(F.col("ts") < F.lit("2024-01-15"))
    late = events.filter(F.col("ts") >= F.lit("2024-01-15"))
    assert early.count() > 0 and late.count() > 0
    src = tmp_path / "ewma_src"
    early.coalesce(1).write.parquet(str(src / "f1"))
    late.coalesce(1).write.parquet(str(src / "f2"))
    # the file source orders new files by modification time: make f2 newer
    now = _time.time()
    for i, sub in enumerate(("f1", "f2")):
        for root, _, files in os.walk(src / sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + i * 10, now + i * 10))

    schema = events.schema
    stream_df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/*.parquet")
    )
    run_to_memory(
        user_value_ewma_stream(stream_df), "ewma_two_batches", output_mode="update"
    )
    # update mode: keep each user's LAST emitted row (latest state)
    final = _rows(
        spark.sql(
            """SELECT user_id, n_events, ewma, last_event_us FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) AS rk
                 FROM ewma_two_batches) WHERE rk = 1"""
        ),
        ["user_id"],
    )
    want = _rows(_ewma_batch(events), ["user_id"])
    assert set(final) == set(want)
    for k, r in final.items():
        assert r["n_events"] == want[k]["n_events"]
        assert r["ewma"] == want[k]["ewma"]


def test_stream_stream_interval_join_matches_batch_range_join(checkpointed):
    """Stream-stream interval join (error ⋈ same-user clicks within the
    trailing 10 minutes) drained with availableNow must produce exactly
    the batch range_join pairs — the state-bounded streaming twin of the
    batch operator."""
    from ehr_data_pipeline_spark.operators.temporal import range_join
    from ehr_data_pipeline_spark.streaming import interval_join_stream

    spark = checkpointed
    batch = load_table(spark, SF, "events")
    b_err = batch.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    b_clk = batch.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    lo, hi = F.col("ts") - F.expr("INTERVAL 10 MINUTES"), F.col("ts")
    want = {
        (r["event_id"], r["click_ts"])
        for r in range_join(
            b_err, b_clk, on=["user_id"], right_time="click_ts", lo=lo, hi=hi
        ).collect()
    }
    assert want  # non-degenerate at this SF

    s_err = read_events_stream(spark, SF).filter(
        F.col("event_type") == "error"
    ).select("event_id", "user_id", "ts")
    s_clk = read_events_stream(spark, SF).filter(
        F.col("event_type") == "click"
    ).select("user_id", F.col("ts").alias("click_ts"))
    joined = interval_join_stream(
        s_err, s_clk, on="user_id", left_time="ts", right_time="click_ts",
    )
    assert joined.isStreaming
    run_to_memory(joined, "interval_joined", output_mode="append")
    got = {
        (r["event_id"], r["click_ts"])
        for r in spark.sql("SELECT * FROM interval_joined").collect()
    }
    assert got == want


def test_stream_dedup_drops_redelivered_events(checkpointed, tmp_path):
    """A doubled input (every event delivered twice) through
    dropDuplicatesWithinWatermark must emit exactly the batch-distinct
    rows."""
    from ehr_data_pipeline_spark.streaming import dedup_events_stream

    spark = checkpointed
    events = load_table(spark, SF, "events").filter(F.col("user_id") < 10)
    doubled = events.unionAll(events)
    src = tmp_path / "dup_src"
    doubled.write.parquet(str(src))

    stream = (
        spark.readStream.schema(events.schema).parquet(f"{src}/*.parquet")
    )
    run_to_memory(
        dedup_events_stream(stream), "dedup_stream", output_mode="append"
    )
    got = spark.sql("SELECT * FROM dedup_stream")
    n_expected = events.count()
    assert got.count() == n_expected
    assert got.select("event_id").distinct().count() == n_expected


def test_parquet_batch_sink_exactly_once_and_replay_idempotent(
    checkpointed, tmp_path
):
    """Multi-microbatch drain into the per-batch parquet layout must
    reproduce the input exactly (no dup/loss across batches); restarting
    over the same checkpoint with no new files writes nothing; and a
    simulated REPLAY of a batch id (the failure window of any
    foreachBatch sink) leaves the table unchanged — overwrite, not
    append."""
    from ehr_data_pipeline_spark.streaming import parquet_batch_sink

    spark = checkpointed
    events = load_table(spark, SF, "events").filter(F.col("user_id") < 10)
    src = tmp_path / "sink_src"
    events.filter(F.col("event_id") % 2 == 0).write.parquet(str(src / "f1"))
    events.filter(F.col("event_id") % 2 == 1).write.parquet(str(src / "f2"))

    out, ckpt = str(tmp_path / "sink_out"), str(tmp_path / "sink_ckpt")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/*.parquet")
    )
    drain(stream, parquet_batch_sink(out), ckpt)

    import glob

    batch_dirs = glob.glob(f"{out}/batch_id=*")
    assert len(batch_dirs) >= 2  # paced into multiple microbatches
    back = spark.read.parquet(out).drop("batch_id")
    assert back.count() == events.count()
    assert {r["event_id"] for r in back.select("event_id").collect()} == {
        r["event_id"] for r in events.select("event_id").collect()
    }

    # restart over the same checkpoint, no new input -> nothing changes
    stream2 = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/*.parquet")
    )
    drain(stream2, parquet_batch_sink(out), ckpt)
    assert spark.read.parquet(out).drop("batch_id").count() == events.count()

    # simulate a replayed microbatch: rerun batch 0's write with the same
    # batch id — the directory is overwritten, not appended (materialize
    # the batch first: the real replay re-reads the SOURCE, not the sink)
    src_batch = spark.read.parquet(f"{out}/batch_id=0")
    first_batch = spark.createDataFrame(src_batch.collect(), src_batch.schema)
    parquet_batch_sink(out)(first_batch, 0)
    assert spark.read.parquet(out).drop("batch_id").count() == events.count()


def test_scd2_stream_maintenance_matches_full_rebuild(checkpointed, tmp_path):
    """Streaming SCD2 maintenance (foreachBatch + incremental merge) over
    time-ordered file drops must equal scd2_compress over all events;
    restarting the same checkpoint after a new drop merges only the new
    file; replaying a batch id is byte-stable (idempotent epochs)."""
    from ehr_data_pipeline_spark.operators.scd import scd2_compress
    from ehr_data_pipeline_spark.streaming import (
        read_epoch_state,
        scd2_dimension_sink,
    )

    spark = checkpointed
    events = load_table(spark, SF, "events").filter(F.col("user_id") < 8)
    c1, c2 = events.selectExpr(
        "CAST(percentile(CAST(ts AS DOUBLE), 0.4) AS TIMESTAMP)",
        "CAST(percentile(CAST(ts AS DOUBLE), 0.8) AS TIMESTAMP)",
    ).collect()[0]
    src = tmp_path / "scd_src"
    # one part file per time slice: multi-part writes + maxFilesPerTrigger=1
    # would split a slice into microbatches whose order need not follow
    # event time, violating scd2_apply_batch's append-only precondition
    events.filter(F.col("ts") < c1).coalesce(1).write.parquet(str(src / "f1"))
    events.filter((F.col("ts") >= c1) & (F.col("ts") < c2)).coalesce(1).write.parquet(
        str(src / "f2")
    )

    keys, attrs = ["user_id"], ["event_type"]
    dim_path = str(tmp_path / "scd_dim")
    ckpt = str(tmp_path / "scd_ckpt")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/*.parquet")
    )
    drain(stream, scd2_dimension_sink(dim_path, keys, attrs,
                                      tiebreak="event_id"), ckpt)

    def canon(df):
        return sorted(tuple(r) for r in df.select(
            "user_id", "event_type", "version", "valid_from", "valid_to",
            "is_current", "n_events").collect())

    expect2 = scd2_compress(events.filter(F.col("ts") < c2), keys, attrs,
                            tiebreak="event_id")
    assert canon(read_epoch_state(spark, dim_path)) == canon(expect2)

    # late drop + restart over the same checkpoint: only f3 merges
    events.filter(F.col("ts") >= c2).coalesce(1).write.parquet(str(src / "f3"))
    stream2 = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/*.parquet")
    )
    drain(stream2, scd2_dimension_sink(dim_path, keys, attrs,
                                       tiebreak="event_id"), ckpt)
    full = scd2_compress(events, keys, attrs, tiebreak="event_id")
    final = canon(read_epoch_state(spark, dim_path))
    assert final == canon(full)

    # replay of the highest batch id recomputes from the same predecessor
    from ehr_data_pipeline_spark.streaming import _state_epochs

    last = max(_state_epochs(dim_path))
    sink = scd2_dimension_sink(dim_path, keys, attrs, tiebreak="event_id")
    sink(events.filter(F.col("ts") >= c2), last)
    assert canon(read_epoch_state(spark, dim_path)) == final


def test_rollup_stream_maintenance_matches_one_shot(checkpointed, tmp_path):
    """Streaming continuous-aggregate maintenance must equal the one-shot
    rollup over all events — and unlike SCD2, cell-wise merge commutes,
    so NO event-time ordering across files/microbatches is required
    (slices are written unordered and multi-part on purpose)."""
    from ehr_data_pipeline_spark.operators.temporal import (
        rollup_finalize,
        time_rollup,
    )
    from ehr_data_pipeline_spark.streaming import (
        read_rollup,
        rollup_maintenance_sink,
    )

    spark = checkpointed
    events = load_table(spark, SF, "events").filter(F.col("user_id") < 8)
    src = tmp_path / "roll_src"
    # deliberately unordered slices (by user parity, not time)
    events.filter(F.col("user_id") % 2 == 1).write.parquet(str(src / "odd"))
    events.filter(F.col("user_id") % 2 == 0).write.parquet(str(src / "even"))

    roll_path = str(tmp_path / "roll_state")
    ckpt = str(tmp_path / "roll_ckpt")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/*.parquet")
    )
    drain(stream, rollup_maintenance_sink(roll_path), ckpt)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    assert canon(read_rollup(spark, roll_path)) == canon(
        rollup_finalize(time_rollup(events))
    )


def test_hll_stream_maintenance_matches_one_shot(checkpointed, tmp_path):
    """Streaming distinct-count maintenance must equal the one-shot HLL
    over all events: cell-wise MAX commutes and is idempotent, so
    unordered slices (and replays) converge to the identical register
    set — merge(hll(A), hll(B)) == hll(A∪B) end to end through the
    epoch sink."""
    from ehr_data_pipeline_spark.operators.sketches import hll_build
    from ehr_data_pipeline_spark.streaming import (
        hll_maintenance_sink,
        read_epoch_state,
        read_hll_estimate,
    )

    spark = checkpointed
    events = load_table(spark, SF, "events").filter(F.col("user_id") < 64)
    src = tmp_path / "hll_src"
    # deliberately unordered slices (by user parity, not time)
    events.filter(F.col("user_id") % 2 == 1).write.parquet(str(src / "odd"))
    events.filter(F.col("user_id") % 2 == 0).write.parquet(str(src / "even"))

    state = str(tmp_path / "hll_state")
    ckpt = str(tmp_path / "hll_ckpt")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/*.parquet")
    )
    drain(stream, hll_maintenance_sink(state, "user_id", ("event_type",)), ckpt)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    streamed = read_epoch_state(spark, state).select("event_type", "bucket", "reg")
    direct = hll_build(events, "user_id", ("event_type",))
    assert canon(streamed) == canon(direct)
    est = {r["event_type"]: r["hll_estimate"]
           for r in read_hll_estimate(spark, state, ("event_type",)).collect()}
    assert est and all(v > 0 for v in est.values())


def test_cm_and_hist_stream_maintenance_match_one_shot(checkpointed, tmp_path):
    """The other two mergeable sketches compose with the epoch sink the
    same way: streamed count-min cells == one-shot build, streamed
    histogram == one-shot build, over unordered slices."""
    from ehr_data_pipeline_spark.operators.sketches import cm_build, hist_build
    from ehr_data_pipeline_spark.streaming import (
        cm_maintenance_sink,
        hist_maintenance_sink,
        read_epoch_state,
    )

    spark = checkpointed
    events = load_table(spark, SF, "events").filter(F.col("user_id") < 64)
    src = tmp_path / "cm_src"
    events.filter(F.col("user_id") % 2 == 1).write.parquet(str(src / "odd"))
    events.filter(F.col("user_id") % 2 == 0).write.parquet(str(src / "even"))

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    for label, sink, one_shot in [
        (
            "cm",
            cm_maintenance_sink(str(tmp_path / "cm_state"), "user_id"),
            cm_build(events, "user_id"),
        ),
        (
            "hist",
            hist_maintenance_sink(
                str(tmp_path / "hist_state"), "value", 0.0, 600.0
            ),
            hist_build(events, "value", 0.0, 600.0),
        ),
    ]:
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/*.parquet")
        )
        drain(stream, sink, str(tmp_path / f"{label}_ckpt"))
        state_path = str(tmp_path / f"{label}_state")
        assert canon(read_epoch_state(spark, state_path)) == canon(one_shot), label


def test_near_dedup_stream_maintenance_matches_sequential_batches(
    checkpointed, tmp_path
):
    """Streaming near-dup dedup (foreachBatch over the maintained MinHash
    index) must equal the SEQUENTIAL batch application of
    near_dedup_against_index over the same file drops in the same order —
    streaming is a composition of the batch operator, nothing more.
    Restarting the same checkpoint after a late drop dedups only the new
    file against the accumulated index; replaying the highest batch id is
    idempotent."""
    from ehr_data_pipeline_spark.operators.text_dedup import (
        build_minhash_index,
        near_dedup_against_index,
    )
    from ehr_data_pipeline_spark.streaming import (
        _state_epochs,
        near_dedup_maintenance_sink,
        read_near_dedup_fresh,
    )

    spark = checkpointed
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    # ascending doc_id slices, one part-file each (modification-time
    # ordering then matches slice order, as in the SCD2 test)
    src = tmp_path / "doc_src"
    slices = [
        docs.filter(F.col("doc_id") < 150),
        docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)),
    ]
    late = docs.filter(F.col("doc_id") >= 300)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(str(src / f"f{i}"))

    index_path = str(tmp_path / "nd_index")
    fresh_path = str(tmp_path / "nd_fresh")
    ckpt = str(tmp_path / "nd_ckpt")

    def stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/*.parquet")
        )

    drain(stream(), near_dedup_maintenance_sink(index_path, fresh_path), ckpt)

    def batch_sequential(batches):
        index = build_minhash_index(docs.limit(0))
        fresh_ids = set()
        for b in batches:
            fresh, new_entries = near_dedup_against_index(b, index)
            fresh_ids |= {r["doc_id"] for r in fresh.collect()}
            index = index.unionByName(new_entries)
        return fresh_ids, index

    expect_ids, _ = batch_sequential(slices)
    got = {r["doc_id"] for r in read_near_dedup_fresh(spark, fresh_path).collect()}
    assert got == expect_ids

    # late drop + restart over the same checkpoint
    late.coalesce(1).write.parquet(str(src / "f2"))
    drain(stream(), near_dedup_maintenance_sink(index_path, fresh_path), ckpt)
    expect_full, _ = batch_sequential(slices + [late])
    got_full = {
        r["doc_id"] for r in read_near_dedup_fresh(spark, fresh_path).collect()
    }
    assert got_full == expect_full
    assert got <= got_full

    # replay of the highest batch id recomputes from the same predecessor
    last = max(_state_epochs(index_path))
    sink = near_dedup_maintenance_sink(index_path, fresh_path)
    sink(late, last)
    got_replay = {
        r["doc_id"] for r in read_near_dedup_fresh(spark, fresh_path).collect()
    }
    assert got_replay == expect_full


def test_compact_epochs_replay_idempotent(checkpointed, tmp_path):
    """VERDICT r9 #4: compacting delta epochs then continuing (including
    a replay of the newest batch) must be indistinguishable from never
    compacting — same index content, same fresh corpus, fewer
    directories. Also pins the re-entrancy manifest (resuming an
    interrupted compaction finishes it) and the default newest-stays-
    delta rule that makes replay safe."""
    import os

    from ehr_data_pipeline_spark.streaming import (
        compact_epochs,
        near_dedup_maintenance_sink,
        read_near_dedup_fresh,
    )

    spark = checkpointed
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    slices = [
        docs.filter(F.col("doc_id") < 100),
        docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)),
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300)),
        docs.filter(F.col("doc_id") >= 300),
    ]

    def drive(root, compact_after=None):
        index_path, fresh_path = str(root / "idx"), str(root / "fresh")
        sink = near_dedup_maintenance_sink(index_path, fresh_path)
        for bid, sl in enumerate(slices):
            sink(sl, bid)
            if compact_after is not None and bid == compact_after:
                merged = compact_epochs(spark, index_path)
                assert merged >= 2
                compact_epochs(spark, fresh_path)
        # replay the newest batch id — the only replayable one under the
        # checkpoint contract; its epoch stayed a pure delta
        sink(slices[-1], len(slices) - 1)
        idx = sorted(
            map(tuple, spark.read.parquet(f"{index_path}/epoch=*")
                .select("id").collect())
        )
        fresh = sorted(
            r["doc_id"]
            for r in read_near_dedup_fresh(spark, fresh_path).collect()
        )
        n_dirs = len(
            [d for d in os.listdir(index_path) if d.startswith("epoch=")]
        )
        return idx, fresh, n_dirs

    plain_idx, plain_fresh, plain_dirs = drive(tmp_path / "plain")
    comp_idx, comp_fresh, comp_dirs = drive(tmp_path / "comp", compact_after=2)
    assert comp_idx == plain_idx
    assert comp_fresh == plain_fresh
    assert comp_dirs < plain_dirs  # epochs 0..2 merged into one

    # re-entrancy: simulate a crash after phase A (tmp + manifest exist,
    # target not yet rewritten) — a re-run must finish the compaction
    root = tmp_path / "resume"
    index_path = str(root / "idx")
    sink = near_dedup_maintenance_sink(index_path, str(root / "fresh"))
    for bid, sl in enumerate(slices[:3]):
        sink(sl, bid)
    before = sorted(
        map(tuple, spark.read.parquet(f"{index_path}/epoch=*")
            .select("id").collect())
    )
    from functools import reduce

    tmp = os.path.join(index_path, "_compact_tmp")
    merged = reduce(
        lambda a, b: a.unionByName(b),
        [spark.read.parquet(f"{index_path}/epoch={e}") for e in (0, 1)],
    )
    merged.write.mode("overwrite").parquet(tmp)
    import json

    with open(os.path.join(tmp, "_compact_manifest.json"), "w") as f:
        json.dump({"epochs": [0, 1], "target": 1}, f)
    assert compact_epochs(spark, index_path) == 2  # resumed, not replanned
    assert not os.path.exists(tmp)
    assert not os.path.exists(f"{index_path}/epoch=0")
    after = sorted(
        map(tuple, spark.read.parquet(f"{index_path}/epoch=*")
            .select("id").collect())
    )
    assert after == before


def test_compact_bm25_index_keeps_tables_in_step(checkpointed, tmp_path):
    """compact_bm25_index must compact BOTH tables through the same
    epoch so read_bm25_index's complete-epoch intersection still covers
    the full corpus, and scores are unchanged."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        bm25_search_against_index,
    )
    from ehr_data_pipeline_spark.streaming import (
        bm25_index_maintenance_sink,
        compact_bm25_index,
        read_bm25_index,
    )

    spark = checkpointed
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    pp, lp = str(tmp_path / "post"), str(tmp_path / "len")
    sink = bm25_index_maintenance_sink(pp, lp)
    batches = [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100))
        for lo in range(0, 300, 100)
    ] + [docs.filter(F.col("doc_id") >= 300)]
    for bid, b in enumerate(batches):
        sink(b, bid)
    terms = ["hash", "join", "stream"]

    def scores():
        p, l = read_bm25_index(spark, pp, lp)
        return sorted(
            map(tuple, bm25_search_against_index(p, l, terms).collect())
        )

    want = scores()
    assert compact_bm25_index(spark, pp, lp) >= 2
    assert scores() == want
    # replay of the newest batch id still idempotent after compaction
    sink(batches[-1], 3)
    assert scores() == want


def test_semantic_dedup_stream_maintenance_matches_sequential_batches(
    checkpointed, tmp_path
):
    """Streaming semantic dedup (foreachBatch over the maintained vector
    index under a FIXED quantizer) must equal the sequential batch
    application of semantic_dedup_against_index over the same file drops
    — incl. a late drop on a restarted checkpoint and a replay of the
    highest batch id."""
    from ehr_data_pipeline_spark.operators.similarity import (
        semantic_dedup_against_index,
        train_ivf_centroids,
    )
    from ehr_data_pipeline_spark.streaming import (
        _state_epochs,
        read_near_dedup_fresh,
        semantic_dedup_maintenance_sink,
    )

    spark = checkpointed
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    # quantizer trained once, on the first slice — held fixed thereafter
    cents = train_ivf_centroids(
        emb.filter(F.col("vec_id") < 150), n_list=4, n_iters=0, dim=64
    )
    src = tmp_path / "emb_src"
    slices = [
        emb.filter(F.col("vec_id") < 150),
        emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 300)),
    ]
    late = emb.filter(F.col("vec_id") >= 300)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(str(src / f"f{i}"))

    index_path = str(tmp_path / "sd_index")
    fresh_path = str(tmp_path / "sd_fresh")
    ckpt = str(tmp_path / "sd_ckpt")

    def stream():
        return (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/*.parquet")
        )

    drain(
        stream(),
        semantic_dedup_maintenance_sink(index_path, fresh_path, cents, dim=64),
        ckpt,
    )

    def batch_sequential(batches):
        index = emb.limit(0)
        fresh_ids = set()
        for b in batches:
            fresh, new_entries = semantic_dedup_against_index(
                b, index, cents, dim=64
            )
            fresh_ids |= {r["vec_id"] for r in fresh.collect()}
            index = index.unionByName(new_entries)
        return fresh_ids

    expect = batch_sequential(slices)
    got = {r["vec_id"] for r in read_near_dedup_fresh(spark, fresh_path).collect()}
    assert got == expect

    late.coalesce(1).write.parquet(str(src / "f2"))
    drain(
        stream(),
        semantic_dedup_maintenance_sink(index_path, fresh_path, cents, dim=64),
        ckpt,
    )
    expect_full = batch_sequential(slices + [late])
    got_full = {
        r["vec_id"] for r in read_near_dedup_fresh(spark, fresh_path).collect()
    }
    assert got_full == expect_full
    assert got <= got_full

    # replay of the highest batch id recomputes from the same predecessor
    last = max(_state_epochs(index_path))
    sink = semantic_dedup_maintenance_sink(index_path, fresh_path, cents, dim=64)
    sink(late, last)
    got_replay = {
        r["vec_id"] for r in read_near_dedup_fresh(spark, fresh_path).collect()
    }
    assert got_replay == expect_full


@pytest.mark.parametrize("n_list", [4, 32])
def test_ivf_index_stream_matches_batch_build(checkpointed, tmp_path, n_list):
    """The native partitioned-file-sink index stream must land exactly
    the rows batch build_ivf_index produces, and searching the
    read-back (hive cid= layout) must equal searching the batch index.
    n_list=32 (k·dim = 2048) assigns cells through the Arrow twin, a
    mapInPandas over the streaming frame."""
    from ehr_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_knn_against_index,
        train_ivf_centroids,
    )
    from ehr_data_pipeline_spark.streaming import run_ivf_index_stream

    spark = checkpointed
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = train_ivf_centroids(emb, n_list=n_list, n_iters=0, dim=64)
    src = tmp_path / "ivf_src"
    for i, sl in enumerate([
        emb.filter(F.col("vec_id") < 200),
        emb.filter(F.col("vec_id") >= 200),
    ]):
        sl.coalesce(1).write.parquet(str(src / f"f{i}"))
    index_path = str(tmp_path / "ivf_index")
    ckpt = str(tmp_path / "ivf_ckpt")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*/*.parquet")
    )
    run_ivf_index_stream(stream, cents, index_path, ckpt)

    landed = spark.read.parquet(index_path).select("vec_id", "cid", "embedding")
    batch = build_ivf_index(emb, cents, dim=64)
    key = lambda t: t[0]  # noqa: E731
    a = sorted(((r["vec_id"], r["cid"], tuple(r["embedding"]))
                for r in landed.collect()), key=key)
    b = sorted(((r["vec_id"], r["cid"], tuple(r["embedding"]))
                for r in batch.collect()), key=key)
    assert a == b and len(a) > 0

    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted(map(tuple, ivf_knn_against_index(
        queries, landed, cents, n_probe=2, dim=64).collect()))
    want = sorted(map(tuple, ivf_knn_against_index(
        queries, batch, cents, n_probe=2, dim=64).collect()))
    assert got == want and len(got) > 0

    # empty quantizer is a configuration error for the stream writer
    import pytest as _pytest
    with _pytest.raises(ValueError):
        run_ivf_index_stream(stream, [], index_path, ckpt)


def test_bm25_index_stream_matches_batch(checkpointed, tmp_path):
    """Streaming BM25 index maintenance == the batch build over the same
    docs: identical accumulated postings/lengths, identical search
    scores — including after a late drop on a restarted checkpoint and a
    replay of the highest batch id."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        bm25_index_build,
        bm25_search_against_index,
    )
    from ehr_data_pipeline_spark.streaming import (
        _state_epochs,
        bm25_index_maintenance_sink,
        read_bm25_index,
    )

    spark = checkpointed
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    src = tmp_path / "bm_src"
    slices = [
        docs.filter(F.col("doc_id") < 150),
        docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)),
    ]
    late = docs.filter(F.col("doc_id") >= 300)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(str(src / f"f{i}"))
    pp, lp = str(tmp_path / "bm_post"), str(tmp_path / "bm_len")
    ckpt = str(tmp_path / "bm_ckpt")

    def stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/*.parquet")
        )

    drain(stream(), bm25_index_maintenance_sink(pp, lp), ckpt)
    terms = ["hash", "join", "stream"]

    def scores_of(p, l):
        return sorted(map(tuple, bm25_search_against_index(p, l, terms).collect()))

    p, l = read_bm25_index(spark, pp, lp)
    bp, bl = bm25_index_build(docs.filter(F.col("doc_id") < 300))
    assert scores_of(p, l) == scores_of(bp, bl)

    # late drop + restart over the same checkpoint
    late.coalesce(1).write.parquet(str(src / "f2"))
    drain(stream(), bm25_index_maintenance_sink(pp, lp), ckpt)
    p, l = read_bm25_index(spark, pp, lp)
    fp, fl = bm25_index_build(docs)
    want_full = scores_of(fp, fl)
    assert scores_of(p, l) == want_full

    # replay of the highest batch id is idempotent
    last = max(_state_epochs(pp))
    bm25_index_maintenance_sink(pp, lp)(late, last)
    p, l = read_bm25_index(spark, pp, lp)
    assert scores_of(p, l) == want_full

    # torn-write guard (ADVICE r9): a crash between the postings and
    # lengths writes leaves a complete postings epoch with no lengths
    # twin — the reader must take the INTERSECTION of complete epochs,
    # so the torn epoch is invisible and scores are the untorn corpus's
    import os

    torn = last + 1
    fp2, _ = bm25_index_build(docs.filter(F.col("doc_id") < 10))
    fp2.write.mode("overwrite").parquet(f"{pp}/epoch={torn}")
    assert os.path.exists(f"{pp}/epoch={torn}/_SUCCESS")
    assert not os.path.exists(f"{lp}/epoch={torn}")
    p, l = read_bm25_index(spark, pp, lp)
    assert scores_of(p, l) == want_full


def test_paragraph_dedup_stream_matches_sequential_batches(
    checkpointed, tmp_path
):
    """Streaming paragraph dedup (foreachBatch over the maintained
    fingerprint index) must equal the SEQUENTIAL batch application of
    paragraph_dedup_against_index over the same file drops in the same
    order. Restart over the same checkpoint cleans only the late drop;
    replaying the highest batch id is idempotent."""
    from ehr_data_pipeline_spark.operators.cleaning import (
        build_paragraph_index,
        paragraph_dedup_against_index,
    )
    from ehr_data_pipeline_spark.queries import _para_lined_docs
    from ehr_data_pipeline_spark.streaming import (
        _state_epochs,
        paragraph_dedup_maintenance_sink,
    )
    from functools import reduce

    spark = checkpointed
    docs = _para_lined_docs(
        load_table(spark, SF, "documents").select("doc_id", "text")
    )
    src = tmp_path / "pd_src"
    slices = [
        docs.filter(F.col("doc_id") < 150),
        docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)),
    ]
    late = docs.filter(F.col("doc_id") >= 300)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(str(src / f"f{i}"))

    index_path = str(tmp_path / "pd_index")
    clean_path = str(tmp_path / "pd_clean")
    ckpt = str(tmp_path / "pd_ckpt")

    def stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/*.parquet")
        )

    def read_clean():
        epochs = _state_epochs(clean_path, complete_only=True)
        parts = [
            spark.read.parquet(f"{clean_path}/epoch={e}")
            for e in sorted(epochs)
        ]
        return reduce(lambda a, b: a.unionByName(b), parts)

    def batch_sequential(batches):
        index = build_paragraph_index(docs.limit(0))
        rows = {}
        for b in batches:
            cleaned, new_entries = paragraph_dedup_against_index(b, index)
            rows.update({r["doc_id"]: r.asDict() for r in cleaned.collect()})
            index = index.unionByName(new_entries)
        return rows

    drain(
        stream(), paragraph_dedup_maintenance_sink(index_path, clean_path), ckpt
    )
    got = {r["doc_id"]: r.asDict() for r in read_clean().collect()}
    assert got == batch_sequential(slices)

    # late drop + restart over the same checkpoint
    late.coalesce(1).write.parquet(str(src / "f2"))
    drain(
        stream(), paragraph_dedup_maintenance_sink(index_path, clean_path), ckpt
    )
    want_full = batch_sequential(slices + [late])
    got_full = {r["doc_id"]: r.asDict() for r in read_clean().collect()}
    assert got_full == want_full

    # replay of the highest batch id recomputes from the same predecessors
    last = max(_state_epochs(index_path))
    paragraph_dedup_maintenance_sink(index_path, clean_path)(late, last)
    got_replay = {r["doc_id"]: r.asDict() for r in read_clean().collect()}
    assert got_replay == want_full


def test_paragraph_dedup_auto_compaction_equivalent(checkpointed, tmp_path):
    """auto_compact_every=2 must be observationally identical to never
    compacting — same cleaned corpus, same behavior for a later batch
    against the (now-merged) index — with fewer index epoch dirs."""
    from ehr_data_pipeline_spark.queries import _para_lined_docs
    from ehr_data_pipeline_spark.streaming import (
        _state_epochs,
        paragraph_dedup_maintenance_sink,
    )
    from functools import reduce

    spark = checkpointed
    docs = _para_lined_docs(
        load_table(spark, SF, "documents").select("doc_id", "text")
    )
    slices = [
        docs.filter(F.col("doc_id") < 120),
        docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 240)),
        docs.filter(F.col("doc_id") >= 240),
    ]

    def run(tag, auto):
        src = tmp_path / f"src_{tag}"
        for i, sl in enumerate(slices):
            sl.coalesce(1).write.parquet(str(src / f"f{i}"))
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/*.parquet")
        )
        ip, cp = str(tmp_path / f"idx_{tag}"), str(tmp_path / f"cln_{tag}")
        drain(
            stream,
            paragraph_dedup_maintenance_sink(ip, cp, auto_compact_every=auto),
            str(tmp_path / f"ck_{tag}"),
        )
        parts = [
            spark.read.parquet(f"{cp}/epoch={e}")
            for e in sorted(_state_epochs(cp, complete_only=True))
        ]
        rows = {
            r["doc_id"]: r.asDict()
            for r in reduce(lambda a, b: a.unionByName(b), parts).collect()
        }
        return rows, len(_state_epochs(ip))

    plain, n_plain = run("plain", None)
    compacted, n_comp = run("comp", 2)
    assert compacted == plain
    assert n_comp < n_plain


def test_auto_compaction_equivalent_on_neardup_and_semantic_sinks(
    checkpointed, tmp_path
):
    """VERDICT r10 #3: ``auto_compact_every`` rolled out from the
    paragraph sink to the near-dedup and semantic maintenance sinks must
    be observationally identical to never compacting — same admitted
    corpus and index content (including after a replay of the newest
    batch id, the only replayable one), with fewer index epoch dirs."""
    import os

    from ehr_data_pipeline_spark.operators.similarity import (
        train_ivf_centroids,
    )
    from ehr_data_pipeline_spark.streaming import (
        near_dedup_maintenance_sink,
        read_near_dedup_fresh,
        semantic_dedup_maintenance_sink,
    )

    spark = checkpointed
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = train_ivf_centroids(
        emb.filter(F.col("vec_id") < 150), n_list=4, n_iters=0, dim=64
    )

    def doc_slices():
        return [
            docs.filter(F.col("doc_id") < 100),
            docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)),
            docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300)),
            docs.filter(F.col("doc_id") >= 300),
        ]

    def emb_slices():
        return [
            emb.filter(F.col("vec_id") < 100),
            emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)),
            emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 300)),
            emb.filter(F.col("vec_id") >= 300),
        ]

    def drive(make_sink, slices, root, idx_id_col):
        index_path, fresh_path = str(root / "idx"), str(root / "fresh")
        sink = make_sink(index_path, fresh_path)
        for bid, sl in enumerate(slices):
            sink(sl, bid)
        sink(slices[-1], len(slices) - 1)  # replay newest
        idx = sorted(
            map(tuple, spark.read.parquet(f"{index_path}/epoch=*")
                .select(idx_id_col).collect())
        )
        fresh = sorted(
            map(tuple,
                read_near_dedup_fresh(spark, fresh_path)
                .select(slices[0].columns[0]).collect())
        )
        n_dirs = len(
            [d for d in os.listdir(index_path) if d.startswith("epoch=")]
        )
        return idx, fresh, n_dirs

    # near-dedup sink
    plain = drive(
        lambda ip, fp: near_dedup_maintenance_sink(ip, fp),
        doc_slices(), tmp_path / "nd_plain", "id",
    )
    comp = drive(
        lambda ip, fp: near_dedup_maintenance_sink(
            ip, fp, auto_compact_every=2
        ),
        doc_slices(), tmp_path / "nd_comp", "id",
    )
    assert comp[0] == plain[0] and comp[1] == plain[1]
    assert comp[2] < plain[2]

    # semantic sink
    plain = drive(
        lambda ip, fp: semantic_dedup_maintenance_sink(ip, fp, cents, dim=64),
        emb_slices(), tmp_path / "sd_plain", "vec_id",
    )
    comp = drive(
        lambda ip, fp: semantic_dedup_maintenance_sink(
            ip, fp, cents, dim=64, auto_compact_every=2
        ),
        emb_slices(), tmp_path / "sd_comp", "vec_id",
    )
    assert comp[0] == plain[0] and comp[1] == plain[1]
    assert comp[2] < plain[2]


def test_auto_compaction_equivalent_on_bm25_sink(checkpointed, tmp_path):
    """``auto_compact_every`` on the BM25 sink compacts BOTH tables
    through the same epoch from inside the sink; scores must be
    unchanged vs never compacting, incl. after a newest-batch replay."""
    import os

    from ehr_data_pipeline_spark.operators.text_analysis import (
        bm25_search_against_index,
    )
    from ehr_data_pipeline_spark.streaming import (
        bm25_index_maintenance_sink,
        read_bm25_index,
    )

    spark = checkpointed
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    batches = [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100))
        for lo in range(0, 300, 100)
    ] + [docs.filter(F.col("doc_id") >= 300)]
    terms = ["hash", "join", "stream"]

    def drive(root, auto):
        pp, lp = str(root / "post"), str(root / "len")
        sink = bm25_index_maintenance_sink(pp, lp, auto_compact_every=auto)
        for bid, b in enumerate(batches):
            sink(b, bid)
        sink(batches[-1], len(batches) - 1)  # replay newest
        p, l = read_bm25_index(spark, pp, lp)
        scores = sorted(
            map(tuple, bm25_search_against_index(p, l, terms).collect())
        )
        n_dirs = len([d for d in os.listdir(pp) if d.startswith("epoch=")])
        n_dirs_l = len([d for d in os.listdir(lp) if d.startswith("epoch=")])
        return scores, n_dirs, n_dirs_l

    plain = drive(tmp_path / "plain", None)
    comp = drive(tmp_path / "comp", 3)
    assert comp[0] == plain[0]
    assert comp[1] < plain[1] and comp[2] < plain[2]


def test_sink_entry_heals_torn_phase_b_compaction(checkpointed, tmp_path):
    """ADVICE r10 (medium): a crash during compact_epochs' phase B
    leaves a torn merged epoch BELOW the replaying batch id; the
    replayed batch lists prev epochs WITHOUT complete_only, so before
    the fix it either failed the read or silently deduped against
    incomplete history (re-admitting previously seen paragraphs). The
    sink must resume the pending compaction at entry and produce
    exactly the no-crash result."""
    import json
    import os
    import shutil
    from functools import reduce

    from ehr_data_pipeline_spark.queries import _para_lined_docs
    from ehr_data_pipeline_spark.streaming import (
        _state_epochs,
        paragraph_dedup_maintenance_sink,
    )

    spark = checkpointed
    docs = _para_lined_docs(
        load_table(spark, SF, "documents").select("doc_id", "text")
    )
    slices = [
        docs.filter(F.col("doc_id") < 120),
        docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 240)),
        docs.filter(F.col("doc_id") >= 240),
    ]

    def read_clean(cp):
        parts = [
            spark.read.parquet(f"{cp}/epoch={e}")
            for e in sorted(_state_epochs(cp, complete_only=True))
        ]
        return {
            r["doc_id"]: r.asDict()
            for r in reduce(lambda a, b: a.unionByName(b), parts).collect()
        }

    # no-crash reference run (replay of the newest batch included)
    ip0, cp0 = str(tmp_path / "ref_idx"), str(tmp_path / "ref_cln")
    sink0 = paragraph_dedup_maintenance_sink(ip0, cp0)
    for bid, sl in enumerate(slices):
        sink0(sl, bid)
    sink0(slices[-1], 2)
    want = read_clean(cp0)

    # crashing run: batches 0..2, then a compaction of epochs [0, 1]
    # that dies mid-phase-B, tearing target epoch=1
    ip, cp = str(tmp_path / "idx"), str(tmp_path / "cln")
    sink = paragraph_dedup_maintenance_sink(ip, cp)
    for bid, sl in enumerate(slices):
        sink(sl, bid)
    tmp = os.path.join(ip, "_compact_tmp")
    merged = reduce(
        lambda a, b: a.unionByName(b),
        [spark.read.parquet(f"{ip}/epoch={e}") for e in (0, 1)],
    )
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_compact_manifest.json"), "w") as f:
        json.dump({"epochs": [0, 1], "target": 1}, f)
    # tear the target: phase B's overwrite cleared it but never finished
    shutil.rmtree(f"{ip}/epoch=1")
    os.makedirs(f"{ip}/epoch=1")

    # replay of the newest batch (the only replayable one) must heal
    # the torn epoch from the tmp before reading prev
    sink(slices[-1], 2)
    assert not os.path.exists(tmp)
    assert os.path.exists(os.path.join(f"{ip}/epoch=1", "_SUCCESS"))
    assert not os.path.exists(f"{ip}/epoch=0")  # merged into epoch=1
    assert read_clean(cp) == want


def test_curation_stream_matches_sequential_stage_composition(
    checkpointed, tmp_path
):
    """The composed curation sink (blocklist -> C4 line rules ->
    paragraph dedup -> near-dup, two maintained indexes in ONE
    microbatch job) must equal the SEQUENTIAL batch application of the
    same four stages with the same index threading — streaming is a
    composition of the batch operators, nothing more. Restart over the
    same checkpoint curates only the late drop; replaying the highest
    batch id is idempotent."""
    from functools import reduce

    from ehr_data_pipeline_spark.operators.cleaning import (
        build_paragraph_index,
        c4_blocklist_filter,
        c4_line_filter,
        paragraph_dedup_against_index,
    )
    from ehr_data_pipeline_spark.operators.text_dedup import (
        build_minhash_index,
        near_dedup_against_index,
    )
    from ehr_data_pipeline_spark.queries import _c4_lined_text
    from ehr_data_pipeline_spark.streaming import (
        _state_epochs,
        curation_maintenance_sink,
        read_near_dedup_fresh,
    )

    spark = checkpointed
    BLOCK = ("dup",)
    SEP = "\n"
    raw = load_table(spark, SF, "documents").select("doc_id", "text")
    docs = raw.select(
        "doc_id", _c4_lined_text(F.col("doc_id"), F.col("text")).alias("text")
    )
    src = tmp_path / "cur_src"
    slices = [
        docs.filter(F.col("doc_id") < 150),
        docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)),
    ]
    late = docs.filter(F.col("doc_id") >= 300)
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.parquet(str(src / f"f{i}"))

    pip_, mip, cp = (
        str(tmp_path / "cur_pidx"),
        str(tmp_path / "cur_midx"),
        str(tmp_path / "cur_clean"),
    )
    ckpt = str(tmp_path / "cur_ckpt")

    def stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*/*.parquet")
        )

    def batch_sequential(batches):
        para_index = build_paragraph_index(docs.limit(0), sep=SEP)
        mh_index = build_minhash_index(docs.limit(0))
        admitted = {}
        for b in batches:
            page = c4_blocklist_filter(b, BLOCK).select("doc_id", "text")
            lined = c4_line_filter(page).select(
                "doc_id", F.col("clean_text").alias("text")
            )
            cleaned, _ = paragraph_dedup_against_index(
                lined, para_index, sep=SEP
            )
            kept = cleaned.filter(F.col("n_kept") > 0).select(
                "doc_id", F.col("clean_text").alias("text")
            )
            fresh, mh_entries = near_dedup_against_index(kept, mh_index)
            admitted.update({r["doc_id"]: r["text"] for r in fresh.collect()})
            para_index = para_index.unionByName(
                build_paragraph_index(kept, sep=SEP)
            )
            mh_index = mh_index.unionByName(mh_entries)
        return admitted

    drain(
        stream(),
        curation_maintenance_sink(pip_, mip, cp, blocklist=BLOCK, sep=SEP),
        ckpt,
    )
    got = {
        r["doc_id"]: r["text"]
        for r in read_near_dedup_fresh(spark, cp).collect()
    }
    want = batch_sequential(slices)
    assert got == want
    assert 0 < len(got) < docs.count()  # every stage did real work

    # late drop + restart over the same checkpoint
    late.coalesce(1).write.parquet(str(src / "f2"))
    drain(
        stream(),
        curation_maintenance_sink(pip_, mip, cp, blocklist=BLOCK, sep=SEP),
        ckpt,
    )
    want_full = batch_sequential(slices + [late])
    got_full = {
        r["doc_id"]: r["text"]
        for r in read_near_dedup_fresh(spark, cp).collect()
    }
    assert got_full == want_full

    # replay of the highest batch id recomputes from the same
    # predecessors and overwrites its own three epoch directories
    last = max(_state_epochs(mip))
    curation_maintenance_sink(pip_, mip, cp, blocklist=BLOCK, sep=SEP)(
        late, last
    )
    got_replay = {
        r["doc_id"]: r["text"]
        for r in read_near_dedup_fresh(spark, cp).collect()
    }
    assert got_replay == want_full


def test_bm25_sink_heals_pair_compaction_crash(checkpointed, tmp_path):
    """r11 review fix: a crash BETWEEN compact_bm25_index's two
    per-table compactions leaves postings compacted through epoch e
    while lengths still holds deltas below e — the intersection reader
    then scores against a lengths SUBSET (skewed idf/avgdl) and no
    manifest exists to resume. The next sink batch must detect the
    floor mismatch and compact the lagging table through the same
    epoch, restoring exactly the never-crashed scores."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        bm25_search_against_index,
    )
    from ehr_data_pipeline_spark.streaming import (
        _state_epochs,
        bm25_index_maintenance_sink,
        compact_epochs,
        read_bm25_index,
    )

    spark = checkpointed
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    pp, lp = str(tmp_path / "post"), str(tmp_path / "len")
    sink = bm25_index_maintenance_sink(pp, lp)
    batches = [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100))
        for lo in range(0, 300, 100)
    ] + [docs.filter(F.col("doc_id") >= 300)]
    for bid, b in enumerate(batches):
        sink(b, bid)

    def scores():
        p, l = read_bm25_index(spark, pp, lp)
        return sorted(
            map(tuple,
                bm25_search_against_index(p, l, ["hash", "join"]).collect())
        )

    want = scores()
    # simulate the inter-table crash: postings compacted through 2,
    # lengths untouched
    assert compact_epochs(spark, pp, through_epoch=2) >= 2
    assert min(_state_epochs(pp, complete_only=True)) == 2
    assert min(_state_epochs(lp, complete_only=True)) == 0
    # the skewed window is real: the intersection now hides lengths 0-1
    # (scores would be computed over a torn doc set) — next sink batch
    # heals before writing
    sink(batches[-1], len(batches) - 1)  # replay of the newest batch id
    assert min(_state_epochs(lp, complete_only=True)) == 2  # healed
    assert scores() == want


def test_read_bm25_index_raises_on_pair_compaction_skew(
    checkpointed, tmp_path
):
    """ADVICE r11 (low): a STANDALONE reader in the window after an
    inter-table compaction crash (before any writer's entry heal runs)
    must not silently score against the skewed intersection —
    read_bm25_index detects the unequal complete-epoch floors and
    raises with the remedy; after compact_bm25_index's entry heal the
    same read succeeds with the never-crashed content."""
    import pytest as _pytest

    from ehr_data_pipeline_spark.streaming import (
        _state_epochs,
        bm25_index_maintenance_sink,
        compact_bm25_index,
        compact_epochs,
        read_bm25_index,
    )

    spark = checkpointed
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    pp, lp = str(tmp_path / "post"), str(tmp_path / "len")
    sink = bm25_index_maintenance_sink(pp, lp)
    for bid, lo in enumerate(range(0, 300, 100)):
        sink(
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)
            ),
            bid,
        )
    p, l = read_bm25_index(spark, pp, lp)
    want = (sorted(map(tuple, p.collect())), sorted(map(tuple, l.collect())))

    # inter-table crash: postings compacted through 1, lengths untouched
    assert compact_epochs(spark, pp, through_epoch=1) >= 1
    with _pytest.raises(RuntimeError, match="pair-compaction skew"):
        read_bm25_index(spark, pp, lp)

    # the documented remedy: compact_bm25_index's entry heal
    compact_bm25_index(spark, pp, lp, through_epoch=1)
    assert min(_state_epochs(lp, complete_only=True)) == 1
    p, l = read_bm25_index(spark, pp, lp)
    got = (sorted(map(tuple, p.collect())), sorted(map(tuple, l.collect())))
    assert got == want


def test_resume_tolerates_torn_manifest(checkpointed, tmp_path):
    """r11 review fix: a crash mid-manifest-write used to leave a torn
    _compact_manifest.json that made every subsequent sink batch raise
    at entry. The manifest is now written atomically, and a torn one
    (simulated) is treated as a phase-A crash: tmp cleared, no epoch
    touched, the sink proceeds normally."""
    import os

    from ehr_data_pipeline_spark.queries import _para_lined_docs
    from ehr_data_pipeline_spark.streaming import (
        _resume_pending_compaction,
        paragraph_dedup_maintenance_sink,
    )

    spark = checkpointed
    docs = _para_lined_docs(
        load_table(spark, SF, "documents").select("doc_id", "text")
    )
    ip, cp = str(tmp_path / "idx"), str(tmp_path / "cln")
    sink = paragraph_dedup_maintenance_sink(ip, cp)
    sink(docs.filter(F.col("doc_id") < 100), 0)
    sink(docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)), 1)

    tmp = os.path.join(ip, "_compact_tmp")
    os.makedirs(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    with open(os.path.join(tmp, "_compact_manifest.json"), "w") as f:
        f.write('{"epochs": [0, 1], "tar')  # torn mid-write
    assert _resume_pending_compaction(spark, ip) == 0
    assert not os.path.exists(tmp)
    # and a subsequent batch runs fine on the intact epochs
    sink(docs.filter(F.col("doc_id") >= 200), 2)
    assert sorted(
        int(d.split("=")[1]) for d in os.listdir(ip) if d.startswith("epoch=")
    ) == [0, 1, 2]


def test_drain_timeout_stops_query_and_raises(checkpointed, tmp_path, monkeypatch):
    """A drain still running at DRAIN_TIMEOUT_SEC must not hand back a
    live query: it stops the query and raises TimeoutError naming the
    checkpoint."""
    import time

    from ehr_data_pipeline_spark import streaming

    spark = checkpointed
    src = tmp_path / "slow_src"
    spark.range(4).write.parquet(str(src))
    stream = spark.readStream.schema("id long").parquet(str(src))
    ckpt = str(tmp_path / "slow_ckpt")
    monkeypatch.setattr(streaming, "DRAIN_TIMEOUT_SEC", 1)
    with pytest.raises(TimeoutError, match="slow_ckpt"):
        drain(stream, lambda df, batch_id: time.sleep(4), ckpt)
    assert spark.streams.active == []


def test_drain_surfaces_sink_failure(checkpointed, tmp_path):
    """A sink that raises fails the drain with StreamingQueryException
    carrying the sink's error, and leaves no active query behind."""
    from pyspark.errors import StreamingQueryException

    spark = checkpointed
    src = tmp_path / "bad_src"
    spark.range(4).write.parquet(str(src))
    stream = spark.readStream.schema("id long").parquet(str(src))

    def sink(df, batch_id):
        raise ValueError("sink failed on purpose")

    with pytest.raises(StreamingQueryException, match="sink failed on purpose"):
        drain(stream, sink, str(tmp_path / "bad_ckpt"))
    assert spark.streams.active == []
