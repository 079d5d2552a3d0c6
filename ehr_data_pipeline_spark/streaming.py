"""Structured Streaming twin of the batch event pipeline (SURVEY §2.7
"streaming" gap — the reference is a daily Airflow batch DAG,
``/root/reference/json_pipeline.py:35,1080-1132``, re-listing the input
directory every run; Spark-first, the same logical plan runs incrementally
over ``readStream`` with a watermark and exactly-once file tracking).

Design:

- **Same plan, two sources.** :func:`hourly_event_counts` is the identical
  aggregation to the batch ``events_hourly`` registry query (tumbling
  1-hour window on ``ts`` × ``event_type``, decimal-exact value sums), so
  batch output is the correctness oracle for the stream — asserted in
  ``tests/test_streaming.py`` by running the file stream with an
  ``availableNow`` trigger and diffing against the batch result.
- **Watermarks bound state.** ``withWatermark(ts, ...)`` lets the state
  store evict windows older than max(event time) − delay; without it a
  100 TB backfill accumulates every window ever seen. Append mode emits a
  window exactly once, when the watermark passes its end — the mode to
  pair with an idempotent sink; complete mode re-emits all windows each
  microbatch and exists here for tests/demos only.
- **File-source scaling.** ``maxFilesPerTrigger`` paces backfills so one
  microbatch never has to shuffle the whole history at once;
  checkpointing makes restarts exactly-once (the memory-sink test path
  uses an ephemeral checkpoint).
- **One way to run a sink.** Every ``*_sink`` factory below returns a
  ``foreachBatch`` writer; :func:`drain` runs any of them over a stream
  with an ``availableNow`` trigger and a real checkpoint:
  ``drain(stream, near_dedup_maintenance_sink(index, fresh), ckpt)``.
  A drain that is still running after :data:`DRAIN_TIMEOUT_SEC` is
  stopped and raises ``TimeoutError`` naming its checkpoint; a sink
  that raises surfaces as ``StreamingQueryException``.

The events schema is read from the parquet footer once on the driver
(streaming file sources require an explicit schema) and the same
event-time normalization (nanos→micros / NTZ→UTC) as ``tables.load_table``
is applied,
so batch and stream see byte-identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ehr_data_pipeline_spark.tables import NANOS_TS_COLS, _normalize_event_time


def _as_glob(path: str) -> str:
    """The file-stream source requires a directory or a glob (a bare file
    path fails basePath validation). Wrap a path's last character in a
    one-character class so a single-file table reads as a glob matching
    exactly that file; directories and existing globs pass through."""
    import glob as _glob
    import os

    if os.path.isfile(path) and not _glob.has_magic(path):
        return f"{path[:-1]}[{path[-1]}]"
    return path


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental scan of the events table: explicit schema from one
    driver-side footer read, then the same TIMESTAMP(NANOS) → micros
    normalization as the batch loader, so downstream plans are
    source-agnostic."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(_as_glob(path))
    for col in NANOS_TS_COLS.get("events", ()):
        if col in df.columns:
            df = _normalize_event_time(df, col)
    return df


def hourly_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of the ``events_hourly`` batch query: tumbling
    1-hour window × event_type, count + decimal-exact value sum. The
    watermark bounds the state store: a window's state is dropped (and,
    in append mode, its single final row emitted) once event time passes
    window end + delay, so state size is O(active windows), not
    O(stream length)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(events: DataFrame, watermark: str | None = "2 hours") -> DataFrame:
    """Gap-based per-user sessionization — the canonical custom stateful
    streaming operator, expressed with the BUILT-IN ``session_window``
    (merging-window state in the JVM state store; no Python in the loop —
    ``applyInPandasWithState`` stays reserved for semantics built-ins
    can't express). A session groups a user's events while consecutive
    gaps are <= 30 minutes — the boundary is INCLUSIVE (session windows
    [t, t+gap] merge on touch), so an event exactly 30 minutes after its
    predecessor still extends the session; only a strictly larger gap
    starts a new one. Pinned cross-engine by the exact-gap pair in
    tests/test_edge_corpus.py.

    Emits (user_id, session_start, session_end, n_events) with the real
    first/last event times (``session_window.end`` would be
    last event + gap). Works identically over a batch DataFrame
    (``watermark=None``) — the batch twin is the ``user_sessions``
    registry query, oracle-checked against a lag/cumsum SQL formulation.

    Timeline contract: ``session_window`` silently drops NULL event-time
    rows in streaming; the explicit filter makes the batch path do the
    SAME thing, on purpose and visibly (``functions/measurement.py``)."""
    events = events.where(F.col("ts").isNotNull())
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def enrich_stream_static(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
) -> DataFrame:
    """Stream-static enrichment join: each microbatch of the stream joins
    against the (bounded) dimension DataFrame. The static side is
    broadcast — re-evaluated per microbatch, so a dimension backed by a
    table picks up slowly-changing updates between batches without any
    state store (stream-static joins are stateless by definition; only
    stream-stream joins buffer rows). At 100 TB stream rates the
    broadcast is the difference between a per-microbatch shuffle of the
    stream and none. The join is stream-side left outer — right/full
    would need unbounded state over the static side's unmatched keys and
    Spark rejects it."""
    keys = [on] if isinstance(on, str) else list(on)
    return stream.join(F.broadcast(dim), keys, "left")


def dedup_events_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup — the stream twin of the batch key-dedup
    (operators.dedup.keep_first / SURVEY U2): emits the first occurrence
    of each ``event_id`` and drops re-deliveries (at-least-once sources,
    retried producers). ``dropDuplicatesWithinWatermark`` keeps a key's state
    only until the watermark passes its event time + 2 hours, so state is
    O(keys per watermark window), not O(keys ever seen) — the property
    that lets a 100 TB/day ingest run forever. Exactly-once *within* the
    watermark horizon; a duplicate arriving later than the delay is
    treated as new (the standard trade)."""
    return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_time: str,
    right_time: str,
) -> DataFrame:
    """Stream-stream equi-key INTERVAL join: each left event pairs with
    the same key's right events in ``[left_time - 10 minutes, left_time]``
    — the streaming twin of ``operators.temporal.range_join`` (batch
    output is the correctness oracle, asserted in tests).

    This is the join class where Structured Streaming NEEDS both pieces
    of metadata to bound state: the watermarks tell the store how late
    either side can still arrive, and the time-range predicate tells it
    how long a buffered row can still find partners — together each side
    buffers only 2 hours + 10 minutes of history, so state is
    O(arrival rate × horizon), not O(stream length). Without the range
    condition Spark rejects/unbounded-buffers a stream-stream join.
    ``right_time`` must differ from ``left_time`` in name (the range
    predicate references both sides); key columns are deduplicated to
    the left side in the output. Inner join: late rows beyond the
    watermark drop, the standard trade."""
    keys = [on] if isinstance(on, str) else list(on)
    lw = left.withWatermark(left_time, "2 hours")
    rw = right.withWatermark(right_time, "2 hours")
    cond = None
    for k in keys:
        eq = lw[k] == rw[k]
        cond = eq if cond is None else cond & eq
    cond = (
        cond
        & (F.col(right_time) >= F.col(left_time) - F.expr("INTERVAL 10 minutes"))
        & (F.col(right_time) <= F.col(left_time))
    )
    joined = lw.join(rw, cond, "inner")
    for k in keys:
        joined = joined.drop(rw[k])
    return joined


EWMA_OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, ewma double, last_event_us bigint"
)
EWMA_STATE_SCHEMA = "n bigint, ewma double, last_event_us bigint"
EWMA_ALPHA = 0.3


def _ewma_fold(values, n: int, ewma: float | None):
    """Order-dependent EWMA fold shared by the streaming state update and
    the batch twin in ``tests/test_streaming.py`` — one code path, so
    stream == batch exactly (same IEEE ops in the same order)."""
    for v in values:
        ewma = (
            float(v) if ewma is None
            else EWMA_ALPHA * float(v) + (1.0 - EWMA_ALPHA) * ewma
        )
        n += 1
    return n, ewma


def user_value_ewma_stream(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user exponentially-weighted moving average of ``value``. An EWMA is
    an ORDER-DEPENDENT fold over each user's event history — not
    expressible with built-in streaming aggregates (no ordered window in a
    stream), which is exactly the case the Arrow-batched state API exists
    for.

    Mechanics: state = (n, ewma, last_event_us) per user, updated by
    folding each microbatch's rows in ``ts`` order (alpha 0.3); one
    updated row per user per microbatch (update mode). No state timeout
    is registered, so ``availableNow`` drains terminate once the data is
    exhausted. Python is in the loop, but
    Arrow-batched and only O(|microbatch|) per trigger — the 100 TB
    backfill cost is paced by ``maxFilesPerTrigger``, and state lives in
    the JVM state store between triggers."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        (user_id,) = key
        n, ewma, last_us = state.get if state.exists else (0, None, None)
        batch = pd.concat(list(pdfs)).sort_values("ts")
        if len(batch):
            n, ewma = _ewma_fold(batch["value"].to_list(), n, ewma)
            last_us = int(batch["ts"].astype("int64").max()) // 1000
        state.update((n, ewma, last_us))
        yield pd.DataFrame(
            [{"user_id": user_id, "n_events": n, "ewma": ewma,
              "last_event_us": last_us}]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def parquet_batch_sink(path: str):
    """foreachBatch writer for exactly-once parquet output: each
    microbatch lands in its own ``batch_id=N`` directory with
    ``mode=overwrite``, so a REPLAYED batch (failure between sink write
    and checkpoint commit — the at-least-once window every foreachBatch
    sink has) overwrites its own directory instead of appending
    duplicates. Idempotent replay + source tracking = exactly-once
    end-to-end. Readers get the union via a plain recursive parquet read
    with ``batch_id`` as a partition column; compact with
    ``sinks.compact_parquet`` once a day when batch dirs accumulate."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return write


DRAIN_TIMEOUT_SEC = 300


def _await_drained(query: StreamingQuery, where: str) -> StreamingQuery:
    """Wait up to :data:`DRAIN_TIMEOUT_SEC` for an ``availableNow`` query
    to finish and return it. A failed query raises its
    ``StreamingQueryException``; one still running at the bound is
    stopped, never handed back live, and raises ``TimeoutError`` naming
    ``where``."""
    if not query.awaitTermination(DRAIN_TIMEOUT_SEC):
        query.stop()
        raise TimeoutError(
            f"streaming drain ({where}) still running after "
            f"{DRAIN_TIMEOUT_SEC} s; stopped it"
        )
    return query


def drain(df: DataFrame, sink, checkpoint: str) -> StreamingQuery:
    """Run ``sink`` — a ``foreachBatch`` writer, e.g. one of this
    module's ``*_sink`` factories — over the stream's available input
    with an ``availableNow`` trigger and a REAL checkpoint, and return
    the finished query. Restartable: a later drain over the same
    checkpoint processes only files that arrived since, against the
    state the sink has accumulated (exactly-once by the sink's own
    idempotent-epoch contract). Failure and timeout outcomes are those
    of :func:`_await_drained`."""
    query = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return _await_drained(query, f"checkpoint {checkpoint}")


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Drain the stream's current input with an ``availableNow`` trigger
    into an in-memory table ``name`` (test/demo sink): processes all
    available files in rate-limited microbatches, then stops. Query the
    result with ``spark.sql(f"SELECT * FROM {name}")``."""
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    return _await_drained(query, f"memory table {name}")


def scd2_dimension_sink(
    dim_path: str,
    keys: "Sequence[str]",
    attrs: "Sequence[str]",
    tiebreak: str | None = None,
):
    """foreachBatch maintainer for an SCD2 dimension fed by an event
    stream — the streaming composition of ``operators.scd``: every
    microbatch merges into the dimension with the O(|versions|+|batch|)
    incremental ``scd2_apply_batch`` (never re-reading the raw history),
    and the result lands in an epoch directory keyed by batch_id.

    Exactly-once via the same idempotent-epoch argument as
    ``parquet_batch_sink``: a batch reads the LATEST EPOCH STRICTLY BELOW
    its own batch_id and overwrites its own epoch, so a replayed batch
    (crash between write and checkpoint commit) recomputes from the same
    predecessor and overwrites the same directory — byte-stable, no
    duplication. Requires the stream's event time to be append-only per
    key across batches (``scd2_apply_batch``'s contract; a file source
    fed by time-ordered drops satisfies it — late events need a rebuild
    of the affected keys, the standard warehouse trade).

    Epoch discovery uses a filesystem listing (sufficient for path-based
    deployments and tests); swap for a catalog/transaction log where one
    exists. Read the current dimension with :func:`read_epoch_state`."""
    from ehr_data_pipeline_spark.operators.scd import (
        scd2_apply_batch,
        scd2_compress,
    )

    return incremental_epoch_sink(
        dim_path,
        init_fn=lambda b: scd2_compress(b, keys, attrs, tiebreak),
        merge_fn=lambda state, b: scd2_apply_batch(state, b, keys, attrs, tiebreak),
    )


def incremental_epoch_sink(state_path: str, init_fn, merge_fn):
    """Generic idempotent-epoch foreachBatch maintainer — the shared
    machinery behind the SCD2 and rollup sinks: ``init_fn(batch_df)``
    builds the state from the first batch, ``merge_fn(prev_state_df,
    batch_df)`` folds each later batch in, and every batch's result
    lands in ``{state_path}/epoch={batch_id}``. Exactly-once by the
    idempotent-epoch argument (read strictly-below, overwrite own): a
    replayed batch recomputes from the same predecessor and overwrites
    the same directory."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = [e for e in _state_epochs(state_path) if e < batch_id]
        if prev:
            state = spark.read.parquet(f"{state_path}/epoch={max(prev)}")
            out = merge_fn(state, batch_df)
        else:
            out = init_fn(batch_df)
        out.write.mode("overwrite").parquet(f"{state_path}/epoch={batch_id}")

    return write


def _state_epochs(dim_path: str, complete_only: bool = False) -> "list[int]":
    """Epoch ids under ``dim_path`` via a driver-local listing. Local
    paths ONLY: on a remote filesystem the local glob would silently see
    nothing and every batch would discard all accumulated history, so a
    scheme-qualified path is an error, not a silent wrong answer — swap
    this listing for a catalog/Hadoop-FS call in such deployments.
    ``complete_only`` keeps epochs whose parquet write finished (the
    _SUCCESS marker), protecting READERS from a crash mid-write of the
    newest epoch (the sink itself is safe either way: it reads strictly
    below its own batch id and overwrites its own directory)."""
    import glob as _glob
    import os

    if "://" in dim_path:
        raise ValueError(
            f"scd2 epoch listing is local-filesystem only, got {dim_path!r}"
        )
    return [
        int(os.path.basename(p).split("=", 1)[1])
        for p in _glob.glob(f"{dim_path}/epoch=*")
        if not complete_only or os.path.exists(os.path.join(p, "_SUCCESS"))
    ]


def _union_epochs(
    spark: SparkSession, path: str, epochs: "Iterable[int]"
) -> DataFrame:
    """The union of the ``{path}/epoch={e}`` directories over the given
    (non-empty) epochs, in ascending epoch order."""
    from functools import reduce

    return reduce(
        lambda a, b: a.unionByName(b),
        [spark.read.parquet(f"{path}/epoch={e}") for e in sorted(epochs)],
    )


def _index_below(
    spark: SparkSession, path: str, batch_id: int, empty: DataFrame
) -> DataFrame:
    """What a delta-epoch sink's batch ``batch_id`` dedups against: the
    union of every epoch of ``path`` strictly below its own id, or
    ``empty`` when there is none. Any pending compaction is resumed
    first, so a replayed batch never reads a torn merged epoch (its
    listing has no ``complete_only`` — see
    :func:`_resume_pending_compaction`)."""
    _resume_pending_compaction(spark, path)
    prev = [e for e in _state_epochs(path) if e < batch_id]
    return _union_epochs(spark, path, prev) if prev else empty


def _auto_compact(spark: SparkSession, path: str, every: "int | None") -> None:
    """A sink's ``auto_compact_every`` policy: :func:`compact_epochs`
    once ``path`` holds at least ``every`` complete epochs (``None`` =
    never). Replay-safe: the compaction leaves the newest epoch a pure
    delta."""
    if every is not None and len(_state_epochs(path, complete_only=True)) >= every:
        compact_epochs(spark, path)


def read_epoch_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The current maintained state: the highest COMPLETE epoch directory
    (each epoch is a full merged snapshot, so no union across epochs; an
    epoch without its _SUCCESS marker — a crash mid-write — is skipped,
    keeping readers on the previous snapshot until the stream's restart
    overwrites it)."""
    epochs = _state_epochs(state_path, complete_only=True)
    if not epochs:
        raise FileNotFoundError(f"no complete epochs under {state_path}")
    return spark.read.parquet(f"{state_path}/epoch={max(epochs)}")


def rollup_maintenance_sink(rollup_path: str):
    """foreachBatch maintainer for a continuous aggregate (hypertable
    rollup): each microbatch's partial rollup merges cell-wise into the
    maintained rollup (``operators.temporal.rollup_merge`` — mergeable
    counts/exact-decimal sums/min/max, O(|affected buckets|), history
    never re-read). Unlike the SCD2 sink this needs NO event-time
    ordering across batches: cell-wise merge commutes, so late data just
    lands in its bucket. Read with :func:`read_rollup`."""
    from ehr_data_pipeline_spark.operators.temporal import (
        rollup_merge,
        time_rollup,
    )

    def roll(df: DataFrame) -> DataFrame:
        return time_rollup(df)

    return incremental_epoch_sink(
        rollup_path,
        init_fn=roll,
        merge_fn=lambda state, b: rollup_merge(state, roll(b)),
    )


def hll_maintenance_sink(
    state_path: str,
    col: str,
    group_cols: "tuple[str, ...]" = (),
):
    """foreachBatch maintainer for streaming distinct counts: each
    microbatch's HLL registers merge cell-wise (MAX) into the maintained
    register set (``operators.sketches.hll_merge``). Like the rollup
    sink this needs NO event-time ordering across batches — max
    commutes, is idempotent, and merge(hll(A), hll(B)) == hll(A∪B)
    exactly, so late or replayed data can only re-assert registers. The
    state is ≤ m rows per group forever, no matter how much stream has
    flowed. Read with :func:`read_hll_estimate`."""
    from ehr_data_pipeline_spark.operators.sketches import hll_build, hll_merge

    return incremental_epoch_sink(
        state_path,
        init_fn=lambda b: hll_build(b, col, group_cols),
        merge_fn=lambda state, b: hll_merge(
            state, hll_build(b, col, group_cols), group_cols=group_cols
        ),
    )


def read_hll_estimate(
    spark: SparkSession, state_path: str, group_cols: "tuple[str, ...]" = ()
) -> DataFrame:
    """Current streaming distinct-count estimates from the maintained
    registers."""
    from ehr_data_pipeline_spark.operators.sketches import hll_estimate

    return hll_estimate(read_epoch_state(spark, state_path), group_cols)


def cm_maintenance_sink(state_path: str, col: str):
    """foreachBatch maintainer for streaming frequency estimates: each
    microbatch's count-min cells merge cell-wise (SUM) into the
    maintained sketch (``operators.sketches.cm_merge``). Cell-wise
    addition commutes, so no event-time ordering is needed; state is
    ≤ DEFAULT_DEPTH×DEFAULT_WIDTH rows forever. NOT replay-idempotent by itself (sums
    double-count) — exactly-once comes from the epoch sink's
    read-strictly-below/overwrite-own contract, which recomputes a
    replayed batch from the same predecessor."""
    from ehr_data_pipeline_spark.operators import sketches as sk

    return incremental_epoch_sink(
        state_path,
        init_fn=lambda b: sk.cm_build(b, col),
        merge_fn=lambda state, b: sk.cm_merge(state, sk.cm_build(b, col)),
    )


def hist_maintenance_sink(
    state_path: str,
    col: str,
    lo: float,
    hi: float,
):
    """foreachBatch maintainer for streaming quantile summaries: each
    microbatch's fixed-grid histogram merges cell-wise (SUM) into the
    maintained one (``operators.sketches.hist_merge``); read-side
    quantiles come from ``hist_quantile`` over
    :func:`read_epoch_state`. Same exactly-once argument as the
    count-min sink."""
    from ehr_data_pipeline_spark.operators import sketches as sk

    return incremental_epoch_sink(
        state_path,
        init_fn=lambda b: sk.hist_build(b, col, lo, hi),
        merge_fn=lambda state, b: sk.hist_merge(state, sk.hist_build(b, col, lo, hi)),
    )


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The finalized continuous aggregate (derived sum/avg from the
    maintained mergeable partials)."""
    from ehr_data_pipeline_spark.operators.temporal import rollup_finalize

    return rollup_finalize(read_epoch_state(spark, rollup_path))


def near_dedup_maintenance_sink(
    index_path: str,
    fresh_path: str,
    auto_compact_every: "int | None" = None,
):
    """foreachBatch maintainer for CONTINUOUS near-dup dedup — the
    streaming composition of ``text_dedup.near_dedup_against_index``:
    each microbatch dedups against the maintained MinHash index (and
    against its own lower ids), its fresh rows land in
    ``{fresh_path}/epoch={batch_id}``, and the index grows by exactly the
    fresh docs' entries into ``{index_path}/epoch={batch_id}``. Same
    idempotent-epoch exactly-once argument as the SCD2 sink: a replayed
    batch reads the index strictly below its own id and overwrites both
    of its own epoch directories. The maintained state is the (id, sh,
    sig) index — the thing a 100 TB ingest keeps anyway. The per-batch
    work is :func:`_near_dedup_epoch`, shared with the curation sink.
    Per-batch builder caches are released after the writes so a
    long-lived stream does not accumulate them.

    Epoch layout (ADVICE r8; corrected per ADVICE r9): each index epoch
    holds ONLY that batch's new entries (a delta), and a batch reads
    the UNION of every epoch strictly below its own id — per-epoch
    write volume is O(batch fresh) instead of O(accumulated index), so
    cumulative write volume over the stream's life is linear, not
    quadratic. The replay INVARIANT holds (a replayed batch recomputes
    from the same predecessors and overwrites its own directory), but
    the READ SET changed vs the pre-r9 snapshot layout: deltas read the
    union of ALL prior epochs where snapshots read only max(prev).
    MIGRATION from a pre-r9 cumulative-snapshot index path: each old
    epoch was a full snapshot, so delete all but the highest epoch
    directory before resuming the stream — resuming directly would
    union the snapshots and duplicate every historical entry.
    Consequence of deltas: every epoch directory is live state —
    compact with :func:`compact_epochs` (merges e₁..e_k into epoch=e_k,
    equivalent for all future reads), never by deleting deltas — or set
    ``auto_compact_every=K`` to run it from inside the sink whenever the
    index accumulates ≥ K epochs (replay-safe by construction: the
    newest epoch stays a pure delta, every earlier read set is
    content-identical after the merge; proven on the paragraph sink
    first, same policy). Every batch entry first RESUMES any pending
    compaction (auto or manual) so a crash mid-compaction can never
    leave a replayed batch reading a torn merged epoch (ADVICE r10)."""
    from ehr_data_pipeline_spark.operators.text_dedup import release_builder_caches

    def write(batch_df: DataFrame, batch_id: int) -> None:
        try:
            _near_dedup_epoch(batch_df, batch_id, index_path, fresh_path)
            _auto_compact(batch_df.sparkSession, index_path, auto_compact_every)
        finally:
            release_builder_caches()

    return write


def _near_dedup_epoch(
    batch_df: DataFrame, batch_id: int, index_path: str, fresh_path: str
) -> None:
    """One microbatch of continuous MinHash near-dedup, shared by the
    near-dedup and curation sinks: read the index epochs below
    ``batch_id``, run ``text_dedup.near_dedup_against_index``, land the
    fresh rows in ``{fresh_path}/epoch={batch_id}``, and write the index
    delta to ``{index_path}/epoch={batch_id}``. The index read happens
    before either write, so a replayed batch recomputes from the same
    predecessors.

    The delta is rebuilt from the LANDED fresh parquet, and the operator's
    new-entries frame is discarded (ADVICE r11, low): that frame shares the
    band-join lineage with ``fresh``, while the rebuild is content-identical
    because (sh, sig) are pure functions of the text. Profiled at sf0.1
    (NOTES_r12), the two are wall-parity today because the operator persists
    its band-join intermediates, so the rebuild is chosen for
    cache-independence: under executor memory pressure those persists evict
    and a second action would silently re-run the candidate join, while the
    landed read is deterministic O(batch) I/O."""
    from ehr_data_pipeline_spark.operators.text_dedup import (
        build_minhash_index,
        near_dedup_against_index,
    )

    spark = batch_df.sparkSession
    index = _index_below(
        spark, index_path, batch_id,
        build_minhash_index(batch_df.limit(0)),
    )
    fresh, _ = near_dedup_against_index(batch_df, index)
    fresh.write.mode("overwrite").parquet(f"{fresh_path}/epoch={batch_id}")
    landed = spark.read.parquet(f"{fresh_path}/epoch={batch_id}")
    build_minhash_index(landed).write.mode("overwrite").parquet(
        f"{index_path}/epoch={batch_id}"
    )


def _resume_pending_compaction(spark: SparkSession, state_path: str) -> int:
    """Finish an INTERRUPTED :func:`compact_epochs` run, or clear its
    half-written tmp — without planning any new compaction. The crash
    windows and what each leaves behind:

    - during phase A (tmp union being written; no manifest+_SUCCESS yet):
      no epoch directory was touched — delete the stale tmp and return 0.
    - during phase B (target epoch torn, no _SUCCESS) or phase C (some
      merged deltas deleted, tmp still present): the manifest + complete
      tmp exist — redo B from the tmp and re-run C. Phase B's redo heals
      the torn target; C's deletes are idempotent.

    Returns the number of epochs whose merge was completed (0 = nothing
    pending). Every maintenance sink that reads prior epochs calls this
    at batch entry (ADVICE r10, medium): a replayed batch lists prev
    epochs WITHOUT ``complete_only`` (its own read contract), so a torn
    compaction target below the replaying batch id would otherwise fail
    the read — or, worse, silently dedup against incomplete history and
    permanently re-admit previously seen content."""
    import json
    import os
    import shutil

    tmp = os.path.join(state_path, "_compact_tmp")
    manifest_path = os.path.join(tmp, "_compact_manifest.json")
    if os.path.exists(manifest_path) and os.path.exists(
        os.path.join(tmp, "_SUCCESS")
    ):
        try:
            with open(manifest_path) as f:
                m = json.load(f)
        except (json.JSONDecodeError, OSError):
            # a torn manifest means phase B never started (the manifest
            # is written atomically AFTER the tmp union completes and
            # BEFORE any epoch dir is touched) — treat as a phase-A
            # crash rather than wedging every future batch on the parse
            m = None
        if m is not None:
            return _finish_compaction(
                spark, state_path, m["epochs"], m["target"]
            )
    shutil.rmtree(tmp, ignore_errors=True)
    return 0


def _finish_compaction(
    spark: SparkSession, state_path: str, epochs: "list[int]", target: int
) -> int:
    """Phases B+C of :func:`compact_epochs`, re-runnable from the
    manifest: overwrite the target epoch from the complete tmp union
    (Spark writes _SUCCESS last, so complete_only readers never see a
    torn target), then delete the merged smaller epochs, tmp LAST so a
    crash at any point resumes here."""
    import os
    import shutil

    tmp = os.path.join(state_path, "_compact_tmp")
    spark.read.parquet(tmp).write.mode("overwrite").parquet(
        f"{state_path}/epoch={target}"
    )
    for e in epochs:
        if e != target:
            shutil.rmtree(f"{state_path}/epoch={e}", ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return len(epochs)


def compact_epochs(
    spark: SparkSession,
    state_path: str,
    through_epoch: "int | None" = None,
) -> int:
    """Merge the delta epochs of a maintained index/corpus directory
    (the ``{path}/epoch={batch_id}`` layout of the near-dedup, semantic
    and BM25 maintenance sinks and the fresh-corpus outputs) into ONE
    directory — the compaction rule those sinks document (VERDICT r9
    #4): epochs e₁..e_k merge into ``epoch=e_k``, which is equivalent
    for every future read (readers union all complete epochs; a sink's
    batch b reads the union of epochs < b, and every merged epoch is
    < any future batch id). Returns the number of epochs merged (0 =
    nothing to do). Without compaction a long-lived stream accumulates
    one directory per microbatch forever and every read unions all of
    them.

    ``through_epoch=None`` compacts all complete epochs EXCEPT the
    highest: under the streaming checkpoint contract the only batch
    that can replay after a crash is the last uncommitted one, and a
    replayed batch overwrites its own epoch directory with just its own
    delta — so the newest epoch must stay a pure delta or a replay
    would wipe merged history. Pass ``through_epoch`` explicitly only
    when the stream is stopped. NEVER compact by deleting deltas.

    Crash-safe and RE-ENTRANT on the local filesystems the epoch
    listing supports (swap for a transactional catalog elsewhere):
    phase A writes the merged set to ``_compact_tmp`` (invisible to the
    ``epoch=*`` glob) with a manifest; phase B overwrites the target
    epoch from the tmp; phase C deletes the merged smaller epochs, tmp
    last. A re-run after a crash resumes from the manifest: A is
    atomic-by-_SUCCESS, B is redone from tmp, C just re-deletes.

    BM25 CAVEAT: :func:`read_bm25_index` intersects the postings and
    lengths complete-epoch sets, so compacting one table but not the
    other HIDES the other's uncompacted history — always compact both
    through the same epoch (:func:`compact_bm25_index`)."""
    import json
    import os

    tmp = os.path.join(state_path, "_compact_tmp")
    manifest_path = os.path.join(tmp, "_compact_manifest.json")

    # resume an interrupted run before planning a new one
    resumed = _resume_pending_compaction(spark, state_path)
    if resumed:
        return resumed

    complete = sorted(_state_epochs(state_path, complete_only=True))
    if through_epoch is None:
        complete = complete[:-1]
    else:
        complete = [e for e in complete if e <= through_epoch]
    if len(complete) < 2:
        return 0
    target = max(complete)
    # phase A: materialize the union outside the epoch=* namespace
    _union_epochs(spark, state_path, complete).write.mode("overwrite").parquet(tmp)
    # atomic manifest (write-then-rename): a crash mid-write must never
    # leave a torn manifest under the final name — the resume path
    # would otherwise fail to parse it at every subsequent sink batch
    with open(manifest_path + ".writing", "w") as f:
        json.dump({"epochs": complete, "target": target}, f)
    os.replace(manifest_path + ".writing", manifest_path)
    return _finish_compaction(spark, state_path, complete, target)


def _heal_bm25_compaction_skew(
    spark: SparkSession, postings_path: str, lengths_path: str
) -> None:
    """Finish a PAIR compaction that died between its two tables
    (ADVICE r11 follow-up to the r10 torn-epoch fix): a crash after
    :func:`compact_bm25_index` compacted table A through epoch e but
    before it compacted table B leaves A's complete epochs starting at
    e while B still has deltas below e — :func:`read_bm25_index`'s
    intersection then reads A's merged history against a SUBSET of B's
    (B's sub-e rows fall outside the intersection), silently skewing
    every score, and no per-table manifest exists for
    :func:`_resume_pending_compaction` to resume. The torn state is
    detectable from the epoch floors alone (both tables see every
    batch id, so equal-compaction implies equal floors): whichever
    table's minimum complete epoch is HIGHER was the one compacted —
    compact the other through that same floor. Idempotent: healed
    tables have equal floors and this is a no-op."""
    ca = _state_epochs(postings_path, complete_only=True)
    cb = _state_epochs(lengths_path, complete_only=True)
    if not ca or not cb or min(ca) == min(cb):
        return
    if min(ca) > min(cb):
        compact_epochs(spark, lengths_path, through_epoch=min(ca))
    else:
        compact_epochs(spark, postings_path, through_epoch=min(cb))


def compact_bm25_index(
    spark: SparkSession,
    postings_path: str,
    lengths_path: str,
    through_epoch: "int | None" = None,
) -> int:
    """Compact BOTH BM25 index tables through the SAME epoch — required
    because :func:`read_bm25_index` intersects their complete-epoch
    sets (see :func:`compact_epochs`). With ``through_epoch=None`` the
    shared bound is the highest epoch complete in both tables, minus
    one (the newest stays a pure delta for replay). Entry first heals
    a previous pair compaction that died between the two tables
    (:func:`_heal_bm25_compaction_skew`)."""
    _heal_bm25_compaction_skew(spark, postings_path, lengths_path)
    if through_epoch is None:
        shared = sorted(
            set(_state_epochs(postings_path, complete_only=True))
            & set(_state_epochs(lengths_path, complete_only=True))
        )
        if len(shared) < 3:
            return 0
        through_epoch = shared[-2]
    n = compact_epochs(spark, postings_path, through_epoch)
    compact_epochs(spark, lengths_path, through_epoch)
    return n


def read_near_dedup_fresh(spark: SparkSession, fresh_path: str) -> DataFrame:
    """All documents the streaming near-dedup admitted so far: the union
    of every COMPLETE fresh epoch (each epoch holds one microbatch's
    survivors — disjoint by construction, so the union is the deduped
    corpus in arrival order)."""
    epochs = _state_epochs(fresh_path, complete_only=True)
    if not epochs:
        raise FileNotFoundError(f"no complete epochs under {fresh_path}")
    return _union_epochs(spark, fresh_path, epochs)


def paragraph_dedup_maintenance_sink(
    index_path: str,
    clean_path: str,
    auto_compact_every: "int | None" = None,
):
    """foreachBatch maintainer for CONTINUOUS paragraph dedup — the
    streaming composition of ``cleaning.paragraph_dedup_against_index``
    (the cleaning family's third cadence, mirroring the exact/minhash/
    semantic sinks): each microbatch's paragraphs dedup against the
    maintained fingerprint index (and within the batch by first
    occurrence), the reassembled documents land in
    ``{clean_path}/epoch={batch_id}``, and the index grows by exactly
    the surviving paragraphs' fingerprints into
    ``{index_path}/epoch={batch_id}``. Delta-epoch layout with the same
    idempotent-epoch replay argument as the near-dedup sink (a replayed
    batch reads the union of index epochs strictly below its own id and
    overwrites its own two directories); compact long-lived indexes
    with :func:`compact_epochs` — or set ``auto_compact_every=K`` to
    run it from inside the sink whenever the index accumulates ≥ K
    epochs. Auto-compaction preserves the replay contract by
    construction: :func:`compact_epochs`' default leaves the NEWEST
    epoch a pure delta, so the one batch that can replay under the
    checkpoint still overwrites only its own directory, and every
    earlier read set (a union) is content-identical after the merge.
    The same policy now covers the near-dedup/semantic/BM25 sinks too.
    Every batch entry first RESUMES any pending compaction (auto or
    manual): a crash during :func:`compact_epochs`' phase B leaves a
    torn merged epoch BELOW the replaying batch id, and the replayed
    batch's prev listing (no ``complete_only`` — its own read contract)
    would otherwise fail on it or silently dedup against incomplete
    history, permanently re-admitting previously seen paragraphs
    (ADVICE r10, medium)."""
    from ehr_data_pipeline_spark.operators.cleaning import (
        build_paragraph_index,
        paragraph_dedup_against_index,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        index = _index_below(
            spark, index_path, batch_id,
            build_paragraph_index(batch_df.limit(0)),
        )
        cleaned, _new_entries = paragraph_dedup_against_index(batch_df, index)
        cleaned.write.mode("overwrite").parquet(
            f"{clean_path}/epoch={batch_id}"
        )
        # derive the index delta from the MATERIALIZED cleaned epoch
        # instead of writing the operator's new_entries frame: the two
        # outputs share the window+index-join lineage, and two separate
        # write actions would recompute it all twice per microbatch.
        # The kept paragraphs ARE the paragraphs of the cleaned text
        # (paragraphs never contain the separator, so the rejoin is
        # lossless); n_kept > 0 filters the docs whose clean_text = ''
        # would otherwise contribute a spurious empty paragraph.
        landed = spark.read.parquet(f"{clean_path}/epoch={batch_id}")
        build_paragraph_index(
            landed.filter(F.col("n_kept") > 0).select(
                F.col("clean_text").alias("text")
            ),
        ).write.mode("overwrite").parquet(f"{index_path}/epoch={batch_id}")
        _auto_compact(spark, index_path, auto_compact_every)

    return write


def curation_maintenance_sink(
    para_index_path: str,
    minhash_index_path: str,
    clean_path: str,
    blocklist: "tuple[str, ...]" = (),
    sep: str = "\n",
):
    """foreachBatch maintainer for the FULL curation funnel run
    continuously — the streaming composition of the classic web-corpus
    pipeline (the batch twin is ``corpus_curation_funnel`` plus the
    cleaning stages): each microbatch flows through

    1. page-level blocklist drop (``cleaning.c4_blocklist_filter``,
       stateless narrow pass on the RAW text — C4 applies the bad-words
       rule to the whole page before line rules),
    2. C4 line-level cleaning (``cleaning.c4_line_filter`` — stateless),
    3. corpus paragraph dedup against the maintained fingerprint index
       (first maintained state; ``sep`` defaults to ``"\\n"`` because
       the line filter rejoins kept lines with newlines — paragraph
       granularity = surviving line),
    4. MinHash near-dup dedup against the maintained signature index
       (second maintained state) over the paragraph-cleaned text,

    and the admitted documents land in ``{clean_path}/epoch={batch_id}``
    with both indexes growing by exactly the batch's admitted entries.
    Index semantics under composition: the paragraph index grows by the
    paragraphs admitted AT STAGE 3 — even for a document stage 4 later
    drops as a near-dup (those paragraphs were genuinely seen, and the
    near-dup twin that survived carries the same content) — exactly the
    semantics of applying the stages sequentially per batch, which is
    what the parity test asserts.

    Exactly-once by the same idempotent-epoch argument as each
    single-stage sink: a batch reads BOTH indexes strictly below its own
    id and overwrites its own three epoch directories, so a replayed
    batch recomputes from identical predecessors; each index read first
    resumes any pending compaction on its path (ADVICE r10); compact
    long-lived indexes with :func:`compact_epochs`. At 100 TB the
    expensive lineage runs ONCE per microbatch: two narrow cleaning
    passes, one content-keyed window + fingerprint join, one band-bucket
    join — stage-3 survivors are persisted, and BOTH index deltas
    rebuild from already-materialized data (the paragraph delta from the
    persisted survivors, the minhash delta from the landed fresh
    parquet — ADVICE r11), so no write action
    re-runs the candidate join and no stage rescans history. Read the
    admitted corpus back with :func:`read_near_dedup_fresh` (same epoch
    layout)."""
    from ehr_data_pipeline_spark.operators.cleaning import (
        build_paragraph_index,
        c4_blocklist_filter,
        c4_line_filter,
        paragraph_dedup_against_index,
    )
    from ehr_data_pipeline_spark.operators.text_dedup import release_builder_caches

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # stages 1+2: stateless page cleaning (one narrow pass)
        page = batch_df.select("doc_id", "text")
        if blocklist:
            page = c4_blocklist_filter(page, blocklist)
        lined = c4_line_filter(page).select(
            "doc_id", F.col("clean_text").alias("text")
        )

        # stage 3: paragraph dedup against the maintained index
        para_index = _index_below(
            spark, para_index_path, batch_id,
            build_paragraph_index(lined.limit(0), sep),
        )
        # the operator's new-entries frame is deliberately discarded:
        # the index delta is rebuilt below from the persisted survivors
        # (same single-materialization argument as the paragraph sink)
        para_cleaned, _ = paragraph_dedup_against_index(lined, para_index, sep)
        kept = para_cleaned.filter(F.col("n_kept") > 0).select(
            "doc_id", F.col("clean_text").alias("text")
        )
        kept = kept.persist()  # feeds stage 4 AND the paragraph delta
        try:
            # stage 4: near-dup dedup against the maintained MinHash index
            _near_dedup_epoch(kept, batch_id, minhash_index_path, clean_path)
            # paragraph delta from the persisted stage-3 survivors (the
            # admitted paragraphs ARE their paragraphs — same lossless
            # re-split argument as the paragraph sink)
            build_paragraph_index(kept, sep).write.mode(
                "overwrite"
            ).parquet(f"{para_index_path}/epoch={batch_id}")
        finally:
            kept.unpersist()
            release_builder_caches()

    return write


def semantic_dedup_maintenance_sink(
    index_path: str,
    fresh_path: str,
    centroids: "list[tuple[int, list[float]]]",
    dim: "int | None" = None,
    auto_compact_every: "int | None" = None,
):
    """foreachBatch maintainer for CONTINUOUS semantic dedup — the
    streaming composition of ``similarity.semantic_dedup_against_index``,
    completing the semantic family's third cadence (batch / incremental /
    continuous) exactly as the MinHash sink does for near-dup. The coarse
    quantizer (``centroids``) is trained ONCE — on a history sample,
    before the stream starts — and held fixed, so cell assignments never
    move between microbatches and the drop decision is reproducible
    across restarts. Each microbatch dedups against the maintained
    (id, vector) index and its own lower ids; fresh rows land in
    ``{fresh_path}/epoch={batch_id}``, the index grows by exactly the
    fresh entries into ``{index_path}/epoch={batch_id}``. Same
    idempotent-epoch exactly-once argument as the SCD2/near-dup sinks:
    a replayed batch reads the index strictly below its own id and
    overwrites both of its own epoch directories. At 100 TB the landed
    index is additionally partitioned by cell id so each batch joins a
    partition-pruned read. Per-batch builder caches are released after
    the writes.

    Epoch layout (ADVICE r8): each index epoch holds ONLY that batch's
    new (id, vector) entries — a delta — and a batch reads the UNION of
    every epoch strictly below its own id. The previous layout rewrote
    the whole accumulated index per microbatch: O(index) I/O per batch
    and quadratic cumulative write volume over the stream's life, which
    vectors (64 doubles/row) make expensive fast. Delta epochs keep the
    replay INVARIANT (recompute from the same predecessors, overwrite
    own directory) though the read set is now the union of all prior
    epochs rather than max(prev) — migrating a pre-r9 snapshot-layout
    path means deleting all but its highest epoch first (see
    :func:`near_dedup_maintenance_sink`). Every epoch directory is live
    state — compact with :func:`compact_epochs`, never by deleting
    deltas — or set ``auto_compact_every=K`` (replay-safe: the newest
    epoch stays a pure delta, see the near-dedup sink). Batch entry
    resumes any pending compaction first (ADVICE r10). Read the admitted
    corpus back with :func:`read_near_dedup_fresh` (the epoch layout is
    shared)."""
    from ehr_data_pipeline_spark.operators.similarity import (
        semantic_dedup_against_index,
    )
    from ehr_data_pipeline_spark.operators.text_dedup import (
        release_builder_caches,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        index = _index_below(
            spark, index_path, batch_id,
            batch_df.select("vec_id", "embedding").limit(0),
        )
        try:
            fresh, new_entries = semantic_dedup_against_index(
                batch_df, index, centroids, dim
            )
            fresh.write.mode("overwrite").parquet(
                f"{fresh_path}/epoch={batch_id}"
            )
            new_entries.write.mode("overwrite").parquet(
                f"{index_path}/epoch={batch_id}"
            )
            _auto_compact(spark, index_path, auto_compact_every)
        finally:
            release_builder_caches()

    return write


def run_ivf_index_stream(
    vectors: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    index_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Continuous maintenance of the PERSISTED IVF index
    (``similarity.build_ivf_index`` layout) — deliberately the NATIVE
    Structured Streaming parquet sink rather than a foreachBatch maintainer:
    cell assignment (``similarity._assign_cells`` — the native argmin
    against the fixed literal quantizer, or its Arrow twin above the
    measured crossover) is a narrow map, so it composes with ``readStream``
    directly, the file sink's transaction log provides exactly-once for
    appends, and ``partitionBy("cid")`` lands the hive layout that makes
    every
    :func:`~ehr_data_pipeline_spark.operators.similarity.ivf_knn_against_index`
    probe join a partition-pruned read. No custom epoch state is needed
    because the index is APPEND-ONLY facts (id, cid, vector) with no
    cross-batch interaction — the quantizer is trained once and held fixed,
    the same contract as the semantic-dedup sink. Vectors have 64
    components, fixed rather than inferred: inference would require an
    action, which a streaming plan cannot run. Read the accumulated index
    back with a plain ``spark.read.parquet(index_path)``."""
    from ehr_data_pipeline_spark.operators.similarity import _assign_cells, _valid

    if not centroids:
        raise ValueError("run_ivf_index_stream needs a trained quantizer "
                         "(centroids == [] would land an unsearchable index)")
    assigned = _assign_cells(
        vectors.where(_valid(64))
        .select("vec_id", "embedding"),
        centroids, "embedding", "cid",
    ).select("vec_id", "cid", "embedding")
    query = (
        assigned.writeStream.format("parquet")
        .option("path", index_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("cid")
        .trigger(availableNow=True)
        .start()
    )
    return _await_drained(query, f"checkpoint {checkpoint}")


def bm25_index_maintenance_sink(
    postings_path: str,
    lengths_path: str,
    auto_compact_every: "int | None" = None,
):
    """foreachBatch maintainer for the CONTINUOUS BM25 inverted index —
    the streaming composition of ``text_analysis.bm25_index_build``,
    giving retrieval the same three cadences as the dedup families.
    Each microbatch's postings/lengths land as delta epochs
    (``{path}/epoch={batch_id}``); no predecessor read is needed at all
    (unlike the dedup sinks) because index rows are additive facts with
    no cross-batch interaction — a replayed batch just overwrites its
    own two epoch directories, the idempotent-epoch argument in its
    simplest form. Search reads the union of epochs complete in BOTH
    tables (:func:`read_bm25_index`) and derives idf/avgdl from the
    accumulated state — exactly BM25 over everything ingested so far.
    Compact long-lived indexes with :func:`compact_bm25_index` (both
    tables through the same epoch — the reader intersects their
    complete-epoch sets) — or set ``auto_compact_every=K`` to run it
    from inside the sink once ≥ K epochs are complete in both tables
    (replay-safe: the newest shared epoch stays a pure delta). Batch
    entry resumes any pending compaction on BOTH tables first, then
    heals a pair compaction that died BETWEEN the two tables
    (:func:`_heal_bm25_compaction_skew`), so a crash at any point of a
    compaction cannot leave the reader's intersection silently missing
    one table's merged history (ADVICE r10/r11)."""
    from ehr_data_pipeline_spark.operators.text_analysis import bm25_index_build

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _resume_pending_compaction(spark, postings_path)
        _resume_pending_compaction(spark, lengths_path)
        _heal_bm25_compaction_skew(spark, postings_path, lengths_path)
        postings, lengths = bm25_index_build(batch_df)
        # lengths FIRST: the intersection reader is already torn-proof;
        # this order additionally softens a torn epoch for a naive
        # per-table reader — lengths-without-postings only shifts the
        # scalar N/avgdl, whereas postings-without-lengths inflated
        # per-term df against an N that excluded those docs, skewing idf
        # term-by-term (ADVICE r9, medium).
        lengths.write.mode("overwrite").parquet(
            f"{lengths_path}/epoch={batch_id}"
        )
        postings.write.mode("overwrite").parquet(
            f"{postings_path}/epoch={batch_id}"
        )
        if auto_compact_every is not None:
            shared = set(
                _state_epochs(postings_path, complete_only=True)
            ) & set(_state_epochs(lengths_path, complete_only=True))
            if len(shared) >= auto_compact_every:
                compact_bm25_index(spark, postings_path, lengths_path)

    return write


def read_bm25_index(
    spark: SparkSession, postings_path: str, lengths_path: str
) -> "tuple[DataFrame, DataFrame]":
    """The accumulated BM25 index: union of every epoch COMPLETE IN
    BOTH tables (epochs are per-batch deltas over disjoint doc sets, so
    the union IS the full-corpus index — the merge law hash-checked by
    ``doc_bm25_index_search``).

    Torn-write guard (ADVICE r9, medium): the sink writes the two tables
    sequentially (lengths first), so a crash between the two leaves one
    epoch complete in only one table. Selecting complete epochs per table
    INDEPENDENTLY in that window skews scores — in the worst order,
    batch-b docs inflate df_t (from postings) while n_docs/avgdl (from
    lengths) exclude them, so idf is wrong for every doc. The INTERSECTION of
    the two complete-epoch sets guarantees postings and lengths always
    describe the same doc set; the torn epoch becomes visible only once
    the replayed batch overwrites both directories.

    Pair-compaction-skew guard (ADVICE r11, low): a crash BETWEEN
    :func:`compact_bm25_index`'s two per-table compactions leaves one
    table merged through epoch e and the other with raw deltas below e
    — the intersection then SILENTLY drops the lagging table's sub-e
    history (the merged table's floor epoch is e, so nothing below e
    intersects), scoring against a partial corpus. Writers heal this at
    entry (:func:`_heal_bm25_compaction_skew`), but a STANDALONE reader
    in the window before any writer runs has no heal hook — so detect
    the tell (unequal minimum complete epochs; both tables see every
    batch id, so equal compaction implies equal floors) and raise with
    the remedy rather than serve skewed scores."""
    per_table = {
        path: _state_epochs(path, complete_only=True)
        for path in (postings_path, lengths_path)
    }
    epochs = sorted(
        set(per_table[postings_path]) & set(per_table[lengths_path])
    )
    if not epochs:
        raise FileNotFoundError(
            "no epoch is complete in BOTH "
            f"{postings_path} and {lengths_path}"
        )
    floors = {p: min(e) for p, e in per_table.items() if e}
    if len(set(floors.values())) > 1:
        raise RuntimeError(
            "BM25 index pair-compaction skew: complete-epoch floors "
            f"differ ({floors}) — a compaction died between the two "
            "tables. Run compact_bm25_index(spark, postings_path, "
            "lengths_path) (its entry heal finishes the pair) or any "
            "maintenance sink batch before reading."
        )
    return (
        _union_epochs(spark, postings_path, epochs),
        _union_epochs(spark, lengths_path, epochs),
    )
