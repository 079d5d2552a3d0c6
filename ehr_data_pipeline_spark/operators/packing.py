"""Sequence packing for LLM training batches: assign documents to
fixed-token-budget training sequences by their offset in the
concatenated token stream (the standard concat-then-chunk layout).

The core is a DISTRIBUTED PREFIX SUM — the operation a naive
``sum() over (order by id)`` gets wrong at scale: an unpartitioned
window moves the ENTIRE table through one task. Here it is two-phase:

1. per-bucket token totals over deterministic id ranges (one narrow
   aggregate, ~n_buckets rows);
2. a window cumsum over those n_buckets rows (trivially small) gives
   each bucket's starting offset, broadcast back;
3. a within-bucket window (partitioned — parallel) adds the local
   prefix.

Total: one aggregate + one broadcast join + one partitioned window —
no single-partition stage ever touches row-scale data. The same shape
serves row numbering, balanced range splitting, and file-offset
assignment; packing is the training-data instance of it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def distributed_prefix_sum(
    df: DataFrame,
    id_col: str,
    value_col: str,
    n_buckets: int = 256,
    out_col: str = "prefix_sum",
    max_id: int | None = None,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``value_col`` in ``id_col`` order (the sum
    of all strictly-earlier rows; 0 for the first), computed without an
    unpartitioned window. ``id_col`` must be unique non-negative
    integers; bucket ranges derive from the max id (one driver-sized
    aggregate, like centroid training). Pass ``max_id`` (any upper bound
    on the ids works — bucket widths just stretch) to keep plan
    construction fully lazy: without it, building the plan launches one
    scalar max() job."""
    if max_id is None:
        max_id = df.agg(F.max(id_col)).collect()[0][0]
        if max_id is None:  # empty input: prefix sum of nothing is nothing
            return df.withColumn(out_col, F.lit(0).cast("bigint"))
    width = max(1, (int(max_id) + n_buckets) // n_buckets)
    b = df.withColumn("__bucket", (F.col(id_col) / width).cast("bigint"))

    totals = b.groupBy("__bucket").agg(F.sum(value_col).alias("__btotal"))
    wb = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__bucket",
        F.coalesce(F.sum("__btotal").over(wb), F.lit(0)).alias("__boffset"),
    )

    ww = (
        Window.partitionBy("__bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        b.join(F.broadcast(offsets), "__bucket")
        .withColumn(
            out_col,
            F.col("__boffset")
            + F.coalesce(F.sum(value_col).over(ww), F.lit(0)),
        )
        .drop("__bucket", "__boffset")
    )


def deterministic_shuffle_order(
    df: DataFrame,
    id_col: str,
    n_buckets: int = 256,
    salt: str = "shuffle",
    out_col: str = "train_order",
) -> DataFrame:
    """Global training-shuffle rank: every row gets its 0-based position
    in keyed-hash order — the deterministic, key-stable "shuffled" read
    order a training run consumes (same hash family as the split/sample
    operators, so the order replays on any engine and never changes
    under repartitioning or incremental ingest).

    The rank is the two-phase distributed shape, NOT the naive
    ``ROW_NUMBER() OVER (ORDER BY hash)`` whose unpartitioned window
    drags the whole table through one task: the 60-bit hash is uniform,
    so its top bits range-partition it into ``n_buckets`` equal slices —
    per-bucket counts (one narrow aggregate), a tiny cumsum over
    n_buckets rows gives each bucket's starting rank, broadcast back,
    and a partitioned within-bucket row_number finishes. ``n_buckets``
    must be a power of two (bucket = hash >> (60 - log2(n)))."""
    from ehr_data_pipeline_spark.operators.sampling import keyed_hash60

    if n_buckets & (n_buckets - 1) or n_buckets <= 0:
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    shift = 60 - n_buckets.bit_length() + 1
    h = keyed_hash60(F.col(id_col), salt)
    b = df.withColumn("__h", h).withColumn(
        "__bucket", F.shiftright(F.col("__h"), shift)
    )

    counts = b.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__n"))
    wb = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__bucket",
        F.coalesce(F.sum("__n").over(wb), F.lit(0)).cast("bigint").alias("__off"),
    )

    ww = Window.partitionBy("__bucket").orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return (
        b.join(F.broadcast(offsets), "__bucket")
        .withColumn(
            out_col,
            (F.col("__off") + F.row_number().over(ww) - 1).cast("bigint"),
        )
        .drop("__bucket", "__h", "__off")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count: Column,
    budget: int,
) -> DataFrame:
    """Assign each document to its training sequence: documents
    concatenate in ``id_col`` order into one token stream, and a doc
    belongs to sequence ``floor(stream_offset / budget)`` — the chunk
    its FIRST token lands in (concat-then-chunk; a doc may straddle the
    boundary into the next chunk, exactly like the real loader).

    Output: id, n_tokens, stream_offset (exclusive prefix sum),
    seq_id, offset_in_seq. Deterministic, engine-portable (pure integer
    arithmetic) and scalable — see module docstring for why the prefix
    sum is two-phase rather than one global window."""
    with_counts = df.select(
        F.col(id_col), token_count.cast("bigint").alias("n_tokens")
    )
    p = distributed_prefix_sum(
        with_counts, id_col, "n_tokens", 256, out_col="stream_offset"
    )
    return p.select(
        id_col,
        "n_tokens",
        "stream_offset",
        F.expr(f"stream_offset div {int(budget)}").alias("seq_id"),
        F.expr(f"stream_offset % {int(budget)}").alias("offset_in_seq"),
    )


def materialize_packed_sequences(
    assigned: DataFrame, id_col: str
) -> DataFrame:
    """The BUILD step on top of :func:`pack_sequences`' assignment: one
    row per training sequence with its member documents in stream order
    — what the data loader actually consumes. Output: ``seq_id``,
    ``n_docs``, ``seq_tokens`` (tokens STARTING in the sequence — docs
    straddle chunk boundaries under concat-then-chunk, so interior
    sequences hold ≥ budget tokens counting carry-in), ``first_offset``
    (offset_in_seq of the first doc: 0 exactly when no carry-in from a
    straddling predecessor), and ``doc_ids`` (comma-joined in stream
    order — a string, not an array, so the row hash-checks in any
    engine). One linear shuffle on seq_id; member order inside a group
    is established by sort_array over (offset, id) structs, never by
    collect_list's arrival order (which is partitioning-dependent —
    the classic nondeterminism trap this formulation exists to avoid).
    Scale: output rows = corpus_tokens / budget; each group holds the
    handful of docs that start in one chunk."""
    pairs = F.sort_array(
        F.collect_list(
            F.struct(F.col("offset_in_seq"), F.col(id_col).alias("__id"))
        )
    )
    return (
        assigned.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("offset_in_seq").alias("first_offset"),
            F.array_join(
                F.transform(pairs, lambda s: s["__id"].cast("string")), ","
            ).alias("doc_ids"),
        )
    )
