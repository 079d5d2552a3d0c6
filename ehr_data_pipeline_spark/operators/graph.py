"""Iterative graph algorithms as DataFrame loops — PageRank in exact
integer fixed-point arithmetic.

The engine already has one iterative operator (``text_dedup.
near_dup_components``, min-label propagation); PageRank adds the
NUMERIC-iterative class. The usual blocker for oracle-checking an
iterative numeric algorithm is floating-point: the per-node sum of
neighbor contributions is order-dependent in IEEE doubles, so two
engines (or two runs) drift by ulps per iteration. Here ranks are
BIGINT micro-units (``PAGERANK_SCALE`` = 1e12), contributions are truncating
integer division, and the damping 0.85 is applied as the exact rational
17/20 — every iteration is pure integer arithmetic, order-independent,
and replays bit-for-bit in DuckDB as an unrolled CTE chain.

Semantics (documented choices, mirrored in the oracle):

- contribution of node u to each out-neighbor: ``r_u div outdeg_u``
  (truncating) — the total pushed mass may lose up to outdeg-1 units to
  truncation per node per iteration, a ≤1e-12-relative artifact;
- dangling nodes (no out-edges) contribute nothing (their mass decays
  into the teleport term rather than being redistributed);
- teleport term: ``(PAGERANK_SCALE - damped(PAGERANK_SCALE)) div n`` per node where
  ``damped(x) = x·17 div 20`` — so a graphless node's rank settles at
  the base term.

Scale shape: each iteration is one join of the edge list against the
current rank vector (shuffle on src), one groupBy on dst (map-side
combined), and one left join back to the node spine — the standard
distributed PageRank step. The loop unrolls into a single lazy plan;
for many iterations callers should localCheckpoint between rounds (the
``near_dup_components`` pattern), but the ranking use-cases here (3-5
iterations) stay well within plan-size limits.

The reference has no graph operators; this is north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGERANK_SCALE = 10**12


def pagerank_fixed_point(edges: DataFrame, n_iters: int = 3) -> DataFrame:
    """PageRank over a directed edge list (duplicate edges are collapsed)
    with damping 0.85 as exact integer arithmetic — returns
    ``(node, rank)`` with rank in ``PAGERANK_SCALE`` micro-units. Deterministic:
    the same input yields the bit-identical ranks on any engine or
    partitioning (integer sums commute)."""
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(outdeg, "src")

    n_nodes = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    # teleport base per node: (PAGERANK_SCALE - PAGERANK_SCALE*17 div 20) div n
    base = F.expr(f"({PAGERANK_SCALE} - {PAGERANK_SCALE} * 17 div 20) div __n")

    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", "__n", F.expr(f"{PAGERANK_SCALE} div __n").cast("bigint").alias("rank")
    )
    for _ in range(n_iters):
        inbound = (
            e_deg.join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .select("dst", F.expr("rank div outdeg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").cast("bigint").alias("mass"))
        )
        ranks = (
            ranks.select("node", "__n")
            .join(inbound.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                "__n",
                (
                    base + F.expr("coalesce(mass, 0) * 17 div 20")
                ).cast("bigint").alias("rank"),
            )
        )
    return ranks.select("node", "rank")
