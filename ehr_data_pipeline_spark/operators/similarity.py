"""Similarity search over embedding columns (``array<float>``) — the
multimodal/LLM-pipeline ANN operators (SURVEY §2.7 gap list / BASELINE
north star; absent in the reference).

Three paths, same output contract (query_id, neighbor_id, rank, cosine):

- **brute_force_knn** — exact top-k: broadcast the (small) query set,
  score every (query, corpus) pair with a native fold, rank per query.
  Correct and oracle-checkable; per-query cost O(N·d). The right choice
  when |queries| is small or as the verification oracle.
- **lsh_knn** — random-hyperplane LSH. Each vector gets a sign-bit
  bucket key from P deterministic hyperplanes; candidates are corpus
  vectors sharing a query's bucket, exact cosine re-ranks the
  candidates. Shuffle only on the bucket key (join within buckets), so
  cost scales with bucket occupancy, not N². Recall tunes with P (fewer
  planes → bigger buckets → higher recall, more compute); multi-probe
  (flipping one bit) is the standard extension and composes as extra
  explode rows.
- **ivf_knn** — inverted-file cell probing: Lloyd-trained coarse
  centroids partition the corpus into n_list cells; queries probe their
  n_probe nearest cells and re-rank exactly. At 100 TB the corpus is
  bucketed by cell id on disk, making every search a partition-pruned
  read — the best fit when the index can be precomputed.

All scoring is native column expressions (zip_with/aggregate) — doubles
end-to-end, sequential left-fold summation so results are deterministic
across partitionings. Ranking uses the cosine ROUNDED to 6 decimals with a
neighbor-id tiebreak: stable under the ~1e-15 summation-order differences
between engines, which makes the brute-force path DuckDB-oracle-exact.

Hyperplane components are pseudo-random but deterministic: xxhash64 of
(plane, dim) scaled to [-1, 1] — no stored model, any executor can
recompute them, and resharding cannot change results.

Each kNN/IVF decision has one private home that every operator calls:

- ``_valid`` — the embeddings-contract row filter (non-NULL id, valid
  vector).
- ``_top_k`` — the rank tail: drop self-matches, score ROUND(cosine, 6),
  keep each query's k best. All four kNN operators end in it.
- ``_assign_cells`` — the only nearest-centroid argmin (Lloyd passes,
  ``ivf_knn``, ``build_ivf_index``, SemDeDup, the streaming index): the
  native literal fold below ``_ARROW_ASSIGN_THRESHOLD``, its
  bit-identical Arrow twin above.
- ``_probe_cells`` — the IVF search: probe explode, cell join,
  ``_top_k``; shared by ``ivf_knn`` and ``ivf_knn_against_index``.
- ``_cell_dup_ids`` — SemDeDup's within-cell keep-first drop rule,
  shared by batch and incremental semantic dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ehr_data_pipeline_spark.functions.measurement import valid_vector
from ehr_data_pipeline_spark.operators.text_dedup import (
    _expand_rep_pairs,
    _persist_tracked,
    _rep_group_membership,
)
from ehr_data_pipeline_spark.partitioning import ensure_min_partitions

DEFAULT_PLANES = 8


def infer_dim(df: DataFrame) -> "int | None":
    """Vector dimensionality when the caller doesn't supply it: the most
    common length among rows with a non-NULL ``vec_id`` and ``embedding``,
    ties going to the smaller length — deterministic, and a few malformed
    vectors cannot set the dimension that excludes the valid ones. One job
    at call time: the mode rides a ``noop`` scan as an observed metric, so
    no shuffle runs. Returns ``None`` for an empty / all-NULL input, in
    which case the operators short-circuit to an empty result instead of
    silently excluding every row (ADVICE r7: a caller with non-64-dim
    embeddings who omitted ``dim`` used to get empty output from the
    default-64 validity guard)."""
    obs = Observation()
    (
        df.where(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .select(F.size("embedding").alias("__d"))
        .observe(obs, F.mode("__d", deterministic=True).alias("dim"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    dim = obs.get["dim"]
    return None if dim is None else int(dim)


def _resolve_dim(df: DataFrame, dim: "int | None") -> "int | None":
    return dim if dim is not None else infer_dim(df)


def _empty_knn(df: DataFrame) -> DataFrame:
    """Empty (query_id, neighbor_id, rank, cosine) frame with the id
    column's real type — the dim-inference-failed (empty corpus) result."""
    return df.select(
        F.col("vec_id").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.lit(1).alias("rank"),
        F.lit(0.0).alias("cosine"),
    ).limit(0)


def _empty_pairs(df: DataFrame) -> DataFrame:
    """Empty (id_a, id_b, cosine) frame — ditto for the pair surfaces."""
    return df.select(
        F.col("vec_id").alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.lit(0.0).alias("cosine"),
    ).limit(0)


def _valid(dim: int) -> Column:
    """The embeddings-contract row filter: a non-NULL ``vec_id`` and a
    valid ``dim``-component ``embedding`` (functions/measurement.py)."""
    return F.col("vec_id").isNotNull() & valid_vector(F.col("embedding"), dim)


def to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _dot_d(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product over ALREADY-DOUBLE arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision."""
    return _dot_d(to_double(a), to_double(b))


def _norm(vec: Column) -> Column:
    """‖v‖ as ``sqrt(v·v)`` over the double-cast vector, cast once per
    row — the same fold :func:`cosine` runs for each side."""
    from ehr_data_pipeline_spark.operators.text_analysis import let_bound

    return let_bound(to_double(vec), lambda x: F.sqrt(_dot_d(x, x)))


def cosine(a: Column, b: Column) -> Column:
    """a·b / (‖a‖·‖b‖), with both double-cast vectors let-bound so the
    cast runs once per row instead of once per fold (a·b, a·a, b·b).
    Formula shape is unchanged — bitwise-identical results."""
    from ehr_data_pipeline_spark.operators.text_analysis import let_bound

    return let_bound(
        to_double(a),
        lambda x: let_bound(
            to_double(b),
            lambda y: _dot_d(x, y) / (F.sqrt(_dot_d(x, x)) * F.sqrt(_dot_d(y, y))),
        ),
    )


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    dim: "int | None" = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × full corpus scan → one
    window rank per query. Rank orders by ROUND(cosine, 6) DESC with a
    neighbor-id tiebreak (deterministic and engine-portable); a query
    never matches itself. Invalid vectors (NULL / wrong-``dim`` /
    non-finite or out-of-domain components / zero norm — the embeddings
    contract, functions/measurement.py) are excluded on BOTH sides at
    entry; when ``dim`` is omitted it is inferred from the corpus
    (:func:`infer_dim`)."""
    dim = _resolve_dim(corpus, dim)
    if dim is None:
        return _empty_knn(corpus)
    keep = _valid(dim)
    q = F.broadcast(
        queries.where(keep).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
        )
    )
    c = ensure_min_partitions(corpus.where(keep)).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv")
    )
    return _top_k(q.crossJoin(c), k)


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """The kNN family's rank tail, shared by every kNN operator: over
    (query_id, __qv, neighbor_id, __cv) candidates, drop self-matches,
    score ROUND(cosine, 6) and keep each query's k best (cosine DESC,
    neighbor_id ASC)."""
    scored = pairs.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _hyperplane(table: int, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random Gaussian hyperplane: seeded from
    md5('table:plane') so every driver/executor/rerun derives the same
    planes with no stored model."""
    import hashlib
    import random

    seed = int(hashlib.md5(f"{table}:{plane}".encode()).hexdigest()[:12], 16)
    rng = random.Random(seed)
    return [rng.gauss(0.0, 1.0) for _ in range(dim)]


def _all_table_buckets(
    vec: Column, dim: int, n_planes: int, n_tables: int
) -> Column:
    """array<struct<t, key>> of every table's bucket key, computed by
    iterating ONE constant-folded (tables × planes × dim) literal matrix
    with array higher-order functions. Value-identical to the per-table
    sign-bit fold (bit p = 1 iff v · hyperplane_{t,p} >= 0) — the
    per-plane dot is the same left-associated IEEE fold
    (0.0 + x₁ + x₂ + …) and the bit order is unchanged, so every
    registered oracle replays the identical arithmetic (equality to the
    per-table form asserted in tests/test_similarity.py).

    Formulation findings (r9, measured at 12 planes × 16 tables over 20k
    sf0.1 vectors — the knobs the hi-threshold near-dup regime needs):

    - Spark's array higher-order functions (transform / aggregate /
      zip_with) are ``CodegenFallback`` — they evaluate INTERPRETED.
      The per-table unrolled-aggregates form and this matrix form both
      pay that: ~2.0 s for the bucketing pass (~0.1 ms/vector·192
      planes), every engine HOF user shares the cost.
    - FULLY unrolling to scalar element_at × literal chains reaches
      expression codegen and runs the same pass in 0.35 s (5.7×) — but
      the 12k-node trees, duplicated across the candidate self-join's
      two sides, blow up ANALYZER/OPTIMIZER time to minutes (Catalyst
      rules walk the tree per iteration), so end-to-end it LOSES badly.
      Rejected; recorded here so the next reader doesn't re-derive it.
    - This matrix form keeps planning trivial: the nested literal
      arrays constant-fold into ONE array literal, the tree is three
      HOF nodes, and per-pass cost equals the unrolled-aggregates HOF
      form. The real 100 TB lever is architectural, not expression-
      level: land the index ONCE (the persisted-index pattern —
      ``build_minhash_index`` / ``build_ivf_index``) so the projection
      runs once per corpus rather than once per query."""
    matrix = F.array(*[
        F.array(*[
            F.array(*[F.lit(h) for h in _hyperplane(t, p, dim)])
            for p in range(n_planes)
        ])
        for t in range(n_tables)
    ])

    def key_of(planes: Column) -> Column:
        return F.aggregate(
            planes,
            F.lit(""),
            lambda acc, plane: F.concat(
                acc,
                F.when(
                    F.aggregate(
                        F.zip_with(vec, plane, lambda x, y: x * y),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                    >= 0,
                    F.lit("1"),
                ).otherwise(F.lit("0")),
            ),
        )

    return F.transform(
        matrix,
        lambda planes, t: F.struct(t.alias("t"), key_of(planes).alias("key")),
    )


def _with_table_buckets(
    df: DataFrame, vec_col: str, dim: int, n_planes: int, n_tables: int
) -> DataFrame:
    """Explode each row into its n_tables (table_idx, bucket_key) entries —
    the OR-construction index: candidates match in ANY table. The
    double-cast vector is let-bound ONCE for all n_tables × n_planes
    projections (it would otherwise re-evaluate per plane); bucket keys
    come from the constant-folded matrix form
    (:func:`_all_table_buckets`)."""
    from ehr_data_pipeline_spark.operators.text_analysis import let_bound

    entries = let_bound(
        to_double(F.col(vec_col)),
        lambda v: _all_table_buckets(v, dim, n_planes, n_tables),
    )
    return df.select(*df.columns, F.explode(entries).alias("__b")).select(
        *df.columns, F.col("__b.t").alias("__table"), F.col("__b.key").alias("__bucket")
    )


def lsh_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    dim: "int | None" = None,
    n_planes: int = DEFAULT_PLANES,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate cosine top-k: L independent hyperplane hash tables
    (OR-construction), candidates = pairs sharing a bucket in ANY table,
    exact-cosine re-rank of the distinct candidate set.

    Recall for neighbors at angle θ is 1-(1-(1-θ/π)^P)^L — e.g. ≈0.93 for
    θ=60°, P=3, L=8 — tuned by (P, L): more planes → smaller buckets →
    cheaper joins but lower recall; more tables buy recall back at the
    cost of indexing the corpus L times. The scale story: shuffle on
    (table, bucket) joins within buckets only — never an all-pairs
    cross join — and AQE splits skewed hot buckets. Invalid vectors are
    excluded on both sides per the embeddings contract
    (functions/measurement.py); ``dim=None`` infers it from the corpus."""
    dim = _resolve_dim(corpus, dim)
    if dim is None:
        return _empty_knn(corpus)
    keep = _valid(dim)
    c = _with_table_buckets(
        ensure_min_partitions(corpus.where(keep)).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv")
        ),
        "__cv", dim, n_planes, n_tables,
    )
    q = _with_table_buckets(
        queries.where(keep).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
        ),
        "__qv", dim, n_planes, n_tables,
    )
    candidates = (
        q.join(c, ["__table", "__bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "__qv", "neighbor_id", "__cv")
        # dedupe on the ids only — the vectors are functionally dependent,
        # and hashing two 64-double payloads per row for the distinct would
        # dominate the exchange
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _top_k(candidates, k)


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    dim: "int | None" = None,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: every (id_a < id_b)
    pair whose ROUND(cosine, 6) >= threshold. The fifth member of the
    dedup family (exact / Jaccard / MinHash-LSH / SimHash /
    embedding-cosine) and the verification baseline for
    :func:`lsh_near_dup_pairs`.

    The self-join is all-pairs (broadcast nested loop with the smaller
    projection broadcast) — correct at any SF but O(N²) work, so at
    100 TB use the LSH-bucketed variant and keep this one for
    verification samples. Invalid vectors are excluded at entry per the
    embeddings contract (functions/measurement.py); ``dim=None`` infers
    it from the data.

    Each row's norm ``sqrt(v·v)`` is computed once before the join, so a
    pair costs one fold (``a·b``) instead of :func:`cosine`'s three; the
    folds and their order are the same, so the doubles are identical."""
    dim = _resolve_dim(df, dim)
    if dim is None:
        return _empty_pairs(df)
    df = ensure_min_partitions(df.where(_valid(dim)))
    norm = _norm(F.col("embedding"))
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"),
                  norm.alias("__na"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"),
                  norm.alias("__nb"))
    score = dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        F.broadcast(a)
        .join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(score, 6).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def _vector_groups(df: DataFrame, dim: int) -> DataFrame:
    """Identical-vector groups — the distinct-first work-avoidance core
    of the pair surfaces: one (__id, __v, __rid, __n) row per input id,
    where __rid is the group representative (minimum id among rows whose
    vectors are bit-identical) and __n the group size. Real corpora are
    duplicate-heavy by construction (that is why dedup exists), and a
    group of k identical vectors used to cost k²/2 identical exact-cosine
    verifications inside every shared LSH bucket — the 10× replica
    measured wall ×121.7 for the pair surface (SCALE_RATIOS.md r7).
    Grouping first bounds verification work by the number of DISTINCT
    pairs. One shuffle, on the vector bytes (a partitioned window — the
    plan-hygiene sweep's unpartitioned-window rule stays satisfied);
    duplicate full rows collapse at the id-dedup (the pair contract is
    one vector per id)."""
    valid = (
        ensure_min_partitions(df.where(_valid(dim)))
        .select(F.col("vec_id").alias("__id"), F.col("embedding").alias("__v"))
        .dropDuplicates(["__id"])
    )
    gw = Window.partitionBy("__v")
    return valid.select(
        "__id",
        "__v",
        F.min("__id").over(gw).alias("__rid"),
        F.count(F.lit(1)).over(gw).alias("__n"),
    )


def _rep_near_dup_pairs(
    mem: DataFrame, threshold: float, dim: int, n_planes: int, n_tables: int
) -> DataFrame:
    """(doc_a, doc_b, cosine) verified near-dup pairs over the DISTINCT
    vectors only: cross-group candidates from the banded LSH join +
    exact-cosine confirmation, plus one SELF row (doc_a == doc_b) per
    group of ≥ 2 identical vectors — identical vectors always share
    every bucket and their cosine (≈1.0, computed with the same fold so
    the value is bit-identical to the pairwise formula) is evaluated
    once per group instead of once per member pair."""
    reps = mem.where(F.col("__id") == F.col("__rid")).select("__id", "__v", "__n")
    s = _with_table_buckets(
        reps.select("__id", "__v"), "__v", dim, n_planes, n_tables
    )
    a = s.select(
        F.col("__id").alias("doc_a"), F.col("__v").alias("__va"),
        "__table", "__bucket",
    )
    b = s.select(
        F.col("__id").alias("doc_b"), F.col("__v").alias("__vb"),
        "__table", "__bucket",
    )
    cross = (
        a.join(b, ["__table", "__bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "__va", "doc_b", "__vb")
        # id-keyed dedup: vectors are functionally dependent on the ids
        .dropDuplicates(["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )
    selfp = (
        reps.where(F.col("__n") >= 2)
        .select(
            F.col("__id").alias("doc_a"),
            F.col("__id").alias("doc_b"),
            F.round(cosine(F.col("__v"), F.col("__v")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )
    return cross.unionByName(selfp)


def lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    dim: "int | None" = None,
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate embedding-cosine near-dup pairs — the 100 TB path.
    Candidate pairs are rows sharing a hyperplane-LSH bucket in ANY of
    the L tables (shuffle on (table, bucket) only, never all-pairs);
    exact cosine then confirms candidates against the threshold, so
    precision is 1.0 and only recall is approximate (tuned by P/L —
    pairs at cos θ share a bucket in one table with prob (1-θ/π)^P).

    Duplicate-proof: identical vectors collapse first
    (:func:`_vector_groups`), candidates and exact verification run over
    distinct vectors only (:func:`_rep_near_dup_pairs`), and
    ``text_dedup._expand_rep_pairs`` maps rep pairs back to member pairs
    (the argument is written there). For a production dedup decision
    prefer :func:`lsh_near_dup_groups`, whose output is linear in corpus
    size.

    Threshold economics, measured on the ×10 realistic-dup replica
    (SCALE_RATIOS.md r8): hyperplane LSH separates neighbors from
    background with exponent ρ = ln(1/p₁)/ln(1/p₂) where
    p = (1−θ/π)^planes per table. At threshold 0.9 (θ≈26°) ρ≈0.13 and
    candidate volume grows ~N^1.13 — the production near-dup regime. At
    threshold 0.4 (θ≈66°, barely off the random-pair 90°) ρ≈0.66, so
    over a corpus of N DISTINCT vectors candidates grow ~N^1.66 —
    sub-quadratic but heavy (the replica measured 79M candidates for
    18k distinct 64-dim vectors at planes=4/tables=8). Low thresholds
    need coarse buckets for recall; that is a property of the method,
    not the plan. For low-threshold similarity over large distinct
    corpora prefer ivf_knn-style cell probing, or raise planes AND
    tables together to buy precision with compute.

    Invalid vectors are excluded at entry per the embeddings contract
    (functions/measurement.py); ``dim=None`` infers it from the data.
    The identical-vector grouping is persisted (it feeds the rep
    pipeline plus both expansion joins — 3 consumers; without the cache
    the scan + group window recompute per consumer); cache lifetime as
    documented at ``text_dedup.release_builder_caches``."""
    dim = _resolve_dim(df, dim)
    if dim is None:
        return _empty_pairs(df)
    mem = _persist_tracked(_vector_groups(df, dim))
    pairs = _rep_near_dup_pairs(mem, threshold, dim, n_planes, n_tables)
    members = mem.select("__rid", F.col("__id").alias("__m"))
    return _expand_rep_pairs(pairs, members, "cosine", ("id_a", "id_b"))


def lsh_near_dup_groups(df: DataFrame, dim: "int | None" = None) -> DataFrame:
    """Near-dup GROUP membership — the production dedup surface (VERDICT r7
    #1): (id, group_id) for every vector that belongs to a near-duplicate
    cluster at cosine 0.4 (4 planes × 8 tables), where group_id is the
    minimum id reachable through the verified near-dup pair graph
    (transitive closure via ``near_dup_components``) — a deterministic
    canonical representative, so "keep group_id, drop the rest" is a stable
    dedup policy. Output is LINEAR in corpus size (one row per clustered
    vector), unlike the pair surface whose output is quadratic in
    duplicate-group size — this is the variant whose cost stays flat on
    duplicate-heavy corpora.

    Scale shape: components run over the DISTINCT-vector rep graph only
    (``text_dedup._rep_group_membership``: groups of identical vectors
    contribute one node, not k² edges), and an identical-vector group of
    ≥ 2 with no external neighbor is its own cluster (its members are
    mutual near-dups at cosine 1.0 by definition). Matches the transitive
    closure of :func:`lsh_near_dup_pairs` exactly — the oracle replays
    that equivalence with a recursive CTE."""
    dim = _resolve_dim(df, dim)
    if dim is None:
        return df.select(
            F.col("vec_id"), F.col("vec_id").alias("group_id")
        ).limit(0)
    mem = _persist_tracked(_vector_groups(df, dim))
    pairs = _rep_near_dup_pairs(mem, 0.4, dim, 4, 8)
    members = mem.select(F.col("__id").alias("__m"), "__rid", "__n")
    # no distinct() — _vector_groups already dedups ids
    return _rep_group_membership(pairs, members, "vec_id")


def _double_sql(x: float) -> str:
    """Lossless Spark-SQL DOUBLE literal: ``repr`` is Python's shortest
    round-trip decimal and Java's ``parseDouble`` is correctly rounded,
    so the parsed literal is the bit-identical double; the ``D`` suffix
    types it DOUBLE (a bare ``0.123`` would parse as DECIMAL)."""
    f = float(x)
    if f != f or f in (float("inf"), float("-inf")):  # pragma: no cover
        raise ValueError(f"non-finite centroid component: {x!r}")
    return repr(f) + "D"


def _sq_dist_sql(v: str, centroid: list[float]) -> str:
    """SQL text of the squared L2 distance from the already-double bound
    variable ``v`` to a literal centroid — an aggregate/zip_with fold,
    rendered as ONE parse unit instead of ~4·dim py4j expression-builder
    calls."""
    arr = ", ".join(_double_sql(x) for x in centroid)
    return (
        f"aggregate(zip_with({v}, array({arr}), (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _centroid_dists(
    vec: str, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Array of (squared distance, centroid id) structs for the vector
    column named ``vec`` — sortable, so argmin = element 1 of array_sort
    (distance first, id tiebreak). The double-cast vector is let-bound
    once across all centroid folds.

    The whole k·dim-literal expression is rendered as one SQL string and
    parsed in a single ``F.expr`` call — the r15 fix for the measured
    driver-side construction tax (building the same tree through the
    Column API is ~k·dim py4j round trips ≈ 1.3–1.8 s per ivf_knn call
    at k=8, dim=64, and it serializes on the driver, which is why
    emb_semantic_dedup scaled BACKWARDS with cores in PERF_r14). The
    parsed expression is operator-identical to the Column-builder form —
    same aggregate/zip_with fold, same named_struct/array_sort, double
    literals round-trip via repr — pinned against that reference in
    tests/test_similarity.py."""
    structs = ", ".join(
        f"named_struct('dist', {_sq_dist_sql('__vd', cvec)}, 'cid', {int(cid)})"
        for cid, cvec in centroids
    )
    return F.expr(
        f"transform(array(transform(`{vec}`, x -> CAST(x AS DOUBLE))), "
        f"__vd -> array_sort(array({structs})))[0]"
    )


# Above this many literal-fold multiplications per row (k centroids ×
# dim), the interpreted HOF argmin dominates wall (NOTES_r09 §HOF:
# array lambdas are CodegenFallback, ~0.1 ms per ~12k mults) and the
# Arrow assignment twin takes over. Below it, the native expression
# keeps the plan UDF-free (the driver-gate configs all sit below:
# sf0.01 lands k=8·dim=64 = 512). Lowered 4096 → 2048 in r11 after
# measuring the crossover directly at the sf0.1 bench config (k=32,
# dim=64, 2000 reps): native 2.74 s vs Arrow 0.56 s on local[32] —
# the interpreter tax already dominates well below the old threshold,
# and the Arrow twin is bit-identical by construction
# (test_arrow_assignment_matches_native).
_ARROW_ASSIGN_THRESHOLD = 2048


def _assign_cells_arrow(
    df: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    vec_col: str,
    out_col: str,
) -> DataFrame:
    """Arrow-batched nearest-centroid assignment, BIT-IDENTICAL to the
    native ``_centroid_dists(...)[0]['cid']`` expression: per-centroid
    squared distance is accumulated dim-sequentially in float64 — the
    exact IEEE operation sequence of the native aggregate/zip_with left
    fold ((0+t₀)+t₁)+… with t = (v−c)² on the double-cast component —
    and ties resolve to the lowest cid (centroids are cid-ascending;
    np.argmin returns the first minimum, matching array_sort's (dist,
    cid) tiebreak). Equivalence is pinned by
    test_arrow_assignment_matches_native. This is the VERDICT r9 #5
    lever applied where the profile showed it dominating: with
    auto-scaled quantizers (k ∝ N) the interpreted argmin is N·k·dim
    interpreter steps — the measured ×3.8 wall at distinct ×9 — while
    one numpy pass is the same flops vectorized. All input columns pass
    through untouched (vectors byte-identical)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    cids = [int(c) for c, _ in centroids]
    cvecs = [[float(x) for x in v] for _, v in centroids]
    schema = StructType(list(df.schema.fields) + [
        StructField(out_col, IntegerType(), False)
    ])
    cols = [f.name for f in df.schema.fields]

    def assign(batches):
        import numpy as np

        cid_arr = np.asarray(cids)
        cm = [np.asarray(c, dtype=np.float64) for c in cvecs]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            n, dim = V.shape
            dists = np.empty((len(cm), n))
            for ci, c in enumerate(cm):
                acc = np.zeros(n)
                for j in range(dim):
                    d = V[:, j] - c[j]
                    acc = acc + d * d
                dists[ci] = acc
            out = pdf[cols].copy()
            out[out_col] = cid_arr[np.argmin(dists, axis=0)].astype("int32")
            yield out

    return df.mapInPandas(assign, schema)


def _assign_cells(
    df: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    vec_col: str,
    out_col: str,
) -> DataFrame:
    """Append the nearest-centroid cell id to every row: the native
    literal-fold argmin below the interpreter-tax threshold (UDF-free
    plan — every driver-gate config), the bit-identical Arrow twin
    above it (auto-scaled quantizers at replica/production scale)."""
    dim = len(centroids[0][1]) if centroids else 0
    if len(centroids) * dim >= _ARROW_ASSIGN_THRESHOLD:
        return _assign_cells_arrow(df, centroids, vec_col, out_col)
    return df.withColumn(
        out_col, _centroid_dists(vec_col, centroids)[0]["cid"]
    )


def train_ivf_centroids(
    df: DataFrame,
    n_list: int = 8,
    n_iters: int = 2,
    dim: "int | None" = None,
) -> list[tuple[int, list[float]]]:
    """Coarse-quantizer training for IVF: deterministic seeding (the
    n_list vectors with the smallest ids) followed by ``n_iters`` Lloyd
    passes — assign each vector to its nearest centroid
    (:func:`_assign_cells`, narrow map), recompute means
    with one groupBy. The centroid set is tiny (n_list × dim floats) so it
    rides to executors as literals — no join, no stored model. Each Lloyd
    pass is one shuffle on cid; at 100 TB train on a sampled fraction
    (``df.sample``) — centroid quality needs ~1000 points per list, not
    the full corpus. Invalid vectors are excluded BEFORE seeding, so the
    deterministic smallest-id seeds are always valid vectors (embeddings
    contract, functions/measurement.py); ``dim=None`` infers it from the
    data (empty input ⇒ no centroids)."""
    dim = _resolve_dim(df, dim)
    if dim is None:
        return []
    df = df.where(_valid(dim))
    seed = [
        (i, [float(x) for x in r[1]])
        for i, r in enumerate(
            df.select("vec_id", "embedding").orderBy("vec_id").limit(n_list).collect()
        )
    ]
    if not seed:
        # empty (or fully-invalid) corpus: no centroids to train — the
        # caller emits an empty result (caught by the empty-corpus sweep;
        # the unguarded seed[0] was an IndexError crash)
        return []
    centroids = seed
    dim = len(seed[0][1])
    for _ in range(n_iters):
        assigned = _assign_cells(
            df.select(F.col("embedding").alias("__v")), centroids, "__v", "cid"
        )
        means = assigned.groupBy("cid").agg(
            *[
                F.avg(F.element_at(F.col("__v"), d + 1).cast("double")).alias(f"c{d}")
                for d in range(dim)
            ]
        )
        centroids = [
            (r["cid"], [r[f"c{d}"] for d in range(dim)]) for r in means.collect()
        ]
        centroids.sort(key=lambda t: t[0])
    return centroids


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_list: int = 8,
    n_probe: int = 2,
    n_iters: int = 2,
    dim: "int | None" = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the cell-probe alternative
    to hyperplane LSH. Index: every corpus vector is assigned to its
    nearest of ``n_list`` coarse centroids (in-row argmin, narrow).
    Search: each query probes its ``n_probe`` nearest cells; exact cosine
    re-ranks only the vectors in the probed cells, so the scan fraction is
    ~n_probe/n_list instead of 1. Shuffle only on the cell id — at 100 TB
    the corpus is written partitioned/bucketed BY cid once, and every
    search is a partition-pruned read joining queries to their probed
    cells. Recall tunes with n_probe (= 1.0 when n_probe = n_list).
    Invalid vectors are excluded from index, training and queries per
    the embeddings contract (functions/measurement.py); ``dim=None``
    infers it from the corpus."""
    dim = _resolve_dim(corpus, dim)
    if dim is None:
        return _empty_knn(corpus)
    keep = _valid(dim)
    corpus, queries = corpus.where(keep), queries.where(keep)
    centroids = train_ivf_centroids(corpus, n_list, n_iters, dim)
    if not centroids:
        # empty corpus ⇒ empty index ⇒ empty result, correct schema
        return _empty_knn(corpus)
    index = _assign_cells(
        ensure_min_partitions(corpus).select("vec_id", "embedding"),
        centroids, "embedding", "cid",
    )
    return _probe_cells(queries, index, centroids, k, n_probe)


def _probe_cells(
    queries: DataFrame,
    index: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    k: int,
    n_probe: int,
) -> DataFrame:
    """The IVF search step shared by :func:`ivf_knn` and
    :func:`ivf_knn_against_index`: each query explodes its ``n_probe``
    nearest cells, joins the (id, cid, vector) ``index`` on cid, and
    :func:`_top_k` re-ranks the probed cells' rows exactly."""
    probes = F.slice(_centroid_dists("embedding", centroids), 1, n_probe)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.explode(probes).alias("__p"),
    ).select("query_id", "__qv", F.col("__p.cid").alias("cid"))
    c = index.select(
        F.col("vec_id").alias("neighbor_id"), "cid", F.col("embedding").alias("__cv")
    )
    return _top_k(q.join(c, "cid"), k)


def auto_n_clusters(
    n_reps: int,
    target_cluster_size: int = 1024,
    max_clusters: int = 65536,
) -> int:
    """Corpus-derived quantizer size for SemDeDup: k = ⌈n_reps / T⌉,
    clamped to [1, max_clusters]. With k ∝ N the within-cluster pairwise
    term Σ|cluster|² ≈ N·T — LINEAR in corpus size with a constant-per-
    item bound — where a FIXED k makes expected cluster size grow ∝ N
    and the term quadratic (measured: wall ×3.4 at distinct ×9 under
    k=8, SCALE_RATIOS.md r8). Assignment cost is N·k·dim against the
    literal centroid set, so the max_clusters clamp bounds the literal
    and the per-row argmin; past the clamp (corpora ≫ max_clusters·T) a
    hierarchical/two-level quantizer is the standard escalation — the
    clamp is where that decision surfaces rather than silently degrading.
    Deterministic and SQL-derivable (a COUNT(DISTINCT vector)), so hash
    oracles replay the same k."""
    import math

    if target_cluster_size <= 0:
        raise ValueError("target_cluster_size must be positive")
    return max(1, min(max_clusters, math.ceil(n_reps / target_cluster_size)))


def semantic_dedup(
    df: DataFrame,
    n_clusters: "int | None" = None,
    threshold: float = 0.4,
    dim: "int | None" = None,
    target_cluster_size: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the IVF coarse quantizer,
    then within each cluster mark an item a semantic duplicate iff some
    LOWER-id item in the same cluster has ROUND(cosine, 6) >= threshold
    — the deterministic keep-first analog of the paper's keep-one-per-
    ε-ball rule (the paper keeps a random/centroid-far member; any
    single-survivor policy yields the same dedup rate, and min-id is the
    engine's canonical-survivor convention). Output is LINEAR in corpus
    size: one (id, cluster_id, kept) row per valid vector.

    Why clustering makes this the 100 TB semantic-dedup path: pairwise
    cosine runs WITHIN clusters only — total work Σ|cluster|², so with
    n_clusters scaled ∝ N (the paper uses ~N/|cluster| with clusters of
    a few thousand) the quadratic term is bounded by a constant per item
    and the join is an equi-join on the cell id (shuffle on cid, AQE
    splits skewed cells; never all-pairs). ``n_clusters=None`` (the
    default) DERIVES k that way — :func:`auto_n_clusters` over the
    distinct-vector representative count, k = ⌈n_reps /
    target_cluster_size⌉ clamped to [1, 65536] — so the linearity holds
    by construction as the corpus grows; an explicit ``n_clusters``
    remains the override for fixed-quantizer contracts (the streaming
    sinks train once and hold centroids fixed). The rep count is one
    map-side-partial COUNT(DISTINCT vector) aggregate over the source
    scan (deliberately NOT a count over the persisted group frame,
    which serialized the window shuffle's materialization before any
    other work — VERDICT r10 #4), so the hash oracle replays the same k
    from literally the same expression.
    Unlike the LSH near-dup
    family this catches SEMANTIC redundancy at lower thresholds where
    hyperplane banding loses its selectivity (see the threshold
    economics note on :func:`lsh_near_dup_pairs`); the trade is recall
    at cluster boundaries — a near-dup pair split across two cells is
    missed, which the paper accepts by construction.

    Duplicate-proof like the rest of the family: bit-identical vectors
    collapse first (:func:`_vector_groups`), assignment and the
    within-cluster pairwise check run over group representatives only
    (identical vectors always share a cell and a cosine, so a group of k
    costs one assignment + its rep's comparisons, not k), and members
    inherit the verdict through one id-equi join — every non-rep member
    is a duplicate of its own rep (cosine exactly 1.0 after rounding)
    for any threshold <= 1.0. The quantizer is seeded without Lloyd
    refinement (the ``emb_ivf_knn`` precedent) so the quantizer, the
    assignment argmin and the drop rule are all SQL-derivable and the
    whole decision is hash-checked. Invalid vectors are
    excluded at entry per the embeddings contract
    (functions/measurement.py); ``dim=None`` infers it from the data."""
    dim = _resolve_dim(df, dim)

    def empty() -> DataFrame:
        return df.select(
            F.col("vec_id"),
            F.lit(0).cast("int").alias("cluster_id"),
            F.lit(True).alias("kept"),
        ).limit(0)

    if dim is None:
        return empty()
    mem = _persist_tracked(_vector_groups(df, dim))
    if n_clusters is None:
        # exact distinct-vector count as ONE map-side-partial aggregate
        # over the source scan — NOT a count over the group frame, which
        # forced mem's window shuffle to materialize serially before any
        # other work (VERDICT r10 #4; measured 0.79 s vs 0.53 s at
        # sf0.1, and mem now first materializes inside the assignment
        # job, overlapped with the rest of the plan). This is also
        # EXACTLY the oracle's expression — COUNT(DISTINCT vec) over the
        # validity-guarded rows — where the group-frame count diverged
        # on the (schema-degenerate) case of duplicate ids carrying
        # distinct vectors. The exact count stays the k source: approx
        # would break the oracle's replay of the derivation.
        n_reps = (
            df.where(_valid(dim))
            .agg(F.countDistinct("embedding").alias("__n"))
            .collect()[0]["__n"]
        )
        n_clusters = auto_n_clusters(n_reps, target_cluster_size)
    centroids = train_ivf_centroids(df, n_clusters, 0, dim)
    if not centroids:
        return empty()
    # assignment is consumed three times (both pairwise sides + the
    # member join); persist so the argmin — the dominant term once k
    # scales with the corpus — runs once per rep, not three times
    assigned = _persist_tracked(_assign_cells(
        mem.where(F.col("__id") == F.col("__rid")).select("__id", "__v"),
        centroids, "__v", "__cid",
    ))
    dropped = (
        _cell_dup_ids(assigned, threshold)
        .select(F.col("__id").alias("__rid"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        mem.select("__id", "__rid")
        .join(assigned.select(F.col("__id").alias("__rid"), "__cid"), "__rid")
        .join(dropped, "__rid", "left")
        .select(
            F.col("__id").alias("vec_id"),
            F.col("__cid").cast("int").alias("cluster_id"),
            F.when(
                F.col("__id") != F.col("__rid"),
                # non-rep member: its rep is a lower-id bit-identical
                # vector — round(self-cosine, 6) is exactly 1.0
                F.lit(not (1.0 >= threshold)),
            )
            .otherwise(F.col("__dup").isNull())
            .alias("kept"),
        )
    )


def _cell_dup_ids(cells: DataFrame, threshold: float) -> DataFrame:
    """SemDeDup's keep-first drop rule over (__id, __v, __cid) rows: the
    ``__id`` of every row that some LOWER-id row in the same cell matches
    at ROUND(cosine, 6) >= threshold — once per such pair, so callers
    take the distinct."""
    a = cells.select(F.col("__id").alias("__xa"), F.col("__v").alias("__va"), "__cid")
    b = cells.select(F.col("__id").alias("__xb"), F.col("__v").alias("__vb"), "__cid")
    return (
        a.join(b, "__cid")
        .filter(F.col("__xb") < F.col("__xa"))
        .select(
            F.col("__xa").alias("__id"),
            F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("__c"),
        )
        .filter(F.col("__c") >= F.lit(threshold))
        .select("__id")
    )


def semantic_dedup_against_index(
    batch: DataFrame,
    index: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    dim: "int | None" = None,
) -> "tuple[DataFrame, DataFrame]":
    """Incremental SemDeDup for continuous ingest — the semantic
    completion of ``dedup_against_index`` (exact) and
    ``near_dedup_against_index`` (MinHash): dedup an arriving batch
    against a persisted vector index under a FIXED coarse quantizer
    (``centroids`` — train once on history, hold fixed across batches so
    cell assignments never move). A batch vector drops iff some indexed
    vector OR some lower-id batch vector shares its cell at
    ROUND(cosine, 6) >= 0.4 — the same independent-evaluation rule
    as the near-dup family, so when index ids all precede batch ids the
    result is IDENTICAL to batch-mode :func:`semantic_dedup` restricted
    to the batch (asserted in tests). Returns ``(fresh, new_entries)``:
    the batch rows that survive, and their (id, vector) index rows for
    the caller to append — the grown index feeds the next batch.

    Duplicate-proof on both sides: identical batch vectors collapse to
    group representatives (:func:`_vector_groups` — non-rep members are
    in-batch duplicates of a lower id by construction), and the index
    dedups to DISTINCT vectors before the cell join (existence is all
    the drop rule needs, so k identical index entries cost one
    comparison). A re-ingested vector always drops against its own index
    entry (cosine 1.0). With no quantizer (``centroids == []`` — empty
    history) no cell comparisons are possible and one representative per
    distinct valid batch vector is fresh (the identical-vector collapse
    still applies). At 100 TB the index is written
    partitioned BY cell id, so each batch cell joins a partition-pruned
    read and history never rescans."""
    dim = _resolve_dim(index, dim) or _resolve_dim(batch, dim)
    empty_entries = batch.select(F.col("vec_id"), F.col("embedding")).limit(0)
    if dim is None:
        return batch.limit(0), empty_entries
    keep = _valid(dim)
    mem = _persist_tracked(_vector_groups(batch, dim))
    reps = mem.where(F.col("__id") == F.col("__rid")).select("__id", "__v")
    if not centroids:
        # ADVICE r8: an empty quantizer disables ALL cross-vector dedup
        # (vs the index AND within the batch) — legitimate only for an
        # empty history. In the streaming sink the quantizer is fixed
        # for the stream's lifetime, so a cold-start empty training
        # sample would permanently degrade continuous dedup to
        # identical-vector collapse; make that visible instead of
        # silent.
        if index.limit(1).count() > 0:
            import warnings

            warnings.warn(
                "semantic_dedup_against_index: centroids == [] with a "
                "non-empty index — cross-vector dedup is disabled and "
                "only identical-vector collapse applies. Train the "
                "quantizer (train_ivf_centroids) on the history before "
                "streaming batches through it.",
                RuntimeWarning,
                stacklevel=2,
            )
        fresh_ids = reps.select(F.col("__id").alias("vec_id"))
    else:
        # bt feeds the history probe AND both within-batch pairwise
        # sides; persist so assignment (N·k·dim once k is corpus-scaled)
        # runs once per rep
        bt = _persist_tracked(
            _assign_cells(reps.select("__id", "__v"), centroids, "__v", "__cid")
        )
        hist = _assign_cells(
            ensure_min_partitions(index.where(keep))
            .select(F.col("embedding").alias("__hv"))
            .dropDuplicates(),
            centroids, "__hv", "__cid",
        )
        hist_hits = (
            bt.join(hist, "__cid")
            .select(
                "__id",
                F.round(cosine(F.col("__v"), F.col("__hv")), 6).alias("__c"),
            )
            .filter(F.col("__c") >= F.lit(0.4))
            .select("__id")
        )
        dropped = hist_hits.unionByName(_cell_dup_ids(bt, 0.4)).distinct()
        fresh_ids = (
            reps.join(dropped, reps["__id"] == dropped["__id"], "left_anti")
            .select(F.col("__id").alias("vec_id"))
        )
    fresh = batch.where(keep).dropDuplicates(["vec_id"]).join(fresh_ids, "vec_id")
    new_entries = fresh.select(F.col("vec_id"), F.col("embedding"))
    return fresh, new_entries


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.4,
    dim: "int | None" = None,
) -> DataFrame:
    """Semantic benchmark decontamination — the embedding-space twin of
    ``text_dedup.ngram_contamination`` (13-gram rule): flag every corpus
    vector whose NEAREST benchmark vector clears ROUND(cosine, 6) >=
    threshold. Catches paraphrased/translated eval contamination that
    verbatim n-gram overlap misses — standard practice alongside exact
    decontamination in LLM data curation. Returns one
    (id, benchmark_id, cosine) row per contaminated corpus vector: the
    top benchmark neighbor (cosine DESC, benchmark-id ASC tiebreak — the
    kNN family's deterministic rank rule), so the output is linear in
    the corpus and carries the evidence for each drop decision.

    Plan shape: the benchmark set broadcasts (an eval suite is always
    tiny next to a training corpus — the same smallness assumption the
    n-gram rule's hash set makes), every corpus partition scores its
    rows against it in-row, and a window PARTITIONED BY corpus id picks
    the top neighbor — no shuffle beyond the window's hash exchange, so
    cost is corpus-linear at any scale. Rows with equal ids on both
    sides are never compared (safe under overlapping inputs); invalid
    vectors are excluded on both sides per the embeddings contract
    (functions/measurement.py); ``dim=None`` infers it from the
    corpus.

    Duplicate-proof on BOTH sides like the rest of the family —
    measured before the fix: an identical-copy ×10 replica (both sides
    grow tenfold) cost wall ×23.6, because every copy pair was scored.
    Identical corpus vectors collapse to group representatives
    (:func:`_vector_groups`; members inherit the verdict through one
    id-equi join), and identical benchmark vectors collapse to their
    MINIMUM id. When the corpus and benchmark id spaces are disjoint —
    the decontamination shape, a corpus row is never its own eval item —
    output is provably identical to full scoring: the rank-1 benchmark
    id at the top rounded cosine is always its own vector's min-id
    representative (a lower-id copy would outrank it under the
    id-ascending tiebreak). Under OVERLAPPING id spaces the equal-id
    guard runs at TWO levels, both conservative (ADVICE r8): (1) at the
    REP level, benchmark rows sharing the rep's id are excluded BEFORE
    the top-1 window — so a duplicate member inherits a top match that
    was computed with its rep's id excluded, and can carry second-best
    evidence relative to its own id; (2) at the MEMBER level after
    expansion, a row whose inherited top match carries its own id loses
    its evidence row instead of falling back to the second-best match.
    Both effects only suppress/downgrade evidence rows (never fabricate
    one) and only under id collisions between corpus and benchmark —
    keep the id spaces disjoint (the decontamination shape, and the
    registered usage) for exact top-1 semantics."""
    dim = _resolve_dim(corpus, dim)

    def empty() -> DataFrame:
        return corpus.select(
            F.col("vec_id"),
            F.col("vec_id").alias("benchmark_id"),
            F.lit(0.0).alias("cosine"),
        ).limit(0)

    if dim is None:
        return empty()
    keep = _valid(dim)
    b = F.broadcast(
        benchmark.where(keep)
        .select(F.col("vec_id").alias("benchmark_id"), F.col("embedding").alias("__bv"))
        .groupBy("__bv")
        .agg(F.min("benchmark_id").alias("benchmark_id"))
    )
    mem = _persist_tracked(_vector_groups(corpus, dim))
    reps = mem.where(F.col("__id") == F.col("__rid")).select(
        F.col("__id").alias("__rid2"), F.col("__v").alias("__cv")
    )
    scored = (
        ensure_min_partitions(reps)
        .crossJoin(b)
        .filter(F.col("__rid2") != F.col("benchmark_id"))
        .select(
            "__rid2",
            "benchmark_id",
            F.round(cosine(F.col("__cv"), F.col("__bv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("__rid2").orderBy(
        F.col("cosine").desc(), F.col("benchmark_id").asc()
    )
    top = (
        scored.withColumn("__rnk", F.row_number().over(w))
        .filter((F.col("__rnk") == 1) & (F.col("cosine") >= F.lit(threshold)))
        .select("__rid2", "benchmark_id", "cosine")
    )
    return (
        mem.select("__id", F.col("__rid").alias("__rid2"))
        .join(top, "__rid2")
        .filter(F.col("__id") != F.col("benchmark_id"))
        .select(F.col("__id").alias("vec_id"), "benchmark_id", "cosine")
    )


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: struct(q: array<tinyint>,
    scale: double) with q = round(v · 127/max|v|). Halves (float32) or
    quarters (float64) the storage of a 100 TB embedding table and feeds
    int8 SIMD scoring downstream; cosine degradation is ~1e-3 for typical
    embeddings (asserted in tests). Zero vectors quantize to zeros with
    scale 0 and dequantize back to zeros."""
    absmax = F.array_max(F.transform(to_double(vec), F.abs))
    scale = F.when(absmax > 0, F.lit(127.0) / absmax).otherwise(F.lit(0.0))
    q = F.transform(
        to_double(vec), lambda x: F.round(x * scale).cast("tinyint")
    )
    return F.struct(q.alias("q"), scale.alias("scale"))


def dequantize_int8(quant: Column) -> Column:
    """Inverse of :func:`quantize_int8`: array<double> ≈ the original
    vector (v̂ = q / scale)."""
    scale = quant["scale"]
    return F.transform(
        quant["q"],
        lambda x: F.when(scale > 0, x.cast("double") / scale).otherwise(F.lit(0.0)),
    )


def label_centroids(df: DataFrame, dim: int = 64) -> DataFrame:
    """Per-``label`` mean ``embedding`` — the assignment step of IVF-style coarse
    quantization (and a useful clustering report on its own). One shuffle
    on the label; components are quantized to 1e-7 fixed-point BIGINTs
    before summing, so the aggregate is exact integer math —
    order-independent across partitions (and oracle-checkable) — then two
    IEEE divisions produce the double mean. Invalid vectors are excluded
    at entry (embeddings contract, functions/measurement.py) — without
    the guard a NaN component would abort the BIGINT quantization cast
    under ANSI on both engines. ``dim`` stays an explicit parameter here
    (no inference): it determines the OUTPUT SCHEMA (c0..c{dim-1}), and a
    DataFrame's schema must not depend on the data."""
    df = df.where(valid_vector(F.col("embedding"), dim))
    comps = [
        (
            F.sum(
                F.round(F.element_at(F.col("embedding"), d + 1).cast("double") * 1e7)
                .cast("bigint")
            ).cast("double")
            / F.lit(1e7)
            / F.count(F.lit(1))
        ).alias(f"c{d}")
        for d in range(dim)
    ]
    return df.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"), *comps)


def gram_matrix(df: DataFrame, dim: int = 64) -> DataFrame:
    """Distributed Gram matrix XᵀX over the ``embedding`` column — the
    second-moment statistics PCA/whitening and SemDeDup-style
    preprocessing start from (dim² scalars summarize the whole corpus's
    covariance structure up to the mean). Output: one row per (d1, d2)
    pair with ``gram = Σ_rows v[d1]·v[d2]``.

    Plan: one posexplode (narrow, ×dim) then a groupBy(d1) carrying dim
    product sums — partial (map-side) aggregation collapses every
    partition to ≤ dim rows before the shuffle, so shuffle volume is
    dim × partitions REGARDLESS of corpus size; the per-row work is the
    unavoidable dim² products. Products are quantized to 1e-7
    fixed-point BIGINTs before summing (the ``label_centroids``
    recipe), so the aggregate is exact integer math — order-independent
    across partitions and oracle-checkable. Invalid vectors are
    excluded at entry (embeddings contract): a NaN component would
    abort the BIGINT quantization under ANSI on both engines."""
    df = df.where(valid_vector(F.col("embedding"), dim))
    e = df.select(
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("d1", "x1"),
        F.col("embedding").alias("__v"),
    )
    sums = [
        F.sum(
            F.round(
                F.col("x1")
                * F.element_at(F.col("__v"), d2 + 1).cast("double")
                * F.lit(1e7)
            ).cast("bigint")
        ).alias(f"s{d2}")
        for d2 in range(dim)
    ]
    g = e.groupBy("d1").agg(*sums)
    return g.select(
        F.col("d1").cast("int").alias("d1"),
        F.posexplode(F.array(*[F.col(f"s{d2}") for d2 in range(dim)])).alias(
            "d2", "__q"
        ),
    ).select(
        "d1",
        F.col("d2").cast("int").alias("d2"),
        (F.col("__q").cast("double") / F.lit(1e7)).alias("gram"),
    )


def build_ivf_index(
    df: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    dim: "int | None" = None,
) -> DataFrame:
    """The PERSISTED IVF index for a vector corpus: one (id, cid, vector)
    row per valid vector, cid = nearest coarse centroid
    (:func:`_assign_cells` — narrow map, no shuffle). The ANN
    twin of ``text_dedup.build_minhash_index``: at 100 TB this is built
    ONCE, written ``partitionBy("cid")`` (``sinks``/plain parquet — the
    hive layout makes every probe-side join a partition-pruned read) and
    appended to per ingest batch; searches then run against the landed
    table via :func:`ivf_knn_against_index` without re-assigning the
    corpus per query batch. The quantizer is trained once
    (``train_ivf_centroids``) and held fixed — cell assignments never
    move, the same fixed-quantizer contract as the semantic-dedup
    index. Duplicate ids collapse to one row (the index contract is one
    vector per id); ``centroids == []`` (empty history) yields an empty
    index with the contract schema."""
    dim = _resolve_dim(df, dim)
    if dim is None or not centroids:
        return df.select(
            F.col("vec_id"), F.lit(0).alias("cid"), F.col("embedding")
        ).limit(0)
    return _assign_cells(
        ensure_min_partitions(df.where(_valid(dim)))
        .dropDuplicates(["vec_id"])
        .select("vec_id", "embedding"),
        centroids, "embedding", "cid",
    ).select("vec_id", "cid", "embedding")


def ivf_knn_against_index(
    queries: DataFrame,
    index: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    n_probe: int = 2,
    dim: "int | None" = None,
) -> DataFrame:
    """ANN top-3 search against a PERSISTED IVF index (``build_ivf_index``
    output, read back from its partitioned layout) — the serving-path
    completion of the similarity family: the index is maintained
    incrementally (append assignments per batch; streaming via the
    native partitioned file sink, see ``streaming.run_ivf_index_stream``)
    and query batches probe it without ever re-scanning or re-assigning
    the corpus. Each query explodes its ``n_probe`` nearest cells
    (in-row argmin over the same fixed quantizer), joins the index on
    cid — with a hive ``cid=`` layout that join is a partition-pruned
    read — and exact cosine re-ranks within the probed cells
    (cosine DESC, id ASC — the kNN family's deterministic rank rule).
    On id-unique input the result is IDENTICAL to :func:`ivf_knn` over
    the same corpus, centroids and probe count (asserted in tests): both
    search through :func:`_probe_cells`, and the index just amortizes
    the assignment across query batches (only this path dedups ids).
    Self-matches (query id == index id) are excluded, as in the whole
    kNN family."""
    dim = _resolve_dim(queries, dim)
    if dim is None or not centroids:
        return _empty_knn(queries)
    q = ensure_min_partitions(
        queries.where(_valid(dim))
    ).dropDuplicates(["vec_id"])
    return _probe_cells(q, index, centroids, 3, n_probe)
