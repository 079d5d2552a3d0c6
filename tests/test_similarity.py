"""Unit tests for similarity search: brute-force correctness properties
and LSH recall/precision against the exact path."""

from __future__ import annotations

import random
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.operators.similarity import (
    brute_force_knn,
    cosine,
    cosine_near_dup_pairs,
    lsh_knn,
    lsh_near_dup_pairs,
)

SF = "/root/testdata/sf0.001"


def _round_half_up_6(x: float) -> float:
    """Reference for Spark's ``ROUND(double, 6)``: Catalyst rounds the
    shortest decimal representation of the double (``BigDecimal.valueOf``;
    ``repr(float)`` is the same string) HALF_UP, i.e. half away from
    zero. ``round()`` and ``np.round`` are half-even and disagree on
    .xxxxxx5 boundaries."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_cosine_identity_and_bounds(spark, emb):
    row = emb.limit(1)
    self_cos = row.select(
        cosine(F.col("embedding"), F.col("embedding")).alias("c")
    ).collect()[0]["c"]
    assert abs(self_cos - 1.0) < 1e-12


def test_brute_force_knn_shape(emb):
    out = brute_force_knn(emb, emb.filter(F.col("vec_id") < 5), k=3).collect()
    assert len(out) == 15  # 5 queries × top-3
    by_q = {}
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        assert -1.0 <= r["cosine"] <= 1.0
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == [1, 2, 3]
        ordered = sorted(rows, key=lambda r: r["rank"])
        cosines = [r["cosine"] for r in ordered]
        assert cosines == sorted(cosines, reverse=True)


def test_round_half_up_matches_spark_round_on_ties(spark):
    """The tests-side rounding reference must agree with Catalyst's
    ROUND(double, 6) — HALF_UP on the shortest decimal representation —
    including constructed .xxxxxx5 boundaries (where np.round's half-even
    disagrees) and negatives (HALF_UP = away from zero)."""
    vals = [
        0.1234565, -0.1234565,       # .5 boundary, both signs
        0.9999995, -0.9999995,       # boundary rounding up to 1.0
        0.1234575, -0.1234575,       # odd next digit (half-even would keep)
        0.0000005, -0.0000005,       # boundary at zero
        0.1234564999, 0.1234565001,  # just below/above the boundary
        0.123456, 1.0, -1.0, 0.0, 0.7071067811865476,
    ]
    ours = [_round_half_up_6(v) for v in vals]
    df = spark.createDataFrame(list(enumerate(vals)), "i long, x double")
    spark_rounded = {
        r["i"]: r["r"]
        for r in df.select("i", F.round("x", 6).alias("r")).collect()
    }
    for i, v in enumerate(vals):
        assert ours[i] == spark_rounded[i], f"value {v!r}: ours={ours[i]} spark={spark_rounded[i]}"


def test_lsh_knn_recall_vs_exact(emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_knn(emb, queries, k=3).collect()
    }
    approx_rows = lsh_knn(emb, queries, k=3, n_planes=3, n_tables=12).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    # OR-construction with P=3/L=12 measures ~0.95 on this corpus; assert
    # a safety margin below that
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall collapsed: {recall}"
    # LSH returns at most k per query
    per_q = {}
    for r in approx_rows:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(v <= 3 for v in per_q.values())


def test_cosine_near_dup_pairs_exact(emb):
    rows = cosine_near_dup_pairs(emb, threshold=0.4).collect()
    # sf0.001 corpus has 66 pairs at >= 0.4 (verified against DuckDB)
    assert len(rows) == 66
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert r["cosine"] >= 0.4


def test_lsh_near_dup_recall_and_precision(emb):
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(emb, threshold=0.4).collect()
    }
    approx_rows = lsh_near_dup_pairs(
        emb, threshold=0.4, n_planes=3, n_tables=12
    ).collect()
    approx = {(r["id_a"], r["id_b"]) for r in approx_rows}
    # precision is 1.0 by construction (exact cosine confirms candidates)
    assert approx <= exact
    recall = len(approx) / len(exact)
    assert recall >= 0.8, f"LSH near-dup recall collapsed: {recall}"


def test_lsh_same_bucket_means_same_key_join(emb):
    # with 0 planes the bucket key is empty → degenerates to brute force:
    # the recall==1 sanity bound of the bucketing construction
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in brute_force_knn(emb, queries, k=2).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in lsh_knn(emb, queries, k=2, n_planes=1).collect()
    }
    # one plane: half the corpus shares each query's bucket on average;
    # top-1 true neighbors are nearly-parallel vectors → same side of the
    # plane with high probability, so rank-1 rows mostly survive
    rank1_exact = {t for t in exact if t[2] == 1}
    rank1_full = {t for t in full if t[2] == 1}
    assert len(rank1_exact & rank1_full) >= 2


@pytest.mark.parametrize("n_list", [8, 32])
def test_ivf_knn_recall_and_full_probe_exactness(emb, n_list):
    """n_list=32 puts k·dim = 2048 at _ARROW_ASSIGN_THRESHOLD, so Lloyd
    training and corpus assignment take the Arrow path; full probe must
    still equal brute force."""
    from ehr_data_pipeline_spark.operators.similarity import ivf_knn

    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_knn(emb, queries, k=3).collect()
    }
    # probing HALF the cells must retain decent recall
    half = ivf_knn(emb, queries, k=3, n_list=n_list, n_probe=n_list // 2)
    got = {(r["query_id"], r["neighbor_id"]) for r in half.collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.6, f"IVF recall collapsed: {recall}"
    # probing EVERY cell is the exact search: identical rows incl. rank
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
        for r in ivf_knn(
            emb, queries, k=3, n_list=n_list, n_probe=n_list
        ).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
        for r in brute_force_knn(emb, queries, k=3).collect()
    }
    assert full == want


def test_train_ivf_centroids_deterministic_and_shaped(emb):
    from ehr_data_pipeline_spark.operators.similarity import train_ivf_centroids

    c1 = train_ivf_centroids(emb, n_list=4, n_iters=1)
    c2 = train_ivf_centroids(emb, n_list=4, n_iters=1)
    assert [cid for cid, _ in c1] == [0, 1, 2, 3]
    assert all(len(v) == 64 for _, v in c1)
    assert c1 == c2  # deterministic seeding + single-pass refinement


def test_int8_quantization_roundtrip_preserves_cosine(emb):
    from ehr_data_pipeline_spark.operators.similarity import (
        cosine,
        dequantize_int8,
        quantize_int8,
    )

    out = emb.select(
        cosine(
            F.col("embedding"), dequantize_int8(quantize_int8(F.col("embedding")))
        ).alias("c")
    ).collect()
    assert len(out) > 0
    for r in out:
        assert r["c"] >= 0.999, f"quantization degraded cosine to {r['c']}"


def test_int8_quantization_zero_vector_safe(spark):
    from ehr_data_pipeline_spark.operators.similarity import (
        dequantize_int8,
        quantize_int8,
    )

    df = spark.createDataFrame([([0.0, 0.0, 0.0],)], "embedding array<double>")
    row = df.select(
        quantize_int8(F.col("embedding")).alias("qs"),
        dequantize_int8(quantize_int8(F.col("embedding"))).alias("back"),
    ).collect()[0]
    assert row["qs"]["scale"] == 0.0
    assert list(row["qs"]["q"]) == [0, 0, 0]
    assert list(row["back"]) == [0.0, 0.0, 0.0]


def test_ivf_cell_partitioned_index_prunes_reads(spark, emb, tmp_path):
    """The 100 TB IVF story made concrete: write the corpus partitioned
    by cell id once, and a probe-limited search reads ONLY the probed
    cell directories — PartitionFilters at the scan, not a post-scan
    filter over the whole index."""
    from ehr_data_pipeline_spark.operators.similarity import (
        _centroid_dists,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(emb, n_list=8, n_iters=2)
    indexed = emb.select(
        "vec_id",
        "embedding",
        _centroid_dists("embedding", cents)[0]["cid"].alias("cid"),
    )
    path = str(tmp_path / "ivf_index")
    indexed.write.partitionBy("cid").parquet(path)

    import glob

    n_cells = len(glob.glob(f"{path}/cid=*"))
    assert n_cells >= 4  # Lloyd produced a real partitioning

    probed = spark.read.parquet(path).filter(F.col("cid").isin([0, 1]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "cid" in pf[1].split("]")[0]  # pruning at the scan
    assert "Filter" not in plan.split("Scan parquet")[0]  # no post-scan cid filter
    assert probed.count() == indexed.filter(F.col("cid").isin([0, 1])).count() > 0


def test_cosine_near_dup_pairs_empty_input(spark):
    """An empty input returns the pair columns, and the id columns keep
    the input id type (an int id stays int, not widened to long)."""
    empty = spark.createDataFrame([], "vec_id int, embedding array<float>")
    out = cosine_near_dup_pairs(empty)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "cosine"]
    types = dict(out.dtypes)
    assert types["id_a"] == types["id_b"] == "int"


@pytest.mark.parametrize("extreme", [False, True])
def test_cosine_near_dup_pairs_matches_cosine_exactly(spark, extreme):
    """The pair operator divides a·b by per-row norms computed before the
    join; those are cosine()'s own folds in the same order, so every
    double must be identical — unrounded on the kernel, and after
    ROUND(·, 6) on every pair the operator emits at threshold -1. The
    extreme case mixes valid components from ~1e-150 to ~1e11."""
    from ehr_data_pipeline_spark.operators.similarity import _norm, dot

    rng = random.Random(15)

    def comp():
        if not extreme:
            return rng.uniform(-1.0, 1.0)
        return rng.choice([-1.0, 1.0]) * rng.uniform(1.0, 9.99) * 10.0 ** rng.choice(
            [-150, -75, -3, 0, 5, 11])

    rows = [(i, [comp() for _ in range(16)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    va, vb = F.col("va"), F.col("vb")
    ref = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", cosine(va, vb).alias("c"),
        (dot(va, vb) / (_norm(va) * _norm(vb))).alias("c_norms"),
    ).collect()
    assert len(ref) == 40 * 39 // 2
    assert all(r["c"] == r["c_norms"] for r in ref)

    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_dup_pairs(df, threshold=-1.0, dim=16).collect()
    }
    want = spark.createDataFrame(
        [(r["id_a"], r["id_b"], r["c"]) for r in ref], "id_a long, id_b long, c double"
    ).select("id_a", "id_b", F.round("c", 6).alias("c")).collect()
    assert got == {(r["id_a"], r["id_b"]): r["c"] for r in want}


@pytest.fixture(scope="module")
def dup_heavy_emb(spark, emb):
    """Duplicate-heavy embeddings: every vec_id < 30 vector replicated
    3× under fresh ids — the web-scale shape the distinct-first rewrite
    targets."""
    base = emb.filter(F.col("vec_id") < 30)
    copies = [
        base.select(
            (F.col("vec_id") + F.lit(1000 * (i + 1))).alias("vec_id"),
            "embedding",
            "label",
        )
        for i in range(2)
    ]
    out = base
    for c in copies:
        out = out.unionByName(c)
    return out.cache()


def test_lsh_near_dup_pairs_duplicate_heavy(dup_heavy_emb):
    """Distinct-first verification must keep the pairwise OUTPUT contract
    on a duplicate-heavy corpus: every identical-copy pair present at
    cosine 1.0 (identical vectors share every bucket — no probabilistic
    miss), all emitted pairs a subset of the exact ground truth with
    identical rounded values."""
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_dup_pairs(dup_heavy_emb, threshold=0.4).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in lsh_near_dup_pairs(
            dup_heavy_emb, threshold=0.4, n_planes=4, n_tables=8
        ).collect()
    }
    assert set(got) <= set(exact)
    for p, c in got.items():
        assert c == exact[p], p
    # every identical-copy pair (v, v+1000, v+2000) must be emitted
    for v in range(30):
        ids = [v, v + 1000, v + 2000]
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                assert got.get((a, b)) == 1.0, (a, b)


def test_lsh_near_dup_groups_matches_pair_closure(dup_heavy_emb):
    """The group surface equals the transitive closure of the pair
    surface — and identical-copy groups cluster even with no external
    neighbor."""
    from ehr_data_pipeline_spark.operators.similarity import lsh_near_dup_groups
    from ehr_data_pipeline_spark.operators.text_dedup import near_dup_components

    pairs = lsh_near_dup_pairs(dup_heavy_emb, threshold=0.4, n_planes=4, n_tables=8)
    closure = {
        (r["id"], r["component"])
        for r in near_dup_components(pairs, "id_a", "id_b").collect()
    }
    membership = {
        (r["vec_id"], r["group_id"])
        for r in lsh_near_dup_groups(dup_heavy_emb).collect()
    }
    assert membership == closure
    # every triplicated vector is in a group canonicalized at its min id
    labels = dict(membership)
    for v in range(30):
        assert labels[v + 1000] == labels[v + 2000] == labels[v]
        assert labels[v] <= v


def test_infer_dim_non_64_and_empty(spark):
    """ADVICE r7: omitting ``dim`` must work for any dimensionality
    (inferred from the data), and an empty corpus yields an empty frame
    with the contract schema instead of a crash or silent all-exclusion."""
    from ehr_data_pipeline_spark.operators.similarity import infer_dim, ivf_knn

    rows = [(i, [float(i + j) for j in range(8)]) for i in range(6)]
    df8 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert infer_dim(df8) == 8
    # dim omitted: operators infer 8 and return real results
    knn = brute_force_knn(df8, df8.filter(F.col("vec_id") < 2), k=2).collect()
    assert len(knn) == 4
    pairs = cosine_near_dup_pairs(df8, threshold=0.9).collect()
    assert len(pairs) > 0
    assert len(ivf_knn(df8, df8.filter(F.col("vec_id") < 2), k=2, n_list=2).collect()) == 4

    # one short vector at the lowest id breaks the contract: it must not
    # set the dimension that excludes every valid vector
    bad = df8.unionByName(
        spark.createDataFrame([(-1, [1.0, 2.0, 3.0, 4.0])], df8.schema)
    )
    assert infer_dim(bad) == 8
    assert sorted(map(tuple, cosine_near_dup_pairs(bad, threshold=0.9).collect())) \
        == sorted(map(tuple, pairs))
    # a tie between lengths goes to the smaller one
    tie = spark.createDataFrame([(1, [1.0] * 3), (2, [1.0] * 2)], df8.schema)
    assert infer_dim(tie) == 2

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert infer_dim(empty) is None
    out = brute_force_knn(empty, empty, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "rank", "cosine"]
    p = lsh_near_dup_pairs(empty)
    assert p.count() == 0 and p.columns == ["id_a", "id_b", "cosine"]


def test_semantic_dedup_keep_first_and_clusters(dup_heavy_emb, emb):
    """SemDeDup semantics on the duplicate-heavy corpus: one row per
    valid id, every identical copy dropped into its original's cluster,
    and the keep-first rule — a vector is dropped iff some LOWER-id
    cluster-mate clears the threshold — replayed against a brute-force
    reference built from the operator's own assignment."""
    from ehr_data_pipeline_spark.operators.similarity import semantic_dedup

    out = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in semantic_dedup(
            dup_heavy_emb, n_clusters=4, threshold=0.4
        ).collect()
    }
    base_ids = {r["vec_id"] for r in dup_heavy_emb.select("vec_id").collect()}
    assert set(out) == base_ids  # linear output: one verdict per vector
    for v in range(30):
        for copy in (v + 1000, v + 2000):
            assert out[copy][0] == out[v][0], (v, copy)  # same cluster
            assert out[copy][1] is False  # identical copy always dropped
        assert out[v][0] in range(4)
    # brute-force reference for the keep-first rule over the base slice
    pair_cos = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_dup_pairs(dup_heavy_emb, threshold=-1.0).collect()
    }
    for v in sorted(base_ids):
        expect_dropped = any(
            pair_cos.get((u, v), -1.0) >= 0.4 and out[u][0] == out[v][0]
            for u in base_ids if u < v
        )
        assert out[v][1] == (not expect_dropped), v


def test_semantic_dedup_duplicates_change_nothing_for_originals(emb):
    """Duplicate-proofing: adding higher-id identical copies must not
    change any original verdict (drop rule looks at lower ids only, and
    reps are unchanged), and the kept set is identical — duplicates only
    append dropped rows."""
    from ehr_data_pipeline_spark.operators.similarity import semantic_dedup

    base = emb.filter(F.col("vec_id") < 40)
    tripled = base
    for i in range(2):
        tripled = tripled.unionByName(
            base.select(
                (F.col("vec_id") + F.lit(10_000 * (i + 1))).alias("vec_id"),
                "embedding",
                "label",
            )
        )
    verdict_base = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in semantic_dedup(base, n_clusters=4, threshold=0.4).collect()
    }
    verdict_tripled = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in semantic_dedup(tripled, n_clusters=4, threshold=0.4).collect()
    }
    for v, verdict in verdict_base.items():
        assert verdict_tripled[v] == verdict, v
    kept_base = {v for v, (_, k) in verdict_base.items() if k}
    kept_tripled = {v for v, (_, k) in verdict_tripled.items() if k}
    assert kept_base == kept_tripled


def test_semantic_dedup_empty_and_dim_inference(spark):
    """Contract schema on empty input; inferred dim on a non-64 corpus."""
    from ehr_data_pipeline_spark.operators.similarity import semantic_dedup

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = semantic_dedup(empty)
    assert out.count() == 0
    assert out.columns == ["vec_id", "cluster_id", "kept"]

    rows = [(i, [float(i + j) for j in range(8)]) for i in range(6)]
    rows += [(100, [float(j) for j in range(8)])]
    df8 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = semantic_dedup(df8, n_clusters=2, threshold=0.99).collect()
    assert len(got) == 7
    assert all(r["cluster_id"] in (0, 1) for r in got)


def test_semantic_dedup_duplicates_add_zero_comparison_work(emb):
    """The measured form of the distinct-first claim for semantic dedup,
    without timing flakiness: adding exact copies must NOT grow the rep
    set or the within-cluster comparison count — copies only inherit
    verdicts through the member-expansion join. Mirrors
    test_duplicates_add_zero_verification_work (text_dedup)."""
    from ehr_data_pipeline_spark.operators.similarity import (
        _centroid_dists,
        _vector_groups,
        train_ivf_centroids,
    )

    base = emb.filter(F.col("vec_id") < 40)
    tripled = base
    for i in (1, 2):
        tripled = tripled.unionByName(
            base.select(
                (F.col("vec_id") + F.lit(10_000 * i)).alias("vec_id"),
                "embedding",
                "label",
            )
        )

    def work_facts(df):
        # copies take ids ABOVE the base range, so the smallest-id seeds
        # (and with n_iters=0 the centroids) are identical by construction
        cents = train_ivf_centroids(df, n_list=4, n_iters=0)
        mem = _vector_groups(df, 64)
        reps = mem.where(F.col("__id") == F.col("__rid"))
        assigned = reps.select(
            F.col("__id").alias("rid"),
            _centroid_dists("__v", cents)[0]["cid"].alias("cid"),
        )
        a = assigned.select(F.col("rid").alias("xa"), "cid")
        b = assigned.select(F.col("rid").alias("xb"), "cid")
        n_cmp = a.join(b, "cid").filter(F.col("xb") < F.col("xa")).count()
        return reps.count(), n_cmp

    assert work_facts(tripled) == work_facts(base)


def test_semantic_dedup_cluster_scaling_reduces_comparisons(emb):
    """The documented scale remedy (n_clusters ∝ N keeps per-item work
    constant) actually works on real data: quadrupling the cell count
    must strictly shrink the within-cluster comparison count."""
    from ehr_data_pipeline_spark.operators.similarity import (
        _centroid_dists,
        _vector_groups,
        train_ivf_centroids,
    )

    def n_comparisons(k):
        cents = train_ivf_centroids(emb, n_list=k, n_iters=0)
        mem = _vector_groups(emb, 64)
        assigned = mem.where(F.col("__id") == F.col("__rid")).select(
            F.col("__id").alias("rid"),
            _centroid_dists("__v", cents)[0]["cid"].alias("cid"),
        )
        a = assigned.select(F.col("rid").alias("xa"), "cid")
        b = assigned.select(F.col("rid").alias("xb"), "cid")
        return a.join(b, "cid").filter(F.col("xb") < F.col("xa")).count()

    assert n_comparisons(8) < n_comparisons(2)


def test_auto_n_clusters_scales_with_corpus():
    """VERDICT r9 #1: the quantizer size is derived from the corpus —
    k = ⌈n_reps / target⌉ clamped to [1, max] — so cluster count grows
    ∝ N instead of cluster size."""
    import pytest as _pytest

    from ehr_data_pipeline_spark.operators.similarity import auto_n_clusters

    assert auto_n_clusters(0) == 1
    assert auto_n_clusters(1) == 1
    assert auto_n_clusters(1024) == 1
    assert auto_n_clusters(1025) == 2
    assert auto_n_clusters(500, target_cluster_size=64) == 8
    assert auto_n_clusters(2000, target_cluster_size=64) == 32
    # k scales linearly: ×10 the corpus → ×10 the cells (same target)
    assert auto_n_clusters(20_000, target_cluster_size=64) == 313
    assert auto_n_clusters(10**9) == 65536  # clamp: hierarchical regime
    assert auto_n_clusters(10**9, max_clusters=10**6) == 976563
    with _pytest.raises(ValueError):
        auto_n_clusters(10, target_cluster_size=0)


def test_semantic_dedup_auto_k_matches_explicit_and_scales(emb):
    """semantic_dedup(n_clusters=None) must (a) produce the EXACT
    decision set of the explicit k the derivation lands on, and (b)
    derive a larger k on a larger corpus — the linearity-by-construction
    claim, pinned on real data (500 distinct vectors → k=8 at target 64;
    a 3× id-shifted union with distinct payloads → k grows)."""
    from ehr_data_pipeline_spark.operators.similarity import (
        auto_n_clusters,
        semantic_dedup,
    )

    n_reps = emb.select("embedding").distinct().count()
    k = auto_n_clusters(n_reps, target_cluster_size=64)
    assert k == 8  # 500 distinct vectors — today's registered decision
    auto = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in semantic_dedup(
            emb, n_clusters=None, target_cluster_size=64, dim=64
        ).collect()
    }
    explicit = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in semantic_dedup(
            emb, n_clusters=k, dim=64
        ).collect()
    }
    assert auto == explicit

    # grow the corpus with genuinely distinct payloads (negated vectors
    # under shifted ids): distinct reps ×2 → derived k ×2
    bigger = emb.unionByName(
        emb.select(
            (F.col("vec_id") + F.lit(100_000)).alias("vec_id"),
            F.transform("embedding", lambda x: -x).alias("embedding"),
            "label",
        )
    )
    n_big = bigger.select("embedding").distinct().count()
    assert n_big == 2 * n_reps
    assert auto_n_clusters(n_big, target_cluster_size=64) == 2 * k
    big_out = semantic_dedup(
        bigger, n_clusters=None, target_cluster_size=64, dim=64
    )
    n_cells = big_out.select("cluster_id").distinct().count()
    assert n_cells > 8  # more cells actually materialize on the big corpus


def test_arrow_assignment_matches_native(emb):
    """The Arrow cell-assignment twin must be BIT-IDENTICAL to the
    native literal-fold argmin — same cid for every rep, on real data,
    at a k large enough that tie behavior and fold order both matter
    (32 centroids × 64 dims; the auto-k regime where the Arrow path
    engages) — and build_ivf_index, which routes through _assign_cells,
    must land the same cid per id."""
    from ehr_data_pipeline_spark.operators.similarity import (
        _assign_cells_arrow,
        _centroid_dists,
        build_ivf_index,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(emb, n_list=32, n_iters=0, dim=64)
    src = emb.select(
        F.col("vec_id").alias("__rid"), F.col("embedding").alias("__rv")
    )
    native = {
        r["__rid"]: r["__cid"]
        for r in src.withColumn(
            "__cid", _centroid_dists("__rv", cents)[0]["cid"]
        ).collect()
    }
    arrow = {
        r["__rid"]: r["__cid"]
        for r in _assign_cells_arrow(src, cents, "__rv", "__cid").collect()
    }
    assert native == arrow
    assert len(native) == 500
    index = {
        r["vec_id"]: r["cid"]
        for r in build_ivf_index(emb, cents, dim=64).collect()
    }
    assert index == native


def test_semantic_contamination_flags_planted_leakage(spark, emb):
    """A scaled copy of a benchmark vector (cosine 1.0 — 'paraphrase'
    leakage the verbatim rule would miss) must be flagged against that
    benchmark id; output carries only corpus ids, self-comparison is
    impossible, and an empty benchmark flags nothing."""
    from ehr_data_pipeline_spark.operators.similarity import (
        semantic_contamination,
    )

    bench = emb.filter(F.col("vec_id") < 5)
    leaked = bench.filter(F.col("vec_id") == 3).select(
        (F.col("vec_id") + F.lit(777)).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        "label",
    )
    corpus = emb.filter(F.col("vec_id") >= 5).unionByName(leaked)
    rows = {
        r["vec_id"]: (r["benchmark_id"], r["cosine"])
        for r in semantic_contamination(corpus, bench, threshold=0.4).collect()
    }
    assert rows[780] == (3, 1.0)  # the planted leak, attributed exactly
    corpus_ids = {r["vec_id"] for r in corpus.select("vec_id").collect()}
    assert set(rows) <= corpus_ids
    assert all(bid in range(5) and cos >= 0.4 for bid, cos in rows.values())
    # overlapping inputs never self-compare
    self_rows = semantic_contamination(bench, bench, threshold=-1.0).collect()
    assert all(r["vec_id"] != r["benchmark_id"] for r in self_rows)
    # empty benchmark: nothing to leak against
    none = semantic_contamination(
        corpus, emb.filter(F.col("vec_id") < 0), threshold=0.4
    )
    assert none.count() == 0
    assert none.columns == ["vec_id", "benchmark_id", "cosine"]


def test_semantic_dedup_against_index_matches_batch_mode(emb):
    """When index ids all precede batch ids and the quantizer is seeded
    from the history prefix, the incremental path must return EXACTLY
    the batch-mode kept set restricted to the batch — the independent
    lower-id drop rule collapses the two phases into one."""
    from ehr_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_against_index,
        train_ivf_centroids,
    )

    history = emb.filter(F.col("vec_id") < 25)
    batch = emb.filter(F.col("vec_id") >= 25)
    cents = train_ivf_centroids(history, n_list=8, n_iters=0, dim=64)
    fresh, entries = semantic_dedup_against_index(
        batch, history, cents, dim=64
    )
    got = {r["vec_id"] for r in fresh.collect()}
    # batch-mode over the full corpus seeds from the same smallest-id
    # prefix, so cells and the drop rule coincide
    want = {
        r["vec_id"]
        for r in semantic_dedup(emb, n_clusters=8, threshold=0.4, dim=64).collect()
        if r["kept"] and r["vec_id"] >= 25
    }
    assert got == want
    assert {r["vec_id"] for r in entries.collect()} == got


def test_semantic_dedup_against_index_reingest_and_growth(spark, emb):
    """Continuous-ingest semantics: fresh entries append to the index,
    and a later batch re-ingesting one of them (same vector, any id)
    drops against the grown index; with no quantizer (empty history)
    only identical-vector collapse applies."""
    from ehr_data_pipeline_spark.operators.similarity import (
        semantic_dedup_against_index,
        train_ivf_centroids,
    )

    history = emb.filter(F.col("vec_id") < 25)
    cents = train_ivf_centroids(history, n_list=4, n_iters=0, dim=64)
    batch1 = emb.filter((F.col("vec_id") >= 25) & (F.col("vec_id") < 40))
    fresh1, entries1 = semantic_dedup_against_index(
        batch1, history.select("vec_id", "embedding"), cents, dim=64
    )
    grown = history.select("vec_id", "embedding").unionByName(entries1)
    fresh1_ids = sorted(r["vec_id"] for r in fresh1.collect())
    assert fresh1_ids  # something survived batch1
    # batch2 = a re-ingest of the first survivor under a fresh id
    reingest = (
        emb.filter(F.col("vec_id") == fresh1_ids[0])
        .select((F.col("vec_id") + F.lit(5000)).alias("vec_id"), "embedding")
    )
    fresh2, _ = semantic_dedup_against_index(
        reingest, grown, cents, dim=64
    )
    assert fresh2.count() == 0  # cosine 1.0 against its own index entry
    # empty history, no quantizer: distinct batch vectors all fresh
    doubled = batch1.unionByName(
        batch1.select((F.col("vec_id") + F.lit(9000)).alias("vec_id"),
                      "embedding", "label")
    )
    fresh3, _ = semantic_dedup_against_index(
        doubled, spark.createDataFrame([], "vec_id long, embedding array<float>"),
        [], dim=64,
    )
    got3 = {r["vec_id"] for r in fresh3.collect()}
    assert got3 == {r["vec_id"] for r in batch1.select("vec_id").collect()}


def test_semantic_dedup_against_index_warns_on_empty_quantizer(spark, emb):
    """ADVICE r8: centroids == [] with a NON-empty index is a
    misconfigured cold start (cross-vector dedup silently disabled) —
    it must warn; the legitimate empty-history case must stay silent."""
    import warnings

    from ehr_data_pipeline_spark.operators.similarity import (
        semantic_dedup_against_index,
    )

    batch = emb.filter(F.col("vec_id") < 10)
    index = emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        semantic_dedup_against_index(batch, index, [], dim=64)
        assert any("centroids == []" in str(x.message) for x in w)
    empty_index = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        semantic_dedup_against_index(batch, empty_index, [], dim=64)
        assert not any("centroids == []" in str(x.message) for x in w)


def test_semantic_contamination_duplicates_add_zero_scoring_work(emb):
    """Duplicate-proofing the decontamination scorer: tripling BOTH the
    corpus and the benchmark with identical copies must not change the
    scored-candidate count (reps × distinct benchmark vectors), while
    every copy still receives its verdict row — and verdicts for the
    original ids are unchanged."""
    from ehr_data_pipeline_spark.operators.similarity import (
        _vector_groups,
        semantic_contamination,
    )

    bench = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)

    def tripled(df, stride):
        out = df
        for i in (1, 2):
            out = out.unionByName(
                df.select(
                    (F.col("vec_id") + F.lit(stride * i)).alias("vec_id"),
                    "embedding",
                    "label",
                )
            )
        return out

    base = {
        r["vec_id"]: (r["benchmark_id"], r["cosine"])
        for r in semantic_contamination(corpus, bench, threshold=0.0).collect()
    }
    big = {
        r["vec_id"]: (r["benchmark_id"], r["cosine"])
        for r in semantic_contamination(
            tripled(corpus, 10_000), tripled(bench, 100_000), threshold=0.0
        ).collect()
    }
    for v, verdict in base.items():
        assert big[v] == verdict, v  # originals unchanged
        # copies inherit the same evidence row
        assert big[v + 10_000] == verdict and big[v + 20_000] == verdict, v
    # the scored candidate set is reps × distinct benchmark vectors —
    # identical between the two corpora
    def n_candidates(c, b):
        reps = (
            _vector_groups(c, 64)
            .where(F.col("__id") == F.col("__rid"))
            .count()
        )
        distinct_bench = b.select("embedding").distinct().count()
        return reps * distinct_bench

    assert n_candidates(corpus, bench) == n_candidates(
        tripled(corpus, 10_000), tripled(bench, 100_000)
    )


def test_ivf_index_search_matches_ivf_knn(spark, emb):
    """Searching a persisted IVF index must return EXACTLY what the
    one-shot ivf_knn returns over the same corpus, quantizer and probe
    count — the index only amortizes the assignment. Also pins the
    empty-quantizer/empty-index contracts."""
    from ehr_data_pipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_knn,
        ivf_knn_against_index,
        train_ivf_centroids,
    )

    corpus = emb
    queries = emb.filter(F.col("vec_id") < 5)
    cents = train_ivf_centroids(corpus, n_list=8, n_iters=0, dim=64)
    index = build_ivf_index(corpus, cents, dim=64)
    got = sorted(
        map(tuple, ivf_knn_against_index(
            queries, index, cents, n_probe=4, dim=64).collect())
    )
    want = sorted(
        map(tuple, ivf_knn(
            corpus, queries, k=3, n_list=8, n_probe=4, n_iters=0,
            dim=64).collect())
    )
    assert got == want and len(got) > 0
    # index rows: one per valid corpus vector, cids within range
    n = index.count()
    assert n == corpus.select("vec_id").distinct().count()
    assert index.agg(F.min("cid"), F.max("cid")).collect()[0][1] <= 7
    # empty quantizer -> empty index with the contract schema
    empty = build_ivf_index(corpus, [], dim=64)
    assert empty.count() == 0 and empty.columns == ["vec_id", "cid", "embedding"]
    assert ivf_knn_against_index(queries, empty, [], dim=64).count() == 0


def _bucket_of_double(v, dim: int, n_planes: int, table: int):
    """Reference per-table sign-bit bucket key from an ALREADY-DOUBLE
    vector (a bound lambda variable): bit p = 1 iff
    v · hyperplane_{table,p} >= 0, one zip_with/aggregate fold per
    plane against a constant-folded plane array."""
    from ehr_data_pipeline_spark.operators.similarity import _hyperplane

    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(h) for h in _hyperplane(table, p, dim)])
        proj = F.aggregate(
            F.zip_with(v, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def test_all_table_buckets_matches_per_table_form(emb):
    """The constant-folded matrix bucket form must produce EXACTLY the
    per-table _bucket_of_double keys for every (vector, table) — the
    arithmetic identity every LSH oracle depends on."""
    from ehr_data_pipeline_spark.operators.similarity import (
        _with_table_buckets,
        to_double,
    )
    from ehr_data_pipeline_spark.operators.text_analysis import let_bound

    base = emb.select(F.col("vec_id").alias("__id"), F.col("embedding").alias("__v"))
    got = sorted(map(tuple, _with_table_buckets(
        base, "__v", 64, 3, 5).select("__id", "__table", "__bucket").collect()))
    old_entries = let_bound(
        to_double(F.col("__v")),
        lambda v: F.array(*[
            F.struct(F.lit(t).alias("t"),
                     _bucket_of_double(v, 64, 3, t).alias("key"))
            for t in range(5)
        ]),
    )
    want = sorted(map(tuple, base.select(
        "__id", F.explode(old_entries).alias("__b")
    ).select("__id", F.col("__b.t"), F.col("__b.key")).collect()))
    assert got == want and len(got) == base.count() * 5


def test_gram_matrix_hand_computed_and_invalid_excluded(spark):
    """gram[d1][d2] = Σ v[d1]·v[d2] on a hand-computed 3-dim corpus;
    symmetric; NaN-component vectors are excluded by the embeddings
    contract rather than aborting the fixed-point cast."""
    from ehr_data_pipeline_spark.operators.similarity import gram_matrix

    rows = [
        (1, [1.0, 2.0, 3.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [float("nan"), 1.0, 1.0]),  # excluded
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {
        (r["d1"], r["d2"]): r["gram"]
        for r in gram_matrix(df, dim=3).collect()
    }
    assert len(got) == 9
    want = {
        (0, 0): 1.0, (0, 1): 2.0, (0, 2): 3.0,
        (1, 0): 2.0, (1, 1): 5.0, (1, 2): 6.0,
        (2, 0): 3.0, (2, 1): 6.0, (2, 2): 9.0,
    }
    for k, v in want.items():
        assert got[k] == v, (k, got[k], v)
    # symmetry holds on real data too
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    g = {
        (r["d1"], r["d2"]): r["gram"]
        for r in gram_matrix(emb, dim=64).collect()
    }
    assert all(g[(a, b)] == g[(b, a)] for (a, b) in g)


# --- centroid distances: SQL-string form vs Column-builder form -----------

def _centroid_dists_column(vec, centroids):
    """Column-builder reference for ``similarity._centroid_dists``: the
    same (squared distance, cid) struct array built through the Column
    API — one zip_with/aggregate fold per literal centroid over the
    let-bound double-cast vector, then array_sort."""
    from ehr_data_pipeline_spark.operators.similarity import to_double
    from ehr_data_pipeline_spark.operators.text_analysis import let_bound

    def sq_dist(v, centroid):
        c = F.array(*[F.lit(float(x)) for x in centroid])
        return F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def dists(v):
        return F.array_sort(
            F.array(
                *[
                    F.struct(sq_dist(v, cvec).alias("dist"), F.lit(cid).alias("cid"))
                    for cid, cvec in centroids
                ]
            )
        )

    return let_bound(to_double(vec), dists)


def _random_centroids(rng, k, dim):
    return [
        (cid, [rng.uniform(-2, 2) for _ in range(dim)]) for cid in range(k)
    ]


@pytest.mark.parametrize("k,dim", [(3, 5), (8, 64), (32, 16)])
def test_centroid_dists_sql_matches_column_form(spark, k, dim):
    """The F.expr-rendered centroid-distance expression must be
    bit-identical to the Column-builder form (the pre-r15 shape, kept
    here as the reference): same aggregate/zip_with fold order, same
    array_sort tiebreak, double literals round-tripped via repr. Ties
    included: duplicated centroids force the cid tiebreak."""
    from ehr_data_pipeline_spark.operators.similarity import _centroid_dists

    rng = random.Random(1000 + k * dim)
    cents = _random_centroids(rng, k, dim)
    cents[-1] = (k - 1, list(cents[0][1]))  # duplicate centroid: tie on dist
    rows = [
        (i, [rng.uniform(-3, 3) for _ in range(dim)]) for i in range(200)
    ] + [(200, list(cents[1][1]))]  # exact centroid hit
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    old = _centroid_dists_column(F.col("embedding"), cents)
    new = _centroid_dists("embedding", cents)
    bad = (
        df.select("id", old.alias("o"), new.alias("n"))
        .filter(~(F.col("o") == F.col("n")))
        .collect()
    )
    assert not bad, f"centroid dists k={k} dim={dim}: {bad[:2]}"


def test_double_sql_literal_roundtrip(spark):
    """repr-rendered double literals parse back to the bit-identical
    double, including subnormals, negatives, and exponent forms."""
    from ehr_data_pipeline_spark.operators.similarity import _double_sql

    vals = [0.0, -0.0, 1.0, -1.5, 1e-305, 5e-324, 1.7976931348623157e308,
            0.1, -2.2250738585072014e-308, 3.141592653589793, 1e12, -1e-12]
    rng = random.Random(7)
    vals += [rng.uniform(-1e6, 1e6) for _ in range(50)]
    exprs = ", ".join(_double_sql(v) for v in vals)
    got = spark.sql(f"SELECT array({exprs}) AS a").collect()[0]["a"]
    import struct as _s

    for v, g in zip(vals, got):
        assert _s.pack("<d", v) == _s.pack("<d", g), (v, g)
