"""Every registry query must hash-match its DuckDB oracle — the same gate
the driver runs (CORRECTNESS_r{N}.json). Runs at sf0.001 for speed; the
driver re-runs at sf0.01."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.queries import REGISTRY
from tests.oracle_utils import (
    compare_spark_vs_oracle,
    duckdb_con,
    prefetch_spark_arrow,
    unwrap_prefetched,
)

NAMES = list(REGISTRY)


@pytest.fixture(scope="module")
def con(sf_dir):
    con = duckdb_con(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="module")
def oracle_results(spark, sf_dir):
    # the full-registry replay runs CONCURRENTLY once per module (guide
    # §2.6 — these are ~150 independent latency-bound jobs that pytest
    # would otherwise serialize; the r15 fix for the driver's killed
    # suite run, VERDICT r14 #2); each test below compares its own
    # prefetched frame, so per-query reporting is unchanged
    return prefetch_spark_arrow(
        {n: (lambda n=n: REGISTRY[n].fn(spark, sf_dir)) for n in NAMES}
    )


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(con, oracle_results, name):
    compare_spark_vs_oracle(
        unwrap_prefetched(oracle_results, name), con,
        REGISTRY[name].oracle, name=name,
    )


@pytest.mark.parametrize("name", NAMES)
def test_oracle_types_no_hugeint(con, name):
    """Oracle type lint: a bare SUM(BIGINT) in DuckDB types as HUGEINT,
    which pandas renders as float64 ("123.0") while Spark's BIGINT renders
    "123" — a guaranteed driver hash-red even when every value is equal.
    This exact class cost red rows in rounds 2 AND 4 (doc_repetition_stats,
    media_meta_profile, doc_pack_sequences). Every oracle must therefore
    yield no HUGEINT/UHUGEINT column — wrap wide sums in
    CAST(... AS BIGINT)."""
    rel = con.sql(REGISTRY[name].oracle)
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t).upper() in ("HUGEINT", "UHUGEINT")
    ]
    assert not bad, (
        f"{name}: oracle columns typed HUGEINT (driver hash-red foot-gun), "
        f"CAST them to BIGINT: {bad}"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0  # q5 at sf0.001 returns the 5 ASIA nations
    # entry's contract: stable schema, no exceptions
    assert df.schema is not None
    # queries()/oracle_sql() keys line up
    q, o = mod.queries(), mod.oracle_sql()
    assert set(o) <= set(q)


def test_driver_export_follows_registry_order():
    """The driver contract exports the registry as registered: every
    query once, in registration order, and its oracle in that same
    order. No Spark session needed."""
    import __spark_entry__ as mod

    assert list(mod.queries()) == NAMES
    assert list(mod.oracle_sql()) == NAMES


def test_corpus_build_manifest_cache_released(spark):
    """The capstone's persisted mixture manifest follows the tracked-
    cache lifetime contract (VERDICT r12 #3 / ADVICE r12): repeated
    invocations in one session must not accrete cached plans past
    release_builder_caches(). Two full invoke+collect cycles, each
    followed by the registered cleanup, leave no persisted RDD beyond
    those that predate the test. The check compares RDD ids, not counts:
    a leftover from an earlier test (e.g. a dropped frame's
    localCheckpoint blocks) may be reclaimed by Spark's ContextCleaner at
    any moment, and a count comparison would misread that as the
    manifest missing or leaking."""
    from ehr_data_pipeline_spark.operators.text_dedup import (
        release_builder_caches,
    )
    from ehr_data_pipeline_spark.queries import REGISTRY

    release_builder_caches()  # start clean of other builders' caches
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return {int(k) for k in jsc.getPersistentRDDs()}

    before = persisted()
    fn = REGISTRY["doc_corpus_build_sequences"].fn
    for _ in range(2):
        rows = fn(spark, "/root/testdata/sf0.001").collect()
        assert len(rows) > 0
        # the manifest IS cached while the result is being consumed...
        assert persisted() - before
        # ...and the registered cleanup releases it every time
        release_builder_caches()
        assert not persisted() - before


def test_approx_count_distinct_tracks_exact(spark):
    """The 100 TB path for event_type_reach: HLL++ sketch within 5% of
    the exact distinct count on every group."""
    from ehr_data_pipeline_spark.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    both = (
        e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id").alias("approx"),
        )
        .collect()
    )
    assert len(both) > 0
    for r in both:
        assert abs(r["approx"] - r["exact"]) / r["exact"] <= 0.05


def test_approx_percentile_tracks_exact(spark):
    """The 100 TB path for lineitem_quantity_percentiles: the exact
    percentile needs a full sort per group, the KLL/GK-style
    approx_percentile is a bounded-memory mergeable sketch. With
    accuracy=10000 the rank error is ≤ 0.01·n, so on the quantity domain
    the approximate quantile must land within 1 unit of the exact one."""
    from ehr_data_pipeline_spark.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.5)).alias("exact_p50"),
            F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias("approx_p50"),
            F.percentile("l_quantity", F.lit(0.95)).alias("exact_p95"),
            F.percentile_approx("l_quantity", F.lit(0.95), F.lit(10000)).alias("approx_p95"),
        )
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        assert abs(r["approx_p50"] - r["exact_p50"]) <= 1.0
        assert abs(r["approx_p95"] - r["exact_p95"]) <= 1.0


def test_histogram_drift_known_counts(spark):
    """Hand-built drift: doubled mass in one bucket, an A-only bucket,
    a B-only bucket (null chi2), and under/overflow routing."""
    from ehr_data_pipeline_spark.operators.quality import histogram_drift

    a = spark.createDataFrame([(v,) for v in [1.0, 1.5, 5.0, 5.5, -3.0, 99.0]], "x double")
    b = spark.createDataFrame([(v,) for v in [1.2, 1.3, 1.7, 1.9, 12.0, 150.0]], "x double")
    out = {r["bucket"]: r for r in histogram_drift(a, b, "x", 0.0, 100.0, 10).collect()}
    # bucket 0 ([0,10)): A=4, B=4; expected = 4*6/6 = 4 -> chi2 0
    assert (out[0]["n_a"], out[0]["n_b"], out[0]["drift_chi2"]) == (4, 4, 0.0)
    assert out[-1]["n_a"] == 1 and out[-1]["n_b"] == 0      # underflow only in A
    assert out[1]["n_a"] == 0 and out[1]["n_b"] == 1        # B-only bucket
    assert out[1]["drift_chi2"] is None                      # infinite surprise -> null
    assert out[10]["n_b"] == 1                               # overflow bucket
    assert out[9]["n_a"] == 1                                # 99.0 in [90,100)


# --- sf0.1 spot-check for tie-prone shapes -------------------------------
# Small SFs can hide nondeterministic tiebreaks (duplicate o_totalprice,
# equal cosines, same-count top-k entries appear only with more rows).
# The driver's gate runs sf0.01; this runs the most tie-prone registered
# queries against the same oracle at 10x that scale so a latent partial
# ordering fails HERE, not in a future driver round.
TIE_PRONE = [
    "top_orders_per_customer",
    "parts_top20_by_price",
    "q3_top_revenue_orders",
    "returned_item_top_customers",
    "large_volume_orders",
    "late_sole_supplier_ranking",
    "lineitem_first_line_per_order",
    "customer_balance_quartiles",
    "part_cheapest_line_supplier",
    "doc_top_tfidf_terms",
    "emb_knn_topk",
    "events_stratified_sample",
    "events_user_skew_stats",
    "doc_dsir_selection",
    "user_cms_accuracy",
    "doc_bm25_search",
    "doc_hybrid_rrf_search",
    "doc_pps_token_sample",
    "nation_trade_pagerank",
]


SF01_DIR = __import__("os").environ.get(
    "SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1"
)


@pytest.fixture(scope="module")
def con_sf01():
    return duckdb_con(SF01_DIR)


@pytest.fixture(scope="module")
def tie_prone_results(spark):
    return prefetch_spark_arrow(
        {n: (lambda n=n: REGISTRY[n].fn(spark, SF01_DIR)) for n in TIE_PRONE}
    )


@pytest.mark.parametrize("name", TIE_PRONE)
def test_tie_prone_queries_match_oracle_at_sf01(con_sf01, tie_prone_results, name):
    compare_spark_vs_oracle(
        unwrap_prefetched(tie_prone_results, name), con_sf01,
        REGISTRY[name].oracle, name=f"{name}@sf0.1",
    )


def test_substring_dedup_oracle_preserves_empty_docs(spark, tmp_path):
    """ADVICE r5: the doc_substring_dedup oracle once built its totals
    from the non-empty token stream, so an empty/whitespace-only doc
    vanished from the oracle while strip_duplicate_spans preserved it as
    ('', 0, 0) — a latent cardinality mismatch the stock sf corpora never
    trip. Replay the full registered query + oracle on a corpus that
    contains both degenerate docs."""
    import duckdb

    run = "d1 d2 d3 d4 d5 d6 d7 d8"
    docs = spark.createDataFrame(
        [
            (0, "", "en", "web", 0),
            (1, "   ", "en", "web", 3),
            (2, run + " tail", "en", "web", 28),
            (3, "head " + run, "en", "web", 28),
            (4, "k1 k2 k3", "en", "web", 8),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    sf_dir = str(tmp_path)
    docs.toPandas().to_parquet(f"{sf_dir}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    spec = REGISTRY["doc_substring_dedup"]
    df = spec.fn(spark, sf_dir)
    compare_spark_vs_oracle(df, con, spec.oracle, name="doc_substring_dedup[empty]")
    assert df.count() == 5  # every doc, including the two degenerate ones
    con.close()


# --- the oracle comparator's verdicts -------------------------------------

_TS = "TIMESTAMP'2024-01-01 00:00:00'"

# (id, Spark SQL, DuckDB oracle SQL, whether the comparator must pass)
COMPARATOR_VERDICTS = [
    ("reordered-rows",
     "SELECT * FROM VALUES (1L, 'a'), (2L, 'b'), (3L, NULL) AS t(k, v)",
     "SELECT * FROM (VALUES (3::BIGINT, NULL), (1, 'a'), (2, 'b')) t(k, v)", True),
    ("one-value-differs",
     "SELECT * FROM VALUES (1L, 'a'), (2L, 'b') AS t(k, v)",
     "SELECT * FROM (VALUES (1::BIGINT, 'a'), (2, 'X')) t(k, v)", False),
    ("column-names-differ",
     "SELECT 1L AS k", "SELECT 1::BIGINT AS j", False),
    ("row-count-differs",
     "SELECT * FROM VALUES (1L), (1L) AS t(k)", "SELECT 1::BIGINT AS k", False),
    ("int-widths-agree",
     "SELECT CAST(1 AS INT) AS k, CAST(2 AS SMALLINT) AS s",
     "SELECT 1::BIGINT AS k, 2::TINYINT AS s", True),
    ("int-vs-float",
     "SELECT 1L AS k", "SELECT 1.0::DOUBLE AS k", False),
    ("bigint-vs-duckdb-hugeint",
     "SELECT 1L AS k", "SELECT 1::HUGEINT AS k", False),
    ("bigint-vs-duckdb-decimal",
     "SELECT 1L AS k", "SELECT 1::DECIMAL(18, 0) AS k", False),
    ("duckdb-decimal-reads-as-float",
     "SELECT 1.5D AS x", "SELECT 1.5::DECIMAL(10, 2) AS x", True),
    ("spark-decimal-stays-exact",
     "SELECT CAST(1.5 AS DECIMAL(10, 2)) AS x", "SELECT 1.5::DECIMAL(10, 2) AS x", False),
    ("empty-columns-carry-no-type",
     "SELECT 1L AS k WHERE false", "SELECT 1.0::DOUBLE AS k WHERE false", True),
    ("all-null-columns-carry-no-type",
     "SELECT CAST(NULL AS STRING) AS s", "SELECT NULL::DOUBLE AS s", True),
    ("int-column-with-null-reads-as-float",
     "SELECT * FROM VALUES (1L), (NULL) AS t(k)",
     "SELECT * FROM (VALUES (1.0::DOUBLE), (NULL)) t(k)", True),
    ("int-past-2p53-column-with-null",
     "SELECT * FROM VALUES (1152921504606846977L), (NULL) AS t(k)",
     "SELECT * FROM (VALUES (1152921504606846977::BIGINT), (NULL)) t(k)", True),
    ("nan-is-null",
     "SELECT * FROM VALUES (1L, CAST('NaN' AS DOUBLE)), (2L, 0.5D) AS t(k, f)",
     "SELECT * FROM (VALUES (2::BIGINT, 0.5::DOUBLE), (1, NULL)) t(k, f)", True),
    ("nan-is-null-inside-lists",
     "SELECT array(1.5D, CAST('NaN' AS DOUBLE)) AS l",
     "SELECT [1.5, NULL]::DOUBLE[] AS l", True),
    ("spark-int-list-with-null-reads-as-float",
     "SELECT array(1L, NULL) AS l", "SELECT [1, NULL]::BIGINT[] AS l", False),
    ("bigint-vs-timestamp",
     "SELECT 1704067200000000L AS t", "SELECT TIMESTAMP '2024-01-01' AS t", False),
    ("us-vs-ns-timestamps-with-a-null",
     f"SELECT * FROM VALUES (1L, {_TS}), (2L, NULL) AS t(k, t)",
     "SELECT * FROM (VALUES (2::BIGINT, NULL::TIMESTAMP_NS),"
     " (1, '2024-01-01'::TIMESTAMP_NS)) t(k, t)", True),
    ("null-moved-to-another-row",
     f"SELECT * FROM VALUES (1L, {_TS}), (2L, NULL) AS t(k, t)",
     "SELECT * FROM (VALUES (1::BIGINT, NULL::TIMESTAMP),"
     " (2, '2024-01-01'::TIMESTAMP)) t(k, t)", False),
    ("duckdb-date-reads-as-timestamp",
     f"SELECT {_TS} AS d", "SELECT DATE '2024-01-01' AS d", True),
    ("spark-date-stays-date",
     "SELECT DATE'2024-01-01' AS d", "SELECT DATE '2024-01-01' AS d", False),
    ("timestamp-past-2262",
     "SELECT TIMESTAMP'2300-01-01 00:00:00' AS t", "SELECT TIMESTAMP '2300-01-01' AS t", True),
    ("timestamp-past-2262-vs-its-ns-wrap",
     "SELECT TIMESTAMP'2300-01-01 00:00:00' AS t",
     "SELECT '1715-06-13 00:25:26.290448384'::TIMESTAMP_NS AS t", False),
    ("maps-equal",
     "SELECT * FROM VALUES (1L, map('a', 1L)), (2L, map('b', 2L)) AS t(k, m)",
     "SELECT * FROM (VALUES (2::BIGINT, MAP {'b': 2::BIGINT}),"
     " (1, MAP {'a': 1::BIGINT})) t(k, m)", True),
    ("one-map-cell-differs",
     "SELECT * FROM VALUES (1L, map('a', 1L)), (2L, map('b', 2L)) AS t(k, m)",
     "SELECT * FROM (VALUES (1::BIGINT, MAP {'a': 1::BIGINT}),"
     " (2, MAP {'b': 3::BIGINT})) t(k, m)", False),
]


@pytest.mark.parametrize(
    "spark_sql, duck_sql, same",
    [c[1:] for c in COMPARATOR_VERDICTS],
    ids=[c[0] for c in COMPARATOR_VERDICTS],
)
def test_comparator_verdicts(spark, spark_sql, duck_sql, same):
    """The comparator's verdict on one Spark result against one oracle,
    given both as a DataFrame and as the prefetched ``toArrow()`` table.
    The type rules follow what each engine's pandas conversion reads."""
    import duckdb

    con = duckdb.connect()
    df = spark.sql(spark_sql)
    for got in (df, df.toArrow()):
        if same:
            compare_spark_vs_oracle(got, con, duck_sql, name="case")
        else:
            with pytest.raises(AssertionError, match="^case: "):
                compare_spark_vs_oracle(got, con, duck_sql, name="case")
    con.close()
