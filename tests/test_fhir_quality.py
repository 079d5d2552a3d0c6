"""The FHIR quality report as one plan: equal to the per-table reference
twin (tests/fhir_quality_reference.py), zero counts on empty tables,
a bounded shuffle count, and a sink-path report that is computed over
the run's single parse."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.fhir.extract import extract_all
from ehr_data_pipeline_spark.fhir.ingest import read_and_route
from ehr_data_pipeline_spark.fhir.pipeline import _input_size_bytes, run_pipeline
from ehr_data_pipeline_spark.fhir.quality import CHECK_SUITES, fhir_quality_report
from tests.fhir_quality_reference import reference_quality_report

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIR = os.path.join(REPO, "tests", "fixtures", "fhir")

# one row per (table, check): 7 patient + 3 careplan + 4 condition
# + 3 encounter + 1 immunization + 2 observation
N_CHECKS = 20


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _assert_same_report(tables):
    got = _rows(fhir_quality_report(tables))
    want = _rows(reference_quality_report(tables))
    assert len(got) == N_CHECKS
    assert sorted(got) == sorted(want)
    return got


def _labels(tables) -> list[tuple[str, str]]:
    """(table_name, error_type) in report order: tables in input order,
    each table's row-wise checks before its duplicate check."""
    out = []
    for rt in tables:
        s = CHECK_SUITES[rt]
        out += [(s.table_name, et) for et in s.checks()]
        out += [(s.table_name, et) for _, et in s.duplicates]
    return out


@pytest.fixture(scope="module")
def raw_tables(spark):
    return {
        rt: df.cache()
        for rt, df in extract_all(read_and_route(spark, FIXTURE_DIR)).items()
    }


def test_report_matches_reference_twin_on_fixtures(raw_tables):
    got = _assert_same_report(raw_tables)
    assert [r[:2] for r in got] == _labels(raw_tables)


def test_report_matches_reference_twin_with_null_duplicate_keys(raw_tables):
    """NULL keys group together in a duplicate check, as in pandas'
    ``duplicated(keep=False)``: added NULL-id patients and (NULL, NULL)
    conditions form duplicate groups, while a (fullUrl, NULL) row with
    its own fullUrl does not. pandas on the same rows is the oracle."""
    null = F.lit(None).cast("string")
    patient = raw_tables["Patient"].limit(1).withColumn("resource_id", null)
    condition = raw_tables["Condition"].limit(1)
    tables = dict(raw_tables)
    tables["Patient"] = raw_tables["Patient"].unionByName(
        patient.unionByName(patient).unionByName(patient)
    )
    both_null = condition.withColumn("fullUrl", null).withColumn("resource_id", null)
    tables["Condition"] = raw_tables["Condition"].unionByName(
        both_null.unionByName(both_null).unionByName(both_null)
    ).unionByName(
        condition.withColumn("fullUrl", F.lit("unique-url")).withColumn("resource_id", null)
    )
    got = {r[:2]: r[2] for r in _assert_same_report(tables)}
    for rt in ("Patient", "Condition"):
        suite = CHECK_SUITES[rt]
        pdf = tables[rt].toPandas()
        for keys, label in suite.duplicates:
            want = int(pdf.duplicated(subset=list(keys), keep=False).sum())
            assert got[(suite.table_name, label)] == want, (rt, label)


def test_report_matches_reference_twin_on_generated_corpus(spark, tmp_path):
    """A seeded perfbench corpus (1% malformed files) exercises every
    template and the duplicate-stress bundles."""
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    try:
        import gen
    finally:
        sys.path.remove(os.path.join(REPO, "perfbench"))
    corpus = str(tmp_path / "corpus")
    kinds = gen.write_fhir_corpus(3, 200, corpus)
    assert kinds.count(-1) == 2
    tables = {
        rt: df.cache()
        for rt, df in extract_all(read_and_route(spark, corpus)).items()
    }
    try:
        got = {r[:2]: r[2] for r in _assert_same_report(tables)}
        want = gen.expected_fhir(kinds)["dup_violations"]
        assert {k: got[k] for k in want} == want
    finally:
        for df in tables.values():
            df.unpersist()


def test_empty_tables_report_zero(raw_tables):
    """SUM over no rows is NULL in SQL; the report follows pandas, where
    an empty table has 0 violations (and pct 0.0) on every check."""
    empty = {rt: df.limit(0) for rt, df in raw_tables.items()}
    got = _rows(fhir_quality_report(empty))
    assert [r[:2] for r in got] == _labels(empty)
    assert all(r[2:] == (0, 0.0) for r in got)


def test_only_malformed_corpus_reports_zero(spark, tmp_path):
    corpus = tmp_path / "malformed"
    corpus.mkdir()
    with open(os.path.join(FIXTURE_DIR, "bundle_alice.json"), encoding="utf-8") as f:
        text = f.read()
    (corpus / "truncated.json").write_text(text[: len(text) // 2], encoding="utf-8")
    (corpus / "outcome.json").write_text(
        '{"resourceType": "OperationOutcome", "issue": []}', encoding="utf-8"
    )
    got = _rows(fhir_quality_report(extract_all(read_and_route(spark, str(corpus)))))
    assert len(got) == N_CHECKS
    assert all(r[2:] == (0, 0.0) for r in got)


def test_lazy_report_plan_has_at_most_three_shuffles(spark):
    lazy = run_pipeline(spark, FIXTURE_DIR, output_dir=None, quality=True)
    try:
        report = lazy.quality_report
        assert len(report.collect()) == N_CHECKS
        # after the collect the adaptive plan prints its final plan
        # first, then the initial one; count the final plan only
        plan = report._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        shuffles = [
            line for line in plan.splitlines()
            if "Exchange" in line and "BroadcastExchange" not in line
        ]
        assert len(shuffles) <= 3, plan
    finally:
        lazy.release()


def test_sink_path_report_is_forced_over_the_single_parse(spark, tmp_path):
    """The sink path returns the report already computed: it equals the
    report over a fresh read_and_route, its plan scans no input file,
    and the shared-parse cache is released."""
    res = run_pipeline(spark, FIXTURE_DIR, output_dir=str(tmp_path / "out"), quality=True)
    assert res.source is None
    plan = res.quality_report._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan, plan
    want = fhir_quality_report(extract_all(read_and_route(spark, FIXTURE_DIR)))
    assert _rows(res.quality_report) == _rows(want)


def test_input_size_bytes_maps_unknown_stats_to_zero(spark):
    """An RDD-backed frame has no size statistics; Spark reports
    Long.MaxValue, which must read as 0 so the parallelism floor of
    parse_coalesce_target applies."""
    rdd_frame = spark.createDataFrame(spark.sparkContext.parallelize([(1,), (2,)]), "x int")
    assert _input_size_bytes(rdd_frame) == 0
    files = spark.read.json(os.path.join(FIXTURE_DIR, "bundle_alice.json"), multiLine=True)
    assert 0 < _input_size_bytes(files) < 2**63 - 1
