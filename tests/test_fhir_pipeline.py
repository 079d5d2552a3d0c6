"""End-to-end FHIR pipeline test: fixtures → ingest → extract → clean →
observe → sink, one action per table, counts from Observation metrics."""

from __future__ import annotations

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.fhir.pipeline import run_pipeline
from ehr_data_pipeline_spark.operators.quality import row_count_observer

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "fhir")


def test_row_count_observer_rides_on_action(spark):
    df = spark.range(7)
    observed, obs = row_count_observer(df, "probe")
    assert observed.count() == 7
    assert obs.get["n_rows"] == 7


def test_run_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "etl")
    result = run_pipeline(spark, FIXTURE_DIR, out)
    # all six entities cleaned and written
    assert set(result.tables) == {
        "Patient", "CarePlan", "Condition", "Encounter",
        "Immunization", "Observation",
    }
    for rt, path in result.paths.items():
        back = spark.read.parquet(path)
        # observed count (from the write action) == persisted count
        assert back.count() == result.row_counts[rt]
        # sink normalized every dotted name
        assert all("." not in c for c in back.columns)
    assert result.row_counts["Patient"] > 0
    # pre-clean quality report covers all six suites
    report = result.quality_report.collect()
    # suites report under the reference's frame names (patient_df, ...)
    assert {r["table_name"] for r in report} == {
        f"{rt.lower()}_df" for rt in result.tables
    }


def test_run_pipeline_without_sink_stays_lazy(spark):
    result = run_pipeline(spark, FIXTURE_DIR, output_dir=None, quality=False)
    assert result.paths == {} and result.row_counts == {}
    assert result.quality_report is None
    # plans are still runnable
    assert result.tables["Patient"].count() > 0


def _probe_jobs(spark, group):
    """Run one probe action under a fresh job group named ``group``; return
    its job ids once the status tracker has seen them. The tracker sees
    jobs in submission order, so every earlier job is known by then."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    spark.range(1).collect()
    deadline = time.monotonic() + 30
    while not (ids := sc.statusTracker().getJobIdsForGroup(group)):
        assert time.monotonic() < deadline, "probe job never reached the tracker"
        time.sleep(0.05)
    return ids


def _jobs_between(spark, run, group):
    """Run ``run()`` under job group ``group``; return the ids of the jobs
    submitted meanwhile, the ids the tracker files under ``group``, and
    what ``run()`` returned."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    try:
        before = max(_probe_jobs(spark, f"before-{tag}"))
        sc.setJobGroup(group, group)
        out = run()
        after = min(_probe_jobs(spark, f"after-{tag}"))
        grouped = set(sc.statusTracker().getJobIdsForGroup(group))
        return set(range(before + 1, after)), grouped, out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_sink_path_jobs_inherit_the_callers_job_group(spark, tmp_path):
    """The cache fill, the six writes and the report checkpoint run on pool
    threads; every job they submit still lands in the caller's job group."""
    group = f"etl-{uuid.uuid4().hex}"
    ran, grouped, _ = _jobs_between(
        spark, lambda: run_pipeline(spark, FIXTURE_DIR, str(tmp_path / "etl")), group
    )
    assert ran and ran == grouped


def test_lazy_path_with_quality_submits_no_job(spark):
    ran, _, result = _jobs_between(
        spark,
        lambda: run_pipeline(spark, FIXTURE_DIR, output_dir=None, quality=True),
        f"lazy-{uuid.uuid4().hex}",
    )
    assert ran == set()
    result.release()


def test_sink_failure_finishes_the_other_writes_and_releases(spark, tmp_path, monkeypatch):
    """A write that fails at run time: run_pipeline raises its error once
    the other five tables are written, and the parse cache is released."""
    from ehr_data_pipeline_spark.fhir import pipeline

    monkeypatch.setitem(
        pipeline.CLEANERS,
        "Patient",
        lambda df: df.withColumn("resource_id", F.raise_error(F.lit("patient write failed"))),
    )
    spark.catalog.clearCache()
    out = tmp_path / "etl"
    with pytest.raises(Exception, match="patient write failed"):
        run_pipeline(spark, FIXTURE_DIR, str(out))
    for rt in ("CarePlan", "Condition", "Encounter", "Immunization", "Observation"):
        assert any(f.startswith("part-") for f in os.listdir(out / rt)), rt
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pipeline_single_parse_equivalent_and_releases(spark, tmp_path):
    """The pipeline's single parse (persisted exploded scan, one JSON parse)
    must produce identical entity tables to the plain per-entity plans —
    each cleaner applied to the extracted tables of an uncached
    read_and_route; release() must unpersist the shared cache and leave
    the plans runnable."""
    from ehr_data_pipeline_spark.fhir.clean import CLEANERS
    from ehr_data_pipeline_spark.fhir.extract import extract_all
    from ehr_data_pipeline_spark.fhir.ingest import read_and_route

    cached = run_pipeline(spark, FIXTURE_DIR, output_dir=None, quality=False)
    assert cached.source is not None
    reparse = extract_all(read_and_route(spark, FIXTURE_DIR))
    assert set(cached.tables) == set(CLEANERS)
    key = lambda t: tuple((x is None, str(x)) for x in t)  # noqa: E731
    for rt in cached.tables:
        a = sorted(map(tuple, cached.tables[rt].collect()), key=key)
        b = sorted(map(tuple, CLEANERS[rt](reparse[rt]).collect()), key=key)
        assert a == b, rt
    # the action materialized the shared cache; release reclaims it
    assert cached.source.storageLevel.useMemory
    src = cached.source
    cached.release()
    assert cached.source is None
    assert not src.storageLevel.useMemory  # unpersisted
    # plans still runnable after release (fall back to re-parsing)
    assert cached.tables["Patient"].count() > 0
    cached.release()  # idempotent no-op


def test_pipeline_cache_is_pruned_and_sink_path_autoreleases(spark, tmp_path):
    """VERDICT r9 #2 + ADVICE r9: the persisted single-parse frame is
    FLATTENED to the consumed-field union (none of the six subtrees the
    reference drops and nothing reads, one top-level column per resource
    field — the cache prunes top-level
    columns, never nested struct fields), each entity branch's
    InMemoryTableScan reads only its extractor's columns with the
    resourceType filter pushed into the cache scan, and the sink path
    releases the cache automatically after the write action."""
    from ehr_data_pipeline_spark.fhir.ingest import UNCONSUMED_RESOURCE_FIELDS

    cached = run_pipeline(spark, FIXTURE_DIR, output_dir=None, quality=False)
    fields = set(cached.source.columns)
    assert not fields & set(UNCONSUMED_RESOURCE_FIELDS)
    assert not fields & {
        "photo", "text", "identifier", "component", "valueCodeableConcept", "addresses",
    }
    assert {"fullUrl", "resourceType", "id", "name", "address", "activity"} <= fields
    # per-branch pruning: the Observation plan's cache scan must NOT read
    # patient-only payloads (name/address/telecom) and must push the
    # resourceType predicate into the scan
    plan = (
        cached.tables["Observation"]
        ._jdf.queryExecution().executedPlan().toString()
    )
    scan = next(
        line for line in plan.splitlines() if "InMemoryTableScan" in line
    )
    assert "valueQuantity" in scan and "effectiveDateTime" in scan
    assert "name#" not in scan and "address#" not in scan
    assert "= Observation" in scan  # pushed filter
    cached.release()

    sunk = run_pipeline(
        spark, FIXTURE_DIR, output_dir=str(tmp_path / "out"), quality=False
    )
    assert sunk.source is None  # auto-released after the write action
    assert sunk.row_counts["Patient"] > 0
    # returned plans recompute from raw files after the auto-release
    assert sunk.tables["Patient"].count() == sunk.row_counts["Patient"]


def test_single_parse_coalesce_sits_below_the_alias_fan(spark):
    """Pins the optimizer-cliff placement rule (NOTES_r10): the coalesce
    must be applied to the exploded entries BELOW flatten_entries' ~30-
    alias projection. Coalesce ABOVE the alias fan makes any recompute
    of these plans after release() spiral in Catalyst constraint
    propagation (getAllValidConstraints multiplies the constraint set
    across every alias — measured driver OOM at 8g once the
    InMemoryRelation leaf is gone). The symptom chain is mass
    ConnectionRefused in shared-JVM runs, so pin the structure, not the
    wall clock: in the analyzed plan, the Repartition node must appear
    BELOW (after) the flattening Project."""
    cached = run_pipeline(spark, FIXTURE_DIR, output_dir=None, quality=False)
    try:
        plan = cached.source._jdf.queryExecution().analyzed().toString()
        lines = plan.splitlines()
        # the flatten fan is the Project aliasing resource.* to top-level
        # columns ("... AS resourceType#N"); the plan string may be
        # field-truncated, so match on the first alias, not a late one
        i_project = next(
            i for i, l in enumerate(lines)
            if "Project" in l and " AS resourceType#" in l
        )
        i_repart = next(
            i for i, l in enumerate(lines) if "Repartition" in l
        )
        assert i_repart > i_project, (
            "coalesce placed above the flatten alias fan — this "
            "re-triggers the constraint-propagation OOM spiral on "
            "recompute-after-release (see NOTES_r10)"
        )
    finally:
        cached.release()


def test_parse_coalesce_target():
    """VERDICT r14 #8: the partition count of the persisted parse derives
    from raw input bytes with a parallelism floor — core-count partitions
    locally, ~256 MB-bounded tasks at scale."""
    from ehr_data_pipeline_spark.fhir.pipeline import parse_coalesce_target

    mb = 1024 * 1024
    # small inputs: the parallelism floor wins (the 10k-bundle case)
    assert parse_coalesce_target(50 * mb, 32) == 32
    assert parse_coalesce_target(0, 8) == 8
    # big inputs: the byte term wins, ceil-divided
    assert parse_coalesce_target(1024 * 1024 * mb, 32) == 4096  # 1 TB
    assert parse_coalesce_target(256 * mb + 1, 1) == 2
    assert parse_coalesce_target(256 * mb, 1) == 1
    # custom file-size band
    assert parse_coalesce_target(10 * mb, 2, bytes_per_file=mb) == 10
    import pytest as _pytest
    with _pytest.raises(ValueError):
        parse_coalesce_target(-1, 8)
