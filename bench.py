"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line the driver records as BENCH_r{N}.json."""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ehr_data_pipeline_spark.queries import bench_queries  # noqa: E402
from ehr_data_pipeline_spark.session import get_spark  # noqa: E402

FHIR_BENCH_BUNDLES = 10_000


def _fhir_pipeline_10k(spark, sf_dir):
    """The reference's ACTUAL workload as a headline bench entry
    (VERDICT r7 #4): directory-of-bundles JSON ingest → explode →
    resourceType route → extract → clean, end-to-end over 10k synthetic
    bundles (tools/make_fhir_corpus.py — generated once into /tmp during
    the warm-up pass; the timed pass hits the marker file). Returns one
    per-entity row-count frame whose collect forces EVERY cleaned entity
    plan, so the timing covers the full multi-entity pipeline, not one
    table. Since r9 the pipeline single-parses (persisted exploded scan,
    SURVEY §2.2 P1), so this times ONE JSON parse + cache
    materialization + six cached filters — not six re-parses.
    ``sf_dir`` is ignored: the corpus is fixed-size by design so
    the number is comparable across rounds regardless of the driver's SF
    choice."""
    from functools import reduce

    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.fhir.pipeline import run_pipeline
    from tools.make_fhir_corpus import ensure_fhir_corpus

    corpus = ensure_fhir_corpus(FHIR_BENCH_BUNDLES)
    tables = run_pipeline(spark, corpus, output_dir=None, quality=False).tables
    counts = [
        df.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(rt).alias("entity"), "n_rows"
        )
        for rt, df in sorted(tables.items())
    ]
    return reduce(lambda a, b: a.unionByName(b), counts)


def _calibration_sec(spark) -> "tuple[float, list[float]]":
    """Fixed CPU-bound microbenchmark: a seeded 4B-row whole-stage-
    codegen aggregate over spark.range — no I/O, no shuffle, no parquet,
    identical work every round, sized to ~0.5 s so scheduler jitter
    (~10 ms) is noise. Its wall time measures the HOST
    GENERATION (cpu clock, thermal budget, steal), not the query plans,
    so cross-round BENCH comparisons can divide it out: rounds 4→6
    showed uniform ~1.25–1.4× drift across unrelated plan shapes
    (NOTES_r06.md host analysis, plans machine-asserted unchanged), and
    without a calibration constant that drift masquerades as — or masks
    — plan regressions. Warm-up run first so JIT lands outside the
    timed pass, same discipline as the query timings."""
    def plan():
        # bit_xor, not sum: 4B 64-bit hashes overflow a BIGINT sum
        # under ANSI; xor is the same per-row work and cannot overflow.
        # Built FRESH per run — re-collecting one DataFrame would let
        # AQE reuse the materialized partial-aggregate shuffle and time
        # only the 32-row final stage (measured: 2.75 s -> 0.05 s).
        return spark.range(0, 4_000_000_000, 1, 32).selectExpr(
            "bit_xor(xxhash64(id, id + 1)) AS h"
        )

    plan().collect()  # JIT warm-up
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        plan().collect()
        runs.append(round(time.perf_counter() - t0, 4))
    # MIN of 3, not median: a CPU-bound microbenchmark's noise is
    # strictly one-sided (GC pauses, scheduler steal, accumulated-heap
    # churn only ever ADD time), so the minimum is the cleanest
    # estimate of the host's actual speed — the standard
    # microbenchmark estimator. Measured motivation: two back-to-back
    # r13 bench runs produced median-of-3 calibrations of 1.37 then
    # 2.08 on the same idle host (the second session's heap history
    # inflated two of three passes), which would have swung every
    # normalized number by 52% with zero plan change. Every normalized
    # number divides by this constant, so its estimator matters more
    # than any single query's. Raw passes ship in the JSON.
    return min(runs), runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)$", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else None
    spark = get_spark(app_name="ehr-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    fns = {name: spec.fn for name, spec in bench_queries().items()}
    fns["fhir_pipeline_10k"] = _fhir_pipeline_10k
    # warm the JVM/JIT, parquet footers, and page cache — but NOT Spark's
    # block cache (cleared below), so the timed pass measures each query's
    # full cold-index cost rather than one-time JVM costs
    for fn in fns.values():
        fn(spark, sf_dir).collect()
        spark.catalog.clearCache()

    # Median of N_PASSES timed passes per query (VERDICT r12 #2): three
    # straight rounds of single-shot driver-bench "regressions" (r10
    # minhash, r11 fhir, r12 everything, +20-50% on paths the diffs never
    # touched) each dissolved under same-host worktree A/B — the
    # single-shot number is at the mercy of one GC pause / scheduler
    # hiccup / page-cache eviction. The MEDIAN of three passes is robust
    # to one bad pass; the raw passes ship in the JSON so a reader can
    # see the spread (a real plan regression inflates ALL passes, host
    # noise inflates one).
    N_PASSES = 3
    timings: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    for name, fn in fns.items():
        runs: list[float] = []
        for _ in range(N_PASSES):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            runs.append(round(time.perf_counter() - t0, 4))
            # release operator-internal persists between passes/queries,
            # for two reasons: (1) Spark's CacheManager matches identical
            # ANALYZED plans, so a re-run WOULD silently reuse the prior
            # pass's persisted index (measured ~3 s flatter for minhash)
            # — clearing keeps every timed pass the honest cold-index
            # cost; (2) blocks from OTHER queries are dead weight whose
            # eviction/GC churn slows later queries (measured
            # 229 s -> 201 s across a 105-query session at sf0.1)
            spark.catalog.clearCache()
        passes[name] = runs
        timings[name] = sorted(runs)[N_PASSES // 2]

    calibration, calibration_passes = _calibration_sec(spark)
    total = round(sum(timings.values()), 4)
    print(json.dumps({
        "metric": "headline_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # host-generation constant: divide `value` by this before
        # comparing across rounds (see _calibration_sec; min of the
        # raw passes below — one-sided noise)
        "calibration_sec": calibration,
        "calibration_passes": calibration_passes,
        "value_per_calibration": round(total / calibration, 4) if calibration else None,
        # per-query host-normalized timings (secs / calibration_sec) —
        # the cross-round comparable numbers (VERDICT r7 #2: raw
        # per-query values can't distinguish host drift from plan
        # regression; the r6→r7 emb_ivf_knn "+39%" was unadjudicable)
        "queries_normalized": {
            n: round(s / calibration, 4) for n, s in timings.items()
        } if calibration else None,
        # raw per-query passes behind each median (VERDICT r12 #2) —
        # uniform inflation across passes = plan change; one outlier
        # pass = the host noise the median already absorbed
        "queries_raw_passes": passes,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
