"""Layered benchmark of the FHIR DAG and the LLM-curation dedup operators.

Usage (from the repository root):

    python3 perfbench/run.py --workload fhir_batch --seed 1 --seconds 30 --trace 0

One driver process, one closed-loop caller, one Spark session on
``local[<cores>]``. A run is one batch job as its user runs it: start
the session, make the inputs from the seed, then run one op in the
fresh session (the cold op) and check its output. ``--seconds`` is
accepted for the calling convention; a run always measures that one
op, which takes 25–45 s on a 4-core host, so every run of a commit
does the same work.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
cold op, then one traced op between two untraced warm ops, and prints
the per-layer metrics; its spans are written to ``.perfbench_out/``.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# input sizes per workload; see README.md for why these sizes
SIZES = {
    "fhir_batch": {"n_bundles": 400},
    "llm_curation": {"n_docs": 300, "n_vecs": 1000},
}

END_TO_END = {
    "setup_s": "s",
    "cold_op_s": "s",
    "cold_op_cpu_s": "s",
    "units_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "tables.load_s": "s",
    "tables.input_mb": "MB",
    "fhir.ingest.list_s": "s",
    "fhir.ingest.build_s": "s",
    "fhir.ingest.exec_s": "s",
    "fhir.ingest.files": "count",
    "fhir.ingest.entries": "count",
    "fhir.ingest.routed_frac": "ratio",
    "fhir.ingest.malformed_files": "count",
    "fhir.extract.build_s": "s",
    "fhir.extract.exec_s": "s",
    "fhir.clean.build_s": "s",
    "fhir.clean.exec_s": "s",
    "fhir.clean.removed_frac": "ratio",
    "fhir.clean.shuffle_mb": "MB",
    "fhir.quality.build_s": "s",
    "fhir.quality.jobs": "count",
    "fhir.quality.exec_s": "s",
    "fhir.quality.input_mb": "MB",
    "fhir.pipeline.glue_s": "s",
    "fhir.pipeline.fused_action_s": "s",
    "fhir.pipeline.json_reads_per_op": "ratio",
    "fhir.pipeline.cache_mb": "MB",
    "fhir.pipeline.cache_disk_mb": "MB",
    "sinks.write_s": "s",
    "sinks.files": "count",
    "sinks.mb_written": "MB",
    "sinks.bytes_per_input_byte": "ratio",
    "operators.text_dedup.build_s": "s",
    "operators.text_dedup.exec_s": "s",
    "operators.text_dedup.shuffle_mb": "MB",
    "operators.text_dedup.spill_mb": "MB",
    "operators.text_dedup.pairs_out": "count",
    "operators.text_dedup.shuffle_records_per_pair": "ratio",
    "operators.similarity.build_s": "s",
    "operators.similarity.exec_s": "s",
    "operators.similarity.shuffle_mb": "MB",
    "operators.similarity.kept_frac": "ratio",
    "driver.build_s": "s",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.scheduler_wait_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.core_util": "ratio",
    "spark.gc_s": "s",
    "trace.cold_op_s": "s",
    "trace.op_wall_s": "s",
    "trace.unattributed_frac": "ratio",
    "trace.overhead_s": "s",
}


def _log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


class Runner:
    """Runs and checks ops, counting attempts and failures."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = self.failed = 0

    def op(self):
        """Run, time and check one op; return (seconds, output), with
        output None when the op raised or failed its check."""
        def check(out):
            try:
                return self.wl.check(out)
            finally:
                self.wl.done(out)
        return self._timed(self.wl.op, check)

    def traced_op(self, tracer, rest):
        """Run one traced op; return (seconds, per-layer metrics)."""
        return self._timed(lambda: self.wl.traced_op(tracer, rest), lambda m: m.pop("_errors"))

    def _timed(self, fn, check):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
            dt = time.perf_counter() - t0
            errs = check(out)
        except Exception:  # an op that raises is a failed op, not a crash
            _log(traceback.format_exc())
            self.failed += 1
            return time.perf_counter() - t0, None
        if errs:
            _log(f"op {self.attempted} failed its output check: {errs}")
            self.failed += 1
            return dt, None
        return dt, out


def untraced(runner: Runner) -> dict:
    from collect import tree_cpu_s

    cpu = tree_cpu_s(os.getpid())
    cold, _ = runner.op()
    cpu = tree_cpu_s(os.getpid()) - cpu
    return {"cold_op_s": cold, "cold_op_cpu_s": cpu, "units_per_s": runner.wl.units / cold}


def traced(runner: Runner, spark, out_dir: str, tag: str) -> dict:
    from collect import SparkRest
    from spans import Tracer

    cold, _ = runner.op()
    # untraced ops on both sides of the traced one: warm ops still speed
    # up op by op, so a one-sided baseline would bias the overhead
    base = [runner.op()[0]]
    rest, tracer = SparkRest(spark), Tracer(spark.sparkContext)
    tracer.op = f"op{runner.attempted + 1}"
    _, m = runner.traced_op(tracer, rest)
    base.append(runner.op()[0])
    m = m or {}
    if m:
        m["trace.overhead_s"] = m["trace.op_wall_s"] - statistics.mean(base)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace_{tag}.json"), "w") as f:
        json.dump({
            "spans": [vars(s) for s in tracer.spans],
            "untraced_warm_op_s": base,
            "traced_op": m,
        }, f, indent=1, default=str)
    return {"trace.cold_op_s": cold, **m}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp

    from collect import PeakRss, descendants, process_age_s, wait_gone

    from ehr_data_pipeline_spark.session import get_spark
    import workloads

    spark = jvm = sampler = None
    try:
        os.makedirs(tmp)
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        })
        setup_s = process_age_s()
        jvm = spark.sparkContext._gateway.proc
        spark.sparkContext.setLogLevel("ERROR")

        if args.workload == "fhir_batch":
            wl = workloads.FhirBatch(spark, work, args.seed, **SIZES[args.workload])
        else:
            wl = workloads.LlmCuration(spark, work, args.seed, **SIZES[args.workload],
                                       cache_dir=os.path.join(ROOT, ".perfbench_cache"))

        sampler = PeakRss([os.getpid(), jvm.pid]).start()
        runner = Runner(wl)
        if args.trace:
            values = traced(runner, spark, os.path.join(ROOT, ".perfbench_out"),
                            f"{args.workload}_seed{args.seed}")
            values["session.start_s"] = setup_s
            names = PER_LAYER
        else:
            values = untraced(runner)
            values["setup_s"] = setup_s
            names = END_TO_END
        values["peak_rss_mb"] = sampler.stop() / 1e6
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            spark.stop()
        if jvm is not None:
            kids = descendants(jvm.pid)
            spark.sparkContext._gateway.shutdown()
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
            for pid in wait_gone(kids, 10):
                os.kill(pid, 9)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it

    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()}
    for k, m in metrics.items():
        _log(f"{k:48s} {m['value']:14.6f} {m['unit']}")
    _log(f"failed_frac {runner.failed}/{runner.attempted} = {runner.failed / runner.attempted:.3f}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
