"""The benchmark's workloads. Each makes its inputs from the seed, runs
one op by calling the library's public functions, checks the op's
output, and can run one op traced, returning its per-layer numbers.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import check
import gen
from collect import MB
from spans import attribute, self_by_name

HERE = os.path.dirname(os.path.abspath(__file__))


def _noop(dfs) -> list[int]:
    """Force each frame with the noop sink; return each one's row count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    counts = []
    for df in dfs:
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        counts.append(obs.get["n"])
    return counts


def _plan(df) -> None:
    """Run Catalyst analysis, optimization and physical planning only.
    A later action on the same frame reuses the plan."""
    df._jdf.queryExecution().executedPlan()


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring ``_``/``.`` markers."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Workload:
    units = 0  # input units one op completes

    def op(self):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError

    def done(self, out) -> None:
        """Release what one op left behind (outside the timed region)."""

    def traced_op(self, tracer, rest) -> dict[str, float]:
        raise NotImplementedError


class FhirBatch(Workload):
    """One op is the reference's whole nightly DAG on the library's
    default path: ``run_pipeline(..., output_dir=<fresh>, quality=True)``
    and a collect of its quality report."""

    def __init__(self, spark, work: str, seed: int, n_bundles: int):
        self.spark, self.work = spark, work
        self.corpus = os.path.join(work, "fhir_corpus")
        self.expected = gen.expected_fhir(gen.write_fhir_corpus(seed, n_bundles, self.corpus))
        self.corpus_bytes = _dir_bytes(self.corpus)[1]
        self.units = n_bundles
        self.n_ops = 0

    def _out_dir(self) -> str:
        self.n_ops += 1
        return os.path.join(self.work, "fhir_out", f"op{self.n_ops}")

    def op(self):
        from ehr_data_pipeline_spark.fhir.pipeline import run_pipeline

        out = self._out_dir()
        res = run_pipeline(self.spark, self.corpus, output_dir=out, fmt="parquet", quality=True)
        return res, res.quality_report.collect(), out

    def check(self, out) -> list[str]:
        res, report, out_dir = out
        errs = check.check_fhir(res.row_counts, [tuple(r) for r in report], self.expected)
        for rt, path in res.paths.items():
            if _dir_bytes(path)[0] == 0:
                errs.append(f"sink wrote no data files for {rt} at {path}")
        if len(res.paths) != len(gen.ENTITY_TYPES):
            errs.append(f"sink wrote {len(res.paths)} tables, expected {len(gen.ENTITY_TYPES)}")
        return errs

    def done(self, out) -> None:
        shutil.rmtree(out[2], ignore_errors=True)

    def traced_op(self, tr, rest) -> dict[str, float]:
        from ehr_data_pipeline_spark.fhir import ingest, pipeline
        from pyspark.sql import functions as F

        cache = {}

        def probe_cache(_):
            # the write has run and the shared-parse cache is still held
            rest.drain()
            cache["mem"], cache["disk"] = rest.cached_bytes()

        targets = [
            (ingest, "read_bundles", "fhir.ingest.list"),
            *[(ingest, f, "fhir.ingest.build") for f in (
                "explode_entries", "prune_unconsumed", "flatten_entries",
                "entries_view", "route_resources")],
            (pipeline, "extract_all", "fhir.extract.build"),
            (pipeline, "fhir_quality_report", "fhir.quality.build"),
            (pipeline, "row_count_observer", "fhir.clean.build"),
            *[(pipeline.CLEANERS, rt, "fhir.clean.build") for rt in list(pipeline.CLEANERS)],
            (pipeline, "write_entity_tables", "sinks.write", probe_cache),
        ]
        out_dir = self._out_dir()
        with tr.patched(targets):
            with tr.span("op") as root:
                with tr.span("fhir.pipeline.build"):
                    res = pipeline.run_pipeline(
                        self.spark, self.corpus, output_dir=out_dir, fmt="parquet", quality=True)
                with tr.span("fhir.quality.exec"):
                    with tr.span("spark.plan"):
                        _plan(res.quality_report)
                    report = res.quality_report.collect()
        errs = self.check((res, report, out_dir))
        sink_files, sink_bytes = _dir_bytes(out_dir)
        self.done((res, report, out_dir))

        # Prefix cuts: replay the layers' public functions on a lazy run
        # and force each layer's output in turn with the noop sink.
        replay_dir = self._out_dir()
        with tr.span("replay"):
            lazy = pipeline.run_pipeline(self.spark, self.corpus, output_dir=None, quality=False)
            extracted = pipeline.extract_all(
                ingest.route_resources(ingest.entries_view(lazy.source)))
            with tr.span("cut.files"):
                files, malformed = ingest.read_bundles(self.spark, self.corpus).agg(
                    F.count(F.lit(1)), F.sum(F.col("entry").isNull().cast("int"))).first()
            with tr.span("cut.ingest") as c1:
                (n_entries,) = _noop([lazy.source])
            with tr.span("cut.extract") as c2:
                n_extracted = sum(_noop(extracted.values()))
            t = time.perf_counter()
            for df in lazy.tables.values():
                _plan(df)
            plan_tables_s = time.perf_counter() - t
            with tr.span("cut.clean") as c3:
                n_clean = sum(_noop(lazy.tables.values()))
            with tr.span("cut.sink") as c4:
                pipeline.write_entity_tables(lazy.tables, replay_dir, fmt="parquet")
            lazy.release()
        shutil.rmtree(replay_dir, ignore_errors=True)

        view = _OpView(tr, rest, root)
        by_name = view.self_s
        quality = rest.stage_totals(view.jobs([s for s in view.spans if s.name == "fhir.quality.exec"]))
        scans = rest.scan_totals({j["jobId"] for j in view.jobs()})
        shuffle_clean, shuffle_extract = (
            rest.stage_totals(view.jobs([c]))["shuffle_write_bytes"] for c in (c3, c2))
        cuts = {
            "fhir.ingest.exec": c1.dur,
            "fhir.extract.exec": c2.dur,
            "fhir.clean.exec": c3.dur - c2.dur,
            "sinks.exec": c4.dur - c3.dur,
        }
        parts = attribute(root.dur, by_name, fused="sinks.write", cuts=cuts)
        m = {
            "fhir.ingest.list_s": by_name.get("fhir.ingest.list", 0.0),
            "fhir.ingest.build_s": by_name.get("fhir.ingest.build", 0.0),
            "fhir.ingest.exec_s": cuts["fhir.ingest.exec"],
            "fhir.ingest.files": files,
            "fhir.ingest.entries": n_entries,
            "fhir.ingest.routed_frac": n_extracted / n_entries,
            "fhir.ingest.malformed_files": malformed,
            "fhir.extract.build_s": by_name.get("fhir.extract.build", 0.0),
            "fhir.extract.exec_s": cuts["fhir.extract.exec"],
            "fhir.clean.build_s": by_name.get("fhir.clean.build", 0.0),
            "fhir.clean.exec_s": cuts["fhir.clean.exec"],
            "fhir.clean.removed_frac": 1 - n_clean / n_extracted,
            "fhir.clean.shuffle_mb": (shuffle_clean - shuffle_extract) / MB,
            "fhir.quality.build_s": by_name.get("fhir.quality.build", 0.0),
            "fhir.quality.jobs": quality["jobs"],
            "fhir.quality.exec_s": by_name.get("fhir.quality.exec", 0.0),
            "fhir.quality.input_mb": quality["input_bytes"] / MB,
            "fhir.pipeline.glue_s": by_name.get("fhir.pipeline.build", 0.0),
            "fhir.pipeline.fused_action_s": by_name.get("sinks.write", 0.0),
            "fhir.pipeline.json_reads_per_op": scans["json_bytes"] / self.corpus_bytes,
            "fhir.pipeline.cache_mb": cache.get("mem", 0) / MB,
            "fhir.pipeline.cache_disk_mb": cache.get("disk", 0) / MB,
            "sinks.write_s": cuts["sinks.exec"],
            "sinks.files": sink_files,
            "sinks.mb_written": sink_bytes / MB,
            "sinks.bytes_per_input_byte": sink_bytes / self.corpus_bytes,
            "driver.build_s": sum(v for k, v in by_name.items() if k.endswith(".build")),
            "spark.plan_s": by_name.get("spark.plan", 0.0) + plan_tables_s,
        }
        m.update(_spark_metrics(rest.stage_totals(view.jobs()), root.dur, parts))
        m["_errors"] = errs
        return m


class LlmCuration(Workload):
    """One op is ``doc_minhash_lsh_pairs`` plus ``emb_semantic_dedup``,
    the registry functions, over seeded ``documents``/``embeddings``
    parquet tables."""

    QUERIES = {
        "doc_minhash_lsh_pairs": "operators.text_dedup",
        "emb_semantic_dedup": "operators.similarity",
    }

    def __init__(self, spark, work: str, seed: int, n_docs: int, n_vecs: int, cache_dir: str):
        self.spark = spark
        self.data = os.path.join(work, "curation")
        gen.write_curation_tables(seed, n_docs, n_vecs, self.data)
        self.units = n_docs + n_vecs
        with open(self._oracle_answers(cache_dir)) as f:
            self.oracle = {q: check.canon(rows) for q, rows in json.load(f).items()}
        self.hashes: dict[str, str] = {}

    def _oracle_answers(self, cache_dir: str) -> str:
        """Path of the registry's DuckDB oracle answers for these inputs.
        The oracle runs in a child process, so its memory never counts
        toward the Spark driver's, and its answers are kept in ``cache_dir``
        keyed by the input bytes and the oracle SQL: the MinHash oracle
        is a quadratic self-join (~2.5 s at 300 docs), and a seed that
        comes back needs no new run."""
        from ehr_data_pipeline_spark.queries import REGISTRY

        key = hashlib.sha256()
        for t in ("documents", "embeddings"):
            with open(os.path.join(self.data, f"{t}.parquet"), "rb") as f:
                key.update(f.read())
        for q in self.QUERIES:
            key.update(REGISTRY[q].oracle.encode())
        path = os.path.join(cache_dir, f"oracle-{key.hexdigest()[:32]}.json")
        if not os.path.exists(path):
            os.makedirs(cache_dir, exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"), self.data, tmp],
                           check=True, timeout=170)
            os.replace(tmp, path)
        return path

    def op(self):
        from ehr_data_pipeline_spark.queries import REGISTRY

        return {q: REGISTRY[q].fn(self.spark, self.data).collect() for q in self.QUERIES}

    def check(self, out) -> list[str]:
        errs = []
        for q, rows in out.items():
            got = check.canon(tuple(r) for r in rows)
            h = check.result_hash(got)
            if q not in self.hashes:
                # first result on this seed: full comparison with the oracle
                diff = check.compare_rows(got, self.oracle[q])
                errs += [f"{q}: {d}" for d in diff]
                if not diff:
                    self.hashes[q] = h
            elif h != self.hashes[q]:
                errs.append(f"{q}: result hash {h[:12]} differs from the oracle-checked {self.hashes[q][:12]}")
        return errs

    def traced_op(self, tr, rest) -> dict[str, float]:
        from ehr_data_pipeline_spark import queries
        from ehr_data_pipeline_spark.operators import similarity, text_dedup

        targets = [
            (queries, "load_table", "tables.load"),
            (text_dedup, "minhash_lsh_pairs", "operators.text_dedup.build"),
            (similarity, "semantic_dedup", "operators.similarity.build"),
        ]
        out = {}
        with tr.patched(targets):
            with tr.span("op") as root:
                for q, layer in self.QUERIES.items():
                    with tr.span(f"queries.{q}"):
                        df = queries.REGISTRY[q].fn(self.spark, self.data)
                    with tr.span(f"{layer}.exec"):
                        with tr.span("spark.plan"):
                            _plan(df)
                        out[q] = df.collect()
        errs = self.check(out)
        view = _OpView(tr, rest, root)
        by_name = view.self_s
        scans = rest.scan_totals({j["jobId"] for j in view.jobs()})
        td, sim = (rest.stage_totals(view.jobs([s for s in view.spans if s.name.startswith(layer)]))
                   for layer in ("operators.text_dedup", "operators.similarity"))
        pairs = len(out["doc_minhash_lsh_pairs"])
        dedup_rows = out["emb_semantic_dedup"]
        m = {
            "tables.load_s": by_name.get("tables.load", 0.0),
            "tables.input_mb": scans["parquet_bytes"] / MB,
            "operators.text_dedup.build_s": by_name.get("operators.text_dedup.build", 0.0),
            "operators.text_dedup.exec_s": by_name.get("operators.text_dedup.exec", 0.0),
            "operators.text_dedup.shuffle_mb": td["shuffle_write_bytes"] / MB,
            "operators.text_dedup.spill_mb": td["disk_spill_bytes"] / MB,
            "operators.text_dedup.pairs_out": pairs,
            "operators.text_dedup.shuffle_records_per_pair": td["shuffle_write_records"] / max(pairs, 1),
            "operators.similarity.build_s": by_name.get("operators.similarity.build", 0.0),
            "operators.similarity.exec_s": by_name.get("operators.similarity.exec", 0.0),
            "operators.similarity.shuffle_mb": sim["shuffle_write_bytes"] / MB,
            "operators.similarity.kept_frac": sum(1 for r in dedup_rows if r["kept"]) / max(len(dedup_rows), 1),
            "driver.build_s": sum(v for k, v in by_name.items() if k.endswith((".build", ".load"))),
            "spark.plan_s": by_name.get("spark.plan", 0.0),
        }
        m.update(_spark_metrics(rest.stage_totals(view.jobs()), root.dur, attribute(root.dur, by_name)))
        m["_errors"] = errs
        return m


class _OpView:
    """One traced op read back after it ran: the spans under its root
    span, their self times by name, and the Spark jobs of any spans."""

    def __init__(self, tr, rest, root):
        rest.drain()
        by_id = {s.id: s for s in tr.of_op(tr.op)}

        def under_root(s):
            while s is not None and s.id != root.id:
                s = by_id.get(s.parent)
            return s is not None

        self.spans = [s for s in by_id.values() if under_root(s)]
        self.self_s = self_by_name([s for s in self.spans if s is not root])
        self._tr, self._groups = tr, rest.jobs_by_group()

    def jobs(self, spans=None) -> list[dict]:
        """Jobs run under ``spans`` (default: every span of the op)."""
        spans = self.spans if spans is None else spans
        return [j for s in spans for j in self._groups.get(self._tr.group(s), [])]


def _spark_metrics(tot: dict, op_wall: float, parts: dict) -> dict[str, float]:
    cores = len(os.sched_getaffinity(0))
    cpu_s = tot["executor_cpu_ns"] / 1e9
    return {
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.scheduler_wait_s": tot["scheduler_wait_s"],
        "spark.executor_cpu_s": cpu_s,
        "spark.executor_run_s": tot["executor_run_ms"] / 1e3,
        "spark.core_util": cpu_s / (op_wall * cores),
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "trace.op_wall_s": op_wall,
        "trace.unattributed_frac": parts["unattributed"] / op_wall,
    }
