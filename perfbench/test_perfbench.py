"""Self-tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import subprocess
import sys
import types

import pytest

import check
import gen
import run
from spans import Span, Tracer, attribute, self_by_name, self_times


# --- generators -------------------------------------------------------------

def test_fhir_corpus_is_deterministic_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    ka = gen.write_fhir_corpus(5, 300, str(a))
    kb = gen.write_fhir_corpus(5, 300, str(b))
    kc = gen.write_fhir_corpus(6, 300, str(c))
    files = sorted(os.listdir(a))
    assert files == sorted(os.listdir(b)) and len(files) == 300
    assert all((a / f).read_bytes() == (b / f).read_bytes() for f in files)
    assert ka == kb
    assert any((a / f).read_bytes() != (c / f).read_bytes() for f in files)
    assert ka.count(-1) == 3  # ~1% malformed


def test_fhir_ids_are_unique_across_bundles():
    plan = gen.plan_fhir_corpus(2, 200)
    ids = [m.group(2) for kind, text in plan if kind >= 0 for m in gen._ID_RE.finditer(text)]
    # repeats only ever come from the duplicate-stress template's own
    # in-bundle duplicates (two ids, each used twice)
    n_dupes_bundles = sum(1 for kind, _ in plan if kind == 2)
    assert n_dupes_bundles > 0
    assert len(ids) - len(set(ids)) == 2 * n_dupes_bundles


def test_curation_tables_are_deterministic_per_seed():
    assert gen.make_documents(3, 200) == gen.make_documents(3, 200)
    assert gen.make_documents(3, 200) != gen.make_documents(4, 200)
    assert gen.make_embeddings(3, 100) == gen.make_embeddings(3, 100)
    assert gen.make_embeddings(3, 100) != gen.make_embeddings(4, 100)
    assert all(len(v) == gen.EMB_DIM for v in gen.make_embeddings(3, 100)["embedding"])


def test_expected_counts_follow_template_mix():
    # one cycle of the 5:2:1:2 mix; the engine produced these per-entity
    # counts x100 on a 1000-bundle corpus of that mix
    mix = [0] * 5 + [1] * 2 + [2] + [3] * 2
    exp = gen.expected_fhir(mix)
    assert exp["row_counts"] == {"Patient": 12, "CarePlan": 9, "Condition": 7,
                                 "Encounter": 7, "Immunization": 5, "Observation": 6}
    assert gen.expected_fhir(mix + [-1, -1])["row_counts"] == exp["row_counts"]
    assert gen.expected_fhir([-1, -1])["row_counts"] == dict.fromkeys(gen.ENTITY_TYPES, 0)


# --- output checks ----------------------------------------------------------

def _fhir_ok():
    exp = gen.expected_fhir([0, 1, 2, 2, 3, -1])
    report = [("t", f"e{i}", 0, 0.0) for i in range(exp["quality_rows"] - len(exp["dup_violations"]))]
    report += [(t, e, n, 0.0) for (t, e), n in exp["dup_violations"].items()]
    return dict(exp["row_counts"]), report, exp


def test_fhir_check_accepts_correct_output():
    counts, report, exp = _fhir_ok()
    assert check.check_fhir(counts, report, exp) == []


def test_fhir_check_flags_one_dropped_row():
    counts, report, exp = _fhir_ok()
    counts["Observation"] -= 1
    assert check.check_fhir(counts, report, exp)
    counts, report, exp = _fhir_ok()
    assert check.check_fhir(counts, report[:-1], exp)


def test_curation_check_flags_dropped_row_and_altered_pair():
    want = check.canon([(1, 2, 0.75), (3, 9, 0.6123456789123), (4, 5, 1.0)])
    assert check.compare_rows(check.canon([(4, 5, 1.0), (1, 2, 0.75), (3, 9, 0.6123456789123)]), want) == []
    dropped = want[:-1]
    altered = [want[0], (3, 8, want[1][2]), want[2]]
    assert check.compare_rows(dropped, want)
    assert check.compare_rows(altered, want)
    assert check.result_hash(dropped) != check.result_hash(want)
    assert check.result_hash(altered) != check.result_hash(want)


# --- tracing ----------------------------------------------------------------

def test_self_time_subtracts_covered_children():
    spans = [Span(0, "op", "o", None, 0.0, 10.0), Span(1, "a", "o", 0, 1.0, 4.0),
             Span(2, "b", "o", 0, 3.0, 6.0), Span(3, "c", "o", 1, 1.5, 2.0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)  # children cover [1, 6]
    assert st[1] == pytest.approx(2.5)
    assert self_by_name(spans)["c"] == pytest.approx(0.5)


def test_prefix_cut_self_times_and_unattributed_sum_to_op_wall():
    tr = Tracer()
    mod = types.SimpleNamespace(build=lambda: sum(range(1000)), act=lambda: sum(range(20000)))
    orig = mod.build
    with tr.patched([(mod, "build", "x.build"), (mod, "act", "x.fused")]):
        with tr.span("op") as root:
            mod.build()
            mod.act()
            mod.build()
    assert mod.build is orig  # restored
    by_name = self_by_name([s for s in tr.spans if s is not root])
    cuts = {"x.ingest.exec": by_name["x.fused"] * 0.4, "x.sink.exec": by_name["x.fused"] * 0.5}
    parts = attribute(root.dur, by_name, fused="x.fused", cuts=cuts)
    assert "x.fused" not in parts
    assert sum(parts.values()) == pytest.approx(root.dur)
    assert parts["unattributed"] >= by_name["x.fused"] * 0.1 - 1e-9


# --- reporting ----------------------------------------------------------------

def test_tree_cpu_counts_a_busy_child():
    from collect import tree_cpu_s

    before = tree_cpu_s(os.getpid())
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\nprint()"
    child = subprocess.Popen([sys.executable, "-c", busy], stdout=subprocess.PIPE)
    child.stdout.readline()  # the child has burnt its CPU and is still alive
    during = tree_cpu_s(os.getpid())
    child.wait()
    assert during - before >= 0.4

def test_benchmark_json_matches_the_runner():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.SIZES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
