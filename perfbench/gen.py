"""Seeded input generators for the benchmark, plus the expected-output
models the checks compare against.

Everything here is a pure function of ``seed`` and the size arguments:
the same seed writes byte-identical FHIR files and equal parquet tables.
Nothing here imports Spark, so the generators and their models can be
unit-tested without a session.

FHIR bundles are built from the four hand-written fixtures in
``tests/fixtures/fhir`` (read-only). The seed picks the template of each
bundle, the unique id suffix that keeps resource ids distinct across
bundles, and which ~1% of files are malformed (truncated JSON or a
non-Bundle resource). Malformed files must contribute zero rows.
"""

from __future__ import annotations

import json
import os
import random
import re
from collections import Counter

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIR = os.path.join(REPO_ROOT, "tests", "fixtures", "fhir")

# clean : dirty : duplicate-stress : minimal-fields, as in a real feed
TEMPLATE_WEIGHTS = (
    ("bundle_alice.json", 5),
    ("bundle_bob_dirty.json", 2),
    ("bundle_dupes.json", 1),
    ("bundle_minimal.json", 2),
)
MALFORMED_FRAC = 0.01

ENTITY_TYPES = ("Patient", "CarePlan", "Condition", "Encounter", "Immunization", "Observation")

_ID_RE = re.compile(r'("id"\s*:\s*")([^"]+)(")')
_URN_RE = re.compile(r"(urn:uuid:)([^\"]+)")


def load_templates() -> list[str]:
    out = []
    for name, _ in TEMPLATE_WEIGHTS:
        with open(os.path.join(FIXTURE_DIR, name), encoding="utf-8") as f:
            out.append(f.read())
    return out


def uniquify(template: str, suffix: str) -> str:
    """Append ``suffix`` to every resource id and ``urn:uuid:`` reference,
    so references inside a bundle stay consistent and ids never collide
    across bundles."""
    s = _URN_RE.sub(lambda m: m.group(1) + m.group(2) + suffix, template)
    return _ID_RE.sub(lambda m: m.group(1) + m.group(2) + suffix + m.group(3), s)


def _non_bundle(rng: random.Random) -> str:
    return json.dumps({
        "resourceType": "OperationOutcome",
        "id": f"oo{rng.getrandbits(32):08x}",
        "issue": [{"severity": "error", "code": "processing"}],
    }, indent=2)


def plan_fhir_corpus(seed: int, n_bundles: int) -> list[tuple[int, str]]:
    """Per file: (template index or -1 for malformed, file text)."""
    rng = random.Random(f"fhir-{seed}")
    templates = load_templates()
    weights = [w for _, w in TEMPLATE_WEIGHTS]
    n_bad = max(1, round(n_bundles * MALFORMED_FRAC))
    bad = set(rng.sample(range(n_bundles), n_bad))
    used: set[int] = set()
    files = []
    for i in range(n_bundles):
        t = rng.choices(range(len(templates)), weights)[0]
        tag = rng.getrandbits(40)
        while tag in used:
            tag = rng.getrandbits(40)
        used.add(tag)
        text = uniquify(templates[t], f"_{tag:010x}")
        if i in bad:
            if rng.random() < 0.5:
                # truncated mid-document: the parser must reject the file
                files.append((-1, text[: rng.randint(20, len(text) - 20)]))
            else:
                files.append((-1, _non_bundle(rng)))
        else:
            files.append((t, text))
    return files


def write_fhir_corpus(seed: int, n_bundles: int, out_dir: str) -> list[int]:
    """Write the corpus; return each file's template index (-1 malformed)."""
    os.makedirs(out_dir, exist_ok=True)
    kinds = []
    for i, (kind, text) in enumerate(plan_fhir_corpus(seed, n_bundles)):
        with open(os.path.join(out_dir, f"bundle_{i:05d}.json"), "w", encoding="utf-8") as f:
            f.write(text)
        kinds.append(kind)
    return kinds


# ---------------------------------------------------------------------------
# Expected FHIR outputs, derived from the template mix alone
# ---------------------------------------------------------------------------

def _ref(res: dict, field: str):
    v = res.get(field)
    return v.get("reference") if isinstance(v, dict) else None


def _resources(template: str) -> list[tuple[str | None, dict]]:
    doc = json.loads(template)
    return [(e.get("fullUrl"), e.get("resource") or {}) for e in doc.get("entry") or []]


def _clean_rows(rows: list[tuple[str | None, dict]], rt: str) -> int:
    """Rows the cleaner keeps for one bundle (fhir/clean.py drop and
    dedup rules; ids are unique per bundle, so dedup never crosses it)."""
    res = [r for _, r in rows if r.get("resourceType") == rt]
    if rt == "CarePlan":
        return len(res)
    if rt == "Immunization":
        return sum(1 for r in res if _ref(r, "encounter") and _ref(r, "patient"))
    if rt == "Patient":
        need = []
    elif rt == "Encounter":
        need = ["patient"]
    else:  # Condition, Observation: patient_id comes from subject
        need = ["subject"]
    kept = {r["id"] for r in res if r.get("id") is not None and all(_ref(r, f) for f in need)}
    return len(kept)


# (entity, key columns) of every duplicate check in fhir/quality.py; the
# keys map to raw fields: resource_id -> resource.id, fullUrl -> fullUrl
DUP_CHECKS = {
    ("patient_df", "Duplicate Resource.ID"): ("Patient", ("id",)),
    ("encounter_df", "Duplicate Resource.ID"): ("Encounter", ("id",)),
    ("observation_df", "Duplicate Resource.ID"): ("Observation", ("id",)),
    ("condition_df", "Duplicate Check"): ("Condition", ("fullUrl", "id")),
}
QUALITY_REPORT_ROWS = 20  # one row per (table, check) across the six suites


def expected_fhir(kinds: list[int]) -> dict:
    """Expected post-clean row counts per entity and duplicate-check
    violation counts for a corpus with these per-file template kinds."""
    parsed = [_resources(t) for t in load_templates()]
    per_template = [{rt: _clean_rows(rows, rt) for rt in ENTITY_TYPES} for rows in parsed]
    counts = {rt: 0 for rt in ENTITY_TYPES}
    groups: dict[tuple, Counter] = {k: Counter() for k in DUP_CHECKS}
    for i, kind in enumerate(kinds):
        if kind < 0:
            continue
        for rt in ENTITY_TYPES:
            counts[rt] += per_template[kind][rt]
        for check, (rt, keys) in DUP_CHECKS.items():
            for full_url, r in parsed[kind]:
                if r.get("resourceType") != rt:
                    continue
                raw = {"fullUrl": full_url, "id": r.get("id")}
                # non-null key parts are unique per bundle; null parts group
                # across the whole corpus, as a SQL GROUP BY does
                groups[check][tuple(None if raw[k] is None else (i, raw[k]) for k in keys)] += 1
    dups = {check: sum(c for c in g.values() if c > 1) for check, g in groups.items()}
    return {
        "row_counts": counts,
        "dup_violations": dups,
        "quality_rows": QUALITY_REPORT_ROWS,
        "malformed_files": sum(1 for k in kinds if k < 0),
        "files": len(kinds),
    }


# ---------------------------------------------------------------------------
# LLM-curation corpora: documents and embeddings with seeded near-copies
# ---------------------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
NEAR_COPY_FRAC = 0.1
EMB_DIM = 64


def make_documents(seed: int, n_docs: int) -> dict[str, list]:
    rng = random.Random(f"docs-{seed}")
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < NEAR_COPY_FRAC:
            words = texts[rng.randrange(i)].split()
            for _ in range(rng.randint(1, 3)):  # a few word edits
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(8, 100))]
        texts.append(" ".join(words))
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def make_embeddings(seed: int, n_vecs: int) -> dict[str, list]:
    rng = random.Random(f"emb-{seed}")
    vecs: list[list[float]] = []
    for i in range(n_vecs):
        if i > 10 and rng.random() < NEAR_COPY_FRAC:
            v = [x + rng.gauss(0.0, 0.02) for x in vecs[rng.randrange(i)]]
        else:
            v = [rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)]
            norm = sum(x * x for x in v) ** 0.5
            v = [x / norm for x in v]
        vecs.append(v)
    return {
        "vec_id": list(range(n_vecs)),
        "embedding": vecs,
        "label": [rng.randrange(10) for _ in range(n_vecs)],
    }


def write_curation_tables(seed: int, n_docs: int, n_vecs: int, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    docs = make_documents(seed, n_docs)
    pq.write_table(pa.table({
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": pa.array(docs["text"], pa.string()),
        "lang": pa.array(docs["lang"], pa.string()),
        "source": pa.array(docs["source"], pa.string()),
        "n_chars": pa.array(docs["n_chars"], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    emb = make_embeddings(seed, n_vecs)
    pq.write_table(pa.table({
        "vec_id": pa.array(emb["vec_id"], pa.int64()),
        "embedding": pa.array(emb["embedding"], pa.list_(pa.float32())),
        "label": pa.array(emb["label"], pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
