"""Property-based invariants for the LLM-pipeline operators: the chunker's
coverage/overlap laws, the two-phase prefix sum vs the naive definition,
and PPJoin prefix filtering vs brute-force all-pairs — each over randomly
generated inputs (bounded example counts: every example is a Spark job)."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

WORD = st.text(alphabet="abcd", min_size=1, max_size=5)


@given(
    docs=st.lists(st.lists(WORD, min_size=1, max_size=40), min_size=1, max_size=6),
    chunk_size=st.integers(2, 16),
    overlap=st.integers(0, 8),
)
@SETTINGS
def test_chunker_coverage_and_overlap_laws(spark, docs, chunk_size, overlap):
    from ehr_data_pipeline_spark.operators.text_analysis import chunk_by_tokens

    if overlap >= chunk_size:
        overlap = chunk_size - 1
    stride = chunk_size - overlap
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    out = chunk_by_tokens(df, chunk_size=chunk_size, overlap=overlap).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, ws in enumerate(docs):
        rows = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        # chunk c covers [c*stride, c*stride+chunk_size)
        for c, r in enumerate(rows):
            assert r["chunk_id"] == c
            toks = r["chunk_text"].split(" ")
            assert toks == ws[c * stride: c * stride + chunk_size]
            assert r["n_chunk_tokens"] == len(toks)
        # coverage: concatenating each chunk's non-overlapping tail yields the doc
        flat = rows[0]["chunk_text"].split(" ")
        for r in rows[1:]:
            flat.extend(r["chunk_text"].split(" ")[overlap:])
        assert flat == ws


@given(
    vals=st.lists(st.integers(0, 1000), min_size=0, max_size=60),
    n_buckets=st.integers(1, 8),
)
@SETTINGS
def test_distributed_prefix_sum_matches_naive(spark, vals, n_buckets):
    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.packing import distributed_prefix_sum

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    got = {
        r["id"]: r["offset"]
        for r in distributed_prefix_sum(
            df, id_col="id", value_col="v", out_col="offset",
            n_buckets=n_buckets,
        ).collect()
    }
    acc = 0
    for i, v in enumerate(vals):
        assert got[i] == acc, (i, vals)
        acc += v


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["spark", "shuffle", "join", "scan", "agg"]),
                 min_size=2, max_size=12),
        min_size=2, max_size=10,
    ),
    threshold=st.sampled_from([0.5, 0.7, 0.9]),
)
@SETTINGS
def test_prefix_filter_equals_brute_force(spark, texts, threshold):
    from ehr_data_pipeline_spark.operators.text_dedup import (
        jaccard_pairs,
        release_builder_caches,
    )
    from tests.test_text_dedup import _jaccard_pairs_allpairs

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(texts)],
        "doc_id long, text string",
    )
    brute = {(r["doc_a"], r["doc_b"], r["jaccard"])
             for r in _jaccard_pairs_allpairs(df, threshold=threshold).collect()}
    try:
        pref = {(r["doc_a"], r["doc_b"], r["jaccard"])
                for r in jaccard_pairs(df, threshold=threshold).collect()}
    finally:
        # per example, not per test: hypothesis runs many examples
        # inside one test call and each persists its own shingle sets
        release_builder_caches()
    assert brute == pref


@given(
    weights=st.lists(st.integers(1, 40), min_size=1, max_size=50),
    n=st.integers(1, 30),
)
@SETTINGS
def test_pps_systematic_invariants(spark, weights, n):
    """Σ n_hits == n exactly, and every row's multiplicity is within
    floor/ceil of its expectation n·w/W — for ANY positive weights and
    sample size."""
    from ehr_data_pipeline_spark.operators.sampling import pps_systematic_sample

    df = spark.createDataFrame(list(enumerate(weights)), "id long, w long")
    got = {r["id"]: r["n_hits"]
           for r in pps_systematic_sample(df, "id", "w", n_samples=n).collect()}
    total = sum(weights)
    assert sum(got.values()) == n
    for i, w in enumerate(weights):
        hits = got.get(i, 0)
        assert (n * w) // total <= hits <= -((-n * w) // total), (i, w, hits)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=30,
    ),
    iters=st.integers(1, 4),
)
@SETTINGS
def test_pagerank_matches_integer_reference(spark, edges, iters):
    """Fixed-point PageRank equals the pure-Python integer reference on
    ANY random digraph (self-loops, dangling nodes, duplicates) — the
    bit-determinism claim as a property."""
    from ehr_data_pipeline_spark.operators.graph import pagerank_fixed_point
    from tests.test_graph import _py_pagerank

    named = [(f"v{s}", f"v{d}") for s, d in edges]
    df = spark.createDataFrame(named, "src string, dst string")
    got = {r["node"]: r["rank"]
           for r in pagerank_fixed_point(df, n_iters=iters).collect()}
    assert got == _py_pagerank(named, iters)


@given(
    values=st.lists(st.integers(0, 10_000), min_size=2, max_size=80),
    split=st.integers(1, 79),
    q=st.sampled_from([0.05, 0.25, 0.5, 0.75, 0.95]),
)
@SETTINGS
def test_hist_merge_law_and_quantile_bound(spark, values, split, q):
    """merge(hist(A), hist(B)) == hist(A∪B) exactly, and the estimated
    quantile of the merged sketch is within one bin width of the true
    order statistic — over random data and split points."""
    from ehr_data_pipeline_spark.operators.sketches import (
        hist_build,
        hist_merge,
        hist_quantile,
    )

    split = min(split, len(values) - 1)
    lo, hi, nb = 0.0, 10_000.0, 32
    a = spark.createDataFrame([(float(v),) for v in values[:split]], "v double")
    b = spark.createDataFrame([(float(v),) for v in values[split:]], "v double")
    both = spark.createDataFrame([(float(v),) for v in values], "v double")
    merged = hist_merge(hist_build(a, "v", lo, hi, nb), hist_build(b, "v", lo, hi, nb))
    direct = hist_build(both, "v", lo, hi, nb)
    cells = lambda df: {r["bin"]: r["cnt"] for r in df.collect()}  # noqa: E731
    assert cells(merged) == cells(direct)
    est = hist_quantile(merged, [q], lo, hi, nb).collect()[0]["quantile_est"]
    ordered = sorted(values)
    rank = max(0, math.ceil(q * len(ordered)) - 1)
    true_val = float(ordered[rank])
    # the ceil(qN)-th order statistic lives in the same bin the
    # estimator interpolates within, so they differ by < one bin width
    assert abs(est - true_val) <= (hi - lo) / nb + 1e-9


@given(
    vecs=st.lists(
        st.lists(st.integers(0, 2), min_size=4, max_size=4),
        min_size=1,
        max_size=24,
    ),
    n_clusters=st.integers(1, 4),
    thr=st.sampled_from([0.3, 0.5, 0.8]),
)
@SETTINGS
def test_semantic_dedup_matches_python_reference(spark, vecs, n_clusters, thr):
    """semantic_dedup over random small integer vectors (duplicates and
    near-dups arise naturally, zero vectors are invalid by contract)
    must equal the literal Python statement of its semantics: seeded
    argmin assignment (distance then cid tiebreak), drop iff a lower-id
    cluster-mate clears ROUND(cosine, 6) >= threshold. Integer
    components keep every dot product exact in double, so both
    engines compute bit-identical cosines; rounding reuses the
    Spark-ROUND-parity reference."""
    import math

    from ehr_data_pipeline_spark.operators.similarity import semantic_dedup
    from tests.test_similarity import _round_half_up_6

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in semantic_dedup(
            df, n_clusters=n_clusters, threshold=thr, dim=4
        ).collect()
    }

    valid = [(i, v) for i, v in enumerate(vecs) if any(x != 0 for x in v)]
    seeds = [v for _, v in valid[:n_clusters]]
    if not seeds:
        assert got == {}
        return

    def cell(v):
        return min(
            range(len(seeds)),
            key=lambda c: (sum((a - b) ** 2 for a, b in zip(v, seeds[c])), c),
        )

    def cos6(a, b):
        raw = sum(x * y for x, y in zip(a, b)) / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )
        return _round_half_up_6(raw)

    assign = {i: cell(v) for i, v in valid}
    want = {}
    for i, v in valid:
        dropped = any(
            assign[j] == assign[i] and cos6(v, w) >= thr
            for j, w in valid
            if j < i
        )
        want[i] = (assign[i], not dropped)
    assert got == want


@given(
    docs=st.lists(st.lists(WORD, min_size=1, max_size=12), min_size=1, max_size=10),
    split=st.integers(0, 10),
    terms=st.lists(WORD, min_size=1, max_size=3),
)
@SETTINGS
def test_bm25_index_merge_law_and_scan_identity(spark, docs, split, terms):
    """Random corpora: index-based BM25 == corpus-scanning bm25_scores
    BIT-for-bit, and building from any 2-way split then unioning equals
    one build over the whole corpus."""
    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.text_analysis import (
        bm25_index_build,
        bm25_scores,
        bm25_search_against_index,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    split = min(split, len(rows))
    want = sorted(map(tuple, bm25_scores(df, terms).collect()))
    p1, l1 = bm25_index_build(df.filter(F.col("doc_id") < split))
    p2, l2 = bm25_index_build(df.filter(F.col("doc_id") >= split))
    got = sorted(map(tuple, bm25_search_against_index(
        p1.unionByName(p2), l1.unionByName(l2), terms).collect()))
    assert got == want


@given(
    keys=st.lists(st.integers(0, 50), min_size=1, max_size=40, unique=True),
    n_strata=st.integers(1, 4),
    cap=st.integers(1, 5),
)
@SETTINGS
def test_cap_per_stratum_invariants(spark, keys, n_strata, cap):
    """Random strata assignments: per-stratum output counts are
    min(cap, stratum size); output is a subset of the input; and the
    draw is key-stable — dropping a NON-surviving row never changes the
    surviving set."""
    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.sampling import cap_per_stratum

    rows = [(k, f"s{k % n_strata}") for k in keys]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = cap_per_stratum(df, "source", "doc_id", cap).collect()
    by = {}
    for r in got:
        by.setdefault(r["source"], set()).add(r["doc_id"])
    from collections import Counter
    sizes = Counter(s for _, s in rows)
    for s, n in sizes.items():
        assert len(by.get(s, set())) == min(cap, n), (s, n, cap)
    survivors = {r["doc_id"] for r in got}
    assert survivors <= set(keys)
    losers = set(keys) - survivors
    if losers:
        drop = sorted(losers)[0]
        again = cap_per_stratum(
            df.filter(F.col("doc_id") != drop), "source", "doc_id", cap
        ).collect()
        assert {r["doc_id"] for r in again} == survivors


# ---------------------------------------------------------------------------
# Batched-BPE compatibility law (pure Python — no Spark jobs, so these can
# afford real example counts): for any state and any candidate ranking, the
# pairs _select_compatible_pairs keeps must apply the SAME whether fused
# simultaneously on the round-start state (the oracle's multi-pair
# gaps-and-islands SQL) or sequentially in selection order (the Spark
# side's chained _bpe_apply_merge). This is the mathematical claim that
# makes the batched trainer's cross-engine hash parity safe on EVERY
# corpus, not just the tested ones.
# ---------------------------------------------------------------------------

PURE_SETTINGS = settings(max_examples=300, deadline=None)

SYM = st.text(alphabet="abc", min_size=1, max_size=2)


def _greedy_merge_once(syms, l, r):
    """Reference left-greedy non-overlapping single-merge apply (the
    fuzz-pinned model both engines implement)."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _simultaneous_merge(syms, pairs):
    """The oracle's island model: mark every adjacency matching ANY kept
    pair on the ORIGINAL state, island consecutive occurrences, fuse the
    even offsets of each island (fused symbol = sym + next)."""
    pset = set(pairs)
    n = len(syms)
    occ = [i + 1 < n and (syms[i], syms[i + 1]) in pset for i in range(n)]
    fuse = [False] * n
    i = 0
    while i < n:
        if occ[i]:
            j = i
            while j < n and occ[j]:
                j += 1
            for k in range(i, j):
                if (k - i) % 2 == 0:
                    fuse[k] = True
            i = j
        else:
            i += 1
    out, i = [], 0
    while i < n:
        if fuse[i]:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@given(
    words=st.lists(
        st.lists(SYM, min_size=1, max_size=12), min_size=1, max_size=8
    ),
    cands=st.lists(st.tuples(SYM, SYM), min_size=1, max_size=12),
    batch=st.integers(1, 6),
)
@PURE_SETTINGS
def test_compatible_batch_simultaneous_equals_sequential(words, cands, batch):
    from ehr_data_pipeline_spark.operators.text_analysis import (
        _select_compatible_pairs,
    )

    ranked = [(l, r, 1) for l, r in dict.fromkeys(cands)]
    sel = [(l, r) for l, r, _ in _select_compatible_pairs(ranked, batch)]
    for w in words:
        seq = list(w)
        for l, r in sel:
            seq = _greedy_merge_once(seq, l, r)
        sim = _simultaneous_merge(list(w), sel)
        assert seq == sim, (w, sel)


def test_compatibility_is_selection_order_only_not_symmetric():
    """The DISCOVERED boundary of the rule (found by an earlier draft of
    the fuzz above that wrongly asserted any-order equality): a LATER
    kept pair's merged symbol may equal an EARLIER kept pair's element
    — (b,ca) then (c,a) is a legal batch, and applying (c,a) FIRST
    creates 'ca' symbols that (b,ca) would then fuse, so reversed
    order differs. Selection order is therefore part of the batch's
    semantics, and both engines honor it: the Spark side chains
    _bpe_apply_merge in selection order, and the oracle's simultaneous
    island model provably equals exactly that order (the fuzz law
    above) — because an EARLIER pair's application can neither create
    nor destroy a LATER pair's occurrences (that direction IS what the
    blocked set guarantees), while the reverse need not hold."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        _select_compatible_pairs,
    )

    ranked = [("b", "ca", 2), ("c", "a", 1)]
    sel = [(l, r) for l, r, _ in _select_compatible_pairs(ranked, 2)]
    assert sel == [("b", "ca"), ("c", "a")]  # both kept — legal batch
    w = ["b", "c", "a"]
    # selection order == simultaneous == [b, ca]
    seq = list(w)
    for l, r in sel:
        seq = _greedy_merge_once(seq, l, r)
    assert seq == _simultaneous_merge(list(w), sel) == ["b", "ca"]
    # reversed order differs — the asymmetry this test documents
    rev = list(w)
    for l, r in reversed(sel):
        rev = _greedy_merge_once(rev, l, r)
    assert rev == ["bca"] != seq


# ---------------------------------------------------------------------------
# Byte-pretokenizer tri-engine fuzz (pure Python + in-process DuckDB — no
# Spark): the hand-rolled scanner must tokenize identically to RE2 on
# arbitrary multi-script text. The alphabet spans Latin/accents/Greek/
# Cyrillic/CJK/kana/fullwidth digits/Arabic-Indic digits/Nl/No/NBSP and
# the full ASCII whitespace-and-punct range — codepoints whose general
# categories are stable across the Unicode versions the three engines
# embed (exotic new-script codepoints could legitimately drift between
# category tables and are out of contract).
# ---------------------------------------------------------------------------

PRETOKEN_ALPHABET = (
    "abcXYZ09'’ .,!?\t\n\x0b\f\r-_#"
    "éÅßñçΨψжмь北京東タワ１２３٣٤Ⅻ² —"
)


@given(st.text(alphabet=PRETOKEN_ALPHABET, max_size=60))
@PURE_SETTINGS
def test_byte_pretokens_scanner_matches_re2(text):
    import duckdb

    from ehr_data_pipeline_spark.operators.text_analysis import (
        BYTE_PRETOKEN_PATTERN,
        _byte_pretokens_py,
    )

    con = duckdb.connect()
    pat = BYTE_PRETOKEN_PATTERN.replace("'", "''")
    got = con.execute(
        f"SELECT regexp_extract_all(?, '{pat}')", [text]
    ).fetchone()[0]
    assert got == _byte_pretokens_py(text), repr(text)


def test_byte_pretokens_scanner_matches_java_seeded(spark):
    """The Java leg of the tri-engine fuzz: 300 seeded random strings
    from the same multi-script alphabet through Spark's
    regexp_extract_all in ONE job, compared against the Python scanner
    (the RE2 leg fuzzes above; together the three engines are pinned
    pairwise on the same distribution)."""
    import random

    from pyspark.sql import functions as F

    from ehr_data_pipeline_spark.operators.text_analysis import (
        _byte_pretokens_py,
        byte_pretokens,
    )

    rng = random.Random(13)
    texts = [
        "".join(rng.choice(PRETOKEN_ALPHABET) for _ in range(rng.randrange(60)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "i int, t string"
    )
    rows = df.select(
        "i", byte_pretokens(F.col("t")).alias("toks")
    ).collect()
    assert len(rows) == 300
    for r in rows:
        assert r["toks"] == _byte_pretokens_py(texts[r["i"]]), repr(
            texts[r["i"]]
        )
