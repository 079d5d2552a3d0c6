"""Text deduplication family for LLM-training-data pipelines: exact
(normalized-hash), n-gram Jaccard, MinHash-LSH, and SimHash near-dup.

Scale design (the whole point of these operators):

- **exact**: one md5-of-normalized-text fingerprint per doc, one shuffle on
  the fingerprint. 100 TB-safe as-is.
- **jaccard_pairs** is the exact n-gram Jaccard path: lossless PPJoin
  prefix filtering, so the candidate join runs only within rare-shingle
  buckets. The O(n²) all-pairs join it equals is a reference twin in
  tests/test_text_dedup.py, not a library path.
- **minhash_lsh_pairs** is the scale path: signature = H min-hashes over
  character shingles (in-row, narrow), candidates = pairs sharing at least
  one LSH band bucket (shuffle on band key — join happens only WITHIN
  buckets), then exact-Jaccard verification of the candidate set. At 100 TB
  the band-bucket join replaces n² with Σ_bucket |bucket|²; hot buckets
  (boilerplate shingles) are the skew risk — AQE skew-join handles
  moderate cases, and the band key can be salted with a shingle-count
  range for extreme ones.
- **simhash_sketches**: 60-bit sketch, near-dups = small Hamming
  distance; candidates share one of four 15-bit chunks (same
  bucket-join shape).

Determinism: the MinHash family is ONE md5-derived 32-bit base hash per
shingle permuted by H deterministic affine maps (a_j·h + b_j mod 2^31-1)
— universal hashing, engine-portable, so the DuckDB oracle replicates the
whole LSH pipeline bit-for-bit at 1/H-th the hashing cost of an
md5-per-function family. SimHash hashes tokens with the same md5-derived
60-bit family (oracle-checked).

The reference has only key-dedup (U2); this family is the BASELINE
north-star extension (SURVEY §2.7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ehr_data_pipeline_spark.operators.text_analysis import (
    fingerprint128,
    let_bound,
    normalize_text,
    portable_hash60,
)
from ehr_data_pipeline_spark.partitioning import ensure_min_partitions

DEFAULT_SHINGLE_K = 4
DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4
# Jaccard floor of every MinHash near-dup surface.
MINHASH_THRESHOLD = 0.6
# SimHash sketch width and the Hamming radius of a near-dup pair (3 < 4
# bands, so banding finds every pair: see simhash_near_dup_pairs).
SIMHASH_BITS = 60
SIMHASH_MAX_DISTANCE = 3
# Token window of exact-substring dedup (duplicate_spans).
SPAN_WINDOW = 8


def shingle_set(col: Column, k: int = DEFAULT_SHINGLE_K) -> Column:
    """Distinct character k-grams of the normalized text (in-row, narrow).
    Empty array when the text is shorter than k — callers filter those out
    before set similarity (Jaccard over empty sets is undefined).

    Extraction is ONE native regex scan — ``(?s)(?=(.{k})).`` captures the
    k-gram starting at every position via lookahead while consuming one
    char — instead of a ``transform(sequence(...), substr)`` higher-order
    function: HOF lambdas are CodegenFallback, so the old shape paid an
    interpreted substr per character position (measured 2.0× the whole
    hashed-shingle pass at sf0.1; r14 optimization). Semantics are
    IDENTICAL: Java regex ``.`` with DOTALL matches any code point (so
    line separators the normalizer's ASCII ``\\s`` leaves intact — U+2028
    et al. — behave exactly like ``substr``), matches are found at every
    position left-to-right, the lookahead fails within k-1 chars of the
    end, and texts shorter than k (including empty/null-normalized)
    yield the same empty array. First-occurrence order of
    ``array_distinct`` is unchanged. Pinned against the old expression
    on the unicode edge corpus + fuzz in tests/test_text_dedup.py."""
    return F.array_distinct(
        F.regexp_extract_all(
            normalize_text(col), F.lit(f"(?s)(?=(.{{{k}}}))."), F.lit(1)
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """|a ∩ b| / |a ∪ b| over distinct-element arrays, as one IEEE double
    division (engine-portable: DuckDB computes the identical value)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def jaccard_distinct(sa: Column, sb: Column) -> Column:
    """:func:`jaccard` with the intersection evaluated ONCE — the hot-path
    form every pair-verification join uses. |A∪B| = |A|+|B|−|A∩B| for
    distinct-element arrays, so the union's second hash-set build is
    skipped, and the intersection size is let-bound because neither
    join-condition nor projection codegen performs common-subexpression
    elimination: an unbound ``size(array_intersect(..))`` appearing in
    both numerator and denominator is evaluated per occurrence at
    whatever plan site Catalyst inlines the predicate into (the old
    shape paid 4 intersections per candidate — 2 in the pushed join
    condition, 2 in the project; measured 2.2× on the sf0.1 LSH
    verification join). The value is the identical IEEE double on both
    engines: sizes are exact integers ≪ 2^53, so the double subtraction
    and division replay bit-for-bit in DuckDB's oracle SQL."""
    return let_bound(
        F.size(F.array_intersect(sa, sb)).cast("double"),
        lambda i: i / (F.size(sa).cast("double") + F.size(sb).cast("double") - i),
    )


def hashed_shingle_set(col: Column) -> Column:
    """Distinct 32-bit hashes of the character k-grams (k =
    ``DEFAULT_SHINGLE_K``) — Broder's original shingling construction
    (fixed-width shingle hashes, not strings). The Jaccard over hash sets
    equals the string-shingle Jaccard up to ~2^-32 collision probability per
    shingle pair, and buys: ~2.6× cheaper pair verification (bigint
    array_intersect vs strings, measured at sf0.1), ~4× smaller shuffle
    payloads, and engine portability (the md5-derived hash replays in
    DuckDB, so every downstream query stays oracle-checkable). Empty array
    when the text is shorter than k."""
    return F.array_distinct(F.transform(shingle_set(col), base_shingle_hash))


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint — keeps one arbitrary
    row per distinct content (hash-aggregate, one shuffle). For a
    deterministic survivor use keep_first on __fp with an explicit order."""
    return df.withColumn("__fp", fingerprint128(F.col("text"))).dropDuplicates(
        ["__fp"]
    ).drop("__fp")


def exact_dup_stats(df: DataFrame) -> DataFrame:
    """Corpus-level exact-duplication report in one groupBy pass:
    (n_docs, n_distinct, n_dup_groups, n_rows_in_dup_groups) — the
    duplicate_group_stats shape (A4 keep=False semantics) keyed by content
    fingerprint instead of relational keys."""
    groups = (
        df.select(fingerprint128(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return groups.agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).cast("bigint").alias("n_dup_groups"),
        F.coalesce(F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))), F.lit(0))
        .cast("bigint")
        .alias("n_rows_in_dup_groups"),
    )


def jaccard_pairs(df: DataFrame, threshold: float = 0.6) -> DataFrame:
    """EXACT n-gram Jaccard pairs (doc_a < doc_b, jaccard >= threshold) of
    ``text``, keyed by ``doc_id``, without all-pairs: prefix filtering
    (AllPairs/PPJoin, Chaudhuri et al. / Xiao et al.). Similarity is over
    hashed shingle sets (see hashed_shingle_set); docs shorter than k have
    none and pair with nobody. Output is IDENTICAL to the all-pairs
    nested-loop join — prefix filtering is lossless; that join is the
    brute-force twin in tests/test_text_dedup.py — but the candidate join
    touches only rare shingles:

    1. global document frequency per shingle (one groupBy);
    2. per doc, order shingles rarest-first (df, then shingle — one
       total order shared by all docs) and keep the PREFIX of length
       ``|sh| - ceil(t·|sh|) + 1``: two sets with J ≥ t MUST share a
       prefix element under a common global order, so joining prefixes
       finds every qualifying pair;
    3. inverted-index join WITHIN prefix-shingle buckets (+ size-ratio
       prune + PPJoin POSITIONAL prune) → candidates; exact Jaccard
       verifies.

    The positional filter is the PPJoin refinement of plain prefix
    filtering: a joined row matches prefix element g at rarity-ranks
    (rn_a, rn_b); every common element sits at rank ≥ rn in its doc, so
    overlap ≤ 1 + min(|A|−rn_a, |B|−rn_b) — and J ≥ t needs overlap ≥
    t/(1+t)·(|A|+|B|). Rows whose upper bound can't reach that are
    dropped BEFORE the distinct. Lossless: a qualifying pair's FIRST
    common element (which prefix filtering guarantees is in both
    prefixes) always satisfies the bound, so the pair always survives.
    On self-similar corpora these prunes are the difference between
    verifying every prefix collision and verifying a candidate set an
    order closer to the true pair set (measured at sf0.1, t=0.8: 3.7 M
    candidates → 2.1 M with the positional prune alone, further cut by
    the index-prefix restriction; the composed funnel went 46 s → 19 s
    with byte-identical output).

    Scale: the join key is by construction among the RAREST shingles, so
    bucket sizes are small and skew-free — the Σ|bucket|² blowup that
    makes a naive shingle-inverted-index join degenerate on stop-grams
    ("the ", "ing ") cannot happen. Shuffles: shingle-df groupBy, one
    window per doc (rank by rarity), the bucket join, candidate distinct,
    and two verification joins — all key-partitioned, nothing all-pairs.
    This is the exact-result scale path; minhash_lsh_pairs trades exact
    recall for even fewer candidates.

    The hashed shingle sets are persisted: the plan reads them three
    times (df-count pass + two verification joins). The cache is
    referenced by the RETURNED lazy plan, so it lives until
    ``release_builder_caches()`` / ``spark.catalog.clearCache()``."""
    base = ensure_min_partitions(df).select(
        F.col("doc_id").alias("id"), hashed_shingle_set(F.col("text")).alias("sh")
    ).filter(F.size("sh") > 0)
    base = _persist_tracked(base)
    e = base.select("id", F.size("sh").alias("nsh"), F.explode("sh").alias("g"))
    dfreq = e.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "g")
    pref = (
        e.join(dfreq, "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("nsh") - F.ceil(F.lit(threshold) * F.col("nsh")) + 1
        )
        .select("id", "nsh", "g", "rn")
    )
    # the self-join reads pref from BOTH sides; without a persist the
    # whole explode→df-count→window subtree is computed twice
    pref = _persist_tracked(pref)
    # PPJoin asymmetric prefixes under the canonical (size, id) processing
    # order: the smaller doc of a pair acts as the INDEX side and only its
    # SHORTER index prefix (|y| − ceil(2t/(1+t)·|y|) + 1) participates in
    # the join; the larger doc probes with the full probe prefix. Lossless
    # (Xiao et al.): J ≥ t with |y| ≤ |x| forces the first common element
    # inside y's index prefix. The 1e-9 slack on the float bound can only
    # LENGTHEN a prefix, never truncate one that theory requires.
    index_len = (
        F.col("nsh").cast("double")
        - F.ceil(
            F.lit(2.0 * threshold / (1.0 + threshold))
            * F.col("nsh").cast("double")
            - F.lit(1e-9)
        )
        + F.lit(1)
    )
    a = pref.filter(F.col("rn") <= index_len).alias("a")
    b = pref.alias("b")
    canon = (F.col("a.nsh") < F.col("b.nsh")) | (
        (F.col("a.nsh") == F.col("b.nsh")) & (F.col("a.id") < F.col("b.id"))
    )
    size_ok = F.least(F.col("a.nsh"), F.col("b.nsh")) >= (
        F.lit(threshold) * F.greatest(F.col("a.nsh"), F.col("b.nsh"))
    )
    # PPJoin positional prune: overlap upper bound from the matched
    # element's rarity ranks vs the overlap a J >= t pair requires
    # (t/(1+t)·(|A|+|B|), compared cross-multiplied with a 1e-9 slack so
    # a float boundary can only KEEP an extra candidate, never drop a
    # real one — verification stays exact either way).
    overlap_ub = F.lit(1) + F.least(
        F.col("a.nsh") - F.col("a.rn"), F.col("b.nsh") - F.col("b.rn")
    )
    pos_ok = (
        overlap_ub.cast("double") * F.lit(1.0 + threshold)
        >= F.lit(threshold) * (F.col("a.nsh") + F.col("b.nsh")).cast("double")
        - F.lit(1e-9)
    )
    candidates = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & canon
            & (F.col("a.id") != F.col("b.id"))
            & size_ok
            & pos_ok,
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("doc_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("doc_b"),
        )
        .distinct()
    )
    candidates = _materialize_candidates(candidates)
    return (
        candidates.join(base.alias("sa"), F.col("doc_a") == F.col("sa.id"))
        .join(base.alias("sb"), F.col("doc_b") == F.col("sb.id"))
        .select(
            "doc_a",
            "doc_b",
            jaccard_distinct(F.col("sa.sh"), F.col("sb.sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def curate_corpus_funnel(df: DataFrame) -> DataFrame:
    """The composed LLM-corpus curation pipeline — the operators above
    chained the way a training-data run chains them, reported as a funnel
    (stage_idx, stage, n_docs):

    1. **all** — the raw corpus;
    2. **quality** — docs whose heuristic quality score is at least 0.5
       (text_analysis.text_stats, narrow pass);
    3. **exact_dedup** — deterministic keep-lowest-id survivor per
       normalized-content fingerprint (one shuffle);
    4. **near_dedup** — greedy near-dup removal: for every surviving pair
       with Jaccard >= 0.8, the higher id drops. Greedy-by-id is
       order-deterministic and transitively safe (a kept doc's dups all
       reference a lower id).

    The pairs come from the lossless PPJoin prefix filter
    (:func:`jaccard_pairs`) — EXACTLY the all-pairs result while
    joining only rare shingles, so it is both the scale path and
    oracle-checkable."""
    from ehr_data_pipeline_spark.operators.text_analysis import text_stats

    base = df.select("doc_id", "text")
    quality = text_stats(F.col("text"))["quality_score"]
    q = base.filter(quality >= 0.5)
    fp = q.select(F.col("doc_id"), fingerprint128(F.col("text")).alias("__fp"))
    keep = fp.groupBy("__fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    e = q.join(keep, "doc_id", "left_semi")
    pairs = jaccard_pairs(e, 0.8)
    removed = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    n = e.join(removed, "doc_id", "left_anti")

    def stage(idx: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"), "n_docs"
        )

    return (
        stage(1, "all", base)
        .unionByName(stage(2, "quality", q))
        .unionByName(stage(3, "exact_dedup", e))
        .unionByName(stage(4, "near_dedup", n))
    )


_MINHASH_P = 2147483647  # 2^31 - 1, Mersenne prime


# Frames persisted by the pair builders in this session, so long-lived
# sessions can reclaim them (ADVICE r7: repeated minhash_lsh_pairs /
# jaccard_pairs / near_dedup_against_index calls accumulate cached
# candidate sets for the life of the session otherwise). Lifetime
# contract: a persisted index/candidate frame lives until the caller
# invokes release_builder_caches(), spark.catalog.clearCache() (what
# bench.py does between queries), or the session ends — it CANNOT be
# unpersisted inside the builder because the returned DataFrame is lazy
# and still reads it.
_LIVE_BUILDER_CACHES: list[DataFrame] = []


def release_builder_caches() -> None:
    """Unpersist every index/candidate frame the pair builders persisted
    in this session (best-effort; safe to call at any time — Spark
    recomputes an unpersisted frame if a plan still references it)."""
    while _LIVE_BUILDER_CACHES:
        df = _LIVE_BUILDER_CACHES.pop()
        try:
            df.unpersist()
        except Exception:  # session already stopped
            pass


def _persist_tracked(df: DataFrame) -> DataFrame:
    df = df.persist()
    _LIVE_BUILDER_CACHES.append(df)
    return df


def _materialize_candidates(candidates: DataFrame) -> DataFrame:
    """Persist AND materialize a candidate-pair frame before its
    verification joins. The candidate set is the narrow waist of every
    pair pipeline — two ids per row — yet leaving it lazy makes AQE plan
    the banding/prefix join, the distinct, and both verification joins
    as one adaptive query, and the measured end-to-end cost DOUBLES
    (10.6 s → 5.2 s at sf0.1 for minhash_lsh_pairs with everything else
    identical): materializing gives the verification query exact input
    stats and its own clean stage boundary. At 100 TB the persisted set
    is still just the id pairs (MEMORY_AND_DISK spills gracefully), and
    the extra pass is over data the verification reads anyway. NOTE this
    makes the builder run a Spark job at call time and the cache live
    past the call — see release_builder_caches() for the lifetime
    contract."""
    candidates = _persist_tracked(candidates)
    candidates.count()
    return candidates


def minhash_affine_params(j: int) -> tuple[int, int]:
    """Deterministic (a_j, b_j) for hash function j of the universal
    family h_j(x) = (a_j·x + b_j) mod p — derived from md5 of j, so every
    engine, executor, and rerun agrees with no stored state. a_j is odd
    and < 2^28, keeping a_j·h + b_j under 2^60 for a 32-bit base hash
    (no bigint overflow in Spark or DuckDB)."""
    import hashlib

    d = hashlib.md5(f"minhash:{j}".encode()).hexdigest()
    a = (int(d[:7], 16) % (1 << 28)) | 1
    b = int(d[7:14], 16) % _MINHASH_P
    return a, b


def base_shingle_hash(shingle: Column) -> Column:
    """32-bit engine-portable base hash: first 8 md5 hex chars as bigint
    (DuckDB: ('0x' || substr(md5(x), 1, 8))::BIGINT)."""
    return F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("bigint")


def minhash_signature(hs: Column, num_hashes: int = DEFAULT_NUM_HASHES) -> Column:
    """MinHash signature over an ALREADY-HASHED shingle array
    (hashed_shingle_set): ``num_hashes`` affine permutations
    (a_j·h + b_j) mod p of each 32-bit base hash — the textbook
    universal-hashing construction. Pure integer arithmetic, no
    re-hashing (the md5 already happened once per shingle upstream).
    Engine-portable: params are deterministic literals, so DuckDB
    replays the identical signature.

    Expression shape (r14 optimization): one ``array_min(transform(...))``
    per hash function instead of a single ``aggregate`` whose accumulator
    is a ``zip_with`` over an H-element array. Array lambdas are
    CodegenFallback (interpreted), so the fold shape paid two H-element
    array ALLOCATIONS per shingle on top of the interpreted arithmetic;
    H flat transforms do the same H·|sh| multiply-mod-min operations
    with no per-element allocation — measured 1.6× on the signature pass
    at sf0.1 with bit-identical output (min over a multiset is
    fold-order-free; equality on non-empty inputs is pinned in
    tests/test_text_dedup.py). ``hs`` is let-bound so an
    expression argument is evaluated once, not once per hash function.

    Empty-input contract (ADVICE r14): an empty ``hs`` yields the
    sentinel signature ``[p, p, ...]`` — the per-position ``coalesce``
    restores the original fold's init value so a caller that forgets the
    usual ``size(sh) > 0`` filter gets sentinel signatures (which only
    band-collide with other empties) instead of NULLs. On non-empty
    input the coalesce is a no-op (affine images of non-null hashes are
    never NULL), so the hot path is unchanged; a NULL ``hs`` also maps
    to the sentinel (the old fold returned NULL there — that input
    violates the documented precondition either way)."""
    params = [minhash_affine_params(j) for j in range(num_hashes)]

    def permuted_min(h_arr: Column, a: int, b: int) -> Column:
        return F.coalesce(
            F.array_min(
                F.transform(
                    h_arr, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MINHASH_P)
                )
            ),
            F.lit(_MINHASH_P),
        )

    return let_bound(
        hs,
        lambda h_arr: F.array(*[permuted_min(h_arr, a, b) for a, b in params]),
    )


def _sig_agreement(a: Column, b: Column) -> Column:
    """Number of positions at which two MinHash signatures agree — the
    count the ``sig_agree`` prefilter compares against its floor."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq))


def _band_entries(sig: DataFrame) -> DataFrame:
    """(id, nsh, band_idx, band_key) inverted-index entries from an
    (id, sh, sig) MinHash index frame — one row per (doc, band), the
    LSH banding construction shared by the all-pairs and incremental
    near-dup paths."""
    rows = DEFAULT_NUM_HASHES // DEFAULT_BANDS
    return sig.select(
        "id",
        F.size("sh").alias("nsh"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.concat_ws(",", *[
                            F.element_at(F.col("sig"), i * rows + j + 1).cast("string")
                            for j in range(rows)
                        ]).alias("band_key"),
                    )
                    for i in range(DEFAULT_BANDS)
                ]
            )
        ).alias("band"),
    ).select("id", "nsh", "band.band_idx", "band.band_key")


def build_minhash_index(
    df: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """The persistent MinHash near-dup index for a corpus: one (id, sh, sig)
    row per ``doc_id`` with a non-empty shingle set of its ``text``. At 100
    TB this is built ONCE, written bucketed (sinks.write_bucketed) and
    appended to per ingest batch — `near_dedup_against_index` joins new
    batches against it without touching the historical texts."""
    base = ensure_min_partitions(df).select(
        F.col("doc_id").alias("id"),
        hashed_shingle_set(F.col("text")).alias("sh"),
    ).filter(F.size("sh") > 0)
    return base.select(
        "id", "sh", minhash_signature(F.col("sh"), num_hashes).alias("sig")
    )


def near_dedup_against_index(
    batch: DataFrame, index: DataFrame, sig_agree: int = 0
) -> "tuple[DataFrame, DataFrame]":
    """Incremental NEAR-dup dedup — the continuous-ingest twin of
    ``dedup_against_index`` (which is exact-only): drop new-batch docs
    whose shingle-set Jaccard reaches ``MINHASH_THRESHOLD`` against the
    historical MinHash index (``build_minhash_index`` output) or against
    a lower-id doc of the same batch.

    Drop rule, stated precisely because it is the SQL-replayable contract: a
    batch doc drops iff it band-collides AND verifies J >= MINHASH_THRESHOLD
    against ANY index doc, or against ANY lower-id batch doc — each test
    evaluated INDEPENDENTLY (a doc dropped via a doc that was itself dropped
    still drops: dedup stays conservative and order-deterministic, no
    sequential dependency between batch rows). With every index id below
    every batch id, the kept batch ids are exactly those that are never
    ``doc_b`` of :func:`minhash_lsh_pairs` over history ∪ batch.

    One implementation with the batch surfaces: the in-batch pairs ARE
    :func:`_rep_minhash_pairs` over the batch's rep signatures (minus
    its self rows), and the index side is the same band-bucket join
    (:func:`_band_candidates`, unordered — every index doc counts) and
    the same verification (:func:`_verified`) against the index.
    Returns ``(fresh_rows, new_index_entries)`` — append the latter to
    the index table, exactly like the exact-dedup variant.

    Duplicate-proof: the BATCH side is collapsed to distinct
    shingle sets first (:func:`_shingle_groups` — ingest batches are the
    duplicate-heaviest data there is), so signatures are computed once
    per distinct set and both candidate joins + the exact verification
    run at group-representative level. Member drop decisions follow from
    group facts exactly (everything is a pure function of the sets):
    a member x of group G drops iff G verified against ANY index doc
    (no id condition), or x is not G's min id (a lower-id identical copy
    exists in-batch, J = 1.0, always band-collides), or some verified
    in-batch counterpart group G' has min id < x (∃ batch doc y ∈ G'
    with y < x ⟺ rep(G') < x, since rep is the group min). The drop SET
    is identical to per-doc evaluation; a group of k copies costs one
    signature + one verification per distinct counterpart instead of k.

    ``sig_agree`` (0 = off): signature-agreement prefilter on BOTH
    verification joins (see :func:`_verified`); the index side carries
    its signature already (``build_minhash_index``), so the check is
    free to ship."""
    grouped = _shingle_groups(batch)
    rsig = _rep_signatures(grouped)
    hist_cand = _band_candidates(
        _band_entries(rsig), _band_entries(index), ordered=False
    )
    # unordered group pairs — the drop rule applies them in both
    # directions (the higher group's members always drop; the lower
    # group's members drop above the higher rep)
    vpairs = _rep_minhash_pairs(rsig, sig_agree).where(
        F.col("doc_a") != F.col("doc_b")
    )
    if sig_agree > 0:
        # ADVICE r9: if the index was built with a different num_hashes,
        # zip_with null-pads the shorter signature, the equality lambda
        # yields NULL, and the agreement filter would silently drop every
        # history candidate — recall collapse with no error. Make the
        # config mismatch raise at execution instead (assert_true is NULL
        # when the length matches, so the guard costs one size check per
        # index row the verification reads). The batch signatures are
        # built here with DEFAULT_NUM_HASHES, so only the index side can
        # differ.
        sig_len_ok = F.assert_true(
            F.size("sig") == F.lit(DEFAULT_NUM_HASHES),
            F.lit(
                "near-dedup sig_agree prefilter: the index's MinHash "
                f"signatures must have length num_hashes={DEFAULT_NUM_HASHES}; "
                "the passed index was built with a different num_hashes"
            ),
        ).isNull()
        index = index.select(
            "id", "sh", F.when(sig_len_ok, F.col("sig")).alias("sig")
        )
    hist_matched = (
        _verified(hist_cand, rsig, index, sig_agree)
        .select(F.col("doc_a").alias("__rid"))
        .distinct()
        .withColumn("__hist", F.lit(1))
    )
    # per group: the minimum counterpart rep over its verified pairs
    min_other = (
        vpairs.select(F.col("doc_a").alias("__rid"), F.col("doc_b").alias("__o"))
        .unionByName(
            vpairs.select(F.col("doc_b").alias("__rid"), F.col("doc_a").alias("__o"))
        )
        .groupBy("__rid")
        .agg(F.min("__o").alias("__min_other"))
    )
    labeled = (
        grouped.select("id", "__rid")
        .join(hist_matched, "__rid", "left")
        .join(min_other, "__rid", "left")
    )
    dropped = labeled.where(
        F.col("__hist").isNotNull()
        | (F.col("id") != F.col("__rid"))
        | (F.col("__min_other").isNotNull() & (F.col("id") > F.col("__min_other")))
    ).select(F.col("id").alias("doc_id")).distinct()
    fresh = batch.join(dropped, "doc_id", "left_anti")
    # per-doc index entries for the survivors: members share their rep's
    # signature (set-determined), so no per-member re-hashing
    bidx = grouped.select("id", "sh", "__rid").join(
        rsig.select(F.col("id").alias("__rid"), F.col("sig")), "__rid"
    ).select("id", "sh", "sig")
    new_entries = bidx.join(
        fresh.select(F.col("doc_id").alias("id")), "id", "left_semi"
    )
    return fresh, new_entries


def _shingle_groups(df: DataFrame) -> DataFrame:
    """Identical-shingle-set groups — the distinct-first work-avoidance
    core of the MinHash pair surfaces (the text twin of
    similarity._vector_groups): one (id, sh, __rid, __n) row per input
    doc, where __rid is the minimum id among docs whose CANONICAL shingle
    set (md5 of the sorted hash array) is identical and __n the number of
    DISTINCT doc ids in the group. Everything downstream — signature,
    band keys, size prune, exact Jaccard — is a pure function of the
    shingle SET, so a group of k identical docs needs ONE signature and
    one verification per distinct counterpart instead of k²/2 identical
    Jaccard intersections inside every shared band bucket (wall ×121.7
    at input ×10 on the duplicate-heavy replica, SCALE_RATIOS.md r7).
    One extra shuffle, on the compact 128-bit group fingerprint (a
    partitioned window — plan-hygiene clean). The groups are persisted
    (every caller reads them from ≥ 3 plan branches)."""
    base = ensure_min_partitions(df).select(
        F.col("doc_id").alias("id"),
        hashed_shingle_set(F.col("text")).alias("sh"),
    ).filter(F.size("sh") > 0)
    gfp = F.md5(
        F.concat_ws(
            ",",
            F.transform(F.array_sort(F.col("sh")), lambda x: x.cast("string")),
        )
    )
    gw = Window.partitionBy("__gfp")
    grouped = base.withColumn("__gfp", gfp).select(
        "id",
        "sh",
        F.min("id").over(gw).alias("__rid"),
        # DISTINCT ids: a duplicated id inside a group must not fabricate
        # a self near-dup pair (the pair contract is doc_a < doc_b)
        F.size(F.collect_set(F.col("id")).over(gw)).alias("__n"),
    )
    return _persist_tracked(grouped)


def _rep_signatures(grouped: DataFrame) -> DataFrame:
    """The persisted (id, sh, __n, sig) MinHash signatures of the group
    representatives of a :func:`_shingle_groups` frame — one signature
    per DISTINCT shingle set."""
    reps = grouped.where(F.col("id") == F.col("__rid")).select("id", "sh", "__n")
    return _persist_tracked(reps.select(
        "id", "sh", "__n", minhash_signature(F.col("sh")).alias("sig")
    ))


def _band_candidates(a: DataFrame, b: DataFrame, ordered: bool) -> DataFrame:
    """Materialized distinct (doc_a, doc_b) LSH candidates: the
    (band_idx, band_key) bucket join of two :func:`_band_entries`
    frames, ``doc_a`` from ``a``. ``ordered`` adds ``doc_a < doc_b``
    (a self-join emits each unordered pair once); the history side of
    :func:`near_dedup_against_index` joins unordered.

    Size-ratio pruning (PPJoin-style): J(A,B) <= min(|A|,|B|)/max(...), so
    candidates failing the ratio can NEVER pass ``MINHASH_THRESHOLD`` — they
    drop before the expensive intersection. Output set is unchanged."""
    cond = (F.col("a.band_idx") == F.col("b.band_idx")) & (
        F.col("a.band_key") == F.col("b.band_key")
    )
    if ordered:
        cond = cond & (F.col("a.id") < F.col("b.id"))
    cond = cond & (
        F.least(F.col("a.nsh"), F.col("b.nsh"))
        >= F.lit(MINHASH_THRESHOLD) * F.greatest(F.col("a.nsh"), F.col("b.nsh"))
    )
    return _materialize_candidates(
        a.alias("a")
        .join(b.alias("b"), cond)
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )


def _verified(
    candidates: DataFrame, left: DataFrame, right: DataFrame, sig_agree: int
) -> DataFrame:
    """(doc_a, doc_b, jaccard) candidates whose exact shingle-set Jaccard
    reaches ``MINHASH_THRESHOLD``: ``doc_a`` is looked up in ``left``,
    ``doc_b`` in ``right`` (both (id, sh, sig) frames), by two id-equi
    joins.

    ``sig_agree > 0`` enables the signature-agreement prefilter
    (VERDICT r8 #5): a candidate pair must agree on at least that many
    of the MinHash positions before the full shingle intersection runs.
    The agreeing fraction is an unbiased estimator of Jaccard (that is
    the MinHash property), so with H=16 and threshold 0.6 a true pair
    expects ≥ 9.6 agreements while the banding's boilerplate-bucket
    false positives (measured precision 0.13% at sf0.1 — NOTES_r08
    profile) mostly stop at the 4 agreements their one matching band
    guarantees. The 16-bigint signature then rides through the
    verification joins (~128 bytes next to the ~1k-element shingle
    arrays already there), and the filter sits BEFORE the jaccard
    projection so codegen short-circuits the intersection for pruned
    rows; off, the filter is a literal true the optimizer removes.
    Deterministic (pure function of the two signatures), so the DuckDB
    oracles replay it with the same predicate. Semantics: a further
    RECALL approximation on top of banding — a true pair with
    < sig_agree agreements is dropped; at sig_agree=6 that needs a
    ~3σ-low signature draw (binomial tail ≈ 2% at exactly J=0.6,
    vanishing for higher J; measured 0 lost pairs at sf0.1/sf0.01 —
    NOTES_r09)."""
    cols = ["id", "sh", *(["sig"] if sig_agree > 0 else [])]
    agree_ok = (
        _sig_agreement(F.col("sa.sig"), F.col("sb.sig")) >= F.lit(sig_agree)
        if sig_agree > 0 else F.lit(True)
    )
    sa, sb = left.select(*cols).alias("sa"), right.select(*cols).alias("sb")
    return (
        candidates.join(sa, F.col("doc_a") == F.col("sa.id"))
        .join(sb, F.col("doc_b") == F.col("sb.id"))
        .filter(agree_ok)
        .select(
            "doc_a",
            "doc_b",
            jaccard_distinct(F.col("sa.sh"), F.col("sb.sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= MINHASH_THRESHOLD)
    )


def _rep_minhash_pairs(sig: DataFrame, sig_agree: int = 0) -> DataFrame:
    """(doc_a, doc_b, jaccard) verified near-dup pairs over the DISTINCT
    shingle sets only (``sig`` is :func:`_rep_signatures` output):
    banding + size-ratio prune (:func:`_band_candidates`) + exact-Jaccard
    verification (:func:`_verified`) on group representatives, plus one
    SELF row per group of ≥ 2 distinct docs (identical sets always share
    every band; their Jaccard is exactly 1.0, computed once with the
    same expression so the value is bit-identical to the pairwise
    formula)."""
    banded = _band_entries(sig)
    candidates = _band_candidates(banded, banded, ordered=True)
    cross = _verified(candidates, sig, sig, sig_agree)
    selfp = (
        sig.where(F.col("__n") >= 2)
        .select(
            F.col("id").alias("doc_a"),
            F.col("id").alias("doc_b"),
            jaccard_distinct(F.col("sh"), F.col("sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= MINHASH_THRESHOLD)
    )
    return cross.unionByName(selfp)


def minhash_lsh_pairs(df: DataFrame, sig_agree: int = 0) -> DataFrame:
    """Near-dup pairs at scale: shingle → MinHash signature → band-bucket
    candidate join → exact-Jaccard verification at ``MINHASH_THRESHOLD``.
    ``sig_agree`` (0 = off) additionally requires that many of the
    ``DEFAULT_NUM_HASHES`` MinHash positions to agree before a candidate's
    exact intersection runs — see :func:`_verified` for the estimator
    argument, cost, and the measured recall trade.

    With H=16, b=4 (r=4 rows/band): P(candidate) = 1-(1-J⁴)⁴ — ≈0.99 at
    J=0.9, ≈0.43 at J=0.6 — so near-exact recall for true near-dups and
    sharp suppression of the background. Verified output is always a
    SUBSET of jaccard_pairs(MINHASH_THRESHOLD); candidate recall is the only
    approximation.

    Duplicate-proof: docs with identical canonical shingle sets collapse
    first (:func:`_shingle_groups`), signature/banding/verification run
    over group representatives only (:func:`_rep_minhash_pairs`), and
    :func:`_expand_rep_pairs` maps rep pairs back to member pairs (the
    argument is written there). For the production dedup decision prefer
    :func:`minhash_dup_groups` (linear output).

    Shuffles: group fingerprint window, one (band_idx, band_key) bucket
    join, candidate distinct, two id-equi verification joins, two
    id-equi expansion joins — all key-partitioned, nothing all-pairs.

    The grouped shingles + rep signatures are persisted (each feeds ≥ 3
    plan branches; shingling/hashing is the dominant CPU) — see
    ``release_builder_caches`` for the cache lifetime. In a
    persistent 100 TB deployment the index is written ONCE bucketed by
    band key (sinks.write_bucketed) and never recomputed per run."""
    grouped = _shingle_groups(df)
    pairs = _rep_minhash_pairs(_rep_signatures(grouped), sig_agree)
    members = grouped.select("__rid", F.col("id").alias("__m"))
    return _expand_rep_pairs(pairs, members, "jaccard", ("doc_a", "doc_b"))


def minhash_dup_groups(df: DataFrame, sig_agree: int = 0) -> DataFrame:
    """Near-dup GROUP membership — the production dedup surface
    (VERDICT r7 #1): (doc_id, group_id) for every doc in a near-dup
    cluster, group_id = the minimum doc id reachable through the
    verified pair graph (transitive closure, = the connected component's
    canonical representative). Output is LINEAR in corpus size — one row
    per clustered doc — so unlike the pair surface its cost stays flat
    on duplicate-heavy corpora: components run over the DISTINCT-set rep
    graph only (:func:`_rep_group_membership`), and an identical-set
    group of ≥ 2 with no external neighbor is its own cluster (mutual
    Jaccard 1.0). Equals the transitive closure of
    :func:`minhash_lsh_pairs` exactly — the oracle replays that with a
    recursive CTE."""
    grouped = _shingle_groups(df)
    pairs = _rep_minhash_pairs(_rep_signatures(grouped), sig_agree)
    members = grouped.select(F.col("id").alias("__m"), "__rid", "__n")
    # an identical-set group's Jaccard 1.0 clears the threshold;
    # duplicated input ids collapse to one membership row
    return _rep_group_membership(pairs, members, "doc_id").distinct()


def dedup_against_index(
    batch: DataFrame,
    index: DataFrame,
    id_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup — the shape a CONTINUOUS ingest needs:
    drop new-batch docs whose normalized-content fingerprint already
    exists in the historical index (anti join), and within the batch
    keep one row per fingerprint. With ``id_col`` the survivor is the
    MINIMUM id (deterministic keep-first — reruns and oracles agree);
    without it ``dropDuplicates`` keeps an arbitrary row (cheapest).
    Returns ``(fresh_rows, new_index_entries)`` — append
    the latter to the index table; the index stores ONLY fingerprints,
    so at 100 TB it is a fraction of corpus size and, written bucketed
    by fingerprint (sinks.write_bucketed), the anti join prunes to
    co-located buckets with no shuffle of the history."""
    from ehr_data_pipeline_spark.operators.dedup import keep_first

    fp = fingerprint128(F.col("text"))
    b = batch.withColumn("fp", fp)
    if id_col is None:
        b = b.dropDuplicates(["fp"])
    else:
        b = keep_first(b, keys=["fp"], order_by=[F.col(id_col).asc()])
    fresh = b.join(index.select("fp"), "fp", "left_anti")
    return fresh.drop("fp"), fresh.select("fp")


def ngram_contamination(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: for every corpus doc, how many of its
    word 13-grams appear in ANY benchmark document (the standard
    13-gram overlap rule from GPT-3/PaLM data curation). A contaminated
    doc shares eval content verbatim and must be dropped before
    training.

    Plan shape: both sides hash their n-grams (portable md5, in-row),
    the benchmark's DISTINCT hash set is semi-join-shaped — corpus
    n-grams inner-join it on the hash (shuffle on hash, or broadcast
    when the benchmark is small, which it always is relative to a
    training corpus), then a per-doc count. Returns
    (doc_id, n_ngrams, n_contaminated, contamination_ratio) for docs
    with at least one hit."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        normalize_text,
        portable_hash60,
        word_ngram_strings,
    )

    def gram_hashes(df: DataFrame) -> DataFrame:
        # ONE native regex scan extracts the word n-gram strings (r15 HOF
        # sweep — the old transform(sequence, concat_ws(slice(toks, i, n)))
        # paid an interpreted slice+join per token position); only the
        # portable md5 hashing of the extracted grams stays in a lambda.
        # word_ngram_strings over normalized text produces EXACTLY the old
        # concat_ws values in the same order, and its empty array on
        # fewer-than-n tokens replays the old size(toks) >= n guard
        # (pinned in tests/test_text_analysis.py).
        grams = F.transform(
            word_ngram_strings(normalize_text(F.col("text")), 13),
            portable_hash60,
        )
        return df.select(F.col("doc_id").alias("id"), F.explode(grams).alias("gh"))

    corpus_grams = gram_hashes(ensure_min_partitions(corpus))
    bench_set = gram_hashes(benchmark).select("gh").distinct()
    totals = corpus_grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_ngrams"))
    hits = (
        corpus_grams.join(F.broadcast(bench_set), "gh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
        .filter(F.col("n_contaminated") >= 1)
    )
    return (
        hits.join(totals, "id")
        .select(
            F.col("id").alias("doc_id"),
            "n_ngrams",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double")
                / F.col("n_ngrams").cast("double"),
                6,
            ).alias("contamination_ratio"),
        )
    )


def token_window_hashes(df: DataFrame) -> DataFrame:
    """Every ``SPAN_WINDOW``-token sliding window of every doc's ``text``
    as ``(id, pos, wh)`` — the hash stream that exact-substring dedup (Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better") detects duplicated spans in. Linear in total tokens: one
    in-row transform builds the window texts, one explode emits them;
    docs shorter than the window emit nothing. The fingerprint is the
    FULL 128-bit md5 (not the 60-bit prefix the candidate-generation
    hashes use): window equality here directly deletes text, so it gets
    the same exactness standard as ``exact_dedup``'s fingerprint — at
    10^13 windows (100 TB) a 60-bit key expects ~10^5 colliding pairs,
    each silently marking unique text duplicated, while 128 bits put the
    birthday term below 10^-12."""
    from ehr_data_pipeline_spark.operators.text_analysis import (
        normalize_text,
        word_ngram_strings,
    )

    # ONE native regex scan extracts the window strings (r15 HOF sweep —
    # the old transform(sequence, md5(concat_ws(slice(toks, i, window))))
    # paid an interpreted slice+join per token position); only the md5 of
    # each extracted window stays in a lambda. word_ngram_strings produces
    # EXACTLY the old concat_ws values in the same order — posexplode
    # positions unchanged — and its empty array on fewer-than-window
    # tokens replays the old size(toks) >= window guard (pinned in
    # tests/test_text_analysis.py).
    hashes = F.transform(
        word_ngram_strings(normalize_text(F.col("text")), SPAN_WINDOW), F.md5
    )
    return df.select(
        F.col("doc_id").alias("id"),
        F.posexplode(hashes).alias("pos", "wh"),
    )


def duplicate_spans(df: DataFrame) -> DataFrame:
    """Maximal duplicated token spans per doc — the exact-substring dedup
    core: any ``SPAN_WINDOW``-token run that appears at least twice in
    the corpus (across docs OR repeated within one) marks its positions
    duplicated; overlapping/adjacent marked windows merge into maximal
    spans via gaps-and-islands. Returns
    ``(doc_id, span_start, span_end, span_tokens)`` with half-open token
    intervals.

    Plan shape (all linear, no pairwise anything): window hashes →
    groupBy(hash) keeps the duplicated ones (map-side partial count; the
    shuffle carries one row per distinct hash) → semi join marks
    positions (shuffle on hash) → per-doc island merge (one window
    partitioned BY DOC — parallel across docs, never global). At 100 TB
    every stage keys on hash or doc id; nothing is driver-sized except
    nothing."""
    from pyspark.sql import Window

    wins = token_window_hashes(ensure_min_partitions(df))
    dup_hashes = (
        wins.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("wh")
    )
    marked = wins.join(dup_hashes, "wh", "left_semi")
    w = Window.partitionBy("id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + SPAN_WINDOW).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = marked.select(
        "id",
        "pos",
        F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1)
        .otherwise(0)
        .alias("is_new"),
    ).select(
        "id",
        "pos",
        F.sum("is_new").over(w).cast("bigint").alias("island"),
    )
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + SPAN_WINDOW).cast("bigint").alias("span_end"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def strip_duplicate_spans(df: DataFrame) -> DataFrame:
    """Rebuild each doc with its duplicated spans removed (the actual
    dedup step of exact-substring dedup): tokens covered by a
    ``duplicate_spans`` interval are dropped, the remainder re-joins in
    order. Returns ``(id, dedup_text, n_tokens, n_tokens_kept)`` for
    EVERY input doc — docs without duplicated spans pass through whole,
    and empty/whitespace-only docs come back as ``("", 0, 0)`` instead of
    disappearing (a corpus rewrite must preserve cardinality, or
    downstream joins silently lose the ids).

    The token↔span coverage join is an equi join on the doc id with a
    range residual (spans per doc are few and disjoint by construction),
    then one per-doc ordered re-aggregation."""
    from ehr_data_pipeline_spark.operators.text_analysis import whitespace_tokens

    spans = duplicate_spans(df).select(
        F.col("doc_id").alias("id"), "span_start", "span_end"
    )
    toks = (
        ensure_min_partitions(df)
        .select(
            F.col("doc_id").alias("id"),
            F.posexplode(whitespace_tokens(F.col("text"))).alias("pos", "tok"),
        )
        .where(F.col("tok") != "")
    )
    covered = (
        toks.join(spans, "id")
        .where((F.col("pos") >= F.col("span_start")) & (F.col("pos") < F.col("span_end")))
        .select("id", "pos")
    )
    kept_flag = toks.join(covered, ["id", "pos"], "left_anti")
    return (
        df.select(F.col("doc_id").alias("id"))
        .distinct()
        .join(
            toks.groupBy("id").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_tokens")
            ),
            "id",
            "left",
        )
        .join(
            kept_flag.groupBy("id").agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                ).alias("dedup_text"),
                F.count(F.lit(1)).cast("bigint").alias("n_tokens_kept"),
            ),
            "id",
            "left",
        )
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("n_tokens_kept"), F.lit(0)).cast("bigint").alias(
                "n_tokens_kept"
            ),
        )
    )


def _release_local_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks behind a ``localCheckpoint()``-ed frame.
    ``Dataset.unpersist()`` only consults the CacheManager and is a no-op
    for checkpoint blocks; the LogicalRDD's backing RDD must be
    unpersisted directly — there is no public DataFrame API for this
    (VERDICT r13 #6 adjudication: the tracked-cache path cannot cover
    checkpoint blocks, so the accessor stays, pinned non-silent).
    ``df`` must be the checkpointed frame itself, not a projection over
    it. Best-effort: on failure the blocks are reclaimed by the
    ContextCleaner when the frame is GC'd — but the failure is now a
    RuntimeWarning (once per kind) instead of a silent ``pass``, and
    ``test_near_dup_components_releases_cache`` fails CI outright if a
    Spark upgrade breaks the accessor's effect."""
    import warnings

    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:  # pragma: no cover - accessor drift only
        warnings.warn(
            "localCheckpoint release via Dataset internals failed "
            f"({type(exc).__name__}: {exc}); blocks will be reclaimed by "
            "the ContextCleaner on GC instead",
            RuntimeWarning,
            stacklevel=2,
        )


def near_dup_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph — the step that
    turns pairwise matches into dedup GROUPS (transitively: if A~B and
    B~C, then A,B,C are one group even when A~C was never emitted).
    Returns (doc_id, component) where component = the minimum doc id
    reachable from doc_id — a deterministic canonical representative, so
    "keep the component id, drop the rest" is a stable dedup policy.

    Algorithm: iterative min-label propagation (the simple half of
    Kiveris et al.'s star contractions): every node starts as its own
    label; each round every node takes the min of its own and its
    neighbors' labels; converged when no label changes. Rounds needed =
    graph diameter — near-dup clusters are dense and shallow (usually
    ≤ 3). Each round is one join + one groupBy, both shuffling on node
    id; labels persist between rounds and the convergence check is a
    cheap count. No driver-side iteration over ROWS ever — the loop is
    over PLANS (the classic Spark pattern for iterative algorithms).

    If labels are still changing after ``max_iter`` rounds, the result
    would SPLIT true components, so it raises ``RuntimeError`` instead of
    returning it.

    Each round's labels are ``localCheckpoint``-ed, NOT just persisted:
    the label frame feeds twice into the next round, so without lineage
    truncation the analyzed plan doubles per round (2^rounds nodes) and
    plan stringification alone OOMs the driver past ~8 rounds — a real
    100 TB landmine for deep graphs, not a style point. Intermediate
    rounds' checkpoint blocks are released eagerly; the returned frame's
    blocks live until the caller drops it (ContextCleaner reclaims on
    GC)."""
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    ckpt = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint(eager=True)
    )
    labels = ckpt
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nmin"))
        )
        # the convergence flag rides ALONG in the label frame (r14): a
        # label changes this round iff a neighbor's min undercuts it
        # (nmin < component), which the same left join already knows —
        # the old shape re-joined new labels against old labels, paying
        # one extra full label shuffle PER ROUND just to ask "anything
        # different?". The flag is read off the checkpointed blocks by
        # a narrow limit-1 scan, dropped from the next round's working
        # frame, and never reaches the returned result. ``ckpt`` tracks
        # the actual checkpointed frame (release must target the frame
        # whose LogicalRDD holds the blocks, not a projection over it).
        new_ckpt = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
                F.coalesce(
                    F.col("nmin") < F.col("component"), F.lit(False)
                ).alias("__changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_ckpt.filter(F.col("__changed")).limit(1).count()
        _release_local_checkpoint(ckpt)
        ckpt = new_ckpt
        labels = new_ckpt.drop("__changed")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        _release_local_checkpoint(ckpt)
        raise RuntimeError(
            f"near_dup_components did not converge in {max_iter} rounds — "
            "labels were still propagating, so components would be split. "
            "Raise max_iter (rounds needed = graph diameter)."
        )
    return labels


def _expand_rep_pairs(
    pairs: DataFrame, members: DataFrame, measure: str, out: "tuple[str, str]"
) -> DataFrame:
    """Member pairs from verified REP pairs — the shared tail of the
    MinHash, SimHash and embedding-LSH pair surfaces. ``pairs`` is
    (doc_a, doc_b, ``measure``) over group representatives: cross-group
    pairs with doc_a < doc_b plus one SELF row (doc_a == doc_b) per group
    of ≥ 2 distinct members; ``members`` is one (__rid, __m) row per
    input doc (__m its id, __rid its group's representative). Returns
    (``out[0]``, ``out[1]``, ``measure``) member pairs with the lower id
    first.

    Duplicate-proof: every family collapses identical payloads (shingle
    set, sketch, vector) to a group FIRST, candidates and exact
    verification run over representatives only, and the surviving rep
    pairs expand back here through two id-equi joins whose fan-out is
    exactly the answer size. Identical payloads share every band/bucket
    and each measure is a pure function of the payloads, so the output is
    bit-identical to verifying every member pair — but a group of k exact
    copies costs one verification per distinct counterpart instead of
    k²/2 (the duplicate-heavy 10× replica measured wall ×121.7 for the
    per-member shape, SCALE_RATIOS.md r7). The pair EMISSION stays
    answer-sized by nature; for the production dedup decision prefer the
    group surfaces (:func:`_rep_group_membership`, linear output)."""
    ma = members.select(F.col("__rid").alias("doc_a"), F.col("__m").alias("__ma"))
    mb = members.select(F.col("__rid").alias("doc_b"), F.col("__m").alias("__mb"))
    return (
        pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        # cross-group: every member combination, oriented; within-group:
        # each unordered member pair once
        .filter(
            (F.col("doc_a") != F.col("doc_b")) | (F.col("__ma") < F.col("__mb"))
        )
        .select(
            F.least("__ma", "__mb").alias(out[0]),
            F.greatest("__ma", "__mb").alias(out[1]),
            measure,
        )
    )


def _rep_group_membership(
    pairs: DataFrame, members: DataFrame, id_col: str
) -> DataFrame:
    """(``id_col``, group_id) near-dup GROUP membership from verified REP
    pairs — the shared tail of the MinHash, SimHash and embedding-LSH
    group surfaces. ``pairs`` is as for :func:`_expand_rep_pairs` (its
    SELF rows are dropped here); ``members`` is one (__m, __rid, __n) row
    per input doc, __n the number of distinct ids in its group.
    group_id is the minimum id reachable through the verified pair graph
    (:func:`near_dup_components`, run over the distinct-payload rep graph
    only: a group of k identical payloads is ONE node); members inherit
    their rep's component through one id-equi join. A group of ≥ 2 with
    no external neighbor is its own cluster — the payload's measure
    against itself (Jaccard 1.0, Hamming 0, cosine 1.0) clears every
    family's threshold. Docs in no cluster get no row."""
    comp = near_dup_components(pairs.where(F.col("doc_a") != F.col("doc_b")))
    return (
        members.join(
            comp.select(F.col("id").alias("__rid"), "component"),
            "__rid",
            "left",
        )
        .select(
            F.col("__m").alias(id_col),
            F.when(F.col("component").isNotNull(), F.col("component"))
            .when(F.col("__n") >= 2, F.col("__rid"))
            .alias("group_id"),
        )
        .where(F.col("group_id").isNotNull())
    )


def simhash_bands(sim: Column, n_bands: int = 4, total_bits: int = 64) -> list[Column]:
    """Split a SimHash into n equal-width chunk keys — candidate pairs
    for Hamming distance < n_bands share at least one chunk (pigeonhole),
    giving the same bucket-join shape as MinHash-LSH bands."""
    width = total_bits // n_bands
    mask = (1 << width) - 1
    return [
        F.shiftrightunsigned(sim, i * width)
        .bitwiseAND(F.lit(mask).cast("bigint"))
        .alias(f"band{i}")
        for i in range(n_bands)
    ]


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_sketches(
    df: DataFrame, id_col: str, text_col: str, total_bits: int
) -> DataFrame:
    """Per-row SimHash sketches: one ``(id, __sim)`` row per input row.
    Tokens are the whitespace tokens of the normalized text, each hashed
    to 60 bits by ``text_analysis.portable_hash60`` (md5-derived —
    identical arithmetic in Spark and DuckDB, so every SimHash surface
    is hash-checked against a SQL oracle that replays the sketch
    bit-for-bit; 60 bits keeps every shift inside a signed bigint in
    both engines). Bit b of the sketch is 1 when more than half the
    tokens have bit b set; near-dup docs differ in few bits (small
    Hamming distance).

    Sketch computation (r14 optimization): explode tokens → hash in a
    plain projection → ONE hash aggregate with ``total_bits`` per-bit
    SUM columns, instead of an in-row fold whose ``bits`` interpreted
    ``filter()`` passes per row dominated the sketch cost (HOF lambdas
    are CodegenFallback; measured 1.8 s → 1.1 s for the sf0.1 sketch
    pass). Value-identical: the majority rule ``2·n_set > n`` compares
    group TOTALS, and rows are grouped by ``(id, md5(normalized
    text))`` so identical (id, text) rows merge — scaling both sides
    of the majority comparison equally — then re-expand to their
    original multiplicity via an explode over the carried row count
    (``__pos = 0`` marks one head token per input row). Same-id rows
    with different text stay separate groups (distinct fingerprint).
    The md5-fingerprint grouping key inherits the engine-wide
    fingerprint128 collision assumption. Shuffle added: one row per
    distinct (id, text) × (total_bits + 2) longs after map-side
    partial aggregation; the interpreter tax it removes scales with
    TOKENS, not rows. Equality with the in-row fold is pinned in
    tests/test_text_dedup.py (unicode + duplicate-row fuzz)."""
    base = ensure_min_partitions(df).select(
        F.col(id_col).alias("id"),
        normalize_text(F.col(text_col)).alias("__nt"),
    )
    tok = base.select(
        "id",
        F.md5("__nt").alias("__fp"),
        F.posexplode(F.split("__nt", " ")).alias("__pos", "__tok"),
    )
    hashed = tok.select(
        "id",
        "__fp",
        (F.col("__pos") == 0).cast("bigint").alias("__head"),
        portable_hash60(F.col("__tok")).alias("__h"),
    )
    # The per-bit SUM columns and the sketch reconstruction are rendered
    # as SQL strings (one F.expr parse each) instead of ~6 Column-API
    # calls per bit: building the 60-term trees through py4j cost
    # ~1.5 s of driver-side construction per query call (measured r15 —
    # more than half this query's bench time, and it serializes on the
    # driver). The parsed expressions are operator-identical: SQL `&` is
    # bitwiseAND, the + chain is left-associative exactly like the old
    # Python loop, and integer arithmetic has no rounding to preserve.
    agg = hashed.groupBy("id", "__fp").agg(
        F.count(F.lit(1)).alias("__ntok"),
        F.sum("__head").alias("__nrows"),
        *[
            F.expr(f"sum(shiftright(__h, {b}) & 1) AS __b{b}")
            for b in range(total_bits)
        ],
    )
    sim = F.expr(
        " + ".join(
            f"shiftleft(CAST((__b{b} * 2 > __ntok) AS BIGINT), {b})"
            for b in range(total_bits)
        )
    )
    return agg.select(
        "id",
        sim.cast("bigint").alias("__sim"),
        F.explode(F.sequence(F.lit(1), F.col("__nrows"))).alias("__dup"),
    ).drop("__dup")


def _simhash_groups(df: DataFrame, id_col: str) -> DataFrame:
    """Identical-sketch groups — the distinct-first work-avoidance core
    of the SimHash surfaces (the sketch twin of :func:`_shingle_groups`):
    one (id, __sim, __rid, __n) row per doc, where __rid is the minimum
    id among docs with the IDENTICAL sketch (:func:`simhash_sketches`)
    and __n the number of DISTINCT doc ids in the group. Hamming
    distance is a pure function of the sketches (identical sketches ⇒
    distance 0, and they share every band), so banding + verification
    can run over group representatives only. The grouping key is one
    bigint — the cheapest fingerprint of any dedup family — and the
    window shuffle it costs replaces the k² candidate emission identical
    copies caused inside every shared bucket (doc_simhash_band_pairs
    measured shuf ×99.2 at input ×10 on the identical-copy replica,
    SCALE_RATIOS.md r8). The groups are persisted (3 consumers);
    lifetime per ``release_builder_caches``."""
    rows = simhash_sketches(df, id_col, "text", SIMHASH_BITS)
    gw = Window.partitionBy("__sim")
    grouped = rows.select(
        "id",
        "__sim",
        F.min("id").over(gw).alias("__rid"),
        # DISTINCT ids: a duplicated id must not fabricate a self pair
        F.size(F.collect_set(F.col("id")).over(gw)).alias("__n"),
    )
    return _persist_tracked(grouped)


def _rep_simhash_pairs(grouped: DataFrame, n_bands: int) -> DataFrame:
    """(doc_a, doc_b, hamming) verified near-dup pairs over the DISTINCT
    sketches only: band-bucket candidate join + exact Hamming
    verification on group representatives, plus one SELF row per group of
    ≥ 2 distinct docs (identical sketches share every band; their
    distance is exactly 0, computed with the same expression so the value
    is bit-identical to the pairwise formula)."""
    reps = grouped.where(F.col("id") == F.col("__rid")).select(
        "id", "__sim", "__n"
    )
    e = reps.select(
        "id",
        "__sim",
        F.posexplode(
            F.array(*simhash_bands(F.col("__sim"), n_bands, SIMHASH_BITS))
        ).alias("band_idx", "band_val"),
    )
    a = e.select(
        F.col("id").alias("doc_a"), F.col("__sim").alias("__sa"),
        "band_idx", "band_val",
    ).alias("a")
    b = e.select(
        F.col("id").alias("doc_b"), F.col("__sim").alias("__sb"),
        "band_idx", "band_val",
    ).alias("b")
    # The exact Hamming verification rides IN the join condition (r15,
    # guide §2.3/§3): bit_count(xor) of two longs is nearly free next to
    # what the old shape paid — shuffling EVERY band collision (plus both
    # 64-bit sketches and band columns) into a dropDuplicates exchange
    # and only then filtering. Verified-first is value-identical: hamming
    # is a pure function of the (doc_a, doc_b) sketches, so dedup-then-
    # filter and filter-then-dedup keep the same pair set, and the
    # distinct now carries only verified (doc_a, doc_b, hamming) rows —
    # answer-sized, not candidate-sized.
    cross = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (hamming64(F.col("__sa"), F.col("__sb")) <= SIMHASH_MAX_DISTANCE),
        )
        .select(
            "doc_a",
            "doc_b",
            hamming64(F.col("__sa"), F.col("__sb")).cast("bigint").alias("hamming"),
        )
        # sketches (hence hamming) are functionally dependent on the ids
        .distinct()
    )
    selfp = (
        reps.where(F.col("__n") >= 2)
        .select(
            F.col("id").alias("doc_a"),
            F.col("id").alias("doc_b"),
            hamming64(F.col("__sim"), F.col("__sim")).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_DISTANCE)
    )
    return cross.unionByName(selfp)


def simhash_near_dup_pairs(df: DataFrame, n_bands: int = DEFAULT_BANDS) -> DataFrame:
    """SimHash near-dup pairs via band-bucket join — the sketch-based
    scale path for Hamming-distance dedup. Each doc's sketch splits into
    ``n_bands`` chunk keys; candidate pairs are docs sharing ANY chunk
    (shuffle on (band_idx, band_value) only — never all-pairs), then the
    exact Hamming distance filters candidates to ``<= SIMHASH_MAX_DISTANCE``.

    EXACT, not approximate, when ``SIMHASH_MAX_DISTANCE < n_bands``: a pair with
    at most n_bands−1 differing bits must leave one band untouched
    (pigeonhole), so it is guaranteed to share a bucket — recall 1.0 and
    precision 1.0 (verification filter). That makes the default
    (distance ≤ 3, 4 bands) fully oracle-checkable against an all-pairs
    SQL twin.

    Duplicate-proof: docs with identical sketches collapse first
    (:func:`_simhash_groups`), banding + Hamming verification run over
    group representatives only, and :func:`_expand_rep_pairs` maps rep
    pairs back to member pairs (the argument is written there). For the
    production dedup decision prefer :func:`simhash_dup_groups` (linear
    output).

    Scale: sketches are 60-bit bigints — the candidate state per row
    is one long, not a shingle set, so this is the cheapest near-dup
    family member at 100 TB; hot buckets (common band values from
    boilerplate) are the skew risk, handled by AQE skew-join same as the
    MinHash bands."""
    grouped = _simhash_groups(df, "doc_id")
    pairs = _rep_simhash_pairs(grouped, n_bands)
    members = grouped.select("__rid", F.col("id").alias("__m"))
    return _expand_rep_pairs(pairs, members, "hamming", ("doc_a", "doc_b"))


def simhash_dup_groups(df: DataFrame, n_bands: int = DEFAULT_BANDS) -> DataFrame:
    """SimHash near-dup GROUP membership — the linear-output production
    surface completing the group-twin triple (MinHash →
    :func:`minhash_dup_groups`, embeddings →
    ``similarity.lsh_near_dup_groups``, SimHash → this): (doc_id,
    group_id) for every doc in a Hamming-ball cluster, group_id = the
    minimum doc id reachable through the verified pair graph. Components
    run over the DISTINCT-sketch rep graph only
    (:func:`_rep_group_membership`), and an identical-sketch group of ≥ 2
    with no external neighbor is its own cluster (mutual distance 0).
    Equals the transitive closure of :func:`simhash_near_dup_pairs`
    exactly — the oracle replays that equivalence with a recursive CTE."""
    grouped = _simhash_groups(df, "doc_id")
    pairs = _rep_simhash_pairs(grouped, n_bands)
    members = grouped.select(F.col("id").alias("__m"), "__rid", "__n")
    # an identical-sketch group's distance 0 clears the radius;
    # duplicated input ids collapse to one membership row
    return _rep_group_membership(pairs, members, "doc_id").distinct()
