"""Text-analysis operators for LLM-training-data pipelines: normalization,
tokenization, per-document stats/quality scores, stopword-based language
identification, n-gram counting, and document fingerprinting.

Everything is native column expressions (split/regexp/transform/aggregate)
— zero Python UDFs — so per-document work stays inside whole-stage codegen
and the only shuffles are the explicit groupBys (n-gram counts). At 100 TB
the per-doc operators are a single narrow pass over the corpus.

The reference pipeline has no text operators (SURVEY §2.7 gap list /
BASELINE north star) — scale/shape decisions here follow the obvious
Spark-first design, not a port.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# BPE-ish pretokenizer: letter runs, digit runs, or single non-space symbol
# (the shape GPT-2-style byte-BPE pretokenization produces on ASCII text)
WORD_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# tiny high-frequency stopword lists for the language-ID heuristic
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es": ("el", "los", "las", "y", "es", "una", "en", "que"),
}


def normalize_text(col: Column) -> Column:
    """Canonical text form for hashing/dedup: lowercase, trim, collapse
    internal whitespace runs to single spaces. NULL text canonicalizes to
    '' — the engine-wide degenerate-document contract (a null document
    behaves exactly like an empty one in every tokenizer-derived
    operator, instead of silently vanishing from counts, corpus stats,
    and sampling weights through three-valued-logic propagation; the
    edge-corpus sweep in tests/test_edge_corpus.py holds every oracle to
    the same rule)."""
    return F.trim(
        F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"\s+", " ")
    )


def normalize_text_sql(col: str) -> str:
    """The DuckDB oracle twin of :func:`normalize_text` — splice into
    oracle SQL wherever the Spark plan normalizes text. The bracket class
    spells out Java's ``\\s``; RE2's ``\\s`` lacks ``\\x0B``."""
    return (
        f"trim(regexp_replace(lower(coalesce({col}, '')),"
        r" '[ \t\n\x0B\f\r]+', ' ', 'g'))"
    )


def let_bound(value: Column, body) -> Column:
    """Let-binding for higher-order functions: evaluate ``value`` ONCE per
    row and pass it to ``body`` as a bound lambda variable (via a
    single-element transform). A lambda that captures an expression tree
    re-evaluates it PER ELEMENT — e.g. shingling captured the regex
    normalization and paid ~n_chars regex passes per document (measured
    3.5× slower at sf0.1). Wrap the expensive subexpression here whenever
    a transform/filter/aggregate lambda closes over it."""
    return F.transform(F.array(value), body)[0]


def whitespace_tokens(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def word_tokens(col: Column) -> Column:
    """BPE-ish regex tokens over normalized text."""
    return F.regexp_extract_all(normalize_text(col), F.lit(WORD_PATTERN), F.lit(0))


# Default byte-pair merge table for bpe_token_counts — the 16
# highest-frequency English letter bigrams, a deterministic stand-in
# for a trained tokenizer's merge list (production loads its real merge
# table into the same parameter; the engine mechanics are identical).
BPE_MERGE_PAIRS = (
    "th", "he", "in", "er", "an", "re", "on", "at",
    "en", "nd", "ti", "es", "or", "te", "ed", "st",
)


def bpe_token_counts(
    col: Column, merge_pairs: "tuple[str, ...]" = BPE_MERGE_PAIRS
) -> Column:
    """Tokenizer-faithful token counts for the packing/mixing budgets
    (VERDICT r9 #6): the count a SINGLE-ROUND byte-pair encoder yields —
    base units are the non-space characters of the normalized text, and
    every non-overlapping, left-to-right occurrence of a merge-table
    pair fuses two units into one, so

        n_tokens = n_base_chars − n_merges.

    Engine-portable by construction: all merge pairs are the same
    length, so leftmost-first global regex scanning consumes identical
    spans in Java regex (Spark) and RE2 (DuckDB) regardless of
    alternation order, and the count hash-checks bit-for-bit
    (``doc_pack_sequences_bpe``). Pairs are letter-only, so merges never
    span the single-space word boundaries ``normalize_text`` guarantees.
    This is deliberately ONE merge round — the full iterative BPE loop
    is sequential per word and belongs in the tokenizer that produced
    the corpus; pipelines with real tokenizer counts pass them straight
    into ``pack_sequences`` / ``domain_mixture_sample``'s
    ``token_count`` parameter (any column expression, including a
    precomputed ``n_tokens`` column, satisfies it). NULL text counts 0
    (the engine-wide degenerate-document contract)."""
    norm = normalize_text(col)
    base = F.length(F.regexp_replace(norm, " ", ""))
    if not merge_pairs:
        # an empty merge table means no merges — guard it explicitly:
        # "(" + "|".join(()) + ")" would be the regex "()", which matches
        # the empty string at EVERY position and drives the count negative
        return base.cast("bigint")
    pattern = "(" + "|".join(merge_pairs) + ")"
    return (base - F.regexp_count(norm, F.lit(pattern))).cast("bigint")


def bpe_pair_counts(df: DataFrame, top_k: "int | None" = None) -> DataFrame:
    """The distributed statistics pass of BPE vocabulary TRAINING: count
    every adjacent character pair inside every word of the corpus — the
    argmax of this table is the pair a BPE trainer merges next, and the
    merge table ``bpe_token_counts`` consumes is just the first k argmax
    results of successive rounds. Overlapping occurrences each count
    ("aaa" contributes two "aa" pairs), matching the standard trainer's
    adjacency statistics; overlap resolution happens at merge-APPLY
    time (the leftmost-first rule ``bpe_token_counts`` implements). The
    sequential merge loop itself is driver-side in every real trainer —
    the merge table is tiny; THIS counting pass over the corpus is the
    distributed part, re-invoked per round on the retokenized state.

    Output: ``(pair, n_pairs)``, strongest first under the total order
    (count desc, pair asc); ``top_k`` bounds it via TakeOrdered.

    Scale: words are BPE-ish pretokens (``word_tokens``), pairs are
    2-char substrings — two narrow explodes, then one groupBy whose key
    cardinality is ≤ alphabet² (map-side combine collapses each
    partition to that many rows before the shuffle)."""
    pairs = (
        df.select(F.explode(word_tokens(F.col("text"))).alias("__w"))
        # single-char words have no pairs (the regex below would also
        # yield an empty array for them; the filter prunes the rows)
        .filter(F.length("__w") >= 2)
        .select(
            # ONE native regex scan per word (r15 HOF sweep): the
            # lookahead captures the 2-gram at every position — exactly
            # the old transform(sequence, substring(w, i, 2)) values in
            # order, without an interpreted substring per position
            # (pinned in tests/test_text_analysis.py)
            F.explode(
                F.regexp_extract_all(
                    F.col("__w"), F.lit("(?s)(?=(.{2}))."), F.lit(1)
                )
            ).alias("pair")
        )
    )
    counts = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), F.col("pair").asc())
    )
    return counts.limit(top_k) if top_k is not None else counts


# Symbol separator for the BPE trainer's state: ASCII unit separator.
# Neither pretokenizer can put it inside a symbol — the word pattern
# below excludes it explicitly, and byte symbols are hex pairs — so the
# SEP-joined string form of a symbol array is unambiguous.
BPE_SEP = "\x1f"

# Word pretokens for BPE: WORD_PATTERN minus BPE_SEP. WORD_PATTERN's
# single-symbol class [^a-z0-9\s] would emit U+001F itself as a word,
# whose state then splits into two empty symbols (a phantom ('', '')
# pair); excluded here, U+001F separates words like whitespace does.
# The Arrow twin and the SQL oracles use the same pattern.
BPE_WORD_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s\x1f]"


# GPT-2-style byte-level pretokenizer (Radford et al. 2019; the regex
# tiktoken/HF tokenizers ship for gpt2): contractions, then
# space-prefixed letter / digit / punctuation runs, then whitespace
# runs. Letter/digit classes are the full Unicode categories \p{L} /
# \p{N} (VERDICT r12 #4 — the r12 ASCII stand-ins are gone; accented /
# CJK / fullwidth-digit text pretokenizes like production GPT-2), which
# Java regex and RE2 (DuckDB) both support natively with the same
# category tables. Two deliberate deviations, both for cross-engine
# oracle parity: whitespace is the EXPLICIT class [\t\n\x0B\f\r ] —
# Java's default \s — instead of \s, because RE2's \s omits \x0B and
# Python's re \s adds Unicode whitespace, so spelling the set out is
# the only rendering all three engines read identically; and GPT-2's
# trailing-whitespace lookahead branch `\s+(?!\S)` is simplified to
# plain whitespace runs — RE2 has no lookahead, and on
# single-space-separated text the two pretokenizations agree. Java
# regex and RE2 both scan leftmost-first with in-order alternation
# preference, so the same pattern yields identical pretokens in Spark
# and the SQL twin (probed on accents/CJK/Nl/No/fullwidth digits/
# NBSP/VT: identical token lists in Java, RE2, and the Python scanner
# twin _byte_pretokens_py).
BYTE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+| ?\p{N}+| ?[^\p{L}\p{N}\t\n\x0B\f\r ]+"
    r"|[\t\n\x0B\f\r ]+"
)

# The whitespace set the pattern spells out — Java regex's default \s.
_PRETOKEN_WS = " \t\n\x0b\f\r"


def _byte_pretokens_py(text: str) -> "list[str]":
    """Python twin of :data:`BYTE_PRETOKEN_PATTERN` for the Arrow apply
    path: a hand-rolled leftmost-first scanner instead of ``re``,
    because Python's ``re`` has no ``\\p{L}``/``\\p{N}`` — the letter /
    number tests use ``unicodedata.category`` (general categories L*
    and N*, exactly what Java regex and RE2 resolve the properties to),
    and whitespace is the same explicit ASCII set the pattern spells
    out. Alternation order and the single optional leading space match
    the pattern branch-for-branch; tri-engine equality is probed on
    accents/CJK/Nl/No/fullwidth digits and pinned by the Arrow
    bit-equivalence tests."""
    from unicodedata import category

    toks: list[str] = []
    i, n = 0, len(text)
    while i < n:
        if text[i] == "'":  # branch 1: contraction suffixes, in order
            m = None
            for suf in ("s", "t", "re", "ve", "m", "ll", "d"):
                if text.startswith(suf, i + 1):
                    m = "'" + suf
                    break
            if m is not None:
                toks.append(m)
                i += len(m)
                continue
        # branches 2-4 share the single optional leading space
        j = i + 1 if (text[i] == " " and i + 1 < n) else i
        ch = text[j]
        c = category(ch)[0]
        if c == "L":  # branch 2: ' ?\p{L}+'
            k = j + 1
            while k < n and category(text[k])[0] == "L":
                k += 1
        elif c == "N":  # branch 3: ' ?\p{N}+'
            k = j + 1
            while k < n and category(text[k])[0] == "N":
                k += 1
        elif ch not in _PRETOKEN_WS:  # branch 4: ' ?[^\p{L}\p{N}WS]+'
            k = j + 1
            while (
                k < n
                and text[k] not in _PRETOKEN_WS
                and category(text[k])[0] not in "LN"
            ):
                k += 1
        else:  # branch 5: whitespace run (from i — no space prefix)
            k = i
            while k < n and text[k] in _PRETOKEN_WS:
                k += 1
            toks.append(text[i:k])
            i = k
            continue
        toks.append(text[i:k])
        i = k
    return toks


def byte_pretokens(col: Column) -> Column:
    """Byte-level pretokens: case- and whitespace-PRESERVING (no
    ``normalize_text`` — byte-level BPE is defined on the raw byte
    stream; a leading space is part of the token, exactly like GPT-2's
    ' word' vocabulary entries). NULL text pretokenizes to no tokens
    (the engine-wide degenerate-document contract)."""
    return F.regexp_extract_all(
        F.coalesce(col, F.lit("")), F.lit(BYTE_PRETOKEN_PATTERN), F.lit(0)
    )


def _char_symbols(w: Column) -> Column:
    """Word-level symbols: every character of the pretoken."""
    return F.split(w, "")


def _byte_symbols(w: Column) -> Column:
    """Byte-level symbols: the pretoken's UTF-8 BYTES, each rendered as
    its 2-hex-digit code. The hex rendering is this engine's
    ``bytes_to_unicode``: GPT-2 maps every byte to a printable character
    so byte sequences survive in string form — here each byte maps to
    its hex pair ('20' = space, '74' = 't'), merged symbols concatenate
    to longer even-length hex strings (always decodable back to bytes),
    and the separator / sentinel characters (\\x1f, \\x1e) can never
    collide with a symbol since hex is [0-9A-F]. hex(encode()) is
    bit-identical in Spark and DuckDB (both uppercase), so the whole
    byte-level loop hash-checks cross-engine."""
    return F.regexp_extract_all(F.hex(F.encode(w, "UTF-8")), F.lit(".."), F.lit(0))


# The BPE pretokenizers: name -> (text column -> pretoken array,
# pretoken -> symbol array). Everything after the round-0 symbols — pair
# counts, argmax, merge-apply, token counts — is symbol-agnostic and
# shared, the contract production tokenizers (GPT-2/tiktoken) follow.
_PRETOKENIZERS = {
    "word": (
        lambda col: F.regexp_extract_all(
            normalize_text(col), F.lit(BPE_WORD_PATTERN), F.lit(0)
        ),
        _char_symbols,
    ),
    "byte": (byte_pretokens, _byte_symbols),
}


def _pretokenizer(name: str):
    if name not in _PRETOKENIZERS:
        raise ValueError(
            f"pretokenizer must be one of {sorted(_PRETOKENIZERS)}, got {name!r}"
        )
    return _PRETOKENIZERS[name]


def _initial_state(df: DataFrame, pretokenizer: str) -> DataFrame:
    """Round-0 trainer state: one row per pretoken OCCURRENCE of ``text``, ``syms`` =
    its symbols joined by ``BPE_SEP`` (the state BPE training starts
    from). A narrow explode + in-row symbol split/join; at 100 TB this is
    the corpus re-expressed one pretoken per row, the layout every
    subsequent round's pair count and merge-apply pass works over."""
    pretokens, symbols = _pretokenizer(pretokenizer)
    return df.select(
        F.explode(pretokens(F.col("text"))).alias("__w")
    ).select(F.array_join(symbols(F.col("__w")), BPE_SEP).alias("syms"))


def bpe_symbol_pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent-SYMBOL pair counts over the trainer state — the round-k
    generalization of :func:`bpe_pair_counts` (which counts the round-1
    special case where every symbol is one character; the two agree on
    the initial state, pinned in tests). Output ``(l, r, n_pairs)``;
    the argmax under (count desc, l asc, r asc) is the round's merge.
    Overlapping adjacencies each count, exactly like the round-1 pass —
    overlap resolution happens at merge-APPLY time (leftmost-first
    ``replace``). One explode + one groupBy whose key cardinality is
    bounded by the live vocabulary squared — map-side combine collapses
    each partition before the shuffle."""
    a = F.split(F.col("syms"), BPE_SEP)
    m = F.size(F.col("__a")) - 1
    return (
        state.select(a.alias("__a"))
        # single-symbol words have no pairs (and m = 0 would make the
        # zipped slices empty anyway; the filter prunes the rows)
        .filter(F.size("__a") >= 2)
        .select(
            # adjacent pairs as arrays_zip of the two shifted slices (r15
            # HOF sweep): ArraysZip/Slice are ordinary codegen
            # expressions, replacing a transform(sequence, struct(
            # element_at i, element_at i+1)) whose interpreted element_at
            # pair ran per symbol position. Same (l, r) rows in the same
            # order — slice(a,1,m)[j] = a[j], slice(a,2,m)[j] = a[j+1] —
            # pinned in tests/test_text_analysis.py.
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("__a"), 1, m).alias("l"),
                    F.slice(F.col("__a"), 2, m).alias("r"),
                )
            ).alias("__p")
        )
        .select("__p.l", "__p.r")
        .groupBy("l", "r")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _bpe_apply_merge(state: Column, l: str, r: str) -> Column:
    """Apply ONE merge (l, r) to a ``BPE_SEP``-joined symbol state — EXACT
    left-greedy BPE semantics (fuse every leftmost non-overlapping
    (l, r) adjacency, whole symbols only), branched on the driver-known
    pair:

    - ``l != r``: wrap the state in separators and run TWO plain
      ``replace(sep+l+sep+r+sep → sep+l+r+sep)`` passes, then trim the
      wrap. Both boundaries are part of the pattern, so a pair element
      can never match a SUFFIX or PREFIX of a longer symbol (the
      boundary-crossing defect a bare ``replace(l+sep+r)`` has:
      ``replace('ab␟c', 'b␟c', 'bc') = 'abc'`` fuses the b INSIDE
      symbol 'ab'). One pass misses every other occurrence of an
      adjacency CHAIN ([a,b,a,b] — the first match consumes the shared
      boundary); for l != r occurrences can never overlap, so the
      missed ones are isolated after pass one and pass two completes
      exactly the greedy set. Proven equivalent to reference greedy by
      a 100k-case fuzz (tests).
    - ``l == r``: same-symbol runs make replace-based scans wrong in
      any fixed number of passes (a run of 6 x's under (x,x) needs
      [xx,xx,xx]; two anchored passes leave [xx,x,xx,x]). Greedy here
      is a left fold: fuse the current symbol into the accumulator's
      tail iff the tail IS l and the current IS r — the fused 'll'
      tail is strictly longer than l so it can never chain
      (``F.aggregate``, JVM-interpreted but only for the rare
      same-symbol merge round).

    Both branches — and the oracles' uniform gaps-and-islands SQL
    (fuse the even offsets of each maximal consecutive-occurrence
    island) — are fuzz-pinned to the same reference implementation."""
    if l != r:
        sep = BPE_SEP
        pat = F.lit(sep + l + sep + r + sep)
        rep = F.lit(sep + l + r + sep)
        wrapped = F.concat(F.lit(sep), state, F.lit(sep))
        two = F.replace(F.replace(wrapped, pat, rep), pat, rep)
        return F.btrim(two, F.lit(sep))
    merged = F.lit(l + r)

    def step(acc: Column, s: Column) -> Column:
        fuse = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(l))
            & (s == F.lit(r))
        )
        return F.when(
            fuse,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s)))

    folded = F.aggregate(
        F.split(state, BPE_SEP), F.array().cast("array<string>"), step
    )
    return F.array_join(folded, BPE_SEP)


def bpe_trainer_rounds(
    df: DataFrame,
    n_rounds: int = 3,
    pretokenizer: str = "word",
) -> DataFrame:
    """Sequential BPE training — ``n_rounds`` merges, ONE per round:
    :func:`bpe_batched_trainer_rounds` with ``batch_size=1`` (the
    compatibility filter is vacuous, so every merge is the exact argmax
    over the previous merge's state). Returns one row per executed
    round: ``round, merge_left, merge_right, merged, n_pairs,
    corpus_tokens_after`` — each round strictly decreases the token
    count by the pair's non-overlapping occurrence count. Stops early if
    no pairs remain."""
    return bpe_batched_trainer_rounds(df, n_rounds, 1, pretokenizer).drop("pos")


def _select_compatible_pairs(
    candidates: "list[tuple[str, str, int]]", batch_size: int
) -> "list[tuple[str, str, int]]":
    """Greedy selection of up to ``batch_size`` pairwise-COMPATIBLE
    merges from a (count desc, l asc, r asc)-ordered candidate list:
    walk the ranking, keep a pair iff neither element is blocked, and
    block each kept pair's elements AND its merged symbol. Compatible
    is DIRECTIONAL: applying an EARLIER kept merge can neither create
    nor destroy an occurrence of a LATER kept pair — creation needs a
    later element equal to an earlier concatenation, destruction a
    shared element, both blocked — so applying the batch
    simultaneously on the round-start state equals applying it
    sequentially IN SELECTION ORDER (the property the trainer and the
    oracle's island SQL rely on; fuzz-pinned over 300 random
    state/candidate draws). The REVERSE order is not guaranteed: a
    later pair's merged symbol may equal an earlier pair's element
    ((b,ca) then (c,a) is a legal batch whose reversed application
    differs — test_compatibility_is_selection_order_only_not_symmetric
    documents the boundary), so selection order is part of the batch's
    semantics and both engines honor it."""
    blocked: set = set()
    sel: list = []
    for l, r, n in candidates:
        if l in blocked or r in blocked:
            continue
        sel.append((l, r, n))
        blocked.update((l, r, l + r))
        if len(sel) >= batch_size:
            break
    return sel


def bpe_batched_trainer_rounds(
    df: DataFrame,
    n_rounds: int = 2,
    batch_size: int = 3,
    pretokenizer: str = "word",
) -> DataFrame:
    """END-TO-END distributed BPE vocabulary training (VERDICT r10 #5,
    r12 #3): each round counts adjacent symbol pairs across the corpus
    (:func:`bpe_symbol_pair_counts`), collects the top ``8 * batch_size``
    pairs under the total order (count desc, l asc, r asc), greedily
    keeps up to ``batch_size`` pairwise-compatible merges
    (:func:`_select_compatible_pairs` — no kept pair shares an element
    with, or contains the merged symbol of, an earlier kept pair, so
    earlier merges provably can't disturb later ones and the one-shot
    batch apply equals sequential application IN SELECTION ORDER — the
    directional law; see the selector's docstring for the boundary), and
    RETOKENIZES the state ONCE with all of them chained through
    :func:`_bpe_apply_merge` in that order — exact left-greedy
    merge-apply over WHOLE symbols (boundary-anchored replaces for
    l != r, a left fold for same-symbol merges; see its docstring for
    why a bare substring replace is wrong). Sequentiality across rounds
    is inherent to BPE (round k's statistics are over round k-1's
    state); the distributed part — the corpus-wide count and rewrite —
    is what runs on the cluster, and the driver holds only the
    driver-sized candidate window and the merge table, exactly like
    production trainers. The oracle replays the same fixed window.

    Batching is the standard fast-BPE trick: 2 Spark jobs per ROUND
    instead of per MERGE, so a 50k-merge vocabulary at batch_size 256
    costs ~400 driver round-trips instead of ~100k, while the
    corpus-side work per round stays one bounded-key groupBy + one
    narrow rewrite. The trade, stated honestly: batched counts are
    measured at ROUND START for every merge in the batch (true
    sequential BPE would recount after each merge), so merge ORDER can
    differ from the exact sequential trainer beyond the first merge of
    each round. ``batch_size=1`` IS the exact sequential trainer
    (:func:`bpe_trainer_rounds`).

    Returns one row per MERGE: ``round, pos`` (1-based slot within the
    round's batch, selection order), ``merge_left, merge_right,
    merged, n_pairs`` (the pair's adjacency count at round start) and
    ``corpus_tokens_after`` (total symbols after the WHOLE round's
    batch applied — per-round, repeated on each of the round's rows).
    Stops early when a round finds no pairs.

    ``pretokenizer`` names the ``_PRETOKENIZERS`` entry that builds the
    round-0 state: ``"word"`` (normalized ASCII word pretokens, char
    symbols) or ``"byte"`` (:func:`byte_pretokens` — GPT-2-style
    case/whitespace-preserving pretokens, UTF-8 bytes as hex-pair
    symbols). Every round downstream is symbol-agnostic.

    Scale: each round persists its state (one narrow rewrite of the
    previous), runs one bounded-key groupBy and one scalar aggregate,
    and unpersists the predecessor — peak storage is two corpus-sized
    states, per-round cost is linear, and nothing driver-sized but the
    candidate window and merge table. CORPUS-size scaling is measured
    (SCALE_RATIOS: wall ×6.4 at input ×10, shuffle/input ≈ 0)."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    spark = df.sparkSession
    state = _initial_state(df, pretokenizer).persist()
    rows: list = []
    retained = [state]
    try:
        for rnd in range(1, n_rounds + 1):
            top = (
                bpe_symbol_pair_counts(state)
                .orderBy(
                    F.col("n_pairs").desc(),
                    F.col("l").asc(),
                    F.col("r").asc(),
                )
                .limit(8 * batch_size)
                .collect()
            )
            sel = _select_compatible_pairs(
                [(r["l"], r["r"], r["n_pairs"]) for r in top], batch_size
            )
            if not sel:
                break
            merged_col = F.col("syms")
            for l, r, _ in sel:
                merged_col = _bpe_apply_merge(merged_col, l, r)
            state = state.withColumn("syms", merged_col).persist()
            retained.append(state)
            tokens_after = state.agg(
                F.sum(F.size(F.split(F.col("syms"), BPE_SEP))).alias("n")
            ).collect()[0]["n"]
            rows.extend(
                (rnd, pos, l, r, l + r, n, tokens_after)
                for pos, (l, r, n) in enumerate(sel, start=1)
            )
            # predecessor no longer feeds anything — release it
            retained.pop(0).unpersist()
    finally:
        for s in retained:
            s.unpersist()
    return spark.createDataFrame(
        rows,
        "round int, pos int, merge_left string, merge_right string, "
        "merged string, n_pairs bigint, corpus_tokens_after bigint",
    )


def _trained_token_count(
    col: Column, merges: "tuple[tuple[str, str], ...]", pretokenizer: str
) -> Column:
    """Per-document token count under a TRAINED merge table — the
    apply side of :func:`bpe_trainer_rounds`, generalizing the
    single-round :func:`bpe_token_counts` to k ORDERED merges over
    symbol states: each pretoken rebuilds as its round-0 symbol state
    (the ``_PRETOKENIZERS`` entry the trainer used), the merges apply IN
    TRAINING ORDER with exact left-greedy whole-symbol semantics
    (:func:`_bpe_apply_merge` — the same merge-apply the trainer's
    retokenizer uses, so counting is bit-faithful to the state the
    trainer would reach), and the count is the total surviving symbols.
    Later merges see earlier merges' fused symbols — e.g. the table
    [(h,e), (t,he)] turns 'the' into ONE token, which no single-round
    pair table can express. NULL text counts 0 (the engine-wide
    degenerate-document contract).

    All native expressions (split/transform/replace/aggregate) in one
    narrow pass — no shuffle, no UDF; the merge table is a few literals
    inside the plan. Cost is O(k · chars) per document, the same as any
    real tokenizer's merge loop — but the PLAN grows with k too (each
    merge nests two replaces or a fold into every word's chain), so
    this expression form is for SMALL tables only (ADVICE r11): above
    ``_ARROW_MERGE_THRESHOLD`` merges
    :func:`bpe_trained_token_counts_df` routes to the bit-equivalent
    Arrow twin with plan size constant in k."""
    pretokens, symbols = _pretokenizer(pretokenizer)

    def count_word(w: Column) -> Column:
        state = F.array_join(symbols(w), BPE_SEP)
        for l, r in merges:
            state = _bpe_apply_merge(state, l, r)
        return F.size(F.split(state, BPE_SEP))

    return F.aggregate(
        pretokens(col),
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + count_word(w).cast("bigint"),
    )


# Above this many trained merges, the k chained _bpe_apply_merge
# expression trees (two nested replaces or a fold EACH, applied inside
# every word's per-row fold) would blow Catalyst's plan-size/codegen
# limits long before a production-sized merge table (10k+) arrives
# (ADVICE r11, low) — the Arrow twin applies the same left-greedy loop
# in one mapInPandas pass instead, the exact discipline of
# similarity._ARROW_ASSIGN_THRESHOLD. Below it, the native chain keeps
# the plan UDF-free (the driver-gated k=3 sits far below).
_ARROW_MERGE_THRESHOLD = 64


def bpe_trained_token_counts_df(
    df: DataFrame,
    merges: "tuple[tuple[str, str], ...]",
    pretokenizer: str = "word",
) -> DataFrame:
    """DataFrame-level apply side of BPE training: per-document token
    counts under a trained merge table, routing by table size — the
    native expression chain below ``_ARROW_MERGE_THRESHOLD`` merges
    (UDF-free, plan-literal table), the Arrow ``mapInPandas`` twin at
    or above it (a realistically sized trained table embeds k nested
    expression trees per word in the plan, which Catalyst's codegen
    limits reject long before k=10k). ``pretokenizer`` mirrors the
    trainer's (``"word"`` or ``"byte"``); both have Arrow twins, so
    either table size routes. The paths are bit-equivalent on ASCII
    corpora (identical left-greedy merge loop; pinned by
    test_bpe_trained_counts_arrow_matches_native /
    test_bpe_byte_trained_counts_arrow_matches_native)."""
    if len(merges) < _ARROW_MERGE_THRESHOLD:
        return df.select(
            "doc_id",
            _trained_token_count(F.col("text"), merges, pretokenizer).alias(
                "n_tokens"
            ),
        )
    return _bpe_trained_counts_arrow(df, merges, pretokenizer)


def _bpe_trained_counts_arrow(
    df: DataFrame,
    merges: "tuple[tuple[str, str], ...]",
    pretokenizer: str = "word",
) -> DataFrame:
    """Arrow-batched twin of the trained-table token counters (per
    ``doc_id``, over ``text``) for large merge tables: one ``mapInPandas`` pass whose per-word loop is the
    SAME left-greedy non-overlapping merge-apply the native expression
    chain (and the oracles' gaps-and-islands SQL) implements — fuse
    every leftmost (l, r) adjacency, whole symbols only, merges in
    training order. O(k·chars) per doc like the native path, but k
    lives in a closure instead of the plan, so plan size is constant in
    the table. ``pretokenizer="word"`` reproduces the native
    normalized-word char states (:data:`BPE_WORD_PATTERN`); ``"byte"``
    reproduces the raw-text pretokens and hex-pair byte states.
    Pretokenization parity: the word path compiles with ``re.ASCII`` so Python's
    ``\\s`` means exactly what Java's default ``\\s`` means (without
    it, Python ``\\s`` matches \\x1c-\\x1f and Unicode whitespace that
    Java's does not — ADVICE r12), and trims with the literal space
    Spark's ``trim`` removes; the byte path uses the
    :func:`_byte_pretokens_py` scanner (Python ``re`` has no
    ``\\p{L}``). The equivalence tests pin both routes."""
    import re as _re

    from pyspark.sql.types import LongType, StructField, StructType

    _pretokenizer(pretokenizer)  # same unknown-name error as the native route
    byte_level = pretokenizer == "byte"
    tok_re = _re.compile(BPE_WORD_PATTERN, _re.ASCII)
    ws_re = _re.compile(r"\s+", _re.ASCII)
    table = [(l, r) for l, r in merges]
    schema = StructType(
        [df.schema["doc_id"], StructField("n_tokens", LongType(), False)]
    )

    def count_text(text: "str | None") -> int:
        if byte_level:
            words = _byte_pretokens_py(text or "")
        else:
            base = ws_re.sub(" ", (text or "").lower()).strip(" ")
            words = tok_re.findall(base)
        total = 0
        for w in words:
            if byte_level:
                h = w.encode("utf-8").hex().upper()
                syms = [h[i:i + 2] for i in range(0, len(h), 2)]
            else:
                syms = list(w)
            for l, r in table:
                out, i, n = [], 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            total += len(syms)
        return total

    def apply_batches(batches):
        for pdf in batches:
            yield pdf.assign(
                n_tokens=pdf["text"].map(count_text).astype("int64")
            )[["doc_id", "n_tokens"]]

    return df.select("doc_id", "text").mapInPandas(apply_batches, schema)


def char_class_count(col: Column, char_class: str) -> Column:
    """#chars matching a regex character class, via strip-and-measure
    (global regexp_replace keeps this JVM-side and DuckDB-parity-exact)."""
    return F.length(F.regexp_replace(col, f"[^{char_class}]", ""))


def text_stats(col: Column) -> dict[str, Column]:
    """Per-document stats: lengths, token counts, char-class ratios, and a
    deterministic [0,1] quality score (long-enough docs with low
    punctuation/digit density and some stopwords score high — the standard
    cheap quality heuristic for LLM corpus filtering)."""
    nt = normalize_text(col)  # stats are over the canonical form
    n_chars = F.length(nt).cast("bigint")
    toks = F.split(nt, " ")
    n_tokens = F.size(toks).cast("bigint")
    n_alpha = char_class_count(nt, "a-z").cast("bigint")
    n_digit = char_class_count(nt, "0-9").cast("bigint")
    n_space = char_class_count(nt, " ").cast("bigint")
    n_punct = (n_chars - n_alpha - n_digit - n_space).cast("bigint")
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS["en"]))
    ).cast("bigint")
    denom = F.greatest(n_chars, F.lit(1)).cast("double")
    avg_token_len = F.when(
        n_tokens > 0, (n_chars - (n_tokens - 1)).cast("double") / n_tokens.cast("double")
    )
    stop_ratio = n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
    punct_ratio = n_punct.cast("double") / denom
    digit_ratio = n_digit.cast("double") / denom
    quality = (
        F.least(n_tokens.cast("double") / F.lit(50.0), F.lit(1.0)) * F.lit(0.4)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(4.0), F.lit(1.0))) * F.lit(0.3)
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * F.lit(0.3)
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_alpha": n_alpha,
        "n_digit": n_digit,
        "n_punct": n_punct,
        "avg_token_len": avg_token_len,
        "stopword_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "digit_ratio": digit_ratio,
        "quality_score": quality,
    }


def with_text_stats(df: DataFrame) -> DataFrame:
    stats = text_stats(F.col("text"))
    return df.withColumns(stats)


def language_hits(col: Column) -> dict[str, Column]:
    """Stopword-hit counts per language over whitespace tokens."""
    toks = whitespace_tokens(col)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words))).cast("bigint")
        for lang, words in STOPWORDS.items()
    }


def language_id(col: Column) -> Column:
    """Argmax language by stopword hits, priority-ordered en>de>fr>es on
    ties, 'und' (undetermined) when nothing hits — the classic cheap
    lang-ID heuristic for corpus filtering (fastText-style models slot in
    behind the same operator signature as a pandas_udf if needed)."""
    hits = language_hits(col)
    langs = list(STOPWORDS)
    # priority when-chain: a language wins when it hits at all and is >=
    # every LATER language (earlier branches already lost if we got here)
    expr = None
    for i, lang in enumerate(langs):
        cond = hits[lang] > 0
        for later in langs[i + 1 :]:
            cond = cond & (hits[lang] >= hits[later])
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def word_ngram_strings(nt: Column, n: int) -> Column:
    """All word ``n``-grams of an ALREADY-NORMALIZED text (trimmed,
    single-space separated — :func:`normalize_text` output) as an
    array<string>, in token order, via ONE native regex scan (r15 HOF
    sweep). The pattern ``(?=((?:[^ ]+ ){n-1}[^ ]+))[^ ]+ ?`` captures n
    space-joined tokens by lookahead while consuming exactly one token
    plus its separator, so successive matches land on successive token
    starts — replacing the ``transform(sequence(...),
    concat_ws(slice(toks, i, n)))`` shape whose interpreted slice+join
    ran per token position (HOF lambdas are CodegenFallback). Exactness:
    the captured substring IS the concat_ws(" ", slice(...)) value
    because normalized text separates tokens with single spaces; once
    fewer than n tokens remain no position can match (advancing into a
    token never increases the remaining token count), so there are
    exactly max(0, n_tokens−n+1) matches in order. Texts with fewer than
    n tokens yield the empty array, matching the callers' old
    ``size(toks) >= n`` guard; n=1 degenerates to the token split
    (including the single empty token of an empty text, which the regex
    form would drop). Pinned against the old expressions in
    tests/test_text_analysis.py."""
    if n == 1:
        return F.split(nt, " ")
    pat = f"(?=((?:[^ ]+ ){{{n - 1}}}[^ ]+))[^ ]+ ?"
    return F.regexp_extract_all(nt, F.lit(pat), F.lit(1))


def ngrams(col: Column, n: int = 2) -> Column:
    """Word n-grams as an array column (in-row, no shuffle): one native
    regex scan over the normalized text (:func:`word_ngram_strings`; the
    r14/r15 CodegenFallback lever — the old shape zip_with-merged n
    shifted slices of the token array, paying an interpreted concat per
    token position per shift). Value-identical: the zip_with chain
    produced exactly the space-joined runs of n consecutive tokens, which
    is what the regex captures (pinned in
    tests/test_text_analysis.py)."""
    if n == 1:
        return whitespace_tokens(col)
    return word_ngram_strings(normalize_text(col), n)


def top_ngrams(df: DataFrame, k: int = 20) -> DataFrame:
    """Corpus-wide top-k word bigrams of ``text``. One explode + one shuffle (partial
    aggregation map-side), top-k via TakeOrderedAndProject with a
    deterministic tiebreak on the n-gram string."""
    return (
        df.select(F.explode(ngrams(F.col("text"), 2)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


def fingerprint128(col: Column) -> Column:
    """Deterministic 128-bit content fingerprint of the normalized text
    (md5 hex) — the exact-dedup key; stable across engines so it is
    DuckDB-oracle-checkable."""
    return F.md5(normalize_text(col))


def fingerprint64(col: Column) -> Column:
    """64-bit engine-side fingerprint (xxhash64): cheaper than md5 for
    shuffle keys at 100 TB; not portable across engines (Spark-specific
    seed), so tested rather than oracle-checked."""
    return F.xxhash64(normalize_text(col))


def portable_hash60(col: Column) -> Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5 as a bigint.
    DuckDB computes the identical value via ('0x'||substr(md5(x),1,15))::BIGINT,
    which is what makes the winnowing fingerprints oracle-checkable."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def kgram_hash_seq(col: Column, k: int = 8) -> Column:
    """Positional character k-gram hash sequence over the normalized text —
    the rolling-hash stream that winnowing samples from. In-row and narrow;
    texts shorter than k yield one hash of the whole text, so every non-null
    doc gets >=1 fingerprint. The normalized text is let-bound so the regex
    normalization runs once per doc, not once per k-gram position.

    K-gram extraction is ONE native regex scan — ``(?s)(?=(.{k})).``, the
    same lookahead-capture idiom as :func:`~..text_dedup.shingle_set` (r14)
    — instead of a ``transform(sequence(...), substr)`` whose interpreted
    substr ran once per character position (HOF lambdas are
    CodegenFallback; r15 sweep of the proven r14 lever). Only the md5/conv
    hashing of the extracted grams remains inside a transform lambda.
    Semantics are IDENTICAL: DOTALL ``.`` matches any code point, matches
    occur at every position left-to-right, the lookahead fails within k-1
    chars of the end, and texts shorter than k (including empty/null — the
    whole-text substr equals the text itself there) take the explicit
    whole-text branch. Pinned against the old expression on the unicode
    edge corpus + fuzz in tests/test_text_analysis.py."""

    def stream(nt: Column) -> Column:
        grams = F.when(
            F.length(nt) >= k,
            F.regexp_extract_all(nt, F.lit(f"(?s)(?=(.{{{k}}}))."), F.lit(1)),
        ).otherwise(F.array(nt))
        return F.transform(grams, portable_hash60)

    return let_bound(normalize_text(col), stream)


def winnow_from_hashes(hs: Column, w: int = 4) -> Column:
    """Winnowing fingerprints from an ALREADY-MATERIALIZED hash-sequence
    column: the distinct minima of every w-length window, sorted.
    ``hs`` must be a column reference (not the kgram_hash_seq expression
    itself) — embedding the hash-array expression here would re-evaluate
    the whole md5 stream once per doubling pass; stage it with a select
    first, as winnow_pairs does.

    Sliding-window minima via the sparse-table DOUBLING trick (r15 HOF
    sweep): ``least``-merge the array with itself shifted by 1, 2, 4, …
    (⌈log2 w⌉ ``zip_with`` passes, plus one final overlapping merge for
    non-power-of-two w), instead of ``transform(sequence(1, n_win),
    j -> array_min(slice(hs, j, w)))`` — the old shape allocated a
    w-element slice AND ran an interpreted array_min per window (HOF
    lambdas are CodegenFallback), O(n·w) interpreted steps against the
    doubling form's O(n·log w) with no per-window allocation. Windows
    overlap, and min is idempotent/associative/commutative, so the
    overlapping final merge is exact; ``least`` skips NULLs exactly like
    ``array_min``. Docs shorter than w keep the explicit one-window
    branch (min of the whole array — including the [NULL] result on
    empty/null input the old shape produced). Value equality with the
    old expression is pinned in tests/test_text_analysis.py."""
    n = F.size(hs)
    t, span = hs, 1
    while span * 2 <= w:
        m = n - 2 * span + 1
        t = F.zip_with(
            F.slice(t, 1, m), F.slice(t, 1 + span, m), lambda a, b: F.least(a, b)
        )
        span *= 2
    if span < w:
        m = n - w + 1
        t = F.zip_with(
            F.slice(t, 1, m), F.slice(t, 1 + (w - span), m),
            lambda a, b: F.least(a, b),
        )
    mins = F.when(n >= w, t).otherwise(
        F.array(F.array_min(F.slice(hs, 1, w)))
    )
    return F.array_sort(F.array_distinct(mins))


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
    per doc, hash every character k-gram (k = 8, the rolling-hash stream),
    then keep the minimum of each w-length window (w = 4). Guarantees any
    shared substring of length >= k+w-1 produces a shared fingerprint while
    keeping ~2/(w+1) of the hashes. Two narrow in-row passes (hash stream,
    then window minima) — no shuffle. Returns (id_col, fps
    array<bigint>)."""
    h = df.select(F.col(id_col), kgram_hash_seq(F.col(text_col), 8).alias("hs"))
    return h.select(id_col, winnow_from_hashes(F.col("hs"), 4).alias("fps"))


def winnow_pairs(
    df: DataFrame,
    min_shared: int = 5,
    input_partitions: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs of ``doc_id`` by shared winnowing
    fingerprints of ``text``: explode each doc's fingerprint set, drop
    *stop-prints* (fingerprints appearing in more than 10 docs —
    boilerplate; the same mitigation MOSS uses, and at 100 TB also the
    hot-bucket skew fix for the join), then self-join WITHIN the remaining
    fingerprint buckets (Σ|bucket|², never all-pairs), count shared prints
    per pair, and score overlap = shared / min(rare-print count of A, of B).

    ``input_partitions``: the hash stream is CPU-heavy per row, and
    parquet's bytes-based splitting under-parallelizes small single-file
    inputs (one split = one core). Set it to the session parallelism when
    the source has fewer splits than cores; leave ``None`` at scale,
    where the input already has more splits than executors and the extra
    shuffle would be pure cost."""
    if input_partitions is not None:
        df = df.repartition(input_partitions)
    fps = winnow_fingerprints(df, "doc_id", "text")
    # explode_outer, not explode: InferFiltersFromGenerate would add a
    # size(fps)>0 filter below the projections with the whole winnow
    # expression INLINED — re-evaluating the md5 stream once per window
    # (O(n²) per doc). fps is never empty by construction, so the
    # null-filter above the Generate is semantically equivalent and cheap.
    e = (
        fps.select("doc_id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
    # stop-print removal: bucket sizes are a tiny aggregate; the join back
    # onto the exploded prints broadcasts at any scale
    rare = e.groupBy("fp").count().filter(F.col("count") <= 10).select("fp")
    er = e.join(rare, "fp")
    counts = er.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nfp"))
    a = er.alias("a")
    b = er.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("nfp").alias("nfp_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("nfp").alias("nfp_b"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least("nfp_a", "nfp_b").cast("double")
            ).alias("overlap"),
        )
    )


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic relevance weighting,
    fully native: one token explode feeds three aggregates (term count
    per doc, doc length, document frequency per term), scores join back,
    a window takes the top k. Ranking uses ROUND(tfidf, 6) with a term
    tiebreak so it is deterministic and engine-portable (ln differs from
    DuckDB by at most 1 ulp — invisible at 6 decimals). Scale notes: the
    doc-frequency join shuffles on the term (vocabulary-sized, Zipfian —
    AQE broadcasts it when small); everything else partitions by doc."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(whitespace_tokens(F.col("text"))).alias("term"),
    )
    cnt = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tc"))
    dl = toks.groupBy("id").agg(F.count(F.lit(1)).alias("len"))
    dfq = toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    nd = df.agg(F.count(F.lit(1)).alias("nd"))
    scored = (
        cnt.join(dl, "id")
        .join(dfq, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "id",
            "term",
            F.round(
                (F.col("tc").cast("double") / F.col("len").cast("double"))
                * F.log(F.col("nd").cast("double") / F.col("dft").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias("doc_id"), "term", "rank", "tfidf")
    )


# PII masking: conservative, engine-agnostic regexes (no lookarounds, so
# the same pattern runs under Java regex and RE2 alike). Insertion order IS
# the masking order (scrub_pii chains in dict order): most-specific first,
# so the SSN pattern runs before the looser phone pattern.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\d{3}-\d{2}-\d{4}",
    "phone": r"(\+?\d{1,2}[-. ]?)?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}",
}


def scrub_pii(col: Column) -> Column:
    """Mask PII spans with typed placeholders (<EMAIL>, <PHONE>, <SSN>) —
    the standard pre-training redaction pass, as one chained
    regexp_replace projection (narrow, JVM-side, order: most-specific
    first so an SSN is not half-eaten by the phone pattern)."""
    out = col
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def pii_match_flags(col: Column) -> list[Column]:
    """One boolean flag column per PII category — the audit twin of
    scrub_pii (count before masking, verify zero after)."""
    return [
        col.rlike(pat).alias(f"has_{name}")
        for name, pat in PII_PATTERNS.items()
    ]


# Gopher corpus-filtering rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", appendix A1.1): the
# published per-document quality heuristics most LLM data pipelines apply
# before dedup. Thresholds below are the paper's.
GOPHER_REQUIRED_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality_flags(col: Column) -> dict[str, Column]:
    """Per-document pass/fail flags for the seven Gopher quality rules,
    entirely in native expressions (one narrow pass, no shuffle, no UDF):

    - ok_word_count:    50 <= #whitespace words <= 100,000
    - ok_mean_word_len: mean word length in [3, 10]
    - ok_symbol_ratio:  (#'#' chars + #ellipses) / #words <= 0.1
    - ok_bullet_lines:  <= 90% of lines start with a bullet (-, *, •)
    - ok_ellipsis_lines:<= 30% of lines end with an ellipsis

    The paper REMOVES documents strictly above each ratio, so a document
    exactly at a published boundary passes (non-strict comparisons here
    and in the SQL twin).
    - ok_alpha_words:   >= 80% of words contain an alphabetic char
    - ok_stopwords:     >= 2 of Gopher's required stopword set present

    Every expression has an exact DuckDB twin (regexp_replace/extract_all,
    list filter/transform), so rule-level counts are hash-checkable.
    NULL text is judged as '' (the normalize_text contract) — a null
    document fails the same rules an empty one fails rather than
    nulling out of every count."""
    col = F.coalesce(col, F.lit(""))
    ws = F.split(F.trim(col), r"\s+")
    n_words = F.size(ws).cast("bigint")
    nw_d = n_words.cast("double")
    n_word_chars = F.length(F.regexp_replace(col, r"\s+", "")).cast("bigint")
    mean_word_len = n_word_chars.cast("double") / nw_d
    n_hash = F.length(F.regexp_replace(col, r"[^#]", "")).cast("bigint")
    n_ellipsis = F.size(
        F.regexp_extract_all(col, F.lit(r"\.{3}|…"), F.lit(0))
    ).cast("bigint")
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / nw_d
    lines = F.split(col, "\n")
    n_lines = F.size(lines).cast("double")
    bullet_frac = (
        F.size(F.filter(lines, lambda l: F.ltrim(l).rlike(r"^[-*•]"))).cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.{3}|…)$"))
        ).cast("double")
        / n_lines
    )
    alpha_frac = (
        F.size(F.filter(ws, lambda w: w.rlike("[a-zA-Z]"))).cast("double") / nw_d
    )
    lws = F.transform(ws, lambda w: F.lower(w))
    n_req_stop = sum(
        (F.array_contains(lws, w).cast("bigint") for w in GOPHER_REQUIRED_STOPWORDS),
        F.lit(0).cast("bigint"),
    )
    return {
        "ok_word_count": (n_words >= 50) & (n_words <= 100000),
        "ok_mean_word_len": (mean_word_len >= 3.0) & (mean_word_len <= 10.0),
        "ok_symbol_ratio": symbol_ratio <= 0.1,
        "ok_bullet_lines": bullet_frac <= 0.9,
        "ok_ellipsis_lines": ellipsis_frac <= 0.3,
        "ok_alpha_words": alpha_frac >= 0.8,
        "ok_stopwords": n_req_stop >= 2,
    }


def gopher_filter(df: DataFrame) -> DataFrame:
    """Keep only documents passing ALL Gopher rules — the production
    filter; ``gopher_quality_flags`` exposes the per-rule booleans for
    auditing which rule rejected a document."""
    flags = gopher_quality_flags(F.col("text"))
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return df.filter(keep)


def chunk_by_tokens(df: DataFrame, chunk_size: int = 32, overlap: int = 8) -> DataFrame:
    """Overlapping fixed-size token-window chunks — the standard
    RAG-indexing / context-window packing chunker. Chunk c covers tokens
    [c*stride, c*stride + chunk_size) with stride = chunk_size - overlap;
    every token index < n starts at most one chunk, so chunk boundaries
    (and therefore chunk ids) are deterministic and replayable in SQL.

    Scale notes: one narrow pass — split, sequence of starts, posexplode,
    slice — all inside whole-stage codegen; output rows ≈ n_tokens/stride
    per doc with NO shuffle introduced. Downstream embedding/indexing
    repartitions as it pleases."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    ws = F.split(F.trim(F.col("text")), r"\s+")
    starts = F.sequence(F.lit(0), F.size(ws) - 1, F.lit(stride))
    return (
        df.select(
            F.col("doc_id"),
            ws.alias("__ws"),
            F.posexplode(starts).alias("chunk_id", "__start"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("__ws"), F.col("__start") + 1, chunk_size), " "
            ).alias("chunk_text"),
            F.least(
                F.size(F.col("__ws")) - F.col("__start"), F.lit(chunk_size)
            ).cast("bigint").alias("n_chunk_tokens"),
        )
    )


def _q_log2(c: Column) -> Column:
    """1e-4-bit fixed-point log2 as BIGINT: libm log2 differs between
    engines in the last ulp, the quantized integers (and their sums) do
    not. The DuckDB twin is ``queries._q_log2_sql``."""
    return F.round(F.log2(c.cast("double")) * 10000).cast("bigint")


def unigram_lm_scores(df: DataFrame) -> DataFrame:
    """CCNet-style language-model quality scoring with a self-trained
    unigram model: a document's score is its average per-token negative
    log2-probability (bits/token) under the corpus's own unigram
    distribution — low bits = typical text, high bits = rare-token noise.
    The standard cheap stand-in for the KenLM perplexity filter.

    Two passes, both shuffling only token-level counts: (1) corpus term
    frequencies (one groupBy over exploded tokens); (2) per-doc sum of
    quantized token logs (one groupBy on the doc id). avg bits/token =
    log2(N) − (Σ log2 cnt_t)/n, computed from per-token values quantized
    to 1e-4 bits as BIGINTs: libm log2 differs between engines in the
    last ulp (measured: 23% of integer inputs), so raw double sums would
    drift cross-engine, while a 1e-4 quantum makes a boundary flip a
    ~1e-12/token event and integer sums are order-independent — the
    score column hash-checks against DuckDB exactly."""
    toks = whitespace_tokens(F.col("text"))
    ex = df.select(F.col("doc_id"), F.explode(toks).alias("tok"))
    freq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("bigint").alias("total_tokens"))
    q_tok = _q_log2(F.col("cnt"))
    per_doc = (
        ex.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(q_tok).cast("bigint").alias("__sum_q"),
        )
    )
    q_total = _q_log2(F.col("total_tokens"))
    return (
        per_doc.crossJoin(total)
        .select(
            "doc_id",
            "n_tokens",
            (
                (F.col("n_tokens") * q_total - F.col("__sum_q")).cast("double")
                / (F.col("n_tokens").cast("double") * F.lit(10000.0))
            ).alias("avg_neg_logp_bits"),
        )
    )


def bm25_scores(df: DataFrame, query_terms: "list[str]") -> DataFrame:
    """Okapi BM25 relevance of every doc against a bag of query terms —
    the standard lexical retrieval scorer (term-frequency saturation +
    length normalization + rare-term IDF), Lucene's smoothed IDF
    variant with log2 in place of ln (a constant factor: identical
    ranking). Returns ``(id, bm25_micro, bm25)`` for docs containing at
    least one query term.

    Scale shape: :func:`bm25_index_build` over the corpus followed by
    :func:`bm25_search_against_index` (which owns the scoring math and
    its cross-engine determinism argument). The optimizer pushes the
    search's query-term filter below the postings aggregate, so the
    corpus scan explodes tokens but aggregates only the query-term
    hits; doc lengths are one narrow ``F.size`` pass."""
    return bm25_search_against_index(*bm25_index_build(df), query_terms)


def default_classifier_weights(spark, n_buckets: int = 4096) -> DataFrame:
    """Deterministic (bucket, w_micro) weight table for
    :func:`quality_classifier_scores` — a md5-derived stand-in for a
    TRAINED fastText-style model's weight vector (w_micro ∈ [-1e6, 1e6],
    i.e. w ∈ [-1, 1] at 1e-6 quantum, uniform per bucket). Production
    use loads real trained weights into the same (bucket, w_micro)
    shape; this default exists so the scoring plumbing is runnable and
    oracle-replayable with no model artifact (both engines derive the
    identical integers from md5). ≤ n_buckets rows — always broadcast."""
    from ehr_data_pipeline_spark.operators.text_dedup import base_shingle_hash

    return spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        (
            base_shingle_hash(F.concat(F.lit("qclf:"), F.col("id").cast("string")))
            % F.lit(2000001)
            - F.lit(1000000)
        ).cast("bigint").alias("w_micro"),
    )


def quality_classifier_scores(
    df: DataFrame,
    weights: "DataFrame | None" = None,
    bias_micro: int = 0,
) -> DataFrame:
    """fastText-style hashed linear quality-classifier scoring (VERDICT
    r8 #6) — the standard quality-scoring stage of LLM data pipelines
    (e.g. the GPT-3/LLaMA "looks like the reference corpus" logistic
    filters): features are hashed word unigrams + bigrams, the model is
    a weight per hash bucket, and a document's score is

        logit = bias + mean(w[h(feature)])        prob = sigmoid(logit)

    ``weights`` is the trained model as a (bucket, w_micro) table —
    weights quantized to 1e-6 ("micro") units as BIGINTs; ``None`` uses
    :func:`default_classifier_weights` (deterministic md5-derived
    stand-in, documented there). Returns one row per doc:
    (id, n_features, logit, prob).

    Scale shape (the DSIR machinery, text_analysis.py
    dsir_importance_weights): the model is ≤ 4096 rows and
    BROADCAST; the corpus pass is explode features → in-row hash →
    broadcast join → one groupBy on the doc id — a single linear
    doc-keyed shuffle, nothing driver-sized, no UDFs.

    Cross-engine determinism: weights and the per-doc sum are pure
    integers (order-independent Σ); the logit is one fixed
    correctly-rounded IEEE division chain over exact integers (no libm);
    the only transcendental is the final sigmoid, quantized to 1e-6
    BEFORE comparison/storage (a boundary flip needs exp() to disagree
    within ~1e-12 of a rounding edge — the unigram-LM argument).
    Missing buckets in a user-supplied model score 0 (left join), so
    partial models degrade gracefully instead of silently dropping
    features from n_features."""
    from ehr_data_pipeline_spark.operators.text_dedup import base_shingle_hash

    if weights is None:
        weights = default_classifier_weights(df.sparkSession, 4096)
    feats = F.concat(
        whitespace_tokens(F.col("text")), ngrams(F.col("text"), 2)
    )
    bucketed = df.select(
        F.col("doc_id"), F.explode(feats).alias("__f")
    ).select(
        "doc_id", (base_shingle_hash(F.col("__f")) % F.lit(4096)).alias("bucket")
    )
    per_doc = (
        bucketed.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
            F.sum(F.coalesce(F.col("w_micro"), F.lit(0)))
            .cast("bigint")
            .alias("__sum_micro"),
        )
    )
    logit = (
        F.lit(float(bias_micro))
        + F.col("__sum_micro").cast("double") / F.col("n_features").cast("double")
    ) / F.lit(1000000.0)
    prob_q = F.round(
        F.lit(1000000.0) / (F.lit(1.0) + F.exp(-logit))
    ).cast("bigint")
    return per_doc.select(
        "doc_id",
        "n_features",
        logit.alias("logit"),
        (prob_q.cast("double") / F.lit(1000000.0)).alias("prob"),
    )


def dsir_importance_weights(raw: DataFrame, target: DataFrame) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score each raw doc
    by how much more likely its hashed-token bag is under the TARGET
    corpus's distribution than under the raw corpus's own — the standard
    cheap domain-targeted data selection. Per doc:

        avg_logw_bits = (1/n) Σ_tok [log2 p_target(b) − log2 p_raw(b)]

    with bucket b = portable-hash(token) mod 1024 and add-one
    smoothed models p(b) = (cnt_b + 1)/(N + B). Positive = looks like
    the target domain; select by descending weight.

    Scale shape: both models are ≤ 1024 rows (one groupBy each over
    exploded tokens, map-side combined), the per-bucket log-ratio table
    broadcasts, and the doc pass is one groupBy on the id — three linear
    shuffles, nothing driver-sized. Cross-engine determinism is the
    unigram-LM trick: each log2 is quantized to 1e-4 bits as a BIGINT
    before summing (libm log2 is not bit-identical across engines;
    integer sums are), the model constants fold into one term applied
    per token, and the only double op is the final division chain."""
    from ehr_data_pipeline_spark.operators.text_dedup import base_shingle_hash

    def bucketed(df: DataFrame, with_id: bool) -> DataFrame:
        cols = [F.col("doc_id")] if with_id else []
        ex = df.select(
            *cols, F.explode(whitespace_tokens(F.col("text"))).alias("tok")
        )
        return ex.select(
            *(["doc_id"] if with_id else []),
            (base_shingle_hash(F.col("tok")) % F.lit(1024)).alias("bucket"),
        )

    t_cnt = bucketed(target, False).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("t_cnt")
    )
    r_cnt = bucketed(raw, False).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("r_cnt")
    )
    # per-bucket quantized log-ratio of the smoothed counts; buckets absent
    # from one side smooth to count 0 (+1)
    model = (
        t_cnt.join(r_cnt, "bucket", "full_outer")
        .select(
            "bucket",
            (
                _q_log2(F.coalesce(F.col("t_cnt"), F.lit(0)) + 1)
                - _q_log2(F.coalesce(F.col("r_cnt"), F.lit(0)) + 1)
            ).alias("q_ratio"),
        )
    )
    totals = t_cnt.agg(
        _q_log2(F.sum("t_cnt") + 1024).alias("q_nt")
    ).crossJoin(r_cnt.agg(_q_log2(F.sum("r_cnt") + 1024).alias("q_nr")))
    per_doc = (
        bucketed(raw, True)
        .join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("q_ratio").cast("bigint").alias("__sum_q"),
        )
    )
    return per_doc.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "n_tokens",
        (
            (
                F.col("__sum_q")
                - F.col("n_tokens") * (F.col("q_nt") - F.col("q_nr"))
            ).cast("double")
            / (F.col("n_tokens").cast("double") * F.lit(10000.0))
        ).alias("avg_logw_bits"),
    )


def bm25_index_build(df: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """The PERSISTED BM25 inverted index for a corpus (``doc_id``, ``text``)
    — retrieval's member of the engine's maintained-index family (MinHash
    bands, IVF cells, exact fingerprints): ``(postings, lengths)`` where
    postings is one (tok, id, tf) row per distinct doc-term and lengths one
    (id, dl) row per doc. Both are MERGEABLE by plain union over disjoint
    doc sets — term and length statistics are additive — so an ingest batch
    appends ``bm25_index_build(batch)`` and never re-reads history;
    idf/avgdl are derived at SEARCH time from the accumulated tables, which
    is exactly BM25 over the grown corpus. At 100 TB the postings land
    bucketed by ``tok`` (``sinks.write_bucketed``), so a query's term lookup
    is a bucket-pruned read instead of a corpus scan; lengths are one narrow
    row per doc. Tokenization is the engine-wide whitespace contract (NULL
    text ≡ '')."""
    toks = whitespace_tokens(F.col("text"))
    lengths = df.select(
        F.col("doc_id").alias("id"), F.size(toks).cast("bigint").alias("dl")
    )
    postings = (
        df.select(F.col("doc_id").alias("id"), F.explode(toks).alias("tok"))
        .groupBy("tok", "id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    return postings, lengths


def bm25_search_against_index(
    postings: DataFrame,
    lengths: DataFrame,
    query_terms: "list[str]",
) -> DataFrame:
    """Okapi BM25 (k1 = 1.2, b = 0.75) per ``doc_id`` over a persisted index
    (``bm25_index_build`` output, possibly the union of many appended
    batches) — the one scoring implementation; the corpus-scanning
    :func:`bm25_scores` is the index build followed by this search. It
    touches only the query terms' posting rows plus the narrow lengths
    table. Corpus stats (n_docs, total token count, per-term document
    frequencies) derive from the index at search time, so scores always
    reflect the CURRENT accumulated corpus.

    Cross-engine determinism: each per-term score is one fixed IEEE
    chain over exact inputs, then quantized to 1e-6 units as a BIGINT
    BEFORE the per-doc sum (a double Σ over terms is order-dependent;
    the integer Σ commutes — the unigram-LM/DSIR trick), and the IDF's
    libm log2 is itself pre-quantized to 1e-4 bits. ``bm25`` is the one
    final division of the exact micro total."""
    k1, b = 1.2, 0.75
    terms = sorted(set(query_terms))
    corpus = lengths.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
    )
    tf = postings.where(F.col("tok").isin(terms))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df_t"))

    q_idf = _q_log2(
        (F.col("n_docs").cast("double") - F.col("df_t").cast("double") + 0.5)
        / (F.col("df_t").cast("double") + 0.5)
        + 1.0
    )
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    )
    term_score = (
        (q_idf.cast("double") / F.lit(10000.0))
        * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
        / denom
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(lengths, "id")
        .crossJoin(F.broadcast(corpus))
        .select("id", F.round(term_score * 1000000).cast("bigint").alias("q_term"))
    )
    return (
        scored.groupBy("id")
        .agg(F.sum("q_term").cast("bigint").alias("bm25_micro"))
        .select(
            F.col("id").alias("doc_id"),
            "bm25_micro",
            (F.col("bm25_micro").cast("double") / F.lit(1000000.0)).alias("bm25"),
        )
    )


# round(log2(0.4) * 1e4): the Stupid Backoff alpha in the engine-wide
# 1e-4-bit fixed-point log quantum (a literal, so both engines share it)
_Q_BACKOFF_ALPHA = -13219


def bigram_lm_scores(df: DataFrame, model_docs: "DataFrame | None" = None) -> DataFrame:
    """Distributed bigram language-model scoring with Stupid Backoff
    (Brants et al. 2007, "Large Language Models in Machine Translation"
    — the score function DESIGNED for MapReduce-scale LMs: no
    normalization pass, counts only): each token transition w₁→w₂
    scores

        S(w₂|w₁) = count(w₁w₂) / count(w₁)            if the bigram is
                                                       in the model
                 = α · count(w₂) / N                   otherwise
                                                       (α = 0.4)

    and a document's score is the average negative log₂ S over its
    transitions — bits/transition, the bigram upgrade of
    :func:`unigram_lm_scores` (low = model-like text). ``model_docs``
    is the training corpus (default: ``df`` itself — then backoff never
    fires for self-scoring, which is the correct degenerate case);
    unseen w₂ floors at count 1. Returns one row per input doc:
    (id, n_transitions, avg_neg_logp_bits — NULL for docs with < 2
    tokens).

    Scale shape — the paper's own: two count tables (bigram, unigram —
    one groupBy each, map-side combined), transitions join the bigram
    model on the bigram key and the unigram model twice on word keys —
    four key-partitioned linear shuffles, nothing driver-sized, no
    all-pairs anywhere. Cross-engine determinism is the engine's
    fixed-point log contract: every count's log₂ is quantized to 1e-4
    bits as a BIGINT, α enters as the quantized literal
    ``_Q_BACKOFF_ALPHA``, integer sums commute, and the only double op
    is the final division."""
    if model_docs is None:
        model_docs = df

    def transitions(frame: DataFrame) -> DataFrame:
        toks = whitespace_tokens(F.col("text"))
        size = F.size(toks)
        pairs = F.zip_with(
            F.slice(toks, 1, F.greatest(size - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(size - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        return frame.select(
            F.col("doc_id"), F.explode(pairs).alias("__t")
        ).select("doc_id", F.col("__t.w1").alias("w1"), F.col("__t.w2").alias("w2"))

    uc = (
        model_docs.select(F.explode(whitespace_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    total = uc.agg(_q_log2(F.sum("c")).alias("q_n"))
    bc = (
        transitions(model_docs)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("bc"))
    )
    tr = (
        transitions(df)
        .join(bc, ["w1", "w2"], "left")
        .join(
            uc.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1", "left"
        )
        .join(
            uc.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2", "left"
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.when(
                F.col("bc").isNotNull(), _q_log2(F.col("bc")) - _q_log2(F.col("c1"))
            )
            .otherwise(
                F.lit(_Q_BACKOFF_ALPHA)
                + _q_log2(F.coalesce(F.col("c2"), F.lit(1)))
                - F.col("q_n")
            )
            .alias("__q"),
        )
    )
    per_doc = tr.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.sum("__q").cast("bigint").alias("__s"),
    )
    return (
        df.select("doc_id").dropDuplicates(["doc_id"])
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_transitions"), F.lit(0).cast("bigint")).alias(
                "n_transitions"
            ),
            (
                -F.col("__s").cast("double")
                / (F.col("n_transitions").cast("double") * F.lit(10000.0))
            ).alias("avg_neg_logp_bits"),
        )
    )
