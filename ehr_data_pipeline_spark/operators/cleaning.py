"""Corpus-cleaning operators for LLM-training-data pipelines: C4-style
line-level filtering and corpus-wide exact paragraph deduplication.

Both are classic web-corpus curation stages (Raffel et al. 2020, "Exploring
the Limits of Transfer Learning" §2.2 — the C4 cleaning heuristics) that sit
between raw ingestion and the document-level dedup/quality families in
``text_dedup`` / ``text_analysis``.

Scale design (100 TB):

- :func:`c4_line_filter` is a single narrow pass — split / array filter /
  rejoin, all native column expressions inside whole-stage codegen. No
  shuffle, no UDF; it composes with a parquet scan's column pruning (only
  the id and text columns are read).
- :func:`paragraph_dedup` is the corpus-WIDE stage: one explode (narrow),
  one window partitioned by paragraph content (a single shuffle whose key
  cardinality is the distinct-paragraph count and whose groups are the
  duplicate multiplicities — tiny), and one groupBy on the document id to
  reassemble. Cost is linear in corpus paragraphs; nothing is pairwise.
  Skewed paragraphs (an empty or boilerplate paragraph repeated millions
  of times) bound each window group by its duplicate count only — the
  group is scanned once to rank, never joined against itself.

The reference pipeline has no corpus-cleaning operators (SURVEY §2.7 gap
list); shapes here follow the Spark-first design, not a port.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# C4 keeps a line only when it ends in a terminal punctuation mark
# (period, exclamation, question mark, or closing quotation mark).
TERMINAL_PUNCT_RE = r'[.!?"]$'

# C4 drops the whole page when any of these appear (case-insensitive for
# the word markers; literal for the brace, which marks leaked code).
DEFAULT_DOC_DROP_MARKERS: tuple[str, ...] = ("lorem ipsum",)
DEFAULT_DOC_DROP_LITERALS: tuple[str, ...] = ("{",)

# C4 drops any LINE containing this word (boilerplate "enable javascript"
# banners), independent of the page-level markers.
LINE_DROP_WORD = "javascript"

# C4 keeps a line only when it has at least this many whitespace words.
MIN_LINE_WORDS = 5


def c4_line_flags(line: Column) -> Column:
    """True iff a single line survives the C4 line rules: ends in terminal
    punctuation, has at least ``MIN_LINE_WORDS`` whitespace words, and
    does not mention the javascript banner word. Exposed separately so
    audits can count which rule rejected a line."""
    return (
        line.rlike(TERMINAL_PUNCT_RE)
        & (F.size(F.split(F.trim(line), r"\s+")) >= MIN_LINE_WORDS)
        & ~F.lower(line).contains(LINE_DROP_WORD)
    )


def c4_line_filter(df: DataFrame, min_sentences: int = 3) -> DataFrame:
    """C4-style cleaning (Raffel et al. 2020 §2.2) of ``text``: keep only
    lines that end in a terminal punctuation mark, contain >=
    ``MIN_LINE_WORDS`` words, and don't mention javascript; then drop the
    whole document if it contains any page-level marker ('lorem ipsum', a
    curly brace) or if the cleaned text has fewer than ``min_sentences``
    sentences (terminal-punctuation marks).

    Returns one row per SURVIVING document: ``doc_id``, ``clean_text``
    (kept lines rejoined with newlines), and audit counts ``n_lines``,
    ``n_kept_lines``, ``n_sentences``. NULL text behaves as '' (the
    normalize_text contract) and is dropped by the sentence floor.

    One narrow pass, no shuffle, no UDF — every rule is a native
    split/filter/regexp expression with an exact DuckDB twin, so the
    full cleaned output is hash-checkable cross-engine."""
    text = F.coalesce(F.col("text"), F.lit(""))
    lines = F.split(text, "\n")
    kept = F.filter(lines, c4_line_flags)
    clean = F.array_join(kept, "\n")
    marker_hit = F.lit(False)
    for m in DEFAULT_DOC_DROP_MARKERS:
        marker_hit = marker_hit | F.lower(text).contains(m.lower())
    for m in DEFAULT_DOC_DROP_LITERALS:
        marker_hit = marker_hit | text.contains(m)
    return (
        df.select(
            F.col("doc_id"),
            clean.alias("clean_text"),
            F.size(lines).cast("bigint").alias("n_lines"),
            F.size(kept).cast("bigint").alias("n_kept_lines"),
            F.size(
                F.regexp_extract_all(clean, F.lit(r"[.!?]"), F.lit(0))
            ).cast("bigint").alias("n_sentences"),
            marker_hit.alias("__dropped"),
        )
        .filter(~F.col("__dropped") & (F.col("n_sentences") >= min_sentences))
        .drop("__dropped")
    )


def _page_words(text_col: str) -> Column:
    """Distinct lowercase words of a page — the unit the blocklist rule
    matches on. Word = maximal [a-z0-9]+ run of the lowered text, so
    matching is whole-word ('class' never triggers a blocklisted 'ass')
    and case-insensitive; NULL text behaves as '' (no words)."""
    return F.array_distinct(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]+")
    )


def blocklist_hits(text_col: str, blocklist: "tuple[str, ...]") -> Column:
    """Sorted array of the blocklisted words a page contains (possibly
    empty) — exposed separately so audits and the filter share one
    expression. The blocklist travels as a literal array INSIDE the
    plan (the broadcast-a-small-dim pattern in its cheapest form: C4's
    published list is ~400 words, a few KB shipped with every task),
    so the rule stays a narrow zero-shuffle codegen pass like the line
    rules. Sorted so downstream hashes are partition-independent."""
    block = F.array(*[F.lit(w.lower()) for w in blocklist])
    return F.array_sort(F.array_intersect(_page_words(text_col), block))


def c4_blocklist_filter(df: DataFrame, blocklist: "tuple[str, ...]") -> DataFrame:
    """C4's page-level blocklist rule (Raffel et al. 2020 §2.2: pages
    containing any word on a blocklist are removed entirely — the
    'bad words' filter that runs alongside the structural line rules in
    :func:`c4_line_filter`): drop every document whose text contains
    any blocklisted WORD (whole-word, case-insensitive — see
    :func:`_page_words`); all other rows pass through with their
    columns untouched, plus ``n_words`` (the page's distinct word
    count) for downstream audits. Multi-word PHRASES are substring
    semantics, not word semantics — :func:`c4_line_filter` drops pages on
    those (``DEFAULT_DOC_DROP_MARKERS``).

    One narrow pass, no shuffle, no UDF; per-word audit counts come
    from :func:`c4_blocklist_audit` over the same shared expression."""
    return df.filter(
        F.size(blocklist_hits("text", tuple(blocklist))) == 0
    ).withColumn(
        "n_words",
        F.size(F.array_remove(_page_words("text"), "")).cast("bigint"),
    )


def c4_blocklist_audit(df: DataFrame, blocklist: "tuple[str, ...]") -> DataFrame:
    """Per-rule audit of the blocklist filter: for EVERY blocklisted
    word, the number of pages it would flag (0 for words the corpus
    never mentions — each configured rule reports, hit or not) and the
    total pages dropped by the whole list. Plan: the shared
    :func:`blocklist_hits` array explodes to (word, page) pairs — at
    most |blocklist| per page — then one groupBy whose key cardinality
    is |blocklist|; the zero-hit rows come from a broadcast left join
    of the blocklist frame, the n_pages_dropped denominator from a
    scalar cross-joined count. Linear in corpus pages, output bounded
    by the blocklist size."""
    spark = df.sparkSession
    hits = df.select(
        blocklist_hits("text", tuple(blocklist)).alias("__hits")
    )
    dropped = hits.filter(F.size("__hits") > 0).agg(
        F.count(F.lit(1)).alias("n_pages_dropped")
    )
    per_word = (
        hits.select(F.explode("__hits").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
    words = spark.createDataFrame(
        [(w.lower(),) for w in blocklist], "word string"
    )
    return (
        words.join(per_word, "word", "left")
        .select(
            "word",
            F.coalesce(F.col("n_pages"), F.lit(0)).cast("bigint")
            .alias("n_pages"),
        )
        .crossJoin(F.broadcast(dropped))
    )


def paragraph_dedup(df: DataFrame, sep: str = "\n\n") -> DataFrame:
    """Corpus-wide exact paragraph deduplication: every occurrence of a
    paragraph after its FIRST (ordered by (id, position-in-document)) is
    removed, and each document's text is reassembled from its surviving
    paragraphs in original order. The C4 pipeline does this at
    three-sentence-span granularity; ``text_dedup.substring_dedup`` is
    the k-gram-span variant — this is the paragraph-granularity stage,
    with a much cheaper plan (no gaps-and-islands).

    ``sep`` is a LITERAL separator (quoted into the split regex) and is
    reused to rejoin the survivors. Returns one row per input document —
    a document whose every paragraph is a repeat survives with
    ``clean_text = ''`` and ``n_kept = 0`` (the caller decides whether
    to drop empties), so corpus row counts are preserved through the
    stage.

    Plan: posexplode (narrow) -> row_number over a window PARTITIONED BY
    the paragraph content (one shuffle; group size = duplicate
    multiplicity) -> groupBy(id) reassembly via sort_array over
    (idx, paragraph) structs — order is deterministic under any
    partitioning, never collect_list arrival order. Winner selection by
    (id, idx) is a total order, so the output is unique and
    hash-checkable cross-engine."""
    ranked = _ranked_paragraphs(df, sep)
    return _reassemble(ranked, sep, keep=F.col("rn") == 1)


def _split_paragraphs(sep: str) -> Column:
    text = F.coalesce(F.col("text"), F.lit(""))
    # \Q..\E literal-quotes the separator in both Java regex and RE2
    return F.split(text, "\\Q" + sep + "\\E")


def _ranked_paragraphs(df: DataFrame, sep: str) -> DataFrame:
    """(doc_id, idx, para, rn): every paragraph occurrence with its
    first-occurrence rank — rn == 1 marks the (doc_id, idx)-minimal
    occurrence of each distinct paragraph."""
    p = df.select(
        F.col("doc_id"),
        F.posexplode(_split_paragraphs(sep)).alias("idx", "para"),
    )
    w = Window.partitionBy("para").orderBy("doc_id", "idx")
    return p.withColumn("rn", F.row_number().over(w))


def _reassemble(ranked: DataFrame, sep: str, keep: Column) -> DataFrame:
    """Per-document reassembly of the paragraphs flagged by ``keep``,
    in original position order (sort_array over (idx, para) structs —
    deterministic under any partitioning)."""
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paragraphs"),
        F.sum(keep.cast("bigint")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("idx", "para")))
                ),
                lambda s: s["para"],
            ),
            sep,
        ).alias("clean_text"),
    )


def build_paragraph_index(df: DataFrame, sep: str = "\n\n") -> DataFrame:
    """Distinct md5 fingerprints of every paragraph in the corpus — the
    historical state :func:`paragraph_dedup_against_index` dedups new
    batches against. Fingerprints only (never text), so at 100 TB the
    index is a fraction of corpus size; written bucketed by fingerprint
    (sinks.write_bucketed) the incremental join prunes to co-located
    buckets with no shuffle of the history — the same index contract as
    ``text_dedup.dedup_against_index``."""
    return (
        df.select(F.explode(_split_paragraphs(sep)).alias("para"))
        .select(F.md5("para").alias("pfp"))
        .distinct()
    )


def paragraph_dedup_against_index(
    batch: DataFrame, index: DataFrame, sep: str = "\n\n"
) -> "tuple[DataFrame, DataFrame]":
    """Incremental paragraph dedup — the continuous-ingest cadence of
    :func:`paragraph_dedup` (the same batch/incremental symmetry as the
    exact/minhash/semantic dedup families): a batch paragraph survives
    iff it is the batch's first occurrence (by (id, position)) AND its
    fingerprint is absent from the historical index. Returns
    ``(cleaned_docs, new_index_entries)`` — append the latter to the
    index table. Every input document yields an output row (a fully
    seen-before document survives with ``clean_text = ''``), so batch
    row counts are preserved through the stage.

    Plan: one content-keyed window shuffle within the batch, one
    fingerprint join against the index (bucket-pruned when the index is
    bucketed by fingerprint), one id-keyed reassembly — the history is
    never rewritten or windowed."""
    ranked = _ranked_paragraphs(batch, sep).withColumn(
        "pfp", F.md5("para")
    )
    seen = index.select("pfp").distinct().withColumn("__seen", F.lit(True))
    j = ranked.join(seen, "pfp", "left")
    keep = (F.col("rn") == 1) & F.col("__seen").isNull()
    cleaned = _reassemble(j, sep, keep=keep)
    new_entries = j.filter(keep).select("pfp")
    return cleaned, new_entries
