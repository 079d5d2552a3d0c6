"""Adversarial edge-corpus oracle sweep.

ADVICE r5 found a latent cardinality mismatch (empty docs vanishing from
the doc_substring_dedup oracle) that the stock sf corpora could never
trip. This suite generalizes that discovery: every documents-only
registry query re-runs against its own DuckDB oracle on a corpus built
of nothing but degenerate documents — empty text, whitespace-only, NULL
text, NULL lang/source, a single token, one 5000-char token, massive
repeats, duplicated 8-token runs, unicode (accents/CJK/emoji),
punctuation-only, digits — so a Spark-vs-DuckDB divergence on any edge
(tokenizer behavior on empties, NULL group keys, unicode lower(),
cardinality of empty groups) fails here before a driver corpus ever
contains one.

The query subset is computed from the oracles themselves (references the
documents view and nothing else), so new documents-only queries join the
sweep automatically.
"""

from __future__ import annotations

import math
import re

import duckdb
import pytest

from ehr_data_pipeline_spark.queries import REGISTRY
from tests.oracle_utils import (
    compare_spark_vs_oracle,
    prefetch_spark_arrow,
    unwrap_prefetched,
)

_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "embeddings", "documents",
)


def _oracle_tables(sql: str) -> set[str]:
    """The tables an oracle references (whole-word, case-insensitive)."""
    o = sql.lower()
    return {t for t in _TABLES if re.search(rf"\b{t}\b", o)}


def _oracles_reading(pred) -> list[str]:
    """Registry names (in registry order) whose oracle's table set
    satisfies ``pred`` — each sweep below auto-discovers its queries."""
    return [
        n for n, s in REGISTRY.items()
        if pred(_oracle_tables(s.oracle))
    ]


DOC_ONLY = _oracles_reading(lambda ts: ts == {"documents"})

_RUN = "r1 r2 r3 r4 r5 r6 r7 r8"


def _edge_rows() -> list[tuple]:
    rows = [
        (0, "", "en", "edge"),
        (1, "   ", "en", "edge"),
        (2, "\t\n \t", "en", "edge"),
        (3, None, "en", "edge"),
        (4, "token", "en", "edge"),
        (5, " ".join(["a"] * 16), "en", "edge"),
        (6, _RUN + " tail six", "en", "edge"),
        (7, "head seven " + _RUN, "en", "edge"),
        (8, " ".join(f"w{i % 50}" for i in range(500)), "en", "edge"),
        (9, "café naïve 北京 emoji 😀 test", "fr", "edge"),
        (10, "!!! ??? ... ,,,", "en", "edge"),
        (11, "123 456 789", "en", "edge"),
        (12, "The THE the tHe", "en", "edge"),
        (13, "null lang doc", None, "edge"),
        (14, "null source doc", "en", None),
        (15, "x" * 5000, "en", "edge"),
    ]
    srcs = ("web", "wiki", "books", "news")
    for i in range(16, 41):
        rows.append(
            (
                i,
                f"filler text document {i} with some shared tokens "
                "hash join stream and a few more words to score",
                "en",
                srcs[i % 4],
            )
        )
    # NULL text on every media modality (doc_id % 3 routes image/audio/
    # video), not just the image one
    rows += [(43, None, "en", "edge"), (44, None, None, None)]
    # Non-ASCII beyond row 9 (VERDICT r12 #4 — the \p{L}/\p{N} byte
    # pretokenizer and every other text oracle must agree cross-engine
    # on accents, CJK, fullwidth/Nl/No digits, NBSP, and contractions
    # adjacent to accents).
    rows += [
        (45, "Ångström's re-éxamination – 'tis naïve café", "fr", "edge"),
        (46, "東京タワー ｔｅｓｔ １２３ and x² plus Ⅻ", "ja", "edge"),
        (47, "психика тест nbsp ٣٤ digits Ψυχή", "ru", "edge"),
    ]
    # \x0B (vertical tab) joined the corpus in r14 (VERDICT r13 #5):
    # Java's default \s includes it, RE2's does not, so the oracles'
    # raw-text whitespace regexes now spell the Java class out as
    # [ \t\n\x0B\f\r] — these rows are the regression tripwire for
    # that fix (VT between tokens, VT at the edges, VT-only plus a
    # space so both engines still normalize to '').
    rows += [
        (48, "alpha\x0bbeta gamma\x0b\x0bdelta", "en", "edge"),
        (49, "\x0bleading and trailing\x0b", "en", "edge"),
        (50, "\x0b \x0b", "en", "edge"),
    ]
    return [
        (doc_id, text, lang, src, len(text) if text is not None else None)
        for doc_id, text, lang, src in rows
    ]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    # single-FILE parquet (pyarrow, explicit schema) — the stock testdata
    # layout both engines read; a Spark directory-write would be opaque
    # to the DuckDB view, and pandas would silently float the nullable
    # n_chars column
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("edge_corpus")
    rows = _edge_rows()
    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    pq.write_table(table, str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def edge_con(edge_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{edge_dir}/documents.parquet'"
    )
    yield con
    con.close()


def test_sweep_covers_the_expected_surface():
    # the sweep must keep covering the text/dedup/media families — if this
    # shrinks, an oracle started referencing a second table and silently
    # left the edge sweep
    assert len(DOC_ONLY) >= 35
    for must in (
        "doc_substring_dedup", "doc_exact_dedup_stats", "doc_minhash_lsh_pairs",
        "doc_gopher_quality_report", "media_image_features", "doc_bm25_search",
    ):
        assert must in DOC_ONLY


@pytest.fixture(scope="module")
def edge_doc_results(spark, edge_dir):
    # all sweep queries run CONCURRENTLY once per module (guide §2.6);
    # each test below just compares its own prefetched frame
    return prefetch_spark_arrow(
        {n: (lambda n=n: REGISTRY[n].fn(spark, edge_dir)) for n in DOC_ONLY}
    )


@pytest.mark.parametrize("name", DOC_ONLY)
def test_edge_corpus_matches_oracle(edge_con, edge_doc_results, name):
    compare_spark_vs_oracle(
        unwrap_prefetched(edge_doc_results, name), edge_con,
        REGISTRY[name].oracle, name=f"{name}[edge]",
    )


# ---------------------------------------------------------------------------
# Events edge corpus: NULL ts/user/type/value/props, NaN/±Inf/extreme values,
# duplicate event_ids, same-user same-ts ties, pre-epoch and far-future
# timestamps, malformed props JSON — against every events-only oracle.
# ---------------------------------------------------------------------------


EVENTS_ONLY = _oracles_reading(lambda ts: ts == {"events"})


def _edge_events() -> tuple[list, list]:
    from datetime import datetime

    def ts(s):
        return datetime.fromisoformat(s)

    rows = [
        # degenerate rows
        (1000, None, 1, "click", 1.0, '{"k": 1}'),          # NULL ts
        (1001, ts("2024-01-01T00:00:00"), None, "click", 2.0, '{"k": 2}'),  # NULL user
        (1002, ts("2024-01-01T01:00:00"), 2, None, 3.0, '{"k": 3}'),        # NULL type
        (1003, ts("2024-01-01T02:00:00"), 2, "purchase", None, '{"k": 4}'), # NULL value
        (1004, ts("2024-01-01T03:00:00"), 3, "click", 4.0, None),           # NULL props
        (1005, ts("2024-01-01T04:00:00"), 3, "click", 5.0, "{not json"),    # bad json
        (1006, ts("2024-01-01T05:00:00"), 3, "click", 6.0, ""),             # empty props
        (1007, ts("2024-01-01T06:00:00"), 4, "", 7.0, "[]"),                # empty type
        (1008, ts("2024-01-01T07:00:00"), 4, "click", float("nan"), '{"k": 5}'),
        (1009, ts("2024-01-01T08:00:00"), 4, "click", float("inf"), '{"k": 6}'),
        (1010, ts("2024-01-01T09:00:00"), 4, "click", float("-inf"), '{"k": 7}'),
        (1011, ts("2024-01-01T10:00:00"), 5, "click", -273.15, '{"k": 8}'),
        (1012, ts("2024-01-01T11:00:00"), 5, "click", 0.0, '{"k": 9}'),
        (1013, ts("2024-01-01T12:00:00"), 5, "click", 1e308, '{"k": 10}'),
        # measurement-domain boundary: the largest doubles strictly below
        # 1e12 are IN-domain and must aggregate; they cannot round up to
        # 1e12 in DECIMAL(18,6) because the double ulp at 1e12 (~1.2e-4)
        # exceeds the rounding threshold (5e-7) — pinned here on both
        # engines. 1e12 itself is out-of-domain (guard is strict <).
        (1021, ts("2024-01-01T13:00:00"), 5, "click",
         math.nextafter(1e12, 0), '{"k": 18}'),
        (1022, ts("2024-01-01T14:00:00"), 5, "click",
         -math.nextafter(1e12, 0), '{"k": 19}'),
        (1023, ts("2024-01-01T15:00:00"), 5, "click", 1e12, '{"k": 20}'),
        (1014, ts("1969-12-31T23:59:59"), 6, "signup", 1.5, '{"k": 11}'),   # pre-epoch
        (1015, ts("2200-06-15T12:00:00"), 6, "click", 2.5, '{"k": 12}'),    # far future
        # duplicate event_id, distinct payloads
        (1016, ts("2024-01-02T00:00:00"), 7, "click", 10.0, '{"k": 13}'),
        (1016, ts("2024-01-02T00:30:00"), 7, "purchase", 11.0, '{"k": 14}'),
        # same user, same ts: window/session tiebreak stress
        (1018, ts("2024-01-02T01:00:00"), 8, "click", 12.0, '{"k": 15}'),
        (1019, ts("2024-01-02T01:00:00"), 8, "purchase", 13.0, '{"k": 16}'),
        (1020, ts("2024-01-02T01:00:00"), 8, "error", 14.0, '{"k": 17}'),
    ]
    # a regular substrate so funnels/retention/rollups have structure:
    # 10 users x signup->click->purchase->error over three days
    types = ("signup", "click", "purchase", "error")
    eid = 2000
    for day in (1, 2, 3):
        for u in range(1, 11):
            for i, t in enumerate(types):
                rows.append(
                    (
                        eid,
                        ts(f"2024-01-0{day}T{6 + i:02d}:{u:02d}:00"),
                        u,
                        t,
                        round(u * 7.5 + i * 3.25 + day, 2),
                        f'{{"k": {eid % 100}}}',
                    )
                )
                eid += 1
    return rows


@pytest.fixture(scope="module")
def edge_events_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("edge_events")
    rows = _edge_events()
    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(table, str(d / "events.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def edge_events_con(edge_events_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{edge_events_dir}/events.parquet'"
    )
    yield con
    con.close()


def test_events_sweep_covers_the_expected_surface():
    assert len(EVENTS_ONLY) >= 20
    for must in (
        "user_sessions", "events_hourly", "events_value_psi_drift",
        "event_user_hll", "user_event_type_scd2_merge", "events_signup_funnel",
    ):
        assert must in EVENTS_ONLY


@pytest.fixture(scope="module")
def edge_events_results(spark, edge_events_dir):
    return prefetch_spark_arrow(
        {n: (lambda n=n: REGISTRY[n].fn(spark, edge_events_dir))
         for n in EVENTS_ONLY}
    )


@pytest.mark.parametrize("name", EVENTS_ONLY)
def test_edge_events_matches_oracle(edge_events_con, edge_events_results, name):
    compare_spark_vs_oracle(
        unwrap_prefetched(edge_events_results, name), edge_events_con,
        REGISTRY[name].oracle, name=f"{name}[edge]",
    )


# ---------------------------------------------------------------------------
# Relational edge corpus: degenerate lineitem/orders — NULL join/group keys,
# orphan keys on both sides, duplicate keys (join fanout), NULL measures and
# dates, extreme-but-in-domain decimals (|v| < 1e12 per the measurement
# contract: the business columns are schema-domain, so the adversarial axis
# here is keys/NULLs/duplicates/extremes, not junk doubles), empty-string
# and NULL enum values, pre-epoch and far-future dates — swept against every
# oracle that references ONLY these two tables. Plus the two degenerate
# cardinalities the verdict called out: EMPTY tables and ONE-ROW tables.
# The events sweep caught 15 real divergences on its first run; this is the
# same auto-discovery trick pointed at the relational family.
# ---------------------------------------------------------------------------


RELATIONAL_ONLY = _oracles_reading(
    lambda ts: ts and ts <= {"lineitem", "orders"}
)


def _ts(s):
    from datetime import datetime

    return datetime.fromisoformat(s) if s is not None else None


def _edge_lineitem() -> list[tuple]:
    # (orderkey, partkey, suppkey, linenumber, qty, price, disc, tax,
    #  returnflag, linestatus, shipdate)
    return [
        # NULLs, one column at a time
        (None, 1, 1, 1, 1.0, 100.0, 0.05, 0.02, "N", "O", _ts("1995-01-01T00:00:00")),
        (1, None, 1, 2, 2.0, 200.0, 0.05, 0.02, "N", "O", _ts("1995-01-02T00:00:00")),
        (1, 1, None, 3, 3.0, 300.0, 0.05, 0.02, "A", "F", _ts("1995-01-03T00:00:00")),
        (1, 1, 1, 4, None, 400.0, 0.05, 0.02, "R", "F", _ts("1995-01-04T00:00:00")),
        (1, 1, 1, 5, 5.0, None, 0.05, 0.02, "N", "O", _ts("1995-01-05T00:00:00")),
        (1, 1, 1, 6, 6.0, 600.0, None, 0.02, "N", "O", _ts("1995-01-06T00:00:00")),
        (1, 1, 1, 7, 7.0, 700.0, 0.05, None, "N", "O", _ts("1995-01-07T00:00:00")),
        (1, 1, 1, 8, 8.0, 800.0, 0.05, 0.02, None, "O", _ts("1995-01-08T00:00:00")),
        (1, 1, 1, 9, 9.0, 900.0, 0.05, 0.02, "N", None, _ts("1995-01-09T00:00:00")),
        (1, 1, 1, 10, 10.0, 1000.0, 0.05, 0.02, "N", "O", None),  # NULL shipdate
        # empty-string enums (distinct from NULL in both engines)
        (2, 2, 2, 1, 11.0, 1100.0, 0.0, 0.0, "", "", _ts("1996-06-15T00:00:00")),
        # duplicate (orderkey, linenumber) — duplicate-key stress
        (3, 3, 3, 1, 12.0, 1200.0, 0.1, 0.08, "A", "F", _ts("1994-03-01T00:00:00")),
        (3, 3, 3, 1, 13.0, 1300.0, 0.1, 0.08, "A", "F", _ts("1994-03-01T00:00:00")),
        # duplicate orderkey, join fanout against duplicate orders rows
        (4, 4, 4, 1, 14.0, 1400.0, 0.02, 0.01, "R", "F", _ts("1993-07-01T00:00:00")),
        (4, 4, 4, 2, 15.0, 1500.0, 0.02, 0.01, "R", "F", _ts("1993-07-02T00:00:00")),
        # orphan orderkey (no orders row)
        (999, 5, 5, 1, 16.0, 1600.0, 0.03, 0.01, "N", "O", _ts("1997-01-01T00:00:00")),
        # extreme-but-in-domain decimals: +/-9.99e11, 0, sub-cent 1e-7
        (5, 6, 6, 1, 999_000_000_000.0, 999_000_000_000.0, 0.0, 0.0,
         "N", "O", _ts("1995-05-01T00:00:00")),
        (5, 6, 6, 2, -999_000_000_000.0, -999_000_000_000.0, 0.0, 0.0,
         "N", "O", _ts("1995-05-02T00:00:00")),
        (5, 6, 6, 3, 0.0, 0.0, 0.0, 0.0, "N", "O", _ts("1995-05-03T00:00:00")),
        (5, 6, 6, 4, 1e-7, 1e-7, 1.0, -1.0, "N", "O", _ts("1995-05-04T00:00:00")),
        # negative quantity / discount > 1 / negative tax (in-domain junk)
        (6, 7, 7, 1, -24.5, 500.0, 1.5, -0.5, "A", "F", _ts("1992-01-01T00:00:00")),
        # pre-epoch and far-future ship dates
        (7, 8, 8, 1, 17.0, 1700.0, 0.04, 0.02, "N", "O", _ts("1900-01-01T00:00:00")),
        (7, 8, 8, 2, 18.0, 1800.0, 0.04, 0.02, "N", "O", _ts("2200-12-31T00:00:00")),
        # a regular substrate so percentiles/rollups have structure
        *[
            (10 + i, 10 + (i % 5), 10 + (i % 3), 1 + (i % 4),
             float(i + 1), 100.0 * (i + 1), 0.01 * (i % 10), 0.01 * (i % 8),
             ("N", "A", "R")[i % 3], ("O", "F")[i % 2],
             _ts(f"1995-{1 + i % 12:02d}-{1 + i % 28:02d}T00:00:00"))
            for i in range(24)
        ],
    ]


def _edge_orders() -> list[tuple]:
    # (orderkey, custkey, orderstatus, totalprice, orderdate, orderpriority)
    return [
        (None, 1, "O", 100.0, _ts("1995-01-01T00:00:00"), "1-URGENT"),   # NULL key
        (1, None, "O", 200.0, _ts("1995-01-02T00:00:00"), "2-HIGH"),     # NULL cust
        (2, 2, None, 300.0, _ts("1995-01-03T00:00:00"), "3-MEDIUM"),     # NULL status
        (3, 3, "F", None, _ts("1994-03-01T00:00:00"), "4-NOT SPECIFIED"),  # NULL price
        (4, 4, "F", 400.0, None, "5-LOW"),                               # NULL date
        # duplicate orderkey (fanout with lineitem's duplicate key 4)
        (4, 4, "F", 500.0, _ts("1993-07-01T00:00:00"), "5-LOW"),
        # empty-string enums; NULL priority
        (5, 5, "", 600.0, _ts("1995-05-01T00:00:00"), ""),
        (6, 6, "O", 700.0, _ts("1992-01-01T00:00:00"), None),
        # orphan custkey-less order far in the future / past
        (7, 7, "O", 800.0, _ts("2200-12-31T00:00:00"), "1-URGENT"),
        (8, 7, "O", 900.0, _ts("1900-01-01T00:00:00"), "2-HIGH"),
        # same customer, same orderdate: window tiebreak stress
        (9, 8, "O", 1000.0, _ts("1995-06-01T00:00:00"), "3-MEDIUM"),
        (10, 8, "F", 1100.0, _ts("1995-06-01T00:00:00"), "3-MEDIUM"),
        (11, 8, "O", 1200.0, _ts("1995-06-01T00:00:00"), "1-URGENT"),
        # extreme totalprice
        (12, 9, "O", 999_000_000_000.0, _ts("1995-07-01T00:00:00"), "2-HIGH"),
        (13, 9, "O", -999_000_000_000.0, _ts("1995-07-02T00:00:00"), "2-HIGH"),
        # regular substrate matching the lineitem substrate's orderkeys
        *[
            (10 + i, 1 + (i % 6), ("O", "F", "P")[i % 3],
             250.0 * (i + 1),
             _ts(f"1995-{1 + i % 12:02d}-{1 + i % 28:02d}T00:00:00"),
             ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i % 5])
            for i in range(24)
        ],
    ]


def _write_relational(d, li_rows, o_rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    lc = list(zip(*li_rows)) if li_rows else [[] for _ in range(11)]
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(lc[0], pa.int64()),
            "l_partkey": pa.array(lc[1], pa.int64()),
            "l_suppkey": pa.array(lc[2], pa.int64()),
            "l_linenumber": pa.array(lc[3], pa.int32()),
            "l_quantity": pa.array(lc[4], pa.float64()),
            "l_extendedprice": pa.array(lc[5], pa.float64()),
            "l_discount": pa.array(lc[6], pa.float64()),
            "l_tax": pa.array(lc[7], pa.float64()),
            "l_returnflag": pa.array(lc[8], pa.string()),
            "l_linestatus": pa.array(lc[9], pa.string()),
            "l_shipdate": pa.array(lc[10], pa.timestamp("us")),
        }),
        str(d / "lineitem.parquet"),
    )
    oc = list(zip(*o_rows)) if o_rows else [[] for _ in range(6)]
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(oc[0], pa.int64()),
            "o_custkey": pa.array(oc[1], pa.int64()),
            "o_orderstatus": pa.array(oc[2], pa.string()),
            "o_totalprice": pa.array(oc[3], pa.float64()),
            "o_orderdate": pa.array(oc[4], pa.timestamp("us")),
            "o_orderpriority": pa.array(oc[5], pa.string()),
        }),
        str(d / "orders.parquet"),
    )
    return str(d)


_REL_CORPORA = {
    "mixed": (_edge_lineitem, _edge_orders),
    "single_row": (
        # index 10 IS the empty-string-enum row (11 is the first
        # duplicate-key row — the old slice exercised that one instead,
        # ADVICE r7)
        lambda: _edge_lineitem()[10:11],
        lambda: _edge_orders()[7:8],      # the NULL-priority row
    ),
    "empty": (lambda: [], lambda: []),
}


@pytest.fixture(scope="module", params=sorted(_REL_CORPORA))
def rel_corpus(request, tmp_path_factory):
    li_fn, o_fn = _REL_CORPORA[request.param]
    d = tmp_path_factory.mktemp(f"edge_rel_{request.param}")
    dir_ = _write_relational(d, li_fn(), o_fn())
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dir_}/{t}.parquet'")
    yield request.param, dir_, con
    con.close()


def test_relational_sweep_covers_the_expected_surface():
    assert len(RELATIONAL_ONLY) >= 15
    for must in (
        "q1_pricing_summary", "customer_running_order_totals",
        "customer_order_gaps", "rollup_order_stats",
        "lineitem_quantity_percentiles", "duplicate_group_stats",
    ):
        assert must in RELATIONAL_ONLY


@pytest.fixture(scope="module")
def rel_results(spark, rel_corpus):
    corpus, dir_, con = rel_corpus
    return prefetch_spark_arrow(
        {n: (lambda n=n: REGISTRY[n].fn(spark, dir_)) for n in RELATIONAL_ONLY}
    )


@pytest.mark.parametrize("name", RELATIONAL_ONLY)
def test_edge_relational_matches_oracle(rel_corpus, rel_results, name):
    corpus, dir_, con = rel_corpus
    compare_spark_vs_oracle(
        unwrap_prefetched(rel_results, name), con,
        REGISTRY[name].oracle, name=f"{name}[{corpus}]",
    )


# ---------------------------------------------------------------------------
# Embeddings edge corpus: NULL vectors, zero vectors, NaN/±Inf/out-of-domain
# components, WRONG-LENGTH vectors (the silent divergence: Spark's zip_with
# nulls the whole fold while DuckDB's list_sum skips the NULL elements and
# returns a partial dot product), empty lists, NULL component inside an
# otherwise-valid vector, NULL vec_id/label, duplicated identical rows, and
# a valid substrate with engineered near-duplicate directions — swept
# against every oracle that references ONLY the embeddings table. The
# valid-vector guard (functions/measurement.py) is the contract under test.
# ---------------------------------------------------------------------------


EMBEDDINGS_ONLY = _oracles_reading(lambda ts: ts == {"embeddings"})


def _vec(i: int, dim: int = 64) -> list[float]:
    # deterministic valid vector; label-clustered directions so kNN and
    # centroids have structure
    return [((i * 31 + j * 7) % 17 - 8) * 0.25 + (i % 4) for j in range(dim)]


def _edge_embeddings() -> list[tuple]:
    rows = [(i, _vec(i), i % 4) for i in range(30)]
    rows += [
        # near-duplicate pair: same direction, different scale (cosine 1.0)
        (50, [2.0 * x for x in _vec(3)], 3),
        # degenerate rows — every one must be EXCLUDED by the guard
        (100, None, 0),                                   # NULL vector
        (101, [0.0] * 64, 1),                             # zero norm
        (102, [float("nan")] + _vec(7)[1:], 2),           # NaN component
        (103, [float("inf")] + _vec(8)[1:], 3),           # +Inf component
        (104, [-float("inf")] + _vec(9)[1:], 0),          # -Inf component
        (105, [1e30] + _vec(10)[1:], 1),                  # finite, out of domain
        (106, _vec(11)[:32], 2),                          # short (dim 32)
        (107, _vec(12) + [1.0], 3),                       # long (dim 65)
        (108, [], 0),                                     # empty list
        (109, [None] + _vec(13)[1:], 1),                  # NULL component
        (None, _vec(14), 2),                              # NULL id, valid vector
        (110, _vec(15), None),                            # NULL label, valid
        # duplicated identical row (same id, same vector, same label)
        (111, _vec(16), 0),
        (111, _vec(16), 0),
    ]
    return rows


@pytest.fixture(scope="module")
def edge_emb_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("edge_embeddings")
    rows = _edge_embeddings()
    cols = list(zip(*rows))
    table = pa.table(
        {
            "vec_id": pa.array(cols[0], pa.int64()),
            "embedding": pa.array(cols[1], pa.list_(pa.float32())),
            "label": pa.array(cols[2], pa.int32()),
        }
    )
    pq.write_table(table, str(d / "embeddings.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def edge_emb_con(edge_emb_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{edge_emb_dir}/embeddings.parquet'"
    )
    yield con
    con.close()


def test_embeddings_sweep_covers_the_expected_surface():
    assert len(EMBEDDINGS_ONLY) >= 7
    for must in (
        "emb_knn_topk", "emb_label_centroids", "emb_ivf_knn",
        "emb_cosine_neardup_pairs", "emb_lsh_neardup_pairs",
    ):
        assert must in EMBEDDINGS_ONLY


@pytest.fixture(scope="module")
def edge_emb_results(spark, edge_emb_dir):
    return prefetch_spark_arrow(
        {n: (lambda n=n: REGISTRY[n].fn(spark, edge_emb_dir))
         for n in EMBEDDINGS_ONLY}
    )


@pytest.mark.parametrize("name", EMBEDDINGS_ONLY)
def test_edge_embeddings_matches_oracle(edge_emb_con, edge_emb_results, name):
    compare_spark_vs_oracle(
        unwrap_prefetched(edge_emb_results, name), edge_emb_con,
        REGISTRY[name].oracle, name=f"{name}[edge]",
    )


# ---------------------------------------------------------------------------
# Star-schema edge corpus: the multi-table relational queries (star joins,
# pivots, quartiles, top-k, pagerank) against degenerate DIMENSIONS too —
# NULL join keys on both sides, orphan keys in both directions, duplicate
# identical dimension rows (join fanout), NULL/empty enum values, extreme
# in-domain balances/prices — composed with the degenerate lineitem/orders
# from the relational sweep. Auto-discovers every oracle whose references
# are a subset of the seven TPC-H tables but NOT covered by the
# lineitem/orders-only sweep above.
# ---------------------------------------------------------------------------

_STAR_TABLES = ("region", "nation", "customer", "supplier", "part",
                "orders", "lineitem")


STAR_ONLY = _oracles_reading(
    lambda ts: ts and ts <= set(_STAR_TABLES)
    and not ts <= {"lineitem", "orders"}
)


def _edge_dims() -> dict[str, list[tuple]]:
    return {
        # (r_regionkey, r_name)
        "region": [
            (0, "AMERICA"), (1, "ASIA"), (2, None), (None, "NULLKEY"),
            (1, "ASIA"),  # duplicate identical row
        ],
        # (n_nationkey, n_name, n_regionkey)
        "nation": [
            (0, "UNITED STATES", 0), (1, "CHINA", 1), (2, "JAPAN", 1),
            (3, None, 0),            # NULL name
            (4, "ORPHAN", 99),       # orphan region
            (5, "NOREGION", None),   # NULL region key
            (None, "NULLNATION", 0),  # NULL nation key
        ],
        # (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
        "customer": [
            (1, "alpha", 0, 100.0, "BUILDING"),
            (2, "beta", 1, 7500.0, "AUTOMOBILE"),
            (3, "gamma", 2, None, "BUILDING"),          # NULL balance
            (4, "delta", 99, -999.99, "MACHINERY"),     # orphan nation
            (5, "epsilon", None, 999_000_000_000.0, ""),  # NULL nation, extreme, empty seg
            (6, None, 0, -999_000_000_000.0, None),     # NULL name/segment
            (7, "eta", 1, 0.0, "BUILDING"),
            (8, "theta", 2, 8000.0, "HOUSEHOLD"),
            (9, "iota", 0, 7200.0, "BUILDING"),
            (None, "nullkey", 0, 50.0, "BUILDING"),     # NULL cust key
            (9, "iota", 0, 7200.0, "BUILDING"),         # duplicate identical
        ],
        # (s_suppkey, s_name, s_nationkey, s_acctbal)
        "supplier": [
            (1, "s-one", 0, 10.0), (2, "s-two", 1, 20.0),
            (3, "s-three", 2, None),                    # NULL balance
            (4, "s-four", 99, -30.0),                   # orphan nation
            (5, "s-five", None, 999_000_000_000.0),     # NULL nation, extreme
            (6, None, 0, 40.0),                         # NULL name
            (None, "s-null", 1, 50.0),                  # NULL supp key
            (10, "s-ten", 0, 60.0), (11, "s-eleven", 1, 70.0),
            (12, "s-twelve", 2, 80.0),
            (10, "s-ten", 0, 60.0),                     # duplicate identical
        ],
        # (p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)
        "part": [
            (1, "part one", "Brand#11", "PROMO BRUSHED", 5, 100.0),
            (2, "part two", "Brand#22", "STANDARD POLISHED", 10, 200.0),
            (3, "part three", None, "PROMO ANODIZED", None, None),
            (4, "part four", "Brand#11", None, 15, -50.0),
            (5, "part five", "", "ECONOMY BURNISHED", 0, 999_000_000_000.0),
            (6, None, "Brand#33", "PROMO PLATED", 20, 300.0),
            (None, "nullpart", "Brand#44", "SMALL PLATED", 25, 400.0),
            (10, "part ten", "Brand#11", "PROMO BRUSHED", 5, 500.0),
            (11, "part eleven", "Brand#22", "LARGE POLISHED", 30, 600.0),
            (12, "part twelve", "Brand#33", "PROMO TIN", 35, 700.0),
            (13, "part thirteen", "Brand#44", "MEDIUM BRASS", 40, 800.0),
            (14, "part fourteen", "Brand#55", "ECONOMY TIN", 45, 900.0),
            (10, "part ten", "Brand#11", "PROMO BRUSHED", 5, 500.0),  # dup
        ],
    }


@pytest.fixture(scope="module")
def star_corpus(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("edge_star")
    _write_relational(d, _edge_lineitem(), _edge_orders())
    dims = _edge_dims()
    schemas = {
        "region": {"r_regionkey": pa.int32(), "r_name": pa.string()},
        "nation": {"n_nationkey": pa.int32(), "n_name": pa.string(),
                   "n_regionkey": pa.int32()},
        "customer": {"c_custkey": pa.int64(), "c_name": pa.string(),
                     "c_nationkey": pa.int32(), "c_acctbal": pa.float64(),
                     "c_mktsegment": pa.string()},
        "supplier": {"s_suppkey": pa.int64(), "s_name": pa.string(),
                     "s_nationkey": pa.int32(), "s_acctbal": pa.float64()},
        "part": {"p_partkey": pa.int64(), "p_name": pa.string(),
                 "p_brand": pa.string(), "p_type": pa.string(),
                 "p_size": pa.int32(), "p_retailprice": pa.float64()},
    }
    for t, schema in schemas.items():
        cols = list(zip(*dims[t]))
        pq.write_table(
            pa.table({name: pa.array(cols[i], typ)
                      for i, (name, typ) in enumerate(schema.items())}),
            str(d / f"{t}.parquet"),
        )
    con = duckdb.connect()
    for t in _STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    yield str(d), con
    con.close()


def test_star_sweep_covers_the_expected_surface():
    assert len(STAR_ONLY) >= 20
    for must in (
        "q5_nation_revenue", "nation_priority_pivot", "nation_year_profit",
        "customer_balance_quartiles", "nation_trade_pagerank",
        "late_sole_supplier_ranking",
    ):
        assert must in STAR_ONLY


@pytest.fixture(scope="module")
def star_results(spark, star_corpus):
    dir_, con = star_corpus
    return prefetch_spark_arrow(
        {n: (lambda n=n: REGISTRY[n].fn(spark, dir_)) for n in STAR_ONLY}
    )


@pytest.mark.parametrize("name", STAR_ONLY)
def test_edge_star_matches_oracle(star_corpus, star_results, name):
    dir_, con = star_corpus
    compare_spark_vs_oracle(
        unwrap_prefetched(star_results, name), con,
        REGISTRY[name].oracle, name=f"{name}[star]",
    )


# ---------------------------------------------------------------------------
# Cross-family stragglers: the two registry queries whose oracles span TWO
# table families sit outside the per-family auto-discovery above — cover
# them explicitly with combined degenerate corpora so NO oracle-backed
# registry entry escapes adversarial coverage (the remaining three are the
# FHIR e2e, swept by the dirty-fixture goldens, and the two recall reports,
# whose constant floor oracles are meaningless on degenerate data).
# ---------------------------------------------------------------------------


def test_edge_events_plus_region_projection(spark, edge_events_dir):
    """events_projected_aligned (events + region): schema alignment must
    hold when the region dim itself is degenerate (NULL keys/names,
    duplicate rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "r_regionkey": pa.array([0, 1, 2, None, 1], pa.int32()),
            "r_name": pa.array(["AMERICA", "ASIA", None, "NULLKEY", "ASIA"],
                               pa.string()),
        }),
        f"{edge_events_dir}/region.parquet",
    )
    con = duckdb.connect()
    for t in ("events", "region"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{edge_events_dir}/{t}.parquet'"
        )
    try:
        spec = REGISTRY["events_projected_aligned"]
        df = spec.fn(spark, edge_events_dir)
        compare_spark_vs_oracle(
            df, con, spec.oracle, name="events_projected_aligned[edge]"
        )
    finally:
        con.close()


def test_edge_hybrid_rrf_on_combined_corpus(spark, tmp_path_factory):
    """doc_hybrid_rrf_search (documents + embeddings): lexical BM25 over
    the degenerate documents PLUS semantic scoring over the degenerate
    embeddings, fused — both families' junk at once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("edge_hybrid")
    rows = _edge_rows()
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }),
        str(d / "documents.parquet"),
    )
    erows = _edge_embeddings()
    ecols = list(zip(*erows))
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ecols[0], pa.int64()),
            "embedding": pa.array(ecols[1], pa.list_(pa.float32())),
            "label": pa.array(ecols[2], pa.int32()),
        }),
        str(d / "embeddings.parquet"),
    )
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    try:
        spec = REGISTRY["doc_hybrid_rrf_search"]
        df = spec.fn(spark, str(d))
        compare_spark_vs_oracle(
            df, con, spec.oracle, name="doc_hybrid_rrf_search[edge]"
        )
    finally:
        con.close()


# ---------------------------------------------------------------------------
# Empty-corpus sweeps: the relational empty-table variant caught Spark's
# no-rows-over-empty-input grouping-sets semantics diverging from the SQL
# standard; run the documents/events/embeddings families against EMPTY
# tables too — empty-group cardinality (global agg 1 row vs groupBy 0),
# min/max-derived spines, iterative fixed points and sketch finalization
# are all shapes that only degenerate this way.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def empty_family_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("edge_empty_family")
    pq.write_table(
        pa.table({
            "doc_id": pa.array([], pa.int64()),
            "text": pa.array([], pa.string()),
            "lang": pa.array([], pa.string()),
            "source": pa.array([], pa.string()),
            "n_chars": pa.array([], pa.int64()),
        }),
        str(d / "documents.parquet"),
    )
    pq.write_table(
        pa.table({
            "event_id": pa.array([], pa.int64()),
            "ts": pa.array([], pa.timestamp("us")),
            "user_id": pa.array([], pa.int64()),
            "event_type": pa.array([], pa.string()),
            "value": pa.array([], pa.float64()),
            "props": pa.array([], pa.string()),
        }),
        str(d / "events.parquet"),
    )
    pq.write_table(
        pa.table({
            "vec_id": pa.array([], pa.int64()),
            "embedding": pa.array([], pa.list_(pa.float32())),
            "label": pa.array([], pa.int32()),
        }),
        str(d / "embeddings.parquet"),
    )
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    yield str(d), con
    con.close()


@pytest.fixture(scope="module")
def empty_family_results(spark, empty_family_dir):
    dir_, con = empty_family_dir
    names = sorted(set(DOC_ONLY) | set(EVENTS_ONLY) | set(EMBEDDINGS_ONLY))
    return prefetch_spark_arrow(
        {n: (lambda n=n: REGISTRY[n].fn(spark, dir_)) for n in names}
    )


@pytest.mark.parametrize(
    "name", sorted(set(DOC_ONLY) | set(EVENTS_ONLY) | set(EMBEDDINGS_ONLY))
)
def test_empty_corpus_matches_oracle(empty_family_dir, empty_family_results, name):
    dir_, con = empty_family_dir
    compare_spark_vs_oracle(
        unwrap_prefetched(empty_family_results, name), con,
        REGISTRY[name].oracle, name=f"{name}[empty]",
    )
