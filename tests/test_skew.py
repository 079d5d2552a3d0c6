"""Salted-join equivalence: the skew-mitigated plan must be row-for-row
identical to the plain equi-join it replaces."""

from __future__ import annotations

from pyspark.sql import functions as F

from ehr_data_pipeline_spark.operators.skew import (
    salted_join,
    skewed_key_stats,
    with_salt,
)
from ehr_data_pipeline_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_salted_inner_join_equals_plain_join(spark):
    events = load_table(spark, SF, "events")
    dim = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_total"))
    plain = events.join(dim, "user_id")
    salted = salted_join(
        events, dim, "user_id", n_salts=8, skewed_unique_col="event_id"
    )
    assert _canon(salted) == _canon(plain)


def test_salted_left_join_preserves_unmatched_rows(spark):
    events = load_table(spark, SF, "events").limit(200)
    # dim covering only half the users -> unmatched left rows must survive
    dim = (
        events.select("user_id").distinct()
        .filter(F.col("user_id") % 2 == 0)
        .withColumn("flag", F.lit(1))
    )
    plain = events.join(dim, "user_id", "left")
    salted = salted_join(
        events, dim, "user_id", how="left", n_salts=4,
        skewed_unique_col="event_id",
    )
    assert _canon(salted) == _canon(plain)


def test_with_salt_deterministic_and_bounded(spark):
    events = load_table(spark, SF, "events").limit(100)
    s1 = [r["__salt"] for r in with_salt(events, "event_id", 8).collect()]
    s2 = [r["__salt"] for r in with_salt(events, "event_id", 8).collect()]
    assert s1 == s2
    assert all(0 <= s < 8 for s in s1)
    assert len(set(s1)) > 1  # actually spreads


def test_skewed_key_stats_shares_sum_to_one(spark):
    events = load_table(spark, SF, "events")
    stats = skewed_key_stats(events, ["event_type"]).collect()
    assert 0 < len(stats) <= 10
    assert abs(sum(r["share"] for r in stats) - 1.0) < 1e-9  # 5 types < 10
    assert stats[0]["n_rows"] >= stats[-1]["n_rows"]
