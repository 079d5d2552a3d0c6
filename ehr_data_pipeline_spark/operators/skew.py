"""Skew mitigation for joins whose key distribution is heavy-tailed.

AQE's skew-join split (`spark.sql.adaptive.skewJoin.enabled`, on in
`session.ENGINE_CONF`) handles moderate skew by splitting oversized
shuffle partitions, but it only helps sort-merge joins and only when a
skewed partition is detected at runtime. For pathological keys (one
patient/user with 10⁸ rows at 100 TB) the classic manual remedy is key
salting, provided here as a reusable operator:

- the SKEWED side tags each row with a deterministic salt in [0, n)
  derived from hashing the whole row's unique column — spreading one hot
  key over n shuffle partitions;
- the OTHER side is replicated n× (explode over the salt range) so every
  (key, salt) combination finds its match;
- the join runs on (key, salt), after which the salt column is dropped.

Semantics are exactly the plain equi-join's (inner/left), verified by an
equivalence test. Cost model: replication multiplies the small side by n
— use for joins where the non-skewed side is modest (dims too big to
broadcast but replicable) and n is small (8-32). The reference pipeline
(single-machine pandas) has no notion of this; it exists purely for the
100 TB design point (SURVEY §2.7 scale extensions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, unique_col: str, n_salts: int) -> DataFrame:
    """Deterministic per-row salt in [0, n_salts): xxhash64 of a unique
    column, folded with pmod. Deterministic (rerun/reshard-stable), unlike
    `rand()`-based salting which breaks retried-task idempotence."""
    return df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(unique_col)), F.lit(n_salts))
    )


def replicate_over_salts(df: DataFrame, n_salts: int) -> DataFrame:
    """Cross the DataFrame with the salt range [0, n_salts) — the
    replicated build side of a salted join. explode of a literal
    sequence: narrow, no shuffle."""
    return df.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str | list[str],
    how: str = "inner",
    n_salts: int = 16,
    skewed_unique_col: str | None = None,
) -> DataFrame:
    """Equi-join that survives pathological key skew: salt the skewed
    side, replicate the other side n_salts×, join on keys + salt, drop
    the salt. Output equals ``skewed.join(other, on, how)`` row-for-row.

    ``skewed_unique_col`` seeds the deterministic salt; default is the
    first join key (fine — pmod(hash) spreads a HOT key's rows only if
    the salt source varies within the key, so pass a high-cardinality
    column like a primary key for real spreading)."""
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt_src = skewed_unique_col or keys[0]
    s = with_salt(skewed, salt_src, n_salts)
    r = replicate_over_salts(other, n_salts)
    joined = s.join(r, [*keys, "__salt"], how)
    return joined.drop("__salt")


def skewed_key_stats(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Skew diagnosis: the 10 heaviest keys with their share of all
    rows — the number you look at before choosing n_salts. One LAZY
    plan: the scalar total is a broadcast one-row cross join over the
    same counts aggregate (an eager ``df.count()`` here would run a
    separate Spark job — and a second full scan — at call time for
    every plan-inspection caller). Total order: count desc, then keys
    asc NULLS LAST (ANSI/DuckDB default, so oracle comparisons agree on
    tie-breaks involving a null key group)."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").cast("bigint").alias("__total_rows"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            "share",
            F.col("n_rows").cast("double") / F.col("__total_rows").cast("double"),
        )
        .drop("__total_rows")
        .orderBy(
            F.col("n_rows").desc(),
            *[F.col(c).asc_nulls_last() for c in key_cols],
        )
        .limit(10)
    )
