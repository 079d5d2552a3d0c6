"""PSI drift laws: zero on identical snapshots, positive and localized
on shifted ones, non-negative per-bucket terms."""

from __future__ import annotations

from ehr_data_pipeline_spark.operators.quality import psi_drift


def test_psi_zero_on_identical_snapshots(spark):
    a = spark.createDataFrame([(float(i % 50),) for i in range(500)], "v double")
    out = psi_drift(a, a, "v", 0.0, 100.0, n_buckets=10)
    rows = out.collect()
    assert all(r["psi_term_nano"] == 0 for r in rows)  # exactly zero
    assert len(rows) == 12  # full spine incl. under/overflow


def test_psi_detects_shift_and_localizes(spark):
    a = spark.createDataFrame([(float(i % 30),) for i in range(600)], "v double")
    b = spark.createDataFrame([(float(i % 30) + 60.0,) for i in range(600)], "v double")
    out = psi_drift(a, b, "v", 0.0, 100.0, n_buckets=10).collect()
    total = sum(r["psi_term"] for r in out)
    assert total > 0.25  # "significant shift" by the standard rule
    by_bucket = {r["bucket"]: r for r in out}
    # mass left buckets 0-2 and arrived in 6-8: both ends contribute
    assert by_bucket[0]["psi_term"] > 0
    assert by_bucket[6]["psi_term"] > 0


def test_psi_terms_never_negative(spark):
    # (p-q) and ln(p/q) always share a sign, so every term >= 0 — the
    # quantization must not flip that
    a = spark.createDataFrame([(float((i * 7) % 90),) for i in range(300)], "v double")
    b = spark.createDataFrame([(float((i * 13) % 70),) for i in range(450)], "v double")
    out = psi_drift(a, b, "v", 0.0, 100.0, n_buckets=20).collect()
    assert all(r["psi_term_nano"] >= 0 for r in out)
    assert sum(r["psi_term"] for r in out) > 0


def test_psi_counts_out_of_range_in_edge_buckets(spark):
    a = spark.createDataFrame([(-5.0,), (50.0,), (150.0,)], "v double")
    b = spark.createDataFrame([(50.0,)], "v double")
    out = {r["bucket"]: r for r in psi_drift(a, b, "v", 0.0, 100.0, 10).collect()}
    assert out[-1]["n_a"] == 1 and out[10]["n_a"] == 1
    assert out[5]["n_a"] == 1 and out[5]["n_b"] == 1
