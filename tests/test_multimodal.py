"""Multimodal plumbing tests: asset schema, mapInPandas batch shape,
determinism of the fake-decode path across partitionings, and operator
composition (resize → features, frame-sample → features)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.operators.multimodal import (
    ASSET_SCHEMA,
    IMAGE_FEATURE_SCHEMA,
    extract_image_features,
    fake_decode_rgb,
    resize_images,
    sample_frames,
    synthesize_assets,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def assets(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return synthesize_assets(docs).cache()


def _names_types(schema):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def test_asset_schema_and_modality_split(assets):
    # column expressions carry tighter nullability than the declared
    # schema; names and types must match exactly
    assert _names_types(assets.schema) == _names_types(ASSET_SCHEMA)
    by_type = {
        r["media_type"]: r["n"]
        for r in assets.groupBy(F.col("media_meta.media_type").alias("media_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(by_type) == {"image", "audio", "video"}
    # metadata is typed per modality
    audio = assets.filter(F.col("media_meta.media_type") == "audio")
    assert audio.filter(F.col("media_meta.sample_rate_hz").isNull()).count() == 0
    assert audio.filter(F.col("media_meta.width").isNotNull()).count() == 0


def test_metadata_only_query_prunes_payload(assets, tmp_path):
    """Column pruning: a metadata aggregate over the parquet asset table
    must not read the binary payload (ReadSchema excludes `content`)."""
    path = str(tmp_path / "assets")
    assets.write.parquet(path)
    df = (
        assets.sparkSession.read.parquet(path)
        .groupBy("media_meta.media_type")
        .agg(F.sum("media_meta.duration_ms").alias("total_ms"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan


def test_fake_decode_is_deterministic_and_shaped():
    a = fake_decode_rgb(b"payload", 16, 8)
    b = fake_decode_rgb(b"payload", 16, 8)
    c = fake_decode_rgb(b"other", 16, 8)
    assert a.shape == (8, 16, 3) and a.dtype.name == "uint8"
    assert (a == b).all()
    assert (a != c).any()


def test_image_features_schema_and_determinism(assets):
    feats = extract_image_features(assets)
    assert feats.schema == IMAGE_FEATURE_SCHEMA
    rows1 = {r["asset_id"]: r for r in feats.collect()}
    # only image assets produce rows
    n_images = assets.filter(F.col("media_meta.media_type") == "image").count()
    assert len(rows1) == n_images > 0
    # repartitioning must not change any value (mapInPandas batch shape
    # and the fake decoder are both partition-independent)
    rows2 = {
        r["asset_id"]: r
        for r in extract_image_features(assets.repartition(13)).collect()
    }
    for aid, r in rows1.items():
        assert rows2[aid]["phash64"] == r["phash64"]
        assert rows2[aid]["mean_r"] == r["mean_r"]
        assert 0.0 <= r["mean_r"] <= 255.0


def test_resize_then_features_composes(assets):
    resized = resize_images(assets, 32, 24)
    assert resized.schema == ASSET_SCHEMA
    metas = resized.select("media_meta.width", "media_meta.height").distinct().collect()
    assert [(m["width"], m["height"]) for m in metas] == [(32, 24)]
    # payload really is 32×24×3 raw RGB
    sizes = resized.select(F.length("content").alias("n")).distinct().collect()
    assert [s["n"] for s in sizes] == [32 * 24 * 3]
    feats = extract_image_features(resized)
    assert feats.count() == resized.count()


def test_frame_sampling_fanout_and_features(assets):
    frames = sample_frames(assets)
    vids = assets.filter(F.col("media_meta.media_type") == "video").select(
        "asset_id", F.col("media_meta.n_frames").alias("nf")
    )
    expect = sum((r["nf"] + 1) // 2 for r in vids.collect())
    assert frames.count() == expect > 0
    # sampled frames are image-typed and feature-extractable per frame
    assert frames.select("media_meta.media_type").distinct().collect()[0][0] == "image"
    per_frame = extract_image_features(
        frames.withColumn(
            "asset_id", F.col("asset_id") * 1000 + F.col("frame_idx")
        )
    )
    assert per_frame.count() == expect
    # frames of one video decode to different arrays (payload varies by index)
    one = frames.orderBy("asset_id", "frame_idx").limit(2).collect()
    assert one[0]["content"] != one[1]["content"]


def test_audio_segmentation_covers_duration_exactly(assets):
    from ehr_data_pipeline_spark.operators.multimodal import segment_audio

    segs = segment_audio(assets)
    rows = segs.collect()
    assert rows, "no audio assets segmented"
    by_asset: dict[int, list] = {}
    for r in rows:
        assert r["media_meta"]["media_type"] == "audio"
        assert r["end_ms"] - r["start_ms"] == r["media_meta"]["duration_ms"]
        assert r["n_samples"] == (r["end_ms"] - r["start_ms"]) * 16000 // 1000
        by_asset.setdefault(r["asset_id"], []).append(r)
    durations = {
        r["asset_id"]: r["media_meta"]["duration_ms"]
        for r in assets.filter(
            F.col("media_meta.media_type") == "audio"
        ).collect()
    }
    for aid, seg_rows in by_asset.items():
        seg_rows.sort(key=lambda r: r["segment_idx"])
        # contiguous half-open windows tiling [0, duration) exactly
        assert seg_rows[0]["start_ms"] == 0
        for a, b in zip(seg_rows, seg_rows[1:]):
            assert a["end_ms"] == b["start_ms"]
        assert seg_rows[-1]["end_ms"] == durations[aid]
        # every full window is segment_ms; only the last may be shorter
        for r in seg_rows[:-1]:
            assert r["end_ms"] - r["start_ms"] == 1000


def test_audio_segment_payloads_differ_per_segment(assets):
    from ehr_data_pipeline_spark.operators.multimodal import segment_audio

    segs = segment_audio(assets)
    two = (
        segs.groupBy("asset_id")
        .agg(
            F.countDistinct("segment_idx").alias("n"),
            F.countDistinct(F.md5("content")).alias("n_payloads"),
        )
        .collect()
    )
    for r in two:
        assert r["n_payloads"] == r["n"]  # fake codec varies per segment


def test_audio_segmentation_skips_nonpositive_durations(spark):
    # regression: sequence(0, -1) descends, fabricating a phantom
    # [-1000, 0) window for a zero-length asset
    from ehr_data_pipeline_spark.operators.multimodal import segment_audio

    rows = spark.createDataFrame(
        [(1, bytearray(b"x"), ("audio", "wav", None, None, None, 16000, 0)),
         (2, bytearray(b"y"), ("audio", "wav", None, None, None, 16000, 1500))],
        "asset_id long, content binary, media_meta struct<media_type:string,"
        "format:string,width:int,height:int,n_frames:int,sample_rate_hz:int,"
        "duration_ms:long>",
    )
    got = segment_audio(rows).collect()
    assert {r["asset_id"] for r in got} == {2}
    assert all(r["start_ms"] >= 0 and r["end_ms"] > r["start_ms"] for r in got)
