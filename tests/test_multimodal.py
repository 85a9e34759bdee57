"""Multimodal plumbing tests: schema, Arrow batch shape, determinism, the
decode stub contract, and blob-column pruning for metadata-only plans."""

import pytest
from pyspark.sql import functions as F

from otel_semconvprocessor_spark.operators.multimodal import (
    decode_and_featurize,
    frame_sample_plan,
    synthetic_media,
)


@pytest.fixture(scope="module")
def media(spark):
    return synthetic_media(spark, 60).cache()


def test_media_schema(media):
    d = dict(media.dtypes)
    assert d["bytes"] == "binary"
    assert d["meta"].startswith("struct<mime:string,width:int")
    assert media.count() == 60
    assert media.select("media_id").distinct().count() == 60


def test_featurize_fake(media):
    out = decode_and_featurize(media, fake=True)
    rows = out.collect()
    assert len(rows) == 60
    for r in rows:
        assert len(r["feature"]) == 8
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
        assert r["resized_width"] == 224 and r["resized_height"] == 224
        assert r["n_frames_sampled"] == (4 if r["kind"] == "video" else 1)
        assert r["n_bytes"] == 256  # 8 * 32-char md5, utf-8
    # deterministic across runs
    a = sorted((r["media_id"], tuple(r["feature"])) for r in rows)
    b = sorted(
        (r["media_id"], tuple(r["feature"]))
        for r in decode_and_featurize(media.repartition(7), fake=True).collect()
    )
    assert a == b


def test_featurize_exotic_formats_stay_stubbed(media):
    """synthetic_media's payloads are NOT decodable (hash bytes tagged jpeg/
    mp4/wav) — fake=False must hit the retained NotImplementedError stub, not
    silently fabricate features."""
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        decode_and_featurize(media, fake=False).collect()


def test_real_decode_round_trip(spark):
    """media_from_ids encodes REAL PNG/WAV blobs executor-side; fake=False
    decodes them back — dims/duration/mean level must equal the closed-form
    parameter derivations (the same arithmetic the DuckDB oracle uses)."""
    from otel_semconvprocessor_spark.operators.multimodal import media_from_ids

    ids = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    media = media_from_ids(ids)
    out = decode_and_featurize(media, fake=False, id_col="doc_id").collect()
    assert len(out) == 40
    for r in out:
        i = int(r["media_id"])
        if i % 2 == 0:
            assert r["kind"] == "image"
            assert r["decoded_width"] == 8 + i % 24
            assert r["decoded_height"] == 8 + i % 16
            assert r["decoded_duration_ms"] is None
            assert r["mean_level"] == pytest.approx((i % 256) / 255.0)
            assert r["feature"][0] == pytest.approx((i % 256) / 255.0, abs=1e-6)
        else:
            assert r["kind"] == "audio"
            assert r["decoded_width"] is None and r["decoded_height"] is None
            frames = 400 + (i % 50) * 40
            assert r["decoded_duration_ms"] == frames * 1000 // 8000
            assert r["mean_level"] == pytest.approx(((i % 1000) * 16) / 32768.0)


def test_real_decode_corrupt_blob_fails_loudly(spark):
    """A PNG-signature payload with garbage body must raise (strict decoder),
    never yield fabricated stats."""
    from otel_semconvprocessor_spark.operators.media_codecs import PNG_SIGNATURE

    df = spark.createDataFrame(
        [("x1", "image", PNG_SIGNATURE + b"\x00" * 16)],
        "media_id string, kind string, bytes binary",
    )
    with pytest.raises(Exception, match="png|truncated|ValueError"):
        decode_and_featurize(df, fake=False).collect()


def test_frame_sample_plan_prunes_blob(media, tmp_path):
    # write to parquet so column pruning is observable in the scan
    path = str(tmp_path / "media")
    media.write.parquet(path)
    df = media.sparkSession.read.parquet(path)
    plan_df = frame_sample_plan(df, every_ms=10000)
    rows = plan_df.collect()
    assert all(r["sample_ts_ms"][0] == 0 for r in rows)
    physical = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "bytes" not in physical  # blob column pruned from the scan
    assert "ReadSchema" in physical
