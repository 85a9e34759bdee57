"""Exporter parity tests: debug sampling, rotation, passthrough, duration
histogram buckets, extraction error counter."""

import os

from otel_semconvprocessor_spark.operators.exporters import (
    DURATION_BUCKETS_MS,
    debug_sample,
    duration_histogram,
    extraction_error_count,
    passthrough,
    write_with_rotation,
)


def test_debug_sample_density(spark):
    df = spark.range(10_000).withColumnRenamed("id", "url")
    out = debug_sample(df, sampling_thereafter=100)
    n = out.count()
    # ~10 initial + ~1% of 10k, deduped
    assert 50 <= n <= 250


def test_write_with_rotation(spark, tmp_path):
    df = spark.range(10_000).coalesce(1)
    path = str(tmp_path / "rot")
    write_with_rotation(df, path, max_records_per_file=2_500)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 4  # 10k rows / 2.5k per file
    assert spark.read.parquet(path).count() == 10_000


def test_passthrough_identity(spark):
    df = spark.range(5)
    assert passthrough(df) is df


def test_duration_histogram(spark):
    rows = [(0.005,), (0.04,), (0.3,), (4.0,), (99.0,), (500.0,)]
    df = spark.createDataFrame(rows, "duration_ms double")
    got = {r["bucket_le"]: r["n"] for r in duration_histogram(df).collect()}
    assert got[0.01] == 1
    assert got[0.05] == 1
    assert got[0.5] == 1
    assert got[5.0] == 1
    assert got[100.0] == 1
    assert got[float("inf")] == 1
    assert set(got) <= set(DURATION_BUCKETS_MS) | {float("inf")}


def test_extraction_error_count(spark):
    df = spark.createDataFrame([("a",), (None,), ("b",), (None,)], "name string")
    r = extraction_error_count(df).collect()[0]
    assert r["errors"] == 2 and r["rows"] == 4
