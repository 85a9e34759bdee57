"""Exporter-side parity pieces (SURVEY.md §2.1).

  S2  debug exporter     sampled peek (10 rows then 1/100,
                         config.yaml:199-202)
  S3  file exporter      rotation == bounded file size: maxRecordsPerFile
                         (config.yaml:204-207, 10MB rotation)
  S8  passthrough stages metrics/logs pipelines traverse unchanged
                         (processor.go:327-375)
  M3  duration histogram the reference's processing_duration buckets
                         (metadata.yaml:54-62) over per-chunk wall times
  M8  errors counter     declared-but-never-incremented in the reference
                         (metadata.yaml:64-74); here it counts rows whose
                         extraction produced no span name
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "sample_hash",
    "debug_sample",
    "write_with_rotation",
    "passthrough",
    "DURATION_BUCKETS_MS",
    "duration_histogram",
    "extraction_error_count",
]


def sample_hash(key, modulus: int, hash_fn: str = "xxhash64"):
    """Deterministic bucket in [0, modulus) for 1/N sampling.  ``xxhash64``
    (default) is the fast JVM path; ``md5`` derives the bucket from the first
    6 hex chars of md5 — slower but reproducible in ANY engine with md5
    (DuckDB oracle re-derives it with nibble arithmetic)."""
    col = key if not isinstance(key, str) else F.col(key)
    if hash_fn == "md5":
        return F.pmod(
            F.conv(F.substring(F.md5(col.cast("string")), 1, 6), 16, 10).cast("bigint"),
            F.lit(modulus),
        )
    return F.pmod(F.xxhash64(col), F.lit(modulus))


def debug_sample(df: DataFrame, sampling_thereafter: int = 100, key: str | None = None, *,
                 hash_fn: str = "xxhash64", ordered_initial: bool = False) -> DataFrame:
    """Debug-exporter sampling: 10 rows up front (the reference's
    ``sampling_initial``), then ~one of every ``sampling_thereafter``
    (config.yaml:199-202).

    The reference counts rows in arrival order; a distributed engine has no
    arrival order, so 'thereafter' is a deterministic 1/N hash sample on
    ``key`` (default: first column) — same density, no global sort, no
    shuffle beyond the final dedup.  ``ordered_initial`` makes the 'initial'
    rows deterministic too (the 10 smallest keys — a
    TakeOrdered of k rows, not a global sort), which is what the oracle
    compares; the default keeps the reference's cheaper arbitrary-k peek."""
    key = key or df.columns[0]
    sampled = df.filter(sample_hash(key, sampling_thereafter, hash_fn) == 0)
    initial = (
        df.orderBy(F.col(key).asc()).limit(10)
        if ordered_initial
        else df.limit(10)
    )
    return initial.unionByName(sampled).dropDuplicates([key])


def write_with_rotation(df: DataFrame, path: str, max_records_per_file: int = 100_000) -> None:
    """S3: file exporter with 'rotation' — in columnar land rotation is a
    bound on output file size, enforced by maxRecordsPerFile."""
    df.write.mode("overwrite").option("maxRecordsPerFile", str(max_records_per_file)).parquet(path)


def passthrough(df: DataFrame) -> DataFrame:
    """S8: metrics/logs pipelines traverse the processor unchanged
    (processor.go:327-343, 346-375)."""
    return df


# metadata.yaml:58-59
DURATION_BUCKETS_MS = [0.01, 0.05, 0.1, 0.5, 1.0, 5.0, 10.0, 50.0, 100.0]


def duration_histogram(durations: DataFrame) -> DataFrame:
    """M3: histogram of the ``duration_ms`` column over the reference's
    bucket boundaries; returns (bucket_le, n) with +inf as the last bucket."""
    d = F.col("duration_ms")
    bucket = F.lit(float("inf"))
    for le in reversed(DURATION_BUCKETS_MS):
        bucket = F.when(d <= le, F.lit(le)).otherwise(bucket)
    return (
        durations.select(bucket.alias("bucket_le"))
        .groupBy("bucket_le")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def extraction_error_count(extracted: DataFrame) -> DataFrame:
    """M8: rows whose parse produced no span name (the extraction-null
    analogue of the reference's declared-only errors counter)."""
    return extracted.agg(
        F.sum(F.when(F.col("name").isNull(), 1).otherwise(0)).alias("errors"),
        F.count(F.lit(1)).alias("rows"),
    )
