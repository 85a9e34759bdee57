"""Structured Streaming variant of the pipeline.

The reference is a push-based stream (OTLP receiver -> processor -> exporters,
config.yaml:215-232); the graft's primary mode is batch, but the same
declarative plan runs unchanged as a stream: file-source pages -> extraction
UDF -> mapping rewrite and lang lookup (expressions, no join) -> rule cascade
(versioned rules gated by literal schema_url comparisons, no join) -> the
batch run's sink rows in a sink=/warc_day=/lang= partitioned file sink.  The
parquet file source + file sink pair gives exactly-once per-file processing
through the checkpoint, which is the streaming twin of plans/checkpoint.py's
per-chunk manifest resume.

Also provides the watermarked windowed metrics aggregation (the streaming
form of the M1/M2 counters): counts per (event-time day window, rule_id) with
late-data tolerance — ``applyInPandasWithState``-style custom state is not
needed because the reference has no cross-record state beyond counters
(SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import Config
from ..operators.route import SINK_CODEC, SINK_PARTITIONS, routed_rows, slim_for_sink
from ..plans.pipeline import build_normalized
from ..sources.pages import PAGES_SCHEMA

__all__ = ["stream_pages", "start_streaming_pipeline", "windowed_rule_counts"]


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    return spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)


def start_streaming_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    cfg: Config | None = None,
) -> StreamingQuery:
    """File-source -> partitioned file-sink with checkpointed exactly-once.
    The ``availableNow`` trigger drains the current backlog then stops
    (batch-like runs, incremental across restarts).  The transform chain is
    the batch one (plans/pipeline.build_normalized): every stage is
    stateless or stream-static, so one definition serves both, and the sink
    rows are the batch ones (``route.routed_rows``; tested
    column-for-column equal in tests/test_streaming.py), written with the
    batch files' ``SINK_CODEC``."""
    normalized = build_normalized(spark, stream_pages(spark, input_dir), cfg)
    return (
        routed_rows(slim_for_sink(normalized)).writeStream.format("parquet")
        .option("path", f"{out_dir}/sinks")
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .option("compression", SINK_CODEC)
        .partitionBy(*SINK_PARTITIONS)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def windowed_rule_counts(normalized: DataFrame) -> DataFrame:
    """Watermarked event-time aggregation: rule-hit counts per day window,
    tolerating 1 day of lateness before state cleanup."""
    return (
        normalized.withWatermark("warc_ts", "1 day")
        .groupBy(F.window("warc_ts", "1 day").alias("w"), F.col("rule_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("day"), "rule_id", "n")
    )
