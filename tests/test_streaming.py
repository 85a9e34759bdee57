"""Structured Streaming tests: batch/stream parity, exactly-once incremental
processing across restarts, and the watermarked windowed aggregation."""

import pytest
from pyspark.sql import functions as F

from otel_semconvprocessor_spark.plans.pipeline import build_normalized
from otel_semconvprocessor_spark.sources.pages import generate_pages
from otel_semconvprocessor_spark.streaming.pipeline import (
    start_streaming_pipeline,
    stream_pages,
    windowed_rule_counts,
)

N = 300


@pytest.fixture(scope="module")
def staged_pages(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages_in"))
    generate_pages(spark, N).write.mode("overwrite").parquet(path)
    return path


def test_streaming_matches_batch(spark, staged_pages, tmp_path, chunk_codecs):
    """Full-row parity: every output column the batch pipeline produces
    (including the lang lookup's lang_name and the attrs map) must come out
    of the stream identically, in files with the batch sink codec."""
    from otel_semconvprocessor_spark.operators.route import routed_rows, slim_for_sink

    out = str(tmp_path / "out")
    q = start_streaming_pipeline(spark, staged_pages, out)
    q.awaitTermination(300)
    got = spark.read.parquet(f"{out}/sinks")
    assert got.count() == N
    assert chunk_codecs(f"{out}/sinks") == {"ZSTD"}

    batch = routed_rows(slim_for_sink(build_normalized(spark, spark.read.parquet(staged_pages))))
    assert set(batch.columns) == set(got.columns)
    cols = sorted(batch.columns)

    def as_map(df):
        rows = {}
        for r in df.select(*cols).collect():
            d = r.asDict()
            d["attrs"] = tuple(sorted((d["attrs"] or {}).items()))
            rows[d["url"]] = tuple(d[c] for c in cols if c != "attrs") + (d["attrs"],)
        return rows

    assert as_map(batch) == as_map(got)


def test_streaming_incremental_exactly_once(spark, staged_pages, tmp_path):
    out = str(tmp_path / "out2")
    q = start_streaming_pipeline(spark, staged_pages, out)
    q.awaitTermination(300)
    first = spark.read.parquet(f"{out}/sinks").count()
    assert first == N

    # restart with NO new files: nothing reprocessed
    q2 = start_streaming_pipeline(spark, staged_pages, out)
    q2.awaitTermination(300)
    assert spark.read.parquet(f"{out}/sinks").count() == N

    # add a new batch of files: only the delta is processed
    generate_pages(spark, 100, seed=77).write.mode("append").parquet(staged_pages)
    q3 = start_streaming_pipeline(spark, staged_pages, out)
    q3.awaitTermination(300)
    final = spark.read.parquet(f"{out}/sinks")
    assert final.count() == N + 100
    assert final.select("url").distinct().count() == N + 100


def test_windowed_rule_counts_stream(spark, staged_pages):
    normalized = build_normalized(spark, stream_pages(spark, staged_pages))
    agg = windowed_rule_counts(normalized)
    q = (
        agg.writeStream.format("memory")
        .queryName("rule_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("select * from rule_counts").collect()
    assert sum(r["n"] for r in rows) >= N  # every page lands in some window
    days = {r["day"] for r in rows}
    assert len(days) >= 3  # generator spreads warc_ts over >= 3 days
    # streaming counts equal batch counts per rule
    batch = (
        build_normalized(spark, spark.read.parquet(staged_pages))
        .groupBy("rule_id").count().collect()
    )
    batch_counts = {r["rule_id"]: r["count"] for r in batch}
    stream_counts = {}
    for r in rows:
        stream_counts[r["rule_id"]] = stream_counts.get(r["rule_id"], 0) + r["n"]
    # staged_pages may have been appended to by the previous test (module
    # fixture is shared) — compare against the current directory content
    assert stream_counts == batch_counts


def test_streaming_versioned_rules(spark, staged_pages, tmp_path):
    """The stream-static dispatch join: a 1.26.0-only rule set matches only
    1.26.0 spans in the streaming sink, exactly as the batch chain does."""
    from otel_semconvprocessor_spark.config import reference_config, reference_rules

    cfg = reference_config()
    cfg.span_processing.rules = reference_rules(schema_url="1.26.0")
    cfg.validate()
    out = str(tmp_path / "out-versioned")
    q = start_streaming_pipeline(spark, staged_pages, out, cfg)
    q.awaitTermination(300)

    def matched(df):
        return {
            r["url"]: (r["schema_url"], r["rule_id"])
            for r in df.filter(F.col("rule_id").isNotNull()).select("url", "schema_url", "rule_id").collect()
        }

    got = matched(spark.read.parquet(f"{out}/sinks"))
    assert got and {v for v, _ in got.values()} == {"1.26.0"}
    assert got == matched(build_normalized(spark, spark.read.parquet(staged_pages), cfg))
