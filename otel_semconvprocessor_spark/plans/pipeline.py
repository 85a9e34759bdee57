"""The end-to-end batch pipeline: parse -> enrich -> route -> aggregate.

Mirrors the reference's receiver -> [semconv, batch] -> exporters pipeline
(config.yaml:215-232) as a single declarative Spark plan:

    pages (Iceberg/parquet scan)
      -> extract_pages            (Arrow-batched pandas UDF, one pass)
      -> apply_semconv_mappings   (rename/move/copy/delete compiled to one
                                   CASE on schema_url)
      -> insert_attrs_if_absent   (resource processor, config.yaml:17-27)
      -> lookup_lang_name         (lang dimension as a literal-map lookup)
      -> apply_rules              (compiled CASE cascade — processor.go parity;
                                   schema_url-versioned rules gated on a
                                   literal schema_url comparison)
      -> write single-pass, partitioned by (sink, warc_day, lang)
      -> metrics from one pruned aggregation over the written sinks

Design for 100 TB: exactly ONE pass over the raw bytes (the pandas UDF runs
once — the sink fan-out happens inside the same write job); the transform
chain has no join and no shuffle, so the write's rebalance is the only wide
operation; the metrics stage re-scans the written columnar output reading
only 5 narrow columns (no persist of the full dataset), in one action whose
few result rows become the three metrics tables.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import Config, reference_config
from ..operators.enrich import (
    apply_semconv_mappings,
    default_semconv_mappings,
    insert_attrs_if_absent,
    lookup_lang_name,
)
from ..operators.extract import extract_pages
from ..operators.metrics import MetricsManifest, metrics_manifest
from ..operators.route import (
    SINK_PARTITIONS,
    SINKS,
    routed_rows,
    slim_for_sink,
    write_routed_single_pass,
)
from ..operators.rules import apply_rules
from ..tuning import ensure_jit_codegen

__all__ = ["PipelineResult", "build_normalized", "run_pipeline", "RESOURCE_ATTRS"]

# config.yaml:17-27
RESOURCE_ATTRS = {
    "collector.name": "otel-semconv-spark",
    "collector.version": "0.1.0",
    "telemetry.source": "internal",
}


@dataclass
class PipelineResult:
    sink_path: str
    metrics: MetricsManifest
    rows: int
    duration_sec: float


def build_normalized(spark: SparkSession, pages: DataFrame, cfg: Config | None = None) -> DataFrame:
    """The full transform plan, unexecuted (lazy).  Every stage is stateless
    or stream-static, so the same chain serves batch and streaming sources."""
    cfg = cfg or reference_config()
    ensure_jit_codegen(spark)
    df = apply_semconv_mappings(extract_pages(pages), default_semconv_mappings())
    df = insert_attrs_if_absent(df, RESOURCE_ATTRS)
    # the column order the dimension joins gave: join keys first, the
    # dimension's value last
    rest = [c for c in df.columns if c not in ("lang", "schema_url")]
    df = df.select("lang", "schema_url", *rest, lookup_lang_name(F.col("lang")).alias("lang_name"))
    return apply_rules(df, cfg)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_path: str,
    cfg: Config | None = None,
    *,
    run_id: str = "run-0",
    catalog=None,
) -> PipelineResult:
    """End-to-end run.  Default sink = the single-pass partitioned parquet
    tree under ``out_path/sinks``; pass a SinkCatalog (``IcebergCatalog`` in
    prod, ``ParquetDirCatalog`` in tests) to write one catalog TABLE per sink
    through the writeTo-verb interface instead — the routed rows are then
    persisted once, written with one filtered ``create_or_replace`` per sink,
    and the metrics stage aggregates that same persisted frame."""
    cfg = cfg or reference_config()
    start = time.time()
    # slim_for_sink drops the raw html/text (at 10^12 rows they would
    # dominate shuffle + sink IO) and removes per-row redundancy losslessly
    # (binary ids, attr entries that duplicate columns) — measured 45% fewer
    # sink bytes, which is the pipeline's bandwidth bill at scale.
    normalized = slim_for_sink(build_normalized(spark, pages, cfg))
    sink_path = f"{out_path}/sinks"
    if catalog is not None:
        # one persist, so the extraction UDF is not recomputed per sink
        # (SURVEY.md §4 'the one place naive Spark recomputes')
        routed = routed_rows(normalized).persist()
        try:
            for sink in SINKS:
                sub = routed.filter(F.col("sink") == sink).drop("sink")
                catalog.create_or_replace(sub, sink, SINK_PARTITIONS[1:])
            duration = time.time() - start
            metrics = metrics_manifest(routed, cfg, run_id=run_id, duration_ms=duration * 1000.0)
        finally:
            routed.unpersist()
        sink_path = getattr(catalog, "base_path", sink_path)
    else:
        # aggregate stage over the written, partitioned output: reads only
        # the pruned columns it needs (rule_id, operation_type, name,
        # name_original, sink) — scan cost is a fraction of the raw data even
        # at 10^12 rows.  The written schema is passed explicitly, so an
        # empty input (partitionBy writes no files) reads as an empty frame.
        write_routed_single_pass(normalized, sink_path)
        routed = spark.read.schema(routed_rows(normalized).schema).parquet(sink_path)
        duration = time.time() - start
        metrics = metrics_manifest(routed, cfg, run_id=run_id, duration_ms=duration * 1000.0)
    # a local frame of n rows scans as min(n, cores) partitions: coalesce
    # so each table is written by one task as one file
    for name in ("summary", "rule_effectiveness", "sink_counts"):
        getattr(metrics, name).coalesce(1).write.mode("overwrite").parquet(f"{out_path}/metrics/{name}")
    return PipelineResult(sink_path, metrics, metrics.spans_processed, time.time() - start)
