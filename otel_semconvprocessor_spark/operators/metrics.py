"""Aggregate stage: the reference's observability metrics (M1-M8,
metadata.yaml:32-90) from one distributed aggregation over the routed frame.

The reference keeps process-global ``map[string]int64`` counters filled
per-span (processor.go:32-33,193-200,312-319).  Here ONE action computes
them all: a GROUPING SETS aggregate over the pruned columns — per (sink,
rule_id, operation_type) counts, and the distinct original and matched
names — folded by a second groupBy to at most (combos + 1) rows.  Those rows
are collected, and the three metrics tables are built from them as local
frames, so writing each is one single-task job and collecting it runs none.

Original-name recovery: in enforce+preserve mode the pre-rule name is
``coalesce(name_original, name)`` — name_original is only written when the
name changed (processor.go:290), and unchanged/unmatched rows keep the
original in ``name``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import MODE_ENFORCE, Config

__all__ = [
    "original_name_col",
    "local_frame",
    "metrics_pass",
    "metrics_manifest",
    "sliding_window_counts",
]


def sliding_window_counts(df: DataFrame) -> DataFrame:
    """Sliding event-time windows (the batch form of the streaming windowed
    counters, SURVEY.md §2.4/S5): 7-day windows of ``ts`` sliding by 1 day,
    count + ``value`` sum per (window start, ``event_type``).

    Uses the built-in ``window()`` generator — each row lands in 7
    overlapping windows, all expression work before one groupBy shuffle;
    epoch-aligned UTC window starts, so results are engine-reproducible
    (DuckDB oracle re-derives membership as the 7 calendar days ending at
    date(ts))."""
    return (
        df.groupBy(F.window("ts", "7 days", "1 day").alias("__w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 3).alias("total_value"))
        .select(F.to_date("__w.start").alias("win_start"), "event_type", "n", "total_value")
    )


def original_name_col(cfg: Config) -> Column:
    if cfg.span_processing.mode == MODE_ENFORCE and cfg.span_processing.preserve_original_name:
        return F.coalesce(F.col("name_original"), F.col("name"))
    if cfg.span_processing.mode == MODE_ENFORCE:
        # without preserve_original_name the original is unrecoverable for
        # matched rows, same information loss as the reference
        return F.when(F.col("rule_id").isNull(), F.col("name"))
    return F.col("name")


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A frame of in-memory rows, built from an Arrow table: its plan is a
    ``LocalTableScan``, so collecting it runs no job and writing it runs one
    single-task job (``createDataFrame`` over a list is instead a Python RDD
    scan — a job of one task per core that starts Python workers).  The
    names, types and nullability (``NOT NULL``) of the ``ddl`` schema are
    kept."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(StructType.fromDDL(ddl))
    columns = list(zip(*rows)) if rows else [()] * len(arrow)
    return spark.createDataFrame(
        pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(columns, arrow)], schema=arrow)
    )


def metrics_pass(routed: DataFrame, cfg: Config) -> DataFrame:
    """The aggregate stage's one action, unexecuted.  ``routed`` carries a
    ``sink`` column.  Rows with ``names == 0`` are the (sink, rule_id,
    operation_type) combos with their row counts; the one row with
    ``names == 1`` holds the distinct original and matched name counts.

    M5 parity: a matched name counts ONLY for rule-matched spans
    (operationCount is filled after a match, processor.go:312-319); the
    reference records operation_type as "" when the type expression was
    absent or errored (processor.go:256-262)."""
    pruned = routed.select(
        "sink",
        "rule_id",
        F.coalesce(F.col("operation_type"), F.lit("")).alias("operation_type"),
        original_name_col(cfg).alias("original_name"),
        F.when(F.col("rule_id").isNotNull(), F.col("operation_name")).alias("matched_name"),
    )
    combo = ["sink", "rule_id", "operation_type"]
    return (
        pruned.groupingSets([combo, ["original_name"], ["matched_name"]], *combo, "original_name", "matched_name")
        .agg(F.count(F.lit(1)).alias("n"), F.grouping("sink").alias("names"))
        .groupBy("names", *combo)
        .agg(
            F.sum("n").alias("rows"),
            F.count("original_name").alias("original_names"),
            F.count("matched_name").alias("matched_names"),
        )
    )


@dataclass
class MetricsManifest:
    summary: DataFrame  # one row
    rule_effectiveness: DataFrame
    sink_counts: DataFrame
    spans_processed: int


def metrics_manifest(
    routed: DataFrame,
    cfg: Config,
    *,
    run_id: str,
    duration_ms: float | None = None,
) -> MetricsManifest:
    """The aggregate-stage output bundle (FIXTURES.md §6): M1 + M4-M7 in
    ``summary`` (spans processed, original/reduced unique name counts and
    the reduction percentage, processor.go:154-157,378-395), M2's
    ``span_names_enforced`` counter by (rule_id, operation_type, mode) in
    ``rule_effectiveness`` (processor.go:277-282,304-309), and per-sink row
    counts.  ``routed`` is the routed frame (with ``sink``) read back from
    the sink write; ``metrics_pass`` re-scans only the columns it needs and
    runs once.  The tables are local frames; ``sink`` and ``rule_id`` keep
    the nullability they have in ``routed``."""
    spark = routed.sparkSession
    not_null = {f.name: "" if f.nullable else " NOT NULL" for f in routed.schema.fields}
    combos, names = [], (0, 0)
    for r in metrics_pass(routed, cfg).collect():
        if r["names"]:
            names = (r["original_names"], r["matched_names"])
        else:
            combos.append((r["sink"], r["rule_id"], r["operation_type"], r["rows"]))
    spans = sum(n for *_, n in combos)
    original, reduced = names
    pct = (original - reduced) / original * 100.0 if original > 0 else 0.0
    summary = local_frame(
        spark,
        [(spans, original, reduced, pct, run_id, duration_ms)],
        "spans_processed bigint NOT NULL, original_name_count bigint NOT NULL, "
        "reduced_name_count bigint NOT NULL, reduction_pct double, run_id string NOT NULL, "
        f"duration_ms double{'' if duration_ms is None else ' NOT NULL'}",
    )
    enforced: dict[tuple[str, str], int] = {}
    per_sink: dict[str, int] = {}
    for sink, rule_id, op_type, n in combos:
        if rule_id is not None:
            enforced[rule_id, op_type] = enforced.get((rule_id, op_type), 0) + n
        per_sink[sink] = per_sink.get(sink, 0) + n
    effectiveness = local_frame(
        spark,
        [(rule_id, op_type, n, cfg.span_processing.mode, run_id)
         for (rule_id, op_type), n in sorted(enforced.items())],
        f"rule_id string{not_null['rule_id']}, operation_type string NOT NULL, "
        "enforced_count bigint NOT NULL, mode string NOT NULL, run_id string NOT NULL",
    )
    sink_counts = local_frame(
        spark,
        [(sink, n, run_id) for sink, n in sorted(per_sink.items(), key=lambda kv: kv[0] or "")],
        f"sink string{not_null['sink']}, row_count bigint NOT NULL, run_id string NOT NULL",
    )
    return MetricsManifest(summary, effectiveness, sink_counts, spans)
