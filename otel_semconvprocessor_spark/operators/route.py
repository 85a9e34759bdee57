"""Route stage: fan-out of the normalized stream to per-sink tables.

Reference analogue: the collector service wiring one processed stream into
multiple exporters (config.yaml:218-232, S4) and the batch processor sizing
batches (config.yaml:12-14, S5).

One sink-row format and one partitioned write serve every writer:

  * ``slim_for_sink`` — the lossless sink projection (raw payloads dropped,
    binary ids, per-row attr dedup); ``routed_rows`` adds the ``sink`` and
    ``warc_day`` columns; ``SINK_PARTITIONS`` is the partition layout
    sink=/warc_day=/lang=.  Batch, checkpoint and streaming runs all write
    these rows, so their sinks are row-identical.
  * ``SINK_CODEC`` — the sink files' parquet page codec (zstd).
    ``rebalanced_writer`` and the streaming file sink both apply it, so every
    sink file has one format.  Against Spark's default snappy it cuts the
    sink bytes from 102.6 to 76.5 B/doc on perfbench's crawl_mix and from
    196.0 to 173.6 on big_pages, whose 3.3 KB parquet footer per file is a
    third of its bytes.  The shuffle keeps lz4: zstd measured slower there
    (bench.py).
  * ``write_routed_single_pass``: ONE job writes every sink, partitioned by
    ``SINK_PARTITIONS``, so the expensive upstream (pandas-UDF extraction)
    runs exactly once and nothing is cached.  At 100 TB this is the only
    sane plan: no persist of the full dataset, no per-sink recompute; each
    sink is a partition subtree (≡ an Iceberg table partitioned by
    warc_day, lang).  ``run_pipeline`` writes through it, and
    ``run_with_checkpoints`` writes each chunk through it under ``chunk=<i>``.

Skew: domains are Zipf-distributed (one hot domain ~50% of rows), so a hot
(sink, warc_day, lang) combo can outgrow one writer.  ``rebalanced_writer``
puts a ``rebalance`` hint on the partition columns: with AQE on, a combo
stays one file until its shuffle partition passes
``spark.sql.adaptive.advisoryPartitionSizeInBytes``, and above that AQE
splits it over several writers — the split follows the sizes measured at run
time, not a static salt count.  ``salted_repartition`` stays as the explicit
deterministic primitive for keyed repartitions: a salt derived from
xxhash64(url), reproducible across runs unlike rand(), bounding the largest
task at ~1/16 of the hot key (SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, DataFrameWriter
from pyspark.sql import functions as F

from ..tuning import ensure_jit_codegen

__all__ = [
    "SINKS",
    "SINK_CODEC",
    "SINK_PARTITIONS",
    "assign_sink",
    "salt_expr",
    "rebalanced_writer",
    "routed_rows",
    "salted_repartition",
    "slim_for_sink",
    "write_routed_single_pass",
]

SINKS = ["sink_http", "sink_grpc", "sink_db", "sink_messaging", "sink_other"]
#: the sink tree's partition layout: sink=/warc_day=/lang=
SINK_PARTITIONS = ["sink", "warc_day", "lang"]
#: the sink files' parquet page codec
SINK_CODEC = "zstd"


def sink_expr(op_type: Column, rule_id: Column) -> Column:
    """Disjoint, exhaustive sink assignment (FIXTURES.md §5): every row gets
    exactly one sink, so per-sink counts sum to the total (routed-row
    equality)."""
    return (
        F.when(rule_id.isin("database_queries", "database_operations"), F.lit("sink_db"))
        .when(op_type.isin("http", "http_client"), F.lit("sink_http"))
        .when(op_type.isin("grpc", "grpc_client"), F.lit("sink_grpc"))
        .when(op_type == "messaging", F.lit("sink_messaging"))
        .otherwise(F.lit("sink_other"))
    )


def assign_sink(df: DataFrame) -> DataFrame:
    return df.withColumn("sink", sink_expr(F.col("operation_type"), F.col("rule_id")))


def salt_expr(source: Column, salt_buckets: int, hash_fn: str = "xxhash64") -> Column:
    """The deterministic salt bucket: hash(source) % salt_buckets.  Seed-free
    (rand() would break resume replays).  ``md5`` mode is engine-portable so
    the bucketization rule itself is DuckDB-oracle-checkable; ``xxhash64``
    (default) is the fast JVM path used by the writes."""
    from .exporters import sample_hash

    return sample_hash(source, salt_buckets, hash_fn)


def salted_repartition(
    df: DataFrame, key: str, num_partitions: int, salt_source: str = "url",
    hash_fn: str = "xxhash64"
) -> DataFrame:
    """Repartition on (key, salt) — spreads a hot key over 16 salt buckets."""
    return df.repartition(num_partitions, F.col(key), salt_expr(F.col(salt_source), 16, hash_fn))


def routed_rows(df: DataFrame) -> DataFrame:
    """The sink rows of ``df``: its columns plus ``sink`` and ``warc_day``.
    Readers of a sink tree pass ``routed_rows(df).schema`` instead of
    inferring one (an empty input writes no data files to infer from)."""
    return assign_sink(df).withColumn("warc_day", F.to_date(F.col("warc_ts")))


#: attr-map keys that duplicate top-level sink columns (the enforce mode
#: materializes operation.* / name.original as columns; schema.url duplicates
#: schema_url; traceparent = "00-{trace_id}-{span_id}-01" duplicates the id
#: columns and is handled separately).  ``slim_for_sink`` drops an entry only
#: when its value is EXACTLY reconstructible from those columns on that row,
#: so the projection is lossless on any data (a preset operation.name with no
#: matching column, or a traceparent with unusual flags, is kept).
_ATTR_TO_COLUMN = {
    "operation.name": "operation_name",
    "operation.type": "operation_type",
    "name.original": "name_original",
    "schema.url": "schema_url",
}


def slim_for_sink(df: DataFrame) -> DataFrame:
    """Information-preserving sink projection, applied BEFORE the write-side
    repartition so the shuffle payload shrinks with the files.

    Sinks carry NORMALIZED records, not raw payloads — the reference's
    exporters write processed spans, not the original request bytes — so
    ``html``/``text`` are dropped (a no-op when absent).

    At 10^12 rows the sink bytes/sec IS the pipeline's bandwidth bill:

      * ``trace_id``/``span_id`` hex strings -> raw BINARY (``unhex``) — the
        OTLP-native representation (the protobuf wire carries 16/8 raw
        bytes; hex doubles them, and random bytes don't compress either
        way).  Measured: those two columns are ~29% of the sink bytes as
        hex.
      * per-row attr entries whose value EQUALS what the top-level columns
        already record are filtered out — don't store the same value twice
        per row.  The attrs map was the single widest sink column (~36%)
        and the traceparent string alone is 55 chars/row.  The comparison
        is per row, so presets that DIFFER from the columns survive; reading
        back, ``coalesce(attrs['operation.name'], operation_name)`` etc.
        recovers the original map exactly.

    Measured together: 161 MB -> 89 MB sink bytes at 1M rows (45% less
    memory-bus traffic through shuffle + parquet encode + tmpfs write).
    """
    df = df.drop("html", "text")
    out = df
    if "attrs" in out.columns:
        def entry_is_dup(k, v):
            cond = F.lit(False)
            if "trace_id" in df.columns and "span_id" in df.columns:
                tp_recon = F.concat_ws(
                    "-", F.lit("00"), F.col("trace_id"), F.col("span_id"), F.lit("01")
                )
                cond = cond | ((k == "traceparent") & (v == tp_recon))
            for attr_key, col_name in _ATTR_TO_COLUMN.items():
                if col_name in df.columns:
                    cond = cond | ((k == attr_key) & v.eqNullSafe(F.col(col_name)))
            return cond

        out = out.withColumn(
            "attrs", F.map_filter("attrs", lambda k, v: ~entry_is_dup(k, v))
        )
    for c in ("trace_id", "span_id"):
        if c in out.columns:
            out = out.withColumn(c, F.unhex(F.col(c)))
    return out


def rebalanced_writer(df: DataFrame, partition_cols: list[str]) -> DataFrameWriter:
    """The one partitioned-write shape: an overwrite writer partitioned by
    ``partition_cols`` over a ``rebalance`` shuffle on those columns, with
    ``SINK_CODEC`` pages.

    The shuffle is load-bearing: a naive ``partitionBy`` write makes EVERY
    task open a writer for every combo it sees — O(tasks x combos) tiny
    files plus a per-task sort (measured 5x slower and 30x more files at
    local[32]).  Hashing on the partition columns brings it to one file per
    combo; AQE then splits any combo whose shuffle partition exceeds the
    advisory partition size over several writers."""
    rebalanced = df.hint("rebalance", *[F.col(c) for c in partition_cols])
    return (
        rebalanced.write.mode("overwrite").option("compression", SINK_CODEC)
        .partitionBy(*partition_cols)
    )


def write_routed_single_pass(df: DataFrame, base_path: str) -> None:
    """One job, all sinks: the rows of ``routed_rows(df)`` partitioned by
    ``SINK_PARTITIONS``.

    Equivalent Iceberg DDL (prod): CREATE TABLE sink_x ... PARTITIONED BY
    (warc_day, lang); here each sink subtree is one such table."""
    ensure_jit_codegen(df.sparkSession)
    rebalanced_writer(routed_rows(df), SINK_PARTITIONS).parquet(base_path)
