"""Physical-plan quality gates: the properties that keep the pipeline viable
at 100 TB — column pruning on the metrics re-scan, no sort-merge join in the
transform chain, bounded file counts from the routed write, and the number of
Spark jobs one run launches."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from otel_semconvprocessor_spark.config import reference_config
from otel_semconvprocessor_spark.operators.metrics import metrics_pass
from otel_semconvprocessor_spark.plans.pipeline import build_normalized, run_pipeline
from otel_semconvprocessor_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    """One run_pipeline call on 400 generated pages, under its own job group:
    (result, number of Spark jobs it launched)."""
    out = str(tmp_path_factory.mktemp("plans") / "out")
    pages = generate_pages(spark, 400)
    sc = spark.sparkContext
    sc.setJobGroup("plans-quality-run", "run_pipeline job budget")
    try:
        res = run_pipeline(spark, pages, out, run_id="plans")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, len(sc.statusTracker().getJobIdsForGroup("plans-quality-run"))


@pytest.fixture(scope="module")
def sink_path(pipeline_run):
    return pipeline_run[0].sink_path


def test_metrics_scan_prunes_columns(spark, sink_path):
    """The aggregate stage must read only the narrow columns it needs — at
    10^12 rows re-scanning html/text for a count would be catastrophic."""
    routed = spark.read.parquet(sink_path)
    plan = metrics_pass(routed, reference_config())._jdf.queryExecution().executedPlan().toString()
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(schema_lines) == 1, plan  # one scan for every metric
    for col in ("attrs", "html", "text"):
        assert col not in schema_lines[0], schema_lines[0]


def test_run_pipeline_job_budget(pipeline_run):
    """The write (rebalance + write), the sink read-back, the one metrics
    action and three single-task metrics-table writes: no job for the
    mapping or dimension tables, none for a locally built row."""
    _, jobs = pipeline_run
    assert jobs <= 8, jobs


def test_metrics_tables_schema(pipeline_run):
    """The metrics tables keep their names, types and nullability."""
    m = pipeline_run[0].metrics
    assert m.summary.schema == StructType([
        StructField("spans_processed", LongType(), False),
        StructField("original_name_count", LongType(), False),
        StructField("reduced_name_count", LongType(), False),
        StructField("reduction_pct", DoubleType(), True),
        StructField("run_id", StringType(), False),
        StructField("duration_ms", DoubleType(), False),
    ])
    assert m.rule_effectiveness.schema == StructType([
        StructField("rule_id", StringType(), True),
        StructField("operation_type", StringType(), False),
        StructField("enforced_count", LongType(), False),
        StructField("mode", StringType(), False),
        StructField("run_id", StringType(), False),
    ])
    assert m.sink_counts.schema == StructType([
        StructField("sink", StringType(), True),
        StructField("row_count", LongType(), False),
        StructField("run_id", StringType(), False),
    ])


def test_transform_chain_has_no_sort_merge_join(spark):
    """No join in the normalize chain may shuffle the fact side."""
    pages = generate_pages(spark, 200)
    plan = (
        build_normalized(spark, pages)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan


def test_routed_write_file_count_bounded(spark, sink_path):
    """O(partition combos), not O(tasks x combos)."""
    n_files = sum(
        1 for _, _, files in os.walk(sink_path) for f in files if f.endswith(".parquet")
    )
    combos = (
        spark.read.parquet(sink_path)
        .select("sink", "warc_day", "lang").distinct().count()
    )
    assert n_files <= combos * 2


def test_topk_has_no_per_query_window(spark, sf_dir):
    """Top-k ranking must be the two-phase partial top-k: a per-query
    row_number window materializes a query's ENTIRE candidate set in one task
    (|corpus| rows for brute force) — the one plan shape that cannot survive
    10^12 docs.  Gate: no Window node anywhere in the top-k plan; the partial
    stage (mapInPandas) and the slim merge aggregate are present instead."""
    from otel_semconvprocessor_spark.operators.similarity import (
        topk_brute_force,
        topk_lsh,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    for fn in (
        lambda: topk_brute_force(emb, queries, k=5),
        lambda: topk_lsh(emb, queries, k=5, bits=4, tables=2),
    ):
        plan = fn()._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan
        assert "MapInPandas" in plan, plan
        assert "partial_collect_list" in plan or "collect_list" in plan, plan


def test_band_join_shuffles_are_slim(spark, sf_dir):
    """The LSH bucket self-joins must shuffle only (id, band, key) — carrying
    the shingle arrays / vectors x bands through the join sides was the
    round-2 payload blowup.  Gate: no exchange that feeds the pair join
    carries the payload column."""
    from otel_semconvprocessor_spark.operators.dedup import minhash_lsh_pairs
    from otel_semconvprocessor_spark.operators.similarity import embedding_near_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for df, payload in (
        (minhash_lsh_pairs(docs, threshold=0.5), "__sh"),
        (embedding_near_dup_pairs(emb, threshold=0.9), "embedding"),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for ln in plan.splitlines():
            if "Exchange hashpartitioning" in ln and ("band_key" in ln or "__sig" in ln):
                assert payload not in ln, ln


def test_predicate_pushdown_to_sink_scan(spark, sink_path):
    """Partition filters prune directories: a single-sink query must not list
    other sinks' files."""
    routed = spark.read.parquet(sink_path)
    q = routed.filter((F.col("sink") == "sink_http") & (F.col("lang") == "en"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the partition filters must mention both pruned columns
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "sink" in pf and "lang" in pf
