"""OTLP/JSON trace ingestion: the reference's receiver surface (S1).

The reference collector ingests OTLP JSON span batches (config.yaml:2-8); its
benchmark replays one JSON document per line, each shaped

    {"resourceSpans": [{"resource": {"attributes": [...]},
        "scopeSpans": [{"scope": {...}, "spans": [
            {"traceId": ..., "spanId": ..., "name": ..., "kind": 2,
             "attributes": [{"key": "http.method",
                             "value": {"stringValue": "GET"}}, ...]}]}]}]}

``read_otlp_traces`` flattens that 3-level nesting (resourceSpans ->
scopeSpans -> spans, processor.go:130-151) into the span-shaped frame the
rule engine consumes: one row per span with ``name``, ``kind`` (string),
``attrs:map<string,string>`` and resource attributes — all via explode +
native expressions.  Attribute values are stringified exactly like the
processor does with fmt.Sprintf("%v", ...) (processor.go:253).
"""

from __future__ import annotations

import json

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import span_kind_to_string

__all__ = ["read_otlp_traces", "spans_from_otlp_df", "write_synthetic_otlp_fixture"]

# pcommon.Value variants we stringify (the processor only reads/writes strings)
_VALUE_FIELDS = ["stringValue", "intValue", "doubleValue", "boolValue"]


def _value_fields(df: DataFrame, attr_path: str) -> list[str]:
    """Which pcommon.Value variants the inferred JSON schema actually has —
    spark.read.json only materializes fields present in the data."""
    try:
        struct = df.select(F.explode(F.col(attr_path)).alias("kv")).select("kv.value.*").columns
    except AnalysisException:
        return ["stringValue"]
    return [f for f in _VALUE_FIELDS if f in struct] or ["stringValue"]


def _kv_to_map(attr_array: F.Column, fields: list[str]) -> F.Column:
    """OTLP attribute list [{key, value:{stringValue|intValue|...}}] ->
    map<string,string>."""
    return F.map_from_entries(
        F.transform(
            attr_array,
            lambda kv: F.struct(
                kv["key"].alias("key"),
                F.coalesce(*[kv["value"][f].cast("string") for f in fields]).alias("value"),
            ),
        )
    )


def spans_from_otlp_df(raw: DataFrame) -> DataFrame:
    """Flatten a parsed OTLP-JSON DataFrame into one row per span."""
    rs = raw.select(F.explode("resourceSpans").alias("rs"))
    ss = rs.select(
        F.col("rs.resource.attributes").alias("res_attrs"),
        F.explode("rs.scopeSpans").alias("ss"),
    )
    spans = ss.select(
        "res_attrs",
        F.col("ss.scope.name").alias("scope_name"),
        F.explode("ss.spans").alias("sp"),
    )
    span_fields = _value_fields(spans, "sp.attributes")
    res_fields = _value_fields(spans, "res_attrs")
    return spans.select(
        F.col("sp.traceId").alias("trace_id"),
        F.col("sp.spanId").alias("span_id"),
        F.col("sp.name").alias("name"),
        span_kind_to_string(F.coalesce(F.col("sp.kind"), F.lit(0))).alias("kind"),
        _kv_to_map(F.col("sp.attributes"), span_fields).alias("attrs"),
        F.when(
            F.col("res_attrs").isNotNull(), _kv_to_map(F.col("res_attrs"), res_fields)
        ).otherwise(F.create_map().cast("map<string,string>")).alias("resource"),
        "scope_name",
    )


SPAN_ROW_SCHEMA = (
    "trace_id string, span_id string, name string, kind string, "
    "attrs map<string,string>, resource map<string,string>, scope_name string"
)


def read_otlp_traces(spark: SparkSession, path: str) -> DataFrame:
    """Read line-delimited OTLP/JSON trace export files into span rows.
    Empty/invalid input yields an empty frame with a stable schema (schema
    inference has nothing to infer from zero JSON lines)."""
    raw = spark.read.json(path)
    if "resourceSpans" not in raw.columns:
        return spark.createDataFrame([], SPAN_ROW_SCHEMA)
    return spans_from_otlp_df(raw)


def write_synthetic_otlp_fixture(path: str, n_lines: int = 50) -> int:
    """Write a small deterministic OTLP/JSON fixture file shaped like the
    reference's benchmark input (one export request per line); returns the
    total span count.  Synthetic — no reference data is copied."""
    import hashlib

    def h(*parts: object) -> int:
        return int(hashlib.md5(f"11:{parts}".encode()).hexdigest()[:8], 16)

    methods = ["GET", "POST", "PUT", "DELETE"]
    routes = ["/api/users/{userId}", "/api/cart", None]
    services = ["frontend", "cart", "checkout", "payment"]
    total = 0
    with open(path, "w") as f:
        for line in range(n_lines):
            spans = []
            for s in range(1 + h(line, "n") % 6):
                kind = 1 + h(line, s, "k") % 5
                attrs = []
                method = methods[h(line, s, "m") % 4]
                if kind in (2, 3):  # server/client
                    attrs.append({"key": "http.method", "value": {"stringValue": method}})
                    route = routes[h(line, s, "r") % 3]
                    if kind == 2 and route:
                        attrs.append({"key": "http.route", "value": {"stringValue": route}})
                elif kind == 1:
                    attrs.append({"key": "internal.operation", "value": {"stringValue": f"task.{h(line, s, 'i') % 5}"}})
                attrs.append({"key": "retry.count", "value": {"intValue": str(h(line, s, "rc") % 3)}})
                spans.append(
                    {
                        "traceId": f"{h(line, s, 't'):032x}",
                        "spanId": f"{h(line, s, 'sp'):016x}",
                        "name": f"{method} /raw/{h(line, s, 'p') % 1000}",
                        "kind": kind,
                        "attributes": attrs,
                    }
                )
            total += len(spans)
            doc = {
                "resourceSpans": [
                    {
                        "resource": {
                            "attributes": [
                                {"key": "service.name",
                                 "value": {"stringValue": services[h(line, "svc") % 4]}}
                            ]
                        },
                        "scopeSpans": [{"scope": {"name": "synthetic"}, "spans": spans}],
                    }
                ]
            }
            f.write(json.dumps(doc, separators=(",", ":")) + "\n")
    return total
