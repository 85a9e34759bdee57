"""Enrich-stage tests: insert-if-absent, semconv mapping rules (broadcast
join), dimension joins, and cascade-neutrality of the default mappings."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType, StructField, StructType

from otel_semconvprocessor_spark.operators.enrich import (
    SemconvMapping,
    apply_semconv_mappings,
    default_semconv_mappings,
    insert_attrs_if_absent,
    join_dims,
    lang_dim,
    mappings_table,
)

SCHEMA = StructType(
    [
        StructField("schema_url", StringType()),
        StructField("attrs", MapType(StringType(), StringType())),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_insert_attrs_if_absent(spark):
    # config.yaml:17-27 'insert' action: never overwrites
    df = _df(spark, [("s", {"collector.name": "mine", "other": "x"})])
    out = insert_attrs_if_absent(df, {"collector.name": "theirs", "telemetry.source": "internal"})
    attrs = out.collect()[0]["attrs"]
    assert attrs["collector.name"] == "mine"
    assert attrs["telemetry.source"] == "internal"
    assert attrs["other"] == "x"

    # a None value inserts nothing, on the constant-map rows (null attrs,
    # no key present) as on the per-row path (one key present)
    df = _df(spark, [("a", None), ("b", {"other": "x"}), ("c", {"z": "mine"})])
    out = insert_attrs_if_absent(df, {"k": None, "z": "v"})
    rows = {r["schema_url"]: dict(r["attrs"]) for r in out.collect()}
    assert rows == {"a": {"z": "v"}, "b": {"other": "x", "z": "v"}, "c": {"z": "mine"}}

    # an empty config (or one of only None values) leaves the frame as it is
    for values in ({}, {"k": None}):
        assert insert_attrs_if_absent(df, values).collect() == df.collect()


def test_mapping_rename(spark):
    maps = mappings_table(spark, [SemconvMapping("1.21.0", "rename", "http.method", "http.request.method")])
    df = _df(spark, [("1.21.0", {"http.method": "GET", "x": "1"}), ("1.26.0", {"http.method": "GET"})])
    rows = {r["schema_url"]: dict(r["attrs"]) for r in apply_semconv_mappings(df, maps).collect()}
    assert rows["1.21.0"] == {"http.request.method": "GET", "x": "1"}
    # schema without mapping row passes through untouched
    assert rows["1.26.0"] == {"http.method": "GET"}


def test_mapping_rename_target_exists_drops_old(spark):
    maps = mappings_table(spark, [SemconvMapping("1.21.0", "rename", "http.method", "http.request.method")])
    df = _df(spark, [("1.21.0", {"http.method": "GET", "http.request.method": "POST"})])
    attrs = dict(apply_semconv_mappings(df, maps).collect()[0]["attrs"])
    # newer-convention value is authoritative; old key dropped
    assert attrs == {"http.request.method": "POST"}


def test_mapping_copy_and_delete(spark):
    maps = mappings_table(
        spark,
        [
            SemconvMapping("1.21.0", "copy", "db.statement", "db.query.text"),
            SemconvMapping("1.21.0", "delete", "secret"),
        ],
    )
    df = _df(spark, [("1.21.0", {"db.statement": "SELECT 1", "secret": "x"})])
    attrs = dict(apply_semconv_mappings(df, maps).collect()[0]["attrs"])
    assert attrs == {"db.statement": "SELECT 1", "db.query.text": "SELECT 1"}


def test_mapping_copy_does_not_overwrite(spark):
    maps = mappings_table(spark, [SemconvMapping("1.21.0", "copy", "a", "b")])
    df = _df(spark, [("1.21.0", {"a": "new", "b": "existing"})])
    attrs = dict(apply_semconv_mappings(df, maps).collect()[0]["attrs"])
    assert attrs == {"a": "new", "b": "existing"}


def test_mapping_invalid_action_rejected():
    with pytest.raises(ValueError, match="invalid mapping action"):
        SemconvMapping("1.21.0", "upsert", "a", "b")
    with pytest.raises(ValueError, match="requires to_key"):
        SemconvMapping("1.21.0", "rename", "a")


def test_mapping_join_is_broadcast(spark):
    maps = mappings_table(spark, default_semconv_mappings())
    df = _df(spark, [("1.21.0", {"http.method": "GET"})])
    plan = apply_semconv_mappings(df, maps)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_default_mappings_cascade_neutral(spark):
    """Renaming old->new http keys must not change any rule outcome, because
    the reference rules accept both via FirstNonNil (config.yaml:60-100)."""
    from otel_semconvprocessor_spark.config import reference_config
    from otel_semconvprocessor_spark.operators.rules import apply_rules

    spans = spark.createDataFrame(
        [
            ("n1", "server", "1.21.0", {"http.method": "GET", "http.route": "/r"}),
            ("n2", "server", "1.21.0", {"http.method": "POST"}),
            ("n3", "client", "1.21.0", {"http.method": "PUT", "db.statement": "SELECT * FROM t WHERE 1"}),
        ],
        "name string, kind string, schema_url string, attrs map<string,string>",
    )
    cfg = reference_config()
    plain = {r["name_original"] or r["name"]: (r["rule_id"], r["name"]) for r in apply_rules(spans, cfg).collect()}
    mapped_df = apply_semconv_mappings(spans, mappings_table(spark, default_semconv_mappings()))
    mapped = {r["name_original"] or r["name"]: (r["rule_id"], r["name"]) for r in apply_rules(mapped_df, cfg).collect()}
    assert plain == mapped


def test_join_dims_broadcast(spark):
    df = spark.createDataFrame([("en", "u1"), ("xx", "u2")], "lang string, url string")
    out = join_dims(df, (lang_dim(spark), "lang"))
    rows = {r["url"]: r["lang_name"] for r in out.collect()}
    assert rows == {"u1": "English", "u2": None}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
