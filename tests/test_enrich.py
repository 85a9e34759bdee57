"""Enrich-stage tests: insert-if-absent, semconv mapping rules (compiled from
the rule list or a ``mappings_table`` frame), the lang dimension, and
cascade-neutrality of the default mappings."""

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
    lookup_lang_name,
    mappings_table,
)
from otel_semconvprocessor_spark.plans.pipeline import build_normalized
from otel_semconvprocessor_spark.sources.pages import generate_pages

SCHEMA = StructType(
    [
        StructField("schema_url", StringType()),
        StructField("attrs", MapType(StringType(), StringType())),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _both_forms(spark, mappings):
    """Every mapping test runs on both forms apply_semconv_mappings takes:
    the rule list and the ``mappings_table`` frame."""
    return [mappings, mappings_table(spark, mappings)]


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
    df = _df(spark, [("1.21.0", {"http.method": "GET", "x": "1"}), ("1.26.0", {"http.method": "GET"})])
    for maps in _both_forms(spark, [SemconvMapping("1.21.0", "rename", "http.method", "http.request.method")]):
        rows = {r["schema_url"]: dict(r["attrs"]) for r in apply_semconv_mappings(df, maps).collect()}
        assert rows["1.21.0"] == {"http.request.method": "GET", "x": "1"}
        # schema without mapping row passes through untouched
        assert rows["1.26.0"] == {"http.method": "GET"}


def test_mapping_rename_target_exists_drops_old(spark):
    df = _df(spark, [("1.21.0", {"http.method": "GET", "http.request.method": "POST"})])
    for maps in _both_forms(spark, [SemconvMapping("1.21.0", "rename", "http.method", "http.request.method")]):
        attrs = dict(apply_semconv_mappings(df, maps).collect()[0]["attrs"])
        # newer-convention value is authoritative; old key dropped
        assert attrs == {"http.request.method": "POST"}


def test_mapping_copy_and_delete(spark):
    mappings = [
        SemconvMapping("1.21.0", "copy", "db.statement", "db.query.text"),
        SemconvMapping("1.21.0", "delete", "secret"),
    ]
    df = _df(spark, [("1.21.0", {"db.statement": "SELECT 1", "secret": "x"})])
    for maps in _both_forms(spark, mappings):
        attrs = dict(apply_semconv_mappings(df, maps).collect()[0]["attrs"])
        assert attrs == {"db.statement": "SELECT 1", "db.query.text": "SELECT 1"}


def test_mapping_copy_does_not_overwrite(spark):
    df = _df(spark, [("1.21.0", {"a": "new", "b": "existing"})])
    for maps in _both_forms(spark, [SemconvMapping("1.21.0", "copy", "a", "b")]):
        attrs = dict(apply_semconv_mappings(df, maps).collect()[0]["attrs"])
        assert attrs == {"a": "new", "b": "existing"}


def test_mapping_invalid_action_rejected():
    with pytest.raises(ValueError, match="invalid mapping action"):
        SemconvMapping("1.21.0", "upsert", "a", "b")
    with pytest.raises(ValueError, match="requires to_key"):
        SemconvMapping("1.21.0", "rename", "a")


def test_conflicting_mappings_rejected_before_any_job(spark):
    """Two rename/move (or two copy) entries of one schema_url that share a
    from_key or a to_key are ambiguous: a Spark map of them fails with
    DUPLICATED_MAP_KEY (for a shared to_key only on rows carrying both
    from-keys), and a dict would silently keep the last.  They are rejected
    when the mappings compile, naming the version and the key."""
    df = _df(spark, [("1.21.0", {"a": "1", "b": "2"})])
    ok = SemconvMapping("1.26.0", "rename", "a", "x")  # same keys, other version
    sc = spark.sparkContext
    sc.setJobGroup("conflicting-mappings", "no job may run")
    try:
        for shape, key in (
            ([SemconvMapping("1.21.0", "rename", "a", "x"), SemconvMapping("1.21.0", "move", "a", "y")], "a"),
            ([SemconvMapping("1.21.0", "copy", "a", "x"), SemconvMapping("1.21.0", "copy", "a", "y")], "a"),
            ([SemconvMapping("1.21.0", "move", "a", "x"), SemconvMapping("1.21.0", "rename", "b", "x")], "x"),
            ([SemconvMapping("1.21.0", "copy", "a", "x"), SemconvMapping("1.21.0", "copy", "b", "x")], "x"),
        ):
            with pytest.raises(ValueError, match=f"schema_url '1.21.0' .* key '{key}'"):
                apply_semconv_mappings(df, [ok, *shape])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("conflicting-mappings") == []


def test_mapping_rewrite_only_rows_carrying_a_mapped_key(spark):
    """Null-valued entries count as present (as in the rebuild); a row of a
    mapped version without any from-key, and a NULL map, keep their attrs."""
    mappings = [
        SemconvMapping("1.21.0", "rename", "a", "b"),
        SemconvMapping("1.21.0", "copy", "b", "c"),
        SemconvMapping("1.21.0", "delete", "d"),
    ]
    df = _df(spark, [("1.21.0", {"a": "1", "x": "2"}), ("1.21.0", {"a": None, "x": "1"}),
                     ("1.21.0", {"d": None, "x": "1"}), ("1.21.0", {"x": "1"}), ("1.21.0", None)])
    for maps in _both_forms(spark, mappings):
        got = [r["attrs"] for r in apply_semconv_mappings(df, maps).collect()]
        assert got == [{"b": "1", "x": "2", "c": "1"}, {"b": None, "x": "1"}, {"x": "1"}, {"x": "1"}, None]
        # the copy reads the renamed map and is appended after its entries
        assert list(got[0])[-1] == "c"


def test_build_normalized_plan_has_no_join_or_exchange(spark):
    """The mappings and the lang dimension compile to literal expressions:
    the transform chain has no join and no shuffle."""
    plan = build_normalized(spark, generate_pages(spark, 200))._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


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
    mapped_df = apply_semconv_mappings(spans, default_semconv_mappings())
    mapped = {r["name_original"] or r["name"]: (r["rule_id"], r["name"]) for r in apply_rules(mapped_df, cfg).collect()}
    assert plain == mapped


def test_join_dims_broadcast(spark):
    df = spark.createDataFrame([("en", "u1"), ("xx", "u2")], "lang string, url string")
    out = join_dims(df, (lang_dim(spark), "lang"))
    rows = {r["url"]: r["lang_name"] for r in out.collect()}
    assert rows == {"u1": "English", "u2": None}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_lookup_lang_name_matches_dim_join(spark):
    df = spark.createDataFrame(
        [(c, f"u{i}") for i, c in enumerate(["en", "de", "fr", "es", "zh", "xx", None])],
        "lang string, url string",
    )
    joined = {r["url"]: r["lang_name"] for r in join_dims(df, (lang_dim(spark), "lang")).collect()}
    literal = {r["url"]: r["lang_name"]
               for r in df.select("url", lookup_lang_name(F.col("lang")).alias("lang_name")).collect()}
    assert literal == joined
    assert joined["u0"] == "English" and joined["u5"] is None and joined["u6"] is None
