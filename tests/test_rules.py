"""Rule-engine behavioral tests, ported 1:1 from the reference:

  - enrich / enforce modes     -> processor_test.go:36-137
  - span-kind routing          -> processor_test.go:139-212
  - priority ordering          -> processor_test.go:214-256
  - custom functions via rules -> processor_test.go:258-339
  - cardinality reduction      -> processor_test.go:341-396
  - respects existing attrs    -> processor_respects_attrs_test.go:17-95
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType, StructField, StructType

from otel_semconvprocessor_spark.config import (
    MODE_ENFORCE,
    MODE_ENRICH,
    Config,
    OTTLRule,
    SpanProcessingConfig,
)
from otel_semconvprocessor_spark.operators.rules import apply_rules

SPAN_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("kind", StringType()),
        StructField("attrs", MapType(StringType(), StringType())),
    ]
)


def _spans(spark, rows):
    return spark.createDataFrame(rows, SPAN_SCHEMA)


def _cfg(rules, mode=MODE_ENFORCE, preserve=False, enabled=True, sp_enabled=True):
    cfg = Config(
        enabled=enabled,
        span_processing=SpanProcessingConfig(
            enabled=sp_enabled,
            mode=mode,
            preserve_original_name=preserve,
            rules=rules,
        ),
    )
    if sp_enabled:
        cfg.validate()
    return cfg


HTTP_ROUTE_RULE = OTTLRule(
    id="http_route",
    priority=100,
    condition='attributes["http.method"] != nil and attributes["http.route"] != nil',
    operation_name='Concat([attributes["http.method"], attributes["http.route"]], " ")',
    operation_type='"http"',
)


def test_enrich_mode(spark):
    # processor_test.go:36-85
    cfg = _cfg([HTTP_ROUTE_RULE], mode=MODE_ENRICH)
    df = _spans(spark, [("original_name", "server", {"http.method": "GET", "http.route": "/users/{id}"})])
    row = apply_rules(df, cfg).collect()[0]
    assert row["name"] == "original_name"  # enrich never renames
    assert row["attrs"]["operation.name"] == "GET /users/{id}"
    assert row["attrs"]["operation.type"] == "http"
    assert row["rule_id"] == "http_route"
    assert row["name_original"] is None


def test_enforce_mode(spark):
    # processor_test.go:87-137
    cfg = _cfg([HTTP_ROUTE_RULE], mode=MODE_ENFORCE, preserve=True)
    df = _spans(spark, [("original_name", "server", {"http.method": "POST", "http.route": "/api/users"})])
    row = apply_rules(df, cfg).collect()[0]
    assert row["name"] == "POST /api/users"
    assert row["attrs"]["name.original"] == "original_name"
    assert row["attrs"]["operation.type"] == "http"
    assert row["attrs"]["operation.name"] == "POST /api/users"


def test_enforce_no_original_when_name_unchanged(spark):
    # processor.go:290 — name.original only written when the name CHANGED.
    cfg = _cfg([HTTP_ROUTE_RULE], mode=MODE_ENFORCE, preserve=True)
    df = _spans(spark, [("GET /x", "server", {"http.method": "GET", "http.route": "/x"})])
    row = apply_rules(df, cfg).collect()[0]
    assert row["name"] == "GET /x"
    assert "name.original" not in row["attrs"]
    assert row["name_original"] is None


def test_span_kind_matching(spark):
    # processor_test.go:139-212
    rules = [
        OTTLRule(id="http_server", priority=100, span_kind=["server"],
                 condition='attributes["http.method"] != nil',
                 operation_name='Concat(["HTTP Server:", attributes["http.method"], attributes["http.route"]], " ")'),
        OTTLRule(id="http_client", priority=200, span_kind=["client"],
                 condition='attributes["http.method"] != nil',
                 operation_name='Concat(["HTTP Client:", attributes["http.method"], attributes["http.url"]], " ")'),
        OTTLRule(id="http_any", priority=300,
                 condition='attributes["http.method"] != nil',
                 operation_name='"HTTP Generic"'),
    ]
    cfg = _cfg(rules)
    df = _spans(
        spark,
        [
            ("original_server", "server", {"http.method": "GET", "http.route": "/api/users"}),
            ("original_client", "client", {"http.method": "POST", "http.url": "https://api.example.com/data"}),
            ("original_producer", "producer", {"http.method": "PUT"}),
        ],
    )
    rows = {r["rule_id"]: r for r in apply_rules(df, cfg).collect()}
    assert rows["http_server"]["name"] == "HTTP Server: GET /api/users"
    assert rows["http_client"]["name"] == "HTTP Client: POST https://api.example.com/data"
    assert rows["http_any"]["name"] == "HTTP Generic"


def test_rule_priority_lower_number_wins(spark):
    # processor_test.go:214-256
    rules = [
        OTTLRule(id="fallback", priority=1000, condition="true", operation_name='"fallback_operation"'),
        OTTLRule(id="specific", priority=100, condition='attributes["service.name"] == "test"',
                 operation_name='"specific_operation"'),
    ]
    cfg = _cfg(rules)
    df = _spans(spark, [("original", "unspecified", {"service.name": "test"})])
    row = apply_rules(df, cfg).collect()[0]
    assert row["name"] == "specific_operation"
    assert row["rule_id"] == "specific"


@pytest.mark.parametrize(
    "rule,attrs,expected_name",
    [
        # processor_test.go:258-339
        (
            OTTLRule(id="normalize_path", priority=100, condition='attributes["url.path"] != nil',
                     operation_name='NormalizePath(attributes["url.path"])'),
            {"url.path": "/users/550e8400-e29b-41d4-a716-446655440000/profile"},
            "/users/{id}/profile",
        ),
        (
            OTTLRule(id="parse_sql", priority=100, condition='attributes["db.statement"] != nil',
                     operation_name='ParseSQL(attributes["db.statement"])'),
            {"db.statement": "SELECT * FROM users WHERE id = ?"},
            "SELECT users",
        ),
        (
            OTTLRule(id="remove_query", priority=100, condition='attributes["http.target"] != nil',
                     operation_name='RemoveQueryParams(attributes["http.target"])'),
            {"http.target": "/search?q=test&limit=10"},
            "/search",
        ),
    ],
)
def test_custom_functions_via_rules(spark, rule, attrs, expected_name):
    cfg = _cfg([rule])
    df = _spans(spark, [("original", "unspecified", attrs)])
    assert apply_rules(df, cfg).collect()[0]["name"] == expected_name


def test_first_non_nil_in_rule(spark):
    # ottl_functions_test.go:20-93
    rule = OTTLRule(
        id="http_first_non_nil", priority=100,
        condition='FirstNonNil([attributes["http.request.method"], attributes["http.method"]]) != nil',
        operation_name='Concat([FirstNonNil([attributes["http.request.method"], attributes["http.method"]]), " /api"], "")',
        operation_type='"http"',
    )
    cfg = _cfg([rule])
    df = _spans(
        spark,
        [
            ("test", "unspecified", {"http.request.method": "GET", "http.method": "POST"}),
            ("test", "unspecified", {"http.method": "POST"}),
            ("test", "unspecified", {"some.other": "value"}),
        ],
    )
    names = [r["name"] for r in apply_rules(df, cfg).collect()]
    assert names == ["GET /api", "POST /api", "test"]


def test_respects_existing_attributes(spark):
    # processor_respects_attrs_test.go:17-95
    rule = OTTLRule(
        id="http_rule", priority=100,
        condition='attributes["http.method"] != nil',
        operation_name='Concat([attributes["http.method"], "/test"], " ")',
        operation_type='"http"',
    )
    cfg = _cfg([rule], mode=MODE_ENFORCE)
    df = _spans(
        spark,
        [
            ("original_span_1", "unspecified",
             {"http.method": "GET", "operation.name": "pre-existing-operation", "operation.type": "pre-existing-type"}),
            ("original_span_2", "unspecified", {"http.method": "POST"}),
            ("original_span_3", "unspecified", {"http.method": "PUT", "operation.type": "pre-existing-type"}),
        ],
    )
    rows = {r["attrs"]["http.method"]: r for r in apply_rules(df, cfg).collect()}

    # Span 1: skip-guarded, untouched (processor.go:202-206).
    s1 = rows["GET"]
    assert s1["name"] == "original_span_1"
    assert s1["attrs"]["operation.name"] == "pre-existing-operation"
    assert s1["attrs"]["operation.type"] == "pre-existing-type"
    assert s1["rule_id"] is None

    # Span 2: processed and renamed.
    s2 = rows["POST"]
    assert s2["name"] == "POST /test"
    assert s2["attrs"]["operation.name"] == "POST /test"
    assert s2["attrs"]["operation.type"] == "http"

    # Span 3: processed but pre-existing operation.type preserved
    # (processor.go:296-301).
    s3 = rows["PUT"]
    assert s3["name"] == "PUT /test"
    assert s3["attrs"]["operation.name"] == "PUT /test"
    assert s3["attrs"]["operation.type"] == "pre-existing-type"


def test_name_expr_error_falls_through_to_next_rule(spark):
    """A rule whose condition matches but whose name expression 'errors'
    (NULL in our model) must fall through to the NEXT rule, not win with a
    NULL name (processor.go:244-250, SURVEY.md §4 risk 3)."""
    rules = [
        OTTLRule(id="bad", priority=100, condition="true",
                 operation_name='NormalizePath(attributes["missing.key"])'),
        OTTLRule(id="good", priority=200, condition="true", operation_name='"fallback"'),
    ]
    cfg = _cfg(rules)
    df = _spans(spark, [("orig", "unspecified", {"x": "y"})])
    row = apply_rules(df, cfg).collect()[0]
    assert row["rule_id"] == "good"
    assert row["name"] == "fallback"


def test_type_expr_error_still_applies_rule(spark):
    """operation_type eval error => empty type, rule still applied
    (processor.go:256-262); the type attribute is NOT set."""
    rule = OTTLRule(
        id="db", priority=100, condition='attributes["db.statement"] != nil',
        operation_name='ParseSQL(attributes["db.statement"])',
        operation_type='attributes["db.system"]',  # absent => NULL => Go's ""
    )
    cfg = _cfg([rule])
    df = _spans(spark, [("orig", "client", {"db.statement": "SELECT * FROM t WHERE 1"})])
    row = apply_rules(df, cfg).collect()[0]
    assert row["rule_id"] == "db"
    assert row["name"] == "SELECT t"
    assert "operation.type" not in row["attrs"]


def test_disabled_processor_is_identity(spark):
    # processor.go:122-124; factory default disabled (factory.go:36-38)
    cfg = _cfg([HTTP_ROUTE_RULE], enabled=False, sp_enabled=False)
    df = _spans(spark, [("orig", "server", {"http.method": "GET", "http.route": "/r"})])
    row = apply_rules(df, cfg).collect()[0]
    assert row["name"] == "orig"
    assert row["rule_id"] is None
    assert "operation.name" not in row["attrs"]


def test_cardinality_reduction_counts(spark):
    # processor_test.go:341-396: 2 unique original names -> 1 operation name.
    rule = OTTLRule(
        id="http", priority=100, condition='attributes["http.method"] != nil',
        operation_name='Concat([attributes["http.method"], NormalizePath(attributes["url.path"])], " ")',
    )
    cfg = _cfg([rule], preserve=True)
    rows = [("GET /users/12345/profile", "server", {"http.method": "GET", "url.path": "/users/12345/profile"})] * 5
    rows += [("GET /users/67890/profile", "server", {"http.method": "GET", "url.path": "/users/67890/profile"})] * 3
    df = _spans(spark, rows)
    out = apply_rules(df, cfg)
    assert out.filter(F.col("name") != "GET /users/{id}/profile").count() == 0
    agg = out.agg(
        F.countDistinct("name_original").alias("orig"),
        F.countDistinct(F.when(F.col("rule_id").isNotNull(), F.col("operation_name"))).alias("reduced"),
    ).collect()[0]
    assert agg["orig"] == 2  # spanNameCount analogue
    assert agg["reduced"] == 1  # operationCount analogue


def test_cascade_stays_whole_stage_codegen(spark):
    """The full 18-rule cascade must compile to pure expression work: no
    shuffle, no Python eval in the plan."""
    from otel_semconvprocessor_spark.config import reference_config

    df = _spans(spark, [("n", "server", {"http.method": "GET"})])
    plan = apply_rules(df, reference_config())._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_preexisting_original_name_attr_is_overwritten(spark):
    """A span whose attrs already carry the original-name key (but no
    operation.name) must not crash map_concat under the default
    mapKeyDedupPolicy=EXCEPTION — the reference overwrites it via PutStr
    (processor.go:290)."""
    rule = OTTLRule(
        id="http_rule", priority=100,
        condition='attributes["http.method"] != nil',
        operation_name='Concat([attributes["http.method"], "/test"], " ")',
        operation_type='"http"',
    )
    cfg = _cfg([rule], mode=MODE_ENFORCE, preserve=True)
    df = _spans(
        spark,
        [("old_name", "unspecified", {"http.method": "GET", "name.original": "stale"})],
    )
    row = apply_rules(df, cfg).collect()[0]
    assert row["name"] == "GET /test"
    assert row["attrs"]["name.original"] == "old_name"
    assert row["name_original"] == "old_name"


def test_schema_url_keyed_dispatch(spark):
    """A versioned rule applies only to spans of its schema version; the
    wildcard rule catches the rest."""
    old_rule = OTTLRule(
        id="old_http", priority=100, schema_url="1.21.0",
        condition='attributes["http.method"] != nil',
        operation_name='Concat(["OLD", attributes["http.method"]], " ")',
        operation_type='"http"',
    )
    new_rule = OTTLRule(
        id="new_http", priority=100, schema_url="1.26.0",
        condition='attributes["http.request.method"] != nil',
        operation_name='Concat(["NEW", attributes["http.request.method"]], " ")',
        operation_type='"http"',
    )
    wildcard = OTTLRule(
        id="fallback", priority=999,
        condition='attributes["x"] != nil',
        operation_name='"FALLBACK"',
    )
    cfg = _cfg([old_rule, new_rule, wildcard])
    df = spark.createDataFrame(
        [
            (1, "s1", "server", {"http.method": "GET", "x": "1"}, "1.21.0"),
            (2, "s2", "server", {"http.request.method": "GET", "x": "1"}, "1.26.0"),
            # old-convention attrs under the NEW schema: versioned old rule
            # must NOT apply; wildcard catches it
            (3, "s3", "server", {"http.method": "GET", "x": "1"}, "1.26.0"),
            (4, "s4", "server", {"x": "1"}, None),
            # a version no rule names sees only the wildcard rules
            (5, "s5", "server", {"http.method": "GET", "x": "1"}, "1.99.0"),
        ],
        "doc_id long, name string, kind string, attrs map<string,string>, schema_url string",
    )
    out = apply_rules(df, cfg)
    assert out.columns == df.columns + ["rule_id", "operation_name", "operation_type", "name_original"]
    got = {r["doc_id"]: (r["rule_id"], r["name"]) for r in out.collect()}
    assert got[1] == ("old_http", "OLD GET")
    assert got[2] == ("new_http", "NEW GET")
    assert got[3] == ("fallback", "FALLBACK")
    assert got[4] == ("fallback", "FALLBACK")
    assert got[5] == ("fallback", "FALLBACK")


def test_versioned_rules_missing_schema_col_raises(spark):
    """A versioned rule set + a frame without the schema_url column is a
    caller error: silent wildcard-only degradation would be invisible."""
    rule = OTTLRule(
        id="v", priority=1, schema_url="1.21.0",
        condition='attributes["x"] != nil', operation_name='"V"',
    )
    wild = OTTLRule(
        id="w", priority=2, condition='attributes["x"] != nil', operation_name='"W"',
    )
    df = _spans(spark, [("s", "server", {"x": "1"})])
    with pytest.raises(ValueError, match="schema_url"):
        apply_rules(df, _cfg([rule, wild]))


def test_rules_plan_adds_no_join(spark, sf_dir):
    """Plan gate: apply_rules adds NO join and NO shuffle to its input's
    plan, both with an all-wildcard rule set (the reference config) and with
    versioned rules, whose schema_url gates are literal comparisons."""
    from otel_semconvprocessor_spark.config import reference_config
    from otel_semconvprocessor_spark.sources.docspans import doc_spans

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    spans = doc_spans(spark, sf_dir)
    out = plan(apply_rules(spans, reference_config()))
    assert "Exchange" not in out
    assert out.count("Join") == plan(spans).count("Join")

    versioned_cfg = reference_config()
    for r in versioned_cfg.span_processing.rules[:3]:
        r.schema_url = "1.26.0"
    # non-foldable schema_url column: a literal would constant-fold the
    # version gates out of the plan
    spans_v = spans.withColumn(
        "schema_url",
        F.when(F.col("doc_id") % 2 == 0, F.lit("1.26.0")).otherwise(F.lit("1.21.0")),
    )
    out_v = plan(apply_rules(spans_v, versioned_cfg))
    assert "Exchange" not in out_v
    assert out_v.count("Join") == plan(spans_v).count("Join")
