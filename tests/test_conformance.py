"""Config-conformance harness (round-5 judge task #2): arbitrary
reference-style rule YAML must either COMPILE through the OTTL->Column
compiler or be CLEANLY REJECTED (OTTLSyntaxError, rule + field named) — never
crash, never silently mis-compile, never fail at executor runtime.

Three corpora:
  * the reference's own config.yaml, loaded VERBATIM through the YAML path
    (skipped when /root/reference isn't mounted — the repo stays standalone);
  * tests/fixtures/conformance/port_realistic.yaml — a realistic user port
    exercising the widened registry; every rule compiles;
  * tests/fixtures/conformance/unsupported.yaml — deliberately-unsupported
    constructs; every rule rejects with a named reason.
"""

import os

import pytest
import yaml

from otel_semconvprocessor_spark.config import reference_rules
from otel_semconvprocessor_spark.config_yaml import (
    conformance_report,
    load_collector_yaml,
    load_semconv_mapping,
)
from otel_semconvprocessor_spark.functions.ottl import (
    OTTLSyntaxError,
    SUPPORTED_FUNCTIONS,
    compile_ottl,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "conformance")
REFERENCE_YAML = "/root/reference/config.yaml"


def _read(path):
    with open(path) as f:
        return f.read()


# ---- the reference's own config, verbatim --------------------------------


@pytest.mark.skipif(not os.path.exists(REFERENCE_YAML), reason="reference not mounted")
def test_reference_config_yaml_loads_and_fully_compiles(spark):
    cfg = load_collector_yaml(_read(REFERENCE_YAML))
    assert cfg.enabled and cfg.benchmark
    sp = cfg.span_processing
    assert sp.enabled and sp.mode == "enforce" and sp.preserve_original_name
    assert len(sp.rules) == 18  # 18 `- id:` entries (config.yaml:57-190)
    report = conformance_report(cfg)
    rejected = [r for r in report if not r.compiled]
    assert rejected == [], rejected


@pytest.mark.skipif(not os.path.exists(REFERENCE_YAML), reason="reference not mounted")
def test_reference_yaml_equals_builtin_rule_table(spark):
    """The YAML loader and the hand-maintained reference_rules() table must
    agree rule-for-rule — one spec, two entry points."""
    cfg = load_collector_yaml(_read(REFERENCE_YAML))
    got = {
        r.id: (r.priority, r.condition, r.operation_name, r.operation_type, tuple(r.span_kind))
        for r in cfg.span_processing.rules
    }
    want = {
        r.id: (r.priority, r.condition, r.operation_name, r.operation_type, tuple(r.span_kind))
        for r in reference_rules()
    }
    assert got == want


# ---- realistic port: everything compiles ---------------------------------


def test_realistic_port_compiles_end_to_end(spark):
    cfg = load_collector_yaml(_read(os.path.join(FIXTURES, "port_realistic.yaml")))
    assert len(cfg.span_processing.rules) == 6
    assert [r.compiled for r in conformance_report(cfg)] == [True] * 17


def test_realistic_port_runs_through_the_engine(spark):
    """YAML -> Config -> apply_rules: the loaded rules drive the real CASE
    cascade, first-match-wins."""
    from otel_semconvprocessor_spark.operators.rules import apply_rules

    cfg = load_collector_yaml(_read(os.path.join(FIXTURES, "port_realistic.yaml")))
    df = spark.createDataFrame(
        [
            (1, "GetUserCart", "client",
             {"rpc.service": "oteldemo.CartService", "rpc.method": "GetCart"}, {}),
            (2, "q1", "client",
             {"db.statement": "SELECT  *   FROM users", "db.system": "MySQL"}, {}),
            (3, "SomeInternalTask", "internal", {"retry.count": "3"}, {}),
            (4, "plainSpan", "internal", {}, {}),
        ],
        "sid long, name string, kind string, attrs map<string,string>, resource map<string,string>",
    )
    out = {r["sid"]: (r["rule_id"], r["operation_name"]) for r in apply_rules(df, cfg).collect()}
    assert out[1] == ("rpc_services_snaked", "oteldemo_cart_service/get_cart")
    assert out[2] == ("compact_sql", "SELECT * FROM users")
    assert out[3] == ("retry_counted", "retry:3")
    assert out[4] == ("fallback", "plain_span")


_RESOURCE_RULE_YAML = """
enabled: true
span_processing:
  enabled: true
  rules:
    - id: by_service
      priority: 1
      condition: 'resource.attributes["service.name"] != nil'
      operation_name: 'Concat([resource.attributes["service.name"], name], "/")'
"""


def test_resource_attributes_rule_runs_on_a_span_frame(spark):
    """What the loader accepts, apply_rules runs: resource.attributes reads
    the span frame's ``resource`` map column."""
    from otel_semconvprocessor_spark.operators.rules import apply_rules

    cfg = load_collector_yaml(_RESOURCE_RULE_YAML)
    df = spark.createDataFrame(
        [("GET", "server", {}, {"service.name": "cart"})],
        "name string, kind string, attrs map<string,string>, resource map<string,string>",
    )
    row = apply_rules(df, cfg).first()
    assert (row["rule_id"], row["operation_name"]) == ("by_service", "cart/GET")


def test_resource_attributes_rule_without_resource_column_names_the_rule(spark):
    """On a pages-shaped frame (no ``resource`` column) the same rule is
    rejected when apply_rules is called, naming the rule and field."""
    from otel_semconvprocessor_spark.operators.rules import apply_rules

    cfg = load_collector_yaml(_RESOURCE_RULE_YAML)
    df = spark.createDataFrame(
        [("GET", "server", {}, "")],
        "name string, kind string, attrs map<string,string>, schema_url string",
    )
    with pytest.raises(OTTLSyntaxError, match="by_service.*condition"):
        apply_rules(df, cfg)


# ---- unsupported constructs: clean rejection ------------------------------


def test_unsupported_constructs_each_cleanly_reject(spark):
    # unsupported.yaml is a bare semconv mapping; load it without the
    # loader's compile step so the report covers every rule
    cfg = load_semconv_mapping(
        yaml.safe_load(_read(os.path.join(FIXTURES, "unsupported.yaml")))
    )
    report = conformance_report(cfg)
    by_rule = {}
    for r in report:
        if not r.compiled:
            by_rule.setdefault(r.rule_id, []).append(r)
    # every deliberately-broken rule is rejected, each with a message
    assert set(by_rule) == {
        "editor_statement_syntax", "unknown_function", "kebab_case",
        "format_float_verb", "dynamic_pattern", "bad_regex",
        "split_wrong_arity", "replace_all_on_scalar",
        "time_epoch_directive", "decode_unknown_encoding",
        "parse_key_value_same_delims", "csv_lazy_quotes", "bad_glob",
        "sort_bad_order", "grok_unknown_pattern", "grok_type_coercion",
    }
    for rules in by_rule.values():
        for r in rules:
            assert r.error  # named reason, not a bare failure


def test_unsupported_yaml_raises_with_rule_and_field_named(spark):
    with pytest.raises(OTTLSyntaxError) as exc:
        load_collector_yaml(_read(os.path.join(FIXTURES, "unsupported.yaml")))
    msg = str(exc.value)
    assert "kebab_case" in msg and "operation_name" in msg


def _one_rule_yaml(operation_name, rule_id="r1"):
    return f"""
enabled: true
span_processing:
  enabled: true
  rules:
    - id: {rule_id}
      priority: 1
      condition: 'name != nil'
      operation_name: '{operation_name.replace("'", "''")}'
"""


def test_rejection_is_never_a_crash(spark):
    """Fuzz-ish sweep: malformed expressions in a structurally valid rule
    must raise OTTLSyntaxError, never anything else.  (An empty expression is
    the config's own check, a plain ValueError naming the field.)"""
    with pytest.raises(ValueError, match="empty operation_name"):
        load_collector_yaml(_one_rule_yaml(""))
    bad_exprs = [
        "((", 'attributes[name]', "name ==", "nil > 3", "[1,2]",
        'Foo("x")', "Len()", "Substring(name)", 'Trim(name, "a", "b")',
        'Duration(name, "x")', "and and", 'Concat("a", "b")',
        "FirstNonNil()", "FirstNonNil([name], name)",
    ]
    for expr in bad_exprs:
        try:
            load_collector_yaml(_one_rule_yaml(expr))
        except OTTLSyntaxError:
            continue
        raise AssertionError(f"expression {expr!r} was accepted")


def test_wrong_arity_rejects_with_rule_and_field_named(spark):
    with pytest.raises(OTTLSyntaxError) as exc:
        load_collector_yaml(_one_rule_yaml('FirstNonNil([attributes["a"]], "x")', "fnn_two_args"))
    msg = str(exc.value)
    assert "fnn_two_args" in msg and "operation_name" in msg and "FirstNonNil" in msg


# a fixed atom set: every argument kind a signature names, plus the empty
# string and a negative int (the literal values builders check).  nil is left
# out to keep the sweep (4,526 calls) near 20 s: in an expr slot it lowers
# like `name`, and no signature has a nil kind.
_ATOMS = ["name", '"s"', "1", "true", "[name]", "attributes", '""', "-1"]


def test_every_function_compiles_or_cleanly_rejects(spark):
    """Every supported function with 0, 1 and 2 arguments drawn from _ATOMS
    either compiles to a Column or raises OTTLSyntaxError — the signature
    table is checked for every name, not just the documented invocations."""
    from itertools import product

    from pyspark.sql import Column

    crashes = []
    for func in sorted(SUPPORTED_FUNCTIONS):
        for n in range(3):
            for args in product(_ATOMS, repeat=n):
                expr = f"{func}({', '.join(args)})"
                try:
                    result = compile_ottl(expr, resource_col="resource")
                except OTTLSyntaxError:
                    continue
                except Exception as exc:  # noqa: BLE001 - any other type is a compiler bug
                    result = exc
                if not isinstance(result, Column):
                    crashes.append(f"{expr}: {result!r}")
    assert crashes == [], crashes[:10]


# ---- structural validation through the YAML path --------------------------


def test_yaml_structural_validation(spark):
    with pytest.raises(ValueError, match="no semconv processor"):
        load_collector_yaml("processors:\n  batch: {}\n")
    with pytest.raises(ValueError, match="duplicate rule ID"):
        load_collector_yaml(
            """
enabled: true
span_processing:
  enabled: true
  rules:
    - {id: a, priority: 1, condition: 'name != nil', operation_name: '"x"'}
    - {id: a, priority: 2, condition: 'name != nil', operation_name: '"y"'}
"""
        )
    with pytest.raises(ValueError, match="invalid span_kind"):
        load_collector_yaml(
            """
enabled: true
span_processing:
  enabled: true
  rules:
    - {id: a, priority: 1, span_kind: [SERVER], condition: 'name != nil', operation_name: '"x"'}
"""
        )


def test_supported_functions_documented_in_readme():
    """The README conformance table must name every registry function — the
    docs ARE the contract a porting user reads."""
    readme = _read(os.path.join(os.path.dirname(FIXTURES), "..", "..", "README.md"))
    missing = [f for f in sorted(SUPPORTED_FUNCTIONS) if f not in readme]
    assert missing == [], f"README missing: {missing}"
