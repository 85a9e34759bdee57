"""The rule engine: skip-guarded, first-match-wins priority cascade.

Reference semantics (processor.go:192-324), re-expressed as ONE Catalyst
``CASE WHEN`` chain producing a struct — evaluated lazily in priority order,
exactly like the reference's ``break`` at processor.go:322, but JVM-side and
whole-stage code-generated instead of per-row interpreted:

  * skip-guard: a span with a pre-existing ``operation.name`` attribute is not
    processed at all (processor.go:202-206).
  * per-rule span-kind filter (processor.go:215-228).
  * condition eval error => rule skipped (processor.go:231-241): NULL-valued
    conditions are falsy in CASE WHEN, same observable behavior.
  * name-expression eval error => rule skipped, fall through to the NEXT rule
    (processor.go:244-250): encoded by folding ``name_expr IS NOT NULL`` into
    the rule predicate (except for Concat/literal exprs which can never error).
  * operation_type eval error => empty type but the rule still applies
    (processor.go:256-262): the type column is simply NULL.
  * enrich mode (processor.go:266-282): attributes only, span name untouched.
  * enforce mode (processor.go:284-309): span name overwritten; original name
    stashed in ``name.original`` only when preserve_original_name is set AND
    the name actually changed (processor.go:290).
  * ``operation.type`` is set-if-absent in both modes (processor.go:270-274,
    296-301).

Input contract: df has ``name:string``, ``kind:string`` (lowercase span-kind
words), ``attrs:map<string,string>``.  Output adds:

  rule_id:string          matched rule id (NULL: skip-guarded or no match)
  operation_name:string   computed name for matched rows (NULL otherwise)
  operation_type:string   computed type for matched rows (NULL when rule has
                          no type expr or it errored — Go's "" case)
  name:string             (replaced) enforced name in enforce mode
  name_original:string    see above
  attrs:map               (replaced) updated attribute map

Versioned rules: a rule with a non-empty ``schema_url`` applies only to spans
whose ``schema_url`` column equals it; a rule with ``schema_url == ""`` applies
to every span.  A versioned rule's predicate is gated on the literal
comparison ``schema_url = '<its version>'``, so the rule table compiles into
the same one ``CASE`` chain: no join, no lookup frame.  The chain stays in
validated priority order, so first-match is unchanged.

Scale note: the cascade is pure expression work — no shuffle, no UDF, no
join, no extra pass over the data.  It does not fuse into the scan's
whole-stage codegen: it is its own ``Project`` above ``ArrowEvalPython`` and
three lambda ``Project``s, and on the reference rule set its generated method
(38,429 bytecode bytes) is over the 8,000 that ``tuning.ensure_jit_codegen``
sets as ``hugeMethodLimit``.  So Spark generates about 530 KB of whole-stage
Java for that stage, discards it, and runs the ``Project`` per operator
instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import MODE_ENFORCE, Config, OTTLRule
from ..functions.ottl import OTTLSyntaxError, compile_ottl, value_expr_never_null
from ..functions.scalars import attr
from ..tuning import ensure_jit_codegen

__all__ = ["apply_rules"]


def compile_rule_field(
    rule: OTTLRule, field: str, attrs: Column | str, name: Column | str, resource: Column | str | None
) -> Column:
    """Compile one OTTL field of ``rule`` (``condition``, ``operation_name``
    or ``operation_type``) over the span columns ``attrs`` and ``name`` and
    the ``resource`` map column that ``resource.attributes`` reads (None
    when the frame has none).  A rejection raises ``OTTLSyntaxError`` naming
    the rule id and the field.  ``apply_rules`` and
    ``config_yaml.conformance_report`` both compile through here, so what
    loads is what runs."""
    try:
        return compile_ottl(getattr(rule, field), attrs, name, resource)
    except OTTLSyntaxError as exc:
        raise OTTLSyntaxError(f"rule {rule.id!r} field {field}: {exc}") from None


def apply_rules(df: DataFrame, cfg: Config) -> DataFrame:
    """Apply the processor to a span-shaped DataFrame (see module docstring).

    A rule set with ``schema_url``-versioned rules needs a ``schema_url``
    column on ``df``; without one it raises ``ValueError`` — silently
    degrading to wildcard-only matching would be invisible, since the output
    schema is unchanged.  Spans whose schema_url is NULL or has no versioned
    rule see only the version-wildcard rules.  ``resource.attributes`` reads
    the ``resource`` map column; a rule that uses it on a frame without one
    raises ``OTTLSyntaxError`` here, before any job runs."""
    ensure_jit_codegen(df.sparkSession)
    if not cfg.enabled or not cfg.span_processing.enabled:
        # processor.go:122-124 / 146-148: disabled => identity, but keep the
        # output schema stable for downstream stages.
        return df.withColumns(
            {
                "rule_id": F.lit(None).cast("string"),
                "operation_name": F.lit(None).cast("string"),
                "operation_type": F.lit(None).cast("string"),
                "name_original": F.lit(None).cast("string"),
            }
        )

    sp = cfg.span_processing
    columns = df.columns
    attrs = F.col("attrs")
    name = F.col("name")
    kind = F.col("kind")
    resource = F.col("resource") if "resource" in columns else None

    if any(r.schema_url for r in sp.rules) and "schema_url" not in columns:
        raise ValueError(
            "rule set has schema_url-versioned rules but column "
            f"'schema_url' is not in the input ({columns})"
        )

    # Compile every validated rule into one (predicate, hit) branch, driver-side
    # and once per job — the Spark analogue of compileRules
    # (processor.go:81-118).  Rules arrive priority-sorted from
    # Config.validate() (config.go:156-158).
    branches = []
    for rule in sp.rules:
        pred = compile_rule_field(rule, "condition", attrs, name, resource)
        if rule.span_kind:
            # processor.go:215-228 — empty list means all kinds.
            pred = kind.isin(list(rule.span_kind)) & pred
        op_name = compile_rule_field(rule, "operation_name", attrs, name, resource).cast("string")
        op_type = (
            compile_rule_field(rule, "operation_type", attrs, name, resource).cast("string")
            if rule.operation_type
            else F.lit(None).cast("string")
        )
        if rule.schema_url:
            # versioned rule: applies only to spans of its schema version
            pred = (F.col("schema_url") == F.lit(rule.schema_url)) & pred
        if not value_expr_never_null(rule.operation_name):
            # name-expr error => skip THIS rule and continue the cascade
            # (processor.go:244-250): fold name_expr IS NOT NULL into the
            # predicate.  The expr appears in both the branch condition and
            # the value (2 evals on matched rows only); the alternative —
            # evaluating the hit struct once behind the predicate and testing
            # its op_name field — was measured 10% SLOWER on the 18-rule 1M-row
            # cascade (12.30s vs 11.16s min-warm, cascade_attrib.py harness,
            # commit 980a121): the nested struct-valued CASE costs codegen
            # more than the rare re-evaluation saves.
            pred = pred & op_name.isNotNull()
        hit = F.struct(
            F.lit(rule.id).alias("rule_id"),
            op_name.alias("op_name"),
            op_type.alias("op_type"),
        )
        branches.append((pred, hit))

    # One struct-valued CASE chain => each rule predicate is evaluated at most
    # once per row and evaluation stops at the first match (lazy CASE WHEN),
    # mirroring the `break` at processor.go:322.
    cascade = F.lit(None).cast("struct<rule_id:string,op_name:string,op_type:string>")
    for pred, hit in reversed(branches):
        cascade = F.when(pred, hit).otherwise(cascade)

    # Skip-guard (processor.go:202-206): pre-existing operation.name attribute
    # short-circuits the whole cascade.
    guarded = F.when(attr(attrs, sp.operation_name_attribute).isNull(), cascade)

    return finish_match(df.withColumn("__match", guarded), cfg)


def finish_match(df: DataFrame, cfg: Config) -> DataFrame:
    """Post-match stage: given a ``__match`` struct column
    (``struct<rule_id,op_name,op_type>``, NULL = skip-guarded or no match),
    produce the output contract — enforce/enrich naming, name.original
    preservation, and the attribute-map update."""
    sp = cfg.span_processing
    attrs = F.col("attrs")
    name = F.col("name")
    m = F.col("__match")
    matched = m.isNotNull()
    op_name = m["op_name"]
    # Go: a type-expr eval error leaves operationType == "" and the attribute
    # unset (processor.go:256-262, 269-274); NULL and "" are both "unset".
    op_type = m["op_type"]
    type_settable = matched & op_type.isNotNull() & (op_type != "")

    enforce = sp.mode == MODE_ENFORCE

    new_name = F.when(matched, op_name).otherwise(name) if enforce else name
    name_original = (
        F.when(F.lit(sp.preserve_original_name) & matched & (name != op_name), name)
        if enforce
        else F.lit(None).cast("string")
    )

    # Attribute-map update: add operation.name (guard guarantees the key is
    # absent on matched rows), operation.type set-if-absent, and name.original
    # in enforce+preserve when the name changed.  operation.name/.type cannot
    # collide by construction, but name.original CAN pre-exist (the reference
    # overwrites it via PutStr, processor.go:290) — so before map_concat we
    # drop any base-map key the additions map is about to (re-)add, giving
    # last-wins semantics instead of DUPLICATED_MAP_KEY under Spark's default
    # spark.sql.mapKeyDedupPolicy=EXCEPTION.
    additions = F.map_from_entries(
        F.filter(
            F.array(
                F.struct(
                    F.lit(sp.operation_name_attribute).alias("key"),
                    F.when(matched, op_name).alias("value"),
                ),
                F.struct(
                    F.lit(sp.operation_type_attribute).alias("key"),
                    F.when(
                        type_settable & attr(attrs, sp.operation_type_attribute).isNull(),
                        op_type,
                    ).alias("value"),
                ),
                F.struct(
                    F.lit(sp.original_name_attribute).alias("key"),
                    (
                        F.when(
                            F.lit(sp.preserve_original_name) & matched & (name != op_name),
                            name,
                        )
                        if enforce
                        else F.lit(None).cast("string")
                    ).alias("value"),
                ),
            ),
            lambda e: e["value"].isNotNull(),
        )
    )
    # NB: the drop-predicate lambda must reference only literals — an
    # unresolved column ref (e.g. `name`) inside a higher-order-function
    # lambda in this withColumns can resolve against the REPLACED column
    # (observed on Spark 4.1: the lambda saw the new enforced name, the
    # sibling expression the original), silently changing semantics.
    orig_fires = (
        (F.lit(sp.preserve_original_name) & matched & (name != op_name))
        if enforce
        else F.lit(False)
    )
    empty_map = F.create_map().cast("map<string,string>")
    coalesced = F.coalesce(attrs, empty_map)
    base = F.when(
        orig_fires,
        F.map_filter(coalesced, lambda k, _: k != F.lit(sp.original_name_attribute)),
    ).otherwise(coalesced)
    new_attrs = F.map_concat(base, additions)

    return (
        df.withColumns(
            {
                "rule_id": m["rule_id"],
                "operation_name": F.when(matched, op_name),
                "operation_type": F.when(matched, op_type),
                "name": new_name,
                "name_original": name_original,
                "attrs": new_attrs,
            }
        ).drop("__match")
    )
