"""Collector-YAML loader: the reference's config surface, file-verbatim.

The reference processor is configured through the OpenTelemetry Collector's
YAML (``config.yaml:30-195`` -> config.go:15-82 via mapstructure).  This
module loads that exact shape — a full collector file or just the processor
subtree — into the validated :class:`~.config.Config` model, so a user can
point the engine at the YAML they already run and get the same startup
contract: every rule either compiles into a Catalyst expression or is
rejected with a clear :class:`OTTLSyntaxError` at load time, never at
executor runtime (the reference errors at collector start, processor.go:81-118).

``conformance_report`` is the supporting audit: per rule, per OTTL field,
compiled-or-rejected with the reason — the basis of the README conformance
table and tests/test_conformance.py.
"""

from __future__ import annotations

from dataclasses import dataclass

import yaml

from .config import Config, OTTLRule, SpanProcessingConfig
from .functions.ottl import OTTLSyntaxError
from .operators.rules import compile_rule_field

__all__ = [
    "load_collector_yaml",
    "load_semconv_mapping",
    "conformance_report",
    "RuleFieldReport",
]


def load_semconv_mapping(d: dict) -> Config:
    """Build a Config from the ``semconv:`` processor subtree (already-parsed
    YAML mapping), with the reference's key names (config.go mapstructure
    tags: span_processing, preserve_original_name, span_kind, ...)."""
    sp = d.get("span_processing") or {}
    rules = [
        OTTLRule(
            id=str(r.get("id", "")),
            priority=int(r.get("priority", 0)),
            condition=str(r.get("condition", "")),
            operation_name=str(r.get("operation_name", "")),
            operation_type=str(r.get("operation_type", "")),
            span_kind=list(r.get("span_kind", []) or []),
            schema_url=str(r.get("schema_url", "")),
        )
        for r in (sp.get("rules") or [])
    ]
    cfg = Config(
        enabled=bool(d.get("enabled", False)),
        benchmark=bool(d.get("benchmark", False)),
        span_processing=SpanProcessingConfig(
            enabled=bool(sp.get("enabled", False)),
            mode=str(sp.get("mode", "")),
            operation_name_attribute=str(sp.get("operation_name_attribute", "")),
            operation_type_attribute=str(sp.get("operation_type_attribute", "")),
            preserve_original_name=bool(sp.get("preserve_original_name", False)),
            original_name_attribute=str(sp.get("original_name_attribute", "")),
            rules=rules,
        ),
    )
    cfg.validate()
    return cfg


def load_collector_yaml(text: str) -> Config:
    """Load a collector YAML document (or just the processor subtree) and
    return the validated Config.

    Accepts either a full collector file — the ``processors:`` section is
    searched for the ``semconv`` entry (type-name match, '/' alias suffixes
    allowed, as the collector resolves component IDs) — or a bare semconv
    mapping.  Every rule's condition / operation_name / operation_type is
    compiled through the OTTL->Column compiler so unsupported constructs fail
    HERE, with the rule id and field named, not in an executor.
    """
    doc = yaml.safe_load(text)
    if not isinstance(doc, dict):
        raise ValueError("collector YAML must be a mapping")
    sub = doc
    if "processors" in doc and isinstance(doc["processors"], dict):
        for key, val in doc["processors"].items():
            if key == "semconv" or key.startswith("semconv/"):
                sub = val
                break
        else:
            raise ValueError("no semconv processor found in 'processors:'")
    cfg = load_semconv_mapping(sub)
    bad = [r.error for r in conformance_report(cfg) if not r.compiled]
    if bad:
        raise OTTLSyntaxError("; ".join(bad))
    return cfg


@dataclass
class RuleFieldReport:
    rule_id: str
    field: str  # "condition" | "operation_name" | "operation_type"
    expression: str
    compiled: bool
    error: str | None = None


def conformance_report(cfg: Config) -> list[RuleFieldReport]:
    """Compile every OTTL expression in the config, as ``apply_rules`` does
    on an OTLP span frame (which carries a ``resource`` map column); report
    per-field compiled-or-rejected.  A rejection is ALWAYS an OTTLSyntaxError
    with a message naming the rule and field (the clean-reject contract) —
    any other exception type is a compiler bug and propagates."""
    out: list[RuleFieldReport] = []
    for rule in cfg.span_processing.rules:
        fields = ["condition", "operation_name"] + (["operation_type"] if rule.operation_type else [])
        for fname in fields:
            expr = getattr(rule, fname)
            try:
                compile_rule_field(rule, fname, "attrs", "name", "resource")
                out.append(RuleFieldReport(rule.id, fname, expr, True))
            except OTTLSyntaxError as exc:
                out.append(RuleFieldReport(rule.id, fname, expr, False, str(exc)))
    return out
