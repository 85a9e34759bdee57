"""Rule/processor configuration model.

Mirrors the reference's config schema and validation exactly:
  - Config / SpanProcessingConfig / OTTLRule  -> config.go:15-82
  - validation, defaulting, priority sort     -> config.go:85-161

Validation happens once on the driver; the validated config is then compiled
into Catalyst expressions (see operators/rules.py) — the Spark analogue of the
reference's startup-time OTTL compilation.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

__all__ = [
    "OTTLRule",
    "SpanProcessingConfig",
    "Config",
    "MODE_ENRICH",
    "MODE_ENFORCE",
    "VALID_SPAN_KINDS",
    "reference_rules",
    "reference_config",
]

MODE_ENRICH = "enrich"
MODE_ENFORCE = "enforce"

# config.go:141-147
VALID_SPAN_KINDS = frozenset({"server", "client", "producer", "consumer", "internal"})


@dataclass
class OTTLRule:
    """One rule (config.go:62-82). ``schema_url`` is the graft's addition: the
    semconv schema version this rule row belongs to ("" = every version);
    ``apply_rules`` gates a versioned rule on a literal ``schema_url``
    comparison inside its one ``CASE`` chain."""

    id: str
    priority: int
    condition: str
    operation_name: str
    operation_type: str = ""
    span_kind: list[str] = field(default_factory=list)
    schema_url: str = ""


@dataclass
class SpanProcessingConfig:
    enabled: bool = False
    mode: str = ""
    operation_name_attribute: str = ""
    operation_type_attribute: str = ""
    preserve_original_name: bool = False
    original_name_attribute: str = ""
    rules: list[OTTLRule] = field(default_factory=list)

    def validate(self) -> None:
        """Port of SpanProcessingConfig.Validate (config.go:95-161): mode
        defaulting, attribute-name defaulting, rule checks, priority sort."""
        if self.mode in (MODE_ENRICH, MODE_ENFORCE):
            pass
        elif self.mode == "":
            self.mode = MODE_ENRICH
        else:
            raise ValueError(f"invalid mode {self.mode!r}, must be 'enrich' or 'enforce'")

        if not self.operation_name_attribute:
            self.operation_name_attribute = "operation.name"
        if not self.operation_type_attribute:
            self.operation_type_attribute = "operation.type"
        if not self.original_name_attribute:
            self.original_name_attribute = "name.original"

        if not self.rules:
            raise ValueError("at least one rule must be defined")

        seen: set[str] = set()
        for i, rule in enumerate(self.rules):
            if not rule.id:
                raise ValueError(f"rule at index {i} has empty ID")
            if rule.id in seen:
                raise ValueError(f"duplicate rule ID: {rule.id}")
            seen.add(rule.id)
            if not rule.condition:
                raise ValueError(f"rule {rule.id} has empty condition")
            if not rule.operation_name:
                raise ValueError(f"rule {rule.id} has empty operation_name")
            for kind in rule.span_kind:
                if kind not in VALID_SPAN_KINDS:
                    raise ValueError(f"rule {rule.id} has invalid span_kind value: {kind}")

        # config.go:156-158 — ascending priority; Python's sort is stable like
        # Go's sort.Slice is not, but rule IDs are unique and the reference
        # makes no tie-order promise beyond priority.
        self.rules.sort(key=lambda r: r.priority)


@dataclass
class Config:
    enabled: bool = False
    benchmark: bool = False
    span_processing: SpanProcessingConfig = field(default_factory=SpanProcessingConfig)

    def validate(self) -> None:
        if self.span_processing.enabled:
            self.span_processing.validate()


def _rule(**kw: Any) -> OTTLRule:
    return OTTLRule(**kw)


def reference_rules(schema_url: str = "") -> list[OTTLRule]:
    """The 18-rule production set, verbatim from config.yaml:56-195.

    (The reference's BENCHMARK.md says "19 rules", but config.yaml defines
    exactly 18 rule ids — verified with ``grep -c 'id:'``.)"""
    r = [
        _rule(id="http_server_routes", priority=100, span_kind=["server"],
              condition='FirstNonNil([attributes["http.request.method"], attributes["http.method"]]) != nil and attributes["http.route"] != nil',
              operation_name='Concat([FirstNonNil([attributes["http.request.method"], attributes["http.method"]]), attributes["http.route"]], " ")',
              operation_type='"http"'),
        _rule(id="http_server_method_only", priority=110, span_kind=["server"],
              condition='FirstNonNil([attributes["http.request.method"], attributes["http.method"]]) != nil and attributes["http.route"] == nil',
              operation_name='Concat(["HTTP", FirstNonNil([attributes["http.request.method"], attributes["http.method"]])], " ")',
              operation_type='"http"'),
        _rule(id="http_client_template", priority=140, span_kind=["client"],
              condition='FirstNonNil([attributes["http.request.method"], attributes["http.method"]]) != nil and attributes["url.template"] != nil',
              operation_name='Concat([FirstNonNil([attributes["http.request.method"], attributes["http.method"]]), attributes["url.template"]], " ")',
              operation_type='"http_client"'),
        _rule(id="http_client_method_only", priority=145, span_kind=["client"],
              condition='FirstNonNil([attributes["http.request.method"], attributes["http.method"]]) != nil and attributes["url.template"] == nil',
              operation_name='Concat(["HTTP", FirstNonNil([attributes["http.request.method"], attributes["http.method"]])], " ")',
              operation_type='"http_client"'),
        _rule(id="http_client_requests", priority=150, span_kind=["client"],
              condition='FirstNonNil([attributes["http.request.method"], attributes["http.method"]]) != nil and attributes["http.url"] != nil',
              operation_name='Concat([FirstNonNil([attributes["http.request.method"], attributes["http.method"]]), RemoveQueryParams(attributes["http.url"])], " ")',
              operation_type='"http_client"'),
        _rule(id="http_paths", priority=200,
              condition='FirstNonNil([attributes["http.request.method"], attributes["http.method"]]) != nil and attributes["url.path"] != nil',
              operation_name='Concat([FirstNonNil([attributes["http.request.method"], attributes["http.method"]]), NormalizePath(attributes["url.path"])], " ")',
              operation_type='"http"'),
        _rule(id="graphql_operations", priority=250,
              condition='attributes["graphql.operation.type"] != nil and attributes["graphql.operation.name"] != nil',
              operation_name='Concat([attributes["graphql.operation.type"], attributes["graphql.operation.name"]], " ")',
              operation_type='"graphql"'),
        _rule(id="database_queries", priority=300, span_kind=["client"],
              condition='attributes["db.statement"] != nil',
              operation_name='ParseSQL(attributes["db.statement"])',
              operation_type='attributes["db.system"]'),
        _rule(id="database_operations", priority=310, span_kind=["client"],
              condition='attributes["db.operation"] != nil and attributes["db.collection.name"] != nil',
              operation_name='Concat([attributes["db.operation"], attributes["db.collection.name"]], " ")',
              operation_type='attributes["db.system"]'),
        _rule(id="faas_db_trigger", priority=350,
              condition='attributes["faas.document.collection"] != nil and attributes["faas.document.operation"] != nil',
              operation_name='Concat([attributes["faas.document.collection"], attributes["faas.document.operation"]], " ")',
              operation_type='"faas_db_trigger"'),
        _rule(id="grpc_server_operations", priority=400, span_kind=["server"],
              condition='attributes["rpc.system"] == "grpc" and attributes["rpc.method"] != nil',
              operation_name='Concat([attributes["rpc.service"], attributes["rpc.method"]], "/")',
              operation_type='"grpc"'),
        _rule(id="grpc_client_operations", priority=450, span_kind=["client"],
              condition='attributes["rpc.system"] == "grpc" and attributes["rpc.method"] != nil',
              operation_name='Concat(["grpc.client", attributes["rpc.service"], attributes["rpc.method"]], "/")',
              operation_type='"grpc_client"'),
        _rule(id="messaging_with_operation", priority=500, span_kind=["producer", "consumer"],
              condition='attributes["messaging.operation.type"] != nil and attributes["messaging.destination.name"] != nil',
              operation_name='Concat([attributes["messaging.operation.type"], attributes["messaging.destination.name"]], " ")',
              operation_type='"messaging"'),
        _rule(id="messaging_operation_name", priority=510, span_kind=["producer", "consumer"],
              condition='attributes["messaging.operation.name"] != nil and attributes["messaging.destination.name"] != nil',
              operation_name='Concat([attributes["messaging.operation.name"], attributes["messaging.destination.name"]], " ")',
              operation_type='"messaging"'),
        _rule(id="messaging_producer", priority=520, span_kind=["producer"],
              condition='attributes["messaging.operation"] == "publish" and attributes["messaging.destination.name"] != nil',
              operation_name='Concat(["publish", attributes["messaging.destination.name"]], " ")',
              operation_type='"messaging"'),
        _rule(id="messaging_consumer", priority=530, span_kind=["consumer"],
              condition='attributes["messaging.operation"] == "process" and attributes["messaging.destination.name"] != nil',
              operation_name='Concat(["process", attributes["messaging.destination.name"]], " ")',
              operation_type='"messaging"'),
        _rule(id="messaging_system", priority=540, span_kind=["producer", "consumer"],
              condition='attributes["messaging.system"] != nil and attributes["messaging.destination.name"] != nil',
              operation_name='Concat([attributes["messaging.system"], attributes["messaging.destination.name"]], " ")',
              operation_type='"messaging"'),
        _rule(id="internal_operations", priority=600, span_kind=["internal"],
              condition='attributes["internal.operation"] != nil',
              operation_name='attributes["internal.operation"]',
              operation_type='"internal"'),
    ]
    for rule in r:
        rule.schema_url = schema_url
    return r


def reference_config(mode: str = MODE_ENFORCE) -> Config:
    """The production processor config (config.yaml:30-195), validated."""
    cfg = Config(
        enabled=True,
        benchmark=True,
        span_processing=SpanProcessingConfig(
            enabled=True,
            mode=mode,
            preserve_original_name=True,
            operation_name_attribute="operation.name",
            operation_type_attribute="operation.type",
            original_name_attribute="name.original",
            rules=reference_rules(),
        ),
    )
    cfg.validate()
    return cfg
