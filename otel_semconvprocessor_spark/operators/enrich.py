"""Enrich stage: insert-if-absent resource attrs, the lang lookup
dimension, and schema-version-keyed rename/move/copy/delete semconv mapping
rules.

Reference analogues:
  * resource processor insert-if-absent -> config.yaml:17-27 (S6)
  * old-vs-new semconv handling: the reference folds it into FirstNonNil
    conditions (config.yaml:60-100); the graft additionally requires explicit
    rename/move/copy/delete mapping rules keyed by schema_url, applied as
    compiled Spark expressions — never per-row Python (BASELINE.json
    north_star).

Scale notes: the mapping rules and the lang dimension are a few in-memory
entries, so both compile to literal Column expressions, the way
``apply_rules`` compiles the rule list: a CASE on schema_url for the
mappings and a literal-map lookup for the dimension.  The plan has no join,
no aggregation job and no locally built frame for them, and the map rewrite
fuses into codegen.  ``mappings_table``, ``lang_dim`` and ``join_dims`` keep
the table forms (a broadcast LEFT join for any dimension frame).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "insert_attrs_if_absent",
    "SemconvMapping",
    "default_semconv_mappings",
    "mappings_table",
    "apply_semconv_mappings",
    "lookup_lang_name",
    "lang_dim",
    "join_dims",
]


def insert_attrs_if_absent(df: DataFrame, values: dict[str, str]) -> DataFrame:
    """Resource-processor 'insert' action (config.yaml:17-27): add each
    key/value only when the key is absent.

    Fast path (round 6): resource keys are almost never already present in
    span attrs, so the common row appends one CONSTANT map instead of
    filtering a per-row additions array through the interpreted HOF path —
    output-identical (same keys in the same order), measured ~0.9s -> ~0.5s
    per 1M rows in the pipeline chain.

    A None value inserts nothing; with no value left the frame is returned
    unchanged."""
    values = {k: v for k, v in values.items() if v is not None}
    if not values:
        return df
    attrs = F.col("attrs")
    additions = F.map_from_entries(
        F.filter(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("key"),
                        F.when(F.try_element_at(attrs, F.lit(k)).isNull(), F.lit(v)).alias("value"),
                    )
                    for k, v in values.items()
                ]
            ),
            lambda e: e["value"].isNotNull(),
        )
    )
    const_all = F.map_from_arrays(
        F.array(*[F.lit(k) for k in values]),
        F.array(*[F.lit(v) for v in values.values()]),
    )
    none_present = attrs.isNotNull()
    for k in values:
        none_present = none_present & F.try_element_at(attrs, F.lit(k)).isNull()
    empty = F.create_map().cast("map<string,string>")
    return df.withColumn(
        "attrs",
        F.when(attrs.isNull(), const_all)
        .when(none_present, F.map_concat(attrs, const_all))
        .otherwise(F.map_concat(F.coalesce(attrs, empty), additions)),
    )


# ---------------------------------------------------------------------------
# Semconv mapping rules (rename / move / copy / delete), keyed by schema_url.
# ---------------------------------------------------------------------------


@dataclass
class SemconvMapping:
    """One mapping rule: normalize an attribute key for a given schema version.

    actions:
      rename/move  re-key ``from_key`` -> ``to_key`` (move is an alias; OTel
                   attribute-processor vocabulary).  If ``to_key`` already
                   exists the existing (newer-convention) value is
                   authoritative and the old key is dropped.
      copy         add ``to_key`` with ``from_key``'s value if absent.
      delete       drop ``from_key``.
    """

    schema_url: str
    action: str  # rename | move | copy | delete
    from_key: str
    to_key: str = ""

    def __post_init__(self) -> None:
        if self.action not in ("rename", "move", "copy", "delete"):
            raise ValueError(f"invalid mapping action {self.action!r}")
        if self.action != "delete" and not self.to_key:
            raise ValueError(f"{self.action} mapping requires to_key")


def default_semconv_mappings() -> list[SemconvMapping]:
    """Old-convention (1.21.0) -> new-convention key normalization.

    Kept cascade-neutral: the reference rules already accept both old and new
    http keys via FirstNonNil (config.yaml:60-100), so renaming
    http.method -> http.request.method changes no rule outcome — verified by
    tests/test_enrich.py::test_default_mappings_cascade_neutral.
    """
    return [
        SemconvMapping("1.21.0", "rename", "http.method", "http.request.method"),
        SemconvMapping("1.21.0", "copy", "db.statement", "db.query.text"),
    ]


def mappings_table(spark: SparkSession, mappings: list[SemconvMapping]) -> DataFrame:
    """Aggregate mapping rules into one row per schema_url:

        schema_url, renames:map<string,string>, copies:map<string,string>,
        deletes:array<string>

    ``apply_semconv_mappings`` accepts this frame as well as the list; it
    collects the few rows and compiles them like the list."""
    rows = [(m.schema_url, m.action, m.from_key, m.to_key) for m in mappings]
    raw = spark.createDataFrame(rows, "schema_url string, action string, from_key string, to_key string")
    # one aggregation over a tiny driver-sized table
    return raw.groupBy("schema_url").agg(
        F.map_from_entries(
            F.filter(
                F.collect_list(
                    F.when(F.col("action").isin("rename", "move"), F.struct("from_key", "to_key"))
                ),
                lambda e: e.isNotNull(),
            )
        ).alias("renames"),
        F.map_from_entries(
            F.filter(
                F.collect_list(F.when(F.col("action") == "copy", F.struct("from_key", "to_key"))),
                lambda e: e.isNotNull(),
            )
        ).alias("copies"),
        F.array_compact(
            F.collect_list(F.when(F.col("action") == "delete", F.col("from_key")))
        ).alias("deletes"),
    )


def _from_table(mappings_df: DataFrame) -> list[SemconvMapping]:
    """The rows of a ``mappings_table`` frame back as mapping rules."""
    out = []
    for r in mappings_df.collect():
        out += [SemconvMapping(r["schema_url"], "rename", k, v) for k, v in (r["renames"] or {}).items()]
        out += [SemconvMapping(r["schema_url"], "copy", k, v) for k, v in (r["copies"] or {}).items()]
        out += [SemconvMapping(r["schema_url"], "delete", k) for k in r["deletes"] or []]
    return out


def _versions(mappings: list[SemconvMapping]) -> dict[str, tuple[dict, dict, list]]:
    """schema_url -> (renames, copies, deletes), in list order.

    Two rename/move (or two copy) entries of one version that share a
    from_key or a to_key are rejected: a dict would silently keep the last
    one, and a Spark map built from them fails with DUPLICATED_MAP_KEY —
    for a shared to_key only on rows that carry both from-keys, partway
    through the data."""
    versions: dict[str, tuple[dict, dict, list]] = {}
    for m in mappings:
        renames, copies, deletes = versions.setdefault(m.schema_url, ({}, {}, []))
        if m.action == "delete":
            if m.from_key not in deletes:
                deletes.append(m.from_key)
            continue
        kind, table = ("copy", copies) if m.action == "copy" else ("rename/move", renames)
        for side, key, taken in (("from", m.from_key, table), ("to", m.to_key, table.values())):
            if key in taken:
                raise ValueError(
                    f"schema_url {m.schema_url!r} has two {kind} mappings {side} key {key!r}"
                )
        table[m.from_key] = m.to_key
    return versions


def _lit_map(d: dict[str, str]) -> Column:
    return F.create_map(*[F.lit(x) for kv in d.items() for x in kv]).cast("map<string,string>")


def _rewrite(attrs: Column, renames: dict, copies: dict, deletes: list) -> Column:
    """One version's rename/move/copy/delete over ``attrs``, with the rules
    as literals (constant-folded, no per-row rule lookup).

    delete + rename/move are FUSED into one entries pass (round 5): the naive
    form — map_filter(delete) -> map_filter(rename-conflict) -> rebuild —
    copies every key+value string into a fresh map THREE times per row, and
    the attrs map is the widest thing in the plan.  Measured (4M rows x
    10-key maps, local[32], min-of-4-warms): three-pass 4.07s vs fused 3.11s
    = 1.31x.  Semantics (oracle row ``semconv_mapping_rows`` pins them):
      * delete: drop entries whose key is in ``deletes``
      * rename/move: drop the OLD key when the rename target already exists
        post-delete (the newer convention's value is authoritative),
        otherwise re-key the entry
      * copy: add to_key with from_key's value when from_key is present and
        to_key absent, after the renames, in list order"""
    out = attrs
    if renames or deletes:
        target = lambda k: F.try_element_at(_lit_map(renames), k)  # noqa: E731
        dropped = lambda k: k.isin(deletes) if deletes else F.lit(False)  # noqa: E731
        # "target occupied" is probed against the ORIGINAL map minus
        # deletes — identical to probing the post-delete map, without
        # building it
        occupied = lambda k: F.try_element_at(attrs, k).isNotNull() & ~dropped(k)  # noqa: E731
        kept = F.filter(
            F.map_entries(attrs),
            lambda e: ~dropped(e["key"]) & (target(e["key"]).isNull() | ~occupied(target(e["key"]))),
        )
        out = F.map_from_entries(
            F.transform(
                kept,
                lambda e: F.struct(
                    F.coalesce(target(e["key"]), e["key"]).alias("key"), e["value"].alias("value")
                ),
            )
        )
    if not copies:
        return out

    def with_copies(m: Column) -> Column:
        added = F.filter(
            F.array(*[
                F.struct(
                    F.when(F.try_element_at(m, F.lit(to)).isNull(), F.lit(to)).alias("key"),
                    F.try_element_at(m, F.lit(frm)).alias("value"),
                )
                for frm, to in copies.items()
            ]),
            lambda s: s["key"].isNotNull() & s["value"].isNotNull(),
        )
        return F.map_concat(m, F.map_from_entries(added))

    if out is attrs:
        return with_copies(attrs)
    # the copies read the rebuilt map 2 x copies + 1 times; a one-element
    # transform binds it once (interpreted higher-order functions get no
    # common-subexpression elimination).  Measured on 1M rows of 6-key
    # maps, the default mappings, local[4]: 4.0 s -> 1.9 s, same output.
    return F.transform(F.array(out), with_copies)[0]


def apply_semconv_mappings(df: DataFrame, mappings: list[SemconvMapping] | DataFrame) -> DataFrame:
    """Apply rename/move/copy/delete as one compiled CASE over the attrs map:

        CASE WHEN schema_url = '<v>' AND (<k1> in attrs OR ...) THEN <rewrite>
             ...
             ELSE attrs END

    ``<k>`` are version ``<v>``'s from-keys.  A row whose schema_url has no
    mapping, or whose map carries none of those keys, keeps its attrs column
    untouched: the rewrite would rebuild it entry for entry.  ``mappings``
    is the rule list or a ``mappings_table`` frame (collected here; it holds
    a few rows).  The list is validated when this is called, before any
    job runs."""
    if isinstance(mappings, DataFrame):
        mappings = _from_table(mappings)
    attrs = F.col("attrs")
    out = None
    for version, (renames, copies, deletes) in _versions(mappings).items():
        present = [F.map_contains_key(attrs, F.lit(k)) for k in dict.fromkeys([*renames, *copies, *deletes])]
        cond = (F.col("schema_url") == version) & reduce(Column.__or__, present)
        rewrite = _rewrite(attrs, renames, copies, deletes)
        out = F.when(cond, rewrite) if out is None else out.when(cond, rewrite)
    return df if out is None else df.withColumn("attrs", out.otherwise(attrs))


# ---------------------------------------------------------------------------
# Lookup dimensions
# ---------------------------------------------------------------------------

_LANG_NAMES = {
    "en": "English",
    "de": "German",
    "fr": "French",
    "es": "Spanish",
    "zh": "Chinese",
}


def lookup_lang_name(lang: Column) -> Column:
    """``lang_name`` for a ``lang`` column: a literal-map lookup, NULL for an
    unknown or NULL code — the same values as the left join on ``lang_dim``."""
    return F.try_element_at(_lit_map(_LANG_NAMES), lang)


def lang_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(k, v) for k, v in _LANG_NAMES.items()], "lang string, lang_name string"
    )


def join_dims(df: DataFrame, *dims: tuple[DataFrame, str]) -> DataFrame:
    """Left-join each (dim_df, key) with an explicit broadcast hint — small
    dimension tables must never shuffle the fact side."""
    out = df
    for dim, key in dims:
        out = out.join(F.broadcast(dim), on=key, how="left")
    return out
