"""Enrich stage: insert-if-absent resource attrs, broadcast dimension joins,
and schema-version-keyed rename/move/copy/delete semconv mapping rules.

Reference analogues:
  * resource processor insert-if-absent -> config.yaml:17-27 (S6)
  * old-vs-new semconv handling: the reference folds it into FirstNonNil
    conditions (config.yaml:60-100); the graft additionally requires explicit
    rename/move/copy/delete mapping rules keyed by schema_url, applied via a
    BROADCAST-JOINED rule table — never per-row Python (BASELINE.json
    north_star).

Scale notes: dimension and mapping tables are tiny (10s-1000s of rows) and
always broadcast — no shuffle of the fact table.  The map rewrite is pure
Column expression work (map_entries/transform/map_from_entries) fused into
codegen.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "insert_attrs_if_absent",
    "SemconvMapping",
    "default_semconv_mappings",
    "mappings_table",
    "apply_semconv_mappings",
    "lang_dim",
    "join_dims",
]


def insert_attrs_if_absent(df: DataFrame, values: dict[str, str], attrs_col: str = "attrs") -> DataFrame:
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
    attrs = F.col(attrs_col)
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
        attrs_col,
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
    """Aggregate mapping rules into one broadcastable row per schema_url:

        schema_url, renames:map<string,string>, copies:map<string,string>,
        deletes:array<string>
    """
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


def apply_semconv_mappings(
    df: DataFrame,
    mappings_df: DataFrame,
    attrs_col: str = "attrs",
    schema_url_col: str = "schema_url",
) -> DataFrame:
    """Apply rename/move/copy/delete via broadcast equi-join on schema_url.

    Pure expression rewrite of the attrs map; rows whose schema_url has no
    mapping row pass through unchanged (left join + coalesce).
    """
    joined = df.join(F.broadcast(mappings_df), on=schema_url_col, how="left")
    attrs = F.col(attrs_col)
    renames = F.coalesce(F.col("renames"), F.create_map().cast("map<string,string>"))
    copies = F.coalesce(F.col("copies"), F.create_map().cast("map<string,string>"))
    deletes = F.coalesce(F.col("deletes"), F.array().cast("array<string>"))

    # delete + rename/move FUSED into one entries pass (round 5): the naive
    # form — map_filter(delete) -> map_filter(rename-conflict) -> rebuild —
    # copies every key+value string into a fresh map THREE times per row,
    # and the attrs map is the widest thing in the plan.  Measured
    # (ab_mapping_fusion.py harness, commit 980a121; 4M rows x 10-key maps,
    # local[32], min-of-4-warms): three-pass 4.07s vs fused 3.11s = 1.31x, with an
    # output-identity assert in the same run.
    # Semantics are unchanged (oracle row `semconv_mapping_rows` pins them):
    #   * delete: drop entries whose key is in `deletes`
    #   * rename/move: drop the OLD key when the rename target already
    #     exists post-delete (the newer convention's value is
    #     authoritative), otherwise re-key the entry
    target = lambda k: F.try_element_at(renames, k)  # noqa: E731
    # "target occupied" is probed against the ORIGINAL map minus deletes —
    # identical to probing the post-delete map, without building it
    occupied = lambda k: F.try_element_at(attrs, k).isNotNull() & ~F.array_contains(
        deletes, k
    )  # noqa: E731
    kept = F.filter(
        F.map_entries(attrs),
        lambda e: ~F.array_contains(deletes, e["key"])
        & (target(e["key"]).isNull() | ~occupied(target(e["key"]))),
    )
    step3 = F.map_from_entries(
        F.transform(
            kept,
            lambda e: F.struct(
                F.coalesce(target(e["key"]), e["key"]).alias("key"),
                e["value"].alias("value"),
            ),
        )
    )
    # 3. copy: add to_key if from_key present and to_key absent
    copy_entries = F.filter(
        F.transform(
            F.map_entries(copies),
            lambda e: F.struct(
                F.when(
                    F.try_element_at(step3, e["value"]).isNull(),
                    e["value"],
                ).alias("key"),
                F.try_element_at(step3, e["key"]).alias("value"),
            ),
        ),
        lambda s: s["key"].isNotNull() & s["value"].isNotNull(),
    )
    final = F.map_concat(step3, F.map_from_entries(copy_entries))
    # Fast path (round 6): a row whose schema_url has NO mapping row (left
    # join miss -> all three aggregate columns NULL) keeps its attrs column
    # untouched instead of paying the full entries->filter->transform->
    # rebuild pass, which is a per-row interpreted identity rebuild for
    # every unmapped schema version (half the synthetic corpus).  Output-
    # identical: with empty renames/copies/deletes the rebuild reproduces
    # the input map entry-for-entry (and NULL attrs stays NULL either way).
    no_mapping = (
        F.col("renames").isNull() & F.col("copies").isNull() & F.col("deletes").isNull()
    )
    return joined.withColumn(
        attrs_col, F.when(no_mapping, attrs).otherwise(final)
    ).drop("renames", "copies", "deletes")


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
