"""Scalar functions: PySpark-native Column builders with the exact semantics of
the reference's custom OTTL functions.

Reference parity (cedricziel/otel-semconvprocessor, read-only at /root/reference):
  - NormalizePath      -> processors/semconvprocessor/ottl_functions.go:49-77
  - ParseSQL           -> processors/semconvprocessor/ottl_functions.go:97-157
  - RemoveQueryParams  -> processors/semconvprocessor/ottl_functions.go:177-190
  - FirstNonNil        -> processors/semconvprocessor/ottl_functions.go:210-225
  - Concat (OTTL std)  -> nil element renders as "" but separators are kept
  - span-kind enum     -> processors/semconvprocessor/processor.go:172-189

Everything here is a pure ``pyspark.sql.Column`` expression (JVM-side,
whole-stage-codegen eligible) — zero Python UDFs. All helpers are ANSI-mode
safe (Spark 4 defaults): map/array access goes through ``try_element_at``.

Null contract: a NULL input yields a NULL output for NormalizePath / ParseSQL /
RemoveQueryParams.  That mirrors the reference where a nil StringGetter makes
the OTTL expression *error*, which causes the enclosing rule to be skipped
(processor.go:244-250); the rule compiler folds ``IS NOT NULL`` of the value
expression into the rule predicate to reproduce skip-on-error.
"""

from __future__ import annotations

from collections.abc import Iterable
from string import ascii_lowercase, ascii_uppercase

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "remove_query_params",
    "normalize_path",
    "parse_sql",
    "first_non_nil",
    "ottl_concat",
    "span_kind_to_string",
    "attr",
    "SPAN_KIND_NAMES",
]

# Regexes lifted verbatim from ottl_functions.go:51-53.  They are simultaneously
# valid RE2 (Go/DuckDB) and java.util.regex (Spark) with identical matching:
# no backtracking-dependent constructs, replacement is leftmost non-overlapping
# in both engines.
UUID_RE = r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
HEX_SEG_RE = r"/[0-9a-fA-F]{16,}(/|$)"
NUM_SEG_RE = r"/\d+(/|$)"

# ottl_functions.go:99-102 — (?i) inline flag + lazy .*? behave identically in
# RE2 and java.util.regex for these patterns.
SQL_SELECT_RE = r"(?i)^\s*SELECT\s+.*?\s+FROM\s+([^\s]+)"
SQL_INSERT_RE = r"(?i)^\s*INSERT\s+INTO\s+(\S+)"
SQL_UPDATE_RE = r"(?i)^\s*UPDATE\s+(\S+)"
SQL_DELETE_RE = r"(?i)^\s*DELETE\s+FROM\s+(\S+)"

# A whole string of code points U+0000-U+007F (``\z``: no final-line-terminator
# leeway as with ``$``).  Invalid UTF-8 bytes decode to U+FFFD, so they fail it.
_ASCII_ONLY_RE = r"^[\x00-\x7F]*\z"

_QUOTE_CUTSET_LEAD = r"^[`\"'\[\]]+"
_QUOTE_CUTSET_TRAIL = r"[`\"'\[\]]+$"


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def attr(attrs: Column | str, key: str) -> Column:
    """Null-safe map lookup: ``attributes["key"]`` (nil when absent).

    ANSI-safe: plain ``map[key]`` raises MAP_KEY_DOES_NOT_EXIST under Spark 4
    ANSI mode, so we use try_element_at which returns NULL like the reference's
    pcommon.Map.Get miss (processor.go:203).
    """
    return F.try_element_at(_as_col(attrs), F.lit(key))


def remove_query_params(path: Column | str) -> Column:
    """Truncate at the first ``?``; identity when absent (ottl_functions.go:177-190).

    ``substring_index(s, '?', 1)`` returns the full string when '?' is absent
    and everything before the first '?' otherwise — byte-identical to the Go
    ``strings.Index`` slice.
    """
    return F.substring_index(_as_col(path), "?", 1)


def normalize_path(path: Column | str) -> Column:
    """ID-normalize a URL path (ottl_functions.go:49-77), steps in exact order:

    1. truncate at first ``?``
    2. UUIDs (anywhere)            -> ``{id}``
    3. >=16 hex chars between ``/``-delimiters -> ``/{id}`` (keeps delimiter via $1)
    4. numeric segments            -> ``/{id}`` (keeps delimiter via $1)

    Goldens: processor_test.go:398-431 (e.g. ``/users/123/posts/456/comments/789``
    -> ``/users/{id}/posts/{id}/comments/{id}``; alternating matches still all
    replace because ``$1`` re-emits the consumed delimiter and both engines scan
    leftmost non-overlapping).
    """
    p = remove_query_params(path)
    p = F.regexp_replace(p, UUID_RE, "{id}")
    p = F.regexp_replace(p, HEX_SEG_RE, r"/{id}$1")
    p = F.regexp_replace(p, NUM_SEG_RE, r"/{id}$1")
    return p


def _upper(s: Column) -> Column:
    """``upper(s)``, with plain-ASCII strings mapped a-z -> A-Z by
    ``translate``.  Spark 4's ``upper`` goes through ICU, and the first call in
    a JVM runs ``CollationAwareUTF8String``'s static initializer, which
    title-cases all 1,114,112 code points (about 1.7 s of one task thread,
    with the other tasks waiting on the class-init lock).  On ASCII input
    both give the same string; any other string still takes ``upper``, so
    ``straße`` -> ``STRASSE`` is kept."""
    return F.when(
        s.rlike(_ASCII_ONLY_RE), F.translate(s, ascii_lowercase, ascii_uppercase)
    ).otherwise(F.upper(s))


def _clean_table_name(table: Column) -> Column:
    """Strip quote chars and schema prefix (ottl_functions.go:145-157).

    Go: Trim(cutset) both ends -> split '.' -> last part -> Trim(cutset) again.
    ``substring_index(s, '.', -1)`` returns the whole string when '.' is absent,
    and the second trim is idempotent, so one code path covers both branches.
    """
    t = F.regexp_replace(F.regexp_replace(table, _QUOTE_CUTSET_LEAD, ""), _QUOTE_CUTSET_TRAIL, "")
    t = F.substring_index(t, ".", -1)
    t = F.regexp_replace(F.regexp_replace(t, _QUOTE_CUTSET_LEAD, ""), _QUOTE_CUTSET_TRAIL, "")
    return t


def parse_sql(stmt: Column | str) -> Column:
    """Summarize a SQL statement to ``"<OP> <table>"`` (ottl_functions.go:97-142).

    Order of checks is significant and preserved: SELECT, INSERT, UPDATE,
    DELETE, then first-word-uppercased fallback, then ``"UNKNOWN"`` for
    empty/whitespace-only input.  NULL input -> NULL (see module docstring).

    Goldens: processor_test.go:472-501, incl. ``SELECT u.name FROM
    `schema`.`users` u ...`` -> ``SELECT users`` and ``TRUNCATE TABLE sessions``
    -> ``TRUNCATE``.
    """
    s = _as_col(stmt)
    sel = F.regexp_extract(s, SQL_SELECT_RE, 1)
    ins = F.regexp_extract(s, SQL_INSERT_RE, 1)
    upd = F.regexp_extract(s, SQL_UPDATE_RE, 1)
    dlt = F.regexp_extract(s, SQL_DELETE_RE, 1)
    # strings.Fields()[0] equivalent, robust to any leading unicode-space mix:
    first_word = F.regexp_extract(s, r"^\s*(\S+)", 1)
    return (
        F.when(s.isNull(), F.lit(None).cast("string"))
        .when(sel != "", F.concat(F.lit("SELECT "), _clean_table_name(sel)))
        .when(ins != "", F.concat(F.lit("INSERT "), _clean_table_name(ins)))
        .when(upd != "", F.concat(F.lit("UPDATE "), _clean_table_name(upd)))
        .when(dlt != "", F.concat(F.lit("DELETE "), _clean_table_name(dlt)))
        .when(first_word != "", _upper(first_word))
        .otherwise(F.lit("UNKNOWN"))
    )


def first_non_nil(values: Iterable[Column | str]) -> Column:
    """First non-nil value, all-nil -> nil (ottl_functions.go:210-225).

    Exactly ``coalesce``; getter *errors* in the reference are skipped the same
    way nils are, and in the Spark model an erroring getter is a NULL column.
    """
    return F.coalesce(*[_as_col(v) for v in values])


def ottl_concat(parts: Iterable[Column | str], sep: str) -> Column:
    """OTTL standard ``Concat``: nil elements render as "" but separators are
    KEPT (unlike bare ``concat_ws`` which skips nulls entirely).

    Used by every shipped rule (config.yaml:61-186).  Result is never NULL.
    """
    padded = [F.coalesce(_as_col(p).cast("string"), F.lit("")) for p in parts]
    return F.concat_ws(sep, *padded)


# ptrace.SpanKind enum -> string, processor.go:172-189.  OTLP wire enum:
# 0=unspecified 1=internal 2=server 3=client 4=producer 5=consumer.
SPAN_KIND_NAMES = {
    0: "unspecified",
    1: "internal",
    2: "server",
    3: "client",
    4: "producer",
    5: "consumer",
}


def span_kind_to_string(kind: Column | str) -> Column:
    """Int span-kind -> lowercase string; anything else -> 'unspecified'."""
    k = _as_col(kind)
    expr = F.lit("unspecified")
    for code, name in SPAN_KIND_NAMES.items():
        expr = F.when(k == code, F.lit(name)).otherwise(expr)
    return expr
