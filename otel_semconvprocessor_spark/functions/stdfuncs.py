"""OTTL standard-function builders (pure Catalyst Columns, zero UDFs).

The reference merges the whole ``ottlfuncs.StandardFuncs()`` registry into its
parser (processors/semconvprocessor/ottl_functions.go:19), so ANY standard
OTTL converter is legal in a user's rule YAML.  This module implements the
high-frequency ones the round-4 registry still rejected — each one as a pure
``pyspark.sql.Column`` expression so the rule cascade stays whole-stage
code-generated with no Python in the hot path.

Semantics are mirrored from the public opentelemetry-collector-contrib
``pkg/ottl/ottlfuncs`` sources (and, for ConvertCase, the iancoleman/strcase
library ottlfuncs delegates to), with the engine's documented error-as-null
model: where upstream OTTL *errors* (nil target, unparseable input), these
return NULL and the enclosing rule skips (processor.go:244-250 parity).

Documented divergences (see README conformance table):
  * ConvertCase "camel" preserves interior acronym casing ("HTTPServer" stays
    "HTTPServer"); newer strcase releases downcase to "HttpServer".
  * ParseJSON targets flat string maps; nested values arrive as their raw
    JSON text (Spark's JacksonParser contract), not as nested pcommon maps.
  * ReplacePattern replacement strings use Java group references ($1);
    Go-style literal "$$" is translated to an escaped literal dollar.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "to_snake_case",
    "to_camel_case",
    "ottl_split",
    "ottl_trim",
    "replace_pattern",
    "duration_ns",
    "parse_json_flat",
    "ctime_to_java",
    "ottl_time",
    "truncate_time",
    "parse_key_value",
    "to_key_value_string",
    "ottl_decode",
    "glob_to_regex",
    "url_to_map",
    "parse_csv",
    "typeof_is",
]


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# ConvertCase "snake" / "camel"  (ottlfuncs func_convert_case.go ->
# iancoleman/strcase ToSnake / ToCamel), as regexp_replace chains
# ---------------------------------------------------------------------------


def to_snake_case(col: Column | str) -> Column:
    """strcase.ToSnake: word boundaries at separator chars, lower→Upper,
    acronym→Word, and letter↔digit transitions; then lowercased.

    "simpleString"→"simple_string", "HTTPServer"→"http_server",
    "v2Count"→"v_2_count", "a b-c.d"→"a_b_c_d".
    """
    c = _as_col(col)
    c = F.regexp_replace(c, r"[ \-.]", "_")
    c = F.regexp_replace(c, r"([A-Z])([A-Z][a-z])", r"$1_$2")  # HTTPServer -> HTTP_Server
    c = F.regexp_replace(c, r"([a-z0-9])([A-Z])", r"$1_$2")  # simpleString -> simple_String
    c = F.regexp_replace(c, r"([A-Za-z])([0-9])", r"$1_$2")  # v2 -> v_2
    c = F.regexp_replace(c, r"([0-9])([a-z])", r"$1_$2")  # 2x -> 2_x
    return F.lower(c)


def to_camel_case(col: Column | str) -> Column:
    """strcase.ToCamel (PascalCase): split on [_ -.] and digit→letter
    boundaries, uppercase each word's first letter, drop the separators.

    "test_case"→"TestCase", "foo2bar"→"Foo2Bar", "many-lots of.sep"→
    "ManyLotsOfSep".  Interior acronym casing is preserved (see module doc).
    """
    c = _as_col(col)
    sep = F.regexp_replace(c, r"([0-9])([A-Za-z])", r"$1_$2")  # capNext after digits
    words = F.split(sep, r"[ \-._]+")
    capped = F.transform(
        words,
        lambda w: F.concat(F.upper(w.substr(F.lit(1), F.lit(1))), w.substr(F.lit(2), F.length(w))),
    )
    # concat_ws renders a NULL input as "" — keep NULL-in -> NULL-out
    return F.when(c.isNotNull(), F.concat_ws("", capped))


# ---------------------------------------------------------------------------
# Split / Trim
# ---------------------------------------------------------------------------


def ottl_split(col: Column | str, delimiter: str) -> Column:
    """ottlfuncs Split(target, delimiter): plain-string split (Go
    strings.Split), NOT regex — the delimiter is \\Q..\\E-quoted so regex
    metacharacters split literally.  nil target -> NULL (error-as-null)."""
    return F.split(_as_col(col), "\\Q" + delimiter + "\\E")


def ottl_trim(col: Column | str, cutset: str = " ") -> Column:
    """ottlfuncs Trim(target[, chars]): strips any leading/trailing chars in
    the cutset (Go strings.Trim), default a single space.  Spark's btrim has
    the identical char-set contract."""
    return F.btrim(_as_col(col), F.lit(cutset))


# ---------------------------------------------------------------------------
# ReplacePattern (value-returning form of the replace_pattern editor)
# ---------------------------------------------------------------------------


def replace_pattern(col: Column | str, pattern: str, replacement: str) -> Column:
    """regexp_replace with Go→Java replacement-string translation: numeric
    group refs ($1) are identical in RE2 and java.util.regex; Go's literal
    "$$" becomes Java's escaped "\\$"."""
    java_repl = replacement.replace("$$", "\\$")
    return F.regexp_replace(_as_col(col), pattern, java_repl)


# ---------------------------------------------------------------------------
# Duration family (ottlfuncs Duration -> time.ParseDuration; Hours/Minutes/
# Seconds/Milliseconds/Microseconds/Nanoseconds convert the result)
# ---------------------------------------------------------------------------

# one Go duration atom: decimal number + unit (time.ParseDuration grammar);
# µ (U+00B5) and μ (U+03BC) both accepted, like Go
_DUR_ATOM = r"(\d+(?:\.\d*)?|\.\d+)(ns|us|µs|μs|ms|s|m|h)"
_DUR_FULL = r"^[-+]?((\d+(?:\.\d*)?|\.\d+)(ns|us|µs|μs|ms|s|m|h))+$"

_UNIT_NS = [
    ("ns", 1.0),
    ("us", 1e3),
    ("µs", 1e3),
    ("μs", 1e3),
    ("ms", 1e6),
    ("s", 1e9),
    ("m", 6e10),
    ("h", 3.6e12),
]


def _unit_multiplier(unit: Column) -> Column:
    expr = F.lit(None).cast("double")
    for name, ns in reversed(_UNIT_NS):
        expr = F.when(unit == name, F.lit(ns)).otherwise(expr)
    return expr


def duration_ns(col: Column | str) -> Column:
    """Go time.ParseDuration as a pure expression: validate the full grammar,
    regexp_extract_all the (number, unit) atoms, sum number×unit_ns.  Returns
    total nanoseconds as double; unparseable / nil -> NULL (upstream errors).

    "1h30m"→5.4e12, "300ms"→3e8, "1.5h"→5.4e12, "-2s"→-2e9, "0"→0.
    """
    c = _as_col(col)
    nums = F.regexp_extract_all(c, F.lit(_DUR_ATOM), 1)
    units = F.regexp_extract_all(c, F.lit(_DUR_ATOM), 2)
    total = F.aggregate(
        F.zip_with(nums, units, lambda n, u: n.cast("double") * _unit_multiplier(u)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    signed = F.when(c.startswith("-"), -total).otherwise(total)
    # ParseDuration's one unitless form: "0" (optionally signed)
    return F.when(c.rlike(_DUR_FULL), signed).when(
        c.rlike(r"^[-+]?0$"), F.lit(0.0)
    )


# ---------------------------------------------------------------------------
# ParseJSON (flat string-map contract — see module docstring)
# ---------------------------------------------------------------------------


def parse_json_flat(col: Column | str) -> Column:
    """ottlfuncs ParseJSON(target) -> map<string,string>: scalar values are
    coerced to their string forms, nested values arrive as raw JSON text.
    Malformed JSON -> NULL (from_json PERMISSIVE ≙ error-as-null)."""
    return F.from_json(_as_col(col), "map<string,string>")


# ---------------------------------------------------------------------------
# Time family (ottlfuncs Time -> coreinternal timeutils ctimefmt, a
# strptime-style %-directive grammar; TruncateTime -> Go time.Truncate;
# UnixSeconds/UnixMilli/UnixMicro/UnixNano -> time.Time accessors)
# ---------------------------------------------------------------------------

# ctimefmt %-directive -> Java DateTimeFormatter pattern.  Only directives
# with an exact Java equivalent are mapped; anything else raises at COMPILE
# time (the reference's parser errors at startup too, never per-row).
_CTIME_TO_JAVA = {
    "Y": "yyyy", "y": "yy",
    "m": "MM", "b": "MMM", "h": "MMM", "B": "MMMM",
    "d": "dd", "e": "d", "j": "DDD",
    "a": "EEE", "A": "EEEE",
    "H": "HH", "I": "hh", "p": "a",
    "M": "mm", "S": "ss",
    "L": "SSS", "f": "SSSSSS",
    "z": "XX", "Z": "zzz",
}

# literal chars safe to leave unquoted in a Java datetime pattern
_JAVA_PATTERN_SAFE = set(" :-/.,;")


def ctime_to_java(fmt: str) -> str:
    """Translate a ctimefmt/strptime format ("%Y-%m-%d %H:%M:%S") to the Java
    DateTimeFormatter pattern Spark's to_timestamp expects.  Literal runs
    containing letters are single-quoted (' escaped as '').  Raises
    ``ValueError`` on a directive with no exact Java mapping (e.g. %s epoch
    seconds) so callers can reject at compile time."""
    out: list[str] = []
    literal: list[str] = []

    def flush() -> None:
        if not literal:
            return
        run = "".join(literal)
        if all(ch in _JAVA_PATTERN_SAFE for ch in run):
            out.append(run)
        else:
            out.append("'" + run.replace("'", "''") + "'")
        literal.clear()

    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            if i + 1 >= len(fmt):
                raise ValueError(f"dangling %% at end of time format {fmt!r}")
            d = fmt[i + 1]
            if d == "%":
                literal.append("%")
            elif d in _CTIME_TO_JAVA:
                flush()
                out.append(_CTIME_TO_JAVA[d])
            else:
                raise ValueError(f"unsupported time directive %{d} in {fmt!r}")
            i += 2
        else:
            literal.append(ch)
            i += 1
    flush()
    return "".join(out)


def ottl_time(col: Column | str, fmt: str) -> Column:
    """ottlfuncs Time(target, format): parse a string into a timestamp with a
    ctimefmt format.  Unparseable / nil -> NULL (error-as-null).  Formats
    without a %z/%Z zone parse in the Spark session time zone — set
    ``spark.sql.session.timeZone=UTC`` for parity with the collector's
    default location."""
    return F.try_to_timestamp(_as_col(col), F.lit(ctime_to_java(fmt)))


# Go's zero time (Jan 1, year 1 UTC) precedes the epoch by this many seconds
# (time.unixToInternal); time.Truncate rounds down to a multiple of d since
# the ZERO time, so epoch arithmetic needs the offset re-added first.
_GO_ZERO_TO_EPOCH_SEC = 62135596800


def truncate_time(ts: Column | str, dur_ns: Column) -> Column:
    """ottlfuncs TruncateTime(time, duration) = Go time.Truncate: round the
    timestamp down to a multiple of the duration since Go's zero time.
    Microsecond-floor arithmetic (Spark timestamps are µs); d <= 0 or a
    sub-microsecond remainder duration returns t unchanged, like Go's
    ``if d <= 0 { return t }`` guard.  nil duration -> NULL."""
    t = _as_col(ts)
    t_us = F.unix_micros(t)
    d_us = (dur_ns / F.lit(1000.0)).cast("long")
    off = F.lit(_GO_ZERO_TO_EPOCH_SEC * 1_000_000)
    truncated = F.timestamp_micros(t_us - F.pmod(t_us + off, d_us))
    return F.when(d_us > 0, truncated).when(d_us <= 0, t)


# ---------------------------------------------------------------------------
# ParseKeyValue / ToKeyValueString (log-pipeline staples)
# ---------------------------------------------------------------------------


def parse_key_value(
    col: Column | str, delimiter: str = "=", pair_delimiter: str = " "
) -> Column:
    """ottlfuncs ParseKeyValue(target[, delimiter[, pairDelimiter]]) ->
    map<string,string>.  Pairs split on the literal pairDelimiter (empty
    segments dropped), each pair split on the FIRST literal delimiter
    (SplitN(2) — the value keeps any later delimiters), keys/values
    whitespace-trimmed.  A pair with no delimiter is an upstream error ->
    whole result NULL.  Duplicate keys keep the LAST occurrence (map
    assignment order upstream).  Divergence (README): parseutils'
    quote-aware splitting is not replicated — quoted values containing the
    pair delimiter will split."""
    c = _as_col(col)
    pairs = F.filter(
        ottl_split(c, pair_delimiter), lambda p: F.trim(p) != F.lit("")
    )
    has_delim = lambda p: F.instr(p, delimiter) > 0  # noqa: E731
    all_valid = ~F.exists(pairs, lambda p: ~has_delim(p))

    def entry(p: Column) -> Column:
        k_raw = F.substring_index(p, delimiter, 1)
        v_raw = p.substr(
            F.length(k_raw) + F.lit(len(delimiter) + 1), F.length(p)
        )
        return F.struct(
            F.trim(k_raw).alias("key"), F.trim(v_raw).alias("value")
        )

    entries = F.transform(pairs, entry)
    # last-wins dedup without tripping Spark's duplicate-map-key EXCEPTION
    # policy: reverse, keep each key's first (i.e. original last) occurrence
    rev = F.reverse(entries)
    deduped = F.filter(
        rev,
        lambda e, i: ~F.exists(
            F.slice(rev, F.lit(1), i), lambda prior: prior["key"] == e["key"]
        ),
    )
    return F.when(
        c.isNotNull() & (F.size(pairs) > 0) & all_valid,
        # reverse back: map entry order = original pair order (duplicates
        # collapsed onto their LAST occurrence's position-from-the-end)
        F.map_from_entries(F.reverse(deduped)),
    )


def to_key_value_string(
    m: Column | str,
    delimiter: str = "=",
    pair_delimiter: str = " ",
    sort_output: bool = False,
) -> Column:
    """ottlfuncs ToKeyValueString(map[, delimiter[, pairDelimiter[,
    sortOutput]]]): render a map back to "k<delim>v<pairDelim>k2<delim>v2".
    NULL values render as empty strings; sortOutput orders pairs by the
    rendered string (byte order, = upstream's sorted key iteration for
    distinct keys).  nil map -> NULL.  Divergence (README): upstream
    quote-escapes values containing the delimiters; this renders verbatim."""
    mc = _as_col(m)
    strs = F.transform(
        F.map_entries(mc),
        lambda e: F.concat(
            e["key"], F.lit(delimiter), F.coalesce(e["value"], F.lit(""))
        ),
    )
    if sort_output:
        strs = F.array_sort(strs)
    return F.array_join(strs, pair_delimiter)


# ---------------------------------------------------------------------------
# Decode (base64 and pass-through charsets)
# ---------------------------------------------------------------------------

_B64_RE = r"^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=|[A-Za-z0-9+/]{4})?$"


def ottl_decode(col: Column | str, encoding: str) -> Column:
    """ottlfuncs Decode(target, encoding) for the encodings a string-typed
    attr model can express: "base64"/"base64-raw" decode to the UTF-8 string
    of the payload bytes; "us-ascii"/"utf-8"/"utf8" are identity on strings.
    Malformed base64 -> NULL (upstream error).  The validity pre-check keeps
    the expression ANSI-safe (no executor-side decode exception)."""
    c = _as_col(col)
    enc = encoding.lower()
    if enc in ("us-ascii", "utf-8", "utf8"):
        return c.cast("string")
    if enc in ("base64", "base64-raw"):
        padded = c if enc == "base64" else F.concat(
            c, F.repeat(F.lit("="), F.pmod(F.lit(4) - F.pmod(F.length(c), 4), 4))
        )
        return F.when(
            padded.rlike(_B64_RE), F.unbase64(padded).cast("string")
        )
    raise ValueError(f"unsupported Decode encoding {encoding!r}")


# ---------------------------------------------------------------------------
# Type predicates (ottlfuncs IsString/IsInt/IsDouble/IsBool/IsMap/IsList)
# ---------------------------------------------------------------------------


def typeof_is(col: Column | str, spark_types: tuple[str, ...],
              prefix: bool = False) -> Column:
    """ottlfuncs Is<Type>(target): true iff the value is non-nil AND of the
    given type.  The compiled expression's Catalyst type plays the role of
    the pcommon value type: ``typeof()`` folds to a constant per plan, so
    the predicate codegens to a plain null check (or a literal false when
    the types can't match).  nil -> false, exactly upstream's behavior."""
    c = _as_col(col)
    t = F.call_function("typeof", c)
    if prefix:
        m = t.startswith(spark_types[0])
        for s in spark_types[1:]:
            m = m | t.startswith(s)
    else:
        m = t.isin(*spark_types)
    return m & c.isNotNull()


# ---------------------------------------------------------------------------
# Glob matching (ottlfuncs ReplaceMatch / ReplaceAllMatches -> Go
# path.Match grammar), translated to an anchored Java regex at COMPILE time
# ---------------------------------------------------------------------------


def glob_to_regex(pattern: str) -> str:
    """Translate a Go ``path.Match`` glob to an anchored Java regex:
    ``*`` -> any run of non-``/`` chars, ``?`` -> one non-``/`` char,
    ``[...]`` / ``[^...]`` character classes pass through (``\\`` escapes the
    next char, as in Go).  Raises ``ValueError`` on a malformed pattern
    (unterminated class / trailing backslash) — Go's ErrBadPattern, surfaced
    at compile time."""
    out = ["^"]
    i = 0
    n = len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "*":
            out.append("[^/]*")
        elif ch == "?":
            out.append("[^/]")
        elif ch == "\\":
            if i + 1 >= n:
                raise ValueError(f"glob pattern {pattern!r}: trailing backslash")
            out.append(re.escape(pattern[i + 1]))
            i += 1
        elif ch == "[":
            j = i + 1
            if j < n and pattern[j] == "^":
                j += 1
            if j < n and pattern[j] == "]":  # leading ] is a literal member
                j += 1
            while j < n and pattern[j] != "]":
                if pattern[j] == "\\":
                    j += 1
                j += 1
            if j >= n:
                raise ValueError(f"glob pattern {pattern!r}: unterminated character class")
            cls = pattern[i : j + 1]
            # Go classes use the same [a-z] / [^a-z] syntax as Java regex;
            # escape regex metachars that Go treats literally inside a class
            body = cls[1:-1].replace("&&", r"\&\&")
            out.append("[" + body + "]")
            i = j
        else:
            out.append(re.escape(ch))
        i += 1
    out.append("$")
    return "".join(out)


# ---------------------------------------------------------------------------
# URL(url) -> semconv url.* map (ottlfuncs func_url.go, net/url semantics)
# ---------------------------------------------------------------------------


def url_to_map(col: Column | str) -> Column:
    """ottlfuncs URL(target): parse a URL string into the semconv ``url.*``
    attribute map via the JVM's ``parse_url`` (Hive/java.net.URI grammar —
    same component model as Go's net/url for well-formed absolute URLs).

    Emitted keys (present components only, like upstream): ``url.original``,
    ``url.scheme``, ``url.domain``, ``url.port``, ``url.path``,
    ``url.query``, ``url.fragment``, ``url.extension``, ``url.user_info``.
    Port renders as its decimal string (the map is string-typed; upstream
    stores int64).  nil -> NULL."""
    c = _as_col(col)
    part = lambda p: F.parse_url(c, F.lit(p))  # noqa: E731
    authority = part("AUTHORITY")
    path = part("PATH")
    entries = [
        ("url.original", c),
        ("url.scheme", part("PROTOCOL")),
        ("url.domain", part("HOST")),
        ("url.port", F.regexp_extract(authority, r":(\d+)$", 1)),
        ("url.path", path),
        ("url.query", part("QUERY")),
        ("url.fragment", part("REF")),
        ("url.extension", F.regexp_extract(path, r"\.([^./]+)$", 1)),
        ("url.user_info", part("USERINFO")),
    ]
    arr = F.array(
        *[
            F.struct(F.lit(k).alias("key"), v.alias("value"))
            for k, v in entries
        ]
    )
    return F.when(
        c.isNotNull(),
        F.map_from_entries(
            F.filter(arr, lambda e: e["value"].isNotNull() & (e["value"] != ""))
        ),
    )


# ---------------------------------------------------------------------------
# ParseCSV (ottlfuncs func_parse_csv.go)
# ---------------------------------------------------------------------------


def parse_csv(
    col: Column | str,
    headers: list[str],
    delimiter: str = ",",
    mode: str = "strict",
) -> Column:
    """ottlfuncs ParseCSV(target, headers[, delimiter[, mode]]) ->
    map<header, field>.

    ``strict`` parses RFC-4180 quoting through Spark's ``from_csv``;
    ``ignoreQuotes`` is a plain delimiter split.  Upstream errors (-> NULL
    here) when the field count differs from the header count; ``from_csv``'s
    PERMISSIVE null-padding/truncation is therefore rejected by re-counting
    the fields before building the map."""
    c = _as_col(col)
    n = len(headers)
    hdr_arr = F.array(*[F.lit(h) for h in headers])
    if mode == "ignoreQuotes":
        parts = F.split(c, re.escape(delimiter), -1)
        return F.when(
            F.size(parts) == n, F.map_from_arrays(hdr_arr, parts)
        )
    # strict: generic field names keep arbitrary header strings out of the
    # DDL schema; quote-aware field COUNT check = from_csv on the line with
    # one extra column — a line with exactly n fields leaves it null.  The
    # improbable nullValue sentinel keeps QUOTED empty fields ('a,"",c')
    # parsing as "" (a valid CSV field upstream) instead of Spark CSV's
    # default empty-means-null; nulls then mark MISSING fields = the error
    # case.  Divergence (README): UNQUOTED empty fields ("a,,c" / "a,b,")
    # are indistinguishable from missing ones in the univocity parser and
    # error here, where Go's encoding/csv yields "".
    opts = {"sep": delimiter, "mode": "PERMISSIVE", "nullValue": "\x00"}
    schema = ", ".join(f"_c{i} string" for i in range(n))
    parsed = F.from_csv(c, schema, opts)
    over = F.from_csv(c, schema + f", _c{n} string", opts)
    fields = F.array(*[parsed[f"_c{i}"] for i in range(n)])
    return F.when(
        c.isNotNull()
        & over[f"_c{n}"].isNull()
        & ~F.exists(fields, lambda x: x.isNull()),
        F.map_from_arrays(hdr_arr, fields),
    )
