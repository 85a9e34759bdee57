"""OTTL-subset -> pyspark Column compiler.

The reference compiles every rule's OTTL condition / value expression ONCE at
startup (processor.go:81-118) into an interpreted AST.  We do the same but the
target is a Catalyst ``Column`` tree, so at runtime the rules are whole-stage
code-generated JVM expressions — no per-row interpretation at all.

Grammar covered (the exact subset used by the shipped rules, config.yaml:56-195,
plus the constructs used in the reference's tests):

    expr      := or_expr
    or_expr   := and_expr ("or" and_expr)*
    and_expr  := cmp ("and" cmp)*
    cmp       := term (("==" | "!=") term)?
    term      := "true" | "false" | "nil" | STRING
               | "attributes" "[" STRING "]"
               | "resource.attributes" "[" STRING "]"
               | "name"
               | IDENT "(" args ")"          -- function call
               | "[" expr ("," expr)* "]"    -- list literal
               | "(" expr ")"

Functions: the 5 custom ones (NormalizePath, ParseSQL, RemoveQueryParams,
FirstNonNil, Concat — ottl_functions.go:17-28) plus the high-frequency
``ottlfuncs.StandardFuncs()`` converters (the reference merges the whole
standard registry, ottl_functions.go:19): IsMatch, Substring, Len,
ConvertCase (lower/upper/snake/camel), Format, ExtractPatterns, MD5, SHA1,
SHA256, Split, Trim, ReplacePattern, ReplaceAllPatterns, Int, Double, String,
Duration, Hours/Minutes/Seconds/Milliseconds/Microseconds/Nanoseconds,
ParseJSON, Time, TruncateTime, UnixSeconds/UnixMilli/UnixMicro/UnixNano,
ParseKeyValue, ToKeyValueString, Decode, Keys, Values, Hex, Log,
IsString/IsInt/IsDouble/IsBool/IsMap/IsList, SHA512, Sort,
Year/Month/Day/Hour/Minute/Second, ParseCSV, URL, ReplaceMatch,
ReplaceAllMatches, TruncateAll — see ``SUPPORTED_FUNCTIONS`` and the README
conformance table.
``Concat(list, sep)`` requires its separator to be a string literal, as in
every shipped rule.

Null semantics map 1:1:
  * ``attributes["k"]`` on a missing key -> NULL (pcommon miss -> nil).
  * ``x == "lit"`` with x NULL -> NULL, which is falsy in a predicate — same
    observable behavior as OTTL's nil-compare -> false (rule skipped).
  * ``x != nil`` / ``x == nil`` -> IS NOT NULL / IS NULL.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from .scalars import (
    attr,
    first_non_nil,
    normalize_path,
    ottl_concat,
    parse_sql,
    remove_query_params,
)
from .stdfuncs import (
    ctime_to_java,
    duration_ns,
    glob_to_regex,
    ottl_decode,
    ottl_split,
    ottl_time,
    ottl_trim,
    parse_csv,
    parse_json_flat,
    parse_key_value,
    replace_pattern,
    to_camel_case,
    to_key_value_string,
    to_snake_case,
    truncate_time,
    typeof_is,
    url_to_map,
)

__all__ = [
    "compile_ottl",
    "OTTLSyntaxError",
    "SUPPORTED_FUNCTIONS",
]


class OTTLSyntaxError(ValueError):
    """Raised when an expression falls outside the supported OTTL subset."""


# Sentinel bytes for the single-pass group extraction below; never present
# in sane text, and rows containing any of them take the per-group fallback
# so the fast path is correctness-neutral on ALL inputs.
_GRP_SEP, _GRP_OPEN, _GRP_CLOSE = "\x01", "\x02", "\x03"


def _extract_groups_map(
    col: Column,
    java_pat: str,
    key_by_num: dict[int, str],
    *,
    assume_matched: bool = False,
) -> Column:
    """Map of named-capture extractions from the FIRST match of ``java_pat``,
    empty captures omitted — the ExtractPatterns/ExtractGrokPatterns value.

    Plan note (round 6): the one-``regexp_extract``-per-group lowering runs
    the full pattern once per group per row — 16 executions of the 15-capture
    COMBINEDAPACHELOG per line.  The fast path here runs it ONCE via
    ``regexp_replace`` with a sentinel-framed ``$1␁$2…`` replacement, slices
    the first match's frame out and splits it, so every group comes from a
    single regex execution.  Rows containing a sentinel byte (never, in real
    text) fall back to the per-group form, which keeps the result identical
    on every input: Java renders an unmatched/empty group as "" in a
    replacement exactly as ``regexp_extract`` returns "" for it, both are
    filtered, and the first replacement site is the same leftmost match
    ``regexp_extract`` uses.  Measured 4.42s -> 1.46s on the 1M-line apache
    bench (with ``assume_matched`` sparing the second rlike)."""
    n_groups = max(key_by_num)
    # per-POSITION key names (NULL for unnamed groups), as one literal array;
    # zip_with takes the split-values array as a real higher-order-function
    # CHILD, so the regexp_replace subtree is evaluated exactly once per row
    # (a lambda closing over it would re-evaluate it per element — measured
    # 15 replace runs/row, slower than the per-group form it replaces).
    keys_by_pos = F.array(
        *[
            F.lit(key_by_num[i]) if i in key_by_num else F.lit(None).cast("string")
            for i in range(1, n_groups + 1)
        ]
    )
    repl = _GRP_OPEN + _GRP_SEP.join(f"${i}" for i in range(1, n_groups + 1)) + _GRP_CLOSE
    frame = F.substring_index(
        F.substring_index(F.regexp_replace(col, java_pat, repl), _GRP_CLOSE, 1),
        _GRP_OPEN,
        -1,
    )
    vals = F.split(frame, _GRP_SEP, -1)
    fast = F.zip_with(
        keys_by_pos,
        vals,
        lambda k, v: F.struct(k.alias("key"), v.alias("value")),
    )
    slow = F.array(
        *[
            F.struct(
                F.lit(k).alias("key"),
                F.regexp_extract(col, java_pat, num).alias("value"),
            )
            for num, k in sorted(key_by_num.items())
        ]
    )
    sentinel_free = (
        ~col.contains(_GRP_SEP) & ~col.contains(_GRP_OPEN) & ~col.contains(_GRP_CLOSE)
    )
    # ``assume_matched``: the caller's own gate already ran the pattern
    # (ExtractGrokPatterns wraps this in ``col.rlike(pat)``) — skip the
    # second full regex execution per row; ExtractPatterns has no such gate
    # (no-match must yield {}) and keeps the inner check.
    if assume_matched:
        entries = F.when(sentinel_free, fast).otherwise(slow)
    else:
        matched = col.rlike(java_pat)
        no_entries = F.array().cast("array<struct<key:string,value:string>>")
        entries = F.when(
            sentinel_free, F.when(matched, fast).otherwise(no_entries)
        ).otherwise(slow)
    # key NULL = unnamed position (fast path only); "" = no/empty capture
    return F.map_from_entries(
        F.filter(entries, lambda e: e["key"].isNotNull() & (e["value"] != ""))
    )


# Duration(x) yields total nanoseconds (double); the converters divide/cast
# with upstream ottlfuncs return types (Hours/Minutes/Seconds -> float64,
# Milliseconds/Microseconds/Nanoseconds -> int64)
_DURATION_CONVERTERS = {
    "Hours": (3.6e12, "double"),
    "Minutes": (6e10, "double"),
    "Seconds": (1e9, "double"),
    "Milliseconds": (1e6, "long"),
    "Microseconds": (1e3, "long"),
    "Nanoseconds": (1.0, "long"),
}

#: every function name ``_compile_call`` dispatches — the compile-or-reject
#: contract surface (README conformance table, tests/test_conformance.py)
SUPPORTED_FUNCTIONS = frozenset(
    [
        "NormalizePath", "ParseSQL", "RemoveQueryParams", "FirstNonNil", "Concat",
        "IsMatch", "Substring", "Len", "ConvertCase", "Format", "ExtractPatterns",
        "MD5", "SHA256", "SHA1", "Split", "Trim", "ReplacePattern",
        "ReplaceAllPatterns", "Int", "Double", "String", "Duration", "ParseJSON",
        "Time", "TruncateTime", "UnixSeconds", "UnixMilli", "UnixMicro",
        "UnixNano", "ParseKeyValue", "ToKeyValueString", "Decode", "Keys",
        "Values", "Hex", "Log",
        "IsString", "IsInt", "IsDouble", "IsBool", "IsMap", "IsList",
        "SHA512", "Sort", "Year", "Month", "Day", "Hour", "Minute", "Second",
        "ParseCSV", "URL", "ReplaceMatch", "ReplaceAllMatches", "TruncateAll",
        "ExtractGrokPatterns",
        *_DURATION_CONVERTERS,
    ]
)

# ottlfuncs Is<Type> -> the compiled expression's Catalyst type(s); prefix
# entries match typeof()'s parameterized renderings (map<...>, array<...>)
_TYPE_PREDICATES = {
    "IsString": (("string",), False),
    "IsInt": (("bigint", "int", "smallint", "tinyint"), False),
    "IsDouble": (("double", "float"), False),
    "IsBool": (("boolean",), False),
    "IsMap": (("map<",), True),
    "IsList": (("array<",), True),
}

# ottlfuncs calendar accessors (Year/Month/Day/... on a time value) -> the
# matching JVM datetime extractor; all return int64 upstream
_CALENDAR_ACCESSORS = {
    "Year": F.year,
    "Month": F.month,
    "Day": F.dayofmonth,
    "Hour": F.hour,
    "Minute": F.minute,
    "Second": F.second,
}


def _validate_regex(pattern: str) -> None:
    """Compile-time pattern validation (the reference's parser errors at
    startup on a bad pattern, processor.go:81-118 — never at runtime)."""
    try:
        re.compile(pattern)
    except re.error as exc:
        raise OTTLSyntaxError(f"invalid regex pattern {pattern!r}: {exc}") from exc


_TOKEN_RE = re.compile(
    r"""
    \s*(
        "(?:[^"\\]|\\.)*"      # double-quoted string
      | ==|!=|<=|>=|<|>
      | -?\d+                  # integer literal (Substring args, Len compares)
      | \[|\]|\(|\)|,
      | [A-Za-z_][A-Za-z0-9_.]*  # identifiers (incl. dotted like resource.attributes)
    )
    """,
    re.VERBOSE,
)


def _tokenize(src: str) -> list[str]:
    tokens: list[str] = []
    pos = 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            if src[pos:].strip() == "":
                break
            raise OTTLSyntaxError(f"cannot tokenize at {src[pos:pos+20]!r} in {src!r}")
        tokens.append(m.group(1))
        pos = m.end()
    return tokens


# ---- AST ----------------------------------------------------------------


@dataclass
class _Str:
    value: str


@dataclass
class _Int:
    value: int


@dataclass
class _Bool:
    value: bool


class _Nil:
    pass


@dataclass
class _AttrRef:
    key: str
    scope: str  # "attributes" | "resource.attributes"


@dataclass
class _MapRef:
    scope: str  # "attributes" | "resource.attributes"


class _NameRef:
    pass


@dataclass
class _List:
    items: list


@dataclass
class _Call:
    func: str
    args: list


@dataclass
class _Index:
    """Postfix subscript on a converter result: string key (map) or
    non-negative 0-based int (list)."""

    base: object
    key: object  # str | int


@dataclass
class _Cmp:
    op: str
    left: object
    right: object


@dataclass
class _BoolOp:
    op: str  # "and" | "or"
    parts: list


class _Parser:
    def __init__(self, tokens: list[str], src: str):
        self.toks = tokens
        self.i = 0
        self.src = src

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        tok = self.peek()
        if tok is None:
            raise OTTLSyntaxError(f"unexpected end of expression in {self.src!r}")
        self.i += 1
        return tok

    def expect(self, tok: str) -> None:
        got = self.next()
        if got != tok:
            raise OTTLSyntaxError(f"expected {tok!r} got {got!r} in {self.src!r}")

    def parse(self):
        node = self.or_expr()
        if self.peek() is not None:
            raise OTTLSyntaxError(f"trailing tokens {self.toks[self.i:]} in {self.src!r}")
        return node

    def or_expr(self):
        parts = [self.and_expr()]
        while self.peek() == "or":
            self.next()
            parts.append(self.and_expr())
        return parts[0] if len(parts) == 1 else _BoolOp("or", parts)

    def and_expr(self):
        parts = [self.cmp()]
        while self.peek() == "and":
            self.next()
            parts.append(self.cmp())
        return parts[0] if len(parts) == 1 else _BoolOp("and", parts)

    def cmp(self):
        left = self.term()
        if self.peek() in ("==", "!=", "<", ">", "<=", ">="):
            op = self.next()
            right = self.term()
            return _Cmp(op, left, right)
        return left

    def term(self):
        tok = self.next()
        if tok.startswith('"'):
            return _Str(_unescape(tok))
        if re.fullmatch(r"-?\d+", tok):
            return _Int(int(tok))
        if tok == "true":
            return _Bool(True)
        if tok == "false":
            return _Bool(False)
        if tok == "nil":
            return _Nil()
        if tok == "[":
            items = []
            if self.peek() != "]":
                items.append(self.or_expr())
                while self.peek() == ",":
                    self.next()
                    items.append(self.or_expr())
            self.expect("]")
            return _List(items)
        if tok == "(":
            node = self.or_expr()
            self.expect(")")
            return node
        if tok in ("attributes", "resource.attributes"):
            if self.peek() != "[":
                # bare map reference — target of whole-map converters like
                # ReplaceAllPatterns(attributes, "value", ...)
                return _MapRef(tok)
            self.expect("[")
            key = self.next()
            if not key.startswith('"'):
                raise OTTLSyntaxError(f"attribute key must be a string literal in {self.src!r}")
            self.expect("]")
            return _AttrRef(_unescape(key), tok)
        if tok == "name":
            return _NameRef()
        if self.peek() == "(":
            self.next()
            args = []
            if self.peek() != ")":
                args.append(self.or_expr())
                while self.peek() == ",":
                    self.next()
                    args.append(self.or_expr())
            self.expect(")")
            return self._postfix_index(_Call(tok, args))
        raise OTTLSyntaxError(f"unexpected token {tok!r} in {self.src!r}")

    def _postfix_index(self, node):
        """OTTL converter-result indexing: ``Split(x, ",")[0]``,
        ``URL(x)["url.domain"]`` — string keys index maps, non-negative ints
        index lists (0-based upstream)."""
        while self.peek() == "[":
            self.next()
            key = self.next()
            if key.startswith('"'):
                node = _Index(node, _unescape(key))
            elif re.fullmatch(r"\d+", key or ""):
                node = _Index(node, int(key))
            else:
                raise OTTLSyntaxError(
                    f"index must be a string literal or non-negative int, got {key!r}"
                )
            self.expect("]")
        return node


def _unescape(quoted: str) -> str:
    body = quoted[1:-1]
    return body.replace('\\"', '"').replace("\\\\", "\\")


# ---- compile to Column ---------------------------------------------------


def _compile_node(node, attrs_col: Column, name_col: Column, resource_col: Column | None) -> Column:
    if isinstance(node, _Str):
        return F.lit(node.value)
    if isinstance(node, _Bool):
        return F.lit(node.value)
    if isinstance(node, _Nil):
        return F.lit(None)
    if isinstance(node, _AttrRef):
        if node.scope == "attributes":
            return attr(attrs_col, node.key)
        if resource_col is None:
            raise OTTLSyntaxError("resource.attributes used but no resource column provided")
        return attr(resource_col, node.key)
    if isinstance(node, _MapRef):
        if node.scope == "attributes":
            return attrs_col
        if resource_col is None:
            raise OTTLSyntaxError("resource.attributes used but no resource column provided")
        return resource_col
    if isinstance(node, _NameRef):
        return name_col
    if isinstance(node, _Int):
        return F.lit(node.value)
    if isinstance(node, _Index):
        base = _compile_node(node.base, attrs_col, name_col, resource_col)
        if isinstance(node.key, str):
            return F.try_element_at(base, F.lit(node.key))
        # OTTL list indexing is 0-based; try_element_at is 1-based.
        # Out-of-range -> NULL (upstream errors -> error-as-null model)
        return F.try_element_at(base, F.lit(node.key + 1))
    if isinstance(node, _Cmp):
        right_nil = isinstance(node.right, _Nil)
        left_nil = isinstance(node.left, _Nil)
        if right_nil or left_nil:
            if node.op not in ("==", "!="):
                raise OTTLSyntaxError(f"nil only compares with == / != (got {node.op!r})")
            target = node.left if right_nil else node.right
            col = _compile_node(target, attrs_col, name_col, resource_col)
            return col.isNull() if node.op == "==" else col.isNotNull()
        lc = _compile_node(node.left, attrs_col, name_col, resource_col)
        rc = _compile_node(node.right, attrs_col, name_col, resource_col)
        return {
            "==": lc == rc,
            "!=": lc != rc,
            "<": lc < rc,
            ">": lc > rc,
            "<=": lc <= rc,
            ">=": lc >= rc,
        }[node.op]
    if isinstance(node, _BoolOp):
        cols = [_compile_node(p, attrs_col, name_col, resource_col) for p in node.parts]
        out = cols[0]
        for c in cols[1:]:
            out = (out & c) if node.op == "and" else (out | c)
        return out
    if isinstance(node, _List):
        raise OTTLSyntaxError("bare list is not a value; lists are only function arguments")
    if isinstance(node, _Call):
        return _compile_call(node, attrs_col, name_col, resource_col)
    raise OTTLSyntaxError(f"unsupported node {node!r}")


def _unary(node: _Call):
    if len(node.args) != 1:
        raise OTTLSyntaxError(f"{node.func} takes exactly 1 argument, got {len(node.args)}")
    return node.args[0]


def _compile_call(node: _Call, attrs_col, name_col, resource_col) -> Column:
    def comp(n):
        return _compile_node(n, attrs_col, name_col, resource_col)

    if node.func == "NormalizePath":
        return normalize_path(comp(_unary(node)))
    if node.func == "ParseSQL":
        return parse_sql(comp(_unary(node)))
    if node.func == "RemoveQueryParams":
        return remove_query_params(comp(_unary(node)))
    if node.func == "FirstNonNil":
        (lst,) = node.args
        if not isinstance(lst, _List):
            raise OTTLSyntaxError("FirstNonNil takes a list literal")
        return first_non_nil([comp(i) for i in lst.items])
    if node.func == "IsMatch":
        # ottlfuncs.IsMatch(target, pattern): pattern is a literal compiled
        # once (ottl_functions.go registers StandardFuncs); partial match
        # semantics == Java regex find == Column.rlike.  A nil target is an
        # error in OTTL; NULL propagates through rlike and folds to skip in
        # the rule predicate (the engine's error-as-null model, R6).
        if len(node.args) != 2 or not isinstance(node.args[1], _Str):
            raise OTTLSyntaxError("IsMatch takes (target, string-literal pattern)")
        tgt, pat = node.args
        _validate_regex(pat.value)  # parser errors at startup, never at runtime
        return comp(tgt).rlike(pat.value)
    if node.func == "Substring":
        # ottlfuncs.Substring(target, start, length): 0-based start; errors
        # when the range falls outside the string -> NULL here (error-as-null)
        if (
            len(node.args) != 3
            or not isinstance(node.args[1], _Int)
            or not isinstance(node.args[2], _Int)
        ):
            raise OTTLSyntaxError("Substring takes (target, int start, int length)")
        tgt, start, length = node.args
        if start.value < 0 or length.value < 0:
            raise OTTLSyntaxError("Substring start/length must be non-negative")
        col = comp(tgt)
        return F.when(
            F.length(col) >= start.value + length.value,
            F.substring(col, start.value + 1, length.value),
        )
    if node.func == "Len":
        return F.length(comp(_unary(node))).cast("long")
    if node.func == "ConvertCase":
        # ottlfuncs.ConvertCase(target, toCase): all four upstream cases.
        # snake/camel are regexp_replace / split-transform chains — still
        # pure expressions (stdfuncs.to_snake_case / to_camel_case)
        if len(node.args) != 2 or not isinstance(node.args[1], _Str):
            raise OTTLSyntaxError('ConvertCase takes (target, "lower"|"upper"|"snake"|"camel")')
        tgt, case = node.args
        if case.value == "lower":
            return F.lower(comp(tgt))
        if case.value == "upper":
            return F.upper(comp(tgt))
        if case.value == "snake":
            return to_snake_case(comp(tgt))
        if case.value == "camel":
            return to_camel_case(comp(tgt))
        raise OTTLSyntaxError(
            f"ConvertCase case {case.value!r} unsupported (lower/upper/snake/camel)"
        )
    if node.func == "Split":
        # ottlfuncs.Split(target, delimiter): Go strings.Split — the literal
        # delimiter splits verbatim, never as a regex
        if len(node.args) != 2 or not isinstance(node.args[1], _Str):
            raise OTTLSyntaxError("Split takes (target, string-literal delimiter)")
        if node.args[1].value == "":
            raise OTTLSyntaxError("Split delimiter must be non-empty")
        return ottl_split(comp(node.args[0]), node.args[1].value)
    if node.func == "Trim":
        # ottlfuncs.Trim(target[, chars]): strip leading/trailing cutset
        # chars, default " "
        if (
            len(node.args) not in (1, 2)
            or (len(node.args) == 2 and not isinstance(node.args[1], _Str))
        ):
            raise OTTLSyntaxError("Trim takes (target[, string-literal chars])")
        cutset = node.args[1].value if len(node.args) == 2 else " "
        return ottl_trim(comp(node.args[0]), cutset)
    if node.func == "ReplacePattern":
        # value-returning form of the replace_pattern editor: the target
        # string with every regex match substituted
        if (
            len(node.args) != 3
            or not isinstance(node.args[1], _Str)
            or not isinstance(node.args[2], _Str)
        ):
            raise OTTLSyntaxError(
                "ReplacePattern takes (target, string-literal pattern, string-literal replacement)"
            )
        tgt, pat, repl = node.args
        _validate_regex(pat.value)
        return replace_pattern(comp(tgt), pat.value, repl.value)
    if node.func == "ReplaceAllPatterns":
        # replace_all_patterns(target-map, "key"|"value", pattern,
        # replacement): rewrite every key or value of an attribute map —
        # transform_keys / transform_values keep it a pure expression
        if (
            len(node.args) != 4
            or not isinstance(node.args[0], _MapRef)
            or not isinstance(node.args[1], _Str)
            or not isinstance(node.args[2], _Str)
            or not isinstance(node.args[3], _Str)
        ):
            raise OTTLSyntaxError(
                'ReplaceAllPatterns takes (attributes-map, "key"|"value", pattern, replacement)'
            )
        mref, mode, pat, repl = node.args
        _validate_regex(pat.value)
        mcol = comp(mref)
        if mode.value == "value":
            return F.transform_values(
                mcol, lambda k, v: replace_pattern(v, pat.value, repl.value)
            )
        if mode.value == "key":
            return F.transform_keys(
                mcol, lambda k, v: replace_pattern(k, pat.value, repl.value)
            )
        raise OTTLSyntaxError(f'ReplaceAllPatterns mode must be "key"|"value", got {mode.value!r}')
    if node.func == "Int":
        # ottlfuncs.Int: string -> ParseInt base 10, error -> nil; try_cast
        # has the same reject set (ANSI bigint grammar, no floats)
        return comp(_unary(node)).try_cast("long")
    if node.func == "Double":
        return comp(_unary(node)).try_cast("double")
    if node.func == "String":
        return comp(_unary(node)).cast("string")
    if node.func == "Duration":
        return duration_ns(comp(_unary(node)))
    if node.func in _DURATION_CONVERTERS:
        divisor, out_type = _DURATION_CONVERTERS[node.func]
        return (comp(_unary(node)) / F.lit(divisor)).cast(out_type)
    if node.func == "SHA1":
        return F.sha1(comp(_unary(node)).cast("binary"))
    if node.func == "Time":
        # ottlfuncs.Time(target, format): ctimefmt %-directive grammar ->
        # Java DateTimeFormatter pattern, translated ONCE at compile time;
        # unparseable input -> NULL via try_to_timestamp (error-as-null).
        if len(node.args) != 2 or not isinstance(node.args[1], _Str):
            raise OTTLSyntaxError("Time takes (target, string-literal format)")
        try:
            ctime_to_java(node.args[1].value)  # reject bad directives at compile
        except ValueError as exc:
            raise OTTLSyntaxError(str(exc)) from exc
        return ottl_time(comp(node.args[0]), node.args[1].value)
    if node.func == "TruncateTime":
        # ottlfuncs.TruncateTime(time, duration) = Go time.Truncate; the
        # duration arg is an expression (typically Duration("1h")) compiled
        # to total nanoseconds
        if len(node.args) != 2:
            raise OTTLSyntaxError("TruncateTime takes (time, duration)")
        return truncate_time(comp(node.args[0]), comp(node.args[1]))
    if node.func == "UnixSeconds":
        return F.unix_seconds(comp(_unary(node)))
    if node.func == "UnixMilli":
        return F.unix_millis(comp(_unary(node)))
    if node.func == "UnixMicro":
        return F.unix_micros(comp(_unary(node)))
    if node.func == "UnixNano":
        # Spark timestamps are µs precision; the ns value is exact µs*1000
        return (F.unix_micros(comp(_unary(node))) * F.lit(1000)).cast("long")
    if node.func == "ParseKeyValue":
        # ottlfuncs.ParseKeyValue(target[, delimiter[, pairDelimiter]]):
        # literal delimiters, compile-validated (upstream errors on empty)
        if len(node.args) not in (1, 2, 3) or any(
            not isinstance(a, _Str) for a in node.args[1:]
        ):
            raise OTTLSyntaxError(
                "ParseKeyValue takes (target[, string-literal delimiter"
                "[, string-literal pairDelimiter]])"
            )
        delim = node.args[1].value if len(node.args) > 1 else "="
        pair_delim = node.args[2].value if len(node.args) > 2 else " "
        if not delim or not pair_delim:
            raise OTTLSyntaxError("ParseKeyValue delimiters must be non-empty")
        if delim == pair_delim:
            raise OTTLSyntaxError(
                "ParseKeyValue delimiter and pairDelimiter must differ"
            )
        return parse_key_value(comp(node.args[0]), delim, pair_delim)
    if node.func == "ToKeyValueString":
        if (
            len(node.args) not in (1, 2, 3, 4)
            or any(not isinstance(a, _Str) for a in node.args[1:3])
            or (len(node.args) == 4 and not isinstance(node.args[3], _Bool))
        ):
            raise OTTLSyntaxError(
                "ToKeyValueString takes (map[, string-literal delimiter"
                "[, string-literal pairDelimiter[, bool sortOutput]]])"
            )
        delim = node.args[1].value if len(node.args) > 1 else "="
        pair_delim = node.args[2].value if len(node.args) > 2 else " "
        sort_output = node.args[3].value if len(node.args) > 3 else False
        return to_key_value_string(comp(node.args[0]), delim, pair_delim, sort_output)
    if node.func == "Decode":
        if len(node.args) != 2 or not isinstance(node.args[1], _Str):
            raise OTTLSyntaxError("Decode takes (target, string-literal encoding)")
        try:
            return ottl_decode(comp(node.args[0]), node.args[1].value)
        except ValueError as exc:
            raise OTTLSyntaxError(str(exc)) from exc
    if node.func == "Keys":
        return F.map_keys(comp(_unary(node)))
    if node.func == "Values":
        return F.map_values(comp(_unary(node)))
    if node.func == "Hex":
        # func_hex encodes the value's bytes as lowercase hex; Spark's hex()
        # is uppercase
        return F.lower(F.hex(comp(_unary(node)).cast("binary")))
    if node.func == "Log":
        # func_log: natural log, errors on target <= 0 -> NULL here
        c = comp(_unary(node)).cast("double")
        return F.when(c > 0, F.log(c))
    if node.func == "ParseJSON":
        return parse_json_flat(comp(_unary(node)))
    if node.func == "Format":
        # ottlfuncs.Format(formatString, [args]): Go fmt verbs.  %s/%d map
        # 1:1 to java.lang.String.format (what format_string uses); %v is
        # Go's default verb — everything here is already stringly, so it
        # translates to %s.  Other verbs (%f width/precision, %x, ...) are
        # rejected at compile time rather than silently mis-formatted.
        if (
            len(node.args) != 2
            or not isinstance(node.args[0], _Str)
            or not isinstance(node.args[1], _List)
        ):
            raise OTTLSyntaxError("Format takes (string-literal format, [args])")
        fmt, lst = node.args
        java_fmt = fmt.value.replace("%v", "%s")
        if re.search(r"%[^sd%]", java_fmt):
            raise OTTLSyntaxError(
                f"Format verb outside %s/%d/%v unsupported in {fmt.value!r}"
            )
        cols = [comp(i) for i in lst.items]
        out = F.format_string(java_fmt, *cols)
        # format_string renders a NULL arg as the string 'null'; OTTL treats
        # a nil arg as an error -> NULL here (error-as-null model, R6/R8)
        for c in cols:
            out = F.when(c.isNull(), F.lit(None).cast("string")).otherwise(out)
        return out
    if node.func == "ExtractPatterns":
        # ottlfuncs.ExtractPatterns(target, pattern): named capture groups
        # become map entries.  The groups are known at COMPILE time (literal
        # pattern), so this lowers to one regexp_extract per group — pure
        # expression work, no UDF.  OTTL omits non-matching groups from the
        # map; regexp_extract yields '' on no-match, so empty extractions
        # are filtered out of the entry list.
        if len(node.args) != 2 or not isinstance(node.args[1], _Str):
            raise OTTLSyntaxError("ExtractPatterns takes (target, string-literal pattern)")
        tgt, pat = node.args
        try:
            # OTTL patterns are Go RE2 syntax: named groups are (?P<name>...)
            groupindex = re.compile(pat.value).groupindex  # name -> group no.
        except re.error as exc:
            raise OTTLSyntaxError(f"ExtractPatterns pattern invalid: {exc}") from exc
        if not groupindex:
            raise OTTLSyntaxError(
                "ExtractPatterns pattern must contain at least one named "
                "capture group (?P<name>...)"
            )
        # Extraction is by GROUP NUMBER, so the Java pattern doesn't need the
        # names at all — rewrite (?P<name> to a plain '(' (numbering is
        # unchanged).  Translating to Java's (?<name>...) instead would break
        # on OTTL/RE2-legal names like http_method: Java restricts group
        # names to [A-Za-z][A-Za-z0-9]* and throws PatternSyntaxException at
        # executor runtime, past compile-time validation.
        java_pat = re.sub(r"\(\?P<[^>]+>", "(", pat.value)
        col = comp(tgt)
        # OTTL errors on a nil target; error-as-null model (R6) -> NULL map,
        # consistent with IsMatch/Substring — not an empty {}.
        return F.when(
            col.isNotNull(),
            _extract_groups_map(col, java_pat, {num: g for g, num in groupindex.items()}),
        )
    if node.func == "MD5":
        return F.md5(comp(_unary(node)).cast("binary"))
    if node.func == "SHA256":
        return F.sha2(comp(_unary(node)).cast("binary"), 256)
    if node.func == "Concat":
        if len(node.args) != 2:
            raise OTTLSyntaxError("Concat takes (list, separator)")
        lst, sep = node.args
        if not isinstance(lst, _List) or not isinstance(sep, _Str):
            raise OTTLSyntaxError("Concat takes (list literal, string-literal separator)")
        return ottl_concat([comp(i) for i in lst.items], sep.value)
    if node.func in _TYPE_PREDICATES:
        types, prefix = _TYPE_PREDICATES[node.func]
        return typeof_is(comp(_unary(node)), types, prefix=prefix)
    if node.func == "SHA512":
        return F.sha2(comp(_unary(node)).cast("binary"), 512)
    if node.func in _CALENDAR_ACCESSORS:
        return _CALENDAR_ACCESSORS[node.func](comp(_unary(node))).cast("long")
    if node.func == "Sort":
        # ottlfuncs.Sort(target[, order]): ascending by default; "desc"
        # reverses.  Operates on the array converters produce (Split, Keys,
        # Values); nil -> NULL
        if (
            len(node.args) not in (1, 2)
            or (len(node.args) == 2 and not isinstance(node.args[1], _Str))
        ):
            raise OTTLSyntaxError('Sort takes (target[, "asc"|"desc"])')
        order = node.args[1].value if len(node.args) == 2 else "asc"
        if order not in ("asc", "desc"):
            raise OTTLSyntaxError(f'Sort order must be "asc"|"desc", got {order!r}')
        sorted_col = F.array_sort(comp(node.args[0]))
        return F.reverse(sorted_col) if order == "desc" else sorted_col
    if node.func == "ParseCSV":
        # ottlfuncs.ParseCSV(target, headers[, delimiter[, headerDelimiter
        # [, mode]]]); headers/delimiters are literals so the schema is
        # fixed at compile time.  Field-count mismatch -> NULL (upstream
        # errors); see stdfuncs.parse_csv for the quote-aware count check.
        if (
            len(node.args) not in (2, 3, 4, 5)
            or any(not isinstance(a, _Str) for a in node.args[1:])
        ):
            raise OTTLSyntaxError(
                "ParseCSV takes (target, string-literal headers[, delimiter"
                "[, headerDelimiter[, mode]]])"
            )
        delim = node.args[2].value if len(node.args) > 2 else ","
        hdr_delim = node.args[3].value if len(node.args) > 3 else delim
        mode = node.args[4].value if len(node.args) > 4 else "strict"
        if not delim or not hdr_delim:
            raise OTTLSyntaxError("ParseCSV delimiters must be non-empty")
        if mode == "lazyQuotes":
            raise OTTLSyntaxError(
                "ParseCSV lazyQuotes mode unsupported (strict/ignoreQuotes only)"
            )
        if mode not in ("strict", "ignoreQuotes"):
            raise OTTLSyntaxError(f"ParseCSV mode must be strict|ignoreQuotes, got {mode!r}")
        headers = node.args[1].value.split(hdr_delim)
        if any(not h for h in headers):
            raise OTTLSyntaxError("ParseCSV headers must be non-empty")
        return parse_csv(comp(node.args[0]), headers, delim, mode)
    if node.func == "URL":
        return url_to_map(comp(_unary(node)))
    if node.func == "ReplaceMatch":
        # ottlfuncs.ReplaceMatch(target, glob, replacement): whole-string
        # path.Match glob; on match the value is REPLACED, else unchanged.
        # The glob is translated to an anchored Java regex at compile time.
        if (
            len(node.args) != 3
            or not isinstance(node.args[1], _Str)
            or not isinstance(node.args[2], _Str)
        ):
            raise OTTLSyntaxError(
                "ReplaceMatch takes (target, string-literal glob, string-literal replacement)"
            )
        try:
            pat = glob_to_regex(node.args[1].value)
        except ValueError as exc:
            raise OTTLSyntaxError(str(exc)) from exc
        c = comp(node.args[0])
        return F.when(c.rlike(pat), F.lit(node.args[2].value)).otherwise(c)
    if node.func == "ReplaceAllMatches":
        # whole-map form: rewrite every VALUE matching the glob (upstream
        # editor semantics on an attribute map)
        if (
            len(node.args) != 3
            or not isinstance(node.args[0], _MapRef)
            or not isinstance(node.args[1], _Str)
            or not isinstance(node.args[2], _Str)
        ):
            raise OTTLSyntaxError(
                "ReplaceAllMatches takes (attributes-map, string-literal glob, "
                "string-literal replacement)"
            )
        try:
            pat = glob_to_regex(node.args[1].value)
        except ValueError as exc:
            raise OTTLSyntaxError(str(exc)) from exc
        repl = node.args[2].value
        return F.transform_values(
            comp(node.args[0]),
            lambda k, v: F.when(v.rlike(pat), F.lit(repl)).otherwise(v),
        )
    if node.func == "ExtractGrokPatterns":
        # ottlfuncs.ExtractGrokPatterns(target, pattern[, namedCapturesOnly]):
        # %{SYNTAX:SEMANTIC} references expand against the curated base table
        # (functions/grok.py) into ONE flat regex at COMPILE time, then lower
        # to the same one-regexp_extract-per-group plan ExtractPatterns uses.
        # Unknown/cyclic/coerced references reject at load; a line the
        # pattern doesn't match -> NULL (upstream parse error), matched-empty
        # groups are omitted (ExtractPatterns convention).
        from .grok import grok_group_names, grok_to_java_regex

        if (
            len(node.args) not in (2, 3)
            or not isinstance(node.args[1], _Str)
            or (len(node.args) == 3 and not isinstance(node.args[2], _Bool))
        ):
            raise OTTLSyntaxError(
                "ExtractGrokPatterns takes (target, string-literal pattern"
                "[, bool namedCapturesOnly])"
            )
        nco = node.args[2].value if len(node.args) == 3 else True
        try:
            flat = grok_to_java_regex(node.args[1].value, named_captures_only=nco)
            name_map = grok_group_names(node.args[1].value, named_captures_only=nco)
            groupindex = re.compile(flat).groupindex
        except (ValueError, re.error) as exc:
            raise OTTLSyntaxError(f"ExtractGrokPatterns: {exc}") from exc
        if not groupindex:
            raise OTTLSyntaxError(
                "ExtractGrokPatterns pattern captures nothing — add a "
                "%{SYNTAX:semantic} reference or namedCapturesOnly=false"
            )
        java_pat = re.sub(r"\(\?P<[^>]+>", "(", flat)
        col = comp(node.args[0])
        return F.when(
            col.isNotNull() & col.rlike(java_pat),
            _extract_groups_map(
                col,
                java_pat,
                {num: name_map.get(g, g) for g, num in groupindex.items()},
                assume_matched=True,
            ),
        )
    if node.func == "TruncateAll":
        # editor truncate_all(attributes, limit) value-form: every map value
        # truncated to limit chars; limit < 0 rejected at compile (upstream
        # errors at startup)
        if len(node.args) != 2 or not isinstance(node.args[1], _Int):
            raise OTTLSyntaxError("TruncateAll takes (attributes-map, int limit)")
        if not isinstance(node.args[0], _MapRef):
            raise OTTLSyntaxError("TruncateAll takes an attributes-map target")
        if node.args[1].value < 0:
            raise OTTLSyntaxError("TruncateAll limit must be non-negative")
        limit = node.args[1].value
        return F.transform_values(
            comp(node.args[0]), lambda k, v: F.substring(v, 1, limit)
        )
    raise OTTLSyntaxError(f"unsupported OTTL function {node.func!r}")


def compile_ottl(
    expr: str,
    attrs_col: Column | str = "attrs",
    name_col: Column | str = "name",
    resource_col: Column | str | None = None,
) -> Column:
    """Compile one OTTL expression string into a Catalyst Column.

    ``attrs_col`` must be a ``map<string,string>`` column; ``name_col`` the span
    name analogue.  Runs once on the driver per rule, mirroring the
    compile-once design of processor.go:81-118.
    """
    attrs_c = F.col(attrs_col) if isinstance(attrs_col, str) else attrs_col
    name_c = F.col(name_col) if isinstance(name_col, str) else name_col
    res_c = F.col(resource_col) if isinstance(resource_col, str) else resource_col
    ast = _Parser(_tokenize(expr), expr).parse()
    return _compile_node(ast, attrs_c, name_c, res_c)


def value_expr_never_null(expr: str) -> bool:
    """True when the compiled value expression cannot evaluate to NULL.

    Used by the rule compiler: the reference skips a rule whose name expression
    *errors* (processor.go:244-250); in our model that is "evaluates to NULL",
    which we fold into the rule predicate.  Concat never errors (nil renders
    ""), and string literals are constant — for those we can omit the NULL
    guard and keep the predicate cheaper.
    """
    ast = _Parser(_tokenize(expr), expr).parse()
    return isinstance(ast, _Str) or (isinstance(ast, _Call) and ast.func == "Concat")
