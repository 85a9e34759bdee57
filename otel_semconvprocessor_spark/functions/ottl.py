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

Functions: ``_FUNCTIONS`` is the one table — per function, its argument
signature and its lowering — like the reference's one factory map
(ottl_functions.go:17-28, which merges ``ottlfuncs.StandardFuncs()`` at :19).
``SUPPORTED_FUNCTIONS`` is its key set; the README conformance table lists it.

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

from .grok import grok_group_names, grok_to_java_regex
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


# ---- the function table --------------------------------------------------
#
# Every supported function is ONE entry, ``name: (signature, builder)`` — the
# reference registers each factory once too (ottl_functions.go:17-28, merging
# ottlfuncs.StandardFuncs() at :19).  A signature names one kind per argument:
#
#   expr  any expression             -> the builder gets its compiled Column
#   map   a bare attributes map ref  -> its compiled Column
#   list  a list literal             -> a list of its compiled items
#   str / int / bool  a literal      -> its Python value
#
# A trailing "?" marks an optional trailing argument; one left out is not
# passed, so the builder's default applies.  ``_check_args`` is the only
# arity / kind check.  Checks on literal VALUES (regex validity, delimiters,
# modes, encodings, verbs, bounds) live in the builders — all at compile
# time, as the reference's parser errors at startup (processor.go:81-118).

_NODE_KINDS = {_Str: "str", _Int: "int", _Bool: "bool", _List: "list", _MapRef: "map"}


def _kind(node) -> str:
    return _NODE_KINDS.get(type(node), "expr")


def _check_args(func: str, sig: str, args: list) -> list[str]:
    """Validate a call against its signature (an expr slot takes anything but
    a list); return the declared kind of each argument given."""
    declared = sig.split(", ")
    kinds = [k.rstrip("?") for k in declared]
    required = sum(not k.endswith("?") for k in declared)
    if not required <= len(args) <= len(kinds) or any(
        k != _kind(a) and (k != "expr" or isinstance(a, _List))
        for k, a in zip(kinds, args)
    ):
        got = ", ".join(_kind(a) for a in args)
        raise OTTLSyntaxError(f"{func} takes ({sig}), got ({got})")
    return kinds[: len(args)]


def _checked(translate, *args):
    """Run a compile-time literal translator; its ValueError is a clean reject."""
    try:
        return translate(*args)
    except ValueError as exc:
        raise OTTLSyntaxError(str(exc)) from exc


def _is_match(col: Column, pattern: str) -> Column:
    # partial-match semantics == Java regex find == Column.rlike.  A nil
    # target is an OTTL error; NULL propagates and folds to skip (R6)
    _validate_regex(pattern)
    return col.rlike(pattern)


def _substring(col: Column, start: int, length: int) -> Column:
    # 0-based start; a range outside the string errors upstream -> NULL here
    if start < 0 or length < 0:
        raise OTTLSyntaxError("Substring start/length must be non-negative")
    return F.when(F.length(col) >= start + length, F.substring(col, start + 1, length))


def _convert_case(col: Column, case: str) -> Column:
    # snake/camel are regexp_replace / split-transform chains — still pure
    # expressions (stdfuncs.to_snake_case / to_camel_case)
    convert = {
        "lower": F.lower, "upper": F.upper, "snake": to_snake_case, "camel": to_camel_case,
    }.get(case)
    if convert is None:
        raise OTTLSyntaxError(f"ConvertCase case {case!r} unsupported (lower/upper/snake/camel)")
    return convert(col)


def _split(col: Column, delimiter: str) -> Column:
    # Go strings.Split: the literal delimiter splits verbatim, never as a regex
    if not delimiter:
        raise OTTLSyntaxError("Split delimiter must be non-empty")
    return ottl_split(col, delimiter)


def _replace_pattern(col: Column, pattern: str, replacement: str) -> Column:
    _validate_regex(pattern)
    return replace_pattern(col, pattern, replacement)


def _replace_all_patterns(m: Column, mode: str, pattern: str, replacement: str) -> Column:
    # rewrite every key or value of an attribute map — transform_keys /
    # transform_values keep it a pure expression
    if mode not in ("key", "value"):
        raise OTTLSyntaxError(f'ReplaceAllPatterns mode must be "key"|"value", got {mode!r}')
    _validate_regex(pattern)
    if mode == "key":
        return F.transform_keys(m, lambda k, v: replace_pattern(k, pattern, replacement))
    return F.transform_values(m, lambda k, v: replace_pattern(v, pattern, replacement))


def _time(col: Column, fmt: str) -> Column:
    # ctimefmt %-directives -> Java DateTimeFormatter pattern, checked here
    # once; unparseable input -> NULL via try_to_timestamp (error-as-null)
    _checked(ctime_to_java, fmt)
    return ottl_time(col, fmt)


def _parse_key_value(col: Column, delimiter: str = "=", pair_delimiter: str = " ") -> Column:
    # upstream errors on an empty delimiter or equal delimiters
    if not delimiter or not pair_delimiter:
        raise OTTLSyntaxError("ParseKeyValue delimiters must be non-empty")
    if delimiter == pair_delimiter:
        raise OTTLSyntaxError("ParseKeyValue delimiter and pairDelimiter must differ")
    return parse_key_value(col, delimiter, pair_delimiter)


def _log(col: Column) -> Column:
    # func_log: natural log; upstream errors on target <= 0 -> NULL here
    c = col.cast("double")
    return F.when(c > 0, F.log(c))


def _format(fmt: str, cols: list[Column]) -> Column:
    # Go fmt verbs: %s/%d map 1:1 to java.lang.String.format (what
    # format_string uses); %v, Go's default verb, is %s on these stringly
    # values.  Other verbs (%f width/precision, %x, ...) are rejected rather
    # than silently mis-formatted.
    java_fmt = fmt.replace("%v", "%s")
    if re.search(r"%[^sd%]", java_fmt):
        raise OTTLSyntaxError(f"Format verb outside %s/%d/%v unsupported in {fmt!r}")
    out = F.format_string(java_fmt, *cols)
    # format_string renders a NULL arg as the string 'null'; OTTL treats a
    # nil arg as an error -> NULL here (error-as-null model, R6/R8)
    for c in cols:
        out = F.when(c.isNull(), F.lit(None).cast("string")).otherwise(out)
    return out


# Extraction is by GROUP NUMBER, so the Java pattern needs no names: (?P<name>
# becomes a plain '(' (numbering unchanged).  Java's (?<name>...) would break
# on RE2-legal names like http_method (Java allows [A-Za-z][A-Za-z0-9]* only)
# with a PatternSyntaxException at executor runtime, past compile checks.
def _unnamed(pattern: str) -> str:
    return re.sub(r"\(\?P<[^>]+>", "(", pattern)


def _extract_patterns(col: Column, pattern: str) -> Column:
    # named capture groups become map entries; the groups are known at
    # COMPILE time (literal pattern), so this is pure expression work.  A nil
    # target is an OTTL error -> NULL map (R6), not {}
    try:
        # OTTL patterns are Go RE2 syntax: named groups are (?P<name>...)
        groupindex = re.compile(pattern).groupindex  # name -> group no.
    except re.error as exc:
        raise OTTLSyntaxError(f"ExtractPatterns pattern invalid: {exc}") from exc
    if not groupindex:
        raise OTTLSyntaxError(
            "ExtractPatterns pattern must contain at least one named "
            "capture group (?P<name>...)"
        )
    by_num = {num: g for g, num in groupindex.items()}
    return F.when(col.isNotNull(), _extract_groups_map(col, _unnamed(pattern), by_num))


def _extract_grok_patterns(col: Column, pattern: str, named_captures_only: bool = True) -> Column:
    # %{SYNTAX:SEMANTIC} references expand against the curated base table
    # (functions/grok.py) into ONE flat regex at COMPILE time, lowered like
    # ExtractPatterns.  Unknown/cyclic/coerced references reject at load; a
    # line the pattern doesn't match -> NULL (upstream parse error)
    try:
        flat = grok_to_java_regex(pattern, named_captures_only=named_captures_only)
        name_map = grok_group_names(pattern, named_captures_only=named_captures_only)
        groupindex = re.compile(flat).groupindex
    except (ValueError, re.error) as exc:
        raise OTTLSyntaxError(f"ExtractGrokPatterns: {exc}") from exc
    if not groupindex:
        raise OTTLSyntaxError(
            "ExtractGrokPatterns pattern captures nothing — add a "
            "%{SYNTAX:semantic} reference or namedCapturesOnly=false"
        )
    java_pat = _unnamed(flat)
    by_num = {num: name_map.get(g, g) for g, num in groupindex.items()}
    return F.when(
        col.isNotNull() & col.rlike(java_pat),
        _extract_groups_map(col, java_pat, by_num, assume_matched=True),
    )


def _sort(col: Column, order: str = "asc") -> Column:
    # on the arrays converters produce (Split, Keys, Values); nil -> NULL
    if order not in ("asc", "desc"):
        raise OTTLSyntaxError(f'Sort order must be "asc"|"desc", got {order!r}')
    sorted_col = F.array_sort(col)
    return F.reverse(sorted_col) if order == "desc" else sorted_col


def _parse_csv(
    col: Column,
    headers: str,
    delimiter: str = ",",
    header_delimiter: str | None = None,
    mode: str = "strict",
) -> Column:
    # literal headers/delimiters fix the schema at compile time; a field-count
    # mismatch -> NULL (upstream errors), see stdfuncs.parse_csv
    if header_delimiter is None:
        header_delimiter = delimiter
    if not delimiter or not header_delimiter:
        raise OTTLSyntaxError("ParseCSV delimiters must be non-empty")
    if mode == "lazyQuotes":
        raise OTTLSyntaxError("ParseCSV lazyQuotes mode unsupported (strict/ignoreQuotes only)")
    if mode not in ("strict", "ignoreQuotes"):
        raise OTTLSyntaxError(f"ParseCSV mode must be strict|ignoreQuotes, got {mode!r}")
    names = headers.split(header_delimiter)
    if any(not h for h in names):
        raise OTTLSyntaxError("ParseCSV headers must be non-empty")
    return parse_csv(col, names, delimiter, mode)


def _replace_match(col: Column, glob: str, replacement: str) -> Column:
    # whole-string path.Match glob, translated to an anchored Java regex at
    # compile time; on match the value is REPLACED, else unchanged
    pat = _checked(glob_to_regex, glob)
    return F.when(col.rlike(pat), F.lit(replacement)).otherwise(col)


def _replace_all_matches(m: Column, glob: str, replacement: str) -> Column:
    # whole-map editor form: every VALUE matching the glob is replaced
    pat = _checked(glob_to_regex, glob)
    return F.transform_values(m, lambda k, v: F.when(v.rlike(pat), F.lit(replacement)).otherwise(v))


def _truncate_all(m: Column, limit: int) -> Column:
    # editor truncate_all value form; upstream errors at startup on limit < 0
    if limit < 0:
        raise OTTLSyntaxError("TruncateAll limit must be non-negative")
    return F.transform_values(m, lambda k, v: F.substring(v, 1, limit))


_FUNCTIONS = {
    # the 5 custom functions (ottl_functions.go:17-28)
    "NormalizePath": ("expr", normalize_path),
    "ParseSQL": ("expr", parse_sql),
    "RemoveQueryParams": ("expr", remove_query_params),
    "FirstNonNil": ("list", first_non_nil),
    "Concat": ("list, str", ottl_concat),
    # strings and patterns
    "IsMatch": ("expr, str", _is_match),
    "Substring": ("expr, int, int", _substring),
    "Len": ("expr", lambda c: F.length(c).cast("long")),
    "ConvertCase": ("expr, str", _convert_case),
    "Split": ("expr, str", _split),
    "Trim": ("expr, str?", ottl_trim),
    "ReplacePattern": ("expr, str, str", _replace_pattern),
    "ReplaceAllPatterns": ("map, str, str, str", _replace_all_patterns),
    "ReplaceMatch": ("expr, str, str", _replace_match),
    "ReplaceAllMatches": ("map, str, str", _replace_all_matches),
    "TruncateAll": ("map, int", _truncate_all),
    "Format": ("str, list", _format),
    "ExtractPatterns": ("expr, str", _extract_patterns),
    "ExtractGrokPatterns": ("expr, str, bool?", _extract_grok_patterns),
    # conversions (Int: ParseInt base 10, error -> nil; try_cast has the same
    # reject set — ANSI bigint grammar, no floats)
    "Int": ("expr", lambda c: c.try_cast("long")),
    "Double": ("expr", lambda c: c.try_cast("double")),
    "String": ("expr", lambda c: c.cast("string")),
    "Hex": ("expr", lambda c: F.lower(F.hex(c.cast("binary")))),  # Spark's hex() is upper
    "Log": ("expr", _log),
    "Decode": ("expr, str", lambda c, encoding: _checked(ottl_decode, c, encoding)),
    "MD5": ("expr", lambda c: F.md5(c.cast("binary"))),
    "SHA1": ("expr", lambda c: F.sha1(c.cast("binary"))),
    "SHA256": ("expr", lambda c: F.sha2(c.cast("binary"), 256)),
    "SHA512": ("expr", lambda c: F.sha2(c.cast("binary"), 512)),
    # maps and lists
    "ParseJSON": ("expr", parse_json_flat),
    "ParseKeyValue": ("expr, str?, str?", _parse_key_value),
    "ToKeyValueString": ("expr, str?, str?, bool?", to_key_value_string),
    "ParseCSV": ("expr, str, str?, str?, str?", _parse_csv),
    "URL": ("expr", url_to_map),
    "Keys": ("expr", F.map_keys),
    "Values": ("expr", F.map_values),
    "Sort": ("expr, str?", _sort),
    # Is<Type>: the compiled expression's Catalyst type(s); prefix matches
    # typeof()'s parameterized renderings (map<...>, array<...>)
    "IsString": ("expr", lambda c: typeof_is(c, ("string",))),
    "IsInt": ("expr", lambda c: typeof_is(c, ("bigint", "int", "smallint", "tinyint"))),
    "IsDouble": ("expr", lambda c: typeof_is(c, ("double", "float"))),
    "IsBool": ("expr", lambda c: typeof_is(c, ("boolean",))),
    "IsMap": ("expr", lambda c: typeof_is(c, ("map<",), prefix=True)),
    "IsList": ("expr", lambda c: typeof_is(c, ("array<",), prefix=True)),
    # durations: Duration(x) is total nanoseconds (double); the converters
    # keep upstream return types (Hours/Minutes/Seconds float64, the rest int64)
    "Duration": ("expr", duration_ns),
    "Hours": ("expr", lambda c: (c / F.lit(3.6e12)).cast("double")),
    "Minutes": ("expr", lambda c: (c / F.lit(6e10)).cast("double")),
    "Seconds": ("expr", lambda c: (c / F.lit(1e9)).cast("double")),
    "Milliseconds": ("expr", lambda c: (c / F.lit(1e6)).cast("long")),
    "Microseconds": ("expr", lambda c: (c / F.lit(1e3)).cast("long")),
    "Nanoseconds": ("expr", lambda c: (c / F.lit(1.0)).cast("long")),
    # time values: Time parses with a ctimefmt format; TruncateTime is Go
    # time.Truncate by a duration expression (typically Duration("1h"));
    # calendar accessors return int64 upstream
    "Time": ("expr, str", _time),
    "TruncateTime": ("expr, expr", truncate_time),
    "UnixSeconds": ("expr", F.unix_seconds),
    "UnixMilli": ("expr", F.unix_millis),
    "UnixMicro": ("expr", F.unix_micros),
    # Spark timestamps are µs precision; the ns value is exact µs*1000
    "UnixNano": ("expr", lambda c: (F.unix_micros(c) * F.lit(1000)).cast("long")),
    "Year": ("expr", lambda c: F.year(c).cast("long")),
    "Month": ("expr", lambda c: F.month(c).cast("long")),
    "Day": ("expr", lambda c: F.dayofmonth(c).cast("long")),
    "Hour": ("expr", lambda c: F.hour(c).cast("long")),
    "Minute": ("expr", lambda c: F.minute(c).cast("long")),
    "Second": ("expr", lambda c: F.second(c).cast("long")),
}

#: the compile-or-reject contract surface (README conformance table,
#: tests/test_conformance.py)
SUPPORTED_FUNCTIONS = frozenset(_FUNCTIONS)


def _compile_call(node: _Call, attrs_col, name_col, resource_col) -> Column:
    if node.func not in _FUNCTIONS:
        raise OTTLSyntaxError(f"unsupported OTTL function {node.func!r}")
    sig, build = _FUNCTIONS[node.func]
    kinds = _check_args(node.func, sig, node.args)

    def lower(kind, n):
        if kind == "list":
            return [lower("expr", i) for i in n.items]
        if kind in ("expr", "map"):
            return _compile_node(n, attrs_col, name_col, resource_col)
        return n.value

    return build(*[lower(k, a) for k, a in zip(kinds, node.args)])


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
