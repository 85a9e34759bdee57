"""Golden tests for the OTTL-expression compiler (functions/ottl.py),
including the round-4 standard-function additions IsMatch / Substring / Len
(reference merges ottlfuncs.StandardFuncs(), ottl_functions.go:18)."""

import pytest
from pyspark.sql import functions as F

from otel_semconvprocessor_spark.functions.ottl import OTTLSyntaxError, compile_ottl


@pytest.fixture(scope="module")
def frame(spark):
    rows = [
        (1, "GET /api/users", {"db.statement": "SELECT * FROM users WHERE id = 1"}),
        (2, "short", {"db.statement": "INSERT INTO orders (a) VALUES (?)"}),
        (3, "x" * 30, {}),
        (4, None, {"http.route": "/api/cart"}),
    ]
    return spark.createDataFrame(rows, "id long, name string, attrs map<string,string>").cache()


def _col(frame, expr):
    return {r["id"]: r["v"] for r in frame.select("id", compile_ottl(expr).alias("v")).collect()}


def test_ismatch_partial_match(frame):
    got = _col(frame, 'IsMatch(attributes["db.statement"], "^SELECT")')
    assert got[1] is True
    assert got[2] is False
    assert got[3] is None  # nil target errors in OTTL -> NULL -> predicate skip


def test_ismatch_on_name(frame):
    got = _col(frame, 'IsMatch(name, "api")')
    assert got[1] is True and got[2] is False and got[4] is None


def test_ismatch_requires_literal_pattern():
    with pytest.raises(OTTLSyntaxError):
        compile_ottl("IsMatch(name, name)")


def test_substring(frame):
    got = _col(frame, "Substring(name, 0, 3)")
    assert got[1] == "GET"
    assert got[2] == "sho"
    assert got[4] is None


def test_substring_out_of_range_is_error_null(frame):
    # OTTL Substring errors when start+length exceeds the string; the
    # engine's error-as-null model renders that NULL (rule skips)
    got = _col(frame, "Substring(name, 4, 10)")
    assert got[1] == "/api/users"  # 4+10 == len, exactly in range
    assert got[2] is None  # len('short') = 5 < 14


def test_substring_rejects_negative():
    with pytest.raises(OTTLSyntaxError):
        compile_ottl("Substring(name, -1, 5)")
    with pytest.raises(OTTLSyntaxError):
        compile_ottl('Substring(name, 0, nil)')


def test_len_and_comparisons(frame):
    got = _col(frame, "Len(name)")
    assert got[1] == 14 and got[2] == 5 and got[3] == 30 and got[4] is None
    cond = _col(frame, "Len(name) > 20")
    assert cond[3] is True and cond[1] is False and cond[4] is None
    cond2 = _col(frame, "Len(name) <= 14 and name != nil")
    assert cond2[1] is True and cond2[3] is False


def test_nil_rejects_ordering_compare():
    with pytest.raises(OTTLSyntaxError):
        compile_ottl("name > nil")


def test_unsupported_function_still_raises():
    with pytest.raises(OTTLSyntaxError):
        compile_ottl('Uppercase(name)')


def test_first_non_nil_wrong_arity_rejects(spark):
    for expr in ("FirstNonNil()", "FirstNonNil([name], name)"):
        with pytest.raises(OTTLSyntaxError, match=r"FirstNonNil takes \(list\)"):
            compile_ottl(expr)


def test_convert_case(frame):
    low = _col(frame, 'ConvertCase(name, "lower")')
    up = _col(frame, 'ConvertCase(name, "upper")')
    assert low[1] == "get /api/users" and up[2] == "SHORT" and low[4] is None
    with pytest.raises(OTTLSyntaxError):
        compile_ottl('ConvertCase(name, "kebab")')


def test_hash_converters(frame):
    import hashlib

    md5s = _col(frame, "MD5(name)")
    shas = _col(frame, "SHA256(name)")
    assert md5s[1] == hashlib.md5(b"GET /api/users").hexdigest()
    assert shas[2] == hashlib.sha256(b"short").hexdigest()
    assert md5s[4] is None and shas[4] is None


def test_format(frame):
    got = _col(frame, 'Format("%s took %d ms", [name, Len(name)])')
    assert got[2] == "short took 5 ms"
    assert got[4] is None
    got_v = _col(frame, 'Format("op=%v", [name])')
    assert got_v[1] == "op=GET /api/users"
    with pytest.raises(OTTLSyntaxError):
        compile_ottl('Format("%x", [name])')
    with pytest.raises(OTTLSyntaxError):
        compile_ottl("Format(name, [name])")


def test_extract_patterns(frame):
    got = _col(
        frame,
        'ExtractPatterns(attributes["db.statement"], "^(?P<verb>[A-Z]+)(?:.* FROM (?P<table>[a-z]+))?")',
    )
    assert got[1] == {"verb": "SELECT", "table": "users"}
    assert got[2] == {"verb": "INSERT"}  # non-matching group omitted
    # nil target is an error upstream -> error-as-null here (like IsMatch),
    # NOT an empty map
    assert got[3] is None
    with pytest.raises(OTTLSyntaxError):
        compile_ottl('ExtractPatterns(name, "no groups here")')
    with pytest.raises(OTTLSyntaxError):
        compile_ottl('ExtractPatterns(name, "(?P<broken")')


def test_extract_patterns_underscore_group_names(frame):
    """RE2/Python group names allow underscores; Java's don't — the compiled
    pattern must extract by number with names stripped, not crash the executor
    with PatternSyntaxException (round-5 advice)."""
    got = _col(
        frame,
        'ExtractPatterns(attributes["db.statement"], "^(?P<sql_verb>[A-Z]+) (?P<the_rest>.*)$")',
    )
    assert got[1] == {"sql_verb": "SELECT", "the_rest": "* FROM users WHERE id = 1"}
    assert got[3] is None
