"""Golden tests for the scalar functions, ported 1:1 from the reference:

  - NormalizePath  -> processor_test.go:398-431 (+ :266-277)
  - ParseSQL       -> processor_test.go:472-501 (+ :279-290)
  - RemoveQueryParams -> processor_test.go:292-303, ottl_functions.go:177-190
  - FirstNonNil    -> ottl_functions_test.go:95-175

Byte-identity is the contract (BASELINE.json per-row invariant).
"""

import pytest
from pyspark.sql import functions as F

from otel_semconvprocessor_spark.functions.scalars import (
    first_non_nil,
    normalize_path,
    ottl_concat,
    parse_sql,
    remove_query_params,
    span_kind_to_string,
)

NORMALIZE_PATH_GOLDENS = [
    # processor_test.go:398-431
    ("/users/550e8400-e29b-41d4-a716-446655440000/profile", "/users/{id}/profile"),
    ("/api/v1/orders/12345/items/67890", "/api/v1/orders/{id}/items/{id}"),
    ("/products/123", "/products/{id}"),
    ("/api/v2/data", "/api/v2/data"),
    ("/users/123/posts/456/comments/789", "/users/{id}/posts/{id}/comments/{id}"),
    ("/objects/507f1f77bcf86cd799439011", "/objects/{id}"),  # MongoDB ObjectId
    ("/search?q=test&limit=10", "/search"),
    # extra edge coverage consistent with ottl_functions.go:49-77 semantics
    ("/users/550e8400-e29b-41d4-a716-446655440000", "/users/{id}"),
    ("", ""),
    ("/", "/"),
    ("/123", "/{id}"),
    ("/a/123/456", "/a/{id}/456"),  # non-overlapping scan consumes the shared slash
    ("no-slashes-42", "no-slashes-42"),
    ("/abc/deadbeefdeadbeef/x", "/abc/{id}/x"),  # exactly 16 hex chars
    ("/abc/deadbeefdeadbee/x", "/abc/deadbeefdeadbee/x"),  # 15 hex chars: untouched
]

PARSE_SQL_GOLDENS = [
    # processor_test.go:472-501
    ("SELECT * FROM users WHERE id = ?", "SELECT users"),
    ("INSERT INTO products (name, price) VALUES (?, ?)", "INSERT products"),
    ("UPDATE customers SET email = ? WHERE id = ?", "UPDATE customers"),
    ("DELETE FROM orders WHERE created_at < ?", "DELETE orders"),
    ("SELECT u.name FROM `schema`.`users` u JOIN orders o ON u.id = o.user_id", "SELECT users"),
    ("TRUNCATE TABLE sessions", "TRUNCATE"),
    # extra edge coverage consistent with ottl_functions.go:97-157
    ("  select id from Foo", "SELECT Foo"),
    ('DELETE FROM "public"."events" WHERE 1=1', "DELETE events"),
    ("INSERT INTO [dbo].[users] VALUES (1)", "INSERT users"),
    ("BEGIN TRANSACTION", "BEGIN"),
    ("", "UNKNOWN"),
    ("   ", "UNKNOWN"),
    ("select 1", "SELECT"),  # no FROM: falls through to first-word fallback
    ("truncate table t", "TRUNCATE"),  # ASCII first word: translate, not ICU upper
    ("ändere x", "ÄNDERE"),  # non-ASCII first word keeps upper()
    ("straße x", "STRASSE"),  # full case mapping: ß -> SS
]


def _eval_one(spark, col_builder, value):
    df = spark.createDataFrame([(value,)], "v: string")
    return df.select(col_builder(F.col("v")).alias("out")).collect()[0]["out"]


@pytest.mark.parametrize("inp,expected", NORMALIZE_PATH_GOLDENS)
def test_normalize_path(spark, inp, expected):
    assert _eval_one(spark, normalize_path, inp) == expected


@pytest.mark.parametrize("inp,expected", PARSE_SQL_GOLDENS)
def test_parse_sql(spark, inp, expected):
    assert _eval_one(spark, parse_sql, inp) == expected


@pytest.mark.parametrize(
    "inp,expected",
    [
        ("/search?q=test&limit=10", "/search"),  # processor_test.go:292-303
        ("/plain", "/plain"),
        ("?leading", ""),
        ("a?b?c", "a"),
        ("", ""),
    ],
)
def test_remove_query_params(spark, inp, expected):
    assert _eval_one(spark, remove_query_params, inp) == expected


def test_null_inputs_stay_null(spark):
    """NULL -> NULL so the rule compiler's IS NOT NULL fold reproduces the
    reference's eval-error-skips-rule behavior (processor.go:244-250)."""
    df = spark.createDataFrame([(None,)], "v: string")
    row = df.select(
        normalize_path(F.col("v")).alias("np"),
        parse_sql(F.col("v")).alias("ps"),
        remove_query_params(F.col("v")).alias("rq"),
    ).collect()[0]
    assert row["np"] is None and row["ps"] is None and row["rq"] is None


@pytest.mark.parametrize(
    "row,expected",
    [
        # ottl_functions_test.go:119-153
        (("first-choice", "second-choice", "last-choice"), "first-choice"),
        ((None, "second-choice", "last-choice"), "second-choice"),
        ((None, None, "last-choice"), "last-choice"),
        ((None, None, None), None),
    ],
)
def test_first_non_nil(spark, row, expected):
    df = spark.createDataFrame([row], "a: string, b: string, c: string")
    got = df.select(first_non_nil([F.col("a"), F.col("b"), F.col("c")]).alias("out")).collect()[0]["out"]
    assert got == expected


def test_ottl_concat_nil_renders_empty_but_keeps_separator(spark):
    """OTTL Concat vs concat_ws divergence pinned (SURVEY.md §2.3 F5)."""
    df = spark.createDataFrame([("a", None, "c")], "a: string, b: string, c: string")
    got = df.select(
        ottl_concat([F.col("a"), F.col("b"), F.col("c")], "/").alias("out")
    ).collect()[0]["out"]
    assert got == "a//c"


def test_span_kind_to_string(spark):
    # processor.go:172-189
    df = spark.createDataFrame([(i,) for i in range(-1, 7)], "k: int")
    got = {r["k"]: r["s"] for r in df.select("k", span_kind_to_string(F.col("k")).alias("s")).collect()}
    assert got == {
        -1: "unspecified",
        0: "unspecified",
        1: "internal",
        2: "server",
        3: "client",
        4: "producer",
        5: "consumer",
        6: "unspecified",
    }
