"""Parse-stage tests: generator determinism, extraction correctness, the
pandas-UDF vs native-Column parity, and the per-row byte-identity invariant
across parallelism levels (BASELINE.json input_hint)."""

import pytest
from pyspark.sql import functions as F

from otel_semconvprocessor_spark.operators.extract import (
    extract_pages,
    extract_pages_native,
)
from otel_semconvprocessor_spark.sources.pages import FAMILIES, generate_pages

N = 600


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, N, with_expected=True).cache()


def test_pages_shape_and_determinism(spark, pages):
    assert pages.count() == N
    prod = generate_pages(spark, N)
    assert [f.name for f in prod.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    assert dict(prod.dtypes)["html"] == "binary"
    # urls unique (row-equality primary key, FIXTURES.md §1)
    assert pages.select("url").distinct().count() == N
    # regeneration is bit-identical
    a = sorted(r["text"] for r in prod.select("text").collect())
    b = sorted(r["text"] for r in generate_pages(spark, N).select("text").collect())
    assert a == b
    # >= 3 distinct days, >= 2 langs
    assert pages.select(F.to_date("warc_ts")).distinct().count() >= 3
    assert pages.select("lang").distinct().count() >= 3


def test_family_mix_roughly_matches_weights(pages):
    counts = {r["expected_family"]: r["count"] for r in pages.groupBy("expected_family").count().collect()}
    for fam, weight, _ in FAMILIES:
        expected = N * weight / 1000
        assert counts.get(fam, 0) == pytest.approx(expected, rel=0.6, abs=6), fam


def _check_extraction(out):
    rows = out.collect()
    assert len(rows) == N
    for r in rows:
        assert r["name"] == r["expected_name"], r["url"]
        assert r["kind"] == r["expected_kind"], r["url"]
        got_attrs = {k: v for k, v in r["attrs"].items() if k not in ("http.server", "traceparent")}
        assert got_attrs == dict(r["expected_attrs"]), r["url"]
        assert r["attrs"]["http.server"] == r["expected_server"]
        assert r["attrs"]["traceparent"] == r["expected_traceparent"]
        assert r["domain"] == r["expected_domain"]
        tp = r["expected_traceparent"]
        assert r["trace_id"] == tp[3:35]
        assert r["span_id"] == tp[36:52]
        assert r["schema_url"] in ("1.21.0", "1.26.0")


def test_native_extraction_recovers_ground_truth(pages):
    _check_extraction(extract_pages_native(pages))


def test_pandas_extraction_recovers_ground_truth(pages):
    _check_extraction(extract_pages(pages))


def test_pandas_native_parity(spark, pages):
    """The two implementations must agree byte-for-byte on every row."""
    a = extract_pages(pages.select("url", "text", "html"))
    b = extract_pages_native(pages.select("url", "text", "html"))
    cols = ["url", "domain", "name", "kind", "schema_url", "trace_id", "span_id"]
    pa = {r["url"]: r for r in a.select(*cols, "attrs").collect()}
    pb = {r["url"]: r for r in b.select(*cols, "attrs").collect()}
    assert pa.keys() == pb.keys()
    for url in pa:
        ra, rb = pa[url], pb[url]
        for c in cols:
            assert ra[c] == rb[c], (url, c)
        assert dict(ra["attrs"]) == dict(rb["attrs"]), url


def test_byte_identity_across_parallelism(spark):
    """Per-row invariant: extracted output per url is identical whether the
    job runs on 1 partition or 16 (stand-in for N vs 4N executors)."""
    p1 = generate_pages(spark, 300, n_partitions=1)
    p16 = generate_pages(spark, 300, n_partitions=16)
    e1 = {r["url"]: (r["name"], r["kind"], tuple(sorted(r["attrs"].items())))
          for r in extract_pages(p1).collect()}
    e16 = {r["url"]: (r["name"], r["kind"], tuple(sorted(r["attrs"].items())))
           for r in extract_pages(p16).collect()}
    assert e1 == e16


def test_native_plan_has_no_python_or_shuffle(spark, pages):
    plan = extract_pages_native(pages.select("url", "text", "html"))._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "Exchange" not in plan


def test_pandas_plan_uses_arrow_eval(spark, pages):
    plan = extract_pages(pages.select("url", "text", "html"))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "EvalPython" in plan


def test_duplicate_telemetry_keys_last_wins(spark):
    """A malformed page repeating a telemetry key must not crash the native
    plan (DUPLICATED_MAP_KEY) and both twins must keep the LAST occurrence,
    matching the pandas path's dict(findall) semantics."""
    df = spark.createDataFrame(
        [("https://ex.com/a",
          "span.name: s\nspan.kind: server\nhttp.method: GET\nhttp.method: POST",
          bytearray(b"<html></html>"))],
        "url string, text string, html binary",
    )
    a = extract_pages(df).select("name", "kind", "attrs").collect()[0]
    b = extract_pages_native(df).select("name", "kind", "attrs").collect()[0]
    assert b["attrs"]["http.method"] == "POST"
    assert a["name"] == b["name"] and a["kind"] == b["kind"]
    assert dict(a["attrs"]) == dict(b["attrs"])


def test_dedup_fast_path_mixed_rows(spark):
    """Round-6: the duplicate-key guard is a lazy CASE (fast map_from_arrays
    when keys are distinct, O(k^2) filter only on dup rows).  Mixed input
    must route each row down the right branch with identical results."""
    df = spark.createDataFrame(
        [
            ("https://ex.com/dup",
             "span.name: d\nspan.kind: server\nk.a: 1\nk.a: 2\nk.b: x",
             bytearray(b"<html></html>")),
            ("https://ex.com/clean",
             "span.name: c\nspan.kind: client\nk.a: 9\nk.b: y",
             bytearray(b"<html></html>")),
        ],
        "url string, text string, html binary",
    )
    rows = {r["url"]: r for r in extract_pages_native(df).select("url", "attrs").collect()}
    assert dict(rows["https://ex.com/dup"]["attrs"]) == {"k.a": "2", "k.b": "x"}
    assert dict(rows["https://ex.com/clean"]["attrs"]) == {"k.a": "9", "k.b": "y"}
    # parity with the pandas twin on the same mixed frame
    p = {r["url"]: dict(r["attrs"]) for r in extract_pages(df).select("url", "attrs").collect()}
    n = {u: dict(r["attrs"]) for u, r in rows.items()}
    assert p == n


_TP = "00-" + "ab" * 16 + "-" + "cd" * 8 + "-01"
_ADVERSARIAL = [
    # invalid UTF-8 bytes inside the Server value
    ("https://ex.com/bad-bytes", "span.name: GET /a\nspan.kind: server\nhttp.method: GET",
     b"<html>\nServer: ngi\xffnx\xfe\ntraceparent: " + _TP.encode() + b"\n</html>"),
    # truncated multibyte sequences (mid-line and at the end of the payload)
    ("https://ex.com/truncated", "span.name: GET /b\nhttp.route: /café",
     b"Server: caf\xc3\ntraceparent: " + _TP.encode() + b"\n\xe2\x82"),
    # CRLF line ends: '\r' stays in the value and breaks the anchored grep
    ("https://ex.com/crlf", "span.name: GET /y\r\nspan.kind: server\r\nhttp.method: GET\r\n",
     b"Server: nginx\r\ntraceparent: " + _TP.encode() + b"\r\n"),
    # lone CR is not a line end
    ("https://ex.com/cr", "span.name: a\rspan.kind: client\nhttp.method: PUT",
     b"Server: x\rtraceparent: " + _TP.encode()),
    # NEL and U+2028 are not line ends either
    ("https://ex.com/nel", "span.name: b\u0085span.kind: server \nhttp.route: /r",
     ("Server: y\u0085\ntraceparent: " + _TP + " ").encode()),
    ("https://ex.com/null-html", "span.name: c\nspan.kind: server", None),
    ("https://ex.com/null-text", None, b"Server: z\ntraceparent: " + _TP.encode()),
]


def test_adversarial_rows_native_matches_pandas(spark):
    """Under the default (ANSI) session the native twin neither raises on
    malformed UTF-8 html nor treats '\\r', NEL or U+2028 as line ends: it
    equals the pandas twin row for row."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame(_ADVERSARIAL, "url string, text string, html binary")
    cols = ["url", "domain", "name", "kind", "schema_url", "trace_id", "span_id"]

    def rows(out):
        return {r["url"]: (tuple(r[c] for c in cols), dict(r["attrs"]))
                for r in out.select(*cols, "attrs").collect()}

    pandas_rows = rows(extract_pages(df))
    assert rows(extract_pages_native(df)) == pandas_rows
    assert len(pandas_rows) == len(_ADVERSARIAL)
    crlf = pandas_rows["https://ex.com/crlf"]
    assert crlf[0][cols.index("name")] == "GET /y\r"
    assert "traceparent" not in crlf[1]
