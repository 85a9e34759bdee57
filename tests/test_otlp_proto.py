"""OTLP protobuf receiver surface: hand-rolled wire codec round-trips, unknown
-field forward compatibility, the envelope shared by traces, metrics and
logs, by-value pickling of the decoders, and frame parity with the JSON
path."""

import struct

import pytest

from otel_semconvprocessor_spark.sources import otlp_proto as p
from otel_semconvprocessor_spark.sources.otlp_proto import (
    decode_export_request,
    decode_logs_request,
    decode_metrics_request,
    encode_export_request,
    spans_from_otlp_proto,
)

REQ = [
    {
        "resource": {"service.name": "cart", "host.name": "h1"},
        "scope_name": "unit",
        "spans": [
            {
                "trace_id": "0af7651916cd43dd8448eb211c80319c",
                "span_id": "b7ad6b7169203331",
                "name": "GET /api/cart",
                "kind": 2,
                "attrs": {"http.method": "GET", "retry.count": 2, "cache.hit": True},
            },
            {
                "trace_id": "1bf7651916cd43dd8448eb211c80319c",
                "span_id": "c7ad6b7169203331",
                "name": "internal.task",
                "kind": 1,
                "attrs": {"queue.depth": -3, "weight": 0.5},
            },
        ],
    },
    {
        "resource": {},
        "scope_name": "unit2",
        "spans": [
            {"trace_id": "ff" * 16, "span_id": "ee" * 8, "name": "bare", "kind": 0, "attrs": {}}
        ],
    },
]


def test_round_trip():
    rows = decode_export_request(encode_export_request(REQ))
    assert len(rows) == 3
    r0, r1, r2 = rows
    assert r0["trace_id"] == "0af7651916cd43dd8448eb211c80319c"
    assert r0["span_id"] == "b7ad6b7169203331"
    assert r0["name"] == "GET /api/cart"
    assert r0["kind"] == "server"
    # fmt.Sprintf('%v') stringification: ints/bools/floats -> strings
    assert r0["attrs"] == {"http.method": "GET", "retry.count": "2", "cache.hit": "true"}
    assert r0["resource"] == {"service.name": "cart", "host.name": "h1"}
    assert r0["scope_name"] == "unit"
    assert r1["kind"] == "internal"
    assert r1["attrs"] == {"queue.depth": "-3", "weight": "0.5"}
    assert r2["kind"] == "unspecified" and r2["resource"] == {} and r2["attrs"] == {}


# unknown fields of wire types 0, 1, 2 and 5, numbered above every field any
# envelope level or item reads
JUNK = (
    p._varint_field(15, 7)
    + p._tag(14, 1) + bytes(8)
    + p._len_field(13, b"\x0a\x03abc")
    + p._tag(12, 5) + bytes(4)
)

# signal -> (public decoder, one encoded item, the item's decoded fields); the
# span carries newer Span fields the decoder does not read
SIGNALS = {
    "traces": (
        decode_export_request,
        p._len_field(1, bytes.fromhex("ab" * 16))
        + p._len_field(2, bytes.fromhex("cd" * 8))
        + p._str_field(5, "with-extras")
        + p._varint_field(6, 3)
        + p._tag(7, 1) + struct.pack("<Q", 1700000000_000000000)  # start_time fixed64
        + p._tag(8, 1) + struct.pack("<Q", 1700000001_000000000)  # end_time fixed64
        + p._varint_field(10, 4)                                  # dropped_attributes_count
        + p._len_field(11, b"\x0a\x03abc")                        # an event submessage
        + p._len_field(9, p._encode_kv("k", "v")),
        {"trace_id": "ab" * 16, "span_id": "cd" * 8, "name": "with-extras", "kind": "client",
         "attrs": {"k": "v"}},
    ),
    "metrics": (
        decode_metrics_request,
        p._str_field(1, "latency") + p._str_field(3, "ms") + p._len_field(9, p._len_field(1, b"") * 2),
        {"metric_name": "latency", "metric_type": "histogram", "unit": "ms", "data_points": 2},
    ),
    "logs": (
        decode_logs_request,
        p._varint_field(2, 17) + p._str_field(3, "ERROR") + p._len_field(5, p._str_field(1, "boom"))
        + p._len_field(6, p._encode_kv("code", 500)),
        {"severity_number": 17, "severity_text": "ERROR", "body": "boom", "n_attrs": 1},
    ),
}


def _resource(attrs: dict, junk: bytes = b"") -> bytes:
    """A ResourceX's Resource field."""
    return p._len_field(1, junk + b"".join(p._len_field(1, p._encode_kv(k, v)) for k, v in attrs.items()) + junk)


def _scope_group(names: list[str], items: list[bytes], junk: bytes = b"") -> bytes:
    """A ResourceX's ScopeX field: one InstrumentationScope per name, then the
    items."""
    scopes = b"".join(p._len_field(1, junk + p._str_field(1, n) + junk) for n in names)
    return p._len_field(2, junk + scopes + junk + b"".join(p._len_field(2, junk + it) for it in items) + junk)


def test_unknown_fields_are_skipped():
    """A producer sending newer fields (span timestamps, status, events, or
    any unknown field at any envelope level) must not break a decoder —
    protobuf requires skipping unknown fields.  The schema_url fields, known
    but unread, are skipped too."""
    schema_url = p._str_field(3, "https://opentelemetry.io/schemas/1.21.0")
    for decode, item, fields in SIGNALS.values():
        group = (
            JUNK + _resource({"service.name": "cart"}, JUNK) + JUNK
            + _scope_group(["lib"], [item], JUNK) + schema_url + JUNK
        )
        req = JUNK + p._len_field(1, group) + JUNK
        assert decode(req) == [dict(fields, resource={"service.name": "cart"}, scope_name="lib")]


def test_spark_proto_path_matches_json_path(spark, tmp_path):
    """The decisive parity check: the same logical export encoded as JSON and
    as protobuf must produce IDENTICAL span frames through their respective
    operators."""
    import json

    from otel_semconvprocessor_spark.sources.otlp_json import spans_from_otlp_df

    # JSON twin of REQ (drop non-string attrs: the JSON fixture dialect used
    # by the reference benchmark carries stringValue/intValue)
    def kvs(d):
        return [
            {"key": k, "value": ({"intValue": str(v)} if isinstance(v, int) and not isinstance(v, bool) else {"stringValue": str(v)})}
            for k, v in d.items()
        ]

    docs = []
    for rs in REQ:
        docs.append(
            {
                "resourceSpans": [
                    {
                        "resource": {"attributes": kvs(rs["resource"])},
                        "scopeSpans": [
                            {
                                "scope": {"name": rs["scope_name"]},
                                "spans": [
                                    {
                                        "traceId": sp["trace_id"],
                                        "spanId": sp["span_id"],
                                        "name": sp["name"],
                                        "kind": sp["kind"],
                                        "attributes": kvs(
                                            {k: v for k, v in sp["attrs"].items()
                                             if not isinstance(v, (bool, float))}
                                        ),
                                    }
                                    for sp in rs["spans"]
                                ],
                            }
                        ],
                    }
                ]
            }
        )
    jpath = str(tmp_path / "otlp.jsonl")
    with open(jpath, "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")
    jdf = spans_from_otlp_df(spark.read.json(jpath))

    # proto twin with the same filtered attrs
    reqs = [
        encode_export_request(
            [
                dict(
                    rs,
                    spans=[
                        dict(sp, attrs={k: v for k, v in sp["attrs"].items()
                                        if not isinstance(v, (bool, float))})
                        for sp in rs["spans"]
                    ],
                )
            ]
        )
        for rs in REQ
    ]
    pdf = spark.createDataFrame([(r,) for r in reqs], "payload binary")
    out = spans_from_otlp_proto(pdf)

    key = lambda r: (r["trace_id"], r["span_id"])
    jrows = sorted((tuple(r.asDict(True).items()) for r in jdf.collect()), key=str)
    prows = sorted((tuple(r.asDict(True).items()) for r in out.collect()), key=str)
    assert prows == jrows


def test_empty_and_null_payloads(spark):
    pdf = spark.createDataFrame([(None,), (b"",)], "payload binary")
    assert spans_from_otlp_proto(pdf).count() == 0


def test_truncated_payload_raises_not_partial():
    """Every truncation point of a valid request must raise ValueError (or
    IndexError from a cut varint) — never silently decode to partial spans
    (round-5 advice: unchecked buf[pos:pos+ln] slices)."""
    full = encode_export_request(REQ)
    rows_full = len(decode_export_request(full))
    for cut in range(1, len(full)):
        try:
            rows = decode_export_request(full[:cut])
        except (ValueError, IndexError):
            continue
        # the only acceptable non-error outcome would be a prefix that is
        # itself a well-formed request; truncating inside any length-delimited
        # field is detected, so nothing shorter may parse to full row count
        assert len(rows) < rows_full, f"cut={cut} silently decoded all rows"


def test_truncated_fixed64_skip_mode(spark):
    """A payload cut inside a fixed64 AnyValue (double attr) must be droppable
    by on_error='skip', not fail the task (round-5 advice: struct.error)."""
    req = encode_export_request(
        [{"resource": {}, "scope_name": "s",
          "spans": [{"trace_id": "ab" * 16, "span_id": "cd" * 8,
                     "name": "n", "kind": 1, "attrs": {"weight": 0.5}}]}]
    )
    # cut 4 bytes into the trailing 8-byte double payload
    bad = req[:-4]
    with pytest.raises(ValueError):
        decode_export_request(bad)
    good = encode_export_request(
        [{"resource": {}, "scope_name": "s",
          "spans": [{"trace_id": "ee" * 16, "span_id": "ff" * 8,
                     "name": "ok", "kind": 1, "attrs": {}}]}]
    )
    pdf = spark.createDataFrame([(bad,), (good,)], "payload binary")
    out = spans_from_otlp_proto(pdf, on_error="skip").collect()
    assert [r["name"] for r in out] == ["ok"]
    with pytest.raises(Exception):
        spans_from_otlp_proto(pdf, on_error="fail").collect()


def test_read_otlp_proto_files_and_cascade(spark, tmp_path):
    """Files -> binaryFile source -> decode -> the FULL rule cascade: the
    protobuf receiver feeds the same engine as every other source."""
    from otel_semconvprocessor_spark.config import reference_config
    from otel_semconvprocessor_spark.operators.rules import apply_rules
    from otel_semconvprocessor_spark.sources.otlp_proto import read_otlp_proto_files

    d = tmp_path / "proto"
    d.mkdir()
    for i in range(4):
        req = encode_export_request(
            [
                {
                    "resource": {"service.name": f"svc{i}"},
                    "scope_name": "files",
                    "spans": [
                        {
                            "trace_id": f"{i:032x}",
                            "span_id": f"{i:016x}",
                            "name": f"raw-{i}",
                            "kind": 2,  # server
                            "attrs": {"http.request.method": "GET", "http.route": "/api/cart"},
                        }
                    ],
                }
            ]
        )
        (d / f"req-{i}.bin").write_bytes(req)

    spans = read_otlp_proto_files(spark, str(d))
    out = apply_rules(spans, reference_config())
    rows = {r["trace_id"]: r for r in out.collect()}
    assert len(rows) == 4
    for r in rows.values():
        assert r["rule_id"] == "http_server_routes"
        assert r["name"] == "GET /api/cart"
        assert r["operation_type"] == "http"


def test_malformed_payload_skip_and_fail(spark):
    good = encode_export_request(
        [{"resource": {}, "scope_name": "s",
          "spans": [{"trace_id": "aa" * 16, "span_id": "bb" * 8,
                     "name": "ok", "kind": 1, "attrs": {}}]}]
    )
    bad = b"\xff\xfe\x07not protobuf at all"
    pdf = spark.createDataFrame([(good,), (bad,)], "payload binary")
    rows = spans_from_otlp_proto(pdf, on_error="skip").collect()
    assert [r["name"] for r in rows] == ["ok"]
    with pytest.raises(Exception):
        spans_from_otlp_proto(pdf, on_error="fail").collect()
    with pytest.raises(ValueError):
        spans_from_otlp_proto(pdf, on_error="quarantine")


def test_streaming_proto_matches_batch(spark, tmp_path):
    """availableNow drain of the streaming proto source == the batch reader
    on the same files."""
    from otel_semconvprocessor_spark.sources.otlp_proto import (
        read_otlp_proto_files,
        read_otlp_proto_stream,
    )

    d = tmp_path / "stream-in"
    d.mkdir()
    for i in range(3):
        (d / f"r{i}.bin").write_bytes(
            encode_export_request(
                [{"resource": {"service.name": f"s{i}"}, "scope_name": "st",
                  "spans": [{"trace_id": f"{i:032x}", "span_id": f"{i:016x}",
                             "name": f"n{i}", "kind": 2,
                             "attrs": {"http.method": "GET"}}]}]
            )
        )
    out = str(tmp_path / "stream-out")
    q = (
        read_otlp_proto_stream(spark, str(d))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(repr(sorted(r.asDict(True).items(), key=str))
                 for r in spark.read.parquet(out).collect())
    want = sorted(repr(sorted(r.asDict(True).items(), key=str))
                  for r in read_otlp_proto_files(spark, str(d)).collect())
    assert got == want and len(got) == 3


# ---------------------------------------------------------------------------
# metrics / logs signal passthrough (S8 wire-shape parity, round 5)
# ---------------------------------------------------------------------------


def test_metrics_request_round_trip():
    from otel_semconvprocessor_spark.sources.otlp_proto import (
        decode_metrics_request,
        encode_metrics_request,
    )

    req = encode_metrics_request(
        [
            {
                "resource": {"service.name": "svc"},
                "scope_name": "meter",
                "metrics": [
                    {"name": "latency", "unit": "ms", "type": "histogram", "points": 3},
                    {"name": "requests", "unit": "1", "type": "sum", "points": 2},
                    {"name": "temp", "type": "gauge", "points": 1},
                ],
            }
        ]
    )
    rows = decode_metrics_request(req)
    assert [(r["metric_name"], r["metric_type"], r["unit"], r["data_points"]) for r in rows] == [
        ("latency", "histogram", "ms", 3),
        ("requests", "sum", "1", 2),
        ("temp", "gauge", "", 1),
    ]
    assert all(r["resource"] == {"service.name": "svc"} for r in rows)
    assert all(r["scope_name"] == "meter" for r in rows)


def test_logs_request_round_trip():
    from otel_semconvprocessor_spark.sources.otlp_proto import (
        decode_logs_request,
        encode_logs_request,
    )

    req = encode_logs_request(
        [
            {
                "resource": {"host.name": "h1"},
                "scope_name": "logger",
                "records": [
                    {"severity_number": 17, "severity_text": "ERROR",
                     "body": "boom", "attrs": {"code": 500, "retry": True}},
                    {"severity_number": 9, "severity_text": "INFO", "body": "ok"},
                ],
            }
        ]
    )
    rows = decode_logs_request(req)
    assert [(r["severity_number"], r["severity_text"], r["body"], r["n_attrs"]) for r in rows] == [
        (17, "ERROR", "boom", 2),
        (9, "INFO", "ok", 0),
    ]
    assert rows[0]["resource"] == {"host.name": "h1"}


def test_signals_spark_operator_and_truncation(spark):
    from otel_semconvprocessor_spark.sources.otlp_proto import (
        encode_logs_request,
        encode_metrics_request,
        signals_from_otlp_proto,
    )

    mreq = encode_metrics_request(
        [{"resource": {}, "scope_name": "s",
          "metrics": [{"name": "m1", "type": "gauge", "points": 2}]}]
    )
    mdf = spark.createDataFrame([(mreq,), (mreq[:-3],)], "payload binary")
    out = signals_from_otlp_proto(mdf, "metrics", on_error="skip").collect()
    assert len(out) == 1 and out[0]["data_points"] == 2
    with pytest.raises(Exception):
        signals_from_otlp_proto(mdf, "metrics", on_error="fail").collect()

    lreq = encode_logs_request(
        [{"resource": {}, "scope_name": "s",
          "records": [{"severity_number": 13, "severity_text": "WARN", "body": "w"}]}]
    )
    ldf = spark.createDataFrame([(lreq,)], "payload binary")
    lrows = signals_from_otlp_proto(ldf, "logs").collect()
    assert lrows[0]["severity_number"] == 13 and lrows[0]["body"] == "w"

    with pytest.raises(ValueError):
        signals_from_otlp_proto(ldf, "traces")


@pytest.mark.parametrize("signal", list(SIGNALS))
def test_envelope_groups(signal):
    """Two Resource fields merge (the later key wins, wherever the field sits
    in the group); each ScopeX group names its items with its last
    InstrumentationScope name; groups with no items yield no rows; and a
    group's resource does not leak into the next group."""
    decode, item, fields = SIGNALS[signal]
    req = (
        p._len_field(1, _resource({"a": "1", "b": "2"}) + _scope_group(["first", "last"], [item])
                     + _resource({"b": "3", "c": 4}) + _scope_group(["s2"], [item, item]))
        + p._len_field(1, _resource({"x": "y"}) + _scope_group(["empty"], []))
        + p._len_field(1, _resource({"x": "y"}))
        + p._len_field(1, _scope_group([], [item]))
    )
    merged = {"a": "1", "b": "3", "c": "4"}
    assert decode(req) == [
        dict(fields, resource=merged, scope_name="last"),
        dict(fields, resource=merged, scope_name="s2"),
        dict(fields, resource=merged, scope_name="s2"),
        dict(fields, resource={}, scope_name=""),
    ]


@pytest.mark.parametrize("signal", list(SIGNALS))
def test_decoders_pickle_by_value(signal, tmp_path):
    """The module registers itself for by-value pickling so executors never
    import the package: each public decoder, cloudpickled with a payload,
    loads and runs in a fresh interpreter that cannot import the package and
    returns the in-process rows."""
    import os
    import pickle
    import subprocess
    import sys

    from pyspark import cloudpickle

    decode, item, _ = SIGNALS[signal]
    payload = p._len_field(1, _resource({"service.name": "cart"}) + _scope_group(["lib"], [item, item]))
    code = (
        "import importlib.util, pickle, sys\n"
        "assert importlib.util.find_spec('otel_semconvprocessor_spark') is None\n"
        "decode, payload = pickle.loads(sys.stdin.buffer.read())\n"
        "sys.stdout.buffer.write(pickle.dumps(decode(payload)))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], input=cloudpickle.dumps((decode, payload)),
        cwd=tmp_path, env=env, capture_output=True,
    )
    assert out.returncode == 0, out.stderr.decode()
    assert pickle.loads(out.stdout) == decode(payload)
