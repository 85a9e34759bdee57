"""End-to-end pipeline tests: routed-row equality, per-sink aggregate counts
vs a pure-Python reference-faithful oracle, metrics parity, and
checkpoint/resume idempotence."""

import re

import pytest
from pyspark.sql import functions as F

from otel_semconvprocessor_spark.config import reference_config, reference_rules
from otel_semconvprocessor_spark.plans.checkpoint import (
    SimulatedCrash,
    read_all_output,
    run_with_checkpoints,
)
from otel_semconvprocessor_spark.plans.pipeline import build_normalized, run_pipeline
from otel_semconvprocessor_spark.sources.pages import generate_pages

N = 500


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, N).cache()


# ---------------------------------------------------------------------------
# A row-at-a-time pure-Python oracle that follows processor.go literally.
# Independent of every Spark expression above — catches systematic errors that
# a Spark-vs-Spark comparison would miss (SURVEY.md §5).
# ---------------------------------------------------------------------------

_UUID = re.compile(r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}")
_HEX = re.compile(r"/[0-9a-fA-F]{16,}(/|$)")
_NUM = re.compile(r"/\d+(/|$)")
_SEL = re.compile(r"(?i)^\s*SELECT\s+.*?\s+FROM\s+([^\s]+)")
_INS = re.compile(r"(?i)^\s*INSERT\s+INTO\s+(\S+)")
_UPD = re.compile(r"(?i)^\s*UPDATE\s+(\S+)")
_DEL = re.compile(r"(?i)^\s*DELETE\s+FROM\s+(\S+)")


def _py_normalize_path(p):
    p = p.split("?", 1)[0]
    p = _UUID.sub("{id}", p)
    p = _HEX.sub(r"/{id}\1", p)
    p = _NUM.sub(r"/{id}\1", p)
    return p


def _py_clean_table(t):
    t = t.strip("`\"'[]")
    parts = t.split(".")
    if len(parts) > 1:
        t = parts[-1].strip("`\"'[]")
    return t


def _py_parse_sql(s):
    s = s.strip()
    for rx, op in ((_SEL, "SELECT"), (_INS, "INSERT"), (_UPD, "UPDATE"), (_DEL, "DELETE")):
        m = rx.match(s)
        if m:
            return f"{op} {_py_clean_table(m.group(1))}"
    parts = s.split()
    return parts[0].upper() if parts else "UNKNOWN"


def _py_eval_rule(rule_id, a, kind):
    """Evaluate one reference rule; returns (op_name, op_type) or None.
    Mirrors config.yaml:56-195 / processor.go:214-323 literally."""
    fnn = lambda *ks: next((a[k] for k in ks if k in a), None)  # noqa: E731

    def cat(parts, sep):
        return sep.join("" if p is None else p for p in parts)

    m = fnn("http.request.method", "http.method")
    if rule_id == "http_server_routes":
        if kind == "server" and m is not None and "http.route" in a:
            return cat([m, a["http.route"]], " "), "http"
    elif rule_id == "http_server_method_only":
        if kind == "server" and m is not None and "http.route" not in a:
            return cat(["HTTP", m], " "), "http"
    elif rule_id == "http_client_template":
        if kind == "client" and m is not None and "url.template" in a:
            return cat([m, a["url.template"]], " "), "http_client"
    elif rule_id == "http_client_method_only":
        if kind == "client" and m is not None and "url.template" not in a:
            return cat(["HTTP", m], " "), "http_client"
    elif rule_id == "http_client_requests":
        if kind == "client" and m is not None and "http.url" in a:
            return cat([m, a["http.url"].split("?", 1)[0]], " "), "http_client"
    elif rule_id == "http_paths":
        if m is not None and "url.path" in a:
            return cat([m, _py_normalize_path(a["url.path"])], " "), "http"
    elif rule_id == "graphql_operations":
        if "graphql.operation.type" in a and "graphql.operation.name" in a:
            return cat([a["graphql.operation.type"], a["graphql.operation.name"]], " "), "graphql"
    elif rule_id == "database_queries":
        if kind == "client" and "db.statement" in a:
            return _py_parse_sql(a["db.statement"]), a.get("db.system")
    elif rule_id == "database_operations":
        if kind == "client" and "db.operation" in a and "db.collection.name" in a:
            return cat([a["db.operation"], a["db.collection.name"]], " "), a.get("db.system")
    elif rule_id == "faas_db_trigger":
        if "faas.document.collection" in a and "faas.document.operation" in a:
            return cat([a["faas.document.collection"], a["faas.document.operation"]], " "), "faas_db_trigger"
    elif rule_id == "grpc_server_operations":
        if kind == "server" and a.get("rpc.system") == "grpc" and "rpc.method" in a:
            return cat([a.get("rpc.service"), a["rpc.method"]], "/"), "grpc"
    elif rule_id == "grpc_client_operations":
        if kind == "client" and a.get("rpc.system") == "grpc" and "rpc.method" in a:
            return cat(["grpc.client", a.get("rpc.service"), a["rpc.method"]], "/"), "grpc_client"
    elif rule_id == "messaging_with_operation":
        if kind in ("producer", "consumer") and "messaging.operation.type" in a and "messaging.destination.name" in a:
            return cat([a["messaging.operation.type"], a["messaging.destination.name"]], " "), "messaging"
    elif rule_id == "messaging_operation_name":
        if kind in ("producer", "consumer") and "messaging.operation.name" in a and "messaging.destination.name" in a:
            return cat([a["messaging.operation.name"], a["messaging.destination.name"]], " "), "messaging"
    elif rule_id == "messaging_producer":
        if kind == "producer" and a.get("messaging.operation") == "publish" and "messaging.destination.name" in a:
            return cat(["publish", a["messaging.destination.name"]], " "), "messaging"
    elif rule_id == "messaging_consumer":
        if kind == "consumer" and a.get("messaging.operation") == "process" and "messaging.destination.name" in a:
            return cat(["process", a["messaging.destination.name"]], " "), "messaging"
    elif rule_id == "messaging_system":
        if kind in ("producer", "consumer") and "messaging.system" in a and "messaging.destination.name" in a:
            return cat([a["messaging.system"], a["messaging.destination.name"]], " "), "messaging"
    elif rule_id == "internal_operations":
        if kind == "internal" and "internal.operation" in a:
            return a["internal.operation"], "internal"
    return None


_ATTR_RE = re.compile(r"^([a-z][a-z0-9._]*): (.*)$", re.MULTILINE)
_RULE_ORDER = [
    "http_server_routes", "http_server_method_only", "http_client_template",
    "http_client_method_only", "http_client_requests", "http_paths",
    "graphql_operations", "database_queries", "database_operations",
    "faas_db_trigger", "grpc_server_operations", "grpc_client_operations",
    "messaging_with_operation", "messaging_operation_name",
    "messaging_producer", "messaging_consumer", "messaging_system",
    "internal_operations",
]


def _py_pipeline(rows, versions=None):
    """Full row-at-a-time oracle over raw page text: extract + cascade.
    ``versions`` maps a rule id to its schema_url; such a rule applies only
    to pages whose ``schema.url`` line names that version."""
    versions = versions or {}
    out = []
    for url, text in rows:
        full = dict(_ATTR_RE.findall(text))
        name = full.pop("span.name", None)
        kind = full.pop("span.kind", "unspecified")
        a = full
        if "operation.name" in a:
            out.append((url, None, None, None, name))  # skip-guarded
            continue
        result = None
        for rid in _RULE_ORDER:
            if versions.get(rid, "") not in ("", a.get("schema.url")):
                continue
            # value-expr error => skip rule: only internal_operations /
            # database_queries can "error" and their conditions preclude it
            r = _py_eval_rule(rid, a, kind)
            if r is not None:
                result = (rid, r[0], r[1])
                break
        if result is None:
            out.append((url, None, None, None, name))
        else:
            rid, op_name, op_type = result
            out.append((url, rid, op_name, op_type, op_name))  # enforce mode
    return out


def test_cascade_matches_pure_python_oracle(spark, pages):
    """Spark cascade output == reference-faithful Python oracle, per url."""
    raw = [(r["url"], r["text"]) for r in pages.select("url", "text").collect()]
    oracle = {u: (rid, op_name, op_type, final_name) for u, rid, op_name, op_type, final_name in _py_pipeline(raw)}

    got = build_normalized(spark, pages, reference_config())
    for r in got.select("url", "rule_id", "operation_name", "operation_type", "name").collect():
        o_rid, o_name, o_type, o_final = oracle[r["url"]]
        assert r["rule_id"] == o_rid, r["url"]
        assert r["operation_name"] == o_name, r["url"]
        assert r["operation_type"] == o_type, r["url"]
        if o_rid is not None:
            assert r["name"] == o_final, r["url"]


def test_run_pipeline_end_to_end(spark, pages, tmp_path):
    res = run_pipeline(spark, pages, str(tmp_path / "out"), run_id="t1")
    assert res.rows == N
    routed = spark.read.parquet(res.sink_path)
    # routed-row equality: disjoint exhaustive sinks
    assert routed.count() == N
    sinks = {r["sink"]: r["row_count"] for r in res.metrics.sink_counts.collect()}
    assert sum(sinks.values()) == N
    assert set(sinks) <= {"sink_http", "sink_grpc", "sink_db", "sink_messaging", "sink_other"}
    # every routed row keeps its url exactly once
    assert routed.select("url").distinct().count() == N

    # partition layout on disk: sink=/warc_day=/lang=
    import os

    top = os.listdir(res.sink_path)
    assert any(d.startswith("sink=") for d in top)
    sink_http_days = os.listdir(f"{res.sink_path}/sink=sink_http")
    assert sum(d.startswith("warc_day=") for d in sink_http_days) >= 3

    # cardinality reduction really happened
    summary = res.metrics.summary.collect()[0]
    assert summary["original_name_count"] > summary["reduced_name_count"] > 0
    assert 0 < summary["reduction_pct"] < 100

    eff: dict = {}
    for r in res.metrics.rule_effectiveness.collect():
        # effectiveness is keyed by (rule_id, operation_type): sum over types
        eff[r["rule_id"]] = eff.get(r["rule_id"], 0) + r["enforced_count"]
    assert sum(eff.values()) == routed.filter(F.col("rule_id").isNotNull()).count()
    # the headline rules from BENCHMARK.md:62-73 all fire
    for rid in ("http_server_method_only", "grpc_server_operations", "database_queries",
                "http_server_routes", "internal_operations"):
        assert eff.get(rid, 0) > 0, rid


def test_run_pipeline_empty_input(spark, pages, tmp_path):
    """No input rows -> partitionBy writes no data files; the metrics stage
    still reads the sink tree (with the written schema) and reports 0."""
    res = run_pipeline(spark, pages.limit(0), str(tmp_path / "empty"), run_id="e")
    assert res.rows == 0
    assert res.metrics.sink_counts.count() == 0


def test_sink_counts_match_python_oracle(spark, pages, tmp_path):
    raw = [(r["url"], r["text"]) for r in pages.select("url", "text").collect()]
    sink_of = {}
    for url, rid, op_name, op_type, _ in _py_pipeline(raw):
        if rid in ("database_queries", "database_operations"):
            sink_of[url] = "sink_db"
        elif op_type in ("http", "http_client"):
            sink_of[url] = "sink_http"
        elif op_type in ("grpc", "grpc_client"):
            sink_of[url] = "sink_grpc"
        elif op_type == "messaging":
            sink_of[url] = "sink_messaging"
        else:
            sink_of[url] = "sink_other"
    expected = {}
    for s in sink_of.values():
        expected[s] = expected.get(s, 0) + 1

    res = run_pipeline(spark, pages, str(tmp_path / "out2"), run_id="t2")
    got = {r["sink"]: r["row_count"] for r in res.metrics.sink_counts.collect()}
    assert got == expected


def _versioned_config(schema_url="1.26.0"):
    cfg = reference_config()
    cfg.span_processing.rules = reference_rules(schema_url=schema_url)
    cfg.validate()
    return cfg


def test_versioned_rules_match_only_their_schema_version(spark, pages):
    """A rule set limited to schema 1.26.0 matches no span of any other
    version, and on 1.26.0 spans matches exactly what the unversioned
    reference rules match."""
    cols = ["url", "schema_url", "rule_id"]
    plain = {r["url"]: r for r in build_normalized(spark, pages, reference_config()).select(*cols).collect()}
    versioned = {r["url"]: r for r in build_normalized(spark, pages, _versioned_config()).select(*cols).collect()}
    assert plain.keys() == versioned.keys()
    new = [u for u, r in versioned.items() if r["schema_url"] == "1.26.0"]
    old = [u for u, r in versioned.items() if r["schema_url"] != "1.26.0"]
    # both groups carry spans the unversioned rules match: the version gate,
    # not the data, is what keeps the old ones unmatched
    assert any(plain[u]["rule_id"] for u in new) and any(plain[u]["rule_id"] for u in old)
    assert all(versioned[u]["rule_id"] is None for u in old)
    assert all(versioned[u]["rule_id"] == plain[u]["rule_id"] for u in new)


# Hand-written pages outside the generator's two versions: each span is
# written once with no schema.url line and once at 1.99.0, a version no rule
# names.  Under _mixed_version_rules the http server and grpc server spans
# match only versioned rules, the others also a wildcard rule.
_HAND_SPANS = [
    "span.name: GET /u/1\nspan.kind: server\nhttp.method: GET\nhttp.route: /u/{id}",
    "span.name: GET /u/2\nspan.kind: server\nhttp.method: GET\nhttp.route: /u/{id}\nurl.path: /u/2",
    "span.name: Cart/Get\nspan.kind: server\nrpc.system: grpc\nrpc.service: Cart\nrpc.method: Get",
    "span.name: q\nspan.kind: client\ndb.statement: SELECT * FROM users\n"
    "db.operation: find\ndb.collection.name: users",
    "span.name: send\nspan.kind: producer\nmessaging.operation: publish\n"
    "messaging.destination.name: orders",
    "span.name: job\nspan.kind: internal\ninternal.operation: rebuild-index",
]


def _hand_pages(spark, schema):
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    rows = []
    for i, span in enumerate(_HAND_SPANS):
        for tag, line in (("nover", ""), ("v199", "\nschema.url: 1.99.0")):
            rows.append((f"https://hand.example/{tag}/{i}", ts, bytearray(b"<html></html>"), span + line, "en"))
    return spark.createDataFrame(rows, schema)


def _mixed_version_rules():
    """Every 3rd reference rule at 1.21.0, the next at 1.26.0, the rest
    wildcard."""
    rules = reference_rules()
    for i, r in enumerate(rules):
        r.schema_url = ("1.21.0", "1.26.0", "")[i % 3]
    return rules


def test_versioned_cascade_matches_pure_python_oracle(spark, pages):
    """Mixed-version rule set vs the oracle with its schema_url gate, per url:
    generated pages (1.21.0 / 1.26.0) plus hand-written pages with no
    schema.url line or an unknown version, which see only wildcard rules."""
    rules = _mixed_version_rules()
    cfg = reference_config()
    cfg.span_processing.rules = rules
    cfg.validate()
    versions = {r.id: r.schema_url for r in rules}
    base = pages.select("url", "warc_ts", "html", "text", "lang")
    allp = base.unionByName(_hand_pages(spark, base.schema))
    raw = [(r["url"], r["text"]) for r in allp.select("url", "text").collect()]
    oracle = {u: (rid, op_name, op_type, final) for u, rid, op_name, op_type, final in _py_pipeline(raw, versions)}
    got = build_normalized(spark, allp, cfg).select("url", "rule_id", "operation_name", "operation_type", "name")
    rows = got.collect()
    assert len(rows) == len(oracle) == N + 2 * len(_HAND_SPANS)
    for r in rows:
        assert (r["rule_id"], r["operation_name"], r["operation_type"]) == oracle[r["url"]][:3], r["url"]
        if oracle[r["url"]][0] is not None:
            assert r["name"] == oracle[r["url"]][3], r["url"]
    # the gate is exercised in both directions on generated pages
    hit = {versions[o[0]] for o in oracle.values() if o[0] is not None}
    assert hit == {"1.21.0", "1.26.0", ""}
    # hand pages: wildcard rules only, and the gate (not the data) leaves
    # the versioned-only spans unmatched
    hand = {r["url"]: r["rule_id"] for r in rows if r["url"].startswith("https://hand.")}
    assert all(rid is None or versions[rid] == "" for rid in hand.values())
    assert [rid for u, rid in hand.items() if u.endswith(("/0", "/2"))] == [None] * 4
    assert set(hand.values()) == {
        None, "http_paths", "database_operations", "messaging_producer", "internal_operations",
    }


@pytest.fixture(scope="module")
def pages_path(spark, pages, tmp_path_factory):
    """File-backed pages input (the production checkpoint path is chunked by
    input file, so it needs real files — 4 of them)."""
    p = str(tmp_path_factory.mktemp("ckpt-in") / "pages")
    pages.repartition(4).write.mode("overwrite").parquet(p)
    return p


def test_versioned_rules_through_run_pipeline_and_checkpoints(spark, pages, pages_path, tmp_path):
    """Both batch entry points honour schema_url: the sink rows matched by
    a 1.26.0-only rule set are exactly the 1.26.0 spans the unversioned
    rules match, with the same rule ids."""
    expected = {
        r["url"]: r["rule_id"]
        for r in build_normalized(spark, pages, reference_config())
        .filter((F.col("schema_url") == "1.26.0") & F.col("rule_id").isNotNull())
        .collect()
    }
    cfg = _versioned_config()
    res = run_pipeline(spark, pages, str(tmp_path / "out"), cfg, run_id="v")
    ckpt = str(tmp_path / "ckpt")
    run_with_checkpoints(spark, pages_path, ckpt, cfg, n_chunks=2, run_id="v")
    for routed in (spark.read.parquet(res.sink_path), read_all_output(spark, ckpt)):
        assert routed.count() == N
        got = {
            r["url"]: r["rule_id"]
            for r in routed.filter(F.col("rule_id").isNotNull()).select("url", "rule_id").collect()
        }
        assert got == expected


def test_checkpoint_resume_no_dup_no_missing(spark, pages_path, tmp_path):
    out = str(tmp_path / "ckpt")
    cfg = reference_config()
    with pytest.raises(SimulatedCrash):
        run_with_checkpoints(spark, pages_path, out, cfg, n_chunks=4, fail_after_chunk=1)
    # partial state: some chunks done
    partial = read_all_output(spark, out).count()
    assert 0 < partial < N
    # resume: finishes only the remaining chunks
    done_second = run_with_checkpoints(spark, pages_path, out, cfg, n_chunks=4, run_id="resume")
    assert len(done_second) == 2
    final = read_all_output(spark, out)
    assert final.count() == N
    assert final.select("url").distinct().count() == N  # no dups, none missing
    # lineage manifest records each chunk's input files
    from otel_semconvprocessor_spark.plans.checkpoint import read_manifest

    manifest = {r["chunk"]: r["files"] for r in read_manifest(spark, out).collect()}
    assert len(manifest) == 4
    assert all(".parquet" in f for f in manifest.values())


def test_checkpoint_resume_scans_only_unfinished_input(spark, pages_path, tmp_path):
    """IO assertion for single-scan resume: after the crash, make the
    COMPLETED chunks' input files unreadable — the resumed run must still
    succeed because it only reads the unfinished chunks' files."""
    import os
    import shutil

    from otel_semconvprocessor_spark.plans.checkpoint import deal_files, read_manifest

    # private copy of the input (we mutate it)
    in_path = str(tmp_path / "pages-in")
    shutil.copytree(pages_path, in_path)
    out = str(tmp_path / "ckpt-io")
    with pytest.raises(SimulatedCrash):
        run_with_checkpoints(spark, in_path, out, n_chunks=4, fail_after_chunk=1)
    chunks = deal_files(spark.read.parquet(in_path).inputFiles(), 4)
    done = {r["chunk"] for r in read_manifest(spark, out).collect()}
    assert done == {0, 1}
    for c in done:
        for f in chunks[c]:
            local = f.replace("file:", "")
            os.rename(local, local + ".hidden")  # completed input gone
    done_second = run_with_checkpoints(spark, in_path, out, n_chunks=4, run_id="resume")
    assert sorted(done_second) == [2, 3]
    assert read_all_output(spark, out).count() == N


def test_checkpoint_rerun_is_noop(spark, pages_path, tmp_path):
    out = str(tmp_path / "ckpt2")
    run_with_checkpoints(spark, pages_path, out, n_chunks=2)
    assert run_with_checkpoints(spark, pages_path, out, n_chunks=2) == []
    assert read_all_output(spark, out).count() == N


def test_deal_files_10k_listing():
    """The pure chunking rule at production listing scale: 10k files into 64
    chunks — every file assigned exactly once, chunks balanced to +-1, and
    the assignment identical regardless of input listing order."""
    from otel_semconvprocessor_spark.plans.checkpoint import deal_files

    files = [f"s3://bucket/warc/part-{i:05d}.parquet" for i in range(10_000)]
    chunks = deal_files(files, 64)
    assert len(chunks) == 64
    sizes = {len(c) for c in chunks}
    assert sizes <= {156, 157}
    flat = [f for c in chunks for f in c]
    assert sorted(flat) == files and len(set(flat)) == len(files)
    import random

    shuffled = files[:]
    random.Random(7).shuffle(shuffled)
    assert deal_files(shuffled, 64) == chunks  # listing-order independent


def test_checkpoint_day_chunking(spark, pages, tmp_path):
    """A warc_day=-partitioned input (lang= under it) needs no chunking rule
    of its own: its files are dealt into n_chunks, crash/resume gives every
    url once, the lineage lists the warc_day= paths, and basePath keeps the
    path-only partition columns (a lost lang would read back null)."""
    from otel_semconvprocessor_spark.plans.checkpoint import read_manifest

    in_path = str(tmp_path / "by-day")
    staged = pages.withColumn("warc_day", F.to_date("warc_ts"))
    staged.write.mode("overwrite").partitionBy("warc_day", "lang").parquet(in_path)
    days = {str(r["warc_day"]) for r in staged.select("warc_day").distinct().collect()}
    assert len(days) >= 3

    out = str(tmp_path / "ckpt-day")
    with pytest.raises(SimulatedCrash):
        run_with_checkpoints(spark, in_path, out, n_chunks=3, fail_after_chunk=0)
    assert run_with_checkpoints(spark, in_path, out, n_chunks=3, run_id="resume") == [1, 2]
    final = read_all_output(spark, out)
    assert final.count() == final.select("url").distinct().count() == N
    lineage = [f for r in read_manifest(spark, out).collect() for f in r["files"].split(";")]
    assert sorted(lineage) == sorted(spark.read.parquet(in_path).inputFiles())
    assert {re.search(r"/warc_day=([^/]+)/", f).group(1) for f in lineage} == days

    def by_url(df):
        return {r["url"]: (str(r["warc_day"]), r["lang"]) for r in df.collect()}

    assert by_url(final) == by_url(staged)


def test_checkpoint_corrupt_plan_raises_not_regenerates(spark, pages_path, tmp_path):
    """A non-path-not-found failure reading _plan must PROPAGATE: silently
    regenerating from the current listing would remap chunk ids already in
    the manifest to different files (dup/missing rows on resume)."""
    import os

    out = str(tmp_path / "ckpt-corrupt")
    with pytest.raises(SimulatedCrash):
        run_with_checkpoints(spark, pages_path, out, n_chunks=4, fail_after_chunk=0)
    # corrupt the persisted plan: parquet dir exists but is unreadable
    plan_dir = f"{out}/_plan"
    for f in os.listdir(plan_dir):
        if f.endswith(".parquet"):
            with open(os.path.join(plan_dir, f), "wb") as fh:
                fh.write(b"not a parquet file")
    with pytest.raises(Exception) as ei:
        run_with_checkpoints(spark, pages_path, out, n_chunks=4, run_id="resume")
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_checkpoint_corrupt_manifest_raises_not_reruns(spark, pages_path, tmp_path):
    """A non-path-not-found failure reading _manifest must PROPAGATE:
    treating it as "no chunks done" would re-run committed chunks and append
    duplicate lineage rows on resume."""
    import os

    out = str(tmp_path / "ckpt-corrupt-manifest")
    with pytest.raises(SimulatedCrash):
        run_with_checkpoints(spark, pages_path, out, n_chunks=4, fail_after_chunk=0)
    man_dir = f"{out}/_manifest"
    for f in os.listdir(man_dir):
        if f.endswith(".parquet"):
            with open(os.path.join(man_dir, f), "wb") as fh:
                fh.write(b"not a parquet file")
        elif f.endswith(".crc"):
            os.remove(os.path.join(man_dir, f))
    with pytest.raises(Exception) as ei:
        run_with_checkpoints(spark, pages_path, out, n_chunks=4, run_id="resume")
    assert not isinstance(ei.value, SimulatedCrash)
    assert sorted(os.listdir(f"{out}/data")) == ["chunk=0"]  # nothing re-ran


def test_checkpoint_rows_equal_batch_rows(spark, pages_path, tmp_path, chunk_codecs):
    """A crashed-and-resumed checkpoint run writes the batch run's sink rows,
    column for column (chunk aside), in the batch layout under a chunk=
    prefix: data/chunk=<i>/sink=/warc_day=/lang=, and both write every
    column chunk with the sink codec."""
    import os

    out = str(tmp_path / "ckpt-vs-batch")
    with pytest.raises(SimulatedCrash):
        run_with_checkpoints(spark, pages_path, out, n_chunks=4, fail_after_chunk=1)
    run_with_checkpoints(spark, pages_path, out, n_chunks=4, run_id="resume")
    res = run_pipeline(spark, spark.read.parquet(pages_path), str(tmp_path / "batch"))

    layout = re.compile(r"chunk=\d+/sink=[^/]+/warc_day=[^/]+/lang=[^/]+$")
    data_dirs = {
        os.path.relpath(d, f"{out}/data")
        for d, _, names in os.walk(f"{out}/data")
        if any(n.endswith(".parquet") for n in names)
    }
    assert data_dirs and all(layout.match(d) for d in data_dirs), sorted(data_dirs)
    assert chunk_codecs(f"{out}/data") == chunk_codecs(res.sink_path) == {"ZSTD"}

    ckpt = read_all_output(spark, out).drop("chunk")
    batch = spark.read.parquet(res.sink_path)
    assert sorted(ckpt.columns) == sorted(batch.columns)

    def by_url(df):
        rows = {}
        for r in df.collect():
            d = r.asDict()
            d["attrs"] = sorted((d["attrs"] or {}).items())
            rows[d["url"]] = d
        return rows

    got, want = by_url(ckpt), by_url(batch)
    assert len(got) == ckpt.count() == N
    assert got == want


def test_checkpoint_legacy_plan_format_rejected(spark, pages_path, tmp_path):
    """A _plan in the pre-r3 shape (one row per chunk, files ';'-joined) is
    not a recognized chunk plan: resume raises before touching any chunk or
    lineage, so the manifest is left exactly as the crashed run wrote it."""
    import os

    out = str(tmp_path / "ckpt-legacy")
    with pytest.raises(SimulatedCrash):
        run_with_checkpoints(spark, pages_path, out, n_chunks=4, fail_after_chunk=1)

    plan = spark.read.parquet(f"{out}/_plan").collect()
    by_chunk = {}
    for r in plan:
        by_chunk.setdefault(r["chunk"], []).append(r["file"])
    legacy = [(c, ";".join(sorted(fs))) for c, fs in by_chunk.items()]
    spark.createDataFrame(legacy, "chunk int, files string").write.mode(
        "overwrite"
    ).parquet(f"{out}/_plan")

    def manifest_state():
        files = sorted(os.listdir(f"{out}/_manifest"))
        rows = sorted(tuple(r) for r in spark.read.parquet(f"{out}/_manifest").collect())
        return files, rows

    before = manifest_state()
    with pytest.raises(ValueError, match="not a recognized chunk-plan format"):
        run_with_checkpoints(spark, pages_path, out, n_chunks=4, run_id="resume")
    assert manifest_state() == before
    assert sorted(os.listdir(f"{out}/data")) == ["chunk=0", "chunk=1"]


def test_checkpoint_resumes_plan_with_label_column(spark, pages_path, tmp_path):
    """A _plan in the earlier ``chunk, file, label`` shape (label "" for
    file chunks) resumes unchanged: only its unfinished chunks run and every
    url lands once, under the persisted plan even when the resume passes
    another n_chunks."""
    out = str(tmp_path / "ckpt-labelled")
    with pytest.raises(SimulatedCrash):
        run_with_checkpoints(spark, pages_path, out, n_chunks=4, fail_after_chunk=1)
    plan = [(r["chunk"], r["file"], "") for r in spark.read.parquet(f"{out}/_plan").collect()]
    spark.createDataFrame(plan, "chunk int, file string, label string").write.mode(
        "overwrite"
    ).parquet(f"{out}/_plan")

    assert run_with_checkpoints(spark, pages_path, out, n_chunks=3, run_id="resume") == [2, 3]
    final = read_all_output(spark, out)
    assert final.count() == final.select("url").distinct().count() == N


def _load_job():
    """``jobs/run_pipeline.py`` as a module (it is a script, not a package)."""
    import importlib.util
    import os

    job_path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs", "run_pipeline.py")
    spec = importlib.util.spec_from_file_location("run_pipeline_job", job_path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def test_job_checkpoint_requires_input(tmp_path, monkeypatch, capsys):
    """``--checkpoint`` without ``--input`` is a usage error, raised before
    any SparkSession starts and before anything is written."""
    import sys

    out = tmp_path / "job-no-input"
    monkeypatch.setattr(sys, "argv", ["run_pipeline.py", "--output", str(out), "--checkpoint"])
    with pytest.raises(SystemExit) as ei:
        _load_job().main()
    assert ei.value.code == 2
    assert "--checkpoint needs --input: checkpoint chunks are input files" in capsys.readouterr().err
    assert not out.exists()


def test_job_checkpoint_reads_input_by_file(spark, pages_path, tmp_path, monkeypatch, capsys):
    """``jobs/run_pipeline.py --checkpoint --input`` chunks by input file:
    the manifest lineage lists every input parquet file once."""
    import json
    import sys

    from pyspark.sql import SparkSession

    from otel_semconvprocessor_spark.plans.checkpoint import read_manifest

    job = _load_job()

    out = str(tmp_path / "job-ckpt")
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(
        sys, "argv",
        ["run_pipeline.py", "--input", pages_path, "--output", out,
         "--checkpoint", "--chunks", "2", "--run-id", "job"],
    )
    job.main()
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["chunks_processed"] == [0, 1]

    lineage = [r["files"] for r in read_manifest(spark, out).collect()]
    assert len(lineage) == 2
    listed = [f for entry in lineage for f in entry.split(";")]
    assert sorted(listed) == sorted(spark.read.parquet(pages_path).inputFiles())
    assert read_all_output(spark, out).count() == N


def test_slim_for_sink_is_lossless(spark):
    """The sink projection (round-5 bandwidth work) must be exactly
    reversible: binary ids hex back to the originals; attr entries are
    dropped ONLY when equal to their materialized column, so presets and
    unusual traceparent flags survive."""
    from otel_semconvprocessor_spark.operators.route import slim_for_sink

    rows = [
        # normal enforced row: all five redundant entries dropped
        (1, "ab" * 16, "cd" * 8,
         {"traceparent": "00-" + "ab" * 16 + "-" + "cd" * 8 + "-01",
          "operation.name": "HTTP GET", "operation.type": "http",
          "name.original": "orig", "schema.url": "1.26.0", "http.server": "nginx"},
         "HTTP GET", "http", "orig", "1.26.0"),
        # preset row: attrs carry values the columns DON'T — all kept
        (2, "ef" * 16, "12" * 8,
         {"traceparent": "00-" + "ef" * 16 + "-" + "12" * 8 + "-00",  # flags differ
          "operation.name": "preset-op", "operation.type": "preset-type"},
         None, None, None, "1.26.0"),
    ]
    df = spark.createDataFrame(
        rows,
        "id long, trace_id string, span_id string, attrs map<string,string>, "
        "operation_name string, operation_type string, name_original string, schema_url string",
    )
    out = {r["id"]: r for r in slim_for_sink(df).collect()}

    r1 = out[1]
    assert bytes(r1["trace_id"]).hex() == "ab" * 16  # binary ids reversible
    assert bytes(r1["span_id"]).hex() == "cd" * 8
    assert set(r1["attrs"]) == {"http.server"}  # redundant entries gone
    # reconstruction: coalesce(attrs[k], column) recovers the original map
    assert r1["operation_name"] == "HTTP GET" and r1["schema_url"] == "1.26.0"

    r2 = out[2]
    assert r2["attrs"]["operation.name"] == "preset-op"  # preset survives
    assert r2["attrs"]["operation.type"] == "preset-type"
    assert r2["attrs"]["traceparent"].endswith("-00")  # unusual flags survive


def test_slim_for_sink_stays_expression_only(spark):
    """The projection must not add shuffles or Python stages."""
    from otel_semconvprocessor_spark.operators.route import slim_for_sink

    df = spark.createDataFrame(
        [("a", "ab" * 16, "cd" * 8, {"k": "v"})],
        "url string, trace_id string, span_id string, attrs map<string,string>",
    )
    plan = slim_for_sink(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
