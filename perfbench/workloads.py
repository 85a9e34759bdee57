"""Benchmark inputs and the reference they are checked against.

Inputs come from the package's own generator.  ``generate_pages`` builds one
pool of pages with its ground-truth columns the first time a checkout runs
the benchmark.  That call costs about a minute on a 4-core VM, most of it
fixed planning cost whatever the row count, so it is not paid on every run.
Each run then draws its workload from the pool with a seeded hash of the url:
the same seed gives the same rows, and different seeds give different ones.

The reference is a row-at-a-time Python oracle over the generator's
ground-truth columns.  It follows processor.go's first-match cascade rule by
rule, the same logic as the pure-Python oracle in tests/test_pipeline.py,
and shares no code with the Spark plans it checks.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from dataclasses import dataclass, field
from pathlib import Path

POOL_ROWS = 200_000
POOL_SEED = 7
PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
TRUTH_COLS = [
    "url", "expected_name", "expected_kind", "expected_attrs",
    "expected_server", "expected_traceparent",
]
INPUT_FILES = 8

# rows: pages drawn from the pool per run
WORKLOADS = {
    "crawl_mix": {
        "rows": 50_000,
        "big_pages": False,
        "why": "generator's reference mix on short pages, the north-star job: every layer does a comparable share",
    },
    "big_pages": {
        "rows": 6_000,
        "big_pages": True,
        "why": "same mix in multi-KB pages with near-miss lines, duplicate keys and invalid UTF-8: 6x the parse-stage CPU per doc, same downstream rows",
    },
}

# Near-miss filler: "Word: value" lines the attribute pattern must NOT match
# (uppercase or spaced keys, Server-/Traceparent-like headers).
_FILLER_LINES = [
    "Content-Type: text/html; charset=utf-8",
    "X-Cache: HIT from edge-cache-07",
    "Server-Timing: total;dur=12.5, db;dur=3",
    "Traceparent: copied from an upstream log, not a header",
    "Note: prices include VAT: 19% where applicable.",
    "see also: the archive of older releases",
    "HTTP.Method: GET appears in the access log excerpt below",
    "Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do eiusmod tempor incididunt.",
    "Ut enim ad minim veniam, quis nostrud exercitation ullamco laboris nisi ut aliquip.",
]
_FILLER_BLOCK = "\n".join(_FILLER_LINES)
_STALE_LINE = "schema.url: 0.0.0"
_BAD_UTF8 = bytes.fromhex("C328FFFE80E282")


def ensure_pool(spark, work: Path) -> Path:
    """Generate the page pool once per checkout; later runs reuse it."""
    from otel_semconvprocessor_spark.sources.pages import generate_pages

    pool = work / f"pool-{POOL_ROWS}-{POOL_SEED}"
    if (pool / "_SUCCESS").exists():
        return pool
    tmp = work / "pool.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate_pages(
        spark, POOL_ROWS, seed=POOL_SEED, with_expected=True, n_partitions=INPUT_FILES
    ).write.parquet(str(tmp))
    shutil.rmtree(pool, ignore_errors=True)
    tmp.rename(pool)
    return pool


def _hash(seed: int, url: str) -> int:
    return int.from_bytes(hashlib.blake2b(f"{seed}:{url}".encode(), digest_size=8).digest(), "little")


def _big_page(text: str, html: bytes, h: int) -> tuple[str, bytes, bool, bool]:
    """Wrap one page's telemetry in a multi-KB body.  About 10% of pages
    repeat ``schema.url`` with a stale value ahead of the real line (the last
    value must win), and about 20% of html bodies end in invalid UTF-8."""
    dup, bad = h % 10 == 0, (h >> 8) % 5 == 0
    body = (_FILLER_BLOCK + "\n") * (3 + (h >> 16) % 6)
    text = "\n".join([body] + ([_STALE_LINE] if dup else []) + [text, body])
    html = html + f"\n<article>\n{body}{body}</article>\n".encode() + (_BAD_UTF8 if bad else b"")
    return text, html, dup, bad


def derive_input(pool: Path, workload: str, seed: int, pages_dir: Path) -> list[dict]:
    """Draw this run's pages from the pool, write them as the pipeline's
    input (``INPUT_FILES`` parquet files, rows sorted by url) and return the
    ground-truth rows.  Plain pyarrow: no Spark job runs before the timed
    calls, so the first run_pipeline call is the JVM's first job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = WORKLOADS[workload]
    table = pq.read_table(str(pool))
    urls = table.column("url").to_pylist()
    # exactly rows pages, so that docs per run does not vary with the seed
    keep = sorted(range(len(urls)), key=lambda i: _hash(seed, urls[i]))[:spec["rows"]]
    table = table.take(keep).sort_by("url")
    n = table.num_rows
    dup, bad = [False] * n, [False] * n
    if spec["big_pages"]:
        texts, htmls = table.column("text").to_pylist(), table.column("html").to_pylist()
        for i, url in enumerate(table.column("url").to_pylist()):
            texts[i], htmls[i], dup[i], bad[i] = _big_page(texts[i], htmls[i], _hash(seed + 1, url))
        table = table.set_column(table.schema.get_field_index("text"), "text", pa.array(texts, pa.string()))
        table = table.set_column(table.schema.get_field_index("html"), "html", pa.array(htmls, pa.binary()))
    # A fresh schema: the pool's Spark row metadata would make Spark read the
    # dropped ground-truth columns back as nulls.  Spark reads micro-second
    # UTC timestamps; the pool holds INT96 nanos.
    columns = {c: table.column(c) for c in PAGE_COLS}
    columns["warc_ts"] = columns["warc_ts"].cast(pa.timestamp("us", tz="UTC"))
    pages = pa.table(columns)
    pages_dir.mkdir(parents=True, exist_ok=True)
    step = -(-n // INPUT_FILES)
    for f in range(INPUT_FILES):
        pq.write_table(pages.slice(f * step, step), str(pages_dir / f"part-{f:05d}.parquet"))
    truth = table.select(TRUTH_COLS).to_pylist()
    for r, d, b in zip(truth, dup, bad):
        r["dup_key"], r["bad_utf8"] = d, b
    return truth


# ---------------------------------------------------------------------------
# Row-at-a-time oracle (processor.go:192-324, config.yaml:56-195)
# ---------------------------------------------------------------------------

_UUID = re.compile(r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}")
_HEX = re.compile(r"/[0-9a-fA-F]{16,}(/|$)")
_NUM = re.compile(r"/\d+(/|$)")
_SQL = [
    (re.compile(r"(?i)^\s*SELECT\s+.*?\s+FROM\s+([^\s]+)"), "SELECT"),
    (re.compile(r"(?i)^\s*INSERT\s+INTO\s+(\S+)"), "INSERT"),
    (re.compile(r"(?i)^\s*UPDATE\s+(\S+)"), "UPDATE"),
    (re.compile(r"(?i)^\s*DELETE\s+FROM\s+(\S+)"), "DELETE"),
]

RULE_ORDER = [
    "http_server_routes", "http_server_method_only", "http_client_template",
    "http_client_method_only", "http_client_requests", "http_paths",
    "graphql_operations", "database_queries", "database_operations",
    "faas_db_trigger", "grpc_server_operations", "grpc_client_operations",
    "messaging_with_operation", "messaging_operation_name",
    "messaging_producer", "messaging_consumer", "messaging_system",
    "internal_operations",
]


def _normalize_path(p):
    p = p.split("?", 1)[0]
    p = _UUID.sub("{id}", p)
    p = _HEX.sub(r"/{id}\1", p)
    return _NUM.sub(r"/{id}\1", p)


def _clean_table(t):
    t = t.strip("`\"'[]")
    parts = t.split(".")
    return parts[-1].strip("`\"'[]") if len(parts) > 1 else t


def _parse_sql(s):
    s = s.strip()
    for rx, op in _SQL:
        m = rx.match(s)
        if m:
            return f"{op} {_clean_table(m.group(1))}"
    parts = s.split()
    return parts[0].upper() if parts else "UNKNOWN"


def _cat(parts, sep):
    return sep.join("" if p is None else p for p in parts)


def _eval_rule(rule_id, a, kind):
    """One reference rule; (operation_name, operation_type) or None."""
    m = a.get("http.request.method", a.get("http.method"))
    dest = a.get("messaging.destination.name")
    if rule_id == "http_server_routes":
        if kind == "server" and m is not None and "http.route" in a:
            return _cat([m, a["http.route"]], " "), "http"
    elif rule_id == "http_server_method_only":
        if kind == "server" and m is not None and "http.route" not in a:
            return _cat(["HTTP", m], " "), "http"
    elif rule_id == "http_client_template":
        if kind == "client" and m is not None and "url.template" in a:
            return _cat([m, a["url.template"]], " "), "http_client"
    elif rule_id == "http_client_method_only":
        if kind == "client" and m is not None and "url.template" not in a:
            return _cat(["HTTP", m], " "), "http_client"
    elif rule_id == "http_client_requests":
        if kind == "client" and m is not None and "http.url" in a:
            return _cat([m, a["http.url"].split("?", 1)[0]], " "), "http_client"
    elif rule_id == "http_paths":
        if m is not None and "url.path" in a:
            return _cat([m, _normalize_path(a["url.path"])], " "), "http"
    elif rule_id == "graphql_operations":
        if "graphql.operation.type" in a and "graphql.operation.name" in a:
            return _cat([a["graphql.operation.type"], a["graphql.operation.name"]], " "), "graphql"
    elif rule_id == "database_queries":
        if kind == "client" and "db.statement" in a:
            return _parse_sql(a["db.statement"]), a.get("db.system")
    elif rule_id == "database_operations":
        if kind == "client" and "db.operation" in a and "db.collection.name" in a:
            return _cat([a["db.operation"], a["db.collection.name"]], " "), a.get("db.system")
    elif rule_id == "faas_db_trigger":
        if "faas.document.collection" in a and "faas.document.operation" in a:
            return (_cat([a["faas.document.collection"], a["faas.document.operation"]], " "),
                    "faas_db_trigger")
    elif rule_id == "grpc_server_operations":
        if kind == "server" and a.get("rpc.system") == "grpc" and "rpc.method" in a:
            return _cat([a.get("rpc.service"), a["rpc.method"]], "/"), "grpc"
    elif rule_id == "grpc_client_operations":
        if kind == "client" and a.get("rpc.system") == "grpc" and "rpc.method" in a:
            return _cat(["grpc.client", a.get("rpc.service"), a["rpc.method"]], "/"), "grpc_client"
    elif rule_id == "messaging_with_operation":
        if kind in ("producer", "consumer") and "messaging.operation.type" in a and dest is not None:
            return _cat([a["messaging.operation.type"], dest], " "), "messaging"
    elif rule_id == "messaging_operation_name":
        if kind in ("producer", "consumer") and "messaging.operation.name" in a and dest is not None:
            return _cat([a["messaging.operation.name"], dest], " "), "messaging"
    elif rule_id == "messaging_producer":
        if kind == "producer" and a.get("messaging.operation") == "publish" and dest is not None:
            return _cat(["publish", dest], " "), "messaging"
    elif rule_id == "messaging_consumer":
        if kind == "consumer" and a.get("messaging.operation") == "process" and dest is not None:
            return _cat(["process", dest], " "), "messaging"
    elif rule_id == "messaging_system":
        if kind in ("producer", "consumer") and "messaging.system" in a and dest is not None:
            return _cat([a["messaging.system"], dest], " "), "messaging"
    elif rule_id == "internal_operations":
        if kind == "internal" and "internal.operation" in a:
            return a["internal.operation"], "internal"
    return None


def _sink(rule_id, op_type):
    if rule_id in ("database_queries", "database_operations"):
        return "sink_db"
    if op_type in ("http", "http_client"):
        return "sink_http"
    if op_type in ("grpc", "grpc_client"):
        return "sink_grpc"
    if op_type == "messaging":
        return "sink_messaging"
    return "sink_other"


def row_hash(url, sink, rule_id, op_name, op_type, name) -> int:
    """Order-independent checksum term of one sink row."""
    key = "\x1f".join("\x00" if v is None else v for v in (url, sink, rule_id, op_name, op_type, name))
    return int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "little")


@dataclass
class Reference:
    docs: int
    sink_counts: dict
    rule_counts: dict
    checksum: int
    truth: dict = field(repr=False)  # url -> truth row
    matched: int = 0
    skip_guarded: int = 0
    predicates: int = 0  # rule predicates tested, summed over docs
    attrs: int = 0  # extracted attrs (incl. html-derived), summed over docs
    dup_key_docs: int = 0
    bad_utf8_docs: int = 0
    mapped_docs: int = 0  # docs whose schema_url has semconv mappings


def build_reference(rows: list[dict], mapped_schema_urls: set[str]) -> Reference:
    ref = Reference(len(rows), {}, {}, 0, {})
    checksum = 0
    for r in rows:
        a = dict(r["expected_attrs"])
        kind, name = r["expected_kind"], r["expected_name"]
        rule_id = op_name = op_type = None
        if "operation.name" in a:
            ref.skip_guarded += 1
        else:
            for pos, rid in enumerate(RULE_ORDER, start=1):
                hit = _eval_rule(rid, a, kind)
                if hit is not None:
                    rule_id, (op_name, op_type) = rid, hit
                    ref.predicates += pos
                    break
            else:
                ref.predicates += len(RULE_ORDER)
        sink = _sink(rule_id, op_type)
        final_name = op_name if rule_id is not None else name
        ref.sink_counts[sink] = ref.sink_counts.get(sink, 0) + 1
        if rule_id is not None:
            ref.matched += 1
            key = (rule_id, op_type or "")
            ref.rule_counts[key] = ref.rule_counts.get(key, 0) + 1
        checksum += row_hash(r["url"], sink, rule_id, op_name, op_type, final_name)
        ref.attrs += len(a) + (r["expected_server"] is not None) + (r["expected_traceparent"] is not None)
        ref.dup_key_docs += bool(r["dup_key"])
        ref.bad_utf8_docs += bool(r["bad_utf8"])
        ref.mapped_docs += a.get("schema.url") in mapped_schema_urls
        ref.truth[r["url"]] = r
    ref.checksum = checksum % (1 << 64)
    return ref


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------

def sink_checksum(sink_dir: Path, partitions=("sink", "warc_day", "lang")) -> tuple[int, int]:
    """(rows, checksum) of a hive-partitioned sink tree, read without Spark."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    part = ds.partitioning(pa.schema([(p, pa.string()) for p in partitions]), flavor="hive")
    cols = ["url", "sink", "rule_id", "operation_name", "operation_type", "name"]
    t = ds.dataset(str(sink_dir), format="parquet", partitioning=part).to_table(columns=cols).to_pydict()
    total = sum(map(row_hash, t["url"], t["sink"], t["rule_id"], t["operation_name"],
                    t["operation_type"], t["name"]))
    return len(t["url"]), total % (1 << 64)


def tree_bytes(path: Path) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping hidden and marker files."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def check_pipeline_output(out_dir: Path, ref: Reference) -> list[str]:
    """Problems with one run_pipeline output; empty when it matches."""
    import pyarrow.parquet as pq

    problems = []
    sinks = {r["sink"]: r["row_count"]
             for r in pq.read_table(str(out_dir / "metrics" / "sink_counts")).to_pylist()}
    if sinks != ref.sink_counts:
        problems.append(f"sink_counts {sinks} != reference {ref.sink_counts}")
    rules: dict = {}
    for r in pq.read_table(str(out_dir / "metrics" / "rule_effectiveness")).to_pylist():
        key = (r["rule_id"], r["operation_type"])
        rules[key] = rules.get(key, 0) + r["enforced_count"]
    if rules != ref.rule_counts:
        diff = {k: (rules.get(k), ref.rule_counts.get(k))
                for k in set(rules) | set(ref.rule_counts) if rules.get(k) != ref.rule_counts.get(k)}
        problems.append(f"rule_effectiveness differs from reference (got, want): {diff}")
    n, checksum = sink_checksum(out_dir / "sinks")
    if (n, checksum) != (ref.docs, ref.checksum):
        problems.append(f"sink rows/checksum ({n}, {checksum:x}) != reference ({ref.docs}, {ref.checksum:x})")
    return problems


def identity_sample(ref: Reference, seed: int, n: int = 120) -> list[str]:
    """Urls for the extraction identity check: a seeded spread of ordinary
    pages plus up to ``n`` duplicate-key and ``n`` invalid-UTF-8 pages."""
    urls = sorted(ref.truth)
    ordinary = sorted(urls, key=lambda u: _hash(seed + 2, u))[:n]
    dup = [u for u in urls if ref.truth[u]["dup_key"]][:n]
    bad = [u for u in urls if ref.truth[u]["bad_utf8"]][:n]
    return sorted(set(ordinary) | set(dup) | set(bad))


def check_extraction(rows, ref: Reference, label: str) -> list[str]:
    """Per-url identity of extracted (name, kind, attrs) with ground truth."""
    problems = []
    for r in rows:
        t = ref.truth[r["url"]]
        want = dict(t["expected_attrs"])
        want.pop("span.name", None)
        want.pop("span.kind", None)
        if t["expected_server"] is not None:
            want["http.server"] = t["expected_server"]
        if t["expected_traceparent"] is not None:
            want["traceparent"] = t["expected_traceparent"]
        got = (r["name"], r["kind"], dict(r["attrs"]))
        if got != (t["expected_name"], t["expected_kind"], want):
            problems.append(f"{label}: {r['url']} extracted {got!r}, expected "
                            f"{(t['expected_name'], t['expected_kind'], want)!r}")
    return problems[:5]
