"""Deterministic synthetic Common-Crawl-style pages table.

Produces the exact input shape from BASELINE.json input_hint:

    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Every column derives from ``xxhash64(id, salt)`` — fully Spark-native
(``spark.range`` + Column expressions, zero driver loops, zero rand()), so
generation is deterministic regardless of partitioning and scales linearly:
the same code generates 2k rows for pytest and 10^12 rows on a cluster.

The embedded telemetry mirrors the reference benchmark fixture
(/root/reference/benchmark/otel-demo.log: 4154 spans, kinds
{internal:777, server:1692, client:1616, producer:17, consumer:52}) and the
rule-hit distribution in /root/reference/BENCHMARK.md:62-73.  Text embeds
``key: value`` lines that the parse stage greps back out; the per-row
invariant is that extraction is byte-identical per url across runs and
parallelism levels.

Family mix (per-mille of rows):
  http_server_route 70, http_server_method 220, grpc_server 110,
  http_path 30, graphql 20, http_client_method 100, http_client_template 20,
  http_client_url 30, db_query 65, db_operation 20, faas 10,
  msg_with_op 15, msg_producer 5, msg_consumer 5, msg_system 10,
  internal_op 150, preset_opname 20 (skip-guard), preset_optype 10,
  unmatched 90.

Note: in the reference config ``http_client_requests`` (priority 150) is
shadowed by ``http_client_method_only`` (priority 145, fires whenever
url.template is nil) — client spans carrying http.url still resolve to the
method-only rule, faithfully reproducing the reference cascade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["generate_pages", "FAMILIES", "PAGES_SCHEMA"]

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

# (family, per-mille weight, span kind)
FAMILIES = [
    ("http_server_route", 70, "server"),
    ("http_server_method", 220, "server"),
    ("grpc_server", 110, "server"),
    ("http_path", 30, "internal"),
    ("graphql", 20, "server"),
    ("http_client_method", 100, "client"),
    ("http_client_template", 20, "client"),
    ("http_client_url", 30, "client"),
    ("db_query", 65, "client"),
    ("db_operation", 20, "client"),
    ("faas", 10, "internal"),
    ("msg_with_op", 15, "producer"),
    ("msg_producer", 5, "producer"),
    ("msg_consumer", 5, "consumer"),
    ("msg_system", 10, "producer"),
    ("internal_op", 150, "internal"),
    ("preset_opname", 20, "server"),
    ("preset_optype", 10, "server"),
    ("unmatched", 90, "internal"),
]
assert sum(w for _, w, _ in FAMILIES) == 1000

_METHODS = ["GET", "POST", "PUT", "DELETE"]
_ROUTES = ["/api/users/{userId}", "/api/orders/{orderId}/items", "/products/{id}", "/api/cart", "/health"]
_TEMPLATES = ["/api/products/{productId}", "/api/recommendations/{userId}"]
_RPC = [
    ("oteldemo.CartService", "GetCart"),
    ("oteldemo.CartService", "AddItem"),
    ("oteldemo.ProductCatalogService", "ListProducts"),
    ("oteldemo.ProductCatalogService", "GetProduct"),
    ("oteldemo.CurrencyService", "Convert"),
    ("oteldemo.CheckoutService", "PlaceOrder"),
]
_DB_SYSTEMS = ["mysql", "postgresql", "redis", "mongodb"]
_COLLECTIONS = ["users", "orders", "products", "sessions"]
_DB_OPS = ["findOne", "insertMany", "HGET", "SETEX"]
_DESTINATIONS = ["orders", "payments", "emails"]
_INTERNAL_OPS = ["cache.refresh", "task.schedule", "batch.process", "queue.drain", "config.reload"]
_GQL = [("query", "GetProduct"), ("query", "ListCart"), ("mutation", "AddToCart")]
_LANGS = [("en", 60), ("de", 15), ("fr", 10), ("es", 10), ("zh", 5)]
_SERVERS = ["nginx/1.25.3", "Apache/2.4.58", "envoy/1.29.0"]
_FILLER = [
    "The quick brown fox jumps over the lazy dog.",
    "Lorem ipsum dolor sit amet, consectetur adipiscing elit.",
    "Web pages at crawl scale carry heterogeneous embedded telemetry.",
]


def _h(salt: int) -> Column:
    """Deterministic 64-bit hash stream per row, keyed by salt."""
    return F.xxhash64(F.col("id"), F.lit(salt))


def _bucket(salt: int, n: int) -> Column:
    return F.pmod(_h(salt), F.lit(n))


def _pick(salt: int, options: list[str]) -> Column:
    """Uniform deterministic choice from a literal list."""
    b = _bucket(salt, len(options))
    expr = F.lit(options[-1])
    for i, opt in enumerate(options[:-1]):
        expr = F.when(b == i, F.lit(opt)).otherwise(expr)
    return expr


def _pick_weighted(salt: int, options: list[tuple[str, int]]) -> Column:
    total = sum(w for _, w in options)
    b = _bucket(salt, total)
    expr = F.lit(options[-1][0])
    acc = 0
    for opt, w in options[:-1]:
        expr = F.when((b >= acc) & (b < acc + w), F.lit(opt)).otherwise(expr)
        acc += w
    return expr


def _attr_entry(key: str, value: Column) -> Column:
    return F.struct(F.lit(key).alias("key"), value.alias("value"))


def generate_pages(
    spark: SparkSession,
    n_rows: int,
    *,
    seed: int = 42,
    n_partitions: int | None = None,
    with_expected: bool = False,
) -> DataFrame:
    """Build the pages DataFrame. With ``with_expected=True`` the frame also
    carries the ground-truth ``expected_*`` columns the extractor must
    recover — used by parity tests, dropped for the production shape."""
    df = spark.range(0, n_rows, numPartitions=n_partitions)
    # fold the seed into the row id stream once so different seeds give
    # disjoint corpora
    df = df.withColumn("id", F.xxhash64(F.col("id"), F.lit(seed)))

    fam = _pick_weighted(1, [(name, w) for name, w, _ in FAMILIES])
    kind = F.lit(FAMILIES[-1][2])
    for name, _, k in FAMILIES[:-1]:
        kind = F.when(fam == name, F.lit(k)).otherwise(kind)

    method = _pick(2, _METHODS)
    route = _pick(3, _ROUTES)
    template = _pick(4, _TEMPLATES)
    user_id = F.abs(_bucket(5, 100000))
    md5_full = F.md5(F.concat(F.lit("p"), F.col("id").cast("string")))
    uuid = F.concat_ws(
        "-",
        F.substring(md5_full, 1, 8),
        F.substring(md5_full, 9, 4),
        F.substring(md5_full, 13, 4),
        F.substring(md5_full, 17, 4),
        F.substring(md5_full, 21, 12),
    )
    mongo_hex = F.substring(md5_full, 1, 24)

    # raw path variants: numeric / uuid / mongo-hex / query-string / static —
    # the NormalizePath golden families (processor_test.go:398-431)
    path_kind = _bucket(6, 5)
    raw_path = (
        F.when(path_kind == 0, F.concat(F.lit("/users/"), user_id, F.lit("/profile")))
        .when(path_kind == 1, F.concat(F.lit("/api/orders/"), uuid))
        .when(path_kind == 2, F.concat(F.lit("/objects/"), mongo_hex))
        .when(path_kind == 3, F.concat(F.lit("/search?q=test"), F.pmod(user_id, F.lit(50)), F.lit("&limit=10")))
        .otherwise(F.lit("/api/v2/data"))
    )

    svc_idx = _bucket(7, len(_RPC))
    rpc_service = F.lit(_RPC[-1][0])
    rpc_method = F.lit(_RPC[-1][1])
    for i, (svc, mth) in enumerate(_RPC[:-1]):
        rpc_service = F.when(svc_idx == i, F.lit(svc)).otherwise(rpc_service)
        rpc_method = F.when(svc_idx == i, F.lit(mth)).otherwise(rpc_method)

    table = _pick(8, _COLLECTIONS)
    sql_kind = _bucket(9, 6)
    sql_stmt = (
        F.when(sql_kind == 0, F.concat(F.lit("SELECT * FROM "), table, F.lit(" WHERE id = "), user_id))
        .when(sql_kind == 1, F.concat(F.lit("INSERT INTO "), table, F.lit(" (name, price) VALUES (?, ?)")))
        .when(sql_kind == 2, F.concat(F.lit("UPDATE "), table, F.lit(" SET email = ? WHERE id = "), user_id))
        .when(sql_kind == 3, F.concat(F.lit("DELETE FROM "), table, F.lit(" WHERE created_at < ?")))
        .when(sql_kind == 4, F.concat(F.lit("SELECT u.name FROM `schema`.`"), table, F.lit("` u JOIN orders o ON u.id = o.user_id")))
        .otherwise(F.lit("TRUNCATE TABLE sessions"))
    )
    db_system = _pick(10, _DB_SYSTEMS)
    db_op = _pick(11, _DB_OPS)
    destination = _pick(12, _DESTINATIONS)
    internal_op = _pick(13, _INTERNAL_OPS)
    gql_idx = _bucket(14, len(_GQL))
    gql_type = F.lit(_GQL[-1][0])
    gql_name = F.lit(_GQL[-1][1])
    for i, (t, n) in enumerate(_GQL[:-1]):
        gql_type = F.when(gql_idx == i, F.lit(t)).otherwise(gql_type)
        gql_name = F.when(gql_idx == i, F.lit(n)).otherwise(gql_name)

    # old vs new semconv naming, keyed by schema_url — drives the semconv
    # mappings and schema_url-versioned rules (BASELINE.json north_star)
    new_conv = _bucket(15, 2) == 0
    schema_url = F.when(new_conv, F.lit("1.26.0")).otherwise(F.lit("1.21.0"))
    method_key_new = F.when(new_conv, method)  # http.request.method
    method_key_old = F.when(~new_conv, method)  # http.method

    is_http_like = fam.isin(
        "http_server_route", "http_server_method", "http_path",
        "http_client_method", "http_client_template", "http_client_url",
        "preset_opname", "preset_optype",
    )

    def only(families: str | list[str], col: Column) -> Column:
        fams = [families] if isinstance(families, str) else families
        return F.when(fam.isin(*fams), col)

    attr_entries = [
        _attr_entry("http.request.method", F.when(is_http_like, method_key_new)),
        _attr_entry("http.method", F.when(is_http_like, method_key_old)),
        _attr_entry("http.route", only("http_server_route", route)),
        _attr_entry("url.path", only("http_path", raw_path)),
        _attr_entry("url.template", only("http_client_template", template)),
        _attr_entry("http.url", only("http_client_url", F.concat(F.lit("https://api.example.com"), raw_path))),
        _attr_entry("http.status_code", F.when(is_http_like, _pick(16, ["200", "200", "200", "404", "500"]))),
        _attr_entry("rpc.system", only(["grpc_server"], F.lit("grpc"))),
        _attr_entry("rpc.service", only(["grpc_server"], rpc_service)),
        _attr_entry("rpc.method", only(["grpc_server"], rpc_method)),
        _attr_entry("db.statement", only("db_query", sql_stmt)),
        # db.system present for db_query; for db_operation only half the rows
        # carry it, exercising the type-expr-error-still-applies path
        # (processor.go:256-262)
        _attr_entry("db.system", F.when(fam == "db_query", db_system).when((fam == "db_operation") & (_bucket(17, 2) == 0), db_system)),
        _attr_entry("db.operation", only("db_operation", db_op)),
        _attr_entry("db.collection.name", only("db_operation", table)),
        _attr_entry("faas.document.collection", only("faas", table)),
        _attr_entry("faas.document.operation", only("faas", _pick(18, ["insert", "edit", "delete"]))),
        _attr_entry("messaging.operation.type", only("msg_with_op", _pick(19, ["publish", "receive", "process"]))),
        _attr_entry("messaging.operation", F.when(fam == "msg_producer", F.lit("publish")).when(fam == "msg_consumer", F.lit("process"))),
        _attr_entry("messaging.system", only("msg_system", _pick(20, ["kafka", "rabbitmq"]))),
        _attr_entry("messaging.destination.name", only(["msg_with_op", "msg_producer", "msg_consumer", "msg_system"], destination)),
        _attr_entry("graphql.operation.type", only("graphql", gql_type)),
        _attr_entry("graphql.operation.name", only("graphql", gql_name)),
        _attr_entry("internal.operation", only("internal_op", internal_op)),
        _attr_entry("operation.name", only("preset_opname", F.lit("preset.operation"))),
        _attr_entry("operation.type", only("preset_optype", F.lit("preset-type"))),
        _attr_entry("schema.url", schema_url),
    ]
    attrs = F.map_from_entries(
        F.filter(F.array(*attr_entries), lambda e: e["value"].isNotNull())
    )

    # original span name analogue: raw, high-cardinality
    name = (
        F.when(fam.isin("http_server_route", "http_server_method", "http_client_method",
                        "http_client_template", "http_client_url", "http_path",
                        "preset_opname", "preset_optype"),
               F.concat(method, F.lit(" "), raw_path))
        .when(fam == "grpc_server", F.concat(rpc_service, F.lit("/"), rpc_method))
        .when(fam == "db_query", F.concat(F.upper(F.split(sql_stmt, " ")[0]), F.lit(" "), table))
        .when(fam == "db_operation", F.concat(db_op, F.lit(" "), table))
        .when(fam == "faas", F.concat(table, F.lit(" trigger")))
        .when(fam.isin("msg_with_op", "msg_producer", "msg_consumer", "msg_system"),
              F.concat(destination, F.lit(" "), _pick(21, ["send", "receive"])))
        .when(fam == "graphql", F.concat(gql_type, F.lit(" "), gql_name))
        .when(fam == "internal_op", internal_op)
        .otherwise(F.concat(F.lit("task-"), F.abs(_bucket(22, 1000))))
    )

    domain = _pick_weighted(23, [
        ("www.hot-domain.com", 500),
        ("shop.example.org", 150),
        ("api.example.net", 100),
        ("blog.sample.io", 50),
    ] + [(f"site-{i}.example.dev", 10) for i in range(20)])
    url = F.concat(
        F.lit("https://"), domain, raw_path,
        F.lit("#"), F.conv(F.abs(F.col("id")).cast("string"), 10, 16),
    )

    lang = _pick_weighted(24, _LANGS)
    # >= 3 distinct days for the warc_day partitioning (FIXTURES.md §1)
    warc_ts = F.timestamp_seconds(F.lit(1767225600) + F.abs(_bucket(25, 4 * 86400)))

    attr_lines = F.array_join(
        F.transform(
            F.map_entries(attrs),
            lambda e: F.concat(e["key"], F.lit(": "), e["value"]),
        ),
        "\n",
    )
    filler = _pick(26, _FILLER)
    text = F.concat_ws(
        "\n",
        F.concat(F.lit("span.name: "), name),
        F.concat(F.lit("span.kind: "), kind),
        attr_lines,
        filler,
    )

    server_token = _pick(27, _SERVERS)
    traceparent = F.concat(
        F.lit("00-"), md5_full, F.lit("-"), F.substring(md5_full, 3, 16), F.lit("-01")
    )
    html = F.encode(
        F.concat(
            F.lit("<html><head><title>page</title></head><body><pre>\n"),
            F.lit("Server: "), server_token, F.lit("\n"),
            F.lit("traceparent: "), traceparent, F.lit("\n"),
            F.lit("</pre><main>\n"), text, F.lit("\n</main></body></html>"),
        ),
        "UTF-8",
    )

    cols = {
        "url": url,
        "warc_ts": warc_ts,
        "html": html,
        "text": text,
        "lang": lang,
    }
    if with_expected:
        cols.update(
            {
                "expected_family": fam,
                "expected_name": name,
                "expected_kind": kind,
                "expected_attrs": attrs,
                "expected_server": server_token,
                "expected_traceparent": traceparent,
                "expected_domain": domain,
            }
        )
    return df.select([v.alias(k) for k, v in cols.items()])
