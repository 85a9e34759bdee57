"""Parse stage: vectorized extraction of telemetry attributes from pages.

Turns the raw pages shape (url, warc_ts, html:binary, text, lang) into the
span-shaped intermediate contract (FIXTURES.md §2):

    + domain:string      parsed from url
    + name:string        original span-name analogue ("span.name" line)
    + kind:string        span kind word ("span.kind" line)
    + attrs:map<string,string>   telemetry attribute lines from text,
                                 plus http.server / traceparent greps from html
    + schema_url:string  semconv schema version ("schema.url" attr)
    + trace_id / span_id derived from the html traceparent

Two interchangeable implementations with identical output (parity-tested):

  * ``extract_pages``        — pandas/Arrow UDF (BASELINE.json north_star
    mandates pandas UDF extraction; regexes compiled once per executor,
    applied per Arrow batch — never per-row Python in the driver plan sense).
  * ``extract_pages_native`` — pure Column expressions (regexp_extract_all +
    map_from_arrays), used as the independent cross-check oracle and as the
    zero-Python fast path.

Extraction contract: a telemetry line is ``^<key>: <value>$`` where key is
``[a-z][a-z0-9._]*``; one line per key per page; html carries ``Server:`` and
``traceparent:`` header lines.  Output is byte-identical per url across runs
and parallelism levels (BASELINE.json per-row invariant; tested in
tests/test_extract.py).

Reference analogue: the OTLP receiver decoding spans from the wire
(config.yaml:2-8); there is no parse stage in the reference processor itself —
this stage is the graft's web-scale ingest surface.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tuning import ensure_jit_codegen

__all__ = ["extract_pages", "extract_pages_native", "EXTRACTED_FIELDS"]

# Java regexes: (?d) UNIX_LINES makes '\n' the only line terminator for ^, $
# and '.', as in Python's re.MULTILINE — without it Java also ends lines at
# '\r', NEL and U+2028, and the twins disagree on CRLF text.
ATTR_LINE_PATTERN = r"(?md)^([a-z][a-z0-9._]*): (.*)$"
SERVER_PATTERN = r"(?md)^Server: (.*)$"
TRACEPARENT_PATTERN = r"(?md)^traceparent: (00-[0-9a-f]{32}-[0-9a-f]{16}-[0-9a-f]{2})$"

EXTRACTED_FIELDS = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
        T.StructField("http_server", T.StringType()),
        T.StructField("traceparent", T.StringType()),
    ]
)

_SPECIAL_KEYS = ("span.name", "span.kind")


def _finish(df: DataFrame, ext: Column) -> Column | DataFrame:
    """Common post-extraction projection shared by both implementations."""
    tp = ext["traceparent"]
    base_attrs = ext["attrs"]
    # fold html-derived attrs into the map; keys can't collide with text keys
    # (Server/traceparent lines are uppercase-key / html-only by contract)
    extra = F.map_from_entries(
        F.filter(
            F.array(
                F.struct(F.lit("http.server").alias("key"), ext["http_server"].alias("value")),
                F.struct(F.lit("traceparent").alias("key"), tp.alias("value")),
            ),
            lambda e: e["value"].isNotNull(),
        )
    )
    empty = F.create_map().cast("map<string,string>")
    attrs = F.map_concat(F.coalesce(base_attrs, empty), extra)
    return df.withColumns(
        {
            "domain": F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1),
            "name": ext["name"],
            "kind": F.coalesce(ext["kind"], F.lit("unspecified")),
            "attrs": attrs,
            "schema_url": F.try_element_at(attrs, F.lit("schema.url")),
            "trace_id": F.substring(tp, 4, 32),
            "span_id": F.substring(tp, 37, 16),
        }
    )


# ---------------------------------------------------------------------------
# Native (pure Column) implementation — the cross-check oracle / fast path.
# ---------------------------------------------------------------------------


def extract_pages_native(df: DataFrame) -> DataFrame:
    ensure_jit_codegen(df.sparkSession)
    text = F.col("text")
    # a binary->string cast never raises: malformed UTF-8 reads as U+FFFD
    # when the regex decodes it, like the pandas twin's decode(errors=
    # "replace"); F.decode raises MALFORMED_CHARACTER_CODING under ANSI
    html_text = F.col("html").cast("string")

    keys = F.regexp_extract_all(text, F.lit(ATTR_LINE_PATTERN), 1)
    vals = F.regexp_extract_all(text, F.lit(ATTR_LINE_PATTERN), 2)
    # Last-wins on duplicate keys, matching the pandas twin's dict(findall):
    # map_from_arrays would raise DUPLICATED_MAP_KEY under the default
    # spark.sql.mapKeyDedupPolicy=EXCEPTION on a malformed page.  Keep an
    # entry only when no LATER entry carries the same key.  That filter is
    # O(k^2) per row through the INTERPRETED higher-order-function path
    # (slice+exists allocate per element), which round-6 profiling measured
    # at 5.2s/1M rows vs 0.36s for the map build alone — so it now runs only
    # on rows that actually carry a duplicate key (lazy CASE branch); the
    # overwhelming no-dup case takes the direct map_from_arrays path.
    # Output-identical: with no duplicates the filter keeps every entry in
    # order, which is exactly map_from_arrays(keys, vals).
    entries = F.arrays_zip(keys.alias("key"), vals.alias("value"))
    deduped = F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + 2, F.size(entries)),
            lambda later: later["key"] == e["key"],
        ),
    )
    full = F.when(
        F.size(keys) == F.size(F.array_distinct(keys)),
        F.map_from_arrays(keys, vals),
    ).otherwise(F.map_from_entries(deduped))

    attrs = F.map_filter(full, lambda k, _: ~k.isin(*_SPECIAL_KEYS))
    server = F.regexp_extract(html_text, SERVER_PATTERN, 1)
    traceparent = F.regexp_extract(html_text, TRACEPARENT_PATTERN, 1)

    ext = F.struct(
        F.try_element_at(full, F.lit("span.name")).alias("name"),
        F.try_element_at(full, F.lit("span.kind")).alias("kind"),
        attrs.alias("attrs"),
        F.when(server != "", server).alias("http_server"),
        F.when(traceparent != "", traceparent).alias("traceparent"),
    )
    return _finish(df.withColumn("__ext", ext), F.col("__ext")).drop("__ext")


# ---------------------------------------------------------------------------
# pandas/Arrow UDF implementation — the north_star-mandated parse stage.
# ---------------------------------------------------------------------------

def _make_extract_udf():
    """Build the pandas UDF as a self-contained closure.

    Deliberately references NO module globals: cloudpickle then serializes the
    function by value, so executor Python workers do not need
    otel_semconvprocessor_spark importable (works without --py-files in local
    runs and from any driver cwd).  ``re.compile`` here is served from the
    stdlib regex cache after the first batch — the compile-once property the
    reference gets at startup (ottl_functions.go:51-53) holds per worker.
    """

    def extract_batch(text_s, html_s):
        import re

        import pandas as pd

        attr_re = re.compile(r"^([a-z][a-z0-9._]*): (.*)$", re.MULTILINE)
        server_re = re.compile(r"^Server: (.*)$", re.MULTILINE)
        tp_re = re.compile(
            r"^traceparent: (00-[0-9a-f]{32}-[0-9a-f]{16}-[0-9a-f]{2})$", re.MULTILINE
        )
        names, kinds, attrs_col, servers, tps = [], [], [], [], []
        html_decoded = html_s.map(lambda b: b.decode("utf-8", "replace") if b is not None else None)
        for text, html in zip(text_s, html_decoded):
            full = dict(attr_re.findall(text)) if text is not None else {}
            names.append(full.pop("span.name", None))
            kinds.append(full.pop("span.kind", None))
            attrs_col.append(full)
            if html is not None:
                m = server_re.search(html)
                servers.append(m.group(1) if m else None)
                m = tp_re.search(html)
                tps.append(m.group(1) if m else None)
            else:
                servers.append(None)
                tps.append(None)
        return pd.DataFrame(
            {
                "name": names,
                "kind": kinds,
                "attrs": attrs_col,
                "http_server": servers,
                "traceparent": tps,
            }
        )

    return F.pandas_udf(extract_batch, returnType=EXTRACTED_FIELDS)


_extract_udf = _make_extract_udf()


def extract_pages(df: DataFrame) -> DataFrame:
    """Parse stage via Arrow-batched pandas UDF (north_star path)."""
    ensure_jit_codegen(df.sparkSession)
    ext = _extract_udf(F.col("text"), F.col("html"))
    return _finish(df.withColumn("__ext", ext), F.col("__ext")).drop("__ext")
