#!/usr/bin/env python3
"""Layered benchmark of the parse -> enrich -> route -> aggregate pipeline.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 1 --trace 0

Run it from the repository root.  It drives the package only through its
public functions and sets no Spark engine conf beyond master, driver memory,
UI off and local dirs.  All its state lives under ``.bench_work/`` in the
working directory.  The first run there also generates the page pool, in a
child process with its own JVM.

``--trace 0`` gives the end-to-end metrics.  Its timed region is the first
``run_pipeline`` call in a fresh JVM at local[4], which is what one
spark-submit job pays.  Warm calls are added only while ``--seconds`` have
not yet passed since that call started.

``--trace 1`` is the separate traced run.  It covers the noop-sink prefixes
of the plan, each labelled with its own Spark job group, and reads the Spark
event log.  It also times the Arrow UDF boundary split, a checkpoint resume,
and the local[1] baseline.

Every ``run_pipeline`` output is checked against a row-at-a-time oracle.
The last line on stdout is one JSON object holding correct, attempted,
failed and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import host  # noqa: E402
import workloads as wl  # noqa: E402
from tracing import EventLog, Tracer, where_time_goes  # noqa: E402

# (name, unit, better)
END_TO_END = [
    ("docs_per_s", "docs/s", "higher"),
    ("setup_s", "s", "lower"),
    ("sink_bytes_per_doc", "B/doc", "lower"),
]

# (name, unit, better, which end-to-end metric it should move, on which workload)
PER_LAYER = [
    ("scan.self_s", "s", "lower", "docs_per_s on big_pages"),
    ("scan.bytes_per_doc", "B/doc", "lower", "docs_per_s on big_pages"),
    ("extract.self_s", "s", "lower", "docs_per_s on big_pages (most) and crawl_mix; pipeline.scaling_eff"),
    ("extract.cpu_ns_per_doc", "ns/doc", "lower", "docs_per_s on big_pages and crawl_mix"),
    ("extract.udf_decode_us_per_doc", "us/doc", "lower", "docs_per_s on big_pages"),
    ("extract.udf_regex_us_per_doc", "us/doc", "lower", "docs_per_s on big_pages and crawl_mix"),
    ("extract.udf_arrow_us_per_doc", "us/doc", "lower", "docs_per_s on big_pages and crawl_mix"),
    ("extract.attrs_per_doc", "count", "higher", "workload property: work per doc for extract and rules"),
    ("extract.dup_key_docs", "count", "lower", "workload property: docs taking the duplicate-key path"),
    ("enrich.self_s", "s", "lower", "docs_per_s on crawl_mix, little on big_pages"),
    ("enrich.cpu_ns_per_doc", "ns/doc", "lower", "docs_per_s on crawl_mix"),
    ("enrich.mapping_rewrite_share", "ratio", "lower", "workload property: docs taking the mapping rewrite"),
    ("rules.self_s", "s", "lower", "docs_per_s on crawl_mix"),
    ("rules.cpu_ns_per_doc", "ns/doc", "lower", "docs_per_s on crawl_mix"),
    ("rules.matched_share", "ratio", "higher", "workload property: rows leaving the cascade early"),
    ("rules.skip_guard_share", "ratio", "higher", "workload property: rows skipping the cascade"),
    ("rules.predicates_per_doc", "count", "lower", "docs_per_s on crawl_mix"),
    ("route.slim_self_s", "s", "lower", "docs_per_s on crawl_mix"),
    ("route.write_self_s", "s", "lower", "docs_per_s on crawl_mix; sink_bytes_per_doc"),
    ("route.shuffle_bytes_per_doc", "B/doc", "lower", "docs_per_s on crawl_mix"),
    ("route.sink_files", "count", "lower", "docs_per_s and sink_bytes_per_doc on all"),
    ("route.task_skew", "ratio", "lower", "pipeline.scaling_eff"),
    ("metrics.self_s", "s", "lower", "docs_per_s and the first call on crawl_mix"),
    ("metrics.jobs", "count", "lower", "docs_per_s on all, most on the first call"),
    ("metrics.bytes_read_per_doc", "B/doc", "lower", "docs_per_s on crawl_mix"),
    ("pipeline.plan_build_s", "s", "lower", "docs_per_s on all, most on the first call"),
    ("pipeline.jobs_per_run", "count", "lower", "docs_per_s on all, most on the first call"),
    ("pipeline.exchanges", "count", "lower", "docs_per_s on all"),
    ("pipeline.python_nodes", "count", "lower", "docs_per_s on all"),
    ("pipeline.warm_docs_per_s", "docs/s", "higher", "docs_per_s on all: steady-state throughput of a long-lived driver"),
    ("pipeline.scaling_eff", "ratio", "higher", "the paper's 0.8 scaling rule (local[1] -> local[4])"),
    ("checkpoint.resume_s", "s", "lower", "resume wall after a crash at the middle chunk"),
    ("checkpoint.chunk_s_p50", "s", "lower", "checkpoint.resume_s"),
    ("checkpoint.chunk_s_p90", "s", "lower", "checkpoint.resume_s"),
    ("checkpoint.overhead_s", "s", "lower", "checkpoint.resume_s"),
    ("checkpoint.skipped_chunks", "count", "higher", "checkpoint.resume_s"),
    ("checkpoint.rework_rows", "count", "lower", "checkpoint.resume_s (expected 0)"),
    ("runtime.peak_rss_mb", "MB", "lower", "memory bill of one job (JVM peak RSS + Python worker PSS)"),
    ("jvm.gc_share", "ratio", "lower", "runtime.peak_rss_mb; docs_per_s on big_pages"),
    ("spill_bytes_per_doc", "B/doc", "lower", "runtime.peak_rss_mb; docs_per_s on big_pages"),
    ("trace.overhead_s", "s", "lower", "none: traced minus untraced run_pipeline wall"),
    ("trace.layer_sum_gap", "ratio", "lower", "none: |sum of layer self times - untraced wall| / untraced wall"),
]

LOCAL_MASTER = "local[4]"
CHECKPOINT_CHUNKS = 2


def check_benchmark_json(path: Path) -> None:
    """Fail fast when BENCHMARK.json and this file disagree on the metrics."""
    if not path.exists():
        return
    spec = json.loads(path.read_text())
    declared = {(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"] + spec["per_layer"]}
    measured = set(END_TO_END) | {(n, u, b) for n, u, b, _ in PER_LAYER}
    if declared != measured:
        raise SystemExit(f"perfbench: BENCHMARK.json metrics differ from run.py: {sorted(declared ^ measured)}")


def start_session(master: str, work: Path, event_dir: Path | None = None):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(master).appName("perfbench")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work / 'tmp'}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(work / "local"))
        .config("spark.eventLog.enabled", str(event_dir is not None).lower())
    )
    if event_dir is not None:
        builder = (builder.config("spark.eventLog.dir", str(event_dir))
                   .config("spark.eventLog.compress", "false"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def register(spark, pages_dir: Path):
    return spark.read.parquet(str(pages_dir))


def restart(spark, master: str, work: Path, pages_dir: Path):
    """Stop the session and set up a new one without an event log, in the
    same JVM; returns (spark, pages, set-up s)."""
    spark.stop()
    t = time.perf_counter()
    spark = start_session(master, work)
    pages = register(spark, pages_dir)
    return spark, pages, time.perf_counter() - t


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


class Runner:
    """Counts attempted and failed operations; a failed run_pipeline call or
    output check is reported and counted, never fatal."""

    def __init__(self, ref: wl.Reference):
        self.ref, self.attempted, self.failed = ref, 0, 0
        self.sink_files, self.sink_bytes = 0, []

    def record(self, label: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"CHECK FAILED {label}: " + "; ".join(problems), file=sys.stderr)

    def pipeline(self, spark, pages, out: Path, run_id: str) -> float | None:
        from otel_semconvprocessor_spark.plans.pipeline import run_pipeline

        t = time.perf_counter()
        try:
            res = run_pipeline(spark, pages, str(out), run_id=run_id)
            wall = time.perf_counter() - t
            problems = wl.check_pipeline_output(out, self.ref)
            if res.rows != self.ref.docs:
                problems.append(f"rows {res.rows} != {self.ref.docs}")
        except Exception:  # counted as a failed run; the benchmark goes on
            traceback.print_exc()
            self.record(run_id, ["raised"])
            return None
        print(f"perfbench: run_pipeline {run_id} {wall:.3f} s", file=sys.stderr)
        self.record(run_id, problems)
        self.sink_files, size = wl.tree_bytes(out / "sinks")
        self.sink_bytes.append(size)
        return wall


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, pages_dir: Path, out: Path) -> None:
    """One untimed run_pipeline call on a single input file: JIT and code
    generation warm up on the same plan shapes at a fraction of the cost."""
    from otel_semconvprocessor_spark.plans.pipeline import run_pipeline

    t = time.perf_counter()
    run_pipeline(spark, spark.read.parquet(str(sorted(pages_dir.glob("*.parquet"))[0])), str(out))
    print(f"perfbench: warm-up {time.perf_counter() - t:.3f} s", file=sys.stderr)


def start_python_workers(pages) -> None:
    """A small extract_pages job over every input file, so that a worker
    starts for each task slot and the timed calls that follow do not pay for
    forking them and importing pandas."""
    from otel_semconvprocessor_spark.operators.extract import extract_pages

    noop(extract_pages(pages.sample(fraction=0.02, seed=0)))


def udf_split(pages_dir: Path, rows_per_batch: int = 2000, batches: int = 2) -> dict:
    """Single-thread calls into extract_pages' pandas UDF function on Arrow
    batches read from the input files: html decode, the regex/dict loop (the
    rest of the function), and conversion of its result to Arrow as the
    worker's serializer does it.  Microseconds per doc."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
    from pyspark.sql.pandas.types import to_arrow_type

    from otel_semconvprocessor_spark.operators import extract

    func = extract._extract_udf.func  # the Python function the UDF wraps
    ser = ArrowStreamPandasUDFSerializer("UTC", False, True, df_for_struct=True)
    arrow_type = to_arrow_type(extract.EXTRACTED_FIELDS)
    decode = udf = arrow = 0.0
    docs = 0
    for f in sorted(pages_dir.glob("*.parquet"))[:batches]:
        batch = pq.read_table(f, columns=["text", "html"]).slice(0, rows_per_batch)
        text_s, html_s = batch.column("text").to_pandas(), batch.column("html").to_pandas()
        t0 = time.perf_counter()
        html_s.map(lambda b: b.decode("utf-8", "replace") if b is not None else None)
        t1 = time.perf_counter()
        result = func(text_s, html_s)
        t2 = time.perf_counter()
        ser._create_batch([(result, arrow_type, extract.EXTRACTED_FIELDS)])
        t3 = time.perf_counter()
        decode, udf, arrow = decode + t1 - t0, udf + t2 - t1, arrow + t3 - t2
        docs += len(text_s)
    us = 1e6 / docs
    return {
        "extract.udf_decode_us_per_doc": decode * us,
        "extract.udf_regex_us_per_doc": (udf - decode) * us,
        "extract.udf_arrow_us_per_doc": arrow * us,
    }


# Extractor inputs outside what the program handles today.  Each is still
# probed on every traced run that has such rows and its outcome printed, but
# it is not one of the benchmark's operations and does not count as failed:
# a benchmark may only run workloads on which no operation fails.
KNOWN_DEFECTS = {
    ("extract_pages_native", "invalid-utf8"):
        "F.decode(html, 'UTF-8') raises MALFORMED_CHARACTER_CODING under ANSI mode, "
        "where extract_pages decodes with replacement characters",
}


def check_identity(spark, pages, ref: wl.Reference, seed: int, runner: Runner) -> dict:
    """Per-url identity of both extractors with the ground truth, on a sample
    that includes every kind of adversarial row; rows with invalid UTF-8 html
    are checked apart, so a failure there does not hide the others.  Returns
    the outcome of each KNOWN_DEFECTS probe."""
    from pyspark.sql import functions as F

    from otel_semconvprocessor_spark.operators.extract import extract_pages, extract_pages_native

    sample = wl.identity_sample(ref, seed)
    groups = {"utf8": [u for u in sample if not ref.truth[u]["bad_utf8"]],
              "invalid-utf8": [u for u in sample if ref.truth[u]["bad_utf8"]]}
    probes = {}
    for label, fn in (("extract_pages", extract_pages), ("extract_pages_native", extract_pages_native)):
        for group, urls in groups.items():
            if not urls:
                continue
            name = f"identity {label} {group} ({len(urls)} urls)"
            try:
                rows = fn(pages.filter(F.col("url").isin(urls))).select("url", "name", "kind", "attrs").collect()
            except Exception as e:  # a raising extractor is a failed check, reported below
                problems = [f"raised {type(e).__name__}: {str(e).splitlines()[0]}"]
            else:
                problems = wl.check_extraction(rows, ref, label)
                if len(rows) != len(urls):
                    problems.append(f"{len(rows)} rows for {len(urls)} sampled urls")
            if (label, group) in KNOWN_DEFECTS:
                outcome = ("; ".join(problems) + f" [{KNOWN_DEFECTS[label, group]}]" if problems
                           else "passes: the defect is gone")
                probes[name] = outcome
                print(f"perfbench: known defect probe {name}: {outcome}", file=sys.stderr)
            else:
                runner.record(name, problems)
    return probes


def checkpoint_resume(spark, pages_dir: Path, out: Path, ref: wl.Reference, runner: Runner) -> dict:
    """Crash run_with_checkpoints after its middle chunk, then resume."""
    import pyarrow.parquet as pq

    from otel_semconvprocessor_spark.plans.checkpoint import SimulatedCrash, run_with_checkpoints

    middle = CHECKPOINT_CHUNKS // 2 - 1
    shutil.rmtree(out, ignore_errors=True)
    t = time.perf_counter()
    try:
        run_with_checkpoints(spark, str(pages_dir), str(out), n_chunks=CHECKPOINT_CHUNKS,
                             run_id="crashed", fail_after_chunk=middle)
        crashed = False
    except SimulatedCrash:
        crashed = True
    crash_wall = time.perf_counter() - t
    before = pq.read_table(str(out / "_manifest")).to_pylist()
    t = time.perf_counter()
    processed = run_with_checkpoints(spark, str(pages_dir), str(out), n_chunks=CHECKPOINT_CHUNKS,
                                     run_id="resume")
    resume_s = time.perf_counter() - t
    manifest = pq.read_table(str(out / "_manifest")).to_pylist()
    resumed = [r for r in manifest if r["run_id"] == "resume"]
    done_before = {r["chunk"] for r in before}
    chunk_walls = sorted(r["wall_sec"] for r in manifest)
    problems = [] if crashed else ["fail_after_chunk did not crash"]
    n, checksum = wl.sink_checksum(out / "data", ["chunk", "sink"])
    if (n, checksum) != (ref.docs, ref.checksum):
        problems.append(f"resumed output rows/checksum ({n}, {checksum:x}) != reference "
                        f"({ref.docs}, {ref.checksum:x})")
    runner.record("checkpoint resume", problems)
    return {
        "checkpoint.resume_s": resume_s,
        "checkpoint.crash_s": crash_wall,
        "checkpoint.chunk_s_p50": statistics.median(chunk_walls),
        "checkpoint.chunk_s_p90": chunk_walls[max(0, -(-len(chunk_walls) * 9 // 10) - 1)],
        "checkpoint.overhead_s": resume_s - sum(r["wall_sec"] for r in resumed),
        "checkpoint.skipped_chunks": CHECKPOINT_CHUNKS - len(processed),
        "checkpoint.rework_rows": sum(r["row_count"] for r in resumed if r["chunk"] in done_before),
    }


def traced_prefixes(spark, pages, pages_dir: Path, out: Path, tracer: Tracer, runner: Runner) -> dict:
    """Run each cumulative plan prefix under its own span and job group.
    Returns layer -> (wall s, Python worker CPU s) plus the plan-build time."""
    from otel_semconvprocessor_spark.config import reference_config
    from otel_semconvprocessor_spark.operators.enrich import (
        apply_semconv_mappings, default_semconv_mappings, insert_attrs_if_absent,
        join_dims, lang_dim, mappings_table,
    )
    from otel_semconvprocessor_spark.operators.extract import extract_pages
    from otel_semconvprocessor_spark.operators.route import slim_for_sink, write_routed_single_pass
    from otel_semconvprocessor_spark.plans.pipeline import RESOURCE_ATTRS, build_normalized

    pid = jvm_pid(spark)
    cfg = reference_config()
    res: dict = {}

    def timed(layer, action):
        with tracer.span(layer, spark) as s:
            cpu0 = host.worker_cpu_s(pid)
            wall = action()
            res[layer] = (wall or time.time() - s["start"], host.worker_cpu_s(pid) - cpu0)

    def enriched():
        df = apply_semconv_mappings(extract_pages(pages), mappings_table(spark, default_semconv_mappings()))
        df = insert_attrs_if_absent(df, RESOURCE_ATTRS)
        return join_dims(df, (lang_dim(spark), "lang"))

    def slim():
        t = time.perf_counter()
        df = slim_for_sink(build_normalized(spark, pages, cfg).drop("html", "text"))
        res["plan_build_s"] = time.perf_counter() - t
        return df

    steps = [
        ("sources.pages", lambda: noop(pages)),
        ("operators.extract", lambda: noop(extract_pages(pages))),
        ("operators.enrich", lambda: noop(enriched())),
        ("operators.rules", lambda: noop(build_normalized(spark, pages, cfg))),
        ("operators.route.slim", lambda: noop(slim())),
        ("operators.route.write", lambda: write_routed_single_pass(slim(), str(out / "prefix_sinks"))),
        # the whole run_pipeline call; the metrics stage is what it adds
        ("operators.metrics", lambda: runner.pipeline(spark, pages, out / "traced", "traced")),
    ]
    # Warm up first: a plan shape that runs for the first time in the JVM
    # pays for code generation and JIT compilation, which the next prefix
    # would then not.  The measured prefixes run on the whole input with a
    # Python worker ready in every task slot.
    with tracer.span("warmup", spark):
        warm_up(spark, pages_dir, out / "warmup")
        start_python_workers(pages)
    for layer, action in steps:
        timed(layer, action)
    return res


# (layer, the prefix before it): a layer's self time is its prefix's wall
# minus the previous prefix's wall
LAYERS = [
    ("sources.pages", None),
    ("operators.extract", "sources.pages"),
    ("operators.enrich", "operators.extract"),
    ("operators.rules", "operators.enrich"),
    ("operators.route.slim", "operators.rules"),
    ("operators.route.write", "operators.route.slim"),
    ("operators.metrics", "operators.route.write"),
]


def layer_metrics(prefix: dict, log: EventLog, tracer: Tracer, ref: wl.Reference, runner: Runner,
                  input_bytes: int) -> tuple[dict, list]:
    docs = ref.docs
    g = tracer.group

    def cpu_s(layer):
        return log.metric(g(layer), "cpu_ns") / 1e9 + prefix[layer][1]

    table, self_s, cpu_ns = [], {}, {}
    for name, prev in LAYERS:
        self_s[name] = prefix[name][0] - (prefix[prev][0] if prev else 0.0)
        cpu_ns[name] = (cpu_s(name) - (cpu_s(prev) if prev else 0.0)) * 1e9 / docs
        table.append((name, self_s[name], cpu_ns[name]))
    full, write = g("operators.metrics"), g("operators.route.write")
    exchanges, python_nodes = log.write_plan_nodes(full)
    run_ms = log.metric(full, "run_ms")
    m = {
        "scan.self_s": self_s["sources.pages"],
        "scan.bytes_per_doc": input_bytes / docs,
        "extract.self_s": self_s["operators.extract"],
        "extract.cpu_ns_per_doc": cpu_ns["operators.extract"],
        "extract.attrs_per_doc": ref.attrs / docs,
        "extract.dup_key_docs": ref.dup_key_docs,
        "enrich.self_s": self_s["operators.enrich"],
        "enrich.cpu_ns_per_doc": cpu_ns["operators.enrich"],
        "enrich.mapping_rewrite_share": ref.mapped_docs / docs,
        "rules.self_s": self_s["operators.rules"],
        "rules.cpu_ns_per_doc": cpu_ns["operators.rules"],
        "rules.matched_share": ref.matched / docs,
        "rules.skip_guard_share": ref.skip_guarded / docs,
        "rules.predicates_per_doc": ref.predicates / docs,
        "route.slim_self_s": self_s["operators.route.slim"],
        "route.write_self_s": self_s["operators.route.write"],
        "route.shuffle_bytes_per_doc": log.metric(write, "shuffle_write_bytes") / docs,
        "route.sink_files": runner.sink_files,
        "route.task_skew": log.task_skew(full),
        "metrics.self_s": self_s["operators.metrics"],
        "metrics.jobs": log.jobs.get(full, 0) - log.jobs.get(write, 0),
        "metrics.bytes_read_per_doc": (log.metric(full, "input_bytes") - log.metric(write, "input_bytes")) / docs,
        "pipeline.plan_build_s": prefix["plan_build_s"],
        "pipeline.jobs_per_run": log.jobs.get(full, 0),
        "pipeline.exchanges": exchanges,
        "pipeline.python_nodes": python_nodes,
        "jvm.gc_share": log.metric(full, "gc_ms") / run_ms if run_ms else 0.0,
        "spill_bytes_per_doc": log.metric(full, "spill_bytes") / docs,
    }
    return m, table


def build_pool() -> int:
    """The --build-pool child process: generate the page pool, then exit."""
    sys.path.insert(0, str(Path.cwd()))
    work = Path.cwd() / ".bench_work"
    spark = start_session(LOCAL_MASTER, work)
    wl.ensure_pool(spark, work)
    shutdown(spark)
    return 0


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv == ["--build-pool"]:
        return build_pool()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_process = host.process_start_epoch()

    root = Path.cwd()
    sys.path.insert(0, str(root))
    try:
        import otel_semconvprocessor_spark  # noqa: F401
        from otel_semconvprocessor_spark.operators.enrich import default_semconv_mappings
    except ImportError as e:
        print(f"perfbench: run from the repository root; cannot import the package: {e}", file=sys.stderr)
        return 2

    check_benchmark_json(root / "BENCHMARK.json")
    work = root / ".bench_work"
    run_dir = work / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (run_dir, work / "tmp", work / "local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable

    context = {"workload": args.workload, "seed": args.seed, "rows": wl.WORKLOADS[args.workload]["rows"],
               "pool_rows": wl.POOL_ROWS, "pool_seed": wl.POOL_SEED, "master": LOCAL_MASTER,
               "host_before": host.host_probe()}
    ticks = host.cpu_ticks()

    # set-up: process start until the session is ready and the input is
    # registered, without the time spent generating the input
    t = time.perf_counter()
    pool = work / f"pool-{wl.POOL_ROWS}-{wl.POOL_SEED}"
    if not (pool / "_SUCCESS").exists():
        # first run in this checkout: generate the pool in a JVM of its own,
        # so that this run's timed call still starts in a cold JVM
        subprocess.run([sys.executable, str(Path(__file__).resolve()), "--build-pool"], check=True)
    pages_dir = run_dir / "pages"
    truth = wl.derive_input(pool, args.workload, args.seed, pages_dir)
    context["input_gen_s"] = time.perf_counter() - t
    # only the traced run writes an event log
    event_dir = run_dir / "events" if args.trace else None
    if event_dir is not None:
        event_dir.mkdir()
    spark = start_session(LOCAL_MASTER, work, event_dir)
    pages = register(spark, pages_dir)
    setups = [time.time() - t_process - context["input_gen_s"]]
    print(f"perfbench: set-up {setups[0]:.2f} s, input {context['input_gen_s']:.2f} s", file=sys.stderr)

    mapped = {m.schema_url for m in default_semconv_mappings()}
    ref = wl.build_reference(truth, mapped)
    context["docs"] = ref.docs
    context["input_bytes"] = wl.tree_bytes(pages_dir)[1]
    runner = Runner(ref)
    out = run_dir / "out"

    if args.trace == 0:
        # The timed region starts with the first run_pipeline call in this
        # JVM, what one spark-submit job pays, and adds warm calls only while
        # --seconds have not passed since it started.
        walls: list[float] = []
        t_end = time.perf_counter() + args.seconds
        with host.PeakMemory(jvm_pid(spark)) as mem:
            while (not walls or time.perf_counter() < t_end) and runner.failed <= 3:
                wall = runner.pipeline(spark, pages, out, f"call{len(walls)}")
                if wall is not None:
                    walls.append(wall)
        shutdown(spark)
        if not walls:
            print("perfbench: no successful run_pipeline call", file=sys.stderr)
            return 1
        values = {
            "docs_per_s": len(walls) * ref.docs / sum(walls),
            "setup_s": setups[0],
            "sink_bytes_per_doc": statistics.median(runner.sink_bytes) / ref.docs,
        }
        # printed, not bounded: the JVM's heap growth makes its peak RSS vary
        # by about a quarter between runs on one input
        info = {"cold_run_s": (walls[0], "s"), "peak_rss_mb": (mem.peak_bytes / 2**20, "MB"),
                "jvm_peak_rss_mb": (mem.jvm_peak_kb / 1024, "MB"),
                "python_peak_pss_mb": (mem.python_peak_kb / 1024, "MB")}
        context["walls_s"] = walls
        spec = END_TO_END
    else:
        tracer = Tracer(f"{args.workload}-{args.seed}")
        with tracer.span("run"), host.PeakMemory(jvm_pid(spark)) as mem:
            prefix = traced_prefixes(spark, pages, pages_dir, out, tracer, runner)
            with tracer.span("operators.extract.udf"):
                split = udf_split(pages_dir)
            with tracer.span("check.identity", spark):
                context["known_defect_probes"] = check_identity(spark, pages, ref, args.seed, runner)
            with tracer.span("plans.checkpoint", spark):
                ckpt = checkpoint_resume(spark, pages_dir, run_dir / "ckpt", ref, runner)
            # untraced local[4] and the local[1] baseline last, when the JIT
            # is about as warm as it was for the traced call.  Each is the
            # first call in its session; a warm-up call before each would
            # bring the traced run too close to its time limit.
            walls = {}
            for master in (LOCAL_MASTER, "local[1]"):
                spark, pages, s = restart(spark, master, work, pages_dir)
                setups.append(s)
                start_python_workers(pages)
                walls[master] = runner.pipeline(spark, pages, out, master)
            untraced, single = walls[LOCAL_MASTER], walls["local[1]"]
        shutdown(spark)
        tracer.write(run_dir / "spans.json")
        log = EventLog(event_dir)
        values, table = layer_metrics(prefix, log, tracer, ref, runner, context["input_bytes"])
        context["prefix_raw"] = {name: {"wall_s": prefix[name][0], "worker_cpu_s": prefix[name][1],
                                        "task_cpu_s": log.metric(tracer.group(name), "cpu_ns") / 1e9}
                                 for name, _ in LAYERS}
        values.update(split)
        values.update({k: v for k, v in ckpt.items() if k != "checkpoint.crash_s"})
        traced_wall = prefix["operators.metrics"][0]
        layer_sum = sum(s for _, s, _ in table)
        values["runtime.peak_rss_mb"] = mem.peak_bytes / 2**20
        values["pipeline.warm_docs_per_s"] = ref.docs / untraced if untraced else 0.0
        values["pipeline.scaling_eff"] = single / (4 * untraced) if single and untraced else 0.0
        values["trace.overhead_s"] = traced_wall - untraced if untraced else 0.0
        values["trace.layer_sum_gap"] = abs(layer_sum - untraced) / untraced if untraced else 0.0
        context.update({"untraced_wall_s": untraced, "local1_wall_s": single, "traced_wall_s": traced_wall,
                        "checkpoint_crash_s": ckpt["checkpoint.crash_s"], "setup_samples_s": setups})
        print(where_time_goes(args.workload, table))
        print("layer metric -> end-to-end metric it should move:")
        for name, _, _, moves in PER_LAYER:
            print(f"  {name:<32} {moves}")
        spec = [(n, u, b) for n, u, b, _ in PER_LAYER]
        info = {}

    steal, total = (b - a for a, b in zip(ticks, host.cpu_ticks()))
    context["host_after"] = dict(host.host_probe(), cpu_steal_share=round(steal / max(total, 1), 4))
    (run_dir / "context.json").write_text(json.dumps(context, indent=1, default=str))
    print("context " + json.dumps(context, default=str))
    failed_share = runner.failed / runner.attempted
    metrics = {}
    for name, unit, _ in spec:
        metrics[name] = {"value": values[name], "unit": unit}
        print(f"{args.workload} {name} = {values[name]:.6g} {unit}")
    for name, (value, unit) in info.items():
        print(f"{args.workload} {name} = {value:.6g} {unit} (not bounded)")
    print(f"{args.workload} failed_share = {failed_share:.6g} ratio "
          f"({runner.failed} of {runner.attempted} runs and checks)")
    for name, outcome in context.get("known_defect_probes", {}).items():
        print(f"{args.workload} known defect, not counted: {name}: {outcome}")
    print(json.dumps({"correct": runner.failed == 0, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
