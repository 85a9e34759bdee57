"""Checkpoint/resume: per-partition lineage manifest + idempotent restart.

The reference is a push-based stream with no resume story; the graft's batch
pipeline must "resume from per-partition checkpoints with lineage + metrics
manifests" (BASELINE.json north_star).

Design (single-scan resume):
  * the unit of checkpointing is a CHUNK OF INPUT FILES: the parquet file
    list is enumerated once on the driver, sorted (deterministic across runs
    and parallelism levels), and dealt round-robin into ``n_chunks`` groups.
    Each chunk's job reads ONLY its own files (``spark.read.parquet(*files)``)
    — a resumed run therefore scans exactly the unfinished chunks' bytes,
    never the whole input.  At 100 TB this is the difference between "resume
    costs one scan of the remaining data" and "n_chunks full corpus scans".
  * per-chunk row counts come from a ``pyspark.sql.Observation`` attached to
    the written plan (the write action itself produces the metric) — no
    post-write re-read.
  * each chunk goes through the batch run's write, ``write_routed_single_pass``,
    into its own ``data/chunk=<id>/sink=/warc_day=/lang=`` subtree with
    mode=overwrite: the batch rows and layout under a ``chunk=`` prefix.  A
    crash mid-chunk leaves a subtree that the retry simply overwrites, so
    restarts are idempotent (no dup, no missing rows).
  * the chunk->files assignment is itself checkpoint state: it is written to
    ``_plan`` once at first run and resumed runs read it back, so resume is
    immune to file-listing drift (a file that disappeared after its chunk
    committed cannot reshuffle the remaining chunks).
  * the lineage manifest (one parquet row per completed chunk: run_id, chunk,
    row_count, wall seconds, finished_at, and the chunk's input files) is
    appended strictly AFTER the chunk's data commit; on restart completed
    chunks are skipped by manifest lookup.
  * an in-memory (non-file-backed) input DataFrame falls back to
    deterministic hash chunking by ``pmod(xxhash64(url), n_chunks)`` — that
    path re-filters the input per chunk and is intended for tests / small
    inputs only; production inputs are tables on storage.  Resuming it with
    another ``n_chunks`` than the manifest's ``hash:<i>/<n>`` raises.
"""

from __future__ import annotations

import re
import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import Config
from ..plans.pipeline import build_normalized
from ..operators.metrics import local_frame
from ..operators.route import slim_for_sink, write_routed_single_pass

__all__ = [
    "SimulatedCrash",
    "run_with_checkpoints",
    "read_manifest",
    "deal_files",
    "chunk_input_files",
    "group_files_by_day",
    "chunk_input_files_by_day",
]

MANIFEST_SCHEMA = (
    "run_id string, chunk int, row_count long, wall_sec double, "
    "finished_at double, files string"
)
PLAN_SCHEMA = "chunk int, file string, label string"


class SimulatedCrash(RuntimeError):
    """Raised by tests to kill the run between chunk commits."""


def read_manifest(spark: SparkSession, out_path: str) -> DataFrame | None:
    """The lineage manifest, or None before the first chunk commits.  Any
    failure other than "path not found" propagates: treating an unreadable
    or corrupt manifest as "no chunks done" would re-run every chunk and
    append duplicate lineage rows on resume."""
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(f"{out_path}/_manifest")
    except Exception as e:
        if not _is_path_not_found(e):
            raise
        return None


def deal_files(files: list[str], n_chunks: int) -> list[list[str]]:
    """Pure chunking rule: SORTED file list dealt round-robin.  Same input =>
    same chunks on every run and cluster size; unit-testable without IO
    (tests exercise a 10k-file synthetic listing)."""
    files = sorted(files)
    n = max(1, min(n_chunks, len(files)))
    return [files[i::n] for i in range(n)]


def chunk_input_files(spark: SparkSession, in_path: str, n_chunks: int) -> list[list[str]]:
    """Deterministic file->chunk assignment over the actual input listing."""
    return deal_files(spark.read.parquet(in_path).inputFiles(), n_chunks)


_DAY_RE = re.compile(r"[\\/](?:warc_day|warc_ts_day|day)=([^\\/]+)[\\/]")


def group_files_by_day(files: list[str]) -> dict[str, list[str]] | None:
    """Group files by the ``warc_day=<d>`` path component — the natural
    production chunking when the input table is partitioned by days(warc_ts)
    (one chunk per day: lineage reads as dates, late-arriving days append as
    new chunks, and a day's reprocess is one chunk overwrite).  Returns None
    when any file lacks the component, signalling fallback to round-robin
    file groups."""
    by_day: dict[str, list[str]] = {}
    for f in files:
        m = _DAY_RE.search(f)
        if not m:
            return None
        by_day.setdefault(m.group(1), []).append(f)
    return {d: sorted(fs) for d, fs in by_day.items()}


def chunk_input_files_by_day(spark: SparkSession, in_path: str) -> tuple[list[list[str]], list[str]]:
    """One chunk per warc_day partition (sorted by day).  Raises when the
    input is not day-partitioned — the caller chose day-chunking explicitly."""
    grouped = group_files_by_day(spark.read.parquet(in_path).inputFiles())
    if grouped is None:
        raise ValueError(
            f"{in_path} is not day-partitioned (no warc_day=/day= path "
            "component); use chunk_by='files'"
        )
    days = sorted(grouped)
    return [grouped[d] for d in days], days


def _is_path_not_found(e: Exception) -> bool:
    """True only for 'the path does not exist yet' analysis errors — any
    other read failure (permissions, corruption, transient FS) must NOT
    silently regenerate the plan: if the input listing drifted meanwhile,
    chunk ids already marked done in the manifest would map to different
    files, duplicating or dropping rows on resume."""
    if not isinstance(e, AnalysisException):
        return False
    return "PATH_NOT_FOUND" in (e.getCondition() or "") or "Path does not exist" in str(e)


def _load_or_create_plan(
    spark: SparkSession, in_path: str, out_path: str, n_chunks: int,
    chunk_by: str = "files",
) -> tuple[list[list[str]], list[str]]:
    """The chunk plan is checkpoint state: computed once at first run,
    persisted to ``_plan`` (ONE ROW PER FILE — a 10^6-file input is a normal
    10^6-row parquet table, not a multi-megabyte delimited string), and
    reused verbatim on resume.  Returns (chunks, labels); labels are day
    strings under ``chunk_by='day'`` and empty otherwise."""
    plan_df = None
    try:
        plan_df = spark.read.parquet(f"{out_path}/_plan")
        rows = plan_df.collect()
    except Exception as e:
        if not _is_path_not_found(e):
            raise
        if chunk_by == "day":
            chunks, labels = chunk_input_files_by_day(spark, in_path)
        elif chunk_by == "files":
            chunks = chunk_input_files(spark, in_path, n_chunks)
            labels = ["" for _ in chunks]
        else:
            raise ValueError(f"chunk_by must be 'files' or 'day', got {chunk_by!r}")
        local_frame(
            spark, [(i, f, labels[i]) for i, fs in enumerate(chunks) for f in fs], PLAN_SCHEMA
        ).write.mode("overwrite").parquet(f"{out_path}/_plan")
        return chunks, labels
    if not {"chunk", "file", "label"} <= set(plan_df.columns):
        raise ValueError(
            f"{out_path}/_plan has columns {plan_df.columns} — not a recognized "
            "chunk-plan format (expected 'chunk, file, label'); reprocess from "
            "a fresh out_path"
        )
    plan: dict[int, list[str]] = {}
    lbl: dict[int, str] = {}
    for r in rows:
        plan.setdefault(r["chunk"], []).append(r["file"])
        lbl[r["chunk"]] = r["label"]
    chunks = [sorted(plan[i]) for i in range(len(plan))]
    labels = [lbl[i] for i in range(len(plan))]
    # Late-arriving days: under day-chunking the persisted plan is immutable
    # for KNOWN days (their chunk ids/lineage are frozen), but a day that
    # appears in the input listing AFTER the first run appends as a NEW chunk
    # (new id, plan row appended) — the natural hypertable ingest pattern.
    # Late files inside an already-planned day are NOT picked up: reprocess
    # that day by deleting its manifest row (its chunk overwrite is
    # idempotent).
    if chunk_by == "day" and labels and all(labels):
        grouped = group_files_by_day(spark.read.parquet(in_path).inputFiles())
        if grouped:
            known = set(labels)
            new_days = sorted(d for d in grouped if d not in known)
            if new_days:
                new_rows = [
                    (len(chunks) + i, f, d)
                    for i, d in enumerate(new_days)
                    for f in grouped[d]
                ]
                local_frame(spark, new_rows, PLAN_SCHEMA).write.mode("append").parquet(
                    f"{out_path}/_plan"
                )
                for d in new_days:
                    chunks.append(sorted(grouped[d]))
                    labels.append(d)
    return chunks, labels


def run_with_checkpoints(
    spark: SparkSession,
    pages: DataFrame | str,
    out_path: str,
    cfg: Config | None = None,
    *,
    n_chunks: int = 8,
    run_id: str = "ckpt-0",
    fail_after_chunk: int | None = None,
    chunk_by: str = "files",
) -> list[int]:
    """Process chunk-by-chunk with resume; returns chunks processed THIS call.

    ``pages``: a parquet path (production path — file-chunked, single-scan
    resume) or a DataFrame (hash-chunked fallback for in-memory inputs).
    ``chunk_by='day'`` makes one chunk per warc_day partition of a
    day-partitioned input (lineage reads as dates; a day's reprocess is one
    chunk overwrite); the default ``'files'`` deals the sorted file list
    round-robin into ``n_chunks`` groups.
    Skips chunks already in the manifest (possibly from a previous crashed
    run), overwrites any partial chunk output, and appends one manifest row
    per completed chunk.
    """
    manifest = read_manifest(spark, out_path)
    done = set() if manifest is None else {
        r[0] for r in manifest.select("chunk").distinct().collect()
    }
    processed: list[int] = []

    if isinstance(pages, str):
        chunks, labels = _load_or_create_plan(spark, pages, out_path, n_chunks, chunk_by)
        schema = spark.read.parquet(pages).schema

        def chunk_df(i: int) -> DataFrame:
            # reads ONLY this chunk's files; explicit schema so empty/late
            # chunks don't re-infer; basePath so partition columns (e.g.
            # warc_day= dirs under day-chunking) still resolve from paths
            return spark.read.schema(schema).option("basePath", pages).parquet(*chunks[i])

        chunk_lineage = {
            i: (f"day={labels[i]};" if labels[i] else "") + ";".join(chunks[i])
            for i in range(len(chunks))
        }
        chunk_ids = range(len(chunks))
    else:
        # fallback: n_chunks filtered passes over the in-memory frame; chunk
        # ids only mean something under the n they were hashed with
        hashed = set() if manifest is None else {
            r[0] for r in manifest.filter(F.col("files").startswith("hash:"))
            .select(F.substring_index("files", "/", -1)).distinct().collect()
        }
        if hashed - {str(n_chunks)}:
            raise ValueError(
                f"{out_path} was hash-chunked with n_chunks={'/'.join(sorted(hashed))}, not "
                f"n_chunks={n_chunks}: its chunk ids would map to other rows (duplicated "
                "and dropped output); resume with the recorded count or a fresh out_path"
            )
        chunk_of = F.pmod(F.xxhash64(F.col("url")), F.lit(n_chunks))

        def chunk_df(i: int) -> DataFrame:
            return pages.filter(chunk_of == i)

        chunk_lineage = {i: f"hash:{i}/{n_chunks}" for i in range(n_chunks)}
        chunk_ids = range(n_chunks)

    for chunk in chunk_ids:
        if chunk in done:
            continue
        t0 = time.time()
        # row count observed on the write plan itself — no post-write re-read
        obs = Observation(f"ckpt-{run_id}-{chunk}-{uuid.uuid4().hex[:8]}")
        normalized = slim_for_sink(build_normalized(spark, chunk_df(chunk), cfg))
        # idempotent per-chunk commit: overwrite this chunk's subtree only,
        # with the batch run's write
        write_routed_single_pass(
            normalized.observe(obs, F.count(F.lit(1)).alias("rows")),
            f"{out_path}/data/chunk={chunk}",
        )
        n = obs.get["rows"]
        manifest_row = local_frame(
            spark,
            [(run_id, chunk, n, time.time() - t0, float(time.time()), chunk_lineage[chunk])],
            MANIFEST_SCHEMA,
        )
        manifest_row.write.mode("append").parquet(f"{out_path}/_manifest")
        processed.append(chunk)
        if fail_after_chunk is not None and chunk == fail_after_chunk:
            raise SimulatedCrash(f"crashed after committing chunk {chunk}")
    return processed


def read_all_output(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.option("basePath", f"{out_path}/data").parquet(f"{out_path}/data/chunk=*")
