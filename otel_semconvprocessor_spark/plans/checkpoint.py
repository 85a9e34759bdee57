"""Checkpoint/resume: per-partition lineage manifest + idempotent restart.

The reference is a push-based stream with no resume story; the graft's batch
pipeline must "resume from per-partition checkpoints with lineage + metrics
manifests" (BASELINE.json north_star).

Design (single-scan resume), one chunking rule:
  * the unit of checkpointing is a CHUNK OF INPUT FILES: the parquet file
    list is enumerated once on the driver, sorted (deterministic across runs
    and parallelism levels), and dealt round-robin into ``n_chunks`` groups.
    Each chunk's job reads ONLY its own files (``spark.read.parquet(*files)``)
    — a resumed run therefore scans exactly the unfinished chunks' bytes,
    never the whole input.  At 100 TB this is the difference between "resume
    costs one scan of the remaining data" and "n_chunks full corpus scans".
    A ``warc_day=``-partitioned input needs no rule of its own: its files
    are dealt like any others, ``basePath`` keeps the partition column, and
    the lineage lists the ``warc_day=<d>/part-…`` paths.
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
    committed cannot reshuffle the remaining chunks) and to another
    ``n_chunks`` on resume.
  * the lineage manifest (one parquet row per completed chunk: run_id, chunk,
    row_count, wall seconds, finished_at, and the chunk's input files) is
    appended strictly AFTER the chunk's data commit; on restart completed
    chunks are skipped by manifest lookup.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import Config
from ..plans.pipeline import build_normalized
from ..operators.metrics import local_frame
from ..operators.route import slim_for_sink, write_routed_single_pass

__all__ = ["SimulatedCrash", "run_with_checkpoints", "read_manifest", "deal_files"]

MANIFEST_SCHEMA = (
    "run_id string, chunk int, row_count long, wall_sec double, "
    "finished_at double, files string"
)
PLAN_SCHEMA = "chunk int, file string"


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
    spark: SparkSession, src: DataFrame, out_path: str, n_chunks: int
) -> list[list[str]]:
    """The chunk plan is checkpoint state: computed once at first run from
    the listing of ``src``, persisted to ``_plan`` (ONE ROW PER FILE — a
    10^6-file input is a normal 10^6-row parquet table, not a
    multi-megabyte delimited string), and reused verbatim on resume.  Only
    the ``chunk`` and ``file`` columns are read, so a plan with extra
    columns resumes unchanged."""
    try:
        plan_df = spark.read.parquet(f"{out_path}/_plan")
        rows = plan_df.collect()
    except Exception as e:
        if not _is_path_not_found(e):
            raise
        chunks = deal_files(src.inputFiles(), n_chunks)
        local_frame(
            spark, [(i, f) for i, fs in enumerate(chunks) for f in fs], PLAN_SCHEMA
        ).write.mode("overwrite").parquet(f"{out_path}/_plan")
        return chunks
    if not {"chunk", "file"} <= set(plan_df.columns):
        raise ValueError(
            f"{out_path}/_plan has columns {plan_df.columns} — not a recognized "
            "chunk-plan format (expected 'chunk, file'); reprocess from a fresh "
            "out_path"
        )
    plan: dict[int, list[str]] = {}
    for r in rows:
        plan.setdefault(r["chunk"], []).append(r["file"])
    return [sorted(plan[i]) for i in range(len(plan))]


def run_with_checkpoints(
    spark: SparkSession,
    pages: str,
    out_path: str,
    cfg: Config | None = None,
    *,
    n_chunks: int = 8,
    run_id: str = "ckpt-0",
    fail_after_chunk: int | None = None,
) -> list[int]:
    """Process chunk-by-chunk with resume; returns chunks processed THIS call.

    ``pages`` is a parquet path.  Its sorted file list is dealt round-robin
    into ``n_chunks`` groups on the first run, and that plan is persisted
    and reused by every resume (whatever ``n_chunks`` the resume passes).
    Skips chunks already in the manifest (possibly from a previous crashed
    run), overwrites any partial chunk output, and appends one manifest row
    per completed chunk, whose lineage is the chunk's ``;``-joined files.
    """
    manifest = read_manifest(spark, out_path)
    done = set() if manifest is None else {
        r[0] for r in manifest.select("chunk").distinct().collect()
    }
    processed: list[int] = []
    # one relation gives both the first run's file listing and the schema
    src = spark.read.parquet(pages)
    chunks = _load_or_create_plan(spark, src, out_path, n_chunks)

    for chunk, files in enumerate(chunks):
        if chunk in done:
            continue
        t0 = time.time()
        # reads ONLY this chunk's files; explicit schema so no chunk
        # re-infers; basePath so partition columns (e.g. warc_day= dirs)
        # still resolve from paths
        chunk_df = spark.read.schema(src.schema).option("basePath", pages).parquet(*files)
        # row count observed on the write plan itself — no post-write re-read
        obs = Observation(f"ckpt-{run_id}-{chunk}-{uuid.uuid4().hex[:8]}")
        normalized = slim_for_sink(build_normalized(spark, chunk_df, cfg))
        # idempotent per-chunk commit: overwrite this chunk's subtree only,
        # with the batch run's write
        write_routed_single_pass(
            normalized.observe(obs, F.count(F.lit(1)).alias("rows")),
            f"{out_path}/data/chunk={chunk}",
        )
        n = obs.get["rows"]
        manifest_row = local_frame(
            spark,
            [(run_id, chunk, n, time.time() - t0, float(time.time()), ";".join(files))],
            MANIFEST_SCHEMA,
        )
        manifest_row.write.mode("append").parquet(f"{out_path}/_manifest")
        processed.append(chunk)
        if fail_after_chunk is not None and chunk == fail_after_chunk:
            raise SimulatedCrash(f"crashed after committing chunk {chunk}")
    return processed


def read_all_output(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.option("basePath", f"{out_path}/data").parquet(f"{out_path}/data/chunk=*")
