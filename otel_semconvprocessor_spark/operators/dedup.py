"""Deduplication operators for training-data pipelines: exact, normalized,
MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection.

Scale design (10^12 docs):
  * exact / normalized dedup: one hash-keyed groupBy (single shuffle on a
    64/128-bit key, near-uniform -> no skew).
  * MinHash LSH: shingle -> signature (pure map work) -> explode into b bands
    (row growth = b, bounded) -> groupBy band key (uniform shuffle) -> pairs
    only within same-band buckets -> exact Jaccard verify on the candidates.
    Candidate count is data-dependent but banding keeps it ~linear for
    realistic dup rates; a `max_bucket` guard drops degenerate buckets.
  * SimHash: 64-bit signature from token bit votes, all expression work;
    near-dup via banding on 16-bit chunks + Hamming verify.
  * n-gram Jaccard all-pairs is quadratic — only for small candidate sets;
    the LSH path is the scale path (tested for recall against it).

Everything is md5-keyed -> DuckDB-oracle comparable.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import minhash_signature, word_shingles, ws_tokens
from ..tuning import ensure_jit_codegen

__all__ = [
    "normalize_text",
    "exact_dedup_groups",
    "minhash_lsh_pairs",
    "simhash64",
    "simhash_chunk_bounds",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "release_cached",
]


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _with_cached_deps(result: DataFrame, deps: list[DataFrame]) -> DataFrame:
    """Caching contract for the near-dup operators: they persist intermediate
    frames (shingles/signatures/banded keys) that feed multiple plan
    branches, and the LAZY result frame keeps needing them until it is
    materialized.  The handles ride on the result as ``_cached_deps`` so a
    long-lived driver can release them after collecting/writing the result —
    ``release_cached(result)`` — instead of accumulating cache forever."""
    result._cached_deps = deps
    return result


def release_cached(result: DataFrame) -> None:
    """Unpersist the intermediates a dedup/similarity operator cached for
    ``result``.  Call AFTER materializing (collect/write): the result frame
    is lazy and recomputes its whole upstream if evaluated again later."""
    for h in getattr(result, "_cached_deps", []):
        h.unpersist()


def normalize_text(text: Column | str) -> Column:
    """Canonical form for near-exact dedup: lowercase, strip non-alnum to
    spaces, collapse whitespace."""
    t = F.lower(_as_col(text))
    t = F.regexp_replace(t, r"[^a-z0-9]+", " ")
    return F.trim(t)


def exact_dedup_groups(df: DataFrame, normalized: bool = False) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the
    smallest id as the deterministic keeper and the duplicate count."""
    key = normalize_text("text") if normalized else F.col("text")
    return (
        df.select(F.md5(key).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def _pair_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    a = left.alias("a")
    b = right.alias("b")
    return a.join(b, on=on).filter(F.col("a.doc_id") < F.col("b.doc_id"))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over distinct elements.

    Uses array_intersect (hash-set based, O(|a|+|b|)) — the naive
    filter/array_contains form is O(|a|*|b|) per pair and measured ~10x
    slower across millions of candidate pairs."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db))
    union = F.size(da) + F.size(db) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs with exact-Jaccard verification.

    shingle -> minhash(16 hashes) -> 4 bands of 4 rows -> bucket-join ->
    verify.  Returns (id_a, id_b, jaccard >= threshold).

    4 rows per band: collision probability
    1-(1-s^4)^4 is ~0.03 at s=0.3 but ~0.99 at s=0.9 — selective enough that
    vocabulary-dense corpora (every doc sharing common words) don't explode
    the candidate pair set; 2-row bands measured 10x more candidates.
    """
    ensure_jit_codegen(df.sparkSession)
    bands, rows_per_band = 4, 4
    # stage words -> shingles -> signature as materialized projections:
    # embedding word_shingles(text) directly inside the 16 salted array_min
    # lambdas would re-evaluate split()/shingling per lambda per element
    # (Catalyst does not CSE across higher-order-function bodies)
    spread = df.sparkSession.sparkContext.defaultParallelism
    # shingle frame persisted ONCE at x1 (not x bands): the verify stage
    # joins it back by id after candidate dedup
    sh = (
        df.repartition(spread)  # tiny single-file inputs must still parallelize
        .select(F.col("doc_id"), word_shingles("text").alias("__sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sig = sh.select("doc_id", minhash_signature(F.col("__sh"), 16).alias("__sig"))
    # banded frame is SLIM — (id, band, 32-char band key) only.  Carrying the
    # full shingle arrays here (the round-2 shape) duplicated the shingle
    # payload x bands through the persist AND both shuffle sides of the
    # self-join; at 100 TB that x(2*bands) payload blowup dominates the whole
    # job.  Measured persist sizes (sf0.1 documents): old banded 5.1 MB ->
    # slim banded 0.7 MB (7x) + 3.7 MB x1 shingles, and the pair join now
    # shuffles ids instead of shingle arrays.
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.try_element_at(F.col("__sig"), F.lit(b * rows_per_band + r + 1))
                                       for r in range(rows_per_band)]
                            )
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    ).select("doc_id", F.col("__band.band").alias("band"), F.col("__band.band_key").alias("band_key"))

    # the banded frame feeds three plan branches (bucket sizing + both sides
    # of the self-join); without persist the whole shingle+signature pipeline
    # would recompute per branch (measured ~5x).  Explicit MEMORY_AND_DISK:
    # at 100 TB the rows x bands frame exceeds executor memory and must be
    # allowed to spill rather than evict-and-recompute.
    banded_cached = banded.persist(StorageLevel.MEMORY_AND_DISK)

    # degenerate-bucket guard: a band key shared by >max_bucket docs would
    # blow up the pair join quadratically; count and drop those buckets
    bucket_sizes = banded_cached.groupBy("band", "band_key").agg(F.count(F.lit(1)).alias("__n"))
    banded = banded_cached.join(
        F.broadcast(bucket_sizes.filter(F.col("__n") > max_bucket)),
        on=["band", "band_key"],
        how="left_anti",
    )

    cand = (
        _pair_join(banded, banded, on=["band", "band_key"])
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # shingles re-attached by id AFTER candidate dedup: each side's payload
    # crosses one join, once per candidate — never x bands
    cand = cand.join(
        sh.select(F.col("doc_id").alias("id_a"), F.col("__sh").alias("sh_a")), on="id_a"
    ).join(
        sh.select(F.col("doc_id").alias("id_b"), F.col("__sh").alias("sh_b")), on="id_b"
    )
    return _with_cached_deps(
        cand.withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")),
        [sh, banded_cached],
    )


def simhash64(text: Column | str) -> Column:
    """64-bit SimHash as a 64-char '0'/'1' string (portable across engines —
    no unsigned-int pitfalls).  Token hash = the first 16 hex chars of
    md5(token) (64 bits); bit i votes +1/-1; signature bit = majority.

    md5-derived bits (rather than xxhash64) keep the signature reproducible
    in any engine with md5 — the DuckDB oracle re-derives identical
    signatures from the same hex-nibble arithmetic."""

    def bit_votes(t: Column) -> Column:
        # nibble p (0-based) of the md5 hex supplies bits 4p..4p+3, high bit
        # first; one conv per nibble, shift amounts statically unrolled
        # (shiftright requires a literal shift)
        h = F.md5(t)
        nibs = F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda p: F.conv(h.substr(p, F.lit(1)), 16, 10).cast("int"),
        )
        return F.flatten(
            F.transform(
                nibs,
                lambda v: F.array(
                    *[
                        F.when(F.shiftright(v, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                        for j in (3, 2, 1, 0)
                    ]
                ),
            )
        )

    votes = F.aggregate(
        ws_tokens(text),
        F.array_repeat(F.lit(0), 64),
        lambda acc, t: F.zip_with(acc, bit_votes(t), lambda a, b: a + b),
    )
    return F.array_join(
        F.transform(votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))), ""
    )


def hamming_bits(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length '0'/'1' strings."""
    za = F.split(a, "")
    zb = F.split(b, "")
    return F.size(F.filter(F.zip_with(za, zb, lambda x, y: x != y), lambda d: d))


def simhash_chunk_bounds(chunks: int) -> list[tuple[int, int]]:
    """Partition the 64 signature bits into ``chunks`` contiguous spans
    (1-based start, width) as evenly as possible — every bit covered."""
    base, extra = divmod(64, chunks)
    bounds, start = [], 1
    for c in range(chunks):
        width = base + (1 if c < extra else 0)
        bounds.append((start, width))
        start += width
    return bounds


def simhash_pairs(
    df: DataFrame,
    *,
    max_hamming: int = 3,
    chunks: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into ``chunks``
    contiguous substrings covering all 64 bits; by pigeonhole, two sigs within
    Hamming <= max_hamming share at least one identical chunk whenever
    max_hamming < chunks, so bucket-joining on (chunk_idx, chunk_value) loses
    no pair.  ``chunks`` defaults to max_hamming + 1 — the minimum that keeps
    the guarantee; passing fewer chunks than that raises.

    ``max_bucket`` is the degenerate-bucket guard (same contract as
    ``minhash_lsh_pairs``): a chunk value shared by more than ``max_bucket``
    docs — mass-identical boilerplate is routine at web scale — would make
    the bucket self-join quadratic in that bucket, so such buckets are
    dropped wholesale.  Dropping a bucket CAN lose pairs: the pigeonhole
    completeness guarantee then holds only for docs whose shared chunks are
    all non-degenerate (a mass-duplicate cluster of identical docs still
    pairs via its OTHER chunks unless every shared chunk is degenerate)."""
    if chunks is None:
        chunks = max_hamming + 1
    if not max_hamming < chunks:
        raise ValueError(
            f"pigeonhole completeness requires max_hamming < chunks "
            f"(got max_hamming={max_hamming}, chunks={chunks})"
        )
    if chunks > 64:
        raise ValueError(f"chunks must be <= 64 (got {chunks})")
    spread = df.sparkSession.sparkContext.defaultParallelism
    sigd = df.repartition(spread).select(F.col("doc_id"), simhash64("text").alias("__sig"))
    banded = sigd.select(
        "doc_id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.substring("__sig", start, width).alias("chunk_val"),
                    )
                    for c, (start, width) in enumerate(simhash_chunk_bounds(chunks))
                ]
            )
        ).alias("__b"),
    ).select("doc_id", "__sig", F.col("__b.chunk").alias("chunk"), F.col("__b.chunk_val").alias("chunk_val"))
    # feeds both sides of the self-join; disk-backed for the same 100 TB
    # spill reason as the minhash banded frame above
    banded_cached = banded.persist(StorageLevel.MEMORY_AND_DISK)
    # degenerate-bucket guard: see docstring (minhash_lsh_pairs parity)
    bucket_sizes = banded_cached.groupBy("chunk", "chunk_val").agg(F.count(F.lit(1)).alias("__n"))
    banded = banded_cached.join(
        F.broadcast(bucket_sizes.filter(F.col("__n") > max_bucket)),
        on=["chunk", "chunk_val"],
        how="left_anti",
    )
    cand = (
        _pair_join(banded, banded, on=["chunk", "chunk_val"])
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.__sig").alias("sig_a"),
            F.col("b.__sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _with_cached_deps(
        cand.withColumn("hamming", hamming_bits(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming"),
        [banded_cached],
    )


def ngram_jaccard_pairs(df: DataFrame, *, threshold: float = 0.8) -> DataFrame:
    """All-pairs exact n-gram Jaccard (quadratic — small inputs / verification
    baseline only; the scale path is minhash_lsh_pairs)."""
    spread = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        df.repartition(spread)
        .select(F.col("doc_id"), word_shingles("text").alias("__sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)  # both sides of the cross join
    )
    pairs = _pair_join(sh, sh, on=F.lit(True)).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        jaccard(F.col("a.__sh"), F.col("b.__sh")).alias("jaccard"),
    )
    return _with_cached_deps(
        pairs.filter(F.col("jaccard") >= threshold).select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
        ),
        [sh],
    )
