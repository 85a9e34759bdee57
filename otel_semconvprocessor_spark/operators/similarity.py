"""Similarity search over embedding columns (``array<float>``).

  * ``topk_brute_force`` — exact cosine top-k: broadcast the (small) query
    set against the corpus, score with native zip_with/aggregate expressions,
    rank per query.  This is the correctness baseline and is already the
    right plan when |queries| is small: the corpus is scanned ONCE, never
    shuffled; ranking is the two-phase ``_rank_topk`` below, whose only
    shuffle is ~k rows per (query, Arrow batch).
  * ``topk_lsh`` — the scale path: deterministic random-hyperplane
    signatures (hash-seeded, no rand()) bucket the corpus; queries probe
    their own bucket (+ optional 1-bit flips), so each query scores
    ~corpus/2^bits candidates instead of everything.
  * ``topk_ivf`` — coarse-quantizer cells + nprobe search.

Each top-k algorithm has exactly one implementation; the caller picks it.

Determinism: scores are computed in float64 and ties broken by id; the
hyperplane matrix derives from md5, so every run and engine sees the same
planes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tuning import ensure_jit_codegen

__all__ = [
    "dot",
    "l2_norm",
    "topk_brute_force",
    "hyperplanes",
    "lsh_signature",
    "topk_lsh",
    "embedding_near_dup_pairs",
    "seed_centroids",
    "topk_ivf",
]


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Two-phase top-k over a scored (query_id, vec_id, score) candidate frame.

    Phase 1 (narrow, no shuffle): a per-partition partial top-k — each Arrow
    batch keeps only its best ``k`` rows per query (exact order: score desc,
    id asc), so at most k rows per (query, batch) survive.  Phase 2 (one slim
    shuffle of ~k*P rows per query): merge the survivors with a
    slice(array_sort(collect_list(struct)), 1, k) aggregate and rank by array
    position.  No task ever materializes a query's full candidate set — the
    old ``row_number() OVER (PARTITION BY query_id)`` form put |candidates|
    rows of each query in ONE task, which is a scale-killer when candidates ~
    |corpus| (brute force) at 10^12 docs.

    Exactness: phase 1 keeps each batch's top-k under the SAME total order
    the final rank uses, and the global top-k is a subset of the union of
    per-batch top-k's, so the result is identical to the single-window form
    (regression-tested + oracle-checked).

    Measured (topk_rank_ab.py harness, commit 980a121; 100k corpus x 10
    queries, local[32]): window 5.92s vs two-phase 6.11s min-warm — wall parity (+3% Arrow-pass
    constant) with byte-identical results; the win is boundedness, not
    small-scale speed: the window form holds |corpus| rows per query in one
    task (OOM at 10^9+), two-phase never exceeds the Arrow batch + k*P merge.
    """
    fields = {f.name: f.dataType.simpleString() for f in scored.schema.fields}
    out_schema = f"query_id {fields['query_id']}, vec_id {fields['vec_id']}, score double"

    def partial_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield (
                pdf.sort_values(["score", "vec_id"], ascending=[False, True], kind="mergesort")
                .groupby("query_id", sort=False)
                .head(k)
            )

    survivors = scored.select(
        "query_id", "vec_id", F.col("score").cast("double").alias("score")
    ).mapInPandas(
        partial_topk, schema=out_schema
    )
    merged = survivors.groupBy("query_id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct((-F.col("score")).alias("ns"), F.col("vec_id").alias("i"))
                )
            ),
            1,
            k,
        ).alias("__top")
    )
    return merged.select(
        F.col("query_id"), F.posexplode("__top").alias("__r", "__t")
    ).select(
        "query_id",
        F.col("__t.i").alias("vec_id"),
        F.round(-F.col("__t.ns"), 6).alias("score"),
        (F.col("__r") + 1).cast("int").alias("rank"),
    )


def topk_brute_force(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k: corpus x broadcast(queries); returns
    (query_id, vec_id, score, rank) with deterministic id tie-breaks."""
    ensure_jit_codegen(corpus.sparkSession)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        l2_norm(F.col("embedding")).alias("__qn"),
    )
    # norms precomputed ONCE per vector (corpus side in the scan projection,
    # query side in the broadcast): an inline cosine would recompute the
    # corpus norm per query and the query norm per corpus row — 3 dots per
    # pair instead of 1 (measured 5.2x end-to-end at 100k x 10: 31.0s -> 5.9s)
    c = corpus.select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("__cn"))
    denom = F.col("__cn") * F.col("__qn")
    score = F.when(denom > 0, dot(F.col("embedding"), F.col("__qvec")) / denom).otherwise(
        F.lit(0.0)
    )
    scored = c.crossJoin(F.broadcast(q)).select("query_id", "vec_id", score.alias("score"))
    return _rank_topk(scored, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse-quantizer cells + nprobe search.
# ---------------------------------------------------------------------------


def seed_centroids(corpus: DataFrame, n_cells: int) -> list[list[float]]:
    """Deterministic coarse-quantizer seeds: the ``n_cells`` corpus vectors
    ranked first by md5 of their id — a data-dependent but seed-free pick
    that any engine can reproduce with ORDER BY md5(id) LIMIT k (which is
    what the DuckDB oracle does).  Cell order = the md5 rank."""
    rows = (
        corpus.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(n_cells)
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


def _cell_dots(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of raw <vec, centroid_j> dot products.  Assignment is by max
    INNER PRODUCT, not cosine: raw centroid components stay byte-exact
    across engines (normalizing on the driver would bake Python's summation
    order into the literals and flip ulp-close argmax ties in the oracle)."""
    # one ARRAY LITERAL per centroid (not CreateArray of n Literal nodes):
    # round-6 profiling put ~3s of every topk_* call in driver-side plan
    # construction/analysis of the element-wise literal trees; F.lit(row)
    # is a single Literal node with identical values
    return F.array(*[dot(vec, F.lit([float(v) for v in row])) for row in centroids])


def assign_cell(vec: Column, centroids: list[list[float]]) -> Column:
    """1-based cell id = argmax centroid inner product (first index wins ties)."""
    dots = _cell_dots(vec, centroids)
    return F.array_position(dots, F.array_max(dots)).cast("int")


def topk_ivf(corpus: DataFrame, queries: DataFrame, *, nprobe: int = 4) -> DataFrame:
    """IVF approximate top-10: corpus vectors are bucketed into 16
    coarse-quantizer cells (argmax centroid cosine, a pure expression over
    broadcast-free centroid literals — the corpus is scanned once, never
    shuffled for the index); each query probes its ``nprobe`` closest cells
    and scores only those cells' members.

    Per-query cost ~ |corpus| x nprobe / 16.  The cells are
    seed_centroids, which the DuckDB oracle reproduces exactly."""
    ensure_jit_codegen(corpus.sparkSession)
    centroids = seed_centroids(corpus, 16)
    c = corpus.select(
        F.col("vec_id"),
        F.col("embedding"),
        l2_norm(F.col("embedding")).alias("__cn"),
        assign_cell(F.col("embedding"), centroids).alias("__cell"),
    )
    qdots = _cell_dots(F.col("embedding"), centroids)
    # nprobe nearest cells: rank (dot desc, cell asc) via array sort on
    # (-dot, idx) structs, then take the first nprobe indices
    ranked = F.array_sort(
        F.zip_with(
            qdots,
            F.sequence(F.lit(1), F.lit(len(centroids))),
            lambda d, i: F.struct((-d).alias("nd"), i.alias("idx")),
        )
    )
    probes = F.slice(F.transform(ranked, lambda s: s["idx"]), 1, nprobe)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        l2_norm(F.col("embedding")).alias("__qn"),
        F.explode(probes).alias("__cell"),
    )
    denom = F.col("__cn") * F.col("__qn")
    cand = c.join(F.broadcast(q), on="__cell").select(
        "query_id",
        "vec_id",
        F.when(denom > 0, dot(F.col("embedding"), F.col("__qvec")) / denom)
        .otherwise(F.lit(0.0))
        .alias("score"),
    )
    return _rank_topk(cand, 10)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    *,
    dim: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector twin of the
    MinHash/SimHash dedup family: candidates share a hyperplane-LSH bucket in
    at least one of 4 signature tables of 8 bits (collision probability
    (1 - theta/pi)^8 per table, near 1 for near-parallel vectors), then
    exact float64 cosine verifies.  The corpus is mapped once (signatures are
    pure expressions); the only shuffle is the bucket self-join — never
    all-pairs.  Deterministic md5 hyperplanes keep it oracle-reproducible.

    Payload discipline: the banded frame is SLIM (id + tagged signature);
    vectors persist once at x1 and re-attach by id only AFTER candidate
    dedup, so the vector payload never crosses the persist or the self-join
    shuffle x tables (the round-2 shape did both)."""
    from pyspark import StorageLevel

    ensure_jit_codegen(df.sparkSession)
    if dim is None:
        dim = len(df.select("embedding").first()[0])
    vecs = df.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("__n")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sig_tagged = [
        F.concat(F.lit(f"{t}:"), F.expr(_sig_sql("embedding", hyperplanes(dim, 8, seed=f"lsh-{t}"))))
        for t in range(4)
    ]
    banded_cached = vecs.select(
        "vec_id", F.explode(F.array(*sig_tagged)).alias("__sig")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # degenerate-bucket guard (minhash_lsh_pairs parity): a signature shared
    # by >max_bucket vectors (e.g. mass-identical or zero vectors) makes the
    # self-join quadratic in that bucket — drop such buckets wholesale.
    # Contract: a dropped bucket can lose pairs; a near-dup cluster still
    # pairs via its other signatures unless all 4 are degenerate.
    bucket_sizes = banded_cached.groupBy("__sig").agg(F.count(F.lit(1)).alias("__bn"))
    banded = banded_cached.join(
        F.broadcast(bucket_sizes.filter(F.col("__bn") > max_bucket)),
        on="__sig",
        how="left_anti",
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, on="__sig")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand.join(
        vecs.select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"), F.col("__n").alias("__na")
        ),
        on="id_a",
    ).join(
        vecs.select(
            F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"), F.col("__n").alias("__nb")
        ),
        on="id_b",
    )
    denom = F.col("__na") * F.col("__nb")
    from .dedup import _with_cached_deps

    return _with_cached_deps(
        cand.withColumn(
            "cosine",
            F.when(denom > 0, dot(F.col("__va"), F.col("__vb")) / denom).otherwise(F.lit(0.0)),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine")),
        [vecs, banded_cached],
    )


def hyperplanes(dim: int, bits: int, seed: str = "lsh") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (i,j) from md5 —
    reproducible across runs, engines and languages (no RNG state)."""
    planes = []
    for i in range(bits):
        row = []
        for j in range(dim):
            h = hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()
            row.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)  # ~uniform [-1, 1)
        planes.append(row)
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature string, one char per hyperplane."""
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(x) for x in row])) >= 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for row in planes
    ]
    return F.concat(*bits)


def _sig_sql(vec_name: str, planes: list[list[float]]) -> str:
    """``lsh_signature`` as ONE SQL string over a named vector column.

    Driver-side cost fix (round 6): building the signature through the
    Column API issues ~27k py4j round-trips per topk_lsh call (one per
    element literal, two lambda constructions per dot), measured as ~3s of
    every call's wall BEFORE any execution.  Parsing one SQL string
    JVM-side produces the IDENTICAL expression tree (same zip_with /
    aggregate fold, same cast and comparison semantics; float literals use
    repr round-trip so the doubles are bit-equal) — parity is pinned by
    tests/test_training_ops.py::test_sig_sql_matches_column_api."""
    vec_ref = "`" + vec_name.replace("`", "``") + "`"  # escape embedded backticks
    bits = []
    for row in planes:
        arr = "array(" + ",".join(f"CAST({float(x)!r} AS DOUBLE)" for x in row) + ")"
        d = (
            f"aggregate(zip_with({vec_ref}, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(f"CASE WHEN {d} >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    bits: int = 8,
    tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via the standard L-table hyperplane-LSH construction:
    ``tables`` independent signatures bucket the corpus; each query probes its
    own bucket and the one with its first bit flipped in EVERY table and the
    candidate sets union.  Tune (bits up = fewer candidates, tables up =
    higher recall); recall is regression-tested against topk_brute_force.

    Scale shape: the corpus is mapped once per run (signatures are pure
    expressions), the tiny probe set broadcasts, and only candidate rows are
    scored — per-query cost ~ tables * corpus / 2^bits instead of |corpus|.
    """
    ensure_jit_codegen(corpus.sparkSession)
    # hyperplane construction needs the vector dimensionality, which
    # array<float> schemas don't carry — pass ``dim`` to avoid the
    # driver-side probe read
    if dim is None:
        dim = len(corpus.select("embedding").first()[0])
    # one F.expr per signature instead of per-element Column calls — see
    # _sig_sql (kills ~3s of py4j chatter per topk_lsh call).  Signatures
    # are STAGED as projected columns on both sides; the explode arrays and
    # the bit-flip probes then reference tiny column refs instead of
    # re-embedding each table's full dot-product tree (the flip probes
    # previously carried ~4 copies of it per table through analysis).
    sig_exprs = {
        f"__s{t}": F.expr(_sig_sql("embedding", hyperplanes(dim, bits, seed=f"lsh-{t}")))
        for t in range(tables)
    }
    sig_tagged = [F.concat(F.lit(f"{t}:"), F.col(f"__s{t}")) for t in range(tables)]
    probe_tagged = []
    for t in range(tables):
        qsig = F.col(f"__s{t}")
        flipped = F.concat(
            F.when(F.substring(qsig, 1, 1) == "1", F.lit("0")).otherwise(F.lit("1")),
            F.substring(qsig, 2, bits - 1),
        )
        probe_tagged.extend(F.concat(F.lit(f"{t}:"), p) for p in (qsig, flipped))

    c = corpus.select(
        "vec_id",
        "embedding",
        l2_norm(F.col("embedding")).alias("__cn"),  # norm once per vector, pre-explode
        *[e.alias(n) for n, e in sig_exprs.items()],
    ).select(
        "vec_id",
        "embedding",
        "__cn",
        F.explode(F.array(*sig_tagged)).alias("__sig"),
    )
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qvec"),
            l2_norm(F.col("embedding")).alias("__qn"),
            *[e.alias(n) for n, e in sig_exprs.items()],
        )
        .select(
            "query_id",
            "__qvec",
            "__qn",
            F.explode(F.array(*probe_tagged)).alias("__sig"),
        )
        .dropDuplicates(["query_id", "__sig"])
    )
    denom = F.col("__cn") * F.col("__qn")
    cand = (
        c.join(F.broadcast(q), on="__sig")
        .select("query_id", "vec_id", "__qvec", "__qn", "__cn", F.col("embedding").alias("__cvec"))
        .dropDuplicates(["query_id", "vec_id"])
        .select(
            "query_id",
            "vec_id",
            F.when(denom > 0, dot(F.col("__cvec"), F.col("__qvec")) / denom)
            .otherwise(F.lit(0.0))
            .alias("score"),
        )
    )
    return _rank_topk(cand, k)
