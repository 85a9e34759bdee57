"""Tests for the training-data operators: text analysis, dedup (exact /
MinHash-LSH / SimHash / n-gram Jaccard), and embedding similarity search."""

import pytest
from pyspark.sql import functions as F

from otel_semconvprocessor_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    normalize_text,
    simhash64,
    simhash_chunk_bounds,
    simhash_pairs,
)
from otel_semconvprocessor_spark.operators.similarity import (
    topk_brute_force,
    topk_lsh,
)
from otel_semconvprocessor_spark.operators.text import (
    lang_id,
    minhash_signature,
    regex_token_count,
    stopword_ratio,
    word_shingles,
    ws_token_count,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "The quick brown fox; jumps over the lazy dog!"),  # normalized dup of 0
    (3, "the quick brown fox jumps over the sleepy dog"),  # near dup of 0
    (4, "completely different content about spark pipelines here"),
    (5, "der schnelle braune fuchs und der faule hund ist nicht da"),
    (6, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_token_counts(spark, docs):
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id", ws_token_count("text").alias("ws"), regex_token_count("text").alias("rx")
    ).collect()}
    assert rows[0]["ws"] == 9
    assert rows[6]["ws"] == 0
    assert rows[2]["rx"] == 11  # 9 words + ';' + '!'


def test_quality_features(spark, docs):
    r = docs.filter("doc_id = 0").select(
        F.length("text").alias("n_chars"),
        ws_token_count("text").alias("n_tokens"),
        stopword_ratio("text").alias("stopword_ratio"),
    ).collect()[0]
    assert r["n_chars"] == 43
    assert r["n_tokens"] == 9
    assert r["stopword_ratio"] == pytest.approx(2 / 9)  # two 'the' hits


def test_lang_id(spark, docs):
    got = {r["doc_id"]: r["g"] for r in docs.select("doc_id", lang_id("text").alias("g")).collect()}
    assert got[0] == "en"
    assert got[5] == "de"
    assert got[6] == "und"


def test_shingles_and_fingerprint(spark, docs):
    sh = docs.filter("doc_id = 0").select(word_shingles("text").alias("sh")).collect()[0]["sh"]
    assert sh[0] == "the quick brown"
    assert len(sh) == 7


def test_minhash_signature_shape(spark, docs):
    sig = docs.filter("doc_id = 0").select(
        minhash_signature(word_shingles("text"), 8).alias("s")
    ).collect()[0]["s"]
    assert len(sig) == 8 and all(len(x) == 32 for x in sig)
    # salted hash families must actually differ (guards the HOF-lambda-arity
    # pitfall where every component collapsed to one salt)
    assert len(set(sig)) > 1


def test_exact_dedup(spark, docs):
    groups = exact_dedup_groups(docs).collect()
    dup_group = [g for g in groups if g["n_docs"] > 1]
    assert len(dup_group) == 1 and dup_group[0]["keeper_id"] == 0 and dup_group[0]["n_docs"] == 2


def test_normalized_dedup(spark, docs):
    groups = exact_dedup_groups(docs, normalized=True).collect()
    big = [g for g in groups if g["n_docs"] > 1]
    assert len(big) == 1 and big[0]["n_docs"] == 3  # docs 0,1,2 collapse
    norm = docs.select(normalize_text("text").alias("n")).filter(F.col("n").contains("fox")).distinct()
    assert norm.count() == 2  # canonical fox sentence + sleepy variant


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs and 0.5 <= pairs[(0, 3)] < 1.0
    assert (0, 4) not in pairs


def test_minhash_lsh_finds_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs  # exact dup always survives banding
    assert (0, 4) not in pairs
    # LSH candidates must be a subset of the all-pairs ground truth
    truth = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs <= truth


def test_simhash(spark, docs):
    sigs = {r["doc_id"]: r["s"] for r in docs.select("doc_id", simhash64("text").alias("s")).collect()}
    assert len(sigs[0]) == 64 and set(sigs[0]) <= {"0", "1"}
    assert sigs[0] == sigs[1]
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(docs, max_hamming=16).collect()}
    assert pairs[(0, 1)] == 0  # identical docs always share every chunk
    # similar docs have small hamming distance; dissimilar docs a large one
    ham_03 = sum(x != y for x, y in zip(sigs[0], sigs[3]))
    ham_04 = sum(x != y for x, y in zip(sigs[0], sigs[4]))
    assert ham_03 < ham_04
    # banding guarantee: every pair with hamming <= chunks-1 is found
    assert all(h <= 16 for h in pairs.values())


def test_topk_lsh_recall(spark, sf01_dir):
    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = topk_brute_force(emb, queries, k=5)
    approx = topk_lsh(emb, queries, k=5, bits=4, tables=8)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, recall  # L-table union keeps most true neighbors
    # every query at least finds itself, and still returns a full k
    assert all((q, q) in a for q in range(10))
    counts = {r["query_id"]: r["n"] for r in
              approx.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {q: 5 for q in range(10)}


def test_simhash_chunk_bounds_cover_all_bits():
    for chunks in (1, 4, 7, 17, 64):
        bounds = simhash_chunk_bounds(chunks)
        covered = [start + i for start, w in bounds for i in range(w)]
        assert covered == list(range(1, 65))


def test_simhash_pigeonhole_completeness(spark, docs):
    """With default chunks (= max_hamming + 1) the banding must find EVERY
    pair within max_hamming — brute-force ground truth over the signatures."""
    sigs = {r["doc_id"]: r["s"]
            for r in docs.select("doc_id", simhash64("text").alias("s")).collect()}
    max_h = 6
    truth = {
        (a, b)
        for a in sigs for b in sigs
        if a < b and sum(x != y for x, y in zip(sigs[a], sigs[b])) <= max_h
    }
    found = {(r["id_a"], r["id_b"])
             for r in simhash_pairs(docs, max_hamming=max_h).collect()}
    assert found == truth


def test_simhash_rejects_incomplete_banding(spark, docs):
    with pytest.raises(ValueError):
        simhash_pairs(docs, max_hamming=4, chunks=4)


def test_quality_tokens_staging_parity(spark, docs):
    from otel_semconvprocessor_spark.operators.text import ws_tokens

    unstaged = docs.select("doc_id", stopword_ratio("text").alias("r")).collect()
    d = docs.select("doc_id", ws_tokens("text").alias("__toks"))
    staged = d.select("doc_id", stopword_ratio(tokens=F.col("__toks")).alias("r")).collect()
    assert {r["doc_id"]: r["r"] for r in unstaged} == {r["doc_id"]: r["r"] for r in staged}


def test_embedding_near_dup_pairs(spark):
    from otel_semconvprocessor_spark.operators.similarity import embedding_near_dup_pairs

    base = [1.0, 0.5] + [0.25] * 62
    near = [x + 0.001 for x in base]          # cosine ~1
    ortho = [1.0 if i % 2 else -1.0 for i in range(64)]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, ortho)], "vec_id long, embedding array<double>"
    )
    rows = {(r["id_a"], r["id_b"]): r["cosine"]
            for r in embedding_near_dup_pairs(df, threshold=0.99, dim=64).collect()}
    assert (1, 2) in rows and rows[(1, 2)] >= 0.99
    assert not any(3 in p for p in rows)


def test_topk_ivf_recall_and_refine(spark, sf01_dir):
    from otel_semconvprocessor_spark.operators.similarity import topk_ivf

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    truth = {(r["query_id"], r["vec_id"])
             for r in topk_brute_force(emb, q, k=10).collect()}

    ivf = topk_ivf(emb, q, nprobe=8)
    got = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, recall  # seed centroids, half the cells probed

    # each query still returns a full k
    counts = {r["query_id"]: r["n"] for r in
              ivf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n == 10 for n in counts.values())


def test_topk_ivf_plan_shape(spark, sf01_dir):
    """Cell assignment must be pure expression work over the single corpus
    scan — the only exchanges allowed are the probe join's broadcast and the
    final top-k window."""
    from otel_semconvprocessor_spark.operators.similarity import topk_ivf

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    plan = topk_ivf(emb, q)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_simhash_degenerate_bucket_guard(spark):
    """A mass-duplicate cluster (every chunk bucket degenerate) must not blow
    up the self-join: with max_bucket below the cluster size ALL its buckets
    drop, so the cluster contributes zero candidate pairs, while pairs whose
    buckets are small survive untouched."""
    dup = "identical boilerplate page shared by every mirror of the site"
    rows = [(i, dup) for i in range(40)]
    rare = "rare page about spark adaptive execution plans"
    rows += [(100, rare), (101, rare)]  # hamming 0, buckets of size 2
    df = spark.createDataFrame(rows, "doc_id long, text string")

    guarded = {(r["id_a"], r["id_b"])
               for r in simhash_pairs(df, max_hamming=6, max_bucket=10).collect()}
    assert (100, 101) in guarded
    assert not any(a < 100 for a, _ in guarded), "degenerate cluster leaked pairs"

    # default guard (1000) leaves the small cluster fully paired: 40*39/2
    unguarded = simhash_pairs(df, max_hamming=6).filter("id_a < 100").count()
    assert unguarded == 40 * 39 // 2


def test_embedding_near_dup_degenerate_bucket_guard(spark):
    from otel_semconvprocessor_spark.operators.similarity import embedding_near_dup_pairs

    base = [1.0, 0.5] + [0.25] * 62
    rows = [(i, base) for i in range(40)]  # identical vectors: every table's
    # signature bucket holds the whole cluster
    other = [(-1.0 if i % 3 else 2.0) for i in range(64)]
    rows += [(100, other), (101, [x + 0.001 for x in other])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    guarded = {(r["id_a"], r["id_b"])
               for r in embedding_near_dup_pairs(df, threshold=0.99, dim=64, max_bucket=10).collect()}
    assert (100, 101) in guarded
    assert not any(a < 100 for a, _ in guarded), "degenerate cluster leaked pairs"

    unguarded = embedding_near_dup_pairs(df, threshold=0.99, dim=64).filter("id_a < 100").count()
    assert unguarded == 40 * 39 // 2


def test_topk_pandas_string_ids(spark):
    """String doc ids must round-trip through the two-phase rank (its Arrow
    output schema is derived from the input schema, not hardcoded long)."""
    import math

    rows = [(f"doc-{i}", [math.sin(i * 7.3 + j) for j in range(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    q = df.filter(F.col("vec_id").isin("doc-0", "doc-1"))

    got = topk_brute_force(df, q, k=5).collect()
    ids = {r[0] for r in rows}
    for qid in ("doc-0", "doc-1"):
        mine = [r for r in got if r["query_id"] == qid]
        assert sorted(r["rank"] for r in mine) == [1, 2, 3, 4, 5]
        assert all(isinstance(r["vec_id"], str) and r["vec_id"] in ids for r in mine)
        assert next(r["vec_id"] for r in mine if r["rank"] == 1) == qid  # self first


def test_release_cached_unpersists_intermediates(spark, docs):
    """The near-dup operators persist intermediates the lazy result needs;
    release_cached(result) frees them after materialization (the long-lived
    driver contract)."""
    from otel_semconvprocessor_spark.operators.dedup import release_cached

    res = minhash_lsh_pairs(docs, threshold=0.5)
    res.count()  # materialize
    deps = res._cached_deps
    assert deps and all(d.storageLevel.useMemory or d.storageLevel.useDisk for d in deps)
    release_cached(res)
    assert all(not (d.storageLevel.useMemory or d.storageLevel.useDisk) for d in deps)


def test_sig_sql_matches_column_api(spark, sf_dir):
    """Round-6: the SQL-string signature builder must produce bit-identical
    signatures to the Column-API lsh_signature (same fold order, same
    casts, round-trip float literals)."""
    from pyspark.sql import functions as F

    from otel_semconvprocessor_spark.operators.similarity import (
        _sig_sql,
        hyperplanes,
        lsh_signature,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planes = hyperplanes(64, 8, seed="lsh-0")
    both = emb.select(
        lsh_signature(F.col("embedding"), planes).alias("api"),
        F.expr(_sig_sql("embedding", planes)).alias("sql"),
    )
    assert both.filter(F.col("api") != F.col("sql")).count() == 0
    assert both.count() > 0
