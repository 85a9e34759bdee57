"""Text-analysis operators for training-data pipelines over the ``documents``
table: token counting, quality scoring, language-ID heuristic, shingling and
MinHash fingerprints.

All pure Column expressions (JVM-side, codegen-fused) — these run per-row over
10^12 documents, so no Python in the hot path.  Cross-engine reproducibility:
hashes are md5-based (identical hex in Spark and DuckDB), so every operator
here is DuckDB-oracle checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "ws_tokens",
    "ws_token_count",
    "regex_token_count",
    "stopword_ratio",
    "mean_token_len",
    "lang_id",
    "word_shingles",
    "minhash_signature",
    "STOPWORDS",
    "LANG_MARKERS",
]

# a small, fixed stopword inventory (order matters only for docs)
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# marker words per language for the n-gram/stopword-hit language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "a", "is"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "que", "los", "es"],
    "zh": ["的", "是", "了", "在", "我"],
}


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def ws_tokens(text: Column | str) -> Column:
    """Whitespace tokens; empty/blank text -> empty array (Go Fields-like)."""
    t = F.trim(_as_col(text))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def _tokens_or(text: Column | str | None, tokens: Column | None) -> Column:
    """Catalyst does not CSE the trim+split across when-branches, HOF lambda
    bodies or separate aggregate expressions — callers combining several
    token-based metrics should stage ``ws_tokens`` once as a projected column
    and pass it via ``tokens=`` (same fix as the round-1 dedup staging)."""
    if tokens is not None:
        return tokens
    assert text is not None, "pass either text or tokens"
    return ws_tokens(text)


def ws_token_count(text: Column | str) -> Column:
    return F.size(ws_tokens(text))


def regex_token_count(text: Column | str) -> Column:
    """BPE-ish pre-tokenizer count: letter runs, digit runs, single
    punctuation marks — the usual GPT-2-style split shape."""
    return F.size(
        F.regexp_extract_all(_as_col(text), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    )


def stopword_ratio(text: Column | str | None = None, *, tokens: Column | None = None) -> Column:
    words = _tokens_or(text, tokens)
    hits = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    n = F.size(words)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def mean_token_len(tokens: Column) -> Column:
    """Mean length of the staged ``ws_tokens`` column ``tokens``."""
    n = F.size(tokens)
    total = F.aggregate(tokens, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def _marker_hits(words: Column, ms: list[str]) -> Column:
    # NB: bind the marker list via a factory, NOT a lambda default argument —
    # pyspark treats a 2-arg lambda in F.filter as (element, index) and would
    # silently pass the index column as `ms`.
    return F.size(F.filter(words, lambda w: w.isin(ms)))


def lang_id(text: Column | str) -> Column:
    """Stopword-hit language heuristic as a single Column expression: argmax
    of per-language marker counts, deterministic tie-break by the fixed
    language order, no hits -> 'und'.

    The argmax references each score ~3x; codegen subexpression elimination
    shares the token/score subtrees within this one expression tree, so a
    single lang_id column needs no staging (measured at 400k rows: 2.1s vs
    2.8s for scores staged as projected columns)."""
    words = ws_tokens(text)
    scores = {lang: _marker_hits(words, ms) for lang, ms in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # reversed so the FIRST language in dict order wins ties
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def word_shingles(text: Column | str) -> Column:
    """Word 3-gram shingles: ['a b c', 'b c d', ...]; < 3 words -> whole text
    as the single shingle (so short docs still fingerprint)."""
    words = ws_tokens(text)
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(" ", *[F.try_element_at(words, i + j) for j in range(3)]),
    )
    return F.when(n >= 3, grams).otherwise(F.array(F.trim(_as_col(text))))


def minhash_signature(shingles: Column, num_hashes: int = 8) -> Column:
    """MinHash signature as an array of lexicographic-min md5 hex digests,
    one per salted hash family.  Lexicographic min over a uniform hash is a
    valid min-wise permutation, and md5 hex compares identically in Spark,
    DuckDB and Python — cross-engine reproducible by construction.
    Empty shingle set -> NULL components."""

    def salted_min(salt: str) -> Column:
        # factory-bound salt (see lang_id note: no default-arg lambdas here)
        return F.array_min(F.transform(shingles, lambda s: F.md5(F.concat(s, F.lit(salt)))))

    return F.array(*[salted_min(f"#{i}") for i in range(num_hashes)])
