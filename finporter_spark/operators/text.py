"""Text-analysis operators for training-data pipelines (SURVEY §2B L4):
language ID, token counting, document fingerprinting, BM25.

Everything is built-in SQL functions over the ``documents`` table — fully
JVM-side, oracle-checkable in DuckDB, and map-only (no shuffle): these run
at input bandwidth at any scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from finporter_spark.operators.dedup import normalized_text

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "fr": ("le", "la", "et", "les", "des", "un", "une"),
    "es": ("el", "la", "los", "las", "y", "de", "que"),
    "de": ("der", "die", "das", "und", "ein", "nicht"),
}

# the English stopwords l4's stopword ratio counts
STOPWORDS_EN = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# BPE-ish token pattern: word pieces OR single non-space symbols.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokens of normalized text."""
    return F.split(normalized_text(col), " ")


def token_count(col: Column, mode: str = "regex") -> Column:
    """Token count: 'ws' = whitespace tokens; 'regex' = BPE-ish pieces."""
    if mode == "ws":
        return F.size(tokens(col))
    return F.regexp_count(col, F.lit(TOKEN_RE))


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def language_id(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Stopword-marker language ID: argmax of per-language marker hits;
    'und' when nothing matched. Deterministic tie-break by language code
    order (sorted)."""
    toks = tokens(F.col(text_col))
    hit_cols = {lang: _marker_hits(toks, ms) for lang, ms in LANG_MARKERS.items()}
    best = F.greatest(*hit_cols.values())
    pred = F.lit("und")
    # reversed sorted order so earlier languages win ties via later override
    for lang in sorted(hit_cols, reverse=True):
        pred = F.when(
            (hit_cols[lang] > 0) & (hit_cols[lang] == best), F.lit(lang)
        ).otherwise(pred)
    return df.withColumn(out_col, pred)


def fingerprint(col: Column) -> Column:
    """Order-insensitive document fingerprint: sha256 over the sorted
    distinct token bag. Stable under token reordering — the classic
    shingle-free fingerprint for exact bag-of-words duplicates."""
    return F.sha2(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))), 256
    )


def bm25_scores(
    df: DataFrame,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 relevance of every document against a bag of query
    terms — the retrieval scorer a corpus-curation pipeline uses for
    keyword-targeted subsetting (and the exact baseline an ANN/embedding
    retriever is judged against).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)   (the +1 'plus' variant,
    always positive).

    Scale shape: tokens are FILTERED to the (tiny, broadcast-literal)
    query vocabulary before the (doc,term) aggregation, so the shuffle
    carries only query-matched postings — the inverted-index slice, not
    the corpus. N/avgdl/df are scalar- or vocabulary-sized aggregates
    joined back by broadcast. No Python in the plan.

    Emits one row per document with ≥1 matched term: (id, n_matched,
    score). Callers wanting top-k order by (score desc, id) — ties are
    real when documents share term statistics.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks_col = tokens(F.col(text_col))
    # ONE tokenize pass (optimization round 2): dl and tf previously
    # each re-ran the tokenize regex over the corpus (2x the hottest
    # CPU kernel at scale — guide §1.2 per-task work). This base pins
    # (id, doc length, query-matched tokens) from a single pass; the
    # matched array is the inverted-index slice (usually empty), so
    # the materialized bytes are barely more than the old dl pin.
    base = df.select(
        F.col(id_col),
        F.size(toks_col).cast("double").alias("_dl"),
        F.filter(toks_col, lambda t: F.array_contains(terms, t)).alias(
            "_mt"
        ),
    ).localCheckpoint(eager=False)
    dl = base.select(id_col, "_dl")
    stats = dl.agg(
        F.count("*").cast("double").alias("_n_docs"),
        F.avg("_dl").alias("_avgdl"),
    )
    tf = (
        base.select(id_col, F.explode("_mt").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("double").alias("_tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("_df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)  # corpus-sized: keyed shuffle, NOT broadcast
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            "term",
            (
                F.log(
                    (F.col("_n_docs") - F.col("_df") + 0.5)
                    / (F.col("_df") + 0.5)
                    + 1.0
                )
                * (F.col("_tf") * (k1 + 1.0))
                / (
                    F.col("_tf")
                    + k1
                    * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
                )
            ).alias("_s"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_matched"),
        F.sum("_s").cast("double").alias("bm25"),
    )
