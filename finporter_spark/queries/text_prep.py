"""Training-data preparation over the documents corpus: dedup (exact,
MinHash, SimHash, containment, span, edit distance), quality and
language signals, tokenization (BPE), chunking and packing,
decontamination, sampling, redaction, BM25 ranking and the corpus
curation pipelines (pipe1, pipe2, pipe4, pipe6, pipe8).

Tokenization on the oracle side always goes through ``catalog._TOKS``,
so every operator here agrees with DuckDB on what a token is. Sampling
buckets use md5 (identical hex in Spark and DuckDB).
"""

from __future__ import annotations

import os

from pyspark.sql import Window, functions as F

from finporter_spark.operators.dedup import (
    exact_dedup,
    load_or_build_signatures,
    minhash_near_duplicates,
    normalized_text,
    shingles,
    simhash_near_duplicates,
)
from finporter_spark.operators.prep import (
    chunk_documents,
    decontaminate,
    fuzzy_decontaminate,
    pack_sequences,
    redact,
    repeated_span_coverage,
    repetition_profile,
    sample_bucket,
    span_dedup_stats,
)
from finporter_spark.operators.scale import global_rank, source_fingerprint
from finporter_spark.operators.text import (
    LANG_MARKERS,
    TOKEN_RE,
    bm25_scores,
    fingerprint,
    language_id,
    token_count,
    tokens,
)
from finporter_spark.queries.catalog import (
    CATALOG,
    _TOKS,
    _t,
    query,
)
from finporter_spark.queries.staging import io_dir as _io_dir


# =====================================================================
# L — LLM-data-pipeline operators
# =====================================================================

@query(
    "l1_exact_dedup",
    r"""
    SELECT min(doc_id) AS doc_id, content_hash FROM (
      SELECT doc_id,
             sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
      FROM documents
    ) GROUP BY content_hash
    """,
)
def l1_exact_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id")


# --- l2 deterministic-oracle generators -----------------------------
# The md5 hash family (operators/dedup.md5_long) is reproducible in
# DuckDB SQL, so the WHOLE MinHash-LSH / SimHash pipeline — signatures,
# banding, candidate join, verify — can be re-stated as a CTE chain and
# the approximate operators graded by FULL value hash (the a19 KMV
# pattern: approximate ≠ unhashable). Accuracy vs true Jaccard/Hamming
# stays a pytest recall/threshold concern; the oracle gates that both
# engines compute the SAME sketch bit-for-bit.


def _l2_shingles_sql(n: int = 3) -> str:
    """DuckDB mirror of operators.dedup.shingles (word n-grams)."""
    join = " || ' ' || ".join(
        f"t[i+{j}]" if j else "t[i]" for j in range(n)
    )
    return (
        f"list_transform(generate_series(1, greatest(len(t)-{n - 1}, 0)),"
        f" i -> {join})"
    )


def _md5l(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def _l2_sig_ctes(k: int = 32, shingle_n: int = 3) -> str:
    """The shared signature CTE chain (tk/sh/hs/sig) — DuckDB mirror of
    operators.dedup.minhash_signatures with hash_family='md5'. Reused
    by the l2 near-dup and l20 fuzzy-decontamination oracles."""
    members = ",\n             ".join(
        "MIN(%s) AS h%d" % (_md5l(f"CAST(shh AS VARCHAR) || ':{i}'"), i)
        for i in range(k)
    )
    return f"""tk AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id, unnest({_l2_shingles_sql(shingle_n)}) AS sh FROM tk
    ), hs AS (
      SELECT doc_id, {_md5l('sh')} AS shh FROM sh
    ), sig AS (
      SELECT doc_id, {members}
      FROM hs GROUP BY doc_id
    )"""


def _l2_band_union(k: int = 32, bands: int = 8) -> str:
    """DuckDB mirror of operators.dedup.band_hash over the sig CTE."""
    rows = k // bands
    return "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band_id, md5(concat_ws(':', "
        + ", ".join(
            f"CAST(h{b * rows + j} AS VARCHAR)" for j in range(rows)
        )
        + ")) AS bh FROM sig"
        for b in range(bands)
    )


def _l2_eq_sum(k: int = 32, a: str = "sa", b: str = "sb") -> str:
    return " + ".join(
        f"(CASE WHEN {a}.h{i} = {b}.h{i} THEN 1 ELSE 0 END)"
        for i in range(k)
    )


def _l2_minhash_oracle(
    k: int = 32, bands: int = 8, thr: float = 0.5, shingle_n: int = 3
) -> str:
    eq = _l2_eq_sum(k)
    return f"""
    WITH {_l2_sig_ctes(k, shingle_n)}, band AS (
      {_l2_band_union(k, bands)}
    ), pr AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM band a JOIN band b
        ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, est_jaccard FROM (
      SELECT p.id_a, p.id_b, ({eq}) / {float(k)!r} AS est_jaccard
      FROM pr p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b
    ) WHERE est_jaccard >= {thr!r}
    """


def _l2_simhash_oracle(
    bits: int = 60,
    block_bits: int = 15,
    max_hamming: int = 3,
    shingle_n: int = 3,
) -> str:
    n_blocks = bits // block_bits
    mask = (1 << block_bits) - 1
    votes = ",\n             ".join(
        f"SUM((h >> {i}) & 1) AS c{i}" for i in range(bits)
    )
    fp = "\n           + ".join(
        f"((CASE WHEN 2*c{i} > n THEN CAST(1 AS BIGINT) ELSE 0 END) << {i})"
        for i in range(bits)
    )
    block_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, fp, {b} AS bi, (fp >> {b * block_bits}) & {mask}"
        f" AS bv FROM fp"
        for b in range(n_blocks)
    )
    return f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct({_l2_shingles_sql(shingle_n)})) AS sh
      FROM tk
    ), hs AS (
      SELECT doc_id, {_md5l('sh')} AS h FROM sh
    ), v AS (
      SELECT doc_id, COUNT(*) AS n,
             {votes}
      FROM hs GROUP BY doc_id
    ), fp AS (
      SELECT doc_id,
           {fp} AS fp
      FROM v
    ), bl AS (
      {block_selects}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.fp AS fa, b.fp AS fb
      FROM bl a JOIN bl b
        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
      FROM cand
    ) WHERE hamming <= {max_hamming}
    """


@query("l2_minhash_near_dup", _l2_minhash_oracle())
def l2_minhash_near_dup(spark, sf_dir):
    """MinHash-LSH near-dup over the persisted signature table: the
    signature pass runs once per (corpus fingerprint, params) and lands
    as parquet dataset state (operators/dedup.load_or_build_signatures);
    steady-state cost is the banded self-join over a signature scan.

    Hash family is md5 (operators/dedup.md5_long) so the signatures —
    and therefore the exact pair set and estimates — are bit-identical
    in DuckDB: the oracle replays signatures -> banding -> verify as a
    CTE chain and the gate is a full value hash. Recall vs true Jaccard
    remains pytest's concern (tests/test_recall_sf01.py)."""
    d = _t(spark, sf_dir, "documents")
    sigs = load_or_build_signatures(
        d,
        cache_path=_io_dir(sf_dir, "l2_sigs_md5_n3_k32"),
        fingerprint=source_fingerprint(
            os.path.join(sf_dir, "documents.parquet")
        ),
        text_col="text", id_col="doc_id", shingle_n=3, num_hashes=32,
        hash_family="md5",
    )
    return minhash_near_duplicates(
        d, "text", "doc_id", shingle_n=3, num_hashes=32, bands=8,
        jaccard_threshold=0.5, signatures=sigs, hash_family="md5",
    )


@query("l2_simhash_near_dup", _l2_simhash_oracle())
def l2_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup on the md5 (60-bit) fingerprint family: same
    pigeonhole blocking as the 64-bit xxhash64 default (4 blocks >
    max_hamming=3), but the fingerprints are reproducible in DuckDB so
    the blocked join's exact output is value-hash gated."""
    d = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        d, "text", "doc_id", bits=60, max_hamming=3, block_bits=15,
        hash_family="md5",
    )


@query(
    "l4_quality_score",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INT) AS n_tokens,
           CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS BIGINT)
             / CAST(NULLIF(len({_TOKS}), 0) AS DOUBLE) AS mean_token_len,
           CAST(len(list_filter({_TOKS},
                t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS INT)
             / CAST(NULLIF(len({_TOKS}), 0) AS DOUBLE) AS stopword_ratio
    FROM documents
    """,
)
def l4_quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    toks = tokens(t)
    n_tok = F.size(toks)
    stop = F.array(
        *[F.lit(s) for s in ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")]
    )
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        (
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
            / F.nullif(n_tok, F.lit(0)).cast("double")
        ).alias("mean_token_len"),
        (
            F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
            / F.nullif(n_tok, F.lit(0)).cast("double")
        ).alias("stopword_ratio"),
    )


def _lang_hits_sql(markers) -> str:
    inlist = ",".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_TOKS}, t -> t IN ({inlist})))"


@query(
    "l5_language_id",
    f"""
    WITH h AS (
      SELECT doc_id, lang,
             {_lang_hits_sql(LANG_MARKERS['en'])} AS en_h,
             {_lang_hits_sql(LANG_MARKERS['fr'])} AS fr_h,
             {_lang_hits_sql(LANG_MARKERS['es'])} AS es_h,
             {_lang_hits_sql(LANG_MARKERS['de'])} AS de_h
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN de_h > 0 AND de_h >= en_h AND de_h >= es_h AND de_h >= fr_h THEN 'de'
                WHEN en_h > 0 AND en_h >= es_h AND en_h >= fr_h THEN 'en'
                WHEN es_h > 0 AND es_h >= fr_h THEN 'es'
                WHEN fr_h > 0 THEN 'fr'
                ELSE 'und' END AS lang_pred
    FROM h
    """,
)
def l5_language_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return language_id(d).select("doc_id", "lang", "lang_pred")


@query(
    "l6_fingerprint",
    f"""
    SELECT doc_id,
           sha256(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fp
    FROM documents
    """,
)
def l6_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@query(
    "l7_token_count",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def l7_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text"), "ws").cast("bigint").alias("n_ws_tokens"),
        token_count(F.col("text"), "regex").cast("bigint").alias("n_bpe_tokens"),
    )


@query(
    "l8_tfidf_top_terms",
    f"""
    WITH tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
      GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank FROM (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) DESC,
                                         tf.term) AS rank
      FROM tf JOIN df USING (term) CROSS JOIN n
    ) WHERE rank <= 3
    """,
)
def l8_tfidf_top_terms(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # document frequency as a window over tf — (doc,term) is unique there,
    # so count(*) == count(distinct doc). One pass; the groupBy+self-join
    # formulation computes the explode->agg subplan twice.
    df_ = F.count("*").over(Window.partitionBy("term"))
    # corpus size as a broadcast 1-row aggregate crossJoined in — keeps
    # the whole query lazy (no driver-side action in the query body)
    n = d.agg(F.count("*").cast("double").alias("_n_docs"))
    tfidf = F.round(F.col("tf") * F.log(F.col("_n_docs") / df_), 6)
    scored = tf.crossJoin(F.broadcast(n)).select(
        "doc_id", "term", tfidf.alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


# =====================================================================
# L9/L10 — exact near-dup pair generation (the brute-force oracles the
# ≈-marked MinHash/SimHash/LSH operators are validated against).
# =====================================================================

# The l9 oracle's shingle sets (l11 clusters the same pairs): distinct
# word 3-grams per document, doc_id < 300.
_L9_SHINGLES = r"""t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents WHERE doc_id < 300
    ), idx AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - 2)) AS i
      FROM t
    ), sh AS (
      SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM idx
    ), s AS (
      SELECT doc_id, list(DISTINCT sh) AS shs FROM sh GROUP BY doc_id
    )"""


@query(
    "l9_ngram_jaccard",
    f"""
    WITH {_L9_SHINGLES}
    SELECT id_l, id_r, round(jaccard, 6) AS jaccard FROM (
      SELECT a.doc_id AS id_l, b.doc_id AS id_r,
             CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
               / len(list_distinct(list_concat(a.shs, b.shs))) AS jaccard
      FROM s a JOIN s b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.5
    """,
    baseline_of="l2_minhash_near_dup",
)
def l9_ngram_jaccard(spark, sf_dir):
    """Exact pairwise word-3-gram Jaccard near-dup pairs on a bounded id
    range. This is the brute-force baseline L2's MinHash approximates;
    at scale the id bound becomes LSH-band blocking (see dedup.py)."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.array_distinct(shingles(F.col("text"), 3)).alias("shs"),
        )
        # materialize the shingle arrays: without a barrier Catalyst
        # inlines the shingle expression into the join output projection
        # and recomputes it per PAIR (measured 15s -> <2s at sf0.01)
        .cache()
    )
    # parallelize the streamed side of the broadcast NLJ: the source is a
    # single small parquet partition, which would serialize the O(n^2)
    # pair scoring onto one core
    a, b = d.alias("a"), d.repartition(32, "doc_id").alias("b")
    jac = F.size(
        F.array_intersect(F.col("a.shs"), F.col("b.shs"))
    ).cast("double") / F.size(F.array_union(F.col("a.shs"), F.col("b.shs")))
    return (
        F.broadcast(a)
        .join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_l"),
            F.col("b.doc_id").alias("id_r"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .withColumn("jaccard", F.round("jaccard", 6))
    )


@query(
    "l6_rolling_hash",
    r"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
               list_transform(
                 string_split_regex(
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ''),
                 c -> CAST(ascii(c) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS rhash
    FROM documents
    """,
)
def l6_rolling_hash(spark, sf_dir):
    """Polynomial rolling-hash document fingerprint (Rabin-Karp shape):
    fold (acc*31 + charcode) mod p over the normalized text. Map-only,
    integer-exact in both engines; complements the set-based sha256
    fingerprint (l6_fingerprint) with an order-sensitive one."""
    d = _t(spark, sf_dir, "documents")
    codes = F.transform(
        F.split(normalized_text(F.col("text")), ""),
        lambda c: F.ascii(c).cast("long"),
    )
    rhash = F.aggregate(
        codes,
        F.lit(7).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
    return d.select("doc_id", rhash.alias("rhash"))


# =====================================================================
# PIPE — composite training-data prep pipeline: the L-operators chained
# the way a real corpus-prep job runs them, as ONE lazy Catalyst plan.
# =====================================================================

def _pipe1_lang_case() -> str:

    return f"""
      SELECT doc_id, n_tokens,
             CASE WHEN de_h > 0 AND de_h >= en_h AND de_h >= es_h AND de_h >= fr_h THEN 'de'
                  WHEN en_h > 0 AND en_h >= es_h AND en_h >= fr_h THEN 'en'
                  WHEN es_h > 0 AND es_h >= fr_h THEN 'es'
                  WHEN fr_h > 0 THEN 'fr'
                  ELSE 'und' END AS lang_pred
      FROM (
        SELECT doc_id, n_tokens,
               {_lang_hits_sql(LANG_MARKERS['en'])} AS en_h,
               {_lang_hits_sql(LANG_MARKERS['fr'])} AS fr_h,
               {_lang_hits_sql(LANG_MARKERS['es'])} AS es_h,
               {_lang_hits_sql(LANG_MARKERS['de'])} AS de_h
        FROM q
      )
    """


def _pipe1_sql() -> str:
    return f"""
    WITH q AS (
      SELECT doc_id, text, CAST(len({_TOKS}) AS INT) AS n_tokens
      FROM documents WHERE len({_TOKS}) >= 10
    ), k AS (
      SELECT min(doc_id) AS doc_id FROM (
        SELECT doc_id,
               sha256(array_to_string(list_sort(list_distinct({_TOKS})), ' '))
                 AS fp
        FROM q
      ) GROUP BY fp
    ), h AS ({_pipe1_lang_case()})
    SELECT k.doc_id, h.n_tokens, h.lang_pred
    FROM k JOIN h ON k.doc_id = h.doc_id
    """


@query("pipe1_training_prep", None)  # oracle attached below (f-string)
def pipe1_training_prep(spark, sf_dir):
    """Composite corpus-prep pipeline: quality gate (token count) ->
    content dedup (bag-of-tokens fingerprint, keep min id) -> language
    annotation — one lazy plan, ONE shuffle (the fingerprint groupBy;
    min_by carries the annotated payload through the dedup so no join
    back is needed). This is the composition shape of a 100 TB
    training-data run: every stage map-only except the single dedup
    exchange on a uniformly distributed 256-bit key."""
    d = _t(spark, sf_dir, "documents")
    q = d.select(
        "doc_id", "text", F.size(tokens(F.col("text"))).alias("n_tokens")
    ).filter(F.col("n_tokens") >= 10)
    enriched = language_id(q, "text").select(
        "doc_id",
        "n_tokens",
        "lang_pred",
        fingerprint(F.col("text")).alias("fp"),
    )
    return (
        enriched.groupBy("fp")
        .agg(
            F.min_by(
                F.struct("doc_id", "n_tokens", "lang_pred"), F.col("doc_id")
            ).alias("s")
        )
        .select("s.doc_id", "s.n_tokens", "s.lang_pred")
    )


CATALOG["pipe1_training_prep"] = (pipe1_training_prep, _pipe1_sql())


@query(
    "l16_repetition_profile",
    r"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ), idx AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      FROM t
    ), g AS (
      SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g FROM idx
    ), pg AS (
      SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g
    ), agg AS (
      SELECT doc_id, SUM(c) AS n,
             SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup, MAX(c) AS mx
      FROM pg GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_ngrams,
           COALESCE(CAST(dup AS DOUBLE) / n, 0.0) AS dup_frac,
           COALESCE(CAST(mx AS DOUBLE) / n, 0.0) AS top_frac
    FROM t LEFT JOIN agg USING (doc_id)
    """,
)
def l16_repetition_profile(spark, sf_dir):
    """L16: intra-document repetition signals (Gopher/MassiveText rule
    family — repeated-n-gram mass marks boilerplate and degenerate
    generations). Exact: duplicate-occurrence and top-gram fractions
    over word 3-grams; the oracle recomputes both, including the
    no-gram short-doc zeros."""
    return repetition_profile(
        _t(spark, sf_dir, "documents"), "text", "doc_id", ngram_n=3
    )


@query(
    "l17_pack_sequences",
    r"""
    WITH d AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 64 AS shard,
             len(string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                                                  'g')), ' ')) AS n_toks_doc
      FROM documents
    ), o AS (
      SELECT doc_id, shard, n_toks_doc,
             CAST(COALESCE(SUM(n_toks_doc) OVER (
                    PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tok_off
      FROM d
    ), e AS (
      SELECT doc_id, shard, n_toks_doc, tok_off,
             unnest(generate_series(tok_off // 512,
                    (tok_off + greatest(n_toks_doc, 1) - 1) // 512)) AS seq_id
      FROM o
    )
    SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(greatest(seq_id * 512 - tok_off, 0) AS BIGINT)
             AS doc_tok_start,
           CAST(least((seq_id + 1) * 512 - tok_off, n_toks_doc)
                - greatest(seq_id * 512 - tok_off, 0) AS BIGINT) AS n_toks
    FROM e
    """,
)
def l17_pack_sequences(spark, sf_dir):
    """L17: GPT-style sequence packing — concatenate docs in id order
    and cut every 512 tokens, docs spanning boundaries (no padding
    waste). Sharded by md5 bucket so the running-offset window cumsum
    is 64-way parallel instead of one global serial window (the same
    sharding a multi-worker loader applies); the oracle reproduces the
    shard hash, the cumsum, and the boundary-crossing splits exactly."""
    return pack_sequences(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        seq_tokens=512, shards=64,
    )


@query(
    "pipe2_llm_corpus",
    r"""
    WITH surv AS (
      SELECT min(doc_id) AS doc_id FROM (
        SELECT doc_id,
               sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
        FROM documents
      ) GROUP BY h
    ),
    sd AS (
      SELECT d.doc_id, d.text FROM documents d JOIN surv USING (doc_id)
    ),
    t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM sd
    ),
    idx AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      FROM t
    ),
    g AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g FROM idx),
    pg AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g),
    rep AS (
      SELECT doc_id, SUM(c) AS n,
             SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
      FROM pg GROUP BY doc_id
    ),
    kept AS (
      SELECT t.doc_id, len(t.toks) AS n_toks_doc
      FROM t LEFT JOIN rep USING (doc_id)
      WHERE COALESCE(CAST(dup AS DOUBLE) / n, 0.0) <= 0.02
    ),
    sh AS (
      SELECT doc_id, n_toks_doc,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 16 AS shard
      FROM kept
    ),
    o AS (
      SELECT doc_id, shard, n_toks_doc,
             CAST(COALESCE(SUM(n_toks_doc) OVER (
                    PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tok_off
      FROM sh
    ),
    e AS (
      SELECT doc_id, shard, n_toks_doc, tok_off,
             unnest(generate_series(tok_off // 256,
                    (tok_off + greatest(n_toks_doc, 1) - 1) // 256)) AS seq_id
      FROM o
    )
    SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           CAST(greatest(seq_id * 256 - tok_off, 0) AS BIGINT)
             AS doc_tok_start,
           CAST(least((seq_id + 1) * 256 - tok_off, n_toks_doc)
                - greatest(seq_id * 256 - tok_off, 0) AS BIGINT) AS n_toks
    FROM e
    """,
)
def pipe2_llm_corpus(spark, sf_dir):
    """Composite LLM-corpus pipeline, end to end: exact dedup (sha256
    keep-min) -> intra-doc repetition gate (Gopher-style dup-ngram mass
    <= 2%, calibrated to bite on the synthetic corpus) -> GPT-style
    packing of the survivors into 256-token sequences across 16 shards.
    One lazy plan; every stage is the already-oracle-checked operator
    (l1 + l16 + l17) composed, and the pipeline oracle is their SQL
    composition — so the hash match proves the STAGES COMPOSE, not just
    that each works alone. Shuffle budget: dedup groupBy + survivor
    join + repetition pair + shard window = all keyed on doc/hash,
    map-combined, no broadcast of anything data-sized."""
    d = _t(spark, sf_dir, "documents")
    # pin the ID-ONLY stage outputs (guide §2.4, the narrow-subtree
    # variant): unpinned, the dedup agg + survivor join subtree was
    # re-derived per consumer (8 repeated document scans in the
    # round-15 plan sweep). Each pin is one long per surviving doc;
    # the fat text column rides only the final kept join.
    surv_ids = (
        exact_dedup(d, "text", "doc_id")
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    surv = surv_ids.join(d, "doc_id")
    prof = repetition_profile(surv, "text", "doc_id", ngram_n=3)
    # prof covers survivors only, and doc_id is unique in documents, so
    # joining the gate-passing ids straight back to d equals the old
    # surv-side join
    kept_ids = (
        prof.filter(F.col("dup_frac") <= 0.02)
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    kept = kept_ids.join(d, "doc_id")
    return pack_sequences(kept, "text", "doc_id", seq_tokens=256, shards=16)


# =====================================================================
# PIPE4: hybrid retrieval — BM25 ∪ embedding cosine, fused with
# reciprocal-rank fusion (the RAG retrieval stack as one declarative
# plan)
# =====================================================================

# The BM25 query vocabulary (l24, pipe4) and its oracle CTEs: per-doc
# token lengths, corpus stats, and tf/df over the vocabulary.
_BM25_TERMS = ("spark", "table", "join", "fast", "query", "window")
_BM25_CTES = f"""toks AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), dl AS (
      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM toks
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
      WHERE term IN ('spark','table','join','fast','query','window')
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
    )"""

_P4_QVEC = 7  # query = the embedding of vec_id 7 (deterministic, tiny)
_P4_K = 100  # per-branch candidate depth
_P4_RRF = 60  # the standard RRF dampening constant


@query(
    "pipe4_hybrid_retrieval",
    f"""
    WITH {_BM25_CTES}, lex AS (
      SELECT tf.doc_id,
             round(SUM(
               ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))
             ), 6) AS score
      FROM tf JOIN dfreq f USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ), lex_top AS (
      SELECT doc_id, score FROM lex ORDER BY score DESC, doc_id LIMIT {_P4_K}
    ), lex_rank AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS r
      FROM lex_top
    ), v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), qv AS (
      SELECT e AS qe FROM v WHERE vec_id = {_P4_QVEC}
    ), sem AS (
      SELECT vec_id AS doc_id,
             round(list_dot_product(e, qe)
                   / (sqrt(list_dot_product(e, e))
                      * sqrt(list_dot_product(qe, qe))), 6) AS score
      FROM v CROSS JOIN qv WHERE vec_id <> {_P4_QVEC}
    ), sem_top AS (
      SELECT doc_id, score FROM sem ORDER BY score DESC, doc_id LIMIT {_P4_K}
    ), sem_rank AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS r
      FROM sem_top
    )
    SELECT doc_id,
           CAST(l.r AS BIGINT) AS lex_rank,
           CAST(s.r AS BIGINT) AS sem_rank,
           CAST(COALESCE(1.0 / ({_P4_RRF} + l.r), 0)
                + COALESCE(1.0 / ({_P4_RRF} + s.r), 0) AS DOUBLE) AS rrf
    FROM lex_rank l FULL OUTER JOIN sem_rank s USING (doc_id)
    ORDER BY rrf DESC, doc_id LIMIT 50
    """,
)
def pipe4_hybrid_retrieval(spark, sf_dir):
    """PIPE4: hybrid retrieval — the RAG stack as one declarative plan.
    Lexical branch: l24's BM25 against the query vocabulary. Semantic
    branch: embedding cosine against a fixed query vector (the vec_id=7
    embedding — a 1-row broadcast, the deterministic stand-in for an
    encoder call). Each branch keeps its top-K via ``orderBy().limit``
    (TakeOrderedAndProject: per-partition heaps + driver merge of K —
    never a global sort shuffle), ranks WITHIN the bounded K-row
    candidate list, and reciprocal-rank fusion joins the two lists
    full-outer: rrf = Σ 1/(60+rank). Scores are rounded to 6 dp before
    ranking (the l22 determinism canon) so both engines break ties on
    doc_id identically; ranks are ints, so the fused score is exact
    arithmetic cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    lex = bm25_scores(docs, list(_BM25_TERMS)).select(
        "doc_id", F.round("bm25", 6).alias("score")
    )
    lex_top = lex.orderBy(F.desc("score"), "doc_id").limit(_P4_K)
    w = Window.orderBy(F.desc("score"), "doc_id")  # bounded: K rows
    lex_rank = lex_top.select(
        "doc_id", F.row_number().over(w).alias("lex_rank")
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == _P4_QVEC).select(
            F.col("e").alias("qe")
        )
    )
    dot = F.aggregate(
        F.zip_with("e", "qe", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(
            F.zip_with(c, c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    sem = (
        emb.filter(F.col("vec_id") != _P4_QVEC)
        .crossJoin(qv)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(dot / (nrm("e") * nrm("qe")), 6).alias("score"),
        )
    )
    sem_top = sem.orderBy(F.desc("score"), "doc_id").limit(_P4_K)
    sem_rank = sem_top.select(
        "doc_id", F.row_number().over(w).alias("sem_rank")
    )

    fused = (
        lex_rank.join(sem_rank, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.col("lex_rank").cast("bigint").alias("lex_rank"),
            F.col("sem_rank").cast("bigint").alias("sem_rank"),
            (
                F.coalesce(
                    1.0 / (_P4_RRF + F.col("lex_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    1.0 / (_P4_RRF + F.col("sem_rank")), F.lit(0.0)
                )
            ).cast("double").alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(50)


@query(
    "l27_frequency_spectrum",
    f"""
    WITH tf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_TOKS}) AS term FROM documents)
      GROUP BY term
    )
    SELECT CASE WHEN freq >= 100 THEN 100 ELSE freq END AS freq_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(freq) AS BIGINT) AS n_occurrences
    FROM tf
    GROUP BY 1
    """,
)
def l27_frequency_spectrum(spark, sf_dir):
    """L27: token frequency spectrum — how many distinct terms occur k
    times (k capped at 100+), the Zipf/Heaps diagnostic a corpus audit
    reads before trusting dedup or tokenizer decisions (a hapax-heavy
    spectrum flags OCR noise; a truncated tail flags over-dedup). Two
    map-combinable aggregations: term counts (the l8/l21 shuffle
    shape), then a vocabulary-sized regroup on the capped frequency."""
    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    return (
        tf.select(
            F.when(F.col("freq") >= 100, F.lit(100))
            .otherwise(F.col("freq"))
            .cast("bigint")
            .alias("freq_bucket"),
            "freq",
        )
        .groupBy("freq_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.sum("freq").cast("bigint").alias("n_occurrences"),
        )
    )


@query(
    "l12_chunk_documents",
    """
    SELECT doc_id,
           CAST((start - 1) // 64 AS BIGINT) AS chunk_id,
           substr(text, CAST(start AS BIGINT), 80) AS chunk_text,
           CAST(length(substr(text, CAST(start AS BIGINT), 80)) AS INT)
             AS chunk_chars
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text), 1), 64))
               AS start
      FROM documents
    )
    """,
)
def l12_chunk_documents(spark, sf_dir):
    """Context-window packing: 80-char chunks, 16-char overlap (stride
    64). Map-only sequence+posexplode+substring — the pre-tokenization
    splitter a training pipeline runs over every document."""
    return chunk_documents(
        _t(spark, sf_dir, "documents"),
        chunk_chars=80,
        overlap=16,
    ).withColumn("chunk_id", F.col("chunk_id").cast("bigint"))


@query(
    "l13_decontaminate",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), grams AS (
      SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 4)) AS i
        FROM toks
      )
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 37 = 0
    ), contaminated AS (
      SELECT DISTINCT g.doc_id
      FROM grams g JOIN bench b USING (gram)
      WHERE g.doc_id % 37 <> 0
    )
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id % 37 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
)
def l13_decontaminate(spark, sf_dir):
    """Eval-set contamination removal: the held-out set is every 37th
    document; a training document is dropped iff it shares any word
    5-gram with that set. Gram probe is a semi-join against the (small,
    broadcastable) benchmark gram set; survivors anti-join back."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    return decontaminate(train, bench, ngram_n=5).select("doc_id", "lang")


def _l20_oracle() -> str:

    return f"""
    WITH {_l2_sig_ctes()}, band AS (
      {_l2_band_union()}
    ), cand AS (
      SELECT DISTINCT t.doc_id AS t_id, b.doc_id AS b_id
      FROM band t JOIN band b
        ON t.band_id = b.band_id AND t.bh = b.bh
      WHERE t.doc_id % 37 <> 0 AND b.doc_id % 37 = 0
    ), contaminated AS (
      SELECT DISTINCT c.t_id AS doc_id
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.t_id
      JOIN sig sb ON sb.doc_id = c.b_id
      WHERE ({_l2_eq_sum()}) / 32.0 >= 0.5
    )
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id % 37 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """


@query("l20_fuzzy_decontaminate", _l20_oracle())
def l20_fuzzy_decontaminate(spark, sf_dir):
    """Near-dup-aware decontamination (l13's fuzzy sibling): a training
    doc is dropped when its estimated Jaccard vs any benchmark doc is
    ≥ 0.5, candidates via MinHash band collisions. Reuses the SAME
    persisted signature table as l2 (one signature pass per corpus
    snapshot serves dedup, clustering, and decontamination), split by
    the benchmark predicate.

    Round 9: md5 hash family (operators/dedup.md5_long) — the sketch,
    and therefore the exact drop set, is bit-identical in DuckDB, so
    the oracle replays signatures -> banding -> verify -> anti-join and
    the gate is a full value hash. Recall vs exact Jaccard remains the
    pytest threshold test."""
    docs = _t(spark, sf_dir, "documents")
    sigs = load_or_build_signatures(
        docs,
        cache_path=_io_dir(sf_dir, "l2_sigs_md5_n3_k32"),
        fingerprint=source_fingerprint(
            os.path.join(sf_dir, "documents.parquet")
        ),
        text_col="text", id_col="doc_id", shingle_n=3, num_hashes=32,
        hash_family="md5",
    )
    bench_pred = F.col("doc_id") % 37 == 0
    survivors = fuzzy_decontaminate(
        docs.filter(~bench_pred),
        docs.filter(bench_pred),
        shingle_n=3,
        num_hashes=32,
        bands=8,
        est_jaccard_threshold=0.5,
        signatures=sigs.filter(~bench_pred),
        bench_signatures=sigs.filter(bench_pred),
        hash_family="md5",
    )
    return survivors.select("doc_id", "lang")


@query(
    "l14_redact_ids",
    r"""
    SELECT c_custkey,
           regexp_replace(
             regexp_replace(c_name || ' seg:' || c_mktsegment,
                            'Customer#\d+', '[ID]', 'g'),
             'seg:[A-Z]+', 'seg:[SEG]', 'g') AS contact,
           CAST(len(regexp_extract_all(c_name || ' seg:' || c_mktsegment,
                                       'Customer#\d+'))
                + len(regexp_extract_all(c_name || ' seg:' || c_mktsegment,
                                         'seg:[A-Z]+')) AS BIGINT)
             AS n_redactions
    FROM customer
    """,
)
def l14_redact_ids(spark, sf_dir):
    """Identifier scrubbing: ordered regex redaction with per-row match
    counts (operators/prep.redact) — the PII-removal shape (emails,
    phone numbers, SSNs are the same operator with different patterns,
    kept to the portable Java∩RE2 regex subset). Pure codegen regex,
    map-only."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.col("c_name"), F.lit(" seg:"), F.col("c_mktsegment")
        ).alias("contact"),
    )
    return redact(
        c,
        "contact",
        [(r"Customer#\d+", "[ID]"), (r"seg:[A-Z]+", "seg:[SEG]")],
    ).select("c_custkey", "contact", "n_redactions")


@query(
    "l15_bigram_lm_score",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), b AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - 1)) AS i
            FROM t WHERE len(t) >= 2)
    ), cb AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY w1, w2
    ), cl AS (
      SELECT w1, SUM(c12) AS c1 FROM cb GROUP BY w1
    )
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(LN(cb.c12 / cl.c1)), 6) AS avg_logprob
    FROM b JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
           JOIN cl ON b.w1 = cl.w1
    GROUP BY b.doc_id
    """,
)
def l15_bigram_lm_score(spark, sf_dir):
    """L15: corpus bigram-LM fluency scoring — the classic LM-based
    quality filter for pretraining data (score = mean log P(w2|w1)
    under the corpus's own MLE bigram model; low scorers are
    boilerplate/garbled text). Three grouped passes, all JVM-side:
    bigram counts, left-context totals, then a per-doc average over
    the model join. The model is BROADCAST: it is bounded by V² (and
    in practice by observed bigrams), orders smaller than the corpus,
    so the scoring join is map-side — no shuffle of the exploded
    bigram stream (measured 11.6 s -> 3.9 s at sf1 vs letting the
    planner sort-merge it). At 100 TB you'd prune to a top-V
    vocabulary first — same join shape.
    ln() is libm-dependent in the last ulp, so the per-doc average is
    rounded to 6 dp (the l8 tfidf convention) — summation error is
    ~1e-14, eight orders below the rounding quantum. Docs with <2
    tokens have no bigrams and drop out on both engines."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("t"),
    )
    b = (
        d.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(t[i - 1] AS w1, t[i] AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )
    cb = b.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cl = cb.groupBy("w1").agg(F.sum("c12").alias("c1"))
    model = cb.join(cl, "w1")
    return (
        b.join(F.broadcast(model), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("c12") / F.col("c1"))), 6
            ).alias("avg_logprob"),
        )
    )


@query("l21_bpe_tokenize", None)  # approx operator: non-SQL-expressible merge
def l21_bpe_tokenize(spark, sf_dir):
    """L21: BPE tokenization - the actual subword ids a trainer consumes
    (l7 counts regex tokens; this one produces them). Train = ONE
    corpus-sized word-frequency aggregation, then a vocabulary-sized
    merge loop persisted as dataset state (the IVF-centroid pattern);
    apply = map-only Arrow encode with the merge ranks in the closure
    and per-batch word memoization (Zipf reuse). No SQL engine
    expresses the merge recursion, so this is a declared approx entry:
    rows-only in the driver gate; tests/test_tokenizer.py proves the
    distributed trainer reproduces a pure-Python reference BPE exactly
    (same merges, same tokens) and that decode(encode(x))
    whitespace-roundtrips every document."""
    from finporter_spark.operators.tokenizer import (
        bpe_encode,
        load_or_train_merges,
    )

    d = _t(spark, sf_dir, "documents")
    merges = load_or_train_merges(
        d,
        cache_path=_io_dir(sf_dir, "l21_bpe_m120"),
        fingerprint=source_fingerprint(
            os.path.join(sf_dir, "documents.parquet")
        ),
        n_merges=120,
    )
    return bpe_encode(d, merges).select(
        "doc_id",
        "n_tokens",
        F.concat_ws("", F.slice("tokens", 1, 8)).alias("head_tokens"),
    )


@query(
    "l23_curriculum_sample",
    f"""
    WITH q AS (
      SELECT doc_id,
             CAST(len(list_filter({_TOKS},
                  t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS INT)
               / CAST(NULLIF(len({_TOKS}), 0) AS DOUBLE) AS sr
      FROM documents
    ), b AS (
      SELECT doc_id,
             CASE WHEN sr >= 0.25 THEN 'high'
                  WHEN sr >= 0.12 THEN 'mid'
                  ELSE 'low' END AS bin
      FROM q
    )
    SELECT doc_id, bin FROM b
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            % 10000
          < CASE bin WHEN 'high' THEN 9000 WHEN 'mid' THEN 5000 ELSE 1000 END
    """,
)
def l23_curriculum_sample(spark, sf_dir):
    """L23: curriculum sampling — the quality-weighted acceptance gate a
    pretraining mix applies after dedup: score each doc (l4's stopword
    ratio as the fluency proxy), bin by fixed thresholds, then keep 90%
    of high-, 50% of mid-, 10% of low-quality docs via the same
    md5-bucket draw as o7 (rerun-stable, engine-portable, composable —
    a tighter budget's sample is a subset of a looser one). Scoring +
    binning + draw are all map-side codegen. The cheap md5 gate runs
    FIRST (a bucket >= the max rate can never survive any bin), so 10%
    of docs skip tokenization entirely; the one round-robin exchange
    below only exists because the test file is a single row group — a
    real corpus scan is already thousands of tasks wide, and the
    operator itself never shuffles on a key."""
    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    stop = F.array(
        *[
            F.lit(s)
            for s in ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
        ]
    )
    sr = F.size(F.filter(toks, lambda x: F.array_contains(stop, x))) / F.nullif(
        n_tok, F.lit(0)
    ).cast("double")
    bin_col = (
        F.when(sr >= 0.25, F.lit("high"))
        .when(sr >= 0.12, F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    rate = (
        F.when(F.col("bin") == "high", F.lit(9000))
        .when(F.col("bin") == "mid", F.lit(5000))
        .otherwise(F.lit(1000))
    )
    return (
        d.select("doc_id", "text")
        .filter(sample_bucket(F.col("doc_id")) < 9000)
        .repartition(32)
        .select("doc_id", bin_col.alias("bin"))
        .filter(sample_bucket(F.col("doc_id")) < rate)
    )


@query(
    "l24_bm25_rank",
    f"""
    WITH {_BM25_CTES}
    SELECT tf.doc_id,
           CAST(COUNT(*) AS INT) AS n_matched,
           CAST(SUM(
             ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))
           ) AS DOUBLE) AS bm25
    FROM tf
    JOIN dfreq f USING (term)
    JOIN dl USING (doc_id)
    CROSS JOIN stats s
    GROUP BY tf.doc_id
    """,
)
def l24_bm25_rank(spark, sf_dir):
    """L24: Okapi BM25 keyword relevance over the corpus — the
    lexical-retrieval scorer (and the baseline embedding retrievers are
    judged against). Tokens are filtered to the broadcast-literal query
    vocabulary BEFORE the posting aggregation, so the shuffle carries
    the inverted-index slice, not the corpus; df/N/avgdl are broadcast
    scalars; the dl join is the one corpus-keyed shuffle."""
    return bm25_scores(
        _t(spark, sf_dir, "documents"), list(_BM25_TERMS)
    )


@query(
    "l25_span_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), grams AS (
      SELECT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS gkey
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 7)) AS i
        FROM toks
        WHERE len(toks) >= 8
      )
    ), first_seen AS (
      SELECT gkey, MIN(doc_id) AS first_doc FROM grams GROUP BY gkey
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup,
           CAST(SUM(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS dup_frac,
           (CAST(SUM(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*)) < 0.5 AS keep
    FROM grams g JOIN first_seen f USING (gkey)
    GROUP BY g.doc_id
    """,
)
def l25_span_dedup(spark, sf_dir):
    """L25: repeated-span dedup gate (C4/CCNet style) — a document is
    dropped when ≥50% of its word 8-grams first appeared in a
    lower-id document. Exact span-level sibling of l2's whole-doc
    MinHash: three map-combinable keyed shuffles (fixed-width md5 span
    keys, not gram strings), no driver state."""
    return span_dedup_stats(
        _t(spark, sf_dir, "documents"), ngram_n=8
    )


_L26_STOP = "'the','a','an','and','or','of','to','in','is','it'"
_L26_FEAT = f"""
    feat AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             1.0 AS x0,
             len(toks) / 30.0 AS x1,
             CAST(len(list_filter(toks, t -> t IN ({_L26_STOP}))) AS INT)
               / CAST(NULLIF(len(toks), 0) AS DOUBLE) AS x2,
             CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
               / CAST(NULLIF(len(toks), 0) AS DOUBLE) / 5.0 AS x3
      FROM (SELECT doc_id, lang, {{toks}} AS toks FROM documents)
      WHERE len(toks) > 0
    )"""


def _l26_iter(n: int) -> str:
    """One unrolled GD iteration: mean gradients (6 dp-rounded) from
    weights w{n-1}, then the update CTE w{n}."""
    z = "(w.b*x0 + w.c1*x1 + w.c2*x2 + w.c3*x3)"
    p = f"1.0/(1.0 + exp(-{z}))"
    gs = ", ".join(
        f"round(avg(({p} - y) * x{j}), 6) AS g{j}" for j in range(4)
    )
    return f"""
    g{n} AS (SELECT {gs} FROM feat CROSS JOIN w{n - 1} w),
    w{n} AS (SELECT w.b - 0.5*g.g0 AS b, w.c1 - 0.5*g.g1 AS c1,
                    w.c2 - 0.5*g.g2 AS c2, w.c3 - 0.5*g.g3 AS c3
             FROM w{n - 1} w CROSS JOIN g{n} g)"""


@query(
    "l26_quality_classifier",
    (
        "WITH "
        + _L26_FEAT.replace("{toks}", _TOKS).strip()
        + ",\n    w0 AS (SELECT 0.0 AS b, 0.0 AS c1, 0.0 AS c2, 0.0 AS c3),"
        + ",".join(_l26_iter(i) for i in (1, 2, 3))
        + """
    SELECT doc_id, y AS label,
           round(1.0/(1.0 + exp(-(w.b*x0 + w.c1*x1 + w.c2*x2 + w.c3*x3))), 6)
             AS p_en
    FROM feat CROSS JOIN w3 w
    """
    ),
)
def l26_quality_classifier(spark, sf_dir):
    """L26: the corpus-quality classifier trained IN the engine — batch-
    GD logistic regression (predicting lang='en' from cheap text
    features: token count, stopword ratio, mean token length) where
    every iteration is ONE map-side-combinable mean-gradient aggregate
    and the weight vector is the only driver state (the kmeans/PageRank
    dataset-state pattern; operators/ml.py). Scoring is map-only with
    literal weights. The oracle unrolls the same 3 iterations as CTEs;
    6 dp-rounded mean gradients make both engines' weights
    bit-identical (the l22 determinism canon)."""
    from finporter_spark.operators.ml import logreg_fit, logreg_score

    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    stop = F.array(
        *[
            F.lit(s)
            for s in ("the", "a", "an", "and", "or", "of", "to", "in",
                      "is", "it")
        ]
    )
    feat = (
        d.select(
            "doc_id",
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            F.lit(1.0).alias("x0"),
            (n_tok / F.lit(30.0)).alias("x1"),
            (
                F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
                / F.nullif(n_tok, F.lit(0)).cast("double")
            ).alias("x2"),
            (
                F.aggregate(
                    toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
                )
                / F.nullif(n_tok, F.lit(0)).cast("double")
                / F.lit(5.0)
            ).alias("x3"),
        )
        .filter(n_tok > 0)
        # iters+1 passes read this 5-double projection; materialize once
        .cache()
    )
    w = logreg_fit(feat, ["x0", "x1", "x2", "x3"], "y", lr=0.5, iters=3)
    return logreg_score(
        feat, w, ["x0", "x1", "x2", "x3"], out_col="p_en"
    ).select("doc_id", F.col("y").alias("label"), "p_en")


# =====================================================================
# L28 — containment near-dup pairs (rare-shingle blocking, EXACT)
# =====================================================================

_L28_DF_MAX = 4  # blocking key: shingles appearing in 2..4 docs
_L28_MIN_CONTAINMENT = 0.6


@query(
    "l28_containment_pairs",
    rf"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ), idx AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - 2)) AS i
      FROM t
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
      FROM idx
    ), rare AS (
      SELECT sh FROM sh GROUP BY sh
      HAVING COUNT(*) BETWEEN 2 AND {_L28_DF_MAX}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_l, b.doc_id AS id_r
      FROM sh a JOIN rare USING (sh) JOIN sh b USING (sh)
      WHERE a.doc_id < b.doc_id
    ), sets AS (
      SELECT doc_id, list(DISTINCT sh) AS shs FROM sh GROUP BY doc_id
    )
    SELECT id_l, id_r, round(containment, 6) AS containment FROM (
      SELECT id_l, id_r,
             CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
               / least(len(a.shs), len(b.shs)) AS containment
      FROM cand JOIN sets a ON a.doc_id = id_l
                JOIN sets b ON b.doc_id = id_r
    ) WHERE containment >= {_L28_MIN_CONTAINMENT}
    """,
)
def l28_containment_pairs(spark, sf_dir):
    """L28: EXACT containment near-dup pairs over the WHOLE corpus —
    the scale-safe exact complement to l9 (bounded-id brute force) and
    l2 (MinHash approx). Containment |A∩B| / min(|A|,|B|) is the
    asymmetric measure that catches a document embedded inside a longer
    one (boilerplate wrap, quote-expansion), which Jaccard dilutes.

    Blocking is on RARE shingles (corpus document-frequency 2..4):
    candidate pairs must share at least one discriminative shingle, so
    the self-join fan-out per blocking key is ≤ C(4,2) and total work
    is ∝ the number of rare-shingle collisions — never all-pairs. This
    is exact for any pair sharing a rare shingle; true near-dups with
    ≥60% containment on 3-gram sets share many shingles and those
    shingles' df concentrates at the pair count, so recall of the
    blocked formulation is exhaustive on this corpus (asserted against
    l9's bounded brute force in tests). At 100 TB: two map-combined
    shuffles (shingle df, candidate equi-join) + two keyed joins on
    doc_id; skew-bounded because df ≤ 4 caps every bucket."""
    # materialize the shingle sets ONCE: d feeds five branches (explode,
    # df-filter join x2, set join x2) and the shingle expression would
    # otherwise recompute per branch — the l9 lesson (15s -> 2s there)
    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.array_distinct(shingles(F.col("text"), 3)).alias("shs"),
        )
        .cache()
    )
    sh = d.select("doc_id", F.explode("shs").alias("sh"))
    rare = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _L28_DF_MAX))
        .select("sh")
    )
    rare_sh = sh.join(rare, "sh")
    cand = (
        rare_sh.alias("a")
        .join(rare_sh.alias("b"), "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_l"), F.col("b.doc_id").alias("id_r")
        )
        .distinct()
    )
    sets = d  # (doc_id, shs) — corpus-sized: shuffled joins, no broadcast
    inter = F.size(F.array_intersect(F.col("sa.shs"), F.col("sb.shs")))
    containment = inter.cast("double") / F.least(
        F.size("sa.shs"), F.size("sb.shs")
    )
    from finporter_spark.caching import owns_cache

    out = (
        cand.join(sets.alias("sa"), F.col("id_l") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("id_r") == F.col("sb.doc_id"))
        # filter on the UNROUNDED value (the oracle's WHERE binds to the
        # unrounded subquery column), round only for output
        .filter(containment >= _L28_MIN_CONTAINMENT)
        .select(
            "id_l", "id_r", F.round(containment, 6).alias("containment")
        )
    )
    # the shingle cache pins executor storage until released — tag it so
    # long-lived sessions can free it (caching.release_caches), the
    # quarantine_split convention
    return owns_cache(out, d)


# =====================================================================
# L29 — inverted index materialization (term → postings with positions)
# =====================================================================

_L29_DOC_BOUND = 2000


@query(
    "l29_inverted_index",
    rf"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents WHERE doc_id < {_L29_DOC_BOUND}
    ), p AS (
      SELECT doc_id, unnest(toks) AS term,
             unnest(generate_series(1, len(toks))) AS pos
      FROM t
    ), tf AS (
      SELECT term, doc_id,
             array_to_string(list_sort(list(pos)), ',') AS positions,
             CAST(COUNT(*) AS BIGINT) AS tf
      FROM p WHERE term <> '' GROUP BY 1, 2
    )
    SELECT term, doc_id, positions, tf,
           CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df
    FROM tf
    """,
)
def l29_inverted_index(spark, sf_dir):
    """L29: inverted-index build — the posting-list materialization a
    retrieval/dedup stack runs once per corpus drop: per (term, doc)
    the sorted 1-based positions and term frequency, plus corpus
    document frequency. SKEW-SAFE plan: the posting aggregation is
    keyed on (term, doc_id) — the composite key spreads a Zipf-hot
    term's postings across tasks, where a term-only partitioning (e.g.
    a df window over term) would pin the whole 'the' posting list on
    one task. df then comes from a map-combined vocabulary-sized
    re-aggregation joined back on term — small enough that Catalyst
    broadcasts it (no shuffle of the wide posting rows; at a 100M-term
    vocabulary the same plan degrades gracefully to a shuffled join
    with AQE skew splitting). The postings aggregate is persisted so
    the df branch reuses it rather than re-tokenizing the corpus.
    Plan-asserted: no Window, df agg partial-combined, broadcast
    join-back, and ONE corpus scan. Bounded to
    doc_id < {_L29_DOC_BOUND} by contract (the oracle re-aggregates
    the whole output); the operator itself is corpus-size linear.
    Positions make the index phrase-query-capable, which plain tf
    materialization (l8 TF-IDF) is not."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _L29_DOC_BOUND)
        .select(
            "doc_id",
            F.posexplode(
                F.split(normalized_text(F.col("text")), " ")
            ).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
    )
    from finporter_spark.caching import owns_cache

    # persisted: df is a re-aggregation of the MATERIALIZED postings —
    # without the persist Catalyst column-prunes df_counts into a
    # second full scan+tokenize+explode of the corpus
    tf = d.groupBy("term", "doc_id").agg(
        F.concat_ws(
            ",", F.sort_array(F.collect_list(F.col("pos") + 1))
        ).alias("positions"),
        F.count("*").cast("bigint").alias("tf"),
    ).persist()
    df_counts = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df")
    )
    out = tf.join(df_counts, "term").select(
        "term", "doc_id", "positions", "tf", "df"
    )
    return owns_cache(out, tf)


# =====================================================================
# L32 — cross-source contamination matrix (shared-shingle counts)
# =====================================================================


@query(
    "l32_contamination_matrix",
    f"""
    WITH toks AS (
      SELECT source, {_TOKS} AS toks FROM documents
    ), grams AS (
      SELECT DISTINCT source,
             md5(array_to_string(toks[i:i+7], ' ')) AS g
      FROM (
        SELECT source, toks,
               unnest(generate_series(1, len(toks) - 7)) AS i
        FROM toks WHERE len(toks) >= 8
      )
    ), totals AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams
      GROUP BY source
    ), shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM grams a JOIN grams b
        ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s.source_a, s.source_b, s.n_shared,
           CAST(s.n_shared AS DOUBLE)
             / least(ta.n_grams, tb.n_grams) AS containment
    FROM shared s
    JOIN totals ta ON ta.source = s.source_a
    JOIN totals tb ON tb.source = s.source_b
    """,
)
def l32_contamination_matrix(spark, sf_dir):
    """L32: pairwise cross-source contamination — for every source
    pair, how many distinct word 8-grams they share, and the
    containment ratio (shared / smaller side's distinct-gram count).
    The corpus-level view of l13's train-vs-eval decontamination:
    before mixing sources into a training set, this matrix is how a
    pipeline finds which sources are partial mirrors of each other.

    Plan: explode 8-gram spans keyed by 16-byte md5 digests (the l25
    span machinery), distinct (source, gram) — ONE shuffle that also
    shrinks the data to unique grams per source — then SET compression
    (the j8 shape-compression move): one collect_set agg turns each
    gram into its source SET (bounded by the source domain — a
    config-sized value, 20 here), grams are counted per DISTINCT set
    (a tiny histogram), and source pairs expand from histogram rows
    only. The original gram-keyed self-join expanded Σ s_g² pair rows
    and ramped 19× at the sf1→sf10 decade as gram density pushed s_g
    toward |sources| (measured, DECADE_BENCH); the set-histogram form
    keeps every corpus-sized stage a map-combinable keyed agg and
    re-measured decade-flat. Nothing all-pairs over documents exists
    anywhere in the plan.
    """
    d = _t(spark, sf_dir, "documents")
    n = 8
    toks = d.select(
        "source", tokens(F.col("text")).alias("_toks")
    ).filter(F.size("_toks") >= n)
    grams = toks.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - n),
                lambda i: F.unhex(
                    F.md5(F.concat_ws(" ", F.slice("_toks", i + 1, n)))
                ),
            )
        ).alias("g"),
    )
    # NO .distinct() before the set agg: collect_set dedups inside the
    # aggregation (including map-side partials), so a separate distinct
    # would be a second full corpus-sized shuffle for nothing.
    # SET compression (the j8 shape-compression move, round-8 fix for
    # the 19x sf1->sf10 decade ramp): the gram-keyed SELF-JOIN costs
    # sum over grams of s_g^2 pair rows — as density grows every gram
    # approaches all |sources| owners and the expansion ramps toward
    # |sources|^2 x |grams|. But the pair counts only depend on each
    # gram's SOURCE SET, so: one collect_set agg per gram (bounded by
    # the source domain, map-combinable), count grams per DISTINCT set
    # (<= 2^|sources| but practically tiny), and expand pairs over the
    # set-histogram rows only. The corpus-sized stages are now two
    # keyed aggs; nothing downstream scales with the corpus.
    sets = grams.groupBy("g").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    hist = sets.groupBy("srcs").agg(
        F.count("*").cast("bigint").alias("n_grams_set")
    )
    totals = (
        hist.select(
            F.explode("srcs").alias("source"), "n_grams_set"
        )
        .groupBy("source")
        .agg(F.sum("n_grams_set").cast("bigint").alias("n_grams"))
    )
    pairs = hist.select(
        F.explode("srcs").alias("source_a"),
        F.col("srcs"),
        "n_grams_set",
    ).select(
        "source_a",
        F.explode("srcs").alias("source_b"),
        "n_grams_set",
    ).filter(F.col("source_a") < F.col("source_b"))
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.sum("n_grams_set").cast("bigint").alias("n_shared")
    )
    ta = F.broadcast(totals).alias("ta")
    tb = F.broadcast(totals).alias("tb")
    return (
        shared.join(ta, F.col("source_a") == F.col("ta.source"))
        .join(tb, F.col("source_b") == F.col("tb.source"))
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least(F.col("ta.n_grams"), F.col("tb.n_grams"))
            ).alias("containment"),
        )
    )


# =====================================================================
# L33 — token-length histogram (power-of-two buckets, exact integers)
# =====================================================================


@query(
    "l33_length_histogram",
    f"""
    WITH n AS (
      SELECT lang, len({_TOKS}) AS n_tokens FROM documents
    )
    SELECT lang,
           CAST(length(printf('%b', n_tokens)) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM n WHERE n_tokens > 0 GROUP BY 1, 2
    """,
)
def l33_length_histogram(spark, sf_dir):
    """L33: document length distribution in power-of-two buckets per
    language — the length histogram every training-data pipeline
    checks before packing (l17) and curriculum mixing (o13): truncation
    losses, short-doc floods, and tokenizer blowups all show up here
    first.

    Bucket = bit length of the token count (floor(log2)+1) computed by
    INTEGER bit arithmetic (`bin()` string length), not floating
    log2 — exact at powers of two on every engine, so the hash can't
    flap on 5.9999 vs 6.0. One map-combinable keyed agg over
    (lang, bucket); token counts reuse the l4/l7 tokenizer so the
    histogram describes exactly what downstream operators consume.
    """
    d = _t(spark, sf_dir, "documents")
    n = d.select(
        "lang", F.size(tokens(F.col("text"))).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    return n.groupBy(
        "lang",
        F.length(F.bin(F.col("n_tokens"))).cast("int").alias("bucket"),
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )


# =====================================================================
# L34 — exact Jaccard threshold join via prefix filtering (PPJoin-lite)
# =====================================================================

_JACCARD_TAU = 0.6


def _jaccard_threshold_pairs(g, tau):
    """Prefix-filtered EXACT Jaccard >= tau pair join over a distinct
    (doc_id, g) shingle table — the one implementation l34 and pipe6
    share (the lemma arithmetic, size bounds, and the SHUFFLE_MERGE
    hints that prevent the measured sf10 driver-broadcast OOM live
    HERE and nowhere else). Returns (da, db, size_a, size_b, n_shared)
    for every pair meeting the threshold."""
    # Materialize the (doc_id, g) shingle table ONCE: it feeds sz,
    # df_counts, both self-join branches of `ranked`, and both
    # verification sides — six subtree copies in the unmaterialized
    # plan (0 ReusedExchange: Spark does not dedup self-join/multi-ref
    # subtrees), so the explode+distinct shuffle ran six times per
    # query (guide §2.4 — remove shuffles outright by reusing a
    # computed intermediate). Per-call localCheckpoint: fresh each
    # invocation, no cross-run state; size is the compressed shingle
    # table (~doc_tokens × 40 B), which is what the verification step
    # already shuffles anyway.
    g = g.localCheckpoint(eager=False)
    sz = g.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n"))
    df_counts = g.groupBy("g").agg(F.count("*").alias("df"))
    ranked = (
        g.join(df_counts.hint("merge"), "g")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "g")
            ),
        )
        .join(sz.hint("merge"), "doc_id")
        # prefix length: |d| - ceil(tau*|d|) + 1
        .filter(
            F.col("rn")
            <= F.col("n") - F.ceil(F.col("n") * F.lit(tau)) + 1
        )
        .select("doc_id", "g", "n")
        # both sides of the candidate self-join read this — one
        # window+join pipeline instead of two
        .localCheckpoint(eager=False)
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(
            b.hint("merge"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # size filter: tau*|A| <= |B| <= |A|/tau
        .filter(
            (F.col("b.n") >= F.ceil(F.col("a.n") * F.lit(tau)))
            & (F.col("b.n") <= F.floor(F.col("a.n") / F.lit(tau)))
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("a.n").alias("size_a"),
            F.col("b.n").alias("size_b"),
        )
        .distinct()
    )
    ga = g.select(F.col("doc_id").alias("da"), "g")
    gb = g.select(F.col("doc_id").alias("_db2"), F.col("g").alias("gb"))
    inter = (
        cand.join(ga.hint("merge"), "da")
        .join(
            gb.hint("merge"),
            (F.col("db") == F.col("_db2")) & (F.col("g") == F.col("gb")),
        )
        .groupBy("da", "db", "size_a", "size_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_shared")
    )
    return inter.filter(jac >= tau)


@query(
    "l34_jaccard_join",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), g AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(toks[i:i+4], ' ')) AS g
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 4)) AS i
        FROM toks WHERE len(toks) >= 5
      )
    ), sz AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(COUNT(*) AS BIGINT) AS i
      FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT da AS doc_a, db AS doc_b, i AS n_shared,
           sa.n AS size_a, sb.n AS size_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = da
    JOIN sz sb ON sb.doc_id = db
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {_JACCARD_TAU}
    """,
)
def l34_jaccard_join(spark, sf_dir):
    """L34: EXACT all-pairs Jaccard >= tau join over 5-gram shingle
    sets via prefix filtering (Chaudhuri et al. ICDE'06 / Xiao et al.
    PPJoin) — completing the dedup family: l9 is the quadratic
    small-SF baseline, l2 is approximate MinHash, l28 is containment
    on rare-shingle blocks; this is the exact-threshold SCALABLE path.

    The prefix-filter lemma: order every set by a single global token
    order (ascending document frequency, tie by token — rarest first);
    if J(A,B) >= tau then the first |X| - ceil(tau*|X|) + 1 elements
    of each set (its PREFIX) must share at least one token. So
    candidates come from an equi-join on PREFIX tokens only — rare
    tokens by construction, tiny fan-out per token — never from the
    corpus-sized all-pairs space; completeness is a theorem, not a
    heuristic (and the oracle's full intersection-table recompute
    verifies it: a missed pair fails the hash).

    Pipeline: distinct (doc, gram) -> gram df counts (map-combined) ->
    per-doc rank by (df, g) window -> prefix explode -> candidate
    equi-join + size window filter [tau*|A| <= |B| <= |A|/tau] ->
    exact intersection counts restricted to candidates -> threshold.
    Every join keyed, nothing all-pairs. The corpus-sized joins carry
    explicit SHUFFLE_MERGE hints: at sf10 AQE's size estimate promoted
    the multi-million-row doc-size side to a driver-built broadcast
    and OOMed the 8g driver (measured) — a sort-merge join costs one
    extra sort and can never blow up the driver, the right default
    when BOTH sides scale with the corpus.

    Shingle width is 5 (not 3): prefix filtering's cost is
    sum-over-prefix-grams of df², so it needs the gram SPACE to
    outgrow the corpus. The synthetic word-soup corpus has a ~31-word
    vocabulary — its full 3-gram space (31³ ≈ 30k) saturates by sf1
    (measured: avg df 89 at sf1, ~900 at sf10 → 2e10 candidate pairs,
    a 70 GB spill). 31⁵ ≈ 29M keeps df ~ 8 at sf10. On real text
    (10⁵+ vocabularies) even 3-grams never saturate; the width is the
    knob that buys the same guarantee on adversarially small
    vocabularies."""
    tau = _JACCARD_TAU
    n = 5
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    ).filter(F.size("_toks") >= n)
    g = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - n),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("_toks", i + 1, n))
                ),
            )
        ).alias("g"),
    ).distinct()
    pairs = _jaccard_threshold_pairs(g, tau)
    jac = F.col("n_shared").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_shared")
    )
    return pairs.select(
        F.col("da").alias("doc_a"),
        F.col("db").alias("doc_b"),
        "n_shared",
        "size_a",
        "size_b",
        jac.alias("jaccard"),
    )


# =====================================================================
# L35 — dedup with a KEEP-BEST survivor policy (not keep-first)
# =====================================================================

_STOPLIST = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)


@query(
    "l35_dedup_keep_best",
    f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             md5(array_to_string(list_filter({_TOKS},
               t -> t NOT IN {_STOPLIST!r}), ' ')) AS k
      FROM documents
    ), ranked AS (
      SELECT doc_id, k,
             ROW_NUMBER() OVER (
               PARTITION BY k ORDER BY n_chars DESC, doc_id ASC
             ) AS rn
      FROM keyed
    )
    SELECT r.doc_id,
           s.doc_id AS survivor_id,
           r.doc_id = s.doc_id AS is_survivor
    FROM ranked r JOIN ranked s ON s.k = r.k AND s.rn = 1
    """,
)
def l35_dedup_keep_best(spark, sf_dir):
    """L35: content dedup with a KEEP-BEST survivor policy. l1/l25
    keep the first (min-id) copy — the right default for reproducible
    corpus ordering — but production dedup usually keeps the BEST
    copy: here, groups are keyed by the stopword-stripped normalized
    token stream (variants differing only in function words collapse
    together), and the survivor is the LONGEST variant (max n_chars,
    min doc_id tie) — the most complete rendition of the content.

    Spark shape: ONE keyed aggregation with a `max_by` struct witness
    ((n_chars, -doc_id) — same deterministic-witness pattern as w16's
    open/close, no window over the corpus, no per-group buffering),
    then one linear join back to label every row with its survivor.
    The oracle spells the witness as a ROW_NUMBER window.
    """
    d = _t(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in _STOPLIST])
    keyed = d.select(
        "doc_id",
        "n_chars",
        F.md5(
            F.concat_ws(
                " ",
                F.filter(
                    tokens(F.col("text")),
                    lambda t: ~F.array_contains(stop, t),
                ),
            )
        ).alias("k"),
    )
    best = keyed.groupBy("k").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_neg"))
        ).alias("survivor_id")
    )
    return keyed.join(best, "k").select(
        "doc_id",
        F.col("survivor_id").cast("bigint").alias("survivor_id"),
        (F.col("doc_id") == F.col("survivor_id")).alias("is_survivor"),
    )


# =====================================================================
# PIPE6 — corpus curation: keep-best dedup → length gate → exact
# near-dup sweep (the round-8 operators composed end-to-end)
# =====================================================================


@query(
    "pipe6_corpus_curation",
    f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             md5(array_to_string(list_filter({_TOKS},
               t -> t NOT IN {_STOPLIST!r}), ' ')) AS k,
             len({_TOKS}) AS n_tokens
      FROM documents
    ), surv AS (
      SELECT doc_id, lang, n_tokens FROM (
        SELECT doc_id, lang, n_tokens,
               ROW_NUMBER() OVER (
                 PARTITION BY k ORDER BY n_chars DESC, doc_id ASC
               ) AS rn
        FROM keyed
      ) WHERE rn = 1
    ), gated AS (
      SELECT * FROM surv WHERE n_tokens BETWEEN 16 AND 127
    ), toks AS (
      SELECT d.doc_id, {_TOKS} AS toks
      FROM documents d JOIN gated USING (doc_id)
    ), g AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(toks[i:i+4], ' ')) AS g
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 4)) AS i
        FROM toks WHERE len(toks) >= 5
      )
    ), sz AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY doc_id
    ), dup AS (
      SELECT DISTINCT b.doc_id
      FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
      JOIN sz sa ON sa.doc_id = a.doc_id
      JOIN sz sb ON sb.doc_id = b.doc_id
      GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
      HAVING CAST(COUNT(*) AS DOUBLE) / (sa.n + sb.n - COUNT(*))
             >= {_JACCARD_TAU}
    )
    SELECT s.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s.n_tokens) AS BIGINT) AS total_tokens
    FROM gated s LEFT JOIN dup ON dup.doc_id = s.doc_id
    WHERE dup.doc_id IS NULL
    GROUP BY s.lang
    """,
)
def pipe6_corpus_curation(spark, sf_dir):
    """PIPE6: the round-8 curation operators composed into one corpus
    pass — what an LLM data pipeline actually runs before packing:

    1. keep-BEST exact dedup (l35): stopword-stripped content groups,
       longest variant survives;
    2. length gate (l33's distribution informs the [16, 127]-token
       band — one predicate, no extra shuffle);
    3. exact near-dup sweep (l34's prefix-filtered Jaccard >= 0.6 on
       5-gram shingles over the SURVIVOR set): any doc matching a
       lower-id survivor is dropped (the deterministic keep-min edge
       policy — no transitive chase, every decision is pairwise
       against a kept-or-dropped smaller id, same convention as l25);
    4. report: per-language doc and token counts of the final corpus.

    Stage order matters at 100 TB: the cheap exact dedup and the
    length predicate shrink the corpus BEFORE the shingle explosion —
    the prefix-filter join runs on survivors only. Every stage is the
    already-tested operator's machinery; the oracle chains the same
    stages as CTEs, so the hash gate certifies the COMPOSITION
    (including the drop-policy edge cases), not just the parts.
    """
    tau = _JACCARD_TAU
    d = _t(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in _STOPLIST])
    toks_col = tokens(F.col("text"))
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(
            F.concat_ws(
                " ",
                F.filter(toks_col, lambda t: ~F.array_contains(stop, t)),
            )
        ).alias("k"),
        F.size(toks_col).alias("n_tokens"),
    )
    surv = (
        keyed.groupBy("k")
        .agg(
            F.max_by(
                F.struct("doc_id", "lang", "n_tokens"),
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_n")),
            ).alias("s")
        )
        .select("s.doc_id", "s.lang", "s.n_tokens")
    )
    # pin the survivor set: it feeds the shingle side AND the final
    # keep-join — unpinned, the corpus-sized keep-best agg ran twice
    # (guide §2.4); size is one row per surviving doc
    gated = surv.filter(
        F.col("n_tokens").between(16, 127)
    ).localCheckpoint(eager=False)
    # exact near-dup sweep over survivors (l34 machinery, n=5 shingles)
    n = 5
    dt = d.join(gated.select("doc_id"), "doc_id").select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    ).filter(F.size("_toks") >= n)
    g = dt.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - n),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("_toks", i + 1, n))
                ),
            )
        ).alias("g"),
    ).distinct()
    dup = (
        _jaccard_threshold_pairs(g, tau)
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )
    kept = gated.join(dup, "doc_id", "left_anti")
    return kept.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


# =====================================================================
# L37 — exact edit-distance-1 join (FastSS deletion neighborhood)
# =====================================================================


def _ed1_name_pairs(c):
    """FastSS deletion-neighborhood candidate generation + JVM
    levenshtein verify over a distinct-name frame ``(c_name, n_rows)``
    — the one implementation l37 and its hypothesis brute-force parity
    test share. Returns (name_a, name_b, dist=1, n_a, n_b) for every
    distinct-name pair at edit distance exactly 1."""
    # sequence(1, 0) yields the DESCENDING [1, 0] (Spark defaults to
    # step -1 when start > stop), so an empty name would emit spurious
    # variants — guard with an explicit empty-array branch.
    deletions = F.when(
        F.length("c_name") > 0,
        F.transform(
            F.sequence(F.lit(1), F.length("c_name")),
            lambda i: F.concat(
                F.substring("c_name", F.lit(1), i - 1),
                F.substring("c_name", i + 1, F.length("c_name")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    variants = F.array_union(F.array(F.col("c_name")), deletions)
    v = c.select("c_name", "n_rows", F.explode(variants).alias("variant"))
    a = v.select(
        F.col("variant"),
        F.col("c_name").alias("name_a"),
        F.col("n_rows").alias("n_a"),
    )
    b = v.select(
        F.col("variant"),
        F.col("c_name").alias("name_b"),
        F.col("n_rows").alias("n_b"),
    )
    cand = (
        a.join(b.hint("merge"), "variant")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", "n_a", "n_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("bigint")
        )
        .filter(F.col("dist") == 1)
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )


@query(
    "l37_edit_distance_join",
    """
    WITH n AS (
      SELECT c_name, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM customer GROUP BY c_name
    )
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
           a.n_rows AS n_a, b.n_rows AS n_b
    FROM n a JOIN n b
      ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) = 1
    """,
)
def l37_edit_distance_join(spark, sf_dir):
    """L37: EXACT edit-distance-1 self-join over distinct customer
    names via FastSS deletion neighborhoods — the string-similarity
    complement of l34's token-set Jaccard join.

    The naive shape is a |V|x|V| levenshtein theta join (the oracle,
    fine at sf0.01, quadratic at scale). The scale plan: every string
    generates len(s)+1 variants — itself plus each single-character
    deletion. Two strings are at edit distance <= 1 IFF they share a
    variant (substitution at i: del_i(a) == del_i(b); insert/delete:
    the shorter string IS a deletion variant of the longer; the only
    false positives are distance-2 pairs from del_i(a) == del_j(b)
    with i != j, removed by the final JVM `levenshtein` verify). So
    candidates come from ONE equi-join on the variant key — work is
    O(n * len) exploded rows, never all-pairs. A variant bucket of
    length-L strings has at most |alphabet| * (L+1) members (each
    member re-inserts one character somewhere), so per-bucket pair
    fan-out is bounded by the alphabet and string length, not the
    corpus. Both join sides scale with the corpus, hence the explicit
    merge hint (the l34 lesson: AQE promoted a multi-million-row side
    to a driver broadcast at sf10 and OOMed; sort-merge is the right
    default when both sides scale).

    Result shape is DISTINCT-NAME pairs with per-name multiplicities
    (the p16b lesson: emit vocabulary-sized pairs, never row pairs).
    Distance-0 duplicates are l1's job and excluded here (dist = 1
    strictly)."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_name")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )
    return _ed1_name_pairs(c)


# =====================================================================
# L38 — sorted-neighborhood ER blocking (positional candidate window)
# =====================================================================

_SNM_WINDOW = 3
_SNM_MAX_DIST = 2


@query(
    "l38_sorted_neighborhood",
    f"""
    WITH n AS (SELECT DISTINCT c_name FROM customer),
    r AS (SELECT c_name, ROW_NUMBER() OVER (ORDER BY c_name) AS rn FROM n)
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(b.rn - a.rn AS BIGINT) AS gap,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM r a JOIN r b
      ON b.rn - a.rn >= 1 AND b.rn - a.rn <= {_SNM_WINDOW}
    WHERE levenshtein(a.c_name, b.c_name) <= {_SNM_MAX_DIST}
    """,
)
def l38_sorted_neighborhood(spark, sf_dir):
    """L38: sorted-neighborhood entity-resolution blocking — sort the
    vocabulary once, compare each name only to its w positional
    neighbors, keep pairs within edit distance 2. The third blocking
    family in the repo (l34: token-set prefix filter; l37: deletion
    neighborhoods; l38: positional windows — the classic SNM choice
    when the match key clusters lexically, e.g. serial-numbered or
    prefix-structured identifiers).

    The naive shape is ``row_number() OVER (ORDER BY name)`` — a
    single-task global sort (the z6 100 TB-killer). Positions come
    from :func:`finporter_spark.operators.scale.global_rank` (the z6
    TeraSort offset ladder: parallel range sort + bounded driver
    offsets) instead; neighbor pairs are then an EQUI-join on
    rank + gap (gap exploded 1..w) — one keyed shuffle, w rows per
    name, never all-pairs. The levenshtein gate runs JVM-side on the
    w·|V| candidates. Oracle states the identical contract with the
    single-partition SQL window DuckDB can afford at sf0.01."""
    names = (
        _t(spark, sf_dir, "customer").select("c_name").distinct()
    )
    r = global_rank(names, ["c_name"]).select("c_name", "rnk")
    a = r.select(
        F.col("c_name").alias("name_a"),
        F.col("rnk").alias("rn_a"),
        F.explode(
            F.sequence(F.lit(1), F.lit(_SNM_WINDOW))
        ).alias("gap"),
    ).withColumn("rn_b", F.col("rn_a") + F.col("gap"))
    b = r.select(
        F.col("c_name").alias("name_b"), F.col("rnk").alias("rn_b")
    )
    return (
        a.join(b.hint("merge"), "rn_b")
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("bigint")
        )
        .filter(F.col("dist") <= _SNM_MAX_DIST)
        .select(
            "name_a", "name_b", F.col("gap").cast("bigint").alias("gap"),
            "dist",
        )
    )


# =====================================================================
# L39 — character-entropy gibberish score per document
# =====================================================================


@query(
    "l39_char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
      FROM documents WHERE length(text) > 0
    ), cnt AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c FROM chars
      WHERE ch <> '' GROUP BY doc_id, ch
    ), tot AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_distinct
      FROM cnt GROUP BY doc_id
    ), ent AS (
      SELECT cnt.doc_id,
             SUM(-(CAST(cnt.c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                 * log2(CAST(cnt.c AS DOUBLE) / CAST(tot.n AS DOUBLE)))
               AS entropy
      FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id
      GROUP BY cnt.doc_id
    )
    SELECT ent.doc_id, tot.n AS n_chars, tot.n_distinct,
           round(ent.entropy, 9) AS entropy_bits
    FROM ent JOIN tot ON tot.doc_id = ent.doc_id
    """,
)
def l39_char_entropy(spark, sf_dir):
    """L39: character-level Shannon entropy per document — the
    gibberish/boilerplate screen (natural prose sits ~4 bits/char;
    base64 blobs and key-mash spike toward log2|alphabet|, repeated
    template filler collapses toward 0). Complements l4's ratio
    heuristics and l26's trained classifier with a model-free signal.

    Scale shape: explode to (doc, char) — linear in corpus chars,
    exactly l7/l8's token-explode cost — then two keyed aggs; the
    entropy sum runs over ≤|alphabet| rows per doc. The p·log2(p)
    terms are double (log2 has no decimal form); per-doc summation
    order is engine-specific, but the sum spans ≤ ~100 terms of
    magnitude ≤ 1, so the wobble is ≤ ~1e-15 — both engines ROUND TO
    9 DP inside the query (the comparator's own quantum, here made
    part of the contract) so the hash is exact by construction."""
    e = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    cnt = (
        e.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tot = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    ent = (
        cnt.join(tot.hint("merge"), "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(-p * F.log2(p)).alias("entropy"))
    )
    return ent.join(tot.hint("merge"), "doc_id").select(
        "doc_id",
        F.col("n").alias("n_chars"),
        "n_distinct",
        F.round("entropy", 9).alias("entropy_bits"),
    )


# =====================================================================
# L40 — exact-duplication rate by source
# =====================================================================


@query(
    "l40_duplication_by_source",
    """
    WITH h AS (
      SELECT doc_id, source, md5(text) AS fp FROM documents
    ), g AS (
      SELECT fp, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY fp
    )
    SELECT h.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN g.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_duped,
           CAST(SUM(CASE WHEN g.n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM h JOIN g ON g.fp = h.fp
    GROUP BY h.source
    """,
)
def l40_duplication_by_source(spark, sf_dir):
    """L40: exact-duplication rate per source — what fraction of each
    source's documents have a byte-identical twin ANYWHERE in the
    corpus. The per-source health summary l1's row-level dedup and
    l32's shingle-containment matrix both feed into: before fixing a
    mixing ratio you ask WHICH source is recycled content.

    Scale shape: md5 fingerprints (map-only), one fingerprint-keyed
    count agg, one merge-hinted fingerprint join back (both sides
    corpus-scaled), one source-keyed agg landing on the |sources| row
    domain. The duplicate definition is corpus-wide (n > 1 across ALL
    sources), so a source whose docs are copied BY another source is
    correctly charged — the within-source-only variant would hide
    mirror sites."""
    h = _t(spark, sf_dir, "documents").select(
        "source", F.md5("text").alias("fp")
    )
    g = h.groupBy("fp").agg(F.count("*").cast("bigint").alias("n"))
    return (
        h.join(g.hint("merge"), "fp")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_duped"),
        )
        .select(
            "source",
            "n_docs",
            "n_duped",
            (
                F.col("n_duped").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
    )


# =====================================================================
# L41 — URL canonicalization + canonical-URL dedup groups
# =====================================================================

def _l41_raw_url_sql() -> str:
    """The synthesized raw-URL expression (DuckDB form). The corpus has
    no URL column, so one is DERIVED deterministically from doc fields
    with the full mess canonicalization must handle: mixed-case scheme/
    host, explicit default ports, tracking params out of order, dup
    paths with/without trailing slash, fragments."""
    return (
        "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END || '://' "
        "|| CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END "
        "|| source || '.Example.COM' "
        "|| CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END "
        "|| '/docs/' || CAST(doc_id % 3 AS VARCHAR) "
        "|| CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END "
        "|| '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR) "
        "|| '&utm_campaign=x' "
        "|| CASE WHEN doc_id % 2 = 0 THEN '&ref=home' ELSE '' END "
        "|| CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END"
    )


_L41_CANON = (
    "scheme || '://' || host || path"
    " || CASE WHEN q = '' THEN '' ELSE '?' || q END"
)


def _l41_norm_ctes() -> str:
    """raw/parts/norm CTE bodies (no WITH) — shared by the l41 oracle
    and pipe8's chained-stage oracle."""
    return f"""raw AS (
      SELECT doc_id, {_l41_raw_url_sql()} AS url FROM documents
    ), parts AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1))
               AS hostport,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
               AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS qs
      FROM raw
    ), norm AS (
      SELECT doc_id, scheme,
             CASE WHEN scheme = 'https' AND ends_with(hostport, ':443')
                    THEN substr(hostport, 1, length(hostport) - 4)
                  WHEN scheme = 'http' AND ends_with(hostport, ':80')
                    THEN substr(hostport, 1, length(hostport) - 3)
                  ELSE hostport END AS host,
             CASE WHEN path = '' THEN '/'
                  WHEN length(path) > 1 AND ends_with(path, '/')
                    THEN substr(path, 1, length(path) - 1)
                  ELSE path END AS path,
             array_to_string(list_sort(list_filter(
               string_split(qs, '&'),
               x -> x != '' AND NOT starts_with(x, 'utm_')
                    AND NOT starts_with(x, 'fbclid')
                    AND NOT starts_with(x, 'gclid')
                    AND NOT starts_with(x, 'msclkid'))), '&') AS q
      FROM parts
    )"""


@query(
    "l41_url_canonical_dedup",
    f"""
    WITH {_l41_norm_ctes()}
    SELECT {_L41_CANON} AS canonical_url,
           COUNT(*) AS n_dups,
           MIN(doc_id) AS canonical_doc
    FROM norm
    GROUP BY 1
    """,
)
def l41_url_canonical_dedup(spark, sf_dir):
    """L41: URL canonicalization + canonical-URL duplicate groups —
    the crawl-dedup step BEFORE content dedup: most crawl duplicates
    are the SAME page under cosmetically different URLs (case, default
    ports, tracking params, param order, trailing slash, fragments).
    Canonical form: lowercase scheme+host, strip scheme-default port,
    drop fragment, drop tracking params (utm_*/fbclid/gclid/msclkid),
    SORT remaining query params, collapse the trailing slash; then one
    keyed agg groups docs per canonical URL (min doc_id = survivor).
    p17 stops at parse; l41 is the normalize-then-dedup operator.

    The corpus carries no URL column, so the raw URL is synthesized
    deterministically from (source, doc_id) with every variation class
    the canonicalizer must erase — the operator logic (regex parse +
    array-lambda param filter/sort, all JVM-side, no UDF) is the
    deliverable and is what the oracle checks piece by piece.

    Scale shape: pure map work per row (regex + bounded array ops)
    followed by ONE keyed aggregation on the canonical string —
    exactly the l1 exact-dedup shape; at 100 TB the agg key would be
    md5(canonical_url) to keep shuffle rows narrow."""
    return (
        _l41_canonical_df(spark, sf_dir)
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("canonical_doc"),
        )
    )


def _l41_canonical_df(spark, sf_dir):
    """(doc_id, canonical_url) — the canonicalizer, shared by l41 and
    pipe8."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS")).otherwise(
            F.lit("https")
        ),
        F.lit("://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(
            F.lit("www.")
        ),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(
            F.lit("")
        ),
        F.lit("/docs/"),
        (F.col("doc_id") % 3).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("&utm_campaign=x"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("&ref=home")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 6 == 0, F.lit("#frag")).otherwise(
            F.lit("")
        ),
    )
    raw = d.select("doc_id", url.alias("url"))
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    hostport = F.lower(
        F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1)
    )
    path0 = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    qs = F.regexp_extract("url", r"\?([^#]*)", 1)
    parts = raw.select(
        "doc_id",
        scheme.alias("scheme"),
        hostport.alias("hostport"),
        path0.alias("path0"),
        qs.alias("qs"),
    )
    host = (
        F.when(
            (F.col("scheme") == "https")
            & F.col("hostport").endswith(":443"),
            F.expr("substring(hostport, 1, length(hostport) - 4)"),
        )
        .when(
            (F.col("scheme") == "http")
            & F.col("hostport").endswith(":80"),
            F.expr("substring(hostport, 1, length(hostport) - 3)"),
        )
        .otherwise(F.col("hostport"))
    )
    path = (
        F.when(F.col("path0") == "", F.lit("/"))
        .when(
            (F.length("path0") > 1) & F.col("path0").endswith("/"),
            F.expr("substring(path0, 1, length(path0) - 1)"),
        )
        .otherwise(F.col("path0"))
    )
    keep = F.filter(
        F.split(F.col("qs"), "&"),
        lambda x: (x != "")
        & ~x.startswith("utm_")
        & ~x.startswith("fbclid")
        & ~x.startswith("gclid")
        & ~x.startswith("msclkid"),
    )
    q = F.array_join(F.array_sort(keep), "&")
    norm = parts.select(
        "doc_id", "scheme",
        host.alias("host"),
        path.alias("path"),
        q.alias("q"),
    )
    canon = F.concat(
        F.col("scheme"), F.lit("://"), F.col("host"), F.col("path"),
        F.when(F.col("q") == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), F.col("q"))
        ),
    )
    return norm.select("doc_id", canon.alias("canonical_url"))


# =====================================================================
# PIPE8 — crawl curation funnel: URL dedup -> repetition gate -> floor
# =====================================================================


@query(
    "pipe8_crawl_curation",
    f"""
    WITH {_l41_norm_ctes()},
    canon AS (
      SELECT doc_id, {_L41_CANON} AS cu FROM norm
    ), surv AS (
      SELECT MIN(doc_id) AS doc_id FROM canon GROUP BY cu
    ), sd AS (
      SELECT d.doc_id, d.source, d.n_chars, d.text
      FROM documents d JOIN surv USING (doc_id)
    ), t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                              'g')), ' ') AS toks
      FROM sd
    ), idx AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      FROM t
    ), g AS (
      SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g FROM idx
    ), pg AS (
      SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g
    ), rep AS (
      SELECT doc_id, SUM(c) AS n,
             SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup, MAX(c) AS mx
      FROM pg GROUP BY doc_id
    ), gated AS (
      SELECT sd.doc_id, sd.source, sd.n_chars
      FROM sd JOIN rep USING (doc_id)
      WHERE CAST(rep.dup AS DOUBLE) / rep.n <= 0.2
        AND CAST(rep.mx AS DOUBLE) / rep.n <= 0.05
        AND sd.n_chars >= 100
    ), raw_counts AS (
      SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY source
    ), url_counts AS (
      SELECT source, COUNT(*) AS n_url_unique FROM sd GROUP BY source
    ), fin AS (
      SELECT source, COUNT(*) AS n_final, SUM(n_chars) AS chars_final
      FROM gated GROUP BY source
    )
    SELECT r.source, r.n_raw,
           COALESCE(u.n_url_unique, 0) AS n_url_unique,
           COALESCE(f.n_final, 0) AS n_final,
           COALESCE(f.chars_final, 0) AS chars_final
    FROM raw_counts r
    LEFT JOIN url_counts u USING (source)
    LEFT JOIN fin f USING (source)
    """,
)
def pipe8_crawl_curation(spark, sf_dir):
    """PIPE8: the crawl-side curation funnel, per-source — the stages a
    web corpus passes BEFORE content-level dedup (pipe6's territory):
    (1) URL canonicalization + canonical-URL dedup (l41 — min doc_id
    survives each canonical group), (2) the Gopher repetition gate on
    survivors (word-3-gram duplicate mass ≤ 0.2 AND top-gram mass
    ≤ 0.05 — l16's exact signals as a filter), (3) a minimum-length
    floor (n_chars ≥ 100). Emits the per-source funnel: raw count,
    canonical-URL-unique count, final count + final char mass — the
    table a data-mixing stage (o13) consumes as its denominator.

    Every stage is a keyed agg or map-side gate off ONE documents
    scan lineage (canonicalize: map + keyed agg; repetition: the l16
    3-gram profile computed ONLY for URL survivors — the stage order
    puts the n-gram explosion after the 8× URL cut; gates: map-side);
    the funnel is three domain-sized aggregates joined on source.
    Full value-hash oracle: the l41 norm core + the l16 repetition
    CTEs + gates chained (the pipe6 stage-chained pattern)."""
    d = _t(spark, sf_dir, "documents")
    canon = _l41_canonical_df(spark, sf_dir)
    surv = canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    sd = (
        d.join(surv, "doc_id")
        .select("doc_id", "source", "n_chars", "text")
        # pinned: feeds the repetition profile, the gate join AND the
        # per-source URL-unique count — unpinned, the regex-heavy URL
        # canonicalization + survivor agg ran three times (guide §2.4)
        .localCheckpoint(eager=False)
    )
    rep = repetition_profile(sd, "text", "doc_id", ngram_n=3)
    gated = (
        sd.join(
            rep.select("doc_id", "n_ngrams", "dup_frac", "top_frac"),
            "doc_id",
        )
        .where(
            # n_ngrams >= 1 mirrors the oracle's inner join against the
            # gram table: a doc too short to form a 3-gram has no
            # repetition signal and fails the gate on both engines
            (F.col("n_ngrams") >= 1)
            & (F.col("dup_frac") <= 0.2)
            & (F.col("top_frac") <= 0.05)
            & (F.col("n_chars") >= 100)
        )
    )
    raw_counts = d.groupBy("source").agg(F.count("*").alias("n_raw"))
    url_counts = sd.groupBy("source").agg(
        F.count("*").alias("n_url_unique")
    )
    fin = gated.groupBy("source").agg(
        F.count("*").alias("n_final"),
        F.sum("n_chars").alias("chars_final"),
    )
    return (
        raw_counts.join(url_counts, "source", "left")
        .join(fin, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_url_unique", F.lit(0)).alias("n_url_unique"),
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
            F.coalesce("chars_final", F.lit(0)).alias("chars_final"),
        )
    )


# =====================================================================
# L48 — arbitrary-length repeated-span coverage (Lee et al. 2022 shape)
# =====================================================================


_L48_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), tl AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
      FROM toks WHERE len(toks) >= 8
    ), grams AS (
      SELECT doc_id, i - 1 AS i,
             md5(array_to_string(toks[i:i+7], ' ')) AS gkey
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 7)) AS i
        FROM toks WHERE len(toks) >= 8
      )
    ), first_seen AS (
      SELECT gkey, MIN(doc_id) AS fd FROM grams GROUP BY gkey
    ), dup AS (
      SELECT g.doc_id, g.i
      FROM grams g JOIN first_seen f USING (gkey)
      WHERE f.fd < g.doc_id
    ), flag AS (
      SELECT doc_id, i,
             CASE WHEN i > COALESCE(lag(i) OVER (
                    PARTITION BY doc_id ORDER BY i), -9) + 8
                  THEN 1 ELSE 0 END AS newg
      FROM dup
    ), grp AS (
      SELECT doc_id, i,
             SUM(newg) OVER (PARTITION BY doc_id ORDER BY i) AS g
      FROM flag
    ), spans AS (
      SELECT doc_id, g, MAX(i) - MIN(i) + 8 AS slen
      FROM grp GROUP BY doc_id, g
    ), agg AS (
      SELECT doc_id,
             SUM(slen) AS covered_tokens,
             COUNT(*) AS n_spans,
             MAX(slen) AS max_span
      FROM spans GROUP BY doc_id
    )
    SELECT tl.doc_id, tl.n_tokens,
           CAST(COALESCE(a.covered_tokens, 0) AS BIGINT)
             AS covered_tokens,
           CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(a.max_span, 0) AS BIGINT) AS max_span,
           CAST(COALESCE(a.covered_tokens, 0) AS DOUBLE) / tl.n_tokens
             AS coverage,
           (CAST(COALESCE(a.covered_tokens, 0) AS DOUBLE)
              / tl.n_tokens) < 0.5 AS keep
    FROM tl LEFT JOIN agg a USING (doc_id)
    """


@query("l48_repeated_span_coverage", _L48_ORACLE)
def l48_repeated_span_coverage(spark, sf_dir):
    """L48: ARBITRARY-LENGTH repeated-span dedup — the exact-substring
    standard (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better") the fixed-width l25 gate approximates:
    drop a document when ≥50% of its TOKENS are covered by some
    repeated span of ≥8 tokens first seen in a lower-id document, for
    spans of ANY length. 8-gram anchors are only the detector; the
    per-document interval union of duplicated anchor windows (the w15
    sweep-line algebra — equal-width intervals merge when the next
    start ≤ previous start + 8) recovers every maximal repeated
    span's true token length, with no distributed suffix array. The
    measurable difference is pinned in tests/test_r13_ops.py: a
    20-token document with an 11-token plagiarized span is 55% copied
    (dropped here) while l25 sees 4/13 anchors (0.31, kept) — the
    fixed-width fraction mis-measures exactly the variable-length
    spans this operator exists for; plus an independent pure-Python
    position-marking reference equality at sf0.001.

    Built on :func:`finporter_spark.operators.prep
    .repeated_span_coverage`. Scale: the l25 linear shape (positional
    16-byte md5 anchors, one gram-keyed first-doc window) plus two
    doc-partitioned windows and one doc-keyed left join — per-task
    state is one document's duplicated anchors. Full value-hash
    oracle (exact integers; one exact int/int→double division)."""
    return repeated_span_coverage(
        _t(spark, sf_dir, "documents"), ngram_n=8
    )

# =====================================================================
# L21b — BPE merge training as a recursive CTE (l21's hash-green twin)
# =====================================================================

_L21B_MERGES = 60

_L21B_ORACLE = """
    WITH RECURSIVE wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS f
      FROM (
        SELECT unnest(string_split(regexp_replace(trim(lower(text)),
                     '\\s+', ' ', 'g'), ' ')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY word
    ), w0 AS (
      SELECT list(struct_pack(
               w := regexp_replace(word, '(.)',
                      chr(9) || '\\1' || chr(9), 'g')
                    || chr(9) || '</w>' || chr(9),
               f := f) ORDER BY word) AS ws
      FROM wf
    ), rec AS (
      SELECT 0 AS step, CAST(NULL AS VARCHAR) AS pair, ws FROM w0
      UNION ALL
      SELECT step + 1, best,
             list_transform(ws, w -> struct_pack(
               w := replace(w.w,
                      chr(9) || string_split(best, chr(9))[1] || chr(9)
                      || chr(9) || string_split(best, chr(9))[2] || chr(9),
                      chr(9) || string_split(best, chr(9))[1]
                      || string_split(best, chr(9))[2] || chr(9)),
               f := w.f))
      FROM (
        SELECT step, ws,
               list_min(
                 list_transform(
                   list_filter(cnts, c -> c.cnt =
                     list_max(list_transform(cnts, x -> x.cnt))),
                   c -> c.p)) AS best
        FROM (
          SELECT step, ws,
                 list_transform(
                   list_distinct(list_transform(pa,
                     q -> q.l || chr(9) || q.r)),
                   p -> struct_pack(p := p,
                          cnt := list_sum(list_transform(
                            list_filter(pa,
                              q -> q.l || chr(9) || q.r = p),
                            q -> q.f)))) AS cnts
          FROM (
            SELECT step, ws,
                   flatten(list_transform(ws, w ->
                     list_transform(
                       generate_series(1,
                         len(string_split(substr(w.w, 2, length(w.w) - 2),
                             chr(9) || chr(9))) - 1),
                       i -> struct_pack(
                         l := string_split(substr(w.w, 2, length(w.w) - 2),
                                chr(9) || chr(9))[i],
                         r := string_split(substr(w.w, 2, length(w.w) - 2),
                                chr(9) || chr(9))[i + 1],
                         f := w.f)))) AS pa
            FROM rec WHERE step < {N}
          )
        )
      ) WHERE best IS NOT NULL
    )
    SELECT CAST(step - 1 AS INT) AS rank,
           string_split(pair, chr(9))[1] AS left_sym,
           string_split(pair, chr(9))[2] AS right_sym
    FROM rec WHERE step >= 1
    """.replace("{N}", str(_L21B_MERGES))


@query("l21b_bpe_merges", _L21B_ORACLE)
def l21b_bpe_merges(spark, sf_dir):
    """L21b: BPE merge TRAINING as a recursive CTE — the hash-green
    twin that retires l21's rows-only status (the last LLM-family
    ≈-operator; "recurrences aren't SQL-expressible" retired via
    Spark 4 ``WITH RECURSIVE``, applied to the tokenizer).
    The merge loop's state is the word-frequency table with each
    word's current SYMBOL SEQUENCE — vocabulary-sized, so it rides the
    recursion as ONE ROW holding an array of (encoded word, freq)
    structs. Encoding: every symbol wrapped in its own tab pair
    (``\\ta\\t\\tb\\t…``; tokens are whitespace-split so tabs cannot
    occur inside a symbol) — which makes the merge application ONE
    string ``replace()``: left-to-right non-overlapping replacement is
    EXACTLY greedy BPE merge order, and the per-symbol wrappers make
    boundary-sharing false matches impossible. Each step counts
    adjacent pairs (flatten + distinct + per-pair sum, all list
    expressions over the single row), takes the deterministic argmax
    (max count, then lexicographically smallest pair — the tab-joined
    pair string's order equals tuple order for text symbols since tab
    sorts below every printable char), and rewrites the vocabulary.

    The one corpus-sized pass is the word-frequency aggregate
    (l21/l7's shape), localCheckpoint-PINNED so the recursion re-reads
    one row, never the corpus; iteration count is the declared merge
    budget (60), not corpus size. The argmax is ONE LINEAR fold: sort
    the pair multiset, then a 4-field struct accumulator walks the
    runs keeping (best pair, best count, current pair, current count)
    — ascending order makes "strictly greater replaces" exactly the
    max-count/lexicographically-smallest tie rule. (The first cut
    computed counts as distinct-pairs × filter-sum — quadratic in the
    pair multiset and ~2 s/level interpreted; the fold is 33× faster,
    3.3 s warm for all 60 levels, measured.) The DuckDB oracle states
    the same recursion with the quadratic formulation (its list ops
    are vectorized — both argmax rules are provably the same
    function); pytest additionally pins BOTH engines == the
    pure-Python reference trainer (operators.tokenizer.train_bpe) for
    the same corpus and budget — the tokenizer family is now
    hash-gated end-to-end (l21 remains the production operator: its
    driver-side loop over the collected counter costs one pass where
    this costs a job per merge; this entry is the ENGINE-SURFACE
    twin).

    Scale: the recursion state is |vocabulary| structs in one row —
    independent of corpus size; per-step cost is one sort + one
    linear fold over the pair multiset on one executor. A 100 TB
    corpus changes only the word-frequency aggregate
    (map-combinable); a vocabulary too large for one row belongs to
    l21's driver loop."""
    docs = _t(spark, sf_dir, "documents")
    wf = (
        docs.select(
            F.explode(
                F.split(
                    F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")),
                    " ",
                )
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    w0 = wf.agg(
        F.sort_array(
            F.collect_list(
                F.named_struct(
                    F.lit("w"),
                    F.concat(
                        F.expr(
                            "regexp_replace(word, '(.)', "
                            "concat(chr(9), '$1', chr(9)))"
                        ),
                        F.expr("chr(9)"),
                        F.lit("</w>"),
                        F.expr("chr(9)"),
                    ),
                    F.lit("f"),
                    F.col("f"),
                )
            )
        ).alias("ws")
    )
    # pin: one corpus scan; the 60-step recursion re-reads one row
    w0.localCheckpoint(eager=False).createOrReplaceTempView("l21b_w0")
    return spark.sql(
        """
        WITH RECURSIVE rec AS (
          SELECT 0 AS step, CAST(NULL AS STRING) AS pair, ws
          FROM l21b_w0
          UNION ALL
          SELECT step + 1, best,
                 transform(ws, w -> named_struct(
                   'w', replace(w.w,
                          concat(chr(9), bl, chr(9), chr(9), br, chr(9)),
                          concat(chr(9), bl, br, chr(9))),
                   'f', w.f))
          FROM (
            SELECT step, ws, best,
                   element_at(split(best, chr(9)), 1) AS bl,
                   element_at(split(best, chr(9)), 2) AS br
            FROM (
              -- deterministic argmax as ONE linear fold over the
              -- sorted pair multiset: ascending order + strictly-
              -- greater-replaces == max count, lexicographically
              -- smallest pair on ties (the train_bpe rule)
              SELECT step, ws,
                     nullif(aggregate(
                       array_sort(pa),
                       named_struct('bp', '', 'bc', 0L,
                                    'cp', '', 'cc', 0L),
                       (a, e) -> CASE WHEN e.p = a.cp
                         THEN named_struct('bp', a.bp, 'bc', a.bc,
                                           'cp', a.cp, 'cc', a.cc + e.f)
                         ELSE named_struct(
                           'bp', IF(a.cc > a.bc, a.cp, a.bp),
                           'bc', IF(a.cc > a.bc, a.cc, a.bc),
                           'cp', e.p, 'cc', e.f) END,
                       a -> IF(a.cc > a.bc, a.cp, a.bp)), '') AS best
              FROM (
                SELECT step, ws,
                       flatten(transform(ws, w ->
                         transform(
                           CASE WHEN size(split(
                                  substring(w.w, 2, length(w.w) - 2),
                                  chr(9) || chr(9))) >= 2
                                THEN sequence(1, size(split(
                                  substring(w.w, 2, length(w.w) - 2),
                                  chr(9) || chr(9))) - 1)
                                ELSE array() END,
                           i -> named_struct(
                             'p', concat(
                                    element_at(split(
                                      substring(w.w, 2, length(w.w) - 2),
                                      chr(9) || chr(9)), CAST(i AS INT)),
                                    chr(9),
                                    element_at(split(
                                      substring(w.w, 2, length(w.w) - 2),
                                      chr(9) || chr(9)),
                                      CAST(i AS INT) + 1)),
                             'f', w.f)))) AS pa
                FROM rec WHERE step < {N}
              )
            )
          ) WHERE best IS NOT NULL
        )
        SELECT CAST(step - 1 AS INT) AS rank,
               element_at(split(pair, chr(9)), 1) AS left_sym,
               element_at(split(pair, chr(9)), 2) AS right_sym
        FROM rec WHERE step >= 1
        """.replace("{N}", str(_L21B_MERGES))
    )
