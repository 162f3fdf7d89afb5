"""Catalog extension — round-14 additions.

- ``l49_ivfadc_auto``: the fully AUTOMATIC sized-and-typed IVFADC
  build (``operators.similarity.ivfadc_plan``) on the Zipf-populated
  corpus — corpus count sizes the dial, the trained quantizer's
  measured spacing skew selects RESIDUAL codes with no caller-side
  choice (the round-13 verdict's top gap: the measured 0.656 → 0.842
  recall win previously lived in docstrings, not in code a caller
  gets by default).
- ``x22_stream_cdc_upsert``: streaming CDC at ingest — I/U/D
  correction records arriving across micro-batches, merged into a
  versioned KEEP-LATEST sink with delete tombstones; drained state
  applied to the base table equals the batch o10 changelog apply.
- ``l21b_bpe_merges``: the BPE merge recursion as a recursive CTE
  over vocabulary-sized single-row state — the hash-green twin that
  retires l21's rows-only status (a recurrence stated as a Spark 4
  recursive CTE, applied to the tokenizer family).
- ``pipe9b_stream_curation_quality``: the ingest curation funnel
  extended with the trained quality-score gate (l26's logistic
  weights broadcast map-only into the funnel).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from finporter_spark.queries.catalog import _t, query

# =====================================================================
# L49 — automatic sized-and-typed IVFADC on the Zipf corpus
# =====================================================================

# the oracle mirrors ivfadc_params' k_coarse rule in SQL so the same
# text is valid at ANY level-0 density (sf0.01/0.1/1): k = largest
# power of two <= 1.5 * sqrt(N), floor 16
_L49_K_CTE = """
    kk AS (SELECT GREATEST(16, CAST(POWER(2, FLOOR(LOG2(
                    GREATEST(16.0, 1.5 * SQRT(COUNT(*)))))) AS BIGINT))
                  AS k
           FROM e)"""

# level-0 dial constants (ivfadc_params: points-per-cell <= 128 at
# every oracle-checked density — sf0.01 ppc 15.6, sf0.1 31, sf1 62.5)
_L49_NPROBE = 6
_L49_SHORT = 200


def _l49_oracle() -> str:
    """The residual-IVFADC unroll (catalog_r12._l46b_oracle) on the
    Zipf corpus with the coarse k computed IN SQL from the corpus
    count — the DuckDB mirror of the ivfadc_plan flow for the branch
    the entry pins (level 0, m=4, residual codes)."""
    from finporter_spark.queries.ann_fixtures import _l46b_oracle
    from finporter_spark.queries.ann_fixtures import _ZIPF_E

    return _l46b_oracle(
        corpus_cte=_ZIPF_E + "," + _L49_K_CTE,
        k_sql="(SELECT k FROM kk)",
        shortlist=_L49_SHORT,
    )


@query("l49_ivfadc_auto", _l49_oracle())
def l49_ivfadc_auto(spark, sf_dir):
    """L49: IVFADC with the dial SIZED and the code type CHOSEN by
    measurement — :func:`finporter_spark.operators.similarity
    .ivfadc_plan` end-to-end on the Zipf-populated planted-cluster
    corpus. l47 runs the same corpus with the caller choosing plain
    codes (and documents the 0.656-vs-0.842 cost of that choice at
    zipf-sf10); here nothing is chosen: the corpus count sets
    k_coarse/m/n_probe/shortlist (``ivfadc_params``), and the trained
    quantizer's nearest-centroid spacing statistic
    (``quantizer_spacing_skew``; min/median < 0.765, the measured gap
    between the balanced and Zipf corpora at every scale) selects
    RESIDUAL codes — the measured right default on skew-populated
    corpora (+0.19 recall at zipf-sf10, IVFADC_DECADE.json), now the
    actual default.

    Oracle branch pin: the DuckDB oracle unrolls the residual level-0
    branch with k computed in SQL from the corpus count (the same
    1.5·√N rule), so the entry RAISES loudly if the plan ever decides
    differently (plain codes / an escalated level) instead of
    hash-diffing — the l46 import-raise pattern at runtime. The
    balanced-corpus counterpart (plan chooses PLAIN on l46's fixture)
    is pinned in tests/test_r14_ops.py, not as a second entry.

    Scale: everything the plan builds is fingerprint-guarded dataset
    state keyed by dial AND code type; the query side is l46b's shape
    (broadcast probe LUTs per (query, cell), ADC over staged residual
    codes, exact re-rank on Q × shortlist raw rows)."""
    from finporter_spark.operators.similarity import (
        ivfadc_plan,
        ivfadc_plan_topk,
    )
    from finporter_spark.queries.staging import io_dir as _io_dir
    from finporter_spark.queries.ann_fixtures import (
        _PQ_QMAX,
        _PQ_QMOD,
        _PQ_TOPK,
    )
    from finporter_spark.queries.ann_fixtures import (
        _staged_zipf_embeddings,
        _zipf_fingerprint,
    )

    ze = _staged_zipf_embeddings(spark, sf_dir)
    plan = ivfadc_plan(
        ze, "vec_id", "embedding", 64,
        cache_root=_io_dir(sf_dir, "l49_plan"),
        fingerprint=_zipf_fingerprint(sf_dir),
    )
    if (
        plan["code_type"] != "residual"
        or plan["level"] != 0
        or plan["m"] != 4
        or plan["n_probe"] != _L49_NPROBE
        or plan["shortlist"] != _L49_SHORT
    ):
        raise RuntimeError(
            "l49_ivfadc_auto: the measured plan "
            f"(code_type={plan['code_type']}, level={plan['level']}, "
            f"m={plan['m']}, n_probe={plan['n_probe']}, "
            f"shortlist={plan['shortlist']}, "
            f"nn_min_over_med={plan['nn_min_over_med']:.3f}) left the "
            "branch the oracle unrolls (residual, level 0, m=4, "
            "n_probe=6, shortlist=200) — this corpus/density is "
            "outside the entry's pinned regime; the operator itself "
            "is fine, regenerate the oracle for the new branch"
        )
    queries = ze.where(
        (F.col("vec_id") % _PQ_QMOD == 0) & (F.col("vec_id") < _PQ_QMAX)
    )
    out = ivfadc_plan_topk(
        plan, ze, queries, "vec_id", "embedding", k=_PQ_TOPK
    )
    return out.select(
        "query_id", "cand_id", F.col("rank").cast("int").alias("rank"),
        "dist2",
    )

# =====================================================================
# X22 — streaming CDC at ingest (keep-latest + delete tombstones)
# =====================================================================


@query(
    "x22_stream_cdc_upsert",
    """
    WITH ch AS (
      SELECT CASE WHEN event_type = 'click' THEN user_id + 10000000
                  ELSE user_id END AS key,
             ts, event_id, value,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'signup' THEN 'I'
                  ELSE 'U' END AS op
      FROM events
    ), latest AS (
      SELECT key, op, value FROM (
        SELECT key, op, value,
               row_number() OVER (PARTITION BY key
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ch) WHERE rn = 1
    )
    SELECT COALESCE(c.c_custkey, l.key) AS custkey, c.c_name AS name,
           COALESCE(l.value, c.c_acctbal) AS balance,
           l.key IS NOT NULL AS changed
    FROM customer c
    FULL OUTER JOIN latest l ON c.c_custkey = l.key
    WHERE l.op IS NULL OR l.op <> 'D'
    """,
)
def x22_stream_cdc_upsert(spark, sf_dir):
    """X22: streaming CDC at ingest — the correction-handling path the
    round-13 verdict named missing (#5): the versioned sinks were
    keep-first INSERT-only, while a production financial feed ships
    corrections and retractions (I/U/D) across micro-batches. The o10
    changelog (events mapped to ops: error→D, signup→I, else U, keyed
    with click keys shifted out of the customer domain) arrives as a
    JSON file stream in round-robin slices — so a key's records land
    in ARBITRARY micro-batches, including an older update arriving
    AFTER a newer one or after its delete — and merges into
    ``streaming.pipeline.versioned_keep_latest_sink``: each batch
    unions the parent snapshot and keeps the latest row per key by
    (ts, event_id) DESC, deletes retained as TOMBSTONES in the
    snapshot (dropping them at merge time would let a late older
    update resurrect the key) and filtered only at read time. The
    drained state is therefore the global keep-latest regardless of
    batching/arrival order, and applying it to the customer base
    (operators.dedup.apply_changelog — the same three-verb merge o10
    runs batch-side) equals the one-shot batch CDC apply: this entry
    carries o10's FULL oracle verbatim, certifying drain == batch
    apply cell-for-cell.

    Replay idempotence + out-of-order semantics (tombstone wins over
    an older late update; a NEWER update does resurrect) are pinned in
    tests/test_r14_ops.py on hand-built batches.

    Scale: per batch one keyed window over (parent state ∪ batch) —
    state is O(distinct keys + tombstones), exactly the o19/o20
    versioned layout (vacuum reclaims, time-travel reads); the base
    table joins ONCE after the drain, never per batch. ts rides as
    unix micros (bigint) through the JSON staging so no timestamp
    serialization enters the hash."""
    import shutil

    from finporter_spark.operators.dedup import apply_changelog
    from finporter_spark.queries.staging import (
        io_dir as _io_dir,
        stage_once as _stage_once,
    )
    from finporter_spark.streaming.pipeline import (
        run_stream_foreach_batch,
        versioned_keep_latest_sink,
    )

    e = _t(spark, sf_dir, "events")
    ch = e.select(
        F.when(F.col("event_type") == "click", F.col("user_id") + 10000000)
        .otherwise(F.col("user_id"))
        .alias("key"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
    )

    def _write(p):
        ch.repartition(8).write.mode("overwrite").json(p)

    path = _stage_once(
        sf_dir, "x22", _write, "events", extra_fingerprint="json-v1"
    )
    root = _io_dir(sf_dir, "x22_state")
    ckpt = _io_dir(sf_dir, "x22_ckpt")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    merge, read_final = versioned_keep_latest_sink(
        root,
        key_col="key",
        order_cols=["ts_us", "event_id"],
        op_col="op",
    )
    sdf = (
        spark.readStream.schema(
            "key bigint, ts_us bigint, event_id bigint, "
            "value double, op string"
        )
        .option("maxFilesPerTrigger", 4)
        .json(path)
    )
    run_stream_foreach_batch(sdf, merge, checkpoint=ckpt)
    # drained state INCLUDING tombstones = o10's `latest` CTE; the
    # batch-side three-verb apply then filters final D's
    latest = read_final(spark, with_tombstones=True)
    c = _t(spark, sf_dir, "customer")
    return apply_changelog(
        c,
        latest,
        base_key="c_custkey",
        log_key="key",
        op_col="op",
        order_by=[F.col("ts_us").desc(), F.col("event_id").desc()],
        payload_cols=["value"],
    ).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.coalesce("value", "c_acctbal").alias("balance"),
        F.col("key").isNotNull().alias("changed"),
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

# =====================================================================
# PIPE9b — ingest curation funnel + trained quality gate (verdict #7)
# =====================================================================


def _pipe9b_oracle() -> str:
    """pipe9's stage-chained CTE funnel extended with the l26 quality
    gate: the same 3-iteration GD unroll (catalog_prep's feat/w CTEs)
    scores every document, and survivors of the dup + length gates
    must also clear p_en >= 0.5."""
    from finporter_spark.queries.catalog import (
        _l2_band_union,
        _l2_sig_ctes,
        _TOKS,
    )
    from finporter_spark.queries.catalog_prep import (
        L26_FEAT as _L26_FEAT,
        l26_iter as _l26_iter,
    )

    l26 = (
        _L26_FEAT.replace("{toks}", _TOKS).strip()
        + ",\n    w0 AS (SELECT 0.0 AS b, 0.0 AS c1, 0.0 AS c2, "
        "0.0 AS c3),"
        + ",".join(_l26_iter(i) for i in (1, 2, 3))
    )
    return f"""
    WITH {_l2_sig_ctes(32, 3)}, band AS (
      {_l2_band_union(32, 8)}
    ), fs AS (
      SELECT band_id, bh, MIN(doc_id) AS first_doc
      FROM band GROUP BY band_id, bh
    ), flags AS (
      SELECT b.doc_id,
             SUM(CASE WHEN fs.first_doc < b.doc_id THEN 1 ELSE 0 END) > 0
               AS is_dup
      FROM band b
      JOIN fs ON fs.band_id = b.band_id AND fs.bh = b.bh
      GROUP BY b.doc_id
    ), {l26},
    score AS (
      SELECT doc_id,
             round(1.0/(1.0 + exp(-(w.b*x0 + w.c1*x1 + w.c2*x2
                                    + w.c3*x3))), 6) AS p_en
      FROM feat CROSS JOIN w3 w
    ), d AS (
      SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
    ), j AS (
      SELECT d.source, d.n_tokens,
             COALESCE(f.is_dup, FALSE) AS dup,
             s.p_en
      FROM d
      LEFT JOIN flags f USING (doc_id)
      LEFT JOIN score s USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           CAST(SUM(CASE WHEN NOT dup AND n_tokens < 30
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(SUM(CASE WHEN NOT dup AND n_tokens >= 30
                         AND p_en < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lowq,
           CAST(SUM(CASE WHEN NOT dup AND n_tokens >= 30
                         AND p_en >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN NOT dup AND n_tokens >= 30
                         AND p_en >= 0.5 THEN n_tokens ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM j GROUP BY source
    """


@query("pipe9b_stream_curation_quality", _pipe9b_oracle())
def pipe9b_stream_curation_quality(spark, sf_dir):
    """PIPE9b: the ingest curation funnel with the TRAINED quality
    gate (round-13 verdict #7): pipe9 gated only dedup + length while
    the batch side already had trained scoring — here survivors of the
    near-dup gate (the staged x21 drain verdict) and the 30-token
    floor must also clear the l26 classifier (3-iteration batch-GD
    logistic regression on cheap text features, trained IN the engine;
    scoring is map-only with literal weights — at ingest this is a
    stream-static broadcast, no shuffle added to the funnel). The
    per-source readout gains ``n_lowq``: arrived → dup → short → lowq
    → kept (+ kept tokens).

    Composes FOUR certified families in one hash-gated pipeline —
    streaming ingest (x21's drain, staged once per corpus version),
    dedup (l2 banding), corpus gates (length floor), and in-engine ML
    (l26's GD unroll) — with the stage-chained CTE oracle restating
    every stage including the 6 dp-rounded gradient descent, so the
    hash certifies the COMPOSITION. Gate order matters and is pinned:
    a document counts against the FIRST gate it fails, so the lowq
    column prices what the classifier removes from otherwise-kept
    text (docs with zero tokens are short first — the classifier's
    toks>0 domain guard never bites).

    Scale: pipe9's shape + one broadcast-scored corpus scan (the l26
    feature projection) and 3 mean-gradient aggregates for training —
    all map-combinable; nothing new materializes."""
    from finporter_spark.operators.text import tokens
    from finporter_spark.queries.catalog import CATALOG
    from finporter_spark.queries.catalog_r13 import (
        x21_flags_staged as _x21_flags_staged,
    )

    flags = _x21_flags_staged(spark, sf_dir).select("doc_id", "is_dup")
    score = CATALOG["l26_quality_classifier"][0](spark, sf_dir).select(
        "doc_id", "p_en"
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    j = (
        d.join(flags, "doc_id", "left")
        .join(score, "doc_id", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("dup"),
            "p_en",
        )
    )
    passed = (~F.col("dup")) & (F.col("n_tokens") >= 30)
    lowq = passed & (F.col("p_en") < 0.5)
    kept = passed & (F.col("p_en") >= 0.5)
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup"),
        F.sum(
            F.when((~F.col("dup")) & (F.col("n_tokens") < 30), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_short"),
        F.sum(F.when(lowq, 1).otherwise(0)).cast("bigint").alias("n_lowq"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )
