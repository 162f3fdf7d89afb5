"""Catalog extension — round-11 additions.

- ``l45c_ivfadc_topk``: TRUE IVFADC (coarse IVF cell pruning composed
  with the PQ compressed-domain scan + exact re-rank) — the round-10
  verdict's top ask: l45's ADC scan touched every corpus code per
  query; l45c probes the top-n_probe coarse cells and ADC-scores only
  codes inside probed cells.
- ``a42_psi_weekly``: sliding-window PSI — the production drift cadence
  (per-week current distribution vs the fixed first-half reference
  deciles), sharing a40/x18's exact reference construction.
- ``x19_transform_with_state_timers``: transformWithStateInPandas with
  EVENT-TIME TIMERS — watermark-driven session eviction (the one
  stateful-API surface x17 left untouched), drain == batch 10-minute
  gap sessionization (w6's contract).
- ``x18b_stream_psi_weekly``: the streaming twin of a42 — per-(type,
  week, bucket) update-mode counts against the broadcast reference
  deciles; drain == batch a42 cell-for-cell.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Window, functions as F

from finporter_spark.operators.stats import normal_sf_two_sided_sql
from finporter_spark.queries.catalog import _t, query
from finporter_spark.queries.staging import io_dir as _io_dir
from finporter_spark.queries.ann_fixtures import (
    _ivf_dist_cte,
    _ivf_mean_cte,
)
from finporter_spark.queries.ann_fixtures import (
    _PQ_M,
    _PQ_QMAX,
    _PQ_QMOD,
    _PQ_TOPK,
    _pq_books,
    _pq_sub_ctes,
)
from finporter_spark.queries.catalog_r10 import (
    x18_reference as _x18_reference,
)

# =====================================================================
# L45c — true IVFADC: coarse-cell pruning + PQ ADC + exact re-rank
# =====================================================================

_IVFADC_NPROBE = 6
_IVFADC_SHORTLIST = 200
_IVF_K = 16       # coarse cells (shares l3_ivf's cached quantizer)
_IVF_ITERS = 3


def _l45c_oracle() -> str:
    """Compose the two Lloyd unrolls: the coarse 16-cell IVF quantizer
    (catalog_ext's l3_ivf CTEs — same params, so Spark shares the SAME
    cached centroids) and l45's per-subspace PQ codebooks, then score
    ADC only where the candidate's cell is probed."""
    ivf_rounds = []
    prev = "c0"
    for r in range(1, _IVF_ITERS + 1):
        ivf_rounds.append(_ivf_dist_cte(prev, f"d{r}", f"a{r}"))
        ivf_rounds.append(_ivf_mean_cte(f"a{r}", prev, f"m{r}", f"c{r}"))
        prev = f"c{r}"
    ivf = ",".join(ivf_rounds)
    subs = ",".join(_pq_sub_ctes(i) for i in range(_PQ_M))
    code_joins = " ".join(
        f"JOIN a3_{i} USING (vec_id)" if i else "FROM a3_0"
        for i in range(_PQ_M)
    )
    code_cols = ", ".join(f"a3_{i}.cid AS c{i}" for i in range(_PQ_M))
    lut_joins = " ".join(
        f"JOIN lut_{i} l{i} ON l{i}.cid = codes.c{i}"
        f" AND l{i}.query_id = qp.query_id"
        for i in range(_PQ_M)
    )
    ad = " + ".join(f"l{i}.d" for i in range(_PQ_M))
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    c0 AS (SELECT CAST(vec_id AS INT) AS cid,
                  list_transform(emb, x -> ROUND(x, 6)) AS cen
           FROM e WHERE vec_id < {_IVF_K}),
    {ivf},
    {_ivf_dist_cte(prev, 'df', 'af')},
    qp AS (SELECT vec_id AS query_id, cid FROM (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid)
                  AS rk
         FROM df WHERE vec_id % {_PQ_QMOD} = 0 AND vec_id < {_PQ_QMAX})
       WHERE rk <= {_IVFADC_NPROBE}),
    {subs},
    codes AS (SELECT a3_0.vec_id, {code_cols} {code_joins}),
    score AS (SELECT qp.query_id, codes.vec_id AS cand_id,
                     ROUND({ad}, 6) AS adist
              FROM codes
              JOIN af ON af.vec_id = codes.vec_id
              JOIN qp ON qp.cid = af.cid
              {lut_joins}),
    short AS (SELECT query_id, cand_id FROM (
      SELECT query_id, cand_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adist, cand_id) AS rk
      FROM score) WHERE rk <= {_IVFADC_SHORTLIST}),
    exact AS (SELECT s.query_id, s.cand_id,
                ROUND(list_sum(list_transform(list_zip(eq.emb, ec.emb),
                      z -> (z[1] - z[2])*(z[1] - z[2]))), 6) AS dist2
              FROM short s
              JOIN e eq ON eq.vec_id = s.query_id
              JOIN e ec ON ec.vec_id = s.cand_id)
    SELECT query_id, cand_id, rank, dist2 FROM (
      SELECT query_id, cand_id, dist2,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY dist2, cand_id) AS INT)
               AS rank
      FROM exact) WHERE rank <= {_PQ_TOPK}
    """


@query("l45c_ivfadc_topk", _l45c_oracle())
def l45c_ivfadc_topk(spark, sf_dir):
    """L45c: TRUE IVFADC (Jégou et al., TPAMI 2011) — the composition
    the round-10 verdict named as the missing 100 TB ANN shape: l45's
    ADC scan reads EVERY corpus code per query (linear per batch);
    here the corpus is additionally assigned to a coarse IVF cell
    (l3_ivf's deterministic 16-means quantizer — the SAME cached
    centroids, dataset state shared across operators) and each query
    ADC-scores only codes inside its {n_probe} nearest cells, then the
    {short}-candidate shortlist re-ranks on true distances.

    Scanned-candidate fraction ~n_probe/k_coarse (~0.38 here); at
    scale k_coarse grows ~√N with n_probe fixed, so the fraction FALLS
    with corpus size — the property neither l45 (full code scan) nor
    l45b (full-scan shortlist) has. Measured recall (tools/
    sim_ivfadc.py, vs exact top-10): 0.76 at sf0.01 / 0.605 at sf0.1 —
    ABOVE the full-scan l45b (0.74 / 0.43) at the same rerank budget,
    because cell pruning removes far-away candidates that lossy ADC
    ranks spuriously high.

    Plan: cell assign + PQ encode are map-only literal projections; the
    probe table (Q × n_probe rows carrying the LUT arrays) broadcasts
    into ONE BroadcastHashJoin on cell id; per-query windows prune
    map-side (WindowGroupLimit); the raw-vector column is touched for
    Q × shortlist rows only. Jégou's residual refinement (PQ on
    x − centroid, per-cell query LUTs) was SIMULATED and deferred in
    round 11: +0–5 pp recall on THIS corpus (tools/sim_ivfadc
    .residual_variant — random embeddings carry no cluster structure
    for residuals to exploit) does not buy the m×k×n_probe LUT blowup.
    Round 12 re-validated the decision on the planted-cluster corpus
    and REVERSED it there: +17 pp at the same budget — see
    catalog_r12 ``l46b_ivfadc_residual``; the split stands (plain PQ
    for structureless data, residual for clustered). Round 12 also
    staged the corpus codes as ingest-time dataset state
    (``load_or_build_ivfadc_codes`` — the codes ARE the index; staged
    ≡ inline asserted in tests/test_recall_sf01.py). Full value-hash
    oracle: BOTH Lloyd
    trainings unrolled as CTEs (the l3_ivf + l45 generators composed),
    probe/assign/ADC/rerank decisions all 6 dp-rounded with
    lowest-index tie-breaks — bit-identical cross-engine."""
    from finporter_spark.operators.similarity import (
        ivfadc_topk,
        load_or_build_ivfadc_codes,
        load_or_train_centroids_det,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir, emb)
    from finporter_spark.queries.staging import src_fp as _src_fp

    cents = load_or_train_centroids_det(
        emb, "vec_id", "embedding", dim=64,
        n_centroids=_IVF_K, iters=_IVF_ITERS,
        cache_path=_io_dir(sf_dir, "l3_ivf_centroids_det_k16_d64_i3"),
        fingerprint=_src_fp(sf_dir, "embeddings"),
    )
    # the codes table IS the index: assignment + PQ encoding are staged
    # once per (corpus, params) like the quantizer/codebooks themselves
    # (round-11 verdict #2 — at sf10 the per-run re-encode dominated)
    from finporter_spark.operators.scale import source_fingerprint

    codes = load_or_build_ivfadc_codes(
        emb, "vec_id", "embedding", cents, books,
        cache_path=_io_dir(
            sf_dir, f"l45c_codes_k{_IVF_K}_m{_PQ_M}"
        ),
        fingerprint=source_fingerprint(
            os.path.join(sf_dir, "embeddings.parquet")
        ),
    )
    queries = emb.where(
        (F.col("vec_id") % _PQ_QMOD == 0) & (F.col("vec_id") < _PQ_QMAX)
    )
    out = ivfadc_topk(
        emb, queries, "vec_id", "embedding", cents, books,
        n_probe=_IVFADC_NPROBE, shortlist=_IVFADC_SHORTLIST, k=_PQ_TOPK,
        codes=codes,
    )
    return out.select(
        "query_id", "cand_id", F.col("rank").cast("int").alias("rank"),
        "dist2",
    )


# =====================================================================
# A42 — sliding-window PSI (weekly drift vs the fixed reference)
# =====================================================================

_A42_ORACLE = """
    WITH b AS (
      SELECT MIN(epoch_us(ts)) + MAX(epoch_us(ts)) AS mm FROM events
    ), s AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS iv,
             CASE WHEN epoch_us(ts) * 2 < (SELECT mm FROM b)
                  THEN 1 ELSE 0 END AS is_ref,
             date_trunc('week', ts) AS wk
      FROM events
    ), g AS (
      SELECT event_type, iv,
             SUM(is_ref) AS cr
      FROM s GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, iv, cr,
             SUM(cr) OVER (PARTITION BY event_type ORDER BY iv) AS fr
      FROM g
    ), n AS (
      SELECT event_type, SUM(cr) AS nr FROM g GROUP BY event_type
    ), edges AS (
      SELECT cum.event_type, k.k, MIN(cum.iv) AS edge
      FROM cum JOIN n USING (event_type)
      CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS k) k
      WHERE cum.fr * 10 >= k.k * n.nr
      GROUP BY cum.event_type, k.k
    ), el AS (
      SELECT event_type, list(edge ORDER BY k) AS es
      FROM edges GROUP BY event_type
    ), rb AS (
      SELECT s.event_type,
             1 + len(list_filter(el.es, e -> s.iv > e)) AS bkt,
             COUNT(*) AS br
      FROM s JOIN el USING (event_type)
      WHERE s.is_ref = 1
      GROUP BY 1, 2
    ), bc AS (
      SELECT s.event_type, s.wk,
             1 + len(list_filter(el.es, e -> s.iv > e)) AS bkt,
             COUNT(*) AS bcur
      FROM s JOIN el USING (event_type)
      WHERE s.is_ref = 0
      GROUP BY 1, 2, 3
    ), ncw AS (
      SELECT event_type, wk, SUM(bcur) AS ncw
      FROM bc GROUP BY 1, 2
    ), spine AS (
      SELECT ncw.event_type, ncw.wk, ncw.ncw, kk.bkt
      FROM ncw
      CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS bkt) kk
    ), p AS (
      SELECT spine.event_type, spine.wk, spine.bkt,
             GREATEST(CAST(COALESCE(rb.br, 0) AS DOUBLE) / n.nr,
                      1e-6) AS pr,
             GREATEST(CAST(COALESCE(bc.bcur, 0) AS DOUBLE) / spine.ncw,
                      1e-6) AS pc
      FROM spine
      JOIN n ON n.event_type = spine.event_type
      LEFT JOIN rb
        ON rb.event_type = spine.event_type AND rb.bkt = spine.bkt
      LEFT JOIN bc
        ON bc.event_type = spine.event_type AND bc.wk = spine.wk
       AND bc.bkt = spine.bkt
    )
    SELECT event_type, wk, bkt,
           round(pr, 6) AS p_ref, round(pc, 6) AS p_cur,
           round((pc - pr) * ln(pc / pr), 6) AS psi_term
    FROM p
    """


@query("a42_psi_weekly", _A42_ORACLE)
def a42_psi_weekly(spark, sf_dir):
    """A42: SLIDING-WINDOW PSI — the production drift cadence the
    round-10 verdict asked for: a40 compares two fixed halves once;
    a42 scores every WEEK of the current period against the same fixed
    first-half reference deciles, emitting the 10 per-bucket terms per
    (event_type, week) so a monitoring dashboard reads PSI-over-time
    and names where the mass moved in the week it moved.

    Shares a40/x18's exact reference construction verbatim
    (``_x18_reference``: integer epoch-µs half split, order-statistic
    decile edges from cumulative counts over the quantized-value
    domain, bounded array-filter bucketing); the only new piece is the
    week grain — p_cur normalizes by the WEEK's total (so a
    low-traffic week still reads as a probability distribution), with
    the weekly total derived from the bucket counts (no second corpus
    pass for it). Same exactness contract as a40: integer divisions,
    1e-6 zero-bucket clamps, one 6 dp-rounded log term per row — full
    value-hash oracle.

    Scale: two corpus passes (reference counts, current bucket
    counts); everything after is (#types × #weeks × 10)-sized. The
    streaming twin is x18 (same reference artifact broadcast; a
    windowed streaming agg keyed by week would make THIS query the
    per-trigger readout)."""
    s, el, rb, n = _x18_reference(spark, sf_dir)
    bc = (
        s.where(F.col("is_ref") == 0)
        .join(F.broadcast(el), "event_type")
        .select(
            "event_type", "wk",
            (
                1 + F.size(F.filter("es", lambda ed: F.col("iv") > ed))
            ).alias("bkt"),
        )
        .groupBy("event_type", "wk", "bkt")
        .agg(F.count("*").alias("bcur"))
    )
    return _psi_table_weekly(spark, n, rb, bc)


def _psi_table_weekly(spark, n, rb, bc):
    """(type, wk, bkt, p_ref, p_cur, psi_term) from reference counts
    ``rb``/totals ``n`` and current WEEKLY bucket counts
    ``bc(event_type, wk, bkt, bcur)`` — the shared a42/x18b finishing
    stage (the a40/x18 ``_psi_table`` pattern, keyed by week). ``bc``
    is pinned: the weekly totals AND the final join both read it, so
    without the pin the current-period corpus pass would run twice
    (and the drained memory sink would hit a self-join reference
    conflict in x18b)."""
    bc = bc.localCheckpoint()
    ncw = bc.groupBy("event_type", "wk").agg(
        F.sum("bcur").alias("ncw")
    )
    spine = ncw.crossJoin(
        F.broadcast(
            spark.range(1, 11).select(
                F.col("id").cast("int").alias("bkt")
            )
        )
    )
    p = (
        spine.join(
            F.broadcast(n.select("event_type", "nr")), "event_type"
        )
        .join(F.broadcast(rb), ["event_type", "bkt"], "left")
        .join(bc, ["event_type", "wk", "bkt"], "left")
        .select(
            "event_type", "wk", "bkt",
            F.greatest(
                F.coalesce("br", F.lit(0)).cast("double") / F.col("nr"),
                F.lit(1e-6),
            ).alias("pr"),
            F.greatest(
                F.coalesce("bcur", F.lit(0)).cast("double")
                / F.col("ncw"),
                F.lit(1e-6),
            ).alias("pc"),
        )
    )
    return p.select(
        "event_type", "wk",
        F.col("bkt").cast("int").alias("bkt"),
        F.round("pr", 6).alias("p_ref"),
        F.round("pc", 6).alias("p_cur"),
        F.round(
            (F.col("pc") - F.col("pr"))
            * F.log(F.col("pc") / F.col("pr")),
            6,
        ).alias("psi_term"),
    )


# =====================================================================
# X19 — transformWithState TIMERS: timer-evicted streaming sessions
# =====================================================================


def _stage_x19_slices(spark, sf_dir):
    """Nine mtime-ordered CSV files: SEVEN contiguous EVENT-TIME slices
    of the events corpus (equal-width µs spans, so per-user rows arrive
    in event-time order across micro-batches — the precondition for
    incremental gap sessionization to equal the batch result) plus TWO
    future-dated sentinel files. Two sentinels because a new watermark
    only takes effect in the NEXT batch and availableNow runs no batch
    after the last file (measured: with one sentinel, the key holding
    the corpus-max event never flushed): under maxFilesPerTrigger=2 the
    nine files batch as (0,1)(2,3)(4,5)(6,s1)(s2) — sentinel-1 (max ts
    + 2 h) advances the watermark past every open session's
    (end + gap) expiry, and the sentinel-2 batch is where those timers
    fire. Round 13 drains at maxFilesPerTrigger=4 — (0..3)(4..6,s1)(s2),
    3 batches instead of 5: the same two-sentinel watermark proof and
    >= 2 data batches, at 3/5 of the per-batch harness cost."""
    from finporter_spark.queries.staging import stage_once as _stage_once

    def _write(p):
        # clean first: a restage after a LAYOUT change must not leave
        # the old layout's files behind (a stale slice would be drained
        # as duplicate input — caught as exactly that during round 11)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p, exist_ok=True)
        e = _t(spark, sf_dir, "events")
        b = e.agg(
            F.min(F.unix_micros("ts")).alias("mn"),
            (F.max(F.unix_micros("ts")) + 1).alias("mx"),
        ).collect()[0]
        span = b.mx - b.mn
        fmt = F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "ts"
        )
        slices = []
        for k in range(7):
            lo = b.mn + span * k // 7
            hi = b.mn + span * (k + 1) // 7
            slices.append(
                (
                    f"slice{k}.csv",
                    e.where(
                        (F.unix_micros("ts") >= lo)
                        & (F.unix_micros("ts") < hi)
                    ).select("user_id", fmt, "event_id", "value"),
                    1_000_000_000 + 1000 * k,
                )
            )

        def _sentinel(hours: int):
            return e.agg(F.max("ts").alias("mts")).select(
                F.lit(-1).cast("bigint").alias("user_id"),
                F.date_format(
                    F.col("mts") + F.expr(f"INTERVAL {hours} HOURS"),
                    "yyyy-MM-dd HH:mm:ss.SSSSSS",
                ).alias("ts"),
                F.lit(-1).cast("bigint").alias("event_id"),
                F.lit(0.0).alias("value"),
            )

        slices.append(
            ("slice7_sentinel1.csv", _sentinel(2), 1_000_000_000 + 8000)
        )
        slices.append(
            ("slice8_sentinel2.csv", _sentinel(4), 1_000_000_000 + 9000)
        )
        for name, df, mtime in slices:
            tmp = os.path.join(p, "_tmp")
            df.repartition(1).write.mode("overwrite").csv(
                tmp, header=True
            )
            part = next(
                f for f in os.listdir(tmp) if f.startswith("part-")
            )
            dst = os.path.join(p, name)
            os.replace(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            # file-source batch order follows modification time; pin it
            os.utime(dst, (mtime, mtime))

    # extra_fingerprint pins the LAYOUT (slice count + sentinel scheme):
    # a layout change restages instead of silently reusing stale files
    return _stage_once(
        sf_dir, "x19", _write, "events",
        extra_fingerprint="7slices+2sentinels-v1",
    )


def _x19_drained(spark, sf_dir):
    """Drive the timer-evicting session processor over the staged
    slices; returns the RAW memory-sink table (incl. the via_timer
    flag the equality test asserts on)."""
    import pandas as pd  # noqa: F401

    from finporter_spark.streaming.pipeline import (
        ensure_worker_protobuf,
        run_stream_to_memory,
    )

    ensure_worker_protobuf(spark)
    from pyspark.sql.streaming import (  # needs protobuf on sys.path
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("s", LongType()),
            StructField("e", LongType()),
            StructField("n", LongType()),
            StructField("c", LongType()),
            StructField("exp", LongType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("s_us", LongType()),
            StructField("e_us", LongType()),
            StructField("n_events", LongType()),
            StructField("cents", LongType()),
            StructField("via_timer", IntegerType()),
        ]
    )
    cols = ["user_id", "s_us", "e_us", "n_events", "cents", "via_timer"]

    class SessionProcessor(StatefulProcessor):
        """Per-user 10-minute-gap sessionization with EVENT-TIME
        TIMER eviction — the real streaming-sessionization mechanism:
        gap-closed sessions emit from handleInputRows; the OPEN
        session registers a timer at (last-event second + 601)·1000 ms
        and is flushed when the event-time WATERMARK passes it. Because
        the staged files are contiguous event-time slices, watermark ≥
        expiry proves no session-continuing event can still arrive, so
        a timer flush and a gap-close are interchangeable — each
        session is emitted exactly once regardless of which mechanism
        wins, and regardless of input-vs-timer ordering within a batch
        (a stale fire is a no-op via the expiry==stored guard)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._st = handle.getValueState("sess", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            recs = []
            for pdf in rows:
                recs.extend(
                    zip(pdf["tus"], pdf["event_id"], pdf["iv"])
                )
            recs.sort(key=lambda r: (int(r[0]), int(r[1])))
            if self._st.exists():
                s0, e0, n0, c0, exp0 = self._st.get()
            else:
                s0, e0, n0, c0, exp0 = None, None, 0, 0, None
            out = []
            for tus, _eid, iv in recs:
                tus, iv = int(tus), int(iv)
                if s0 is None:
                    s0, e0, n0, c0 = tus, tus, 1, iv
                elif tus // 1_000_000 - e0 // 1_000_000 > 600:
                    out.append((key[0], s0, e0, n0, c0, 0))
                    s0, e0, n0, c0 = tus, tus, 1, iv
                else:
                    e0, n0, c0 = tus, n0 + 1, c0 + iv
            # fire once no continuing event can exist: any event in a
            # second <= e0s+600 still continues the session, so the
            # earliest safe expiry is the first ms of second e0s+601
            new_exp = (e0 // 1_000_000 + 601) * 1000
            if exp0 is not None and exp0 != new_exp:
                self._h.deleteTimer(exp0)
            if exp0 != new_exp:
                self._h.registerTimer(new_exp)
            self._st.update((s0, e0, n0, c0, new_exp))
            if out:
                yield pd.DataFrame(out, columns=cols)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            import pandas as pd

            if not self._st.exists():
                return
            s0, e0, n0, c0, exp0 = self._st.get()
            if int(expiredTimerInfo.getExpiryTimeInMs()) != exp0:
                return  # stale timer; a newer registration owns the key
            self._st.clear()
            yield pd.DataFrame(
                [(key[0], s0, e0, n0, c0, 1)], columns=cols
            )

        def close(self) -> None:
            pass

    path = _stage_x19_slices(spark, sf_dir)
    sdf = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_id bigint, value double"
        )
        .option("header", True)
        # 9 files -> 3 micro-batches: (0..3)(4..6,s1)(s2) — round-13
        # drain trim from 5: still >= 2 data batches (the cross-batch
        # sessionization proof), s1 still advances the watermark at the
        # end of its batch, and the lone-sentinel final batch still
        # runs under it to fire the timers. Slices are event-time
        # contiguous, so ANY contiguous grouping keeps per-user
        # event-time order across batches.
        .option("maxFilesPerTrigger", 4)
        .csv(path)
        # delay 0: later slices hold strictly later event times, so
        # nothing is ever late — the watermark exists to drive timers
        .withWatermark("ts", "0 seconds")
        .select(
            "user_id",
            F.unix_micros("ts").alias("tus"),
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        )
    )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        tws = sdf.groupBy("user_id").transformWithStateInPandas(
            SessionProcessor(),
            outputStructType=out_schema,
            outputMode="Append",
            timeMode="EventTime",
        )
        # 8 state partitions, not 32 — same transformWithStateInPandas
        # A/B as x17 (per-partition RocksDB load+commit dominates the
        # drain; Arrow-batch dispatch, not per-key): 32 → 8 measured
        # 8.2 → 6.1 s, sp=4 regresses (7.2 s). RocksDB changelog
        # checkpointing was also A/B'd and does NOT help at drain
        # backlogs (8.4 s — the snapshot is tiny, the changelog
        # machinery pure overhead).
        return run_stream_to_memory(
            tws, "x19_mem", output_mode="append", state_partitions=8
        )
    finally:
        if prev is not None:
            spark.conf.set(prov_key, prev)
        else:
            spark.conf.unset(prov_key)


@query(
    "x19_transform_with_state_timers",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS iv,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 600
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, iv,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS seq
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(iv) AS DOUBLE) / 100.0 AS total_value
    FROM sessions GROUP BY user_id, seq
    """,
    baseline_of="x3_session_window",
)
def x19_transform_with_state_timers(spark, sf_dir):
    """X19: transformWithStateInPandas with EVENT-TIME TIMERS — the
    stateful-API surface x17 left unexercised (x17 runs
    timeMode="None") and the mechanism real streaming sessionization
    needs: per-user 10-minute-gap sessions where gap-closed sessions
    emit inline but the OPEN session is evicted by a TIMER once the
    event-time watermark proves no continuing event can arrive
    (expiry = first ms of second end+601; the staged slices are
    event-time-contiguous, so watermark ≥ expiry ⇒ every future event
    breaks the gap). A ProcessingTime variant was built first and
    REJECTED: processing-time timeMode makes availableNow re-trigger
    empty batches indefinitely (shouldRunAnotherBatch is always true),
    i.e. the drain never terminates — measured, not guessed. The
    two sentinel files (x4's mtime trick, timestamped 2 h/4 h in the
    future — watermarks take effect one batch later and availableNow
    runs no batch after the last file, so the second sentinel's batch
    is where the advanced watermark fires the timers) flush every open
    session exactly once; timer-evicted state is asserted in
    tests/test_r11_ops.py via the via_timer flag.

    Determinism: the 7 data files are contiguous EVENT-TIME slices, so
    per-user rows arrive in event-time order across micro-batches and
    incremental gap sessionization equals the batch computation — the
    drained result carries w6's full value-hash oracle (10-min gap,
    (ts, event_id) tie order, bigint-cent totals). Timer flush and
    gap-close are interchangeable by construction (watermark ≥ expiry
    ⇒ the next event would gap-close anyway), and the expiry==stored
    guard makes stale fires no-ops — correctness does not depend on
    input-vs-timer ordering inside a batch.

    Scale: per-key state is 5 longs + one registered timer (RocksDB
    column families); the per-batch Python dispatch is the x17 cost
    class — the operator exists for semantics built-ins cannot express
    (session CONTENTS with custom eviction); gap sessions whose output
    is only aggregates want x3's built-in session window — hence the
    ``baseline_of="x3_session_window"`` tag: ``baselines()`` lists the
    Python-stateful demos (x17, x19 → scale twins) so a
    consumer filtering machine-readably never routes 100 TB through
    the per-key Python dispatch path."""
    out = _x19_drained(spark, sf_dir)
    return out.where(F.col("user_id") >= 0).select(
        "user_id",
        F.timestamp_micros("s_us").alias("session_start"),
        F.timestamp_micros("e_us").alias("session_end"),
        "n_events",
        (F.col("cents").cast("double") / 100.0).alias("total_value"),
    )


# =====================================================================
# X18b — streaming SLIDING-WINDOW drift monitor (weekly PSI)
# =====================================================================


@query("x18b_stream_psi_weekly", _A42_ORACLE)
def x18b_stream_psi_weekly(spark, sf_dir):
    """X18b: the streaming twin of a42 — the production drift monitor
    at its production cadence: the current period arrives as a stream
    (8 staged CSV files, 4 forced micro-batches), each event is
    bucketed against the STATIC first-half reference deciles via a
    stream-static broadcast join, and an update-mode streaming
    aggregation maintains per-(type, WEEK, bucket) counts — x18 keeps
    one counter set per type; x18b keys it by week, so after every
    trigger the dashboard can read PSI-over-time. After the drain the
    final counts join the reference probabilities into a42's exact
    per-week PSI table.

    Correctness gate: drained result == batch a42 cell-for-cell (the
    x18-vs-a40 precedent: update-mode final counts are the full
    per-week counts regardless of file batching) — carries a42's FULL
    value-hash oracle, plus a same-session x18b == a42 equality test.

    Scale: static side = 9 edges + 10 p_ref rows per type (broadcast);
    streaming state is #types × #weeks × 10 counters — weeks grow with
    wall-clock, so a production deployment ages out closed weeks with
    a watermark on the week column; here the window is the fixed
    current period."""
    from finporter_spark.queries.staging import stage_once as _stage_once
    from finporter_spark.streaming.pipeline import run_stream_to_memory

    s, el, rb, n = _x18_reference(spark, sf_dir)

    def write_current(p):
        (
            s.where(F.col("is_ref") == 0)
            .select(
                "event_type",
                F.date_format(
                    "wk", "yyyy-MM-dd HH:mm:ss"
                ).alias("wk"),
                "iv",
            )
            .repartition(8)
            .write.mode("overwrite")
            .csv(p, header=True)
        )

    path = _stage_once(
        sf_dir, "x18b", write_current, "events",
        extra_fingerprint="wk-v1",
    )
    sdf = (
        spark.readStream.schema(
            "event_type string, wk timestamp, iv bigint"
        )
        .option("header", True)
        # 8 files -> 2 batches: the minimum cross-batch accretion
        # proof (round-13 drain trim — final update-mode counts are
        # batching-independent)
        .option("maxFilesPerTrigger", 4)
        .csv(path)
        .join(F.broadcast(el), "event_type")
        .select(
            "event_type", "wk",
            (
                1 + F.size(F.filter("es", lambda ed: F.col("iv") > ed))
            ).alias("bkt"),
        )
        .groupBy("event_type", "wk", "bkt")
        .count()
    )
    out = run_stream_to_memory(
        sdf, "x18b_mem", output_mode="update", state_partitions=4
    )
    # final count per cell = the last (max) update-mode emission; the
    # shared finishing stage pins it (dual consumption + memory-sink
    # self-join conflict)
    bc = out.groupBy("event_type", "wk", "bkt").agg(
        F.max("count").alias("bcur")
    )
    return _psi_table_weekly(spark, n, rb, bc)


# =====================================================================
# A43 — weekly (grouped) KS drift: per-segment distribution tests
# =====================================================================


@query(
    "a43_ks_weekly",
    """
    WITH s AS (
      SELECT date_trunc('week', ts) AS wk,
             CAST(round(value * 100) AS BIGINT) AS iv,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a
      FROM events WHERE event_type IN ('view', 'purchase')
    ), g AS (
      SELECT wk, iv, SUM(a) AS c1, SUM(1 - a) AS c2
      FROM s GROUP BY 1, 2
    ), cum AS (
      SELECT wk, iv,
             SUM(c1) OVER (PARTITION BY wk ORDER BY iv) AS f1,
             SUM(c2) OVER (PARTITION BY wk ORDER BY iv) AS f2
      FROM g
    ), tot AS (
      SELECT wk, MAX(f1) AS n1, MAX(f2) AS n2 FROM cum GROUP BY wk
    ), d AS (
      SELECT cum.wk, cum.iv, tot.n1, tot.n2,
             abs(cum.f1 * tot.n2 - cum.f2 * tot.n1) AS dnum
      FROM cum JOIN tot ON tot.wk = cum.wk
    ), best AS (
      SELECT wk, n1, n2, MAX(dnum) AS dnum FROM d GROUP BY 1, 2, 3
    ), at AS (
      SELECT d.wk, d.n1, d.n2, d.dnum, MIN(d.iv) AS at_iv
      FROM d JOIN best ON best.wk = d.wk AND best.dnum = d.dnum
      GROUP BY 1, 2, 3, 4
    )
    SELECT wk, n1, n2, at_iv,
           CAST(dnum AS DOUBLE) / (n1 * n2) AS d_stat,
           round(LEAST(1.0, 2.0 * exp(
             -2.0 * (CAST(dnum AS DOUBLE) / (n1 * n2))
                  * (CAST(dnum AS DOUBLE) / (n1 * n2))
                  * (n1 * CAST(n2 AS DOUBLE)) / (n1 + n2))), 6)
             AS p_approx
    FROM at
    """,
)
def a43_ks_weekly(spark, sf_dir):
    """A43: per-WEEK exact two-sample KS between the 'view' and
    'purchase' value distributions — a37 at the production monitoring
    cadence (the KS analogue of a40→a42): one exact D/p row per week,
    so a dashboard reads distribution-shift-over-time and a single
    drifted week cannot hide inside a whole-period test.

    Built on ``operators.stats.ks_2sample_by`` — the grouped
    generalization whose CDF window partitions BY the key: the scale
    shape is strictly better than global a37 (no single-partition
    domain sort exists at all; per-task state is one week's quantized
    domain), and the same a37 pin applies (the domain-sized aggregate
    is localCheckpoint-pinned so the corpus is scanned once). Same
    integer-exactness contract: bigint cross-counts, one final
    division, Smirnov p rounded 6 dp on week-sized output."""
    from finporter_spark.operators.stats import ks_2sample_by

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    s = e.select(
        F.date_trunc("week", "ts").alias("wk"),
        F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("a"),
    )
    return ks_2sample_by(s, "iv", "a", ["wk"]).select(
        "wk", "n1", "n2",
        F.col("at_v").alias("at_iv"),
        "d_stat", "p_approx",
    )


# =====================================================================
# A44 — weekly (grouped) Mann–Whitney U: per-segment rank-sum drift
# =====================================================================


@query(
    "a44_mwu_weekly",
    f"""
    WITH s AS (
      SELECT date_trunc('week', ts) AS wk,
             CAST(round(value * 100) AS BIGINT) AS iv,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a
      FROM events WHERE event_type IN ('view', 'purchase')
    ), g AS (
      SELECT wk, iv, SUM(a) AS c1, SUM(1 - a) AS c2, COUNT(*) AS c
      FROM s GROUP BY 1, 2
    ), cum AS (
      SELECT wk, iv, c1, c2, c,
             COALESCE(SUM(c) OVER (PARTITION BY wk ORDER BY iv
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS f
      FROM g
    ), agg AS (
      SELECT wk, SUM(c1) AS n1, SUM(c2) AS n2,
             SUM(c1 * (2 * f + c + 1)) AS r1x2,
             SUM(c * c * c - c) AS tie3
      FROM cum GROUP BY wk
    )
    SELECT wk, n1, n2, u1, u2, z,
           round({normal_sf_two_sided_sql('z')}, 6) AS p_value
    FROM (
      SELECT wk, n1, n2,
             CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
             n1 * CAST(n2 AS DOUBLE)
               - CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u2,
             CASE WHEN (n1 * CAST(n2 AS DOUBLE) / 12.0)
                       * ((n1 + n2 + 1)
                          - COALESCE(CAST(tie3 AS DOUBLE)
                            / ((n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE)),
                            0.0)) > 0
                  THEN round(
                    (CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                     - n1 * CAST(n2 AS DOUBLE) / 2.0)
                    / sqrt((n1 * CAST(n2 AS DOUBLE) / 12.0)
                       * ((n1 + n2 + 1)
                          - COALESCE(CAST(tie3 AS DOUBLE)
                            / ((n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE)),
                            0.0))), 6)
             END AS z
      FROM agg
    )
    """,
)
def a44_mwu_weekly(spark, sf_dir):
    """A44: per-WEEK exact tie-corrected Mann–Whitney U between the
    'view' and 'purchase' value distributions — a38 at the production
    monitoring cadence, completing the per-segment drift pair with a43
    (KS screens the whole CDF; U screens the location shift — a week
    where the values merely re-shuffled trips KS but not U).

    Built on ``operators.stats.mann_whitney_u_by`` — the grouped
    generalization whose doubled-midrank window partitions BY key (no
    single-partition sort anywhere, per-task state = one week's
    quantized domain, the a37 pin applies). Same integer-exactness
    contract as a38: doubled midranks keep rank sums bigint, U halves
    exactly in binary, Lehmann tie-corrected z rounds 6 dp on
    week-sized output, NULL z on zero variance, and ``p_value`` — the
    two-sided normal p from the rounded z (A&S erfc polynomial,
    oracle-mirrored) — NULL exactly where z is."""
    from finporter_spark.operators.stats import mann_whitney_u_by

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    s = e.select(
        F.date_trunc("week", "ts").alias("wk"),
        F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("a"),
    )
    return mann_whitney_u_by(s, "iv", "a", ["wk"])


# =====================================================================
# S15 — ORC predicate pushdown + column pruning (scan-side contract)
# =====================================================================


@query(
    "s15_orc_pushdown",
    """
    SELECT s_suppkey, s_name,
           CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier
    WHERE CAST(s_acctbal AS DOUBLE) > 4500.0
    """,
)
def s15_orc_pushdown(spark, sf_dir):
    """S15: ORC SCAN-side contract — predicate pushdown + column
    pruning through Spark's built-in ORC source (zlib-compressed
    write). The lossless write→read identity for ORC is s4's entry
    (``s4_orc_roundtrip``, catalog_prep); what s4 does NOT certify is
    the read path a warehouse user actually depends on at 100 TB: that
    a filtered, projected query over an ORC table pushes the predicate
    into the ORC reader (row-group / stripe-statistics skipping, the
    parquet s8 analogue) and prunes unread columns, instead of
    decoding every stripe of every column. Here the supplier table is
    staged as zlib ORC, then read back through a filter
    (``s_acctbal > 4500``) and a 3-column projection; the hash oracle
    certifies the filtered VALUES survive ORC encode→filter→decode,
    and ``tests/test_plans.py::test_s15_orc_pushdown_plan`` asserts
    the plan carries ``PushedFilters: [... GreaterThan(s_acctbal,
    4500.0)]`` on the ORC scan with the unprojected columns absent
    from the read schema — the property that keeps an ORC lake scan
    I/O-proportional to the query, not the table."""
    path = _io_dir(sf_dir, "s15")

    def _write(p):
        (
            _t(spark, sf_dir, "supplier")
            .select(
                "s_suppkey", "s_name", "s_nationkey",
                F.col("s_acctbal").cast("double").alias("s_acctbal"),
            )
            .write.mode("overwrite")
            .option("compression", "zlib")
            .orc(p)
        )

    from finporter_spark.queries.staging import stage_once as _stage_once

    _stage_once(sf_dir, "s15", _write, "supplier",
                extra_fingerprint="orc-zlib-v2")
    return (
        spark.read.orc(path)
        .where(F.col("s_acctbal") > 4500.0)
        .select("s_suppkey", "s_name", "s_acctbal")
    )


# =====================================================================
# P18 — VARIANT ingestion (Spark 4 semi-structured type)
# =====================================================================


def _p18_json_expr():
    """The synthesized semi-structured document p18/s17 share: nested
    object, array, OPTIONAL field (the l41 derive-the-mess pattern,
    since the corpus's props column is flat). Columns referenced:
    event_type, event_id, value."""
    return F.concat(
        F.lit('{"t":"'), F.col("event_type"),
        F.lit('","ks":['),
        (F.col("event_id") % 5).cast("string"),
        F.lit(","),
        (F.col("event_id") % 7).cast("string"),
        F.lit('],"nested":{"cents":'),
        F.round(F.col("value") * 100).cast("bigint").cast("string"),
        F.when(F.col("event_id") % 3 == 0, F.lit(',"tag":"hot"'))
        .otherwise(F.lit("")),
        F.lit("}}"),
    )


@query(
    "p18_variant_extract",
    """
    WITH j AS (
      SELECT event_id,
             '{"t":"' || event_type || '","ks":['
               || CAST(event_id % 5 AS VARCHAR) || ','
               || CAST(event_id % 7 AS VARCHAR)
               || '],"nested":{"cents":'
               || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
               || CASE WHEN event_id % 3 = 0
                       THEN ',"tag":"hot"' ELSE '' END
               || '}}' AS js
      FROM events
    )
    SELECT event_id,
           json_extract_string(js, '$.t') AS t,
           CAST(json_extract(js, '$.ks[1]') AS BIGINT) AS k2,
           CAST(json_extract(js, '$.nested.cents') AS BIGINT) AS cents,
           json_extract_string(js, '$.nested.tag') AS tag
    FROM j
    """,
)
def p18_variant_extract(spark, sf_dir):
    """P18: Spark 4's VARIANT type — the modern semi-structured
    ingestion path p12's string-functions predate: a synthesized JSON
    document (nested object, array, OPTIONAL field — the l41
    derive-the-mess pattern, since the corpus's props column is flat)
    is parsed ONCE into a VARIANT column (``parse_json``, binary
    columnar encoding) and typed values are extracted by path
    (``variant_get`` with target types: string, array index, nested
    path, and a missing-field NULL). At 100 TB this is the
    schema-on-read contract for raw event lakes: VARIANT parses the
    document once at ingest and every downstream extraction is a typed
    columnar read — vs ``get_json_object`` re-parsing the string per
    expression. Absent fields surface as NULL, not errors.

    Oracle: DuckDB builds the semantically identical document with its
    own string concat and extracts via its JSON path functions —
    the hash compares the TYPED extracted values, so it certifies
    parse+path+cast semantics across two independent JSON engines
    (doubles avoided in the payload: cents ride as bigints)."""
    e = _t(spark, sf_dir, "events")
    v = e.select("event_id", F.parse_json(_p18_json_expr()).alias("v"))
    return v.select(
        "event_id",
        F.variant_get("v", "$.t", "string").alias("t"),
        F.variant_get("v", "$.ks[1]", "bigint").alias("k2"),
        F.variant_get("v", "$.nested.cents", "bigint").alias("cents"),
        F.variant_get("v", "$.nested.tag", "string").alias("tag"),
    )


# public fixture surface (round-14)
p18_json_expr = _p18_json_expr
