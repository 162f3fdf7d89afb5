"""IVFADC scale story: measure recall, scanned-candidate fraction, and
wall time of operators.similarity.ivfadc_topk across sf0.1/1/10 with the
IVF sizing rule applied — k_coarse grows with the corpus (16/32/64,
~2× per decade) while n_probe stays 6, so the scanned fraction FALLS
with corpus size (the property the l45c catalog query demonstrates at
fixed k=16 for oracle reasons; this sweep demonstrates the production
sizing). A fourth row ("10_k256" in the output) re-runs sf10 at the √N
rule PROPER (k=256 ≈ √80k), which crosses FLAT_ASSIGN_K and therefore
exercises the flat-literal assignment/probe path end-to-end; its
wall_s re-encodes the corpus per run (no dataset state in this tool —
production amortizes assignment/codes at ingest). Writes
IVFADC_DECADE.json {row: {n, k_coarse, recall, scanned_frac, wall_s}}
and prints a table.

Round 12: the corpus codes table (cell assignment + PQ codes) is now
STAGED dataset state (operators.similarity.load_or_build_ivfadc_codes
— verdict #2: the codes ARE the index at scale); each row reports
codes_build_s (the one-time ingest cost, measured only when the cache
is cold) separately from wall_s (the steady-state probe+ADC+rerank
query cost over staged codes). A second sweep runs the SAME pipeline
over the PLANTED-CLUSTER corpus (queries/ann.py's structured embeddings,
rows "struct_*") so the recall column is measured on data with the
structure real embeddings carry, not only on the random worst case.

Usage: python tools/ivfadc_decade.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np

from tools.measure import measure_query, session

SFS = [
    ("0.1", "/root/testdata/sf0.1", 16),
    ("1", "/tmp/finporter_testdata/sf1", 32),
    ("10", "/tmp/finporter_testdata/sf10", 64),
    # the √N rule proper at sf10 (√80k ≈ 283): k=256 exceeds the
    # literal-plan ceiling, so this row exercises the flat-literal
    # assignment/probe path end-to-end (operators/similarity.py
    # FLAT_ASSIGN_K) and extends the measured scanned-fraction curve
    ("10_k256", "/tmp/finporter_testdata/sf10", 256),
]
N_PROBE = 6
SHORTLIST = 200
TOPK = 10
QMOD, QMAX = 101, 101 * 50


def main() -> None:
    from pyspark.sql import functions as F

    from finporter_spark.operators.similarity import (
        choose_code_type,
        ivfadc_params,
        ivfadc_residual_topk,
        ivfadc_topk,
        load_or_build_ivfadc_codes,
        load_or_train_centroids_det,
        load_or_train_pq_books,
        residual_vectors,
        split_hot_cells,
    )
    from finporter_spark.queries.catalog import _t
    from finporter_spark.queries.staging import (
        io_dir as _io_dir,
        src_fp as _src_fp,
    )
    from finporter_spark.queries.ann import (
        _emb_fingerprint,
        _staged_structured_embeddings,
        _staged_zipf_embeddings,
        _zipf_fingerprint,
    )

    spark = session("ivfadc-decade", SFS[0][1])
    results = {}
    # structured-corpus ladder: every row is sized LIVE by the rule
    # (operators.similarity.ivfadc_params) from the corpus count — the
    # round-12 verdict's #1: no hand-chosen k/m/n_probe/shortlist.
    # The rule reproduces the measured ladder (k 64/128/256) and at
    # struct-sf10 escalates to the level-1 dial (m=8, n_probe=12,
    # shortlist=400) where the fixed m=4 default collapsed to 0.448.
    struct_rows = [
        ("struct_0.1", "/root/testdata/sf0.1", None),
        ("struct_1", "/tmp/finporter_testdata/sf1", None),
        ("struct_10", "/tmp/finporter_testdata/sf10", None),
    ]
    # Zipf-populated corpus (queries/ann.py): the skew case — the hottest
    # planted cluster holds ~21% of the corpus, so probing it scans
    # that whole share. The *_split row applies the quantizer-side
    # mitigation (split_hot_cells, cap 0.1) at the density where one
    # quantizer cell ≈ one planted cluster, and measures the scanned
    # fraction the split buys back at held recall.
    # Round 14: struct/zipf rows are sized AND TYPED by the plan rule
    # (choose_code_type on the trained quantizer's spacing skew) — no
    # caller-side residual choice. The statistic fires on every zipf
    # density (measured nn_min/med <= 0.718 vs balanced >= 0.816), so
    # zipf_10 IS the auto-residual row (~0.842 where the old plain
    # default read 0.656); zipf_10_plain keeps the forced-plain A/B.
    zipf_rows = [
        ("zipf_0.1", "/root/testdata/sf0.1", None),
        ("zipf_1", "/tmp/finporter_testdata/sf1", None),
        ("zipf_10", "/tmp/finporter_testdata/sf10", None),
        ("zipf_0.1_split", "/root/testdata/sf0.1", None),
        # the documented cost of overriding the auto choice: plain
        # codes at the identical sized dial (the pre-round-14 default)
        ("zipf_10_plain", "/tmp/finporter_testdata/sf10", None),
    ]
    for sf, d, k in SFS + struct_rows + zipf_rows:
        structured = sf.startswith("struct_")
        zipf = sf.startswith("zipf_")
        split = sf.endswith("_split")
        forced_res = sf.endswith("_res")
        forced_plain = sf.endswith("_plain")
        auto = None
        if structured or zipf:
            if zipf:
                emb = _staged_zipf_embeddings(spark, d)
                fp = _zipf_fingerprint(d)
                fam = "l47"
            else:
                emb = _staged_structured_embeddings(spark, d)
                # struct caches derive from the staged corpus: stamp
                # includes the planted-cluster recipe, not just parquet
                fp = _emb_fingerprint(d)
                fam = "l46"
            prm = ivfadc_params(emb.count(), 64)
            k, m = prm["k_coarse"], prm["m"]
            n_probe, shortlist = prm["n_probe"], prm["shortlist"]
        else:
            emb = _t(spark, d, "embeddings")
            m, n_probe, shortlist = 4, N_PROBE, SHORTLIST
            tag = f"l45dec_k{k}"
            fp = _src_fp(d, "embeddings")
            fam = "l45"
        cents = load_or_train_centroids_det(
            emb, "vec_id", "embedding", dim=64, n_centroids=k, iters=3,
            cache_path=_io_dir(
                d,
                f"{fam}_coarse_k{k}_i3" if structured or zipf
                else f"ivfadc_centroids_det_k{k}_d64_i3",
            ),
            fingerprint=fp,
        )
        # code-type decision: forced by the row suffix for the A/B
        # rows, otherwise MEASURED from the trained quantizer (the
        # ivfadc_plan default a scale caller now gets)
        if structured or zipf:
            auto = choose_code_type(cents)
            resid = (
                True
                if forced_res
                else False
                if forced_plain
                else auto["code_type"] == "residual"
            )
        else:
            resid = forced_res
        if split:
            # the *_split row measures quantizer BALANCE (scanned
            # fraction under the cap), not code quality — force plain
            # codes so this tool's flat res-book cache paths are never
            # written against a split quantizer (the production
            # composition with split-keyed caches is
            # operators.similarity.split_and_rebuild_codes)
            resid = False
        if structured or zipf:
            tag = f"{fam}dec{'_res' if resid else ''}_k{k}_m{m}"
        split_s = None
        if split:
            t0 = time.time()
            cents = split_hot_cells(
                emb, "vec_id", "embedding", cents, max_cell_frac=0.1
            )
            split_s = round(time.time() - t0, 3)
            tag += f"_split{len(cents)}"
        # books train AFTER any split (plain PQ books are
        # quantizer-independent; residual books depend on cents)
        if resid:
            rv = residual_vectors(emb, "vec_id", "embedding", cents)
            books = load_or_train_pq_books(
                rv, "vec_id", "_rv", m=m, k=16, iters=2,
                cache_path=_io_dir(d, f"{fam}_res_books_m{m}_k16"),
                fingerprint=fp,
            )
        else:
            books = load_or_train_pq_books(
                emb, "vec_id", "embedding", m=m, k=16, iters=2,
                cache_path=_io_dir(
                    d,
                    f"{fam}_books_m{m}_k16" if structured or zipf
                    else "l45_pq_books_m4_k16_i2",
                ),
                fingerprint=fp,
            )
        # ingest-time index build: timed ONLY when the cache is cold —
        # cold includes a fingerprint-stale cache (the loader rebuilds
        # on marker mismatch, so the time is a real build)
        codes_path = _io_dir(d, f"{tag}_codes")
        mk = os.path.join(codes_path, "_codes_fingerprint")
        try:
            with open(mk) as fh:
                cold = fh.read() != fp
        except OSError:
            cold = True
        t0 = time.time()
        codes = load_or_build_ivfadc_codes(
            emb, "vec_id", "embedding", cents, books,
            cache_path=codes_path, residual=resid, fingerprint=fp,
        )
        codes_build = round(time.time() - t0, 3) if cold else None
        queries = emb.where(
            (F.col("vec_id") % QMOD == 0) & (F.col("vec_id") < QMAX)
        )

        def run():
            fn = ivfadc_residual_topk if resid else ivfadc_topk
            return fn(
                emb, queries, "vec_id", "embedding", cents, books,
                n_probe=n_probe, shortlist=shortlist, k=TOPK,
                codes=codes,
            )

        wall = round(measure_query(spark, f"ivfadc-{sf}", run, 1)[0].wall, 3)

        rows = run().collect()
        pdf = emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        ).toPandas()
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        M = np.stack(pdf["v"].to_numpy())[order]
        qids = sorted({r.query_id for r in rows})
        # scanned fraction: replay deterministic assign + probe in numpy
        # (chunked — the dense n×k×dim residual tensor is ~10 GB at
        # n=80k, k=256)
        C = np.array(cents)
        chunks = []
        for lo in range(0, len(M), 8192):
            blk = M[lo : lo + 8192]
            chunks.append(
                np.round(
                    ((blk[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 6
                )
            )
        dc = np.concatenate(chunks)
        cell = dc.argmin(axis=1)
        recs, fracs = [], []
        for q in qids:
            qi = int(np.searchsorted(ids, q))
            dq = ((M - M[qi]) ** 2).sum(axis=1)
            exact = set(ids[np.lexsort((ids, dq))][:TOPK].tolist())
            got = {r.cand_id for r in rows if r.query_id == q}
            recs.append(len(got & exact) / TOPK)
            probed = np.argsort(dc[qi], kind="stable")[:n_probe]
            fracs.append(float(np.isin(cell, probed).mean()))
        results[sf] = {
            "n": int(len(ids)),
            "k_coarse": len(cents),
            "m": m,
            "n_probe": n_probe,
            "shortlist": shortlist,
            "recall": round(float(np.mean(recs)), 3),
            "scanned_frac": round(float(np.mean(fracs)), 3),
            "wall_s": wall,
            "codes_build_s": codes_build,
        }
        if auto is not None:
            results[sf]["code_type"] = "residual" if resid else "plain"
            results[sf]["auto_code_type"] = auto["code_type"]
            results[sf]["nn_min_over_med"] = round(
                auto["nn_min_over_med"], 3
            )
        if split_s is not None:
            results[sf]["split_s"] = split_s
        print(f"sf{sf}: {results[sf]}", flush=True)
    with open(os.path.join(REPO, "IVFADC_DECADE.json"), "w") as f:
        json.dump(results, f, indent=1)
    print("wrote IVFADC_DECADE.json")


if __name__ == "__main__":
    main()
