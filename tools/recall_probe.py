"""Vector-recall receipts: one run measures every approximate retrieval
path of operators/similarity.py against exact ground truth on one
embeddings table and writes BOTH receipt files, every block, so no run
can leave a stale or missing block behind.

ANN_RECALL.json — recall@5 of the batch ANN joins against the exact
tiled kNN join over all vectors, with wall clock per setting:
  hyperplane      hyperplane-LSH bucket join across (n_planes, probe_bits)
  ivf             IVF centroid-probe join across (n_centroids, n_probe)
  planted         share of planted near-duplicates whose top-k holds
                  their base vector (the realistic near-dup case)

PQ_RECALL.json — recall@10 of the product-quantization tier against
exact L2 top-10 over the full corpus, mean of 20 strided queries:
  pq              ADC over all codes across (m_sub, k_codes), cheap fit
                  (sample_fraction=0.5, max_iter=6, the contract
                  entries' setting) vs full fit (None, 20)
  ivfpq_raw       ADC over the n_probe nearest of 16 IVF lists
  ivfpq_residual  the same over residual codes (PQ of v - center)
  rerank          two-stage pq_rerank_topk (ADC shortlist of k', exact
                  L2 re-rank) across k'
  ivfpq_rerank    three-stage ivfpq_rerank_topk across (n_probe, k')
  opq             OPQ vs raw PQ at 16 and 32 bits, ADC and k'=50 re-rank
  opq_aniso       the same on an anisotropic twin of the corpus

The pytest suite pins recall lower bounds at the contract params; these
files record the whole recall/cost curves. Scratch artifacts go to
.tmp/recall_probe (cleared at start).

Usage: python tools/recall_probe.py [sf_dir]   (default: the sf0.1 tables)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from poc_spark.operators import similarity as sim  # noqa: E402

SCRATCH = ".tmp/recall_probe"
ANN_K = 5
PQ_K = 10
N_QUERIES = 20
N_LISTS = 16
CHEAP = {"sample_fraction": 0.5, "max_iter": 6}
FULL = {"sample_fraction": None, "max_iter": 20}


def _l2(qv: list[float]):
    """Exact-order L2² fold of the `embedding` column against `qv`."""
    ql = F.array(*[F.lit(float(x)) for x in qv])
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(v, ql, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def exact_l2_topk(df, qv: list[float]) -> set[int]:
    rows = (
        df.select(F.col("vec_id").alias("id"), _l2(qv).alias("dist"))
        .orderBy("dist", "id")
        .limit(PQ_K)
        .collect()
    )
    return {int(r["id"]) for r in rows}


def ids(df) -> set[int]:
    return {int(r["id"]) for r in df.collect()}


def mean_recall(got: dict[int, set[int]], truth: dict[int, set[int]]) -> float:
    r = [len(got[q] & truth[q]) / PQ_K for q in got]
    return round(sum(r) / len(r), 4)


def wall(t0: float) -> float:
    return round(time.perf_counter() - t0, 2)


def ivf_artifact(spark, df, path: str, n_centroids: int = N_LISTS, **fit):
    sim.build_ivf_index(df, path, n_centroids=n_centroids, **fit)
    return sim.load_ivf_index(spark, path)


def ann_recall(spark, emb, n: int, sf_dir: str) -> dict:
    t0 = time.perf_counter()
    exact = sim.knn_join_tiled(emb, k=ANN_K).select("id", "neighbor_id").persist()
    n_exact = exact.count()
    out: dict = {
        "sf_dir": sf_dir,
        "n_vectors": n,
        "k": ANN_K,
        "exact": {"wall_sec": wall(t0), "pairs": n_exact},
        "hyperplane": [],
        "ivf": [],
        "note": (
            "recall@k vs the exact tiled GEMM join over all "
            f"{n} vectors. Both approximate paths are "
            "candidate-generation-by-bucket with exact verify, so "
            "precision is 1.0 by construction and recall is the only "
            "quality axis. The knobs trade candidate-set size (the "
            "100 TB cost driver) against recall; pytest pins lower "
            "bounds at the contract params, this file records the "
            "curve."
        ),
    }

    def recall(approx) -> float:
        hit = exact.join(
            approx.select("id", "neighbor_id"), ["id", "neighbor_id"]
        ).count()
        return round(hit / n_exact, 4)

    for n_planes, probe_bits in [(8, 0), (8, 1), (8, 2), (12, 1), (12, 2)]:
        t0 = time.perf_counter()
        r = recall(
            sim.ann_join_hyperplane(
                emb, k=ANN_K, n_planes=n_planes, probe_bits=probe_bits
            )
        )
        probed = sum(math.comb(n_planes, b) for b in range(probe_bits + 1))
        out["hyperplane"].append(
            {
                "n_planes": n_planes,
                "probe_bits": probe_bits,
                "recall_at_k": r,
                "wall_sec": wall(t0),
                "bucket_fraction": round(probed / (1 << n_planes), 4),
            }
        )
        print("hyperplane", out["hyperplane"][-1], flush=True)

    for n_centroids, n_probe in [(16, 1), (16, 2), (16, 4), (32, 2), (32, 4)]:
        index_df, cents = ivf_artifact(
            spark, emb, f"{SCRATCH}/ann_ivf_{n_centroids}", n_centroids=n_centroids
        )
        t0 = time.perf_counter()
        r = recall(sim.ivf_join(index_df, cents, k=ANN_K, n_probe=n_probe))
        out["ivf"].append(
            {
                "n_centroids": n_centroids,
                "n_probe": n_probe,
                "recall_at_k": r,
                "wall_sec": wall(t0),
                "list_fraction": round(n_probe / n_centroids, 4),
            }
        )
        print("ivf", out["ivf"][-1], flush=True)

    # planted near-duplicates: one jittered copy per vector
    # (deterministic hash noise, cos(base, copy) ~ 0.99); the metric is
    # the share of copies whose top-k contains their base
    jit = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            + 0.1
            * (
                F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(1000)).cast("double")
                / 500.0
                - 1.0
            ),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(jit).persist()
    corpus.count()
    index_df, cents = ivf_artifact(spark, corpus, f"{SCRATCH}/ann_ivf_planted")
    out["planted"] = []
    for method, fn in (
        ("hyperplane n_planes=8 probe_bits=1",
         lambda: sim.ann_join_hyperplane(corpus, k=ANN_K, n_planes=8, probe_bits=1)),
        ("hyperplane n_planes=8 probe_bits=2",
         lambda: sim.ann_join_hyperplane(corpus, k=ANN_K, n_planes=8, probe_bits=2)),
        ("ivf n_centroids=16 n_probe=1",
         lambda: sim.ivf_join(index_df, cents, k=ANN_K, n_probe=1)),
        ("ivf n_centroids=16 n_probe=2",
         lambda: sim.ivf_join(index_df, cents, k=ANN_K, n_probe=2)),
    ):
        t0 = time.perf_counter()
        hits = fn().filter(
            (F.col("id") >= 1_000_000)
            & (F.col("neighbor_id") == F.col("id") - 1_000_000)
        ).count()
        out["planted"].append(
            {
                "method": method,
                "planted_recall": round(hits / n, 4),
                "wall_sec": wall(t0),
            }
        )
        print("planted", out["planted"][-1], flush=True)
    out["note_planted"] = (
        "the random-noise sections above are the WORST case for ANN "
        "(synthetic embeddings have median pairwise cos ~0 and p99 "
        "~0.29, so exact top-k is barely above the noise floor — "
        "there is no structure to exploit); planted_recall measures "
        "the realistic near-duplicate retrieval case (cos ~0.99 "
        "neighbor), where bucket methods are designed to operate."
    )
    exact.unpersist()
    corpus.unpersist()
    return out


def pq_recall(spark, emb, n: int, sf_dir: str) -> dict:
    # deterministic query set: every (n // N_QUERIES)-th vec_id
    stride = max(1, n // N_QUERIES)
    qrows = emb.filter(F.col("vec_id").isin([i * stride for i in range(N_QUERIES)]))
    queries = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in qrows.collect()
    }
    t0 = time.perf_counter()
    truth = {q: exact_l2_topk(emb, qv) for q, qv in queries.items()}
    out: dict = {
        "sf_dir": sf_dir,
        "n_vectors": n,
        "k": PQ_K,
        "n_queries": len(queries),
        "exact_wall_sec": wall(t0),
        "pq": [],
        "ivfpq_raw": [],
        "ivfpq_residual": [],
        "note": (
            "recall@10 vs exact L2 top-10 over the full corpus, mean of "
            f"{len(queries)} strided queries. 'pq' scans ALL codes "
            "(compression only); 'ivfpq_*' also prunes to n_probe of 16 "
            "lists, so its recall is bounded by the IVF probe recall. "
            "fit='cheap' is the contract entries' bench setting "
            "(sample_fraction=0.5, max_iter=6); fit='full' is "
            "(None, 20). compression = 64 floats (256 B as float32) "
            "vs m_sub*ceil(log2(k_codes))/8 bytes of codes."
        ),
    }

    # ---- pure PQ (no list pruning): compression/recall curve. Every
    # later block reuses these codebooks and codes: the fit is
    # deterministic, so refitting the same (m_sub, k_codes, fit) would
    # only repeat the same artifact.
    books: dict = {}
    for m_sub, k_codes, fit in [
        (4, 16, "cheap"),
        (4, 16, "full"),
        (8, 16, "cheap"),
        (4, 64, "cheap"),
        (8, 64, "cheap"),
        (16, 64, "cheap"),
    ]:
        path = f"{SCRATCH}/pq_{m_sub}_{k_codes}_{fit}"
        t0 = time.perf_counter()
        sim.pq_train(emb, path, m_sub=m_sub, k=k_codes,
                     **(CHEAP if fit == "cheap" else FULL))
        fit_wall = wall(t0)
        cb = sim.load_pq_codebook(spark, path)
        codes = sim.pq_encode(emb, cb).persist()
        codes.count()
        books[(m_sub, k_codes, fit)] = (cb, codes)
        t0 = time.perf_counter()
        got = {q: ids(sim.pq_adc_topk(codes, cb, qv, PQ_K)) for q, qv in queries.items()}
        bits = m_sub * max(1, math.ceil(math.log2(k_codes)))
        out["pq"].append(
            {
                "m_sub": m_sub,
                "k_codes": k_codes,
                "fit": fit,
                "recall": mean_recall(got, truth),
                "code_bits": bits,
                "compression_x": round(64 * 32 / bits, 1),
                "fit_wall_sec": fit_wall,
                "query_wall_sec_total": wall(t0),
            }
        )
        print("pq", out["pq"][-1], flush=True)

    # ---- IVF-PQ raw and residual: probe curve at m_sub=4, k=16 ----
    vectors, cents = ivf_artifact(spark, emb, f"{SCRATCH}/ivf")
    vectors = vectors.persist()
    raw_cb, _ = books[(4, 16, "cheap")]
    raw_codes = sim.pq_encode(vectors, raw_cb, keep_cols=("centroid",)).persist()
    raw_codes.count()
    # residual codes (FAISS form): PQ over v - center(assigned list)
    centers = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for _, c in sorted(cents)]
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    res_all = vectors.select(
        "vec_id",
        "centroid",
        F.zip_with(
            v,
            F.element_at(centers, F.col("centroid").cast("int") + 1),
            lambda a, b: a - b,
        ).alias("res"),
    ).persist()
    res_all.count()
    # the residual PQ train keeps the DISTRIBUTED k-means|| fit, as the
    # sim_ivfpq_residual entry pins it
    spark.conf.set("spark.poc.sim.localFitMaxRows", "0")
    try:
        sim.pq_train(res_all, f"{SCRATCH}/pq_res", m_sub=4, k=16,
                     vec_col="res", **CHEAP)
    finally:
        spark.conf.unset("spark.poc.sim.localFitMaxRows")
    res_cb = sim.load_pq_codebook(spark, f"{SCRATCH}/pq_res")
    res_codes = sim.pq_encode(
        res_all, res_cb, "res", "vec_id", keep_cols=("centroid",)
    ).persist()
    res_codes.count()
    for n_probe in (2, 4, 8, 16):
        probes = {q: sim.ivf_probe_lists(cents, qv, n_probe) for q, qv in queries.items()}
        t0 = time.perf_counter()
        got = {
            q: ids(sim.pq_adc_topk(
                raw_codes.filter(F.col("centroid").isin(probes[q])), raw_cb, qv, PQ_K
            ))
            for q, qv in queries.items()
        }
        out["ivfpq_raw"].append(
            {"n_probe": n_probe, "recall": mean_recall(got, truth),
             "query_wall_sec_total": wall(t0)}
        )
        print("ivfpq_raw", out["ivfpq_raw"][-1], flush=True)
        t0 = time.perf_counter()
        got = {
            q: ids(sim.ivfpq_residual_topk(res_codes, res_cb, cents, qv, probes[q], PQ_K))
            for q, qv in queries.items()
        }
        out["ivfpq_residual"].append(
            {"n_probe": n_probe, "recall": mean_recall(got, truth),
             "query_wall_sec_total": wall(t0)}
        )
        print("ivfpq_residual", out["ivfpq_residual"][-1], flush=True)

    # ---- two-stage: ADC shortlist of k' -> exact re-rank ----
    out["rerank"] = []
    for m_sub in (4, 8):
        cb, codes = books[(m_sub, 16, "cheap")]
        for kp in (10, 20, 50, 100, 200):
            t0 = time.perf_counter()
            got = {
                q: ids(sim.pq_rerank_topk(emb, codes, cb, qv, k=PQ_K, k_prime=kp))
                for q, qv in queries.items()
            }
            out["rerank"].append(
                {
                    "m_sub": m_sub,
                    "k_codes": 16,
                    "fit": "cheap",
                    "k_prime": kp,
                    "recall_after_rerank": mean_recall(got, truth),
                    "query_wall_sec_total": wall(t0),
                }
            )
            print("rerank", out["rerank"][-1], flush=True)
    out["rerank_note"] = (
        "two-stage pq_rerank_topk: ADC shortlist of k' (cheap-fit codes, "
        "the contract entries' setting) then exact L2 re-rank of the "
        "shortlist only; recall@10 vs the same exact-L2 ground truth as "
        "the 'pq' block. k'=10 equals pure ADC order re-scored (exact "
        "distances can only reorder, not recover, the shortlist), so the "
        "lift over the 'pq' row is the value of over-fetching."
    )

    # ---- three-stage: IVF probe -> ADC over probed lists -> re-rank,
    # over a cheap-fit IVF index (the sim_ivfpq_rerank setting) ----
    vectors_c, cents_c = ivf_artifact(spark, emb, f"{SCRATCH}/ivf_cheap", **CHEAP)
    vectors_c = vectors_c.persist()
    cb, _ = books[(4, 16, "cheap")]
    out["ivfpq_rerank"] = []
    for n_probe, kp in [(1, 50), (2, 50), (4, 50), (8, 50), (16, 50),
                        (4, 10), (4, 100), (4, 200)]:
        t0 = time.perf_counter()
        got = {
            q: ids(sim.ivfpq_rerank_topk(
                emb, vectors_c, cents_c, cb, qv,
                n_probe=n_probe, k=PQ_K, k_prime=kp,
            ))
            for q, qv in queries.items()
        }
        out["ivfpq_rerank"].append(
            {
                "n_probe": n_probe,
                "n_lists": N_LISTS,
                "k_prime": kp,
                "m_sub": 4,
                "k_codes": 16,
                "fit": "cheap",
                "recall_after_rerank": mean_recall(got, truth),
                "codes_scanned_share": round(n_probe / N_LISTS, 4),
                "query_wall_sec_total": wall(t0),
            }
        )
        print("ivfpq_rerank", out["ivfpq_rerank"][-1], flush=True)
    out["ivfpq_rerank_note"] = (
        "three-stage ivfpq_rerank_topk: IVF probe prunes to n_probe/"
        f"{N_LISTS} lists, ADC shortlists k' within them, exact L2 "
        "re-ranks the shortlist; recall@10 vs the same exact ground "
        "truth. The n_probe=16 row scans every list (the two-stage "
        "'rerank' ceiling); the n_probe sweep shows how little probing "
        "sacrifices."
    )

    out["opq"] = []
    for m_sub in (4, 8):
        cb_pq, codes_pq = books[(m_sub, 16, "cheap")]
        rot, cb_opq, codes_opq = opq_codes(spark, emb, f"{SCRATCH}/opq_{m_sub}", m_sub)
        t0 = time.perf_counter()
        res: dict = {"pq_adc": {}, "opq_adc": {}, "pq_rerank50": {}, "opq_rerank50": {}}
        for q, qv in queries.items():
            qr = sim.rotate_query(rot, qv)
            res["pq_adc"][q] = ids(sim.pq_adc_topk(codes_pq, cb_pq, qv, PQ_K))
            res["opq_adc"][q] = ids(sim.pq_adc_topk(codes_opq, cb_opq, qr, PQ_K))
            res["pq_rerank50"][q] = ids(
                sim.pq_rerank_topk(emb, codes_pq, cb_pq, qv, k=PQ_K, k_prime=50)
            )
            # OPQ re-rank: shortlist by rotated ADC, exact re-rank in
            # the ORIGINAL space (L2 is rotation-invariant)
            sl = sim.pq_adc_topk(codes_opq, cb_opq, qr, 50).select(F.col("id").alias("_sl"))
            res["opq_rerank50"][q] = ids(
                emb.join(F.broadcast(sl), F.col("vec_id") == F.col("_sl"))
                .select(F.col("vec_id").alias("id"), F.round(_l2(qv), 6).alias("dist"))
                .orderBy("dist", "id")
                .limit(PQ_K)
            )
        out["opq"].append(
            {
                "bits": m_sub * 4,
                "m_sub": m_sub,
                "k_codes": 16,
                "fit": "pq cheap-fit / opq driver-local 6 rounds",
                **{key: mean_recall(got, truth) for key, got in res.items()},
                "wall_sec": wall(t0),
            }
        )
        print("opq", out["opq"][-1], flush=True)
        codes_opq.unpersist()

    # ---- planted anisotropy: the regime OPQ exists for. Scale the
    # dims by a decaying spectrum, then mix with a fixed scrambling
    # rotation Q: raw PQ's coordinate-order split now straddles the
    # principal directions; OPQ should learn to undo Q.
    import numpy as np

    rng = np.random.RandomState(42)
    Q, _ = np.linalg.qr(rng.randn(64, 64))
    rows = emb.collect()
    vec_ids = [int(r["vec_id"]) for r in rows]
    Xa = (np.array([[float(x) for x in r["embedding"]] for r in rows])
          * (0.85 ** np.arange(64))[None, :]) @ Q.T
    aniso = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(vec_ids, Xa)],
        "vec_id long, embedding array<double>",
    ).persist()
    aniso.count()
    qa = {q: [float(x) for x in Xa[vec_ids.index(q)]] for q in queries}
    truth_a = {q: exact_l2_topk(aniso, qv) for q, qv in qa.items()}
    out["opq_aniso"] = []
    for m_sub in (4, 8):
        path = f"{SCRATCH}/apq_{m_sub}"
        sim.pq_train(aniso, path, m_sub=m_sub, k=16, **CHEAP)
        cb_pq = sim.load_pq_codebook(spark, path)
        codes_pq = sim.pq_encode(aniso, cb_pq).persist()
        codes_pq.count()
        rot, cb_opq, codes_opq = opq_codes(spark, aniso, f"{SCRATCH}/aopq_{m_sub}", m_sub)
        got_pq = {q: ids(sim.pq_adc_topk(codes_pq, cb_pq, qv, PQ_K)) for q, qv in qa.items()}
        got_opq = {
            q: ids(sim.pq_adc_topk(codes_opq, cb_opq, sim.rotate_query(rot, qv), PQ_K))
            for q, qv in qa.items()
        }
        out["opq_aniso"].append({
            "bits": m_sub * 4, "m_sub": m_sub, "k_codes": 16,
            "pq_adc": mean_recall(got_pq, truth_a),
            "opq_adc": mean_recall(got_opq, truth_a),
        })
        print("opq_aniso", out["opq_aniso"][-1], flush=True)
        codes_pq.unpersist()
        codes_opq.unpersist()
    out["opq_aniso_note"] = (
        "same corpus scaled by a 0.85^i spectrum and mixed by a fixed "
        "scrambling rotation Q — the anisotropic regime OPQ (Ge et al.) "
        "targets; raw PQ's coordinate split straddles the principal "
        "directions, OPQ learns to undo Q. recall@10, ADC only."
    )
    out["opq_note"] = (
        "OPQ (learned orthonormal rotation, Ge et al. 2014) vs raw PQ "
        "at the same bit budget, ADC-only and with k'=50 exact re-rank; "
        "recall@10 vs exact L2 ground truth, 20 strided queries. "
        "Synthetic near-uniform embeddings are close to rotation-"
        "invariant, so gains here are a floor, not a ceiling."
    )
    return out


def opq_codes(spark, df, path: str, m_sub: int):
    """(rotation, codebook, persisted codes) of a 6-round OPQ fit."""
    sim.opq_train(df, path, m_sub=m_sub, k=16, n_iter=6, sample_rows=4096)
    rot = sim.load_opq_rotation(spark, path)
    cb = sim.load_pq_codebook(spark, path)
    codes = sim.opq_encode(df, rot, cb).persist()
    codes.count()
    return rot, cb, codes


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from poc_spark.session import get_spark
    from poc_spark.sources.catalog import load_table

    spark = get_spark("recall-probe")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").persist()
    n = emb.count()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    # both measured before either is written: a failed run leaves the
    # committed pair as it was
    for name, receipt in (
        ("ANN_RECALL.json", ann_recall(spark, emb, n, sf_dir)),
        ("PQ_RECALL.json", pq_recall(spark, emb, n, sf_dir)),
    ):
        with open(os.path.join(REPO, name), "w") as fh:
            json.dump(receipt, fh, indent=1)
        print(f"wrote {name}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
