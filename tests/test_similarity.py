"""Similarity-search tests: brute-force exactness, LSH/IVF recall
against brute force on the real embeddings table."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from poc_spark.operators.similarity import (
    ann_hyperplane,
    ivf_centroids,
    ivf_index,
    ivf_query,
    knn_brute,
    random_hyperplanes,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def query_vec(emb):
    row = emb.filter("vec_id = 0").collect()[0]
    return [float(x) for x in row["embedding"]]


def test_knn_brute_exact(spark, emb, query_vec):
    got = knn_brute(emb, query_vec, k=10).collect()
    assert got[0]["id"] == 0 and got[0]["cos"] == pytest.approx(1.0, abs=1e-6)
    # python-side oracle over the collected table
    rows = emb.collect()
    qn = math.sqrt(sum(x * x for x in query_vec))
    sims = []
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        dot = sum(a * b for a, b in zip(v, query_vec))
        nv = math.sqrt(sum(x * x for x in v))
        sims.append((round(dot / (nv * qn), 6), r["vec_id"]))
    expected = sorted(sims, key=lambda t: (-t[0], t[1]))[:10]
    assert [(r["cos"], r["id"]) for r in got] == expected


def test_ann_hyperplane_recall(spark, emb, query_vec):
    exact = {r["id"] for r in knn_brute(emb, query_vec, k=10).collect()}
    planes = random_hyperplanes(len(query_vec), n_planes=6, seed=42)
    approx = {r["id"] for r in
              ann_hyperplane(emb, query_vec, k=10, planes=planes, probe_bits=2).collect()}
    # multiprobe with 2 flips over 6 planes covers 22/64 buckets; on 500
    # unit vectors recall should be substantial and the query vector itself
    # is always in its own bucket
    assert 0 in approx
    assert len(exact & approx) >= 5


def test_ann_full_probe_equals_brute(spark, emb, query_vec):
    planes = random_hyperplanes(len(query_vec), n_planes=4, seed=7)
    exact = [(r["cos"], r["id"]) for r in knn_brute(emb, query_vec, k=5).collect()]
    full = [(r["cos"], r["id"]) for r in
            ann_hyperplane(emb, query_vec, k=5, planes=planes, probe_bits=4).collect()]
    assert full == exact  # probing every bucket degenerates to brute force


def test_ivf_query_recall(spark, emb, query_vec):
    cents = ivf_centroids(emb, n_centroids=8)
    idx = ivf_index(emb, cents).cache()
    exact = {r["id"] for r in knn_brute(emb, query_vec, k=10).collect()}
    # probing all lists == brute force
    all_probe = {r["id"] for r in ivf_query(idx, query_vec, cents, k=10, n_probe=8).collect()}
    assert all_probe == exact
    # partial probe still finds the query itself and most neighbors
    part = {r["id"] for r in ivf_query(idx, query_vec, cents, k=10, n_probe=4).collect()}
    assert 0 in part and len(exact & part) >= 4


def test_ivf_kmeans_centroids(spark, emb, query_vec):
    from poc_spark.operators.similarity import ivf_centroids_kmeans

    cents = ivf_centroids_kmeans(emb, n_centroids=16)
    assert len(cents) == 16 and len(cents[0][1]) == len(query_vec)
    # deterministic: same data + seed -> bit-identical centers
    assert cents == ivf_centroids_kmeans(emb, n_centroids=16)

    idx = ivf_index(emb, cents).cache()
    exact = {r["id"] for r in knn_brute(emb, query_vec, k=10).collect()}
    # probing every list degenerates to brute force — recall exactly 1.0
    full = {
        r["id"] for r in ivf_query(idx, query_vec, cents, k=10, n_probe=16).collect()
    }
    assert full == exact
    # partial probe: measured recall@10 with 4/16 lists scanned is 0.4
    # at sf0.001 and 0.5 at sf0.01 — near-random embeddings don't
    # cluster, so cell pruning honestly trades recall; pin the floor
    part = {
        r["id"] for r in ivf_query(idx, query_vec, cents, k=10, n_probe=4).collect()
    }
    assert len(exact & part) / 10 >= 0.4


def test_ivf_persisted_index_roundtrip(spark, emb, query_vec, tmp_path):
    """build_ivf_index → load_ivf_index → query must equal the
    in-memory fit-and-query exactly, and the on-disk vector layout must
    be hive-partitioned by centroid (query-time list pruning = parquet
    partition pruning)."""
    import os

    from poc_spark.operators.similarity import (
        build_ivf_index,
        ivf_centroids_kmeans,
        load_ivf_index,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    index_df, cents = load_ivf_index(spark, path)
    # stored centroids == a fresh deterministic fit
    assert cents == ivf_centroids_kmeans(emb, n_centroids=8)
    mem = ivf_query(ivf_index(emb, cents), query_vec, cents, k=10, n_probe=4)
    disk = ivf_query(index_df, query_vec, cents, k=10, n_probe=4)
    assert [tuple(r) for r in disk.collect()] == [tuple(r) for r in mem.collect()]
    # hive partition dirs on disk — the physical pruning surface
    parts = {d for d in os.listdir(f"{path}/vectors") if d.startswith("centroid=")}
    assert len(parts) >= 2
    # and the probe plan actually prunes: the isin(probe-lists) lands in
    # the scan's PartitionFilters (disk pruning), not a post-scan filter
    plan = disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [centroid" in plan


def test_ivf_kmeans_sampled_fit(spark, emb):
    from poc_spark.operators.similarity import ivf_centroids_kmeans

    # the scale path: fit on a sample; still k valid centers
    cents = ivf_centroids_kmeans(emb, n_centroids=4, sample_fraction=0.5)
    assert len(cents) == 4
    assert all(len(c) > 0 for _, c in cents)


def test_knn_join_matches_per_query_brute(spark, sf_dir):
    from poc_spark.operators.similarity import knn_brute, knn_join_tiled

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    joined = {
        (r["id"], r["rank"]): r["neighbor_id"]
        for r in knn_join_tiled(emb, k=3).collect()
    }
    # spot-check three query ids against the single-query brute path
    # (self excluded there by taking ranks 2..4 — brute includes self
    # at rank 1 with cos 1.0)
    for qid in (0, 7, 42):
        qv = [float(x) for x in emb.filter(f"vec_id = {qid}").collect()[0]["embedding"]]
        brute = [r["id"] for r in knn_brute(emb, qv, k=4).collect()]
        assert brute[0] == qid
        for rank, nb in enumerate(brute[1:], start=1):
            assert joined[(qid, rank)] == nb


def test_knn_join_tiled_equals_reference(spark, sf_dir):
    """The distributed tiled grid must be BIT-identical to the plain
    Python reference (tests/reference_oracle.knn_topk): same float64
    accumulation order per pair, same half-up rounding, same (cos desc,
    id asc) tie-break — for every block grid, so the block counts never
    move the oracle hash (VERDICT r4 #1)."""
    from poc_spark.operators.similarity import knn_join_tiled
    from tests.reference_oracle import knn_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    one = knn_topk(
        [(r["vec_id"], r["embedding"]) for r in emb.collect()], 5
    )
    for qb, cb in ((4, 4), (1, 7), (3, 5)):
        tiled = {
            (r["id"], r["rank"]): (r["neighbor_id"], r["cos"])
            for r in knn_join_tiled(
                emb, k=5, query_blocks=qb, corpus_blocks=cb
            ).collect()
        }
        assert tiled == one  # exact, including float bits

    # auto-sized blocks (VERDICT r5 #4): same result, block counts
    # derived from the row count + cell-memory model
    auto = {
        (r["id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in knn_join_tiled(emb, k=5).collect()
    }
    assert auto == one

    # regression (r7): cogroup key TYPES must match across sides.
    # Mismatched int/bigint keys hash-partition differently, so most
    # cells pair with an empty opposite side and candidates vanish —
    # but ONLY when each side keeps multiple shuffle partitions; AQE
    # coalesces this tiny input to one partition and masks the bug
    # (it fired at sf0.1 while this test was green). Disabling AQE
    # reproduces the at-scale shuffle topology.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        cold = {
            (r["id"], r["rank"]): (r["neighbor_id"], r["cos"])
            for r in knn_join_tiled(
                emb, k=5, query_blocks=4, corpus_blocks=4
            ).collect()
        }
        assert cold == one
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    # exact ties: cos·1e6 lands on n + 0.5 for (0, 1) and (0, 2), where
    # half-up (the kernel, Spark's and DuckDB's round) and half-even
    # part; ids 1 and 3 share a vector, so their cos ties and the id
    # breaks it
    import math

    rows = [(0, [1.0, 0.0])] + [
        (i, [x, math.sqrt(1 - x * x)])
        for i, x in ((1, 0.1000005), (2, 0.1000025), (3, 0.1000005))
    ]
    ref = knn_topk(rows, 3)
    assert [ref[(0, r)] for r in (1, 2, 3)] == [
        (2, 0.100003), (1, 0.100001), (3, 0.100001)
    ]
    tiny = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for qb, cb in ((1, 1), (2, 3)):
        tiled = {
            (r["id"], r["rank"]): (r["neighbor_id"], r["cos"])
            for r in knn_join_tiled(
                tiny, k=3, query_blocks=qb, corpus_blocks=cb
            ).collect()
        }
        assert tiled == ref


def test_knn_join_tiled_string_ids(spark, sf_dir):
    """String doc-ids must work end-to-end (VERDICT r5 #4: blocking is
    pmod(xxhash64(id), B), not pmod(id, B), so non-numeric ids hash
    uniformly). The string run must equal the Python reference over the
    same string ids — including every tie-break, where strings order by
    code point in the reference, the numpy kernel and Spark's UTF-8
    merge window alike."""
    import pyspark.sql.functions as F

    from poc_spark.operators.similarity import knn_join_tiled
    from tests.reference_oracle import knn_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sdf = emb.select(
        F.format_string("doc-%08d", F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    expected = knn_topk(
        [(r["vec_id"], r["embedding"]) for r in sdf.collect()], 5
    )
    for kwargs in ({"query_blocks": 3, "corpus_blocks": 5}, {}):
        got = {
            (r["id"], r["rank"]): (r["neighbor_id"], r["cos"])
            for r in knn_join_tiled(sdf, k=5, **kwargs).collect()
        }
        assert got == expected


def test_knn_join_tiled_rejects_bad_id_type(spark):
    import pyspark.sql.functions as F

    from poc_spark.operators.similarity import knn_join_tiled

    df = spark.range(4).select(
        F.col("id").cast("double").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
    )
    with pytest.raises(TypeError, match="integral or string"):
        knn_join_tiled(df, k=2)


def test_knn_join_tiled_auto_block_sizing():
    """The auto-sizer must keep a cell's score matrix under the target:
    at 1B rows the derived block count makes (n/B)^2*8 <= target/2."""
    import math

    target = 512 << 20
    side = max(1, math.isqrt(target // 16))
    for n in (10_000, 1_000_000, 1_000_000_000):
        b = max(math.ceil(n / side), 4)
        assert (n / b) ** 2 * 8 <= target / 2 + 8 * side  # slack bound
        assert b >= 4


def test_ann_join_recall_vs_exact(spark, sf_dir):
    """Recall pins for the batch ANN join vs the exact kNN join. The
    synthetic embeddings are uniform random — LSH's WORST case (no
    cluster structure to exploit) — so the honest pins are (a)
    enrichment: recall must beat the probed bucket mass (chance) by
    >= 1.5x at the contract's 8-plane/probe-1 config (measured ~3x);
    (b) a useful-recall floor at the denser 6-plane/probe-2 config
    (measured 0.56); (c) the degenerate full-probe == exact."""
    from poc_spark.contract import _ANN_PLANES
    from poc_spark.operators.similarity import (
        ann_join_hyperplane,
        knn_join_tiled,
        random_hyperplanes,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id"], r["neighbor_id"])
        for r in knn_join_tiled(emb, k=3).collect()
    }

    planes8 = random_hyperplanes(64, 8, 42)
    approx = {
        (r["id"], r["neighbor_id"])
        for r in ann_join_hyperplane(
            emb, k=3, planes=planes8, probe_bits=1, dim=64
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    chance = 9 / 256  # masks probed / bucket space
    assert recall >= 1.5 * chance, f"recall@3 {recall:.3f} vs chance {chance:.3f}"

    dense = {
        (r["id"], r["neighbor_id"])
        for r in ann_join_hyperplane(
            emb, k=3, planes=_ANN_PLANES, probe_bits=2, dim=64
        ).collect()
    }
    recall_dense = len(exact & dense) / len(exact)
    assert recall_dense >= 0.4, f"dense recall@3 {recall_dense:.3f}"

    # degenerate full-probe = exact: probing every mask makes the
    # candidate set the full corpus
    full = {
        (r["id"], r["neighbor_id"])
        for r in ann_join_hyperplane(
            emb, k=3, planes=_ANN_PLANES, probe_bits=len(_ANN_PLANES), dim=64
        ).collect()
    }
    assert full == exact


def test_ann_join_plan_is_bucket_equi_join(spark, sf_dir):
    """The candidate join must plan as a shuffled/broadcast HASH join
    on the bucket key — a bit-distance theta join would be a
    BroadcastNestedLoopJoin (quadratic at scale)."""
    from poc_spark.contract import _ANN_PLANES
    from poc_spark.operators.similarity import ann_join_hyperplane

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = (
        ann_join_hyperplane(emb, k=3, planes=_ANN_PLANES, probe_bits=1, dim=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_one_block_kernels_guard_driver_collect(spark, monkeypatch):
    """Misusing the one-block kernel on a large input must fail loudly
    with a pointer to the scale forms, not OOM the driver."""
    import poc_spark.operators.dedup as dedup

    df = spark.range(40).selectExpr(
        "id AS vec_id", "array(double(id), 1.0d) AS embedding"
    )
    monkeypatch.setattr(dedup, "_MAX_ONE_BLOCK_ROWS", 10)
    with pytest.raises(ValueError, match="semantic_bucket_pairs"):
        dedup.embedding_near_pairs_blocked(df, threshold=0.5)


def test_ann_join_fold_equals_unrolled(spark, sf_dir):
    """The HOF-fold dot (contract default — measured 2.5x faster at
    sf0.1: the unrolled 64-term expressions blow past codegen size
    limits and fall back to interpreted eval) must be bit-identical to
    the unrolled form: same left-to-right accumulation order."""
    from poc_spark.contract import _ANN_PLANES
    from poc_spark.operators.similarity import ann_join_hyperplane

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fold = {
        (r["id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in ann_join_hyperplane(
            emb, k=3, planes=_ANN_PLANES, probe_bits=1
        ).collect()
    }
    unrolled = {
        (r["id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in ann_join_hyperplane(
            emb, k=3, planes=_ANN_PLANES, probe_bits=1, dim=64
        ).collect()
    }
    assert fold == unrolled


def test_ivf_join_full_probe_equals_exact(spark, sf_dir, tmp_path_repo):
    """Probing every list makes the IVF join exact: full-probe output
    must equal the exact tiled kNN join, pair for pair."""
    from poc_spark.operators.similarity import (
        build_ivf_index,
        ivf_join,
        knn_join_tiled,
        load_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path_repo / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    index_df, cents = load_ivf_index(spark, path)

    full = {
        (r["id"], r["rank"]): r["neighbor_id"]
        for r in ivf_join(index_df, cents, k=3, n_probe=len(cents)).collect()
    }
    exact = {
        (r["id"], r["rank"]): r["neighbor_id"]
        for r in knn_join_tiled(emb, k=3).collect()
    }
    assert full == exact

    # pruned probes: recall beats chance (the probed list mass)
    pruned = {
        (r["id"], r["neighbor_id"])
        for r in ivf_join(index_df, cents, k=3, n_probe=2).collect()
    }
    exact_pairs = {(i, n) for (i, _), n in exact.items()}
    recall = len(pruned & exact_pairs) / len(exact_pairs)
    assert recall >= 1.5 * (2 / 8), f"recall {recall:.3f}"


def test_ivf_join_honors_noncontiguous_centroid_ids(spark, sf_dir, tmp_path_repo):
    """Regression (r5 self-review): ivf_join must use the REAL centroid
    ids from the tuples, not list positions — a filtered/reordered
    centroid list must still probe the right partitions."""
    from poc_spark.operators.similarity import (
        build_ivf_index,
        ivf_join,
        load_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path_repo / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    index_df, cents = load_ivf_index(spark, path)

    baseline = {
        (r["id"], r["rank"]): r["neighbor_id"]
        for r in ivf_join(index_df, cents, k=3, n_probe=8).collect()
    }
    # reversed list: positions all wrong, ids intact
    reordered = {
        (r["id"], r["rank"]): r["neighbor_id"]
        for r in ivf_join(index_df, list(reversed(cents)), k=3, n_probe=8).collect()
    }
    assert reordered == baseline and len(baseline) > 0


def test_ivf_join_n_probe_beyond_list_count(spark, sf_dir, tmp_path_repo):
    """n_probe larger than the centroid count degrades gracefully to
    full probe (slice past the array end is a shorter array, not an
    error) — equals the exact join."""
    from poc_spark.operators.similarity import (
        build_ivf_index,
        ivf_join,
        knn_join_tiled,
        load_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path_repo / "ivf")
    build_ivf_index(emb, path, n_centroids=4)
    index_df, cents = load_ivf_index(spark, path)
    over = {
        (r["id"], r["rank"]): r["neighbor_id"]
        for r in ivf_join(index_df, cents, k=3, n_probe=99).collect()
    }
    exact = {
        (r["id"], r["rank"]): r["neighbor_id"]
        for r in knn_join_tiled(emb, k=3).collect()
    }
    assert over == exact


def test_ivf_append_maintains_index(spark, sf_dir, tmp_path):
    """Appending a batch to a persisted IVF index: every appended vector
    lands exactly once in the partition its nearest EXISTING centroid
    names (no refit — centroids unchanged on disk), old rows are
    untouched, and a query for an appended vector retrieves it at
    cos 1.0 when its list is probed."""
    import pyspark.sql.functions as F

    from poc_spark.operators.similarity import (
        build_ivf_index,
        ivf_append,
        ivf_index,
        ivf_query,
        load_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old, batch = emb.filter("vec_id % 5 <> 0"), emb.filter("vec_id % 5 = 0")
    path = str(tmp_path / "ivf")
    build_ivf_index(old, path, n_centroids=8)
    cents_before = spark.read.parquet(f"{path}/centroids").collect()

    ivf_append(spark, path, batch)

    cents_after = spark.read.parquet(f"{path}/centroids").collect()
    assert sorted(map(tuple, cents_before)) == sorted(map(tuple, cents_after))

    vecs, cents = load_ivf_index(spark, path)
    n_old, n_batch = old.count(), batch.count()
    assert vecs.count() == n_old + n_batch
    stored = {
        r["vec_id"]: r["centroid"]
        for r in vecs.filter("vec_id % 5 = 0").collect()
    }
    assert len(stored) == n_batch  # exactly once each
    expected = {
        r["vec_id"]: r["centroid"] for r in ivf_index(batch, cents).collect()
    }
    assert stored == expected

    probe = batch.limit(1).collect()[0]
    qv = [float(x) for x in probe["embedding"]]
    hits = ivf_query(vecs, qv, cents, k=1, n_probe=len(cents)).collect()
    assert hits[0]["id"] == probe["vec_id"] and hits[0]["cos"] == 1.0


def test_ann_join_filtered_within_groups(spark, sf_dir):
    """Filtered ANN: every neighbor shares the query's label, and for a
    given query the filtered result equals running the unfiltered join
    on that label's sub-corpus alone (the group key tightens candidate
    generation without changing per-group semantics)."""
    from poc_spark.contract import _ANN_JOIN_PLANES
    from poc_spark.operators.similarity import ann_join_hyperplane

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    got = ann_join_hyperplane(
        emb, k=3, planes=_ANN_JOIN_PLANES, probe_bits=1, dim=64,
        group_cols=["label"],
    ).collect()
    assert got
    for r in got:
        assert labels[r["id"]] == labels[r["neighbor_id"]]

    some_label = next(iter(set(labels.values())))
    sub = emb.filter(F.col("label") == some_label)
    sub_only = {
        (r["id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in ann_join_hyperplane(
            sub, k=3, planes=_ANN_JOIN_PLANES, probe_bits=1, dim=64
        ).collect()
    }
    filtered = {
        (r["id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in got
        if labels[r["id"]] == some_label and r["rank"] <= 3
    }
    assert filtered == sub_only


def test_pq_roundtrip_on_separable_data(spark, tmp_path):
    """Product quantization: on data whose subspaces take exactly k
    distinct values, KMeans recovers the values as centers, so encode
    is lossless — every vector's asymmetric distance to itself is 0
    and self is top-1; codes are bounded and deterministic."""
    from pyspark.sql import functions as F

    from poc_spark.operators.similarity import (
        load_pq_codebook,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rows = []
    for i in range(16):
        vec = []
        for j in range(4):
            vec += [float((i * (j + 1)) % 16)] * 16
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "pq")
    pq_train(df, path, m_sub=4, k=16)
    cb = load_pq_codebook(spark, path)
    # ragged: KMeans drops empty clusters, so a subspace with fewer
    # distinct values than k yields fewer codes (here 16/8/16-ish/4)
    assert len(cb) == 4 and all(1 <= len(s) <= 16 for s in cb)

    codes = pq_encode(df, cb).cache()
    got = {r["id"]: list(r["codes"]) for r in codes.collect()}
    assert all(
        len(c) == 4 and all(0 <= x < len(cb[j]) for j, x in enumerate(c))
        for c in got.values()
    )
    # deterministic re-encode
    again = {r["id"]: list(r["codes"]) for r in pq_encode(df, cb).collect()}
    assert got == again

    for probe in (0, 7, 13):
        top = pq_adc_topk(codes, cb, rows[probe][1], 3).collect()
        assert top[0]["id"] == probe, (probe, top)
        assert top[0]["dist"] == 0.0
        assert top[1]["dist"] > 0.0  # separable: nobody else at 0


def test_pq_rerank_recovers_exact_order(spark, tmp_path):
    """Two-stage re-rank: with k' = N (the whole corpus shortlisted)
    the exact re-rank must reproduce brute-force exact-L2 top-k
    regardless of code quality; with small k' the output is exactly
    the exact-L2 re-ordering of the ADC shortlist (membership from
    stage 1, order from stage 2)."""
    from pyspark.sql import functions as F

    from poc_spark.operators.similarity import (
        load_pq_codebook,
        pq_adc_topk,
        pq_encode,
        pq_rerank_topk,
        pq_train,
    )

    rows = []
    for i in range(32):
        vec = []
        for j in range(4):
            vec += [float((i * 7 + j * 3) % 13), float((i + j) % 5)] * 8
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "pqrr")
    pq_train(df, path, m_sub=4, k=4, max_iter=4)
    cb = load_pq_codebook(spark, path)
    codes = pq_encode(df, cb).cache()
    q = rows[5][1]

    def exact_order(ids=None):
        ql = F.array(*[F.lit(float(x)) for x in q])
        v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        d = F.aggregate(
            F.zip_with(v, ql, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        base = df if ids is None else df.filter(F.col("vec_id").isin(ids))
        return [
            (r["id"], r["dist"])
            for r in base.select(
                F.col("vec_id").alias("id"), F.round(d, 6).alias("dist")
            )
            .orderBy("dist", "id")
            .limit(5)
            .collect()
        ]

    # k' = N: brute force recovered exactly
    full = [
        (r["id"], r["dist"])
        for r in pq_rerank_topk(df, codes, cb, q, k=5, k_prime=32).collect()
    ]
    assert full == exact_order()
    assert full[0][0] == 5 and full[0][1] == 0.0  # self is top-1 at dist 0

    # small k': membership = ADC shortlist, order = exact distances
    shortlist = [
        int(r["id"]) for r in pq_adc_topk(codes, cb, q, 8).collect()
    ]
    got = [
        (r["id"], r["dist"])
        for r in pq_rerank_topk(df, codes, cb, q, k=5, k_prime=8).collect()
    ]
    assert got == exact_order(shortlist)

    # id_col='id' must not be ambiguous against the shortlist's key
    # (regression: the shortlist column is renamed before the join)
    df_id = df.withColumnRenamed("vec_id", "id")
    full_id = [
        (r["id"], r["dist"])
        for r in pq_rerank_topk(
            df_id, codes, cb, q, k=5, k_prime=32, id_col="id"
        ).collect()
    ]
    assert full_id == full


def test_opq_rotation_is_orthonormal_and_exact(spark, tmp_path):
    """opq_train's persisted R must be orthonormal (L2-preserving —
    the property that makes rotated-space ADC comparable to raw PQ);
    rotate_expr (Spark fold) and rotate_query (driver fold) must agree
    bit-for-bit; and with a codebook rich enough to be lossless the
    rotated ADC recovers exact top-k."""
    import numpy as np
    from pyspark.sql import functions as F

    from poc_spark.operators.similarity import (
        load_opq_rotation,
        load_pq_codebook,
        opq_adc_topk,
        opq_encode,
        opq_train,
        rotate_expr,
        rotate_query,
    )

    rows = []
    for i in range(32):
        vec = []
        for j in range(4):
            vec += [float((i * 3 + j) % 7), float((i + j) % 4)] * 8
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "opq")
    opq_train(df, path, m_sub=4, k=16, n_iter=3, sample_rows=32)
    R = np.array(load_opq_rotation(spark, path))
    assert R.shape == (64, 64)
    assert np.abs(R @ R.T - np.eye(64)).max() < 1e-9

    # Spark fold == driver fold, bit for bit
    rot = load_opq_rotation(spark, path)
    got = df.filter("vec_id = 5").select(
        rotate_expr(
            F.transform(F.col("embedding"), lambda x: x.cast("double")), rot
        ).alias("rv")
    ).head()["rv"]
    want = rotate_query(rot, rows[5][1])
    assert [float(x) for x in got] == want

    # norms preserved under rotation
    v = np.array(rows[5][1])
    assert abs((np.array(want) ** 2).sum() - (v**2).sum()) < 1e-8

    cb = load_pq_codebook(spark, path)
    codes = opq_encode(df, rot, cb)
    top = opq_adc_topk(codes, rot, cb, rows[5][1], 3).collect()
    dists = [r["dist"] for r in top]
    assert dists == sorted(dists)
    # replay the ADC arithmetic driver-side for the returned rows:
    # rotate each vector (same fold), encode (argmin L2², low code on
    # ties), LUT against the rotated query — values must agree to the
    # operator's 6-dp rounding
    qr = rotate_query(rot, rows[5][1])
    for r in top:
        rv = rotate_query(rot, rows[int(r["id"])][1])
        dist = 0.0
        for j in range(4):
            sub = rv[j * 16 : (j + 1) * 16]
            best, bestd = 0, None
            for c, center in enumerate(cb[j]):
                acc = 0.0
                for a, b in zip(sub, center):
                    acc = acc + (a - b) * (a - b)
                if bestd is None or acc < bestd:
                    best, bestd = c, acc
            qs = qr[j * 16 : (j + 1) * 16]
            acc = 0.0
            for a, b in zip(qs, cb[j][best]):
                acc = acc + (a - b) * (a - b)
            dist += acc
        assert abs(round(dist, 6) - r["dist"]) <= 1e-6, (r["id"], dist)


def test_ivfpq_rerank_three_stage(spark, tmp_path):
    """IVF probe → ADC → exact re-rank: with every list probed and
    k' = N the composition recovers brute-force exact top-k; with a
    partial probe the result is exactly the exact-L2 re-ranking of
    the ADC shortlist drawn from the probed lists only."""
    from pyspark.sql import functions as F

    from poc_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe_lists,
        ivfpq_rerank_topk,
        load_ivf_index,
        load_pq_codebook,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rows = []
    for i in range(48):
        vec = []
        for j in range(4):
            vec += [float((i * 5 + j * 7) % 11), float((i + 2 * j) % 6)] * 8
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    root = str(tmp_path / "ivfpqrr")
    build_ivf_index(df, f"{root}/ivf", n_centroids=4, max_iter=4)
    pq_train(df, root, m_sub=4, k=4, max_iter=4)
    vectors, cents = load_ivf_index(spark, f"{root}/ivf")
    cb = load_pq_codebook(spark, root)
    q = rows[7][1]

    def exact_order(ids, k=5):
        ql = F.array(*[F.lit(float(x)) for x in q])
        v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        d = F.aggregate(
            F.zip_with(v, ql, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        base = df if ids is None else df.filter(F.col("vec_id").isin(ids))
        return [
            (r["id"], r["dist"])
            for r in base.select(
                F.col("vec_id").alias("id"), F.round(d, 6).alias("dist")
            )
            .orderBy("dist", "id")
            .limit(k)
            .collect()
        ]

    # full probe + full shortlist: brute force recovered
    got = [
        (r["id"], r["dist"])
        for r in ivfpq_rerank_topk(
            df, vectors, cents, cb, q, n_probe=4, k=5, k_prime=48
        ).collect()
    ]
    assert got == exact_order(None)
    assert got[0][0] == 7 and got[0][1] == 0.0

    # partial probe: membership = ADC shortlist over probed lists only
    probe = ivf_probe_lists(cents, q, 2)
    cand = vectors.filter(F.col("centroid").isin(probe))
    shortlist = [
        int(r["id"])
        for r in pq_adc_topk(pq_encode(cand, cb), cb, q, 8).collect()
    ]
    got2 = [
        (r["id"], r["dist"])
        for r in ivfpq_rerank_topk(
            df, vectors, cents, cb, q, n_probe=2, k=5, k_prime=8
        ).collect()
    ]
    assert got2 == exact_order(shortlist)


def test_cheap_fit_local_dispatch(spark, emb, tmp_path):
    """r14 opt: the cheap-fit (sample_fraction set) KMeans dispatch.
    Pins (1) the local Lloyd path is deterministic (fit == fit),
    (2) full-quality callers (sample_fraction=None) are CONF-
    INDEPENDENT — forcing localFitMaxRows=0 must change nothing for
    them, bit-for-bit, because they never dispatch locally, and
    (3) a local-path pq_train codebook loads back dense with exactly
    k centers per subspace."""
    from poc_spark.operators.similarity import (
        ivf_centroids_kmeans,
        load_pq_codebook,
        pq_train,
    )

    # (1) local path: deterministic, right shape
    a = ivf_centroids_kmeans(emb, 8, sample_fraction=0.9, max_iter=6)
    b = ivf_centroids_kmeans(emb, 8, sample_fraction=0.9, max_iter=6)
    assert a == b
    assert len(a) == 8 and len(a[0][1]) == 64

    # (2) full-quality ask: identical under both conf settings
    full_default = ivf_centroids_kmeans(emb, 4, max_iter=3)
    spark.conf.set("spark.poc.sim.localFitMaxRows", "0")
    try:
        full_forced = ivf_centroids_kmeans(emb, 4, max_iter=3)
    finally:
        spark.conf.unset("spark.poc.sim.localFitMaxRows")
    assert full_default == full_forced

    # (3) local pq_train artifact: dense codes, k centers per sub
    path = str(tmp_path / "pqlocal")
    pq_train(emb, path, m_sub=4, k=8, sample_fraction=0.9, max_iter=6)
    cb = load_pq_codebook(spark, path)
    assert len(cb) == 4 and all(len(sub) == 8 for sub in cb)
    assert all(len(c) == 16 for sub in cb for c in sub)


def test_ivf_index_numpy_assignment_equals_expression(spark, emb):
    """r15 opt pin: ivf_index's Arrow/numpy nearest-centroid kernel must
    assign EXACTLY the centroid the k-literal argmax expression assigns,
    vector by vector — the expression is the semantics every persisted
    IVF artifact (and its DuckDB replay) was built on; the numpy pass
    only removes the per-fit codegen compile. Covers the real corpus
    plus adversarial vectors (exact ties -> first position, negative
    sims, duplicated centroids)."""
    from poc_spark.operators.similarity import (
        _nearest_centroid,
        ivf_centroids_kmeans,
    )

    cents = ivf_centroids_kmeans(emb, n_centroids=8)
    got = {
        r["vec_id"]: r["centroid"]
        for r in ivf_index(emb, cents).select("vec_id", "centroid").collect()
    }
    want = {
        r["vec_id"]: r["c"]
        for r in emb.select(
            "vec_id",
            _nearest_centroid(F.col("embedding"), cents).alias("c"),
        ).collect()
    }
    assert got == want and len(got) == emb.count()

    # adversarial: tie between duplicated centroids (first position must
    # win), orthogonal vector (all sims equal -> first), negative sims
    tie_cents = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    tricky = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [-1.0, 0.0]),
            (3, [0.7071, 0.7071]),
        ],
        "vec_id long, embedding array<double>",
    )
    got2 = {
        r["vec_id"]: r["centroid"]
        for r in ivf_index(tricky, tie_cents)
        .select("vec_id", "centroid")
        .collect()
    }
    want2 = {
        r["vec_id"]: r["c"]
        for r in tricky.select(
            "vec_id",
            _nearest_centroid(F.col("embedding"), tie_cents).alias("c"),
        ).collect()
    }
    assert got2 == want2
    assert got2[0] == 0  # tie between centroids 0 and 1 -> first


def test_ivf_index_null_vector_gets_null_centroid(spark, emb):
    """A NULL embedding (e.g. one row of ivf_append's incoming batch)
    gets a NULL centroid, as the expression form gave it, instead of
    failing the task; the good rows sharing its Arrow batch keep the
    centroids they get without it."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    cents = ivf_centroids(emb, n_centroids=8)
    good = emb.filter("vec_id < 20").select("vec_id", "embedding")
    elem = good.schema["embedding"].dataType.elementType
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(elem), True),
        ]
    )
    mixed = good.unionByName(
        spark.createDataFrame([(-1, None)], schema)
    ).coalesce(1)
    got = {
        r["vec_id"]: r["centroid"]
        for r in ivf_index(mixed, cents).select("vec_id", "centroid").collect()
    }
    want = {
        r["vec_id"]: r["centroid"]
        for r in ivf_index(good, cents).select("vec_id", "centroid").collect()
    }
    assert len(want) == 20 and None not in want.values()
    assert got == {**want, -1: None}
