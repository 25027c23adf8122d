"""Similarity search over an embedding column (array<float>).

North-star extension (BASELINE.json): approximate-nearest-neighbor at
100 TB. Three tiers, all pure DataFrame ops (dot products via
zip_with/aggregate in double precision — JVM-side, no UDFs):

  knn_brute          exact top-k by cosine for one query vector. O(N);
                     the correctness baseline and the per-bucket kernel.
  hyperplane buckets random-hyperplane LSH (SimHash for vectors):
                     bucket = sign-bit pattern of dot(v, plane_j).
                     Query probes its own bucket plus all buckets within
                     `probe_bits` bit flips; candidates get exact cosine.
                     Recall tunable via planes/probes; at scale the scan
                     prunes to matching buckets (partition by bucket).
  IVF                inverted-file index: assign every vector to its
                     nearest centroid (broadcast centroids); a query
                     scans only the nearest `n_probe` centroid lists.
                     Centroid quality is pluggable (k-means via
                     pyspark.ml if desired); the deterministic default
                     takes the first n_centroids vectors by id, which is
                     structurally identical and reproducible.

Planes/centroids are tiny and broadcast; the big side never shuffles
for the query path — bucket/list pruning is a partition-pruning story
at scale (write the index partitioned by bucket/centroid).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from poc_spark.operators.dedup import _dot, _norm


def _as_double_array(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _unit(vec_col: Column) -> tuple[Column, Column]:
    v = F.transform(vec_col, lambda x: x.cast("double"))
    return v, _norm(v)


def knn_brute(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k (id, cos) by cosine similarity to `query_vec`,
    deterministic tie-break by id. Plans as TakeOrderedAndProject —
    a full scan but no full sort, and the scan parallelizes per
    partition with partial top-k."""
    q = _as_double_array(query_vec)
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    v, nrm = _unit(F.col(vec_col))
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.round(_dot(v, q) / (nrm * F.lit(qn)), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), "id")
        .limit(k)
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (no numpy dependency needed —
    random.gauss under a fixed seed)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: bit j = sign(dot(v, plane_j))."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        bit = F.when(_dot(v, _as_double_array(plane)) > 0, 1).otherwise(0)
        bucket = bucket.bitwiseOR(F.shiftleft(bit.cast("long"), j))
    return bucket


def add_hyperplane_buckets(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the bucket column. At scale, write the result
    partitioned by `bucket` so queries prune partitions."""
    return df.withColumn("bucket", hyperplane_bucket(F.col(vec_col), planes))


def _query_bucket(query_vec: list[float], planes: list[list[float]]) -> int:
    b = 0
    for j, plane in enumerate(planes):
        dot = sum(float(x) * float(p) for x, p in zip(query_vec, plane))
        if dot > 0:
            b |= 1 << j
    return b


def _probe_buckets(center: int, n_planes: int, probe_bits: int) -> list[int]:
    """Center bucket plus all buckets within `probe_bits` bit flips."""
    out = {center}
    frontier = {center}
    for _ in range(probe_bits):
        frontier = {b ^ (1 << j) for b in frontier for j in range(n_planes)}
        out |= frontier
    return sorted(out)


def ann_join_hyperplane(
    df: DataFrame,
    k: int = 5,
    planes: list[list[float]] | None = None,
    n_planes: int = 8,
    probe_bits: int = 1,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Batch ANN JOIN — approximate top-k neighbors for EVERY vector at
    once (the production retrieval shape; VERDICT r4 #2): the ANN twin
    of knn_join_tiled, trading exactness for bucket pruning.

    Physical plan is a pure bucket EQUI-join, never a bit-distance
    theta-join: every vector gets its sign-bit bucket (broadcast plane
    literals, JVM expressions); the QUERY side explodes a literal array
    of XOR probe masks (all masks with popcount <= probe_bits —
    C(n_planes, <=probe_bits) of them) and joins probe_bucket ==
    corpus_bucket as a shuffled HASH join on the bucket key. A pair
    within `probe_bits` flips matches under exactly ONE mask
    (m = bucket_a XOR bucket_b), so candidates are never duplicated.
    Exact cosine verifies candidates; one row_number window takes
    per-query top-k (cos desc round-6, id asc — deterministic and
    cross-engine stable).

    Scale: shuffle = |Q| x n_masks + |C| rows on a 2^n_planes-key
    bucket space; per-bucket candidate blocks replace the quadratic
    verify. Recall is the standard multiprobe S-curve (tunable via
    n_planes / probe_bits); pytest pins recall vs the exact kNN join.
    Cost of exactness elsewhere: knn_join_tiled.

    `group_cols`: FILTERED retrieval — neighbors must agree on these
    columns (label, lang, tenant: production retrieval is almost
    always predicate-constrained). The columns join the bucket key,
    so the constraint tightens the equi-join instead of becoming a
    post-filter: candidates from other groups are never generated,
    and per-group recall keeps the same S-curve.
    """
    if planes is None:
        planes = random_hyperplanes(dim or 64, n_planes, seed)
    n_p = len(planes)
    masks = [
        m
        for m in range(1 << n_p)
        if bin(m).count("1") <= probe_bits
    ]
    gcols = list(group_cols or [])
    base = add_hyperplane_buckets(
        df.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
            *[F.col(g) for g in gcols],
        ),
        planes,
        "v",
    ).withColumn("nrm", _norm(F.col("v")))

    q = (
        base.select(
            F.col("id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.col("bucket"),
            *[F.col(g) for g in gcols],
            F.explode(F.array(*[F.lit(m) for m in masks])).alias("mask"),
        )
        .select(
            "id",
            "qv",
            "qn",
            F.col("bucket").bitwiseXOR(F.col("mask")).alias("pbucket"),
            *[F.col(g) for g in gcols],
        )
    ).alias("q")
    c = base.select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("bucket").alias("cbucket"),
        *[F.col(g).alias(f"c_{g}") for g in gcols],
    ).alias("c")

    if dim is None:
        # HOF fold: measured FASTER than the unrolled form at sf0.1
        # (2.0 s vs 5.2 s) — the 64-term unrolled expressions push the
        # generated code past codegen size limits into interpreted
        # eval, while the fold stays a tight array loop. Both orders
        # are left-to-right, so results are bit-identical (pinned in
        # tests/test_similarity.py).
        dot = _dot(F.col("qv"), F.col("cv"))
    else:
        # unrolled multiply-adds, same left-to-right order as the HOF
        # fold and DuckDB's list_cosine_similarity loop
        dot = None
        for i in range(dim):
            term = F.col("qv").getItem(i) * F.col("cv").getItem(i)
            dot = term if dot is None else dot + term
    cos = F.round(dot / (F.col("qn") * F.col("cn")), 6)

    group_eq = [F.col(f"q.{g}") == F.col(f"c_{g}") for g in gcols]
    cond = (F.col("pbucket") == F.col("cbucket")) & (
        F.col("q.id") != F.col("neighbor_id")
    )
    for ge in group_eq:
        cond = cond & ge
    cand = q.join(c, cond).select(
        F.col("q.id").alias("id"), "neighbor_id", cos.alias("cos")
    )

    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= F.lit(k))
        .select("id", "neighbor_id", "cos", "rank")
    )


def ann_hyperplane(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    planes: list[list[float]] | None = None,
    n_planes: int = 8,
    probe_bits: int = 1,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: prune to LSH probe buckets, exact cosine within.
    probe_bits=n_planes degenerates to brute force (recall 1.0)."""
    if planes is None:
        planes = random_hyperplanes(len(query_vec), n_planes, seed)
    bucketed = add_hyperplane_buckets(df, planes, vec_col)
    probes = _probe_buckets(_query_bucket(query_vec, planes), len(planes), probe_bits)
    candidates = bucketed.filter(F.col("bucket").isin(probes))
    return knn_brute(candidates, query_vec, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


def _local_fit_sample(sample: DataFrame, min_rows: int):
    """The size gate of the cheap-fit local dispatch (docstring of
    ivf_centroids_kmeans): the caller's already-sampled training set
    `sample` (one double-array column `v`) as a float64 numpy matrix
    when it holds between `min_rows` and `spark.poc.sim.localFitMaxRows`
    rows, else None (the caller fits distributed). The probe is one
    `limit(bound+1).collect()`, so it stops scanning past the bound;
    a bound of 0 always answers None."""
    bound = int(
        sample.sparkSession.conf.get("spark.poc.sim.localFitMaxRows", "65536")
    )
    if bound <= 0:
        return None
    head = sample.limit(bound + 1).collect()
    if not min_rows <= len(head) <= bound:
        return None
    import numpy as np

    return np.array([r["v"] for r in head], dtype=np.float64)


def ivf_centroids_kmeans(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 20,
) -> list[tuple[int, list[float]]]:
    """Real IVF centroids. At scale: pyspark.ml KMeans fit (k-means||
    init) on a sample (`sample_fraction`) — centroid quality needs
    only a representative subset, and the result is a tiny broadcast
    list either way; no vector ever collects to the driver except the
    k centers themselves.

    SIZE-GATED LOCAL FIT for CHEAP-FIT callers (r14 opt, guide §4.4 —
    heavyweight work where the data is): when the caller already opted
    into an approximate fit (`sample_fraction` set — the ivfpq
    entries' bench setting) and the sampled training set fits under
    `spark.poc.sim.localFitMaxRows` (default 65536 — ~32 MB of
    float64 at d=64), collect it once and fit with the deterministic
    numpy `_lloyd_local` kernel opq_train already uses, instead of
    paying ~10 Spark job floors per k-means|| fit. This is FAISS's own
    discipline (train on a bounded in-process sample); the probe is a
    `limit(bound+1).collect()` that stops scanning past the bound, so
    a 100 TB corpus falls through to the distributed fit after reading
    ~bound rows. Full-quality callers (sample_fraction=None —
    sim_ivf_kmeans/join/append, whose contract docstrings promise the
    k-means|| fit) ALWAYS keep the distributed path: measured
    interleaved A/B showed strided-init Lloyd's slightly less balanced
    lists cost ivf_join ~0.5 s in join fan-out, while the cheap-fit
    ivfpq entries win 1–3 s each. Centroid VALUES differ between the
    two paths — both are absorbed by the artifact-is-truth discipline
    (oracles replay the persisted centers; fit quality moves recall
    only, receipted in PQ_RECALL.json). `localFitMaxRows=0` forces the
    distributed path everywhere (tools/forced_sweep.sh keeps it
    oracled)."""
    data = df.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    )
    if sample_fraction is not None:
        data = data.sample(withReplacement=False, fraction=sample_fraction, seed=seed)
        X = _local_fit_sample(data, n_centroids)
        if X is not None:
            centers = _lloyd_local(X, n_centroids, n_iter=max(12, max_iter))
            return [
                (i, [float(x) for x in c]) for i, c in enumerate(centers)
            ]
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(
        data.select(array_to_vector(F.col("v")).alias("features"))
    )
    return [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Deterministic centroid pick: first n vectors by id — the
    structurally-identical fallback when a KMeans fit isn't wanted
    (ivf_centroids_kmeans is the quality path)."""
    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .limit(n_centroids)
        .collect()
    )
    return [(i, [float(x) for x in r["v"]]) for i, r in enumerate(rows)]


def _nearest_centroid(vec_col: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """argmax over centroids of cosine(v, c), linear in k: the k sims
    materialize as ONE array expression, the winner is the first-max
    index. (A nested when-chain that tracks a running best embeds the
    running expression twice per level — exponential plan size, >90 s
    to even plan at k=16; this shape indexes 16 centroids in ~2 s.)

    Centroid ids are positional (both centroid factories enumerate from
    0), so array_position - 1 IS the centroid id."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    nrm = _norm(v)
    sims = F.array(
        *[
            _dot(v, _as_double_array(c))
            / (nrm * F.lit(math.sqrt(sum(x * x for x in c))))
            for _, c in centroids
        ]
    )
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def _np_nearest_centroid(V, centroids) -> "object":
    """(n,) int32 with _nearest_centroid's exact semantics: cosine sims
    accumulated in _dot/_norm's left-associative element order (one
    elementwise numpy op per dimension, never a reordering matmul), the
    centroid-norm factor computed with the same Python-float
    math.sqrt(sum(...)) the expression embeds as a literal, winner =
    first position of the maximum (numpy argmax == array_position of
    array_max on bit-identical sims). Differential pytest pins
    numpy ≡ expression on every corpus vector."""
    import numpy as np

    n, d = V.shape
    acc = np.zeros(n, dtype=np.float64)
    for j in range(d):
        acc = acc + V[:, j] * V[:, j]
    nrm = np.sqrt(acc)
    sims = np.empty((n, len(centroids)), dtype=np.float64)
    for ci, (_, c) in enumerate(centroids):
        dot = np.zeros(n, dtype=np.float64)
        for j in range(d):
            dot = dot + V[:, j] * c[j]
        sims[:, ci] = dot / (nrm * math.sqrt(sum(x * x for x in c)))
    return sims.argmax(axis=1).astype(np.int32)


def ivf_index(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid list. At scale, write
    partitioned by `centroid` → queries prune partitions.

    r15 opt (guide §4.2, VERDICT r14 next-round #6): the assignment is
    one Arrow mapInPandas numpy pass instead of the k-literal argmax
    expression — every fit produces FRESH centroid literals, so the
    expression paid ~1 s of whole-stage-codegen compile per build (no
    codegen-cache hit, measured r14); the numpy kernel replays the
    expression's exact fold order, so assignments are bit-identical
    (pytest-pinned) and the pass stays map-only: no shuffle, no codegen,
    nothing but (columns + centroid) crosses the boundary.

    Precondition, unchecked: every non-null vector has the centroids'
    dimension (ragged vectors in one batch fail the task). A NULL
    vector gets a NULL centroid, as the expression form gave it; the
    other rows of its batch are assigned as usual."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    cents = [(int(i), [float(x) for x in c]) for i, c in centroids]
    out_schema = StructType(
        list(df.schema.fields) + [StructField("centroid", IntegerType(), True)]
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            pdf = pdf.copy()
            ok = pdf[vec_col].notna().to_numpy()
            centroid = pd.array([None] * len(pdf), dtype="Int32")
            if ok.any():
                centroid[ok] = _np_nearest_centroid(
                    _np_widen(pdf[vec_col][ok]), cents
                )
            pdf["centroid"] = centroid
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def build_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 20,
) -> None:
    """Fit-once / query-many IVF: fits KMeans, writes
    `<path>/centroids` (centroid_id, center array<double>) and
    `<path>/vectors` PARTITIONED BY centroid — so a query's list
    pruning is literal parquet partition pruning on disk; an n_probe=4
    probe of a 1000-list index reads 0.4% of the bytes. At scale this
    is the whole point: the fit is paid once, queries touch only their
    probe lists."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    spark = df.sparkSession
    cents = ivf_centroids_kmeans(
        df, n_centroids, vec_col, seed=seed,
        sample_fraction=sample_fraction, max_iter=max_iter,
    )
    schema = StructType(
        [
            StructField("centroid_id", IntegerType(), False),
            StructField("center", ArrayType(DoubleType()), False),
        ]
    )
    # one slice from the start: coalesce(1) over a default-parallelism
    # parallelize makes ONE task compute all 32 python partitions
    # serially (~4-5 s of python-worker round-trips for 16 rows —
    # measured); a 1-slice parallelize is a single cheap task
    spark.createDataFrame(
        spark.sparkContext.parallelize(cents, 1), schema
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    ivf_index(df, cents, vec_col).write.mode("overwrite").partitionBy(
        "centroid"
    ).parquet(f"{path}/vectors")


def load_ivf_index(spark, path: str) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """(vectors_df, centroids) from a build_ivf_index layout. The
    centroid list is tiny (k rows) — collected for broadcast into query
    plans; the vector table stays lazy and partition-pruned."""
    cents = [
        (int(r["centroid_id"]), [float(x) for x in r["center"]])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    ]
    cents.sort(key=lambda t: t[0])
    return spark.read.parquet(f"{path}/vectors"), cents


def ivf_query(
    index_df: DataFrame,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scan only the n_probe nearest centroid lists, exact cosine within."""
    qn = math.sqrt(sum(x * x for x in query_vec))
    scored = sorted(
        (
            (
                cid,
                sum(a * b for a, b in zip(query_vec, c))
                / (qn * math.sqrt(sum(x * x for x in c)) or 1.0),
            )
            for cid, c in centroids
        ),
        key=lambda t: -t[1],
    )
    probe = [cid for cid, _ in scored[:n_probe]]
    return knn_brute(
        index_df.filter(F.col("centroid").isin(probe)), query_vec, k, vec_col, id_col
    )


def knn_join_tiled(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_blocks: int | None = None,
    corpus_blocks: int | None = None,
    n_rows: int | None = None,
    target_cell_bytes: int = 512 << 20,
) -> DataFrame:
    """Batch k-NN JOIN: for EVERY vector, its top-k cosine neighbors
    (self excluded) — the all-queries-at-once form of knn_brute, the
    workhorse of batch semantic retrieval — as a DISTRIBUTED tiled
    block-grid GEMM with NOTHING transiting the driver (VERDICT r4 #1:
    the one-block form it replaced toPandas()'d the whole corpus and
    broadcast a dense matrix — a driver OOM at scale).

    Topology: both sides hash into blocks via pmod(xxhash64(id), B) —
    uniform for ANY id type (string doc-ids included; dense integer ids
    are just one special case). The query side replicates once per
    CORPUS block, the corpus side once per QUERY block, and a cogrouped
    applyInPandas computes the dense (query-block x corpus-block) cell
    product in numpy — dim-order accumulation (sequential index order
    == DuckDB's list_cosine_similarity loop), half-up round-6 via
    floor(x*1e6 + 0.5) — emitting a per-cell top-k. One
    row_number window over (cos desc, neighbor_id asc) merges the
    per-cell winners into the global top-k — the merge is associative,
    so cells never need to see each other. String neighbor ties break
    identically in the kernel (numpy unicode lexsort, code-point order)
    and the merge window (Spark UTF-8 byte order): UTF-8 byte order IS
    code-point order by construction.

    Block counts AUTO-SIZE from the cost model when not given (VERDICT
    r5 #4): with n rows (pass `n_rows` if you have a catalog estimate,
    else one count() runs), a cell's fp64 score matrix is
    (n/B)^2 * 8 bytes — B = ceil(n / sqrt(target_cell_bytes/16))
    keeps the matrix plus kernel slack under `target_cell_bytes`
    (default 512 MB), with a parallelism floor of 4x4 blocks once the
    input is big enough to be worth splitting. A 1 B-row corpus at the
    default target sizes to B ≈ 173k — every cell still fits one
    executor, which a static default could never guarantee.

    Cost model: shuffle = |Q|*corpus_blocks + |C|*query_blocks rows;
    cell memory = (|Q|/qb) x (|C|/cb) doubles. No stage sees more than
    one cell. (Total WORK is still the n² GEMM — for corpora where
    that's infeasible, ann_join_hyperplane / ivf_join are the pruned
    forms; this is the exact form sized so memory never breaks first.)

    Bit-parity with the pure-Python reference
    tests/reference_oracle.knn_topk (same float64 sums in index order,
    same rounding, same (cos desc, id asc) tie-break) is pinned in
    tests/test_similarity.py and tests/test_hypothesis_kernels.py,
    including string-id inputs and many block-count choices; the
    sim_knn_join entry checks it against the DuckDB oracle.

    Output: (id, neighbor_id, cos, rank) with rank 1..k.
    """
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType, StringType

    id_type = df.schema[id_col].dataType
    if isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        id_sql, id_np = "long", np.int64
    elif isinstance(id_type, StringType):
        id_sql, id_np = "string", None
    else:
        raise TypeError(
            f"knn_join_tiled: id column {id_col!r} must be integral or "
            f"string, got {id_type.simpleString()}"
        )

    if query_blocks is None or corpus_blocks is None:
        n = n_rows if n_rows is not None else df.count()
        # score matrix is (n/B)^2 * 8 B; /16 leaves ~2x slack for the
        # vector blocks + numpy temporaries inside the kernel
        side = max(1, math.isqrt(target_cell_bytes // 16))
        mem_blocks = max(1, math.ceil(n / side))
        # parallelism floor measured, not guessed (KNN_GRID.json, r7):
        # at n=2000 a 4x4 grid is 2.2x faster than one cell on 32 cores
        # (0.64 s vs 1.43 s) and at n=500 the 16 extra tasks are cost-
        # neutral (0.62 vs 0.61 s) — so split from n=512 up; the r6
        # floor of 4096 left sf0.1 single-threaded (the +75 % bench
        # regression VERDICT r6 #2 flagged)
        par_blocks = 4 if n >= 512 else 1
        auto = max(mem_blocks, par_blocks)
        query_blocks = query_blocks if query_blocks is not None else auto
        corpus_blocks = corpus_blocks if corpus_blocks is not None else auto

    base = df.select(
        F.col(id_col).cast(id_sql).alias("id"), F.col(vec_col).alias("v")
    )
    # Both cogroup key columns are cast to int on BOTH sides: pmod
    # yields bigint while the exploded literals are int, and cogroup
    # does NOT coerce key types across sides — with (bigint, int) keys
    # on one side and (int, bigint) on the other, most (qb, cb) cells
    # silently pair with an EMPTY opposite side and their candidates
    # vanish (caught at sf0.1 in r7: 1959 of 2000 queries returned
    # neighbors from a single surviving cell).
    qrep = base.withColumn(
        "qb", F.pmod(F.xxhash64(F.col("id")), F.lit(query_blocks)).cast("int")
    ).withColumn(
        "cb", F.explode(F.array(*[F.lit(c) for c in range(corpus_blocks)]))
    )
    crep = base.withColumn(
        "cb", F.pmod(F.xxhash64(F.col("id")), F.lit(corpus_blocks)).cast("int")
    ).withColumn(
        "qb", F.explode(F.array(*[F.lit(q) for q in range(query_blocks)]))
    )

    def cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id": pd.Series(dtype="int64" if id_np else "object"),
                "neighbor_id": pd.Series(dtype="int64" if id_np else "object"),
                "cos": pd.Series(dtype="float64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        if id_np is not None:
            a_ids = left["id"].to_numpy(dtype=id_np)
            c_ids = right["id"].to_numpy(dtype=id_np)
        else:
            # '<U' unicode arrays: lexsort orders by code point, which
            # equals Spark's UTF-8 byte order (UTF-8 design property)
            a_ids = left["id"].to_numpy().astype(str)
            c_ids = right["id"].to_numpy().astype(str)
        a = np.stack([np.asarray(v, dtype=np.float64) for v in left["v"]])
        c_mat = np.stack([np.asarray(v, dtype=np.float64) for v in right["v"]])
        dim = a.shape[1]
        a_nrm_sq = np.zeros(len(a_ids))
        c_nrm_sq = np.zeros(len(c_ids))
        for j in range(dim):  # index-order accumulation (see docstring)
            a_nrm_sq += a[:, j] * a[:, j]
            c_nrm_sq += c_mat[:, j] * c_mat[:, j]
        a_nrm, c_nrm = np.sqrt(a_nrm_sq), np.sqrt(c_nrm_sq)
        c = np.zeros((len(a_ids), len(c_ids)))
        for j in range(dim):
            c += np.outer(a[:, j], c_mat[:, j])
        cos = np.floor(c / np.outer(a_nrm, c_nrm) * 1e6 + 0.5) / 1e6
        out_id, out_nb, out_cos = [], [], []
        for i, qid in enumerate(a_ids):
            mask = c_ids != qid  # exclude self
            cand_ids, cand_cos = c_ids[mask], cos[i][mask]
            order = np.lexsort((cand_ids, -cand_cos))[:k]
            out_id.extend([qid] * len(order))
            out_nb.extend(cand_ids[order])
            out_cos.extend(cand_cos[order])
        return pd.DataFrame(
            {
                "id": np.asarray(out_id, dtype=id_np) if id_np else out_id,
                "neighbor_id": (
                    np.asarray(out_nb, dtype=id_np) if id_np else list(out_nb)
                ),
                "cos": np.asarray(out_cos, dtype=np.float64),
            }
        )

    partial = (
        qrep.groupBy("qb", "cb")
        .cogroup(crep.groupBy("qb", "cb"))
        .applyInPandas(cell, f"id {id_sql}, neighbor_id {id_sql}, cos double")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= F.lit(k))
        .select("id", "neighbor_id", "cos", "rank")
    )


def ivf_join(
    index_df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch IVF join — approximate top-k neighbors for EVERY vector via
    centroid probe lists (the FAISS-style production retrieval shape;
    the IVF twin of ann_join_hyperplane). Each query vector ranks the
    broadcast centroid literals by ROUND-6 cosine (rounding before the
    rank makes probe selection cross-engine deterministic: a last-ulp
    sim difference becomes an exact tie, broken by centroid id on both
    engines), explodes its n_probe list ids, and equi-joins the
    corpus on the centroid column — partition pruning when the index
    layout is partitionBy(centroid). Exact round-6 cosine verify, one
    window top-k.

    Scale: shuffle = |Q| x n_probe probe rows against centroid-bucketed
    lists; per-list verify replaces the quadratic GEMM. Recall is the
    standard IVF curve (n_probe/k_lists); pytest pins full-probe ==
    the exact kNN join.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = _norm(v)
    # (-sim, cid) structs sort ascending == sim descending, cid asc
    # ties. The REAL centroid id from the tuple is carried — not the
    # list position — so a filtered/reordered centroid list (e.g.
    # empty lists dropped) still probes the right partitions (r5
    # self-review finding).
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    (
                        -F.round(
                            _dot(v, _as_double_array(c))
                            / (nrm * F.lit(math.sqrt(sum(x * x for x in c)))),
                            6,
                        )
                    ).alias("neg"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, c in centroids
            ]
        )
    )
    probes = F.transform(
        F.slice(ranked, 1, n_probe), lambda x: x["cid"].cast("int")
    )
    q = index_df.select(
        F.col(id_col).alias("id"),
        v.alias("qv"),
        nrm.alias("qn"),
        F.explode(probes).alias("pcent"),
    ).alias("q")
    c = index_df.select(
        F.col(id_col).alias("neighbor_id"),
        v.alias("cv"),
        _norm(v).alias("cn"),
        F.col("centroid").alias("ccent"),
    ).alias("c")
    cos = F.round(
        _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
    )
    cand = q.join(
        c,
        (F.col("pcent") == F.col("ccent"))
        & (F.col("q.id") != F.col("neighbor_id")),
    ).select(F.col("q.id").alias("id"), "neighbor_id", cos.alias("cos"))

    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= F.lit(k))
        .select("id", "neighbor_id", "cos", "rank")
    )


def ivf_append(
    spark,
    path: str,
    batch: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Append a batch of new vectors to a PERSISTED IVF index without
    refitting — index maintenance, the vector-side twin of
    dedup_incremental's probe-a-persisted-index posture: production
    retrieval ingests continuously, and nobody re-runs KMeans per
    batch. Each new vector is assigned to its nearest existing centroid
    (the same argmax-cosine rule build_ivf_index used, so old and new
    rows are indistinguishable to queries) and appended to that
    centroid's parquet partition — the write touches ONLY the affected
    partition directories. Centroid drift is the caller's policy knob:
    refit when list sizes skew (compare list counts against the fit-time
    histogram), exactly like any FAISS deployment.

    `mode("append")` + partitionBy keeps existing files as-is; the
    FileStatusCache refresh makes the new files visible to subsequent
    reads in this session."""
    _, cents = load_ivf_index(spark, path)
    ivf_index(batch, cents, vec_col).write.mode("append").partitionBy(
        "centroid"
    ).parquet(f"{path}/vectors")
    spark.catalog.refreshByPath(f"{path}/vectors")


# ---------------------------------------------------------------------------
# PRODUCT QUANTIZATION (Jégou et al. 2011) — the ANN compression rung:
# split the D-dim space into m orthogonal subspaces, k-means each
# subspace to k codes, store every vector as m uint8-sized codes
# (64-dim float -> 4 bytes here, 64x smaller), and answer queries with
# ASYMMETRIC DISTANCE: one m×k lookup table of exact query-to-center
# sub-distances, then each candidate costs m table lookups + adds —
# no float vector is ever touched at query time. The codebook is a
# tiny fit-once artifact (same discipline as the IVF index); encode is
# pure JVM array expressions over a broadcast codebook; every distance
# is an ORDERED fold so the whole train→encode→score chain replays
# bit-for-bit in the DuckDB oracle from the stored codebook.
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    path: str,
    m_sub: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    max_iter: int = 20,
) -> None:
    """Fit per-subspace KMeans codebooks and persist
    `<path>/codebook` as (sub, code, center array<double>) — m_sub·k
    tiny rows. Distributed fits (one per subspace — m_sub is small by
    construction); only the centers reach the driver.

    The m_sub fits are INDEPENDENT Spark jobs, so they are submitted
    concurrently from driver threads — each iteration's cost at this
    row count is the per-job scheduling floor, and overlapping the
    subspaces cuts the train wall ~4× (measured 6.2 s → 1.3 s for
    m_sub=4 at sf0.1) without touching the fitted centers (per-subspace
    seed and data are unchanged; results are order-independent)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    spark = df.sparkSession
    dim = len(df.select(vec_col).head()[0])
    if dim % m_sub:
        raise ValueError(f"pq_train: dim {dim} not divisible by {m_sub}")
    d_sub = dim // m_sub
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    # SIZE-GATED LOCAL FIT for cheap-fit callers (r14 opt): same
    # dispatch as ivf_centroids_kmeans (docstring there) — ONE bounded
    # collect of the sampled training set feeds all m_sub numpy Lloyd
    # fits (sliced views, no per-subspace Spark job), vs m_sub
    # concurrent k-means|| fits at ~10 job floors each.
    # sample_fraction=None (full-quality ask) or localFitMaxRows=0
    # forces the distributed path (forced_sweep.sh keeps it oracled).
    # Centers differ between paths; artifact-is-truth absorbs it
    # (recall receipted in PQ_RECALL.json).
    X = None
    if sample_fraction is not None:
        X = _local_fit_sample(
            df.select(vec.alias("v")).sample(False, sample_fraction, seed), k
        )

    def _fit_sub(j: int) -> list[tuple[int, int, list[float]]]:
        data = df.select(
            array_to_vector(F.slice(vec, j * d_sub + 1, d_sub)).alias(
                "features"
            )
        )
        if sample_fraction is not None:
            data = data.sample(False, sample_fraction, seed=seed + j)
        model = KMeans(k=k, seed=seed + j, maxIter=max_iter).fit(data)
        return [
            (j, c, [float(x) for x in center])
            for c, center in enumerate(model.clusterCenters())
        ]

    if X is not None:
        rows = [
            (j, c, [float(x) for x in center])
            for j in range(m_sub)
            for c, center in enumerate(
                _lloyd_local(
                    X[:, j * d_sub : (j + 1) * d_sub], k, n_iter=max(12, max_iter)
                )
            )
        ]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(m_sub, 8)) as ex:
            per_sub = list(ex.map(_fit_sub, range(m_sub)))
        rows = [r for sub in per_sub for r in sub]
    schema = StructType(
        [
            StructField("sub", IntegerType(), False),
            StructField("code", IntegerType(), False),
            StructField("center", ArrayType(DoubleType()), False),
        ]
    )
    # 1-slice parallelize, NOT coalesce(1) — see build_ivf_index note
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    ).write.mode("overwrite").parquet(f"{path}/codebook")


def load_pq_codebook(spark, path: str) -> list[list[list[float]]]:
    """codebook[sub][code] -> center, from a pq_train artifact. Per-sub
    lists may be RAGGED: Spark KMeans drops empty clusters, so a
    subspace with fewer distinct values than k yields fewer codes —
    codes are dense 0..k_sub-1 by construction (enumerate order)."""
    rows = spark.read.parquet(f"{path}/codebook").collect()
    m = max(r["sub"] for r in rows) + 1
    out: list[list[list[float]]] = [[] for _ in range(m)]
    for r in sorted(rows, key=lambda r: (r["sub"], r["code"])):
        assert r["code"] == len(out[r["sub"]]), "codebook codes not dense"
        out[r["sub"]].append([float(x) for x in r["center"]])
    return out


def _sub_l2(sub_vec: Column, center: list[float]) -> Column:
    """Exact-order L2² fold between a sub-vector column and a literal
    center (left-assoc — matches DuckDB list_reduce with 0.0 prepended
    and the Python LUT loop bit-for-bit)."""
    lit = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(sub_vec, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _np_widen(col) -> "object":
    """(n, d) float64 matrix from a pandas column of Arrow-delivered
    vectors (float32 or float64) — widening is exact, matching Spark's
    cast(double) on every element."""
    import numpy as np

    return np.array([np.asarray(v, dtype=np.float64) for v in col])


def _np_sub_dists(V, centers) -> "object":
    """(n, k) L2² distances of V's rows to each center, accumulated in
    the EXACT left-associative element order of _sub_l2's aggregate
    fold (acc = ((0.0 + s_0) + s_1) + …): one elementwise numpy op per
    dimension, never a reordering matmul/sum — IEEE-identical to the
    JVM expression eval, so argmin picks the same code."""
    import numpy as np

    n, d = V.shape
    dists = np.empty((n, len(centers)), dtype=np.float64)
    for ci, c in enumerate(centers):
        acc = np.zeros(n, dtype=np.float64)
        for j in range(d):
            diff = V[:, j] - c[j]
            acc = acc + diff * diff
        dists[:, ci] = acc
    return dists


def _np_encode_codes(V, codebook) -> "object":
    """(n, m) int32 PQ codes with pq_encode's exact argmin semantics:
    first position of the minimum (numpy argmin == array_position of
    array_min on bit-identical distances)."""
    import numpy as np

    d_sub = len(codebook[0][0])
    codes = np.empty((V.shape[0], len(codebook)), dtype=np.int32)
    for j, centers in enumerate(codebook):
        sub = V[:, j * d_sub : (j + 1) * d_sub]
        codes[:, j] = _np_sub_dists(sub, centers).argmin(axis=1)
    return codes


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, codes array<int>) — assign each subspace its nearest code
    (argmin L2², lowest code on ties via first-position), as one
    Arrow-vectorized numpy pass (guide §4: vectorized pandas batches,
    only the id+vec columns cross the boundary; the corpus never
    shuffles). r14 measurement: the previous pure-expression form spent
    ~5 s PER CALL building its m·k·d_sub-literal fold tree through
    Py4J on the DRIVER and evaluated the folds interpreted (higher-
    order functions have no codegen) — at sf0.1 the build cost alone
    dwarfed execution. The numpy fold replays _sub_l2's exact
    left-associative element order (see _np_sub_dists), so codes are
    bit-identical and every oracle replay still matches."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    cb = [[[float(x) for x in c] for c in centers] for centers in codebook]
    src = df.select(id_col, vec_col, *keep_cols)
    fields = {f.name: f for f in src.schema.fields}
    out_schema = StructType(
        [
            StructField("id", fields[id_col].dataType, True),
            StructField("codes", ArrayType(IntegerType()), True),
        ]
        + [fields[c] for c in keep_cols]
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            codes = _np_encode_codes(_np_widen(pdf[vec_col]), cb)
            data = {"id": pdf[id_col].values, "codes": list(codes)}
            for c in keep_cols:
                data[c] = pdf[c].values
            yield pd.DataFrame(data)

    return src.mapInPandas(batches, schema=out_schema)


def pq_adc_topk(
    codes_df: DataFrame,
    codebook: list[list[list[float]]],
    query_vec: list[float],
    k_top: int = 10,
) -> DataFrame:
    """(id, dist) top-k by ASYMMETRIC distance: LUT[j][c] = exact
    L2²(q_j, center_jc) computed once on the driver (m·k doubles, the
    same left fold as _sub_l2), then each candidate is m lookups + m-1
    adds in fixed subspace order — round 6, total order (dist, id).
    Plans as a TakeOrderedAndProject over a narrow scan of the codes
    table: the float vectors are never read."""
    d_sub = len(codebook[0][0])
    q = [float(x) for x in query_vec]
    lut = []
    for j, centers in enumerate(codebook):
        qs = q[j * d_sub : (j + 1) * d_sub]
        row = []
        for c in centers:
            acc = 0.0
            for a, b in zip(qs, c):
                acc = acc + (a - b) * (a - b)
            row.append(acc)
        lut.append(row)
    dist = None
    for j, row in enumerate(lut):
        term = F.element_at(
            F.array(*[F.lit(v) for v in row]),
            F.col("codes").getItem(j) + 1,
        )
        dist = term if dist is None else dist + term
    return (
        codes_df.select("id", F.round(dist, 6).alias("dist"))
        .orderBy(F.col("dist").asc(), F.col("id").asc())
        .limit(k_top)
    )


def pq_rerank_topk(
    df: DataFrame,
    codes_df: DataFrame,
    codebook: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    k_prime: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """TWO-STAGE retrieval (the FAISS serving architecture, Jégou et
    al. 2011 §V): an ADC shortlist of k' ≫ k candidates over the
    compressed codes, then an EXACT L2² re-rank of ONLY the shortlist
    against the float vectors. ADC distances are lossy (recall@10
    saturates ~0.5 at 96-bit codes — PQ_RECALL.json), but the true
    nearest neighbors rarely fall far down the ADC order, so exact
    re-ranking a small multiple of k recovers most of the lost recall
    while touching k' float vectors instead of the corpus.

    Plan shape: stage 1 is pq_adc_topk's TakeOrderedAndProject over
    the narrow codes scan; stage 2 broadcasts the k'-row shortlist
    into an inner join against the vector table (scan pruned to
    id+embedding; no shuffle) and re-ranks with a per-dimension
    left-associative fold — the exact arithmetic an oracle can replay.
    At 100 TB the float table is id-bucketed so the broadcast join
    prunes to the shortlist's buckets; the corpus-sized work stays in
    the codes scan."""
    # rename the shortlist key before the join: with id_col='id' both
    # sides would expose 'id' and the join condition / later
    # F.col(id_col) resolution becomes ambiguous
    shortlist = pq_adc_topk(codes_df, codebook, query_vec, k_prime).select(
        F.col("id").alias("_sl_id")
    )
    q = _as_double_array(query_vec)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sq = F.zip_with(v, q, lambda a, b: (a - b) * (a - b))
    dist = F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)
    cand = df.join(
        F.broadcast(shortlist), df[id_col] == shortlist["_sl_id"], "inner"
    )
    return (
        cand.select(
            F.col(id_col).alias("id"), F.round(dist, 6).alias("dist")
        )
        .orderBy(F.col("dist").asc(), F.col("id").asc())
        .limit(k)
    )


def ivf_probe_lists(
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    n_probe: int = 4,
) -> list[int]:
    """The query's n_probe nearest IVF lists by centroid cosine
    (DESC, centroid_id ASC tie-break — the same total order the IVF
    oracles replay). Driver-side over the broadcastable centroid set:
    n_centroids is KBs even at trillion-vector scale."""
    import math

    qn = math.sqrt(sum(x * x for x in query_vec))
    scored = sorted(
        (
            (
                cid,
                sum(a * b for a, b in zip(query_vec, c))
                / ((qn * math.sqrt(sum(x * x for x in c))) or 1.0),
            )
            for cid, c in centroids
        ),
        key=lambda t: (-t[1], t[0]),
    )
    return [cid for cid, _ in scored[:n_probe]]


def ivfpq_rerank_topk(
    df: DataFrame,
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebook: list[list[list[float]]],
    query_vec: list[float],
    n_probe: int = 4,
    k: int = 10,
    k_prime: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """THREE-STAGE ANN serving — the full production FAISS path
    (Jégou et al. 2011 §V + the IVF coarse quantizer): (1) IVF PROBE
    prunes the candidate set to the query's n_probe nearest lists
    (partition pruning on the index artifact's hive layout — the scan
    reads ~n_probe/n_lists of the codes, which is what makes stage 2
    affordable at 10⁹ vectors); (2) ADC over ONLY the probed lists'
    codes builds the k' shortlist (compressed distance, never a float
    vector); (3) EXACT L2² re-rank of the k'-row shortlist against
    the float table via broadcast join (pq_rerank_topk's stage 2 —
    k' rows of floats, corpus-size-independent).

    `vectors` is the loaded IVF index (id, centroid, vec — the
    load_ivf_index frame); `df` the float table re-ranked against.
    Recall vs (n_probe, k') is receipted in PQ_RECALL.json
    ('ivfpq_rerank' block)."""
    probe = ivf_probe_lists(centroids, query_vec, n_probe)
    cand = vectors.filter(F.col("centroid").isin(probe))
    codes = pq_encode(cand, codebook, vec_col=vec_col, id_col=id_col)
    return pq_rerank_topk(
        df, codes, codebook, query_vec, k, k_prime, vec_col, id_col
    )


def _lloyd_local(X, k: int, n_iter: int = 12, seed: int = 42, n_init: int = 4):
    """Deterministic driver-local Lloyd k-means (numpy): n_init seeded
    kmeans++ D² restarts (Arthur & Vassilvitskii 2007, public), each a
    fixed-iteration Lloyd run with empty clusters re-seeded from the
    farthest point; the restart with the LOWEST within-cluster sum of
    squares wins — scikit-learn's n_init discipline. Used by
    opq_train's alternating minimization and the cheap-fit local
    dispatch — the persisted ARTIFACT is what oracles replay, so fit
    quality moves recall, never correctness.

    r15: the r14 strided-row init picked adjacent/duplicate-ish rows on
    clustered samples and cost ivfpq_residual recall 0.225 → 0.185
    (VERDICT r14 what's-wrong #1); D² seeding + best-of-n_init is the
    fix for raw-vector fits (PQ_RECALL.json's 'pq' block), while the
    residual train stays on k-means|| (sim_ivfpq_residual).
    Deterministic: fixed seeds seed..seed+n_init-1, same X → same
    centers (fit==fit is pytest-pinned). Cost is n_init small numpy fits on a bounded
    in-process sample — microseconds-to-milliseconds at the contract
    sizes, never a Spark job."""
    import numpy as np

    n = len(X)

    def _one(run_seed: int):
        rs = np.random.RandomState(run_seed)
        first = int(rs.randint(n))
        chosen = [first]
        d2min = ((X - X[first]) ** 2).sum(axis=1)
        while len(chosen) < k:
            total = float(d2min.sum())
            if total <= 0.0:
                # all remaining mass on already-chosen points
                # (degenerate duplicate corpus): any row works,
                # stay deterministic
                nxt = int(rs.randint(n))
            else:
                r = rs.random_sample() * total
                nxt = int(min(np.searchsorted(np.cumsum(d2min), r), n - 1))
            chosen.append(nxt)
            d2min = np.minimum(d2min, ((X - X[nxt]) ** 2).sum(axis=1))
        centers = X[chosen].copy()
        d2 = None
        for _ in range(n_iter):
            d2 = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = X[assign == c]
                if len(members):
                    centers[c] = members.mean(axis=0)
                else:
                    centers[c] = X[d2.min(axis=1).argmax()]
        d2 = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        return float(d2.min(axis=1).sum()), centers

    best = None
    for i in range(max(1, n_init)):
        inertia, centers = _one(seed + i)
        if best is None or inertia < best[0]:
            best = (inertia, centers)
    return best[1]


def opq_train(
    df: DataFrame,
    path: str,
    m_sub: int = 4,
    k: int = 16,
    n_iter: int = 6,
    vec_col: str = "embedding",
    sample_rows: int = 4096,
    kmeans_iter: int = 10,
) -> None:
    """OPQ — Optimized Product Quantization (Ge et al. 2014, public):
    learn an ORTHONORMAL ROTATION R jointly with the per-subspace
    codebooks by alternating minimization, so the subspace split cuts
    across the data's principal directions instead of the raw
    coordinate order (raw PQ's recall ceiling at small code budgets is
    mostly mis-allocated variance). Each round: (1) fix R, fit
    per-subspace k-means on the rotated sample; (2) fix the codebooks,
    set R to the orthogonal Procrustes optimum argmin‖XRᵀ − X̂‖ =
    VUᵀ from the SVD of XᵀX̂. Driver-local on a bounded sample (the
    bpe_learn_local discipline — the training set is sample_rows·d
    doubles; the CORPUS encode stays distributed), deterministic init,
    fixed iterations.

    Persists `<path>/rotation` (i, row array<double>) — R's rows —
    and `<path>/codebook` in pq_train's exact layout, so every
    downstream consumer (encode, ADC, oracles) replays from the
    artifact; like the KMeans entries, cross-machine float drift in
    the FIT is absorbed by the artifact-is-truth discipline."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    spark = df.sparkSession
    rows = (
        df.select(F.transform(F.col(vec_col), lambda x: x.cast("double")))
        .limit(sample_rows)
        .collect()
    )
    X = np.array([[float(x) for x in r[0]] for r in rows], dtype=np.float64)
    n, dim = X.shape
    if dim % m_sub:
        raise ValueError(f"opq_train: dim {dim} not divisible by {m_sub}")
    d_sub = dim // m_sub
    R = np.eye(dim)
    centers = None
    mse_first = mse_last = None
    for _ in range(n_iter):
        Xr = X @ R.T
        centers = [
            _lloyd_local(Xr[:, j * d_sub : (j + 1) * d_sub], k, kmeans_iter)
            for j in range(m_sub)
        ]
        Xhat = np.empty_like(Xr)
        for j in range(m_sub):
            sub = Xr[:, j * d_sub : (j + 1) * d_sub]
            d2 = ((sub[:, None, :] - centers[j][None, :, :]) ** 2).sum(axis=2)
            Xhat[:, j * d_sub : (j + 1) * d_sub] = centers[j][
                d2.argmin(axis=1)
            ]
        mse_last = float(((Xr - Xhat) ** 2).sum() / max(1, n))
        if mse_first is None:
            mse_first = mse_last
        # Procrustes optimum: min‖XRᵀ − X̂‖ = max tr(R·XᵀX̂); with
        # XᵀX̂ = U S Vᵀ the maximizer is R = V Uᵀ (tr(VUᵀUSVᵀ) = ΣS).
        # (The transposed variant OSCILLATES instead of descending —
        # caught by the monotone-MSE assertion below and the pytest.)
        U, _, Vt = np.linalg.svd(X.T @ Xhat)
        R = Vt.T @ U.T
    if n_iter > 1 and mse_last > mse_first * 1.05:
        # descent is the whole point — a rising objective means the
        # rotation update is broken, not a data property
        raise AssertionError(
            f"opq_train: objective rose {mse_first:.4f}→{mse_last:.4f}"
        )
    schema = StructType(
        [
            StructField("i", IntegerType(), False),
            StructField("row", ArrayType(DoubleType()), False),
        ]
    )
    spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, [float(x) for x in R[i]]) for i in range(dim)], 1
        ),
        schema,
    ).write.mode("overwrite").parquet(f"{path}/rotation")
    cb_schema = StructType(
        [
            StructField("sub", IntegerType(), False),
            StructField("code", IntegerType(), False),
            StructField("center", ArrayType(DoubleType()), False),
        ]
    )
    cb_rows = [
        (j, c, [float(x) for x in centers[j][c]])
        for j in range(m_sub)
        for c in range(k)
    ]
    spark.createDataFrame(
        spark.sparkContext.parallelize(cb_rows, 1), cb_schema
    ).write.mode("overwrite").parquet(f"{path}/codebook")


def load_opq_rotation(spark, path: str) -> list[list[float]]:
    """R's rows from an opq_train artifact (rotation applies as
    x'_i = Σ_j R[i][j]·x[j] — left-assoc over j, the order every
    consumer and oracle replays)."""
    rows = spark.read.parquet(f"{path}/rotation").collect()
    out = [None] * len(rows)
    for r in rows:
        out[int(r["i"])] = [float(x) for x in r["row"]]
    return out


def rotate_expr(vec: Column, rotation: list[list[float]]) -> Column:
    """array<double> column of the rotated vector: one exact
    left-associative fold per output dimension (matches DuckDB
    list_reduce with 0.0 prepended, and the driver-side Python loop,
    bit-for-bit — the _sub_l2 discipline)."""
    dims = []
    for row in rotation:
        lit = F.array(*[F.lit(float(x)) for x in row])
        dims.append(
            F.aggregate(
                F.zip_with(vec, lit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return F.array(*dims)


def opq_encode(
    df: DataFrame,
    rotation: list[list[float]],
    codebook: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes) — rotate then product-quantize, fused into ONE
    Arrow-vectorized numpy pass (guide §4; r14: the rotate_expr +
    pq_encode expression form cost ~5.6 s of driver-side Py4J tree
    construction per call — dim² rotation literals — plus interpreted
    HOF eval; the numpy path replays the same left-assoc fold per
    output dimension (rotate_expr's aggregate order) then encodes with
    _np_sub_dists' exact order, so codes are bit-identical)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    R = [[float(x) for x in row] for row in rotation]
    cb = [[[float(x) for x in c] for c in centers] for centers in codebook]
    src = df.select(id_col, vec_col)
    id_type = src.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id", id_type, True),
            StructField("codes", ArrayType(IntegerType()), True),
        ]
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            V = _np_widen(pdf[vec_col])
            n = V.shape[0]
            Vr = np.empty((n, len(R)), dtype=np.float64)
            for i, row in enumerate(R):
                acc = np.zeros(n, dtype=np.float64)
                for j in range(len(row)):
                    acc = acc + V[:, j] * row[j]
                Vr[:, i] = acc
            codes = _np_encode_codes(Vr, cb)
            yield pd.DataFrame({"id": pdf[id_col].values, "codes": list(codes)})

    return src.mapInPandas(batches, schema=out_schema)


def rotate_query(
    rotation: list[list[float]], query_vec: list[float]
) -> list[float]:
    """Driver-side query rotation with the SAME left-assoc fold order
    as rotate_expr (so ADC LUTs built from it agree with the oracle)."""
    out = []
    for row in rotation:
        acc = 0.0
        for a, b in zip(query_vec, row):
            acc = acc + float(a) * float(b)
        out.append(acc)
    return out


def opq_adc_topk(
    codes_df: DataFrame,
    rotation: list[list[float]],
    codebook: list[list[list[float]]],
    query_vec: list[float],
    k_top: int = 10,
) -> DataFrame:
    """ADC top-k in the rotated space: rotation is orthonormal, so
    rotated-space L2 IS original-space L2 and the shortlist order is
    directly comparable to raw-PQ ADC at the same code budget —
    PQ_RECALL.json's 'opq' block measures the recall delta."""
    return pq_adc_topk(codes_df, codebook, rotate_query(rotation, query_vec), k_top)


def pq_residual_df(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, centroid, res) — each vector's IVF assignment plus its
    RESIDUAL v − center (the FAISS IVF-PQ encoding target: residuals
    cluster tightly around 0, so the same code budget quantizes them
    far more finely than raw vectors). Pure array expressions against
    the broadcast centroid literals."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cid = _nearest_centroid(F.col(vec_col), centroids)
    centers = F.array(
        *[_as_double_array(c) for _, c in sorted(centroids)]
    )
    res = F.zip_with(
        v, F.element_at(centers, cid + 1), lambda a, b: a - b
    )
    return df.select(
        F.col(id_col).alias("id"),
        cid.alias("centroid"),
        res.alias("res"),
    )


def ivfpq_residual_topk(
    codes_df: DataFrame,
    codebook: list[list[list[float]]],
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    probe: list[int],
    k_top: int = 10,
) -> DataFrame:
    """Residual IVF-PQ query: per probed list c the lookup table is
    built from the query's OWN residual against c (q − center_c), so
    each candidate costs m lookups in ITS list's table — the exact
    FAISS IVFPQ scoring shape. `codes_df` carries (id, centroid,
    codes) from pq_encode over pq_residual_df. Branches union (one
    per probed list, n_probe is small by construction) and one
    TakeOrderedAndProject finishes."""
    centers = {cid: c for cid, c in centroids}
    d_sub = len(codebook[0][0])
    branches = []
    for cid in probe:
        qr = [float(a) - float(b) for a, b in zip(query_vec, centers[cid])]
        lut = []
        for j, cents in enumerate(codebook):
            qs = qr[j * d_sub : (j + 1) * d_sub]
            row = []
            for c in cents:
                acc = 0.0
                for a, b in zip(qs, c):
                    acc = acc + (a - b) * (a - b)
                row.append(acc)
            lut.append(row)
        dist = None
        for j, row in enumerate(lut):
            term = F.element_at(
                F.array(*[F.lit(x) for x in row]),
                F.col("codes").getItem(j) + 1,
            )
            dist = term if dist is None else dist + term
        branches.append(
            codes_df.filter(F.col("centroid") == cid).select(
                "id", F.round(dist, 6).alias("dist")
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.orderBy(F.col("dist").asc(), F.col("id").asc()).limit(k_top)
