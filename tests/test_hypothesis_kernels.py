"""Hypothesis property tests for the plan-fork kernels (VERDICT r4 #8):

- the bitset/prefix/all-pairs Jaccard triple must agree EXACTLY across
  the max_vocab cutover (the dictionary-probe fork at 63/64/65 distinct
  tokens is where a capacity off-by-one hides — r4 shipped one);
- the tiled block-grid kNN join must be bit-identical to the plain
  Python reference (tests/reference_oracle.knn_topk) for adversarial
  shapes (empty, single-vector, more blocks than rows, non-square
  grids).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
        HealthCheck.data_too_large,
    ],
)

_UNIVERSE = [f"t{i:02d}" for i in range(68)]


@settings(**_SETTINGS)
@given(
    data=st.data(),
    universe_size=st.integers(min_value=61, max_value=68),
    threshold=st.sampled_from([0.5, 0.8, 0.95]),
)
def test_jaccard_triple_agrees_across_vocab_cutover(
    spark, data, universe_size, threshold
):
    from poc_spark.operators.dedup import (
        jaccard_bitset_pairs,
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    universe = _UNIVERSE[:universe_size]
    n_docs = data.draw(st.integers(min_value=2, max_value=8))
    docs = [
        (i, " ".join(sorted(data.draw(
            st.sets(st.sampled_from(universe), min_size=0, max_size=universe_size)
        ))))
        for i in range(n_docs)
    ]
    # one doc holds the whole universe so the distinct-token count (the
    # dictionary-probe result) is exactly universe_size — pinning which
    # side of the 64-token cutover this example exercises
    docs.append((n_docs, " ".join(universe)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    ap = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=threshold).collect()
    }
    bit = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_bitset_pairs(df, threshold=threshold).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_prefix_pairs(df, threshold=threshold).collect()
    }
    assert bit == ap
    assert pref == ap


@settings(**_SETTINGS)
@given(
    data=st.data(),
    n_vecs=st.integers(min_value=0, max_value=24),
    dim=st.integers(min_value=1, max_value=5),
    query_blocks=st.integers(min_value=1, max_value=5),
    corpus_blocks=st.integers(min_value=1, max_value=5),
    k=st.integers(min_value=1, max_value=4),
)
def test_tiled_knn_equals_reference_adversarial_shapes(
    spark, data, n_vecs, dim, query_blocks, corpus_blocks, k
):
    from poc_spark.operators.similarity import knn_join_tiled
    from tests.reference_oracle import knn_topk

    rows = [
        (
            i,
            [
                float(data.draw(st.integers(min_value=1, max_value=7)))
                for _ in range(dim)
            ],
        )
        for i in range(n_vecs)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    one = knn_topk(rows, k)
    tiled = {
        (r["id"], r["rank"]): (r["neighbor_id"], r["cos"])
        for r in knn_join_tiled(
            df, k=k, query_blocks=query_blocks, corpus_blocks=corpus_blocks
        ).collect()
    }
    assert tiled == one  # exact, including float bits


@settings(**_SETTINGS)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
                width=64,
            ),
            min_size=3,
            max_size=3,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_quantize_roundtrip_bound_property(spark, vecs):
    """∀ finite vectors: codes in [-127,127], dequant error <= scale/2
    (+ rounding slack from the round-6 scale), zero vectors exact."""
    from poc_spark.operators.embeddings import dequantize_int8, quantize_int8

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = quantize_int8(df).collect()
    assert all(-127 <= r["code"] <= 127 for r in q)
    scales = {}
    for r in q:
        scales[r["id"]] = r["scale"]
    deq = {
        (r["id"], r["i"]): r["x_hat"]
        for r in dequantize_int8(
            spark.createDataFrame(q, "id long, i int, code int, scale double")
        ).collect()
    }
    for i, v in enumerate(vecs):
        amax = max(abs(x) for x in v)
        for j, x in enumerate(v):
            # scale rounded to 6 decimals -> slack of 5e-7 per code unit
            bound = scales[i] / 2 + 5e-7 * 127 + 1e-9 * amax
            assert abs(deq[(i, j)] - x) <= bound + 1e-12


@settings(**_SETTINGS)
@given(
    xs=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=12),
    ys=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=12),
    bits=st.integers(min_value=1, max_value=8),
)
def test_zorder_interleave_property(spark, xs, ys, bits):
    """∀ coordinate pairs: the Spark interleave equals the pure-Python
    Morton reference after masking to `bits`, and z stays within
    [0, 4^bits)."""
    from pyspark.sql import functions as F

    from poc_spark.plans.zorder import interleave_bits

    def morton(x, y, b):
        z = 0
        for j in range(b):
            z |= ((x >> j) & 1) << (2 * j)
            z |= ((y >> j) & 1) << (2 * j + 1)
        return z

    n = min(len(xs), len(ys))
    rows = [(xs[i] % (1 << bits), ys[i] % (1 << bits)) for i in range(n)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = df.select(
        "x", "y", interleave_bits([F.col("x"), F.col("y")], bits).alias("z")
    ).collect()
    for r in out:
        assert r["z"] == morton(r["x"], r["y"], bits)
        assert 0 <= r["z"] < (1 << (2 * bits))


@settings(**_SETTINGS)
@given(
    data=st.data(),
    k=st.integers(min_value=1, max_value=5),
    salt_n=st.sampled_from([1, 2, 16]),
)
def test_salted_top_k_equals_window_property(spark, data, k, salt_n):
    """∀ datasets (incl. hot keys, ties impossible by construction,
    groups smaller and larger than k) and ∀ salt_n (incl. the
    degenerate 1-shard case): two-phase == single window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from poc_spark.plans.skew import salted_top_k

    n = data.draw(st.integers(min_value=1, max_value=40))
    keys = data.draw(
        st.lists(
            st.sampled_from(["hot", "a", "b"]), min_size=n, max_size=n
        )
    )
    rows = [(keys[i], i) for i in range(n)]  # v unique -> total order
    df = spark.createDataFrame(rows, "key string, v long")
    w = Window.partitionBy("key").orderBy("v")
    plain = {
        (r["key"], r["v"])
        for r in df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .collect()
    }
    salted = {
        (r["key"], r["v"])
        for r in salted_top_k(df, ["key"], ["v"], k=k, salt_n=salt_n).collect()
    }
    assert salted == plain


@settings(**_SETTINGS)
@given(
    data=st.data(),
    universe_size=st.integers(min_value=61, max_value=68),
    threshold=st.sampled_from([0.5, 0.8, 0.95]),
)
def test_containment_triple_agrees_across_vocab_cutover(
    spark, data, universe_size, threshold
):
    """Same discipline as the Jaccard triple: the asymmetric containment
    bitset/prefix/all-pairs forms must agree exactly on either side of
    the 64-token dictionary-probe cutover, including threshold-exact
    pairs and duplicate (both-direction) sets."""
    from poc_spark.operators.dedup import (
        containment_bitset_pairs,
        containment_pairs,
        containment_prefix_pairs,
    )

    universe = _UNIVERSE[:universe_size]
    n_docs = data.draw(st.integers(min_value=2, max_value=8))
    docs = [
        (i, " ".join(sorted(data.draw(
            st.sets(st.sampled_from(universe), min_size=0, max_size=universe_size)
        ))))
        for i in range(n_docs)
    ]
    docs.append((n_docs, " ".join(universe)))  # pins the probe count
    df = spark.createDataFrame(docs, "doc_id long, text string")

    want = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=threshold).collect()
    }
    bit = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_bitset_pairs(df, threshold=threshold).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_prefix_pairs(df, threshold=threshold).collect()
    }
    assert bit == want
    assert pref == want


@settings(**_SETTINGS)
@given(
    data=st.data(),
    n_buckets=st.integers(min_value=1, max_value=7),
    num_chunks=st.integers(min_value=1, max_value=6),
)
def test_chunked_ntile_equals_global_property(
    spark, data, n_buckets, num_chunks
):
    """chunked_ntile == ntile-over-global-window for adversarial
    (N, n, chunks): heavy key duplication (ties must never straddle
    chunks), N < n, single chunk, more chunks than rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from poc_spark.plans.ntile import chunked_ntile

    n_rows = data.draw(st.integers(min_value=1, max_value=40))
    keys = data.draw(
        st.lists(
            st.integers(min_value=-3, max_value=3),
            min_size=n_rows,
            max_size=n_rows,
        )
    )
    df = spark.createDataFrame(
        list(enumerate(keys)), "id long, key long"
    )
    w = Window.orderBy("key", "id")
    want = {
        (r["id"], r["t"])
        for r in df.withColumn("t", F.ntile(n_buckets).over(w)).collect()
    }
    got = {
        (r["id"], r["bucket_n"])
        for r in chunked_ntile(
            df, n_buckets, ("key", "id"), num_chunks=num_chunks
        ).collect()
    }
    assert got == want


def _ref_bpe_apply(word, merges):
    syms = list(word)
    ranks = {f"{l} {r}": i for i, (l, r) in enumerate(merges)}
    while True:
        present = [
            ranks[p]
            for p in (f"{syms[i]} {syms[i+1]}" for i in range(len(syms) - 1))
            if p in ranks
        ]
        if not present:
            return syms
        l, r = merges[min(present)]
        out = [syms[0]]
        for x in syms[1:]:
            if x == r and out[-1] == l:
                out[-1] = out[-1] + x
            else:
                out.append(x)
        syms = out


@settings(**_SETTINGS)
@given(data=st.data())
def test_bpe_apply_matches_reference(spark, data):
    """bpe_segment_vocab == the independent Python reference on random
    words over the merge alphabet — cascaded merges, repeated letters,
    and rank-order selection included."""
    from poc_spark.operators.textstats import (
        DEFAULT_BPE_MERGES,
        bpe_segment_vocab,
    )

    alphabet = "theinganrdoqu"
    words = data.draw(
        st.lists(
            st.text(alphabet=alphabet, min_size=1, max_size=12),
            min_size=1,
            max_size=8,
            unique=True,
        )
    )
    vocab = spark.createDataFrame([(w,) for w in words], "word string")
    got = {r["word"]: r["s"] for r in bpe_segment_vocab(vocab).collect()}
    exp = {w: " ".join(_ref_bpe_apply(w, list(DEFAULT_BPE_MERGES))) for w in words}
    assert got == exp


@settings(**_SETTINGS)
@given(data=st.data())
def test_bpe_learn_matches_reference(spark, data):
    """bpe_learn_local == the independent Python reference learner on
    random weighted vocabularies (weighted counts, total-order
    tie-break) — the tiny 'abct' alphabet keeps counts tied."""
    from poc_spark.operators.textstats import bpe_learn_local
    from tests.reference_oracle import bpe_merge_table

    alphabet = "abct"
    wc = data.draw(
        st.dictionaries(
            st.text(alphabet=alphabet, min_size=1, max_size=6),
            st.integers(min_value=1, max_value=5),
            min_size=1,
            max_size=6,
        )
    )
    k = data.draw(st.integers(min_value=1, max_value=5))

    text = " ".join(w for w, c in wc.items() for _ in range(c))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [
        tuple(r)
        for r in bpe_learn_local(df, num_merges=k).orderBy("rank").collect()
    ]
    assert got == bpe_merge_table(wc, k)


def _ref_bpe_dominance(wc, k, max_batch=256):
    """Independent Python reference for dominance-batched BPE."""
    segs = {w: list(w) for w in wc}
    merges = []
    while len(merges) < k:
        counts = {}
        for w, syms in segs.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + wc[w]
        if not counts:
            break
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        minrank = {}
        for i, ((l, r), _) in enumerate(ranked):
            for sym in (l, r):
                minrank.setdefault(sym, i)
        accept = [
            (l, r, c)
            for i, ((l, r), c) in enumerate(ranked)
            if minrank[l] == i and minrank[r] == i
        ][: min(max_batch, k - len(merges))]
        if not accept:
            break
        mks = {le + " " + ri: le + ri for le, ri, _ in accept}
        for w, syms in segs.items():
            out = [syms[0]]
            for x in syms[1:]:
                key = out[-1] + " " + x
                if key in mks:
                    out[-1] = mks[key]
                else:
                    out.append(x)
            segs[w] = out
        for le, ri, c in accept:
            merges.append((len(merges) + 1, le, ri, c))
    return merges


@settings(**_SETTINGS)
@given(data=st.data())
def test_bpe_learn_greedy_matches_reference(spark, data):
    """bpe_learn_greedy == the independent Python dominance reference on
    random weighted vocabularies — the tiny alphabet forces constant
    symbol sharing, so the dominance selection (not just the fold) is
    what's under test."""
    from poc_spark.operators.textstats import bpe_learn_greedy

    alphabet = "abct"
    wc = data.draw(
        st.dictionaries(
            st.text(alphabet=alphabet, min_size=1, max_size=6),
            st.integers(min_value=1, max_value=5),
            min_size=1,
            max_size=6,
        )
    )
    k = data.draw(st.integers(min_value=1, max_value=5))
    mb = data.draw(st.sampled_from([1, 2, 256]))

    text = " ".join(w for w, c in wc.items() for _ in range(c))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [
        (r["rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_learn_greedy(df, num_merges=k, max_batch=mb)
        .orderBy("rank")
        .collect()
    ]
    assert got == _ref_bpe_dominance(wc, k, mb)
