"""Dedup operator tests: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine — planted duplicates with known ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from poc_spark.operators.dedup import (
    embedding_near_pairs,
    exact_duplicates,
    jaccard_prefix_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun near the old barn door waiting for dinner time"
)
DOCS = [
    (0, BASE),
    (1, BASE),                                    # exact dup of 0
    (2, "  THE quick   brown fox jumps over the lazy dog while the cat sleeps "
        "in the warm sun near the old barn door waiting for dinner time "),  # normalized dup
    (3, BASE.replace("dinner", "supper")),        # near dup (1 token changed)
    (4, "completely different text about spark dataframes and shuffles "
        "partitions executors and catalyst optimizer plans running fast"),
    (5, "yet another unrelated document mentioning parquet files arrow "
        "batches columnar storage compression encodings and page indexes"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    groups = exact_duplicates(docs).collect()
    by_keep = {r["keep_id"]: r["n_copies"] for r in groups}
    assert by_keep[0] == 3          # 0, 1, 2 normalize to the same text
    assert by_keep[3] == 1
    assert len(groups) == 4


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs and 0.8 < pairs[(0, 3)] < 1.0
    assert (4, 5) not in pairs


@pytest.mark.parametrize("threshold", [0.95, 0.7, 0.5])
def test_prefix_filter_equals_all_pairs(spark, sf_dir, threshold):
    """Prefix-filtered Jaccard must produce the IDENTICAL pair set to the
    quadratic all-pairs oracle at every threshold — prefix filtering is
    exact (recall 1.0 by the overlap-prefix lemma), not approximate."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ap = {(r["id_a"], r["id_b"]): r["jaccard"]
          for r in ngram_jaccard_pairs(docs, threshold=threshold).collect()}
    pf = {(r["id_a"], r["id_b"]): r["jaccard"]
          for r in jaccard_prefix_pairs(docs, threshold=threshold).collect()}
    assert pf == ap and len(pf) > 0


def test_prefix_filter_plan_has_no_quadratic_join(spark, docs):
    """The scale property itself: the prefix-filtered plan joins on an
    equi-key (token), never a nested-loop/cartesian pair enumeration."""
    plan = jaccard_prefix_pairs(docs, threshold=0.9)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the all-pairs form IS the nested loop — the contrast pins the claim
    quad = ngram_jaccard_pairs(docs, threshold=0.9)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoopJoin" in quad or "CartesianProduct" in quad


def test_prefix_filter_edge_cases(spark):
    """Empty docs, single-token docs, docs shorter than the prefix."""
    rows = [
        (0, ""),                      # empty token set
        (1, "   "),                   # whitespace only
        (2, "solo"),                  # single token
        (3, "solo"),                  # identical single token
        (4, "alpha beta gamma"),
        (5, "alpha beta gamma"),
        (6, "alpha beta delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in jaccard_prefix_pairs(df, threshold=0.5).collect()}
    exp = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert got == exp
    assert (2, 3) in got and got[(2, 3)] == 1.0
    assert (4, 5) in got and (4, 6) in got


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(docs, threshold=0.5, num_hashes=64, bands=16).collect()}
    # 0-1 identical shingle sets; 0-2 differs only by case of one token
    # (shingling is case-sensitive by design — exact_duplicates casefolds)
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] >= 0.9
    # near dup 0-3: shingle jaccard high, verified value strictly < 1
    assert (0, 3) in pairs and 0.5 < pairs[(0, 3)] < 1.0
    # precision is exact: nothing with true jaccard < threshold leaks
    assert all(j >= 0.5 for j in pairs.values())
    assert (4, 5) not in pairs


def test_simhash_near_pairs_complete_vs_bruteforce(spark, docs):
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_pairs(docs, max_hamming=3, chunks=4).collect()}
    sigs = {r["id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    ids = sorted(sigs)
    brute = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
            if d <= 3:
                brute[(a, b)] = d
    assert got == brute            # pigeonhole banding is complete
    assert got[(0, 1)] == 0        # identical token sets
    assert got[(0, 2)] <= 3        # one token differs by case only


def test_simhash_rejects_bad_params(spark, docs):
    with pytest.raises(ValueError):
        simhash_near_pairs(docs, max_hamming=4, chunks=4)


def test_embedding_near_pairs(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near dup of 0
        (2, [0.0, 1.0, 0.0]),      # orthogonal
        (3, [-1.0, 0.0, 0.0]),     # opposite
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["cos"]
             for r in embedding_near_pairs(df, threshold=0.95).collect()}
    assert list(pairs) == [(0, 1)]
    assert pairs[(0, 1)] > 0.999


def test_minhash_lsh_on_documents_table(spark, sf_dir):
    """Scale-shape smoke on the real table: runs, verified-precision."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, threshold=0.7, num_hashes=64, bands=16)
    rows = pairs.limit(20).collect()
    assert all(r["jaccard"] >= 0.7 and r["id_a"] < r["id_b"] for r in rows)


def test_dedup_clusters_ground_truth(spark):
    from poc_spark.operators.dedup import dedup_clusters

    # pair graph: {1,2,3} chained, {7,9} direct, 5 appears only as id_b
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 5)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 4: 4, 5: 4}
    # dedup action: survivors are exactly the cluster minima
    survivors = {i for i, c in got.items() if i == c}
    assert survivors == {1, 7, 4}


def test_pipeline_training_prep_sanity(spark, sf_dir):
    from poc_spark.contract import REGISTRY

    out = REGISTRY["pipeline_training_prep"].spark(spark, sf_dir).cache()
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # quality gate + dedup only ever REMOVE documents
    assert out.select("doc_id").distinct().count() < raw.count()
    rows = out.collect()
    assert all(1 <= r["n_chunk_tokens"] <= 100 for r in rows)
    # chunk ids are dense from 0 per surviving doc
    from collections import defaultdict

    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r["doc_id"]].append(r["chunk_id"])
    assert all(sorted(v) == list(range(len(v))) for v in per_doc.values())


def test_duplicated_ngram_spans_ground_truth(spark):
    from poc_spark.operators.dedup import duplicated_ngram_spans

    shared = "one two three four five six seven eight nine ten eleven twelve thirteen"
    docs = spark.createDataFrame(
        [
            # docs 0 and 1 share their first 13 tokens, then diverge
            (0, shared + " apple banana cherry date elderberry fig grape"),
            (1, shared + " xylophone yak zebra walrus vulture toucan swan"),
            (2, "totally distinct words nothing here repeats across any "
                "other document in this tiny corpus of ours today ok"),
            (3, "short doc"),  # < 13 tokens → one gram of all tokens
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r
        for r in duplicated_ngram_spans(docs, n=13).collect()
    }
    # doc 0/1: 20 tokens → 8 grams each; only gram[0] (the shared prefix)
    # is cross-doc duplicated
    for i in (0, 1):
        assert got[i]["n_grams"] == 8
        assert got[i]["n_dup_grams"] == 1
        assert abs(got[i]["dup_frac"] - 1 / 8) < 1e-12
    assert got[2]["n_dup_grams"] == 0
    assert got[3]["n_grams"] == 1 and got[3]["n_dup_grams"] == 0


def test_semantic_bucket_pairs(spark):
    from poc_spark.operators.dedup import semantic_bucket_pairs
    from poc_spark.operators.similarity import random_hyperplanes

    import random

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(16)]
    near = [x + rng.gauss(0, 0.01) for x in base]  # cos ≈ 1 → same bucket
    far = [-x for x in base]                       # cos = -1 → opposite bucket
    other = [rng.gauss(0, 1) for _ in range(16)]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far), (3, other)],
        "vec_id long, embedding array<double>",
    )
    planes = random_hyperplanes(16, n_planes=4, seed=42)
    got = semantic_bucket_pairs(df, planes, threshold=0.9).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert pairs == {(0, 1)}  # the planted near-dup, nothing else
    # within-cluster subset property: every emitted pair really is >= t
    assert all(r["cos"] >= 0.9 for r in got)


@pytest.mark.parametrize("threshold", [0.7, 0.95])
def test_bitset_equals_all_pairs(spark, sf_dir, threshold):
    from poc_spark.operators.dedup import jaccard_bitset_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bit = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_bitset_pairs(docs, threshold=threshold).collect()
    }
    ap = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=threshold).collect()
    }
    assert bit == ap


def test_bitset_boundary_jaccard_equals_threshold(spark):
    """ADVICE r4: (1-t)*n under binary floats truncates to d_max-1 when
    (1-t)*n is mathematically an integer — t=0.8 over a 5-token vocab
    gave d_max=0 and silently dropped pairs with J == t exactly. The
    planted pair here is |A|=4 ⊂ |B|=5, J = 4/5 = 0.8."""
    from poc_spark.operators.dedup import jaccard_bitset_pairs

    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta epsilon"),
            (2, "epsilon delta"),
        ],
        "doc_id long, text string",
    )
    bit = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_bitset_pairs(df, threshold=0.8).collect()
    }
    assert bit == {(0, 1): 0.8}
    ap = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.8).collect()
    }
    assert bit == ap


def test_bitset_full_64_token_vocab(spark):
    """ADVICE r4: F.lit(1 << 63) overflows LongType — a corpus with
    exactly max_vocab=64 distinct tokens crashed instead of using the
    sign bit. Build 64 tokens; docs 0/1 share 60 of 61 (J > 0.98 — the
    61st doc-0 token is t63, exercising the sign bit), doc 2 disjoint."""
    from poc_spark.operators.dedup import jaccard_bitset_pairs

    toks = [f"t{i:02d}" for i in range(64)]
    shared = toks[:60]
    df = spark.createDataFrame(
        [
            (0, " ".join(shared + [toks[63]])),
            (1, " ".join(shared + [toks[60]])),
            (2, " ".join(toks[61:63])),
        ],
        "doc_id long, text string",
    )
    bit = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_bitset_pairs(df, threshold=0.9).collect()
    }
    ap = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.9).collect()
    }
    assert bit == ap and set(bit) == {(0, 1)}


def test_bitset_open_vocab_fallback(spark, docs):
    from poc_spark.operators.dedup import jaccard_bitset_pairs

    # the tiny fixture corpus has >64 distinct tokens? it doesn't —
    # force the fallback with max_vocab=4 and check parity still holds
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_bitset_pairs(docs, threshold=0.9, max_vocab=4).collect()
    }
    ap = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    assert got == ap


def test_blocked_gemm_equals_expression_join(spark, sf_dir):
    from poc_spark.operators.dedup import (
        embedding_near_pairs,
        embedding_near_pairs_blocked,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    expr = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_pairs(emb, threshold=0.4, dim=64).collect()
    }
    gemm = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_pairs_blocked(emb, threshold=0.4).collect()
    }
    assert expr == gemm  # same pairs AND bit-identical rounded cosines


def test_blocked_and_bitset_empty_inputs(spark):
    from poc_spark.operators.dedup import (
        embedding_near_pairs_blocked,
        jaccard_bitset_pairs,
    )
    from poc_spark.operators.similarity import knn_join_tiled

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert jaccard_bitset_pairs(empty_docs, threshold=0.9).count() == 0
    # all-empty texts: vocab probe finds nothing
    blank = spark.createDataFrame([(1, ""), (2, "  ")], "doc_id long, text string")
    assert jaccard_bitset_pairs(blank, threshold=0.9).count() == 0

    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_near_pairs_blocked(empty_vecs).count() == 0
    assert knn_join_tiled(empty_vecs).count() == 0


def test_dedup_incremental_finds_cross_split_pairs(spark):
    from poc_spark.operators.dedup import (
        dedup_incremental,
        minhash_band_index,
        minhash_lsh_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    docs = [
        (0, base + "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "completely different content about spark window functions"),
        (2, base + "alpha beta gamma delta epsilon zeta eta iota"),  # ~dup of 0
        (3, "another unrelated document mentioning parquet files only"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    corpus = df.filter("doc_id < 2")
    batch = df.filter("doc_id >= 2")
    index = minhash_band_index(corpus, num_hashes=64, bands=16)
    got = dedup_incremental(
        batch, index, corpus, threshold=0.7, num_hashes=64, bands=16
    ).collect()
    assert [(r["new_id"], r["old_id"]) for r in got] == [(2, 0)]
    assert got[0]["jaccard"] >= 0.7

    # cross-check: the incremental pair set equals the one-shot LSH
    # pair set restricted to cross-split pairs
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            df, threshold=0.7, num_hashes=64, bands=16
        ).collect()
    }
    cross = {(a, b) for a, b in full if (a < 2) != (b < 2)}
    assert {(r["old_id"], r["new_id"]) for r in got} == cross


def test_dedup_incremental_index_roundtrips_through_parquet(
    spark, tmp_path_repo
):
    from poc_spark.operators.dedup import dedup_incremental, minhash_band_index

    docs = [
        (0, "shared shingle text one two three four five six seven"),
        (1, "shared shingle text one two three four five six eight"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    corpus, batch = df.filter("doc_id = 0"), df.filter("doc_id = 1")
    path = str(tmp_path_repo / "lshidx")
    minhash_band_index(corpus, num_hashes=64, bands=16).write.parquet(path)
    live = dedup_incremental(
        batch,
        minhash_band_index(corpus, num_hashes=64, bands=16),
        corpus,
        threshold=0.5,
        num_hashes=64,
        bands=16,
    ).collect()
    stored = dedup_incremental(
        batch, spark.read.parquet(path), corpus,
        threshold=0.5, num_hashes=64, bands=16,
    ).collect()
    assert sorted(map(tuple, live)) == sorted(map(tuple, stored))
    assert len(stored) == 1  # an index written yesterday matches today's probes


@pytest.mark.parametrize("threshold", [0.8, 0.95])
def test_containment_three_forms_agree(spark, sf_dir, threshold):
    """bitset == prefix == all-pairs on the real documents table —
    the directed pair sets (and rounded scores) must be identical."""
    from poc_spark.operators.dedup import (
        containment_bitset_pairs,
        containment_pairs,
        containment_prefix_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(docs, threshold=threshold).collect()
    }
    bit = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_bitset_pairs(docs, threshold=threshold).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_prefix_pairs(docs, threshold=threshold).collect()
    }
    assert bit == want
    assert pref == want


def test_containment_boundary_and_asymmetry(spark):
    """C == t exactly must survive the ceil nudge; containment is
    DIRECTED: the short doc is contained in the long one, never the
    reverse; identical sets contain each other both ways."""
    from poc_spark.operators.dedup import (
        containment_bitset_pairs,
        containment_pairs,
        containment_prefix_pairs,
    )

    df = spark.createDataFrame(
        [
            # |A|=5, 4 shared with B: C(A,B) = 0.8 exactly at t=0.8
            (0, "a b c d e"),
            (1, "a b c d x y z w"),
            (2, "q r"),            # contained nowhere
            (3, "a b c d e"),      # duplicate of 0: C=1 both directions
        ],
        "doc_id long, text string",
    )
    want = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.8).collect()
    }
    assert want[(0, 1)] == 0.8
    assert (1, 0) not in want           # 4/8 = 0.5: direction matters
    assert want[(0, 3)] == 1.0 and want[(3, 0)] == 1.0
    for fn in (containment_bitset_pairs, containment_prefix_pairs):
        got = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in fn(df, threshold=0.8).collect()
        }
        assert got == want, fn.__name__


def test_containment_open_vocab_fallback(spark):
    """>64 distinct tokens flips the bitset probe to the prefix path;
    output must still match the all-pairs form."""
    from poc_spark.operators.dedup import (
        containment_bitset_pairs,
        containment_pairs,
    )

    rows = [(i, f"tok{i} tok{i+1} tok{i+2} shared") for i in range(70)]
    rows.append((100, "tok5 tok6 tok7 shared"))  # == doc 5's set
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, threshold=0.9).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_bitset_pairs(df, threshold=0.9).collect()
    }
    assert got == want
    assert (5, 100) in want and (100, 5) in want


def test_containment_prefix_plan_has_no_quadratic_join(spark, docs):
    """Scale property of the asymmetric prefix path: candidates come
    from a token equi-join (contained-side prefix × container-side full
    index), never a nested-loop pair enumeration."""
    from poc_spark.operators.dedup import containment_prefix_pairs

    plan = (
        containment_prefix_pairs(docs, threshold=0.9)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_keep_best_survivors_ground_truth(spark):
    """Survivor = highest score, tie broken by lowest id; n_members
    counts the whole cluster; singleton labels absent from the pair
    graph never appear (cluster table covers paired docs only)."""
    from poc_spark.operators.dedup import keep_best_survivors

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], "id long, cluster long"
    )
    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (7, 50), (8, 50), (9, 999)],
        "doc_id long, n_chars long",
    )
    result = keep_best_survivors(clusters, docs)
    out = {
        r["cluster"]: (r["keep_id"], r["keep_score"], r["n_members"])
        for r in result.collect()
    }
    assert out == {1: (2, 300, 3), 7: (7, 50, 2)}  # 2 beats 3 on id tie
    # the scale property: the rank filter must two-phase via
    # InferWindowGroupLimit (a count window stacked between filter and
    # row_number silently defeats the rule — caught in r5 self-review)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


@pytest.mark.parametrize("threshold", [0.8, 0.95])
def test_containment_stats_equals_pairs_aggregate(spark, sf_dir, threshold):
    """The mask-level aggregate (no pair expansion) must equal
    pairs-then-groupBy exactly on the real corpus."""
    from poc_spark.operators.dedup import (
        containment_bitset_pairs,
        containment_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    via_pairs = {}
    for r in containment_bitset_pairs(docs, threshold=threshold).collect():
        n, best = via_pairs.get(r["id_a"], (0, 0.0))
        via_pairs[r["id_a"]] = (n + 1, max(best, r["containment"]))
    got = {
        r["doc_id"]: (r["n_containers"], r["best_containment"])
        for r in containment_stats(docs, threshold=threshold).collect()
    }
    assert got == via_pairs


def test_containment_stats_open_vocab_fallback(spark):
    """>64 tokens: stats falls back to prefix pairs + aggregate and
    still matches the quadratic form."""
    from poc_spark.operators.dedup import containment_pairs, containment_stats

    rows = [(i, f"tok{i} tok{i+1} tok{i+2} shared") for i in range(70)]
    rows.append((100, "tok5 tok6 tok7 shared"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {}
    for r in containment_pairs(df, threshold=0.9).collect():
        n, best = want.get(r["id_a"], (0, 0.0))
        want[r["id_a"]] = (n + 1, max(best, r["containment"]))
    got = {
        r["doc_id"]: (r["n_containers"], r["best_containment"])
        for r in containment_stats(df, threshold=0.9).collect()
    }
    assert got == want


def test_rounding_margin_boundary_pairs_survive_prefilters(spark):
    """r5 self-review: acceptance is round(score,6) >= t, which admits
    true scores down to t - 5e-7 — but the size/prefix/band prefilters
    used the RAW t and could prune a round-up boundary pair the oracle
    keeps. Constructible case: t = 0.666667 (6-decimal), score = 2/3 =
    0.6666666... rounds UP to 0.666667 and must survive every form."""
    from poc_spark.operators.dedup import (
        containment_bitset_pairs,
        containment_pairs,
        containment_prefix_pairs,
        jaccard_bitset_pairs,
        jaccard_prefix_pairs,
    )

    t = 0.666667
    df = spark.createDataFrame(
        [(0, "x y z"), (1, "x y")], "doc_id long, text string"
    )
    # Jaccard(0,1) = 2/3 -> round6 = 0.666667 >= t
    for fn in (ngram_jaccard_pairs, jaccard_prefix_pairs, jaccard_bitset_pairs):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in fn(df, threshold=t).collect()
        }
        assert got == {(0, 1): 0.666667}, fn.__name__
    # Containment(0 in 1) = 2/3 likewise (directed: the 3-token doc is
    # 2/3-contained in the 2-token doc)
    for fn in (
        containment_pairs,
        containment_prefix_pairs,
        containment_bitset_pairs,
    ):
        got = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in fn(df, threshold=t).collect()
        }
        assert got[(0, 1)] == 0.666667, fn.__name__
        assert got[(1, 0)] == 1.0, fn.__name__  # {x,y} fully inside {x,y,z}


def test_remove_duplicated_spans_hand_built(spark):
    """n=3 over a tiny corpus with one shared trigram: exactly the
    tokens covered by the duplicated gram's occurrences vanish, docs
    without duplicated grams round-trip (whitespace-normalized), and a
    short doc whose whole-doc gram repeats is scrubbed entirely."""
    from poc_spark.operators.dedup import remove_duplicated_spans

    df = spark.createDataFrame(
        [
            # 'b c d' duplicated across docs 1 and 2
            (1, "a b c d e"),
            (2, "b c d x y"),
            (3, "p q r s t"),     # clean
            (4, "u v"),           # short doc, whole-doc gram 'u v' unique
            (5, "u v"),           # duplicate of 4 -> both fully scrubbed
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in remove_duplicated_spans(df, n=3).collect()
    }
    # doc 1: gram 'b c d' at gpos 1 covers tpos 1..3 -> keeps 'a', 'e'
    assert got[1] == (5, 3, "a e")
    # doc 2: gram at gpos 0 covers 0..2 -> keeps 'x y'
    assert got[2] == (5, 3, "x y")
    assert got[3] == (5, 0, "p q r s t")
    assert got[4] == (2, 2, "")
    assert got[5] == (2, 2, "")


def test_remove_duplicated_spans_consistent_with_profile(spark, sf_dir):
    """Removal and profile agree on the corpus: docs with dup_frac == 0
    lose nothing; every doc with dup_frac > 0 loses at least one
    token; n_removed never exceeds n_tokens."""
    from poc_spark.operators.dedup import (
        duplicated_ngram_spans,
        remove_duplicated_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = {r["id"]: r["dup_frac"] for r in duplicated_ngram_spans(docs).collect()}
    rem = {r["id"]: r for r in remove_duplicated_spans(docs).collect()}
    assert set(prof) == set(rem)
    for i, frac in prof.items():
        r = rem[i]
        assert 0 <= r["n_removed"] <= r["n_tokens"]
        if frac == 0.0:
            assert r["n_removed"] == 0
        else:
            assert r["n_removed"] > 0


def test_containment_duplicate_heavy_bound(spark):
    """Duplicate-heavy domain (r5 VERDICT optional hardening): 1200
    docs over 4 distinct token sets -> identical-mask groups of 300.
    The PAIR form must emit exactly the semantically-required
    sum(G_m * (G_m - 1)) within-pairs plus the cross-mask expansion,
    and the STATS form must agree with pairs-then-aggregate while
    never materializing doc pairs (aggregate-before-expand)."""
    import pyspark.sql.functions as F

    from poc_spark.operators.dedup import (
        containment_bitset_pairs,
        containment_stats,
    )

    sets = ["a b c d", "a b", "a b c d e f", "x y z"]
    docs = [(i, sets[i % 4]) for i in range(1200)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = containment_bitset_pairs(df, threshold=0.95)

    # within-pairs: 4 groups of 300 -> 4 * 300 * 299; cross-pairs at
    # t=0.95: {a b} contained in {a b c d} and {a b c d e f} (1.0),
    # {a b c d} in {a b c d e f} (1.0) -> 3 directed mask pairs x
    # 300 x 300 member expansions
    expected = 4 * 300 * 299 + 3 * 300 * 300
    assert pairs.count() == expected

    # stats form agrees with pairs-then-aggregate...
    from_pairs = {
        r["id_a"]: (r["n"], r["best"])
        for r in pairs.groupBy("id_a")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("containment").alias("best"),
        )
        .collect()
    }
    stats = {
        r["doc_id"]: (r["n_containers"], r["best_containment"])
        for r in containment_stats(df, threshold=0.95).collect()
    }
    assert stats == from_pairs
    # ...and its plan has no row blowup: the widest intermediate is the
    # distinct-mask pair table (16 ordered mask pairs max), so the
    # explain must show the aggregate running over masks, not ids
    plan = containment_stats(df, threshold=0.95)._jdf.queryExecution().toString()
    assert "ma" in plan  # mask-level aggregation path, not the pair union


def test_span_ops_zero_token_docs(spark):
    """The windowed gram builder must preserve word_grams' zero-token
    convention: a whitespace-only doc yields one '' gram, so two such
    docs count as mutually duplicated in the profile and survive
    removal as empty strings (nothing to remove)."""
    from poc_spark.operators.dedup import (
        duplicated_ngram_spans,
        remove_duplicated_spans,
    )

    df = spark.createDataFrame(
        [(1, "   "), (2, ""), (3, "only real doc here with words")],
        "doc_id long, text string",
    )
    prof = {r["id"]: (r["n_grams"], r["n_dup_grams"])
            for r in duplicated_ngram_spans(df, n=3).collect()}
    assert prof[1] == (1, 1) and prof[2] == (1, 1)  # '' gram shared
    assert prof[3] == (4, 0)  # 6 tokens, n=3 -> 4 full grams
    rem = {r["id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
           for r in remove_duplicated_spans(df, n=3).collect()}
    assert rem[1] == (0, 0, "") and rem[2] == (0, 0, "")
    assert rem[3] == (6, 0, "only real doc here with words")


def test_shared_pairs_artifact_equals_live(spark, sf_dir):
    """The persisted pair artifact the composed entries read must be
    bit-equal to a live minhash_lsh_pairs run with the same parameters,
    and its path must encode those parameters (a knob change can never
    silently reuse a stale artifact)."""
    import shutil

    from poc_spark import contract
    from poc_spark.operators.dedup import minhash_lsh_pairs

    path = contract.lsh_pairs_path(sf_dir)
    assert "t07_h64_b16" in path  # parameters are part of the layout
    shutil.rmtree(path, ignore_errors=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    shared = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in contract._lsh_pairs_shared(spark, sf_dir).collect()
    }
    live = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            docs, threshold=0.7, num_hashes=64, bands=16
        ).collect()
    }
    assert shared == live and len(shared) > 0


def test_semdedup_prune_domination_rule(spark):
    """Hand-computed SemDeDup keep decisions on unit vectors at known
    angles: within a duplicate chain a-b-c (a~b and b~c above
    threshold, a~c below), the lowest-centroid-similarity member (a)
    survives and BOTH b and c drop — c is dominated by b even though
    b itself is dropped (pairwise domination, not greedy-on-kept).
    Vectors in a different cluster never interact."""
    import math

    from poc_spark.operators.dedup import semdedup_prune

    def u(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    # cluster 0 (angle < 45): priority = lowest cos-to-centroid first
    rows = [
        (1, u(40.0), 0),   # a: cos_c=cos40 — top priority
        (2, u(25.0), 0),   # b: cos(a,b)=cos15>tau -> dropped by a
        (3, u(5.0), 0),    # c: cos(b,c)=cos20>tau -> dropped by b;
                           #    cos(a,c)=cos35<tau
        (4, u(80.0), 1),   # d: cluster 1
        (5, u(50.0), 1),   # e: cos(d,e)=cos30<tau -> both kept
    ]
    idx = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, centroid long"
    )
    tau = 0.93  # cos15=.966, cos20=.940 above; cos30=.866, cos35=.819 below
    kept = semdedup_prune(idx, cents, threshold=tau)
    got = {r["id"]: r["centroid"] for r in kept.collect()}
    assert got == {1: 0, 4: 1, 5: 1}
    # cos_c is the rounded similarity to the OWN centroid
    cos_c = {r["id"]: r["cos_c"] for r in kept.collect()}
    assert cos_c[1] == round(math.cos(math.radians(40.0)), 6)
    assert cos_c[4] == round(math.cos(math.radians(10.0)), 6)


def test_lsh_pairs_path_tracks_code_fingerprint(monkeypatch):
    """A change to the pair-generation code must move the artifact
    directory (never silently serve stale pairs): the path embeds an
    8-hex fingerprint of the generator source, and changing what the
    fingerprint sees changes the path."""
    from poc_spark import contract

    p1 = contract.lsh_pairs_path("/root/testdata/sf0.01")
    fp = contract._lsh_code_fingerprint()
    assert fp in p1 and len(fp) == 8
    monkeypatch.setattr(contract, "_lsh_code_fingerprint", lambda: "deadbeef")
    p2 = contract.lsh_pairs_path("/root/testdata/sf0.01")
    assert p2 != p1 and "deadbeef" in p2


def test_suffix_spans_maximal_merge_and_boundaries(spark):
    """duplicated_suffix_spans recovers PLANTED structure exactly: a
    shared 30-token passage is one maximal span of 30 at the right
    coverage; two separated shared passages are two spans; unique docs
    report zeros; short (<k) fully-duplicated docs cover themselves."""
    from poc_spark.operators.dedup import duplicated_suffix_spans

    shared1 = " ".join(f"s{i:02d}" for i in range(30))
    shared2 = " ".join(f"t{i:02d}" for i in range(20))
    ua = " ".join(f"ua{i:02d}" for i in range(10))
    ub = " ".join(f"ub{i:02d}" for i in range(10))
    uc = " ".join(f"uc{i:02d}" for i in range(40))
    ud = " ".join(f"ud{i:02d}" for i in range(10))
    ue = " ".join(f"ue{i:02d}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"{ua} {shared1}"),                # span at tail
            (2, f"{shared1} {ub}"),                # span at head
            (3, uc),                               # unique: zeros
            (4, f"{shared2} {ud} {shared1}"),      # two separated spans
            (5, f"{shared2} {ue}"),                # shares only passage 2
            (6, "tiny shared doc"),                # < k, duplicated whole
            (7, "tiny shared doc"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r.asDict()
        for r in duplicated_suffix_spans(docs, k=13).collect()
    }
    assert got[3]["n_spans"] == 0 and got[3]["covered_frac"] == 0.0
    for i in (1, 2):
        assert got[i]["n_spans"] == 1
        assert got[i]["max_span"] == 30
        assert got[i]["covered_tokens"] == 30
        assert got[i]["n_tokens"] == 40
        assert got[i]["covered_frac"] == 30 / 40
    # doc 4: shared2 (20) and shared1 (30) separated by unique filler
    assert got[4]["n_spans"] == 2
    assert got[4]["covered_tokens"] == 50
    assert got[4]["max_span"] == 30
    # doc 5 shares only the 20-token passage
    assert got[5]["n_spans"] == 1 and got[5]["max_span"] == 20
    # short duplicated docs: whole-doc window convention covers all
    for i in (6, 7):
        assert got[i]["covered_tokens"] == 3
        assert got[i]["covered_frac"] == 1.0


def test_suffix_spans_exact_content_no_hash_aliasing(spark):
    """The suffix form keys on window CONTENT: two docs with distinct
    30-token passages never co-flag (no collision channel exists),
    and an empty doc reports zeros without dividing by zero."""
    from poc_spark.operators.dedup import duplicated_suffix_spans

    a = " ".join(f"aa{i:02d}" for i in range(30))
    b = " ".join(f"bb{i:02d}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r.asDict()
        for r in duplicated_suffix_spans(docs, k=13).collect()
    }
    assert all(got[i]["n_spans"] == 0 for i in (1, 2, 3))
    assert got[3]["n_tokens"] == 0 and got[3]["covered_frac"] == 0.0


def test_span_keep_one_preserves_one_occurrence(spark):
    """Lee et al. removal semantics: of each duplicated passage's
    occurrences the corpus-order-first survives; scrub-all removes
    every copy. keep-one therefore removes strictly less, and the
    passage text remains findable exactly once."""
    from poc_spark.operators.dedup import (
        remove_duplicated_spans,
        remove_duplicated_spans_keep_one,
    )

    shared = " ".join(f"s{i:02d}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, f"alpha00 alpha01 {shared}"),
            (2, f"{shared} beta00 beta01"),
            (3, "gamma00 gamma01 gamma02"),
        ],
        "doc_id long, text string",
    )
    keep = {
        r["id"]: r.asDict()
        for r in remove_duplicated_spans_keep_one(docs, n=13).collect()
    }
    scrub = {
        r["id"]: r.asDict()
        for r in remove_duplicated_spans(docs, n=13).collect()
    }
    # canonical = doc 1 (min doc_id): its copy survives, doc 2's goes
    assert keep[1]["n_removed"] == 0
    assert shared in keep[1]["clean_text"]
    assert keep[2]["n_removed"] == 20
    assert shared not in keep[2]["clean_text"]
    assert keep[2]["clean_text"] == "beta00 beta01"
    # scrub-all removes BOTH copies
    assert scrub[1]["n_removed"] == 20 and scrub[2]["n_removed"] == 20
    # unique doc untouched by both
    assert keep[3]["n_removed"] == 0 and scrub[3]["n_removed"] == 0
    # global: keep-one removes strictly less than scrub-all here
    assert sum(r["n_removed"] for r in keep.values()) < sum(
        r["n_removed"] for r in scrub.values()
    )


def test_span_keep_one_within_doc_repeats(spark):
    """A gram duplicated across docs AND repeated within the canonical
    doc: only the FIRST in-doc occurrence is canonical — later in-doc
    repeats scrub too (min (doc_id, position) ordering)."""
    from poc_spark.operators.dedup import remove_duplicated_spans_keep_one

    shared = " ".join(f"w{i:02d}" for i in range(13))  # exactly one gram
    docs = spark.createDataFrame(
        [
            (1, f"{shared} mid00 {shared}"),
            (2, f"{shared} tail00"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r.asDict()
        for r in remove_duplicated_spans_keep_one(docs, n=13).collect()
    }
    # doc 1 keeps its first copy, loses the second; doc 2 loses its copy
    assert got[1]["n_removed"] == 13
    assert got[1]["clean_text"].startswith("w00")
    assert got[1]["clean_text"].count("w00") == 1
    assert got[2]["clean_text"] == "tail00"
