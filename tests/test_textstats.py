"""Text-analysis operator tests: token counts, quality stats, language
ID, fingerprints, winnowing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from poc_spark.operators.textstats import (
    bpe_ish_token_count,
    doc_stats,
    fingerprints,
    lang_id,
    token_count,
    winnowing_fingerprints,
)
from tests.reference_oracle import bpe_merge_table

DOCS = [
    (0, "the quick brown fox is in the barn and it is warm"),
    (1, "der hund ist nicht mit der katze und das ist gut"),
    (2, "le chat et le chien est dans les maisons des gens"),
    (3, "el perro es un animal que vive en los campos de la tierra"),
    (4, "的 是 了 在 我 有 和 不"),
    (5, "x"),                       # degenerate: 1 token, no stopwords
    (6, "Hello, world! It's 2024: costs $3.50 (roughly)."),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_token_count(spark, docs):
    got = {r["doc_id"]: r["n"] for r in
           docs.select("doc_id", token_count(F.col("text")).alias("n")).collect()}
    assert got[0] == 12 and got[5] == 1


def test_bpe_ish_token_count_splits_punct_and_digits(spark, docs):
    got = {r["doc_id"]: r["n"] for r in
           docs.select("doc_id", bpe_ish_token_count(F.col("text")).alias("n")).collect()}
    # "Hello, world! It's 2024: costs $3.50 (roughly)." ->
    # Hello , world ! It ' s 2024 : costs $ 3 . 50 ( roughly ) . = 18
    assert got[6] == 18
    assert got[5] == 1


def test_doc_stats(spark, docs):
    row = {r["doc_id"]: r for r in doc_stats(docs).collect()}
    assert row[0]["n_tokens"] == 12
    assert row[0]["stopword_ratio"] > 0.2          # the/is/in/it/and present
    assert row[5]["quality_score"] < row[0]["quality_score"]
    assert row[6]["punct_ratio"] > 0.1
    for r in row.values():
        assert 0.0 <= r["quality_score"] <= 1.0


def test_lang_id(spark, docs):
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    assert got[0] == "en" and got[1] == "de" and got[2] == "fr"
    assert got[3] == "es" and got[4] == "zh"
    assert got[5] == "de"  # zero hits everywhere -> alphabetical first


def test_fingerprints_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, " hello world "), (2, "other")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in fingerprints(df).collect()}
    assert fps[0] == fps[1] != fps[2]


def test_winnowing_overlap_detection(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (0, f"intro words here {shared} closing remarks"),
            (1, f"totally different opening {shared} and another ending"),
            (2, "no overlap at all with anything else whatsoever in here"),
        ],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: set(r["fps"]) for r in winnowing_fingerprints(df).collect()}
    assert fps[0] & fps[1]                  # shared passage -> shared fingerprints
    assert not (fps[0] & fps[2])
    assert all(len(v) > 0 for v in fps.values())


def test_on_documents_table(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = doc_stats(docs)
    assert stats.count() == docs.count()
    n_chars = {r["doc_id"]: r["n_chars"] for r in stats.collect()}
    truth = {r["doc_id"]: r["n_chars"] for r in docs.select("doc_id", "n_chars").collect()}
    assert n_chars == truth  # driver's n_chars column is length(text)


def test_chunk_documents(spark):
    import pytest as _pytest

    from poc_spark.operators.textstats import chunk_documents

    toks = " ".join(f"t{i}" for i in range(25))
    df = spark.createDataFrame([(0, toks), (1, "short doc"), (2, "")],
                               "doc_id long, text string")
    chunks = chunk_documents(df, chunk_tokens=10, overlap=4)  # stride 6
    got = {(r["doc_id"], r["chunk_id"]): (r["n_chunk_tokens"], r["chunk_text"])
           for r in chunks.collect()}
    # doc 0: starts 0,6,12,18,24 -> 5 chunks; overlap visible
    assert [k[1] for k in sorted(got) if k[0] == 0] == [0, 1, 2, 3, 4]
    assert got[(0, 0)][1].split()[:2] == ["t0", "t1"]
    assert got[(0, 1)][1].split()[0] == "t6"          # stride 6
    assert got[(0, 4)][0] == 1                         # final partial kept
    assert got[(1, 0)] == (2, "short doc")
    assert got[(2, 0)] == (0, "")                      # empty doc: one empty chunk
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=10, overlap=10)


def test_tf_idf_ground_truth(spark):
    import math

    from poc_spark.operators.textstats import tf_idf

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "d")], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["tfidf"])
        for r in tf_idf(docs).collect()
    }
    ln = lambda x: round(x, 6)
    assert got[(1, "a")] == (2, 2, ln(2 * math.log(3 / 2)))
    assert got[(1, "b")] == (1, 1, ln(1 * math.log(3 / 1)))
    assert got[(2, "a")] == (1, 2, ln(1 * math.log(3 / 2)))
    assert got[(2, "c")] == (1, 1, ln(math.log(3)))
    assert got[(3, "d")] == (1, 1, ln(math.log(3)))
    assert len(got) == 5


def test_corpus_ngram_counts(spark):
    from poc_spark.operators.textstats import corpus_ngram_counts

    docs = spark.createDataFrame(
        [(1, "x y x y"), (2, "x y"), (3, "solo"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["gram"]: r["freq"] for r in corpus_ngram_counts(docs, n=2).collect()}
    # doc 3 (1 token) and doc 4 (0 tokens) contribute nothing
    assert got == {"x y": 3, "y x": 1}
    top1 = corpus_ngram_counts(docs, n=2, top_k=1).collect()
    assert [(r["gram"], r["freq"]) for r in top1] == [("x y", 3)]


def test_char_entropy(spark):
    import math

    from poc_spark.operators.textstats import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaa"),          # one symbol -> entropy 0
            (2, "abab"),          # two equiprobable -> ln 2
            (3, "abcd"),          # four equiprobable -> ln 4
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in char_entropy(df).collect()}
    assert got[1]["entropy"] == 0.0
    assert abs(got[2]["entropy"] - math.log(2)) < 1e-6
    assert abs(got[3]["entropy"] - math.log(4)) < 1e-6
    assert got[3]["n_chars"] == 4


def test_unigram_logprob_tiny_corpus(spark):
    import math

    from poc_spark.operators.textstats import unigram_logprob

    # corpus: "a a b" + "b c" -> counts a=2 b=2 c=1, T=5
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    out = {r["id"]: r for r in unigram_logprob(df).collect()}
    t = 5.0
    want1 = (2 * math.log(2 / t) + 1 * math.log(2 / t)) / 3
    want2 = (math.log(2 / t) + math.log(1 / t)) / 2
    assert out[1]["n_toks"] == 3 and out[2]["n_toks"] == 2
    assert abs(out[1]["avg_logprob"] - round(want1, 6)) < 1e-9
    assert abs(out[2]["avg_logprob"] - round(want2, 6)) < 1e-9


def test_unigram_logprob_empty_doc_dropped(spark):
    from poc_spark.operators.textstats import unigram_logprob

    df = spark.createDataFrame(
        [(1, "x y"), (2, "   ")], "doc_id long, text string"
    )
    assert [r["id"] for r in unigram_logprob(df).collect()] == [1]


def test_hashed_features_merge_and_total(spark):
    from poc_spark.operators.textstats import hashed_features

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b")], "doc_id long, text string"
    )
    rows = hashed_features(df, n_features=1024).collect()
    # total tf mass is conserved through hashing (collisions merge tf)
    assert sum(r["tf"] for r in rows if r["id"] == 1) == 4
    assert sum(r["tf"] for r in rows if r["id"] == 2) == 2
    assert all(0 <= r["feature"] < 1024 for r in rows)
    # same token -> same feature across docs
    feats = {r["id"]: {r2["feature"] for r2 in rows if r2["id"] == r["id"]}
             for r in rows}
    b_feat = [r["feature"] for r in rows if r["id"] == 2]
    assert len(b_feat) == 1 and b_feat[0] in feats[1]


def test_hashed_features_single_feature_collision_regime(spark):
    from poc_spark.operators.textstats import hashed_features

    df = spark.createDataFrame(
        [(1, "p q r s t u v w")], "doc_id long, text string"
    )
    rows = hashed_features(df, n_features=1).collect()
    assert len(rows) == 1 and rows[0]["feature"] == 0 and rows[0]["tf"] == 8


def test_hashed_linear_score_matches_manual(spark):
    import hashlib

    from poc_spark.operators.textstats import hashed_linear_score

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "gamma")], "doc_id long, text string"
    )

    def feat(tok):
        return int(hashlib.md5((tok + ":feat").encode()).hexdigest()[:15], 16) % 1024

    def w(f):
        return ((f * 2654435761) % 1048576) / 1048576.0 - 0.5

    out = {r["id"]: r for r in hashed_linear_score(df).collect()}
    d1 = {}
    for tok in ("alpha", "beta", "alpha"):
        d1[feat(tok)] = d1.get(feat(tok), 0) + 1
    want1 = sum(tf * w(f) for f, tf in sorted(d1.items())) / 3
    assert out[1]["n_toks"] == 3
    assert abs(out[1]["score"] - round(want1, 6)) < 1e-9
    assert out[2]["n_toks"] == 1
    assert abs(out[2]["score"] - round(w(feat("gamma")), 6)) < 1e-9


def test_perplexity_buckets_terciles(spark, sf_dir):
    """Equal-count terciles (±1), head strictly more likely than tail,
    deterministic (total order under the ntile)."""
    from poc_spark.operators.textstats import perplexity_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = perplexity_buckets(docs).collect()
    n_scored = len(out)
    sizes = {}
    means = {}
    for r in out:
        sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
        means.setdefault(r["bucket"], []).append(r["avg_logprob"])
    assert set(sizes) == {"head", "middle", "tail"}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert sum(sizes.values()) == n_scored
    head = sum(means["head"]) / sizes["head"]
    tail = sum(means["tail"]) / sizes["tail"]
    assert head > tail  # higher avg logprob = lower perplexity = head
    again = perplexity_buckets(docs).collect()
    assert sorted((r["id"], r["bucket"]) for r in out) == sorted(
        (r["id"], r["bucket"]) for r in again
    )


def test_bpe_segment_vocab_hand_computed(spark):
    """Pin exact GPT-2-style apply semantics against hand-derived
    tokenizations under DEFAULT_BPE_MERGES (rank order matters: e.g. in
    'question' the rank-8 'o n' merges before the rank-23 'q u', and
    'qu e' never merges because 'qu es' isn't a rule)."""
    from poc_spark.operators.textstats import bpe_segment_vocab

    expected = {
        "the": "the",          # t+h -> th, th+e -> the (cascade)
        "thing": "th ing",     # t+h, i+n, in+g
        "standing": "st and ing",
        "question": "qu es t i on",
        "banana": "b an an a",  # left-to-right non-overlapping a+n
        "thethe": "the the",
        "a": "a",               # single char: no pairs
        "xyz": "x y z",         # nothing mergeable
    }
    vocab = spark.createDataFrame([(w,) for w in expected], "word string")
    got = {r["word"]: r["s"] for r in bpe_segment_vocab(vocab).collect()}
    assert got == expected


def test_bpe_segment_vocab_nonconvergence_raises(spark):
    """A word still holding mergeable pairs after max_iterations must
    raise, not silently return a partial segmentation the recursive-CTE
    oracle (which always converges) would contradict (r6 ADVICE)."""
    import pytest

    from poc_spark.operators.textstats import bpe_segment_vocab

    # 'aaaaaaaa' under the single rule (a,a) needs 3 rounds of
    # left-to-right pair merging: 8a -> 4(aa) -> 2(aaaa) -> aaaaaaaa.
    vocab = spark.createDataFrame([("aaaaaaaa",)], "word string")
    merges = (("a", "a"), ("aa", "aa"), ("aaaa", "aaaa"))
    ok = {r["word"]: r["s"]
          for r in bpe_segment_vocab(vocab, merges, max_iterations=3).collect()}
    assert ok == {"aaaaaaaa": "aaaaaaaa"}
    with pytest.raises(RuntimeError, match="still have mergeable"):
        bpe_segment_vocab(vocab, merges, max_iterations=2)


def test_bpe_apply_doc_roundtrip(spark):
    """bpe_text preserves word order and n_bpe_tokens counts it; words
    repeat through the vocabulary broadcast without re-segmentation."""
    from poc_spark.operators.textstats import bpe_apply

    df = spark.createDataFrame(
        [(1, "the thing standing"), (2, "question the question")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bpe_apply(df).collect()}
    assert got[1]["bpe_text"] == "the th ing st and ing"
    assert got[1]["n_words"] == 3 and got[1]["n_bpe_tokens"] == 6
    assert got[2]["bpe_text"] == "qu es t i on the qu es t i on"
    assert got[2]["n_words"] == 3 and got[2]["n_bpe_tokens"] == 11


def test_bigram_logprob_hand_computed(spark):
    """Exact-value pin against an independent Python reference of the
    interpolated bigram model (λ=0.75), including the <2-token
    exclusion and repeated-bigram term frequencies."""
    import math

    docs = [
        (1, "a b a b"),      # bigrams: a b (x2), b a
        (2, "a b c"),        # a b, b c
        (3, "x"),            # no bigrams -> excluded
    ]
    # corpus model over docs 1,2 (doc 3 has no bigrams but also no
    # tokens in the >=2-token corpus)
    toks = {1: ["a", "b", "a", "b"], 2: ["a", "b", "c"]}
    allb = [f"{t[i]} {t[i+1]}" for t in toks.values() for i in range(len(t) - 1)]
    ba = {b: allb.count(b) for b in set(allb)}
    cl = {}
    for b, c in ba.items():
        cl[b.split()[0]] = cl.get(b.split()[0], 0) + c
    unis = [w for t in toks.values() for w in t]
    cf = {w: unis.count(w) for w in set(unis)}
    T = float(len(unis))

    def ref(doc_toks):
        bgs = [f"{doc_toks[i]} {doc_toks[i+1]}" for i in range(len(doc_toks) - 1)]
        tf = {b: bgs.count(b) for b in set(bgs)}
        total = 0.0
        for b in sorted(tf):       # bigram-ordered fold
            w1, w2 = b.split()
            total += tf[b] * math.log(
                0.75 * (ba[b] / cl[w1]) + 0.25 * (cf[w2] / T)
            )
        return len(bgs), round(total / len(bgs), 6)

    from poc_spark.operators.textstats import bigram_logprob

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in bigram_logprob(df).collect()
    }
    assert set(got) == {1, 2}
    assert got[1] == ref(toks[1])
    assert got[2] == ref(toks[2])


def test_bpe_learn_hand_computed(spark):
    """Pin the learner against the independent Python reference: weighted
    pair counts, (count DESC, pair ASC) tie-break, cascaded merges."""
    from poc_spark.operators.textstats import bpe_learn_local

    word_counts = {"the": 5, "then": 2, "than": 3, "banana": 2,
                   "and": 4, "stand": 1, "a": 7, "x": 1}
    # corpus reproducing the word frequencies exactly
    text = " ".join(w for w, c in word_counts.items() for _ in range(c))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [
        tuple(r)
        for r in bpe_learn_local(df, num_merges=6).orderBy("rank").collect()
    ]
    assert got == bpe_merge_table(word_counts, 6)


def test_bpe_learn_then_apply_roundtrip(spark):
    """Merges learned from a corpus, applied back to it via
    bpe_segment_vocab, reduce every frequent word to fewer symbols than
    its character split — the learn and apply halves compose."""
    from poc_spark.operators.textstats import bpe_learn_local, bpe_segment_vocab

    df = spark.createDataFrame(
        [(1, "the the the thing then there"), (2, "the thin thing")],
        "doc_id long, text string",
    )
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_learn_local(df, num_merges=4).orderBy("rank").collect()
    ]
    assert len(merges) == 4
    vocab = spark.createDataFrame([("the",), ("thing",)], "word string")
    seg = {r["word"]: r["s"] for r in
           bpe_segment_vocab(vocab, tuple(merges)).collect()}
    # 'th' ('t h' weighted 6+) must be the first merge; 'the' collapses
    assert merges[0] == ("t", "h")
    assert len(seg["the"].split(" ")) < 3
    assert len(seg["thing"].split(" ")) < 5


def test_bpe_greedy_incremental_equals_recount(spark, sf_dir):
    """r8 VERDICT #3: the incremental pair-count path (delta
    maintenance, affected-word refold) must learn a BIT-IDENTICAL
    merge table to the recount-per-round path — on the real corpus and
    on the adversarial structures (ties, live-concat chains, shared
    symbols, self-overlap) where a wrong delta would first diverge."""
    from poc_spark.operators.textstats import bpe_learn_greedy

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rec = [
        tuple(r)
        for r in bpe_learn_greedy(
            docs, num_merges=30, incremental=False
        ).collect()
    ]
    inc = [
        tuple(r)
        for r in bpe_learn_greedy(
            docs, num_merges=30, incremental=True
        ).collect()
    ]
    assert inc == rec and len(rec) == 30

    corpora = [
        "ab cd ef gh ab cd ef gh",
        "ab ab ab zab zab azb azb aabb aabb aabb",
        "abc abc abc bc bc ab ab a b c",
        "aaaa aaaa aa aa a",
    ]
    for text in corpora:
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        for k in (3, 7):
            rec = [
                tuple(r)
                for r in bpe_learn_greedy(
                    df, num_merges=k, incremental=False
                ).collect()
            ]
            inc = [
                tuple(r)
                for r in bpe_learn_greedy(
                    df, num_merges=k, incremental=True
                ).collect()
            ]
            assert inc == rec, (text, k)


def test_bpe_greedy_auto_dispatch_reads_conf(spark):
    """incremental='auto' flips on the conf threshold — the forced
    sweeps pin the scale fork by lowering it to 1."""
    from poc_spark.operators.textstats import bpe_learn_greedy

    df = spark.createDataFrame(
        [(1, "abc abc ab bc")], "doc_id long, text string"
    )
    spark.conf.set("spark.poc.bpe.incrementalMinVocab", "1")
    try:
        forced = [
            tuple(r) for r in bpe_learn_greedy(df, num_merges=4).collect()
        ]
    finally:
        spark.conf.unset("spark.poc.bpe.incrementalMinVocab")
    default = [
        tuple(r) for r in bpe_learn_greedy(df, num_merges=4).collect()
    ]
    assert forced == default


def test_bpe_learn_local_matches_reference(spark, sf_dir):
    """The exact learner (distributed word count + in-memory
    incremental-heap merge loop) must learn the independent Python
    reference's table, pair counts included, on the corpus and on
    adversarial tie/overlap structures — including a tie that the
    space-joined pair string and tuple order break differently (a
    control character below the space sorts first in the string)."""
    import re
    from collections import Counter

    from poc_spark.operators.textstats import bpe_learn_local

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the engine's tokenizer: lower(), split on Java's ASCII \s+
    word_counts = Counter(
        w
        for r in docs.select("text").collect()
        if r["text"] is not None
        for w in re.split(r"[ \t\n\x0b\f\r]+", r["text"].lower())
        if w
    )
    loc = [tuple(r) for r in bpe_learn_local(docs, num_merges=30).collect()]
    assert loc == bpe_merge_table(word_counts, 30) and len(loc) == 30

    corpora = [
        "ab cd ef gh ab cd ef gh",
        "ab ab ab zab zab azb azb aabb aabb aabb",
        "abc abc abc bc bc ab ab a b c",
        "aaaa aaaa aa aa a",
        # string-key tie-break: ("a", "z") sorts before ("a\x01", "b")
        # as tuples, but "a\x01 b" sorts before "a z" as strings
        "a\x01 a\x01 a\x01 a\x01b a\x01b a\x01b az az az",
    ]
    for text in corpora:
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        word_counts = Counter(text.split(" "))
        for k in (3, 7, 12):
            loc = [
                tuple(r)
                for r in bpe_learn_local(df, num_merges=k).collect()
            ]
            assert loc == bpe_merge_table(word_counts, k), (text, k)


def test_bpe_learn_local_vocab_budget_guard(spark):
    from poc_spark.operators.textstats import bpe_learn_local

    df = spark.createDataFrame(
        [(1, "one two three")], "doc_id long, text string"
    )
    import pytest as pt

    with pt.raises(ValueError, match="max_local_vocab"):
        bpe_learn_local(df, num_merges=2, max_local_vocab=2)


def test_langid_ngram_learns_subword_signal(spark):
    """Trained hashed char-trigram langid (r10 VERDICT #8): on a corpus
    whose only signal is a per-language SUFFIX on shared noise words,
    the trained model must classify the held-out docs perfectly while
    the stopword heuristic is stuck at its all-zero-hits default; the
    model relation stays bounded by langs x n_features."""
    from pyspark.sql import functions as F

    from poc_spark.operators.textstats import (
        LANGID_NGRAM_FEATURES,
        lang_id,
        langid_ngram_score,
        langid_ngram_train,
    )

    suffix = {"de": "ung", "en": "ing", "es": "ción", "fr": "eau", "zh": "的"}
    noise = ["spark", "join", "tabl", "row", "batch", "wind", "grp", "ord"]
    rows, did = [], 0
    for lang, suf in sorted(suffix.items()):
        for i in range(40):
            words = [noise[(i + j) % len(noise)] + suf for j in range(12)]
            rows.append((did, lang, " ".join(words)))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    train = docs.filter("doc_id % 4 < 3")
    test = docs.filter("doc_id % 4 = 3")

    model = langid_ngram_train(train)
    assert model.count() <= 5 * LANGID_NGRAM_FEATURES
    preds = langid_ngram_score(test, model).withColumnRenamed("id", "doc_id")
    joined = test.select("doc_id", "lang").join(preds, "doc_id")
    n = test.count()
    assert joined.count() == n  # every held-out doc scored
    assert joined.filter(F.col("lang") == F.col("pred_lang")).count() == n

    # the stopword heuristic can't see subword signal: zero hits
    sw = lang_id(test)
    assert sw.filter(F.col("hits") > 0).count() == 0

    # determinism: retrain+rescore is bit-identical
    again = langid_ngram_score(test, langid_ngram_train(train)).withColumnRenamed("id", "doc_id")
    assert sorted(map(tuple, preds.collect())) == sorted(map(tuple, again.collect()))


def test_pack_documents_greedy_hand_and_chunk_invariance(spark):
    from pyspark.sql import functions as F

    from poc_spark.operators.textstats import pack_documents_greedy

    # doc token counts: 3, 4, 2, 5, 1 -> cum_before 0,3,7,9,14
    # seq_len=5 -> seq ids 0,0,1,1,2
    rows = [
        (1, "a b c"),
        (2, "d e f g"),
        (3, "h i"),
        (4, "j k l m n"),
        (5, "o"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["seq_id"]: (r["n_docs"], r["n_tokens"], r["min_doc"], r["max_doc"])
        for r in pack_documents_greedy(docs, seq_len=5, n_chunks=2).collect()
    }
    assert got == {0: (2, 7, 1, 2), 1: (2, 7, 3, 4), 2: (1, 1, 5, 5)}
    # overflow contract: seq 0 carries 7 tokens (doc 2 crosses the
    # boundary and stays with the sequence it starts in)
    # chunking-independence: any contiguous chunk count gives the same
    # packing (the two-pass prefix sum is exact)
    for n_chunks in (1, 3, 8):
        again = {
            r["seq_id"]: (r["n_docs"], r["n_tokens"])
            for r in pack_documents_greedy(
                docs, seq_len=5, n_chunks=n_chunks
            ).collect()
        }
        assert again == {k: v[:2] for k, v in got.items()}

