"""Text-analysis operators for training-data pipelines (north-star
extension): token counting, quality scoring, language ID, document
fingerprinting. All built-in expressions — ratios are single int/int
divisions in double (bit-identical across engines, safe to oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from poc_spark.plans.dispatch import use_chunked

# tiny per-language stopword lists for the n-gram/stopword-hit heuristic.
# Deliberately small and literal so the same lists embed in the SQL
# oracle; real pipelines would swap in fastText — the Spark plumbing
# (broadcast map + argmax) is what matters at scale.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "fr": ("le", "la", "et", "les", "des", "est", "un", "une"),
    "es": ("el", "la", "de", "que", "los", "es", "un", "una"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}
LANG_ORDER = tuple(sorted(LANG_STOPWORDS))  # deterministic tie-break


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: F.length(t) > 0)


def token_count(text: Column) -> Column:
    """Whitespace token count (long)."""
    return F.size(_tokens(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish count: split on whitespace AND punctuation AND
    letter/digit boundaries — a cheap, deterministic proxy for BPE token
    counts (regex only, no model)."""
    pieces = F.filter(
        F.split(
            F.regexp_replace(
                F.regexp_replace(text, r"([^\s\w])", r" $1 "),
                r"(?<=[a-zA-Z])(?=\d)|(?<=\d)(?=[a-zA-Z])",
                " ",
            ),
            r"\s+",
        ),
        lambda t: F.length(t) > 0,
    )
    return F.size(pieces).cast("long")


def doc_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features:
    (id, n_chars, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
    quality_score). quality_score is the mean of three [0,1] signals —
    length in range, low punctuation, healthy stopword share — the
    standard cheap pre-filter shape (cf. C4/Gopher rules)."""
    text = F.col(text_col)
    toks = _tokens(text)
    n_chars = F.length(text).cast("long")
    n_tokens = F.size(toks).cast("long")
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    en_stops = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), en_stops)).cast("long")
    punct_ratio = (n_punct / F.greatest(n_chars, F.lit(1))).cast("double")
    stop_ratio = (n_stop / F.greatest(n_tokens, F.lit(1))).cast("double")
    len_ok = F.when((n_tokens >= 10) & (n_tokens <= 100000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio <= 0.2, 1.0).otherwise(0.0)
    stop_ok = F.when(stop_ratio > 0, 1.0).otherwise(0.0)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(
            (F.length(F.concat_ws("", toks)) / F.greatest(n_tokens, F.lit(1))), 6
        ).cast("double").alias("avg_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        ((len_ok + punct_ok + stop_ok) / 3.0).cast("double").alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, pred_lang, hits) — stopword-hit language ID: count distinct
    stopword matches per language, argmax with deterministic alphabetical
    tie-break. The broadcast-literal stopword arrays keep this a single
    narrow projection (no join, no shuffle)."""
    toks = F.array_distinct(_tokens(F.col(text_col)))
    hit_cols = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]]))
        )
        for lang in LANG_ORDER
    }
    best_lang = F.lit(LANG_ORDER[0])
    best_hits = hit_cols[LANG_ORDER[0]]
    for lang in LANG_ORDER[1:]:
        cond = hit_cols[lang] > best_hits  # strict > keeps earlier lang on tie
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, hit_cols[lang]).otherwise(best_hits)
    return df.select(
        F.col(id_col),
        best_lang.alias("pred_lang"),
        best_hits.cast("long").alias("hits"),
    )


#: hashed feature space of the trained n-gram language classifier
LANGID_NGRAM_FEATURES = 4096


def _char_trigrams(text_col: str) -> Column:
    """Char-trigram array of the lowercased text (SQL-expression form
    so the identical extraction embeds in the DuckDB oracle). Empty
    array under 3 chars — the guard matters: Spark's sequence(1, n)
    COUNTS DOWN for n < 1 instead of returning empty."""
    return F.expr(
        f"CASE WHEN length(lower({text_col})) >= 3 THEN "
        f"transform(sequence(1, length(lower({text_col})) - 2), "
        f"i -> substr(lower({text_col}), i, 3)) "
        "ELSE array() END"
    )


def _gram_bucket(gram: Column, n_features: int) -> Column:
    """Hashing-trick bucket of one n-gram — md5-60 (the cross-engine
    hash) mod the feature-space size, salted by purpose."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(gram, F.lit(":lid"))), 1, 15), 16, 10
        ).cast("long"),
        F.lit(n_features),
    )


def langid_ngram_train(
    df: DataFrame,
    n_features: int = LANGID_NGRAM_FEATURES,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """TRAIN the hashed char-n-gram language classifier (the fastText
    langid shape, r10 VERDICT #8 — the honest upgrade over the
    stopword-hit heuristic): explode every labeled document into char
    trigrams, hash each into `n_features` buckets, and count per
    (lang, bucket). Returns the model as a RELATION —
    (lang, bucket, c, total) — at most n_langs × n_features rows, so
    it broadcasts at apply time no matter how big the corpus was.

    The gram explode is the only corpus-sized stage and it map-side
    combines into the (lang, bucket) hash agg — one shuffle of at most
    model-sized partials per task. Scoring uses empirical frequencies
    c/total directly (one exact integer fold + one final double
    division) instead of log-probabilities: bit-exact cross-engine,
    no libm, same argmax family (monotone per-class linear scorer)."""
    from pyspark.sql import Window

    grams = df.select(
        F.col(lang_col).alias("lang"),
        F.explode(_char_trigrams(text_col)).alias("g"),
    )
    model = grams.select(
        "lang", _gram_bucket(F.col("g"), n_features).alias("bucket")
    ).groupBy("lang", "bucket").agg(F.count(F.lit(1)).alias("c"))
    # per-lang totals as a window over the MODEL relation (≤ n_langs ×
    # n_features rows), not a second aggregate + join: the join form
    # planned the corpus-sized gram explode TWICE (once per agg leg —
    # Spark does not share common subtrees across join inputs), so the
    # most expensive stage of every train ran twice for a value that is
    # derivable from the first agg's output. Values are identical
    # (total = sum(c) per lang either way); the optimization guide's
    # §2.4 'remove shuffles outright' applied to a duplicated PASS.
    total = F.sum("c").over(Window.partitionBy("lang"))
    return model.select(
        "lang", "bucket", F.col("c").cast("long").alias("c"),
        total.cast("long").alias("total"),
    )


def langid_ngram_score(
    df: DataFrame,
    model: DataFrame,
    n_features: int = LANGID_NGRAM_FEATURES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY the trained n-gram classifier: hash each document's
    trigrams, broadcast-join the model, score each language as
    Σ tf·c / total (exact integer numerator, one double division,
    round 6 — bit-exact cross-engine), argmax with (score DESC,
    lang ASC) determinism. Returns (id, pred_lang, score). Documents
    whose grams hit no model bucket have no row (both engines agree).

    Scale: corpus-sized work is the gram explode + two hash aggs keyed
    by (id, ...); the model side is broadcast (≤ langs × n_features
    rows) — no corpus shuffle against the model, ever."""
    from pyspark.sql import Window

    docg = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(_char_trigrams(text_col)).alias("g"),
        )
        .select("id", _gram_bucket(F.col("g"), n_features).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        docg.join(F.broadcast(model), "bucket")
        .groupBy("id", "lang")
        .agg(
            F.sum(F.col("tf") * F.col("c")).cast("long").alias("num"),
            F.max("total").alias("total"),  # constant within the group
        )
        .select(
            "id",
            "lang",
            F.round(
                F.col("num").cast("double") / F.col("total").cast("double"),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", F.col("lang").alias("pred_lang"), "score")
    )


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, fp) — md5 of the whitespace-normalized, casefolded text: the
    canonical content fingerprint (identical in any engine with md5)."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return df.select(F.col(id_col), F.md5(norm).alias("fp"))


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 100,
    overlap: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, chunk_id, n_chunk_tokens, chunk_text) — overlapping
    fixed-token windows, the standard pre-tokenization shaping step for
    training pipelines. One narrow explode per document; no shuffle.
    Stride = chunk_tokens - overlap; the final partial window is kept
    (training pipelines pad, they don't drop)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = _tokens(F.col(text_col))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(step)
    )
    exploded = df.select(
        F.col(id_col), toks.alias("_toks"), F.explode(starts).alias("_start")
    )
    piece = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        (F.col("_start") / step).cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 5,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, fps: array<long>) — winnowing (Schleimer et al., SIGMOD'03):
    hash every k-gram of tokens, keep the min hash of each sliding
    window, dedupe. Robust partial-overlap fingerprints; pure array
    expressions, no UDF.

    hash_fn: 'xxhash64' (production default, pure JVM) or 'md5_60'
    (first 15 md5 hex chars as a 60-bit long — reproducible in DuckDB,
    used by the oracled contract entry)."""
    from poc_spark.operators.dedup import token_hash, word_grams

    toks = _tokens(F.col(text_col))
    n_grams = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    hash_expr = F.when(
        n_grams > 0,
        F.transform(
            word_grams(F.lower(F.col(text_col)), k),
            lambda g: token_hash(g, hash_fn),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # materialization barrier (the minhash shared-shingle-table lesson):
    # the shifted slices below reference the hash array `window` times,
    # and deterministic projections collapse — without the barrier the
    # tokenize→gram→hash chain runs `window`× per row. localCheckpoint,
    # not .cache(): cached plans stay registered in the CacheManager
    # forever, checkpointed blocks free themselves on GC. Lazy — an
    # eager pre-job pays a full extra materialization before the real
    # query starts (measured, see minhash_lsh_pairs).
    hashed = df.select(F.col(id_col), hash_expr.alias("h")).localCheckpoint(
        eager=False
    )
    hashes = F.col("h")
    n_windows = F.greatest(F.size(hashes) - (window - 1), F.lit(0))
    # sliding-window min via `window` shifted copies zipped element-wise
    # (the word_grams trick): O(window·n). A per-index
    # slice(hashes, i+1, window) lambda would re-inline and re-evaluate
    # the WHOLE hash array for every window — O(n²), measured 99 s over
    # sf0.1 documents vs ~4 s for this shape.
    shifted = [hashes.alias("w0")] + [
        F.slice(hashes, j + 1, 1 << 30).alias(f"w{j}") for j in range(1, window)
    ]
    z = F.slice(F.arrays_zip(*shifted), 1, F.greatest(n_windows, F.lit(1)))
    mins = F.when(
        n_windows > 0,
        F.transform(
            z, lambda e: F.least(*[e[f"w{j}"] for j in range(window)])
        ),
    ).otherwise(hashes)
    return hashed.select(
        F.col(id_col), F.array_sort(F.array_distinct(mins)).alias("fps")
    )


def tf_idf(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, term, tf, df, tfidf) — classic TF-IDF over lowercased
    whitespace tokens: tf = in-doc term count, df = docs containing the
    term, tfidf = tf · ln(N/df), rounded to 6dp for cross-engine hash
    stability.

    Scale shape: one explode + two hash aggregates (term table shuffles
    by term once for df); the corpus size N rides as a broadcast 1-row
    aggregate, never a driver-side count, so the whole plan stays lazy
    and distributed."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = df.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


def corpus_ngram_counts(
    df: DataFrame,
    n: int = 2,
    top_k: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(gram, freq) — corpus-wide word n-gram frequency table (the LM
    data-prep primitive). Only documents with >= n tokens contribute
    (no partial grams, unlike the shingling path where a short doc
    still needs a fingerprint). Top-k is a TakeOrderedAndProject with
    a deterministic gram tie-break."""
    from poc_spark.operators.dedup import word_grams

    toks = _tokens(F.col(text_col))
    grams = F.when(
        F.size(toks) >= n, word_grams(F.lower(F.col(text_col)), n)
    ).otherwise(F.array().cast("array<string>"))
    freq = (
        df.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if top_k:
        freq = freq.orderBy(F.desc("freq"), "gram").limit(top_k)
    return freq


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_chars, entropy) — Shannon entropy (nats, round-6) of the
    character distribution: the cheap gibberish/repetition signal
    (collapsed keyboards and repeated runs score near 0, natural text
    ~3). One explode + two aggregates; the -Σ p·ln(p) fold runs in
    CHARACTER order via the sorted-struct aggregate HOF, so every
    intermediate double is reproducible cross-engine (the same
    ordered-fold trick as the PageRank oracle; ln parity with DuckDB
    is already proven by text_tfidf)."""
    ch = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), "")).alias("c"),
    ).filter(F.length("c") > 0)
    lvl = ch.groupBy("id", "c").agg(F.count(F.lit(1)).alias("cnt"))
    per = lvl.groupBy("id").agg(
        F.sum("cnt").alias("n"),
        F.array_sort(F.collect_list(F.struct("c", "cnt"))).alias("arr"),
    )
    n = F.col("n")
    ent = -F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda acc, x: acc
        + (x["cnt"].cast("double") / n.cast("double"))
        * F.log(x["cnt"].cast("double") / n.cast("double")),
    )
    return per.select(
        F.col("id"),
        n.cast("long").alias("n_chars"),
        F.round(ent, 6).alias("entropy"),
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_toks, avg_logprob) — per-document mean unigram
    log-likelihood under the CORPUS unigram model (the cheap
    perplexity-style quality signal: boilerplate and keyboard mash
    score far below fluent text; the shape KenLM-filter pipelines use,
    with the corpus itself as the model).

      avg_logprob = (1/n) * Σ_tok tf(doc,tok) · ln(cf(tok) / T)

    with cf = corpus frequency, T = total corpus tokens. Plan: one
    explode + doc-level and corpus-level hash aggregates, then a join
    of doc term-frequencies against the vocabulary — broadcast, since
    a natural-language vocab stays executor-sized no matter how big the
    corpus grows (the 100 TB shape: the model is small state, the scan
    is the cost). The Σ runs as an ordered fold over token-sorted
    structs, so every intermediate double reproduces cross-engine
    (same discipline as char_entropy / the PageRank oracle).
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(_tokens(F.col(text_col))).alias("tok"),
    )
    doc_tf = tok.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cf"))
    total = vocab.agg(F.sum("cf").cast("double").alias("t_total"))
    joined = doc_tf.join(F.broadcast(vocab), "tok").crossJoin(
        F.broadcast(total)
    )
    per = joined.groupBy("id", "t_total").agg(
        F.sum("tf").alias("n_toks"),
        F.array_sort(F.collect_list(F.struct("tok", "tf", "cf"))).alias("arr"),
    )
    t = F.col("t_total")
    ll = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda acc, x: acc
        + x["tf"].cast("double") * F.log(x["cf"].cast("double") / t),
    )
    return per.select(
        "id",
        F.col("n_toks").cast("long").alias("n_toks"),
        F.round(ll / F.col("n_toks").cast("double"), 6).alias("avg_logprob"),
    )


# the perplexity self-dispatch thresholds on the SCORED plan's
# Catalyst estimate, which is much wider per row than the raw-scan
# estimate the lag operators' 24 MiB key was calibrated for (measured:
# ~700 B/doc at sf0.01/sf0.1 vs ~22 B/row for event scans). 700 B x
# the ~1.1M-row policy point ≈ 768 MiB — same row-count crossover,
# different byte denominator (r5 self-review: reusing the 24 MiB key
# directly tripped chunked ~30x too early).
_SCORED_MIN_BYTES_KEY = "spark.poc.ntile.minScoredBytes"
_SCORED_DEFAULT_MIN_BYTES = 768 * 1024 * 1024


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 3,
    num_chunks: int | None = None,
) -> DataFrame:
    """(id, avg_logprob, bucket) — CCNet-style quality partition
    (Wenzek et al. 2019): rank documents by mean unigram log-likelihood
    (unigram_logprob; higher = more fluent = lower perplexity) and cut
    the corpus into equal-count quantile buckets, labelled
    head/middle/tail for the canonical 3-way split. Training pipelines
    keep head+middle, or mix buckets at different rates.

    Determinism: ntile orders by (rounded avg_logprob DESC, id) — a
    total order, so bucket boundaries are exact and engine-independent
    (no percentile interpolation semantics to match cross-engine).

    Scale: the global-window form is the default below ~1M rows (the
    project convention); above the plans/dispatch size threshold the
    operator SELF-DISPATCHES to the EXACT chunk-parallel twin
    (plans/ntile.chunked_ntile: range chunks + driver prefix-sum of
    chunk counts + per-chunk windows — same buckets bit-for-bit,
    pinned in tests/test_plans.py), same policy as the lag/limit
    operators. Pass `num_chunks` to force the chunked form explicitly.
    CCNet's own approx-threshold variant remains a valid cheaper
    fallback, but an exact distributed form exists so nothing forces
    the approximation."""
    from pyspark.sql import Window

    scored = unigram_logprob(df, text_col, id_col)
    if num_chunks is None and use_chunked(
        scored, _SCORED_MIN_BYTES_KEY, _SCORED_DEFAULT_MIN_BYTES
    ):
        num_chunks = 32
    if num_chunks:
        from poc_spark.plans.ntile import chunked_ntile

        tiled = chunked_ntile(
            scored.withColumn("_negscore", -F.col("avg_logprob")),
            n_buckets,
            ("_negscore", "id"),
            num_chunks=num_chunks,
            bucket_col="_tile",
        ).drop("_negscore")
        tile = F.col("_tile")
    else:
        w = Window.orderBy(F.col("avg_logprob").desc(), F.col("id"))
        tiled = scored.withColumn("_tile", F.ntile(n_buckets).over(w))
        tile = F.col("_tile")
    if n_buckets == 3:
        bucket = (
            F.when(tile == 1, F.lit("head"))
            .when(tile == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        bucket = tile.cast("string")
    return tiled.select("id", "avg_logprob", bucket.alias("bucket"))


def hashed_features(
    df: DataFrame,
    n_features: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashing-trick term vectorizer (sparse long form): (id, feature,
    tf) with feature = md5-60(token || ':feat') mod n_features — the
    fixed-width, vocabulary-free featurization step (classifier-based
    quality filters, fastText-style model inputs) that needs NO fitted
    dictionary, so it is a stateless narrow map + one hash aggregate.

    The md5-60 bucket is the module-standard cross-engine hash (DuckDB:
    ('0x'||substr(md5(tok||':feat'),1,15))::BIGINT % n); collisions are
    part of the operator's contract (that's the hashing trick), and the
    salt keeps the feature space independent of the sampling buckets.
    All-integer output — hashes bit-for-bit.
    """
    from poc_spark.operators.dedup import token_hash

    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(_tokens(F.col(text_col))).alias("tok"),
    )
    feat = F.pmod(
        token_hash(F.concat(F.col("tok"), F.lit(":feat")), "md5_60"),
        F.lit(n_features),
    ).cast("long")
    return (
        tok.select("id", feat.alias("feature"))
        .groupBy("id", "feature")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def hashed_linear_score(
    df: DataFrame,
    n_features: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a linear model over hashing-trick features — the
    classifier-filter scoring shape (fastText / logreg quality gates):
    score(doc) = (Σ_f tf_f · w_f) / Σ_f tf_f.

    Weights are a DETERMINISTIC integer-arithmetic function of the
    feature id (Knuth multiplicative hash mapped to [-0.5, 0.5)), so
    the 'model' embeds in the SQL oracle with no artifact file; a real
    pipeline swaps in trained weights via a broadcast join — the plan
    is identical. The Σ runs as a feature-ordered fold (bit-exact
    doubles); the sigmoid is deliberately omitted — monotone in the
    score and libm exp() is not cross-engine stable.
    """
    feats = hashed_features(df, n_features, text_col, id_col)
    w = (
        F.pmod(F.col("feature") * F.lit(2654435761), F.lit(1048576)).cast(
            "double"
        )
        / F.lit(1048576.0)
        - F.lit(0.5)
    )
    per = (
        feats.withColumn("_w", w)
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_toks"),
            F.array_sort(
                F.collect_list(F.struct("feature", "tf", "_w"))
            ).alias("arr"),
        )
    )
    total = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda acc, x: acc + x["tf"].cast("double") * x["_w"],
    )
    return per.select(
        "id",
        F.col("n_toks").cast("long").alias("n_toks"),
        F.round(total / F.col("n_toks").cast("double"), 6).alias("score"),
    )


# ---------------------------------------------------------------------------
# Real merge-table BPE (GPT-2 merges.txt format: ordered (left, right)
# pairs; rank = list position). The reference's text path has no
# tokenizer; this is north-star extension surface — the one text
# primitive a training-data pipeline applies to every byte it ships.
# ---------------------------------------------------------------------------

# A small deterministic merge table in the public merges.txt SHAPE
# (ordered pairs over an initial character alphabet, later merges may
# reference earlier merge outputs, e.g. t+h -> th, th+e -> the). Small
# and literal so the identical table embeds in the DuckDB oracle; a
# production run loads the real 50k-row GPT-2 merges file into the same
# structure — nothing below depends on the table's size.
DEFAULT_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"), ("o", "r"),
    ("e", "n"), ("a", "t"), ("e", "s"), ("o", "u"), ("i", "t"),
    ("i", "s"), ("a", "l"), ("a", "r"), ("s", "t"), ("l", "e"),
    ("o", "m"), ("c", "h"), ("q", "u"), ("qu", "e"),
)

# slice() length for "rest of the array": must stay well under int32
# max — slice(arr, 2, 2147483647) silently overflows start+length and
# returns nulls (measured), so "unbounded" is spelled 1<<20 here (no
# word has a million symbols).
_REST = 1 << 20


def _bpe_min_rank(merge_keys: Column) -> Column:
    """Rank (1-based position in the merge table) of the best mergeable
    adjacent pair in the space-joined segmentation `s`, NULL if no pair
    is mergeable — the BPE loop condition, shared by the step and the
    convergence test."""
    syms = F.split(F.col("s"), " ")
    pair_keys = F.zip_with(
        syms,
        F.slice(syms, 2, _REST),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    present = F.filter(
        F.transform(pair_keys, lambda k: F.array_position(merge_keys, k)),
        lambda r: r > 0,
    )
    return F.array_min(present)


def bpe_segment_vocab(
    vocab: DataFrame,
    merges: tuple[tuple[str, str], ...] = DEFAULT_BPE_MERGES,
    word_col: str = "word",
    max_iterations: int = 64,
) -> DataFrame:
    """(word, s) — exact merge-table BPE segmentation of each DISTINCT
    word; `s` is the token sequence joined by single spaces.

    Semantics (GPT-2 apply loop): repeatedly pick the PRESENT adjacent
    pair with the lowest merge rank and merge all its non-overlapping
    occurrences left-to-right, until no adjacent pair is in the table.
    The left-to-right pass is a string fold: append the next symbol
    with a space normally, without one when it completes the chosen
    pair at the boundary — so the accumulated string IS the state, and
    the identical fold runs in DuckDB's list_reduce for the oracle
    (tests/test_textstats.py pins hand-computed tokenizations).

    Plan shape (the 100 TB story): this runs on the DISTINCT-WORD
    table, never the corpus — Zipf makes the vocabulary executor-small
    no matter how big the scan is, and `bpe_apply` maps it back over
    the corpus with one broadcast join. Each iteration is a NARROW
    projection (split / zip_with / fold — no shuffle, no Python);
    the only per-iteration actions are the lazy checkpoint and an
    O(|vocab|) convergence count, and iterations are bounded by the
    longest word's merge count, not corpus size.
    """
    merge_keys = F.array(*[F.lit(f"{left} {right}") for left, right in merges])
    state = vocab.select(
        F.col(word_col).alias("word"),
        F.concat_ws(
            " ",
            F.filter(
                F.split(F.col(word_col), ""), lambda c: F.length(c) > 0
            ),
        ).alias("s"),
    )
    for _ in range(max_iterations):
        syms = F.split(F.col("s"), " ")
        minr = _bpe_min_rank(merge_keys)
        best = F.element_at(merge_keys, minr.cast("int"))
        left = F.element_at(F.split(best, " "), 1)
        right = F.element_at(F.split(best, " "), 2)
        merged = F.aggregate(
            F.slice(syms, 2, _REST),
            F.element_at(syms, 1),
            lambda acc, x: F.when(
                (x == right)
                & (
                    (acc == left)
                    | acc.endswith(F.concat(F.lit(" "), left))
                ),
                F.concat(acc, x),
            ).otherwise(F.concat(acc, F.lit(" "), x)),
        )
        state = state.select(
            "word",
            F.when(minr.isNull(), F.col("s")).otherwise(merged).alias("s"),
        ).localCheckpoint(eager=False)
        if state.filter(_bpe_min_rank(merge_keys).isNotNull()).count() == 0:
            break
    else:
        # The DuckDB recursive-CTE oracle always runs to convergence; a
        # partial segmentation here would silently diverge from it, so
        # non-convergence is an error, not a best-effort result. Each
        # iteration applies >=1 merge to every non-converged word, so
        # max_iterations bounds merges-per-word, not table size.
        remaining = state.filter(_bpe_min_rank(merge_keys).isNotNull()).count()
        if remaining:
            raise RuntimeError(
                f"bpe_segment_vocab: {remaining} words still have mergeable "
                f"pairs after max_iterations={max_iterations}; raise the "
                "bound (iterations needed = max merges applied to any "
                "single word)"
            )
    return state


def bpe_apply(
    df: DataFrame,
    merges: tuple[tuple[str, str], ...] = DEFAULT_BPE_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_words, n_bpe_tokens, bpe_text) — apply merge-table
    BPE to every document: `bpe_text` is the document re-joined from
    its per-word token sequences (order-preserving), `n_bpe_tokens` the
    resulting token count.

    Vocabulary-factored: segment DISTINCT words once
    (bpe_segment_vocab), broadcast-join the small (word -> s) map back
    onto the exploded corpus, and reassemble per document with an
    ordered fold over (position, tokens) structs. The corpus-side plan
    is explode -> broadcast join -> one hash aggregate: linear, no
    per-row Python, vocabulary work amortized across every occurrence."""
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_tokens(F.col(text_col))).alias("pos", "word"),
    )
    seg = bpe_segment_vocab(words.select("word").distinct(), merges)
    seg = seg.select(
        "word",
        "s",
        F.size(F.split(F.col("s"), " ")).cast("long").alias("n_toks"),
    )
    per = (
        words.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_toks").cast("long").alias("n_bpe_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s"))),
                    lambda x: x["s"],
                ),
            ).alias("bpe_text"),
        )
    )
    return per.select("doc_id", "n_words", "n_bpe_tokens", "bpe_text")


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob) — per-document mean BIGRAM
    log-likelihood under the corpus bigram model with unigram
    interpolation (the KenLM-filter shape one order up from
    unigram_logprob; CCNet-style pipelines use 5-gram KenLM — the
    Spark plumbing is identical, only the model table widens):

      avg = (1/B) · Σ_bg tf(doc,bg) · ln( λ·c(bg)/c_left(w1)
                                          + (1-λ)·cf(w2)/T )

    with c = corpus bigram counts, c_left = Σ bigrams starting with
    w1, cf/T = unigram MLE over the same (≥2-token) corpus. Docs with
    fewer than two tokens have no bigrams and are excluded — there is
    no event to score.

    Plan: one explode for bigrams + three corpus-level hash aggregates
    (bigram, left-context, unigram), then broadcast joins of the
    doc-level bigram TFs against the model tables — the 100 TB shape
    again: the model is Zipf-small state, the scan is the cost. The Σ
    runs as an ordered fold over bigram-sorted structs, so every
    intermediate double reproduces cross-engine; λ is a dyadic literal
    (0.75) so the interpolation arithmetic is IEEE-exact both sides."""
    d = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") >= 2)
    bg = d.select(
        "id",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                F.slice(F.col("t"), 2, F.size("t")),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    )
    dtf = bg.groupBy("id", "bg").agg(F.count(F.lit(1)).alias("tf"))
    bgc = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("ba"))
    cl = (
        bgc.select(
            F.element_at(F.split(F.col("bg"), " "), 1).alias("w1"),
            F.col("ba"),
        )
        .groupBy("w1")
        .agg(F.sum("ba").alias("cl"))
    )
    uni = (
        d.select(F.explode("t").alias("w2"))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    total = uni.agg(F.sum("cf").cast("double").alias("t_total"))
    joined = (
        dtf.join(F.broadcast(bgc), "bg")
        .withColumn("w1", F.element_at(F.split(F.col("bg"), " "), 1))
        .withColumn("w2", F.element_at(F.split(F.col("bg"), " "), 2))
        .join(F.broadcast(cl), "w1")
        .join(F.broadcast(uni), "w2")
        .crossJoin(F.broadcast(total))
    )
    per = joined.groupBy("id", "t_total").agg(
        F.sum("tf").alias("n_bigrams"),
        F.array_sort(
            F.collect_list(F.struct("bg", "tf", "ba", "cl", "cf"))
        ).alias("arr"),
    )
    t = F.col("t_total")
    ll = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda acc, x: acc
        + x["tf"].cast("double")
        * F.log(
            F.lit(lam) * (x["ba"].cast("double") / x["cl"].cast("double"))
            + F.lit(1.0 - lam) * (x["cf"].cast("double") / t)
        ),
    )
    return per.select(
        F.col("id").alias("doc_id"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(ll / F.col("n_bigrams").cast("double"), 6).alias("avg_logprob"),
    )


def bpe_learn_local(
    df: DataFrame,
    num_merges: int = 10,
    text_col: str = "text",
    max_local_vocab: int = 10_000_000,
) -> DataFrame:
    """(rank, left_sym, right_sym, pair_count) — LEARN an exact BPE
    merge table from the corpus (the training half; bpe_apply is the
    serving half): per round, count word-frequency-weighted adjacent
    symbol pairs over the current segmentations (overlapping
    occurrences all count — the classic convention) and merge the
    (count DESC, "left right" ASC) winner everywhere. The tie-break is
    a total order on the space-joined pair string, so the learned
    table is a pure function of the corpus; the DuckDB recursive-CTE
    oracle (contract._bpe_learn_sql) replays it, pair counts included.
    This is the one exact learner; bpe_learn_greedy is the other, a
    different (dominance-batched) algorithm with its own oracle.

    The split is the one every production tokenizer trainer uses (HF
    tokenizers, SentencePiece): the CORPUS-sized work — tokenize + word
    frequency count — is one distributed map-side-combining aggregate
    (the only part that grows with data volume). Its output, the
    distinct-word table, is Zipf-bounded (~10^6-10^7 rows for any
    natural-language corpus at ANY corpus size — the same bound
    bpe_apply's vocabulary factoring rests on) and collapses to a few
    hundred MB — well inside the driver budget every 1-row scalar
    collect already assumes. The merge LOOP is inherently sequential in
    merge order (each argmax depends on all previous merges), so it
    runs on the collected vocabulary in process memory with
    INCREMENTAL pair-count maintenance (a (count, pair) lazy-deletion
    heap + per-pair posting sets; applying a merge touches only the
    words that contain it) — no Spark job per merge round
    (BPE_SCALE.json: 32k merges on a 160k-word vocabulary measured
    directly). Guard: raises if the vocabulary exceeds
    `max_local_vocab` rows — raise the budget, or learn with
    bpe_learn_greedy, whose loop stays distributed but which learns a
    different table.

    Application = one left-to-right greedy pass per affected word
    (non-overlapping, leftmost-first — the fold the oracle replays)."""
    import heapq
    from collections import defaultdict

    spark = df.sparkSession
    rows = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .collect()
    )
    if len(rows) > max_local_vocab:
        raise ValueError(
            f"bpe_learn_local: vocabulary has {len(rows)} distinct words "
            f"(> max_local_vocab={max_local_vocab}); raise the budget, "
            "or use bpe_learn_greedy (distributed loop, but a different "
            "merge table)"
        )
    segs: list[list[str]] = [list(r["word"]) for r in rows]
    wcs: list[int] = [r["wc"] for r in rows]

    counts: dict[tuple[str, str], int] = defaultdict(int)
    posting: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, seg in enumerate(segs):
        w = wcs[i]
        for a, b in zip(seg, seg[1:]):
            counts[(a, b)] += w
            posting[(a, b)].add(i)
    # heap key: (-count, "left right") — the STRING form, because the
    # oracle breaks ties by the space-joined pair string and
    # tuple-lexicographic order diverges from it when a symbol
    # contains a character below 0x20
    heap: list[tuple[int, str, tuple[str, str]]] = [
        (-c, f"{p[0]} {p[1]}", p) for p, c in counts.items()
    ]
    heapq.heapify(heap)

    def push(p: tuple[str, str]) -> None:
        c = counts.get(p, 0)
        if c > 0:
            heapq.heappush(heap, (-c, f"{p[0]} {p[1]}", p))

    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < num_merges and heap:
        # lazy-deletion pop: an entry is live iff it matches the
        # CURRENT count (stale entries from earlier updates are
        # skipped) — the classic incremental-BPE argmax
        negc, _, pair = heapq.heappop(heap)
        cur = counts.get(pair, 0)
        if cur <= 0:
            continue
        if -negc != cur:
            push(pair)  # stale: reinsert at the true count
            continue
        a, b = pair
        merges.append((len(merges) + 1, a, b, cur))
        ab = a + b
        for i in list(posting.get(pair, ())):
            # (iteration order is free: count updates are commutative
            # integer adds, so the result is order-independent)
            seg, w = segs[i], wcs[i]
            # one greedy left-to-right pass (leftmost, non-overlapping)
            out: list[str] = []
            j, n, changed = 0, len(seg), False
            while j < n:
                if j + 1 < n and seg[j] == a and seg[j + 1] == b:
                    out.append(ab)
                    j += 2
                    changed = True
                else:
                    out.append(seg[j])
                    j += 1
            if not changed:
                continue
            # apply only the PER-WORD DELTA: pairs away from the
            # merge sites keep their exact multiplicity, so they get
            # no dict update and — critically — no heap push. (The
            # naive retract-all/add-all form pushed ~|word| heap
            # entries per rewrite; at 32k merges on a 160k-word
            # vocabulary that is hundreds of millions of live tuples
            # — measured as a GC stall, not a slowdown.)
            old_c: dict[tuple[str, str], int] = defaultdict(int)
            for x, y in zip(seg, seg[1:]):
                old_c[(x, y)] += 1
            new_c: dict[tuple[str, str], int] = defaultdict(int)
            for x, y in zip(out, out[1:]):
                new_c[(x, y)] += 1
            segs[i] = out
            for p in old_c.keys() | new_c.keys():
                d = new_c[p] - old_c[p]
                if d == 0:
                    continue
                counts[p] += d * w
                if new_c[p]:
                    posting[p].add(i)
                else:
                    posting[p].discard(i)
                push(p)
        counts.pop(pair, None)
        posting.pop(pair, None)
    return spark.createDataFrame(
        merges, "rank long, left_sym string, right_sym string, pair_count long"
    )


def _merge_batch_fold(syms: Column, accept: list[tuple[str, str, int]]) -> Column:
    """One-pass left-to-right application of a merge BATCH: fold with
    (out, pend) state and a merge-map lookup — at each symbol x, if
    '(pend, x)' is a batch key, pend extends to the merged token,
    otherwise pend flushes to out. Greedy self-overlap matches the
    single-pair fold; a just-merged pend may itself chain into another
    batch key (bpe_learn_greedy, the only caller, permits this and its
    oracle replays the identical semantics)."""
    mp = F.create_map(
        *[
            F.lit(x)
            for left, right, _ in accept
            for x in (f"{left} {right}", left + right)
        ]
    )

    def step(acc, x):
        hit = F.try_element_at(mp, F.concat(acc["pend"], F.lit(" "), x))
        return F.when(
            hit.isNotNull(),
            F.struct(acc["out"].alias("out"), hit.alias("pend")),
        ).otherwise(
            F.struct(
                F.when(acc["out"] == "", acc["pend"])
                .otherwise(F.concat(acc["out"], F.lit(" "), acc["pend"]))
                .alias("out"),
                x.alias("pend"),
            )
        )

    return F.aggregate(
        F.slice(syms, 2, _REST),
        F.struct(F.lit("").alias("out"), F.element_at(syms, 1).alias("pend")),
        step,
        lambda acc: F.when(acc["out"] == "", acc["pend"]).otherwise(
            F.concat(acc["out"], F.lit(" "), acc["pend"])
        ),
    )


def _explode_pairs(
    state: DataFrame, sign: int = 1, aggregate: bool = True
) -> DataFrame:
    """(pair, cnt) contributions of a segmentation table: adjacent
    symbol pairs of each word's current segmentation, weighted by the
    word's corpus frequency (negated for sign=-1 — the retraction side
    of an incremental count update). `aggregate=False` returns the raw
    per-occurrence rows so a caller merging several contribution
    streams can fold them in ONE hash aggregate instead of one per
    stream (one shuffle per round, not three)."""
    syms = F.split(F.col("s"), " ")
    wc = (F.col("wc") * F.lit(sign)).cast("long").alias("cnt")
    raw = state.select(
        wc,
        F.explode(
            F.zip_with(
                syms,
                F.slice(syms, 2, _REST),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("pair"),
    ).filter(F.col("pair").contains(" "))
    if not aggregate:
        return raw.select("pair", "cnt")
    return raw.groupBy("pair").agg(F.sum("cnt").cast("long").alias("cnt"))


def _persistent_rdd_ids(spark) -> set[int]:
    """Ids of currently persisted RDDs (classic Spark only — py4j;
    returns {} under Spark Connect, degrading the learner's deferred
    unpersist to a no-op rather than failing)."""
    try:
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        out: set[int] = set()
        while it.hasNext():
            out.add(it.next())
        return out
    except Exception:
        return set()


def _unpersist_rdd_ids(spark, ids: set[int]) -> None:
    """Free superseded localCheckpoint blocks by RDD id. The learner
    loop checkpoints 3 small tables per round; without this, block-
    manager bookkeeping grows ~3 RDDs/round and per-round wall time
    measurably climbs (1.0 -> 1.9 s by round 60 on the widened-corpus
    probe) — at a 32k-vocab run's thousands of rounds that growth, not
    the data, becomes the cost. Only ids this loop created are passed
    in, so user-cached tables are never touched."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for i in ids:
            rdd = jmap.get(i)
            if rdd is not None:
                rdd.unpersist(False)
    except Exception:
        pass


def _dominant_select(counts: DataFrame, cap: int) -> list[tuple[str, str, int]]:
    """The first `cap` pairs of the global DOMINANCE set, in rank
    order: rank all pairs by (cnt DESC, pair ASC); a pair is dominant
    iff BOTH its symbols make their first ranked appearance at that
    pair (min(rank) over each symbol == own rank). A pair arbitrarily
    deep in the ranking is dominant when its symbols occur nowhere
    above, so the set is a function of the WHOLE table.

    Computed WITHOUT materializing the rank: under the total order
    k(p) = (cnt DESC, pair ASC), "p's rank is minimal among pairs
    containing symbol s" is exactly "p = min_by(k) over pairs
    containing s" — one explode + hash-aggregate per round plus a join
    back, every stage map-side-combining and hash-partitioned. The
    earlier row_number formulation (which the DuckDB oracle replays as
    layered windows — same semantics, verified equal) needed a GLOBAL
    window, i.e. a single-partition sort of the whole pair table per
    round: fine at test vocab, a one-task bottleneck at the millions
    of distinct pairs a production corpus carries. A bounded top-K
    driver scan is NOT equivalent (a deep pair with two fresh symbols
    is dominant; truncation would miss it — measured as a per-round
    regression before this was factored out)."""
    order_key = F.struct(
        (-F.col("cnt")).alias("nc"), F.col("pair").alias("p")
    )
    sym_best = (
        counts.select(
            "pair", "cnt", F.explode(F.split("pair", " ")).alias("sym")
        )
        .groupBy("sym")
        .agg(F.min_by("pair", order_key).alias("best"))
    )
    # a pair qualifies when EVERY one of its (distinct) symbols elects
    # it; count matches against the distinct-symbol count so the
    # self-pair "a a" (one distinct symbol) is handled exactly
    exploded = counts.select(
        "pair",
        "cnt",
        F.explode(F.array_distinct(F.split("pair", " "))).alias("sym"),
    )
    dominant = (
        # sym_best has one row per live SYMBOL (thousands at most, vs
        # millions of pairs): broadcast it so the only shuffle in the
        # whole selection is the per-symbol hash aggregate
        exploded.join(F.broadcast(sym_best), "sym")
        .groupBy("pair", "cnt")
        .agg(
            F.count(F.lit(1)).alias("n_sym"),
            F.sum(
                F.when(F.col("best") == F.col("pair"), 1).otherwise(0)
            ).alias("n_won"),
        )
        .filter(F.col("n_won") == F.col("n_sym"))
    )
    return [
        (r["pair"].split(" ")[0], r["pair"].split(" ")[1], r["cnt"])
        for r in dominant.orderBy(
            F.col("cnt").desc(), F.col("pair").asc()
        )
        .limit(cap)
        .collect()
    ]


def bpe_learn_greedy(
    df: DataFrame,
    num_merges: int = 10,
    text_col: str = "text",
    max_batch: int = 256,
    stats_out: dict | None = None,
    incremental: bool | str = "auto",
) -> DataFrame:
    """Dominance-batched BPE learning — the THROUGHPUT policy for
    production vocabularies (VERDICT r7 #4's named mitigation): per
    round, rank pairs by (weighted count DESC, pair ASC) and accept
    EVERY pair that shares no symbol with a higher-ranked pair (the
    locally-dominant set, capped at max_batch), then apply the whole
    batch in one vocabulary pass. Accepted pairs are pairwise
    symbol-disjoint by construction (if p and q are both accepted with
    q ranked lower, q's acceptance already certifies no shared symbol
    with the higher-ranked p), so simultaneous application is
    well-defined.

    This is a DIFFERENT deterministic algorithm from exact sequential
    BPE (the standard throughput trade every distributed BPE trainer
    makes): a round's lower-ranked accepted merges would, under
    sequential order, sometimes lose their argmax turn to pairs created
    mid-round. It degrades gracefully — round 1's top pair always
    matches sequential — and converges to the same symbol inventory
    shape. What makes it gate-able is that the dominance rule is a pure
    function of the pair-count table, expressible as window functions:
    the DuckDB oracle replays the identical selection AND the identical
    one-pass fold (including pend-chaining semantics), so the learned
    table is cross-engine verified as ITSELF, not approximated.

    Scale (r8 VERDICT #3 — incremental pair-count maintenance): with
    `incremental` on, the pair-count table is built by ONE full
    vocabulary explode up front and then maintained as a DELTA per
    round — only words whose segmentation contains an accepted
    adjacency are re-folded (their old pairs retract at -wc, their new
    pairs add at +wc; every other word's contribution is provably
    unchanged, since a merge only rewrites segmentations it occurs
    in), and the counts table merges the delta with one hash
    aggregate. Per-round cost becomes O(affected words + |pairs|)
    instead of O(vocabulary explode + |pairs|) — the win appears when
    the vocabulary is large enough that the per-round explode+fold of
    UNAFFECTED words dominates the fixed job overhead, which is
    exactly the 100 TB regime and demonstrably NOT the tiny-vocab test
    regime (measured: at 20k words the extra delta stages cost more
    than the explode they save). Hence the repo's standard adaptive
    dispatch: `incremental="auto"` (default) switches on when the
    distinct-word count reaches conf
    `spark.poc.bpe.incrementalMinVocab` (default 100_000); the forced
    sweeps pin the fork green at test scale by lowering the conf, and
    tests/test_textstats.py pins recount == incremental bit-equality.
    Selection semantics are IDENTICAL on both paths (_dominant_select,
    the formulation the DuckDB oracle replays); rounds ~=
    num_merges / realized_width either way. BPE_SCALE.json carries the
    measured receipt and 32k extrapolation."""
    words = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    state = words.select(
        "word",
        "wc",
        F.concat_ws(
            " ", F.filter(F.split(F.col("word"), ""), lambda c: F.length(c) > 0)
        ).alias("s"),
    ).localCheckpoint(eager=False)
    spark = df.sparkSession
    if incremental == "auto":
        min_vocab = int(
            spark.conf.get("spark.poc.bpe.incrementalMinVocab", "100000")
        )
        incremental = state.count() >= min_vocab
    merges: list[tuple[int, str, str, int]] = []
    counts = (
        _explode_pairs(state).localCheckpoint(eager=False)
        if incremental
        else None
    )
    # deferred unpersist ring: a round's checkpoints stay live until
    # the round AFTER next (state_k materializes lazily during round
    # k+1's collect and reads state_{k-1}'s cached blocks)
    round_ids: list[set[int]] = []
    while len(merges) < num_merges:
        if not incremental:
            counts = _explode_pairs(state)
        cap = min(max_batch, num_merges - len(merges))
        accept = _dominant_select(counts, cap)
        while len(round_ids) > 2:
            _unpersist_rdd_ids(spark, round_ids.pop(0))
        if not accept:
            break
        if stats_out is not None:
            stats_out.setdefault("widths", []).append(len(accept))
        for left, right, cnt in accept:
            merges.append((len(merges) + 1, left, right, cnt))
        syms = F.split(F.col("s"), " ")
        if not incremental:
            ids_before = _persistent_rdd_ids(spark)
            state = state.select(
                "word", "wc", _merge_batch_fold(syms, accept).alias("s")
            ).localCheckpoint(eager=False)
            round_ids.append(_persistent_rdd_ids(spark) - ids_before)
            continue
        ids_before = _persistent_rdd_ids(spark)
        # affected = words whose segmentation contains an accepted
        # adjacency. Sound: the fold can only change a word through a
        # batch key, and a chained key's first link is itself an
        # accepted adjacency present in the OLD segmentation — so a
        # changed word always matches; an unchanged matching word
        # merely re-folds to itself (zero net delta). The padded
        # contains() chain stays a JVM substring scan — no explode of
        # the unaffected vocabulary, which is the whole point.
        padded = F.concat(F.lit(" "), F.col("s"), F.lit(" "))
        cond = F.lit(False)
        for left, right, _ in accept:
            cond = cond | padded.contains(f" {left} {right} ")
        affected = state.filter(cond)
        untouched = state.filter(~cond)
        # EAGER, deliberately (the r4 "no eager checkpoints" rule has
        # a measured exception here): Spark truncates only the TOPMOST
        # lazily-marked RDD on a job's lineage path, so with three
        # stacked lazy checkpoints per round the lower two (refolded,
        # state) never truncated — task binaries grew ~7 KB/round and
        # deserialization hit StackOverflowError near round 100
        # (reproduced on the 160k-vocab corpus). Eager runs the
        # truncating job at creation; the fold results are reused from
        # cache by the delta scan, so no work is duplicated.
        refolded = affected.select(
            "word", "wc", _merge_batch_fold(syms, accept).alias("s")
        ).localCheckpoint(eager=True)  # feeds both delta and state
        # one hash aggregate folds current counts, retractions, and
        # additions together (raw contribution streams, no per-stream
        # pre-aggregation — one shuffle per round)
        counts = (
            counts.unionByName(
                _explode_pairs(affected, sign=-1, aggregate=False)
            )
            .unionByName(_explode_pairs(refolded, aggregate=False))
            .groupBy("pair")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .filter(F.col("cnt") > 0)
            .localCheckpoint(eager=False)
        )
        # the union SUMS its sides' partition counts — without the
        # coalesce, state partitions double per round (2^rounds empty
        # tasks by merge 60, measured as a stall); pin to the session
        # shuffle width
        n_parts = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        state = (
            untouched.unionByName(refolded)
            .coalesce(n_parts)
            .localCheckpoint(eager=True)  # see eager note above
        )
        round_ids.append(_persistent_rdd_ids(spark) - ids_before)
    return spark.createDataFrame(
        merges, "rank long, left_sym string, right_sym string, pair_count long"
    )


def pack_documents_greedy(
    df: DataFrame,
    seq_len: int = 256,
    n_chunks: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SEQUENCE PACKING for pretraining (the concat-then-chop packing
    stage at doc granularity): documents concatenate in `id_col` order
    and each doc is assigned wholly to the sequence where its first
    token lands — seq_id = floor(tokens_before_doc / seq_len). A doc
    that crosses a boundary stays with the sequence it starts in, so a
    sequence's token total may overrun seq_len by at most one doc (the
    standard pack-until-overflow contract; fill_ratio reports it).
    Returns (seq_id, n_docs, n_tokens, min_doc, max_doc, fill_ratio).

    The global prefix sum is computed WITHOUT a global-order window
    (which would move the corpus to one partition): a TWO-PASS
    distributed prefix sum — range-split on the id into `n_chunks`
    value buckets via ntile-free fixed arithmetic (id ranges from a
    1-row min/max scalar), per-chunk token totals (n_chunks rows)
    collect to the driver and become literal offsets, then each chunk
    computes its LOCAL cumsum in parallel and adds its offset. The
    result is identical for ANY contiguous chunking, so the chunk
    count is a pure parallelism knob — the same discipline as
    plans/chunked_lag.py. Exact LONG arithmetic throughout."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.size(_tokens(F.col(text_col))).cast("long").alias("n_toks"),
    )
    lohi = toks.agg(
        F.min("id").alias("lo"), F.max("id").alias("hi")
    ).collect()[0]  # 1-row scalar
    lo, hi = int(lohi["lo"]), int(lohi["hi"])
    span = max(hi - lo + 1, 1)
    chunk = (F.col("id") - F.lit(lo)) * F.lit(n_chunks) / F.lit(span)
    toks = toks.withColumn("chunk", chunk.cast("long"))
    # pass 1: per-chunk totals -> driver (n_chunks rows) -> offsets
    totals = {
        int(r["chunk"]): int(r["t"])
        for r in toks.groupBy("chunk").agg(F.sum("n_toks").alias("t")).collect()
    }
    offsets, acc = {}, 0
    for c in range(n_chunks):
        offsets[c] = acc
        acc += totals.get(c, 0)
    off_expr = F.lit(0).cast("long")
    for c, o in offsets.items():
        off_expr = F.when(F.col("chunk") == c, F.lit(o)).otherwise(off_expr)
    # pass 2: local cumsum per chunk (parallel) + literal offset
    from pyspark.sql import Window

    w = (
        Window.partitionBy("chunk")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.select(
        "id",
        "n_toks",
        (
            off_expr + F.sum("n_toks").over(w) - F.col("n_toks")
        ).alias("cum_before"),
    ).select(
        "id",
        "n_toks",
        (F.col("cum_before") / F.lit(seq_len))
        .cast("long")
        .alias("seq_id"),
    )
    return packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.min("id").alias("min_doc"),
        F.max("id").alias("max_doc"),
        F.round(
            F.sum("n_toks").cast("double") / F.lit(float(seq_len)), 6
        ).alias("fill_ratio"),
    )
