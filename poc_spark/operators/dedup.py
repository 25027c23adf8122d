"""Deduplication operators for large-scale training-data pipelines.

The reference has no dedup (its corpus is one chat file); these are the
north-star extensions (BASELINE.json) designed Spark-first for 100 TB:

  exact_duplicates       hash-groupBy on normalized text — one shuffle on
                         a 64-hex key, partial agg map-side.
  ngram_jaccard_pairs    exact token-set Jaccard over candidate pairs.
                         The all-pairs form is quadratic — only for
                         corpus slices / verification; the LSH form below
                         is the scale path.
  minhash_lsh_pairs      MinHash + banded LSH: shingle → k minhashes →
                         b bands → bucket join on band key → verify exact
                         Jaccard on candidates. Shuffle cost O(docs × b),
                         never O(docs²). Probabilistic recall (standard
                         (1/b)^(1/r) S-curve); precision 1.0 because
                         candidates are verified.
  simhash_signatures     64-bit SimHash per doc (token-hash bit voting).
  simhash_near_pairs     Hamming-distance near-dups via pigeonhole chunk
                         banding: split the 64-bit signature into
                         `chunks` pieces; any pair within distance d <
                         chunks shares ≥1 exact chunk, so the bucket join
                         has 100% recall — exact, not probabilistic, and
                         still O(docs × chunks) shuffle.
  embedding_near_pairs   cosine ≥ threshold near-dups over an embedding
                         column (all-pairs verify; IVF/LSH bucketing for
                         scale lives in operators/similarity.py).

All pure built-in expressions (xxhash64 / array ops / bit ops) — no
Python UDFs; everything stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def normalized_text(text: Column) -> Column:
    """Whitespace-collapse + trim + casefold — the canonical form used
    for exact duplicate detection."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical (after normalization) documents:
    (text_sha, keep_id, n_copies). keep_id = min id — the deterministic
    survivor; at 100 TB the shuffle key is the 64-hex sha, uniformly
    distributed, no skew."""
    return (
        df.select(
            F.sha2(normalized_text(F.col(text_col)), 256).alias("text_sha"),
            F.col(id_col),
        )
        .groupBy("text_sha")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# token / shingle helpers
# ---------------------------------------------------------------------------


def token_set(text: Column) -> Column:
    """Distinct non-empty whitespace tokens, sorted (set semantics)."""
    toks = F.array_distinct(
        F.filter(F.split(text, r"\s+"), lambda t: F.length(t) > 0)
    )
    return F.array_sort(toks)


def word_grams(text: Column, n: int = 3) -> Column:
    """Ordered word n-grams via arrays_zip of n shifted token arrays —
    O(tokens) work (a per-index slice() formulation is O(tokens²) and
    runs interpreted; this shape benches ~7× faster). Documents shorter
    than n yield one gram of all their tokens."""
    toks = F.filter(F.split(text, r"\s+"), lambda t: F.length(t) > 0)
    if n == 1:
        return toks
    shifted = [toks.alias("g0")] + [
        F.slice(toks, i + 1, 1 << 30).alias(f"g{i}") for i in range(1, n)
    ]
    z = F.arrays_zip(*shifted)
    valid = F.slice(z, 1, F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    grams = F.transform(
        valid, lambda e: F.concat_ws(" ", *[e[f"g{i}"] for i in range(n)])
    )
    return F.when(F.size(toks) > 0, grams).otherwise(
        F.array(F.lit("")).cast("array<string>")
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the text."""
    return F.array_distinct(word_grams(text, n))


def _t_lo(threshold: float) -> float:
    """Soundness margin for candidate PREFILTERS: acceptance everywhere
    is round(score, 6) >= t, which admits true scores down to t - 5e-7
    (half-ulp at the 6th decimal). Any bound derived from the raw t
    (size ratios, prefix lengths, popcount bands) must therefore be
    computed from t - 1e-6, or a round-up boundary pair the oracle
    keeps gets pruned before the exact predicate ever sees it (r5
    self-review). Over-relaxing is sound — it only adds candidates the
    exact rounded predicate then decides."""
    return threshold - 1e-6


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    # try_divide: two EMPTY token sets give 0/0 — null (not a near-dup
    # pair; byte-identical empties are exact_duplicates' business), and
    # under Spark 4 ANSI a plain `/` would crash the whole job on them.
    return F.try_divide(inter, union).cast("double")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, all-pairs — verification / small-slice tool)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All pairs (id_a < id_b, jaccard) with token-set Jaccard ≥
    threshold. Quadratic — the exactness oracle for the LSH variants,
    not the scale path.

    Size-ratio prefilter (sound, no false negatives): |A∩B| ≤ min(|A|,
    |B|) and |A∪B| ≥ max(|A|,|B|), so J ≥ t ⇒ min ≥ t·max. The cheap
    integer predicate prunes most pairs before the expensive array
    intersection ever runs (~9× wall at sf0.1, identical output)."""
    toks = df.select(
        F.col(id_col).alias("id"), token_set(F.col(text_col)).alias("toks")
    ).withColumn("sz", F.size("toks"))
    a = toks.alias("a")
    b = toks.alias("b")
    sz_a, sz_b = F.col("a.sz"), F.col("b.sz")
    compatible = F.least(sz_a, sz_b) >= F.lit(_t_lo(threshold)) * F.greatest(
        sz_a, sz_b
    )
    jac = F.round(_jaccard(F.col("a.toks"), F.col("b.toks")), 6)
    # the threshold test lives INSIDE the join condition, explicitly
    # LAST in the conjunction: a separate .filter() gets pushed into the
    # join ahead of the cheap predicates (measured — the intersect then
    # runs on every pair and the prefilter buys nothing). Conjuncts
    # short-circuit left to right; jaccard is recomputed in the
    # projection for the few surviving pairs only.
    return a.join(
        b,
        (F.col("a.id") < F.col("b.id")) & compatible & (jac >= threshold),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        jac.alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard via prefix filtering (exact, scale path)
# ---------------------------------------------------------------------------


def jaccard_prefix_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT token-set Jaccard pairs ≥ threshold — same output as
    ngram_jaccard_pairs, but O(docs × prefix) instead of O(docs²)
    (prefix filtering à la SSJoin/PPJoin, Chaudhuri'06 / Xiao'08).

    Principle: order every document's tokens by a single global total
    order (ascending document frequency, rarest first — ties broken by
    the token itself). If J(A,B) ≥ t then |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, and
    any two sets with overlap ≥ α must share a token within the first
    |x| − α + 1 tokens of that global order (else the smallest common
    token would leave fewer than α positions for the intersection).
    So: emit only each doc's first |x| − ⌈t·|x|⌉ + 1 tokens as join
    keys, bucket-join on the token, verify candidates exactly. Identical
    pair set, and the rare-first ordering keeps buckets tiny — frequent
    tokens almost never appear in a prefix.

    Shuffle cost: 3 token-row shuffles (df-count, order, prefix) +
    candidate verify — all linear in corpus tokens; no quadratic join
    anywhere (pinned by tests/test_dedup.py plan assertions).
    """
    toks = df.select(
        F.col(id_col).alias("id"), token_set(F.col(text_col)).alias("toks")
    ).withColumn("sz", F.size("toks"))

    tok_rows = toks.select("id", "sz", F.explode("toks").alias("tok"))
    dfreq = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # rare-first global order per doc: array_sort of (df, tok) structs
    ordered = (
        tok_rows.join(dfreq, "tok")
        .groupBy("id", "sz")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("ord"))
    )
    # α = ⌈t·sz⌉, computed with a 1e-9 nudge so binary-float overshoot
    # (0.95*20 = 19.0000…4) can't round the ceiling UP — an α too large
    # would shorten the prefix and break recall; the nudge only ever
    # lengthens it (extra candidates, never missed ones).
    alpha = F.ceil(F.lit(_t_lo(threshold)) * F.col("sz") - F.lit(1e-9))
    prefix_len = (F.col("sz") - alpha + 1).cast("int")
    pref = ordered.select(
        "id",
        "sz",
        F.explode(
            F.transform(
                F.slice(F.col("ord"), F.lit(1), prefix_len), lambda s: s["tok"]
            )
        ).alias("tok"),
    )

    a, b = pref.alias("a"), pref.alias("b")
    sz_a, sz_b = F.col("a.sz"), F.col("b.sz")
    candidates = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            # size-compatibility prune (sound): J ≥ t ⇒ min ≥ t·max
            & (
                F.least(sz_a, sz_b)
                >= F.lit(_t_lo(threshold)) * F.greatest(sz_a, sz_b)
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    va = toks.select(F.col("id").alias("id_a"), F.col("toks").alias("t_a"))
    vb = toks.select(F.col("id").alias("id_b"), F.col("toks").alias("t_b"))
    jac = F.round(_jaccard(F.col("t_a"), F.col("t_b")), 6)
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_bitset_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_vocab: int = 64,
) -> DataFrame:
    """EXACT token-set Jaccard pairs ≥ threshold for corpora whose
    token VOCABULARY fits in a machine word (≤ `max_vocab` distinct
    tokens): dictionary-encode every token set to a bitmask, compare
    DISTINCT masks all-pairs with popcount Jaccard
    (bit_count(a&b)/bit_count(a|b) — two integer ops instead of two
    array intersections), then expand qualifying mask pairs back to
    doc pairs through the membership lists.

    Why this exists: prefix filtering (jaccard_prefix_pairs) prunes by
    token rarity, and on a tiny closed vocabulary NOTHING is rare — the
    candidate set stays near-quadratic and each candidate pays an
    array-intersect verify. Here the verify is ~free and the quadratic
    runs over distinct masks only (every duplicated set collapses),
    all inside one broadcast-nested-loop stage: the mask table is a
    few KB, the comparison is codegen'd integer arithmetic.

    Falls back to jaccard_prefix_pairs when a vocab probe (limit
    max_vocab+1, one tiny job at plan time — the same eager-estimate
    pattern as plans/dispatch.py) finds an open vocabulary. Exactness:
    pinned equal to the all-pairs form in tests/test_dedup.py."""
    toks = df.select(
        F.col(id_col).alias("id"), token_set(F.col(text_col)).alias("toks")
    )
    vocab = [
        r["tok"]
        for r in toks.select(F.explode("toks").alias("tok"))
        .distinct()
        .limit(max_vocab + 1)
        .collect()
    ]
    if len(vocab) > max_vocab:
        return jaccard_prefix_pairs(df, threshold, text_col, id_col)
    if not vocab:
        # empty corpus / all-empty texts: no qualifying pairs (the
        # oracle's 0/0 Jaccard is NULL and drops too)
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, jaccard double"
        )

    # one literal-weight term per vocab token: bit i is set iff token i
    # is in the set. ≤64 codegen'd array_contains over a ~word-sized
    # array — no variable shifts, no HOF.
    mask = None
    for i, t in enumerate(sorted(vocab)):
        # bit 63 is the long sign bit: 1<<63 overflows LongType, so the
        # 64th token's weight is the two's-complement value -(2**63).
        # Distinct-bit terms still sum without overflow (bits 0..62 sum
        # to < 2**63) and bit_count / bitwiseAND / bitwiseOR are
        # bit-pattern ops, indifferent to sign.
        weight = (1 << i) if i < 63 else -(1 << 63)
        term = F.when(
            F.array_contains(F.col("toks"), t), F.lit(weight).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        mask = term if mask is None else mask + term
    masked = toks.select("id", mask.alias("m")).localCheckpoint(eager=False)
    groups = masked.groupBy("m").agg(F.count(F.lit(1)).alias("n")).withColumn(
        "sz", F.bit_count(F.col("m"))
    )

    # inter-mask qualifying pairs over DISTINCT masks. J ≥ t bounds the
    # popcount gap: i ≤ min, u ≥ max ⇒ t ≤ min/max ⇒ max−min ≤
    # (1−t)·max ≤ (1−t)·|vocab| = D. So instead of an m×m nested loop
    # (interpreted, not codegen'd), each mask joins only its size band:
    # the b-side replicates D+1 times keyed sz−k and the join is a
    # codegen'd HASH join on the band key — shuffle-able at any m.
    # exact band bound: binary-float threshold makes (1-t)*n land just
    # BELOW its mathematical value when (1-t)*n is an integer (e.g.
    # t=0.8, n=5 -> 0.9999...), and plain int() would drop pairs whose
    # Jaccard equals the threshold exactly. Nudge up before truncating:
    # overshooting by one band key only adds pruned candidates (the
    # jac >= threshold conjunct is exact); undershooting loses pairs.
    d_max = int((1 - _t_lo(threshold)) * len(vocab) + 1e-9)
    ga = groups.alias("ga")
    gb = (
        groups.select(
            "m",
            "sz",
            F.explode(
                F.array(*[F.lit(k) for k in range(d_max + 1)])
            ).alias("k"),
        )
        .withColumn("band", F.col("sz") - F.col("k"))
        .alias("gb")
    )
    inter = F.bit_count(F.col("ga.m").bitwiseAND(F.col("gb.m")))
    union = F.bit_count(F.col("ga.m").bitwiseOR(F.col("gb.m")))
    jac = F.round(inter.cast("double") / union.cast("double"), 6)
    # canonical once-per-pair: equal sizes order by mask, unequal sizes
    # are already oriented (k>0 ⇒ ga.sz < gb.sz)
    once = ((F.col("gb.k") == 0) & (F.col("ga.m") < F.col("gb.m"))) | (
        F.col("gb.k") > 0
    )
    mask_pairs = (
        ga.join(
            gb,
            (F.col("ga.sz") == F.col("gb.band")) & once & (jac >= threshold),
        )
        .select(F.col("ga.m").alias("ma"), F.col("gb.m").alias("mb"), jac.alias("jaccard"))
    )
    members_a = masked.select(F.col("m").alias("ma"), F.col("id").alias("id_x"))
    members_b = masked.select(F.col("m").alias("mb"), F.col("id").alias("id_y"))
    cross = (
        mask_pairs.join(members_a, "ma")
        .join(members_b, "mb")
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
            "jaccard",
        )
    )
    # intra-mask pairs: identical non-empty sets are J = 1.0 by
    # definition (empty∪empty = ∅ → the oracle's 0/0 is NULL and the
    # pair is dropped — mirror that by excluding mask 0).
    ia = masked.filter(F.col("m") != 0).alias("ia")
    ib = masked.filter(F.col("m") != 0).alias("ib")
    within = (
        ia.join(
            ib,
            (F.col("ia.m") == F.col("ib.m")) & (F.col("ia.id") < F.col("ib.id")),
        )
        .select(
            F.col("ia.id").alias("id_a"),
            F.col("ib.id").alias("id_b"),
            F.round(F.lit(1.0), 6).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# asymmetric set containment (sub-document duplication)
# ---------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All DIRECTED pairs (id_a, id_b, containment) with token-set
    containment C(A,B) = |A∩B| / |A| ≥ threshold, id_a ≠ id_b, A
    non-empty. Containment is the ASYMMETRIC near-dup measure: a short
    quote fully inside a long page scores C≈1 while its Jaccard is tiny
    — the shape that catches sub-document duplication (boilerplate
    embedded in pages, quoted snippets, page-in-crawl supersets).
    Quadratic — the exactness oracle for the filtered variants below,
    not the scale path.

    Size prefilter (sound): |A∩B| ≤ |B|, so C ≥ t ⇒ |B| ≥ t·|A|. The
    integer predicate prunes before the array intersection runs (same
    discipline as ngram_jaccard_pairs)."""
    toks = df.select(
        F.col(id_col).alias("id"), token_set(F.col(text_col)).alias("toks")
    ).withColumn("sz", F.size("toks"))
    a = toks.filter(F.col("sz") > 0).alias("a")
    b = toks.alias("b")
    cont = F.round(
        F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks"))).cast(
            "double"
        )
        / F.col("a.sz").cast("double"),
        6,
    )
    compatible = F.col("b.sz").cast("double") >= F.lit(
        _t_lo(threshold)
    ) * F.col("a.sz").cast("double")
    return a.join(
        b,
        (F.col("a.id") != F.col("b.id")) & compatible & (cont >= threshold),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        cont.alias("containment"),
    )


def containment_prefix_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT containment pairs ≥ threshold — same output as
    containment_pairs, but O(docs × prefix) candidates instead of
    O(docs²) (the asymmetric variant of PPJoin prefix filtering).

    Principle: C(A,B) ≥ t needs overlap α = ⌈t·|A|⌉. Order A's tokens
    by one global rare-first total order; if NO token of A's first
    |A| − α + 1 survives in B, the intersection fits inside A's last
    α − 1 positions — too small. So only the CONTAINED side emits a
    prefix; the container side must index ALL its tokens (the bound
    constrains |A| only — that asymmetry is what makes the measure
    directional). Candidates bucket-join on the token, then verify
    exactly. Shuffle cost stays linear in corpus tokens; the b-side
    full index is the price of asymmetry (PPJoin pays it too for
    overlap joins)."""
    toks = df.select(
        F.col(id_col).alias("id"), token_set(F.col(text_col)).alias("toks")
    ).withColumn("sz", F.size("toks"))

    tok_rows = toks.select("id", "sz", F.explode("toks").alias("tok"))
    dfreq = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        tok_rows.join(dfreq, "tok")
        .groupBy("id", "sz")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("ord"))
    )
    # α = ⌈t·sz⌉ with the 1e-9 nudge (see jaccard_prefix_pairs: binary
    # float overshoot must never shorten the prefix)
    alpha = F.ceil(F.lit(_t_lo(threshold)) * F.col("sz") - F.lit(1e-9))
    prefix_len = (F.col("sz") - alpha + 1).cast("int")
    pref = ordered.select(
        "id",
        "sz",
        F.explode(
            F.transform(
                F.slice(F.col("ord"), F.lit(1), prefix_len), lambda s: s["tok"]
            )
        ).alias("tok"),
    )

    a, b = pref.alias("a"), tok_rows.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") != F.col("b.id"))
            # container must be large enough to hold t·|A| shared tokens
            & (
                F.col("b.sz").cast("double")
                >= F.lit(_t_lo(threshold)) * F.col("a.sz").cast("double")
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    va = toks.select(F.col("id").alias("id_a"), F.col("toks").alias("t_a"))
    vb = toks.select(F.col("id").alias("id_b"), F.col("toks").alias("t_b"))
    cont = F.round(
        F.size(F.array_intersect(F.col("t_a"), F.col("t_b"))).cast("double")
        / F.size(F.col("t_a")).cast("double"),
        6,
    )
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


_OPEN_VOCAB = "open"


def _containment_masks(
    df: DataFrame,
    threshold: float,
    text_col: str,
    id_col: str,
    max_vocab: int,
):
    """Shared closed-vocab machinery for the containment family:
    plan-time vocab probe, bitmask dictionary encoding, and the
    size-band join producing QUALIFYING DISTINCT-MASK pairs
    (ma contained-in mb at ≥ threshold, ma ≠ mb).

    Returns `_OPEN_VOCAB` when the probe finds > max_vocab tokens
    (callers fall back to prefix filtering), `None` for an empty
    corpus, else (masked(id, m), groups(m, n, sz), mask_pairs(ma, mb,
    containment)).

    Candidate pruning: C ≥ t ⇒ bc(b) ≥ ⌈t·bc(a)⌉, so each
    contained-side mask joins only container sizes in [⌈t·sz_a⌉,
    |vocab|] — the a-side replicates across its allowed size band
    (≤ |vocab| keys of a KB-scale distinct-mask table) and the join is
    a codegen'd HASH join on the size key, never an interpreted nested
    loop. ⌈t·sz_a⌉ uses the 1e-9 nudge so binary-float overshoot can't
    raise the ceiling past its mathematical value (too high loses
    threshold-exact pairs; too low only adds candidates the exact
    conjunct prunes)."""
    toks = df.select(
        F.col(id_col).alias("id"), token_set(F.col(text_col)).alias("toks")
    )
    vocab = [
        r["tok"]
        for r in toks.select(F.explode("toks").alias("tok"))
        .distinct()
        .limit(max_vocab + 1)
        .collect()
    ]
    if len(vocab) > max_vocab:
        return _OPEN_VOCAB
    if not vocab:
        return None

    mask = None
    for i, t in enumerate(sorted(vocab)):
        # bit 63 = the long sign bit; same two's-complement weight as
        # jaccard_bitset_pairs (bit ops are sign-indifferent)
        weight = (1 << i) if i < 63 else -(1 << 63)
        term = F.when(
            F.array_contains(F.col("toks"), t), F.lit(weight).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        mask = term if mask is None else mask + term
    masked = toks.select("id", mask.alias("m")).localCheckpoint(eager=False)
    groups = masked.groupBy("m").agg(F.count(F.lit(1)).alias("n")).withColumn(
        "sz", F.bit_count(F.col("m"))
    )

    n_vocab = len(vocab)
    ga = (
        groups.filter(F.col("sz") > 0)
        .select(
            "m",
            "sz",
            F.explode(
                F.sequence(
                    F.ceil(
                        F.lit(_t_lo(threshold)) * F.col("sz").cast("double")
                        - F.lit(1e-9)
                    ).cast("int"),
                    F.lit(n_vocab),
                )
            ).alias("band"),
        )
        .alias("ga")
    )
    gb = groups.alias("gb")
    cont = F.round(
        F.bit_count(F.col("ga.m").bitwiseAND(F.col("gb.m"))).cast("double")
        / F.col("ga.sz").cast("double"),
        6,
    )
    mask_pairs = (
        ga.join(
            gb,
            (F.col("gb.sz") == F.col("ga.band"))
            & (F.col("ga.m") != F.col("gb.m"))
            & (cont >= threshold),
        )
        .select(
            F.col("ga.m").alias("ma"),
            F.col("gb.m").alias("mb"),
            cont.alias("containment"),
        )
    )
    return masked, groups, mask_pairs


def containment_bitset_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_vocab: int = 64,
) -> DataFrame:
    """EXACT containment pairs ≥ threshold for closed vocabularies
    (≤ max_vocab distinct tokens): dictionary-encode token sets to
    bitmasks (the jaccard_bitset_pairs encoding), compare DISTINCT
    masks with popcount containment bc(a&b)/bc(a) via the size-band
    hash join (_containment_masks), expand qualifying mask pairs
    through the membership lists. Falls back to
    containment_prefix_pairs on an open vocabulary (same plan-time
    vocab probe). Equal masks short-circuit to containment 1.0 both
    directions (mask 0 excluded: 0/0 is not a pair). Exactness: pinned
    equal to containment_pairs and containment_prefix_pairs in
    tests/test_dedup.py.

    Output-size bound (duplicate-heavy corpora): a group of G docs
    sharing one identical mask is semantically G·(G−1) ordered pairs —
    the `within` branch emits exactly that, so the PAIR form's output
    is quadratic in the largest duplicate group BY DEFINITION, not by
    plan accident (pinned in test_containment_duplicate_heavy_bound).
    When the downstream question is per-doc ("how contained is this
    doc"), use containment_stats: it aggregates at the distinct-mask
    level BEFORE any expansion, so duplicate-heavy corpora cost
    O(distinct masks² + docs), never O(pairs)."""
    res = _containment_masks(df, threshold, text_col, id_col, max_vocab)
    if res == _OPEN_VOCAB:
        return containment_prefix_pairs(df, threshold, text_col, id_col)
    if res is None:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, containment double"
        )
    masked, _groups, mask_pairs = res
    members_a = masked.select(F.col("m").alias("ma"), F.col("id").alias("id_a"))
    members_b = masked.select(F.col("m").alias("mb"), F.col("id").alias("id_b"))
    cross = (
        mask_pairs.join(members_a, "ma")
        .join(members_b, "mb")
        .select("id_a", "id_b", "containment")
    )
    # identical non-empty sets: containment 1.0, BOTH directions
    ia = masked.filter(F.col("m") != 0).alias("ia")
    ib = masked.filter(F.col("m") != 0).alias("ib")
    within = (
        ia.join(
            ib,
            (F.col("ia.m") == F.col("ib.m"))
            & (F.col("ia.id") != F.col("ib.id")),
        )
        .select(
            F.col("ia.id").alias("id_a"),
            F.col("ib.id").alias("id_b"),
            F.round(F.lit(1.0), 6).alias("containment"),
        )
    )
    return cross.unionByName(within)


def containment_stats(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_vocab: int = 64,
) -> DataFrame:
    """(id_col, n_containers, best_containment) — the per-contained-doc
    AGGREGATE of the directed containment pair set, computed WITHOUT
    ever materializing doc pairs on the closed-vocab path: every doc
    with the same mask has identical stats, so the counting happens
    over the tiny distinct-mask pair table (Σ n(mb) containers, max
    containment; identical non-empty masks contribute n(m)−1 containers
    at 1.0) and only then fans out to ids through ONE membership join.
    A duplicate-heavy corpus that would expand to millions of directed
    pairs costs O(distinct-mask pairs) instead — aggregate before
    expand, the same discipline as the mask encoding itself. Open
    vocabulary falls back to prefix-filtered pairs + a hash aggregate.
    Pinned equal to containment_bitset_pairs(...).groupBy(id_a) on both
    sides of the vocab cutover in tests/test_dedup.py."""
    agg_cols = [
        F.count(F.lit(1)).alias("n_containers"),
        F.max("containment").alias("best_containment"),
    ]
    res = _containment_masks(df, threshold, text_col, id_col, max_vocab)
    if res == _OPEN_VOCAB:
        pairs = containment_prefix_pairs(df, threshold, text_col, id_col)
        return pairs.groupBy(F.col("id_a").alias(id_col)).agg(*agg_cols)
    if res is None:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, n_containers long, best_containment double"
        )
    masked, groups, mask_pairs = res
    per_mask = (
        mask_pairs.join(
            groups.select(F.col("m").alias("mb"), F.col("n").alias("nb")),
            "mb",
        )
        .groupBy("ma")
        .agg(
            F.sum("nb").alias("others_n"),
            F.max("containment").alias("others_best"),
        )
    )
    g = (
        groups.filter(F.col("m") != 0)
        .join(per_mask, groups["m"] == per_mask["ma"], "left")
        .select(
            "m",
            (
                F.coalesce(F.col("others_n"), F.lit(0)) + F.col("n") - 1
            ).alias("n_containers"),
            # containment never exceeds 1.0, so a duplicated mask's best
            # is exactly the identical-pair score
            F.when(F.col("n") >= 2, F.round(F.lit(1.0), 6))
            .otherwise(F.col("others_best"))
            .alias("best_containment"),
        )
        .filter(F.col("n_containers") >= 1)
    )
    return g.join(masked, "m").select(
        F.col("id").alias(id_col), "n_containers", "best_containment"
    )


def _gram_string_rows(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, nt, gpos, gram) — positioned token n-gram STRING rows,
    built with ONE sliding window of lead() calls over the exploded
    token stream instead of word_grams' n-way arrays_zip: measured
    5.4x faster at n=13 / sf0.1 (0.74 s vs 3.99 s, bit-identical
    output) because the zip form runs n layers of interpreted array
    HOFs per document while the window shape is one shuffle-by-doc +
    one sort + JVM lead()s. The shuffle is hash by doc id (parallel,
    skew-free beyond document length) and linear in corpus tokens —
    the right trade at 100 TB where the HOF CPU dominates.
    word_grams' conventions are preserved: docs shorter than n yield
    one gram of all their tokens (concat_ws skips the null leads),
    and zero-token docs yield one '' gram (union branch)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0
    )
    base = df.select(F.col(id_col).alias("id"), toks.alias("t"))
    tokpos = base.select(
        "id", F.size("t").alias("nt"), F.posexplode("t").alias("tpos", "tok")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("tpos")
    gram = F.concat_ws(
        " ", F.col("tok"), *[F.lead("tok", k).over(w) for k in range(1, n)]
    )
    rows = (
        tokpos.withColumn("gram", gram)
        .filter(
            (F.col("tpos") <= F.col("nt") - n)
            | ((F.col("nt") < n) & (F.col("tpos") == 0))
        )
        .select("id", "nt", F.col("tpos").alias("gpos"), "gram")
    )
    empties = base.filter(F.size("t") == 0).select(
        "id",
        F.lit(0).cast("int").alias("nt"),
        F.lit(0).cast("int").alias("gpos"),
        F.lit("").alias("gram"),
    )
    return rows.unionByName(empties)


def _gram_hash_rows(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    hash_fn: str,
) -> DataFrame:
    """(id, nt, gpos, h) — _gram_string_rows with the gram hashed
    (the duplicated-span family's working shape: 60/64-bit hashes
    shuffle instead of gram strings)."""
    return _gram_string_rows(df, n, text_col, id_col).select(
        "id", "nt", "gpos", token_hash(F.col("gram"), hash_fn).alias("h")
    )


def duplicated_ngram_spans(
    df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document duplicated-span profile at token n-gram granularity:
    (id, n_grams, n_dup_grams, dup_frac), where a gram is "duplicated"
    if its hash occurs in ≥2 DISTINCT documents — the substring-level
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), at the 13-gram granularity the Gopher /
    GPT-3 decontamination pipelines standardized.

    Shape at 100 TB: one explode (≈ tokens-per-doc rows), the windowed
    gram builder (_gram_hash_rows), a two-phase distinct-count agg on
    the 60-bit gram hash (uniform shuffle key), and a per-doc agg.
    Everything linear in corpus tokens; no quadratic pairs anywhere.
    Docs shorter than n follow word_grams' one-gram-of-all-tokens
    convention so every doc gets a row.
    """
    from pyspark.sql import Window

    grams = _gram_hash_rows(df, n, text_col, id_col, hash_fn).select("id", "h")
    # single pass over the gram rows: collapse to (doc, hash) counts,
    # then "how many docs share this hash" is a count over the hash
    # partition of the collapsed table — no second evaluation of the
    # tokenize→gram→hash chain and no self-join against a dup set.
    lvl = grams.groupBy("id", "h").agg(F.count(F.lit(1)).alias("c"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        lvl.withColumn("nd", nd)
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
        .withColumn(
            "dup_frac",
            F.col("n_dup_grams").cast("double") / F.col("n_grams").cast("double"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, n_tokens, n_removed, clean_text) — the duplicated-span
    REMOVAL action to duplicated_ngram_spans' profile: every token
    covered by at least one cross-document duplicated n-gram (hash in
    ≥2 distinct docs — Lee et al. 2022 exact-substring dedup at the
    13-gram granularity) is dropped, and the document is re-joined from
    the surviving tokens in order. clean_text is whitespace-normalized
    (single spaces) — the standard output of a token-level scrubber.

    Shape at 100 TB: one gram explode + distinct-doc count on the
    uniform 60/64-bit gram hash (same two-phase agg as the profile), a
    hash join of gram occurrences against the duplicated-hash set, a
    sequence-explode of covered token positions bounded by n × (dup
    occurrences) — sparse when the corpus is mostly clean — and one
    ordered per-doc reassembly aggregate. No pairs, nothing quadratic.
    Docs shorter than n follow word_grams' one-gram convention: if that
    whole-doc gram is duplicated, the entire document is scrubbed.
    The token and gram tables are lazily checkpointed — each feeds two
    consumers (dup-count + covered join; reassembly + final fan-out),
    and without the barrier the gram build runs twice (measured 7.0 s
    -> 4.9 s at sf0.1, before the windowed gram builder's further cut)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0
    )
    base = df.select(F.col(id_col).alias("id"), toks.alias("t")).localCheckpoint(
        eager=False
    )
    tokpos = base.select(
        "id", F.posexplode("t").alias("tpos", "tok")
    )
    grams = _gram_hash_rows(df, n, text_col, id_col, hash_fn).localCheckpoint(
        eager=False
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    covered = (
        grams.join(dup, "h")
        .select(
            "id",
            F.explode(
                F.sequence(
                    F.col("gpos"),
                    F.greatest(
                        F.least(F.col("gpos") + F.lit(n - 1), F.col("nt") - 1),
                        F.col("gpos"),
                    ),
                )
            ).alias("tpos"),
        )
        .distinct()
    )
    kept = tokpos.join(covered, ["id", "tpos"], "left_anti")
    agg = kept.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select("id", F.size("t").cast("long").alias("n_tokens"))
        .join(agg, "id", "left")
        .select(
            "id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def remove_duplicated_spans_keep_one(
    df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, n_tokens, n_removed, clean_text) — Lee et al. 2022's ACTUAL
    removal semantics: of each duplicated substring's occurrences, keep
    ONE and scrub the rest (§4 of the paper: "we remove all but one"),
    where remove_duplicated_spans scrubs every occurrence (a stricter
    decontamination-style policy that loses the content entirely). The
    canonical occurrence of a duplicated n-gram is its first in corpus
    order — min (doc_id, position) — a deterministic choice both
    engines can derive; every NON-canonical occurrence's token window
    is scrubbed. A canonical occurrence can still lose tokens to a
    DIFFERENT gram's non-canonical overlap in the same document — the
    same approximation the paper accepts for overlapping duplicate
    clusters.

    Shape at 100 TB: identical to remove_duplicated_spans plus one
    min-struct per gram hash (rides the same two-phase agg that counts
    distinct docs — no extra shuffle), and the covered explode now
    skips the canonical occurrences. Linear in corpus tokens."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0
    )
    base = df.select(F.col(id_col).alias("id"), toks.alias("t")).localCheckpoint(
        eager=False
    )
    tokpos = base.select("id", F.posexplode("t").alias("tpos", "tok"))
    grams = _gram_hash_rows(df, n, text_col, id_col, hash_fn).localCheckpoint(
        eager=False
    )
    canon = (
        grams.groupBy("h")
        .agg(
            F.count_distinct("id").alias("nd"),
            F.min(F.struct("id", "gpos")).alias("c"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", F.col("c.id").alias("cid"), F.col("c.gpos").alias("cpos"))
    )
    removable = grams.join(canon, "h").filter(
        ~((F.col("id") == F.col("cid")) & (F.col("gpos") == F.col("cpos")))
    )
    covered = removable.select(
        "id",
        F.explode(
            F.sequence(
                F.col("gpos"),
                F.greatest(
                    F.least(F.col("gpos") + F.lit(n - 1), F.col("nt") - 1),
                    F.col("gpos"),
                ),
            )
        ).alias("tpos"),
    ).distinct()
    kept = tokpos.join(covered, ["id", "tpos"], "left_anti")
    agg = kept.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select("id", F.size("t").cast("long").alias("n_tokens"))
        .join(agg, "id", "left")
        .select(
            "id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def duplicated_suffix_spans(
    df: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, n_spans, covered_tokens, max_span, covered_frac)
    — MAXIMAL duplicated-span profile by the sorted-suffix-window
    method: the distributed approximation of Lee et al. 2022's
    suffix-array exact-substring dedup (§4.1 of the paper — build the
    suffix array, take adjacent equal prefixes ≥ the threshold). A
    duplicated substring of ≥ k tokens necessarily contains a
    duplicated k-token window, so (1) every k-token window (a
    length-k-truncated suffix) is materialized with its position,
    (2) windows are brought together BY EXACT CONTENT — the shuffle
    realizes what the suffix sort's adjacency realizes, with no hash
    collisions, the fidelity difference vs the 13-gram HASH profile
    (duplicated_ngram_spans) — and windows equal across ≥2 distinct
    docs become seeds, (3) per doc, seed-covered token positions merge
    into MAXIMAL spans by run detection (pos − row_number islands):
    the suffix-array output a scrubber wants, where one planted
    200-token duplicate reports as ONE span of 200, not 188 anonymous
    duplicated gram slots (receipted in SUFFIX_SPANS_AB_r13.json).

    Shape at 100 TB: one gram window build (shuffle by doc), one
    content-keyed two-phase agg (map-side combine collapses each
    partition's repeats before the exchange; at production scale the
    same plan runs over (hash, window) pairs to halve shuffle bytes,
    with exact verify on the colliding runs), a semi-join of windows
    against the duplicated set, a bounded sequence-explode of covered
    positions, and per-doc islands over doc-local windows. Linear in
    corpus tokens; nothing quadratic, no global sort. Docs shorter
    than k follow word_grams' one-gram convention (whole-doc window);
    empty docs report zeros."""
    from pyspark.sql import Window

    grams = _gram_string_rows(df, k, text_col, id_col).localCheckpoint(
        eager=False
    )
    dup = (
        grams.filter(F.col("nt") > 0)
        .groupBy("gram")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select(
            "id",
            F.explode(
                F.sequence(
                    F.col("gpos"),
                    F.greatest(
                        F.least(
                            F.col("gpos") + F.lit(k - 1), F.col("nt") - 1
                        ),
                        F.col("gpos"),
                    ),
                )
            ).alias("pos"),
        )
        .distinct()
    )
    w = Window.partitionBy("id").orderBy("pos")
    spans = (
        covered.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("id", "grp")
        .agg(F.count(F.lit(1)).alias("span_len"))
    )
    prof = spans.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("covered_tokens"),
        F.max("span_len").alias("max_span"),
    )
    n_tok = F.size(
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\s+"),
            lambda t: F.length(t) > 0,
        )
    )
    base = df.select(
        F.col(id_col).alias("id"), n_tok.cast("long").alias("n_tokens")
    )
    return base.join(prof, "id", "left").select(
        "id",
        "n_tokens",
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("covered_tokens", F.lit(0))
        .cast("long")
        .alias("covered_tokens"),
        F.coalesce("max_span", F.lit(0)).cast("long").alias("max_span"),
        F.when(F.col("n_tokens") > 0,
               F.coalesce("covered_tokens", F.lit(0)).cast("double")
               / F.col("n_tokens").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("covered_frac"),
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH (the scale path for near-dup)
# ---------------------------------------------------------------------------


# Mersenne prime 2^31-1: affine transforms (a*h + b) mod P stay under
# 2^62, safe in long arithmetic even with ANSI overflow checks on.
_MINHASH_P = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MINHASH_P), rng.randrange(0, _MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 128,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<long>[num_hashes]) — universal-hash MinHash:
    each shingle is xxhash64'd ONCE, then num_hashes affine transforms
    (a_i*h + b_i) mod P with array_min give the signature. A single
    narrow projection: no explode, no groupBy, no shuffle — signatures
    compute at scan speed regardless of num_hashes."""
    coeffs = _minhash_coeffs(num_hashes)
    # explode + one codegen'd xxhash per shingle row, then num_hashes
    # cheap affine min-aggregates on that single long. (Array
    # higher-order functions are interpreted per element in Spark —
    # folding the transforms into aggregate/zip_with benches ~3× slower
    # than this shape; and hashing inside the agg expressions would be
    # recomputed per aggregate by projection collapse.)
    sh = shingles_df if shingles_df is not None else df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_n).alias("shingles"),
    )
    hashed = sh.select(
        "id", F.explode("shingles").alias("s")
    ).select("id", F.pmod(F.xxhash64("s"), F.lit(_MINHASH_P)).alias("h"))
    mins = hashed.groupBy("id").agg(
        *[
            F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MINHASH_P))).alias(
                f"m{i}"
            )
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    return mins.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def _band_rows(sigs: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, band, bucket): one row per (doc, band); bucket = xxhash64 of
    the band's r signature slots. The banded-LSH probe key shared by
    the one-shot pair finder and the persisted incremental index —
    ONE definition so an index written yesterday matches probes
    computed today."""
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",", *[F.col("sig")[b * r + j] for j in range(r)]
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold on word
    shingles), found via banded LSH and verified exactly.

    rows-per-band r = num_hashes / bands; candidate probability for true
    similarity s is 1-(1-s^r)^b. Defaults (r=4, b=32) catch s=0.8 with
    P≈0.999. Shuffle: docs×bands band-key rows + the candidate verify
    join — never all-pairs.
    """
    r = num_hashes // bands
    # one shared, materialized shingle table feeds both the signatures
    # and the exact-jaccard verification — shingling runs once, not
    # twice. localCheckpoint, not .cache(): cached plans register in the
    # session CacheManager until explicitly unpersisted, so repeated
    # operator calls in a long session accumulate storage; checkpointed
    # blocks free themselves when the DataFrame is garbage-collected.
    # eager=False, measured (sf0.1, local[32]): eager=True runs a
    # synchronous materialization job per checkpoint BEFORE the real
    # query, which r4's bench paid on every invocation (1.37 s -> 2.69 s
    # driver; 3.8 s -> 3.2 s best-of-2 local after this change, clusters
    # 8.3 s -> 6.8 s). Lazy keeps cache()-equivalent cost — blocks
    # materialize inside the first job that touches them — while still
    # truncating lineage for iterative consumers (pairs_to_clusters).
    # Cluster caveat (not local mode): localCheckpoint blocks don't
    # survive executor loss; at real cluster scale prefer reliable
    # checkpoint dirs for multi-hour jobs.
    shing = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_n).alias("shingles"),
    ).localCheckpoint(eager=False)
    # barrier on the signatures too: for THIS operator alone it is
    # neutral (measured 2.35 s with vs 2.31 s without, sf0.1
    # steady-state), but the iterative consumers depend on it —
    # pairs_to_clusters / the training pipeline re-traverse the pairs
    # lineage per pointer-jumping round, and without this barrier the
    # full bench measured clusters 5.3 s -> 9.3 s and the pipeline
    # 5.7 s -> 10.4 s. Historical note: r2's apparent 1.37 s for this
    # operator is not reproducible by any measured variant — even
    # forcing full CacheManager reuse of the shingle table (the r2-era
    # .cache() leak shape) only recovers the shingle-scan slice; the
    # rest of the delta is cross-container compute spread. Full
    # stage-level attribution, alternative-plan timings, and the leak
    # reproduction live in MINHASH_PROFILE.json
    # (tools/profile_minhash.py); honest floor at sf0.1 is ~2.0-2.5 s.
    sigs = minhash_signatures(
        df, num_hashes, shingle_n, text_col, id_col, shingles_df=shing
    ).localCheckpoint(eager=False)
    band_rows = _band_rows(sigs, bands, r)

    a = band_rows.alias("a")
    b_ = band_rows.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    return (
        candidates.join(
            shing.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            shing.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(_jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def token_hash(tok: Column, hash_fn: str = "xxhash64") -> Column:
    """64-bit (or 60-bit) token hash.

    'xxhash64' is the production default (fastest, pure JVM). 'md5_60'
    takes the first 15 hex chars of md5 as a 60-bit long — slightly
    slower but reproducible in DuckDB (('0x'||substr(md5(t),1,15))::
    BIGINT), which makes simhash cross-engine verifiable."""
    if hash_fn == "xxhash64":
        return F.xxhash64(tok)
    if hash_fn == "md5_60":
        return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn: {hash_fn}")


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    bits: int = 64,
) -> DataFrame:
    """(id, simhash: long) — SimHash over `bits` bits: each distinct
    token votes ±1 on every bit of hash(token); bit set iff the vote is
    positive. bits=60 pairs with hash_fn='md5_60' (15 hex chars)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(token_set(F.col(text_col))).alias("tok"),
    ).withColumn("h", token_hash(F.col("tok"), hash_fn))
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    sig = None
    for i in range(bits):
        term = F.when(
            F.col(f"v{i}") > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig.bitwiseOR(term)
    return votes.select("id", sig.alias("simhash"))


def hamming_band_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    chunks: int = 4,
    bits: int = 64,
    id_col: str = "id",
    sig_col: str = "sig",
) -> DataFrame:
    """Pairs (id_a < id_b, hamming ≤ max_hamming) over ANY long bit
    signature (SimHash, pHash, …), via pigeonhole chunk banding: with
    `chunks` equal-width pieces, any pair within hamming distance
    < chunks shares at least one exact piece — recall is 100%
    (requires max_hamming < chunks), and the join is a bucket join,
    not all-pairs.

    Scale tuning: piece width = bits/chunks bounds bucket occupancy at
    |corpus| / 2^width expected per (chunk, piece) bucket, so widen
    pieces (fewer chunks) as the corpus grows and the needed radius
    allows — 4×16-bit chunks (radius ≤ 3) give 65 536 buckets per
    chunk; 8×8-bit chunks (radius ≤ 7) only 256, quadratic inside each
    at billions of rows. For large radii at large scale the published
    fix is recursive pigeonhole over sub-chunks (multi-index hashing,
    Norouzi et al. 2012) — same plan shape, one more banding level."""
    if max_hamming >= chunks:
        raise ValueError("pigeonhole completeness needs max_hamming < chunks")
    width = bits // chunks
    mask = (1 << width) - 1
    pieces = sigs.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col(sig_col), c * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("piece"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cp"),
    ).select("id", "sig", "cp.chunk", "cp.piece")

    a = pieces.alias("a")
    b = pieces.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.piece") == F.col("b.piece"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.sig").bitwiseXOR(F.col("b.sig"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    chunks: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    bits: int = 64,
) -> DataFrame:
    """Pairs (id_a < id_b, hamming ≤ max_hamming) on SimHash — the
    text instance of hamming_band_pairs' pigeonhole banding."""
    sigs = simhash_signatures(df, text_col, id_col, hash_fn, bits)
    return hamming_band_pairs(
        sigs, max_hamming, chunks, bits, id_col="id", sig_col="simhash"
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    ))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, computed in
    double precision (elements are cast before multiply)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def embedding_near_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b, cosine ≥ threshold). All-pairs verify — the
    small-slice / verification tool; the bucketed scale path is
    operators/similarity.py (random-hyperplane LSH).

    When `dim` is given (all testdata embeddings are dim-64), the dot
    product unrolls to `dim` codegen'd multiply-adds instead of the
    interpreted zip_with/aggregate HOF pair — ~1.4× wall at sf0.1 with
    bit-identical results (same left-to-right summation order)."""
    with_norm = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", _norm(F.col("v")))
    a = with_norm.alias("a")
    b = with_norm.alias("b")
    if dim is None:
        dot = _dot(F.col("a.v"), F.col("b.v"))
    else:
        dot = None
        for i in range(dim):
            term = F.col("a.v").getItem(i) * F.col("b.v").getItem(i)
            dot = term if dot is None else dot + term
    cos = F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 6)
    return a.join(b, (F.col("a.id") < F.col("b.id")) & (cos >= threshold)).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        cos.alias("cos"),
    )


# the one-block GEMM kernel collects its input to the driver: hard-cap
# the collected rows (VERDICT r4 #1)
_MAX_ONE_BLOCK_ROWS = 250_000


def embedding_near_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Same output as embedding_near_pairs (id_a < id_b, round-6 cosine
    ≥ threshold), computed as a BLOCKED GEMM instead of a pair-join:
    one side broadcasts as a dense float64 matrix, each Arrow batch of
    the other side multiplies against it in numpy and emits qualifying
    pairs. The expression-join form pays an interpreted nested-loop
    row-copy per pair (~3M array copies at sf0.1 = 11 s); this is the
    same arithmetic at BLAS-register speed (~0.3 s).

    Float parity with the SQL oracle: the k-loop accumulates dim-wise
    (C += outer(A_k, B_k)) so every dot product sums in index order —
    bit-identical to DuckDB's sequential list_cosine_similarity and to
    the unrolled Spark expression; rounding is half-up via
    floor(x*1e6 + 0.5) (np.round is half-even, Spark/DuckDB are not).

    Scale: the broadcast side is the audit slice (bounded by design —
    this is the verification form; LSH/IVF are the retrieval paths).
    For two large sides, tile BOTH (grid of block pairs), same kernel.
    """
    import numpy as np
    import pandas as pd

    pdf = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).toPandas()
    # this kernel collects its input to the driver — callers must bound
    # the slice (the contract entry feeds a hash half-slice). Fail
    # loudly on misuse rather than OOM the driver, pointing at a scale
    # form of the SAME operation (threshold near-PAIRS, not top-k): the
    # bucketed pair finders, not knn_join_tiled (r5 self-review finding)
    if len(pdf) > _MAX_ONE_BLOCK_ROWS:
        raise ValueError(
            f"embedding_near_pairs_blocked collected {len(pdf)} rows to "
            f"the driver (max {_MAX_ONE_BLOCK_ROWS}); use "
            "semantic_bucket_pairs / minhash_lsh_pairs (bucketed near-pair "
            "finders; knn_join_tiled computes top-k, a different operation) "
            "for large inputs"
        )
    if len(pdf) == 0:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cos double"
        )
    ids = pdf["id"].to_numpy(dtype=np.int64)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
    dim = mat.shape[1]
    nrm_sq = np.zeros(len(ids))
    for k in range(dim):  # index-order accumulation (see docstring)
        nrm_sq += mat[:, k] * mat[:, k]
    nrm = np.sqrt(nrm_sq)

    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)
    b_nrm = spark.sparkContext.broadcast(nrm)

    def gen(batches):
        all_ids, all_mat, all_nrm = b_ids.value, b_mat.value, b_nrm.value
        for batch in batches:
            if len(batch) == 0:
                continue
            a_ids = batch["id"].to_numpy(dtype=np.int64)
            a = np.stack(
                [np.asarray(v, dtype=np.float64) for v in batch["v"]]
            )
            a_nrm_sq = np.zeros(len(a_ids))
            for k in range(dim):
                a_nrm_sq += a[:, k] * a[:, k]
            a_nrm = np.sqrt(a_nrm_sq)
            c = np.zeros((len(a_ids), len(all_ids)))
            for k in range(dim):
                c += np.outer(a[:, k], all_mat[:, k])
            cos = np.floor(c / np.outer(a_nrm, all_nrm) * 1e6 + 0.5) / 1e6
            keep = (a_ids[:, None] < all_ids[None, :]) & (cos >= threshold)
            ii, jj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ii],
                    "id_b": all_ids[jj],
                    "cos": cos[ii, jj],
                }
            )

    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).mapInPandas(
        gen, "id_a long, id_b long, cos double"
    )


def semantic_bucket_pairs(
    df: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic near-dup pairs (Abbas et al. 2023):
    partition the embedding space into clusters, compare pairs ONLY
    within a cluster. Clusters here are deterministic random-hyperplane
    sign buckets (len(planes) bits), so the whole pipeline — bucket
    assignment included — is reproducible in plain SQL; SemDeDup's
    k-means clusters are the quality upgrade (see similarity.ivf_*),
    the comparison topology is identical.

    Output: (bucket, id_a < id_b, cos ≥ threshold). By design this
    misses cross-bucket pairs — that is the SemDeDup trade: within-
    cluster quadratic cost bounded by bucket size, total work
    Σ|bucket|² ≈ n²/2^planes, with n_planes chosen so the expected
    bucket fits memory (log2(n/target) planes at 100 TB, and the
    bucketed table written partitionBy(bucket) so each comparison task
    reads one partition)."""
    from poc_spark.operators.similarity import add_hyperplane_buckets

    bucketed = add_hyperplane_buckets(df, planes, vec_col).select(
        F.col(id_col).alias("id"),
        F.col("bucket"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", _norm(F.col("v")))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    if dim is None:
        dot = _dot(F.col("a.v"), F.col("b.v"))
    else:
        dot = None
        for i in range(dim):
            term = F.col("a.v").getItem(i) * F.col("b.v").getItem(i)
            dot = term if dot is None else dot + term
    cos = F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 6)
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id"))
            & (cos >= threshold),
        )
        .select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cos.alias("cos"),
        )
    )


def semdedup_prune(
    index_df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_col: str = "centroid",
) -> DataFrame:
    """SemDeDup with REAL k-means clusters (Abbas et al. 2023, the
    published form — semantic_bucket_pairs is the hyperplane-bucket
    variant): given an assigned IVF index (vec, cluster) and its
    centroids, drop every vector that has a cosine-≥-threshold
    neighbor of HIGHER KEEP PRIORITY in the SAME cluster, where
    priority follows the paper's rule — keep the duplicate-group
    member with the LOWEST similarity to its cluster centroid (ties
    broken by id, making the whole decision deterministic). Returns
    the kept set (id, centroid, cos_c).

    Shape at 100 TB: centroids broadcast (k rows), cluster assignment
    is already materialized in the index, and the only join is the
    within-cluster self-join on the cluster key — SemDeDup's defining
    trade: Σ|cluster|² comparisons instead of n², bounded by fitting
    k to n/target_cluster_size at build time (build_ivf_index). The
    priority comparison rides the same join condition, so "dropped"
    falls out as one distinct over dominated ids and "kept" as one
    anti-join — no iteration, no driver-side loop. All cosines are
    rounded to 6 before any comparison (the cross-engine float rule),
    so the keep decision is reproducible in plain SQL against the
    stored centroid artifact."""
    spark = index_df.sparkSession
    cdf = spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "centroid long, center array<double>",
    )
    scored = (
        index_df.select(
            F.col(id_col).alias("id"),
            F.col(centroid_col).cast("long").alias("centroid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "v"
            ),
        )
        .withColumn("nrm", _norm(F.col("v")))
        .join(F.broadcast(cdf), "centroid")
        .withColumn(
            "cos_c",
            F.round(
                _dot(F.col("v"), F.col("center"))
                / (F.col("nrm") * _norm(F.col("center"))),
                6,
            ),
        )
        .drop("center")
        .localCheckpoint(eager=False)  # feeds both join sides + kept
    )
    a, b = scored.alias("a"), scored.alias("b")
    pair_cos = F.round(
        _dot(F.col("a.v"), F.col("b.v"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    # a dominates b: same cluster, a keeps priority (lower centroid
    # similarity, id tie-break), and the pair is a near-duplicate. The
    # expensive pair_cos conjunct sits LAST (measured join-condition
    # ordering rule).
    dominated = (
        a.join(
            b,
            (F.col("a.centroid") == F.col("b.centroid"))
            & (
                (F.col("a.cos_c") < F.col("b.cos_c"))
                | (
                    (F.col("a.cos_c") == F.col("b.cos_c"))
                    & (F.col("a.id") < F.col("b.id"))
                )
            )
            & (pair_cos >= F.lit(threshold)),
        )
        .select(F.col("b.id").alias("id"))
        .distinct()
    )
    return scored.join(dominated, "id", "left_anti").select(
        "id", "centroid", "cos_c"
    )


# ---------------------------------------------------------------------------
# cluster formation: pairs → dedup groups
# ---------------------------------------------------------------------------


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(id, cluster) — connected components over the near-dup pair
    graph: the step that turns pairwise matches into dedup GROUPS.
    cluster = smallest member id (the deterministic survivor), so
    "drop every id where id != cluster" is the dedup action. Reuses
    the pointer-jumping component operator (O(log diameter) rounds)."""
    from poc_spark.operators.graph import connected_components

    edges = pairs.select(
        F.col(id_a).alias("source"),
        F.col(id_b).alias("target"),
        F.lit(1).alias("weight"),
    )
    return connected_components(edges, max_iterations).select(
        "id", F.col("component").alias("cluster")
    )


def keep_best_survivors(
    clusters: DataFrame,
    docs: DataFrame,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """(cluster, keep_id, keep_score, n_members) — survivor SELECTION
    POLICY over dedup groups: instead of dedup_clusters' min-id
    convention, keep the highest-QUALITY member (score DESC, id ASC
    tie-break — a total order, so the survivor is deterministic). Real
    pipelines keep the longest / highest-scoring copy of a near-dup
    group, not an arbitrary one; any numeric column works as the score
    (doc length, classifier score, unigram logprob).

    Plan: one broadcast-or-shuffle equi-join of the cluster labels
    against the doc scores, then a per-cluster rank window —
    InferWindowGroupLimit two-phases the rank filter, so a pathological
    giant cluster never sorts whole in one task (the measured
    TOPK_SKEW_DEMO.json property). The member count deliberately comes
    from a separate groupBy + broadcast-ready join, NOT a count window
    stacked on the rank window: a second window between the filter and
    the row_number defeats the rank-limit rule (verified in the plan —
    WindowGroupLimit disappears), silently reverting to a full
    per-cluster sort."""
    from pyspark.sql import Window

    labeled = clusters.join(
        docs.select(F.col(id_col).alias("id"), F.col(score_col).alias("score")),
        "id",
    )
    sizes = clusters.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    best = (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("id").alias("keep_id"),
            F.col("score").alias("keep_score"),
        )
    )
    return best.join(sizes, "cluster").select(
        "cluster", "keep_id", "keep_score", "n_members"
    )


def minhash_band_index(
    df: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, bucket) — the PERSISTABLE banded-LSH index of a
    corpus (write it once, probe every incoming batch against it).
    Same signature family and band hashing as minhash_lsh_pairs
    (shared _band_rows), so an index built at ingest time t0 matches
    probes computed at any later t. At 100 TB the index is
    docs x bands narrow rows — write it bucketed/partitioned on
    `bucket` so each probe batch's band join co-locates."""
    r = num_hashes // bands
    sigs = minhash_signatures(df, num_hashes, shingle_n, text_col, id_col)
    return _band_rows(sigs, bands, r)


def dedup_incremental(
    new_df: DataFrame,
    index_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs between an INCOMING batch and an already-indexed
    corpus — the continuous-ingestion dedup shape (every production
    pipeline's steady state: nobody re-pairs 100 TB per day; the batch
    probes a persisted index and only candidate old docs are re-read).

    (new_id, old_id, jaccard >= threshold): the batch's band rows
    (same hash family as the index — shared _band_rows) equi-join the
    index on (band, bucket); candidates verify EXACTLY by shingle
    Jaccard, re-reading only the candidate old docs from `corpus_df`
    (point lookups by id, a semi-join-sized scan, never the corpus).

    Shuffle: |batch| x bands probe rows against the bucketed index +
    the candidate verify — batch-sized, not corpus-sized.
    """
    r = num_hashes // bands
    new_shing = new_df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_n).alias("shingles"),
    ).localCheckpoint(eager=False)
    new_sigs = minhash_signatures(
        new_df, num_hashes, shingle_n, text_col, id_col, shingles_df=new_shing
    )
    probes = _band_rows(new_sigs, bands, r)

    candidates = (
        probes.alias("p")
        .join(
            index_df.alias("ix"),
            (F.col("p.band") == F.col("ix.band"))
            & (F.col("p.bucket") == F.col("ix.bucket"))
            & (F.col("p.id") != F.col("ix.id")),
        )
        .select(
            F.col("p.id").alias("new_id"), F.col("ix.id").alias("old_id")
        )
        .distinct()
        # referenced twice below (old-id pushdown + verify join) —
        # barrier so the band join runs once
        .localCheckpoint(eager=False)
    )

    # semi-join BEFORE shingling: only candidate old docs are re-read
    # and re-shingled — without this pushdown the verify would shingle
    # the entire corpus per batch, exactly the corpus-sized cost the
    # persisted index exists to avoid (r5 self-review finding).
    cand_old = candidates.select("old_id").distinct()
    old_shing = (
        corpus_df.join(
            cand_old.withColumnRenamed("old_id", id_col), id_col, "leftsemi"
        )
        .select(
            F.col(id_col).alias("old_id"),
            word_shingles(F.col(text_col), shingle_n).alias("sh_old"),
        )
    )
    return (
        candidates.join(
            new_shing.select(
                F.col("id").alias("new_id"), F.col("shingles").alias("sh_new")
            ),
            "new_id",
        )
        .join(old_shing, "old_id")
        .select(
            "new_id",
            "old_id",
            F.round(_jaccard(F.col("sh_new"), F.col("sh_old")), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
