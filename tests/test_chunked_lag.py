"""Chunked lag must equal the global-window lag exactly — on the real
events table and on adversarial small inputs (skew, empty chunks)."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from poc_spark.plans.chunked_lag import _range_chunks, chunked_lag_pairs


def _pairs(df):
    return Counter((r["prev"], r["cur"]) for r in df.collect())


def _global_pairs(df, value_col, order_cols, n=None):
    """The global form: row_number() <= n (every row when n is falsy)
    plus lag, one window."""
    w = Window.orderBy(*order_cols)
    g = df.select(
        F.row_number().over(w).alias("_rn"),
        F.lag(value_col).over(w).alias("prev"),
        F.col(value_col).alias("cur"),
    )
    if n:
        g = g.filter(F.col("_rn") <= n)
    return _pairs(g)


def test_equals_global_window_on_events(spark, sf_dir):
    from poc_spark.sources.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    order = ("ts", "event_id")
    glob = _global_pairs(events, "user_id", order)
    for n in (1, 4, 32):
        assert _pairs(chunked_lag_pairs(events, "user_id", order, n)) == glob, n


def test_skewed_key_duplicate_quantiles(spark):
    # 95% of rows share one key value -> approxQuantile returns duplicate
    # bounds; dedup + next-present-chunk stitching must keep adjacency.
    rows = [(1.0, i, f"s{i % 3}") for i in range(95)] + [
        (float(2 + i), 95 + i, f"s{i % 3}") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "k double, tie long, sender string")
    glob = _global_pairs(df, "sender", ("k", "tie"))
    assert _pairs(chunked_lag_pairs(df, "sender", ("k", "tie"), 16)) == glob


def test_chunked_ordered_limit_equals_global(spark, sf_dir):
    from poc_spark.operators.network import ordered_limit
    from poc_spark.plans.chunked_lag import chunked_ordered_limit
    from poc_spark.sources.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    glob = {r["event_id"] for r in
            ordered_limit(events, 700, ("ts", "event_id")).collect()}
    for n_chunks in (1, 8, 32):
        chunked = {r["event_id"] for r in
                   chunked_ordered_limit(events, 700, ("ts", "event_id"), n_chunks).collect()}
        assert chunked == glob, n_chunks
    # limit larger than the table: everything survives
    assert chunked_ordered_limit(events, 10**9, ("ts", "event_id")).count() == events.count()
    # falsy limit: passthrough (reference `if limit and ...`)
    assert chunked_ordered_limit(events, 0, ("ts", "event_id")).count() == events.count()


def test_pair_count_invariant(spark):
    rows = [(float(i), i, f"u{i % 5}") for i in range(200)]
    df = spark.createDataFrame(rows, "k double, tie long, sender string")
    pairs = chunked_lag_pairs(df, "sender", ("k", "tie"), 8).collect()
    # one row per input row: n-1 adjacencies, none lost or duplicated,
    # plus the stream head as (null, first)
    assert len(pairs) == 200
    heads = [r for r in pairs if r["prev"] is None]
    assert len(heads) == 1 and heads[0]["cur"] == "u0"
    # the pairs equal the global lag exactly
    w = Window.orderBy("k", "tie")
    glob = df.select(F.lag("sender").over(w).alias("prev"), F.col("sender").alias("cur"))
    assert Counter(map(tuple, pairs)) == Counter(map(tuple, glob.collect()))


# --- the limited builder against the global form ---------------------------

_LIMITS = (
    "none", "zero", "negative", "one", "all", "past_all", "chunk_edge", "inside"
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    # few distinct leading keys: ties broken by the second order column
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["a", "b", "c", None])), max_size=40
    ),
    num_chunks=st.sampled_from([1, 2, 8]),
    value_col=st.sampled_from(["sender", "k", "tie"]),
    mode=st.sampled_from(_LIMITS),
    pick=st.integers(0, 10**6),
)
@example(rows=[], num_chunks=8, value_col="sender", mode="one", pick=0)
@example(rows=[], num_chunks=2, value_col="sender", mode="none", pick=0)
@example(rows=[(0, "a"), (1, "b"), (2, "c")], num_chunks=2, value_col="sender",
         mode="negative", pick=4)
# a null value inside a chunk is a real prev, not a chunk's first row
@example(rows=[(0, None), (0, "a"), (1, "b")], num_chunks=1, value_col="sender",
         mode="none", pick=0)
# one key value: every quantile is that value, so the chunk above it is empty
@example(rows=[(3, "a"), (3, "b"), (3, "a"), (3, "c")], num_chunks=8, value_col="sender",
         mode="inside", pick=2)
# skew: a handful of rows past a heavy key, limit on a chunk edge
@example(rows=[(0, "a")] * 12 + [(1, "b"), (2, "c"), (3, "a"), (4, "b"), (5, "c")],
         num_chunks=8, value_col="sender", mode="chunk_edge", pick=1)
@example(rows=[(i % 6, "ab"[i % 2]) for i in range(30)], num_chunks=2, value_col="tie",
         mode="chunk_edge", pick=0)
def test_limited_pairs_equal_global_form(spark, rows, num_chunks, value_col, mode, pick):
    """chunked_lag_pairs(..., limit=n) equals row_number() <= n plus lag
    over the global order, for every kind of limit: falsy (no limit),
    negative (nothing, not even the stream head), 1, exactly the row
    count or past it, exactly a cumulative chunk count (no straddling
    chunk), and inside a chunk."""
    # the tie column is unique but not in input order
    data = [(k, (i * 7919) % 10007, s) for i, (k, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, tie long, sender string")
    order = ("k", "tie")
    counts = Counter(
        r["_chunk"] for r in _range_chunks(df, "k", num_chunks).select("_chunk").collect()
    )
    edges = [sum(counts[c] for c in sorted(counts)[: i + 1]) for i in range(len(counts))]
    n = {
        "none": None,
        "zero": 0,
        "negative": -1 - pick % 5,
        "one": 1,
        "all": len(data),
        "past_all": len(data) + 3,
        "chunk_edge": edges[pick % len(edges)] if edges else 1,
        "inside": 1 + pick % len(data) if data else 1,
    }[mode]
    got = _pairs(chunked_lag_pairs(df, value_col, order, num_chunks, n))
    assert got == _global_pairs(df, value_col, order, n)


# --- split-ordered chunks: a chat export's line_id --------------------------


def test_split_ordered_chunks_equal_global(spark, tmp_path_repo, monkeypatch):
    """read_chat_lines marks line_id as split-ordered, so the chunked
    chain takes its chunks from the input splits: no quantile pass, at
    most num_chunks chunks (the 2048-byte read has more splits than
    the chain's 32), and under forced chunked the served aggregate
    equals the global window for every kind of limit and date range."""
    import random

    from poc_spark.functions.chat_parse import parse_chat_lines
    from poc_spark.operators.network import interaction_pairs
    from poc_spark.plans import chunked_lag
    from poc_spark.plans.dispatch import CHUNK_FORCE_KEY
    from poc_spark.sources.chat import read_chat_lines

    calls = Counter()
    chunk_ids = []
    range_chunks, split_chunks = chunked_lag._range_chunks, chunked_lag._split_chunks

    def spy_range(*a):
        calls["quantile"] += 1
        return range_chunks(*a)

    def spy_split(df, key, num_chunks):
        out = split_chunks(df, key, num_chunks)
        ids = sorted(r["_chunk"] for r in out.select("_chunk").distinct().collect())
        chunk_ids.append((df.rdd.getNumPartitions(), num_chunks, ids))
        return out

    monkeypatch.setattr(chunked_lag, "_range_chunks", spy_range)
    monkeypatch.setattr(chunked_lag, "_split_chunks", spy_split)

    rng = random.Random(11)
    senders = ["Alice", "Bob", "~ Carol X", "דנה", "Eve"]
    lines = [
        f"[{1 + i // 300}.1.2023, 10:{i % 60:02d}:00] {rng.choice(senders)}: m{i}"
        if i % 89 else f"noise {i}"
        for i in range(3000)
    ]
    path = tmp_path_repo / "aligned.txt"
    path.write_text("".join(f"{line}\n" for line in lines), encoding="utf-8")
    shapes = [
        (s, e, n)
        for s, e in ((None, None), ("2023-01-03", "2023-01-07"))
        for n in (None, 0, 1, -1, 1234, 10**6)
    ]
    key = "spark.sql.files.maxPartitionBytes"
    try:
        spark.conf.set(CHUNK_FORCE_KEY, "false")
        msgs = parse_chat_lines(read_chat_lines(spark, str(path)))
        expected = {a: Counter(map(tuple, interaction_pairs(msgs, *a).collect())) for a in shapes}
        spark.conf.set(CHUNK_FORCE_KEY, "true")
        # every shape on 6 splits; a few on 50 tiny splits (slow per task)
        for split_bytes, todo in ((16384, shapes), (2048, shapes[0:12:4] + shapes[10:11])):
            spark.conf.set(key, str(split_bytes))
            msgs = parse_chat_lines(read_chat_lines(spark, str(path)))
            for a in todo:
                got = Counter(map(tuple, interaction_pairs(msgs, *a).collect()))
                assert got == expected[a], (split_bytes, a)
            # the chain's own num_chunks, and a small one that folds splits
            raw_splits = read_chat_lines(spark, str(path)).rdd.getNumPartitions()
            glob = _global_pairs(msgs, "sender", ("line_id",), 700)
            assert _pairs(chunked_lag_pairs(msgs, "sender", ("line_id",), 4, 700)) == glob
            # every split holds messages, so every chunk is present;
            # past 4 splits, neighbouring splits fold into one chunk
            assert chunk_ids[-1] == (raw_splits, 4, list(range(min(raw_splits, 4))))
    finally:
        spark.conf.unset(CHUNK_FORCE_KEY)
        spark.conf.unset(key)
    assert calls["quantile"] == 0
    assert all(ids and ids[-1] < k for _, k, ids in chunk_ids)
    # the 2048-byte read has more splits than the served chain's 32 chunks
    assert any(n > 32 and ids == list(range(32)) for n, k, ids in chunk_ids if k == 32)


def test_unmarked_keys_take_the_quantile_pass(spark, sf_dir, monkeypatch):
    """Only a split-ordered key skips approxQuantile: in-memory chat
    lines and a parquet table's keys keep the quantile chunks."""
    from poc_spark.functions.chat_parse import parse_chat_lines
    from poc_spark.plans import chunked_lag
    from poc_spark.sources.catalog import load_table
    from poc_spark.sources.chat import chat_lines_from_strings

    calls = []
    range_chunks = chunked_lag._range_chunks

    def spy_range(df, key, num_chunks):
        calls.append(key)
        return range_chunks(df, key, num_chunks)

    monkeypatch.setattr(chunked_lag, "_range_chunks", spy_range)
    lines = [f"[{1 + i % 9}.1.2023, 10:00:00] {'AB'[i % 2]}: m" for i in range(50)]
    msgs = parse_chat_lines(chat_lines_from_strings(spark, lines))
    events = load_table(spark, sf_dir, "events")
    assert _pairs(chunked_lag_pairs(msgs, "sender", ("line_id",), 4)) == _global_pairs(
        msgs, "sender", ("line_id",)
    )
    chunked_lag_pairs(events, "user_id", ("ts", "event_id"), 4).collect()
    chunked_lag_pairs(events, "user_id", ("event_id",), 4, 10).collect()
    assert calls == ["line_id", "ts", "event_id"]
