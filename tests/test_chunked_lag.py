"""Chunked lag must equal the global-window lag exactly — on the real
events table and on adversarial small inputs (skew, empty chunks)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Window
from pyspark.sql import functions as F

from poc_spark.operators.network import lag_edges
from poc_spark.plans.chunked_lag import chunked_lag_edges, chunked_lag_pairs


def _edges_map(df):
    return {(r["source"], r["target"]): r["weight"] for r in df.collect()}


def test_equals_global_window_on_events(spark, sf_dir):
    from poc_spark.sources.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    glob = _edges_map(lag_edges(events, "user_id", ("ts", "event_id")))
    for n in (1, 4, 32):
        chunked = _edges_map(chunked_lag_edges(events, "user_id", ("ts", "event_id"), n))
        assert chunked == glob, f"num_chunks={n}"


def test_skewed_key_duplicate_quantiles(spark):
    # 95% of rows share one key value -> approxQuantile returns duplicate
    # bounds; dedup + next-present-chunk stitching must keep adjacency.
    rows = [(1.0, i, f"s{i % 3}") for i in range(95)] + [
        (float(2 + i), 95 + i, f"s{i % 3}") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "k double, tie long, sender string")
    glob = _edges_map(lag_edges(df, "sender", ("k", "tie")))
    chunked = _edges_map(chunked_lag_edges(df, "sender", ("k", "tie"), 16))
    assert chunked == glob


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
