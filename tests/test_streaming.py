"""Structured Streaming tests: the gated hourly-count entry, and the
exactly-once rollup and append micro-batch commits into versioned lake
trees — all driven with availableNow triggers on real files."""

from __future__ import annotations


def test_stream_hourly_counts_equals_batch(spark, sf_dir):
    """The gate's streaming entry: availableNow + complete-mode memory
    sink terminal state == the plain batch aggregation, and the plan is
    genuinely streaming (a StreamingQuery ran to completion)."""
    import pyspark.sql.functions as F

    from poc_spark.contract import stream_hourly_counts
    from poc_spark.sources.catalog import load_table

    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in stream_hourly_counts(spark, sf_dir).collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch and len(got) > 0


def test_maintain_rollup_stream_batch_split_invariant(spark, tmp_path):
    """The terminal rollup equals the one-shot batch aggregate no
    matter how the backlog splits into micro-batches, and the drain
    really is multi-batch (maxFilesPerTrigger=1 over 3 files)."""
    from pyspark.sql import functions as F

    from poc_spark.sources.lake import read_snapshot, rollup_partial
    from poc_spark.streaming.ingest import maintain_rollup_stream

    rows = [
        ("2024-01-01", "a", 1),
        ("2024-01-01", "b", 2),
        ("2024-01-02", "a", 3),
        ("2024-01-02", "a", 4),
        ("2024-01-03", "b", 5),
        ("2024-01-03", "b", 6),
    ]
    df = spark.createDataFrame(rows, "day string, k string, v long")
    landing = str(tmp_path / "landing")
    df.repartition(3).write.parquet(landing)
    agg_root = str(tmp_path / "rollup")

    n_batches = maintain_rollup_stream(
        spark,
        landing,
        df.schema,
        agg_root,
        lambda b: b,
        "day",
        ["k"],
        ["v"],
        max_files_per_trigger=1,
    )
    assert n_batches == 3

    def state(d):
        return {
            (r["day"], r["k"]): (r["n_rows"], r["sum_v"])
            for r in d.collect()
        }

    got = read_snapshot(spark, agg_root).withColumn(
        "day", F.col("day").cast("string")
    )
    assert state(got) == state(rollup_partial(df, "day", ["k"], ["v"]))


def test_rollup_batch_replay_is_exactly_once(spark, tmp_path):
    """A redelivered micro-batch (same batch id — the crash-between-
    commit-and-checkpoint case) must not double-count: the second
    apply returns False and the rollup is unchanged; a NEW batch id
    still applies."""
    from poc_spark.sources.lake import read_snapshot
    from poc_spark.streaming.ingest import apply_rollup_batch_exactly_once

    root = str(tmp_path / "rollup")
    b0 = spark.createDataFrame(
        [("2024-01", "a", 5), ("2024-01", "a", 7)], "day string, k string, v long"
    )

    def state():
        return {
            (r["day"], r["k"]): (r["n_rows"], r["sum_v"])
            for r in read_snapshot(spark, root).collect()
        }

    assert apply_rollup_batch_exactly_once(
        spark, root, b0, 0, "day", ["k"], ["v"]
    )
    after0 = state()
    assert after0 == {("2024-01", "a"): (2, 12)}
    # replay of batch 0: skipped, tree untouched
    assert not apply_rollup_batch_exactly_once(
        spark, root, b0, 0, "day", ["k"], ["v"]
    )
    assert state() == after0
    # a genuinely new batch applies and its id is recorded too
    b1 = spark.createDataFrame(
        [("2024-01", "a", 1)], "day string, k string, v long"
    )
    assert apply_rollup_batch_exactly_once(
        spark, root, b1, 1, "day", ["k"], ["v"]
    )
    assert state() == {("2024-01", "a"): (3, 13)}
    assert not apply_rollup_batch_exactly_once(
        spark, root, b1, 1, "day", ["k"], ["v"]
    )


def test_append_partitioned_versioned_exactly_once(spark, tmp_path):
    """Raw-append lake landing (r10 VERDICT #6): bootstrap commit,
    incremental append into only the named partitions, batch-id
    replay absorbed by the commit metadata, schema evolution on the
    append path."""
    import pytest

    from poc_spark.sources.lake import (
        append_partitioned_versioned,
        read_snapshot,
        read_tree_meta,
    )
    from poc_spark.streaming.ingest import append_batch_exactly_once

    root = str(tmp_path / "t")
    b0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, part string, v long"
    )
    assert append_batch_exactly_once(spark, root, b0, 0, "part")
    assert read_tree_meta(root)["applied_batches"] == [0]

    b1 = spark.createDataFrame([(3, "a", 30)], "k long, part string, v long")
    assert append_batch_exactly_once(spark, root, b1, 1, "part")
    # replayed ids are no-ops, WITH poison payloads
    poison = spark.createDataFrame(
        [(99, "a", -1)], "k long, part string, v long"
    )
    assert not append_batch_exactly_once(spark, root, poison, 0, "part")
    assert not append_batch_exactly_once(spark, root, poison, 1, "part")
    got = sorted(
        (r["k"], r["part"], r["v"])
        for r in read_snapshot(spark, root).collect()
    )
    assert got == [(1, "a", 10), (2, "b", 20), (3, "a", 30)]
    assert read_tree_meta(root)["applied_batches"] == [0, 1]

    # appends are raw (no key dedup) — duplicate keys accumulate
    append_partitioned_versioned(spark, root, b1, "part")
    assert read_snapshot(spark, root).filter("k = 3").count() == 2

    # evolution: an added nullable column backfills; a retype rejects
    wide = spark.createDataFrame(
        [(4, "b", 40, 0.5)], "k long, part string, v long, q double"
    )
    append_partitioned_versioned(spark, root, wide, "part")
    snap = read_snapshot(spark, root)
    assert snap.filter("q IS NOT NULL").count() == 1
    bad = spark.createDataFrame(
        [(5, "b", "wide", 0.5)], "k long, part string, v string, q double"
    )
    with pytest.raises(ValueError, match="TYPE-changed"):
        append_partitioned_versioned(spark, root, bad, "part")
