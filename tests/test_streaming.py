"""Structured Streaming tests: file-source ingestion, session-window
bursts, parquet sink, foreachBatch edge maintenance — all driven with
availableNow triggers on real files."""

from __future__ import annotations

import pytest

from poc_spark.streaming.ingest import (
    conversation_bursts,
    edges_foreach_batch,
    parse_chat_stream,
    stream_chat_lines,
    stream_messages_to_parquet,
)

CHAT = """[1.10.2023, 08:00:00] Alice: burst one a
[1.10.2023, 08:01:00] Bob: burst one b
[1.10.2023, 08:02:00] Alice: burst one c
[1.10.2023, 09:00:00] Bob: burst two a
[1.10.2023, 09:01:30] Carol: burst two b
garbage line
[1.10.2023, 09:02:00] Bob: הושמט media
"""


@pytest.fixture()
def landing(tmp_path_repo):
    d = tmp_path_repo / "landing"
    d.mkdir()
    (d / "chat1.txt").write_text(CHAT, encoding="utf-8")
    return d


def test_stream_parse_and_sink(spark, landing, tmp_path_repo):
    parsed = parse_chat_stream(stream_chat_lines(spark, str(landing)))
    assert parsed.isStreaming
    q = stream_messages_to_parquet(
        parsed, str(tmp_path_repo / "msgs"), str(tmp_path_repo / "ckpt1")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path_repo / "msgs"))
    rows = out.orderBy("ts").collect()
    assert len(rows) == 5                     # garbage + omitted dropped
    assert rows[0]["sender"] == "Alice" and str(rows[0]["ts"]).startswith("2023-10-01 08:00")


def test_conversation_bursts(spark, landing, tmp_path_repo):
    out = tmp_path_repo / "bursts"

    def run_once():
        parsed = parse_chat_stream(stream_chat_lines(spark, str(landing)))
        q = (
            conversation_bursts(parsed, gap="5 minutes")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path_repo / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            spark.read.parquet(str(out)).collect(),
            key=lambda r: r["burst_start"],
        )

    # run 1: watermark (max_ts - 10min = 08:51:30) closes only burst 1;
    # burst 2 is still open state — correct append-mode semantics.
    got = run_once()
    assert [r["n_messages"] for r in got] == [3]
    assert got[0]["n_senders"] == 2

    # a later file arrives; restart from the SAME checkpoint — the
    # watermark advances past burst 2's close and it emits.
    (landing / "chat2.txt").write_text(
        "[1.10.2023, 10:00:00] Dave: much later\n", encoding="utf-8"
    )
    got = run_once()
    assert [r["n_messages"] for r in got] == [3, 2]
    assert got[1]["n_senders"] == 2


def test_streaming_edges_foreach_batch(spark, landing, tmp_path_repo):
    parsed = parse_chat_stream(stream_chat_lines(spark, str(landing)))
    q = edges_foreach_batch(
        parsed, str(tmp_path_repo / "edges"), str(tmp_path_repo / "ckpt3")
    )
    q.awaitTermination(120)
    edges = spark.read.parquet(str(tmp_path_repo / "edges"))
    got = {(r["source"], r["target"]): r["weight"] for r in edges.collect()}
    # ts-ordered chain Alice,Bob,Alice,Bob,Carol (omitted line dropped):
    # A->B, B->A, A->B, B->C
    assert got[("Alice", "Bob")] == 3
    assert got[("Bob", "Carol")] == 1


def test_windowed_counts_drop_late_data(spark, tmp_path_repo):
    """Watermark semantics across checkpointed runs: a window emits once
    when the watermark passes its end; an event older than the
    watermark arriving in a later batch is dropped, not re-aggregated."""
    from poc_spark.streaming.ingest import windowed_message_counts

    landing = tmp_path_repo / "landing2"
    landing.mkdir()
    out, ckpt = str(tmp_path_repo / "wc"), str(tmp_path_repo / "wc_ckpt")

    def run():
        parsed = parse_chat_stream(stream_chat_lines(spark, str(landing)))
        q = (
            windowed_message_counts(parsed, window="10 minutes",
                                    watermark="10 minutes")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (str(r["window_start"]), r["sender"]): r["n_messages"]
            for r in spark.read.parquet(out).collect()
        }

    # batch 1: two events in the 09:00 window, one at 10:00 that pushes
    # the watermark to 09:50 — so the 09:00-09:10 window finalizes
    (landing / "b1.txt").write_text(
        "[1.10.2023, 09:00:00] Alice: a\n"
        "[1.10.2023, 09:01:00] Alice: b\n"
        "[1.10.2023, 10:00:00] Bob: advances watermark\n",
        encoding="utf-8",
    )
    got1 = run()
    assert got1[("2023-10-01 09:00:00", "Alice")] == 2

    # batch 2: a LATE event for the already-final 09:00 window (dropped)
    # plus one at 10:30 that closes Bob's 10:00 window
    (landing / "b2.txt").write_text(
        "[1.10.2023, 09:02:00] Alice: too late, window closed\n"
        "[1.10.2023, 10:30:00] Carol: advances watermark again\n",
        encoding="utf-8",
    )
    got2 = run()
    # the late Alice row did NOT change the emitted window, and the
    # window appears exactly once
    assert got2[("2023-10-01 09:00:00", "Alice")] == 2
    assert got2[("2023-10-01 10:00:00", "Bob")] == 1


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
