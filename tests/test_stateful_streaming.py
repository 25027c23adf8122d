"""applyInPandasWithState cross-batch first occurrence: each key emits
its min event time once, within a batch AND across micro-batches."""

from __future__ import annotations


def test_emit_first_spans_arrow_chunks():
    """The min event time must win even when it arrives in a LATER
    pandas chunk of the same group, past an empty chunk (Arrow chunking
    is an implementation detail, not an ordering guarantee); a key
    already seen emits nothing."""
    import pandas as pd

    from poc_spark.streaming.stateful import _emit_first_event

    class FakeState:
        exists = False

        def update(self, v):
            self.exists = True

    def chunk(*ts_us):
        return pd.DataFrame({"user_id": [1] * len(ts_us),
                             "event_type": ["click"] * len(ts_us),
                             "ts_us": list(ts_us)})

    # chunk 1 holds later events; the true first occurrence is in chunk 3
    chunks = iter([chunk(900, 905), pd.DataFrame([]), chunk(800, 830)])
    state = FakeState()
    out = list(_emit_first_event((1, "click"), chunks, state))
    assert len(out) == 1
    assert out[0].to_dict("records") == [
        {"user_id": 1, "event_type": "click", "first_ts_us": 800}
    ]
    assert state.exists

    # already-seen key: nothing emitted regardless of content
    seen = FakeState()
    seen.exists = True
    assert list(_emit_first_event((1, "click"), iter([chunk(700)]), seen)) == []


def test_first_event_stream_cross_batch(spark, tmp_path_repo):
    """first_event_stream emits each key's min event time exactly once
    across micro-batches: a key re-seen in a later batch is dropped by
    the state, and the first batch's min wins under time-ordered files."""
    import os
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from poc_spark.streaming.stateful import first_event_stream

    staged = str(tmp_path_repo / "dedup_src")
    os.makedirs(staged)
    sch = pa.schema([("user_id", pa.int64()), ("event_type", pa.string()),
                     ("ts", pa.timestamp("us", tz="UTC"))])

    def write(name, rows, mtime):
        tbl = pa.table(
            {"user_id": pa.array([r[0] for r in rows], pa.int64()),
             "event_type": pa.array([r[1] for r in rows], pa.string()),
             "ts": pa.array([r[2] for r in rows],
                            pa.timestamp("us", tz="UTC"))},
            schema=sch)
        p = os.path.join(staged, name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    t0 = time.time() - 300
    # batch 1: key (1, click) twice (min 100), key (2, view) once
    write("f1.parquet", [(1, "click", 100), (1, "click", 200),
                         (2, "view", 150)], t0)
    # batch 2: key (1, click) again (must be DROPPED), new key (3, buy)
    write("f2.parquet", [(1, "click", 300), (3, "buy", 250)], t0 + 30)

    src = (spark.readStream
           .schema("user_id long, event_type string, ts timestamp")
           .option("maxFilesPerTrigger", "1").parquet(staged))
    qname = "dedup_t_" + uuid.uuid4().hex[:8]
    q = (first_event_stream(src).writeStream.format("memory")
         .queryName(qname).outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["user_id"], r["event_type"]): r["first_ts_us"]
           for r in spark.table(qname).collect()}
    assert got == {(1, "click"): 100, (2, "view"): 150, (3, "buy"): 250}
