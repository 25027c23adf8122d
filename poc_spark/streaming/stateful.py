"""Custom stateful streaming operators via applyInPandasWithState —
the escape hatch for semantics Structured Streaming's built-in
aggregations can't express (here: exactly-once cross-batch
first-occurrence per key, `first_event_stream`).

State design notes (100 TB posture):
  - state is per-key and lives in the state store (RocksDB on a real
    cluster: spark.sql.streaming.stateStore.providerClass) — the
    operator never holds the corpus in memory;
  - for bounded state growth use a TTL timeout; dedup-forever keeps
    state per distinct key (the honest cost of exact streaming dedup —
    a probabilistic variant would bloom-filter per window).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENT_FIRST_SCHEMA = "user_id long, event_type string, first_ts_us long"


def _emit_first_event(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-(user_id, event_type) state function: the first micro-batch
    that ever sees the key emits the key's min event time (as epoch
    µs), every later batch drops the key entirely. Emitting only the
    aggregate (not a row) keeps the output independent of intra-batch
    row order, and a time-ordered landing layout makes it equal to the
    GLOBAL min — see first_event_stream."""
    if state.exists:
        return
    best = None
    for pdf in pdfs:
        if not len(pdf):
            continue
        t = pdf["ts_us"].min()
        if best is None or t < best:
            best = t
    if best is not None:
        state.update((True,))
        yield pd.DataFrame(
            [(key[0], key[1], int(best))],
            columns=["user_id", "event_type", "first_ts_us"],
        )


def first_event_stream(events: DataFrame) -> DataFrame:
    """Streaming first-occurrence per (user_id, event_type) via
    applyInPandasWithState — exactly-once cross-batch dedup with ONE
    boolean of state per distinct key (the bounded-state shape: state
    size = |key space|, independent of stream length; on a cluster the
    state store shards by the key hash).

    Split-invariance contract: the emitted first_ts_us equals the
    global min event time for the key PROVIDED the source delivers
    files in non-decreasing event-time order (the batch that first
    contains a key then contains its global-min row) — the natural
    layout of any time-partitioned landing zone. The gated contract
    entry stages exactly that layout, so the terminal state is
    comparable to the batch GROUP BY min(ts) oracle for ANY micro-batch
    split."""
    keyed = events.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    return keyed.groupBy("user_id", "event_type").applyInPandasWithState(
        _emit_first_event,
        outputStructType=EVENT_FIRST_SCHEMA,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
