"""Structured Streaming ingestion into versioned lake trees, with
exactly-once micro-batch commits.

Each shape here drains a landing directory through a FileStreamSource
(`availableNow`, `maxFilesPerTrigger` bounds per-batch work) and lands
every micro-batch through `foreachBatch` as ONE version-pointer commit
of `sources/lake.py`:

  - rollup maintenance (`maintain_rollup_stream`): partial-aggregate the
    batch and merge it by summing into only the affected partitions;
  - table append (`ingest_stream_to_table`): raw append into the named
    partitions;
  - view maintenance (`maintain_view_stream`): join the fact delta to a
    broadcast dim table and upsert the view rows.

Spark's checkpoint delivers each batch at least once after a crash; the
`*_exactly_once` appliers make the sink side idempotent by recording the
applied batch ids in the tree's own commit metadata, so a redelivered
batch is skipped instead of counted twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def maintain_rollup_stream(
    spark,
    landing_dir: str,
    schema,
    agg_root: str,
    prepare,
    partition_col: str,
    key_cols: list,
    sum_cols: list,
    max_files_per_trigger: int = 1,
    checkpoint: str | None = None,
    min_cols: list = (),
    max_cols: list = (),
) -> int:
    """CONTINUOUS rollup maintenance: a FileStreamSource drains the
    landing directory micro-batch by micro-batch (availableNow honors
    maxFilesPerTrigger, so a backlog of N files commits as ~N
    independent increments), and each batch lands in the partitioned
    rollup through lake.rollup_incremental — partial-aggregate the
    batch, merge by summing into only the affected partitions, publish
    atomically. The terminal rollup is independent of how the backlog
    split into batches (sum/count merge is associative-commutative),
    which is exactly what makes the result oracle-checkable against a
    one-shot batch aggregate. `prepare` maps the raw micro-batch to
    (partition, keys, sum inputs) — schema fixes (the ns-timestamp
    quirk) belong there. Returns the number of micro-batches.

    At 100 TB this is the steady-state ingestion shape: readers always
    see a complete consistent rollup (version-pointer commit), the
    per-batch cost is delta-proportional (ROLLUP_DEMO.json), and a
    crashed batch re-runs from the checkpointed source offset, and
    the rollup apply is EXACTLY-ONCE under that replay: each commit
    records its batch id in the snapshot's transaction metadata
    (apply_rollup_batch_exactly_once — the Delta txn-id pattern), and
    a replayed batch whose id is already recorded is skipped, so a
    crash between the rollup commit and the checkpoint advance can
    never double-count. Pass `checkpoint` to make source offsets
    themselves durable across restarts."""
    n_batches = 0

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        apply_rollup_batch_exactly_once(
            spark,
            agg_root,
            prepare(batch_df),
            batch_id,
            partition_col,
            key_cols,
            sum_cols,
            min_cols=min_cols,
            max_cols=max_cols,
        )

    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(landing_dir)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return n_batches


def apply_rollup_batch_exactly_once(
    spark,
    agg_root: str,
    batch_df: DataFrame,
    batch_id: int,
    partition_col: str,
    key_cols: list,
    sum_cols: list,
    min_cols: list = (),
    max_cols: list = (),
) -> bool:
    """Idempotent micro-batch apply — the transactional half of
    foreachBatch exactly-once (the half Spark does NOT give you: the
    checkpoint guarantees each batch is DELIVERED at least once after
    a crash, and the sink must deduplicate redelivery). The applied
    batch ids ride the rollup tree's own commit metadata, so "batch
    recorded" and "batch's rows summed in" are the SAME atomic
    manifest write — there is no window where one is true and the other
    is not. A replayed id returns False without touching the tree."""
    from poc_spark.sources.lake import read_tree_meta, rollup_incremental

    applied = set(read_tree_meta(agg_root).get("applied_batches", []))
    if int(batch_id) in applied:
        return False
    rollup_incremental(
        spark,
        agg_root,
        batch_df,
        partition_col,
        key_cols,
        sum_cols,
        min_cols=min_cols,
        max_cols=max_cols,
        commit_meta={"applied_batches": sorted(applied | {int(batch_id)})},
    )
    return True


def append_batch_exactly_once(
    spark,
    root: str,
    batch_df: DataFrame,
    batch_id: int,
    partition_col: str,
) -> bool:
    """Idempotent raw-append micro-batch — the table-landing twin of
    apply_rollup_batch_exactly_once (r10 VERDICT #6): the applied
    batch ids ride the table's own commit metadata, so "batch
    recorded" and "batch's rows appended" are the SAME atomic pointer
    flip. A replayed id (crash between commit and checkpoint advance)
    returns False without touching the table."""
    from poc_spark.sources.lake import (
        append_partitioned_versioned,
        read_tree_meta,
    )

    applied = set(read_tree_meta(root).get("applied_batches", []))
    if int(batch_id) in applied:
        return False
    append_partitioned_versioned(
        spark,
        root,
        batch_df,
        partition_col,
        commit_meta={"applied_batches": sorted(applied | {int(batch_id)})},
    )
    return True


def ingest_stream_to_table(
    spark,
    landing_dir: str,
    schema,
    root: str,
    prepare,
    partition_col: str,
    max_files_per_trigger: int = 1,
    checkpoint: str | None = None,
) -> int:
    """CONTINUOUS ingestion into a versioned lake TABLE — the
    production landing shape ("the stream lands in the table other
    queries read", r10 VERDICT #6): a FileStreamSource drains the
    landing directory micro-batch by micro-batch and each batch
    APPENDS to the partitioned table as one atomic version-pointer
    commit with batch-id dedup (append_batch_exactly_once). Readers
    always see a complete prefix of the stream, never a torn batch;
    a crashed batch re-runs from the checkpointed offset and its
    redelivery is absorbed by the txn metadata. `prepare` maps the
    raw micro-batch to the table's row shape (the ns-timestamp quirk
    belongs there). Returns the number of micro-batches this query
    processed."""
    n_batches = 0

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        append_batch_exactly_once(
            spark, root, prepare(batch_df), batch_id, partition_col
        )

    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(landing_dir)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return n_batches


def maintain_view_batch_exactly_once(
    spark,
    view_root: str,
    view_rows: DataFrame,
    batch_id: int,
    key_col: str,
    partition_col: str,
) -> bool:
    """Idempotent join-view micro-batch UPSERT — the materialized-view
    twin of apply_rollup_batch_exactly_once: the applied batch ids ride
    the view tree's own commit metadata, so "batch recorded" and
    "view rows upserted" are the SAME atomic pointer flip. A replayed
    id (crash between commit and checkpoint advance) returns False
    without touching the view."""
    from poc_spark.sources.lake import merge_upsert_partitioned, read_tree_meta

    applied = set(read_tree_meta(view_root).get("applied_batches", []))
    if int(batch_id) in applied:
        return False
    merge_upsert_partitioned(
        spark,
        view_root,
        view_rows,
        key_col,
        partition_col,
        commit_meta={"applied_batches": sorted(applied | {int(batch_id)})},
    )
    return True


def maintain_view_stream(
    spark,
    landing_dir: str,
    schema,
    view_root: str,
    dims: DataFrame,
    fact_key: str,
    dim_key: str,
    dim_cols: list,
    partition_col: str,
    prepare=None,
    max_files_per_trigger: int = 1,
    checkpoint: str | None = None,
) -> int:
    """CONTINUOUS incremental join-view maintenance: a FileStreamSource
    drains fact-delta micro-batches and each batch joins ONLY the
    broadcast dim table (operators/ivm.py fact_delta_view_rows) before
    landing in the view as one exactly-once copy-on-write upsert —
    "the stream keeps the denormalized serving view current". Returns
    the number of micro-batches processed."""
    from poc_spark.operators.ivm import fact_delta_view_rows

    n_batches = 0

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        delta = prepare(batch_df) if prepare is not None else batch_df
        rows = fact_delta_view_rows(delta, dims, fact_key, dim_key, dim_cols)
        maintain_view_batch_exactly_once(
            spark, view_root, rows, batch_id, fact_key, partition_col
        )

    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(landing_dir)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return n_batches
