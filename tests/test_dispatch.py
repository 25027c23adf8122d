"""Scale dispatch: global-window operators must route to the chunked
plans above the size threshold, with EXACTLY equal output and no
single-partition WindowExec in the chosen plan."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from poc_spark.operators.network import (
    interaction_graph,
    lag_edges,
    ordered_limit,
)
from poc_spark.plans.dispatch import (
    CHUNK_FORCE_KEY,
    CHUNK_MIN_BYTES_KEY,
    estimated_size_bytes,
    use_chunked,
)
from poc_spark.sources.catalog import load_table

ORDER = ("ts", "event_id")


@pytest.fixture()
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@pytest.fixture()
def forced(spark):
    spark.conf.set(CHUNK_FORCE_KEY, "true")
    yield
    spark.conf.unset(CHUNK_FORCE_KEY)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _window_specs(plan: str) -> list[str]:
    """Every windowspecdefinition(...) argument list in the plan."""
    return re.findall(r"windowspecdefinition\(([^)]*)\)", plan)


def test_threshold_logic(spark, events):
    # tiny input under the default threshold -> global path
    assert not use_chunked(events)
    assert estimated_size_bytes(events) > 0
    # a 1-byte threshold trips the dispatch on the same input
    spark.conf.set(CHUNK_MIN_BYTES_KEY, "1")
    try:
        assert use_chunked(events)
    finally:
        spark.conf.unset(CHUNK_MIN_BYTES_KEY)
    # an operator may bring its own threshold key and default
    assert use_chunked(events, "spark.test.unsetMinBytes", 1)
    assert not use_chunked(events, "spark.test.unsetMinBytes", 2**62)
    # force overrides the estimate in both directions
    spark.conf.set(CHUNK_FORCE_KEY, "false")
    spark.conf.set(CHUNK_MIN_BYTES_KEY, "1")
    try:
        assert not use_chunked(events)
    finally:
        spark.conf.unset(CHUNK_FORCE_KEY)
        spark.conf.unset(CHUNK_MIN_BYTES_KEY)


def test_lag_edges_dispatch_equal_and_partitioned(spark, events, forced):
    chunked = lag_edges(events, "user_id", ORDER)
    plan = _plan(chunked)
    specs = _window_specs(plan)
    assert specs, "chunked lag still uses per-chunk windows"
    # every big window is partitioned by _chunk; the only permissible
    # unpartitioned window is the boundary stitch over <= num_chunks rows
    big = [s for s in specs if "_chunk" in s]
    assert big, f"no _chunk-partitioned window in plan:\n{plan}"

    spark.conf.set(CHUNK_FORCE_KEY, "false")
    global_form = lag_edges(events, "user_id", ORDER)
    spark.conf.set(CHUNK_FORCE_KEY, "true")
    assert sorted(map(tuple, chunked.collect())) == sorted(
        map(tuple, global_form.collect())
    )


def test_ordered_limit_dispatch_equal(spark, events, forced):
    chunked = ordered_limit(events, 137, ORDER).select("event_id")
    spark.conf.set(CHUNK_FORCE_KEY, "false")
    global_form = ordered_limit(events, 137, ORDER).select("event_id")
    spark.conf.set(CHUNK_FORCE_KEY, "true")
    assert sorted(r[0] for r in chunked.collect()) == sorted(
        r[0] for r in global_form.collect()
    )


def test_fused_flagship_dispatch_equal(spark, events, forced):
    chunked = lag_edges(events, "user_id", ORDER, limit=400)
    nodes_c, edges_c = interaction_graph(
        events, sender_col="user_id", date_col="ts", order_cols=ORDER, limit=400
    )
    spark.conf.set(CHUNK_FORCE_KEY, "false")
    global_form = lag_edges(events, "user_id", ORDER, limit=400)
    nodes_g, edges_g = interaction_graph(
        events, sender_col="user_id", date_col="ts", order_cols=ORDER, limit=400
    )
    spark.conf.set(CHUNK_FORCE_KEY, "true")
    assert sorted(map(tuple, chunked.collect())) == sorted(
        map(tuple, global_form.collect())
    )
    assert sorted(map(tuple, edges_c.collect())) == sorted(
        map(tuple, edges_g.collect())
    )
    assert sorted(r[0] for r in nodes_c.collect()) == sorted(
        r[0] for r in nodes_g.collect()
    )


def test_partitioned_windows_never_dispatch(spark, events, forced):
    # explicit partition_cols keep the per-partition window even when
    # force is on — that path is already scale-safe
    out = lag_edges(
        events.withColumn("pc", F.col("user_id") % 2),
        "user_id",
        ORDER,
        partition_cols=("pc",),
    )
    assert "_chunk" not in _plan(out)


def test_perplexity_buckets_self_dispatches(spark, sf_dir):
    """Force-flag flips the CCNet bucketing onto the chunked ntile;
    output must stay bit-equal to the global-window form either way —
    AND the baseline must really take the global path (else this
    compares chunked to chunked vacuously): the global plan carries an
    ntile window, the chunked one a row_number window."""
    from poc_spark.operators.textstats import perplexity_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = perplexity_buckets(docs)
    base_plan = base._jdf.queryExecution().executedPlan().toString()
    assert "ntile" in base_plan, base_plan  # global path at test scale
    glob = {(r["id"], r["bucket"]) for r in base.collect()}
    spark.conf.set("spark.poc.chunkedWindow.force", "true")
    try:
        forced_df = perplexity_buckets(docs)
        forced_plan = forced_df._jdf.queryExecution().executedPlan().toString()
        assert "ntile" not in forced_plan, forced_plan  # chunked path
        forced = {(r["id"], r["bucket"]) for r in forced_df.collect()}
    finally:
        spark.conf.unset("spark.poc.chunkedWindow.force")
    assert forced == glob
