"""Interaction-graph operators (the reference's flagship analysis).

Reference: GET /analyze/network/{filename}
(/root/reference/backend/main.py:255-342). Semantics reproduced:

  - OP-FIL-DATERANGE: inclusive [start, end] filter applied ONLY when
    BOTH bounds are given (backend/main.py:304-307) — a lone bound is
    ignored. Observable quirk; preserved deliberately.
  - OP-LIMIT-N: keep the first `limit` messages in total order counted
    AFTER all filters pass (backend/main.py:284-285,321). Spark `limit`
    is unordered, so this is row_number over the total order on the
    *filtered* set.
  - OP-LAG-EDGE: an edge connects each surviving message to the previous
    *surviving* message's sender when the sender changed
    (backend/main.py:316-319). Rows dropped by any filter never advance
    the chain, so two in-range messages separated by filtered-out ones
    DO link — computing lag after the filters reproduces this exactly.
  - OP-AGG-EDGEW: undirected canonical pair (source <= target) counted
    (backend/main.py:317-318) → groupBy + count (Spark's partial+final
    hash aggregate).
  - OP-AGG-NODES: distinct senders of surviving messages — includes
    senders that never formed an edge (backend/main.py:313).

One chain: every graph operator here is a projection of ONE lag chain
(_chain: (prev, cur) per surviving message, the sender's lag in the
message order, optionally over only the first `limit` messages) and
ONE aggregate over it (_pair_counts: (least, greatest) → count).
lag_edges keeps the prev != cur rows before counting; interaction_pairs
counts every row, so the stream head and every self-transition land on
an (s, s) row — the nodes are the endpoints of all rows and the links
are the rows with source != target. The serving edge collects that
aggregate once and splits it on the driver — one lineage, one scan of
the export.

Scale design: the window that orders the chain is partitioned by
`partition_cols` (default: file_path — one chat per file). A single
chat is at most a few hundred MB, so per-partition windows keep the
plan shuffle-light at any corpus size; nothing is global. For a single
giant totally-ordered stream, the chain SELF-DISPATCHES: when no
partition cols are given and Catalyst's size estimate crosses the
threshold (plans/dispatch.py, default ≈1M rows), _chain routes to the
exactly-equal range-chunked chain in plans/chunked_lag.py (boundary
stitching, SURVEY.md §4.3) instead of a single-partition window. On a
chat export the chunks are the text scan's input splits, read off
line_id's upper bits (sources/chat.py marks the column), so the chain
runs no quantile pass; other order keys get quantile chunks.
ordered_limit makes the same decision for the limit alone. Equality
of the two paths is pinned by tests/test_chunked_lag.py,
tests/test_dispatch.py and tests/test_network.py.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from poc_spark.plans.dispatch import use_chunked


def _chain_window(order_cols: Sequence[str], partition_cols: Sequence[str]):
    """The window that orders the chain: per partition when given, else
    one global order (a single partition — the scale paths avoid it)."""
    if partition_cols:
        return Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return Window.orderBy(*order_cols)


def ordered_limit(
    df: DataFrame,
    n: int | None,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """OP-LIMIT-N: first n rows per partition in the given total order.

    NOT `df.limit(n)` (unordered in Spark); row_number over the filtered
    set is the faithful mapping of the reference's `count >= limit`
    break. Reference counts globally per file; partition by file_path.
    """
    if not n:
        return df
    if not partition_cols and use_chunked(df):
        from poc_spark.plans.chunked_lag import chunked_ordered_limit

        return chunked_ordered_limit(df, n, order_cols)
    w = _chain_window(order_cols, partition_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def _chain(
    df: DataFrame,
    sender_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str],
    limit: int | None,
    keep: Sequence[str] = (),
) -> DataFrame:
    """The chain every graph operator shares: (keep..., prev, cur), one
    row per surviving message among the first `limit` (all when falsy)
    of the order, prev = the lag of the sender (null on the stream
    head). The only place the lag chain picks its plan:

      - with partition cols, or below the dispatch threshold, one
        window (per partition, else global). With a limit, row_number
        shares the lag's window spec — one sort/exchange, not two.
        Correct because the limit keeps a prefix of the order: each
        kept row's predecessor is kept too, so lag-then-filter equals
        filter-then-lag;
      - otherwise plans.chunked_lag.chunked_lag_pairs with the limit:
        per-chunk windows plus a boundary stitch, exactly equal, and
        it lags inside the limit's own chunks.

    `keep` carries group columns through the windowed path (they must
    be among partition_cols; the chunked path never has any)."""
    if not partition_cols and use_chunked(df):
        from poc_spark.plans.chunked_lag import chunked_lag_pairs

        return chunked_lag_pairs(df, sender_col, order_cols, limit=limit)
    w = _chain_window(order_cols, partition_cols)
    cols = [
        *keep,
        F.lag(sender_col).over(w).alias("prev"),
        F.col(sender_col).alias("cur"),
    ]
    if not limit:
        return df.select(*cols)
    return (
        df.select(F.row_number().over(w).alias("_rn"), *cols)
        .filter(F.col("_rn") <= limit)
        .drop("_rn")
    )


def _pair_counts(chain: DataFrame, keep: Sequence[str] = ()) -> DataFrame:
    """OP-AGG-EDGEW: (keep..., source, target, weight) — the chain's
    (prev, cur) rows counted per undirected pair (source <= target)."""
    return chain.groupBy(
        *keep,
        F.least("prev", "cur").alias("source"),
        F.greatest("prev", "cur").alias("target"),
    ).agg(F.count(F.lit(1)).alias("weight"))


def lag_edges(
    df: DataFrame,
    sender_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
    group_output: bool = False,
    limit: int | None = None,
) -> DataFrame:
    """OP-LAG-EDGE + OP-AGG-EDGEW: consecutive-sender transitions over the
    surviving rows → undirected weighted edges (source <= target).
    With `limit`, over only the first `limit` rows of the order per
    partition (OP-LIMIT-N fused into the chain's window).

    Self-transitions (same sender twice) emit nothing but still advance
    the chain — lag gives that for free; the head's null prev fails
    `!=` too, so only real transitions remain.

    `partition_cols` bounds the chain windows (per-file / per-group —
    no cross-group edge ever forms); by default the weights still
    aggregate into ONE corpus-wide graph (the reference's one-graph-
    per-request shape). `group_output=True` instead keeps the group
    columns in the result — one graph PER group, the true production
    shape at scale: every window and the final aggregate shuffle on
    the group key, nothing is global."""
    keep = list(partition_cols) if group_output else []
    chain = _chain(df, sender_col, order_cols, partition_cols, limit, keep)
    return _pair_counts(chain.filter(F.col("prev") != F.col("cur")), keep)


def interaction_pairs(
    messages: DataFrame,
    start_date: str | dt.date | None = None,
    end_date: str | dt.date | None = None,
    limit: int | None = None,
    sender_col: str = "sender",
    date_col: str = "msg_date",
    order_cols: Sequence[str] = ("line_id",),
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """EP-1 as ONE aggregate: pair(source, target, weight) over every
    surviving message, keyed by (least(prev, cur), greatest(prev, cur))
    where prev is the lag of the sender in the message order.

    least/greatest skip nulls, so the stream head (prev null) and every
    self-transition land on an (s, s) row. Hence the node set is the
    set of endpoints of all rows (every surviving sender is the cur of
    some row), and the links are the rows with source != target. One
    action on this DataFrame answers the whole request. The chain is
    the shared one (_chain); its chunked form emits the head as
    (null, first) too, so no separate node scan is needed."""
    df = messages
    # both-bounds-only quirk (backend/main.py:305): a lone bound is a no-op.
    if start_date and end_date:
        df = df.filter(F.col(date_col).between(F.lit(start_date), F.lit(end_date)))
    return _pair_counts(_chain(df, sender_col, order_cols, partition_cols, limit))


def interaction_graph(
    messages: DataFrame,
    start_date: str | dt.date | None = None,
    end_date: str | dt.date | None = None,
    limit: int | None = None,
    sender_col: str = "sender",
    date_col: str = "msg_date",
    order_cols: Sequence[str] = ("line_id",),
    partition_cols: Sequence[str] = (),
) -> tuple[DataFrame, DataFrame]:
    """EP-1: (nodes, edges) for the filtered + limited message stream —
    two projections of the one interaction_pairs aggregate.

    Returns nodes(id) and edges(source, target, weight). Collecting
    both runs the lineage twice; a request that needs both collects
    interaction_pairs once instead (serve.analyze_network).
    """
    pairs = interaction_pairs(
        messages, start_date, end_date, limit, sender_col, date_col, order_cols,
        partition_cols,
    )
    nodes = pairs.select(F.explode(F.array("source", "target")).alias("id")).distinct()
    edges = pairs.filter(F.col("source") != F.col("target"))
    return nodes, edges


def induced_subgraph(
    edges: DataFrame, nodes_filtered: DataFrame
) -> DataFrame:
    """OP-JOIN-SEMI: keep edges whose BOTH endpoints survive a node filter
    (the client-side substring-search behavior,
    frontend/src/pages/Form.jsx:165-171). Node sets are small →
    broadcast both semi-joins; no shuffle of the edge set."""
    ids = F.broadcast(nodes_filtered.select("id"))
    return (
        edges.join(ids, edges.source == ids.id, "leftsemi")
        .join(ids, edges.target == ids.id, "leftsemi")
    )


def search_nodes(nodes: DataFrame, query: str) -> DataFrame:
    """OP-FIL-SUBSTR: case-insensitive node-id substring search
    (frontend/src/pages/Form.jsx:159-163)."""
    return nodes.filter(F.lower(F.col("id")).contains(query.lower()))
