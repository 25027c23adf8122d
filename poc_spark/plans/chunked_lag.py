"""Range-chunked lag with boundary stitching (SURVEY §4.3) — the scale
path for lag over a single giant totally-ordered stream.

The reference-parity lag (operators/network.py) uses a global window:
one partition, fine for a chat file, hostile at 100 TB. This module
computes the same (prev, cur) adjacency without ever materializing a
global order:

  1. sample approximate range boundaries of the order key (driver gets
     num_chunks-1 values — tiny);
  2. bucket every row into its range chunk (a literal when-chain — no
     shuffle beyond the chunk-partitioned window);
  3. lag WITHIN each chunk (parallel windows);
  4. stitch: the last row of chunk k and the first row of chunk k+1 form
     the one missing adjacency per boundary — O(num_chunks) rows moved;
     the first chunk's first row is the stream head, (null, first).

Equality with the global window is exact (the range partition respects
the total order), and is pinned by tests/test_chunked_lag.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _order_struct(order_cols: Sequence[str]):
    return F.struct(*[F.col(c) for c in order_cols])


def _numeric_key(df: DataFrame, key: str):
    """Numeric shadow of the leading order column for approxQuantile /
    range bucketing. Timestamps (LTZ and NTZ — neither casts to double)
    become epoch microseconds; µs fit a double's 53-bit mantissa."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    dt = df.schema[key].dataType
    if isinstance(dt, TimestampNTZType):
        return F.expr(
            f"CAST(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" `{key}`) AS DOUBLE)"
        )
    if isinstance(dt, TimestampType):
        return F.unix_micros(F.col(key)).cast("double")
    return F.col(key).cast("double")


def _range_chunks(
    df: DataFrame, key: str, num_chunks: int
) -> DataFrame:
    """df + `_key_num` (numeric shadow of `key`) + `_chunk` (range
    bucket): the shared chunk-assignment step of every chunk-parallel
    plan (lag, ordered limit, ntile). Approximate quantile bounds,
    deduped (a skewed key yields duplicate quantiles, which would
    create guaranteed-empty chunks); bucketing is strict `>`, so rows
    tied on the key can never straddle a chunk boundary — the property
    the per-chunk windows' exactness proofs rely on."""
    keyed = df.withColumn("_key_num", _numeric_key(df, key))
    fractions = [i / num_chunks for i in range(1, num_chunks)]
    raw_bounds = (
        keyed.approxQuantile("_key_num", fractions, 0.001)
        if num_chunks > 1
        else []
    )
    bounds = sorted(set(raw_bounds))
    chunk = F.lit(0)
    for i, b in enumerate(bounds):
        chunk = F.when(F.col("_key_num") > F.lit(b), i + 1).otherwise(chunk)
    return keyed.withColumn("_chunk", chunk)


def chunked_lag_pairs(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    num_chunks: int = 32,
) -> DataFrame:
    """(prev, cur) for every row in the total order defined by
    order_cols, prev = the previous row's value — computed with
    per-chunk windows + boundary stitching instead of one global
    window. One row per input row: the stream head comes out as
    (null, first_val), exactly as a global lag would emit it, so a
    caller can read the full value set off the pairs (the interaction
    graph's (s, s) node rows) without its own scan.
    """
    # 1.+2. shared range chunking (approx bounds + strict-> bucketing)
    bucketed = _range_chunks(df, order_cols[0], num_chunks)

    # 3. lag within each chunk (parallel windows, one shuffle by _chunk).
    # Each chunk's first row has no in-chunk prev; the stitch supplies it.
    w = Window.partitionBy("_chunk").orderBy(*order_cols)
    within = (
        bucketed.withColumn("_prev", F.lag(value_col).over(w))
        .filter(F.col("_prev").isNotNull())
        .select(F.col("_prev").alias("prev"), F.col(value_col).alias("cur"))
    )

    # 4. boundary stitching: each PRESENT chunk's first row pairs with
    # the previous present chunk's last row (an approx-quantile chunk
    # can still come out empty; `_chunk - 1` would silently drop that
    # adjacency). lag(last_val) over the chunk rows gives the first
    # chunk a null prev — the stream head. Two tiny aggregates + a lag
    # over ≤ num_chunks rows.
    ord_s = _order_struct(order_cols)
    per_chunk = bucketed.groupBy("_chunk").agg(
        F.min_by(F.col(value_col), ord_s).alias("first_val"),
        F.max_by(F.col(value_col), ord_s).alias("last_val"),
    )
    w_chunks = Window.orderBy("_chunk")  # ≤ num_chunks rows: trivial
    boundary = per_chunk.select(
        F.lag("last_val").over(w_chunks).alias("prev"),
        F.col("first_val").alias("cur"),
    )
    return within.unionByName(boundary)


def chunked_ordered_limit(
    df: DataFrame,
    n: int | None,
    order_cols: Sequence[str],
    num_chunks: int = 32,
) -> DataFrame:
    """OP-LIMIT-N at scale: first n rows of the total order without a
    global single-partition window.

      1. range-chunk on the leading order column (as in chunked lag);
      2. per-chunk counts → driver (≤ num_chunks rows);
      3. chunks wholly inside the limit pass through UNTOUCHED (no sort,
         no window — just a filter);
      4. only the one straddling chunk runs a row_number, over its own
         rows only;
      5. chunks past the limit are filtered out before any work.

    Exactly equal to row_number()-over-global-order ≤ n (pinned in
    tests); the expensive construct shrinks from all-rows to one chunk.
    """
    if not n:
        return df
    bucketed = _range_chunks(df, order_cols[0], num_chunks)

    counts = dict(
        (r["_chunk"], r["cnt"])
        for r in bucketed.groupBy("_chunk").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    cum = 0
    full_chunks: list[int] = []
    straddle: int | None = None
    remaining = 0
    for c in sorted(counts):
        if cum + counts[c] <= n:
            full_chunks.append(c)
            cum += counts[c]
            if cum == n:
                break
        else:
            straddle, remaining = c, n - cum
            break

    whole = bucketed.filter(F.col("_chunk").isin(full_chunks)) if full_chunks else None
    parts = []
    if whole is not None:
        parts.append(whole)
    if straddle is not None and remaining > 0:
        w = Window.partitionBy("_chunk").orderBy(*order_cols)
        parts.append(
            bucketed.filter(F.col("_chunk") == straddle)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= remaining)
            .drop("_rn")
        )
    if not parts:
        return df.limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.drop("_key_num", "_chunk")


def chunked_lag_edges(
    df: DataFrame,
    sender_col: str,
    order_cols: Sequence[str],
    num_chunks: int = 32,
) -> DataFrame:
    """OP-LAG-EDGE + OP-AGG-EDGEW at scale: same output as
    operators.network.lag_edges with a global window, but shuffles by
    chunk instead of collapsing to one partition."""
    pairs = chunked_lag_pairs(df, sender_col, order_cols, num_chunks)
    # the head's null prev fails `!=` too: only real transitions remain
    return (
        pairs.filter(F.col("prev") != F.col("cur"))
        .select(
            F.least("prev", "cur").alias("source"),
            F.greatest("prev", "cur").alias("target"),
        )
        .groupBy("source", "target")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
