"""Range-chunked lag with boundary stitching (SURVEY §4.3) — the scale
path for lag over a single giant totally-ordered stream.

The reference-parity lag (operators/network.py) uses a global window:
one partition, fine for a chat file, hostile at 100 TB. This module
computes the same (prev, cur) adjacency, optionally over only the
first `limit` rows of the order, without ever materializing a global
order. chunked_lag_pairs is the one chunked chain builder — the scale
form of operators.network._chain, which dispatches to it and puts the
edge aggregate on top:

  1. materialize the narrow projection (order columns + value) once,
     with an eager localCheckpoint — every later pass reads that
     working set, so the source (a chat export's text) is scanned and
     parsed exactly once;
  2. range-chunk it. A leading order key that its source marks as
     split-ordered (a chat export's line_id, sources/chat.py) is its
     own partition: the chunk is the input-split index in the key's
     upper bits, coarsened by integer division to at most num_chunks
     chunks — no job. Any other key takes one approxQuantile pass for
     num_chunks-1 approximate boundaries, and every row is bucketed by
     a literal when-chain (no shuffle of its own);
  3. collect each present chunk's count, first value and last value in
     one job (≤ num_chunks rows);
  4. on the driver, walk the cumulative counts against the limit: the
     chunks wholly inside it, and the one chunk that straddles it;
  5. lag WITHIN each kept chunk (parallel windows, one shuffle by
     chunk); row_number in the same window spec drops each chunk's
     first row (the stitch supplies its prev) and, on the straddling
     chunk only, the rows past the limit. The boundary stitch — chunk
     k's first value paired with the previous present chunk's last
     value, the stream head as (null, first) — is a driver-built
     relation of ≤ num_chunks rows.

Equality with the global window (row_number() <= limit, then lag) is
exact: the range partition respects the total order, and a limit keeps
a prefix of it, so each kept row's predecessor is kept too. Any
monotone function of the leading key is such a partition, so the
split-ordered chunks are exact for every input; the mark only promises
they are balanced. Pinned by tests/test_chunked_lag.py.
chunked_ordered_limit (the limit alone) shares the quantile chunks and
step 4.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from poc_spark.sources.chat import SPLIT_ORDERED, SPLIT_SHIFT


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


def _split_chunks(df: DataFrame, key: str, num_chunks: int) -> DataFrame:
    """df + `_chunk` for a SPLIT_ORDERED key, from the input-split index
    in the key's upper bits — a range partition of the key that the
    scan already balanced. split * num_chunks // splits (df's
    partitions) gives each split its own chunk up to num_chunks splits
    and folds runs of neighbouring splits beyond; `least` caps the id
    for a df whose partitions are not the scan's. Every step is
    monotone in the key."""
    n_splits = df._jdf.rdd().getNumPartitions()
    split = F.shiftright(F.col(key), SPLIT_SHIFT)
    chunk = F.least(F.floor(split * num_chunks / n_splits), F.lit(num_chunks - 1))
    return df.withColumn("_chunk", chunk)


def _limit_walk(
    counts: dict[int, int], n: int | None
) -> tuple[list[int], int | None, int]:
    """Walk the present chunks' row counts in chunk order against a
    limit of n rows: (the chunks wholly inside the limit, the one chunk
    that straddles it or None, how many of its rows the limit keeps).
    A falsy n is no limit (reference `if limit and ...`): every chunk
    is whole. A negative n keeps nothing (the reference's
    `count >= limit` breaks before the first line)."""
    if not n:
        return sorted(counts), None, 0
    if n < 0:
        return [], None, 0
    cum = 0
    full: list[int] = []
    for c in sorted(counts):
        if cum + counts[c] > n:
            return full, c, n - cum
        full.append(c)
        cum += counts[c]
        if cum == n:
            break
    return full, None, 0


def _narrow_working_set(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """df projected to `cols`, materialized once (eager localCheckpoint):
    the chunked chain runs two or three actions over its input (the
    quantile pass unless the key is split-ordered, the per-chunk stats,
    the final job), and without the barrier each would re-derive the
    input from its source — for a chat export, re-scan and re-parse the
    text; two parses of a chat export cost more than one parse plus the
    checkpoint's writes and reads. Only the narrow projection is kept,
    so the working set is a few columns wide, not the parsed table.
    Column metadata (the SPLIT_ORDERED mark) survives the checkpoint.

    localCheckpoint, NOT .cache(): .cache() registers the plan in the
    session CacheManager, whose entries never free themselves (VERDICT
    r4 #7); checkpointed blocks are released once the DataFrame is
    garbage-collected, so a long serving session can't accumulate
    storage. The trade: the checkpoint truncates the lineage and its
    blocks live only in executor storage, so Spark cannot recompute
    them — losing an executor that holds one fails the job that reads
    it, and the request must be sent again (which re-reads the
    source). A reliable checkpoint() would survive that, at the price
    of writing the projection to the checkpoint directory on every
    request."""
    return df.select(*cols).localCheckpoint(eager=True)


def chunked_lag_pairs(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    num_chunks: int = 32,
    limit: int | None = None,
) -> DataFrame:
    """(prev, cur) for every row among the first `limit` rows (all rows
    when limit is falsy) of the total order defined by order_cols,
    prev = the previous row's value — computed with per-chunk windows +
    boundary stitching instead of one global window. One row per kept
    row: the stream head comes out as (null, first_val), exactly as a
    global lag would emit it, so a caller can read the full value set
    off the pairs (the interaction graph's (s, s) node rows) without
    its own scan. Equal to row_number() <= limit plus lag over the
    global order."""
    # 1. one narrow materialization (value_col may be an order column)
    narrow = _narrow_working_set(df, list(dict.fromkeys([*order_cols, value_col])))
    value_type = narrow.schema[value_col].dataType
    pair_schema = StructType(
        [StructField("prev", value_type, True), StructField("cur", value_type, True)]
    )

    # 2. range chunks: the source's splits for a split-ordered key,
    # else approx bounds + strict-> bucketing
    key = order_cols[0]
    if narrow.schema[key].metadata.get(SPLIT_ORDERED):
        bucketed = _split_chunks(narrow, key, num_chunks)
    else:
        bucketed = _range_chunks(narrow, key, num_chunks)

    # 3. one job: each present chunk's count, first and last value.
    # A chunk can come out empty (an approx-quantile chunk, or a split
    # whose lines all failed the filters); it is simply absent.
    ord_s = _order_struct(order_cols)
    stats = sorted(
        bucketed.groupBy("_chunk")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min_by(F.col(value_col), ord_s).alias("first_val"),
            F.max_by(F.col(value_col), ord_s).alias("last_val"),
        )
        .collect(),
        key=lambda r: r["_chunk"],
    )

    # 4. the limit walk; the kept chunks are a prefix of the present ones
    full, straddle, remaining = _limit_walk({r["_chunk"]: r["cnt"] for r in stats}, limit)
    kept = stats[: len(full) + (straddle is not None)]

    # boundary stitch: each kept chunk's first row pairs with the
    # previous present chunk's last row; the first chunk's with null
    boundary, prev = [], None
    for r in kept:
        boundary.append((prev, r["first_val"]))
        prev = r["last_val"]
    stitch = narrow.sparkSession.createDataFrame(boundary, pair_schema)
    if not kept:
        return stitch

    # 5. lag within each kept chunk. Each chunk's first row has no
    # in-chunk prev (the stitch supplies it); the straddling chunk
    # keeps only its first `remaining` rows.
    rows = bucketed
    if len(kept) < len(stats):
        rows = rows.filter(F.col("_chunk") <= kept[-1]["_chunk"])
    w = Window.partitionBy("_chunk").orderBy(*order_cols)
    keep = F.col("_rn") > 1
    if straddle is not None:
        keep = keep & ((F.col("_chunk") != straddle) | (F.col("_rn") <= remaining))
    within = (
        rows.select(
            "_chunk",
            F.row_number().over(w).alias("_rn"),
            F.lag(value_col).over(w).alias("prev"),
            F.col(value_col).alias("cur"),
        )
        .filter(keep)
        .select("prev", "cur")
    )
    return within.unionByName(stitch)


def chunked_ordered_limit(
    df: DataFrame,
    n: int | None,
    order_cols: Sequence[str],
    num_chunks: int = 32,
) -> DataFrame:
    """OP-LIMIT-N at scale: first n rows of the total order without a
    global single-partition window.

      1. range-chunk on the leading order column (as in chunked lag);
      2. per-chunk counts → driver (≤ num_chunks rows), walked against
         n (_limit_walk, shared with chunked_lag_pairs);
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
    full_chunks, straddle, remaining = _limit_walk(counts, n)

    parts = []
    if full_chunks:
        parts.append(bucketed.filter(F.col("_chunk").isin(full_chunks)))
    if straddle is not None:
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

