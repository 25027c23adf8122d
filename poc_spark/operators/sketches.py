"""Sketch operators: mergeable approximate aggregates for 100 TB-scale
profiling — grouped approx distinct next to its exact count, the
DataSketches HLL union (hll_sketch_agg / hll_union_agg), a relational
HLL whose state is rows, and a sum-mergeable fixed-width histogram for
quantiles.

Why sketches are the scale path: an exact COUNT(DISTINCT x) shuffles
every distinct value; an HLL sketch is a few KB per partition, merges
associatively (partial agg -> one tiny final merge), and can be stored
per partition/day and re-unioned later without touching the raw data.
Same for a histogram state vs a full sort. A plain grouped approx
quantile or frequent-items pass needs no wrapper here: call Catalyst's
percentile_approx (contract.sketch_quantile_bounds does, inline) or
DataFrame.freqItems directly, and the optimizer keeps it.

Accuracy contracts (rel-err bounds) are pinned in tests/test_sketches.py
against exact answers; the DuckDB oracle for the contract entry checks
the BOUND (a boolean both engines can verify against their own sketch
implementation), not bit-equality of estimates — sketch binaries are
implementation-defined.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def approx_distinct_by(
    df: DataFrame, keys: Sequence[str], col: str, rsd: float = 0.05
) -> DataFrame:
    """(keys..., n_exact, n_approx, within_bound) — grouped
    approx_count_distinct next to the exact count, with the bound check
    materialized (|approx-exact|/exact <= 3*rsd; HLL++ rsd is a std
    dev, 3 sigma is the practical guarantee). The exact count is here
    for the contract only — at scale you run the approx alone."""
    exact = F.countDistinct(F.col(col)).alias("n_exact")
    approx = F.approx_count_distinct(col, rsd).alias("n_approx")
    out = df.groupBy(*keys).agg(exact, approx)
    bound = (
        F.abs(F.col("n_approx") - F.col("n_exact"))
        / F.greatest(F.col("n_exact"), F.lit(1))
    ) <= 3 * rsd
    return out.select(*keys, "n_exact", "n_approx", bound.alias("within_bound"))


def hll_union_estimate(
    df: DataFrame, keys: Sequence[str], col: str, lg_k: int = 12
) -> DataFrame:
    """1-row (estimate) — build per-group sketches, then UNION the
    sketches and estimate the global cardinality. This is the
    re-aggregation story: per-day/per-partition sketches stored once,
    any rollup answered later by unioning a handful of KB-sized
    binaries instead of rescanning 100 TB."""
    per_group = df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("sk")
    )
    return per_group.agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("sk"), F.lit(False))  # same lg_k everywhere
        ).alias("estimate")
    )


# ---------------------------------------------------------------------------
# RELATIONAL HLL — a cross-engine-exact HyperLogLog whose state is rows,
# not opaque binaries. Registers: bucket = md5-60(v||':hll') mod m,
# rho = leading-zero rank of the remaining 50 hash bits; the per-group
# state is one (group, reg, rho_max) row per NON-EMPTY register (≤ m
# rows), which merges by MAX — i.e. it is exactly the (key, max_col)
# shape rollup_partial/rollup_incremental already maintain, so a lake
# rollup can keep "distinct users per day" current incrementally at
# 100 TB without ever re-shuffling history's distinct values. The
# estimate is the raw HLL harmonic mean computed with EXACT integer
# arithmetic (Σ 2^(51-rho) scaled so absent registers are whole
# numbers) and one final double division — bit-identical in DuckDB, so
# unlike the DataSketches form this one sits under the value-hash
# oracle. (Raw estimate only: the small-range linear-counting
# correction needs ln(), which is not cross-engine stable — the
# contract entry reports the exact count beside it for honesty.)
# ---------------------------------------------------------------------------

#: registers (m = 2^HLL_P); p=10 → ~3.25% relative standard error
HLL_P = 10
HLL_M = 1 << HLL_P


def hll_partial(
    df: DataFrame, keys: Sequence[str], col: str
) -> DataFrame:
    """(keys..., reg, rho) — the mergeable relational-HLL state of
    `col` per group: ≤ HLL_M rows per group, merge = MAX(rho) per
    (group, reg). Feed these rows to rollup_partial(max_cols=["rho"])
    to maintain the sketch inside an incremental lake rollup."""
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.col(col).cast("string"), F.lit(":hll"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    # integer shift, NOT `/` — a 60-bit value through double division
    # loses low bits above 2^53 and the register ranks go silently wrong
    w = F.shiftright(hv, HLL_P)
    rho = F.when(w == 0, F.lit(51)).otherwise(
        F.lit(51) - F.length(F.bin(w))
    )
    return (
        df.select(
            *keys,
            F.pmod(hv, F.lit(HLL_M)).alias("reg"),
            rho.alias("rho"),
        )
        .groupBy(*keys, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(partials: DataFrame, keys: Sequence[str]) -> DataFrame:
    """(keys..., est) — raw HLL estimate from relational partials:
    S·2^51 = Σ_present 2^(51-rho) + (m − n_present)·2^51 stays exact
    in BIGINT (≤ 2^61), then est = α·m² / (S51 / 2^51) — one double
    division, same IEEE result in both engines, rounded to 6."""
    alpha = 0.7213 / (1.0 + 1.079 / float(HLL_M))
    s51 = F.sum(
        F.expr("shiftleft(1L, cast(51 - rho as int))")
    ) + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(1 << 51)
    return partials.groupBy(*keys).agg(
        F.round(
            F.lit(alpha * HLL_M * HLL_M)
            / (s51.cast("double") / F.lit(float(1 << 51))),
            6,
        ).alias("est")
    )


# ---------------------------------------------------------------------------
# RELATIONAL HISTOGRAM QUANTILE — the quantile twin of the relational
# HLL above: a mergeable quantile state whose rows are
# (keys..., bucket, cnt) with bucket = floor(value / width). The state
# merges by SUM — exactly the sum_cols shape rollup_partial /
# rollup_incremental already maintain — so a lake rollup can keep
# standing per-partition quantiles current for the cost of each delta,
# never re-scanning history (KLL/GK summaries merge too, but their
# state is opaque and order-sensitive; this one is rows, exact
# integers, and value-hashes cross-engine). The estimate is the LOWER
# EDGE of the first bucket whose cumulative count reaches
# rank = ceil(p·n) — a deterministic rank lookup with honest error
# bounded by the bucket width (reported beside n_rows; no
# interpolation, which engines disagree on).
# ---------------------------------------------------------------------------


def histogram_partial(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    width: float,
) -> DataFrame:
    """(keys..., bucket, cnt) — the sum-mergeable fixed-width histogram
    state. One hash aggregate; at 100 TB the state is
    O(value_range / width) small rows per key group."""
    return (
        df.groupBy(
            *keys,
            F.floor(F.col(col) / F.lit(float(width)))
            .cast("long")
            .alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def histogram_quantile(
    state: DataFrame,
    keys: Sequence[str],
    probs: Sequence[float],
    width: float,
    cnt_col: str = "cnt",
) -> DataFrame:
    """(keys..., q_<p>_lo..., n_rows) from a histogram_partial state
    (possibly merged across deltas): for each p, the lower edge
    (bucket·width) of the first bucket whose cumulative count reaches
    ceil(p·n). Work is |state| rows per key group — the window runs
    over buckets, never raw values."""
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    c = state.select(
        *keys,
        "bucket",
        F.sum(cnt_col).over(w_cum).alias("cum"),
        F.sum(cnt_col).over(w_all).alias("total"),
    )
    aggs = []
    for p in probs:
        rank = F.ceil(F.lit(float(p)) * F.col("total").cast("double"))
        aggs.append(
            (
                F.min(F.when(F.col("cum") >= rank, F.col("bucket")))
                * F.lit(float(width))
            ).alias(f"q_{str(p).replace('.', '_')}_lo")
        )
    aggs.append(F.max("total").cast("long").alias("n_rows"))
    return c.groupBy(*keys).agg(*aggs)
