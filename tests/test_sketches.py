"""Accuracy-contract tests for sketch operators: every approximate
answer is pinned against the exact answer computed on the same data."""

from __future__ import annotations

from pyspark.sql import functions as F

from poc_spark.operators.sketches import (
    approx_distinct_by,
    hll_union_estimate,
)


def _lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_approx_distinct_within_bound(spark, sf_dir):
    li = _lineitem(spark, sf_dir)
    rows = approx_distinct_by(li, ["l_returnflag"], "l_orderkey", rsd=0.05).collect()
    assert rows, "no groups"
    for r in rows:
        assert r["within_bound"], r
        assert abs(r["n_approx"] - r["n_exact"]) / r["n_exact"] <= 0.15


def test_hll_union_merges_group_sketches(spark, sf_dir):
    """The mergeability contract: union of per-group sketches must
    estimate the GLOBAL distinct count (groups overlap in orderkeys, so
    a sum of per-group counts would overcount — the union must not)."""
    li = _lineitem(spark, sf_dir)
    est = hll_union_estimate(li, ["l_returnflag"], "l_orderkey").collect()[0][
        "estimate"
    ]
    exact = li.select("l_orderkey").distinct().count()
    assert abs(est - exact) / exact <= 0.05, (est, exact)
    # sanity: groups DO overlap, so the naive sum is materially larger
    per_group_sum = (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert per_group_sum > exact * 1.2


def test_relational_hll_accuracy_and_merge(spark):
    """Relational HLL (hll_partial/hll_estimate): raw estimate within
    the m=1024 error envelope, and the partial state merges by MAX —
    any split of the input yields bit-identical registers and
    estimates (the property that lets rollup_incremental maintain it)."""
    from pyspark.sql import functions as F

    from poc_spark.operators.sketches import (
        HLL_M,
        hll_estimate,
        hll_partial,
    )

    n = 20000
    df = spark.range(n).select(
        (F.col("id") % 2).cast("string").alias("g"), F.col("id").alias("v")
    )
    part = hll_partial(df, ["g"], "v")
    assert part.groupBy("g").count().agg(F.max("count")).collect()[0][0] <= HLL_M
    est = {r["g"]: r["est"] for r in hll_estimate(part, ["g"]).collect()}
    for g, exact in (("0", n / 2), ("1", n / 2)):
        assert abs(est[g] - exact) / exact < 0.15, (g, est[g], exact)

    # split-merge associativity: partials of halves, max-merged, equal
    # the one-shot partials bit-for-bit
    h1 = hll_partial(df.filter("v % 3 != 0"), ["g"], "v")
    h2 = hll_partial(df.filter("v % 3 = 0"), ["g"], "v")
    merged = (
        h1.unionByName(h2)
        .groupBy("g", "reg")
        .agg(F.max("rho").alias("rho"))
    )
    a = sorted(map(tuple, part.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b
    est2 = {r["g"]: r["est"] for r in hll_estimate(merged, ["g"]).collect()}
    assert est2 == est


def test_histogram_quantile_hand_ranks_and_merge(spark):
    from pyspark.sql import functions as F

    from poc_spark.operators.sketches import (
        histogram_partial,
        histogram_quantile,
    )

    # values 1..10 in one group, width 2 -> buckets 0..5
    rows = [("g", float(v)) for v in range(1, 11)]
    df = spark.createDataFrame(rows, "k string, v double")
    state = histogram_partial(df, ["k"], "v", 2.0)
    got = histogram_quantile(state, ["k"], (0.5, 0.9), 2.0).collect()[0]
    # rank ceil(0.5*10)=5 -> value 5 lives in bucket 2 (lower edge 4.0)
    # rank ceil(0.9*10)=9 -> value 9 in bucket 4 (lower edge 8.0)
    assert (got["q_0_5_lo"], got["q_0_9_lo"], got["n_rows"]) == (4.0, 8.0, 10)
    # merge associativity: two half-states summed == one-pass state
    h1 = histogram_partial(df.filter("v <= 5"), ["k"], "v", 2.0)
    h2 = histogram_partial(df.filter("v > 5"), ["k"], "v", 2.0)
    merged = (
        h1.unionByName(h2)
        .groupBy("k", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    again = histogram_quantile(merged, ["k"], (0.5, 0.9), 2.0).collect()[0]
    assert (again["q_0_5_lo"], again["q_0_9_lo"], again["n_rows"]) == (
        4.0,
        8.0,
        10,
    )


def test_histogram_quantile_edge_probs(spark):
    from poc_spark.operators.sketches import (
        histogram_partial,
        histogram_quantile,
    )

    rows = [("g", float(v)) for v in range(1, 11)]
    df = spark.createDataFrame(rows, "k string, v double")
    state = histogram_partial(df, ["k"], "v", 2.0)
    got = histogram_quantile(state, ["k"], (0.01, 1.0), 2.0).collect()[0]
    # rank ceil(0.01*10)=1 -> value 1 in bucket 0; rank 10 -> value 10
    # in bucket 5 (lower edge 10.0)
    assert (got["q_0_01_lo"], got["q_1_0_lo"]) == (0.0, 10.0)
