"""Size-threshold dispatch between global-window and chunked plans.

The reference's flagship semantics need a TOTAL order (one chat
stream); a global `Window.orderBy(...)` expresses it but collapses to a
single partition — fine below ~1M rows, hostile at 100 TB. Below it the
chunked form benches slower: it runs fixed planning jobs of its own,
the narrow checkpoint and the per-chunk stats (3 jobs), plus an
approxQuantile pass (2 more) unless the order key is split-ordered —
a served chat request takes 6 jobs chunked against 2 global. The
threshold was set against the quantile chain and has not been
re-measured for the split-ordered one. Project policy: global-window
forms are the default below ~1M rows; the chunked
scale paths (plans/chunked_lag.py) take over above.

This module makes the operators enforce that policy automatically:
`use_chunked(df)` consults Catalyst's optimized-plan sizeInBytes
estimate — free, no job, filter-selectivity-aware — against a
configurable byte threshold. Callers (operators/network.py; the
perplexity buckets in operators/textstats.py, under their own
threshold key) route to the exactly-equal chunked implementation when
it trips. Unknown/huge
estimates (post-join plans without stats) dispatch chunked: the safe
direction at scale.

Conf keys:
  spark.poc.chunkedWindow.minBytes  estimate threshold (default 24 MiB
                                    ≈ 1.1M event rows at the measured
                                    ~22 B/row parquet-scan estimate)
  spark.poc.chunkedWindow.force     "true"/"false" overrides the
                                    estimate entirely (tests; ops)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CHUNK_MIN_BYTES_KEY = "spark.poc.chunkedWindow.minBytes"
CHUNK_FORCE_KEY = "spark.poc.chunkedWindow.force"
DEFAULT_MIN_BYTES = 24 * 1024 * 1024


# spark.sql.defaultSizeInBytes (Long.MaxValue): what a plan with no
# stats (an RDD-backed or Python-UDF leaf) reports as its size.
NO_STATS_BYTES = 2**63 - 1


def estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate in bytes. No job runs;
    for parquet scans this is file size scaled by filter selectivity.
    A value >= NO_STATS_BYTES means "unknown", not a real size."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def use_chunked(
    df: DataFrame,
    min_bytes_key: str = CHUNK_MIN_BYTES_KEY,
    default_min_bytes: int = DEFAULT_MIN_BYTES,
) -> bool:
    """True when a global-window operator should take the range-chunked
    scale path for this input: the force key when set, else the plan
    estimate against the threshold under `min_bytes_key` (an operator
    whose input is much wider per row than an event scan brings its own
    key and default, so the crossover stays at the same row count)."""
    conf = df.sparkSession.conf
    force = conf.get(CHUNK_FORCE_KEY, None)
    if force is not None:
        return force.strip().lower() == "true"
    threshold = int(conf.get(min_bytes_key, str(default_min_bytes)))
    return estimated_size_bytes(df) >= threshold
