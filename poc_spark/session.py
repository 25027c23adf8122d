"""SparkSession factory.

Defaults are chosen for correctness-at-scale first:
  - AQE on: runtime shuffle coalescing + skew-join splitting, so the same
    plan survives a 100x scale-up without hand-tuning partition counts.
  - Arrow on: any pandas interchange (mapInPandas/applyInPandas paths in
    operators/) is batched, never per-row pickled.
  - CORRECTED time parser: tolerant `d.M.yyyy` parsing returns null on
    malformed input instead of failing the job (reference skips bad rows,
    backend/main.py:298-302 in /root/reference).
  - shuffle partitions default to the local core count; on a real cluster
    AQE coalesces, and callers can override via SPARK_GRAFT_CPUS.
  - file open cost 256 KiB (Spark's default is 4 MiB): scans split to
    the cores. Spark sizes a file split at
        min(maxPartitionBytes = 128 MiB, max(openCostInBytes, bytes / cores))
    (bytes counts each file plus one open cost), so under the 4 MiB
    default a chat export of a few MB reads as one to three splits and
    its parse runs on that many cores: at local[4] the 1.8 MB perfbench
    `interactive` export read as 1 split and the 9.2 MB `bulk` export
    as 3. At 256 KiB both read as 4, one per core. The chat path's
    order stays exact: line_id's split bits (sources/chat.py) follow
    the splits, and the chunked chain's split-aligned chunks
    (plans/chunked_lag.py) get finer with them. A file under 256 KiB
    still reads as one split. The setting only matters below
    openCost × cores of input: above it, bytes / cores wins again, so a
    100 TB scan keeps its bytes/cores-or-128 MiB splits, and the one
    thing that changes at scale is how many tiny files pack into one
    split (256 KiB of open cost each instead of 4 MiB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "poc_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or min(
            os.cpu_count() or 4, 32
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
