"""Chat-export text source (OP-SRC-TEXT / OP-SRC-WHOLETEXT).

Reference behavior: open the uploaded file and iterate lines in file
order (/root/reference/backend/main.py:281-282); the whole-file variant
decodes with errors="replace" and splitlines (backend/main.py:357-360).

The file's line order is the single load-bearing order in the whole
system (edge construction is lag-over-line-order), so the source must
attach a line_id whose ORDER equals file order. Contiguity is NOT
load-bearing — only ordering is — so line_id =
monotonically_increasing_id(), computed JVM-side with zero shuffles
and zero Python serialization. Within one file, partitions are
split-ordered and mid is increasing within each partition, so mid
order == file order. (A Python rdd.zipWithIndex formulation benches
~5x slower at 2M lines — every row crosses the JVM/Python boundary
twice.)

The id's layout is load-bearing too: its upper 31 bits
(line_id >> SPLIT_SHIFT) are the index of the input split (the scan
partition) the line came from, so they are a free, balanced range
partition of the line order. read_chat_lines says so in line_id's
column metadata (SPLIT_ORDERED); the chunked lag chain
(plans/chunked_lag.py) reads the mark and takes its chunks from those
bits instead of a quantile pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# column-metadata key: the column is a monotonically_increasing_id of a
# scan, whose value >> SPLIT_SHIFT is the scan partition's index
SPLIT_ORDERED = "split_ordered"
SPLIT_SHIFT = 33


def read_chat_lines(spark: SparkSession, path: str) -> DataFrame:
    """Return raw_chat(value, file_path, line_id) for chat exports.

    Ordering is safe per file only (mid is comparable WITHIN a file —
    downstream windows over multiple files must partition by
    file_path, which operators/network.py supports via partition_cols).
    line_id carries the SPLIT_ORDERED mark.
    """
    return spark.read.text(path).select(
        F.col("value"),
        F.input_file_name().alias("file_path"),
        F.monotonically_increasing_id().alias("line_id", metadata={SPLIT_ORDERED: True}),
    )


def chat_lines_from_strings(spark: SparkSession, lines: list[str]) -> DataFrame:
    """Build raw_chat from in-memory lines (test/serving convenience;
    mirrors OP-SRC-WHOLETEXT splitlines semantics)."""
    rows = [(line, "<memory>", i) for i, line in enumerate(lines)]
    return spark.createDataFrame(rows, "value string, file_path string, line_id long")
