"""ETL of chat exports into the relational messages table (EP-2 parity).

Reference: POST /upload-chats (/root/reference/backend/main.py:349-395):
  - each line is str.strip()ed, then matched ANCHORED at the start
    against \\[([^\\]]+)\\]\\s*([^:]+):\\s*(.+)  (backend/main.py:347);
    Python `pattern.match` anchors — the Spark regex gets a ^ prefix.
    Python's strip(), \\s and `.` are Unicode-aware; the Spark forms
    use the same 29-character whitespace set (chat_parse.PY_WHITESPACE)
    and Java's UNIX_LINES flag, so they accept the same lines;
  - the FIRST matched line's sender (group 2, raw, NOT normalized)
    becomes `group_name`; that line is skipped (backend/main.py:373-376);
  - every later line whose sender == group_name is skipped
    (backend/main.py:377-378);
  - surviving rows land as (group_name, date_time, sender, message) —
    date_time kept as the raw string, exactly like the reference's MySQL
    table (backend/main.py:380-384).

Spark-first notes: the reference does one INSERT round-trip per row; the
engine writes set-based partition batches. The group-name "argmin by
position" is a running `first()` window per file — per-file windows, so
a directory of many chat files parallelizes with no global shuffle.
The served upload (serve.upload_chats_response) caches nothing: it
writes with `write_messages` once and reads the response's group name
and row count from an Observation on that write. `append_messages`
(write, then a second count job) stays for the benchmark's per-layer
probe, which perfbench/workloads.py times through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from poc_spark.functions.chat_parse import CHAT_LINE_PATTERN, PY_WHITESPACE

# the reference regex, anchored, with Python's meaning in Java: Python's
# \s is every str.isspace() character (Java's is ASCII only), and
# Python's `.` stops only at \n — Java's also stops at \r, \u0085,
# \u2028 and \u2029 unless UNIX_LINES, (?d), is on.
_WS = "[" + "".join(f"\\x{{{ord(c):x}}}" for c in PY_WHITESPACE) + "]"
_ANCHORED = "(?d)^" + CHAT_LINE_PATTERN.replace(r"\s", _WS)


def parse_chat_table(raw_chat: DataFrame) -> DataFrame:
    """raw_chat(value, file_path, line_id) → messages rows
    (group_name, date_time, sender, message, file_path, line_id).

    date_time is the raw "7.10.2023, 19:43:25" string (reference keeps it
    untyped); use `typed_messages` for the proper TimestampType column.
    """
    trimmed = F.btrim("value", F.lit(PY_WHITESPACE))
    parsed = raw_chat.select(
        "file_path",
        "line_id",
        F.regexp_extract(trimmed, _ANCHORED, 1).alias("date_time"),
        F.regexp_extract(trimmed, _ANCHORED, 2).alias("sender"),
        F.regexp_extract(trimmed, _ANCHORED, 3).alias("message"),
    ).filter(F.col("date_time") != "")  # group 1 is non-empty iff matched

    w = (
        Window.partitionBy("file_path")
        .orderBy("line_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_group = parsed.withColumn("group_name", F.first("sender").over(w))
    return with_group.filter(F.col("sender") != F.col("group_name")).select(
        "group_name", "date_time", "sender", "message", "file_path", "line_id"
    )


def typed_messages(messages: DataFrame) -> DataFrame:
    """Upgrade the raw date_time string to typed ts/msg_date columns
    (schema MESSAGES in poc_spark/schemas.py). Tolerant parse: malformed
    stamps become null rather than failing the job."""
    return messages.select(
        "group_name",
        F.try_to_timestamp(F.col("date_time"), F.lit("d.M.yyyy, HH:mm:ss")).alias("ts"),
        F.try_to_timestamp(
            F.split(F.col("date_time"), ",").getItem(0), F.lit("d.M.yyyy")
        )
        .cast("date")
        .alias("msg_date"),
        "sender",
        "message",
        "line_id",
    )


def write_messages(messages: DataFrame, path: str) -> None:
    """OP-SINK-JDBC analog: set-based append of the messages table to a
    parquet dataset (the reference's per-row INSERTs collapse into
    partition-batched writes)."""
    messages.select("group_name", "date_time", "sender", "message").write.mode(
        "append"
    ).parquet(path)


def append_messages(messages: DataFrame, path: str) -> int:
    """write_messages, then inserted_rows like the endpoint."""
    write_messages(messages, path)
    return messages.count()


def append_messages_jdbc(
    messages: DataFrame, url: str, table: str = "whatsapp_messages", **props: str
) -> None:
    """True JDBC sink (needs a reachable database + driver jar; parity
    with the reference's MySQL table). Batched per partition by Spark —
    never one round-trip per row."""
    (
        messages.select("group_name", "date_time", "sender", "message")
        .write.mode("append")
        .jdbc(url, table, properties=dict(props))
    )
