"""EP-2 (/upload-chats) parity tests: anchored regex parse, group-name
exclusion, raw date_time string, parquet append sink."""

from __future__ import annotations

import re

from poc_spark.operators.etl import append_messages, parse_chat_table
from poc_spark.sources.chat import chat_lines_from_strings

# line 0's sender becomes the group name (and is excluded); later lines
# with the same sender are excluded too; non-matching lines are dropped.
ETL_LINES = [
    "[7.10.2023, 19:43:25] Family Group: welcome",       # defines group_name
    "[7.10.2023, 19:44:00] ~🦋: איזה יפים אתם",          # kept, sender raw
    "  [7.10.2023, 19:45:00] Alice: padded line  ",      # stripped, kept
    "[7.10.2023, 19:46:00] Family Group: admin notice",  # sender==group → skip
    "no format here",                                     # dropped
    "[8.10.2023, 09:00:00] Bob: hi",                     # kept
]


def _reference_etl(lines):
    """Behavioral twin of backend/main.py:349-390 (test oracle)."""
    pattern = re.compile(r"\[([^\]]+)\]\s*([^:]+):\s*(.+)")
    group_name, rows = None, []
    for line in lines:
        line = line.strip()
        m = pattern.match(line)
        if not m:
            continue
        date_time, sender, message = m.group(1), m.group(2), m.group(3)
        if group_name is None:
            group_name = sender
            continue
        if sender == group_name:
            continue
        rows.append((group_name, date_time, sender, message))
    return group_name, rows


def test_etl_golden(spark):
    raw = chat_lines_from_strings(spark, ETL_LINES)
    got = parse_chat_table(raw).orderBy("line_id").collect()
    exp_group, exp_rows = _reference_etl(ETL_LINES)
    assert exp_group == "Family Group"
    assert [(r["group_name"], r["date_time"], r["sender"], r["message"]) for r in got] == exp_rows
    # raw fidelity: date_time is the unparsed string, sender unnormalized
    assert got[0]["date_time"] == "7.10.2023, 19:44:00"
    assert got[0]["sender"] == "~🦋"


def test_etl_sink_roundtrip(spark, tmp_path_repo):
    raw = chat_lines_from_strings(spark, ETL_LINES)
    msgs = parse_chat_table(raw)
    path = str(tmp_path_repo / "whatsapp_messages")
    inserted = append_messages(msgs, path)
    assert inserted == 3
    back = spark.read.parquet(path)
    assert back.count() == 3
    assert set(back.columns) == {"group_name", "date_time", "sender", "message"}
    # append semantics: second write adds, never overwrites
    assert append_messages(msgs, path) == 3
    assert spark.read.parquet(path).count() == 6
