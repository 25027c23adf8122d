"""Hypothesis-driven differential testing of the flagship pipeline:
generated chat exports (valid, malformed, hostile) must always match
the reference-twin oracle; failures shrink to a minimal line list. The
stamp's day is checked on its own against datetime.strptime."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from poc_spark.functions.chat_parse import parse_chat_lines
from poc_spark.operators.network import interaction_graph
from poc_spark.sources.chat import chat_lines_from_strings
from tests.reference_oracle import analyze_network

_sender = st.sampled_from(
    ["A", "B", "~C~", "a:b", " D ", "🦆", "דני", "~", "x y z"]
)
_message = st.sampled_from(
    ["m", "a ] b", "c: d", "", "הושמט", "  ", "end]"]
)
_day = st.integers(min_value=0, max_value=45)
_month = st.integers(min_value=0, max_value=15)

_valid_line = st.builds(
    lambda d, m, s, msg: f"[{d}.{m}.2023, 10:00:00] {s}: {msg}",
    _day, _month, _sender, _message,
)
_garbage = st.sampled_from(
    ["", "[", "]", ": ", "[]", "plain text", "[x] y", "[1.1.2023]: z"]
)
_line = st.one_of(_valid_line, _garbage)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(lines=st.lists(_line, min_size=0, max_size=40), limit=st.sampled_from([None, 0, 5]))
def test_pipeline_always_matches_reference(spark, lines, limit):
    raw = chat_lines_from_strings(spark, lines)
    msgs = parse_chat_lines(raw)
    nodes, edges = interaction_graph(msgs, limit=limit)
    got_nodes = sorted(r["id"] for r in nodes.collect())
    got_edges = {(r["source"], r["target"]): r["weight"] for r in edges.collect()}
    exp_nodes, exp_edges = analyze_network(lines, limit=limit)
    assert got_nodes == exp_nodes
    assert got_edges == exp_edges


_date_piece = st.sampled_from(
    ["", "0", "1", "01", " 1", "  1", " 10", "9", "10", "12", "13", "29", "31",
     "32", "001", "2023", "0000", "0001", "12345", "023", " ", "."]
)
_date_text = st.one_of(
    st.text(alphabet="0123456789 .", max_size=12),
    st.builds(lambda d, m, y: f"{d}.{m}.{y}", _date_piece, _date_piece, _date_piece),
)


def _strptime_day(s: str) -> str | None:
    try:
        return dt.datetime.strptime(s, "%d.%m.%Y").date().isoformat()
    except ValueError:
        return None


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(_date_text, min_size=1, max_size=60))
@example(texts=[" 1.1.2023", " 2.1.2023", " 10.1.2023", "  1.1.2023", "001.1.2023", "1.1.0000"])
def test_stamp_day_matches_strptime(spark, texts):
    """The stamp's day in the graph parse's msg_date is the day
    datetime.strptime(s, "%d.%m.%Y") reads, or none where it raises."""
    expected = {str(i): d for i, s in enumerate(texts) if (d := _strptime_day(s))}
    graph = [f"[{s}] A: {i}" for i, s in enumerate(texts)]
    rows = (
        parse_chat_lines(chat_lines_from_strings(spark, graph))
        .select("message", F.col("msg_date").cast("string").alias("day"))
        .collect()
    )
    assert {r["message"]: r["day"] for r in rows} == expected
