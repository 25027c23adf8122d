"""Hostile-line differentials for both chat parses: lines built from
brackets, `] ` at either edge, noise at the stamp's leading edge
(a space-padded day), runs of `~`, `:` and `,`, every
character Python's str.isspace() accepts (Spark's trim and Java's \\s
know only ASCII), Java-only line terminators and the Hebrew omitted
marks. The served graph must equal the reference oracle on both
dispatch paths, and the upload parse must equal the reference ETL."""

from __future__ import annotations

import json
import uuid

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from poc_spark.functions.chat_parse import OMITTED_TOKENS, PY_WHITESPACE
from poc_spark.operators.etl import parse_chat_table
from poc_spark.plans.dispatch import CHUNK_FORCE_KEY
from poc_spark.serve import analyze_network
from poc_spark.sources.chat import chat_lines_from_strings
from tests.reference_oracle import analyze_network as reference_network
from tests.test_etl import _reference_etl

_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

_piece = st.sampled_from(
    ["[", "]", "] ", "~", "~~~", ":", ": ", ",", "A", "B", "b c", *OMITTED_TOKENS,
     *PY_WHITESPACE]
)
_noise = st.lists(_piece, max_size=4).map("".join)
_stamp = st.sampled_from(["1.1.2023", "2.1.2023, 10:00:00", "3.1.2023,x", "31.2.2023", "x"])
_sender = st.sampled_from(["A", "B", "~C~", " D ", "דני", "x y"])
# noise at the stamp's leading edge, inside the bracket: strptime's %d
# takes one space pad (" 1.1.2023") and Spark's d takes none
_edge = st.one_of(_noise, st.sampled_from([" ", "  ", "0", "00", " 0"]))
_line = st.one_of(
    st.builds(
        lambda lead, edge, stamp, mid, pre, sender, post, msg:
            f"{lead}[{edge}{stamp}{mid}] {pre}{sender}{post}: {msg}",
        st.sampled_from(["", "[", "] ", " ", "\xa0", "\u3000"]),
        _edge, _stamp, _noise, _noise, _sender, _noise, _noise,
    ),
    _noise,
)


def _read_like_reference(path) -> list[str]:
    """The export's lines as the reference iterates them: a text-mode
    file splits on \\n, \\r and \\r\\n only — as Spark's text source does."""
    with open(path, encoding="utf-8") as f:
        return [line.rstrip("\n") for line in f]


@pytest.mark.parametrize("force", [None, "true"], ids=["configured", "forced_chunked"])
@_SETTINGS
@given(
    lines=st.lists(_line, max_size=25),
    bounds=st.sampled_from([(None, None), ("2023-01-02", "2023-01-03")]),
    limit=st.sampled_from([None, 0, 1, 3, -1]),
)
@example(
    lines=["[1.1.2023, 10:00:00] \tA: m", "[1.1.2023, 10:00:00] B\t: m"],
    bounds=(None, None),
    limit=None,
)
@example(
    lines=["[1.1.2023] \xa0A\u3000: m", "[2.1.2023] ~B\u2028~: m", "[3.1.2023] A: m"],
    bounds=(None, None),
    limit=None,
)
@example(
    lines=["[ 1.1.2023, 10:00] A: m", "[ 2.1.2023, 10:00] B: m", "[  3.1.2023] A: m",
           "[ 3.1.2023] C: m", "[01.1.2023] D: m", "[001.1.2023] A: m"],
    bounds=(None, None),
    limit=None,
)
def test_served_graph_matches_reference(spark, tmp_path_repo, force, lines, bounds, limit):
    path = tmp_path_repo / f"{uuid.uuid4().hex}.txt"
    path.write_text("".join(f"{line}\n" for line in lines), encoding="utf-8")
    if force is not None:
        spark.conf.set(CHUNK_FORCE_KEY, force)
    try:
        body = json.loads(json.dumps(analyze_network(spark, str(path), *bounds, limit)))
    finally:
        spark.conf.unset(CHUNK_FORCE_KEY)
    exp_nodes, exp_links = reference_network(_read_like_reference(path), *bounds, limit)
    assert [n["id"] for n in body["nodes"]] == exp_nodes
    links = {(l["source"], l["target"]): l["weight"] for l in body["links"]}
    assert links == exp_links and len(links) == len(body["links"])


@_SETTINGS
@given(lines=st.lists(_line, max_size=25))
@example(
    lines=[
        "[1.1.2023, 10:00:00] G: hi",
        "\xa0[1.1.2023, 10:00:00] A: leading nbsp",
        "[1.1.2023, 10:00:00] B: trailing nbsp\xa0",
        "[1.1.2023, 10:00:00] C:\u3000x",
        "[1.1.2023, 10:00:00] D: a\u2028b\x85c\rd",
    ]
)
def test_upload_parse_matches_reference(spark, lines):
    got = parse_chat_table(chat_lines_from_strings(spark, lines)).orderBy("line_id").collect()
    _, exp_rows = _reference_etl(lines)
    assert [(r["group_name"], r["date_time"], r["sender"], r["message"]) for r in got] == exp_rows
