"""Golden-fixture + property + differential tests for the flagship
interaction-graph pipeline (SURVEY.md §5.2, FIXTURES.md F1/F7)."""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from poc_spark.functions.chat_parse import parse_chat_lines
from poc_spark.operators.network import (
    induced_subgraph,
    interaction_graph,
    interaction_pairs,
    lag_edges,
    search_nodes,
)
from poc_spark.plans.dispatch import CHUNK_FORCE_KEY
from poc_spark.sources.chat import chat_lines_from_strings
from tests.reference_oracle import analyze_network

# FIXTURES.md F1 — every row class exercised:
#   normal interleaved senders; immediate self-reply; "~ John Doe" ->
#   "JohnDoe"; Hebrew + emoji senders; omitted lines; malformed/system
#   lines; continuation lines; bad dates; out-of-range rows *between*
#   in-range rows (edge must form across the gap).
GOLDEN_LINES = [
    "[1.10.2023, 08:00:00] ~ John Doe: hello everyone",       # 0 JohnDoe
    "[1.10.2023, 08:01:00] Alice: hi John",                   # 1 Alice
    "[1.10.2023, 08:01:30] Alice: how are you",               # 2 Alice (self — no edge)
    "[2.10.2023, 09:00:00] דני כהן: שלום",                    # 3 דניכהן
    "[2.10.2023, 09:00:30] Bob: הושמטה",                      # dropped: omitted
    "[2.10.2023, 09:01:00] 🦆: quack",                        # 4 🦆
    "this is a continuation line of a multi-line message",     # dropped: format
    "[99.99.2023, 10:00:00] Ghost: bad date",                 # dropped: date
    "[3.10.2023, 10:05:00] Bob: back again",                  # 5 Bob
    "[15.10.2023, 11:00:00] Carol: out of range later",       # 6 Carol (in unless ranged)
    "[4.10.2023, 12:00:00] Alice: fine thanks",               # 7 Alice
]


def _graph(spark, lines, **kw):
    raw = chat_lines_from_strings(spark, lines)
    msgs = parse_chat_lines(raw)
    nodes, edges = interaction_graph(msgs, **kw)
    node_ids = sorted(r["id"] for r in nodes.collect())
    edge_map = {(r["source"], r["target"]): r["weight"] for r in edges.collect()}
    return node_ids, edge_map


def test_golden_no_filters(spark):
    node_ids, edge_map = _graph(spark, GOLDEN_LINES)
    exp_nodes, exp_edges = analyze_network(GOLDEN_LINES)
    # hand-computed expectations (independent of the oracle)
    assert node_ids == sorted(["JohnDoe", "Alice", "דניכהן", "🦆", "Bob", "Carol"])
    assert edge_map[("Alice", "JohnDoe")] == 1
    assert edge_map[("Alice", "דניכהן")] == 1  # chain skips dropped rows
    assert node_ids == exp_nodes
    assert edge_map == exp_edges


def test_golden_date_range_edge_across_gap(spark):
    # range [2023-10-01, 2023-10-04] excludes Carol (15.10) — Bob(3.10)
    # and Alice(4.10) must still link across her absence... and here
    # Carol sits between them in line order, so the edge Bob-Alice forms.
    kw = dict(start_date="2023-10-01", end_date="2023-10-04")
    node_ids, edge_map = _graph(spark, GOLDEN_LINES, **kw)
    exp_nodes, exp_edges = analyze_network(GOLDEN_LINES, "2023-10-01", "2023-10-04")
    assert "Carol" not in node_ids
    assert edge_map[("Alice", "Bob")] == 1
    assert node_ids == exp_nodes and edge_map == exp_edges


def test_lone_bound_is_ignored(spark):
    # both-bounds-only quirk: lone start or lone end == no filter at all
    base = _graph(spark, GOLDEN_LINES)
    only_start = _graph(spark, GOLDEN_LINES, start_date="2023-10-02")
    only_end = _graph(spark, GOLDEN_LINES, end_date="2023-10-02")
    assert only_start == base
    assert only_end == base


def test_ordered_limit(spark):
    node_ids, edge_map = _graph(spark, GOLDEN_LINES, limit=3)
    exp_nodes, exp_edges = analyze_network(GOLDEN_LINES, limit=3)
    assert node_ids == exp_nodes == sorted(["JohnDoe", "Alice"])
    assert edge_map == exp_edges == {("Alice", "JohnDoe"): 1}


def test_limit_zero_means_no_limit(spark):
    # reference `if limit and count >= limit` — 0 is falsy
    assert _graph(spark, GOLDEN_LINES, limit=0) == _graph(spark, GOLDEN_LINES)


def _random_chat(rng: random.Random, n: int) -> list[str]:
    senders = ["Alice", "Bob", "~ John Doe", "דני", "🦆", "Eve X"]
    lines = []
    for _ in range(n):
        roll = rng.random()
        day = rng.randint(1, 28)
        month = rng.randint(9, 11)
        s = rng.choice(senders)
        if roll < 0.08:
            lines.append(f"[{day}.{month}.2023, 10:00:00] {s}: הושמט media")
        elif roll < 0.16:
            lines.append("random system line without format")
        elif roll < 0.22:
            lines.append(f"[{rng.randint(32, 99)}.13.2023, 10:00:00] {s}: bad date")
        else:
            lines.append(f"[{day}.{month}.2023, 10:00:00] {s}: msg {rng.random():.3f}")
    return lines


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_differential_random_chats(spark, seed):
    rng = random.Random(seed)
    lines = _random_chat(rng, 120)
    for kw in (
        {},
        {"limit": 25},
        {"start_date": "2023-09-10", "end_date": "2023-10-20"},
        {"start_date": "2023-09-10", "end_date": "2023-10-20", "limit": 13},
    ):
        got_nodes, got_edges = _graph(spark, lines, **kw)
        exp_nodes, exp_edges = analyze_network(
            lines, kw.get("start_date"), kw.get("end_date"), kw.get("limit")
        )
        assert got_nodes == exp_nodes, kw
        assert got_edges == exp_edges, kw


def test_property_invariants(spark):
    rng = random.Random(7)
    lines = _random_chat(rng, 200)
    raw = chat_lines_from_strings(spark, lines)
    msgs = parse_chat_lines(raw)
    nodes, edges = interaction_graph(msgs, limit=80)
    edge_rows = edges.collect()
    node_ids = {r["id"] for r in nodes.collect()}
    for r in edge_rows:
        assert r["source"] <= r["target"]          # canonical undirected form
        assert r["source"] != r["target"]          # no self-loops
        assert r["source"] in node_ids and r["target"] in node_ids
        assert r["weight"] >= 1


def test_append_filtered_lines_is_invariant(spark):
    # inserting only-filtered-out lines between existing ones never
    # changes the result (FIXTURES.md F7)
    base = _graph(spark, GOLDEN_LINES)
    noisy = []
    for line in GOLDEN_LINES:
        noisy.append(line)
        noisy.append("[1.10.2023, 08:00:01] Noise: הושמטה")
        noisy.append("system message no format")
    assert _graph(spark, noisy) == base


_h_line = st.one_of(
    st.builds(
        lambda d, s: f"[{d}.1.2023, 10:00:00] {s}: m",
        st.integers(min_value=1, max_value=9),
        st.sampled_from(["A", "B", "C", "~ D"]),
    ),
    st.sampled_from(["plain text", "[2.1.2023, 10:00:00] A: הושמט"]),
)


@pytest.mark.parametrize("force", ["false", "true"], ids=["global", "chunked"])
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    lines=st.lists(_h_line, max_size=24),
    kind=st.sampled_from(["none", "zero", "one", "mid", "past_end"]),
)
@example(lines=["[1.1.2023, 10:00:00] A: m", "[1.1.2023, 10:00:00] B: m"], kind="one")
def test_lag_edges_are_the_links_of_interaction_pairs(spark, force, lines, kind):
    """Both operators are projections of the one shared chain: the
    edges of lag_edges(limit=n) are exactly the source != target rows
    of interaction_pairs(limit=n), on either dispatch path."""
    n = {
        "none": None,
        "zero": 0,
        "one": 1,
        "mid": max(1, len(lines) // 2),
        "past_end": len(lines) + 3,
    }[kind]
    msgs = parse_chat_lines(chat_lines_from_strings(spark, lines))
    spark.conf.set(CHUNK_FORCE_KEY, force)
    try:
        edges = lag_edges(msgs, "sender", ("line_id",), limit=n).collect()
        pairs = interaction_pairs(msgs, limit=n).collect()
    finally:
        spark.conf.unset(CHUNK_FORCE_KEY)
    got = {(r["source"], r["target"]): r["weight"] for r in edges}
    assert len(got) == len(edges)
    assert got == {
        (r["source"], r["target"]): r["weight"]
        for r in pairs
        if r["source"] != r["target"]
    }


def test_lag_edges_grouped_output_no_cross_group_edges(spark):
    """group_output=True: one graph per group — chains never cross the
    partition boundary, and the group key survives into the result."""
    rows = [
        # group g1: A B A  -> edges (A,B):2
        ("g1", 1, "A"), ("g1", 2, "B"), ("g1", 3, "A"),
        # group g2: C D   -> edge (C,D):1 ; B->C must NOT form
        ("g2", 4, "C"), ("g2", 5, "D"),
    ]
    df = spark.createDataFrame(rows, "grp string, seq long, sender string")
    got = {
        (r["grp"], r["source"], r["target"]): r["weight"]
        for r in lag_edges(
            df, "sender", ("seq",), partition_cols=("grp",), group_output=True
        ).collect()
    }
    assert got == {("g1", "A", "B"): 2, ("g2", "C", "D"): 1}
    # default (corpus-wide) output for the same input merges weights
    # but still never crosses groups
    merged = {
        (r["source"], r["target"]): r["weight"]
        for r in lag_edges(
            df, "sender", ("seq",), partition_cols=("grp",)
        ).collect()
    }
    assert merged == {("A", "B"): 2, ("C", "D"): 1}


def test_search_and_induced_subgraph(spark):
    raw = chat_lines_from_strings(spark, GOLDEN_LINES)
    msgs = parse_chat_lines(raw)
    nodes, edges = interaction_graph(msgs)
    hits = search_nodes(nodes, "aLiC")
    assert [r["id"] for r in hits.collect()] == ["Alice"]
    # induced subgraph on {Alice, JohnDoe} keeps only their mutual edge
    sub = induced_subgraph(edges, search_nodes(nodes, "o"))  # JohnDoe, Bob, Carol
    kept = {(r["source"], r["target"]) for r in sub.collect()}
    assert all(s in {"JohnDoe", "Bob", "Carol"} and t in {"JohnDoe", "Bob", "Carol"}
               for s, t in kept)


def test_pivot_zero_fill(spark):
    # q_pivot_events' coalesce-to-0 path: a user missing a category
    # must report 0, not null (the synthetic events table has no such
    # user, so the contract compare can't catch a regression here)
    from poc_spark import contract
    df = spark.createDataFrame(
        [(1, "click"), (1, "view"), (2, "click")], "user_id long, event_type string"
    )
    types = ["click", "view", "purchase", "error", "signup"]
    from pyspark.sql import functions as F
    piv = (df.groupBy("user_id").pivot("event_type", types).agg(F.count(F.lit(1)))
           .select("user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]))
    rows = {r["user_id"]: r for r in piv.collect()}
    assert rows[2]["n_view"] == 0 and rows[2]["n_purchase"] == 0
    assert rows[1]["n_click"] == 1 and rows[1]["n_view"] == 1
