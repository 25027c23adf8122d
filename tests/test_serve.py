"""Serving-edge tests: the reference's JSON response shapes."""

from __future__ import annotations

import json
import uuid

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from poc_spark.functions.chat_parse import parse_chat_lines
from poc_spark.plans.dispatch import CHUNK_FORCE_KEY
from poc_spark.serve import (
    analyze_network,
    analyze_words_response,
    upload_chats_response,
)
from poc_spark.sources.chat import chat_lines_from_strings
from tests.reference_oracle import analyze_network as reference_network

CHAT = """[7.10.2023, 19:43:25] Group Chat: created
[7.10.2023, 19:44:00] Alice: hello there world
[7.10.2023, 19:45:00] Bob: hello again
[8.10.2023, 09:00:00] Alice: world peace
"""


def _write(tmp, name="c.txt"):
    p = tmp / name
    p.write_text(CHAT, encoding="utf-8")
    return str(p)


def test_analyze_network_response_shape(spark, tmp_path_repo):
    resp = analyze_network(spark, _write(tmp_path_repo), limit=50)
    assert {n["id"] for n in resp["nodes"]} == {"GroupChat", "Alice", "Bob"}
    links = {(l["source"], l["target"]): l["weight"] for l in resp["links"]}
    assert links[("Alice", "Bob")] == 2
    assert all(l["source"] <= l["target"] for l in resp["links"])


def test_upload_chats_response(spark, tmp_path_repo):
    resp = upload_chats_response(
        spark, _write(tmp_path_repo), str(tmp_path_repo / "tbl")
    )
    assert resp["status"] == "success"
    assert resp["group_name"] == "Group Chat"   # raw, unnormalized (EP-2)
    assert resp["inserted_rows"] == 3
    assert spark.read.parquet(str(tmp_path_repo / "tbl")).count() == 3


def test_upload_job_count_is_steady(spark, tmp_path_repo):
    """POST /upload-chats runs 2 jobs on every call (the per-file
    window's exchange, then the parquet write, which carries the group
    name and row count as observed metrics): three calls on one file,
    and one call on each of five copies at other paths. The per-file
    window puts a file's rows in the shuffle partition its path hashes
    to, so a take-based group probe would run one to three scan-up jobs
    depending on the path."""
    sc = spark.sparkContext
    table = str(tmp_path_repo / "tbl")
    paths = [_write(tmp_path_repo)] * 3 + [
        _write(tmp_path_repo, f"copy_{i}.txt") for i in range(5)
    ]
    counts, bodies = [], []
    for path in paths:
        group = f"upload_{uuid.uuid4().hex}"
        sc.setJobGroup(group, "upload job count")
        try:
            bodies.append(upload_chats_response(spark, path, table))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert counts == [2] * len(paths), counts
    assert all(b == bodies[0] for b in bodies)
    assert spark.read.parquet(table).count() == 3 * len(paths)


@pytest.mark.parametrize(
    "text", ["", "plain text\n[no stamp] here\n"], ids=["empty", "no_match"]
)
def test_upload_without_messages(spark, tmp_path_repo, text):
    """An export with no message line inserts nothing: the observed
    min_by over zero rows is null and the count 0, as the aggregate
    over an empty table gave."""
    path = tmp_path_repo / "none.txt"
    path.write_text(text, encoding="utf-8")
    resp = upload_chats_response(spark, str(path), str(tmp_path_repo / "tbl"))
    assert resp == {"status": "success", "inserted_rows": 0, "group_name": None}


def test_upload_failing_write_raises(spark, tmp_path_repo):
    """A write that fails raises out of the request; it never reaches
    Observation.get, which would wait for metrics that never come. A
    regular file where the table's parent directory should be makes the
    write fail. Bounded: a hang fails the test instead of the suite."""
    import threading

    blocker = tmp_path_repo / "not_a_dir"
    blocker.write_text("x", encoding="utf-8")
    outcome: list = []

    def call():
        try:
            outcome.append(
                upload_chats_response(spark, _write(tmp_path_repo), str(blocker / "tbl"))
            )
        except Exception as exc:  # noqa: BLE001 — the test inspects it
            outcome.append(exc)

    t = threading.Thread(target=call, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "upload_chats_response hung after a failed write"
    assert len(outcome) == 1 and isinstance(outcome[0], Exception), outcome
    assert "not a directory" in str(outcome[0]).lower()


def test_analyze_words_response(spark):
    msgs = parse_chat_lines(chat_lines_from_strings(spark, CHAT.splitlines()))
    resp = analyze_words_response(msgs, k=3)
    assert resp["analysis"]["hello"] == 2
    assert len(resp["analysis"]) == 3


# --- GET /analyze/network: one lineage, one collect -----------------------

_RANGE_CHAT = "\n".join(
    f"[{d}.10.2023, 10:00:00] {s}: m"
    for d, s in [(1, "Alice"), (2, "Bob"), (2, "Bob"), (3, "Carol"), (4, "Alice"), (5, "Dan")]
) + "\n"


_UNFILTERED = (None, None, None)
_RANGE_LIMIT = ("2023-10-02", "2023-10-04", 2)


@pytest.mark.parametrize(
    "args, force, max_jobs",
    [
        pytest.param(_UNFILTERED, "false", 2, id="unfiltered"),
        pytest.param(("2023-10-02", "2023-10-04", None), "false", 2, id="range"),
        pytest.param(_RANGE_LIMIT, "false", 2, id="range_limit"),
        pytest.param(_UNFILTERED, "true", 6, id="forced_chunked-unfiltered"),
        pytest.param(_RANGE_LIMIT, "true", 6, id="forced_chunked-range_limit"),
    ],
)
def test_analyze_network_job_count(spark, tmp_path_repo, args, force, max_jobs):
    """The request collects ONE aggregate: on the global path AQE runs
    it as at most 2 jobs (the window's exchange, then the aggregate),
    where separate node and edge collects ran 4. The chunked path,
    with or without a limit, runs 6: the narrow materialization, the
    per-chunk stats (2), the final aggregate (3). The export's line_id
    is split-ordered, so the chunks are its input splits and the
    quantile pass (2 more jobs) is gone."""
    path = tmp_path_repo / "jobs.txt"
    path.write_text(_RANGE_CHAT, encoding="utf-8")
    sc = spark.sparkContext
    group = f"analyze_network_{uuid.uuid4().hex}"
    spark.conf.set(CHUNK_FORCE_KEY, force)
    sc.setJobGroup(group, "analyze_network job count")
    try:
        resp = analyze_network(spark, str(path), *args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.unset(CHUNK_FORCE_KEY)
    assert resp["nodes"]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= max_jobs


_h_sender = st.sampled_from(["A", "B", "~C~", "a:b", " D ", "🦆", "דני", "~", "x y z"])
_h_line = st.one_of(
    st.builds(
        lambda d, m, s: f"[{d}.{m}.2023, 10:00:00] {s}: m",
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=1, max_value=2),
        _h_sender,
    ),
    st.sampled_from(["", "[", "plain text", "[1.1.2023]: z", "[2.1.2023, 10:00] A: הושמט"]),
)
_h_range = st.sampled_from(
    [(None, None), ("2023-01-03", "2023-01-08"), ("2023-01-05", "2023-01-05"),
     ("2023-01-10", None), ("2023-03-01", "2023-03-31")]
)


@pytest.mark.parametrize("force", [None, "true"], ids=["configured", "forced_chunked"])
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    lines=st.lists(_h_line, max_size=30),
    bounds=_h_range,
    limit=st.sampled_from([None, 0, 1, 4, -1]),
)
@example(lines=[], bounds=(None, None), limit=None)
@example(lines=[], bounds=(None, None), limit=4)
@example(lines=["[1.1.2023, 10:00:00] A: m"], bounds=(None, None), limit=None)
@example(lines=["[1.1.2023, 10:00:00] A: m"], bounds=(None, None), limit=1)
# a negative limit keeps nothing (the reference breaks before line one)
@example(
    lines=["[1.1.2023, 10:00:00] A: m", "[2.1.2023, 10:00:00] B: m"],
    bounds=(None, None),
    limit=-1,
)
# the range keeps exactly one message: its sender is a node with no link
@example(
    lines=[
        "[2.1.2023, 10:00:00] A: m",
        "[5.1.2023, 10:00:00] B: m",
        "[9.1.2023, 10:00:00] A: m",
    ],
    bounds=("2023-01-05", "2023-01-05"),
    limit=None,
)
def test_served_json_matches_reference(spark, tmp_path_repo, force, lines, bounds, limit):
    """Served JSON of GET /analyze/network on a written export equals
    the reference oracle — on the configured dispatch and on the forced
    chunked path, where the nodes come off the pair aggregate too."""
    path = tmp_path_repo / f"{uuid.uuid4().hex}.txt"
    path.write_text("".join(f"{line}\n" for line in lines), encoding="utf-8")
    if force is not None:
        spark.conf.set(CHUNK_FORCE_KEY, force)
    try:
        body = json.loads(json.dumps(analyze_network(spark, str(path), *bounds, limit)))
    finally:
        spark.conf.unset(CHUNK_FORCE_KEY)
    exp_nodes, exp_links = reference_network(lines, *bounds, limit)
    ids = [n["id"] for n in body["nodes"]]
    assert ids == exp_nodes  # sorted, no duplicates
    links = {(l["source"], l["target"]): l["weight"] for l in body["links"]}
    assert len(links) == len(body["links"])
    assert all(s < t for s, t in links)
    assert links == exp_links


def test_line_order_survives_input_splits(spark, tmp_path_repo):
    """read_chat_lines orders lines by monotonically_increasing_id, so
    file order holds only while one file's splits land in partitions in
    offset order. Read a generated export cut into many splits: line_id
    order must be file order, and the served graph must equal the
    reference loop over the file's lines."""
    import random

    import pyspark.sql.functions as F

    from poc_spark.sources.chat import read_chat_lines

    rng = random.Random(7)
    senders = ["Alice", "Bob", "~ Carol X", "דנה", "🦆", "Eve"]
    lines = [
        f"[{1 + i // 400}.1.2023, 10:{i % 60:02d}:00] {rng.choice(senders)}: m{i}"
        if i % 97 else f"noise line {i}"
        for i in range(3000)
    ]
    path = tmp_path_repo / "split.txt"
    path.write_text("".join(f"{line}\n" for line in lines), encoding="utf-8")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    try:
        for split_bytes in (4096, 10007, 65536):
            spark.conf.set(key, str(split_bytes))
            raw = read_chat_lines(spark, str(path))
            parts = raw.select(F.spark_partition_id()).distinct().count()
            assert parts >= path.stat().st_size // split_bytes >= 1
            assert parts > 1
            got = [r["value"] for r in raw.orderBy("line_id").collect()]
            assert got == lines
            for args in ((None, None, None), ("2023-01-03", "2023-01-06", 700)):
                body = analyze_network(spark, str(path), *args)
                exp_nodes, exp_links = reference_network(lines, *args)
                assert [n["id"] for n in body["nodes"]] == exp_nodes
                links = {(l["source"], l["target"]): l["weight"] for l in body["links"]}
                assert links == exp_links and len(links) == len(body["links"])
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _export(path, n_lines: int, seed: int) -> list[str]:
    import random

    rng = random.Random(seed)
    senders = ["Alice", "Bob", "~ Carol X", "דנה", "🦆", "Eve", "Frank"]
    lines = [
        f"[{1 + i * 28 // n_lines}.2.2023, 10:{i % 60:02d}:00] {rng.choice(senders)}: "
        f"message {i} {'x' * rng.randint(0, 40)}"
        if i % 97 else f"noise line {i}"
        for i in range(n_lines)
    ]
    path.write_text("".join(f"{line}\n" for line in lines), encoding="utf-8")
    return lines


def test_session_splits_chat_scans_to_the_cores(spark, tmp_path_repo):
    """Under the session defaults (file open cost 256 KiB), an export of
    about 2 MB reads as several input splits, where Spark's 4 MiB
    default read it as one; a file under 256 KiB still reads as one.
    The served graph of the multi-split read equals the reference on
    both dispatch paths, unfiltered and with range + limit."""
    from poc_spark.sources.chat import read_chat_lines

    small = tmp_path_repo / "small.txt"
    _export(small, 2500, 3)
    assert small.stat().st_size < 256 * 1024
    assert read_chat_lines(spark, str(small)).rdd.getNumPartitions() == 1

    path = tmp_path_repo / "two_mb.txt"
    lines = _export(path, 30000, 5)
    assert 1.5e6 < path.stat().st_size < 2.5e6
    assert read_chat_lines(spark, str(path)).rdd.getNumPartitions() > 1
    for force in ("false", "true"):
        spark.conf.set(CHUNK_FORCE_KEY, force)
        try:
            for args in ((None, None, None), ("2023-02-05", "2023-02-20", 9000)):
                body = analyze_network(spark, str(path), *args)
                exp_nodes, exp_links = reference_network(lines, *args)
                assert [n["id"] for n in body["nodes"]] == exp_nodes
                links = {(l["source"], l["target"]): l["weight"] for l in body["links"]}
                assert links == exp_links and len(links) == len(body["links"])
        finally:
            spark.conf.unset(CHUNK_FORCE_KEY)
