"""Serving edge: shape engine results into the reference's JSON API
responses (OP-PROJ-NODES / OP-PROJ-LINKS — the only place collect() is
allowed; everything upstream stays distributed).

The network request is one lineage and one collect: the graph is a
single pair aggregate (operators.network.interaction_pairs) whose
(s, s) rows carry the senders that formed no link; the driver splits
the collected rows into nodes and links.

Reference responses reproduced:
  GET /analyze/network/{filename} → {"nodes": [{"id": ...}],
      "links": [{"source","target","weight"}]}   (backend/main.py:328-338)
  POST /upload-chats → {"status","inserted_rows","group_name"}
      (backend/main.py:391-395)
  word-frequency contract → {"analysis": {word: count}}
      (frontend/src/components/Formgibui.jsx:63-83)
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from poc_spark.functions.chat_parse import parse_chat_lines
from poc_spark.operators.etl import parse_chat_table
from poc_spark.operators.network import interaction_pairs
from poc_spark.operators.text import top_k_words, word_freq
from poc_spark.sources.chat import read_chat_lines


def _graph_body(ids, links) -> dict:
    return {
        "nodes": [{"id": i} for i in ids],
        "links": [{"source": s, "target": t, "weight": w} for s, t, w in links],
    }


def network_response(nodes: DataFrame, edges: DataFrame) -> dict:
    """EP-1 response shape from separate node and edge DataFrames (two
    collects). Node order is not part of the contract (the reference
    iterates a Python set); links carry canonical source <= target."""
    return _graph_body(
        [r["id"] for r in nodes.collect()],
        [(r["source"], r["target"], r["weight"]) for r in edges.collect()],
    )


def pairs_response(pairs: DataFrame) -> dict:
    """EP-1 response from the one interaction_pairs aggregate: ONE
    collect, split on the driver. Nodes are the endpoints of every row
    (sorted — deterministic JSON); links are the rows with
    source != target. (s, s) rows — the stream head and self-
    transitions — contribute a node and no link."""
    rows = pairs.collect()
    ids = sorted({r["source"] for r in rows} | {r["target"] for r in rows})
    links = [
        (r["source"], r["target"], r["weight"]) for r in rows if r["source"] != r["target"]
    ]
    return _graph_body(ids, links)


def analyze_network(
    spark: SparkSession,
    path: str,
    start_date: str | dt.date | None = None,
    end_date: str | dt.date | None = None,
    limit: int | None = None,
) -> dict:
    """GET /analyze/network/{filename} end to end: text scan → parse →
    filters → pair aggregate → JSON (backend/main.py:255-342), as one
    lineage and one action: the export is scanned once per request
    (plus the chunked path's own planning jobs above the dispatch
    threshold). Missing file → FileNotFoundError (OP-FIL-EXISTS: the
    reference 404s, backend/main.py:264-266) instead of a Java stack
    trace."""
    import os

    if not os.path.exists(path):
        raise FileNotFoundError(f"File '{os.path.basename(path)}' not found.")
    msgs = parse_chat_lines(read_chat_lines(spark, path))
    return pairs_response(interaction_pairs(msgs, start_date, end_date, limit))


def upload_chats_response(spark: SparkSession, path: str, table_path: str) -> dict:
    """POST /upload-chats end to end: parse → group-name exclusion →
    append sink → counts (backend/main.py:349-395)."""
    from poc_spark.operators.etl import write_messages

    # cache: the parsed table feeds both the counts and the append sink.
    # try/finally unpersist — a serving process handles many uploads
    # per session, and CacheManager entries never free themselves
    # (VERDICT r4 #7).
    msgs = parse_chat_table(read_chat_lines(spark, path)).cache()
    try:
        # group name and row count in ONE aggregate, not a limit(1)
        # take: a take scans the cached partitions in scale-up rounds,
        # one job each, and the per-file window puts the rows in the
        # shuffle partition the file's path hashes to — so a take's
        # job count would depend on where the file lives.
        group, inserted = msgs.agg(
            F.min_by("group_name", F.struct("file_path", "line_id")),
            F.count(F.lit(1)),
        ).first()
        write_messages(msgs, table_path)
        return {"status": "success", "inserted_rows": inserted, "group_name": group}
    finally:
        msgs.unpersist()


def analyze_words_response(messages: DataFrame, k: int = 10) -> dict:
    """The revived /analyze/{filename} contract: top-k word histogram."""
    wf = top_k_words(word_freq(messages, "message"), k)
    return {"analysis": {r["word"]: r["freq"] for r in wf.collect()}}
