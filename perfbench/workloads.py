"""The benchmark's workloads: what one request is, how its answer is
checked, and how its layers are timed from outside.

A workload sends cycles of its request kinds in a closed loop. Each
workload class provides:

- `setup(spark, work_dir, seed)`: generate inputs from the seed;
- `kinds`: the distinct request kinds;
- `cycle`: the kinds one timed cycle sends, in this order;
- `clients`: how many clients send requests at once, in a closed loop;
- `records(kind)`: input records one request consumes;
- `send(kind)`: one request, returning its response;
- `check(kind, response)`: the correctness gate for one response;
- `finish()`: a last whole-run check (False fails every request);
- `probe(kind)`: per-layer times of one request kind (traced runs);
- `kept_ratio()`: surviving chat messages over raw lines.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import threading

import bench
from poc_spark import contract, serve
from poc_spark.functions.chat_parse import parse_chat_lines
from poc_spark.operators.etl import append_messages, parse_chat_table
from poc_spark.operators.network import interaction_graph
from poc_spark.plans.dispatch import use_chunked
from poc_spark.sources.chat import read_chat_lines
from pyspark.sql import functions as F

from perfbench import chatgen, gate, tablegen
from perfbench.tracing import timed

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GRAPH_SHAPES = ("unfiltered", "range", "range_limit")


def noop(df) -> float:
    """Seconds to run `df`'s full plan into the noop sink."""
    _, s = timed(lambda: df.write.format("noop").mode("overwrite").save())
    return s


def _dir_bytes(path: str) -> int:
    if not os.path.exists(path):
        return 0
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


class Export:
    """One generated WhatsApp export and the requests sent on it:

    - the graph shapes (`GRAPH_SHAPES`): `GET /analyze/network`, that is
      `serve.analyze_network` plus `json.dumps`, unfiltered, with a date
      range, and with a date range plus `message_limit`;
    - `upload`: `POST /upload-chats`, that is `serve.upload_chats_response`,
      appending every request into one parquet messages table.

    `chunked` is the `plans.dispatch` decision every graph shape on this
    export must get; set-up fails otherwise.
    """

    def __init__(self, label: str, n_lines: int, profile: chatgen.ChatProfile,
                 chunked: bool, shapes):
        self.label, self.n_lines, self.profile = label, n_lines, profile
        self.expect_chunked, self.shapes = chunked, tuple(shapes)
        self.appended = 0
        self._expected: dict[str, object] = {}

    def setup(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.chat = chatgen.generate(
            os.path.join(work_dir, f"{self.label}.txt"), self.n_lines, seed, self.profile
        )
        with open(self.chat.path, encoding="utf-8") as f:
            self.lines = f.read().split("\n")[:-1]
        self.table = os.path.join(work_dir, f"{self.label}_messages")
        self.probe_table = os.path.join(work_dir, f"{self.label}_probe_messages")
        # a date range over a third of the span, placed by the seed
        span = (self.chat.last_day - self.chat.first_day).days
        offset = int(span * random.Random(seed).uniform(0.15, 0.5))
        start = self.chat.first_day + dt.timedelta(days=offset)
        s, e = start.isoformat(), (start + dt.timedelta(days=span // 3)).isoformat()
        self.args = {
            "unfiltered": (None, None, None),
            "range": (s, e, None),
            "range_limit": (s, e, self.n_lines // 20),
        }
        # the dispatch decision, read from outside on the operator's input
        msgs = parse_chat_lines(read_chat_lines(spark, self.chat.path))
        ranged = msgs.filter(F.col("msg_date").between(F.lit(s), F.lit(e)))
        self.chunked = {
            k: int(use_chunked(ranged if self.args[k][0] else msgs))
            for k in self.shapes
            if k in GRAPH_SHAPES
        }
        if set(self.chunked.values()) != {int(self.expect_chunked)}:
            raise RuntimeError(
                f"plans.dispatch.chunked is {self.chunked} on the {self.label} export; "
                f"it must be {int(self.expect_chunked)} on every graph request"
            )

    def send(self, shape: str):
        if shape == "upload":
            resp = serve.upload_chats_response(self.spark, self.chat.path, self.table)
            self.appended += resp["inserted_rows"]
            return resp
        return json.dumps(serve.analyze_network(self.spark, self.chat.path, *self.args[shape]))

    def check(self, shape: str, resp) -> bool:
        if shape not in self._expected:
            if shape == "upload":
                group, rows = gate.etl_twin(ROOT)(self.lines)
                self._expected[shape] = {
                    "status": "success", "inserted_rows": len(rows), "group_name": group,
                }
            else:
                self._expected[shape] = gate.graph_oracle(ROOT)(self.lines, *self.args[shape])
        if shape == "upload":
            return resp == self._expected[shape]
        return gate.graph_matches(resp, self._expected[shape])

    def finish(self) -> bool:
        """Every inserted row landed in the messages table."""
        if "upload" not in self.shapes:
            return True
        return self.spark.read.parquet(self.table).count() == self.appended

    def kept(self) -> int:
        return parse_chat_lines(read_chat_lines(self.spark, self.chat.path)).count()

    def probe(self, shape: str) -> dict[str, float]:
        raw = read_chat_lines(self.spark, self.chat.path)
        scan = noop(raw)
        if shape == "upload":
            msgs = parse_chat_table(raw).cache()
            try:
                _, parse = timed(msgs.count)
                before = _dir_bytes(self.probe_table)
                _, write = timed(append_messages, msgs, self.probe_table)
            finally:
                msgs.unpersist()
            return {
                "sources.chat.scan_s": scan,
                "operators.etl.parse_s": parse - scan,
                "operators.etl.write_s": write,
                "operators.etl.bytes_written_per_input_byte": (
                    (_dir_bytes(self.probe_table) - before) / self.chat.n_bytes
                ),
            }
        msgs = parse_chat_lines(raw)
        parse = noop(msgs)
        (nodes, edges), plan = timed(interaction_graph, msgs, *self.args[shape])
        graph = noop(nodes) + noop(edges)
        resp, respond = timed(serve.network_response, nodes, edges)
        body, dumps = timed(json.dumps, resp)
        return {
            "sources.chat.scan_s": scan,
            "functions.chat_parse.parse_s": parse - scan,
            "operators.network.plan_s": plan,
            "operators.network.graph_s": graph - parse,
            "plans.dispatch.chunked": self.chunked[shape],
            "serve.collect_s": respond - graph,
            "serve.json_s": dumps,
            "serve.response_bytes": len(body.encode("utf-8")),
        }


class Chat:
    """One NetXplore user session over two exports. On the interactive
    export, below the dispatch threshold: an upload, then the three
    graph shapes. On the bulk export, above it: the unfiltered and the
    range-plus-limit graph shapes. A kind is named `<export>.<shape>`.
    One client, as in the UI."""

    clients = 1

    def __init__(self, exports: tuple[Export, ...], cycle: tuple[str, ...]):
        self.exports, self.cycle = exports, cycle
        self.route = {f"{e.label}.{shape}": (e, shape) for e in exports for shape in e.shapes}
        self.kinds = tuple(self.route)

    def setup(self, spark, work_dir: str, seed: int) -> None:
        for e in self.exports:
            e.setup(spark, work_dir, seed)

    def records(self, kind: str) -> int:
        return self.route[kind][0].n_lines

    def send(self, kind: str):
        e, shape = self.route[kind]
        return e.send(shape)

    def check(self, kind: str, resp) -> bool:
        e, shape = self.route[kind]
        return e.check(shape, resp)

    def finish(self) -> bool:
        return all(e.finish() for e in self.exports)

    def kept_ratio(self) -> float:
        return sum(e.kept() for e in self.exports) / sum(e.n_lines for e in self.exports)

    def probe(self, kind: str) -> dict[str, float]:
        e, shape = self.route[kind]
        return e.probe(shape)


class Registry:
    """The `bench.HEADLINE` contract entries plus `graph_pagerank`. One
    request builds one entry's plan and writes it to the noop sink. The
    gate collects the same entry's answer (`toPandas`) after the timed
    window and compares it with the entry's DuckDB oracle.

    Four clients send the entries at once. Most entries run a few short
    jobs, so one client leaves the cores idle between jobs, and on
    tables at the 0.001 scale its times followed the machine's wake-up
    latency: the same pass took 16 to 28 s in runs whose concurrent
    warm-ups all took 20 to 22 s."""

    kinds = cycle = tuple(bench.HEADLINE) + ("graph_pagerank",)
    clients = 4

    def setup(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.sf_dir = os.path.join(work_dir, "tables")
        tablegen.generate(self.sf_dir, seed)
        self.rows: dict[str, int] = {}
        self._expected: dict[str, object] = {}
        self._con = None
        self._lock = threading.Lock()

    def records(self, kind: str) -> int:
        return self.rows.get(kind, 0)  # unset when every request raised

    def send(self, kind: str):
        df = contract.REGISTRY[kind].spark(self.spark, self.sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, kind: str, df) -> bool:
        import pyarrow.parquet as pq

        if kind not in self.rows:
            files = [f.removeprefix("file:") for f in df.inputFiles()]
            self.rows[kind] = sum(
                pq.ParquetFile(f).metadata.num_rows for f in files if f.endswith(".parquet")
            )
        if kind not in self._expected:
            self._expected[kind] = self._oracle_answer(kind)
        return not gate.registry_problems(df.toPandas(), self._expected[kind], kind)

    def _oracle_answer(self, kind: str):
        """The entry's DuckDB oracle result, or None when it has none.
        Each caller queries through a cursor of its own, so the checks
        of several threads run at once."""
        with self._lock:
            if self._con is None:
                import duckdb

                from poc_spark.sources.catalog import TABLES

                self._con = duckdb.connect()
                for t in TABLES:
                    path = os.path.join(self.sf_dir, f"{t}.parquet")
                    self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                self._oracles = contract.oracle_sql_for(self.sf_dir)
            cursor = self._con.cursor()
        sql = self._oracles.get(kind)
        return None if sql is None else cursor.execute(sql).fetchdf()

    def finish(self) -> bool:
        return True

    def kept_ratio(self) -> float:
        return 0.0

    def probe(self, kind: str) -> dict[str, float]:
        return {}


WORKLOADS = {
    "chat": lambda: Chat(
        (
            Export(
                "interactive", 25_000, chatgen.ChatProfile(n_senders=40, zipf_s=1.1), False,
                ("upload",) + GRAPH_SHAPES,
            ),
            # the interactive export's line shapes from a larger group: at
            # 130k lines (about 9.2 MB) the parsed plan's estimate is about
            # 1.04 times the dispatch threshold, the smallest such export
            # with a margin for the seed
            Export(
                "bulk", 130_000, chatgen.ChatProfile(n_senders=150, zipf_s=0.9, tilde_share=0.4),
                True, ("unfiltered", "range_limit"),
            ),
        ),
        # the interactive graph shapes set request_p50_s, so a cycle sends
        # them three times: its median is one of nine samples, not three
        ("interactive.upload",)
        + tuple(f"interactive.{shape}" for shape in GRAPH_SHAPES) * 3
        + ("bulk.unfiltered", "bulk.range_limit"),
    ),
    "registry_headline": Registry,
}
