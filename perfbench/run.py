"""Request-level benchmark of the NetXplore chat path and a registry slice.

Usage (from the repository root):

    python3 perfbench/run.py --workload chat --seed 1 \
        --seconds 1 --trace 0

One run starts a `local[nproc]` session from `poc_spark.session.get_spark`,
generates the workload's inputs from the seed, sends one untimed cycle
as a warm-up, every kind from a thread of its own, and then sends whole
cycles of the workload's request kinds in a closed loop until
`--seconds` have passed. Answers are checked after the timed window.
Spark's block and temporary files stay under `.perfbench/`, which the
run removes again.

With `--trace 0` the run measures end-to-end metrics with tracing off.
With `--trace 1` the session writes a Spark event log; the run sends
every request kind once plain and once tagged with a Spark job group of
its own, and finally times every layer of each request kind from
outside. The last stdout line is one JSON object
`{"correct", "attempted", "failed", "metrics"}`; the full detail,
machine context included, goes to `.perfbench/results/`.

`--corrupt` alters every response before the gate, to show that a wrong
answer is caught.

See perfbench/RATIONALE.md for why each workload and metric exists.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_LIMIT_S = 170


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", action="store_true")
    return p.parse_args(argv)


def _corrupt(resp):
    """A deliberately wrong answer of the same shape."""
    if isinstance(resp, str):  # graph JSON body: drop one link
        body = json.loads(resp)
        body["links"] = body["links"][1:]
        return json.dumps(body)
    if isinstance(resp, dict):  # upload response: one row too many
        return {**resp, "inserted_rows": resp["inserted_rows"] + 1}
    # registry answer: one row short
    return resp.limit(max(resp.count() - 1, 0))


def closed_loop(wl, cycle, clients: int, recorders, seconds: float, corrupt: bool) -> list[tuple]:
    """Send whole cycles (`cycle`, a sequence of request kinds) until
    `seconds` have passed, so every run measures the same mix.
    `clients` clients each send their next request as soon as their
    last one is answered.
    Request `i` is recorded by `recorders[i % len(recorders)]`. Returns
    (span, response, error) per request, in sending order."""
    n = len(cycle)

    def one(i: int) -> tuple:
        kind = cycle[i % n]
        resp, err = None, None
        with recorders[i % len(recorders)].request(kind) as span:
            try:
                resp = wl.send(kind)
            except Exception:  # noqa: BLE001 — a failed request is a result
                err = traceback.format_exc(limit=3)
        return span, _corrupt(resp) if corrupt and err is None else resp, err

    out: list[tuple] = []
    deadline = time.perf_counter() + seconds
    with ThreadPoolExecutor(clients) as pool:
        while not out or time.perf_counter() < deadline:
            out += pool.map(one, range(len(out), len(out) + n))
    return out


def machine_context(spark) -> dict:
    """GEMM and fixed-Spark-job readings (tools/machine_probe), context
    only: a collapsed sitting shows here instead of as a regression."""
    from tools.machine_probe import np_gemm_gflops, spark_fixed_s

    return {"np_gemm_gflops": np_gemm_gflops(reps=1), "spark_fixed_s": spark_fixed_s(reps=1)}


def _median_by_kind(spans) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for s in spans:
        by.setdefault(s.kind, []).append(s.wall)
    return {k: statistics.median(v) for k, v in by.items()}


def run(args) -> dict:
    from perfbench import tracing as trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    log_dir, scratch = os.path.join(work, "eventlog"), os.path.join(work, "scratch")
    os.makedirs(log_dir)
    os.makedirs(scratch)
    # keep Spark's block files and every temporary file inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tempfile.tempdir = scratch
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"]
    if args.trace:
        submit += trace.event_log_conf(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])

    from poc_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    # every later get_spark call (the machine probe's) then configures
    # the live session the same way as the first
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    phases: dict[str, float] = {}
    last = time.perf_counter()

    def mark(phase: str) -> None:
        nonlocal last
        now = time.perf_counter()
        phases[phase], last = now - last, now

    spark = get_spark("perfbench")
    mark("session")
    gateway = spark.sparkContext._gateway
    try:
        wl = WORKLOADS[args.workload]()
        wl.setup(spark, work, args.seed)
        mark("inputs")
        # one untimed cycle, one thread per kind, all at once: each kind's
        # first execution compiles its own code, and the compiles overlap
        # on the session's cores. A kind a cycle repeats keeps warming
        # while the slowest first executions run
        with ThreadPoolExecutor(len(wl.kinds)) as pool:
            list(pool.map(lambda k: [wl.send(k) for _ in range(wl.cycle.count(k))], wl.kinds))
        mark("warm_up")
        setup_s = phases["session"] + phases["inputs"] + phases["warm_up"]

        machine = {"nproc": nproc, "before": machine_context(spark)}
        mark("machine_before")
        plain = trace.Recorder(spark, tag=False)
        tagged = trace.Recorder(spark, tag=True)
        if not args.trace:
            results = closed_loop(wl, wl.cycle, wl.clients, [plain], args.seconds, args.corrupt)
        else:
            # one client, so that a job no group reaches belongs to the one
            # request running when it starts. Every kind is sent plain in
            # one half and tagged in the other, plain first on every other
            # kind, so the warming from one half to the next cancels out of
            # the tracing overhead. A half sends each kind once.
            results = closed_loop(wl, wl.kinds, 1, [plain, tagged], args.seconds / 2, args.corrupt)
            results += closed_loop(wl, wl.kinds, 1, [tagged, plain], args.seconds / 2, args.corrupt)
        mark("window")
        machine["after"] = machine_context(spark)
        mark("machine_after")

        probes = {k: wl.probe(k) for k in wl.kinds} if args.trace else {}
        kept = wl.kept_ratio() if args.trace else 0.0
        mark("layer_probes")
        # the registry's clients check their answers at once too
        with ThreadPoolExecutor(wl.clients) as pool:
            verdicts = list(pool.map(
                lambda r: r[2] is None and wl.check(r[0].kind, r[1]), results
            ))
        if not wl.finish():
            verdicts = [False] * len(verdicts)
        mark("gate")
        peak_mb = trace.peak_rss_mb(trace.jvm_pid(spark))
    finally:
        spark.stop()
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
    mark("stop")
    machine["phases_s"] = phases

    counters = trace.event_counters(log_dir, tagged.spans) if args.trace else []
    shutil.rmtree(work, ignore_errors=True)
    return report(args, wl, results, verdicts, plain, tagged, counters, probes, {
        "setup_s": setup_s,
        "session.start_s": phases["session"],
        "session.peak_rss_mb": peak_mb,
        "functions.chat_parse.kept_ratio": kept,
        "machine": machine,
    })


def report(args, wl, results, verdicts, plain, tagged, counters, probes, ctx) -> dict:
    """Writes the result file and returns the printed result line."""
    walls = [s.wall for s in plain.spans]
    medians = _median_by_kind(plain.spans)
    e2e = {
        "setup_s": (ctx["setup_s"], "s"),
        "request_p50_s": (statistics.median(walls), "s"),
        "lines_per_s": (sum(wl.records(s.kind) for s in plain.spans) / sum(walls), "1/s"),
    }
    failed = verdicts.count(False)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "machine": ctx["machine"],
        "failed_ratio": failed / len(verdicts),
        "median_by_kind_s": medians,
        "sum_of_kind_medians_s": sum(medians.values()),
        "end_to_end": _metrics(e2e),
        "requests": [
            {"kind": s.kind, "wall_s": s.wall, "ok": ok, "traced": s in tagged.spans, "error": err}
            for (s, _, err), ok in zip(results, verdicts)
        ],
    }
    metrics = detail["end_to_end"]
    if args.trace:
        by_kind: dict[str, list] = {}
        for span, c in zip(tagged.spans, counters):
            by_kind.setdefault(span.kind, []).append(c)
        detail["spark_by_kind"] = by_kind
        detail["layers_by_kind"] = probes
        metrics = detail["per_layer"] = _metrics(per_layer(wl, by_kind, probes, plain, tagged, ctx))
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(detail, f, indent=1)
    return {
        "summary": (detail["failed_ratio"], failed, len(verdicts), medians),
        "result": {"correct": failed == 0, "attempted": len(verdicts), "failed": failed,
                   "metrics": metrics},
    }


def _metrics(values: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


LAYER_UNITS = {"chunked": "bool", "response_bytes": "bytes", "input_byte": "ratio"}
GRAPH_LAYERS = (
    "sources.chat.scan_s", "functions.chat_parse.parse_s",
    "operators.network.plan_s", "operators.network.graph_s", "plans.dispatch.chunked",
    "serve.collect_s", "serve.json_s", "serve.response_bytes",
)
ETL_LAYERS = (
    "operators.etl.parse_s", "operators.etl.write_s",
    "operators.etl.bytes_written_per_input_byte",
)


def _unit(name: str) -> str:
    return next((u for end, u in LAYER_UNITS.items() if name.endswith(end)), "s")


def per_layer(wl, by_kind, probes, plain, tagged, ctx) -> dict:
    """Every per-layer metric. Layer times and Spark counters are summed
    over one request of each kind; the chat path's layers are reported
    per export (`<export>.<layer metric>`). A layer the workload does not
    run reads 0."""
    from perfbench.tracing import COUNTERS
    from perfbench.workloads import WORKLOADS, Registry

    m = {
        "session.start_s": (ctx["session.start_s"], "s"),
        "session.peak_rss_mb": (ctx["session.peak_rss_mb"], "MiB"),
        "functions.chat_parse.kept_ratio": (ctx["functions.chat_parse.kept_ratio"], "ratio"),
    }
    chat = WORKLOADS["chat"]()
    for label in (e.label for e in chat.exports):
        on_export = [p for k, p in probes.items() if k.startswith(label + ".")]
        for n in GRAPH_LAYERS:
            vals = [p.get(n, 0.0) for p in on_export]
            # the dispatch flag is per graph shape, and the same on all of them
            m[f"{label}.{n}"] = (max(vals, default=0) if _unit(n) == "bool" else sum(vals), _unit(n))
    for n in ETL_LAYERS:
        m[n] = (sum(p.get(n, 0.0) for p in probes.values()), _unit(n))
    first = {kind: runs[0] for kind, runs in by_kind.items()}
    for c in COUNTERS:
        unit = "s" if c.endswith("_s") else "bytes" if c.endswith("bytes") else "count"
        m[f"spark.{c}"] = (sum(v[c] for v in first.values()), unit)
    for kind in chat.kinds:
        m[f"spark.jobs.{kind}"] = (first.get(kind, {}).get("jobs", 0), "count")
    plain_medians = _median_by_kind(plain.spans) if isinstance(wl, Registry) else {}
    for name in Registry.kinds:
        m[f"contract.{name}_s"] = (plain_medians.get(name, 0.0), "s")
        m[f"contract.{name}.jobs"] = (first.get(name, {}).get("jobs", 0), "count")
    overhead = statistics.median(s.wall for s in tagged.spans) - statistics.median(
        s.wall for s in plain.spans
    )
    m["trace.overhead_s"] = (overhead, "s")
    return m


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import poc_spark.serve  # noqa: F401
        import tools.machine_probe  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is missing: {exc}", file=sys.stderr)
        return 2

    def _expired(*_):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, _expired)
    signal.alarm(RUN_LIMIT_S)
    out = run(args)
    signal.alarm(0)
    ratio, failed, attempted, medians = out["summary"]
    for k, v in out["result"]["metrics"].items():
        print(f"{args.workload}  {k} = {v['value']:.6g} {v['unit']}")
    if args.workload == "registry_headline" and not args.trace:
        print(f"{args.workload}  registry_total_s = {sum(medians.values()):.6g} s"
              " (sum of the per-entry medians)")
    print(f"{args.workload}  failed_ratio = {ratio:.6g} ({failed}/{attempted} requests)")
    print(f"{args.workload}  samples = {attempted}; median by kind: "
          + ", ".join(f"{k} {v:.3f} s" for k, v in medians.items()))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
