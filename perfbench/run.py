"""perfbench: the refluxdb_spark benchmark.

    python3 perfbench/run.py --workload ingest|serve|analytics --seed N \
        --seconds S --trace 0|1

Run from the repository root. ``ingest`` and ``serve`` drive
``serve_http`` over a fresh ``RefluxEngine`` warehouse from one client
with one connection, in a closed loop; ``analytics`` runs
``queries.QUERIES`` passes in a Spark node with no server. Every reply
and result is checked. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics from a
traced run (``--trace 1``). Details and spans go to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
from urllib.parse import urlencode

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import BLOCK, FIELDS, SERIES, Model, check_write, serve_ops  # noqa: E402
from node import ANALYTICS  # noqa: E402
from procs import Node, tree_cpu_s  # noqa: E402
from tracing import request_self_sum_error_ms, summarize  # noqa: E402

INGEST_LINES, INGEST_WARM = 500, 8
# serve: one preload write of SERVE_PRELOAD lines, then SERVE_WARM warm-up
# blocks, then at least SERVE_BLOCKS timed blocks
SERVE_PRELOAD, SERVE_WARM, SERVE_BLOCKS = 1500, 2, 2
RUN_LIMIT_S = 170
EXPECTED = os.path.join(HERE, "expected_sf001.json")
OUT = os.path.join(ROOT, ".bench_out")
DATA = os.path.join(HERE, "data", "sf0.01")

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "ops_s": "1/s",
              "cpu_ms_per_op": "ms", "live_heap_mb": "MB"}
# every traced run reports all of these; a layer the workload does not
# reach reads 0
PER_LAYER = list(summarize([], {}, [])) + [
    "storage.pointer_reads_per_op", "storage.files_per_write", "storage.bytes_per_row",
    "storage.table_files", "trace.overhead_cpu_ms_per_op", "trace.overhead_p50_ms",
    "trace.self_sum_error_ms",
] + [f"analytics.{q}.{k}" for q in ANALYTICS
     for k in ("build_s", "build_jobs", "exec_s", "exec_jobs", "cpu_s", "shuffle_bytes")]


def pct(xs: list[float], p: float) -> float | None:
    """The p-th percentile, or None when fewer than 10 samples lie
    beyond it."""
    if len(xs) * (1 - p / 100) < 10:
        return None
    return statistics.quantiles(xs, n=100, method="inclusive")[int(p) - 1]


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.rng = random.Random(args.seed)
        self.dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        self.attempted = self.failed = 0
        self.node: Node | None = None
        self.client_spans: list[dict] = []

    # ----------------------------------------------------------- nodes
    def launch(self, mode: str) -> tuple[Node, float]:
        """Start a node on a fresh warehouse; return it and its set-up
        time: launch until the first request is answered (http) or the
        session has run a query (lib)."""
        wh = os.path.join(self.dir, "warehouse")
        env = dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT, HERE]), TMPDIR=self.tmp,
                   SPARK_LOCAL_DIRS=self.tmp, TZ="UTC", SPARK_GRAFT_DRIVER_MEM="2g",
                   SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
        argv = [sys.executable, "-u", os.path.join(HERE, "node.py"), "--mode", mode,
                "--warehouse", wh, "--data", DATA]
        node = self.node = Node(argv, self.dir, env, os.path.join(self.dir, "node.log"))
        hello = node.recv()
        if mode == "http":
            node.port = hello["port"]
            self.check(self.request(node, "list", "GET", "/", None)[0] == [])
        return node, time.perf_counter() - node.t_launch

    def stop(self) -> None:
        if self.node is not None:
            self.node.stop()

    # ---------------------------------------------------------- client
    def check(self, ok: bool) -> bool:
        self.attempted += 1
        self.failed += not ok
        return ok

    def request(self, node: Node, kind: str, method: str, path: str, body: str | None,
                traced: bool = False):
        """One closed-loop request; returns (reply or None, latency ms, id)."""
        rid = f"{kind}-{self.attempted}"
        headers = {"X-Bench-Rid": rid, "X-Bench-Trace": "1" if traced else "0"}
        t0 = time.monotonic_ns()
        conn = http.client.HTTPConnection("127.0.0.1", node.port, timeout=120)
        try:
            conn.request(method, path, body=None if body is None else body.encode(),
                         headers=headers)
            resp = conn.getresponse()
            data = resp.read()
        finally:
            conn.close()
        t1 = time.monotonic_ns()
        if traced:
            self.client_spans.append({"id": f"c{rid}", "parent": None, "rid": rid,
                                      "name": "client.request", "start_ns": t0, "end_ns": t1})
        try:
            reply = json.loads(data) if resp.status == 200 else None
        except ValueError:
            reply = None
        return reply, (t1 - t0) / 1e6, rid

    def closed_loop(self, node: Node, ops, seconds: float, block: int, blocks: int,
                    trace: bool = False) -> dict:
        """Send ops one at a time for at least ``seconds`` and at least
        ``blocks`` whole blocks of ``block`` ops, so every run times the
        same mix; returns latencies per kind, one record per op, wall and
        CPU of the node's process tree.
        With ``trace`` every second op of each kind is traced and each
        op's CPU is read, so traced and untraced ops can be compared."""
        lat: dict[str, list[float]] = {}
        recs = []
        pid = node.proc.pid
        cpu0, t0 = tree_cpu_s(pid), time.perf_counter()
        while (time.perf_counter() - t0 < seconds or len(recs) < block * blocks
               or len(recs) % block):
            kind, method, path, body, ok = next(ops)
            traced = trace and len(lat.get(kind, ())) % 2 == 1
            c = tree_cpu_s(pid) if trace else 0.0
            reply, ms, rid = self.request(node, kind, method, path, body, traced)
            c = tree_cpu_s(pid) - c if trace else 0.0
            self.check(reply is not None and ok(reply))
            lat.setdefault(kind, []).append(ms)
            recs.append({"rid": rid, "kind": kind, "ms": ms, "cpu_ms": 1e3 * c,
                         "traced": traced})
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(pid) - cpu0
        return {"lat": lat, "ops": recs, "wall": wall, "cpu": cpu}

    def warm(self, node: Node, ops, n: int) -> None:
        for _ in range(n):
            kind, method, path, body, ok = next(ops)
            reply = self.request(node, kind, method, path, body)[0]
            self.check(reply is not None and ok(reply))

    # ----------------------------------------------------- workloads
    def serving(self, node: Node, ops, block: int, blocks: int,
                model: Model) -> tuple[dict, dict]:
        """One timed closed-loop phase; when tracing, half its ops are
        traced and the layer metrics come from those."""
        if not self.args.trace:
            return self.closed_loop(node, ops, self.args.seconds, block, blocks), {}
        node.call("trace")
        before = node.call("storage")["storage"]
        phase = self.closed_loop(node, ops, self.args.seconds, block, blocks, trace=True)
        path = os.path.join(OUT, f"{self.args.workload}-seed{self.args.seed}.spans.jsonl")
        dump = node.call("dump", path=path)
        with open(path) as f:
            spans = [json.loads(ln) for ln in f] + self.client_spans
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        traced = [o for o in phase["ops"] if o["traced"]]
        plain = [o for o in phase["ops"] if not o["traced"]]
        m = summarize(spans, dump["jobs"], traced)
        after = dump["storage"]
        writes = sum(o["kind"] == "write" for o in phase["ops"])
        rows = sum(len(r) for r in model.rows.values())
        m.update({
            "storage.pointer_reads_per_op": sum(dump["pointer_reads"].values()) / len(traced),
            "storage.files_per_write": (after["files"] - before["files"]) / max(writes, 1),
            "storage.bytes_per_row": after["bytes"] / rows,
            "storage.table_files": after["files"],
            "trace.overhead_cpu_ms_per_op": mean("cpu_ms", traced) - mean("cpu_ms", plain),
            "trace.overhead_p50_ms": (statistics.median(o["ms"] for o in traced)
                                      - statistics.median(o["ms"] for o in plain)),
            "trace.self_sum_error_ms": request_self_sum_error_ms(spans),
        })
        self.spans_path = path
        return phase, m

    def ingest(self) -> tuple[dict, dict, dict]:
        model = Model()

        def writes():
            while True:
                body, n = model.body(self.rng, INGEST_LINES)
                yield "write", "POST", "/write", body, lambda r, n=n: check_write(r, n)

        node, setup = self.launch("http")
        ops = writes()
        self.warm(node, ops, INGEST_WARM)
        phase, layers = self.serving(node, ops, 1, 1, model)
        # every acknowledged row is in the table: one count per series
        q = " UNION ALL ".join(f"SELECT '{s}' AS s, count(*) AS n FROM {s}" for s in SERIES)
        reply = self.request(node, "check", "POST", "/query", urlencode({"q": q}))[0]
        self.check(reply is not None and sorted((r["s"], r["n"]) for r in reply)
                   == [(s, model.count(s)) for s in SERIES])
        lat = phase["lat"].get("write", [])
        extra = {"write_p50_ms": statistics.median(lat), "write_p90_ms": pct(lat, 90),
                 "ingest_rows_s": len(FIELDS) * INGEST_LINES * len(lat) / phase["wall"],
                 "samples": len(lat)}
        return self.common(node, setup, phase), layers, extra

    def serve(self) -> tuple[dict, dict, dict]:
        model = Model()
        node, setup = self.launch("http")
        body, n = model.body(self.rng, SERVE_PRELOAD)
        reply = self.request(node, "write", "POST", "/write", body)[0]
        self.check(reply is not None and check_write(reply, n))
        ops = serve_ops(self.rng, model)
        self.warm(node, ops, SERVE_WARM * len(BLOCK))
        phase, layers = self.serving(node, ops, len(BLOCK), SERVE_BLOCKS, model)
        extra = {"serve_ops_s": len(phase["ops"]) / phase["wall"]}
        for kind, xs in sorted(phase["lat"].items()):
            extra[f"{kind}_p50_ms"] = statistics.median(xs)
            extra[f"{kind}_p90_ms"] = pct(xs, 90)
            extra[f"{kind}_samples"] = len(xs)
        return self.common(node, setup, phase), layers, extra

    def analytics(self) -> tuple[dict, dict, dict]:
        expected = {}
        if not self.args.record:
            with open(EXPECTED) as f:
                expected = json.load(f)
        node, setup = self.launch("lib")

        def order():
            qs = list(ANALYTICS)
            self.rng.shuffle(qs)
            return qs

        got = node.call("pass", order=order(), tag="check", check=True)["results"]
        if self.args.record:
            with open(EXPECTED, "w") as f:
                json.dump({r["q"]: {"rows": r["rows"], "hash": r["hash"]}
                           for r in sorted(got, key=lambda r: ANALYTICS.index(r["q"]))},
                          f, indent=1)
                f.write("\n")
            expected = {r["q"]: r for r in got}
        for r in got:
            want = expected[r["q"]]
            self.check(r["rows"] == want["rows"] and r["hash"] == want["hash"])

        def timed(tag: str, trace_path: str | None = None) -> dict:
            cpu0, t0 = tree_cpu_s(node.proc.pid), time.perf_counter()
            res = node.call("pass", order=order(), tag=tag, path=trace_path)["results"]
            wall, cpu = time.perf_counter() - t0, tree_cpu_s(node.proc.pid) - cpu0
            for _ in res:
                self.check(True)  # a failed materialization raises in the node
            return {"res": res, "wall": wall, "cpu": cpu}

        passes = []
        t0 = time.perf_counter()
        # whole passes; another starts only if it should end within half
        # a pass of the deadline
        while not passes or (time.perf_counter() - t0 + passes[-1]["wall"] / 2
                             < self.args.seconds):
            passes.append(timed(f"p{len(passes)}"))
            if self.args.trace:
                break
        layers = {}
        if self.args.trace:
            path = os.path.join(OUT, f"analytics-seed{self.args.seed}.spans.jsonl")
            open(path, "w").close()
            node.call("trace")
            traced = timed("traced", path)
            node.call("trace", on=False)
            # JIT warm-up still speeds each pass up, so the untraced
            # baseline brackets the traced pass: one before, one after
            after = timed("after")
            with open(path) as f:
                spans = [json.loads(ln) for ln in f]
            jobs = {g: rec for r in traced["res"] for g, rec in r["jobs"].items()}
            ops = [{"rid": r["q"], "kind": "query", "ms": 1e3 * (r["build_s"] + r["exec_s"])}
                   for r in traced["res"]]
            layers = summarize(spans, jobs, ops)
            plain = [passes[-1], after]
            layers["trace.overhead_cpu_ms_per_op"] = 1e3 * (
                traced["cpu"] - statistics.fmean(p["cpu"] for p in plain)) / len(ANALYTICS)
            layers["trace.overhead_p50_ms"] = statistics.median(o["ms"] for o in ops) - (
                statistics.fmean(statistics.median(1e3 * (r["build_s"] + r["exec_s"])
                                                   for r in p["res"]) for p in plain))
            for r in traced["res"]:
                for k in ("build_s", "build_jobs", "exec_s", "exec_jobs", "cpu_s", "shuffle_bytes"):
                    layers[f"analytics.{r['q']}.{k}"] = r[k]
            self.spans_path = path
        # an analytics op is one pass over the ten queries
        wall = sum(p["wall"] for p in passes)
        cpu = sum(p["cpu"] for p in passes)
        phase = {"lat": {"pass": [1e3 * p["wall"] for p in passes]}, "wall": wall, "cpu": cpu}
        extra = {"pass_s": wall / len(passes), "cpu_s_per_pass": cpu / len(passes),
                 "passes": len(passes)}
        for q in ANALYTICS:
            extra[f"{q}_s"] = statistics.median(r["build_s"] + r["exec_s"]
                                                for p in passes for r in p["res"] if r["q"] == q)
        return self.common(node, setup, phase), layers, extra

    def common(self, node: Node, setup: float, phase: dict) -> dict:
        lat = [x for xs in phase["lat"].values() for x in xs]
        return {
            "setup_s": setup,
            "op_p50_ms": statistics.median(lat),
            "ops_s": len(lat) / phase["wall"],
            "cpu_ms_per_op": 1e3 * phase["cpu"] / len(lat),
            "live_heap_mb": node.call("heap")["heap_mb"],
        }


def box_probe_ms() -> float:
    """Time of a fixed pure-Python loop: a reading of how fast this
    machine ran at the end of the run, to tell box noise from the
    program's."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return 1e3 * (time.perf_counter() - t0)


def mean(key: str, recs: list[dict]) -> float:
    return statistics.fmean(r[key] for r in recs)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["ingest", "serve", "analytics"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="analytics: write the checked row counts and hashes to "
                         "expected_sf001.json instead of comparing with it")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "refluxdb_spark")):
        print("perfbench: refluxdb_spark/ is not next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    # a terminated or overdue run still stops its node and removes its
    # warehouse, and exits without a result
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    signal.signal(signal.SIGALRM, lambda *_: sys.exit("perfbench: run exceeded its time limit"))
    signal.alarm(RUN_LIMIT_S)
    run = Run(args)
    try:
        e2e, layers, extra = getattr(run, args.workload)()
    finally:
        run.stop()
        shutil.rmtree(run.dir, ignore_errors=True)
    extra["failed_frac"] = run.failed / run.attempted
    extra["box_probe_ms"] = box_probe_ms()
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "end_to_end": e2e, "workload_metrics": extra, "per_layer": layers,
              "attempted": run.attempted, "failed": run.failed}
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1)
    for k, v in {**e2e, **extra}.items():
        shown = "n/a (fewer than 10 samples beyond it)" if v is None else f"{v:.4f}"
        print(f"{k:>32} {shown} {END_TO_END.get(k) or extra_unit(k)}")
    if args.trace:
        print(f"spans: {run.spans_path}")
        assert set(layers) <= set(PER_LAYER), set(layers) - set(PER_LAYER)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": layer_unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def extra_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("ops_s", "rows_s")):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    return "ratio" if name.endswith("_frac") else "count"


def layer_unit(name: str) -> str:
    if name.endswith("_ms") or name.endswith("_ms_per_op"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_per_op") or name.endswith("bytes_per_row"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
