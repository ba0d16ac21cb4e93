"""In-memory spans around the public entry points of refluxdb_spark.

``Tracer.install`` wraps functions at runtime from the benchmark's own
files; nothing under ``refluxdb_spark/`` is edited. A wrapper records
only on threads where tracing is on: per request when the client sends
``X-Bench-Trace: 1``, so traced and untraced requests interleave. Each
span records a name, start and end (``time.monotonic_ns``, a clock
shared by every process on the machine), its parent span and the
request id. Spark jobs run under a job group named after the request
id, so their stage metrics can be read back from the status store after
the run.

``summarize`` turns spans and job records into the per-layer metrics:
a span's self time is its duration minus the part of it covered by its
child spans."""

from __future__ import annotations

import itertools
import json
import threading
import time
import types
from collections import defaultdict

PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.pointer_reads: dict[str, int] = defaultdict(int)
        self.groups: list[str] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, rid: str | None = None, parent: str | None = None) -> dict:
        stack = self._stack()
        if rid is None:
            rid = stack[-1]["rid"] if stack else getattr(self._local, "rid", "-")
        if parent is None and stack:
            parent = stack[-1]["id"]
        span = {"id": f"n{next(self._ids)}", "parent": parent, "rid": rid,
                "name": name, "start_ns": time.monotonic_ns()}
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end_ns"] = time.monotonic_ns()
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    @property
    def on(self) -> bool:
        """Whether this thread records spans; requests opt in one by one."""
        return getattr(self._local, "on", False)

    @on.setter
    def on(self, value: bool) -> None:
        self._local.on = value

    def job_group(self, rid: str) -> None:
        self._local.rid = rid
        with self._lock:
            self.groups.append(rid)
        self.spark.sparkContext.setJobGroup(rid, "perfbench", False)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a function that records a span
        named ``name``; ``after(span, args, result)`` may add fields."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kw):
            if not tracer.on:
                return fn(*args, **kw)
            span = tracer.begin(name)
            try:
                result = fn(*args, **kw)
                if after is not None:
                    after(span, args, result)
                return result
            finally:
                tracer.end(span)

        setattr(owner, attr, traced)

    # ---------------------------------------------------------- install
    def install(self) -> None:
        import refluxdb_spark.engine as engine
        import refluxdb_spark.server as server
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.session import SparkSession
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter
        from refluxdb_spark.storage import VersionedPath

        tracer = self
        for verb in ("do_GET", "do_POST"):
            handle = getattr(server._Handler, verb)

            def request(handler, _handle=handle):
                tracer.on = handler.headers.get("X-Bench-Trace") == "1"
                if not tracer.on:
                    return _handle(handler)
                rid = handler.headers.get("X-Bench-Rid", "-")
                tracer.job_group(rid)
                span = tracer.begin("server.request", rid=rid, parent=f"c{rid}")
                try:
                    return _handle(handler)
                finally:
                    tracer.end(span)

            setattr(server._Handler, verb, request)
        self.wrap(server._Handler, "_send", "server.send")
        server.json = types.SimpleNamespace(dumps=json.dumps)
        self.wrap(server.json, "dumps", "server.encode",
                  after=lambda s, a, r: s.update(bytes=len(r)))

        self.wrap(engine, "validate_query", "gateway.validate")
        self.wrap(engine, "ast_validate", "gateway.ast_validate")
        self.wrap(engine, "parse_lines_df", "lineprotocol.parse_build")
        self.wrap(engine, "explode_fields", "lineprotocol.explode_build")
        E = engine.RefluxEngine
        for attr, name in [
            ("write_lines", "engine.write_lines"),
            ("write_lines_dataframe", "engine.write"),
            ("query_rows", "engine.query_rows"),
            ("query", "engine.query_build"),
            ("range", "engine.range_build"),
            ("_table", "engine.table_open"),
            ("list_series", "engine.list_series"),
        ]:
            self.wrap(E, attr, name)
        ensure = E._ensure_views

        def ensure_views(eng, *args, **kw):
            if not tracer.on:
                return ensure(eng, *args, **kw)
            before = len(eng._views)
            span = tracer.begin("engine.ensure_views")
            try:
                return ensure(eng, *args, **kw)
            finally:
                span["rebuilds"] = len(eng._views) - before
                tracer.end(span)

        E._ensure_views = ensure_views
        current = VersionedPath.current

        def pointer_read(vp):
            if tracer.on:
                stack = tracer._stack()
                tracer.pointer_reads[stack[-1]["rid"] if stack else "-"] += 1
            return current(vp)

        VersionedPath.current = pointer_read

        self.wrap(SparkSession, "createDataFrame", "spark.create_dataframe")
        self.wrap(SparkSession, "sql", "spark.sql")
        self.wrap(DataFrame, "count", "spark.count")
        self.wrap(DataFrame, "collect", "spark.collect", after=self._phases)
        self.wrap(DataFrameReader, "parquet", "spark.read_parquet")
        self.wrap(DataFrameWriter, "parquet", "spark.write_parquet")
        self.wrap(DataFrameWriter, "save", "spark.write_save")

    @staticmethod
    def _phases(span: dict, args, result) -> None:
        """Catalyst phase times of the collected DataFrame's own query."""
        span.update(phases(args[0]._jdf.queryExecution()))

    # --------------------------------------------------- spark job stats
    def job_stats(self, groups: list[str]) -> dict[str, dict]:
        """Jobs, stages, job wall, executor CPU and shuffle bytes per job
        group, read from the status store once its listener bus drains."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = {}
        for g in groups:
            rec = {"jobs": 0, "stages": 0, "exec_ms": 0.0, "cpu_ms": 0.0, "shuffle_bytes": 0}
            for jid in sc.statusTracker().getJobIdsForGroup(g):
                job = store.job(jid)
                info = sc.statusTracker().getJobInfo(jid)
                rec["jobs"] += 1
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    rec["exec_ms"] += (job.completionTime().get().getTime()
                                       - job.submissionTime().get().getTime())
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # skipped stage: never attempted
                        continue
                    rec["stages"] += 1
                    rec["cpu_ms"] += st.executorCpuTime() / 1e6
                    rec["shuffle_bytes"] += st.shuffleWriteBytes()
            out[g] = rec
        return out


def phases(qe) -> dict:
    ph = qe.tracker().phases()
    out = {}
    for p in PHASES:
        opt = ph.get(p)
        out[f"{p}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# ------------------------------------------------------------- summarize
def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time in ms per span id: duration minus the union of the
    child spans' intervals, clipped to the parent."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, edge = 0, s["start_ns"]
        for c in sorted(kids[s["id"]], key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], edge), min(c["end_ns"], s["end_ns"])
            if b > a:
                covered += b - a
                edge = b
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e6
    return out


def summarize(spans: list[dict], jobs: dict[str, dict], ops: list[dict]) -> dict[str, float]:
    """Per-op layer metrics of one traced phase. ``ops`` holds one record
    per traced operation, with its request id ``rid`` and ``kind``."""
    n = max(len(ops), 1)
    writes = [o["rid"] for o in ops if o["kind"] == "write"]
    n_w = max(len(writes), 1)
    own = self_times(spans)
    dur = defaultdict(float)
    self_ms = defaultdict(float)
    layer_self = defaultdict(float)
    write_self = defaultdict(float)
    extra = defaultdict(float)
    wset = set(writes)
    for s in spans:
        d = (s["end_ns"] - s["start_ns"]) / 1e6
        dur[s["name"]] += d
        self_ms[s["name"]] += own[s["id"]]
        layer_self[s["name"].split(".")[0]] += own[s["id"]]
        if s["rid"] in wset:
            write_self[s["name"]] += own[s["id"]]
        extra["bytes"] += s.get("bytes", 0)
        extra["rebuilds"] += s.get("rebuilds", 0)
        for p in PHASES:
            extra[p] += s.get(f"{p}_ms", 0.0)
    tot = defaultdict(float)
    for rec in jobs.values():
        for k, v in rec.items():
            tot[k] += v
    w_jobs = sum(jobs[r]["jobs"] for r in writes if r in jobs)
    return {
        "client.transport_ms": layer_self["client"] / n,
        "server.self_ms": (self_ms["server.request"] + self_ms["server.send"]) / n,
        "server.encode_ms": dur["server.encode"] / n,
        "server.response_bytes": extra["bytes"] / n,
        "gateway.validate_ms": dur["gateway.validate"] / n,
        "gateway.ast_validate_ms": dur["gateway.ast_validate"] / n,
        "engine.self_ms": layer_self["engine"] / n,
        "engine.ensure_views_ms": dur["engine.ensure_views"] / n,
        "engine.view_rebuilds_per_op": extra["rebuilds"] / n,
        "engine.table_open_ms": dur["engine.table_open"] / n,
        "engine.query_build_ms": dur["engine.query_build"] / n,
        "engine.range_build_ms": dur["engine.range_build"] / n,
        "engine.write_self_ms": (write_self["engine.write"]
                                 + write_self["engine.write_lines"]) / n_w,
        "lineprotocol.parse_build_ms": (dur["lineprotocol.parse_build"]
                                        + dur["lineprotocol.explode_build"]) / n_w,
        "spark.self_ms": layer_self["spark"] / n,
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.jobs_per_write": w_jobs / n_w,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.exec_ms": tot["exec_ms"] / n,
        "spark.executor_cpu_ms_per_op": tot["cpu_ms"] / n,
        "spark.shuffle_bytes_per_op": tot["shuffle_bytes"] / n,
        "catalyst.analysis_ms": extra["analysis"] / n,
        "catalyst.optimization_ms": extra["optimization"] / n,
        "catalyst.planning_ms": extra["planning"] / n,
        "trace.spans_per_op": len(spans) / n,
    }


def request_self_sum_error_ms(spans: list[dict]) -> float:
    """Largest gap, over requests, between the sum of a request's span
    self times and its latency as the client measured it."""
    own = self_times(spans)
    by_rid = defaultdict(float)
    for s in spans:
        by_rid[s["rid"]] += own[s["id"]]
    worst = 0.0
    for s in spans:
        if s["name"] == "client.request":
            latency = (s["end_ns"] - s["start_ns"]) / 1e6
            worst = max(worst, abs(by_rid[s["rid"]] - latency))
    return worst

