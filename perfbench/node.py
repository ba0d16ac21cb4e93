"""One Spark driver process of the benchmark, launched by ``run.py``.

``--mode http`` serves a fresh ``RefluxEngine`` warehouse through
``serve_http``; ``--mode lib`` hosts the session for in-process
``queries.QUERIES`` passes. Commands arrive as JSON lines on stdin and
every reply is one stdout line starting with ``PB ``:

- ``heap``: live JVM heap in MB after ``System.gc()``;
- ``trace``: install the span tracer (``tracing.Tracer``); in http
  mode it records only requests sent with ``X-Bench-Trace: 1``, in lib
  mode every pass until ``{"cmd": "trace", "on": false}``;
- ``dump``: write the server's spans and per-request Spark job stats;
- ``pass``: run one analytics pass (lib mode);
- ``quit``: stop the server and the session, then exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

from procs import MSG, tree_cpu_s
from tracing import Tracer, phases

ANALYTICS = [
    "reflux_range_scan", "reflux_series_stats", "tpch_q1_pricing_summary",
    "ts_time_bucket_rollup", "text_bm25_ndcg", "dedup_minhash_lsh_pairs",
    "sim_ivf_topk", "sketch_kll_quantiles", "graph_harmonic_hyperball",
    "dedup_components_chain",
]


def reply(**kw) -> None:
    print(MSG + json.dumps(kw), flush=True)


def live_heap_mb(spark) -> float:
    """Heap in use after ``System.gc()``. Spark's ContextCleaner frees
    shuffles, broadcasts and checkpoints on its own thread once a GC has
    found them unreachable, so collect again until the reading settles."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = float("inf")
    for _ in range(5):
        jvm.java.lang.System.gc()
        used = mx.getHeapMemoryUsage().getUsed() / 2**20
        if used > 0.99 * last:
            return min(used, last)
        last = used
        time.sleep(0.3)
    return last


def _canon(v):
    if isinstance(v, (list, tuple)):  # pyspark Row is a tuple
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((_canon(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    return repr(v)


def content_hash(rows) -> str:
    """Order-independent hash of a result: sum of per-row md5 prefixes."""
    acc = 0
    for r in rows:
        acc += int.from_bytes(hashlib.md5(repr(_canon(r)).encode()).digest()[:8], "big")
    return f"{acc % 2**64:016x}"


def storage_stats(warehouse: str) -> dict:
    files = size = 0
    for root, _dirs, names in os.walk(warehouse):
        if os.path.basename(root).startswith("_") or "dead_letters" in root:
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return {"files": files, "bytes": size}


def analytics_pass(spark, data: str, order: list[str], tag: str,
                   check: bool, tracer: Tracer | None) -> list[dict]:
    """Build and fully materialize each query once. ``check`` collects
    the rows and hashes them instead of the ``noop`` write."""
    from refluxdb_spark.queries import QUERIES

    pid, out = os.getpid(), []
    for q in order:
        gb, ge = f"{q}:{tag}:build", f"{q}:{tag}:exec"
        if tracer:
            tracer.job_group(gb)
        c0 = tree_cpu_s(pid)
        t0 = time.perf_counter()
        span = tracer.begin("queries.build", rid=gb) if tracer else None
        df = QUERIES[q](spark, data)
        t1 = time.perf_counter()
        if tracer:
            # Catalyst phases of the query's own plan, forced once here and
            # kept out of both build_s and exec_s
            tracer.end(span)
            tracer.job_group(ge)
            span = tracer.begin("spark.plan", rid=ge)
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            span.update(phases(qe))
            tracer.end(span)
        t1b = time.perf_counter()
        rec = {"q": q}
        if check:
            rows = df.collect()
            rec.update(rows=len(rows), hash=content_hash(rows))
        else:
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        rec.update(build_s=t1 - t0, exec_s=t2 - t1b, cpu_s=tree_cpu_s(pid) - c0)
        if tracer:
            stats = tracer.job_stats([gb, ge])
            rec.update(build_jobs=stats[gb]["jobs"], exec_jobs=stats[ge]["jobs"],
                       shuffle_bytes=stats[gb]["shuffle_bytes"] + stats[ge]["shuffle_bytes"],
                       jobs=stats)
        out.append(rec)
    if tracer:
        tracer.job_group(f"idle:{tag}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["http", "lib"], required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--data")
    args = ap.parse_args()

    from refluxdb_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
    })
    spark.sparkContext.setLogLevel("ERROR")
    httpd, tracer = None, None
    if args.mode == "http":
        from refluxdb_spark.engine import RefluxEngine
        from refluxdb_spark.server import serve_http

        httpd = serve_http(RefluxEngine(spark, args.warehouse), port=0)
        reply(port=httpd.server_address[1])
    else:
        spark.range(1).collect()
        reply(ready=True)
    try:
        for line in sys.stdin:
            msg = json.loads(line)
            cmd = msg["cmd"]
            if cmd == "quit":
                break
            try:
                if cmd == "heap":
                    reply(heap_mb=live_heap_mb(spark))
                elif cmd == "trace":
                    if tracer is None:
                        tracer = Tracer(spark)
                        tracer.install()
                    tracer.on = args.mode == "lib" and msg.get("on", True)
                    reply(ok=True)
                elif cmd == "dump":
                    jobs = tracer.job_stats(tracer.groups)
                    with open(msg["path"], "w") as f:
                        for s in tracer.spans:
                            f.write(json.dumps(s) + "\n")
                    reply(jobs=jobs, pointer_reads=dict(tracer.pointer_reads),
                          storage=storage_stats(args.warehouse))
                elif cmd == "storage":
                    reply(storage=storage_stats(args.warehouse))
                elif cmd == "pass":
                    res = analytics_pass(spark, args.data, msg["order"], msg["tag"],
                                         msg.get("check", False),
                                         tracer if tracer and tracer.on else None)
                    if tracer and msg.get("path"):
                        with open(msg["path"], "a") as f:
                            for s in tracer.spans:
                                f.write(json.dumps(s) + "\n")
                        tracer.spans.clear()
                    reply(results=res)
                else:
                    reply(error=f"unknown command {cmd!r}")
            except Exception as e:  # report to the client, keep serving
                reply(error=repr(e))
    finally:
        if httpd is not None:
            httpd.shutdown()
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
