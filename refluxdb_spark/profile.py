"""Stage metrics of one block of Spark work, read with the Spark UI off.

``run(spark, thunk)`` runs ``thunk()`` under a fresh job tag, waits
until the listener bus has delivered every event, then reads each stage
of the tagged jobs from the SparkContext's status store (kept whether
or not the UI is on). Attribution is exact: a job counts iff the block
started it, so jobs run before it, or by threads it did not start,
never do. A tag, not a job group: a thread the block starts inherits
its tags, and a streaming query's micro-batches run on such a thread
under the stream's own job group. Tags also add up, so the caller's job
group and tags stay as they were. A skipped stage counts as a stage
with no work, also once a long session's store has evicted its record.

Command line, for targeted A/B measurement of registry queries at
``$SPARK_GRAFT_SF_DIR``::

    python -m refluxdb_spark.profile [--reps N] <query> [query ...]

Each query runs ``N`` times (default 5; clearCache + count(), the bench
methodology). Printed per query: wall median, executor CPU per rep and
jobs per rep, then the per-stage rows of the last rep (status, tasks,
CPU and run time, shuffle read/write bytes, first line of the stage
name). A stage with one task and seconds of CPU is a serial scan
carrying the whole pre-exchange plan while the other cores idle. The
last stdout line is the per-query summary as JSON.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

from py4j.protocol import Py4JJavaError


def run(spark, thunk):
    """``(thunk(), profile)``: the thunk's result and the stage metrics
    of every job it started.

    The profile holds ``wall_s`` (the thunk alone), ``jobs``,
    ``stages`` (skipped ones included), executor ``cpu_s`` and
    ``run_s``, ``shuffle_write_bytes`` / ``shuffle_write_records``,
    and ``stage_rows``: one dict per stage the store still holds, in
    stage-id order."""
    sc = spark.sparkContext
    tag = f"profile-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        t0 = time.perf_counter()
        out = thunk()
        wall_s = time.perf_counter() - t0
    finally:
        sc.removeJobTag(tag)

    # waitUntilEmpty raises on timeout rather than return a partial
    # answer; a job the store no longer holds (evicted past
    # spark.ui.retainedJobs) raises too, since its stages would
    # otherwise go uncounted
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job_stages: dict[int, set[int]] = {}
    for jid in jsc.statusTracker().getJobIdsForTag(tag):
        info = tracker.getJobInfo(jid)
        if info is None:
            raise RuntimeError(
                f"job {jid} of block {tag} is no longer in the status "
                f"store; its stages cannot be counted"
            )
        job_stages[jid] = set(info.stageIds)
    stage_ids = set().union(*job_stages.values())
    store = jsc.statusStore()
    rows, gone = [], set()
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # NoSuchElementException: evicted
            gone.add(sid)
            continue
        rows.append({
            "stage": sid,
            "status": str(st.status()),
            "tasks": st.numTasks(),
            "cpu_s": st.executorCpuTime() / 1e9,
            "run_s": st.executorRunTime() / 1e3,
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "shuffle_write_records": st.shuffleWriteRecords(),
            "name": (st.name() or "").split("\n")[0],
        })
    # Past spark.ui.retainedStages the store evicts SKIPPED stages
    # first, so a long session loses the records of skipped stages that
    # did no work. The jobs still count their skipped stages (a stage
    # two jobs share counts in the job that ended first); more gone
    # than that, less those still held, means a stage that ran was
    # evicted.
    if gone:
        skipped = sum(store.job(jid).numSkippedStages() for jid in job_stages)
        held = sum(r["status"] == "SKIPPED" for r in rows)
        if len(gone) + held > skipped:
            raise RuntimeError(
                f"block {tag}: a stage that ran is no longer in the "
                f"status store; its metrics cannot be counted"
            )
    return out, {
        "wall_s": wall_s,
        "jobs": len(job_stages),
        "stages": len(stage_ids),
        "cpu_s": sum(r["cpu_s"] for r in rows),
        "run_s": sum(r["run_s"] for r in rows),
        "shuffle_write_bytes": sum(r["shuffle_write_bytes"] for r in rows),
        "shuffle_write_records": sum(r["shuffle_write_records"] for r in rows),
        "stage_rows": rows,
    }


def _usage(msg: str) -> int:
    print(f"error: {msg}\n\n{__doc__}", file=sys.stderr)
    return 2


def main(argv: list[str]) -> int:
    from refluxdb_spark.queries import QUERIES, TABLES, load
    from refluxdb_spark.session import get_spark

    reps = 5
    if argv[:1] == ["--reps"]:
        try:
            reps = int(argv[1])
        except (IndexError, ValueError):
            return _usage("--reps wants an integer operand")
        argv = argv[2:]
    if reps < 1:
        return _usage(f"--reps must be >= 1, got {reps}")
    if not argv:
        return _usage("name at least one query")
    unknown = [n for n in argv if n not in QUERIES]
    if unknown:
        return _usage(f"unknown queries: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        return _usage("set SPARK_GRAFT_SF_DIR to a scale-factor directory")

    spark = get_spark(app_name="refluxdb_spark_profile")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        load(spark, sf_dir, t).count()
    out = {}
    for name in argv:
        fn = QUERIES[name]
        profs = []
        for _ in range(reps):
            spark.catalog.clearCache()
            profs.append(run(spark, lambda: fn(spark, sf_dir).count())[1])
        walls = sorted(p["wall_s"] for p in profs)
        out[name] = {
            "wall_median": round(walls[len(walls) // 2], 3),
            "wall": [round(w, 3) for w in walls],
            "cpu": [round(p["cpu_s"], 3) for p in profs],
            "jobs": [p["jobs"] for p in profs],
        }
        print(f"== {name}: {out[name]}")
        for s in profs[-1]["stage_rows"]:
            print(
                f"  stage {s['stage']:>4} {s['status']:<8} tasks={s['tasks']:>3} "
                f"cpu={s['cpu_s']:7.2f}s run={s['run_s']:7.2f}s "
                f"shr={s['shuffle_read_bytes']:>10} "
                f"shw={s['shuffle_write_bytes']:>10}  {s['name'][:70]}"
            )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
