"""The UI-off stage-metrics reader (refluxdb_spark.profile): exact
attribution by job tag, on the shared UI-off session, plus the fence
that keeps the tooling on it."""

import glob
import os
import re
import threading

import pytest
from pyspark.sql import functions as F

from refluxdb_spark import profile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _shuffle(spark):
    return spark.range(10_000).repartition(4, "id").groupBy(F.col("id") % 7).count()


def test_shuffle_reports_exact_records_and_cpu(spark):
    """A deterministic shuffle's record count is exact: the repartition
    writes one record per id, and the grouped aggregate writes one
    partial row per (input partition, key) pair — 4 partitions x 7
    keys, each partition holding every key."""
    rows, prof = profile.run(spark, lambda: _shuffle(spark).collect())
    assert sorted(r["count"] for r in rows) == [1428] * 3 + [1429] * 4
    assert prof["shuffle_write_records"] == 10_000 + 4 * 7
    assert prof["shuffle_write_bytes"] > 0
    assert prof["cpu_s"] > 0 and prof["run_s"] > 0
    assert prof["stages"] == len(prof["stage_rows"]) >= 2  # none evicted
    assert prof["shuffle_write_records"] == sum(
        s["shuffle_write_records"] for s in prof["stage_rows"]
    )
    assert all(s["tasks"] >= 1 and s["name"] for s in prof["stage_rows"])


def test_jobs_outside_the_block_are_not_counted(spark):
    """A job run just before the block, and one run during it by
    another thread under its own job group, are not counted."""
    _shuffle(spark).collect()

    def other():
        spark.sparkContext.setJobGroup("profile-test-other", "other", False)
        _shuffle(spark).collect()

    def thunk():
        t = threading.Thread(target=other)
        t.start()
        spark.range(10).collect()
        t.join(timeout=120)
        assert not t.is_alive()

    _, prof = profile.run(spark, thunk)
    assert prof["jobs"] == 1
    assert prof["shuffle_write_records"] == 0


def test_two_collects_report_two_jobs(spark):
    _, prof = profile.run(
        spark, lambda: (spark.range(5).collect(), spark.range(7).collect())
    )
    assert prof["jobs"] == 2


def test_stream_started_by_the_block_is_counted(spark, tmp_path):
    """A streaming query's micro-batch runs on the stream's own thread
    under the stream's own job group; it is still the block's work."""
    src = str(tmp_path / "in")
    spark.range(100).coalesce(1).write.parquet(src)

    def thunk():
        q = (
            spark.readStream.schema("id long").parquet(src)
            .groupBy((F.col("id") % 7).alias("k")).count()
            .writeStream.format("memory").queryName("profile_test_stream")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return spark.table("profile_test_stream").collect()

    rows, prof = profile.run(spark, thunk)
    assert len(rows) == 7
    assert prof["shuffle_write_records"] == 7  # one file, 7 partial rows


def test_callers_job_group_and_tags_are_kept(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller", False)
    sc.addJobTag("caller-tag")
    try:
        _, prof = profile.run(spark, lambda: spark.range(3).collect())
        assert prof["jobs"] == 1
        # a block that raises leaves them as they were too
        with pytest.raises(ZeroDivisionError):
            profile.run(spark, lambda: 1 / 0)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert set(sc.getJobTags()) == {"caller-tag"}
    finally:
        sc.removeJobTag("caller-tag")
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)


def test_job_evicted_from_the_status_store_raises(spark, monkeypatch):
    """A job of the block that the store no longer holds (evicted past
    spark.ui.retainedJobs) must raise, not undercount."""

    class _Tracker:
        def getJobInfo(self, jid):
            return None

    monkeypatch.setattr(spark.sparkContext, "statusTracker", lambda: _Tracker())
    with pytest.raises(RuntimeError, match="no longer in the status store"):
        profile.run(spark, lambda: spark.range(3).collect())


def _fake_spark(held):
    """Just enough SparkContext for ``profile.run``: the block ran one
    job over stages 10 (ran, 5 records) and 11 (skipped), and the status
    store still holds the stages in ``held``."""
    from types import SimpleNamespace as NS

    from py4j.protocol import Py4JJavaError

    def stage(sid):
        if sid not in held:
            raise Py4JJavaError("evicted", NS(_target_id="o1"))
        ran = sid == 10
        return NS(status=lambda: "COMPLETE" if ran else "SKIPPED",
                  numTasks=lambda: 4, executorCpuTime=lambda: 2e9 * ran,
                  executorRunTime=lambda: 3e3 * ran,
                  shuffleReadBytes=lambda: 0,
                  shuffleWriteBytes=lambda: 100 * ran,
                  shuffleWriteRecords=lambda: 5 * ran,
                  name=lambda: f"stage {sid}\nat ...")

    store = NS(lastStageAttempt=stage,
               job=lambda jid: NS(numSkippedStages=lambda: 1))
    jsc = NS(listenerBus=lambda: NS(waitUntilEmpty=lambda: None),
             statusTracker=lambda: NS(getJobIdsForTag=lambda tag: [1]),
             statusStore=lambda: store)
    sc = NS(addJobTag=lambda tag: None, removeJobTag=lambda tag: None,
            _jsc=NS(sc=lambda: jsc),
            statusTracker=lambda: NS(getJobInfo=lambda jid: NS(stageIds=[10, 11])))
    return NS(sparkContext=sc)


def test_evicted_skipped_stage_still_counts():
    """Past spark.ui.retainedStages the store evicts skipped stages
    first; the skipped stage still counts, as a stage with no work."""
    for held in ({10, 11}, {10}):
        _, prof = profile.run(_fake_spark(held), lambda: None)
        assert (prof["jobs"], prof["stages"]) == (1, 2)
        assert prof["shuffle_write_records"] == 5 and prof["cpu_s"] == 2.0
        assert [s["stage"] for s in prof["stage_rows"]] == sorted(held)
        assert prof["stage_rows"][0]["name"] == "stage 10"


def test_evicted_stage_that_ran_raises():
    """More stages gone than the job skipped means one that ran is
    gone: raise, not undercount."""
    for held in ({11}, set()):
        with pytest.raises(RuntimeError, match="stage that ran"):
            profile.run(_fake_spark(held), lambda: None)


def test_tooling_reads_stage_metrics_without_the_ui():
    """No UI-REST scraper comes back: the bench and the scripts read
    stage metrics through refluxdb_spark.profile, with the UI off."""
    pattern = re.compile(
        r"/api/v1|uiWebUrl|spark\.ui\.port|spark\.ui\.enabled|SPARK_GRAFT_CPU_AXIS"
    )
    hits = []
    for path in [os.path.join(_REPO, "bench.py")] + sorted(
        glob.glob(os.path.join(_REPO, "scripts", "*.py"))
    ):
        with open(path) as fh:
            for n, line in enumerate(fh, 1):
                if pattern.search(line):
                    hits.append(f"{os.path.relpath(path, _REPO)}:{n}: {line.strip()}")
    assert not hits, "\n".join(hits)
