"""Structured Streaming ingest tests: file-stream line protocol ->
measurements table; streaming rollup == batch rollup."""

import os

import pytest
from pyspark.sql import functions as F

from refluxdb_spark.engine import RefluxEngine
from refluxdb_spark.operators.timeseries import time_bucket
from refluxdb_spark.queries import load, normalize_event_ts
from refluxdb_spark.streaming.ingest import stream_ingest_lines, stream_rollup


def test_stream_ingest_lines(spark, tmp_path):
    lines_dir = tmp_path / "lines"
    lines_dir.mkdir()
    (lines_dir / "batch1.txt").write_text(
        "cpu,host=a usage=0.5 1700000000000000000\n"
        "cpu,host=b usage=0.7,temp=55.0 1700000060000000000\n"
    )
    (lines_dir / "batch2.txt").write_text(
        "mem,host=a used=0.9 1700000120000000000\n"
    )
    eng = RefluxEngine(spark, str(tmp_path / "wh"))
    q = stream_ingest_lines(
        eng, str(lines_dir), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination()
    assert eng.list_series() == ["cpu", "mem"]
    rows = eng.query_rows("SELECT name, value FROM cpu ORDER BY name, value")
    assert [(r["name"], r["value"]) for r in rows] == [
        ("temp", 55.0), ("usage", 0.5), ("usage", 0.7),
    ]

    # restart with same checkpoint: no new files -> no duplicate rows
    q2 = stream_ingest_lines(
        eng, str(lines_dir), str(tmp_path / "ckpt"), available_now=True
    )
    q2.awaitTermination()
    assert len(eng.query_rows("SELECT * FROM cpu")) == 3


def test_stream_rollup_equals_batch(spark, sf_dir):
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = normalize_event_ts(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    ).select("ts", "event_type", "value")
    streamed = stream_rollup(
        spark, src, ts_col="ts", bucket="1 hour", by=["event_type"],
        watermark="365 days",
    )
    batch = load(spark, sf_dir, "events")
    expected = time_bucket(
        batch, "ts", "1 hour", by=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        ],
    ).select(F.col("bucket_start"), "event_type", "n", "sum_value")

    got = {tuple(r) for r in streamed.select("bucket_start", "event_type", "n", "sum_value").collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want


def test_stream_ingest_routes_dead_letters(spark, tmp_path):
    lines_dir = tmp_path / "lines_dlq"
    lines_dir.mkdir()
    (lines_dir / "mix.txt").write_text(
        "ok v=1.0 1700000000000000000\nnope v=abc 1700000000000000000\n"
    )
    eng = RefluxEngine(spark, str(tmp_path / "wh_dlq"))
    q = stream_ingest_lines(eng, str(lines_dir), str(tmp_path / "ck_dlq"))
    q.awaitTermination()
    assert len(eng.query_rows("SELECT * FROM ok")) == 1
    dlq = eng.dead_letters().collect()
    assert len(dlq) == 1 and dlq[0].raw.startswith("nope")


@pytest.mark.parametrize("lines", [
    ["ok,host=a v=1.0,w=2.0 1700000000000000000", "nope v=abc 1700000000000000000",
     "ok v=3.0 1700000001000000000", "missing_ts v=1.0"],
    ["nope v=abc 1700000000000000000", "missing_ts v=1.0"],
], ids=["mixed", "all_dead_letters"])
def test_stream_and_batch_ingest_agree(spark, tmp_path, lines):
    """``write_lines`` and ``stream_ingest_lines`` are one append: the
    same lines give the same (written, rejected) counts and the same
    dead-letter rows, also when every line is rejected."""
    batch = RefluxEngine(spark, str(tmp_path / "wh_batch"))
    written, rejected = batch.write_lines(lines)

    lines_dir = tmp_path / "lines"
    lines_dir.mkdir()
    (lines_dir / "batch.txt").write_text("\n".join(lines) + "\n")
    streamed = RefluxEngine(spark, str(tmp_path / "wh_stream"))
    stream_ingest_lines(streamed, str(lines_dir), str(tmp_path / "ck")).awaitTermination()

    assert (streamed._table().count(), streamed.dead_letters().count()) == (
        written, rejected
    )
    assert rejected == 2

    def dead(eng):
        return sorted((r.error, r.raw) for r in eng.dead_letters().collect())

    assert dead(streamed) == dead(batch)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Re-delivered keys across micro-batches are emitted exactly once
    while inside the watermark horizon (idempotent at-least-once
    ingest)."""
    from refluxdb_spark.streaming.ingest import stream_dedup

    src = tmp_path / "dedup_src"
    src.mkdir()
    (src / "b1.json").write_text(
        '{"k": "a", "ts": "2024-01-01T00:00:00", "v": 1}\n'
        '{"k": "b", "ts": "2024-01-01T00:01:00", "v": 2}\n'
        '{"k": "a", "ts": "2024-01-01T00:02:00", "v": 3}\n'  # dup in-batch
    )
    (src / "b2.json").write_text(
        '{"k": "a", "ts": "2024-01-01T00:03:00", "v": 4}\n'  # dup cross-batch
        '{"k": "c", "ts": "2024-01-01T00:04:00", "v": 5}\n'
    )
    stream = (
        spark.readStream.schema("k string, ts timestamp, v long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = stream_dedup(spark, stream, key_cols=["k"], ts_col="ts", watermark="1 hour")
    got = {r.k for r in out.collect()}
    assert got == {"a", "b", "c"}
    assert out.count() == 3  # each key exactly once


def test_stream_rollup_durable_sink_equals_batch(spark, sf_dir, tmp_path):
    """Durable-mode rollup (update-mode upsert onto plain parquet) must
    re-read from DISK equal to the batch aggregation — the production
    shape next to the memory-sink harness."""
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = normalize_event_ts(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    ).select("ts", "event_type", "value")
    out_path = str(tmp_path / "rollup_sink")
    streamed = stream_rollup(
        spark, src, ts_col="ts", bucket="1 hour", by=["event_type"],
        watermark="365 days", sink_path=out_path,
        checkpoint_dir=str(tmp_path / "ck_rollup"),
    )
    batch = load(spark, sf_dir, "events")
    expected = time_bucket(
        batch, "ts", "1 hour", by=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        ],
    ).select("bucket_start", "event_type", "n", "sum_value")
    got = {
        tuple(r)
        for r in streamed.select("bucket_start", "event_type", "n", "sum_value").collect()
    }
    want = {tuple(r) for r in expected.collect()}
    assert got == want
    # restart on the same checkpoint with no new data: disk state unchanged
    streamed2 = stream_rollup(
        spark, src, ts_col="ts", bucket="1 hour", by=["event_type"],
        watermark="365 days", sink_path=out_path,
        checkpoint_dir=str(tmp_path / "ck_rollup"),
    )
    got2 = {
        tuple(r)
        for r in streamed2.select("bucket_start", "event_type", "n", "sum_value").collect()
    }
    assert got2 == want


def test_stream_dedup_durable_sink_idempotent(spark, tmp_path):
    """Durable-mode dedup: exactly-once per key lands on plain parquet,
    and a restart on the same checkpoint appends nothing."""
    from refluxdb_spark.streaming.ingest import stream_dedup

    src = tmp_path / "dedup_src_durable"
    src.mkdir()
    (src / "b1.json").write_text(
        '{"k": "a", "ts": "2024-01-01T00:00:00", "v": 1}\n'
        '{"k": "b", "ts": "2024-01-01T00:01:00", "v": 2}\n'
        '{"k": "a", "ts": "2024-01-01T00:02:00", "v": 3}\n'
    )
    (src / "b2.json").write_text(
        '{"k": "a", "ts": "2024-01-01T00:03:00", "v": 4}\n'
        '{"k": "c", "ts": "2024-01-01T00:04:00", "v": 5}\n'
    )
    stream = (
        spark.readStream.schema("k string, ts timestamp, v long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out_path = str(tmp_path / "dedup_sink")
    ck = str(tmp_path / "ck_dedup")
    out = stream_dedup(
        spark, stream, key_cols=["k"], ts_col="ts", watermark="1 hour",
        sink_path=out_path, checkpoint_dir=ck,
    )
    assert {r.k for r in out.collect()} == {"a", "b", "c"}
    assert out.count() == 3
    out2 = stream_dedup(
        spark, stream, key_cols=["k"], ts_col="ts", watermark="1 hour",
        sink_path=out_path, checkpoint_dir=ck,
    )
    assert out2.count() == 3


def test_stream_probe_index_matches_batch_probe(spark, tmp_path, sf_dir):
    """stream_probe_index: the streamed ingest batch probing the
    persisted MinHash index yields exactly the one-shot batch probe's
    pair set (stateless per doc => union over micro-batches == batch),
    through the idempotent batch-id sink."""
    from refluxdb_spark.operators.dedup import (
        dedup_against_index,
        save_minhash_index,
    )
    from refluxdb_spark.streaming.ingest import stream_probe_index

    docs = load(spark, sf_dir, "documents")
    index_path = str(tmp_path / "mh_stream_idx")
    save_minhash_index(
        docs.filter(F.col("doc_id") % 10 != 0), index_path,
        num_hashes=8, bands=4, shingle=3,
    )
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    expected = {
        (r.new_id, r.index_id, r.est_jaccard)
        for r in dedup_against_index(spark, index_path, batch).collect()
    }

    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 10 == 0)
    )
    out = stream_probe_index(
        spark, src, index_path,
        sink_path=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        (r.new_id, r.index_id, r.est_jaccard) for r in out.collect()
    }
    assert got == expected and expected


def test_stream_interval_join_equals_batch(spark, sf_dir):
    """The watermarked stream-stream interval join emits exactly the
    rows of the batch interval join — per-window click counts and
    decimal-routed sums agree."""
    from refluxdb_spark.queries import QUERIES

    stream_rows = {
        r.win_id: (r.n_clicks, r.click_value)
        for r in QUERIES["ts_streaming_interval_join"](spark, sf_dir).collect()
    }
    batch_rows = {
        r.win_id: (r.n_clicks, r.click_value)
        for r in QUERIES["ts_interval_join_error_clicks"](spark, sf_dir).collect()
    }
    assert stream_rows == batch_rows and len(stream_rows) > 0


def test_stream_ingest_lines_typed_engine(spark, tmp_path):
    """The streaming ingest path follows the engine's typed_fields
    flag: typed wire values (42i / bool / quoted string with a comma
    and spaces inside) land in the typed lake schema through
    foreachBatch, and bad lines still dead-letter."""
    lines_dir = tmp_path / "lines"
    lines_dir.mkdir()
    (lines_dir / "batch1.txt").write_text(
        'cpu,host=a usage=0.5,cores=16i,hot=true,model="Xeon, E5 v4" '
        "1700000000000000000\n"
        "cpu,host=b bad=nope 1700000060000000000\n"
    )
    eng = RefluxEngine(spark, str(tmp_path / "wh_typed"), typed_fields=True)
    q = stream_ingest_lines(
        eng, str(lines_dir), str(tmp_path / "ckpt_typed"), available_now=True
    )
    q.awaitTermination()
    rows = eng.query_rows(
        "SELECT name, value_type, value, value_int, value_bool, value_str "
        "FROM cpu ORDER BY name"
    )
    got = {r["name"]: r for r in rows}
    assert got["cores"]["value_int"] == 16 and got["cores"]["value"] == 16.0
    assert got["hot"]["value_bool"] is True
    assert got["model"]["value_str"] == "Xeon, E5 v4"
    assert got["usage"]["value"] == 0.5 and got["usage"]["value_type"] == "float"
    assert eng.dead_letters().count() == 1
