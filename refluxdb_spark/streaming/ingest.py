"""Structured Streaming ingest + pre-aggregation.

Replaces the reference's one-datagram-at-a-time, mutex-serialized write
path (``udpserver.rs:16-91``, ``handlers.rs:100-145``, ``main.rs:23``)
with micro-batch streaming:

- ``stream_ingest_lines``: file/socket text stream -> line-protocol
  parse (same column expressions as batch) -> ``foreachBatch`` into
  the engine's one append (field explode, dead letters, time-sorted
  write), the same code ``write_lines`` runs. Checkpointing
  makes ingest restartable/idempotent-per-batch — the property the
  reference's global Mutex was (weakly) standing in for.
- ``stream_rollup``: watermarked tumbling-window pre-aggregation — the
  reference's own unbuilt TODO ("Pre-calculated stats for each series",
  ``persistence.rs:40``, ``README.md:58``). With ``available_now`` it
  doubles as an incremental batch job whose output equals the batch
  ``operators.timeseries.time_bucket`` rollup (tested + oracle-checked).

Spark has no UDP source; production deploys a tiny UDP->file/socket
shim OUTSIDE the engine (SURVEY §7 hard part (a)) and everything from
the socket inward is this module.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from refluxdb_spark.engine import RefluxEngine
from refluxdb_spark.sources.lineprotocol import parse_lines_df, parse_lines_typed_df


def stream_ingest_lines(
    engine: RefluxEngine,
    lines_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    record_metrics: bool = False,
) -> StreamingQuery:
    """Stream line-protocol text files from ``lines_dir`` into the
    engine's measurements table via foreachBatch append.

    Each micro-batch goes through the same append as ``write_lines``:
    one time-sorted write job whose observed counts also give the
    dead-letter total, and a dead-letter write only when a line was
    rejected. A batch therefore lands exactly the rows and dead
    letters the same lines posted to ``write_lines`` would.

    ``record_metrics=True`` meters each micro-batch through the
    engine's observe()-based ingest ledger (rows, nulls, event-time
    bounds — computed by the write job itself, no second scan), the
    feed for ingest-lag/SLA dashboards.

    A ``typed_fields=True`` engine streams through the typed grammar
    (int/bool/quoted-string wire values) and lands the typed lake
    schema — the streaming path follows the engine's flag the same
    way ``write_lines`` does."""
    raw = engine.spark.readStream.format("text").load(lines_dir)
    parse = parse_lines_typed_df if engine.typed_fields else parse_lines_df
    parsed = parse(raw)

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        engine._append_lines(batch_df, record_metrics=record_metrics)

    writer = (
        parsed.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    spark: SparkSession,
    source: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "1 hour",
    sink_table: str | None = None,
    sink_path: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming deduplication: emit each key once, suppressing
    re-deliveries that arrive within the watermark horizon.

    This is the idempotent-ingest building block (at-least-once
    transports — UDP redelivery, producer retries — become effectively
    exactly-once per key). State is bounded: ``dropDuplicatesWithin
    Watermark`` evicts a key's dedup record once the watermark passes
    it, so state size ∝ keys-per-horizon, not stream history. Exact
    global dedup over all time belongs to the batch layer
    (``operators.dedup.exact_dedup``).

    Sinks: with ``sink_path`` (durable mode, production shape) the
    deduplicated append stream lands on plain parquet via
    ``sinks.idempotent_append_sink`` — checkpointed, restartable, and
    exactly-once on disk (a replayed micro-batch overwrites its own
    ``_batch_id`` partition) — and the returned DataFrame re-reads the
    path. Without it, a MEMORY sink returns driver-resident results —
    a test/demo harness only.

    Processes everything currently available (availableNow) and
    returns the deduplicated result.
    """
    deduped = source.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )
    if sink_path is not None:
        from refluxdb_spark.streaming.sinks import idempotent_append_sink, read_sink

        q = (
            deduped.writeStream.foreachBatch(idempotent_append_sink(sink_path))
            .option(
                "checkpointLocation",
                checkpoint_dir or f"{sink_path}_checkpoint",
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return read_sink(spark, sink_path)
    sink_table = sink_table or f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


def stream_rollup(
    spark: SparkSession,
    source: DataFrame,
    ts_col: str,
    bucket: str = "1 hour",
    by: list[str] | None = None,
    watermark: str = "1 day",
    sink_table: str | None = None,
    available_now: bool = True,
    sink_path: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window rollup of a *streaming* DataFrame.

    Aggregates: row count + sum(value as decimal cast back to double —
    order-independent, so results are deterministic under any partition
    or trigger schedule).

    Sinks: with ``sink_path`` (durable mode, production shape) the
    rollup runs in UPDATE output mode through ``sinks.upsert_sink`` —
    each changed (bucket, group) lands as latest-value-per-key on
    plain parquet (dynamic overwrite of its own key partition), so the
    on-disk table refines as data arrives and its final state equals
    the batch aggregation; checkpointed and restartable. Without it, a
    MEMORY sink in complete mode returns driver-resident results — a
    test/demo harness only.
    """
    by = by or []
    agged = (
        source.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), bucket).alias("_w"), *by)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_sum_dec"),
        )
        .select(
            F.col("_w.start").alias("bucket_start"),
            *by,
            "n",
            F.col("_sum_dec").cast("double").alias("sum_value"),
        )
    )
    if sink_path is not None:
        from refluxdb_spark.streaming.sinks import read_sink, upsert_sink

        q = (
            agged.writeStream.foreachBatch(
                upsert_sink(sink_path, key_cols=["bucket_start", *by])
            )
            .option(
                "checkpointLocation",
                checkpoint_dir or f"{sink_path}_checkpoint",
            )
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return read_sink(spark, sink_path)
    sink_table = sink_table or f"rollup_{uuid.uuid4().hex[:8]}"
    q = (
        agged.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


def stream_probe_index(
    spark: SparkSession,
    source: DataFrame,
    index_path: str,
    sink_path: str,
    checkpoint_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming INCREMENTAL dedup — the streaming twin of
    ``operators.dedup.dedup_against_index``: each micro-batch of newly
    ingested documents fingerprints only itself and probes the
    persisted MinHash index; its near-dup pairs land on parquet via
    the idempotent batch-id sink (replayed batches overwrite their own
    partition — exactly-once on disk). Because the probe is STATELESS
    per document, the union over micro-batches equals the one-shot
    batch probe, which is what gives this streaming operator a full
    value oracle. State cost: zero (no watermark, no store); per-batch
    cost ∝ batch size with the index scan partition-pruned to the
    batch's own bucket prefixes.

    Processes everything currently available (availableNow) and
    returns the accumulated pair set.
    """
    from refluxdb_spark.operators.dedup import dedup_against_index
    from refluxdb_spark.streaming.sinks import idempotent_append_sink, read_sink

    sink = idempotent_append_sink(sink_path)

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        sink(
            dedup_against_index(spark, index_path, batch_df, text_col, id_col),
            batch_id,
        )

    q = (
        source.writeStream.foreachBatch(_probe)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{sink_path}_checkpoint",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_sink(spark, sink_path)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[tuple[str, str]],
    left_ts: str,
    right_ts: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: pair each left-stream row with
    every right-stream row matching on ``keys`` (pairs of (left_col,
    right_col) names) whose event time falls in [left_ts, left_ts +
    window). Both sides carry watermarks and the join condition
    carries the time range, so Spark bounds the join state to the
    watermark horizon — the configuration that holds state ∝ window,
    not ∝ stream length, on an unbounded 100 TB/day stream (without
    the range + watermarks, inner stream-stream join state grows
    forever).

    Callers alias columns so the two sides are disjoint (including the
    two event-time columns). Returns the unbounded joined stream;
    callers attach a sink.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) < F.col(left_ts) + F.expr(f"INTERVAL {window}"))
    )
    for lk, rk in keys:
        cond = cond & (lw[lk] == rw[rk])
    return lw.join(rw, cond, "inner")


def stream_ohlc(
    spark: SparkSession,
    source: DataFrame,
    ts_col: str,
    by: list[str] | None = None,
    bucket: str = "1 hour",
    watermark: str = "1 day",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Watermarked streaming OHLC candles — the financial/TSDB
    downsampling read maintained AS data arrives instead of recomputed
    per dashboard refresh.

    open/close use ``min_by``/``max_by`` over a (ts [, tiebreak])
    ordering struct: unlike first()/last(), these are true commutative
    aggregates, so the streaming state merges identically under any
    micro-batch schedule and the drained result equals the batch
    window formulation row-for-row (the oracle replays it with
    row_number). State per (group, window) is five scalars; the
    watermark bounds how many windows stay open.
    """
    by = by or []
    ordc = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    ordst = F.struct(*ordc)
    agged = (
        source.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), bucket).alias("_w"), *by)
        .agg(
            F.min_by(F.col(value_col), ordst).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(F.col(value_col), ordst).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            *by, "open", "high", "low", "close", "n",
            F.col("_w.start").alias("bucket_start"),
        )
    )
    sink_table = f"ohlc_{uuid.uuid4().hex[:8]}"
    q = (
        agged.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


def stream_static_enriched(
    spark: SparkSession,
    source: DataFrame,
    dim: DataFrame,
    on: list[str],
    ts_col: str,
    by: list[str],
    value_col: str = "value",
    bucket: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Stream-static enrichment + windowed rollup: each micro-batch
    joins against a STATIC dimension (broadcast — Spark re-plans the
    join per batch, so a small dim never shuffles the stream) and
    aggregates exact integer cents per (window, dims). The canonical
    "events × reference data" streaming shape: sessionless, the state
    is just the open windows, and the drained result equals the batch
    join+agg row-for-row because both the join (row-local) and the
    cent sums (commutative integer adds) are micro-batch-order
    insensitive."""
    cents = F.sum(
        F.expr(f"cast(round({value_col} * 100) as bigint)")
    ).cast("bigint")
    agged = (
        source.join(F.broadcast(dim), on)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), bucket).alias("_w"), *by)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (cents.cast("double") / F.lit(100.0)).alias("revenue"),
        )
        .select(*by, "n", "revenue", F.col("_w.start").alias("bucket_start"))
    )
    sink_table = f"enriched_{uuid.uuid4().hex[:8]}"
    q = (
        agged.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)
