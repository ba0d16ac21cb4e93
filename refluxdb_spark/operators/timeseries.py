"""Time-series analytics operators.

The reference's own TODO list ("Pre-calculated stats for each series",
``persistence.rs:40``, ``README.md:58``) plus the standard TSDB surface
its data model implies: bucketed rollups, resampling with gap-fill,
as-of joins, moving-window stats, sessionization, top-k per group.

All operators are pure DataFrame compositions — no UDFs, no driver
loops — so Catalyst plans them with pushdown/pruning and they scale by
partitioning alone:

- rollup/moving/topk shuffle once on their natural key;
- ``asof_join`` is the union+window formulation (single shuffle on the
  join key; no range-explosion, no broadcast requirement — works even
  when both sides are 100 TB-scale);
- ``resample`` builds its time grid from ``sequence()`` (rows ∝ buckets,
  not input rows) and broadcast-joins the small grid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def time_bucket(
    df: DataFrame,
    ts_col: str,
    bucket: str = "1 hour",
    by: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Tumbling-window rollup (batch twin of the streaming pre-agg).

    Uses ``F.window`` so the same expression works under Structured
    Streaming with a watermark. Output ``bucket_start`` is the window
    start; grouping keys are preserved.
    """
    by = by or []
    aggs = aggs or [F.count(F.lit(1)).alias("n")]
    return (
        df.groupBy(F.window(F.col(ts_col), bucket).alias("_w"), *by)
        .agg(*aggs)
        .withColumn("bucket_start", F.col("_w.start"))
        .drop("_w")
    )


def ohlc(
    df: DataFrame,
    ts_col: str,
    value_col: str = "value",
    bucket: str = "1 hour",
    by: list[str] | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """OHLC candles: open/high/low/close of ``value_col`` per tumbling
    bucket (and optional group keys) — the canonical financial/TSDB
    downsampling read.

    Open/close are the first/last observation by (ts [, tiebreak]);
    ``tiebreak_col`` makes them DETERMINISTIC when timestamps collide
    (pass a unique id — without it, ties resolve arbitrarily per run).
    One window pass over (bucket, by) ordered by time + one groupBy on
    the same keys — the window's partitioning IS the aggregation's
    shuffle key, so Catalyst reuses a single exchange.
    """
    by = by or []
    order_f = [F.col(ts_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    order_l = [F.col(ts_col).desc()] + (
        [F.col(tiebreak_col).desc()] if tiebreak_col else []
    )
    bucketed = df.withColumn("_w", F.window(F.col(ts_col), bucket))
    w_f = Window.partitionBy("_w", *by).orderBy(*order_f)
    w_l = Window.partitionBy("_w", *by).orderBy(*order_l)
    ranked = bucketed.select(
        "_w",
        *by,
        F.col(value_col).alias("_v"),
        F.row_number().over(w_f).alias("_rn_f"),
        F.row_number().over(w_l).alias("_rn_l"),
    )
    return (
        ranked.groupBy("_w", *by)
        .agg(
            F.min(F.when(F.col("_rn_f") == 1, F.col("_v"))).alias("open"),
            F.max("_v").alias("high"),
            F.min("_v").alias("low"),
            F.min(F.when(F.col("_rn_l") == 1, F.col("_v"))).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn("bucket_start", F.col("_w.start"))
        .drop("_w")
    )


def resample(
    df: DataFrame,
    ts_col: str,
    bucket_expr: str,
    step: str,
    by: list[str] | None = None,
    aggs: list[Column] | None = None,
    fill: dict[str, float] | None = None,
) -> DataFrame:
    """Resample to a fixed grid with gap-fill.

    ``bucket_expr`` is a SQL expression truncating ``ts_col`` to the
    bucket (e.g. ``date_trunc('hour', ts)``); ``step`` is an interval
    literal (e.g. ``'1 hour'``). The dense grid = sequence(min..max)
    cross-joined with the distinct group keys, left-joined with the
    aggregated data; missing buckets get ``fill`` values (or null).

    Scale shape: the grid has (buckets x groups) rows — tiny next to the
    input — and both the grid build and the cross join stay broadcast.
    """
    by = by or []
    aggs = aggs or [F.count(F.lit(1)).alias("n")]

    bucketed = df.withColumn("bucket", F.expr(bucket_expr.format(ts=ts_col)))
    agged = bucketed.groupBy("bucket", *by).agg(*aggs)

    bounds = bucketed.select(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        F.explode(F.expr(f"sequence(lo, hi, interval {step})")).alias("bucket")
    )
    if by:
        keys = df.select(*by).distinct()
        grid = F.broadcast(grid).crossJoin(keys)

    out = F.broadcast(grid).join(agged, on=["bucket", *by], how="left")
    if fill:
        out = out.fillna(fill)
    return out


def interpolate_gaps(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: list[str] | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Linear interpolation over null gaps in a (gridded) series: each
    null value becomes the time-weighted blend of its nearest non-null
    neighbors; leading/trailing gaps stay null (no extrapolation).

    The window formulation — last/first non-null value AND timestamp
    over unbounded past/future frames — fills every gap in ONE window
    pass per direction (two sorts on the same (group, time) key, one
    shuffle), independent of gap length; a self-join formulation would
    explode on long gaps. Rounded so the float lerp is engine-stable.
    """
    by = by or []
    w_prev = (
        Window.partitionBy(*[F.col(c) for c in by] or [F.lit(1)])
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(*[F.col(c) for c in by] or [F.lit(1)])
        .orderBy(ts_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    prev_v = F.last(v, ignorenulls=True).over(w_prev)
    next_v = F.first(v, ignorenulls=True).over(w_next)
    prev_t = F.last(F.when(v.isNotNull(), F.col(ts_col)), ignorenulls=True).over(w_prev)
    next_t = F.first(F.when(v.isNotNull(), F.col(ts_col)), ignorenulls=True).over(w_next)
    span = F.unix_micros(next_t) - F.unix_micros(prev_t)
    frac = (F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_t)) / span
    lerp = F.when(span == 0, prev_v).otherwise(prev_v + (next_v - prev_v) * frac)
    filled = F.when(v.isNotNull(), v).otherwise(
        F.when(prev_v.isNotNull() & next_v.isNotNull(), lerp)
    )
    if round_digits is not None:
        filled = F.round(filled, round_digits)
    return df.withColumn(value_col, filled)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right_ts <= left_ts`` (direction='backward') sharing the ``on``
    keys; 'forward' takes the next right row instead. With
    ``tolerance_seconds`` a match farther than the tolerance is nulled
    (pandas ``merge_asof(tolerance=...)`` semantics).

    Spark-first formulation: union both sides tagged, one window sort
    per key, ``last(..., ignorenulls)`` carries the right values onto
    left rows. ONE shuffle on ``on`` — no range join explosion, no
    per-row subquery, both sides may be arbitrarily large. (This is the
    operator the reference's narrow schema would need for tag-aligned
    series joins; GlueSQL 0.9 has nothing comparable — SURVEY §2.2.)
    """
    lcols = [c for c in left.columns]
    tagged_l = left.select(
        *on,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"_r_{v}") for v in value_cols],
        F.struct(*lcols).alias("_lrow"),
    )
    tagged_r = right.select(
        *on,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        *[F.col(v).alias(f"_r_{v}") for v in value_cols],
        F.lit(None).cast(tagged_l.schema["_lrow"].dataType).alias("_lrow"),
    )
    unioned = tagged_l.unionByName(tagged_r)

    # Gap arithmetic in exact units (module epoch policy): for timestamp
    # columns, BIGINT microseconds via unix_micros — a double cast rounds
    # fractionally (~0.24µs at current epochs) and can flip an exact
    # backward/forward tie or a tolerance boundary. Numeric ts columns
    # (caller-defined epoch) compare in their native units.
    _ts_is_timestamp = unioned.schema["_ts"].dataType.simpleString() in (
        "timestamp", "timestamp_ntz"
    )
    if _ts_is_timestamp:
        def _ts_int(c):
            return F.unix_micros(c)

        def _tol(s):
            # gap is integer µs, so "gap <= s seconds" floors the
            # tolerance — but snap to the nearest integer first so an
            # IEEE artifact (2e-6 * 1e6 = 1.9999…) doesn't shave a µs
            micros = s * 1_000_000
            if abs(micros - round(micros)) < 1e-6:
                return int(round(micros))
            return int(micros)
    else:
        def _ts_int(c):
            return c

        def _tol(s):
            return s

    if direction == "backward":
        # right rows sort before left rows at equal ts => "<=" semantics
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ts").asc(), F.col("_is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = [
            F.last(f"_r_{v}", ignorenulls=True).over(w).alias(f"asof_{v}")
            for v in value_cols
        ]
    elif direction == "forward":
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ts").asc(), F.col("_is_left").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        carried = [
            F.first(f"_r_{v}", ignorenulls=True).over(w).alias(f"asof_{v}")
            for v in value_cols
        ]
    elif direction == "nearest":
        # both directions over the SAME partition key: two window sorts,
        # ONE exchange (Catalyst reuses the hash partitioning); per row
        # pick whichever side is closer, ties to backward (pandas
        # merge_asof(direction='nearest') semantics)
        wb = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ts").asc(), F.col("_is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wf = (
            Window.partitionBy(*on)
            .orderBy(F.col("_ts").asc(), F.col("_is_left").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        right_ts_col = F.when(F.col("_is_left") == 0, F.col("_ts"))
        b_ts = F.last(right_ts_col, ignorenulls=True).over(wb)
        f_ts = F.first(right_ts_col, ignorenulls=True).over(wf)
        gap_b = F.abs(_ts_int(F.col("_ts")) - _ts_int(b_ts))
        gap_f = F.abs(_ts_int(f_ts) - _ts_int(F.col("_ts")))
        use_b = f_ts.isNull() | (b_ts.isNotNull() & (gap_b <= gap_f))
        carried = [
            F.when(use_b, F.last(f"_r_{v}", ignorenulls=True).over(wb))
            .otherwise(F.first(f"_r_{v}", ignorenulls=True).over(wf))
            .alias(f"asof_{v}")
            for v in value_cols
        ]
        out = unioned.select(
            "*", *carried, F.when(use_b, gap_b).otherwise(gap_f).alias("_gap")
        ).filter(F.col("_is_left") == 1)
        if tolerance_seconds is not None:
            within = F.col("_gap") <= _tol(tolerance_seconds)
            return out.select(
                "_lrow.*",
                *[
                    F.when(within, F.col(f"asof_{v}")).alias(f"asof_{v}")
                    for v in value_cols
                ],
            )
        return out.select("_lrow.*", *[f"asof_{v}" for v in value_cols])
    else:
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )

    out = unioned.select("*", *carried).filter(F.col("_is_left") == 1)
    if tolerance_seconds is not None:
        matched_ts = (
            F.last(F.when(F.col("_is_left") == 0, F.col("_ts")), ignorenulls=True)
            if direction == "backward"
            else F.first(F.when(F.col("_is_left") == 0, F.col("_ts")), ignorenulls=True)
        ).over(w)
        gap = F.abs(_ts_int(F.col("_ts")) - _ts_int(matched_ts))
        out = unioned.select(
            "*", *carried, gap.alias("_gap")
        ).filter(F.col("_is_left") == 1)
        within = F.col("_gap") <= _tol(tolerance_seconds)
        return out.select(
            "_lrow.*",
            *[
                F.when(within, F.col(f"asof_{v}")).alias(f"asof_{v}")
                for v in value_cols
            ],
        )
    return out.select("_lrow.*", *[f"asof_{v}" for v in value_cols])


def interval_join(
    intervals: DataFrame,
    points: DataFrame,
    on: list[str],
    start_col: str,
    end_col: str,
    ts_col: str,
    bucket_seconds: int,
    how: str = "inner",
) -> DataFrame:
    """Interval (range) join: match each point row to every interval row
    sharing the ``on`` keys with ``start <= ts < end``.

    Naive range joins plan as broadcast-nested-loop (O(|L|x|R|) compares
    — unusable at scale). This is the bucketed formulation: both sides
    are keyed by coarse time bucket (``bucket_seconds`` should be >= the
    typical interval length), intervals exploding to every bucket they
    overlap via ``sequence()``, then an EQUI-join on (keys, bucket)
    feeds the exact range predicate. Shuffle cost ∝ rows x buckets-per-
    interval, never the cross product; Catalyst plans a plain
    sort-merge/shuffled-hash join that AQE can split on skew.

    Result: one row per (interval, contained point), interval columns
    first. Deterministic — no dependence on partitioning.

    Only ``how='inner'`` is supported: the range predicate is applied
    as a post-join filter, which would silently drop an outer join's
    null-matched rows (collapsing it to inner) and duplicate unmatched
    bucket-exploded intervals. Outer semantics need the predicate
    folded into the join condition plus a dedup of exploded intervals
    — implement that before widening this signature.
    """
    if how != "inner":
        raise ValueError(
            "interval_join supports only how='inner'; outer joins would "
            "need the range predicate inside the join condition and "
            "dedup of bucket-exploded intervals"
        )
    us = 1_000_000 * bucket_seconds
    # integer `div`, not `/`: bucket ids must be exact at 1e15-scale
    # epoch micros (double division rounds near bucket boundaries)
    ivals = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.expr(f"unix_micros({start_col}) div {us}"),
                # end is exclusive: a zero-length tail at an exact bucket
                # boundary must not claim the next bucket
                F.expr(f"(unix_micros({end_col}) - 1) div {us}"),
            )
        ),
    )
    pts = points.withColumn("_bucket", F.expr(f"unix_micros({ts_col}) div {us}"))
    cond = (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    return (
        ivals.join(pts, on=[*on, "_bucket"], how=how)
        .filter(cond)
        .drop("_bucket")
    )


def moving_agg(
    df: DataFrame,
    ts_col: str,
    by: list[str],
    value_col: str,
    window_rows: int = 10,
    tiebreak: str | None = None,
) -> DataFrame:
    """Row-based moving aggregates (avg/min/max/sum over the last N rows
    per key, ordered by time). The reference's 'pre-calculated stats'
    TODO, generalized."""
    order = [F.col(ts_col).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    v = F.col(value_col)
    return df.select(
        "*",
        F.avg(v).over(w).alias("mov_avg"),
        F.min(v).over(w).alias("mov_min"),
        F.max(v).over(w).alias("mov_max"),
        F.count(v).over(w).alias("mov_n"),
    )


def topk_per_group(
    df: DataFrame,
    by: list[str],
    order: list[Column],
    k: int,
) -> DataFrame:
    """Top-k rows per group via row_number — single shuffle; AQE handles
    skewed groups. ``order`` must be a deterministic total order (add a
    unique tiebreak column) or ranks are not reproducible."""
    w = Window.partitionBy(*by).orderBy(*order)
    return (
        df.withColumn("rank_in_group", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank_in_group") <= k)
    )


def funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    steps: list[tuple[str, Column]],
) -> DataFrame:
    """Ordered funnel: how many users completed step 1, steps 1-2 in
    order, steps 1-2-3 in order, ... Min-timestamp semantics (the
    standard funnel definition): a user counts for step k if the
    earliest occurrence of each step is strictly later than the
    earliest occurrence of the previous step.

    ``steps`` is [(name, predicate_column), ...]. Returns one row with
    a ``step{i}_{name}`` BIGINT column per step.

    Scale shape: one groupBy(user) with all per-step min-timestamps as
    conditional aggregates (map-side combined), then a global single-row
    reduce — two exchanges total, no joins, no window."""
    per_user = df.groupBy(user_col).agg(
        *[
            F.min(F.when(pred, F.col(ts_col))).alias(f"_t{i}")
            for i, (_, pred) in enumerate(steps)
        ]
    )
    counters = []
    reached = None
    for i, (name, _) in enumerate(steps):
        t = F.col(f"_t{i}")
        step_ok = t.isNotNull() if i == 0 else (t > F.col(f"_t{i-1}"))
        reached = step_ok if reached is None else (reached & step_ok)
        counters.append(
            F.sum(F.when(reached, 1).otherwise(0))
            .cast("bigint")
            .alias(f"step{i + 1}_{name}")
        )
    return per_user.agg(*counters)


def retention_cohorts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Cohort retention: users grouped by the date of their first event
    (cohort); for each (cohort, day_offset) the number of distinct
    users active that many days after joining.

    Returns (cohort DATE, day_offset INT, n_users BIGINT).

    Scale shape: first-event groupBy(user), join back on user (co-
    partitioned shuffle), distinct to (user, day), then the small
    cohort-grid aggregation. All keys are user-or-date — no skew beyond
    what AQE handles."""
    firsts = df.groupBy(user_col).agg(F.min(ts_col).alias("_first"))
    acts = (
        df.join(firsts, user_col)
        .select(
            user_col,
            F.to_date(F.col(ts_col)).alias("_d"),
            F.to_date(F.col("_first")).alias("cohort"),
        )
        .distinct()
    )
    return (
        acts.groupBy("cohort", F.datediff("_d", "cohort").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    by: list[str],
    gap_seconds: int = 1800,
    tiebreak: str | None = None,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap from the
    previous event (per key) exceeds ``gap_seconds``. Classic lag+cumsum
    — one shuffle on the key; the streaming twin is session_window in
    streaming/ingest.py. Gap compared at microsecond precision."""
    order = [F.col(ts_col).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(*by).orderBy(*order)
    us = F.unix_micros(F.col(ts_col))
    prev = F.lag(us).over(w)
    new_sess = (prev.isNull() | (us - prev > gap_seconds * 1_000_000)).cast("int")
    return (
        df.withColumn("_new_session", new_sess)
        .withColumn(
            "session_seq",
            F.sum("_new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .drop("_new_session")
    )


def ema(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: list[str],
    alpha: float = 0.1,
    tiebreak: str | None = None,
    out: str = "ema",
) -> DataFrame:
    """Exponential moving average per key: ema_0 = v_0, ema_t =
    alpha*v_t + (1-alpha)*ema_{t-1} in (ts, tiebreak) order.

    The recurrence is inherently sequential per key — not expressible
    as a Spark window aggregate (no PRODUCT frame) — so this is the
    textbook ``applyInPandas`` custom stateful operator: one shuffle
    on the key, then a per-group Arrow batch walked in order. The
    Python loop is per GROUP (bounded series length), not per corpus —
    groups execute in parallel across executors. Determinism: plain
    float multiply-adds in a fixed order reproduce bit-for-bit on any
    engine running the same recurrence (the DuckDB oracle's recursive
    CTE computes the identical expression sequence).

    Measured alternative (sf0.1; SCALE.md, "Retired experiment
    scripts"): pandas ``ewm(alpha, adjust=False)`` runs the same
    recurrence vectorized (5.2 → 4.3 s) but its kernel SKIPS the update
    when the running value equals the input, so constant runs diverge
    from the oracle by ulps. The loop stays: guaranteed parity beats a
    17% gain that breaks on adversarial data.

    Execution shape: ``repartition(by) + sortWithinPartitions(by, ts
    [, tiebreak]) + mapInPandas`` rather than per-group
    ``applyInPandas`` — semantically identical (each key lives in one
    partition, its rows arrive contiguous and time-ordered, the fold
    order is unchanged), but Python is invoked once per ARROW BATCH
    instead of once per group. With thousands of small series the
    per-group pandas call overhead dominated the walk itself; the
    batch-walk form measured ~3× faster at sf0.1 (1500 groups), same
    bytes shuffled, bit-identical output. Key state carries across
    batch boundaries inside a partition.
    """
    order_cols = [ts_col] + ([tiebreak] if tiebreak else [])
    keep = df.columns
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{out}` double"
    a = float(alpha)

    b = 1.0 - a
    by_cols = list(by)

    def walk(batches):
        cur = None
        e = 0.0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # tolist(): float64 -> exact Python floats; the plain-loop
            # multiply-adds keep the IEEE op order the oracle replays
            # (a vectorized scan would change association and break
            # bit-exactness)
            vals = pdf[value_col].to_numpy().tolist()
            keys = list(zip(*[pdf[c].tolist() for c in by_cols]))
            acc = []
            for k, v in zip(keys, vals):
                if k != cur:
                    cur = k
                    e = v
                else:
                    e = a * v + b * e
                acc.append(e)
            pdf = pdf.copy()
            pdf[out] = acc
            yield pdf[keep + [out]]

    shuffled = df.repartition(*[F.col(c) for c in by_cols]).sortWithinPartitions(
        *by_cols, *order_cols
    )
    return shuffled.mapInPandas(walk, schema=out_schema)


def time_weighted_avg(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: list[str],
    bucket_expr: str = "date_trunc('day', {ts})",
) -> DataFrame:
    """Time-weighted average per key and bucket — the TSDB mean for
    irregularly sampled gauges, where the arithmetic mean over-weights
    bursts: twa = Σ((v_i + v_{i+1})/2 · dt_i) / Σ dt_i over consecutive
    segments, each segment assigned to the bucket of its LEFT endpoint
    (a documented simplification: segments are not clipped at bucket
    edges; buckets are exact when sampling is dense relative to the
    bucket).

    One window shuffle on the key (lead), then a bucket aggregation.
    Determinism: the integral stays EXACT until the final division —
    Σ((v_i + v_{i+1})·dt_i) accumulates in DECIMAL (2-decimal values ×
    integer-microsecond dt: every product and sum is exact, so shuffle
    order cannot matter; no double→decimal cast anywhere, whose
    rounding differs between engines), and the ÷2 of the trapezoid
    rule is deferred into the single closing double division. Returns
    (by..., bucket_start, twa, n_segments).
    """
    w = Window.partitionBy(*by).orderBy(F.col(ts_col).asc())
    us = F.unix_micros(F.col(ts_col))
    d = (
        df.withColumn("_nv", F.lead(value_col).over(w))
        .withColumn("_dt_us", (F.lead(us).over(w) - us).cast("bigint"))
        .filter(F.col("_nv").isNotNull() & (F.col("_dt_us") > 0))
    )
    trap2 = (
        F.col(value_col).cast("decimal(12,2)") + F.col("_nv").cast("decimal(12,2)")
    ) * F.col("_dt_us").cast("decimal(16,0)")
    bucket = F.expr(bucket_expr.format(ts=ts_col))
    return (
        d.withColumn("_trap2", trap2)
        .withColumn("bucket_start", bucket)
        .groupBy(*by, "bucket_start")
        .agg(
            (
                F.sum("_trap2").cast("double")
                / (F.lit(2.0) * F.sum("_dt_us").cast("double"))
            ).alias("twa"),
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        )
    )


def mad_outlier_stats(
    df: DataFrame,
    value_col: str = "value",
    by: list[str] | None = None,
    z: float = 3.0,
) -> DataFrame:
    """Robust (median/MAD) outlier statistics per group — the
    outlier-resistant twin of mean/std z-scoring: one wild value drags
    a mean and explodes a std, while the median and the median absolute
    deviation barely move (the Iglewicz-Hoberman modified z-score).

    Medians are EXACT (row_number pick of the middle elements, avg of
    the two middles on even counts — IEEE addition is commutative, so
    the 2-element avg is engine-identical), never approximate
    percentiles; MAD repeats the same machinery on |x - median|. A row
    is an outlier when |x - median| > z * 1.4826 * MAD (1.4826 ≈
    1/Φ⁻¹(3/4) scales MAD to σ under normality).

    Scale: two window sorts + aggregates on the SAME group key (one
    hash exchange reused), cost ≈ two sorts of the data — what exact
    medians inherently need; for a cheaper sketch at 100 TB use
    ``sketches.histogram_quantiles``. Returns
    (by..., median, mad, n, n_outliers)."""
    by = by or []
    k = z * 1.4826
    v = F.col(value_col).cast("double")

    def _median_over(frame: DataFrame, col: F.Column, out: str) -> DataFrame:
        w = Window.partitionBy(*by).orderBy(col.asc())
        wp = Window.partitionBy(*by)
        ranked = frame.select(
            "*",
            col.alias("_mv"),
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wp).alias("_n"),
        )
        mid = ranked.filter(
            (F.col("_rn") == F.expr("(_n + 1) div 2"))
            | (F.col("_rn") == F.expr("(_n + 2) div 2"))
        )
        med = mid.groupBy(*by).agg(F.avg("_mv").alias(out))
        return frame.join(med, by) if by else frame.crossJoin(F.broadcast(med))

    with_med = _median_over(df, v, "median")
    with_mad = _median_over(
        with_med, F.abs(v - F.col("median")), "mad"
    )
    return with_mad.groupBy(*by, "median", "mad").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.abs(v - F.col("median")) > F.lit(k) * F.col("mad"), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_outliers"),
    )


def lttb_downsample(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: list[str],
    n_out: int = 20,
    tiebreak: str | None = None,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013;
    the `lttb` TimescaleDB ships as a hyperfunction): reduce each
    series to ``n_out`` visually-representative points — first and
    last kept, the n-2 middle points split into n_out-2 even buckets,
    and from each bucket the point forming the largest triangle with
    the previously selected point and the NEXT bucket's average.

    The selection is inherently sequential per series (each pick
    depends on the previous), so like ``ema`` this is an
    ``applyInPandas`` stateful operator: one shuffle on the key, a
    per-group walk over n_out-2 buckets (numpy argmax per bucket).
    Determinism: bucket bounds are pure integer arithmetic, bucket
    averages divide exact integer sums (epoch-micros, value cents),
    triangle areas follow one fixed IEEE expression shape, and argmax
    ties break to the earliest point — the DuckDB oracle replays the
    identical recursion. Series with <= n_out points pass through
    unchanged.
    """
    if n_out < 3:
        raise ValueError("n_out must be >= 3")
    order_cols = [ts_col] + ([tiebreak] if tiebreak else [])
    out_cols = by + [ts_col, value_col]
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*out_cols).schema.fields
    )
    m = int(n_out)

    def walk(pdf):
        import numpy as np

        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        if n <= m:
            return pdf[out_cols]
        x = pdf[ts_col].astype("datetime64[us]").to_numpy().view("int64")
        y = pdf[value_col].to_numpy()
        cents = np.rint(y * 100).astype("int64")
        mid = np.arange(1, n - 1)
        k = (mid - 1) * (m - 2) // (n - 2)          # bucket of each middle point
        cnt = np.bincount(k, minlength=m - 2)
        # int64 accumulation: epoch-micro sums stay exact (float64
        # bincount weights would round above 2^53)
        sum_x = np.zeros(m - 2, dtype="int64")
        np.add.at(sum_x, k, x[mid])
        sum_c = np.zeros(m - 2, dtype="int64")
        np.add.at(sum_c, k, cents[mid])
        ax = sum_x.astype("float64") / cnt
        ay = (sum_c.astype("float64") / 100.0) / cnt
        sel = [0]
        sx, sy = x[0], y[0]
        for kk in range(m - 2):
            pts_i = mid[k == kk]
            if kk < m - 3:
                tx, ty = ax[kk + 1], ay[kk + 1]
            else:
                tx, ty = float(x[n - 1]), y[n - 1]
            # area ~ |(x_s - x_t)(y_p - y_s) - (x_s - x_p)(y_t - y_s)|,
            # same expression shape as the oracle (0.5 factor dropped:
            # argmax-invariant)
            area = np.abs(
                (float(sx) - tx) * (y[pts_i] - sy)
                - (sx - x[pts_i]).astype("float64") * (ty - sy)
            )
            pick = pts_i[int(np.argmax(area))]     # first max = earliest point
            sel.append(int(pick))
            sx, sy = x[pick], y[pick]
        sel.append(n - 1)
        return pdf.iloc[sel][out_cols]

    return df.groupBy(*by).applyInPandas(walk, schema=out_schema)


def holt_linear(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: list[str],
    alpha: float = 0.3,
    beta: float = 0.1,
    horizons: tuple[int, ...] = (1, 5),
    tiebreak: str | None = None,
) -> DataFrame:
    """Holt's linear (double exponential) smoothing with h-step
    forecasts — the non-seasonal core of InfluxDB's HOLT_WINTERS()
    (influxdata docs; the reference's ecosystem feature): per series,
    level l_t = α·v_t + (1-α)·(l_{t-1}+b_{t-1}) and trend b_t =
    β·(l_t-l_{t-1}) + (1-β)·b_{t-1}, initialized l_1=v_1, b_1=0;
    forecast(h) = l_n + h·b_n.

    Same execution shape as ``ema``: the recurrence is sequential per
    key, so one shuffle on the key and a plain-loop walk per Arrow
    group (fixed IEEE op order — the DuckDB oracle replays the exact
    recurrence as a recursive CTE). Emits ONE row per series: final
    level/trend, n_obs, and a forecast column per horizon.
    """
    order_cols = [ts_col] + ([tiebreak] if tiebreak else [])
    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*by).schema.fields
    )
    fcols = [f"forecast_{h}" for h in horizons]
    out_schema = (
        key_schema
        + ", `level` double, `trend` double, `n_obs` bigint, "
        + ", ".join(f"`{c}` double" for c in fcols)
    )
    a, b = float(alpha), float(beta)

    def walk(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        vals = pdf[value_col].to_numpy().tolist()
        lvl = vals[0]
        trd = 0.0
        for v in vals[1:]:
            prev = lvl
            lvl = a * v + (1.0 - a) * (lvl + trd)
            trd = b * (lvl - prev) + (1.0 - b) * trd
        out = pdf.iloc[[0]][by].copy()
        out["level"] = lvl
        out["trend"] = trd
        out["n_obs"] = len(vals)
        for h, c in zip(horizons, fcols):
            out[c] = lvl + h * trd
        return out

    return df.groupBy(*by).applyInPandas(walk, schema=out_schema)


def trapezoid_integral(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Area under the curve per series (InfluxDB's INTEGRAL(value, 1s)):
    trapezoidal rule over consecutive observations, Σ (v_i + v_{i+1})/2
    · Δt_seconds.

    Exactness: each segment is one INTEGER product — (cents_i +
    cents_{i+1}) · Δt_micros — summed as DECIMAL(38,0) (order-free),
    with the /2 /100 /1e6 scaling applied once at the end in double.
    One window pass (lead) and one groupBy on the same series key —
    a single exchange. Returns (by..., n_segments, integral) in
    value·seconds."""
    order_cols = [F.col(ts_col).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    w = Window.partitionBy(*by).orderBy(*order_cols)
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    us = F.unix_micros(F.col(ts_col))
    seg = (
        (cents + F.lead(cents).over(w))
        * (F.lead(us).over(w) - us)
    ).cast("bigint")
    return (
        df.withColumn("_seg", seg)
        .filter(F.col("_seg").isNotNull())
        .groupBy(*by)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            (
                F.sum(F.col("_seg").cast("decimal(38,0)")).cast("double")
                / 2.0 / 100.0 / 1e6
            ).alias("integral"),
        )
    )


def cusum_changepoints(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: list[str],
    k_sigmas: float = 0.5,
    h_sigmas: float = 5.0,
    tiebreak: str | None = None,
) -> DataFrame:
    """Two-sided CUSUM changepoint/drift detection per series (Page
    1954; the monitoring primitive behind control-chart alerting):
    S⁺_t = max(0, S⁺_{t-1} + (v_t - μ - kσ)), S⁻_t = max(0, S⁻_{t-1}
    + (μ - kσ - v_t)); crossing hσ raises an alarm and resets that
    side. μ and σ come from the series' own exact decimal moments
    (order-free sums; identical doubles on any engine), so the whole
    detector is reproducible.

    Execution: one aggregate for the moments joined back on the series
    key, then the EMA/Holt shape — one key shuffle, a plain-loop Arrow
    walk per group in (ts, tiebreak) order (the recurrence resets on
    alarms, so no window formulation exists). Emits one row per
    series: moments, final side sums, and alarm counts."""
    order_cols = [ts_col] + ([tiebreak] if tiebreak else [])
    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*by).schema.fields
    )
    out_schema = (
        key_schema
        + ", `n_obs` bigint, `mu` double, `sigma` double"
        + ", `alarms_up` bigint, `alarms_down` bigint"
        + ", `s_up` double, `s_down` double"
    )
    moments = df.groupBy(*by).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("_sx"),
        F.sum(
            (F.col(value_col).cast("decimal(18,2)")
             * F.col(value_col).cast("decimal(18,2)"))
        ).alias("_sxx"),
    )
    src = df.join(moments, by)
    kf, hf = float(k_sigmas), float(h_sigmas)

    def walk(pdf):
        import math

        pdf = pdf.sort_values(order_cols, kind="mergesort")
        n = int(pdf["_n"].iloc[0])
        sx = float(pdf["_sx"].iloc[0])
        sxx = float(pdf["_sxx"].iloc[0])
        mu = sx / n
        var = sxx / n - mu * mu
        sigma = math.sqrt(var if var > 0 else 0.0)
        k = kf * sigma
        h = hf * sigma
        sp = sn = 0.0
        up = dn = 0
        for v in pdf[value_col].to_numpy().tolist():
            sp = max(0.0, sp + (v - mu - k))
            if sp > h:
                up += 1
                sp = 0.0
            sn = max(0.0, sn + (mu - k - v))
            if sn > h:
                dn += 1
                sn = 0.0
        out = pdf.iloc[[0]][by].copy()
        out["n_obs"] = n
        out["mu"] = mu
        out["sigma"] = sigma
        out["alarms_up"] = up
        out["alarms_down"] = dn
        out["s_up"] = sp
        out["s_down"] = sn
        return out

    return src.groupBy(*by).applyInPandas(walk, schema=out_schema)


def state_durations(
    df: DataFrame,
    state_col: Column | str,
    by: list[str],
    ts_col: str = "ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """Time-in-state aggregation (TimescaleDB ``state_agg`` /
    ``duration_in`` parity): how long each key spent in each state.

    A row's state holds from its timestamp until the NEXT row's
    timestamp within the key (step function, LOCF semantics — the same
    model as ``resample`` LOCF). The key's last row has no successor
    and contributes no duration, exactly like ``state_agg`` over a
    closed observation window ending at the last sample.

    Returns ``(by..., state, n_entries, duration_seconds)`` where
    ``n_entries`` counts transitions INTO the state (runs, not rows:
    consecutive same-state rows are one entry) and ``duration_seconds``
    is exact integer microsecond arithmetic truncated to seconds.

    Scale: one window pass per key ordered by time (a single hash
    exchange on the key — same budget as ``sessionize``), then a
    map-side-combined aggregation on (key, state). State cardinality is
    small by construction, so the output is dimension-sized.
    """
    sc = F.col(state_col) if isinstance(state_col, str) else state_col
    order = [F.col(ts_col).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(*by).orderBy(*order)
    d = (
        df.withColumn("_state", sc)
        .withColumn("_next_us", F.lead(F.unix_micros(F.col(ts_col))).over(w))
        .withColumn("_prev_state", F.lag("_state").over(w))
        .withColumn(
            "_dur_us",
            F.coalesce(F.col("_next_us") - F.unix_micros(F.col(ts_col)), F.lit(0)),
        )
        .withColumn(
            "_entered",
            (F.col("_prev_state").isNull() | (F.col("_prev_state") != F.col("_state"))).cast("int"),
        )
    )
    return (
        d.groupBy(*by, F.col("_state").alias("state"))
        .agg(
            F.sum("_entered").alias("n_entries"),
            F.expr("sum(_dur_us) div 1000000").alias("duration_seconds"),
        )
    )


def heartbeat_uptime(
    df: DataFrame,
    by: list[str],
    ts_col: str = "ts",
    heartbeat_seconds: int = 300,
) -> DataFrame:
    """Liveness from heartbeats (TimescaleDB ``heartbeat_agg`` parity):
    each event proves the sender alive for ``heartbeat_seconds`` after
    it; overlapping proofs merge into continuous live intervals.

    Classic interval-union via island detection: order events per key,
    track the running maximum interval end, and start a new island
    whenever an event begins after everything seen so far has expired.
    All comparisons are integer microseconds — no float time math.

    Returns ``(by..., n_intervals, uptime_seconds, first_seen,
    last_expiry)``. Scale: two window passes over ONE hash exchange on
    the key (running-max and island-id share the same sort), then a
    two-level aggregation whose first level is island-sized.
    """
    hb_us = heartbeat_seconds * 1_000_000
    w = Window.partitionBy(*by).orderBy(F.col("_s").asc())
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    d = (
        df.select(*by, F.unix_micros(F.col(ts_col)).alias("_s"))
        .withColumn("_e", F.col("_s") + F.lit(hb_us))
        # prior running max of interval ends; null for the first row
        .withColumn("_prev_max_e", F.max("_e").over(wprev))
        .withColumn(
            "_new_island",
            (F.col("_prev_max_e").isNull() | (F.col("_s") > F.col("_prev_max_e"))).cast("int"),
        )
        .withColumn("_island", F.sum("_new_island").over(w))
    )
    islands = d.groupBy(*by, "_island").agg(
        F.min("_s").alias("_is"), F.max("_e").alias("_ie")
    )
    return islands.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.expr("sum(_ie - _is) div 1000000").alias("uptime_seconds"),
        F.expr("timestamp_micros(min(_is))").alias("first_seen"),
        F.expr("timestamp_micros(max(_ie))").alias("last_expiry"),
    )


def autocorrelation(
    df: DataFrame,
    value_col: str = "value",
    by: list[str] | None = None,
    ts_col: str = "ts",
    tiebreak: str | None = None,
    max_lag: int = 5,
) -> DataFrame:
    """Autocorrelation function (ACF) at lags 1..max_lag per series —
    the seasonality/memory diagnostic behind forecasting-model choice.

    ACF_k is computed as the exact Pearson correlation of the paired
    samples (x_t, x_{t+k}): values go to integer cents, the five
    sufficient statistics (m, Σx, Σy, Σxy, Σx², Σy²) are exact
    order-free integer sums routed through DECIMAL, and the final
    ``(mΣxy - ΣxΣy) / (√(mΣx²-(Σx)²)·√(mΣy²-(Σy)²))`` is one
    fixed-order double expression — bit-identical on any engine or
    partition layout (sums of doubles never appear).

    Scale: ONE window exchange on the series key produces all lags
    (max_lag lead columns, then an in-place explode to (lag, x, y)
    rows); the stats aggregation is map-side combined with
    series×max_lag output rows. Series length never hits a single
    reducer beyond the window sort every per-series operator pays.
    """
    by = by or []
    order = [F.col(ts_col).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(*by).orderBy(*order)
    xc = F.expr(f"cast(round({value_col} * 100) as bigint)")
    d = df.withColumn("_xc", xc)
    for k in range(1, max_lag + 1):
        d = d.withColumn(f"_y{k}", F.lead("_xc", k).over(w))
    pairs = (
        d.select(
            *by,
            "_xc",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(k).alias("lag"), F.col(f"_y{k}").alias("_yc")
                    )
                    for k in range(1, max_lag + 1)
                ])
            ).alias("_p"),
        )
        .select(*by, "_xc", F.col("_p.lag").alias("lag"), F.col("_p._yc").alias("_yc"))
        .filter(F.col("_yc").isNotNull())
    )
    dec = "decimal(28,0)"
    stats = pairs.groupBy(*by, "lag").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("_xc").cast(dec)).alias("_sx"),
        F.sum(F.col("_yc").cast(dec)).alias("_sy"),
        F.sum((F.col("_xc") * F.col("_yc")).cast(dec)).alias("_sxy"),
        F.sum((F.col("_xc") * F.col("_xc")).cast(dec)).alias("_sxx"),
        F.sum((F.col("_yc") * F.col("_yc")).cast(dec)).alias("_syy"),
    )
    md = F.col("m").cast("decimal(12,0)")
    num = (md * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    vx = (md * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    vy = (md * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    return (
        stats.withColumn("_vx", vx)
        .withColumn("_vy", vy)
        .filter((F.col("_vx") > 0) & (F.col("_vy") > 0))
        .select(
            *by,
            "lag",
            "m",
            (num / (F.sqrt(F.col("_vx")) * F.sqrt(F.col("_vy")))).alias("acf"),
        )
    )


def m4_downsample(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    by: list[str] | None = None,
    bucket_seconds: int = 3600,
    tiebreak: str | None = None,
) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per pixel-bucket keep
    the ACTUAL rows realizing first/last/min/max — the
    error-free-rendering guarantee line charts need (an averaged point,
    like LTTB's buckets use, can't reproduce the drawn min/max spikes).

    Four row_number orderings — (ts asc), (ts desc), (value asc, ts),
    (value desc, ts) — all partition by (key, bucket), so Catalyst
    plans ONE hash exchange with per-ordering sorts; a row winning
    several roles appears once (distinct over ≤4 candidates/bucket).
    Ties on value resolve to the earliest (ts, tiebreak) — pass a
    unique id for cross-engine determinism.

    Output: (by..., bucket_start, ts, [tiebreak,] value) — at most 4
    rows per bucket regardless of input density, which is the point:
    a 100 TB series downsamples to rows ∝ pixels, map-side reducible.
    """
    by = by or []
    us = F.unix_micros(F.col(ts_col))
    step = bucket_seconds * 1_000_000
    d = df.withColumn("_b", F.expr(f"unix_micros({ts_col}) div {step}"))
    tb_asc = [F.col(tiebreak).asc()] if tiebreak else []
    tb_desc = [F.col(tiebreak).desc()] if tiebreak else []
    keys = [*by, "_b"]
    w_f = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc(), *tb_asc)
    w_l = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc(), *tb_desc)
    w_min = Window.partitionBy(*keys).orderBy(
        F.col(value_col).asc(), F.col(ts_col).asc(), *tb_asc
    )
    w_max = Window.partitionBy(*keys).orderBy(
        F.col(value_col).desc(), F.col(ts_col).asc(), *tb_asc
    )
    ranked = d.select(
        *by,
        "_b",
        ts_col,
        *( [tiebreak] if tiebreak else [] ),
        value_col,
        F.row_number().over(w_f).alias("_rf"),
        F.row_number().over(w_l).alias("_rl"),
        F.row_number().over(w_min).alias("_rmin"),
        F.row_number().over(w_max).alias("_rmax"),
    )
    return (
        ranked.filter(
            (F.col("_rf") == 1) | (F.col("_rl") == 1)
            | (F.col("_rmin") == 1) | (F.col("_rmax") == 1)
        )
        .select(
            *by,
            F.expr(f"timestamp_micros(_b * {step})").alias("bucket_start"),
            ts_col,
            *( [tiebreak] if tiebreak else [] ),
            value_col,
        )
        .distinct()
    )


def bollinger_bands(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    by: list[str] | None = None,
    window_rows: int = 20,
    n_sigma: float = 2.0,
    tiebreak: str | None = None,
) -> DataFrame:
    """Bollinger bands over the trailing ``window_rows`` observations
    per series: rolling mean ± n_sigma · rolling (population) stddev,
    plus breach flags — the mean-reversion envelope every market/ops
    dashboard draws.

    Determinism: the rolling Σ and Σ² are integer-cent sums over a ROWS
    frame (exact, order-free once the frame is fixed by (ts, tiebreak)),
    and mean/σ/bands derive in one fixed double expression — the same
    frame arithmetic an oracle window replays bit-for-bit. Rows before
    a full window emit null bands (warm-up, standard convention).

    Scale: ONE window exchange on the series key; the frame walk is
    O(1) per row (Spark maintains running frame aggregates).
    """
    by = by or []
    order = [F.col(ts_col).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(*by).orderBy(*order).rowsBetween(-(window_rows - 1), 0)
    wn = Window.partitionBy(*by).orderBy(*order)
    vc = F.expr(f"cast(round({value_col} * 100) as bigint)")
    d = (
        df.withColumn("_vc", vc)
        .withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn("_s", F.sum(F.col("_vc").cast("decimal(28,0)")).over(w))
        .withColumn(
            "_s2", F.sum((F.col("_vc") * F.col("_vc")).cast("decimal(28,0)")).over(w)
        )
        .withColumn("_rn", F.row_number().over(wn))
    )
    mu_c = F.col("_s").cast("double") / F.col("_n")
    var_c = F.col("_s2").cast("double") / F.col("_n") - mu_c * mu_c
    sigma_c = F.sqrt(F.greatest(var_c, F.lit(0.0)))
    full = F.col("_rn") >= window_rows
    mid = F.when(full, mu_c / 100.0)
    sig = F.when(full, sigma_c / 100.0)
    upper = F.when(full, (mu_c + F.lit(n_sigma) * sigma_c) / 100.0)
    lower = F.when(full, (mu_c - F.lit(n_sigma) * sigma_c) / 100.0)
    return (
        d.withColumn("mid", mid)
        .withColumn("upper", upper)
        .withColumn("lower", lower)
        .withColumn(
            "breach",
            F.when(
                full,
                F.when(F.col("_vc").cast("double") > (mu_c + F.lit(n_sigma) * sigma_c), F.lit("above"))
                .when(F.col("_vc").cast("double") < (mu_c - F.lit(n_sigma) * sigma_c), F.lit("below"))
                .otherwise(F.lit("inside")),
            ),
        )
        .drop("_vc", "_n", "_s", "_s2", "_rn")
    )


def rsi(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    by: list[str] | None = None,
    period: int = 14,
    tiebreak: str | None = None,
    out: str = "rsi",
) -> DataFrame:
    """Relative Strength Index (Cutler's SMA variant) over the trailing
    ``period`` price changes per series: RSI = 100 - 100/(1 + avg
    gain / avg loss) — the overbought/oversold oscillator.

    Cutler's simple-moving-average form is used deliberately: unlike
    Wilder's recursive smoothing it is a pure ROWS-frame aggregate, so
    it shares the single window exchange and stays oracle-replayable.
    Gains/losses are integer cents from lag deltas; the ratio is one
    fixed-order double expression. All-loss windows pin RSI to 0,
    all-gain to 100 (loss sum 0), the standard convention; rows
    without a full period emit null.
    """
    by = by or []
    order = [F.col(ts_col).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    wn = Window.partitionBy(*by).orderBy(*order)
    wf = Window.partitionBy(*by).orderBy(*order).rowsBetween(-(period - 1), 0)
    vc = F.expr(f"cast(round({value_col} * 100) as bigint)")
    d = (
        df.withColumn("_vc", vc)
        .withColumn("_d", F.col("_vc") - F.lag("_vc").over(wn))
        .withColumn("_g", F.when(F.col("_d") > 0, F.col("_d")).otherwise(F.lit(0)))
        .withColumn("_l", F.when(F.col("_d") < 0, -F.col("_d")).otherwise(F.lit(0)))
        .withColumn("_rn", F.row_number().over(wn))
        .withColumn("_sg", F.sum(F.col("_g").cast("decimal(28,0)")).over(wf))
        .withColumn("_sl", F.sum(F.col("_l").cast("decimal(28,0)")).over(wf))
    )
    full = F.col("_rn") >= period + 1  # first row has no delta
    val = (
        F.lit(100.0)
        * F.col("_sg").cast("double")
        / (F.col("_sg").cast("double") + F.col("_sl").cast("double"))
    )
    return d.withColumn(
        out,
        F.when(
            full,
            F.when(
                (F.col("_sg") == 0) & (F.col("_sl") == 0), F.lit(50.0)
            ).otherwise(val),
        ),
    ).drop("_vc", "_d", "_g", "_l", "_rn", "_sg", "_sl")


def theil_sen(
    df: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    by: list[str] | None = None,
) -> DataFrame:
    """Theil–Sen robust trend per group: the median of all pairwise
    slopes (y_j - y_i)/(x_j - x_i) over i<j, plus the median-residual
    intercept — the robust-regression twin of a least-squares fit (up
    to ~29% wild outliers leave the estimate unmoved, where one spike
    drags an OLS slope arbitrarily).

    Determinism: slopes are single IEEE divisions of bit-exact doubles
    (identical everywhere), and both medians use the exact
    two-middle-rank machinery of ``mad_outlier_stats`` — no
    approximate percentiles anywhere. The intercept is
    median(y_i - slope·x_i) with the per-group slope joined back, each
    residual one fixed-order multiply-subtract.

    Scale contract: pair generation is a per-group self-join —
    O(n_g²) in the GROUP's point count, deliberately so (that is the
    estimator). Feed it a BUCKETED series (e.g. daily aggregates:
    n_g = days, pairs = days²/2 — bounded by the time range, not by
    event volume), never raw events. The self-join and both median
    windows share the group key, so the whole plan is one exchange
    family on ``by``.

    Returns (by..., n_points, n_pairs, slope, intercept)."""
    by = by or []
    a = df.select(*by, F.col(x_col).alias("_xa"), F.col(y_col).alias("_ya"))
    b = df.select(*by, F.col(x_col).alias("_xb"), F.col(y_col).alias("_yb"))
    pairs = (
        (a.join(b, by) if by else a.crossJoin(b))
        .filter(F.col("_xa") < F.col("_xb"))
        .select(
            *by,
            (
                (F.col("_yb") - F.col("_ya")) / (F.col("_xb") - F.col("_xa"))
            ).alias("_slope"),
        )
    )

    def _median(frame: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy(*by).orderBy(F.col(col).asc())
        wp = Window.partitionBy(*by)
        ranked = frame.select(
            *by,
            F.col(col),
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wp).alias("_n"),
        )
        return (
            ranked.filter(
                (F.col("_rn") == F.expr("(_n + 1) div 2"))
                | (F.col("_rn") == F.expr("(_n + 2) div 2"))
            )
            .groupBy(*by)
            .agg(F.avg(col).alias(out), F.max("_n").cast("bigint").alias(out + "_n"))
        )

    med = _median(pairs, "_slope", "slope")
    resid = (df.join(med, by) if by else df.crossJoin(F.broadcast(med))).select(
        *by,
        "slope",
        (F.col(y_col) - F.col("slope") * F.col(x_col)).alias("_resid"),
    )
    imed = _median(resid, "_resid", "intercept")
    counts = df.groupBy(*by).agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    out = counts.join(med, by).join(imed, by) if by else counts.crossJoin(
        F.broadcast(med)
    ).crossJoin(F.broadcast(imed))
    return out.select(
        *by,
        "n_points",
        F.col("slope_n").alias("n_pairs"),
        "slope",
        "intercept",
    )


def _funnel_frontiers(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    steps: list[tuple[str, Column]],
    window_us: int,
) -> tuple[list[DataFrame], DataFrame]:
    """Shared greedy-frontier builder for the windowed funnel family:
    returns (per-level user relations [dupes ok — consumers dedup],
    final frontier (user, chain_start, min last-step time))."""
    t = F.unix_micros(F.col(ts_col))
    frontier = (
        df.filter(steps[0][1])
        .select(F.col(user_col).alias("_u"), t.alias("_t0"), t.alias("_tp"))
        .distinct()
    )
    levels = [frontier.select("_u")]
    for _, pred in steps[1:]:
        nxt = df.filter(pred).select(F.col(user_col).alias("_u"), t.alias("_tn"))
        frontier = (
            frontier.join(nxt, "_u")
            .filter(
                (F.col("_tn") > F.col("_tp"))
                & (F.col("_tn") <= F.col("_t0") + F.lit(window_us))
            )
            .groupBy("_u", "_t0")
            .agg(F.min("_tn").alias("_tp"))
        )
        levels.append(frontier.select("_u"))
    return levels, frontier


def window_funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    steps: list[tuple[str, Column]],
    window_us: int = 86_400_000_000,
) -> DataFrame:
    """Windowed strict funnel (ClickHouse ``windowFunnel`` parity —
    the Amplitude/Heap conversion semantics ``funnel``'s min-timestamp
    shortcut can't express): a user reaches step k if SOME step-1
    event starts a chain where every later step happens strictly
    after the previous one and the WHOLE chain fits inside
    ``window_us`` of that step-1 event. Min-timestamps alone both
    under-count (a later signup may start a valid chain even when the
    earliest click precedes the earliest signup) and ignore deadlines.

    Plan: a frontier of (user, chain_start, last_step_time) extended
    one step at a time by an equi-join on the user plus the time-range
    residual, then collapsed per (user, chain_start) to the MINIMUM
    last-step time — greedy-optimal, since an earlier completion of
    step k admits a superset of step-k+1 events; the frontier never
    exceeds the user's step-1 event count, so each round is one
    bounded join + one map-side-combined min. Returns one row of
    ``step{i}_{name}`` counts: distinct users whose max depth >= i.
    """
    levels, _ = _funnel_frontiers(df, user_col, ts_col, steps, window_us)
    marked = None
    for i, lv in enumerate(levels):
        lv = lv.withColumn("_lvl", F.lit(i + 1))
        marked = lv if marked is None else marked.unionByName(lv)
    return marked.agg(
        *[
            F.count_distinct(F.when(F.col("_lvl") >= i + 1, F.col("_u")))
            .cast("bigint")
            .alias(f"step{i + 1}_{name}")
            for i, (name, _) in enumerate(steps)
        ]
    )


def funnel_conversion_times(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    steps: list[tuple[str, Column]],
    window_us: int = 86_400_000_000,
) -> DataFrame:
    """Time-to-convert for users completing the WHOLE windowed funnel:
    per converting user, the fastest chain's duration (last-step time
    minus chain start, minimized over starting step-1 events). The
    greedy frontier's per-(user, start) minimum last-step time makes
    the per-start duration already minimal, so one groupBy(user) min
    finishes it. Exact integer microseconds — the conversion-latency
    feed for funnel SLA percentiles. Returns (user, fastest_us)."""
    _, frontier = _funnel_frontiers(df, user_col, ts_col, steps, window_us)
    return (
        frontier.groupBy("_u")
        .agg(F.min(F.col("_tp") - F.col("_t0")).cast("bigint").alias("fastest_us"))
        .select(F.col("_u").alias("user"), "fastest_us")
    )


def sax_symbols(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    by: str = "event_type",
    round_digits: int = 6,
) -> DataFrame:
    """SAX symbolization (Lin, Keogh, Lonardi & Chiu, DMKD 2003,
    "A Symbolic Representation of Time Series"): per-series PAA at day
    grain, z-normalized against the series' own moments, quantized to
    a 4-letter alphabet at the N(0,1) quartile breakpoints
    (−0.6745, 0, 0.6745) — the discretization under SAX-indexed motif
    discovery, anomaly grammars, and symbolic similarity search.

    Determinism: values go to integer cents (the ts_autocorrelation
    idiom), so the PAA frame sums and the series sufficient statistics
    (Σc as BIGINT, Σc² through DECIMAL(38,0) — square sums outgrow
    2^63 at warehouse row counts) are exact and order-free; mean,
    population σ, and each frame's z are then fixed-order double
    expressions over identical operands, and symbols come from
    comparing the identical unrounded z against the breakpoint
    constants. Returns (by, day, n_obs, paa, z, symbol) with paa/z
    rounded for display.

    Scale: two map-side-combined aggregations over one scan (frames
    keyed by (series, day), moments keyed by series) and a
    series-dimension-sized broadcast join — no window over raw rows,
    nothing corpus-sized after the first aggregate.
    """
    cents = F.expr(f"CAST(round({value_col} * 100) AS BIGINT)")
    base = df.select(
        F.col(by).alias("_k"),
        F.date_trunc("day", F.col(ts_col)).cast("date").alias("day"),
        cents.alias("c"),
    )
    frames = base.groupBy("_k", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("c").cast("bigint").alias("sc"),
    )
    mom = base.groupBy("_k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.expr("CAST(c * c AS DECIMAL(38,0))")).alias("ss"),
    )
    j = frames.join(F.broadcast(mom), "_k")
    muc = F.col("s").cast("double") / F.col("n").cast("double")
    paac = F.col("sc").cast("double") / F.col("n_obs").cast("double")
    varc = F.col("ss").cast("double") / F.col("n").cast("double") - muc * muc
    sig = F.sqrt(F.greatest(varc, F.lit(0.0)))
    z = F.when(sig > 0, (paac - muc) / sig).otherwise(F.lit(0.0))
    return j.select(
        F.col("_k").alias(by),
        "day",
        "n_obs",
        F.round(paac / 100.0, round_digits).alias("paa"),
        F.round(z, round_digits).alias("z"),
        F.when(z < -0.6745, "a")
        .when(z < 0.0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
        .alias("symbol"),
    )


def seasonal_decompose(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    by: str = "event_type",
    round_digits: int = 6,
) -> DataFrame:
    """Classical additive seasonal decomposition at hour grain with a
    24-hour season (the moving-average method of Macaulay 1931, the
    textbook `decompose()`): observed = trend + seasonal + remainder —
    the structural view behind ``ts_seasonality_strength``'s one
    R² number and the baseline ``events_seasonal_anomaly`` compares
    against.

    - trend: centered 25-hour pooled moving mean over the hourly
      bucket series — frame sums of integer-cent totals and counts
      (exact, order-free; the pooled form replaces the even-period
      half-weight endpoint convention with an odd window, a documented
      simplification), emitted only where the full 25-bucket frame
      exists (edges stay null and are dropped);
    - seasonal: per hour-of-day mean of the detrended series, centered
      so the 24 indices sum to zero — both means are DECIMAL(28,18)-
      routed sums of identical doubles, so data-order cannot leak in;
    - remainder: observed − trend − seasonal.

    Missing hours simply don't occupy a frame slot (ROWS frames on the
    bucket series; both engines see the identical bucket set).
    Returns (by, bucket_ts, n_obs, observed, trend, seasonal,
    remainder), all rounded for display.

    Scale: one map-side-combined aggregate to (series, hour) grain —
    everything after runs on the bucket relation (three window passes
    and an hour-of-day-sized aggregate broadcast back), never on raw
    rows.
    """
    cents = F.expr(f"CAST(round({value_col} * 100) AS BIGINT)")
    b = (
        df.select(
            F.col(by).alias("_k"),
            F.date_trunc("hour", F.col(ts_col)).alias("t"),
            cents.alias("c"),
        )
        .groupBy("_k", "t")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            F.sum("c").cast("bigint").alias("sc"),
        )
    )
    wf = (
        Window.partitionBy("_k")
        .orderBy(F.col("t").asc())
        .rowsBetween(-12, 12)
    )
    b = b.select(
        "_k",
        "t",
        "n_obs",
        (F.col("sc").cast("double") / (F.lit(100.0) * F.col("n_obs").cast("double"))).alias(
            "observed"
        ),
        F.count(F.lit(1)).over(wf).alias("_fb"),
        F.sum("sc").over(wf).cast("bigint").alias("_fsc"),
        F.sum("n_obs").over(wf).cast("bigint").alias("_fn"),
    )
    trend = F.when(
        F.col("_fb") == 25,
        F.col("_fsc").cast("double") / (F.lit(100.0) * F.col("_fn").cast("double")),
    )
    b = b.select(
        "_k", "t", "n_obs", "observed", trend.alias("_trend")
    ).filter(F.col("_trend").isNotNull())
    b = b.withColumn("_det", F.col("observed") - F.col("_trend")).withColumn(
        "_hod", F.hour("t")
    )
    dec = "decimal(28,18)"
    raw = b.groupBy("_k", "_hod").agg(
        (
            F.sum(F.col("_det").cast(dec)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("_raw")
    )
    center = raw.groupBy("_k").agg(
        (
            F.sum(F.col("_raw").cast(dec)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("_m")
    )
    season = raw.join(F.broadcast(center), "_k").select(
        "_k", "_hod", (F.col("_raw") - F.col("_m")).alias("_seasonal")
    )
    out = b.join(F.broadcast(season), ["_k", "_hod"])
    return out.select(
        F.col("_k").alias(by),
        F.col("t").alias("bucket_ts"),
        "n_obs",
        F.round(F.col("observed"), round_digits).alias("observed"),
        F.round(F.col("_trend"), round_digits).alias("trend"),
        F.round(F.col("_seasonal"), round_digits).alias("seasonal"),
        F.round(
            F.col("observed") - F.col("_trend") - F.col("_seasonal"), round_digits
        ).alias("remainder"),
    )


def kalman_smooth(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    by: list[str],
    q: float = 0.01,
    r: float = 1.0,
    tiebreak: str | None = None,
) -> DataFrame:
    """Scalar Kalman filter per series under the local-level
    (random-walk + observation-noise) model — the optimal recursive
    smoother the EMA approximates with a fixed gain (Kalman 1960;
    the steady-state gain of THIS filter is exactly the EMA's α, but
    the early-sample gains adapt while variance converges)::

        predict:  x⁻ = x,  P⁻ = P + q
        update:   K  = P⁻/(P⁻ + r)
                  x  = x + K·(v − x⁻),  P = (1 − K)·P⁻

    initialized x₁ = v₁, P₁ = 1. Emits one row per series: final
    level, posterior variance, steady gain, and n_obs.

    Execution and determinism: the ``holt_linear`` contract — one
    shuffle on the series key, a plain-loop Arrow walk per group in
    (ts, tiebreak) order with FIXED IEEE op order, and the DuckDB
    oracle replays the identical recurrence as a recursive CTE
    (every subexpression written the same way on both sides, so the
    trajectory is bit-exact).
    """
    order_cols = [ts_col] + ([tiebreak] if tiebreak else [])
    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*by).schema.fields
    )
    out_schema = (
        key_schema
        + ", `n_obs` bigint, `level` double, `p_var` double, `gain` double"
    )
    qf, rf = float(q), float(r)

    def walk(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        vals = pdf[value_col].to_numpy().tolist()
        x = vals[0]
        p = 1.0
        k = p / (p + rf)
        for v in vals[1:]:
            pp = p + qf
            k = pp / (pp + rf)
            x = x + k * (v - x)
            p = (1.0 - k) * pp
        out = pdf.iloc[[0]][by].copy()
        out["n_obs"] = len(vals)
        out["level"] = x
        out["p_var"] = p
        out["gain"] = k
        return out

    return df.groupBy(*by).applyInPandas(walk, schema=out_schema)


def _zigzag(col: Column) -> Column:
    """Signed → unsigned zigzag (protobuf/Gorilla convention):
    0,-1,1,-2,2 → 0,1,2,3,4 — exact BIGINT arithmetic."""
    return F.when(col >= 0, col * 2).otherwise(-col * 2 - 1)


def _varint_bytes(col: Column) -> Column:
    """LEB128 varint byte count for an unsigned BIGINT — an integer
    CASE ladder (exact on both engines; no float log near power-of-two
    boundaries)."""
    # top rung: 2^63 is not a BIGINT literal, so the 9-byte test uses
    # Long.MAX (identical in the SQL oracle's ladder)
    out = F.when(col < F.lit((1 << 63) - 1), F.lit(9)).otherwise(F.lit(10))
    for nbytes in range(8, 0, -1):
        out = F.when(col < F.lit(1 << (7 * nbytes)), F.lit(nbytes)).otherwise(out)
    return out


def compression_estimate(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    by: str = "event_type",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Time-series compression planning: per series, the encoded size
    under the Gorilla/Prometheus scheme family — delta-of-delta
    timestamps + zigzag-varint value deltas (Pelkonen et al. VLDB'15
    for the timestamp scheme; integer cent deltas replace Gorilla's
    float-XOR stage so the whole estimate is exact BIGINT arithmetic)
    — versus the raw 16 B/row columnar cost. This is the sizing pass a
    TSDB runs before choosing chunk encodings, and a direct measure of
    how regular each series' cadence is (the reference's ecosystem
    stores exactly this kind of series).

    Charging model: row 1 costs 16 B (full timestamp + value); row 2
    charges varint(zigzag(Δt)) + varint(zigzag(Δv)); rows 3+ charge
    varint(zigzag(Δ²t)) + varint(zigzag(Δv)). All deltas are exact
    integers (micros / cents), the varint ladder is integer CASE
    comparisons — no float anywhere until the final ratio (int/int
    double, round-6).

    One key-window shuffle (both lags ride one sort). Returns
    (by, n_obs, raw_bytes, enc_bytes, ratio).
    """
    w = Window.partitionBy(by).orderBy(F.col(ts_col).asc(), F.col(tiebreak).asc())
    us = F.unix_micros(F.col(ts_col))
    cents = F.expr(f"CAST(round({value_col} * 100) AS BIGINT)")
    d = (
        df.select(F.col(by), F.col(ts_col), F.col(tiebreak), cents.alias("c"))
        .withColumn("_t", us)
        .withColumn("_dt", F.col("_t") - F.lag("_t").over(w))
        .withColumn("_dod", F.col("_dt") - F.lag("_dt").over(w))
        .withColumn("_dv", F.col("c") - F.lag("c").over(w))
    )
    row_cost = (
        F.when(F.col("_dt").isNull(), F.lit(16))
        .when(
            F.col("_dod").isNull(),
            _varint_bytes(_zigzag(F.col("_dt"))) + _varint_bytes(_zigzag(F.col("_dv"))),
        )
        .otherwise(
            _varint_bytes(_zigzag(F.col("_dod"))) + _varint_bytes(_zigzag(F.col("_dv")))
        )
    )
    return (
        d.withColumn("_cost", row_cost.cast("bigint"))
        .groupBy(by)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            (F.count(F.lit(1)) * 16).cast("bigint").alias("raw_bytes"),
            F.sum("_cost").cast("bigint").alias("enc_bytes"),
        )
        .withColumn(
            "ratio",
            F.round(
                F.col("enc_bytes").cast("double") / F.col("raw_bytes").cast("double"),
                6,
            ),
        )
    )


def ks_two_sample(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str = "value",
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic D = sup|F₁−F₂|
    between two value distributions (Smirnov 1939) — the
    distribution-drift gate beside ``events_psi_drift``'s binned PSI
    and ``text_jsd_source_drift``'s token JSD: binless, sensitive to
    any distributional difference, and here EXACT, not approximated.

    Integer-exact construction: values go to cents; at every point of
    the pooled sample the ECDF gap is |i·n₂ − j·n₁| / (n₁·n₂) with
    i, j the cumulative counts — the numerator is an exact BIGINT, so
    D is max_int/(n₁·n₂), one int/int double division at the end.
    Ties are handled by evaluating the gap only at complete value
    boundaries (cumulative counts over the per-value aggregate, which
    is how the sup of a càdlàg step function is attained). Returns one
    row: (n_a, n_b, d_num, d_den, ks_d).

    Scale: two map-side-combined per-value aggregates (value-
    cardinality-sized, cents are naturally bounded), one merged sort
    window over the pooled value dimension, a 1-row max. Nothing
    row-sized past the first aggregates; the cumulative window is over
    distinct VALUES, not rows.
    """
    cents = F.expr(f"CAST(round({value_col} * 100) AS BIGINT)")
    a = df_a.select(cents.alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("ca")
    )
    b = df_b.select(cents.alias("v")).groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cb")
    )
    m = a.join(b, "v", "full_outer").select(
        "v",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    w = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = m.select(
        F.sum("ca").over(w).cast("bigint").alias("i"),
        F.sum("cb").over(w).cast("bigint").alias("j"),
    )
    tot = cum.agg(
        F.max("i").cast("bigint").alias("n_a"),
        F.max("j").cast("bigint").alias("n_b"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n_a").cast("bigint").alias("n_a"),
            F.max("n_b").cast("bigint").alias("n_b"),
            F.max(
                F.abs(F.col("i") * F.col("n_b") - F.col("j") * F.col("n_a"))
            ).cast("bigint").alias("d_num"),
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            (F.col("n_a") * F.col("n_b")).cast("bigint").alias("d_den"),
            F.round(
                F.col("d_num").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("ks_d"),
        )
    )
