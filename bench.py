"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints three things, sized for the driver's ~2000-char stdout TAIL
capture (the only part of stdout the round artifact keeps):
  1. the full JSON record with the named per-query dict — human/
     grep-friendly, but ~3.4 KB, so the capture truncates its head;
  2. ONE compact line carrying EVERY per-query timing as a values
     array in HEADLINE order (names recoverable by zipping with
     bench.HEADLINE; a names_md5 guard detects order drift) — ~800
     chars, so all ~98 timings survive the tail window where the
     named dict showed only the last ~58 (VERDICT r9 item 3);
  3. the summary WITHOUT per-query data as the FINAL short line, so
     whatever tail the driver keeps always ends in one complete,
     parseable record (the r7 lesson).
The full record is also written to bench_latest.json in the repo root
(override: $SPARK_GRAFT_BENCH_OUT) — the repo-local artifact for
round-over-round comparison via scripts/bench_compare.py.

Each query is executed to completion (count() materializes every
operator in the plan) after a warm-up of the input files' footers.

Every rep also records executor CPU, read with the Spark UI off from
the drained status store (refluxdb_spark.profile): per-query CPU rides
the full record, cpu_total_sec the summary line, and
`scripts/bench_compare.py --cpu` diffs it.

Also since r19 the FINAL summary line carries a driver-parseable
"queries" dict holding the SLOWEST queries that fit the tail window
(VERDICT r18 item 2: the driver cannot decode the compact line, so
its per_query view was empty both rounds). 136 full names need
~3.9 KB — they cannot all fit a 2000-char tail — so the subset is
slowest-first (the queries that matter for regressions), and the
omission is explicit: q_omitted / q_omitted_sec say how many
sub-threshold queries ride only the compact line and the full record.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from refluxdb_spark import profile  # noqa: E402
from refluxdb_spark.queries import QUERIES  # noqa: E402
from refluxdb_spark.session import get_spark  # noqa: E402

HEADLINE = [
    # refluxdb surface
    "reflux_range_scan",
    "reflux_series_stats",
    # SQL/star-schema
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_revenue_forecast",
    # time-series analytics
    "ts_time_bucket_rollup",
    "ts_window_moving_avg",
    "ts_asof_join",
    "ts_interval_join_error_clicks",
    # SQL decision-support shapes
    "tpch_q18_large_volume_orders",
    "tpch_q8_market_share",
    "tpch_q13_customer_distribution",
    # time-series reads
    "ts_ohlc_candles",
    "ts_value_percentiles",
    # pipeline operators
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    # the capped variant is the 100 TB-safe config (hot-bucket guard),
    # same r2 lesson as the capped Jaccard below; the uncapped twin
    # stays correctness-only
    "dedup_simhash_pairs_capped",
    "dedup_jaccard_pairs_capped",
    "dedup_components",
    "text_quality_scores",
    "sim_cosine_topk",
    "sim_ivf_topk",
    "sim_ivf_persisted_topk",
    "sample_stratified_documents",
    # round-4 pipeline additions
    "dedup_decontaminate",
    "sim_quantized_topk",
    "text_repetition_stats",
    "ts_ema_per_user",
    "sketch_hll_distinct_users",
    "text_tfidf_top_terms",
    "sample_pack_bins",
    "ts_time_weighted_avg",
    "ts_sliding_window_counts",
    "pipeline_corpus_end_to_end",
    "sim_ivf_quantized_topk",
    "ts_anomaly_zscore",
    "ts_counter_rate",
    "sketch_bloom_membership",
    # round-5 pipeline additions
    "sample_temperature_mix",
    "dedup_shared_chunks",
    "events_rolling_7d_actives",
    "text_unigram_logprob",
    # round-6 pipeline additions
    "dedup_incremental_pairs",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "text_boilerplate_removal",
    "text_pii_redact",
    "dedup_semantic_prune",
    "ts_state_durations",
    "ts_heartbeat_uptime",
    "events_path_trigrams",
    "text_readability",
    "ts_autocorrelation",
    "sim_centroid_classify",
    "events_seasonal_anomaly",
    "text_ngram_novelty",
    "sketch_kmv_distinct_users",
    "sample_ess_report",
    "skew_salted_join_counts",
    "ts_bollinger_bands",
    "ts_rsi",
    "text_rag_chunks",
    "pipeline_chunk_dedup",
    "ts_week_over_week",
    "sketch_hll_intersection",
    "text_langid_confusion",
    "events_interarrival_stats",
    "text_vocab_growth",
    "text_jsd_source_drift",
    "orders_cohort_ltv",
    "sim_hard_negatives",
    "orders_ship_latency_percentiles",
    "events_user_behavior_entropy",
    "pipeline_rag_end_to_end",
    "orders_open_backlog_daily",
    "sample_mixture_epochs",
    "events_bot_signals",
    "ts_seasonality_strength",
    "sim_ivf_append_topk",
    "dedup_source_overlap",
    "events_column_profile",
    "string_fuzzy_title_pairs",
    "events_funnel_windowed",
    "text_pmi_pairs",
    "orders_ship_hazard",
    "text_feature_hash",
    "events_burst_days",
    "ts_winsorized_stats",
    "events_funnel_convert_time",
    "sim_pq_adc_topk",
    "sim_ivfpq_topk",
    "sim_ivfpq_persisted_topk",
    "pipeline_vector_end_to_end",
    "events_cart_abandonment",
    "events_dau_wau_stickiness",
    "sample_quality_budget",
    "events_session_duration_stats",
    # round-16 pipeline additions
    "dedup_exact_substr_spans",
    "text_dup_ngram_chars",
    "text_top_ngram_fraction",
    "sample_dsir_select",
    "text_bm25_scores",
    "text_perplexity_buckets",
    "mm_audio_stdlib_decode",
    "mm_vad_segments",
    "mm_png_stdlib_decode",
    "mm_keyframe_select",
    "events_psi_drift",
    "dedup_decontaminate_spans",
    "sim_cluster_db_index",
    "sim_rrf_fusion",
    "sim_matryoshka_topk",
    "graph_harmonic_trade",
    "graph_harmonic_hyperball",
    "graph_lin_hyperball",
    "sketch_kmv_jaccard",
    "sketch_quantile_sample",
    "sim_ivf_nprobe_sweep",
    "sample_kcenter_coreset",
    "orders_abc_classification",
    # round-18 additions. sim_hnsw_topk and sim_hnsw_recall stay
    # correctness-only (the pagerank/ivfpq_recall precedent): both
    # carry the INLINE n² graph build inside the measured plan
    # (~100 s/rep at sf0.1 — the build exists for oracle determinism
    # at dimension scale; the scale path is the blocked build and the
    # persisted snapshot, byte-measured in SCALE.md §13). The
    # persisted form below is the production shape the wall bench
    # tracks: build paid once, search corpus-independent.
    "sketch_kll_quantiles",
    "sketch_kll_merged_days",
    "sim_hnsw_persisted_topk",
    # graph_pagerank_nations stays correctness-only: at sf0.1 its
    # runtime is ~10 tiny-graph job launches (iteration machinery),
    # which measures scheduler latency, not the operator's scale shape
    # round-19 additions. graph_hits_trade stays correctness-only for
    # the same pagerank reason (per-half-step checkpoints on a
    # 25-node graph measure scheduler latency, not the operator).
    "text_keyness_llr",
    "text_zipf_fit",
    "ts_sax_symbols",
    "sketch_kmv_difference",
    "sample_neyman_allocation",
    "sample_neyman_execute",
    "ts_seasonal_decompose",
    "sim_binary_hamming_topk",
    # graph_link_aa_nations stays correctness-only (tiny-graph, like
    # its RA twin); the bootstrap is the heavy new exchange shape
    "sample_bootstrap_ci",
    # ts_kalman_level stays correctness-only (the holt/cusum walk
    # precedent); the three below are the measurable new shapes
    "ts_compression_estimate",
    "text_bm25_ndcg",
    "ts_ks_two_sample",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="refluxdb_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: JIT/classloading + parquet footer reads, so timings
    # reflect steady-state query cost, not first-query JVM spin-up.
    from refluxdb_spark.queries import TABLES, load

    for t in TABLES:
        load(spark, sf_dir, t).count()

    # Median of N reps per query (SPARK_GRAFT_BENCH_REPS, default 3):
    # single-run numbers on a shared box drift ~10% run to run, which
    # drowns real regressions. The DataFrame cache is cleared between
    # reps so operator-internal persists recompute — each rep measures
    # the query, not the previous rep's cache. (The materialized IVF
    # index on DISK intentionally survives: amortized build is that
    # query's design.)
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # Sub-second queries get MORE reps (default 7): the r9→r10 compare
    # flagged exactly two sub-second queries as >1.3x "regressions"
    # that three reps could not separate from scheduler noise — at
    # ~0.5s a single 0.2s hiccup moves a 3-rep median 40%, while the
    # median of 7 needs four hiccups. Cheap by construction: only
    # queries that finish in <0.5s pay the extra reps (VERDICT r10
    # item 5).
    subsec_reps = max(
        reps, int(os.environ.get("SPARK_GRAFT_BENCH_SUBSEC_REPS", "7"))
    )
    subsec_floor = 0.5
    # Machine calibration: a fixed probe whose cost is independent of
    # this repo's code (plain parquet scan + hash aggregate over
    # lineitem, built-ins only). Round-over-round bench totals are run
    # on whatever VM the driver provisions, and measured drift between
    # identical code on two VMs has been ~1.4x — the probe gives the
    # reader a denominator: compare `queries[...] / calibration_sec`
    # across rounds, not raw seconds.
    li = load(spark, sf_dir, "lineitem")

    def _jvm_probe() -> float:
        samples = []
        for _ in range(3):
            t0 = time.time()
            li.groupBy("l_returnflag", "l_linestatus").agg(
                {"l_quantity": "sum", "l_extendedprice": "avg"}
            ).count()
            samples.append(time.time() - t0)
        return round(sorted(samples)[1], 3)

    def _py_probe() -> float:
        # Arrow/Python-side probe: the JVM probe measured 0.316 vs
        # 0.331 across two VMs whose PYTHON-path workloads differed
        # 1.3-1.4x (round 11, byte-identical code) — whole-stage
        # codegen throughput and Arrow-batch/pandas throughput drift
        # independently across boxes, so each needs its own
        # denominator. Plain mapInPandas sum, no repo code.
        import pandas as _pd

        def _sum_batches(it):
            for pdf in it:
                yield _pd.DataFrame({"s": [float(pdf["l_quantity"].sum())]})

        samples = []
        for _ in range(3):
            t0 = time.time()
            li.select("l_quantity").mapInPandas(_sum_batches, "s double").agg(
                {"s": "sum"}
            ).count()
            samples.append(time.time() - t0)
        return round(sorted(samples)[1], 3)

    calibration = _jvm_probe()
    calibration_py = _py_probe()
    print(f"# calibration probes: jvm {calibration}s, py {calibration_py}s",
          file=sys.stderr)

    timings: dict[str, float] = {}
    timings_cpu: dict[str, float] = {}
    rep_counts: dict[str, int] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        samples = []
        cpu = []
        n = 0

        def _run() -> None:
            nonlocal n
            spark.catalog.clearCache()
            n, prof = profile.run(spark, lambda: fn(spark, sf_dir).count())
            samples.append(prof["wall_s"])
            cpu.append(prof["cpu_s"])

        for _ in range(reps):
            _run()
        if sorted(samples)[len(samples) // 2] < subsec_floor:
            while len(samples) < subsec_reps:
                _run()
        timings_cpu[name] = round(sum(cpu) / len(cpu), 3)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        rep_counts[name] = len(samples)
        print(
            f"# {name}: median {timings[name]}s of {[round(s, 3) for s in samples]} "
            f"({n} rows, cpu {timings_cpu[name]}s/rep)",
            file=sys.stderr,
        )

    # End-of-sweep re-run of the JVM probe: a long-lived bench session
    # ages (codegen cache, GC heap, status-store churn) — queries late
    # in HEADLINE measured ~1.1-1.2x their fresh-session cost in round
    # 11. start-vs-end probe delta makes that aging visible in the
    # artifact instead of being misread as late-query regressions.
    calibration_end = _jvm_probe()
    print(f"# calibration probe at end: {calibration_end}s", file=sys.stderr)

    lines = emit_lines(
        timings,
        reps,
        calibration,
        sf,
        rep_counts=rep_counts,
        calibration_py=calibration_py,
        calibration_end=calibration_end,
        adjudication=self_adjudication(
            timings,
            calibration,
            os.path.dirname(os.path.abspath(__file__)),
            calibration_end=calibration_end,
            timings_cpu=timings_cpu,
        ),
        timings_cpu=timings_cpu,
    )
    for line in lines:
        print(line)
    out = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_latest.json"),
    )
    with open(out, "w") as fh:
        fh.write(lines[0] + "\n")


def names_digest(names: list[str]) -> str:
    """12-hex guard over the query-name order: a compact values line is
    only decodable against the HEADLINE list that produced it."""
    return hashlib.md5(",".join(names).encode()).hexdigest()[:12]


# Byte budget for the FINAL stdout line: the driver keeps a 2000-char
# tail (measured exactly on every archived BENCH_r{N}.json) and parses
# its last complete JSON line; the line must therefore survive whole,
# with margin for the trailing newline and clock-width drift.
TAIL_SUMMARY_BUDGET = 1900


def decode_compact(rec: dict) -> dict[str, float] | None:
    """Timings of a headline_query_times_compact record, by zipping its
    values with HEADLINE; None unless its names_md5 matches the current
    HEADLINE (the line carries no names, so values recorded against
    another list cannot be attributed)."""
    values = rec.get("values", [])
    if rec.get("names_md5") == names_digest(HEADLINE) and len(values) == len(HEADLINE):
        return dict(zip(HEADLINE, (float(v) for v in values)))
    return None


def decode_prev_artifact(path: str) -> tuple[dict[str, float], float | None]:
    """Minimal decoder for a prior round's BENCH artifact (driver tail
    or full record): the NEWEST run's (timings, calibration_sec).

    A tail is scanned newest-first. A run record is any line carrying
    ``calibration_sec`` (its head or its final summary line); the
    newest one is the run to decode, and it supplies the probe. Its
    timings come from a compact line met before a SECOND run record —
    one whose names_md5 matches the CURRENT HEADLINE. Past a second run
    record, every compact line belongs to an older run, so the newest
    summary's slowest-first ``queries`` subset is used instead
    (partial but real; common_n says how much). Nothing decodable
    gives ({}, ...) and the caller skips self-adjudication rather than
    guess across runs or list drift."""
    text = open(path).read()
    try:
        d = json.loads(text)
        if isinstance(d, dict) and "tail" in d:
            text = d["tail"]
        elif isinstance(d, dict) and "queries" in d:
            return (
                {k: float(v) for k, v in d["queries"].items()},
                float(d["calibration_sec"]) if d.get("calibration_sec") else None,
            )
    except json.JSONDecodeError:
        pass
    timings: dict[str, float] = {}
    newest: dict | None = None
    for line in reversed(text.splitlines()):
        try:
            rec = json.loads(line.strip())
        except json.JSONDecodeError:
            continue
        if not isinstance(rec, dict):
            continue
        if rec.get("metric") == "headline_query_times_compact":
            decoded = decode_compact(rec)
            if decoded is not None:
                timings = decoded
        elif "calibration_sec" in rec:
            if newest is not None:
                break  # a second run: what lies further back is older
            newest = rec
        if timings and newest is not None:
            break
    if newest is None:
        return timings, None
    if not timings and isinstance(newest.get("queries"), dict):
        timings = {str(k): float(v) for k, v in newest["queries"].items()}
    cal = newest.get("calibration_sec")
    return timings, (float(cal) if cal else None)


def prev_round_artifact(repo_dir: str) -> str | None:
    """Newest committed BENCH_r{N}.json in the repo root, or None."""
    import re as _re

    best, best_n = None, -1
    for e in os.listdir(repo_dir):
        m = _re.fullmatch(r"BENCH_r(\d+)\.json", e)
        if m and int(m.group(1)) > best_n:
            best, best_n = e, int(m.group(1))
    return best


def self_adjudication(
    timings: dict[str, float],
    calibration: float,
    repo_dir: str,
    calibration_end: float | None = None,
    timings_cpu: dict[str, float] | None = None,
) -> dict:
    """Fields that let an archived artifact adjudicate ITSELF (VERDICT
    r15 item 5 — r15's raw 1.13x was a calibrated 0.94x, but the raw
    artifact alone could be misread as a regression without its
    calibration context):

    - ``calibrated_vs_prev``: this run's probe-normalized common-query
      total over the newest committed BENCH_r{N}; null when no prior
      artifact decodes against the current HEADLINE or a probe is
      missing — absence is explicit, never inferred.
    - ``raw_vs_prev`` / ``common_n``: the UNCALIBRATED common-query
      ratio and how many queries it covers — the number that stays
      stable when the probe itself is noisy (VERDICT r16: same-code
      probes spread 0.32-0.44s, larger than any drift measured, so the
      calibrated ratio alone flip-flopped 0.92x/1.28x).
    - ``probe_spread_pct`` / ``calibrated_noise_dominated``: the
      session's own start-vs-end probe disagreement, and whether it
      EXCEEDS the raw delta being measured — when true, the archived
      artifact itself says "headline the raw + byte numbers; the
      calibrated ratio is probe noise", instead of leaving that
      adjudication to a future reader with a fifth re-run.
    - ``prev_artifact``: which artifact the ratio is against.
    - ``byte_gate_md5``: 12-hex digest of the committed exchange-bytes
      gate profile in force when this bench ran, so the byte claim of
      record this artifact should be adjudicated against is pinned in
      the artifact itself.
    """
    out: dict = {
        "calibrated_vs_prev": None,
        "raw_vs_prev": None,
        "common_n": 0,
        "probe_spread_pct": None,
        "calibrated_noise_dominated": None,
        "prev_artifact": None,
        "byte_gate_md5": None,
        # common-query CPU-time ratio vs the previous round's artifact
        # (VERDICT r17 item 4: a second, contention-insensitive axis);
        # null until a prior artifact carries queries_cpu — absence is
        # explicit, never inferred
        "cpu_vs_prev": None,
        "cpu_common_n": 0,
    }
    gate = os.path.join(repo_dir, "scripts", "exchange_profile_sf001.json")
    if os.path.exists(gate):
        out["byte_gate_md5"] = hashlib.md5(open(gate, "rb").read()).hexdigest()[:12]
    # CPU prev source: the committed bench_latest.json still on disk at
    # adjudication time IS the previous round's full record (the driver
    # tail truncates the head that carries queries_cpu, so the tail can
    # never supply it; the full record can — bench overwrites the file
    # only AFTER this runs)
    if timings_cpu:
        try:
            prev_full = json.load(
                open(os.path.join(repo_dir, "bench_latest.json"))
            )
            prev_cpu = prev_full.get("queries_cpu") or {}
            cpu_common = sorted(set(prev_cpu) & set(timings_cpu))
            pb = sum(float(prev_cpu[q]) for q in cpu_common)
            if cpu_common and pb > 0:
                out["cpu_vs_prev"] = round(
                    sum(timings_cpu[q] for q in cpu_common) / pb, 3
                )
                out["cpu_common_n"] = len(cpu_common)
        except (OSError, ValueError, json.JSONDecodeError):
            pass
    if calibration and calibration > 0 and calibration_end and calibration_end > 0:
        out["probe_spread_pct"] = round(
            abs(calibration_end - calibration) / calibration * 100.0, 1
        )
    prev = prev_round_artifact(repo_dir)
    if prev is None:
        return out
    try:
        prev_t, prev_cal = decode_prev_artifact(os.path.join(repo_dir, prev))
    except (OSError, ValueError):
        return out
    common = sorted(set(prev_t) & set(timings))
    if not common or not prev_cal or prev_cal <= 0 or not calibration or calibration <= 0:
        return out
    tb = sum(prev_t[q] for q in common)
    tn = sum(timings[q] for q in common)
    if tb <= 0:
        return out
    out["prev_artifact"] = prev
    out["common_n"] = len(common)
    out["raw_vs_prev"] = round(tn / tb, 3)
    out["calibrated_vs_prev"] = round((tn / calibration) / (tb / prev_cal), 3)
    if out["probe_spread_pct"] is not None:
        out["calibrated_noise_dominated"] = (
            out["probe_spread_pct"] / 100.0 > abs(tn / tb - 1.0)
        )
    return out


def emit_lines(
    timings: dict[str, float],
    reps: int,
    calibration: float,
    sf: float,
    rep_counts: dict[str, int] | None = None,
    calibration_py: float | None = None,
    calibration_end: float | None = None,
    adjudication: dict | None = None,
    timings_cpu: dict[str, float] | None = None,
) -> list[str]:
    """The stdout contract, testable without running queries: the full
    JSON record first (head-truncated by the driver's ~2000-char tail
    capture — r7's artifact recorded "parsed": null from exactly that),
    then ONE compact line with every timing as a values array in key
    order (small enough that ALL timings survive the window — the
    named dict leaves only the last ~58 visible), then the summary
    WITHOUT per-query data as the FINAL short line so the captured
    tail always ends in one complete, parseable JSON record."""
    total = round(sum(timings.values()), 3)
    head = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "calibration_sec": calibration,
        "sf": sf,
    }
    if calibration_py is not None:
        head["calibration_py_sec"] = calibration_py
    if calibration_end is not None:
        head["calibration_end_sec"] = calibration_end
    if rep_counts is not None:
        head["rep_counts"] = rep_counts
    if timings_cpu:
        # per-query executor CPU seconds (per rep) — the second axis;
        # rides the FULL record (bench_latest.json) only: the driver
        # tail truncates the head, and the compact line is size-capped
        # (a cpu values array would push the wall values out of the
        # ~2000-char window). The tail keeps cpu_total_sec via summary.
        head["queries_cpu"] = timings_cpu
        head["cpu_total_sec"] = round(sum(timings_cpu.values()), 3)
    if adjudication is not None:
        # self-adjudication context rides head AND summary (the tail's
        # final parseable record), never the size-constrained compact
        # line — see self_adjudication for field semantics
        head.update(adjudication)
    names = list(timings)
    compact = {
        "metric": "headline_query_times_compact",
        "order": "bench.HEADLINE",
        "names_md5": names_digest(names),
        "values": [timings[n] for n in names],
    }
    if rep_counts is not None:
        # per-query rep counts ride the SAME decodable line (extra key,
        # decoder unaffected): the adaptive sub-second policy means 3
        # and 7 coexist, and a reader adjudicating a flagged regression
        # needs to know which cohort the number came from. Encoded as
        # one digit per query (HEADLINE order) — the JSON int array
        # form cost ~3 chars/query and pushed the compact+summary pair
        # past the driver's tail-window headroom once HEADLINE crossed
        # ~130 queries; a digit string costs 1. Falls back to the array
        # iff a count ever needs two digits.
        rv = [rep_counts.get(n, reps) for n in names]
        if all(0 <= v <= 9 for v in rv):
            compact["reps_digits"] = "".join(str(v) for v in rv)
        else:
            compact["reps_values"] = rv
    summary = {
        k: v
        for k, v in head.items()
        if k not in ("queries", "rep_counts", "queries_cpu")
    }
    summary["n_queries"] = len(timings)
    # Driver-parseable per-query subset (VERDICT r18 item 2): the
    # driver's PERF stage reads `queries` off the last parseable JSON
    # line of its ~2000-char tail capture. All 136 full names need
    # ~3.9 KB, so the final line carries the SLOWEST queries that fit
    # a fixed byte budget — the cohort where a regression is visible —
    # and declares what it dropped (no silent caps). Full coverage
    # still rides the compact line and the full head record
    # (bench_latest.json, committed per round).
    sub: dict[str, float] = {}
    summary["queries"] = sub
    # reserve the omission fields before filling, at the count's and the
    # total's width; the final omitted sum can still print wider (a
    # total of 49.0 can leave 48.999), so the swap below re-checks
    summary["q_omitted"] = len(timings)
    summary["q_omitted_sec"] = total
    for name in sorted(timings, key=lambda n: (-timings[n], n)):
        sub[name] = timings[name]
        if len(json.dumps(summary)) > TAIL_SUMMARY_BUDGET:
            del sub[name]
            break
    while True:
        summary["q_omitted"] = len(timings) - len(sub)
        summary["q_omitted_sec"] = round(
            sum(t for n, t in timings.items() if n not in sub), 3
        )
        if not sub or len(json.dumps(summary)) <= TAIL_SUMMARY_BUDGET:
            break
        sub.popitem()  # drop the fastest entry still included
    return [json.dumps(head), json.dumps(compact), json.dumps(summary)]


if __name__ == "__main__":
    main()
