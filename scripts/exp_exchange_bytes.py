"""Measure the total shuffle (exchange) bytes queries write.

Runs named queries from ``refluxdb_spark.queries`` to completion and
sums shuffle-write bytes and records over the stages each query ran,
read with the Spark UI off from the drained status store
(``refluxdb_spark.profile``) — the ground truth for "what does this plan
actually exchange", independent of wall-clock noise (same-code bench
totals at sf0.1 spread ±7% run to run; shuffle BYTES are stable to
<1%, records exactly). Three modes:

Single query (round-10 shape, one fresh session per invocation):

    python scripts/exp_exchange_bytes.py dedup_minhash_lsh_pairs \
        [/root/testdata/sf0.1]

Record a baseline for a query set (ONE session; each query's jobs are
attributed by the job tag it ran under):

    python scripts/exp_exchange_bytes.py --baseline OUT.json \
        [--sf /root/testdata/sf0.1] [name ...]   # default: BASELINE_SET

Re-measure a baseline's queries and fail on byte growth — the
deterministic complement to the wall-clock ratchet (VERDICT r10
item 2). Exit 1 if any query's bytes exceed threshold x baseline
(with a 64 KiB absolute floor so tiny exchanges can't flag on jitter):

    python scripts/exp_exchange_bytes.py --check BASELINE.json \
        [--sf DIR] [--threshold 1.2] [--out remeasured.json]

For artifact-vs-artifact byte diffs without re-measuring, see
``scripts/bench_compare.py --bytes``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from refluxdb_spark import profile  # noqa: E402
from refluxdb_spark.queries import QUERIES  # noqa: E402
from refluxdb_spark.session import get_spark  # noqa: E402

#: The exchange-bytes ratchet set: the top-20 most expensive headline
#: queries by the round-10 bench artifact (BENCH_r10.json), plus the
#: two sub-second queries the r9→r10 wall-clock compare flagged as
#: variance-suspect (so future adjudication of either is byte-based,
#: VERDICT r10 item 3), plus sim_rp_lsh_pairs carried over from the
#: round-10 8-query baseline for continuity. Order = r10 cost rank.
BASELINE_SET = [
    "dedup_simhash_pairs_capped",
    "sim_ivfpq_topk",
    "dedup_semantic_prune",
    "dedup_minhash_lsh_pairs",
    "dedup_components",
    "string_fuzzy_title_pairs",
    "dedup_source_overlap",
    "pipeline_corpus_end_to_end",
    "dedup_incremental_pairs",
    "sim_pq_adc_topk",
    "sim_ivf_quantized_topk",
    "sim_ivf_topk",
    "dedup_jaccard_pairs_capped",
    "orders_open_backlog_daily",
    "text_boilerplate_removal",
    "dedup_decontaminate",
    "tpch_q2_min_cost_supplier",
    "tpch_q8_market_share",
    "tpch_q3_shipping_priority",
    "sim_centroid_classify",
    # variance-suspect sub-second flags (r9→r10)
    "events_bot_signals",
    # round-10 baseline carry-over
    "sim_rp_lsh_pairs",
    # round-11 join-filter-below-aggregate rewrites (with tpch_q2
    # above): pinned so regrowth of the pattern is caught by bytes
    "tpch_q16_part_supplier_counts",
    "tpch_q20_potential_promotion",
    "tpch_q21_waiting_suppliers",
    # r10->r11 driver wall-clock flags adjudicated as variance but not
    # yet byte-fenced (VERDICT r11 item 3): pinned so the next wobble
    # is byte-adjudicated instead of wall-clock-statistical
    "sim_cosine_topk",
    "ts_window_moving_avg",
]

#: Queries that amortize a ONE-TIME build behind a per-(sf, mtime)
#: disk cache (persisted MinHash/IVF/IVF-PQ indexes, the routed-rollup
#: warehouse, durable streaming state). A cold-cache profile run pays
#: the build inside the measured stage set and reads 40-130x the warm
#: bytes (SCALE.md §9's 133x/44x artifacts) — so measure() force-warms
#: these with one un-measured run first. Their profile rows therefore
#: record the OPERATIONAL (probe) path, matching the committed
#: sf0.01 profile's semantics.
WARM_REQUIRED = {
    "ts_rollup_routed",
    "reflux_typed_fields",
    "reflux_tag_index_scan",
    "dedup_index_append_probe",
    "dedup_incremental_pairs",
    "sim_ivf_persisted_topk",
    "sim_ivf_append_topk",
    "sim_ivfpq_persisted_topk",
    "sim_hnsw_persisted_topk",
    "ts_streaming_incremental_dedup",
}

#: flag only when growth is BOTH >threshold relatively and >this many
#: bytes absolutely — a 100 KB exchange growing 1.3x is 30 KB of
#: payload noise, not a plan regression
ABS_FLOOR_BYTES = 64 * 1024


def _session(name: str):
    """The measurement session (UI off, like every session).

    Driver heap defaults to 16g here (engine default: 8g): a
    measurement session lives through dozens of heavy queries with the
    status store retaining every stage/task for attribution, and at
    the x100 leg that aging pushed a mid-size broadcast build over the
    8g driver's free-heap check ("Not enough memory to build and
    broadcast") — the same query passes in a fresh 8g session, so this
    is measurement-harness headroom, not an engine sizing change."""
    spark = get_spark(
        app_name=name,
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "16g"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measure(spark, name: str, sf_dir: str, fn=None) -> dict:
    """Run one query to completion and attribute ONLY its jobs, so many
    queries can share one session. Queries in WARM_REQUIRED get one
    un-measured run first, outside the measured block, so their
    one-time per-(sf, mtime) index/warehouse build is never counted
    (cold-cache profiles read 40-130x warm bytes and false-flag in
    --check). ``fn`` overrides the registry lookup for non-registry
    probes (e.g. exp_scaling's production-sizing variants)."""
    fn = fn or QUERIES[name]
    if name in WARM_REQUIRED:
        fn(spark, sf_dir).count()
    spark.catalog.clearCache()
    rows, prof = profile.run(spark, lambda: fn(spark, sf_dir).count())
    return {
        "bytes": prof["shuffle_write_bytes"],
        "mb": round(prof["shuffle_write_bytes"] / 1e6, 2),
        "records": prof["shuffle_write_records"],
        "stages": prof["stages"],
        "rows": rows,
        "sec": round(prof["wall_s"], 2),
    }


def run_set(names: list[str], sf_dir: str) -> dict:
    spark = _session("exchange_bytes_baseline")
    out: dict[str, dict] = {}
    for name in names:
        rec = measure(spark, name, sf_dir)
        out[name] = rec
        print(f"# {name}: {rec['mb']} MB, {rec['records']} records, "
              f"{rec['stages']} stages, {rec['rows']} rows, {rec['sec']}s",
              file=sys.stderr)
    return {"sf_dir": sf_dir, "queries": out}


def check(baseline_path: str, sf_dir: str | None, threshold: float,
          out_path: str | None) -> int:
    base = json.load(open(baseline_path))
    sf = sf_dir or base["sf_dir"]
    # validate BEFORE the sweep: a renamed/removed registry query left
    # in a stale baseline must fail immediately with a clear message,
    # not KeyError minutes into the re-measurement
    stale = [q for q in base["queries"] if q not in QUERIES]
    if stale:
        print(
            f"error: baseline {baseline_path} names queries not in the "
            f"registry: {stale} — regenerate it with --baseline",
            file=sys.stderr,
        )
        return 2
    fresh = run_set(list(base["queries"]), sf)
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(fresh, fh, indent=1)
    failures = []
    for name, b in base["queries"].items():
        n = fresh["queries"][name]
        grew = (
            n["bytes"] > b["bytes"] * threshold
            and n["bytes"] - b["bytes"] > ABS_FLOOR_BYTES
        )
        ratio = n["bytes"] / b["bytes"] if b["bytes"] else float("inf")
        line = (f"{name}: {b['mb']} -> {n['mb']} MB ({ratio:.2f}x), "
                f"records {b['records']} -> {n['records']}")
        if grew:
            failures.append(line)
            print(f"BYTE REGRESSION {line}")
        elif ratio < 1 / threshold:
            print(f"shrunk {line}")
    print(json.dumps({
        "checked": len(base["queries"]),
        "threshold": threshold,
        "byte_regressions": len(failures),
        "sf_dir": sf,
    }))
    return 1 if failures else 0


def _usage(msg: str) -> int:
    print(f"error: {msg}\n", file=sys.stderr)
    print(__doc__)
    return 2


def main() -> int:
    argv = sys.argv[1:]
    if not argv:
        print(__doc__)
        return 2

    if argv[0] == "--baseline":
        if len(argv) < 2 or argv[1].startswith("--"):
            return _usage("--baseline requires an OUT.json operand")
        out_path = argv[1]
        rest = argv[2:]
        sf_dir = "/root/testdata/sf0.1"
        names = []
        while rest:
            if rest[0] == "--sf":
                if len(rest) < 2:
                    return _usage("--sf requires a directory operand")
                sf_dir, rest = rest[1], rest[2:]
            else:
                names.append(rest[0])
                rest = rest[1:]
        unknown = [n for n in names if n not in QUERIES]
        if unknown:
            return _usage(f"unknown queries: {unknown}")
        names = names or BASELINE_SET
        result = run_set(names, sf_dir)
        with open(out_path, "w") as fh:
            json.dump(result, fh, indent=1)
        print(json.dumps({
            "baseline": out_path,
            "queries": len(names),
            "total_mb": round(
                sum(q["bytes"] for q in result["queries"].values()) / 1e6, 2
            ),
            "sf_dir": sf_dir,
        }))
        return 0

    if argv[0] == "--check":
        if len(argv) < 2 or argv[1].startswith("--"):
            return _usage("--check requires a BASELINE.json operand")
        baseline_path = argv[1]
        rest = argv[2:]
        sf_dir, threshold, out_path = None, 1.2, None
        while rest:
            if rest[0] in ("--sf", "--threshold", "--out") and len(rest) < 2:
                return _usage(f"{rest[0]} requires an operand")
            if rest[0] == "--sf":
                sf_dir, rest = rest[1], rest[2:]
            elif rest[0] == "--threshold":
                try:
                    threshold = float(rest[1])
                except ValueError:
                    return _usage(f"--threshold wants a number, got {rest[1]!r}")
                rest = rest[2:]
            elif rest[0] == "--out":
                out_path, rest = rest[1], rest[2:]
            else:
                return _usage(f"unknown arg {rest[0]}")
        return check(baseline_path, sf_dir, threshold, out_path)

    # single-query mode (round-10 shape)
    name = argv[0]
    if name not in QUERIES:
        return _usage(f"unknown query {name!r}")
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    spark = _session(f"exchange_bytes_{name}")
    rec = measure(spark, name, sf_dir)
    out = {
        "query": name,
        "sf_dir": sf_dir,
        "rows": rec["rows"],
        "sec": rec["sec"],
        "shuffle_write_bytes": rec["bytes"],
        "shuffle_write_mb": round(rec["bytes"] / 1e6, 1),
        "shuffle_write_records": rec["records"],
        "stages": rec["stages"],
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
