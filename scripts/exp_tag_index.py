"""Measure what the separated tag relation actually saves: bytes READ
by a tag-equality query served through the tag index (day-partition
prune + id semi-join) vs the fallback ``tags[key] = value`` full-series
map-lookup scan — the reference's TODO table (``README.md:55``) doing
its job, quantified.

Builds a synthetic warehouse per factor (rows = 40k x f over 128 days;
a release-cohort tag localized to 1/16 of the days plus three
every-row tag keys for realistic map width), runs BOTH access paths to
completion, and reports REAL filesystem IO: /proc/<jvm>/io rchar
deltas. The stage metric ``inputBytes`` is not usable here — it
under-reports local parquet scans (measured 0.5 MB for a 21 MB full
scan) and counts in-memory block re-reads — while rchar sees exactly
what partition pruning, column pruning and row-group skipping avoid.
Shuffle bytes come from the stage-metrics reader
(``refluxdb_spark.profile``). The routed path must read less than the
fallback AND return identical rows; day-localization is the
selectivity regime the engine's cost rule routes (an every-day tag
costs out and serves from the scan — see
test_tag_scan_unselective_tag_costs_out_of_routing).

Measured on this box (2026-08-16, warm page cache): read ratio
routed/fallback 0.60x at x1, 0.26x at x3, 0.19x at x10, 0.14x at x30
(where routed is also 2.1x faster wall-clock) — the routed read is
footer-overhead-bound at toy sizes and approaches
(index range-file + matching days) / (full series) as data grows.

    python scripts/exp_tag_index.py [factors...]   # default: 1 3 10

Prints one markdown row per (factor, path) for SCALE.md, then a
verdict line per factor. Exit 2 on bad args; exit 1 if any factor's
routed path fails to read fewer bytes than fallback or row counts
diverge; exit 0 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from exp_exchange_bytes import _session  # noqa: E402

from refluxdb_spark import profile  # noqa: E402

ROWS_X1 = 40_000
DAYS = 128
LOCAL_DAYS = 8  # the tag value under test lives on DAYS/16... see build


def build_warehouse(spark, factor: int) -> "object":
    """Engine warehouse with one series spanning DAYS days; tag
    ``rel = r<day%16>`` so each value is localized to DAYS/16 days —
    selective enough that tag_scan's cost rule routes."""
    from pyspark.sql import functions as F

    from refluxdb_spark.engine import RefluxEngine

    path = f"/tmp/exp_tag_index/x{factor}"
    eng = RefluxEngine(spark, path)
    if not eng.series_exists("metrics") or not eng.tag_index_fresh():
        shutil.rmtree(path, ignore_errors=True)
        eng = RefluxEngine(spark, path)
        n = ROWS_X1 * factor
        step_ns = DAYS * 86_400_000_000_000 // n
        rows = (
            spark.range(n)
            .select(
                "id",
                (
                    F.lit(1_700_000_000_000_000_000) + F.col("id") * F.lit(step_ns)
                ).alias("ts"),
            )
            .select(
                F.lit("metrics").alias("series"),
                "ts",
                F.lit("value").alias("name"),
                (F.col("id") % 1000 / 10.0).alias("value"),
                F.create_map(
                    F.lit("rel"),
                    F.concat(
                        F.lit("r"),
                        (
                            F.dayofyear(F.expr("timestamp_micros(ts div 1000)"))
                            % 16
                        ).cast("string"),
                    ),
                    # realistic tag width: several keys per measurement
                    # — the fallback scan decodes the WHOLE map for
                    # every row; the routed path reads only the 'rel'
                    # index partition
                    F.lit("host"), F.concat(F.lit("node-"), (F.col("id") % 50).cast("string")),
                    F.lit("pod"), F.concat(F.lit("pod-"), (F.col("id") % 400).cast("string")),
                    F.lit("az"), F.concat(F.lit("zone-"), (F.col("id") % 6).cast("string")),
                ).alias("tags"),
            )
        )
        eng.write_dataframe(rows)
        eng.maintain_tag_index()
    return eng


def consume(df) -> int:
    """Materialize the query like a real reader would: touch id, time,
    value AND the tags map. A bare count() lets Catalyst prune the
    fallback scan to the single `tags` column, flattering it with
    bytes no real tag-filtered read achieves."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("id").alias("n"),
        F.sum("value").alias("sv"),
        F.max("time").alias("mt"),
        F.sum(F.size("tags")).alias("st"),
    ).collect()[0]
    return int(row.n)


def _jvm_rchar(spark) -> int:
    """Bytes the driver JVM (which, in local mode, IS every executor)
    has requested from the filesystem, cumulatively — /proc/<pid>/io
    rchar. This is the honest IO metric here: the stage metric
    ``inputBytes`` under-reports local parquet scans (measured 0.5 MB
    for a 21 MB full scan) and counts in-memory block re-reads, while
    rchar sees exactly what partition pruning, column pruning and
    row-group skipping avoid."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    raise RuntimeError("rchar not found in /proc/<jvm>/io")


def measure(spark, label: str, thunk) -> dict:
    spark.catalog.clearCache()

    def read_and_consume():
        r0 = _jvm_rchar(spark)
        rows = consume(thunk())
        return rows, _jvm_rchar(spark) - r0

    (rows, read), prof = profile.run(spark, read_and_consume)
    return {
        "label": label,
        "rows": rows,
        "sec": round(prof["wall_s"], 2),
        "input_bytes": read,
        "shuffle_bytes": prof["shuffle_write_bytes"],
    }


def main() -> int:
    args = sys.argv[1:]
    unknown = [a for a in args if a.startswith("--")]
    if unknown:
        print(f"error: unknown flag(s): {' '.join(unknown)} (none known)",
              file=sys.stderr)
        return 2
    try:
        factors = [int(a) for a in args] or [1, 3, 10]
    except ValueError as e:
        print(f"error: factors must be integers ({e})", file=sys.stderr)
        return 2
    if any(f < 1 for f in factors):
        print(f"error: factors must be >= 1, got {factors}", file=sys.stderr)
        return 2

    spark = _session("exp_tag_index")
    print("| factor | path | rows | input MB | shuffle MB | sec | read ratio |")
    print("|---|---|---|---|---|---|---|")
    failures = []
    for f in factors:
        eng = build_warehouse(spark, f)
        # warm both paths once so file-listing / first-touch costs
        # never land inside the measured stage set
        consume(eng.tag_scan("metrics", "rel", "r3"))
        consume(eng.tag_scan("metrics", "rel", "r3", prefer_index=False))
        routed = measure(
            spark, "routed", lambda: eng.tag_scan("metrics", "rel", "r3")
        )
        fallback = measure(
            spark,
            "map-scan",
            lambda: eng.tag_scan("metrics", "rel", "r3", prefer_index=False),
        )
        ratio = (
            routed["input_bytes"] / fallback["input_bytes"]
            if fallback["input_bytes"]
            else float("inf")
        )
        for r in (routed, fallback):
            print(
                f"| x{f} | {r['label']} | {r['rows']} "
                f"| {r['input_bytes'] / 1e6:.2f} | {r['shuffle_bytes'] / 1e6:.2f} "
                f"| {r['sec']} | {ratio:.3f}x |"
            )
        if routed["rows"] != fallback["rows"]:
            failures.append(f"x{f}: row mismatch {routed['rows']} != {fallback['rows']}")
        if routed["input_bytes"] >= fallback["input_bytes"]:
            failures.append(
                f"x{f}: routed read {routed['input_bytes']} >= "
                f"fallback {fallback['input_bytes']}"
            )
    for msg in failures:
        print(f"FAIL {msg}", file=sys.stderr)
    if not failures:
        print("tag-index routed path reads fewer bytes than the map-scan "
              "at every factor, with identical results")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
