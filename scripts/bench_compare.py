"""Compare two bench artifacts (BENCH_r{N}.json, bench_latest.json, or
raw bench.py stdout) query by query.

The driver's BENCH_r{N}.json stores only the TAIL of bench.py stdout.
Since r10 that tail contains the COMPACT per-query line (values array
in bench.HEADLINE order + a names_md5 guard), so every timing is
recoverable from the artifact alone; older artifacts expose just the
last ~58 named pairs, which this tool scans as a fallback. Either way
it intersects the two sides and reports the common-query total ratio
plus every per-query regression above the threshold — the r7 verdict's
ratchet ("total <= prior round, zero >1.3x regressions") as one
command:

    python scripts/bench_compare.py BENCH_r09.json bench_latest.json [1.3]

Pass --calibrated to normalize the wall-clock compare by each
artifact's recorded ``calibration_sec`` (the fixed JVM probe bench.py
runs before the queries, whose cost is independent of this repo's
code): the new side's times are scaled by calibration_base /
calibration_new before ratio-ing, and BOTH the raw and normalized
totals are printed. Box/session speed drift moves the probe and the
queries together (r13: probe +8%, total +8%, five false >1.3x
per-query flags), so the normalized ratio is the one the regression
listing and exit code use — the byte diff (--bytes) remains the
claim of record; this just adjudicates wall-clock noise with one
command instead of prose (VERDICT r13 item 2):

    python scripts/bench_compare.py --calibrated BENCH_r12.json BENCH_r13.json

Pass --bytes to diff two exchange-bytes baseline files (written by
scripts/exp_exchange_bytes.py --baseline/--out) instead of timings:

    python scripts/bench_compare.py --bytes base.json new.json [1.2]

Pass --cpu to diff the executor-CPU axis (bench.py records per-query
executor CPU into queries_cpu): CPU is insensitive to
the scheduler stalls that spread same-code wall totals 50%+, so this
ratio makes positive claims without a calibration probe. Needs FULL
bench records (bench_latest.json per round) — driver tails truncate
the head that carries queries_cpu:

    python scripts/bench_compare.py --cpu prev_latest.json bench_latest.json [1.3]

Raw stdout (full JSON line), bench_latest.json, and driver tails mix
freely; timings keyed "reps"/"sf"/"calibration_sec"/"value"/
"n_queries" are excluded.

Exit codes: 0 = clean compare; 1 = regressions; 2 = usage error /
no common queries; 3 =
--calibrated was requested but a side records no usable
calibration_sec, so only the RAW compare ran and it happened to read
clean — scripted callers must treat 3 as "not certified", not as
clean (ADVICE r14: on a box that got faster, the raw compare can
read clean over a regression normalization would have flagged);
4 = (--bytes) bytes clean but shuffle-records NOT exact on every
common query (drifted, or missing on a side) — the "n/n records
exact" certification does not hold even though no byte threshold
tripped (ADVICE r15).
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, names_digest  # noqa: E402

#: stale names_md5 digests already warned about (dedupe per process)
_WARNED_MD5: set = set()

_META = {
    "reps",
    "sf",
    "calibration_sec",
    "calibration_py_sec",
    "calibration_end_sec",
    "value",
    "n_queries",
}


def _decode_compact(line: str) -> dict[str, float] | None:
    """Decode a headline_query_times_compact line by zipping its values
    with bench.HEADLINE — valid only while the names_md5 guard matches
    the current HEADLINE list (i.e. the list is unchanged since the
    artifact was recorded)."""
    try:
        rec = json.loads(line)
    except json.JSONDecodeError:
        return None
    if not (isinstance(rec, dict) and rec.get("metric") == "headline_query_times_compact"):
        return None
    if rec.get("names_md5") == names_digest(HEADLINE) and len(
        rec.get("values", [])
    ) == len(HEADLINE):
        return dict(zip(HEADLINE, (float(v) for v in rec["values"])))
    # a compact line exists but was recorded against a DIFFERENT
    # HEADLINE list (names_md5 mismatch) — the caller falls back to the
    # lossy ~58-pair regex scan; say so instead of degrading silently,
    # but only once per distinct stale digest (a mixed artifact can
    # hold several stale compact lines)
    stale = rec.get("names_md5")
    if stale not in _WARNED_MD5:
        _WARNED_MD5.add(stale)
        print(
            f"warning: compact line found but names_md5 "
            f"{stale!r} != current HEADLINE "
            f"{names_digest(HEADLINE)!r} ({len(rec.get('values', []))} vs "
            f"{len(HEADLINE)} queries) — falling back to the lossy "
            f"named-pair scan",
            file=sys.stderr,
        )
    return None


def load_timings(path: str) -> dict[str, float]:
    text = open(path).read()
    try:
        d = json.loads(text)
        if isinstance(d, dict) and "tail" in d:  # driver artifact
            text = d["tail"]
        elif isinstance(d, dict) and "queries" in d:  # full bench line
            return {k: float(v) for k, v in d["queries"].items()}
    except json.JSONDecodeError:
        pass  # raw stdout: fall through to the line scan
    # LAST-wins, matching load_calibration: a tail holding two bench
    # runs must pair the final run's timings with the final run's probe
    # — taking the FIRST compact line here paired run-1 timings with
    # run-2's probe, the exact skew the r14 fix aimed at (ADVICE r15)
    for line in reversed(text.splitlines()):
        full = _decode_compact(line.strip())
        if full is not None:
            return full
    pairs = re.findall(r'"([a-z0-9_]+)": ([0-9.]+)', text)
    return {k: float(v) for k, v in pairs if k not in _META}


def load_calibration(path: str, key: str = "calibration_sec") -> float | None:
    """Extract a recorded calibration probe (default: bench.py's fixed
    JVM probe; pass "calibration_py_sec" for the pandas-path probe).
    Handles the same three shapes as load_timings: the full bench
    record (bench_latest.json), a driver BENCH_r{N} tail, and raw
    stdout. None when the artifact predates the probe."""
    text = open(path).read()
    try:
        d = json.loads(text)
        if isinstance(d, dict) and key in d:
            return float(d[key])
        if isinstance(d, dict) and "tail" in d:
            text = d["tail"]
    except json.JSONDecodeError:
        pass
    # last-wins, mirroring load_timings' pair scan: a tail holding two
    # bench runs must pair the LAST run's probe with the LAST run's
    # timings, not skew the scale with the first run's probe (ADVICE r14)
    hits = re.findall(rf'"{key}": ([0-9.]+)', text)
    return float(hits[-1]) if hits else None


def compare_bytes(base_path: str, new_path: str, thresh: float) -> int:
    """Diff two exchange-bytes baseline files (the JSON written by
    scripts/exp_exchange_bytes.py --baseline / --out) without
    re-measuring anything — the byte-level twin of the timing compare.
    Bytes are deterministic where sf0.1 wall-time is ±7% noise, so
    this is the primary round-over-round plan-regression signal."""
    a = json.load(open(base_path))["queries"]
    b = json.load(open(new_path))["queries"]
    common = sorted(set(a) & set(b))
    if not common:
        print("no common queries between the two byte baselines")
        return 2
    ta, tb = sum(a[q]["bytes"] for q in common), sum(b[q]["bytes"] for q in common)
    # zero guards: a baseline row can legitimately record 0 bytes
    # (zero-exchange plans like reflux_limit_offset), so per-query
    # ratios follow check()'s convention — growth from 0 past the
    # floor reads inf. The header total is different: 0 -> 0 is
    # NO CHANGE (ratio 1.00), only 0 -> nonzero reads inf (ADVICE r12)
    total_ratio = tb / ta if ta else (float("inf") if tb else 1.0)
    print(f"common queries: {len(common)}  base {ta / 1e6:.2f} MB  "
          f"new {tb / 1e6:.2f} MB  ratio {total_ratio:.2f}x")
    # the round-gate certification line the verdicts quote: shuffle
    # records are deterministic (exact on a healthy plan), bytes carry
    # sub-0.1% payload jitter — summarize both so the gate is one
    # command instead of an ad-hoc post-processing script
    # exact requires BOTH sides to actually record the field: two
    # record-less legacy profiles must not certify n/n exact via
    # None == None (ADVICE r15); rows missing the field are reported
    # separately so the gate line can't overstate its evidence
    rec_missing = [
        q for q in common
        if a[q].get("records") is None or b[q].get("records") is None
    ]
    rec_exact = sum(
        1 for q in common
        if q not in rec_missing and a[q]["records"] == b[q]["records"]
    )
    worst_q, worst_dev = None, 0.0
    for q in common:
        ba, bb = a[q]["bytes"], b[q]["bytes"]
        dev = abs(bb - ba) / ba * 100 if ba else (0.0 if not bb else float("inf"))
        if dev > worst_dev:
            worst_q, worst_dev = q, dev
    print(f"shuffle-records exact: {rec_exact}/{len(common)}  "
          f"worst byte deviation: {worst_dev:.4f}%"
          + (f" ({worst_q})" if worst_q else ""))
    if rec_missing:
        print(f"  records-missing rows (excluded from exact count): "
              f"{len(rec_missing)}: {' '.join(rec_missing[:8])}"
              + (" …" if len(rec_missing) > 8 else ""))
    regressions = []
    for q in common:
        ba, bb = a[q]["bytes"], b[q]["bytes"]
        # same 64 KiB absolute floor as exp_exchange_bytes --check:
        # tiny exchanges can't flag on payload jitter
        if bb > ba * thresh and bb - ba > 64 * 1024:
            regressions.append((q, ba, bb, bb / ba if ba else float("inf")))
    for q, ba, bb, r in sorted(regressions, key=lambda t: -t[3]):
        print(f"  BYTE REGRESSION {q}: {ba / 1e6:.2f} MB -> {bb / 1e6:.2f} MB ({r:.2f}x)")
    if not regressions:
        print(f"zero byte regressions > {thresh}x")
    if regressions:
        return 1
    # records drift without a byte regression still breaks the
    # "n/n records exact" claim of record — scripted round gates must
    # not have to parse stdout to see it (ADVICE r15): distinct exit 4
    if rec_exact < len(common):
        print(f"warning: shuffle-records NOT exact on "
              f"{len(common) - rec_exact}/{len(common)} queries "
              f"(drifted or missing) — bytes are clean but the "
              f"records-exact certification does not hold; exit 4",
              file=sys.stderr)
        return 4
    return 0


def load_cpu(path: str) -> dict[str, float]:
    """Per-query executor-CPU seconds from a FULL bench record
    (bench_latest.json / raw head line). Driver BENCH_r{N} tails
    truncate the head that carries queries_cpu, so they decode to {} —
    keep each round's bench_latest.json (committed) as the CPU
    artifact of record and diff those."""
    text = open(path).read()
    try:
        d = json.loads(text)
        if isinstance(d, dict) and "queries_cpu" in d:
            return {k: float(v) for k, v in d["queries_cpu"].items()}
        if isinstance(d, dict) and "tail" in d:
            text = d["tail"]
    except json.JSONDecodeError:
        pass
    for line in text.splitlines():
        try:
            rec = json.loads(line.strip())
        except json.JSONDecodeError:
            continue
        if isinstance(rec, dict) and "queries_cpu" in rec:
            return {k: float(v) for k, v in rec["queries_cpu"].items()}
    return {}


def compare_cpu(base_path: str, new_path: str, thresh: float) -> int:
    """Diff two artifacts on the executor-CPU axis (VERDICT r17 item
    4): CPU time is insensitive to the scheduler stalls and box
    contention that spread same-code WALL totals 50%+ on this host, so
    the CPU ratio can make positive round-over-round claims without a
    calibration probe. Exit 0 clean / 1 regressions / 2 no data."""
    base, new = load_cpu(base_path), load_cpu(new_path)
    missing = [p for p, d in ((base_path, base), (new_path, new)) if not d]
    if missing:
        print(f"error: no queries_cpu in: {' '.join(missing)} — --cpu "
              f"needs FULL bench records (bench_latest.json), not driver "
              f"tails", file=sys.stderr)
        return 2
    common = sorted(set(base) & set(new))
    if not common:
        print("no common queries between the two cpu records")
        return 2
    tb, tn = sum(base[q] for q in common), sum(new[q] for q in common)
    print(f"cpu common queries: {len(common)}  base total {tb:.2f}s  "
          f"new total {tn:.2f}s  ratio {tn / tb:.2f}x")
    regressions = [
        (q, base[q], new[q], new[q] / base[q])
        for q in common
        # 0.05s floor: CPU is steadier than wall, so the noise floor
        # is tighter than compare_timings' 0.15s
        if new[q] > base[q] * thresh and new[q] - base[q] > 0.05
    ]
    for q, b, n, r in sorted(regressions, key=lambda t: -t[3]):
        print(f"  CPU REGRESSION {q}: {b:.2f}s -> {n:.2f}s ({r:.2f}x)")
    if not regressions:
        print(f"zero cpu regressions > {thresh}x")
    return 1 if regressions else 0


def compare_timings(
    base_path: str, new_path: str, thresh: float, calibrated: bool = False
) -> int:
    base, new = load_timings(base_path), load_timings(new_path)
    common = sorted(set(base) & set(new))
    if not common:
        print("no common queries between the two artifacts")
        return 2
    tb, tn = sum(base[q] for q in common), sum(new[q] for q in common)
    print(f"common queries: {len(common)}  "
          f"base total {tb:.2f}s  new total {tn:.2f}s  ratio {tn / tb:.2f}x")
    scale = 1.0
    degraded = False
    if calibrated:
        cb, cn = load_calibration(base_path), load_calibration(new_path)
        # explicit None/zero checks: a recorded probe of exactly 0.0
        # must not silently read as "absent" (and cannot scale anyway)
        if cb is not None and cb > 0 and cn is not None and cn > 0:
            # box/session drift moves the probe and the queries
            # together, so dividing it out isolates code-attributable
            # change; the listing and exit code below use the
            # normalized times, the raw header above stays printed
            scale = cb / cn
            tnc = tn * scale
            print(f"calibration: base {cb:.3f}s  new {cn:.3f}s  — "
                  f"scaling new times by {scale:.3f}; normalized "
                  f"new total {tnc:.2f}s  ratio {tnc / tb:.2f}x")
            # the JVM probe is blind to Python/Arrow-path drift (it
            # stayed 0.28-0.33 s through a measured 24% pandas-UDF
            # swing), so surface the py-probe ratio as a diagnostic —
            # it is NOT folded into the scaling: a flag on a
            # pandas-heavy query with a drifted py-probe is still box
            # noise, adjudicated by the byte gate as always
            pb = load_calibration(base_path, "calibration_py_sec")
            pn = load_calibration(new_path, "calibration_py_sec")
            if pb is not None and pb > 0 and pn is not None and pn > 0:
                print(f"py-probe: base {pb:.3f}s  new {pn:.3f}s  "
                      f"({pn / pb:.2f}x) — python-path drift, not "
                      f"normalized; weigh it for pandas-UDF-heavy flags")
        else:
            # name EVERY side that lacks a usable probe, not just one
            missing = [s for s, v in (("base", cb), ("new", cn))
                       if v is None or v <= 0]
            print(f"warning: --calibrated requested but the "
                  f"{' and '.join(missing)} artifact"
                  f"{'s record' if len(missing) > 1 else ' records'} no "
                  f"usable calibration_sec — raw compare only; a clean "
                  f"result exits 3, not 0", file=sys.stderr)
            degraded = True
    regressions = [
        (q, base[q], new[q] * scale, new[q] * scale / base[q])
        for q in common
        # floor of 0.15s: sub-frame timings are pure scheduler noise
        if new[q] * scale > base[q] * thresh
        and new[q] * scale - base[q] > 0.15
    ]
    tag = "REGRESSION (calibrated)" if scale != 1.0 else "REGRESSION"
    for q, b, n, r in sorted(regressions, key=lambda t: -t[3]):
        print(f"  {tag} {q}: {b:.2f}s -> {n:.2f}s ({r:.2f}x)")
    if not regressions:
        print(f"zero regressions > {thresh}x"
              + (" (calibrated)" if scale != 1.0 else ""))
    if regressions:
        return 1
    # degraded fallback must be distinguishable from a clean calibrated
    # compare: automation treats 3 as "re-run with probes", never clean
    return 3 if degraded else 0


def main() -> int:
    flags = {"--bytes", "--calibrated", "--cpu"}
    # an unknown --flag (e.g. the typo --calibrate) must not fall
    # through as a positional and reach open() as a "file path"
    unknown = [a for a in sys.argv[1:] if a.startswith("--") and a not in flags]
    if unknown:
        print(f"unknown flag(s): {' '.join(unknown)} "
              f"(known: {' '.join(sorted(flags))})", file=sys.stderr)
        print(__doc__)
        return 2
    args = [a for a in sys.argv[1:] if a not in flags]
    if len(args) < 2:
        print(__doc__)
        return 2
    if "--bytes" in sys.argv and "--cpu" in sys.argv:
        print("error: --bytes and --cpu are mutually exclusive",
              file=sys.stderr)
        return 2
    if "--bytes" in sys.argv:
        if "--calibrated" in sys.argv:
            # bytes are deterministic — there is nothing to normalize;
            # saying so beats silently ignoring the flag
            print("warning: --calibrated has no effect with --bytes "
                  "(shuffle bytes are not wall-clock)", file=sys.stderr)
        return compare_bytes(
            args[0], args[1], float(args[2]) if len(args) > 2 else 1.2
        )
    if "--cpu" in sys.argv:
        if "--calibrated" in sys.argv:
            print("warning: --calibrated has no effect with --cpu "
                  "(CPU time needs no box-speed probe)", file=sys.stderr)
        return compare_cpu(
            args[0], args[1], float(args[2]) if len(args) > 2 else 1.3
        )
    return compare_timings(
        args[0], args[1],
        float(args[2]) if len(args) > 2 else 1.3,
        calibrated="--calibrated" in sys.argv,
    )


if __name__ == "__main__":
    sys.exit(main())
