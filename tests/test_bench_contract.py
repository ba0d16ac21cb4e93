"""Bench stdout contract: the driver's BENCH_r{N}.json keeps only a
~2000-char TAIL of bench.py stdout, so the LAST line must always be a
complete, parseable JSON record carrying the headline total (r7's
artifact had "parsed": null because the single full line overflowed
the window). No Spark session needed — the emit function is pure."""

import json

from bench import HEADLINE, TAIL_SUMMARY_BUDGET, emit_lines
from refluxdb_spark.queries import ORACLES, QUERIES


def test_emit_three_parseable_lines_with_matching_totals():
    timings = {f"q{i}": 0.5 for i in range(98)}
    lines = emit_lines(timings, reps=3, calibration=0.28, sf=0.1)
    assert len(lines) == 3
    head, compact, summary = (json.loads(l) for l in lines)
    assert head["queries"] == timings
    # r19: short names all fit the tail budget -> full map, no omission
    assert summary["queries"] == timings
    assert summary["q_omitted"] == 0 and summary["q_omitted_sec"] == 0.0
    assert summary["value"] == head["value"] == 49.0
    assert summary["n_queries"] == 98
    for rec in (head, summary):
        assert (rec["metric"], rec["unit"], rec["sf"], rec["reps"]) == (
            "headline_queries_total_time", "sec", 0.1, 3,
        )
    assert compact["metric"] == "headline_query_times_compact"
    assert compact["values"] == [0.5] * 98


def test_compact_line_carries_every_timing_within_tail_window():
    """VERDICT r9 item 3: the per-query record must survive the
    driver's ~2000-char tail capture — the compact values line plus
    the final summary line together must fit with room for a truncated
    fragment of the full line in front, and round-trip every timing
    via bench_compare's decoder."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    import bench_compare as bc
    from bench import names_digest

    timings = {n: round(0.1 + i / 997, 3) for i, n in enumerate(HEADLINE)}
    # worst-case rep-count payload: every query in the 7-rep cohort
    rep_counts = {n: 7 for n in HEADLINE}
    lines = emit_lines(timings, reps=3, calibration=0.28, sf=0.1, rep_counts=rep_counts)
    compact = json.loads(lines[1])
    assert compact["names_md5"] == names_digest(list(HEADLINE))
    assert compact["reps_digits"] == "7" * len(HEADLINE)
    assert json.loads(lines[0])["rep_counts"] == rep_counts
    # r19: the summary line now spends the tail window on the driver-
    # parseable slowest-query subset, so compact+summary together may
    # exceed 2000 chars — the contract is: the FINAL line alone always
    # survives the window, and the compact line still round-trips every
    # timing for full-stdout/bench_latest readers.
    assert len(lines[2]) <= 1950, "final line must survive the tail window"
    decoded = bc._decode_compact(lines[1])
    assert decoded == timings


def test_summary_line_fits_driver_tail_window():
    """The final line must survive a 2000-char tail capture whole. When
    every name cannot fit (136 real names need ~3.9 KB), the queries
    subset is SLOWEST-FIRST and the omission is declared explicitly
    (VERDICT r18 item 2 / the no-silent-caps rule)."""
    timings = {
        f"some_rather_long_query_name_{i:03d}": round(0.1 + i * 0.01, 3)
        for i in range(98)
    }
    lines = emit_lines(timings, reps=3, calibration=0.28, sf=0.1)
    assert len(lines[-1]) <= 1950
    summary = json.loads(lines[-1])
    assert summary["value"] == round(sum(timings.values()), 3)
    sub = summary["queries"]
    assert 0 < len(sub) < len(timings)  # names too long to all fit
    # every included entry is real, and the subset is the slowest cohort
    assert all(timings[k] == v for k, v in sub.items())
    omitted = {k: v for k, v in timings.items() if k not in sub}
    assert min(sub.values()) >= max(omitted.values())
    assert summary["q_omitted"] == len(omitted)
    assert summary["q_omitted_sec"] == round(sum(omitted.values()), 3)


def test_summary_line_fits_when_omitted_sum_prints_wider():
    """The fill reserves ``q_omitted_sec`` at the total's width, but the
    final omitted sum can print wider: a total of 49.0 can leave 48.999
    omitted. A slowest entry that fits only under the narrow reserve
    must be dropped again, so the final line stays within the budget."""
    rest = {f"q{i:05d}": 0.001 for i in range(48999)}  # total 49.0

    def final(n: int) -> str:
        return emit_lines({"a" * n: 0.001, **rest}, reps=3, calibration=0.28, sf=0.1)[-1]

    # a name too long to fit gives the line with no query; the name
    # that fills it to exactly the budget under the 49.0 reserve is the
    # width-swap case (its entry costs the name plus '"": 0.001')
    edge = TAIL_SUMMARY_BUDGET - len(final(TAIL_SUMMARY_BUDGET)) - len('"": 0.001')
    for n in (edge - 1, edge):
        line = final(n)
        summary = json.loads(line)
        assert len(line) <= TAIL_SUMMARY_BUDGET, (n, len(line))
        assert summary["value"] == 49.0
        assert summary["queries"] == {}
        assert (summary["q_omitted"], summary["q_omitted_sec"]) == (49000, 49.0)
    # one char shorter still than the swap needs: the entry stays
    summary = json.loads(final(edge - 2))
    assert list(summary["queries"]) == ["a" * (edge - 2)]
    assert (summary["q_omitted"], summary["q_omitted_sec"]) == (48999, 48.999)


def test_headline_names_are_registered_and_oracled():
    missing = [n for n in HEADLINE if n not in QUERIES]
    assert not missing, f"HEADLINE names not in QUERIES: {missing}"
    unoracled = [n for n in HEADLINE if n not in ORACLES]
    assert not unoracled, f"HEADLINE names without oracle: {unoracled}"


def test_every_headline_query_has_an_exchange_budget():
    """The shuffle-budget fence only catches creep for queries it
    lists; as of r8 the WHOLE bench set is pinned, so a new HEADLINE
    entry without a measured budget is itself a failure."""
    import ast
    import os

    src = open(
        os.path.join(os.path.dirname(__file__), "test_plans.py")
    ).read()
    tree = ast.parse(src)
    budgets: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "budgets" for t in node.targets
        ):
            budgets = {
                k.value for k in node.value.keys if isinstance(k, ast.Constant)
            }
    assert budgets, "budgets dict not found in test_plans.py"
    missing = [n for n in HEADLINE if n not in budgets]
    assert not missing, f"HEADLINE queries without exchange budget: {missing}"


def test_compact_decode_warns_on_names_md5_mismatch(capsys):
    """ADVICE r10: after a HEADLINE edit, older compact lines become
    undecodable — the decoder must say so on stderr instead of silently
    degrading to the lossy regex pair scan."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    import bench_compare as bc

    stale = json.dumps(
        {
            "metric": "headline_query_times_compact",
            "order": "bench.HEADLINE",
            "names_md5": "deadbeef0000",
            "values": [0.1, 0.2],
        }
    )
    bc._WARNED_MD5.clear()  # order-independence vs the dedupe test
    assert bc._decode_compact(stale) is None
    err = capsys.readouterr().err
    assert "names_md5" in err and "deadbeef0000" in err
    # ADVICE r11: a mixed artifact holding several stale compact lines
    # must not repeat the same warning per line — once per digest
    assert bc._decode_compact(stale) is None
    assert capsys.readouterr().err == ""
    # the happy path stays silent
    timings = {n: 0.5 for n in HEADLINE}
    lines = emit_lines(timings, reps=3, calibration=0.28, sf=0.1)
    assert bc._decode_compact(lines[1]) == timings
    assert capsys.readouterr().err == ""


def test_calibration_fields_ride_head_and_summary_not_compact():
    """Round 11: the JVM probe is blind to Python-path VM drift
    (measured 0.316 vs 0.331 across two VMs whose pandas-UDF workloads
    differed 1.3-1.4x on byte-identical code), so the artifact carries
    a py-side probe and an end-of-sweep probe. Both must survive the
    tail window via the short summary line."""
    timings = {f"q{i}": 0.5 for i in range(98)}
    lines = emit_lines(
        timings, reps=3, calibration=0.3, sf=0.1,
        calibration_py=1.2, calibration_end=0.35,
    )
    head, compact, summary = (json.loads(l) for l in lines)
    for rec in (head, summary):
        assert rec["calibration_py_sec"] == 1.2
        assert rec["calibration_end_sec"] == 0.35
    assert "calibration_py_sec" not in compact
    assert len(lines[-1]) <= 1950
    # omitted -> absent (old-artifact shape unchanged)
    old = json.loads(emit_lines(timings, 3, 0.3, 0.1)[0])
    assert "calibration_py_sec" not in old and "calibration_end_sec" not in old


def test_compare_bytes_zero_byte_rows_cannot_crash(tmp_path, capsys):
    """ADVICE r11: the full-registry profile legitimately holds
    zero-exchange rows (e.g. reflux_limit_offset) — a later diff where
    such a query grows past the 64 KiB floor must report inf-ratio
    regression, not raise ZeroDivisionError; an all-zero base total
    with an all-zero new total is NO CHANGE and must read 1.00x, not
    'infx' (ADVICE r12 — inf is reserved for genuine 0 -> nonzero
    growth)."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    import bench_compare as bc

    def profile(path, rows):
        p = tmp_path / path
        p.write_text(json.dumps({
            "sf_dir": "x",
            "queries": {q: {"bytes": b, "mb": b / 1e6, "records": b}
                        for q, b in rows.items()},
        }))
        return str(p)

    # zero-byte row grows past the floor -> flagged as inf, exit 1
    base = profile("a.json", {"zq": 0, "ok": 1000})
    new = profile("b.json", {"zq": 200_000, "ok": 1000})
    assert bc.compare_bytes(base, new, 1.2) == 1
    out = capsys.readouterr().out
    assert "BYTE REGRESSION zq" in out and "infx" in out
    # all-zero base AND new totals -> no change, header reads 1.00x
    base0 = profile("c.json", {"zq": 0})
    new0 = profile("d.json", {"zq": 0})
    assert bc.compare_bytes(base0, new0, 1.2) == 0
    out0 = capsys.readouterr().out
    assert "ratio 1.00x" in out0 and "infx" not in out0
    # 0 -> nonzero total still reads inf (genuine growth from nothing);
    # under the 64 KiB floor it is not a BYTE regression, but the
    # records drift (0 -> 10) breaks records-exact certification, so
    # the exit is 4 (ADVICE r15), not 0 and not 1
    newg = profile("e.json", {"zq": 10})
    assert bc.compare_bytes(base0, newg, 1.2) == 4
    assert "infx" in capsys.readouterr().out


def test_compare_bytes_prints_certification_summary(tmp_path, capsys):
    """The round-gate certification line the verdicts quote
    (records-exact count + worst byte deviation) prints from
    compare_bytes itself — one command, no ad-hoc post-processing.
    A zero-byte row that stays zero counts as 0% deviation, and a
    changed record count is visible in the exact-count even when the
    byte drift stays under the regression threshold."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    import bench_compare as bc

    def profile(path, rows):
        p = tmp_path / path
        p.write_text(json.dumps({
            "sf_dir": "x",
            "queries": {q: {"bytes": b, "mb": b / 1e6, "records": r}
                        for q, (b, r) in rows.items()},
        }))
        return str(p)

    base = profile("a.json", {"qa": (1_000_000, 50), "qb": (0, 0),
                              "qc": (2_000_000, 99)})
    # qa drifts 0.05% byte-only; qc keeps bytes but CHANGES records —
    # bytes are clean but the records-exact certification fails:
    # distinct exit 4 so scripted gates see it without parsing stdout
    # (ADVICE r15)
    new = profile("b.json", {"qa": (1_000_500, 50), "qb": (0, 0),
                             "qc": (2_000_000, 120)})
    assert bc.compare_bytes(base, new, 1.2) == 4
    captured = capsys.readouterr()
    out = captured.out
    assert "shuffle-records exact: 2/3" in out
    assert "records-exact certification does not hold" in captured.err
    assert "worst byte deviation: 0.0500% (qa)" in out
    # identical profiles certify 3/3 exact at 0% deviation, exit 0
    assert bc.compare_bytes(base, base, 1.2) == 0
    assert "shuffle-records exact: 3/3" in capsys.readouterr().out
    # a query in only one profile is outside the compare
    extra = profile("c.json", {"qa": (1_000_000, 50), "qb": (0, 0),
                               "qc": (2_000_000, 99), "qx": (900_000, 7)})
    assert bc.compare_bytes(base, extra, 1.2) == 0
    out = capsys.readouterr().out
    assert "common queries: 3" in out and "shuffle-records exact: 3/3" in out


def test_compare_bytes_missing_records_not_counted_exact(tmp_path, capsys):
    """ADVICE r15: two record-less (legacy) profiles must not certify
    n/n records-exact via None == None — missing rows are excluded
    from the exact count, reported separately, and break certification
    (exit 4) even though no byte threshold trips."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    import bench_compare as bc

    def profile(path, rows):
        p = tmp_path / path
        p.write_text(json.dumps({"sf_dir": "x", "queries": rows}))
        return str(p)

    legacy = profile("l1.json", {"qa": {"bytes": 1000, "mb": 0.001},
                                 "qb": {"bytes": 500, "mb": 0.0005}})
    legacy2 = profile("l2.json", {"qa": {"bytes": 1000, "mb": 0.001},
                                  "qb": {"bytes": 500, "mb": 0.0005}})
    assert bc.compare_bytes(legacy, legacy2, 1.2) == 4
    out = capsys.readouterr().out
    assert "shuffle-records exact: 0/2" in out
    assert "records-missing rows (excluded from exact count): 2" in out
    # one-sided missing: the recorded side cannot vouch for the other
    mixed = profile("m.json", {"qa": {"bytes": 1000, "mb": 0.001,
                                      "records": 7},
                               "qb": {"bytes": 500, "mb": 0.0005,
                                      "records": 3}})
    assert bc.compare_bytes(legacy, mixed, 1.2) == 4
    assert "shuffle-records exact: 0/2" in capsys.readouterr().out


def test_compare_timings_calibrated_normalizes_box_noise(tmp_path, capsys):
    """VERDICT r13 item 2: r13's five >1.3x per-query flags were box
    noise the ~8% calibration drift predicted. --calibrated scales the
    new side by calibration_base/calibration_new before ratio-ing, so
    a uniformly slower session reads clean while a genuine per-query
    regression still flags; both raw and normalized totals print."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    import bench_compare as bc

    def artifact(name, queries, calibration=None, py=None):
        rec = {"metric": "headline_queries_total_time", "queries": queries}
        if calibration is not None:
            rec["calibration_sec"] = calibration
        if py is not None:
            rec["calibration_py_sec"] = py
        p = tmp_path / name
        p.write_text(json.dumps(rec))
        return str(p)

    base = artifact("base.json", {"qa": 1.0, "qb": 0.5},
                    calibration=0.30, py=0.40)
    # whole session (probe AND queries) 1.5x slower: pure box noise
    noisy = artifact("noisy.json", {"qa": 1.5, "qb": 0.75},
                     calibration=0.45, py=0.52)
    assert bc.compare_timings(base, noisy, 1.3, calibrated=False) == 1
    assert "REGRESSION qa" in capsys.readouterr().out
    assert bc.compare_timings(base, noisy, 1.3, calibrated=True) == 0
    out = capsys.readouterr().out
    assert "scaling new times by 0.667" in out
    assert "ratio 1.50x" in out and "ratio 1.00x" in out  # raw AND normalized
    # the pandas-path probe (which the JVM probe is blind to) prints
    # as a diagnostic ratio but is NOT folded into the scaling
    assert "py-probe" in out and "(1.30x)" in out and "not" in out
    # a genuine regression is NOT absolved: qa 3x slower against a
    # 1.5x-drifted probe is still 2x after normalization
    really = artifact("real.json", {"qa": 3.0, "qb": 0.75}, calibration=0.45)
    assert bc.compare_timings(base, really, 1.3, calibrated=True) == 1
    assert "REGRESSION (calibrated) qa" in capsys.readouterr().out
    # artifact without a probe: warn, fall back to the raw compare —
    # but a CLEAN raw result exits 3, not 0, so automation can tell
    # "clean calibrated compare" from "calibration unavailable"
    # (ADVICE r14: raw-clean can mask a regression on a faster box)
    old = artifact("old.json", {"qa": 1.0, "qb": 0.5})
    assert bc.compare_timings(base, old, 1.3, calibrated=True) == 3
    err = capsys.readouterr().err
    assert "calibration_sec" in err and "new" in err and "exits 3" in err
    # a raw-visible regression still exits 1 under the fallback (it
    # already demands attention; 3 is only for the deceptive clean case)
    slow = artifact("slow.json", {"qa": 3.0, "qb": 0.5})
    assert bc.compare_timings(base, slow, 1.3, calibrated=True) == 1
    capsys.readouterr()
    # BOTH sides probe-less: the warning names both, not just "base"
    old2 = artifact("old2.json", {"qa": 1.0, "qb": 0.5})
    assert bc.compare_timings(old, old2, 1.3, calibrated=True) == 3
    err = capsys.readouterr().err
    assert "base and new" in err
    # a recorded probe of exactly 0.0 is unusable, not "absent-looking
    # but truthy-crashy": it degrades cleanly and is named
    zero = artifact("zero.json", {"qa": 1.0, "qb": 0.5}, calibration=0.0)
    assert bc.compare_timings(base, zero, 1.3, calibrated=True) == 3
    assert "new" in capsys.readouterr().err


def test_load_calibration_last_wins_on_mixed_tails(tmp_path):
    """ADVICE r14: a tail holding TWO bench runs must pair the LAST
    run's probe with the LAST run's timings (load_timings' pair scan
    keeps the last occurrence per key), or the scale factor skews."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    import bench_compare as bc

    p = tmp_path / "mixed.txt"
    p.write_text(
        '{"metric": "headline_queries_total_time", "value": 10.0, '
        '"calibration_sec": 0.30, "qa": 1.0}\n'
        '{"metric": "headline_queries_total_time", "value": 12.0, '
        '"calibration_sec": 0.45, "qa": 1.5}\n'
    )
    assert bc.load_calibration(str(p)) == 0.45  # last, like load_timings
    assert bc.load_timings(str(p))["qa"] == 1.5

    # ADVICE r15: the same last-wins contract on the MODERN path — a
    # tail holding two COMPACT lines (two full bench runs) must decode
    # the LAST one, not pair run-1 timings with run-2's probe
    from bench import HEADLINE, names_digest

    def compact(v0):
        vals = [v0] + [0.1] * (len(HEADLINE) - 1)
        return json.dumps({
            "metric": "headline_query_times_compact",
            "names_md5": names_digest(HEADLINE),
            "values": vals,
        })

    p2 = tmp_path / "two_compact.txt"
    p2.write_text(
        compact(1.0) + '\n{"calibration_sec": 0.30}\n'
        + compact(2.5) + '\n{"calibration_sec": 0.45}\n'
    )
    assert bc.load_timings(str(p2))[HEADLINE[0]] == 2.5  # last run
    assert bc.load_calibration(str(p2)) == 0.45  # same run's probe


def test_main_rejects_unknown_flags(tmp_path, capsys, monkeypatch):
    """ADVICE r14: a typo like --calibrate must exit 2 with usage, not
    reach open() as a positional 'file path' and traceback."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
    )
    import bench_compare as bc

    monkeypatch.setattr(
        sys, "argv",
        ["bench_compare.py", "--calibrate", "a.json", "b.json"],
    )
    assert bc.main() == 2
    captured = capsys.readouterr()
    assert "unknown flag" in captured.err and "--calibrate" in captured.err
    assert "--calibrated" in captured.err  # the known flags are listed
    # --calibrated alongside --bytes is inert (bytes are deterministic)
    # — say so on stderr rather than silently ignoring the flag
    base = tmp_path / "p.json"
    base.write_text(json.dumps(
        {"sf_dir": "x", "queries": {"qa": {"bytes": 10, "records": 1}}}
    ))
    monkeypatch.setattr(
        sys, "argv",
        ["bench_compare.py", "--bytes", "--calibrated", str(base), str(base)],
    )
    assert bc.main() == 0
    assert "no effect with --bytes" in capsys.readouterr().err


def test_self_adjudication_fields_ride_head_and_summary(tmp_path):
    """VERDICT r15 item 5: the artifact carries its own adjudication
    context — calibrated_vs_prev against the newest committed
    BENCH_r{N}, which artifact that was, and the md5 of the byte-gate
    profile in force — so an archived raw total can never be misread
    without its calibration context. Fields ride head + summary, never
    the size-constrained compact line."""
    import bench

    # synthetic repo: a prev artifact in the CURRENT HEADLINE shape
    # (compact line) + a byte-gate profile
    prev_timings = {n: 1.0 for n in bench.HEADLINE}
    lines = bench.emit_lines(prev_timings, 3, 0.40, 0.1)
    (tmp_path / "BENCH_r07.json").write_text(
        json.dumps({"tail": "\n".join(lines)})
    )
    (tmp_path / "scripts").mkdir()
    (tmp_path / "scripts" / "exchange_profile_sf001.json").write_text(
        '{"queries": {}}'
    )
    # new run: same per-query times, probe 2x slower -> calibrated 0.5x
    new_timings = {n: 1.0 for n in bench.HEADLINE}
    adj = bench.self_adjudication(new_timings, 0.80, str(tmp_path))
    assert adj["prev_artifact"] == "BENCH_r07.json"
    assert adj["calibrated_vs_prev"] == 0.5
    assert adj["byte_gate_md5"] is not None and len(adj["byte_gate_md5"]) == 12
    out = bench.emit_lines(new_timings, 3, 0.80, 0.1, adjudication=adj)
    head, compact, summary = (json.loads(x) for x in out)
    for rec in (head, summary):
        assert rec["calibrated_vs_prev"] == 0.5
        assert rec["prev_artifact"] == "BENCH_r07.json"
        assert rec["byte_gate_md5"] == adj["byte_gate_md5"]
    assert "calibrated_vs_prev" not in compact
    # the final line must still fit the driver's tail window
    assert len(out[2]) <= 1950


def test_self_adjudication_absence_is_explicit_null(tmp_path):
    """No prior artifact / stale digest / missing probe -> explicit
    nulls, never an inferred or cross-list ratio."""
    import bench

    adj = bench.self_adjudication({n: 1.0 for n in bench.HEADLINE}, 0.4, str(tmp_path))
    assert adj == {
        "calibrated_vs_prev": None,
        "raw_vs_prev": None,
        "common_n": 0,
        "probe_spread_pct": None,
        "calibrated_noise_dominated": None,
        "prev_artifact": None,
        "byte_gate_md5": None,
        "cpu_vs_prev": None,
        "cpu_common_n": 0,
    }
    # a prev artifact with a STALE names_md5 cannot be compared
    stale = {
        "metric": "headline_query_times_compact",
        "names_md5": "deadbeef0000",
        "values": [1.0] * len(bench.HEADLINE),
    }
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"tail": json.dumps(stale) + '\n{"calibration_sec": 0.4}\n'})
    )
    adj2 = bench.self_adjudication({n: 1.0 for n in bench.HEADLINE}, 0.4, str(tmp_path))
    assert adj2["calibrated_vs_prev"] is None and adj2["prev_artifact"] is None


def test_decode_prev_artifact_last_wins(tmp_path):
    """Two bench runs in one tail: the LAST compact line pairs with the
    LAST probe — same contract as bench_compare's loaders."""
    import bench

    def compact(v):
        return json.dumps({
            "metric": "headline_query_times_compact",
            "names_md5": bench.names_digest(bench.HEADLINE),
            "values": [v] * len(bench.HEADLINE),
        })

    p = tmp_path / "BENCH_r05.json"
    p.write_text(json.dumps({"tail": (
        compact(1.0) + '\n{"calibration_sec": 0.30}\n'
        + compact(2.0) + '\n{"calibration_sec": 0.45}\n'
    )}))
    t, cal = bench.decode_prev_artifact(str(p))
    assert t[bench.HEADLINE[0]] == 2.0 and cal == 0.45


def test_decode_prev_artifact_pairs_subset_and_probe_of_newest_run(tmp_path):
    """A tail holding an older run whole and only the newest run's
    summary line (its compact line pushed out of the window) decodes
    the NEWEST run: its slowest-first subset and its own probe — never
    the older run's compact values paired with the newer probe."""
    import bench

    old = {n: 1.0 for n in bench.HEADLINE}
    old_head, old_compact, old_summary = bench.emit_lines(old, 3, 0.30, 0.1)
    new = {n: 2.0 for n in bench.HEADLINE}
    new_summary = bench.emit_lines(new, 3, 0.45, 0.1)[2]
    p = tmp_path / "BENCH_r07.json"
    p.write_text(json.dumps({"tail": "\n".join(
        [old_head, old_compact, old_summary, new_summary]
    )}))
    t, cal = bench.decode_prev_artifact(str(p))
    assert t == json.loads(new_summary)["queries"]
    assert t and set(t.values()) == {2.0}
    assert cal == 0.45


def test_self_adjudication_survives_headline_growth(tmp_path):
    """VERDICT r16 item 2: a registry-growth round — exactly when the
    archived artifact most needs context — must stamp a REAL
    calibrated_vs_prev. The compact line is too size-constrained to
    carry names, so the committed names registry maps the PREV
    generation's names_md5 back to its name order; the adjudicator
    then intersects by name."""
    import bench

    # simulate the PREVIOUS round's smaller HEADLINE generation
    old_names = [n for n in bench.HEADLINE[:-4]]
    old_digest = bench.names_digest(old_names)
    assert old_digest != bench.names_digest(bench.HEADLINE)
    prev_compact = json.dumps({
        "metric": "headline_query_times_compact",
        "names_md5": old_digest,
        "values": [2.0] * len(old_names),
    })
    (tmp_path / "BENCH_r09.json").write_text(json.dumps({
        "tail": prev_compact + '\n{"calibration_sec": 0.40}\n'
    }))
    # the committed registry knows the old generation
    (tmp_path / "names.json").write_text(json.dumps({
        old_digest: old_names
    }))
    reg = bench.load_names_registry(str(tmp_path / "names.json"))
    assert reg[old_digest] == old_names  # old generation resolvable
    assert bench.names_digest(bench.HEADLINE) in reg  # current unioned in
    t, cal = bench.decode_prev_artifact(
        str(tmp_path / "BENCH_r09.json"), names_registry=reg
    )
    assert len(t) == len(old_names) and cal == 0.40

    # full adjudication path: monkey-free via the default registry,
    # which always contains every generation bench has run on this
    # repo — here we exercise the committed file itself
    new_timings = {n: 1.0 for n in bench.HEADLINE}
    import unittest.mock as _mock

    with _mock.patch.object(bench, "load_names_registry", return_value=reg):
        adj = bench.self_adjudication(
            new_timings, 0.40, str(tmp_path), calibration_end=0.44
        )
    # common = the old generation's names; raw = 1.0s vs 2.0s = 0.5x
    assert adj["prev_artifact"] == "BENCH_r09.json"
    assert adj["common_n"] == len(old_names)
    assert adj["raw_vs_prev"] == 0.5
    assert adj["calibrated_vs_prev"] == 0.5
    assert adj["probe_spread_pct"] == 10.0
    # a 10% probe spread does NOT dominate a 50% measured delta
    assert adj["calibrated_noise_dominated"] is False


def test_names_registry_committed_file_decodes_r16_artifact():
    """The committed registry must actually decode the newest archived
    artifact (the thing the next round's bench will do): BENCH_r16's
    compact line resolves to 114 named timings even though the current
    HEADLINE has since grown."""
    import os

    import bench

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    art = os.path.join(repo, "BENCH_r16.json")
    if not os.path.exists(art):
        import pytest as _pytest

        _pytest.skip("BENCH_r16.json not committed in this checkout")
    t, cal = bench.decode_prev_artifact(art)
    assert len(t) == 114 and cal is not None
    # and the noise-domination verdict the r16 VERDICT had to hand-derive
    # (probe spread 37% >> raw delta 0.4%) is now computable in-artifact
    adj = bench.self_adjudication(t, cal, repo, calibration_end=cal)
    assert adj["prev_artifact"] is not None
    assert adj["raw_vs_prev"] is not None


def test_cpu_axis_rides_head_and_summary_not_compact(tmp_path):
    """The executor-CPU axis (VERDICT r17 item 4): per-query CPU rides
    the FULL record only (the compact line is size-capped and the
    driver tail truncates the head), cpu_total_sec rides head AND
    summary so the tail always keeps the total, and cpu_vs_prev is
    computed against the bench_latest.json still on disk when the
    bench starts (the previous round's committed full record)."""
    import bench

    timings = {n: 1.0 for n in bench.HEADLINE}
    cpu = {n: 0.5 for n in bench.HEADLINE}
    out = bench.emit_lines(timings, 3, 0.4, 0.1, timings_cpu=cpu)
    head, compact, summary = (json.loads(x) for x in out)
    assert head["queries_cpu"] == cpu
    assert head["cpu_total_sec"] == round(0.5 * len(bench.HEADLINE), 3)
    assert summary["cpu_total_sec"] == head["cpu_total_sec"]
    assert "queries_cpu" not in summary and "queries_cpu" not in compact
    assert len(out[2]) <= 1950  # summary still fits the tail window

    # cpu_vs_prev: prev full record on disk as bench_latest.json
    (tmp_path / "bench_latest.json").write_text(
        json.dumps({"queries_cpu": {n: 1.0 for n in bench.HEADLINE}})
    )
    adj = bench.self_adjudication(
        timings, 0.4, str(tmp_path), timings_cpu=cpu
    )
    assert adj["cpu_vs_prev"] == 0.5
    assert adj["cpu_common_n"] == len(bench.HEADLINE)


def test_bench_compare_cpu_mode(tmp_path, capsys):
    """--cpu diffs two full records' queries_cpu: clean ratio exits 0,
    a >thresh per-query growth exits 1 naming the query, and a driver
    tail (no queries_cpu) is rejected with exit 2, not compared as
    empty."""
    import bench_compare as bc

    base = tmp_path / "base.json"
    new = tmp_path / "new.json"
    base.write_text(json.dumps({"queries_cpu": {"q1": 1.0, "q2": 2.0}}))
    new.write_text(json.dumps({"queries_cpu": {"q1": 1.05, "q2": 1.9}}))
    assert bc.compare_cpu(str(base), str(new), 1.3) == 0
    out = capsys.readouterr().out
    assert "ratio" in out and "zero cpu regressions" in out

    new.write_text(json.dumps({"queries_cpu": {"q1": 2.0, "q2": 2.0}}))
    assert bc.compare_cpu(str(base), str(new), 1.3) == 1
    assert "CPU REGRESSION q1" in capsys.readouterr().out

    tail = tmp_path / "tail.json"
    tail.write_text(json.dumps({"tail": '{"metric": "x"}'}))
    assert bc.compare_cpu(str(tail), str(new), 1.3) == 2
