"""Exchange-BYTES fence (VERDICT r10 item 2): the byte-level
complement to test_plans.py's exchange-COUNT budgets.

Wall-clock at sf0.1 spreads ±7% between same-code runs, so the bench
ratchet can't see a <1.3x plan regression; shuffle-write BYTES are
deterministic (measured twice at sf0.01: identical records, bytes
within 2%), so a >1.2x byte growth on any baselined query is real
plan drift, not noise. The baseline pins the ratchet set (27 queries
as of r12) — the top-20 most expensive headline queries by
BENCH_r10.json, the r9→r10 and r10→r11 variance-suspect wall-clock
flags (events_bot_signals; sim_cosine_topk, ts_window_moving_avg —
so their next wobble is byte-adjudicated), the r10 carry-over
sim_rp_lsh_pairs, and the three r11 join-filter-below-aggregate
rewrites (q16/q20/q21) so regrowth of that pattern is caught.

Runs in a SUBPROCESS: the re-measurement is the script's own --check
mode, in a session configured like the one that recorded the baseline
(the shared test session pins its own shuffle partitions and heap).
Each query's stage metrics are read with the UI off from the drained
status store (refluxdb_spark.profile). (~60 s at sf0.01.)

Regenerate the baseline after an INTENTIONAL plan change:

    python scripts/exp_exchange_bytes.py \
        --baseline tests/exchange_baseline_sf001.json \
        --sf /root/testdata/sf0.01
"""

import json
import os
import subprocess
import sys

import pytest

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
SF_DIR = os.environ.get("SPARK_GRAFT_EXB_SF_DIR", "/root/testdata/sf0.01")
# the baseline must MATCH the measured scale factor: overriding
# SF_DIR to sf0.1 selects the sf0.1 baseline (scripts/) instead of
# comparing sf0.1 bytes against the sf0.01 pin (which would flag ~10x
# on every query)
BASELINE = (
    os.path.join(_REPO, "scripts", "exchange_baseline_sf01.json")
    if SF_DIR.rstrip("/").endswith("sf0.1")
    else os.path.join(_HERE, "exchange_baseline_sf001.json")
)


def test_baseline_queries_are_registered():
    from refluxdb_spark.queries import QUERIES
    sys.path.insert(0, os.path.join(_REPO, "scripts"))
    from exp_exchange_bytes import BASELINE_SET, WARM_REQUIRED

    # BOTH committed baselines must track BASELINE_SET — checking only
    # the env-selected one would let the sf0.1 file drift silently in
    # default (sf0.01) CI runs
    for path in (
        os.path.join(_HERE, "exchange_baseline_sf001.json"),
        os.path.join(_REPO, "scripts", "exchange_baseline_sf01.json"),
    ):
        base = json.load(open(path))
        assert sorted(base["queries"]) == sorted(BASELINE_SET), path
        missing = [q for q in base["queries"] if q not in QUERIES]
        assert not missing, f"{path}: baselined queries not in QUERIES: {missing}"
    # the force-warm list must track the registry: a renamed query
    # left behind here would silently lose its cold-cache protection
    stale = [q for q in WARM_REQUIRED if q not in QUERIES]
    assert not stale, f"WARM_REQUIRED names not in QUERIES: {stale}"


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present"
)
def test_exchange_bytes_within_budget(tmp_path):
    out = tmp_path / "remeasured.json"
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(_REPO, "scripts", "exp_exchange_bytes.py"),
            "--check", BASELINE,
            "--sf", SF_DIR,
            "--threshold", "1.2",
            "--out", str(out),
        ],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=_REPO,
    )
    assert r.returncode == 0, (
        f"exchange-byte regression(s) vs {BASELINE} "
        f"— if the plan change was intentional, regenerate the baseline "
        f"(see module docstring)\n--- stdout ---\n{r.stdout}\n"
        f"--- stderr tail ---\n{r.stderr[-2000:]}"
    )
    # the re-measurement must actually have run every baselined query
    fresh = json.loads(out.read_text())
    base = json.load(open(BASELINE))
    assert sorted(fresh["queries"]) == sorted(base["queries"])
    ran = sum(1 for q in fresh["queries"].values() if q["stages"] > 0)
    assert ran == len(base["queries"])


def test_cli_operand_validation_exits_2_without_spark(monkeypatch, capsys):
    """ADVICE r11: missing operands (`--baseline` alone, `--sf` as the
    last token) must print usage and exit 2, not raise IndexError; an
    unknown query name anywhere in the --baseline remainder must be
    rejected instead of KeyErroring mid-sweep. All cases return before
    any SparkSession is built, so this runs in-process."""
    sys.path.insert(0, os.path.join(_REPO, "scripts"))
    import exp_exchange_bytes as xb

    cases = [
        ["--baseline"],
        ["--baseline", "--sf"],
        ["--baseline", "/tmp/out.json", "--sf"],
        ["--baseline", "/tmp/out.json", "no_such_query_xyz"],
        # --sf AFTER query names must parse as a flag, not a query
        ["--baseline", "/tmp/out.json", "no_such_query_xyz", "--sf", "/x"],
        ["--check"],
        ["--check", "base.json", "--threshold"],
        ["--check", "base.json", "--threshold", "abc"],
        ["--check", "base.json", "--bogus"],
        ["no_such_query_xyz"],
    ]
    for argv in cases:
        monkeypatch.setattr(sys, "argv", ["exp_exchange_bytes.py"] + argv)
        assert xb.main() == 2, f"argv {argv} should exit 2"
        assert "error:" in capsys.readouterr().err


def _baseline_file(tmp_path, name, rows):
    p = tmp_path / name
    p.write_text(json.dumps({"sf_dir": "/root/testdata/sf0.01",
                             "queries": rows}))
    return str(p)


def _row(nbytes):
    return {"bytes": nbytes, "mb": nbytes / 1e6, "records": nbytes,
            "stages": 1, "rows": 1, "sec": 0.1}


def test_check_and_baseline_modes_without_spark(monkeypatch, capsys, tmp_path):
    """--check exits 0 on a clean re-measure and 1 on byte growth past
    both the threshold and the 64 KiB floor; --baseline writes its
    artifact and a summary line. run_set is monkeypatched, so no
    Spark."""
    sys.path.insert(0, os.path.join(_REPO, "scripts"))
    import exp_exchange_bytes as xb

    from refluxdb_spark.queries import QUERIES
    q = next(iter(QUERIES))  # any registered name passes validation

    base = _baseline_file(tmp_path, "base.json", {q: _row(1000)})
    for fresh_bytes, want in [(1000, 0), (200_000, 1)]:
        monkeypatch.setattr(xb, "run_set", lambda names, sf, n=fresh_bytes: {
            "sf_dir": sf, "queries": {q: _row(n)}})
        assert xb.check(base, None, 1.2, None) == want
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["checked"] == 1 and summary["byte_regressions"] == want

    out = tmp_path / "prof.json"
    monkeypatch.setattr(xb, "run_set", lambda names, sf: {
        "sf_dir": sf, "queries": {q: _row(1000)}})
    monkeypatch.setattr(
        sys, "argv", ["exp_exchange_bytes.py", "--baseline", str(out), q]
    )
    assert xb.main() == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["queries"] == 1 and summary["baseline"] == str(out)
    assert json.loads(out.read_text())["queries"][q] == _row(1000)


def test_measure_records_the_profile_of_the_query_alone(monkeypatch):
    """measure() maps the reader's profile of the measured run onto a
    row, and a WARM_REQUIRED query's warm-up run happens before, outside
    the measured block. Pure Python: spark and the reader are faked."""
    sys.path.insert(0, os.path.join(_REPO, "scripts"))
    import exp_exchange_bytes as xb

    calls = []

    class _Df:
        def count(self):
            calls.append("count")
            return 7

    class _Spark:
        class catalog:
            @staticmethod
            def clearCache():
                pass

    def fake_run(spark, thunk):
        calls.append("block")
        return thunk(), {"shuffle_write_bytes": 2_500_000,
                         "shuffle_write_records": 40, "stages": 3,
                         "wall_s": 1.234}

    monkeypatch.setattr(xb.profile, "run", fake_run)
    fn = lambda spark, sf: _Df()  # noqa: E731
    rec = xb.measure(_Spark(), "fake", "/none", fn=fn)
    assert rec == {"bytes": 2_500_000, "mb": 2.5, "records": 40,
                   "stages": 3, "rows": 7, "sec": 1.23}
    assert calls == ["block", "count"]
    warm = next(iter(xb.WARM_REQUIRED))
    calls.clear()
    xb.measure(_Spark(), warm, "/none", fn=fn)
    assert calls == ["count", "block", "count"]


def test_committed_full_registry_profiles_cover_the_registry():
    """The round gate diffs fresh profiles against the committed
    full-registry artifacts (scripts/exchange_profile_sf001.json and
    scripts/exchange_profile_sf01.json, r12) — that only works if the
    artifacts cover the registry EXACTLY, so a registry change must
    force a profile regeneration here. No Spark needed."""
    from refluxdb_spark.queries import QUERIES

    for fname in ("exchange_profile_sf001.json", "exchange_profile_sf01.json"):
        path = os.path.join(_REPO, "scripts", fname)
        prof = json.load(open(path))["queries"]
        assert sorted(prof) == sorted(QUERIES), (
            f"{fname} does not match the query registry — regenerate it "
            f"(see .claude/skills/verify/SKILL.md round-gate recipe)"
        )
        # every row must be a real measurement, not a placeholder
        assert all(q["stages"] > 0 for q in prof.values())
