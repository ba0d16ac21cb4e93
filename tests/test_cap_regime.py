"""Pure-Python pins for scripts/exp_cap_regime.py's corpus cache
(ADVICE r12): the cache marker must invalidate when the SOURCE data
is regenerated in place (mtime), not just when SRC's path or the copy
scheme changes — a silently reused stale corpus corrupts the
published byte exponents. No Spark needed."""

import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
sys.path.insert(0, os.path.join(_REPO, "scripts"))


def test_corpus_stamp_tracks_source_mtime(tmp_path):
    import exp_cap_regime as cr

    doc = tmp_path / "documents.parquet"
    doc.write_bytes(b"x")
    os.utime(doc, (1000, 1000))
    s1 = cr._corpus_stamp(str(tmp_path))
    assert str(tmp_path) in s1 and ":1000" in s1
    # regenerating the source in place must change the stamp
    os.utime(doc, (2000, 2000))
    assert cr._corpus_stamp(str(tmp_path)) != s1
    # a different source dir never matches either
    other = tmp_path / "other"
    other.mkdir()
    (other / "documents.parquet").write_bytes(b"y")
    os.utime(other / "documents.parquet", (1000, 1000))
    assert cr._corpus_stamp(str(other)) != s1


def test_corpus_stamp_tracks_table_listing(tmp_path):
    """Code review r13: a table ADDED to SRC after the corpus was
    cached has no symlink in the cached corpus — the stamp must
    include the table listing so the cache invalidates."""
    import exp_cap_regime as cr

    doc = tmp_path / "documents.parquet"
    doc.write_bytes(b"x")
    os.utime(doc, (1000, 1000))
    s1 = cr._corpus_stamp(str(tmp_path))
    (tmp_path / "clicks.parquet").write_bytes(b"z")
    s2 = cr._corpus_stamp(str(tmp_path))
    assert s2 != s1 and "clicks.parquet" in s2
    # non-parquet entries (e.g. a .done marker) must NOT perturb it
    (tmp_path / ".done").write_text("m")
    assert cr._corpus_stamp(str(tmp_path)) == s2


def test_shared_token_rejects_embedding_probes_before_build(
    monkeypatch, capsys
):
    """The production-sizing probes read embeddings.parquet, which the
    shared-token scheme symlinks UNCHANGED — a flat x1 exponent would
    be meaningless, so main() must reject them up front (exit 2)
    without building a session or corpus."""
    import exp_cap_regime as cr

    monkeypatch.setattr(
        sys, "argv",
        ["exp_cap_regime.py", "--queries", "semantic_prune_prod", "3"],
    )
    assert cr.main() == 2
    assert "does not scale" in capsys.readouterr().err


def test_shared_token_rejects_registry_embedding_queries(
    monkeypatch, capsys
):
    """Code review r13: a REGISTRY query that reads embeddings (e.g.
    sim_cosine_topk) has the identical flat-exponent hazard as the
    exp_scaling probes — the guard keys on what the query reads (its
    oracle references the embeddings view), not registry membership."""
    import exp_cap_regime as cr

    monkeypatch.setattr(
        sys, "argv",
        ["exp_cap_regime.py", "--queries", "sim_cosine_topk", "3"],
    )
    assert cr.main() == 2
    assert "does not scale" in capsys.readouterr().err


def test_shared_token_warns_on_non_document_queries(monkeypatch, capsys):
    """A registry query reading only x1-symlinked tables runs (that is
    the ADVICE r12 crash fix) but must warn that its exponent is not a
    scaling claim. The session builder is stubbed to a sentinel so the
    test stays Spark-free: the warning must land BEFORE it."""
    import pytest

    import exp_cap_regime as cr

    def _boom(name):
        raise RuntimeError("sentinel: session build reached")

    monkeypatch.setattr(cr, "_session", _boom)
    monkeypatch.setattr(
        sys, "argv",
        ["exp_cap_regime.py", "--queries", "tpch_q1_pricing_summary", "3"],
    )
    with pytest.raises(RuntimeError, match="sentinel"):
        cr.main()
    assert "not a scaling claim" in capsys.readouterr().err


def test_published_table_has_one_row_per_point(monkeypatch, capsys):
    """The §9 markdown table carries one row per (query, factor) point,
    the x1 point as the 1.0x anchor, and a clean sweep exits 0.
    measure/session/corpus-build are stubbed; no Spark needed."""
    import exp_cap_regime as cr

    def fake_measure(spark, name, sf_dir, fn=None):
        nbytes = 4000 if sf_dir.endswith("x3") else 1000
        return {"bytes": nbytes, "mb": nbytes / 1e6, "records": 10,
                "stages": 1, "rows": 1, "sec": 0.1}

    monkeypatch.setattr(cr, "measure", fake_measure)
    monkeypatch.setattr(cr, "_session", lambda name: object())
    monkeypatch.setattr(
        cr, "build_shared_token", lambda spark, f: f"/fake/x{f}"
    )
    monkeypatch.setattr(
        sys, "argv",
        ["exp_cap_regime.py", "--queries", "dedup_char_ngram_pairs", "3"],
    )
    assert cr.main() == 0
    rows = [l for l in capsys.readouterr().out.splitlines()
            if l.startswith("| dedup_char_ngram_pairs ")]
    assert len(rows) == 2
    assert "| x1 " in rows[0] and "| 1.0x |" in rows[0]
    assert "| x3 " in rows[1] and "| 4.0x | 1.26 |" in rows[1]


def test_embeddings_guard_predicate_matches_plan_reads(spark, sf_dir):
    """ADVICE r13: the shared-token embeddings guard is a substring
    heuristic over oracle SQL — complete today, but nothing pinned the
    invariant, so a future query reading embeddings via a helper whose
    oracle phrases it differently would slip through and publish a
    fake flat exponent. Pin it plan-side: every registry query whose
    ANALYZED PLAN actually scans the embeddings table (by input file
    listing — immune to how the Python source or oracle spells it)
    must be caught by the guard's own predicate. Streaming entries are
    excluded: the byte harness count()s the DataFrame, which a stream
    cannot do, so they are unreachable from --queries anyway."""
    import exp_cap_regime as cr
    from refluxdb_spark.queries import ORACLES, QUERIES

    violations = []
    for name, fn in sorted(QUERIES.items()):
        if name.startswith("ts_streaming"):
            continue
        files = fn(spark, sf_dir).inputFiles()
        if any("embeddings" in f for f in files) and not cr._reads_embeddings(
            ORACLES.get(name, "")
        ):
            violations.append(name)
    assert not violations, (
        f"{violations} read embeddings.parquet in their plans but the "
        f"shared-token guard's oracle-SQL predicate misses them — they "
        f"could publish a fake flat cap-regime exponent; fix the oracle "
        f"or the guard (scripts/exp_cap_regime.py::_reads_embeddings)"
    )


def test_unknown_flags_rejected_not_silently_dropped(monkeypatch, capsys):
    """A --sufix typo must exit 2 with usage, not silently run the
    shared-token scheme the caller did not ask for (same class as the
    r14 bench_compare unknown-flag fix)."""
    import exp_cap_regime as cr

    monkeypatch.setattr(
        sys, "argv", ["exp_cap_regime.py", "--sufix", "3", "10"]
    )
    assert cr.main() == 2
    err = capsys.readouterr().err
    assert "unknown flag" in err and "--sufix" in err and "--suffix" in err


def test_nonpositive_factors_rejected_before_corpus_build(monkeypatch, capsys):
    """ADVICE r15: a 0/negative factor passes the flag guards (it does
    not start with '--') but fails later in build_shared_token/math.log
    AFTER expensive corpus work — reject it up front like exp_scaling."""
    import exp_cap_regime as cr

    for argv in (["exp_cap_regime.py", "0"],
                 ["exp_cap_regime.py", "-3"],
                 ["exp_cap_regime.py", "3", "0"]):
        monkeypatch.setattr(sys, "argv", argv)
        assert cr.main() == 2, argv
        assert "factors must be >= 1" in capsys.readouterr().err, argv
