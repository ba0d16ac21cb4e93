"""End-to-end engine tests: the README demo flow (BASELINE.md functional
baseline) — ingest line protocol, query it back, range scan, listing."""

import os

import pytest

from refluxdb_spark.engine import RefluxEngine
from refluxdb_spark.storage import VersionedPath
from refluxdb_spark.errors import NoDataError, TableNotFoundError, ValidationError

LINES = [
    "test,host=server,region=us-east1 value=0.80 1234567890000000000",
    "test,host=server,region=us-east1 value=0.90 1234567891000000000",
    "cpu,host=a usage=0.5,temp=60.0 1700000000000000000",
    "cpu,host=b usage=0.7 1700000060000000000",
]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = RefluxEngine(spark, str(tmp_path_factory.mktemp("warehouse")))
    n, n_dead = eng.write_lines(LINES)
    assert n == 5  # cpu multi-field line explodes to 2 rows
    assert n_dead == 0
    return eng


def test_readme_select_star(engine):
    # README.md:23 — SELECT * from test
    rows = engine.query_rows("SELECT * FROM test")
    assert len(rows) == 2
    assert {r["value"] for r in rows} == {0.80, 0.90}
    assert all(r["name"] == "value" for r in rows)
    assert all(r["tags"] == {"host": "server", "region": "us-east1"} for r in rows)  # Q7 fix


def test_field_explosion_names(engine):
    rows = engine.query_rows("SELECT name, value FROM cpu ORDER BY name")
    assert [(r["name"], r["value"]) for r in rows] == [
        ("temp", 60.0),
        ("usage", 0.5),
        ("usage", 0.7),
    ]


def test_event_time_stored(engine):
    # Q1 fix: client timestamp (ns) becomes `time`
    rows = engine.query_rows("SELECT time FROM test ORDER BY time")
    assert rows[0]["time"].year == 2009  # 1234567890 epoch secs ≈ 2009-02-13


def test_list_series(engine):
    assert engine.list_series() == ["cpu", "test"]


def test_series_exists(engine):
    assert engine.series_exists("cpu")
    assert not engine.series_exists("nope")


def test_unknown_table_clean_error(engine):  # Q12 fix
    with pytest.raises(TableNotFoundError):
        engine.query("SELECT * FROM nope")


def test_range_scan(engine):
    df = engine.range("cpu", "2023-11-14T00:00:00Z", "2023-11-15T00:00:00Z")
    rows = df.collect()
    assert len(rows) == 3
    assert sorted(r.name for r in rows) == ["temp", "usage", "usage"]


def test_range_unknown_series_404(engine):
    with pytest.raises(TableNotFoundError):
        engine.range("nope", "2020-01-01T00:00:00Z", "2020-01-02T00:00:00Z")


def test_range_bad_datetime(engine):  # Q13 fix
    with pytest.raises(ValidationError, match="malformed"):
        engine.range("cpu", "not-a-date", "2020-01-02T00:00:00Z")


def test_dead_letter_rows(spark, tmp_path):
    eng = RefluxEngine(spark, str(tmp_path / "wh"))
    n, n_dead = eng.write_lines(["good x=1 1000", "bad x=notanumber 1000"])
    assert n == 1
    assert n_dead == 1
    # the payload is in the DLQ table, not returned through the driver
    assert [r.raw for r in eng.dead_letters().collect()] == [
        "bad x=notanumber 1000"
    ]


def test_strict_compat_empty_result_errors(spark, tmp_path):  # Q5
    eng = RefluxEngine(spark, str(tmp_path / "wh2"), strict_compat=True)
    eng.write_lines(["t x=1 1000"])
    # Note: in strict compat you cannot even *name* created_at (Q3), so
    # the full decoder shape is only reachable via SELECT * — faithful.
    with pytest.raises(NoDataError):
        eng.query_rows("SELECT * FROM t WHERE value > 99")


def test_aggregates_beyond_reference(engine):
    # GROUP BY breaks the reference's decoder (O16) — first-class here.
    rows = engine.query_rows(
        "SELECT name, count(*) AS n, avg(value) AS avg_value FROM cpu GROUP BY name ORDER BY name"
    )
    assert rows == [
        {"name": "temp", "n": 1, "avg_value": 60.0},
        {"name": "usage", "n": 2, "avg_value": pytest.approx(0.6)},
    ]


def test_dead_letter_table_persisted(spark, tmp_path):
    eng = RefluxEngine(spark, str(tmp_path / "wh3"))
    eng.write_lines(["good x=1 1000", "bad x=oops 1000", "worse 2000"])
    dlq = {(r.error, r.raw) for r in eng.dead_letters().collect()}
    assert dlq == {
        ("non-numeric field value", "bad x=oops 1000"),
        ("missing fieldset", "worse 2000"),
    }


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    import glob

    eng = RefluxEngine(spark, str(tmp_path / "wh4"))
    for i in range(5):  # five appends -> many small files
        eng.write_lines([f"s v={i}.0 {1700000000000000000 + i * 10**9}"])
    before_rows = len(eng.query_rows("SELECT * FROM s"))
    before_files = len(glob.glob(str(tmp_path / "wh4") + "/" + eng._path.split("/")[-1] + "/**/*.parquet", recursive=True))
    eng.compact()
    after_rows = len(eng.query_rows("SELECT * FROM s"))
    after_files = len(glob.glob(eng._path + "/**/*.parquet", recursive=True))
    assert after_rows == before_rows == 5
    assert after_files < before_files


def test_compact_and_rollup_never_rename_directories(spark, tmp_path, monkeypatch):
    """Object-store contract: table maintenance must not rely on
    directory rename/move (S3/GCS have none) — only write-new-tree,
    single pointer-file PUT, delete-old-tree. Renames are disabled
    outright; compaction and rollup maintenance must still work and
    preserve data."""
    eng = RefluxEngine(spark, str(tmp_path / "wh_osafe"))
    for i in range(4):
        eng.write_lines([f"s v={i}.0 {1700000000000000000 + i * 10**9}"])

    def _no_rename(*a, **k):
        raise AssertionError("directory rename attempted — not object-store-safe")

    import shutil as _shutil

    monkeypatch.setattr(os, "rename", _no_rename)
    monkeypatch.setattr(os, "renames", _no_rename)
    monkeypatch.setattr(os, "replace", _no_rename)
    monkeypatch.setattr(_shutil, "move", _no_rename)

    eng.compact()
    assert len(eng.query_rows("SELECT * FROM s")) == 4
    eng.maintain_rollup(bucket="1 hour", name="rollup_osafe")
    rows = eng.query("SELECT * FROM rollup_osafe").collect()
    assert sum(r.n for r in rows) == 4
    # a second compact cycles versions again, still rename-free
    eng.compact()
    assert len(eng.query_rows("SELECT * FROM s")) == 4
    assert eng.list_series() == ["s"]


def test_engine_sql_cross_series(engine):
    # cross-series aggregation over the single lake table — impossible
    # in the reference (one database per series)
    rows = engine.sql(
        "SELECT series, count(*) AS n FROM measurements GROUP BY series ORDER BY series"
    ).collect()
    assert [(r.series, r.n) for r in rows] == [("cpu", 3), ("test", 2)]


def test_engine_sql_still_validated(engine):
    with pytest.raises(ValidationError):
        engine.sql("DROP TABLE measurements")


def test_maintain_rollup_and_query(spark, tmp_path):
    eng = RefluxEngine(spark, str(tmp_path / "wh5"))
    eng.write_lines([
        "cpu usage=0.5 1700000000000000000",       # 22:13 UTC
        "cpu usage=0.7 1700000060000000000",       # 22:14 UTC same hour
        "cpu usage=0.9 1700010000000000000",       # next bucket
    ])
    eng.maintain_rollup()
    rows = eng.sql(
        "SELECT series, name, n, sum_value FROM rollup_1h ORDER BY n DESC"
    ).collect()
    assert (rows[0].series, rows[0].name, rows[0].n) == ("cpu", "usage", 2)
    assert rows[0].sum_value == 1.2
    assert len(rows) == 2


def test_rollup_routed_query(spark, tmp_path):
    """Rollup-aware routing (VERDICT r5 item 5): the canonical bucket
    aggregate is served FROM the maintained rollup when fresh (plan
    scans the rollup parquet, not the base table), falls back to the
    base table when stale, and both paths return identical rows."""
    eng = RefluxEngine(spark, str(tmp_path / "wh_route"))
    eng.write_lines([
        "cpuroute usage=0.5 1700000000000000000",
        "cpuroute usage=0.7 1700000060000000000",
        "cpuroute usage=0.9 1700010000000000000",
    ])
    q = (
        "SELECT date_trunc('hour', time) AS bucket_start, count(*) AS n, "
        "sum(value) AS sum_value, min(value) AS min_value, "
        "max(value) AS max_value FROM cpuroute GROUP BY bucket_start"
    )

    def scans(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [l for l in plan.splitlines() if "FileScan" in l]

    # stale (never maintained): routed query falls back to the base table
    df_stale = eng.query(q, prefer_rollup=True)
    assert not eng.rollup_fresh()
    assert all("rollup_1h" not in l for l in scans(df_stale))
    stale_rows = {tuple(r) for r in df_stale.collect()}
    assert len(stale_rows) == 2 and sum(r[1] for r in stale_rows) == 3

    eng.maintain_rollup()  # freshen
    assert eng.rollup_fresh("rollup_1h", "1 hour")
    df_routed = eng.query(q, prefer_rollup=True)
    assert any("rollup_1h" in l for l in scans(df_routed)), "plan must read the rollup"
    assert all(_TABLE_DIR not in l for l in scans(df_routed))
    assert {tuple(r) for r in df_routed.collect()} == stale_rows

    # grain mismatch: hourly rollup must not serve a daily query
    daily = q.replace("'hour'", "'day'")
    assert all("rollup_1h" not in l for l in scans(eng.query(daily, prefer_rollup=True)))

    # new write invalidates: routed query reads base again, sees the row
    eng.write_lines(["cpuroute usage=0.1 1700020000000000000"])
    assert not eng.rollup_fresh()
    df_after = eng.query(q, prefer_rollup=True)
    assert all("rollup_1h" not in l for l in scans(df_after))
    assert sum(r.n for r in df_after.collect()) == 4

    # prefer_rollup=False never routes even when fresh
    eng.maintain_rollup()
    assert all("rollup_1h" not in l for l in scans(eng.query(q)))


_TABLE_DIR = "/measurements/"


def test_wide_view(spark, tmp_path):
    eng = RefluxEngine(spark, str(tmp_path / "wh6"))
    eng.write_lines(["m,host=a usage=0.5,temp=60.0 1700000000000000000"])
    rows = eng.wide("m").collect()
    assert len(rows) == 1
    assert rows[0].usage == 0.5 and rows[0].temp == 60.0
    # explicit field list: no discovery pass, same values, chosen order
    rows = eng.wide("m", fields=["temp", "usage"]).collect()
    assert rows[0].usage == 0.5 and rows[0].temp == 60.0


def test_sql_function_library_via_gateway(engine):
    rows = engine.query_rows(
        "SELECT time_bucket_s(time, 3600) AS bucket, name, "
        "clamp(value, 0.0, 0.6) AS clamped, "
        "ingest_lag_ms(time, created_at) AS lag_ms "
        "FROM cpu ORDER BY name, clamped"
    )
    assert [r["clamped"] for r in rows] == [0.6, 0.5, 0.6]
    assert all(r["bucket"].minute == 0 for r in rows)
    assert all(r["lag_ms"] > 0 for r in rows)  # ingested long after 2023


def test_list_series_is_partition_metadata(spark, tmp_path):
    """list_series/series_exists answer from partition directories (no
    data scan) and round-trip Hive-escaped names exactly as Spark's
    partitionBy writes them."""
    eng = RefluxEngine(spark, str(tmp_path / "wh7"))
    eng.write_lines(["plain v=1 1000"])
    # measurement with a Hive-special char (escaped %3A in the dir name)
    eng.write_lines(["svc:cpu v=2 1000"])
    assert eng.list_series() == ["plain", "svc:cpu"]
    assert eng.series_exists("svc:cpu") and not eng.series_exists("svc")
    # metadata listing agrees with what a data scan reports
    scanned = sorted(
        r.series for r in eng._table().select("series").distinct().collect()
    )
    assert scanned == eng.list_series()


def test_partition_value_escape_roundtrip():
    from refluxdb_spark.engine import (
        _escape_partition_value,
        _unescape_partition_value,
    )

    for name in ["plain", "a:b", "x/y", "pct%20", "q?=#", "tab\tname"]:
        assert _unescape_partition_value(_escape_partition_value(name)) == name
    assert _escape_partition_value("a:b") == "a%3Ab"


def test_time_travel_versions(spark, tmp_path):
    """Versions are compaction lineage: a superseded version dir is
    FROZEN (later appends go to the new live dir), so retained
    versions give rollback points; vacuum bounds the history."""
    eng = RefluxEngine(spark, str(tmp_path / "wh_tt"))
    eng.write_lines(["cpu,host=a usage=0.5 1700000000000000000"])
    eng.compact(vacuum=False)                                  # v1 = {A}
    eng.write_lines(["cpu,host=b usage=0.7 1700000060000000000"])  # appends into live v1
    eng.compact(vacuum=False)                                  # v2 = {A,B}; v1 frozen
    eng.write_lines(["cpu,host=c usage=0.9 1700000120000000000"])  # appends into live v2
    versions = eng.table_versions()
    assert len(versions) >= 2
    old_v, new_v = versions[-2], versions[-1]
    assert eng.table_as_of(old_v).count() == 2   # frozen at supersession
    assert eng.table_as_of(new_v).count() == 3   # live keeps growing
    assert len(eng.query_rows("SELECT * FROM cpu")) == 3
    # vacuum removes history; as-of reads then fail loudly
    eng._data.vacuum()
    assert eng.table_versions() == [new_v]
    import pytest as _pytest

    with _pytest.raises(KeyError):
        eng.table_as_of(old_v)


def test_retention_drops_old_days_and_field_keys(spark, tmp_path):
    """apply_retention removes days before the cutoff through a
    hardlinked version swap; field_keys lists distinct names per
    series."""
    eng = RefluxEngine(spark, str(tmp_path / "wh_ret"))
    # 2009-02-13 and 2009-02-14 (86400s apart), two series
    eng.write_lines([
        "cpu,host=a usage=0.5,temp=40.0 1234567890000000000",
        "cpu,host=a usage=0.6 1234654290000000000",
        "mem,host=a used=0.9 1234567890000000000",
    ])
    assert eng.field_keys() == {"cpu": ["temp", "usage"], "mem": ["used"]}
    assert eng.field_keys("cpu") == {"cpu": ["temp", "usage"]}
    assert eng.tag_keys() == {"cpu": ["host"], "mem": ["host"]}
    eng.apply_retention("2009-02-14T00:00:00Z")
    rows = eng.query_rows("SELECT * FROM cpu")
    assert len(rows) == 1 and rows[0]["value"] == 0.6  # only day >= cutoff
    # mem had only the old day: series disappears entirely
    assert eng.list_series() == ["cpu"]


def test_incremental_rollup_matches_full_rebuild(spark, tmp_path):
    """Incremental maintain_rollup (manifest-driven day invalidation)
    must equal a from-scratch rebuild after new data arrives on one
    day, and must no-op when nothing changed."""
    eng = RefluxEngine(spark, str(tmp_path / "wh_inc"))
    # two days of data (86400s apart)
    eng.write_lines([
        "cpu,host=a usage=1.0 1234567890000000000",
        "cpu,host=a usage=2.0 1234654290000000000",
    ])
    eng.maintain_rollup(incremental=True)   # first run = full build + manifest
    # new point lands on day 2 only
    eng.write_lines(["cpu,host=a usage=4.0 1234654291000000000"])
    eng.maintain_rollup(incremental=True)
    got = {
        (r["series"], r["bucket_start"].isoformat()): (r["n"], r["sum_value"])
        for r in eng.query_rows("SELECT * FROM rollup_1h")
    }
    # full rebuild ground truth
    eng.maintain_rollup(name="rollup_full")
    want = {
        (r["series"], r["bucket_start"].isoformat()): (r["n"], r["sum_value"])
        for r in eng.query_rows("SELECT * FROM rollup_full")
    }
    assert got == want
    assert sum(n for n, _ in got.values()) == 3
    # unchanged source: incremental run leaves the same version live
    v_before = VersionedPath(str(tmp_path / "wh_inc" / "rollup_1h")).current()
    eng.maintain_rollup(incremental=True)
    assert VersionedPath(str(tmp_path / "wh_inc" / "rollup_1h")).current() == v_before


def test_concurrent_rewrite_fail_fast_and_orphan_recovery(tmp_path):
    """r4 verdict item 6: two interleaved rewrites must not silently
    clobber — the version claim is an exclusive mkdir and the commit is
    conditional on the pointer it was based on."""
    import pytest as _pytest

    from refluxdb_spark.storage import ConcurrentRewriteError, VersionedPath

    vp = VersionedPath(str(tmp_path / "tbl"))

    # writer A claims v1; a second writer cannot share the claim
    dir_a, commit_a = vp.begin_rewrite()
    with _pytest.raises(ConcurrentRewriteError):
        vp.begin_rewrite()
    with open(os.path.join(dir_a, "part-0"), "w") as f:
        f.write("a")
    commit_a()
    assert vp.current() == dir_a

    # stale commit: A begins v2, its claim is (wrongly) cleared and B
    # rewrites v2 first — A's commit must raise, not clobber B's data
    dir_a2, commit_a2 = vp.begin_rewrite()
    vp.clear_orphans()  # simulates an admin clearing while A is in flight
    dir_b, commit_b = vp.begin_rewrite()
    with open(os.path.join(dir_b, "part-0"), "w") as f:
        f.write("b")
    commit_b()
    with _pytest.raises(ConcurrentRewriteError):
        commit_a2()
    assert vp.current() == dir_b

    # crashed attempt: an uncommitted claim blocks the next rewrite
    # until clear_orphans() discards it
    dir_c, _ = vp.begin_rewrite()
    with _pytest.raises(ConcurrentRewriteError):
        vp.begin_rewrite()
    removed = vp.clear_orphans()
    assert dir_c in removed
    dir_d, commit_d = vp.begin_rewrite()
    with open(os.path.join(dir_d, "part-0"), "w") as f:
        f.write("d")
    commit_d()
    assert vp.current() == dir_d


def test_keyword_and_dotted_series_names_end_to_end(spark, tmp_path):
    """r4 verdict item 7: a series named like a SQL keyword round-trips
    write -> backticked FROM routing -> rows; a dotted series stores and
    range-queries fine but is a DOCUMENTED clean reject for SQL FROM
    (Spark temp-view names are single-part)."""
    from refluxdb_spark.engine import RefluxEngine
    from refluxdb_spark.errors import ValidationError

    eng = RefluxEngine(spark, str(tmp_path / "wh_names"))

    # keyword-named series ("select" is not in the mutation blocklist)
    n, bad = eng.write_lines(["select,host=a value=1.5 1700000000000000000"])
    assert (n, bad) == (1, 0)
    rows = eng.query_rows("SELECT name, value FROM `select`")
    assert rows == [{"name": "value", "value": 1.5}]

    # dotted series: writable, range-queryable, SQL FROM cleanly rejected
    n, bad = eng.write_lines(["cpu.load,host=a value=2.0 1700000000000000000"])
    assert (n, bad) == (1, 0)
    assert "cpu.load" in eng.list_series()
    got = eng.range("cpu.load", "2001-01-01T00:00:00Z", "2033-01-01T00:00:00Z")
    assert got.count() == 1
    with pytest.raises(ValidationError, match="single-part"):
        eng.query("SELECT * FROM `cpu.load`")

    # a series named after a BLOCKED keyword stays rejected (documented:
    # the token validator cannot prove `drop` is a name)
    with pytest.raises(ValidationError):
        eng.query("SELECT * FROM `drop`")


def test_tag_values_listing(spark, tmp_path):
    """SHOW TAG VALUES WITH KEY: distinct values of one tag key per
    series, skipping rows without the key, partition-pruned per
    series."""
    from refluxdb_spark.engine import RefluxEngine

    eng = RefluxEngine(spark, str(tmp_path / "wh_tagv"))
    eng.write_lines([
        "cpu,host=a,region=us value=1 1700000000000000000",
        "cpu,host=b,region=us value=2 1700000001000000000",
        "cpu,host=a value=3 1700000002000000000",
        "mem,host=c value=4 1700000000000000000",
    ])
    assert eng.tag_values("host") == {"cpu": ["a", "b"], "mem": ["c"]}
    assert eng.tag_values("region") == {"cpu": ["us"]}
    assert eng.tag_values("host", series="cpu") == {"cpu": ["a", "b"]}
    assert eng.tag_values("nosuch") == {}
    # driver-safety cap (VERDICT r5 item 7): an unbounded-cardinality
    # tag is a data question, not a schema question — clean error, no
    # unbounded collect
    with pytest.raises(ValidationError, match="distinct values"):
        eng.tag_values("host", limit=2)
    assert eng.tag_values("host", limit=3) == {"cpu": ["a", "b"], "mem": ["c"]}


def test_maintenance_failure_cleans_claimed_version(spark, tmp_path, monkeypatch):
    """ADVICE r5: an IN-PROCESS maintenance failure (failed write or
    failed commit) must remove the claimed version dir instead of
    wedging every later maintenance run behind ConcurrentRewriteError."""
    from unittest import mock

    from refluxdb_spark.storage import _Commit

    eng = RefluxEngine(spark, str(tmp_path / "wh_fail"))
    for i in range(3):
        eng.write_lines([f"s v={i}.0 {1700000000000000000 + i * 10**9}"])

    # rollup build: commit blows up -> claimed dir discarded, retry works
    with mock.patch.object(_Commit, "__call__", side_effect=RuntimeError("boom")):
        with pytest.raises(RuntimeError, match="boom"):
            eng.maintain_rollup()
    eng.maintain_rollup()  # must not raise ConcurrentRewriteError
    assert sum(r.n for r in eng.query("SELECT * FROM rollup_1h").collect()) == 3

    # compact: the Spark write itself fails -> same contract
    from pyspark.sql.readwriter import DataFrameWriter

    with mock.patch.object(
        DataFrameWriter, "parquet", side_effect=RuntimeError("disk full")
    ):
        with pytest.raises(RuntimeError, match="disk full"):
            eng.compact()
    eng.compact()
    assert len(eng.query_rows("SELECT * FROM s")) == 3


def test_commit_lock_serializes_and_clears(tmp_path):
    """storage commit is guarded by an O_EXCL lock file: a stale lock
    (crashed committer) fails fast and clear_orphans removes it."""
    from refluxdb_spark.storage import ConcurrentRewriteError, VersionedPath

    vp = VersionedPath(str(tmp_path / "t"))
    new_dir, commit = vp.begin_rewrite()
    open(vp._pointer + ".lock", "x").close()  # crashed committer's leftover
    with pytest.raises(ConcurrentRewriteError, match="commit lock"):
        commit()
    removed = vp.clear_orphans()  # discards the claimed dir AND the lock
    assert any(p.endswith(".lock") for p in removed)
    d2, commit2 = vp.begin_rewrite()
    commit2()
    assert vp.current() == d2


def test_table_stats_metadata_report(spark, tmp_path):
    from refluxdb_spark.engine import RefluxEngine

    eng = RefluxEngine(spark, str(tmp_path / "wh"))
    assert eng.table_stats() == {
        "n_partitions": 0, "n_files": 0, "total_bytes": 0, "partitions": []
    }
    eng.write_lines([
        "cpu,host=a value=1.0 1000000000000000000",
        "mem,host=a value=2.0 1000000000000000000",
    ])
    st = eng.table_stats()
    assert st["n_partitions"] >= 2 and st["n_files"] >= 2 and st["total_bytes"] > 0
    parts = [p["partition"] for p in st["partitions"]]
    assert any("series=cpu" in p for p in parts)
    assert any("series=mem" in p for p in parts)
    # report matches the sum of its own partitions
    assert st["n_files"] == sum(p["n_files"] for p in st["partitions"])
    assert st["total_bytes"] == sum(p["bytes"] for p in st["partitions"])


def test_erase_targeted_rows_partition_pruned(spark, tmp_path):
    """engine.erase: matching rows disappear; only partitions that
    contained matches are rewritten — untouched partitions HARDLINK
    into the new version (same inode); counts are audited and the
    kept count comes from the observe() on the rewrite itself."""
    import os

    eng = RefluxEngine(spark, str(tmp_path / "wh_erase"))
    # two days (86400s apart), two hosts
    eng.write_lines([
        "cpu,host=a usage=0.1 1234567890000000000",
        "cpu,host=b usage=0.2 1234567891000000000",
        "cpu,host=a usage=0.3 1234654290000000000",
        "mem,host=a used=0.9 1234567890000000000",
    ])
    # untouched partition inode before erase (mem has no host=b rows)
    src = eng._path
    mem_dir = [os.path.join(r, f)
               for r, _, fs in os.walk(os.path.join(src))
               for f in fs if f.endswith(".parquet") and "series=mem" in r]
    assert mem_dir
    ino_before = os.stat(mem_dir[0]).st_ino

    res = eng.erase("tags['host'] = 'b'", vacuum=False)
    assert res["erased"] == 1
    assert res["rewritten_partitions"] == 1  # only cpu/day1 held host=b
    assert res["kept"] == 1                  # host=a row in that partition

    rows = eng.query_rows("SELECT * FROM cpu ORDER BY time")
    assert [r["value"] for r in rows] == [0.1, 0.3]
    assert all(r["tags"]["host"] == "a" for r in rows)
    assert len(eng.query_rows("SELECT * FROM mem")) == 1

    # untouched partition carried over as a hardlink (same inode)
    mem_after = [os.path.join(r, f)
                 for r, _, fs in os.walk(eng._path)
                 for f in fs if f.endswith(".parquet") and "series=mem" in r]
    assert os.stat(mem_after[0]).st_ino == ino_before

    # vacuum=False retains pre-erasure time travel
    versions = eng.table_versions()
    old = eng.table_as_of(versions[-2])
    assert old.filter("tags['host'] = 'b'").count() == 1

    # no-match erase: no new version, zeros
    v_before = len(eng.table_versions())
    assert eng.erase("tags['host'] = 'zzz'") == {
        "erased": 0, "rewritten_partitions": 0, "kept": 0,
    }
    assert len(eng.table_versions()) == v_before


def test_write_dataframe_observed_metrics(spark, tmp_path):
    """record_metrics=True: per-batch ingest metrics come from an
    observe() ON the write job (no second scan), land in the
    ingest_metrics ledger, and match the written rows."""
    from refluxdb_spark.sources.lineprotocol import explode_fields, parse_lines_df

    eng = RefluxEngine(spark, str(tmp_path / "wh_obs"))
    raw = spark.createDataFrame(
        [("cpu,host=a usage=0.5,temp=60.0 1700000000000000000",),
         ("cpu,host=b usage=0.7 1700000060000000000",)],
        "value string",
    )
    m = eng.write_dataframe(explode_fields(parse_lines_df(raw)), record_metrics=True)
    assert m["rows"] == 3 and m["null_values"] == 0
    assert m["min_time_us"] == 1700000000000000
    assert m["max_time_us"] == 1700000060000000
    led = eng.ingest_metrics().collect()
    assert len(led) == 1 and led[0]["rows"] == 3
    # un-metered write adds no ledger row and returns None
    assert eng.write_dataframe(explode_fields(parse_lines_df(raw))) is None
    assert eng.ingest_metrics().count() == 1


@pytest.mark.parametrize("layout", ["after_compaction", "one_write_batch"])
def test_measurements_files_time_sorted_with_stats(spark, tmp_path, layout):
    """SCALE.md §1's range-scan claim, physically fenced: after
    compaction, and straight from one out-of-order ``write_lines``
    batch, every parquet file in a (series, day) partition carries
    time min/max statistics and its row groups are internally sorted
    and mutually ordered on time — what turns a time-range scan into
    row-group/page skips."""
    import glob

    import pyarrow.parquet as pq

    eng = RefluxEngine(spark, str(tmp_path / "wh_sorted"))
    # interleaved timestamps; same series+day
    lines = [f"s v={i}.0 {1700000000000000000 + i * 10**6}" for i in (5, 1, 9, 3, 7)]
    if layout == "after_compaction":
        for ln in lines:
            eng.write_lines([ln])
        eng.compact()
    else:
        assert eng.write_lines(lines) == (5, 0)
    files = glob.glob(eng._path + "/**/*.parquet", recursive=True)
    assert files
    for f in files:
        pf = pq.ParquetFile(f)
        idx = [c for c, name in enumerate(pf.schema_arrow.names) if name == "time"]
        assert idx, f"no time column in {f}"
        spans = []
        for rg in range(pf.metadata.num_row_groups):
            col = pf.metadata.row_group(rg).column(idx[0])
            st = col.statistics
            assert st is not None and st.has_min_max, f"no time stats in {f}"
            spans.append((st.min, st.max))
        # row groups ordered and non-overlapping
        for (_, amax), (bmin, _) in zip(spans, spans[1:]):
            assert amax <= bmin
        # rows inside the file are ascending on time
        times = pf.read(columns=["time"]).column("time").to_pylist()
        assert times == sorted(times)


def test_erase_invalidates_incremental_rollup(spark, tmp_path):
    """Operational interaction fence: erase() rewrites the affected
    partitions, so the NEXT incremental maintain_rollup must see them
    as changed (manifest = file count + mtime) and re-aggregate —
    erased rows must not linger in the continuous aggregate."""
    eng = RefluxEngine(spark, str(tmp_path / "wh_er_roll"))
    eng.write_lines([
        "cpu,host=a usage=1.0 1700000000000000000",
        "cpu,host=b usage=2.0 1700000001000000000",
        "cpu,host=a usage=4.0 1700000002000000000",
    ])
    eng.maintain_rollup(incremental=True)
    before = eng.sql("SELECT sum(sum_value) AS s FROM rollup_1h").collect()[0].s
    assert before == 7.0
    eng.erase("tags['host'] = 'b'")
    eng.maintain_rollup(incremental=True)
    after = eng.sql("SELECT sum(sum_value) AS s FROM rollup_1h").collect()[0].s
    assert after == 5.0  # host=b's 2.0 gone from the aggregate


# ------------------------------------------------------------------
# Typed field values end to end (engine flag typed_fields=True) —
# the reference's declared-but-unbuilt surface (README.md:49,
# protocol.rs:155-183).
# ------------------------------------------------------------------

TYPED_LINES = [
    'cpu,host=a usage=0.8,cores=16i,throttled=false,model="Xeon E5 v4" 1556813561098000000',
    'cpu,host=b usage=0.9,cores=8i,throttled=true,model="EPYC \\"Rome\\"" 1556813561099000000',
    # the reference's own parser-test line ingests verbatim
    'mySingleTagMeasurement,tag1=value1 fieldKey1="fieldValue" 1556813561098000000',
]


@pytest.fixture(scope="module")
def typed_engine(spark, tmp_path_factory):
    eng = RefluxEngine(
        spark, str(tmp_path_factory.mktemp("typed_wh")), typed_fields=True
    )
    n, n_dead = eng.write_lines(TYPED_LINES + ["cpu bad=nope 1"])
    assert n == 9  # 4 + 4 + 1 typed field rows
    assert n_dead == 1  # the non-numeric bare value still dead-letters
    return eng


def test_typed_write_query_roundtrip(typed_engine):
    rows = typed_engine.query_rows(
        "SELECT name, value_type, value, value_int, value_bool, value_str "
        "FROM cpu ORDER BY name, value_int, value, value_bool, value_str"
    )
    got = {
        (r["name"], r["value_type"]): r
        for r in rows
        if r["name"] in ("usage", "model", "throttled")
    }
    assert got[("usage", "float")]["value"] in (0.8, 0.9)
    assert got[("model", "string")]["value_str"] in ('Xeon E5 v4', 'EPYC "Rome"')
    assert got[("model", "string")]["value"] is None
    assert got[("throttled", "bool")]["value_bool"] in (True, False)
    ints = [r for r in rows if r["name"] == "cores"]
    assert {r["value_int"] for r in ints} == {8, 16}
    # numeric view: ints are queryable through `value` unchanged
    assert {r["value"] for r in ints} == {8.0, 16.0}


def test_typed_values_serialize_back_to_wire_form(typed_engine):
    """write -> query -> LineProtocol.serialize round-trips all three
    non-float types to their wire forms (O4 on the typed surface)."""
    from refluxdb_spark.protocol import LineProtocol

    rows = typed_engine.query_rows(
        "SELECT name, value_type, value, value_int, value_bool, value_str, time "
        "FROM cpu WHERE value_int = 16 OR value_bool = true "
        "OR value_str = 'Xeon E5 v4' ORDER BY name"
    )
    fields = {}
    for r in rows:
        fields[r["name"]] = (
            r["value"] if r["value_type"] == "float"
            else r["value_int"] if r["value_type"] == "int"
            else r["value_bool"] if r["value_type"] == "bool"
            else r["value_str"]
        )
    lp = LineProtocol("cpu", {"host": "a"}, fields, 1556813561098000000)
    wire = lp.serialize()
    assert "cores=16i" in wire
    assert "throttled=true" in wire
    assert 'model="Xeon E5 v4"' in wire
    back = LineProtocol.parse(wire, typed=True)
    assert back.field_set == fields


def test_typed_reference_test_line_stored(typed_engine):
    rows = typed_engine.query_rows("SELECT * FROM mySingleTagMeasurement")
    assert len(rows) == 1
    r = rows[0]
    assert r["name"] == "fieldKey1"
    assert r["value_type"] == "string"
    assert r["value_str"] == "fieldValue"
    assert r["tags"] == {"tag1": "value1"}


def test_typed_table_carries_extended_schema(typed_engine):
    from refluxdb_spark.schema import TYPED_MEASUREMENT_COLUMNS

    cols = [c.lower() for c in typed_engine.query("SELECT * FROM cpu").columns]
    assert cols == TYPED_MEASUREMENT_COLUMNS


def test_typed_strict_compat_mutually_exclusive(spark, tmp_path_factory):
    with pytest.raises(ValidationError, match="mutually exclusive"):
        RefluxEngine(
            spark, str(tmp_path_factory.mktemp("x")),
            typed_fields=True, strict_compat=True,
        )


def test_untyped_engine_dead_letters_typed_values(spark, tmp_path_factory):
    """Default engines keep the reference-faithful f64-only contract:
    typed wire values route to the DLQ, never silently coerce."""
    eng = RefluxEngine(spark, str(tmp_path_factory.mktemp("untyped_wh")))
    n, n_dead = eng.write_lines(
        ['m x=42i 1', 'm y=true 1', 'm z="s" 1', 'm ok=1.5 1']
    )
    assert (n, n_dead) == (1, 3)
    dlq = {r.raw for r in eng.dead_letters().collect()}
    assert dlq == {'m x=42i 1', 'm y=true 1', 'm z="s" 1'}


def test_typed_write_dataframe_float_shape_welcome(spark, tmp_path_factory):
    """Pre-shaped float-only rows (the write_dataframe/streaming entry)
    land on a typed engine with a synthesized 'float' discriminator."""
    from pyspark.sql import functions as F

    eng = RefluxEngine(
        spark, str(tmp_path_factory.mktemp("typed_wdf")), typed_fields=True
    )
    rows = spark.range(3).select(
        F.lit("s").alias("series"),
        F.lit(1700000000000000000).alias("ts"),
        F.lit("v").alias("name"),
        (F.col("id") * 1.5).alias("value"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    eng.write_dataframe(rows)
    out = eng.query_rows("SELECT value_type, value FROM s ORDER BY value")
    assert [r["value_type"] for r in out] == ["float"] * 3
    assert [r["value"] for r in out] == [0.0, 1.5, 3.0]


# ------------------------------------------------------------------
# Separated tag relation (reference TODO README.md:55) — maintained
# exploded tag table + routed tag-equality scans.
# ------------------------------------------------------------------

@pytest.fixture(scope="module")
def tag_engine(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    eng = RefluxEngine(spark, str(tmp_path_factory.mktemp("tagidx_wh")))
    ev = spark.range(500).select(
        F.lit("error").alias("series"),
        (F.lit(1700000000000000000) + F.col("id") * F.lit(17280000000000)).alias("ts"),
        F.lit("value").alias("name"),
        (F.col("id") * 1.0).alias("value"),
        F.create_map(
            F.lit("b7"), (F.col("id") % 7).cast("string"),
            F.lit("src"), F.lit("gen"),
        ).alias("tags"),
    )
    eng.write_dataframe(ev)
    eng.maintain_tag_index()
    return eng


def test_tag_index_fresh_and_shape(tag_engine):
    assert tag_engine.tag_index_fresh()
    idx = tag_engine.tag_index_df()
    # reference TODO DDL columns present (id, key, value) + routing cols
    assert {"id", "key", "value", "series", "day"} <= set(idx.columns)
    assert idx.filter("key = 'b7'").count() == 500
    assert idx.filter("key = 'src'").count() == 500


def test_tag_scan_routed_equals_fallback(tag_engine):
    routed = tag_engine.tag_scan("error", "b7", "3")
    fallback = tag_engine.tag_scan("error", "b7", "3", prefer_index=False)
    assert routed.columns == fallback.columns
    r_ids = sorted(r.id for r in routed.collect())
    f_ids = sorted(r.id for r in fallback.collect())
    assert r_ids == f_ids and len(r_ids) == len([i for i in range(500) if i % 7 == 3])


def test_tag_scan_routed_plan_prunes(tag_engine):
    """The routed plan must (a) day-partition-prune the base scan
    (day IN/INSET in PartitionFilters — the 100 TB win over the full-
    series map-lookup scan) and (b) carry no tags[] map lookup; the
    fallback plan is the inverse."""
    routed = tag_engine.tag_scan("error", "b7", "3")
    plan = routed._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        l for l in plan.splitlines() if "measurements" in l and "FileScan" in l
    ]
    assert scan_lines, plan
    pf = scan_lines[0].split("PartitionFilters:")[1]
    assert "day" in pf and ("INSET" in pf or " IN " in pf), pf
    assert "tags#" not in plan.split("BroadcastHashJoin")[0] or "tags[" not in plan
    assert "LeftSemi" in plan
    fb_plan = (
        tag_engine.tag_scan("error", "b7", "3", prefer_index=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "tags#" in fb_plan and "INSET" not in fb_plan


def test_tag_scan_no_hits_is_empty_not_error(tag_engine):
    assert tag_engine.tag_scan("error", "b7", "999").count() == 0
    assert tag_engine.tag_scan("error", "nosuchkey", "x").count() == 0


def test_tag_scan_stale_index_falls_back_correct(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    eng = RefluxEngine(spark, str(tmp_path_factory.mktemp("tagidx_stale")))

    def batch(offset):
        return spark.range(50).select(
            F.lit("s").alias("series"),
            (F.lit(1700000000000000000) + (F.col("id") + offset) * F.lit(1000000000)).alias("ts"),
            F.lit("v").alias("name"),
            F.lit(1.0).alias("value"),
            F.create_map(F.lit("k"), ((F.col("id") + offset) % 3).cast("string")).alias("tags"),
        )

    eng.write_dataframe(batch(0))
    eng.maintain_tag_index()
    assert eng.tag_index_fresh()
    eng.write_dataframe(batch(50))  # index now stale
    assert not eng.tag_index_fresh()
    # stale index must not serve: results still include the new rows
    got = eng.tag_scan("s", "k", "0").count()
    exp = len([i for i in range(100) if i % 3 == 0])
    assert got == exp
    # incremental maintenance re-freshens and the routed path agrees
    eng.maintain_tag_index(incremental=True)
    assert eng.tag_index_fresh()
    assert eng.tag_scan("s", "k", "0").count() == exp


def test_tags_sql_view_reference_ddl_shape(tag_engine):
    """README.md:55's declared table is queryable by its declared name
    and columns: <series>_tags (id, key, value)."""
    rows = tag_engine.query_rows(
        "SELECT key, value, count(*) AS n FROM error_tags "
        "WHERE key = 'b7' GROUP BY key, value ORDER BY value"
    )
    assert len(rows) == 7
    assert all(set(r) == {"key", "value", "n"} for r in rows)
    assert sum(r["n"] for r in rows) == 500
    # joinable back to the base series by id (the TODO's implied use)
    joined = tag_engine.query_rows(
        "SELECT count(*) AS n FROM error e JOIN error_tags t ON e.id = t.id "
        "WHERE t.key = 'b7' AND t.value = '3'"
    )
    assert joined[0]["n"] == len([i for i in range(500) if i % 7 == 3])


def test_tags_view_for_unknown_series_still_errors(tag_engine):
    from refluxdb_spark.errors import TableNotFoundError

    with pytest.raises(TableNotFoundError):
        tag_engine.query("SELECT * FROM nosuchseries_tags")


def test_tag_scan_unselective_tag_costs_out_of_routing(tag_engine):
    """A tag whose hits span (almost) every day gains nothing from day
    pruning — the cost rule must serve it from the plain map-lookup
    scan instead of paying index read + join on top of the full scan."""
    routed = tag_engine.tag_scan("error", "src", "gen")  # on every row
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "INSET" not in plan and "LeftSemi" not in plan
    assert routed.count() == 500


def test_typed_range_scan_carries_typed_columns(typed_engine):
    out = typed_engine.range(
        "cpu", "2019-01-01T00:00:00Z", "2020-01-01T00:00:00Z"
    )
    from refluxdb_spark.schema import TYPED_MEASUREMENT_COLUMNS

    assert [c.lower() for c in out.columns] == TYPED_MEASUREMENT_COLUMNS
    assert out.filter("value_type = 'string'").count() == 2


def test_typed_lake_survives_maintenance_lifecycle(spark, tmp_path_factory):
    """The typed lake (r16 surface) through EVERY maintenance path in
    one lifecycle: compaction (+ time travel to the pre-compaction
    version), incremental rollup, retention, the tag index's routed
    scan, and targeted erasure — after each step the typed payload
    columns (value_type/value_int/value_bool/value_str) must survive
    byte-for-byte. Maintenance rewrites whole partitions, so a path
    that re-selected the untyped 6-column shape would silently strip
    the typed surface; this is the fence against that."""
    from pyspark.sql import functions as F

    eng = RefluxEngine(
        spark, str(tmp_path_factory.mktemp("typed_maint")), typed_fields=True
    )
    day_ns = 86400 * 10**9
    base = 1556755200 * 10**9  # 2019-05-02 00:00:00 UTC
    lines = []
    for d in range(3):
        for i in range(4):
            ts = base + d * day_ns + i * 10**9
            lines.append(
                f'srv,host=h{i % 2} temp={20 + i}.5,cores={i}i,'
                f'ok={"true" if i % 2 else "false"},model="m{i}" {ts}'
            )
    n, dead = eng.write_lines(lines)
    assert (n, dead) == (48, 0)  # 12 lines x 4 typed fields

    def snapshot(df):
        return sorted(
            (r["time"], r["name"], r["value_type"], r["value"],
             r["value_int"], r["value_bool"], r["value_str"])
            for r in df.select(
                "time", "name", "value_type", "value",
                "value_int", "value_bool", "value_str",
            ).collect()
        )

    before = snapshot(eng.query("SELECT * FROM srv"))
    assert len(before) == 48
    assert {r[2] for r in before} == {"float", "int", "bool", "string"}

    # 1) compaction: typed rows byte-identical; the superseded version
    #    remains time-travel readable with the typed schema
    old_version = eng._data.versions()[-1]
    eng.compact(vacuum=False)
    assert snapshot(eng.query("SELECT * FROM srv")) == before
    assert snapshot(eng.table_as_of(old_version)) == before

    # 2) incremental rollup on the typed lake: the numeric view drives
    #    the aggregate; totals must match the base table's own sum
    eng.maintain_rollup(incremental=True)
    roll_sum = eng.query(
        "SELECT CAST(SUM(CAST(sum_value AS DECIMAL(18,2))) AS DOUBLE) AS s "
        "FROM rollup_1h"
    ).collect()[0]["s"]
    base_sum = eng.query(
        "SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s FROM srv"
    ).collect()[0]["s"]
    assert roll_sum == base_sum

    # 3) tag index on a typed engine: routed scan returns typed rows
    eng.maintain_tag_index()
    assert eng.tag_index_fresh()
    routed_rows = snapshot(eng.tag_scan("srv", "host", "h0"))
    fallback_rows = snapshot(eng.tag_scan("srv", "host", "h0", prefer_index=False))
    assert routed_rows == fallback_rows and len(routed_rows) == 24

    # 4) retention: drop day 0, typed columns intact on survivors
    eng.apply_retention(keep_after="2019-05-03T00:00:00")
    kept = snapshot(eng.query("SELECT * FROM srv"))
    assert len(kept) == 32
    assert {r[2] for r in kept} == {"float", "int", "bool", "string"}
    assert kept == [r for r in before if r[0].isoformat() >= "2019-05-03"]

    # 5) targeted erasure by tag: h1 rows gone, typed payloads intact
    eng.erase("tags['host'] = 'h1'", series="srv")
    final = snapshot(eng.query("SELECT * FROM srv"))
    assert len(final) == 16
    assert {r[2] for r in final} == {"float", "int", "bool", "string"}
    # survivors are exactly the kept h0 rows (hosts alternate with i%2,
    # so h0 carries the even-i field values)
    assert {r[4] for r in final if r[1] == "cores"} == {0, 2}
    assert len([r for r in kept if r not in final]) == 16


# ---------------------------------------------------------------- read path
def _with_jobs(spark, fn):
    """``fn()``'s result and the Spark job ids it started, counted
    under a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"fence-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read-path fence", False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_partition_values_keep_their_string_type(spark, tmp_path):
    """Series names that look like numbers or dates stay distinct
    strings: ``007`` and ``7`` never merge into the integer 7, and
    ``2024-01-01`` is not read back as a date."""
    for names in (["007", "7"], ["2024-01-01"]):
        eng = RefluxEngine(spark, str(tmp_path / f"wh_{len(names)}"))
        eng.write_lines(
            [f"{n} v={i + 1}.0 1700000000000000000" for i, n in enumerate(names)]
        )
        assert eng._table().schema["series"].dataType.simpleString() == "string"
        for i, n in enumerate(names):
            got = eng.range(n, "2000-01-01T00:00:00Z", "2100-01-01T00:00:00Z")
            assert [r.value for r in got.collect()] == [i + 1.0]
        rows = eng.sql("SELECT series, value FROM measurements").collect()
        assert sorted((r.series, r.value) for r in rows) == [
            (n, i + 1.0) for i, n in enumerate(names)
        ]
        assert eng.field_keys() == {n: ["v"] for n in names}
        # a retained version reads through the same declared schema
        eng.compact(vacuum=False)
        old = eng.table_as_of(eng.table_versions()[0])
        assert old.schema["series"].dataType.simpleString() == "string"
        assert sorted(r.series for r in old.collect()) == sorted(names)


def test_clean_write_runs_at_most_two_spark_jobs(spark, tmp_path):
    """A clean multi-series ``write_lines`` batch is one shuffled write:
    the shuffle stage plus the write stage, with the row and
    dead-letter counts observed on it — no count or cache job."""
    eng = RefluxEngine(spark, str(tmp_path / "wh"))
    lines = [
        f"s{i % 4},host=h{i % 3} v={i}.0,w={i} {1700000000000000000 + (99 - i) * 10**9}"
        for i in range(100)
    ]
    (written, rejected), jobs = _with_jobs(spark, lambda: eng.write_lines(lines))
    assert (written, rejected) == (200, 0)
    assert len(jobs) <= 2, jobs
    assert eng.list_series() == ["s0", "s1", "s2", "s3"]


def test_write_runs_no_python_worker_and_spreads_its_files(spark, tmp_path):
    """A ``write_lines`` batch is built on the JVM (no Python RDD scan
    in the raw-lines plan), still runs at most two jobs, writes with
    one task per ``spark.sql.shuffle.partitions`` (AQE does not collapse
    it onto one writer), and adds one file per (series, day) touched."""
    from datetime import datetime, timezone

    eng = RefluxEngine(spark, str(tmp_path / "wh"))
    ts = [1700000000000000000 + i * 3600 * 10**9 for i in range(100)]  # 100 h
    lines = [f"s{i % 4},host=h{i % 3} v={i}.0 {t}" for i, t in enumerate(ts)]
    raws = []
    write_raw = eng.write_lines_dataframe
    eng.write_lines_dataframe = lambda raw: raws.append(raw) or write_raw(raw)
    (written, rejected), jobs = _with_jobs(spark, lambda: eng.write_lines(lines))
    assert (written, rejected) == (100, 0)
    assert len(jobs) <= 2, jobs
    plan = raws[0]._jdf.queryExecution().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan

    tracker = spark.sparkContext.statusTracker()
    write_stage = max(tracker.getJobInfo(max(jobs)).stageIds)
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert tracker.getStageInfo(write_stage).numTasks == width

    pairs = {
        (f"s{i % 4}", datetime.fromtimestamp(t // 10**9, timezone.utc).date())
        for i, t in enumerate(ts)
    }
    files = [
        f for _, _, fs in os.walk(eng._path) for f in fs if f.endswith(".parquet")
    ]
    assert len(pairs) > width  # more files than writer tasks
    assert len(files) == len(pairs)


def test_write_lines_keeps_every_element_exactly(spark, tmp_path):
    """Each ``write_lines`` element becomes its parsed rows or exactly
    one dead letter whose ``raw`` is the element, whatever it holds:
    non-ASCII text, quotes, backslashes, an embedded newline (a UDP
    datagram stays one line), or nothing but blanks. A batch of the
    serve preload size keeps every line."""
    eng = RefluxEngine(spark, str(tmp_path / "wh"))
    bad = [
        'cpu v="str\\"q" 1700000002000000000',
        "cpu v=1.0\nmem v=2.0 1700000003000000000",
        "   ",
    ]
    good = [
        "cpu,host=zürich,note=中文 v=1.5 1700000000000000000",
        'cpu,path=C:\\dir,q="x" v=2.0 1700000001000000000',
    ]
    assert eng.write_lines(good[:1] + bad + good[1:]) == (2, 3)
    rows = sorted((r.value, r.tags) for r in eng._table().collect())
    assert rows == [
        (1.5, {"host": "zürich", "note": "中文"}),
        (2.0, {"path": "C:\\dir", "q": '"x"'}),
    ]
    dead = sorted((r.raw, r.error) for r in eng.dead_letters().collect())
    assert dead == sorted([
        (bad[0], "non-numeric field value"),
        (bad[1], "bad timestamp"),
        (bad[2], "empty line"),
    ])

    batch = [f"bulk,k=k{i % 7} v={i}.0 {1700000000000000000 + i}" for i in range(1500)]
    assert eng.write_lines(batch) == (1500, 0)
    assert eng.query_rows("SELECT count(*) AS n, sum(value) AS s FROM bulk") == [
        {"n": 1500, "s": float(sum(range(1500)))}
    ]


def test_engines_sharing_a_session_serve_their_own_series_views(spark, tmp_path):
    """Temp views are per session: two engines on one session that both
    hold series ``cpu`` each answer ``FROM cpu`` from their own rows,
    however their queries interleave."""
    a = RefluxEngine(spark, str(tmp_path / "wh_a"))
    b = RefluxEngine(spark, str(tmp_path / "wh_b"))
    a.write_lines(["cpu v=1.0 1700000000000000000"])
    b.write_lines(["cpu v=2.0 1700000000000000000", "cpu v=3.0 1700000001000000000"])
    for eng, want in [(a, [1.0]), (b, [2.0, 3.0]), (a, [1.0]), (a, [1.0]), (b, [2.0, 3.0])]:
        got = eng.query_rows("SELECT value FROM cpu ORDER BY value")
        assert [r["value"] for r in got] == want


def test_erase_escaped_series_name_rewrites_not_links(spark, tmp_path):
    """A series whose directory name is Hive-escaped (``a:b`` lives in
    ``series=a%3Ab``) is recognised as affected: its partition is
    rewritten without the erased row, not hardlinked over unchanged."""
    eng = RefluxEngine(spark, str(tmp_path / "wh"))
    eng.write_lines([
        "a:b,host=x v=1.0 1700000000000000000",
        "a:b,host=y v=2.0 1700000001000000000",
    ])
    assert eng.erase("tags['host'] = 'y'") == {
        "erased": 1, "rewritten_partitions": 1, "kept": 1,
    }
    got = eng.range("a:b", "2000-01-01T00:00:00Z", "2100-01-01T00:00:00Z")
    assert [r.value for r in got.collect()] == [1.0]


def test_range_and_view_rebuild_run_no_spark_job(spark, tmp_path, engine):
    """Opening the table is pure planning: building a range scan, and
    rebuilding a query's series view after a write, start no Spark job
    (no schema inference) — the only jobs come at collect."""
    df, jobs = _with_jobs(spark, lambda: engine.range(
        "cpu", "2023-11-14T00:00:00Z", "2023-11-15T00:00:00Z"
    ))
    assert jobs == [] and df.count() == 3
    eng = RefluxEngine(spark, str(tmp_path / "wh"))
    eng.write_lines(["rebuilt v=1.0 1700000000000000000"])
    eng.query("SELECT * FROM rebuilt")
    eng.write_lines(["rebuilt v=2.0 1700000001000000000"])
    assert "rebuilt" not in eng._views  # the write dropped the stale view
    df, jobs = _with_jobs(spark, lambda: eng.query("SELECT * FROM rebuilt"))
    assert jobs == [] and "rebuilt" in eng._views
    assert sorted(r.value for r in df.collect()) == [1.0, 2.0]


def test_uncommitted_partition_reads_empty(spark, tmp_path):
    """A directory holding only ``_temporary`` output (a write in
    flight or aborted) reads as an empty table, whether it is the
    whole table or one series; such a series stays a 404 for range."""
    eng = RefluxEngine(spark, str(tmp_path / "wh"))
    os.makedirs(os.path.join(eng._path, "_temporary", "0"))
    assert eng._table().count() == 0
    eng.write_lines(["cpu v=1.0 1700000000000000000"])
    os.makedirs(os.path.join(eng._path, "series=ghost", "_temporary", "0"))
    assert eng._table("ghost").count() == 0
    assert eng._table().count() == 1
    with pytest.raises(TableNotFoundError):
        eng.range("ghost", "2000-01-01T00:00:00Z", "2100-01-01T00:00:00Z")


def test_series_view_and_range_keep_decoder_column_order(engine):
    """``SELECT *`` from a series view and ``range()`` return the
    reference decoder's positional column order, which the
    strict-compat decoder depends on. (The typed engine's extended
    order is fenced by ``test_typed_table_carries_extended_schema`` and
    ``test_typed_range_scan_carries_typed_columns``.)"""
    from refluxdb_spark.schema import MEASUREMENT_COLUMNS

    assert engine.query("SELECT * FROM test").columns == MEASUREMENT_COLUMNS
    assert engine.range(
        "test", "2000-01-01T00:00:00Z", "2100-01-01T00:00:00Z"
    ).columns == MEASUREMENT_COLUMNS
