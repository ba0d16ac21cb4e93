"""RefluxEngine — the reference's persistence + query surface, Spark-first.

Maps the reference's components onto one partitioned lake table:

=====================================  =====================================
reference (per-series sled + GlueSQL)  here (Spark)
=====================================  =====================================
one sled db per series                 one parquet/delta table partitioned
(``persistence.rs:21-23``)             by ``series`` (+ ``day``)
registry HashMap (``persistence.rs:    the table's partition values
43-47``)
``save_measurement`` SQL-string        columnar append via DataFrame write
INSERT (``persistence.rs:99-143``)
``query_measurements`` (``persistence  validate (gateway) -> temp views ->
.rs:146-163``)                         ``spark.sql`` -> Catalyst
``get_measurement_range``              partition-pruned time-between scan
(``persistence.rs:164-196``)
``list_timeseries`` (``persistence.    DISTINCT over partition column
rs:59-68``)
=====================================  =====================================

Compat flags (quirk register, SURVEY §7):
- ``strict_compat``: empty result raises NoDataError (Q5,
  ``utils/db.rs:15-17``) and the substring blocklist runs (Q3).
- ``server_time_mode``: reproduce Q1 (client timestamp discarded;
  ``time`` = arrival time). Default stores event time in ``time`` and
  arrival time in ``created_at``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import weakref
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from refluxdb_spark.errors import NoDataError, TableNotFoundError, ValidationError
from refluxdb_spark.gateway import ast_validate, validate_query
from refluxdb_spark.schema import (
    MEASUREMENT_COLUMNS,
    MEASUREMENTS_READ_SCHEMA,
    MEASUREMENTS_TYPED_READ_SCHEMA,
    TYPED_MEASUREMENT_COLUMNS,
)
from refluxdb_spark.sources.lineprotocol import (
    explode_fields,
    explode_typed_fields,
    parse_lines_df,
    parse_lines_typed_df,
)

_TABLE = "measurements"

# Temp views are per SparkSession, but engines sharing one session name
# their series views alike: session -> {view: the engine that built it
# last}, all held weakly, so a dropped session or engine owns nothing.
_VIEW_OWNERS = weakref.WeakKeyDictionary()


def _ROLLUP_AGGS() -> list:
    """The continuous aggregate's measure set — shared verbatim by
    ``maintain_rollup`` (build) and ``bucket_stats`` (query-time
    fallback) so routed and unrouted reads are bit-identical. The sum
    accumulates in decimal(18,2): exact for 2-decimal field values, so
    neither shuffle order nor split between rollup build and read can
    perturb it."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ]


# The canonical dashboard aggregate a continuous rollup exists to serve
# (TimescaleDB's real-time-aggregate shape). Deliberately template-level:
# the gateway is token-validated, not AST-parsed, so routing matches the
# exact shape rather than guessing at arbitrary SQL.
_CANONICAL_BUCKET_RE = re.compile(
    r"^select\s+date_trunc\(\s*'(hour|minute|day)'\s*,\s*time\s*\)\s+as\s+bucket_start\s*,"
    r"\s*count\(\s*\*\s*\)\s+as\s+n\s*,"
    r"\s*sum\(\s*value\s*\)\s+as\s+sum_value\s*,"
    r"\s*min\(\s*value\s*\)\s+as\s+min_value\s*,"
    r"\s*max\(\s*value\s*\)\s+as\s+max_value"
    r"\s+from\s+([A-Za-z_]\w*)"
    r"\s+group\s+by\s+(?:1|bucket_start)"
    r"(?:\s+order\s+by\s+bucket_start(?:\s+asc)?)?\s*;?\s*$",
    re.IGNORECASE,
)


class RefluxEngine:
    """Importable engine: ``write_lines`` / ``query`` / ``range`` /
    ``list_series`` — the reference's four endpoints as functions
    (``handlers.rs``: ``GET /`` ``POST /write`` ``POST /query``
    ``GET /range/{ts}``). Server processes are optional frontends.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        strict_compat: bool = False,
        server_time_mode: bool = False,
        typed_fields: bool = False,
    ) -> None:
        if typed_fields and strict_compat:
            raise ValidationError(
                "typed_fields and strict_compat are mutually exclusive: "
                "strict compat reproduces the reference's f64-only value "
                "column (README.md:49), dead-lettering typed wire values"
            )
        self.spark = spark
        self.warehouse = warehouse
        self.strict_compat = strict_compat
        self.server_time_mode = server_time_mode
        self.typed_fields = typed_fields
        from refluxdb_spark.storage import VersionedPath

        self._data = VersionedPath(os.path.join(warehouse, _TABLE))
        self._dlq_path = os.path.join(warehouse, "dead_letters")
        self._views: set[str] = set()
        os.makedirs(warehouse, exist_ok=True)
        # SQL-visible TSDB helpers (time_bucket_s, rate_per_second, …)
        # available through the gateway — functions/sqlfuncs.py
        from refluxdb_spark.functions.sqlfuncs import register_sql_functions

        register_sql_functions(spark)

    # ------------------------------------------------------------- ingest
    def write_lines(self, lines: list[str]) -> tuple[int, int]:
        """Parse + append line-protocol lines. Returns (rows_written,
        n_dead_letters); rejected payloads are persisted to the
        dead-letter table (``dead_letters()``), never collected to the
        driver — a poisoned bulk feed costs a count, not a driver OOM.

        The whole path is column expressions + one columnar append — the
        Spark shape of the reference's per-datagram loop
        (``udpserver.rs:33-49`` / ``handlers.rs:112-134``), without the
        global mutex (``main.rs:23``).

        The lines enter the plan as ONE JSON string literal that the JVM
        parses and explodes into one row per element (one partition), so
        no Python RDD is built and no Python worker runs — a
        ``createDataFrame`` of a list would ship the batch through
        ``parallelize`` and Python workers. Each element stays exactly
        one row, whatever newlines, quotes or non-ASCII text it holds.
        """
        if not lines:
            return 0, 0
        raw = self.spark.range(1, numPartitions=1).select(
            F.explode(
                # FAILFAST: a malformed literal raises instead of
                # reading as null, which explode would turn into no rows
                F.from_json(F.lit(json.dumps(lines)), "array<string>",
                            {"mode": "FAILFAST"})
            ).alias("value")
        )
        return self.write_lines_dataframe(raw)

    def write_lines_dataframe(self, raw: DataFrame, line_col: str = "value") -> tuple[int, int]:
        """Parse + append a DataFrame of raw line-protocol strings —
        the distributed entry ``write_lines`` wraps (bulk loaders and
        the oracled typed-fields query feed millions of lines without
        ever materializing them on the driver)."""
        parse = parse_lines_typed_df if self.typed_fields else parse_lines_df
        return self._append_lines(parse(raw, line_col))

    def _append_lines(
        self, parsed: DataFrame, record_metrics: bool = False
    ) -> tuple[int, int]:
        """Append parsed lines and dead-letter the rejected ones — the
        one write path of HTTP, UDP, bulk and streaming ingest. The
        rejected count is observed on the same write job; the rejected
        lines are re-derived and written only when there are any.
        Returns (rows_written, n_dead_letters)."""
        explode = explode_typed_fields if self.typed_fields else explode_fields
        dead = Observation()
        observed = parsed.observe(
            dead, F.count(F.col("error")).alias("n")  # count() skips nulls
        )
        written = self._append(explode(observed), record_metrics)["rows"]
        n_dead = int(dead.get["n"])
        if n_dead:
            self.write_dead_letters(parsed.filter(F.col("error").isNotNull()))
        return written, n_dead

    def _append(self, rows: DataFrame, record_metrics: bool = False) -> dict:
        """Append pre-shaped rows as ONE Spark write: each (series, day)
        lands in one shuffle partition, so one write adds one
        time-sorted file per partition it touches. The batch metrics
        (rows, null_values, min/max event time in micros) come from a
        ``Dataset.observe`` on that write job itself — no second scan.
        ``record_metrics`` also appends them to the ingest ledger.

        The shuffle width is the session's ``spark.sql.shuffle.partitions``,
        given explicitly: AQE never coalesces a repartition by number,
        whereas it would collapse a small write's shuffle onto ONE
        writer task that writes every (series, day) file in turn."""
        obs = Observation()
        width = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        out = self._finalize_rows(rows).repartition(width, "series", "day").observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias(
                "null_values"
            ),
            F.min(F.unix_micros("time")).alias("min_time_us"),
            F.max(F.unix_micros("time")).alias("max_time_us"),
        )
        _write_sorted(out, self._path)
        m = {k: (0 if v is None else int(v)) for k, v in obs.get.items()}
        if m["rows"]:
            self._views.clear()  # refresh views on next query
        if record_metrics:
            self.spark.createDataFrame(
                [(m["rows"], m["null_values"], m["min_time_us"], m["max_time_us"])],
                "rows bigint, null_values bigint, min_time_us bigint, max_time_us bigint",
            ).withColumn("recorded_at", F.current_timestamp()).write.mode(
                "append"
            ).parquet(os.path.join(self.warehouse, "ingest_metrics"))
        return m

    def write_dataframe(
        self, rows: DataFrame, record_metrics: bool = False
    ) -> dict | None:
        """Append pre-shaped rows (series, tags, ts, name, value) — the
        bulk entry for callers that shape their own rows. Same single
        write as ``write_lines``: one time-sorted file per (series,
        day) partition touched, so parquet row-group min/max stats
        make later time-range scans skip pages — the lake-table
        equivalent of the reference's per-series B-tree time locality.

        ``record_metrics=True`` returns the batch metrics the write job
        observed — (rows, null_values, min/max event time in micros) —
        and appends them to ``{warehouse}/ingest_metrics`` (a tiny
        auditable ledger the streaming SLA/lag dashboards read instead
        of rescanning the table). Without it the return is ``None``."""
        m = self._append(rows, record_metrics)
        return m if record_metrics else None

    def ingest_metrics(self) -> DataFrame:
        """The per-batch ingest ledger written by
        ``write_dataframe(record_metrics=True)`` — empty if no metered
        writes happened yet."""
        p = os.path.join(self.warehouse, "ingest_metrics")
        if not os.path.exists(p):
            return self.spark.createDataFrame(
                [],
                "rows bigint, null_values bigint, min_time_us bigint,"
                " max_time_us bigint, recorded_at timestamp",
            )
        return self.spark.read.parquet(p)

    def write_dead_letters(self, bad: DataFrame) -> None:
        """Persist rejected lines (error + raw) to the dead-letter
        table — inputs the reference would have panicked on (Q6) are
        kept auditable instead of dropped."""
        bad.select("error", "raw").withColumn(
            "rejected_at", F.current_timestamp()
        ).write.mode("append").parquet(self._dlq_path)

    def dead_letters(self) -> DataFrame:
        if not os.path.exists(self._dlq_path):
            return self.spark.createDataFrame(
                [], "error string, raw string, rejected_at timestamp"
            )
        return self.spark.read.parquet(self._dlq_path)

    @property
    def _path(self) -> str:
        """Live measurements directory, resolved through the version
        pointer (``storage.VersionedPath``) — compaction swaps versions
        with one pointer-file PUT, never a directory rename."""
        return self._data.current()

    def compact(self, target_file_mb: int = 128, vacuum: bool = True) -> None:
        """Rewrite the measurements table into ~target-size files per
        (series, day) partition — streaming appends produce one small
        file per micro-batch, and scan cost at 100 TB is dominated by
        file count. Time-sorts within files (restores range-scan
        locality) and preserves all rows.

        Object-store-safe: the compacted copy lands in a fresh version
        directory and goes live via a single pointer-file write (see
        ``storage.py``) — no directory rename anywhere, so the same
        code is correct on S3/GCS, and a crash mid-compact leaves the
        live table untouched. ``vacuum=False`` retains superseded
        versions for time travel (``table_versions`` /
        ``table_as_of``); vacuum later per retention policy."""
        df = self._table()
        if df.isEmpty():
            return
        n_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(self._path)
            for f in files
        )
        n_files = max(1, n_bytes // (target_file_mb * 1024 * 1024))
        with self._data.rewrite() as new_dir:
            _write_sorted(df.repartition(int(n_files), "series"), new_dir)
        if vacuum:
            self._data.vacuum()
        self._views.clear()

    def apply_retention(self, keep_after: "str | datetime", vacuum: bool = True) -> None:
        """Retention policy enforcement (the Influx feature the
        reference lacks): drop all data from days strictly before
        ``keep_after``'s date.

        Object-store-safe AND metadata-speed: retained partition
        directories are HARDLINKED into a fresh version tree (no data
        bytes move; on S3/GCS the equivalent is server-side COPY of
        retained objects, or a manifest that simply omits the expired
        ones), then the pointer-file commit swaps readers over. No
        reader ever sees a partially-deleted table; expired bytes
        disappear at vacuum. Falls back to a real file copy when the
        filesystem refuses links."""
        cutoff = _parse_rfc3339(keep_after).date().isoformat()
        src = self._path
        if not os.path.exists(src):
            return
        with self._data.rewrite() as new_dir:
            # ISO dates sort lexically
            _link_partitions(src, new_dir, lambda series, day: day >= cutoff)
        if vacuum:
            self._data.vacuum()
        self._views.clear()

    def erase(
        self,
        predicate: str,
        series: str | None = None,
        vacuum: bool = True,
    ) -> dict[str, int]:
        """Targeted erasure (GDPR right-to-be-forgotten / bad-ingest
        surgery): remove every row matching the SQL ``predicate``
        (e.g. ``"tags['user'] = 'u42'"``), optionally scoped to one
        series. The reference BLOCKS user-facing DELETE (parity,
        ``gateway.py``); this is the ADMIN maintenance path alongside
        ``compact``/``apply_retention``.

        Partition-pruned rewrite: only (series, day) partitions that
        actually CONTAIN matching rows are rewritten (minus matches,
        order preserved); every untouched partition HARDLINKS into the
        fresh version tree — at 100 TB erasing one user touches the
        handful of partitions their rows live in, never the table.
        Object-store-safe via the same ``rewrite()``/pointer-commit
        protocol as compaction (no renames, crash leaves the live
        table intact). The kept-row count comes from a
        ``Dataset.observe`` on the rewrite itself — no second scan.

        ``vacuum=True`` (default) drops superseded versions so the
        erased bytes are actually gone — the GDPR contract; pass
        ``vacuum=False`` to retain time travel (``table_as_of`` still
        shows pre-erasure data until vacuumed, so audit THEN vacuum).

        Returns {"erased": n, "rewritten_partitions": p, "kept": k}.
        """
        df = self._table(series)
        erase_match = F.expr(predicate)
        if series is not None:
            erase_match = erase_match & (F.col("series") == series)
        # one scan gives both the partitions to rewrite and the count;
        # day's str() form is its directory name
        counts = df.filter(erase_match).groupBy("series", "day").count().collect()
        if not counts:
            return {"erased": 0, "rewritten_partitions": 0, "kept": 0}
        affected = {(r["series"], str(r["day"])) for r in counts}
        n_erased = sum(r["count"] for r in counts)
        with self._data.rewrite() as new_dir:
            _link_partitions(
                self._path, new_dir, lambda s, d: (s, d) not in affected
            )
            in_affected = F.concat_ws("\x00", "series", "day").isin(
                [f"{s}\x00{d}" for s, d in affected]
            )
            obs = Observation("erase")
            _write_sorted(
                df.filter(in_affected & ~erase_match).observe(
                    obs, F.count(F.lit(1)).alias("kept")
                ),
                new_dir,
            )
            kept = int(obs.get["kept"])
        if vacuum:
            self._data.vacuum()
        self._views.clear()
        return {
            "erased": n_erased,
            "rewritten_partitions": len(affected),
            "kept": kept,
        }

    def field_keys(self, series: str | None = None) -> dict[str, list[str]]:
        """``SHOW FIELD KEYS``: distinct field names per series (every
        line-protocol field became a row with its ``name``). Scans only
        the requested series' partition (pruned) — or all partitions
        grouped, one map-side-combined distinct either way."""
        df = self._table(series)
        if series is not None:
            df = df.filter(F.col("series") == series)
        rows = (
            df.select("series", "name").distinct().collect()
        )
        out: dict[str, list[str]] = {}
        for r in rows:
            out.setdefault(r["series"], []).append(r["name"])
        return {k: sorted(v) for k, v in out.items()}

    def tag_keys(self, series: str | None = None) -> dict[str, list[str]]:
        """``SHOW TAG KEYS``: distinct tag-map keys per series —
        explode(map_keys(tags)) + distinct, partition-pruned when a
        series is given."""
        df = self._table(series)
        if series is not None:
            df = df.filter(F.col("series") == series)
        rows = (
            df.select("series", F.explode(F.map_keys("tags")).alias("k"))
            .distinct()
            .collect()
        )
        out: dict[str, list[str]] = {}
        for r in rows:
            out.setdefault(r["series"], []).append(r["k"])
        return {k: sorted(v) for k, v in out.items()}

    def tag_values(
        self, key: str, series: str | None = None, limit: int = 10000
    ) -> dict[str, list[str]]:
        """``SHOW TAG VALUES WITH KEY = <key>``: distinct values of one
        tag key per series (the third of Influx's schema-exploration
        trio after SHOW FIELD KEYS / SHOW TAG KEYS). One map lookup +
        distinct — no explode of the whole tag map — and
        partition-pruned when a series is given.

        Schema exploration returns SMALL results by contract; a tag
        with unbounded cardinality (request id, user id) would
        otherwise collect unbounded rows to the driver, so the distinct
        set is capped at ``limit`` (default 10k) and exceeding it
        raises ``ValidationError`` — the caller asked a data question
        (use ``query``/``sql``), not a schema question."""
        df = self._table(series)
        if series is not None:
            df = df.filter(F.col("series") == series)
        rows = (
            df.select("series", F.col("tags")[key].alias("v"))
            .filter(F.col("v").isNotNull())
            .distinct()
            .limit(limit + 1)
            .collect()
        )
        if len(rows) > limit:
            raise ValidationError(
                f"tag key {key!r} exceeds {limit} distinct values — not a "
                "schema-exploration question; query the data instead "
                "(or raise limit=)"
            )
        out: dict[str, list[str]] = {}
        for r in rows:
            out.setdefault(r["series"], []).append(r["v"])
        return {k: sorted(v) for k, v in out.items()}

    def table_versions(self) -> list[int]:
        """Table versions still on disk. Versions are COMPACTION
        lineage: appends mutate the live version; a version freezes
        the moment a later compaction supersedes it. Retained versions
        are therefore rollback points (e.g. out from under a bad
        compaction), bounded by vacuum policy — the Delta/Iceberg
        retention contract, at compaction granularity."""
        return self._data.versions()

    def table_as_of(self, version: int) -> DataFrame:
        """Read the measurements table AS OF a retained version — the
        audit/rollback read. Raises KeyError for vacuumed or unknown
        versions. Reads through the declared schema, like the live
        table."""
        return self._table(version=version)

    def _finalize_rows(self, rows: DataFrame) -> DataFrame:
        # Reference semantics: id = fresh UUIDv4 per row (persistence.rs:110),
        # created_at = server now (persistence.rs:111-120). Event time from
        # the line-protocol ts (ns epoch) unless server_time_mode (Q1).
        # integer `div`, not `/`: ns epochs (~1.7e18) lose precision in
        # double arithmetic
        event_time = F.expr("timestamp_micros(ts div 1000)")
        now = F.current_timestamp()
        time_col = now if self.server_time_mode else F.coalesce(event_time, now)
        cols = [
            F.col("series").alias("series"),
            F.expr("uuid()").alias("id"),
            time_col.alias("time"),
            now.alias("created_at"),
            F.col("name").alias("name"),
            F.col("value").cast("double").alias("value"),
            F.col("tags").alias("tags"),
        ]
        if self.typed_fields:
            # pre-shaped float-only input (write_dataframe callers) is
            # welcome on a typed engine: synthesize the discriminator
            have = set(rows.columns)
            cols += [
                (F.col("value_type") if "value_type" in have
                 else F.when(F.col("value").isNotNull(), "float")).alias("value_type"),
                (F.col("value_int") if "value_int" in have
                 else F.lit(None).cast("bigint")).alias("value_int"),
                (F.col("value_bool") if "value_bool" in have
                 else F.lit(None).cast("boolean")).alias("value_bool"),
                (F.col("value_str") if "value_str" in have
                 else F.lit(None).cast("string")).alias("value_str"),
            ]
        return rows.select(*cols).withColumn("day", F.to_date("time"))

    # -------------------------------------------------------------- reads
    def _table(
        self, series: str | None = None, version: int | None = None
    ) -> DataFrame:
        """The measurements table, or only ``series``' partition of it —
        the one way the engine opens the lake table. ``version`` reads a
        retained version instead of the live one (``table_as_of``).

        The read carries the declared schema (``schema.py``: data
        columns in file order, then ``series`` string and ``day``
        date), so opening the table runs no schema-inference job and
        partition values keep their written type. Given a series, only
        its ``series=<name>/`` directory is listed (``basePath`` keeps
        the partition columns): the reference likewise looks the
        series up in its registry and opens that one database
        (``persistence.rs:21-23,199``), never the others. Each call
        lists the files fresh, so writes by another engine on the same
        warehouse are visible to the next read. A missing directory,
        or one holding only ``_temporary`` output, reads as empty."""
        schema = (
            MEASUREMENTS_TYPED_READ_SCHEMA if self.typed_fields else MEASUREMENTS_READ_SCHEMA
        )
        root = self._data.resolve(version)
        path = root if series is None else _series_dir(root, series)
        if not os.path.exists(path):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).option("basePath", root).parquet(path)

    def list_series(self) -> list[str]:
        """``GET /`` (``handlers.rs:24-32`` / ``persistence.rs:59-68``):
        names of all series = the table's partition values, answered
        from partition METADATA (directory listing of ``series=*``) —
        O(#series), no data-file scan. At 100 TB a distinct over data
        would read every footer; the catalog equivalent is
        ``SHOW PARTITIONS``. Mirrors the reference's registry scan
        (``utils/db.rs:74-86``), which likewise never opens the data.

        Constraints of the listing shortcut (deliberate, documented):
        - assumes a POSIX-local warehouse path (the engine's contract;
          on S3/HDFS route through the catalog / ``SHOW PARTITIONS``
          on a catalog-registered table instead);
        - ``__HIVE_DEFAULT_PARTITION__`` (a null series — impossible
          through the line-protocol write path, which requires a
          measurement name) is excluded;
        - a partition dir holding only uncommitted ``_temporary``
          content (aborted write) is excluded: we require at least one
          committed data file before reporting the series as existing."""
        if not os.path.exists(self._path):
            return []
        return sorted(
            _unescape_partition_value(e[len("series="):])
            for e in os.listdir(self._path)
            if e.startswith("series=")
            and e != "series=__HIVE_DEFAULT_PARTITION__"
            and self._partition_committed(os.path.join(self._path, e))
        )

    @staticmethod
    def _partition_committed(part_dir: str) -> bool:
        """True when the partition directory holds at least one
        committed (non-hidden, non-_temporary) data file — one listdir
        per series, still metadata-only."""
        if not os.path.isdir(part_dir):
            return False
        try:
            return any(
                not name.startswith(("_", "."))
                for name in os.listdir(part_dir)
            )
        except OSError:
            return False

    def series_exists(self, name: str) -> bool:
        """``timeseries_exists`` (``persistence.rs:70-72``): partition-
        directory existence check — one metadata lookup, zero scan.
        Same committed-data requirement as ``list_series`` so the two
        can never disagree about a half-written partition."""
        return self._partition_committed(_series_dir(self._path, name))

    def _ensure_views(self, tables: list[str]) -> None:
        known = set(self.list_series())
        owners = _VIEW_OWNERS.setdefault(self.spark, weakref.WeakValueDictionary())
        for t in tables:
            if t in known and "." in t:
                # A series literally named with a dot (e.g. "cpu.load")
                # exists as data but cannot be a Spark temp-view name
                # (dots are namespace separators). Documented reject:
                # reach it via range()/wide()/the DataFrame API instead.
                raise ValidationError(
                    f"series {t!r} contains '.', which SQL FROM routing "
                    "cannot address (Spark view names are single-part); "
                    "use range()/the DataFrame API for this series"
                )
            base = t.split(".")[-1]
            # (re)create the view if data changed since — it pins a file
            # listing, so writes invalidate it — or if another engine on
            # this session has since replaced it with its own rows
            fresh = base in self._views and owners.get(base) is self
            if base in known:
                if not fresh:
                    self._table(base).filter(F.col("series") == base).drop(
                        "series", "day"
                    ).createOrReplaceTempView(base)
            elif (
                base.endswith("_tags")
                and base[: -len("_tags")] in known
                and os.path.exists(
                    os.path.join(self.warehouse, "tag_index._manifest.json")
                )
            ):
                # the reference's TODO table, queryable by its declared
                # name and DDL shape — ``<ts>_tags (id, key, value)``
                # (README.md:55) — backed by the maintained tag index
                if not fresh:
                    self.tag_index_df().filter(
                        F.col("series") == base[: -len("_tags")]
                    ).select("id", "key", "value").createOrReplaceTempView(base)
            elif self.spark.catalog.tableExists(base):
                continue  # separately-registered view (rollups etc.)
            else:
                # Q12 fix: unknown table is a clean error, not a panic
                # (reference .unwrap()s the registry lookup, persistence.rs:199).
                raise TableNotFoundError(f"table not found: {base}")
            self._views.add(base)
            owners[base] = self

    def query(self, q: str, prefer_rollup: bool = False) -> DataFrame:
        """``POST /query`` (``handlers.rs:70-93`` /
        ``persistence.rs:146-163``): validate, route ``FROM <series>``
        through per-series temp views, run through Catalyst.

        ``prefer_rollup=True`` turns the maintained continuous
        aggregate (``maintain_rollup`` — the reference's never-built
        'Pre-calculated stats' TODO, ``persistence.rs:40``) into a
        QUERY-TIME accelerator: a query matching the canonical
        time-bucket-aggregate template

            SELECT date_trunc('<unit>', time) AS bucket_start,
                   count(*) AS n, sum(value) AS sum_value,
                   min(value) AS min_value, max(value) AS max_value
            FROM <series> GROUP BY bucket_start|1

        is answered from the rollup table when it is FRESH
        (``rollup_fresh``: recorded bucket grain matches and no
        (series, day) partition changed since maintenance), falling
        back to an equivalent base-table aggregation otherwise — both
        via ``bucket_stats``, so routed and fallback results are
        IDENTICAL (the sum is the rollup's exact decimal(18,2)
        accumulation in either path; that is a strictly stronger
        guarantee than raw double ``sum(value)``). Non-matching
        queries run unrouted. Eligibility is template-level by design:
        the SQL surface is token-validated, not AST-parsed, and the
        canonical dashboard aggregate is the shape a continuous
        aggregate exists to serve.

        Returns the DataFrame (lazy); ``query_rows`` materializes with
        the reference's decoder semantics.
        """
        tables = validate_query(q, strict_compat=self.strict_compat)
        # second, AST-grade layer: Catalyst's own parser decides what
        # the text IS — defense-in-depth over the token rules above
        ast_validate(self.spark, q)
        if prefer_rollup:
            m = _CANONICAL_BUCKET_RE.match(q.strip())
            if m:
                unit, series = m.group(1).lower(), m.group(2)
                return self.bucket_stats(series, bucket=f"1 {unit}")
        self._ensure_views(tables)
        return self.spark.sql(q)

    def rollup_fresh(self, name: str = "rollup_1h", bucket: str | None = None) -> bool:
        """True iff the ``name`` rollup exists, records the asked
        bucket grain, and its saved (series, day) partition manifest
        matches the live table's — i.e. serving a query from it loses
        nothing. Metadata-only (two listdirs per partition + one small
        JSON read); no data touched."""
        from refluxdb_spark.storage import VersionedPath

        manifest_path = os.path.join(self.warehouse, name + "._manifest.json")
        vp = VersionedPath(os.path.join(self.warehouse, name))
        if not os.path.exists(manifest_path) or not os.path.isdir(vp.current()):
            return False
        try:
            with open(manifest_path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            return False
        if "partitions" not in data:
            return False  # legacy manifest: bucket grain unrecorded → stale
        if bucket is not None and data.get("bucket") != bucket:
            return False
        return data["partitions"] == self._partition_manifest()

    def bucket_stats(
        self,
        series: str,
        field: str | None = None,
        bucket: str = "1 hour",
        name: str = "rollup_1h",
        prefer_rollup: bool = True,
    ) -> DataFrame:
        """Per-bucket (n, sum, min, max) for one series — the canonical
        continuous-aggregate read. ``field=None`` spans every field
        name (the ``sum(value) FROM <series>`` semantics of the routed
        SQL template); a field name restricts to that field.

        When the rollup is fresh this is a scan of the small
        pre-aggregated table re-aggregated from per-(series, name)
        grain to per-bucket grain — cost ∝ buckets, not rows. The
        re-aggregation stays EXACT: each stored sum_value is a
        decimal(18,2) total (its double form round-trips back to
        decimal losslessly), so summing across field names in decimal
        is order-free and bit-identical to the base-table fallback,
        which aggregates raw rows with the same ``_ROLLUP_AGGS``
        expressions."""
        from refluxdb_spark.operators.timeseries import time_bucket
        from refluxdb_spark.storage import VersionedPath

        if not self.series_exists(series):
            raise TableNotFoundError(f"table not found: {series}")
        reagg = [
            F.sum("n").alias("n"),
            F.sum(F.col("sum_value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        ]
        if prefer_rollup and self.rollup_fresh(name, bucket):
            vp = VersionedPath(os.path.join(self.warehouse, name))
            r = self.spark.read.parquet(vp.current()).filter(F.col("series") == series)
            if field is not None:
                r = r.filter(F.col("name") == field)
            return (
                r.groupBy("bucket_start")
                .agg(*reagg)
                .select("bucket_start", "n", "sum_value", "min_value", "max_value")
            )
        base = self._table(series).filter(F.col("series") == series)
        if field is not None:
            base = base.filter(F.col("name") == field)
        return time_bucket(
            base, ts_col="time", bucket=bucket, by=["series"],
            aggs=_ROLLUP_AGGS(),
        ).select("bucket_start", "n", "sum_value", "min_value", "max_value")

    def query_rows(self, q: str, prefer_rollup: bool = False) -> list[dict]:
        """Materialized query with reference decoder semantics
        (``utils/db.rs:8-56``): in strict-compat mode an empty result is
        an error (Q5) and the projection must be the full 6-column shape
        (Q2); default mode returns whatever the query projected, tags
        included (Q7 fix — the reference always decodes tags as empty).
        ``prefer_rollup`` forwards to ``query`` (continuous-aggregate
        routing for the canonical bucket shape).
        """
        df = self.query(q, prefer_rollup=prefer_rollup)
        if self.strict_compat and [c.lower() for c in df.columns] != MEASUREMENT_COLUMNS:
            raise ValidationError(
                "strict-compat decoder requires projection "
                f"{MEASUREMENT_COLUMNS} (utils/db.rs:33-49)"
            )
        rows = [r.asDict(recursive=True) for r in df.collect()]
        if self.strict_compat and not rows:
            raise NoDataError("No data found for query")  # utils/db.rs:15-17
        return rows

    def table_stats(self) -> dict:
        """Operational observability report from directory METADATA
        only (no parquet footer reads): per-(series, day) partition
        file counts and byte sizes plus table totals — the same inputs
        the compaction planner (``compact``) and the incremental-rollup
        manifest consume, exposed for dashboards/capacity planning.
        O(#files) listing; at warehouse scale this is the catalog's
        file manifest, not a filesystem walk."""
        stats: dict = {
            "n_partitions": 0,
            "n_files": 0,
            "total_bytes": 0,
            "partitions": [],
        }
        src = self._path
        if not os.path.exists(src):
            return stats
        for root, _dirs, files in os.walk(src):
            pq = [f for f in files if f.endswith(".parquet")]
            if not pq:
                continue
            rel = os.path.relpath(root, src)
            nbytes = sum(os.path.getsize(os.path.join(root, f)) for f in pq)
            stats["partitions"].append(
                {"partition": rel, "n_files": len(pq), "bytes": nbytes}
            )
            stats["n_partitions"] += 1
            stats["n_files"] += len(pq)
            stats["total_bytes"] += nbytes
        stats["partitions"].sort(key=lambda p: p["partition"])
        return stats

    def _partition_manifest(self) -> dict[str, list[float]]:
        """Fingerprint of every (series, day) partition: file count +
        max mtime — two listdirs per partition, zero data read. The
        invalidation input for incremental rollups."""
        out: dict[str, list[float]] = {}
        src = self._path
        if not os.path.exists(src):
            return out
        for series_ent in os.listdir(src):
            if not series_ent.startswith("series="):
                continue
            sdir = os.path.join(src, series_ent)
            if not os.path.isdir(sdir):
                continue
            for day_ent in os.listdir(sdir):
                if not day_ent.startswith("day="):
                    continue
                pdir = os.path.join(sdir, day_ent)
                files = [
                    os.path.join(pdir, f)
                    for f in os.listdir(pdir)
                    if not f.startswith(("_", "."))
                ]
                if files:
                    out[f"{series_ent}/{day_ent}"] = [
                        float(len(files)),
                        max(os.path.getmtime(f) for f in files),
                    ]
        return out

    def maintain_rollup(
        self, bucket: str = "1 hour", name: str = "rollup_1h",
        incremental: bool = False,
    ) -> None:
        """Materialize the per-series pre-aggregation table — the
        reference's never-built TODO ('Pre-calculated stats for each
        series', persistence.rs:40, README.md:58). Queryable through
        the gateway under ``name``; ``streaming.ingest.stream_rollup``
        is the streaming twin.

        ``incremental=True`` turns this into a day-granular
        incremental materialized view: a metadata-only manifest
        (file count + mtime per (series, day) partition) decides which
        days changed since the last run; only those partitions are
        re-aggregated, spliced with the untouched rows of the previous
        rollup, and committed as a new version. Sound because buckets
        never span days (hour/minute buckets align to day boundaries).
        At 100 TB this is the difference between re-reading a day and
        re-reading a year — the catalog equivalent is incremental
        OPTIMIZE/REFRESH on a partition-change log."""
        from refluxdb_spark.operators.timeseries import time_bucket
        from refluxdb_spark.storage import VersionedPath

        aggs = _ROLLUP_AGGS()
        vp = VersionedPath(os.path.join(self.warehouse, name))
        manifest_path = os.path.join(self.warehouse, name + "._manifest.json")
        manifest = self._partition_manifest()

        prev: dict[str, list[float]] = {}
        if incremental and os.path.exists(manifest_path):
            try:
                with open(manifest_path) as f:
                    prev = json.load(f)
                # current format records {"bucket":…, "partitions":…};
                # pre-routing manifests were the bare partition dict
                if "partitions" in prev:
                    prev = prev["partitions"]
            except (OSError, ValueError):
                prev = {}

        have_prev_rollup = bool(prev) and os.path.isdir(vp.current())
        if incremental and have_prev_rollup:
            changed = {k for k, v in manifest.items() if prev.get(k) != v}
            changed |= set(prev) - set(manifest)  # dropped partitions
            if not changed:
                self.spark.read.parquet(vp.current()).createOrReplaceTempView(name)
                return
            pairs = [
                (
                    _unescape_partition_value(k.split("/")[0][len("series="):]),
                    k.split("/")[1][len("day="):],
                )
                for k in changed
            ]
            chg = self.spark.createDataFrame(pairs, "chg_series string, chg_day string")
            base = self._table().withColumn("_day", F.to_date("time").cast("string"))
            fresh = time_bucket(
                base.join(
                    F.broadcast(chg),
                    (F.col("series") == F.col("chg_series"))
                    & (F.col("_day") == F.col("chg_day")),
                    "left_semi",
                ),
                ts_col="time", bucket=bucket, by=["series", "name"], aggs=aggs,
            )
            old = self.spark.read.parquet(vp.current())
            kept = old.withColumn(
                "_day", F.to_date("bucket_start").cast("string")
            ).join(
                F.broadcast(chg),
                (F.col("series") == F.col("chg_series"))
                & (F.col("_day") == F.col("chg_day")),
                "left_anti",
            ).drop("_day")
            df = kept.unionByName(fresh)
        else:
            df = time_bucket(
                self._table(), ts_col="time", bucket=bucket,
                by=["series", "name"], aggs=aggs,
            )

        # same pointer-file commit as compact(): rewrite to a fresh
        # version dir, go live with one small-file PUT, vacuum the old
        with vp.rewrite() as new_dir:
            df.write.mode("overwrite").parquet(new_dir)
        vp.vacuum()
        with open(manifest_path, "w") as f:
            # bucket grain recorded so rollup_fresh can refuse to serve
            # a query at a different grain than the rollup holds
            json.dump({"bucket": bucket, "partitions": manifest}, f)
        self.spark.read.parquet(vp.current()).createOrReplaceTempView(name)

    # ------------------------------------------------------- tag index
    def maintain_tag_index(self, incremental: bool = True) -> None:
        """Materialize the separated tag relation — the reference's
        never-built TODO (``README.md:55``: ``CREATE TABLE <ts>_tags
        (id UUID, key TEXT, value TEXT)``) as ONE exploded lake table
        for all series, partitioned by ``(series, key)``.

        Why it exists at 100 TB: a tag-equality predicate on the base
        table is ``tags['k'] = 'v'`` — a map lookup parquet can never
        push down, so the scan reads every row of the series. The tag
        index inverts the map once; a tag-filtered read then prunes to
        the matching ``(series, key)`` index partition, takes the
        (day, id) hits, and semi-joins the base table with day-level
        partition pruning (``tag_scan``). Scan cost moves from
        O(series) to O(matching days) + an id semi-join.

        Incremental maintenance mirrors ``maintain_rollup``: the
        metadata-only (series, day) partition manifest decides which
        days re-explode; untouched index rows are spliced over, and
        the result commits via the same pointer-file version swap
        (object-store safe, crash leaves the old index live).
        """
        from refluxdb_spark.storage import VersionedPath

        vp = VersionedPath(os.path.join(self.warehouse, "tag_index"))
        manifest_path = os.path.join(self.warehouse, "tag_index._manifest.json")
        manifest = self._partition_manifest()

        def explode_tags(df: DataFrame) -> DataFrame:
            return df.select(
                "series",
                F.col("day"),
                "id",
                F.explode("tags").alias("key", "value"),
            )

        prev: dict[str, list[float]] = {}
        if incremental and os.path.exists(manifest_path):
            try:
                with open(manifest_path) as f:
                    prev = json.load(f).get("partitions", {})
            except (OSError, ValueError):
                prev = {}

        have_prev = bool(prev) and os.path.isdir(vp.current())
        if incremental and have_prev:
            changed = {k for k, v in manifest.items() if prev.get(k) != v}
            changed |= set(prev) - set(manifest)  # dropped partitions
            if not changed:
                return
            pairs = [
                (
                    _unescape_partition_value(k.split("/")[0][len("series="):]),
                    k.split("/")[1][len("day="):],
                )
                for k in changed
            ]
            chg = self.spark.createDataFrame(pairs, "chg_series string, chg_day string")
            on = (F.col("series") == F.col("chg_series")) & (
                F.col("day").cast("string") == F.col("chg_day")
            )
            fresh = explode_tags(self._table().join(F.broadcast(chg), on, "left_semi"))
            kept = self.spark.read.parquet(vp.current()).join(
                F.broadcast(chg), on, "left_anti"
            )
            df = kept.unionByName(fresh)
        else:
            df = explode_tags(self._table())

        with vp.rewrite() as new_dir:
            (
                # range-cluster by value WITHIN each (series, key)
                # partition: every output file then covers a contiguous
                # value range, so a tag-equality probe's pushed-down
                # value predicate skips whole row groups via footer
                # min/max — without this, reading ONE value costs the
                # whole key partition (measured 12x the bytes at x10,
                # scripts/exp_tag_index.py)
                df.repartitionByRange("series", "key", "value")
                .sortWithinPartitions("series", "key", "value")
                .write.mode("overwrite")
                .partitionBy("series", "key")
                .parquet(new_dir)
            )
        vp.vacuum()
        with open(manifest_path, "w") as f:
            json.dump({"partitions": manifest}, f)

    def tag_index_fresh(self) -> bool:
        """True iff the tag index exists and its saved (series, day)
        manifest matches the live table's — metadata-only, like
        ``rollup_fresh``."""
        from refluxdb_spark.storage import VersionedPath

        vp = VersionedPath(os.path.join(self.warehouse, "tag_index"))
        manifest_path = os.path.join(self.warehouse, "tag_index._manifest.json")
        if not os.path.exists(manifest_path) or not os.path.isdir(vp.current()):
            return False
        try:
            with open(manifest_path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            return False
        return data.get("partitions") == self._partition_manifest()

    def tag_index_df(self) -> DataFrame:
        """The maintained tag relation (reference TODO shape plus the
        routing columns): ``series, key, value, day, id``."""
        from refluxdb_spark.storage import VersionedPath

        vp = VersionedPath(os.path.join(self.warehouse, "tag_index"))
        if not os.path.isdir(vp.current()):
            return self.spark.createDataFrame(
                [], "day date, id string, value string, series string, key string"
            )
        return self.spark.read.parquet(vp.current())

    def tag_scan(
        self, series: str, key: str, value: str, prefer_index: bool = True
    ) -> DataFrame:
        """All measurements of ``series`` where ``tags[key] = value``,
        in the per-series view shape.

        Routed path (index FRESH): prune the index to its
        ``(series, key)`` partition, filter the tag value, then
        semi-join the base table on (day, id) — with a static
        day-partition IN-filter derived from the hits, so the base
        scan opens only matching days' files. The day list is a
        bounded metadata-sized driver collect (≤ retained days, the
        same class as ``list_series``'s directory listing) — that
        bound is what makes static pruning safe at 100 TB where the
        optimizer's dynamic pruning may decline to fire on a plain
        file source. Stale or missing index falls back to the exact
        ``tags[key] = value`` map-lookup scan, so results are always
        correct; routing is purely an access-path decision (same
        contract as ``query(prefer_rollup=True)``)."""
        base = self._table(series).filter(F.col("series") == series)
        routed = None
        if prefer_index and self.tag_index_fresh():
            sel = (
                self.tag_index_df()
                .filter(
                    (F.col("series") == series)
                    & (F.col("key") == key)
                    & (F.col("value") == value)
                )
                .select("day", "id")
                # deliberately NOT cached/checkpointed: the two
                # consumers below (day-list collect, semi-join build)
                # each re-probe the index, but the probe is a pushed-
                # down value-equality read of a range-clustered file —
                # tens of KB (measured) — while materialized blocks
                # deserialize to ~70x the file size and get re-read by
                # the join anyway
            )
            days = [r.day for r in sel.select("day").distinct().collect()]
            if not days:
                return base.filter(F.lit(False)).drop("series", "day")
            # cost rule: when the hits span (almost) every day of the
            # series, day pruning saves nothing and the routed path
            # would pay the index read + broadcast join ON TOP of the
            # full scan — the classic index-vs-scan selectivity
            # tradeoff. Day counts come from partition METADATA (one
            # directory listing), so the decision is free.
            if len(days) < 0.9 * max(self._series_day_count(series), 1):
                routed = base.filter(F.col("day").isin(days)).join(
                    F.broadcast(sel), ["day", "id"], "left_semi"
                )
        out = (
            routed
            if routed is not None
            else base.filter(F.col("tags")[key] == F.lit(value))
        )
        return out.drop("series", "day")

    def _series_day_count(self, series: str) -> int:
        """Number of day partitions one series holds — directory
        listing only, the same metadata shortcut as ``list_series``."""
        d = _series_dir(self._path, series)
        if not os.path.isdir(d):
            return 0
        return sum(1 for e in os.listdir(d) if e.startswith("day="))

    def wide(self, series: str, fields: list[str] | None = None) -> DataFrame:
        """Wide view of one series: one row per (time, tags), one
        column per field name — the reading shape for multi-field
        lines the narrow model explodes on write (handlers.rs:112-134).

        Pass ``fields`` explicitly at scale: the pivot then needs no
        discovery pass at all (zero driver-side collect). Without it,
        field names are discovered with one DISTINCT over the single
        series partition — bounded by the schema's field count, not by
        data volume, but still a scan."""
        base = self._table(series).filter(F.col("series") == series)
        if fields is None:
            fields = sorted(
                r.name for r in base.select("name").distinct().collect()
            )
        return (
            base.groupBy("time", "tags")
            .pivot("name", fields)
            .agg(F.first("value"))
        )

    def sql(self, q: str) -> DataFrame:
        """Power-user surface: validated SELECT over the WHOLE lake
        table as ``measurements`` (series as a column) — cross-series
        joins and aggregations the reference's per-series storage could
        never express (SURVEY §2.2 JOIN row). Same gateway validation;
        the ``measurements`` name routes to the full table."""
        tables = validate_query(q, strict_compat=self.strict_compat)
        self._table().drop("day").createOrReplaceTempView(_TABLE)
        self._ensure_views([t for t in tables if t.split(".")[-1] != _TABLE])
        return self.spark.sql(q)

    def range(self, series: str, start: str | datetime, end: str | datetime) -> DataFrame:
        """``GET /range/{ts}?start&end`` (``handlers.rs:34-66``): the
        *intended* semantics of ``get_measurement_range``
        (``persistence.rs:164-196``) — inclusive ``time BETWEEN`` on one
        series. (As written the reference queries a nonexistent ``key``
        column, Q4; and panics on malformed datetimes, Q13 — we raise
        ValidationError instead.)
        """
        start_ts = _parse_rfc3339(start)
        end_ts = _parse_rfc3339(end)
        if not self.series_exists(series):
            raise TableNotFoundError(f"table not found: {series}")  # 404 path
        cols = (
            TYPED_MEASUREMENT_COLUMNS if self.typed_fields else MEASUREMENT_COLUMNS
        )
        return (
            self._table(series)
            .filter(F.col("series") == series)
            .filter(F.col("time").between(F.lit(start_ts), F.lit(end_ts)))
            .select(*cols)
        )


def _write_sorted(df: DataFrame, path: str) -> None:
    """Append ``df`` to the (series, day)-partitioned table at ``path``
    with rows time-sorted inside every file, so each file's row-group
    min/max statistics let a time-range scan skip pages (SCALE.md §1).
    The one partitioned write of the engine: appends, compaction and
    erasure all land their rows through it."""
    (
        df.sortWithinPartitions("series", "day", "time")
        # "day" rides the sort deliberately: the dynamic-partition
        # writer requires ordering on (series, day) and INSERTS ITS
        # OWN (order-destroying) sort unless the child ordering
        # already satisfies it — (series, time) alone does not
        # satisfy it syntactically even though day derives from
        # time, and the writer sort scrambled file row order
        # (caught by test_measurements_files_time_sorted_with_stats)
        .write.mode("append")
        .partitionBy("series", "day")
        .parquet(path)
    )


def _link_partitions(src: str, dst: str, keep) -> None:
    """Hardlink the data files of every (series, day) partition of the
    table at ``src`` for which ``keep(series, day)`` holds into the
    same place under ``dst`` (``day`` as its ISO directory string). No
    data bytes move; on S3/GCS the equivalent is a server-side COPY.
    Falls back to a real file copy when the filesystem refuses links."""
    for series_ent in os.listdir(src):
        sdir = os.path.join(src, series_ent)
        if not series_ent.startswith("series=") or not os.path.isdir(sdir):
            continue
        series = _unescape_partition_value(series_ent[len("series="):])
        for day_ent in os.listdir(sdir):
            if not day_ent.startswith("day=") or not keep(series, day_ent[len("day="):]):
                continue
            src_part = os.path.join(sdir, day_ent)
            dst_part = os.path.join(dst, series_ent, day_ent)
            os.makedirs(dst_part, exist_ok=True)
            for f in os.listdir(src_part):
                if f.startswith(("_", ".")):
                    continue
                s, d = os.path.join(src_part, f), os.path.join(dst_part, f)
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)


# Hive/Spark escape special characters in partition directory names as
# %XX (FileUtils.escapePathName — the layout spark's partitionBy writes).
# These helpers mirror that scheme so metadata listing round-trips any
# series name exactly as a data scan would report it.
_HIVE_SPECIAL = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(0x20)}


def _escape_partition_value(v: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _HIVE_SPECIAL else c for c in v)


def _series_dir(root: str, series: str) -> str:
    """The series' partition directory under the table root."""
    return os.path.join(root, f"series={_escape_partition_value(series)}")


def _unescape_partition_value(v: str) -> str:
    out, i = [], 0
    while i < len(v):
        if v[i] == "%" and i + 3 <= len(v):
            try:
                out.append(chr(int(v[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(v[i])
        i += 1
    return "".join(out)


def _parse_rfc3339(v: str | datetime) -> datetime:
    if isinstance(v, datetime):
        return v if v.tzinfo else v.replace(tzinfo=timezone.utc)
    try:
        return datetime.fromisoformat(v.replace("Z", "+00:00"))
    except ValueError as exc:
        # Q13 fix: reference .unwrap()s and panics (handlers.rs:41-42).
        raise ValidationError(f"malformed datetime: {v!r}") from exc
