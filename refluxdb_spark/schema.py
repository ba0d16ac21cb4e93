"""Schemas for the engine's core tables.

The reference creates every per-series table with one fixed DDL
(``utils/db.rs:74-77``)::

    CREATE TABLE <ts> (id UUID, time TIMESTAMP, created_at TIMESTAMP,
                       name TEXT, value FLOAT, tags MAP);

We collapse per-series databases into ONE partitioned lake table and add
the ``series`` column (SURVEY §1.5). Type mapping:

- UUID        -> StringType (Spark has no UUID type; ``uuid()`` generates)
- FLOAT (f64) -> DoubleType (Spark FloatType is 32-bit — wrong width)
- MAP         -> MapType(String, String) (native; the reference stores a
                 JSON string in a GlueSQL MAP and loses it on read, Q7)

``time`` is EVENT time (the client's line-protocol timestamp); the
reference discards it and stamps server time (quirk Q1,
``persistence.rs:111-120``) — we store both, with ``created_at`` the
arrival time, and a compat flag in the engine reproduces Q1 if wanted.
"""

from __future__ import annotations

from pyspark.sql import types as T

# One parsed line-protocol record, before field explosion.
# Reference wire struct: protocol.rs:4-10 (measurement_name, tag_set,
# field_set: IndexMap<String, f64>, timestamp: i64 — ns in examples).
LINE_SCHEMA = T.StructType(
    [
        T.StructField("measurement", T.StringType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("fields", T.MapType(T.StringType(), T.DoubleType()), True),
        T.StructField("ts", T.LongType(), True),  # client epoch (ns)
        T.StructField("error", T.StringType(), True),  # non-null => DLQ row
        T.StructField("raw", T.StringType(), True),  # original line (DLQ)
    ]
)

# The core lake table. Partition columns: series, day (derived date(time)).
MEASUREMENTS_SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType(), False),
        T.StructField("id", T.StringType(), False),
        T.StructField("time", T.TimestampType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("name", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# Columns in reference decoder order (utils/db.rs:33-49 expects this
# positional shape; our strict-compat projection check uses it).
MEASUREMENT_COLUMNS = ["id", "time", "created_at", "name", "value", "tags"]

# Typed-fields extension (engine flag ``typed_fields=True``): the
# reference DECLARES "value -> float (to be float, int, string and
# bool)" (README.md:49) and its own parser tests use quoted string
# field values (protocol.rs:155,164,173,183) the f64-only engine can't
# ingest. Layout: a ``value_type`` discriminator plus one column per
# non-float payload; ``value`` keeps the numeric view for both numeric
# types (int cast to double) so every float aggregate works unchanged.
# Columnar (parquet) storage makes the three mostly-NULL payload
# columns nearly free at 100 TB — NULL runs RLE-compress to almost
# nothing and column pruning never reads them unless projected.
MEASUREMENTS_TYPED_SCHEMA = T.StructType(
    list(MEASUREMENTS_SCHEMA.fields)
    + [
        T.StructField("value_type", T.StringType(), True),
        T.StructField("value_int", T.LongType(), True),
        T.StructField("value_bool", T.BooleanType(), True),
        T.StructField("value_str", T.StringType(), True),
    ]
)

TYPED_MEASUREMENT_COLUMNS = MEASUREMENT_COLUMNS + [
    "value_type", "value_int", "value_bool", "value_str",
]


def _as_stored(table: T.StructType) -> T.StructType:
    """The table as a parquet read returns it: the data columns in
    file order, then the ``series``/``day`` partition columns. Pinned
    as strings and dates so partition discovery never infers a type
    from the directory names (series ``007`` is not the integer 7)."""
    return T.StructType(
        [f for f in table.fields if f.name != "series"]
        + [
            T.StructField("series", T.StringType(), True),
            T.StructField("day", T.DateType(), True),
        ]
    )


# Read schemas of the lake table (``RefluxEngine._table``).
MEASUREMENTS_READ_SCHEMA = _as_stored(MEASUREMENTS_SCHEMA)
MEASUREMENTS_TYPED_READ_SCHEMA = _as_stored(MEASUREMENTS_TYPED_SCHEMA)
