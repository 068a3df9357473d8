"""Parquet source registry for the test star schema.

The reference's sources are whole-table JDBC scans of the Oracle HR
schema (`/root/reference/README.md:462,466`) registered as temp views
for SparkSQL (`README.md:774-776` → ``createOrReplaceTempView``).
Here the same surface is served by the driver-generated parquet tables
(TESTDATA.md): scans (S1/S2), view registration (S7), catalog listing
(S4), and schema introspection (S5/S6) all map onto the built-ins.

Scale notes:
  * Parquet scans get vectorized reads, predicate pushdown, and column
    pruning from Catalyst for free — queries should filter/project
    early so the pushdown reaches the scan (check ``PushedFilters`` /
    ``ReadSchema`` in ``.explain("formatted")``).
  * ``DIM_TABLES`` marks the star-schema dimensions that stay
    broadcast-joinable at any realistic SF; fact tables (orders,
    lineitem, events, documents, embeddings) scale with the data and
    must shuffle on their join keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: file-schema memo keyed by (path, mtime): a bare
#: ``spark.read.parquet(path)`` pays schema inference — driver-side
#: file listing + a footer read — on EVERY call (~100 ms/table
#: measured at sf0.1, ~80 ms of which the explicit-schema form
#: skips). A production deployment gets the same effect from the
#: catalog/metastore (or Iceberg/Delta manifest metadata — guide §6);
#: here the memo IS that catalog. Metadata only — no data, no
#: results; the mtime key drops the entry the moment the file
#: changes, so a regenerated fixture re-infers.
_SCHEMA_CACHE: dict[tuple[str, float], T.StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the schema-inference cost paid once
    per (path, mtime) per process instead of once per call."""
    try:
        key = (path, os.path.getmtime(path))
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)

#: every table the driver generates (TESTDATA.md / FIXTURES.md §B)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimensions small enough to broadcast at any SF we target
#: (region=5, nation=25 are constant; supplier/part/customer grow with
#: SF but stay ≪ fact tables — broadcast them up to the 10 MB–1 GB
#: threshold, beyond which Catalyst/AQE falls back to shuffle joins)
DIM_TABLES = ("region", "nation", "supplier", "part", "customer")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1/S2 analog: whole-table scan → DataFrame (lazy; no data read
    until an action — the reference calls this out at README.md:577).
    ``events`` goes through ``_read_events`` for its ``ts`` column."""
    if name == "events":
        return _read_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _read_events(spark: SparkSession, sf_dir: str, stream: bool = False) -> DataFrame:
    """The events table with ``ts`` normalized to TimestampType, as a
    batch scan or (``stream=True``) as a ``readStream`` over the same
    file — the file-source analog of a Kafka topic.

    The normalization dispatches on the ACTUAL read schema — testdata
    generations have shipped ``ts`` both as parquet TIMESTAMP(NANOS)
    (which Spark's vectorized reader only accepts as long under the
    legacy ``nanosAsLong`` conf) and as TIMESTAMP(MICROS) (which reads
    natively as TimestampNTZ/Timestamp). The reference's DATE columns
    likewise pass through as timestamps (README.md:487).

      * LongType  → nanos epoch: integer DIV 1000 → timestamp_micros
        (same truncation DuckDB applies; DIV avoids double rounding on
        ~1.7e18 ns values).
      * Timestamp/TimestampNTZ → already event time; cast to session-tz
        TimestampType so window/watermark functions behave uniformly.

    A stream must declare its schema (no streaming inference); it takes
    the batch read's, so it reads whatever physical type the files
    carry — a stale Long schema against timestamp[us] files would
    reinterpret the microsecond int64 and land every event in 1970.
    """
    # ``nanosAsLong`` is set once at session construction (session.py)
    # — it must be active at BOTH plan and execution time, so a
    # set/restore scoped to this call would break lazy execution on
    # nanos-generation data. For foreign sessions (the grading driver
    # builds its own), ensure it idempotently: only touch the conf
    # when it isn't already true.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType
    if stream:
        # the file stream source lists a DIRECTORY; pathGlobFilter
        # narrows it to the events table
        df = (
            spark.readStream.schema(df.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if not isinstance(ts_type, T.TimestampType):
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """S7 analog of ``registerTempTable`` (README.md:774-776): expose
    each table to ``spark.sql``. Returns the DataFrames too."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
