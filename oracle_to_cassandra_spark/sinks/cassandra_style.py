"""Cassandra-style query-first sink, re-expressed as parquet layout.

The reference's sink model (SURVEY.md §1.3, S8–S10) is the
wide-partition table designed per access path:

  * partition key → O(1) lookup of one partition
    (`/root/reference/README.md:685-694,696`)
  * clustering column → rows pre-sorted within a partition
    (`README.md:903-909`)
  * static column → one value per partition (`README.md:905,913`)
  * lower-case column names validated case-sensitively on write —
    the documented failure mode at `README.md:705-709`

Spark mapping: partition key → ``write.partitionBy`` (partition-filter
pruning on read-back = the CQL point lookup); clustering column →
``sortWithinPartitions(partition key, clustering columns)`` before the
write; static column → the value
denormalized onto every row by the build-time join (exactly what
README.md:931 produces). When a real Cassandra cluster is available
the same DataFrame goes through the spark-cassandra connector instead
(format ``org.apache.spark.sql.cassandra``) — gated behind
``format="cassandra"`` here; the test environment uses parquet.

Scale notes:
  * ``repartition(partition_cols)`` before ``partitionBy`` bounds the
    file count to one file per (shuffle-partition × directory) instead
    of tasks × directories — at 1000 executors writing a 100 TB
    denormalized table this is the difference between 32k files and
    32M files.
  * Read-back with a partition-key predicate prunes directories at
    planning time — the parquet analog of Cassandra's token routing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CaseMismatchError(ValueError):
    """Raised when DataFrame columns are not lower-case — the
    connector failure mode documented at README.md:708."""


def validate_sink_columns(df: DataFrame, expected: Sequence[str] | None = None) -> None:
    """Case-sensitive column validation (README.md:705-709): all sink
    columns must be lower-case, and must exactly match the target
    table's columns when ``expected`` is given."""
    bad = [c for c in df.columns if c != c.lower()]
    if bad:
        raise CaseMismatchError(
            f"sink columns must be lower-case (README.md:708); got {bad}"
        )
    if expected is not None and sorted(df.columns) != sorted(expected):
        raise CaseMismatchError(
            f"sink schema mismatch: df={sorted(df.columns)} table={sorted(expected)}"
        )


def write_query_table(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    cluster_by: Sequence[str] = (),
    mode: str = "overwrite",
    expected_columns: Sequence[str] | None = None,
) -> None:
    """S8 analog (README.md:839,967): save a denormalized DataFrame as
    a query-first table — partitioned by the partition key, rows sorted
    by the clustering columns within each partition.

    The sort leads with the partition key: the planned write needs its
    input ordered by the partition columns, and when they do not lead
    the existing order it adds its own sort on them alone, under which
    the clustering sort is dropped — every file then keeps whatever
    order its rows arrived in."""
    validate_sink_columns(df, expected_columns)
    out = df.repartition(*[F.col(c) for c in partition_by])
    if cluster_by:
        out = out.sortWithinPartitions(*partition_by, *cluster_by)
    out.write.mode(mode).partitionBy(*partition_by).parquet(path)


#: DataSource v2 format name the spark-cassandra-connector registers
CONNECTOR_FORMAT = "org.apache.spark.sql.cassandra"

#: a class the connector jar is guaranteed to provide — the classpath
#: capability probe loads this, not the format shortname, so the probe
#: cannot false-positive on an unrelated DataSource registration
CONNECTOR_PROBE_CLASS = (
    "com.datastax.spark.connector.datasource.CassandraCatalog"
)

#: Maven coordinate to put on ``spark.jars.packages`` for a real run
CONNECTOR_PACKAGE = "com.datastax.spark:spark-cassandra-connector_2.13"


def connector_write_spec(
    keyspace: str, table: str, mode: str = "append"
) -> dict:
    """The EXACT writer configuration ``write_to_cassandra`` executes —
    exposed as data so the mapping is contract-testable without the
    connector jar on the classpath (the format string only resolves at
    ``save()`` time).  Keys mirror the DataFrameWriter calls:
    ``format`` / ``options`` / ``mode``."""
    if not keyspace or not table:
        raise ValueError("keyspace and table are required")
    return {
        "format": CONNECTOR_FORMAT,
        "options": {"keyspace": keyspace, "table": table},
        "mode": mode,
    }


def connector_available(spark: SparkSession) -> bool:
    """True when the spark-cassandra-connector jar is on the JVM
    classpath (capability probe; no cluster contact)."""
    try:
        spark._jvm.java.lang.Class.forName(CONNECTOR_PROBE_CLASS)
        return True
    except Exception:
        return False


def write_to_cassandra(
    df: DataFrame, keyspace: str, table: str, mode: str = "append"
) -> None:
    """S8 proper (README.md:839,967): the real spark-cassandra
    connector path — ``df.write.format("org.apache.spark.sql.
    cassandra")`` with the same case-sensitive column validation the
    connector enforces (README.md:705-709).

    The test environment has no connector jar / cluster; the call
    validates eagerly and fails with an actionable error instead of a
    ClassNotFoundException mid-save. ``write_query_table`` is the
    parquet stand-in with identical layout semantics."""
    validate_sink_columns(df)
    if not connector_available(df.sparkSession):
        raise RuntimeError(
            "spark-cassandra-connector not on the classpath; add "
            f"{CONNECTOR_PACKAGE} via spark.jars.packages, or use "
            "write_query_table() for the parquet stand-in sink"
        )
    spec = connector_write_spec(keyspace, table, mode)
    (
        df.write.format(spec["format"])
        .options(**spec["options"])
        .mode(spec["mode"])
        .save()
    )


def read_partition(
    spark: SparkSession, path: str, partition_col: str, key, schema=None
) -> DataFrame:
    """S9 + P7 analog: read back one partition — the CQL
    ``WHERE partition_key = ?`` point lookup (README.md:696-703).
    The equality predicate on the partition column prunes directories
    at planning time.

    ``schema`` (pass the written DataFrame's schema) makes the
    read-back total: a partitioned overwrite of an EMPTY DataFrame
    writes no data files, and schema inference then fails the whole
    query instead of returning the empty table the sink actually
    holds — the empty-backfill case every production read-back path
    must survive (empty-dataset stress sweep)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path).filter(F.col(partition_col) == F.lit(key))
