"""Queries over the custom Python data source and the Variant JSON
surface (Spark 4 features).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oracle_to_cassandra_spark.registry import query
from oracle_to_cassandra_spark.sources import load_table


@query(
    "custom_pysource_aggregate",
    oracle="""
    SELECT bucket, count(*)::BIGINT AS n, sum(score)::BIGINT AS total_score
    FROM (
      SELECT r AS rid, r % 97 AS bucket, (r * r) % 1000 AS score
      FROM (SELECT unnest(range(0, 8000)) AS r)
    )
    GROUP BY bucket
    """,
)
def custom_pysource_aggregate(spark, sf_dir):
    """Aggregate over the custom partition-parallel Python data source
    (8 partitions × 1000 deterministic rows) — proves the DataSource
    API path end-to-end; the oracle regenerates the same rows from a
    range."""
    from oracle_to_cassandra_spark.sources.pysource import register_synthetic_source

    try:
        register_synthetic_source(spark)
    except Exception:
        pass  # already registered in this session
    df = spark.read.format("synthetic_events").load()
    return df.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("score").alias("total_score")
    )


@query(
    "variant_json_extraction",
    oracle="""
    SELECT event_id, json_extract_string(props, '$.k')::INT AS k_val
    FROM events
    WHERE json_extract_string(props, '$.k')::INT BETWEEN 10 AND 20
    """,
)
def variant_json_extraction(spark, sf_dir):
    """VariantType path (Spark 4): parse_json → variant_get — the
    binary-encoded semi-structured column that replaces repeated string
    JSON parsing (parse once, extract many, with shredding-friendly
    storage)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.withColumn("props_v", F.parse_json("props"))
    return v.select(
        "event_id",
        F.expr("variant_get(props_v, '$.k', 'int')").alias("k_val"),
    ).filter(F.col("k_val").between(10, 20))


@query(
    "json_corrupt_records_handling",
    oracle="""
    SELECT (doc_id % 7 = 3) AS is_corrupt,
           count(*)::BIGINT AS n_rows,
           coalesce(sum(CASE WHEN doc_id % 7 <> 3 THEN n_chars END), 0)::BIGINT
             AS sum_chars_parsed
    FROM documents GROUP BY 1
    """,
)
def json_corrupt_records_handling(spark, sf_dir):
    """Malformed-input contract of the JSON source: serialize each
    document row to a JSON line, CORRUPT every 7th-ish line
    deterministically (truncate its tail — an unclosed record, the
    classic partial-write artifact), then parse in PERMISSIVE mode
    with a ``_corrupt_record`` rescue column and report good/bad
    volumes plus a checksum over the successfully-parsed payload.
    The oracle states the planted corruption pattern in closed form,
    so the check certifies that PERMISSIVE neither drops good rows
    nor silently "repairs" bad ones (FAILFAST on the same input is
    the test-side negative —
    ``tests/test_round7_semantics.py::test_json_failfast_raises``).

    Scale: per-row serialize/parse at scan speed; the rescue column
    is the production pattern for quarantining bad records into a
    dead-letter table instead of failing a 100 TB ingest."""
    from pyspark.sql import types as T

    d = load_table(spark, sf_dir, "documents")
    line = F.to_json(F.struct("doc_id", "n_chars", "lang"))
    corrupted = F.when(
        F.col("doc_id") % 7 == 3,
        F.substring(line, 1, 15),  # unclosed record
    ).otherwise(line)
    raw = d.select(corrupted.alias("js"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    parsed = raw.select(
        F.from_json(
            "js",
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r"),
        "js",
    )
    # PERMISSIVE quarantines the raw malformed line into the rescue
    # column; a row is good iff the rescue column is null
    ok = F.col("r._corrupt_record").isNull()
    return parsed.groupBy((~ok).alias("is_corrupt")).agg(
        F.count("*").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(ok, F.col("r.n_chars"))), F.lit(0)
        )
        .cast("long")
        .alias("sum_chars_parsed"),
    )


@query(
    "stream_custom_pysource_aggregate",
    oracle="""
    SELECT bucket, count(*)::BIGINT AS n, sum(score)::BIGINT AS total_score
    FROM (
      SELECT r % 97 AS bucket, (r * r) % 1000 AS score
      FROM (SELECT unnest(range(0, 6000)) AS r)
    )
    GROUP BY bucket
    """,
)
def stream_custom_pysource_aggregate(spark, sf_dir):
    """The custom Python data source as a STREAM (Spark 4
    DataSourceStreamReader — the full executor-parallel API:
    latestOffset → partitions → read, each micro-batch's row range
    split into concurrently-read slices): 6000 deterministic rows
    arrive in four 1500-row micro-batches and fold into the same
    per-bucket aggregate the batch source produces, fully
    DuckDB-oracled (the oracle regenerates the rows from a range).
    This is the wrap-a-message-queue template: swap the synthetic
    generator for a shard reader and the offsets for queue cursors.

    Scale: state is the 97-bucket aggregate (complete mode); the
    source parallelism per micro-batch equals its slice count, sized
    to the wrapped system's shard count in production."""
    from oracle_to_cassandra_spark.sources.pysource import (
        register_synthetic_stream_source,
    )
    from oracle_to_cassandra_spark.streaming.core import run_stream_to_memory

    try:
        register_synthetic_stream_source(spark)
    except Exception:
        pass  # already registered in this session
    # 2×3000-row micro-batches: each micro-batch costs a fixed
    # ~1.5 s of Python-source planning + complete-mode state
    # rewrite locally, so batch COUNT (not row count) is the cost
    # driver — two batches exercise the multi-batch offset walk at
    # half the price of four
    stream = (
        spark.readStream.format("synthetic_events_stream")
        .option("rowsPerBatch", "3000")
        .load()
    )
    agg = stream.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("score").alias("total_score")
    )
    # default trigger, not availableNow: the reader reveals its
    # backlog one micro-batch at a time (like a real queue cursor),
    # and availableNow would snapshot only the first batch
    return run_stream_to_memory(agg, output_mode="complete", available_now=False)


@query(
    "xml_roundtrip_extraction",
    oracle="""
    SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
             AS total_cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def xml_roundtrip_extraction(spark, sf_dir):
    """Native XML support (Spark 4): each order row serializes to an
    XML fragment with ``to_xml(struct(...))`` and parses back with
    ``from_xml`` under an explicit schema — the interchange lane for
    the XML feeds enterprise Oracle shops actually emit (the
    reference's source system predates JSON APIs). The aggregate over
    the ROUND-TRIPPED values matching the closed-form oracle proves
    the serialize→parse cycle is lossless for keys, categories, and
    exact integer cents.

    Scale: both directions are JVM expression-tree codecs (no Python,
    no external jar — XML is built into Spark 4's sql module), so the
    roundtrip runs at scan speed like the CSV/JSON/ORC digests in
    `format_roundtrip_digest`."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_xml(
            F.struct(
                F.col("o_orderkey"),
                F.col("o_orderstatus"),
                F.round(F.col("o_totalprice") * 100).cast("long").alias(
                    "price_cents"
                ),
            )
        ).alias("xml")
    )
    parsed = o.select(
        F.from_xml(
            "xml",
            "STRUCT<o_orderkey: BIGINT, o_orderstatus: STRING, "
            "price_cents: BIGINT>",
        ).alias("r")
    )
    return parsed.groupBy(F.col("r.o_orderstatus").alias("o_orderstatus")).agg(
        F.count("*").alias("n_orders"),
        F.sum("r.price_cents").alias("total_cents"),
    )


@query(
    "dead_letter_replay_recovery",
    oracle="""
    SELECT count(*)::BIGINT AS n_quarantined,
           sum(CASE WHEN doc_id < 10000 THEN 1 ELSE 0 END)::BIGINT
             AS n_recovered,
           coalesce(sum(CASE WHEN doc_id < 10000 THEN doc_id END), 0)::BIGINT
             AS recovered_id_sum
    FROM documents WHERE doc_id % 7 = 3
    """,
)
def dead_letter_replay_recovery(spark, sf_dir):
    """The dead-letter REPLAY half of the corrupt-records contract
    (`json_corrupt_records_handling` quarantines; this recovers):
    rows whose JSON was truncated mid-record still carry a parsable
    prefix — a salvage rule (regex over the raw rescue text) extracts
    the record key so the quarantined rows can be re-fetched from the
    source instead of being dropped. Emits quarantine volume, salvage
    rate, and a checksum over the recovered keys; the oracle states
    the planted truncation pattern in closed form, so a salvage regex
    that over- or under-matches fails the hash.

    Scale: the replay runs over the dead-letter table only
    (quarantine-sized, not corpus-sized); regexp_extract is a codegen
    expression — the whole salvage pass is scan-speed."""
    from pyspark.sql import types as T

    d = load_table(spark, sf_dir, "documents")
    line = F.to_json(F.struct("doc_id", "n_chars", "lang"))
    corrupted = F.when(
        F.col("doc_id") % 7 == 3, F.substring(line, 1, 15)
    ).otherwise(line)
    raw = d.select(corrupted.alias("js"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    parsed = raw.select(
        F.from_json(
            "js",
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r")
    )
    dead_letter = parsed.filter(F.col("r._corrupt_record").isNotNull()).select(
        F.col("r._corrupt_record").alias("raw")
    )
    # salvage: the doc_id survives in the truncated prefix — but ONLY
    # if its terminating comma does too. A bare \d+ would silently
    # extract a TRUNCATED number for ids longer than the prefix allows
    # (5+ digits under the 15-char cut) — recovering a WRONG id is
    # worse than recovering none, so the rule demands the delimiter
    # and the oracle mirrors the resulting 4-digit bound.
    recovered = dead_letter.select(
        F.regexp_extract(F.col("raw"), r'"doc_id":(\d+),', 1).alias("id_str")
    ).select(
        F.when(F.col("id_str") != "", F.col("id_str").cast("long")).alias(
            "doc_id"
        )
    )
    return recovered.agg(
        F.count(F.lit(1)).alias("n_quarantined"),
        F.sum(F.when(F.col("doc_id").isNotNull(), 1).otherwise(0)).alias(
            "n_recovered"
        ),
        F.coalesce(F.sum("doc_id"), F.lit(0)).cast("long").alias(
            "recovered_id_sum"
        ),
    )


@query(
    "xpath_sidecar_extraction",
    oracle="""
    SELECT coalesce(lang, '') AS lang,
           count(*)::BIGINT AS n_docs,
           sum(doc_id)::BIGINT AS id_checksum
    FROM documents WHERE doc_id % 3 = 0
    GROUP BY coalesce(lang, '')
    """,
)
def xpath_sidecar_extraction(spark, sf_dir):
    """XPath extraction (the legacy-XML sibling of from_xml): each
    document gets a planted XML SIDECAR (the metadata-file pattern of
    old content pipelines), and ``xpath_int`` / ``xpath_string`` pull
    the id and language back out of the markup for a grouped rollup
    the oracle states directly from the source columns — a lossy
    xpath (wrong axis, missed text node) breaks the checksum.

    Scale: xpath expressions are JVM codegen over the string column —
    sidecar parsing at scan speed, no Python.

    XML cannot represent NULL: a missing language serializes as the
    EMPTY element ``<lang></lang>`` and round-trips as '' (what
    ``xpath_string`` returns for empty text), so both engines group
    null-lang docs under '' — an uncoalesced NULL would instead null
    the whole ``concat``'d sidecar and vanish the rows on the Spark
    side only (null-injection stress sweep)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    sidecar = F.concat(
        F.lit("<meta><id>"),
        F.col("doc_id").cast("string"),
        F.lit("</id><lang>"),
        F.coalesce(F.col("lang"), F.lit("")),
        F.lit("</lang></meta>"),
    )
    parsed = d.select(sidecar.alias("xml")).select(
        F.expr("xpath_long(xml, '/meta/id')").alias("doc_id"),
        F.expr("xpath_string(xml, '/meta/lang')").alias("lang"),
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
    )
