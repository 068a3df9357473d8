"""Structured Streaming core: stream source wiring + synchronous
micro-batch execution for tests/driver checks.

The reference is batch-only ETL (SURVEY.md §2.6: streaming explicitly
absent); this is north-star surface. The ``events`` table is the
stream-shaped input (event_id, ts, user_id, event_type, value, props).

Scale notes: the same logical plans here run against Kafka/files on a
cluster; event-time windows + watermarks bound state, and
``availableNow`` triggers give batch-backfill semantics with streaming
code. The memory sink is only for local verification.
"""

from __future__ import annotations

import os
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from oracle_to_cassandra_spark.session import scoped_conf
from oracle_to_cassandra_spark.sources.parquet import _read_events

#: memory-sink temp views created by run_stream_to_memory, oldest
#: first, as (session_token, weakref-to-wrapper, view_name) — retired
#: lazily on the next call (see there for the bound). Scoped per
#: underlying session because temp views ARE per-session: dropping a
#: name against a different live session is a silent no-op, and the
#: real view (plus its pinned memory-sink result) would leak for the
#: session lifetime. Ownership compares the JVM ``sessionUUID`` token,
#: not Python wrapper identity: two Python SparkSession wrappers over
#: the same underlying session (e.g. a re-constructed
#: ``SparkSession(sc)``) must see each other's views as their own.
#: Entries whose wrapper is garbage-collected AND whose token differs
#: from the caller's are pruned lazily — that session can no longer be
#: reached to drop anything, and if it died its views died with it.
_SINK_VIEWS: list[tuple[str, "weakref.ref", str]] = []

#: state-partition width per stateful operator family. A streaming
#: query pins its state-partition count in the checkpoint at first
#: start, so the width is set by expected state size and per-batch
#: work, never by the session's batch-shuffle default. Every stateful
#: operator opens state stores per partition and commits one delta
#: file per store per micro-batch; at test-SF state (thousands of
#: keys) that store lifecycle is the fixed cost a wider layout
#: multiplies. Production pins the width at submit time via
#: ``SPARK_GRAFT_STATE_PARTITIONS``, sized to peak keyed state.
_STATE_WIDTH = {
    # JVM aggregates and dedup: one store per partition, store fixed
    # cost dominates the per-batch work
    "aggregate": lambda spark: 8,
    # stream-stream joins open FOUR stores per partition (two sides ×
    # keyToNumValues + keyWithIndexToValue), so at equal state volume
    # their fixed cost per micro-batch is 4× an aggregate's. Their
    # buffers hold O(rate × (delay + range)) rows whatever the width,
    # and the join work is JVM-side, so narrower wins until one
    # partition's buffer skews: 8 → 4 cut both sf0.1 interval joins
    # ~20-25% on 32 and on 8 cores alike
    "join": lambda spark: 4,
    # applyInPandasWithState / transformWithStateInPandas: the keyed
    # work runs in Python workers, so the width is compute parallelism
    # — one partition per core, which ``defaultParallelism`` carries
    # on local mode and a cluster alike — capped at 16, where store
    # fixed cost overtakes the gain (sf0.1: 32 cores prefer 12-16 over
    # 8 and are flat from 12 to 16; 8 cores prefer 8 over 12-16)
    "python": lambda spark: min(16, spark.sparkContext.defaultParallelism),
}


def state_width(spark: SparkSession, family: str) -> int:
    """State-partition width for a stream whose stateful operators are
    of ``family`` (``"aggregate"``, ``"join"`` or ``"python"``);
    ``SPARK_GRAFT_STATE_PARTITIONS``, when set, pins every family."""
    width = _STATE_WIDTH[family]
    pinned = os.environ.get("SPARK_GRAFT_STATE_PARTITIONS")
    return int(pinned) if pinned else width(spark)


def _session_token(spark: SparkSession) -> str:
    """Stable identity of the UNDERLYING session — the scope temp
    views actually live in. Falls back to the Python wrapper id when
    the JVM handle is absent (Spark Connect), where one wrapper per
    connection is the invariant anyway."""
    try:
        return str(spark._jsparkSession.sessionUUID())
    except Exception:
        return f"py-id-{id(spark)}"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet, ``ts`` normalized to
    TimestampType exactly as the batch ``load_table("events")`` does
    (``sources.parquet._read_events``)."""
    return _read_events(spark, sf_dir, stream=True)


def _retire_sink_views(spark: SparkSession, name: str) -> None:
    """Register ``name`` in the sink-view ledger, dropping this
    underlying session's older views (keep the most recent previous
    one). Entries are claimed by session TOKEN, so a view created via
    a different Python wrapper of the same session is still retired
    here; foreign-session entries whose wrapper died are pruned (their
    session is unreachable from this call)."""
    token = _session_token(spark)
    _SINK_VIEWS[:] = [
        e for e in _SINK_VIEWS if e[0] == token or e[1]() is not None
    ]
    mine = [e for e in _SINK_VIEWS if e[0] == token]
    while len(mine) > 1:
        victim = mine.pop(0)
        _SINK_VIEWS.remove(victim)
        spark.catalog.dropTempView(victim[2])
    _SINK_VIEWS.append((token, weakref.ref(spark), name))


def run_stream(
    spark: SparkSession,
    writer: DataStreamWriter,
    family: str | None,
    no_data_batches: bool = True,
) -> StreamingQuery:
    """Start ``writer``, drain it with ``processAllAvailable`` and stop
    it; returns the stopped query, whose ``recentProgress`` stays
    readable. Every stream the engine runs goes through here.

    ``family`` names the stream's stateful operators and sets its
    state width (``state_width``); ``None`` is for stateless streams,
    which keep the session's width. ``no_data_batches=False`` drops
    the trailing no-data micro-batch (see ``run_stream_to_memory``).

    Both confs are scoped to ``start()`` alone and restored however it
    exits: ``start()`` builds the query over a clone of the session,
    and the micro-batch loop reads both values from that clone, so
    later changes to the session do not reach the running query."""
    confs = {}
    if family is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_width(spark, family))
    if not no_data_batches:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    with scoped_conf(spark, confs):
        q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return q


def run_stream_to_memory(
    result: DataFrame,
    output_mode: str = "complete",
    family: str = "aggregate",
    available_now: bool = True,
    expect_single_batch: bool = False,
    no_data_batches: bool = True,
) -> DataFrame:
    """Execute a streaming plan to completion against the memory sink
    (synchronous, through ``run_stream``) and return the materialized
    result as a batch DataFrame. ``family`` sets the state width.

    ``available_now=False`` falls back to the default micro-batch
    trigger: an availableNow run snapshots ``latestOffset`` ONCE at
    start, which truncates sources that reveal their backlog one
    micro-batch at a time (the custom Python stream reader, a
    rate-limited queue cursor); the default trigger re-polls until
    ``processAllAvailable`` observes no progress, draining them
    fully.

    ``no_data_batches=False`` disables the trailing no-data
    micro-batch for this query. ONLY legal for a stream whose output
    is a pure function of its data batches — an INNER stream-stream
    join emits exclusively on data arrival; the final no-data batch
    exists to evict join state, which stopping at exhaustion makes
    moot. NEVER set it on a stream whose no-data batch EMITS
    (watermark-gated null padding on outer joins, expiry timers, any
    append-mode aggregate flushed by the final watermark) — those
    would silently lose their last rows. Result equality was probed
    row-for-row against the default before adoption.

    ``expect_single_batch=True`` asserts, from the query's progress
    log, that ALL input rows arrived in ONE micro-batch. The
    watermark-sensitive oracles (initial-zero late-row admission, the
    final-watermark timer boundary) are derived under exactly that
    precondition — a fixture change that splits the events table into
    multiple files/batches would advance the watermark mid-stream and
    silently desync Spark from the oracle as a bare hash mismatch;
    this assertion makes it fail loudly at the true cause instead."""
    spark = result.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    # the memory sink pins each query's fully materialized result in
    # driver heap for the session lifetime; every caller consumes the
    # returned table synchronously (hash-compare / noop write) before
    # the NEXT streaming query runs — the returned DataFrame is LAZY
    # over the view, so holding two results while starting a third
    # reads the oldest as TABLE_OR_VIEW_NOT_FOUND at collect time (a
    # documented invariant of this harness, not a supported pattern).
    # Retiring all but the most recent previous view bounds the sink
    # footprint at 2 results instead of growing across a 300+-query
    # sweep. Retirement is SESSION-SCOPED: only views created on THIS
    # session are dropped (a name-only drop against a different
    # session is a silent no-op that leaks the real view), and entries
    # whose session has been collected are pruned — their views died
    # with the session.
    _retire_sink_views(spark, name)
    writer = result.writeStream.outputMode(output_mode).format("memory").queryName(name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = run_stream(spark, writer, family, no_data_batches)
    if expect_single_batch:
        data_batches = [p for p in q.recentProgress if _input_rows(p) > 0]
        if len(data_batches) > 1:
            raise AssertionError(
                f"watermark-sensitive stream expected ONE data "
                f"micro-batch, got {len(data_batches)} — the source "
                f"fixture no longer delivers in a single batch, so "
                f"the initial-zero-watermark oracle premise is void"
            )
    return spark.table(name)


def _input_rows(progress) -> int:
    """numInputRows from a StreamingQueryProgress (attribute on the
    PySpark object; key in its dict/json form). Raises when the field
    can't be read at all: returning 0 would silently disarm the
    ``expect_single_batch`` loud-failure guard (every batch would look
    empty and the assertion could never fire)."""
    try:
        return int(progress["numInputRows"])
    except (TypeError, KeyError):
        pass
    rows = getattr(progress, "numInputRows", None)
    if rows is None:
        raise AttributeError(
            f"cannot read numInputRows from {type(progress).__name__} — "
            f"the single-batch precondition guard would be blind"
        )
    return int(rows)
