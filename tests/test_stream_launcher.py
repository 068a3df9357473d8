"""The stream launcher (``streaming.core.run_stream``), its scoped
session conf (``session.scoped_conf``) and the state-width rule
(``streaming.core.state_width``)."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from oracle_to_cassandra_spark.session import scoped_conf
from oracle_to_cassandra_spark.streaming import (
    read_events_stream,
    run_stream,
    run_stream_to_memory,
    state_width,
)
from oracle_to_cassandra_spark.streaming.core import _input_rows
from tests.conftest import SF_DIR

SHUFFLE = "spark.sql.shuffle.partitions"
NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"


def test_failed_start_leaves_conf_as_it_was(spark):
    """complete mode on a stream without an aggregate is rejected by
    ``start()`` itself — after the launcher has applied the join width
    and disabled no-data batches. Both must be back as they were."""
    before = {k: spark.conf.get(k, None) for k in (SHUFFLE, NO_DATA)}
    stateless = read_events_stream(spark, SF_DIR).select("user_id")
    with pytest.raises(Exception, match="(?i)complete"):
        run_stream_to_memory(
            stateless, output_mode="complete", family="join", no_data_batches=False
        )
    assert {k: spark.conf.get(k, None) for k in (SHUFFLE, NO_DATA)} == before
    assert not spark.streams.active


def test_scoped_conf_restores_set_and_unset_keys(spark):
    unset_key = "spark.graft.test.scoped.unset"
    set_key = "spark.graft.test.scoped.set"
    spark.conf.set(set_key, "old")
    try:
        assert spark.conf.get(unset_key, None) is None
        with pytest.raises(RuntimeError, match="body"):
            with scoped_conf(spark, {unset_key: "a", set_key: "b"}):
                assert spark.conf.get(unset_key) == "a"
                assert spark.conf.get(set_key) == "b"
                raise RuntimeError("body failed")
        assert spark.conf.get(unset_key, None) is None
        assert spark.conf.get(set_key) == "old"
    finally:
        spark.conf.unset(set_key)


def _inner_interval_join(spark):
    ev = read_events_stream(spark, SF_DIR)
    views = (
        ev.filter("event_type = 'view'")
        .select("user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id"))
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        ev.filter("event_type = 'purchase'")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    return views.join(
        purchases,
        F.expr(
            """user_id = p_user_id AND purchase_ts >= view_ts
               AND purchase_ts <= view_ts + INTERVAL 30 MINUTES"""
        ),
        "inner",
    ).select("view_id")


@pytest.mark.parametrize("no_data_batches", [True, False])
def test_no_data_batches_conf_is_read_at_start(spark, no_data_batches):
    """The launcher restores the no-data conf right after ``start()``,
    yet the running query keeps it: the query reads it from the session
    clone made inside ``start()``. With no-data batches on, the join's
    watermark eviction adds a trailing batch with no input (the control
    showing the check can see one); off, every batch carries data."""
    name = f"launcher_nd_{no_data_batches}"
    writer = (
        _inner_interval_join(spark)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
    )
    try:
        q = run_stream(spark, writer, "join", no_data_batches=no_data_batches)
        rows = [_input_rows(p) for p in q.recentProgress]
    finally:
        spark.catalog.dropTempView(name)
    assert rows and rows[0] > 0
    assert (0 in rows) == no_data_batches, rows


@pytest.mark.parametrize("cores", [2, 4, 8, 32])
def test_state_width_per_family(cores, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STATE_PARTITIONS", raising=False)
    spark = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=cores))
    assert state_width(spark, "aggregate") == 8
    assert state_width(spark, "join") == 4
    assert state_width(spark, "python") == min(16, cores)


def test_state_width_env_pins_every_family(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STATE_PARTITIONS", "3")
    spark = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=32))
    assert [state_width(spark, f) for f in ("aggregate", "join", "python")] == [3, 3, 3]
    with pytest.raises(KeyError):
        state_width(spark, "window")
