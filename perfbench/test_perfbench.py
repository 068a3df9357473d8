"""Self-tests for the benchmark's own arithmetic; no Spark needed.

    python3 -m pytest -q perfbench
"""

from __future__ import annotations

import types
from datetime import datetime
from decimal import Decimal

import pytest

import run
from digest import digest
from spans import Tracer
from stats import covered, descendants, self_time, tree_sum
from workloads import PKG, Workload, members


def test_self_time_subtracts_child_spans():
    assert self_time((0.0, 10.0), []) == 10.0
    assert self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]) == 7.0


def test_self_time_counts_overlapping_children_once_and_clips():
    # overlapping children cover [1, 5]; a child leaking past the parent
    # end is clipped to it; one wholly outside covers nothing
    assert covered((0.0, 10.0), [(1.0, 4.0), (2.0, 5.0)]) == 4.0
    assert covered((0.0, 10.0), [(8.0, 12.0), (20.0, 30.0)]) == 2.0
    assert self_time((0.0, 10.0), [(1.0, 4.0), (2.0, 5.0), (8.0, 12.0)]) == 4.0


def test_tracer_self_time_per_layer():
    tr = Tracer()
    with tr.span("query", "q"):
        with tr.span("sources", "load_table"):
            with tr.span("sources", "read_parquet"):
                pass
    tot = tr.layer_totals()
    by = {s.name: s.t1 - s.t0 for s in tr.spans}
    assert tot["sources"]["calls"] == 2
    # the outer span's self time excludes the inner span, so the layer's
    # summed self time is the outer span's duration
    assert tot["sources"]["self_s"] == pytest.approx(by["load_table"])
    assert tot["query"]["self_s"] == pytest.approx(by["q"] - by["load_table"])


def test_process_tree_sums_only_the_tree():
    # 1 is init; 10 is the benchmark process, 11 its JVM, 12 the Python
    # daemon under the JVM, 13 a worker; 20 is an unrelated process
    parents = {1: 0, 10: 1, 11: 10, 12: 11, 13: 12, 20: 1}
    assert descendants(parents, 10) == {10, 11, 12, 13}
    cpu = {10: 1.0, 11: 5.0, 12: 0.5, 13: 2.0, 20: 100.0}
    assert tree_sum(cpu, parents, 10) == 8.5
    # a worker that exited and was reaped has left the tree; its CPU is
    # now in the daemon's cutime, so the sum is unchanged
    del parents[13]
    cpu_after = {10: 1.0, 11: 5.0, 12: 2.5, 20: 100.0}
    assert tree_sum(cpu_after, parents, 10) == 8.5
    rss = {10: 100.0, 11: 900.0, 12: 30.0, 20: 5000.0}
    assert tree_sum(rss, parents, 10) == 1030.0


def _fn(module: str):
    f = types.FunctionType((lambda s, d: None).__code__, {})
    f.__module__ = PKG + module
    return f


def test_membership_is_derived_from_modules():
    queries = {"a": _fn("pipelines"), "b": _fn("dedup"), "c": _fn("pipelines")}
    wl = Workload(("pipelines",), only=("a", "c"))
    assert members(wl, queries) == ["a", "c"]
    # a query moved to another module leaves the workload, loudly
    queries["c"] = _fn("streaming")
    with pytest.raises(KeyError, match="'c'"):
        members(wl, queries)


def test_digest_is_order_insensitive_and_engine_neutral():
    spark_rows = [(2, "x", 1.0000000001, Decimal("5")), (1, "y", None, Decimal("1.50"))]
    duck_rows = [("y", 1, None, Decimal("1.5")), ("x", 2, 1.0, 5)]
    assert digest(["k", "s", "f", "d"], spark_rows) == digest(["s", "k", "f", "d"], duck_rows)
    assert digest(["k"], [(1,)]) != digest(["k"], [(1.0,)])
    ts = datetime(2024, 1, 2, 3, 4, 5, 6)
    assert digest(["t"], [(ts,)]) == digest(["t"], [(ts,)])
    assert digest(["k"], [(1,), (1,)])[0] == 2


def _pass(kind, wall, cpu, times, error=None):
    return {"kind": kind, "wall_s": wall, "cpu_s": cpu,
            "queries": {n: {"s": s, "error": error, "rows": 1, "digest": "h"}
                        for n, s in times.items()}}


def test_end_to_end_medians_and_tail():
    result = {
        "setup": {"ready_unix": 109.0},
        "peak_rss_mb": 1500.0,
        "passes": [
            _pass("cold", 20.0, 50.0, {"a": 15.0, "b": 5.0}),
            _pass("warm", 9.0, 30.0, {"a": 7.0, "b": 2.0}),  # still compiling
            _pass("warm", 7.0, 20.0, {"a": 5.0, "b": 2.0}),  # still compiling
            _pass("warm", 6.0, 12.0, {"a": 4.0, "b": 2.0}),
            _pass("warm", 4.0, 9.0, {"a": 3.0, "b": 1.0}),
            _pass("warm", 5.0, 10.0, {"a": 3.5, "b": 1.5}),
        ],
    }
    m, detail = run._end_to_end(result, spawn_unix=100.0)
    assert m["setup_s"] == (9.0, "s")
    assert m["cold_wall_s"][0] == 20.0 and m["cold_cpu_s"][0] == 50.0
    # medians over the settled passes: the first two warm passes are left out
    assert m["wall_s"][0] == 5.0 and m["cpu_s"][0] == 10.0
    assert m["query_p50_s"][0] == 2.5  # median of the six settled samples
    assert m["query_tail_s"][0] == 3.5  # slowest query's settled median
    assert detail == {"warm_passes": 3, "query_samples": 6}


def test_check_counts_every_failure_against_attempted():
    result = {"passes": [
        _pass("cold", 1, 1, {"a": 1.0, "b": 1.0}),
        _pass("warm", 1, 1, {"a": 1.0}, error="Boom"),
    ]}
    result["passes"][0]["queries"]["b"]["digest"] = "other"
    attempted, failures = run._check(result, {"a": (1, "h"), "b": (1, "h")})
    assert attempted == 3
    assert len(failures) == 2
    assert "oracle" in failures[0] and "Boom" in failures[1]
