"""The benchmark's workloads and how their queries are found.

A workload names ``queries.*`` modules; its candidate queries are the
registered queries whose function sits in one of them
(``fn.__module__``). A workload also lists which of those it runs; a
listed name that is not a registered query of the workload's modules
raises, so a renamed or moved query fails the run instead of silently
dropping out of it.

Why lists and not whole modules, and why two workloads: every
measurement is a fresh process on local[2] with one client issuing
queries back to back (closed loop), and a run has about 55 s. Session
set-up, result checks and teardown take about 13 s of it, and a query
costs 1 to 4 s cold and 0.5 to 2.5 s warm even on a tiny input, and a
run makes five warm passes (see ``WARM_PASSES``). That leaves room for 4
to 6 queries per workload and two workloads; the modules named hold 24 and
19 queries. Streams ride in ``etl_migration`` as micro-batch ETL rather
than in a workload of their own.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass

PKG = "oracle_to_cassandra_spark.queries."

#: warm passes every run makes at least; JIT compilation is triggered by
#: invocation counts, so the same count leaves every run equally settled
WARM_PASSES = 5
#: leading warm passes left out of the reported figures: the JIT is
#: still compiling through them (CPU per pass falls until the third)
SETTLING_PASSES = 2


@dataclass(frozen=True)
class Workload:
    modules: tuple[str, ...]
    #: the queries of ``modules`` that are run
    only: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    # Batch: sources -> operators.relational joins -> sinks.write_query_table
    # -> sinks.read_partition point reads, with the JDBC source (Derby) in
    # the end-to-end query: the paper's own pipeline. Micro-batch: a
    # foreachBatch stream into the same sink layout, read back, and a
    # pandas stateful stream (state store, Python workers). Touches no
    # staging or graph code.
    "etl_migration": Workload(
        ("pipelines", "streaming"),
        only=(
            "oracle_to_cassandra_e2e",
            "pipeline_lineitems_by_part",
            "sink_roundtrip_partition_lookup",
            "fk_chain_sink_roundtrip",
            "stream_ingest_sink_roundtrip",
            "stream_stateful_user_profile",
        ),
    ),
    # exact and SimHash dedup in operators.dedup, MinHash/LSH feeding the
    # connected-components loop in operators.graph, the PageRank loop,
    # and staging.stage. Writes no sink and runs no stream.
    "llm_dedup": Workload(
        ("dedup", "dedup_clusters", "graph_rank"),
        only=(
            "dedup_exact_keepers",
            "dedup_simhash_fingerprints",
            "dedup_cluster_assignment",
            "trade_graph_pagerank",
        ),
    ),
}


def members(workload: Workload, queries: Mapping[str, object]) -> list[str]:
    """Names of the registered ``queries`` in ``workload``, in
    registration order. Raises if a name in ``only`` is not a query of
    the workload's modules."""
    mods = {PKG + m for m in workload.modules}
    names = [n for n, fn in queries.items() if fn.__module__ in mods]
    missing = sorted(set(workload.only) - set(names))
    if missing:
        raise KeyError(f"not queries of {sorted(mods)}: {missing}")
    return [n for n in names if n in workload.only]
