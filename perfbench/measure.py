"""One measurement, in a fresh process: set up a session, run the
workload's queries once cold and then in warm passes, and write what was
measured to a JSON file for ``run.py``.

Each query is timed from the call that builds its DataFrame to the end
of ``collect()``. Everything else (result digests, sink read-back,
status-store reads) happens outside those regions, and the per-pass CPU
is summed over the same regions only.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener

from digest import digest
from host import ProcessTree
from spans import Tracer
from workloads import WARM_PASSES, WORKLOADS, members

WIDTH = 2
HEAP = "2g"


class Runner:
    def __init__(self, spark, names, in_dir, tracer, registry):
        self.spark = spark
        self.sc = spark.sparkContext
        self.names = names
        self.in_dir = in_dir
        self.tracer = tracer
        self.registry = registry
        self.tree = ProcessTree()
        self.peak_rss_mb = 0.0
        self.npass = 0

    # -- Spark's status store, read outside the timed regions ----------
    def _jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def _uncounted_jobs(self, group: str) -> int:
        """Jobs fired so far in ``group``, asked for without the round
        trips being counted against the query."""
        counting, _py4j.counting = _py4j.counting, False
        try:
            return len(self._jobs(group))
        finally:
            _py4j.counting = counting

    def _settled_jobs(self, group: str) -> list[int]:
        """Job ids of ``group`` once the status store has seen them end
        (it is fed asynchronously from the listener bus)."""
        st = self.sc.statusTracker()
        deadline = time.perf_counter() + 5.0
        while True:
            ids = self._jobs(group)
            infos = [st.getJobInfo(j) for j in ids]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                return ids
            if time.perf_counter() > deadline:
                return ids
            time.sleep(0.02)

    def _stage_metrics(self, job_ids: list[int]) -> dict[str, float]:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        q = self.sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        m = dict.fromkeys(
            ("stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "task_max_ms", "task_median_ms"), 0.0)
        stage_ids = sorted({s for j in job_ids for s in (st.getJobInfo(j).stageIds or ())})
        for sid in stage_ids:
            seq = store.stageData(sid, False, jvm.java.util.ArrayList(), True, q)
            for i in range(seq.length()):
                sd = seq.apply(i)
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused
                m["stages"] += 1
                m["tasks"] += sd.numCompleteTasks()
                m["executor_run_ms"] += sd.executorRunTime()
                m["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                m["gc_ms"] += sd.jvmGcTime()
                m["shuffle_read_bytes"] += sd.shuffleReadBytes()
                m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                dist = sd.taskMetricsDistributions()
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    m["task_median_ms"] += run.apply(0)
                    m["task_max_ms"] += run.apply(1)
        return m

    def _persisted(self) -> tuple[int, float]:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        return self.sc._jsc.getPersistentRDDs().size(), mb

    # -- sink read-back -------------------------------------------------
    def _check_writes(self, writes) -> list[str]:
        """Read back each table ``write_query_table`` wrote and compare
        its row count and order-insensitive row digest with those of the
        DataFrame that was written. Returns the problems found."""
        problems = []
        for w in {w.path: w for w in writes}.values():
            try:
                want = _row_digest(w.df)
                got = _row_digest(self.spark.read.schema(w.df.schema).parquet(w.path))
            except Exception as exc:  # reported as a failed check
                problems.append(f"{w.path}: {type(exc).__name__}: {exc}"[:300])
                continue
            if want != got:
                problems.append(f"{w.path}: wrote {want}, read back {got} (rows, digest)")
        return problems

    # -- one pass ---------------------------------------------------------
    def run_pass(self, kind: str) -> dict:
        traced = kind == "traced"
        tracer = self.tracer
        tracer.spans.clear()
        tracer.cc_jobs = 0
        tracer.input_bytes = 0
        tracer.on = traced
        per_query = {}
        layers = {}
        wall = cpu = 0.0
        worker_cpu0 = self.tree.worker_cpu_s() if traced else 0.0
        self.npass += 1
        for name in self.names:
            group = f"perfbench-{self.npass}-{name}"
            self.sc.setJobGroup(group, name)
            tracer.jobs_now = lambda g=group: self._uncounted_jobs(g)
            tracer.writes.clear()
            rec = {"error": None}
            cpu0 = self.tree.cpu_s()
            py4j0 = _py4j.calls
            _py4j.counting = True
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.span("query", name):
                        df = self.registry.QUERIES[name](self.spark, self.in_dir)
                        t1 = time.perf_counter()
                        construct_jobs = self._uncounted_jobs(group)
                        with tracer.span("spark.execute", name):
                            rows = df.collect()
                else:
                    df = self.registry.QUERIES[name](self.spark, self.in_dir)
                    t1 = time.perf_counter()
                    rows = df.collect()
                t2 = time.perf_counter()
            except Exception as exc:  # one failing query must not end the run
                t1 = t2 = time.perf_counter()
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            _py4j.counting = False
            cpu += self.tree.cpu_s() - cpu0
            wall += t2 - t0
            rec["s"] = t2 - t0
            if rec["error"] is None:
                rec["rows"], rec["digest"] = digest(df.columns, rows)
                if traced:
                    self._layer_query(layers, df, group, t1 - t0, t2 - t1,
                                      construct_jobs, _py4j.calls - py4j0)
                    for k, v in _sink_files(tracer.writes).items():
                        layers[k] = layers.get(k, 0) + v
                if kind == "cold":
                    self.sc.setJobGroup("perfbench-check", "read-back")
                    rec["sink_problems"] = self._check_writes(tracer.writes)
            per_query[name] = rec
            self.peak_rss_mb = max(self.peak_rss_mb, self.tree.hwm_mb())
        out = {"kind": kind, "wall_s": wall, "cpu_s": cpu, "queries": per_query}
        if traced:
            tracer.on = False
            layers["python.worker_cpu_s"] = self.tree.worker_cpu_s() - worker_cpu0
            layers["sources.input_bytes"] = tracer.input_bytes
            written = layers.setdefault("sinks.bytes_written", 0)
            layers["sinks.bytes_per_input_byte"] = written / max(tracer.input_bytes, 1)
            out["layers"] = layers
        return out

    def _layer_query(self, layers, df, group, construct_s, execute_s, construct_jobs, calls):
        """Add one traced query's Spark-side numbers to ``layers``."""
        def add(key, v):
            layers[key] = layers.get(key, 0.0) + v

        add("queries.construct_s", construct_s)
        add("queries.construct_jobs", construct_jobs)
        add("spark.execute_s", execute_s)
        add("py4j.calls", calls)
        phases = df._jdf.queryExecution().tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                add(f"spark.{ph}_ms", opt.get().durationMs())
        jobs = self._settled_jobs(group)
        add("spark.jobs", len(jobs))
        for k, v in self._stage_metrics(jobs).items():
            add(f"spark.{k}", v)
        n, mb = self._persisted()
        layers["staging.persisted_rdds"] = max(layers.get("staging.persisted_rdds", 0), n)
        layers["staging.persisted_mb"] = max(layers.get("staging.persisted_mb", 0.0), mb)


def _row_digest(df) -> tuple[int, int]:
    """(rows, sum of per-row xxhash64) over ``df``'s columns by name."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
    row = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return row["n"], int(row["h"] or 0)


def _sink_files(writes) -> dict[str, int]:
    """Files and bytes the sink wrote, and how many files hold rows out
    of their clustering order."""
    import pyarrow.parquet as pq

    out = {"sinks.files_written": 0, "sinks.bytes_written": 0, "sinks.unsorted_files": 0}
    last = {w.path: w for w in writes}
    for w in last.values():
        for d, _, files in os.walk(w.path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(d, f)
                out["sinks.files_written"] += 1
                out["sinks.bytes_written"] += os.path.getsize(p)
                if w.cluster_by:
                    cols = pq.read_table(p, columns=list(w.cluster_by)).to_pylist()
                    rows = [tuple((r[c] is not None, r[c]) for c in w.cluster_by) for r in cols]
                    out["sinks.unsorted_files"] += rows != sorted(rows)
    return out


class _Py4jCounter:
    """Counts round trips through the py4j gateway client while on."""

    def __init__(self):
        self.calls = 0
        self.counting = False

    def install(self, client) -> None:
        send = client.send_command

        def counted(*args, **kwargs):
            if self.counting:
                self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted


_py4j = _Py4jCounter()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--input", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from oracle_to_cassandra_spark import registry
    from oracle_to_cassandra_spark.session import get_spark

    run_dir = args.run_dir
    # the heap is committed whole at start, so peak RSS does not hinge on
    # when G1 decides to grow it
    java_opts = (f"-Xms{HEAP} -Dderby.system.home={run_dir}/derby "
                 f"-Djava.io.tmpdir={run_dir}/tmp")
    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=WIDTH,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
            "spark.driver.extraJavaOptions": java_opts,
        },
    )
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    t = time.perf_counter()
    registry.load_all()
    load_all_s = time.perf_counter() - t
    spark.range(1).count()
    ready = time.time()

    names = members(WORKLOADS[args.workload], registry.QUERIES)
    _py4j.install(spark.sparkContext._gateway._gateway_client)
    tracer = Tracer()
    tracer.install()
    runner = Runner(spark, names, args.input, tracer, registry)

    passes = [runner.run_pass("cold")]
    t_warm = time.perf_counter()
    while len(passes) <= WARM_PASSES or time.perf_counter() - t_warm < args.seconds:
        passes.append(runner.run_pass("warm"))
    if args.trace:
        listener = _StreamListener()
        spark.streams.addListener(listener)
        traced = runner.run_pass("traced")
        listener.drain()
        spark.streams.removeListener(listener)
        layers = traced["layers"]
        layers.update(listener.metrics())
        _span_metrics(tracer, layers)
        passes.append(traced)
    tracer.uninstall()

    result = {
        "setup": {"ready_unix": ready,
                  "get_spark_s": get_spark_s, "load_all_s": load_all_s},
        "width": WIDTH,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "queries": names,
        "oracles": {n: registry.ORACLE.get(n) for n in names},
        "passes": passes,
        "peak_rss_mb": runner.peak_rss_mb,
    }
    result["setup"]["passes_done_unix"] = time.time()
    spark.stop()
    result["setup"]["stopped_unix"] = time.time()
    with open(args.out, "w") as fh:
        json.dump(result, fh)


def _span_metrics(tracer: Tracer, layers: dict) -> None:
    """Per-layer figures from the traced pass's spans."""
    tot = tracer.layer_totals()
    layers["sources.calls"] = tot["sources"]["calls"]
    layers["sources.self_s"] = tot["sources"]["self_s"]
    for op in ("relational", "dedup", "similarity", "text"):
        layers[f"operators.{op}.self_s"] = tot[f"operators.{op}"]["self_s"]
    layers["operators.graph.cc_calls"], layers["operators.graph.cc_s"] = (
        tracer.by_name("connected_components"))
    layers["operators.graph.cc_jobs"] = tracer.cc_jobs
    layers["staging.stage_calls"], layers["staging.stage_s"] = tracer.by_name("stage")
    layers["sinks.write_calls"], layers["sinks.write_s"] = tracer.by_name("write_query_table")
    layers["sinks.read_partition_s"] = tracer.by_name("read_partition")[1]
    layers["trace.residual_s"] = tot["query"]["self_s"]


class _StreamListener(StreamingQueryListener):
    """Collects micro-batch progress from every streaming query."""

    PHASES = ("triggerExecution", "queryPlanning", "addBatch", "walCommit")

    def __init__(self):
        self.started = 0
        self.progress = []

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append((
            str(p.runId),
            dict(p.durationMs),
            sum(o.numRowsTotal for o in p.stateOperators),
            sum(o.numShufflePartitions for o in p.stateOperators),
        ))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def drain(self, quiet_s: float = 0.5) -> None:
        """Wait until no event has arrived for ``quiet_s`` (the listener
        bus delivers them asynchronously)."""
        seen = -1
        while seen != len(self.progress):
            seen = len(self.progress)
            time.sleep(quiet_s)

    def metrics(self) -> dict:
        m = {"streaming.queries": self.started,
             "streaming.batches": len(self.progress)}
        for ph in self.PHASES:
            m[f"streaming.batch_ms.{ph}"] = sum(d.get(ph, 0) for _, d, _, _ in self.progress)
        last = {}
        for run, _, rows, parts in self.progress:
            last[run] = (rows, parts)
        m["streaming.state_rows"] = sum(r for r, _ in last.values())
        m["streaming.state_partitions"] = sum(p for _, p in last.values())
        return m


if __name__ == "__main__":
    sys.exit(main())
