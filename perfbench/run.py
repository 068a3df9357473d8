"""spark-graft benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload etl_migration --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run

1. writes the workload's input: the sf0.01 fixture with every table's
   rows permuted by ``--seed`` (``inputs.py``);
2. starts ``measure.py`` in a fresh process on local[2]. It sets up a
   session, runs every query of the workload once cold, then in at least
   five warm passes and for at least ``--seconds``, and with
   ``--trace 1`` once more with spans and Spark's status store read per
   query. The first two warm passes let the JIT settle and are left out
   of the reported figures;
3. checks every query execution against its DuckDB oracle on the same
   input, and every table the sink wrote against what was written;
4. prints a detail line (host, input, per-pass figures, failures) and,
   as the last line, ``{"correct", "attempted", "failed", "metrics"}``:
   the end-to-end metrics with ``--trace 0``, the per-layer ones with
   ``--trace 1``.

Scratch space, Spark's local dirs, warehouse, Derby home and temp files
all live under a run-private directory of the checkout, which is removed
at the end; every process the run started is reaped before it exits.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "oracle_to_cassandra_spark")

#: a run must end well inside the 180 s a run is allowed
DEADLINE_S = 170.0

#: per-layer metrics reported with --trace 1, and their units
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "py4j.calls": "count",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "sources.calls": "count",
    "sources.self_s": "s",
    "sources.input_bytes": "bytes",
    "operators.relational.self_s": "s",
    "operators.dedup.self_s": "s",
    "operators.similarity.self_s": "s",
    "operators.text.self_s": "s",
    "operators.graph.cc_calls": "count",
    "operators.graph.cc_jobs": "count",
    "operators.graph.cc_s": "s",
    "staging.stage_calls": "count",
    "staging.stage_s": "s",
    "staging.persisted_rdds": "count",
    "staging.persisted_mb": "MB",
    "sinks.write_calls": "count",
    "sinks.write_s": "s",
    "sinks.read_partition_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.bytes_per_input_byte": "ratio",
    "sinks.unsorted_files": "count",
    "streaming.queries": "count",
    "streaming.batches": "count",
    "streaming.batch_ms.triggerExecution": "ms",
    "streaming.batch_ms.queryPlanning": "ms",
    "streaming.batch_ms.addBatch": "ms",
    "streaming.batch_ms.walCommit": "ms",
    "streaming.state_rows": "count",
    "streaming.state_partitions": "count",
    "python.worker_cpu_s": "s",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.residual_s": "s",
}


def _become_subreaper() -> None:
    """Have orphaned descendants (Spark's Python daemon moves to its own
    process group) re-parented to this process, so they can be reaped."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    PR_SET_CHILD_SUBREAPER = 36
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap(grace_s: float = 10.0) -> None:
    """Wait for every descendant to end; kill what outlives ``grace_s``."""
    from host import scan
    from stats import descendants

    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        alive = descendants(scan()[0], me) - {me}
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _oracle_digests(in_dir: str, oracles: dict[str, str | None]) -> dict:
    from digest import digest
    from inputs import oracle_connection

    con = oracle_connection(in_dir)
    try:
        out = {}
        for name, sql in oracles.items():
            if sql is None:
                out[name] = None
                continue
            cur = con.execute(sql)
            out[name] = digest([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def _check(result: dict, expected: dict) -> tuple[int, list[str]]:
    """(executions attempted, descriptions of the failed ones)."""
    attempted, failures = 0, []
    for i, p in enumerate(result["passes"]):
        for name, rec in p["queries"].items():
            attempted += 1
            where = f"pass {i} ({p['kind']}) {name}"
            if rec["error"]:
                failures.append(f"{where}: {rec['error']}")
            elif expected.get(name) is None:
                failures.append(f"{where}: no oracle")
            elif [rec["rows"], rec["digest"]] != list(expected[name]):
                failures.append(f"{where}: result differs from the oracle's "
                                f"({rec['rows']} rows, oracle {expected[name][0]})")
            elif rec.get("sink_problems"):
                failures.append(f"{where}: sink read-back: {rec['sink_problems']}")
    return attempted, failures


def _settled(passes: list[dict]) -> list[dict]:
    from workloads import SETTLING_PASSES

    return [p for p in passes if p["kind"] == "warm"][SETTLING_PASSES:]


def _end_to_end(result: dict, spawn_unix: float) -> tuple[dict, dict]:
    from stats import median

    passes = result["passes"]
    cold = passes[0]
    warm = _settled(passes)
    per_query = {}
    for p in warm:
        for name, q in p["queries"].items():
            if not q["error"]:
                per_query.setdefault(name, []).append(q["s"])
    samples = [s for xs in per_query.values() for s in xs]
    metrics = {
        "setup_s": (result["setup"]["ready_unix"] - spawn_unix, "s"),
        "cold_wall_s": (cold["wall_s"], "s"),
        "cold_cpu_s": (cold["cpu_s"], "s"),
        "wall_s": (median(p["wall_s"] for p in warm), "s"),
        "cpu_s": (median(p["cpu_s"] for p in warm), "s"),
        "query_p50_s": (median(samples), "s"),
        # a run has 12 to 18 settled samples, too few for any percentile
        # above the median to have 10 samples beyond it; the tail is the
        # slowest query's median instead
        "query_tail_s": (max(median(xs) for xs in per_query.values()), "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    detail = {"warm_passes": len(warm), "query_samples": len(samples)}
    return metrics, detail


def _per_layer(result: dict) -> dict:
    from stats import median

    passes = result["passes"]
    (traced,) = [p for p in passes if p["kind"] == "traced"]
    warm = _settled(passes)
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update({k: v for k, v in traced["layers"].items() if k in PER_LAYER})
    layers["session.get_spark_s"] = result["setup"]["get_spark_s"]
    layers["registry.load_all_s"] = result["setup"]["load_all_s"]
    raw = traced["layers"]
    # slowest-task over median-task run time, summed over stages: 1.0
    # when every stage's tasks take equally long
    if raw.get("spark.task_median_ms"):
        layers["spark.task_skew"] = raw["spark.task_max_ms"] / raw["spark.task_median_ms"]
    else:
        layers["spark.task_skew"] = 1.0
    layers["trace.wall_s"] = traced["wall_s"]
    layers["trace.untraced_wall_s"] = median(p["wall_s"] for p in warm)
    layers["trace.overhead_s"] = layers["trace.wall_s"] - layers["trace.untraced_wall_s"]
    return {k: (v, PER_LAYER[k]) for k, v in layers.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.monotonic()
    t0_unix = time.time()

    sys.path[:0] = [HERE, ROOT]
    from host import load, nproc
    from inputs import generate
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(PACKAGE):
        print(f"no program to measure: {PACKAGE} is missing", file=sys.stderr)
        return 2

    _become_subreaper()
    # a run stopped from outside still reaps its processes and scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    signal.signal(signal.SIGINT, signal.default_int_handler)
    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"{os.getpid()}-{args.workload}-{args.seed}")
    try:
        for sub in ("input", "scratch", "local", "tmp", "derby"):
            os.makedirs(os.path.join(run_dir, sub))
        load_start = load()
        in_dir = os.path.join(run_dir, "input")
        tables = generate(in_dir, args.seed)

        out = os.path.join(run_dir, "result.json")
        # the program's own tuning knobs are left at their defaults
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        env.update(
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            PYTHONDONTWRITEBYTECODE="1",
            # the same string hashing, so set iteration while plans are
            # built is the same in every run
            PYTHONHASHSEED="0",
            SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
            TMPDIR=os.path.join(run_dir, "tmp"),
            TZ="UTC",
        )
        cmd = [sys.executable, os.path.join(HERE, "measure.py"),
               "--workload", args.workload, "--input", in_dir,
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--run-dir", run_dir, "--out", out]
        log = os.path.join(run_dir, "measure.log")
        spawn_unix = time.time()
        with open(log, "wb") as fh:
            child = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=fh,
                                     stderr=subprocess.STDOUT, start_new_session=True)
            try:
                code = child.wait(timeout=DEADLINE_S - (time.monotonic() - t_begin))
            except subprocess.TimeoutExpired:
                code = None
                os.killpg(child.pid, signal.SIGKILL)
                child.wait()
        exit_unix = time.time()
        _reap()
        reaped_unix = time.time()
        if code != 0 or not os.path.exists(out):
            with open(log, "rb") as fh:
                sys.stderr.write(fh.read()[-4000:].decode(errors="replace"))
            print(f"measurement {'timed out' if code is None else f'exited {code}'}",
                  file=sys.stderr)
            return 1
        with open(out) as fh:
            result = json.load(fh)

        expected = _oracle_digests(in_dir, result["oracles"])
        attempted, failures = _check(result, expected)
        metrics, detail = _end_to_end(result, spawn_unix)
        if args.trace:
            metrics = _per_layer(result)
        st = result["setup"]
        detail["timeline_s"] = {
            "spawn": spawn_unix - t0_unix,
            "ready": st["ready_unix"] - t0_unix,
            "passes_done": st["passes_done_unix"] - t0_unix,
            "stopped": st["stopped_unix"] - t0_unix,
            "exited": exit_unix - t0_unix,
            "reaped": reaped_unix - t0_unix,
            "checked": time.time() - t0_unix,
        }
        detail.update({
            "workload": args.workload,
            "seed": args.seed,
            "queries": result["queries"],
            "input": {"base": "sf0.01", "tables": tables,
                      "rows": sum(t["rows"] for t in tables.values()),
                      "bytes": sum(t["bytes"] for t in tables.values())},
            "host": {"nproc": nproc(), "local_width": result["width"],
                     "default_parallelism": result["default_parallelism"],
                     "start": load_start, "end": load()},
            "passes": [{"kind": p["kind"], "wall_s": p["wall_s"], "cpu_s": p["cpu_s"],
                        "query_s": {n: q["s"] for n, q in p["queries"].items()}}
                       for p in result["passes"]],
            "failures": failures,
        })
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        _reap()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
