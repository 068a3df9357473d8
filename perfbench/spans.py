"""Spans around the calls into the program's layers.

The benchmark records spans from its own code: it wraps the public
functions of each layer module and rebinds every reference the
package's modules hold to them, then puts the originals back. Spans are
kept in memory and summarised once the traced pass is over. The sink
wrapper also runs untraced, where it only records what each call wrote,
so the read-back check covers every pass.
"""

from __future__ import annotations

import functools
import itertools
import os
import sys
import threading
import time
import types
from collections import defaultdict
from dataclasses import dataclass

from stats import self_time

PKG = "oracle_to_cassandra_spark"

#: layer name -> module whose public functions form it
LAYER_MODULES = {
    "sources": ("sources.parquet", "sources.jdbc", "sources.pysource"),
    "operators.relational": ("operators.relational",),
    "operators.dedup": ("operators.dedup",),
    "operators.similarity": ("operators.similarity",),
    "operators.text": ("operators.text",),
    "operators.graph": ("operators.graph",),
    "staging": ("staging",),
    "sinks": ("sinks.cassandra_style",),
}


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    t0: float
    t1: float


@dataclass
class Write:
    """One ``write_query_table`` call: what was written, and where."""

    df: object
    path: str
    cluster_by: tuple[str, ...]


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[Span] = []
        self.writes: list[Write] = []
        self.cc_jobs = 0
        self.input_bytes = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[types.ModuleType, str, object]] = []
        #: called around a connected-components call to count its jobs
        self.jobs_now = lambda: 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, layer: str, name: str):
        return _SpanCtx(self, layer, name)

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if fn.__name__ == "write_query_table":
                tracer._record_write(*args, **kwargs)
            if not tracer.on:
                return fn(*args, **kwargs)
            if fn.__name__ == "read_parquet":
                tracer.input_bytes += path_bytes(kwargs.get("path") or args[1])
            if fn.__name__ == "connected_components":
                before = tracer.jobs_now()
                try:
                    with tracer.span(layer, fn.__name__):
                        return fn(*args, **kwargs)
                finally:
                    tracer.cc_jobs += tracer.jobs_now() - before
            with tracer.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def _record_write(self, df, path, partition_by, cluster_by=(), *a, **k):
        self.writes.append(Write(df, path, tuple(cluster_by)))

    def install(self) -> None:
        """Rebind the layer functions, in every loaded module of the
        package, to their wrappers."""
        wrappers = {}
        for layer, mods in LAYER_MODULES.items():
            for m in mods:
                mod = sys.modules.get(f"{PKG}.{m}")
                if mod is None:
                    continue
                for name, obj in vars(mod).items():
                    if (
                        isinstance(obj, types.FunctionType)
                        and not name.startswith("_")
                        and obj.__module__ == mod.__name__
                        # UDF objects are executed by Spark, not called
                        and not hasattr(obj, "evalType")
                    ):
                        wrappers[id(obj)] = (obj, self._wrap(layer, obj))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith(PKG) or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                hit = wrappers.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, hit[1])

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._patched):
            setattr(mod, name, obj)
        self._patched.clear()

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: calls and summed self time."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.t0, s.t1))
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "self_s": 0.0})
        for s in self.spans:
            agg = out[s.layer]
            agg["calls"] += 1
            agg["self_s"] += self_time((s.t0, s.t1), kids[s.sid])
        return out

    def by_name(self, name: str) -> tuple[int, float]:
        hits = [s.t1 - s.t0 for s in self.spans if s.name == name]
        return len(hits), sum(hits)


def path_bytes(path: str) -> int:
    """Size of a file, or of the files under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer, self.layer, self.name = tracer, layer, name

    def __enter__(self):
        st = self.tracer._stack()
        self.parent = st[-1] if st else None
        self.sid = next(self.tracer._ids)
        st.append(self.sid)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        self.tracer._stack().pop()
        self.tracer.spans.append(
            Span(self.sid, self.parent, self.layer, self.name, self.t0, t1)
        )
        return False
