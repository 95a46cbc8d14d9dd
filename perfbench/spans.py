"""In-memory spans and per-layer counters for the traced benchmark run.

A span records (name, start, end, parent, op id). Spans stay in a list and
are written out once, when the run ends. A layer's self time is its span's
duration minus the durations of its direct children; spans nest strictly
(one client thread), so children never overlap.

``Tracer.instrument`` wraps the engine's public functions at run time from
outside the package: every module attribute bound to a wrapped function is
rebound to a ``_Traced`` proxy, so calls made inside the package (a registry
entry calling ``catalogs.load`` calling ``load_table`` calling
``parse_catalog``) are recorded as nested spans too. Nothing in the package
is edited. ``uninstrument`` restores the originals.

Spark-side counters come from public status APIs, never from the package:
``statusTracker`` jobs and tasks per job group (one group per op), and the
SQL status store's executed-plan metrics (scan rows and files read).
"""

from __future__ import annotations

import inspect
import json
import sys
import time
from contextlib import contextmanager

PKG = "spark_hbase_connector_spark"

# module -> layer name; every public function defined in the module is traced
LAYER_MODULES = {
    f"{PKG}.session": "session",
    f"{PKG}.catalogs": "catalogs",
    f"{PKG}.sources.catalog": "catalog",
    f"{PKG}.sources.table": "table",
    f"{PKG}.sources.stats_scan": "stats_scan",
    f"{PKG}.operators.upsert": "upsert",
    f"{PKG}.operators.compaction": "compaction",
    f"{PKG}.operators.dedup": "dedup",
    f"{PKG}.operators.similarity": "similarity",
}


def _original(module: str, qualname: str):
    """Unpickling target for a ``_Traced`` proxy: Python workers get the
    plain function (their modules are never instrumented)."""
    import importlib

    return getattr(importlib.import_module(module), qualname)


class _Traced:
    def __init__(self, tracer: "Tracer", name: str, fn) -> None:
        self.tracer = tracer
        self.name = name
        self.fn = fn
        self.__wrapped__ = fn
        self.__doc__ = fn.__doc__
        self.__name__ = fn.__name__

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.name):
            return self.fn(*args, **kwargs)

    def __reduce__(self):
        return (_original, (self.fn.__module__, self.fn.__qualname__))


class Tracer:
    """Span recorder; a disabled tracer records nothing and costs one
    attribute test per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self._stack: list[int] = []
        self.op_id: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    # -- instrumentation -------------------------------------------------
    def instrument(self) -> None:
        if not self.enabled:
            return
        proxies = {}
        for mod_name, layer in LAYER_MODULES.items():
            mod = sys.modules[mod_name]
            for name, fn in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod_name
                ):
                    proxies[id(fn)] = (fn, _Traced(self, f"{layer}.{name}", fn))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                hit = proxies.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))

    def uninstrument(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    # -- analysis ----------------------------------------------------------
    def self_times(self, first: int = 0) -> dict[str, float]:
        """Total self seconds per span name over spans[first:]."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans[first:]:
            if parent is not None and end is not None:
                child[parent] += end - start
        out: dict[str, float] = {}
        for i in range(first, len(self.spans)):
            name, start, end, _, _ = self.spans[i]
            if end is not None:
                out[name] = out.get(name, 0.0) + (end - start) - child[i]
        return out

    def durations(self, name: str, first: int = 0) -> list[float]:
        return [
            end - start
            for n, start, end, _, _ in self.spans[first:]
            if n == name and end is not None
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, start, end, parent, op in self.spans:
                fh.write(
                    json.dumps(
                        {"name": name, "start": start, "end": end, "parent": parent, "op": op}
                    )
                    + "\n"
                )


class SparkCounters:
    """Jobs, tasks and executed-plan scan metrics per op, read from Spark's
    status APIs. One job group per op; plan metrics are read after the
    window, once the listener bus has drained."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.groups: dict[int, str] = {}

    def begin(self, op_id: int) -> None:
        group = f"perfbench-op-{op_id}"
        self.groups[op_id] = group
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs_and_tasks(self, op_id: int) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self.groups[op_id])
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return len(jobs), tasks

    def scan_metrics(self, job_to_op: dict[int, int]) -> dict[int, dict[str, int]]:
        """op id -> {"rows": storage rows scanned, "files": parquet files
        read}, from every SQL execution whose jobs belong to the op."""
        from py4j.protocol import Py4JError

        jss = self.spark._jsparkSession
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # a JVM-internal method; fall back to a pause
            time.sleep(1.0)
        store = jss.sharedState().statusStore()
        execs = store.executionsList()
        out: dict[int, dict[str, int]] = {}
        for i in range(execs.size()):
            ex = execs.apply(i)
            job_ids = [int(j) for j in _scala_keys(ex.jobs())]
            ops = {job_to_op[j] for j in job_ids if j in job_to_op}
            if len(ops) != 1:
                continue
            acc = out.setdefault(ops.pop(), {"rows": 0, "files": 0})
            eid = ex.executionId()
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name()
                if not (name.startswith("Scan parquet") or name.startswith("BatchScan")):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    key = {"number of output rows": "rows", "number of files read": "files"}.get(
                        metric.name()
                    )
                    if key is None:
                        continue
                    raw = values.get(metric.accumulatorId())
                    if raw.isDefined():
                        acc[key] += _parse_count(raw.get())
        return out


def _scala_keys(scala_map) -> list:
    it = scala_map.keys().iterator()
    keys = []
    while it.hasNext():
        keys.append(it.next())
    return keys


def _parse_count(text: str) -> int:
    digits = str(text).split("\n")[-1].split(" ")[0].replace(",", "")
    try:
        return int(float(digits))
    except ValueError:
        return 0
