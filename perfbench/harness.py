"""Shared machinery: pinned Spark environment, the closed-loop op runner,
summary statistics, process-tree memory and orderly shutdown."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import tempfile
import time
from dataclasses import dataclass, field

from spans import SparkCounters, Tracer

DRIVER_MEMORY = "2g"


def task_slots() -> int:
    """At most the host's cores, and never more than 4 slots."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def pin_environment(root: str, bench: str, work: str) -> dict[str, str]:
    """Set the process environment the JVM and Python workers inherit and
    return the Spark conf passed through ``get_spark(extra_conf=...)``.
    Must run before the first SparkSession starts."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        {
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(task_slots()),
            # Python workers import the package (hbasekv reads, UDFs) and
            # unpickle traced proxies from the benchmark's own modules
            "PYTHONPATH": os.pathsep.join([root, bench] + ([path] if path else [])),
            "TMPDIR": tmp,
            # the DuckDB comparator reads this at import: exact floats
            "STRICT_FLOATS": "1",
        }
    )
    os.environ.pop("FLOAT_REL_TOL", None)
    tempfile.tempdir = tmp  # Python caches TMPDIR on first use
    return {
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size young generation: peak RSS then tracks what the
        # program retains, not when the collector chose to grow the heap.
        # C1 only: a run's JVM lives under a minute, and C2 recompiling hot
        # code mid-window competed with the task threads for the 4 cores
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC"
            " -Xmn384m -XX:-UseAdaptiveSizePolicy -XX:TieredStopAtLevel=1"
        ),
    }


@dataclass
class OpRecord:
    op_id: int
    kind: str
    latency: float
    ok: bool
    rows: int = 0
    result: object = None
    error: str = ""
    op: object = None


@dataclass
class Window:
    records: list[OpRecord] = field(default_factory=list)
    pass_walls: list[float] = field(default_factory=list)
    pass_rows: list[int] = field(default_factory=list)
    elapsed: float = 0.0
    first_span: int = 0


def run_window(wl, spark, tracer: Tracer, counters: SparkCounters | None, passes: int, op_base: int = 0) -> Window:
    """Closed loop, one client: the next op starts when the previous one
    returns. The window is a fixed op sequence, ``passes`` passes of
    ``wl.pass_ops``, so every run measures the same amount of work."""
    win = Window(first_span=len(tracer.spans))
    t_start = time.perf_counter()
    op_id = op_base
    for pass_idx in range(passes):
        p0, first = time.perf_counter(), len(win.records)
        for op in wl.pass_ops(pass_idx):
            tracer.op_id = op_id
            if counters:
                counters.begin(op_id)
            t0 = time.perf_counter()
            try:
                with tracer.span(f"op.{op.kind}"):
                    result, rows = wl.run_op(spark, tracer, op)
                rec = OpRecord(op_id, op.kind, time.perf_counter() - t0, True, rows, result, op=op)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, never dropped
                rec = OpRecord(op_id, op.kind, time.perf_counter() - t0, False, error=_short(exc), op=op)
            finally:
                if counters:
                    counters.end()
                tracer.op_id = None
            win.records.append(rec)
            op_id += 1
        win.pass_walls.append(time.perf_counter() - p0)
        win.pass_rows.append(sum(wl.throughput_rows(r) for r in win.records[first:]))
    win.elapsed = time.perf_counter() - t_start
    return win


def _short(exc: BaseException) -> str:
    text = f"{type(exc).__name__}: {exc}"
    return " ".join(text.split())[:300]


def percentile(values: list[float], q: int) -> float:
    """Percentile q (1..99) of a non-empty list, interpolated between
    ranks, so a small sample does not jump between op kinds."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- process tree --------------------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and every
    live descendant: the client, the JVM and its Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def start_spark(conf: dict[str, str]):
    from spark_hbase_connector_spark.session import get_spark
    from spark_hbase_connector_spark.sources.python_datasource import register_hbasekv

    spark = get_spark("perfbench", cpus=task_slots(), extra_conf=conf)
    register_hbasekv(spark)
    return spark


def shutdown_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    procs = descendants()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if jvm is not None:
            if jvm.stdin:
                jvm.stdin.close()  # the gateway server exits on stdin EOF
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def dir_bytes(path: str) -> dict[str, int]:
    """name -> size of the data files (``*.parquet``) under ``path``."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out
