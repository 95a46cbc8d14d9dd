"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed`` under
a uuid-named directory in ``.perfbench_work/`` and removed at the end. The
last line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` the
end-to-end metrics of an untraced window, with ``--trace 1`` the per-layer
metrics of a traced window (preceded by an untraced window of equal length,
which gives the per-op-type latencies and the tracing overhead). The line
before it records the seed, the op-stream digest and the sample counts.

Exits 2 without a result when the engine package is not beside
``perfbench/``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shutil
import sys
import time
import uuid

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PKG = "spark_hbase_connector_spark"
WORKLOADS = ("kv_point", "kv_ingest", "corpus_dedup_search")

# input sizes: KV tables at sf0.1 (orders 150k rows, customer 15k); the
# corpus at 300 documents and 300 embeddings
KV_SF = 0.1
CORPUS_DOCS, CORPUS_VECS = 300, 300

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
# per-layer self time per op: metric -> span name
SELF_MS = {
    "catalog.parse_catalog_ms": "catalog.parse_catalog",
    "table.load_table_ms": "table.load_table",
    "table.exec_ms": "table.exec",
    "table.write_table_ms": "table.write_table",
    "hbasekv.read_ms": "hbasekv.read",
    "hbasekv.append_ms": "hbasekv.append",
    "stats_scan.head_by_rowkey_ms": "stats_scan.head_by_rowkey",
    "upsert.overlay_cells_ms": "upsert.overlay_cells",
    "compaction.compact_flush_files_ms": "compaction.compact_flush_files",
}
OP_TYPES = {
    "get_p50_ms": ("get", "hget", "mget", "rget"),
    "scan_p50_ms": ("scan", "head"),
    "put_p50_ms": ("put",),
}


def layer_units() -> dict[str, str]:
    from corpuswork import CORPUS_ENTRIES

    units = {"session.get_spark_ms": "ms"}
    units.update({m: "ms" for m in SELF_MS})
    units.update(
        {
            "dedup.self_ms": "ms",
            "similarity.self_ms": "ms",
            "table.files_read_per_op": "count",
            "table.rows_scanned_per_row_returned": "ratio",
            "spark.jobs_per_op": "count",
            "spark.tasks_per_op": "count",
            "hbasekv.partitions_planned_frac": "frac",
            "hbasekv.oob_miss_failed_frac": "frac",
            "stats_scan.files_selected_frac": "frac",
            "compaction.files_before": "count",
            "compaction.files_after": "count",
            "compaction.bytes_rewritten": "B",
            "dedup.verified_per_candidate": "frac",
        }
    )
    units.update({f"query.{e}_ms": "ms" for e in CORPUS_ENTRIES})
    units.update({m: "ms" for m in OP_TYPES})
    units.update({"op_p50_ms": "ms", "op_p90_ms": "ms"})
    units.update(
        {
            "failed_frac": "frac",
            "bytes_written_per_user_byte": "ratio",
            "bytes_stored_per_user_byte": "ratio",
            "trace.overhead_frac": "frac",
        }
    )
    return units


def make_workload(name: str, work: str):
    from corpuswork import CorpusWorkload
    from kvwork import KVIngestWorkload, KVPointWorkload

    data = os.path.join(work, "data")
    tables = os.path.join(work, "tables")
    if name == "kv_point":
        return KVPointWorkload(data, tables, KV_SF)
    if name == "kv_ingest":
        return KVIngestWorkload(data, tables, KV_SF)
    return CorpusWorkload(data, CORPUS_DOCS, CORPUS_VECS)


def e2e_metrics(wl, win, setup_times, rss) -> dict[str, float]:
    from harness import median

    # per-pass figures, then the median pass: one pass slowed by the host
    # does not move the result
    per_pass = len(win.records) / len(win.pass_walls)
    return {
        "setup_s": median(setup_times),
        "wall_s": median(win.pass_walls),
        "ops_per_s": median([per_pass / w for w in win.pass_walls]),
        "rows_per_s": median([n / w for n, w in zip(win.pass_rows, win.pass_walls)]),
        "peak_rss_mb": rss,
    }


def per_layer_metrics(wl, spark, tracer, counters, win_u, win_t) -> dict[str, float]:
    from harness import median, percentile

    recs = win_t.records
    n = len(recs)
    st = tracer.self_times(win_t.first_span)
    # set-up spans precede both windows: one get_spark per set-up repetition
    m = {"session.get_spark_ms": median([d * 1000 for d in tracer.durations("session.get_spark")])}
    for metric, span in SELF_MS.items():
        m[metric] = st.get(span, 0.0) * 1000 / n
    for layer in ("dedup", "similarity"):
        m[f"{layer}.self_ms"] = sum(v for k, v in st.items() if k.startswith(layer + ".")) * 1000 / n
    for metric in layer_units():
        if metric.startswith("query."):
            ds = tracer.durations(metric[: -len("_ms")], win_t.first_span)
            m[metric] = median(ds) * 1000
    jobs = tasks = 0
    job_to_op = {}
    tracker = spark.sparkContext.statusTracker()
    for r in recs:
        j, t = counters.jobs_and_tasks(r.op_id)
        jobs += j
        tasks += t
        for jid in tracker.getJobIdsForGroup(counters.groups[r.op_id]):
            job_to_op[jid] = r.op_id
    scans = counters.scan_metrics(job_to_op)
    returned = sum(r.rows for r in recs)
    m["spark.jobs_per_op"] = jobs / n
    m["spark.tasks_per_op"] = tasks / n
    m["table.files_read_per_op"] = sum(s["files"] for s in scans.values()) / n
    m["table.rows_scanned_per_row_returned"] = (
        sum(s["rows"] for s in scans.values()) / returned if returned else 0.0
    )
    for metric, kinds in OP_TYPES.items():
        lat = [r.latency * 1000 for r in win_u.records if r.kind in kinds]
        m[metric] = percentile(lat, 50) if lat else 0.0
    both = win_u.records + recs
    # op latency percentiles over both windows, reported without a bound:
    # across runs they spread twice as wide as the pass wall time
    lat = [r.latency * 1000 for r in both]
    m["op_p50_ms"] = percentile(lat, 50)
    m["op_p90_ms"] = percentile(lat, 90)
    m["failed_frac"] = sum(not r.ok for r in both) / len(both)
    mean = lambda rs: sum(r.latency for r in rs) / len(rs)  # noqa: E731
    m["trace.overhead_frac"] = mean(recs) / mean(win_u.records) - 1.0
    byte_metrics = getattr(wl, "byte_metrics", None)
    if byte_metrics:
        m.update(byte_metrics())
    tracer.enabled = False
    m.update(wl.layer_metrics(spark, recs))
    return {k: m.get(k, 0.0) for k in layer_units()}


def op_stream_digest(work: str, records) -> str:
    """Fingerprint of the generated inputs and the ops actually issued."""
    h = hashlib.sha1()
    data = os.path.join(work, "data")
    for f in sorted(os.listdir(data)):
        with open(os.path.join(data, f), "rb") as fh:
            h.update(fh.read())
    for r in records:
        h.update(repr(r.op).encode())
    return h.hexdigest()[:16]


def run(args, work: str) -> tuple[dict, dict]:
    import harness
    from spans import LAYER_MODULES, SparkCounters, Tracer

    conf = harness.pin_environment(ROOT, BENCH, work)
    for mod in list(LAYER_MODULES) + [f"{PKG}.queries", f"{PKG}.oracle"]:
        importlib.import_module(mod)
    wl = make_workload(args.workload, work)
    wl.generate(args.seed)
    tracer = Tracer(enabled=bool(args.trace))
    tracer.instrument()
    spark = None
    setup_times = []
    phases = {}
    try:
        # set-up, repeated: the first includes the JVM launch, the median
        # is a warm session start plus the fixture layout. Stopping the
        # previous session is not part of a set-up and is not timed
        for _ in range(wl.SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = harness.start_spark(conf)
            wl.layout(spark)
            setup_times.append(time.perf_counter() - t0)
        # a cold-window workload times the session's first run of its ops;
        # the traced run warms up anyway, so its two windows compare alike
        t0 = time.perf_counter()
        if args.trace or not wl.COLD_WINDOW:
            wl.warm_up(spark, tracer)
        phases["warm_s"] = time.perf_counter() - t0
        # the window's length in passes: about --seconds on the reference
        # host (4 cores), fixed per workload so every run does equal work
        passes = max(1, round(args.seconds / wl.PASS_SECONDS))
        if args.trace:
            half = max(1, passes // 2)
            tracer.enabled = False
            win_u = harness.run_window(wl, spark, tracer, None, half)
            tracer.enabled = True
            counters = SparkCounters(spark)
            win = harness.run_window(wl, spark, tracer, counters, half, op_base=len(win_u.records))
            records = win_u.records + win.records
        else:
            win = harness.run_window(wl, spark, tracer, None, passes)
            records = win.records
        rss = harness.peak_rss_mb()
        t0 = time.perf_counter()
        errors = wl.check(records)
        phases["check_s"] = time.perf_counter() - t0
        if args.trace:
            metrics = per_layer_metrics(wl, spark, tracer, counters, win_u, win)
            units = layer_units()
            tracer.dump(
                os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl")
            )
        else:
            metrics = e2e_metrics(wl, win, setup_times, rss)
            units = E2E_UNITS
    finally:
        tracer.uninstrument()
        if spark is not None:
            harness.shutdown_spark(spark)
    for e in errors[:10]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    failed = sum(not r.ok for r in records)
    result = {
        "correct": not errors,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "op_stream_digest": op_stream_digest(work, records),
        "ops": len(records),
        "passes": passes,
        "window_s": win.elapsed,
        "pass_walls_s": win.pass_walls,
        "setup_times_s": setup_times,
        "phases_s": phases,
        "errors": [r.error for r in records if r.error][:3],
    }
    return result, info


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG!r} not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH]
    work = os.path.join(ROOT, ".perfbench_work", f"run-{uuid.uuid4().hex}")
    os.makedirs(work)
    try:
        result, info = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
