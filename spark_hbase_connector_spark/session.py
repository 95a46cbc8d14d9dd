"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the conf below is chosen so the same
logical plans survive a 1000-executor / 100 TB deployment:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast) — the single most important knob at scale;
- shuffle partitions sized to the local core count (on a real cluster this
  is overridden by AQE's coalescing from a high initial number);
- session timezone pinned to UTC so results are reproducible and comparable
  against the DuckDB oracle (DuckDB timestamps are UTC-naive);
- Arrow enabled for every pandas interchange (vectorized UDF path);
- a driver heap of 48g or three quarters of the host's memory, whichever
  is smaller (``SPARK_DRIVER_MEMORY`` overrides it);
- the package importable by Python workers: its parent directory is put
  on ``PYTHONPATH`` before the JVM, which the workers inherit, starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, phys_mb * 3 // 4)}m"


def get_spark(
    app_name: str = "spark_hbase_connector_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    path = os.environ.get("PYTHONPATH", "")
    if _PACKAGE_PARENT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (_PACKAGE_PARENT, path) if p
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # decouple the shuffle width from the core count: big shuffles start
        # wide (bounded per-task sort/spill at 100x data) and AQE coalesces
        # small ones back down to ~advisory size, so tiny-SF plans are
        # unchanged. Found at sf100: 600M-row sort-merge joins pinned to 32
        # partitions (~19M rows/task) spill-thrashed q3/q5 56x/18x per decade.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(cpus * 8, 256)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce INSIDE cached plans: without this a persisted
        # relation materializes at initialPartitionNum (256+) partitions
        # however small it is, and every consumer stage pays hundreds of
        # micro-tasks (graph_triangle_count's 3,445-row edge cache cost
        # 3.1 s to count; the whole census ran 11 s -> ~5 s with this on)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        # TypedImperative aggregates (HLL/theta/bitmap sketches) run through
        # ObjectHashAggregateExec, which silently FALLS BACK to sort-based
        # aggregation after 128 distinct keys per task — at sf100 the per-day
        # HLL build (150 groups > 128) degenerated into a full sort of 100M
        # rows per task (hll_sketch_union_qa 22.5x per decade; 37 s -> 23 s
        # with the raised cap). Sketch buffers are ~KBs, so 4096 in-memory
        # groups per task is a few MB — never a memory risk.
        .config(
            "spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold",
            "4096",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet stores ns-precision timestamps; read the raw
        # int64 and convert with `timestamp_micros(ts div 1000)` (floor), which
        # matches DuckDB's ns->us conversion exactly (verified empirically)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
