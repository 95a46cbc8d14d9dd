"""The KV table commit protocol (``sources/layout.commit``) that every
writer publishes through: crash injection at every rename and delete
inside one commit, concurrent commits, and a model-based test of the KV
read and write path against a plain dict."""

from __future__ import annotations

import json
import os
import sys
import threading

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, Phase, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)
from pyspark.sql import functions as F

import spark_hbase_connector_spark
from spark_hbase_connector_spark.operators import compaction
from spark_hbase_connector_spark.operators.compaction import compact_flush_files
from spark_hbase_connector_spark.sources.catalog import parse_catalog
from spark_hbase_connector_spark.sources.layout import data_files
from spark_hbase_connector_spark.sources.python_datasource import (
    HbaseKVBatchWriter,
    register_hbasekv,
)
from spark_hbase_connector_spark.sources.stats_scan import head_by_rowkey
from spark_hbase_connector_spark.sources.table import load_table, write_table

CATALOG = {
    "table": "t:commit",
    "rowkey": "k",
    "columns": {
        "k": {"cf": "rowkey", "col": "k", "type": "long"},
        "v": {"cf": "d", "col": "v", "type": "long"},
    },
}
CAT = parse_catalog(CATALOG)
NAMING = "cf:col"
PACKAGE_DIR = os.path.dirname(spark_hbase_connector_spark.__file__)


def _hbasekv(spark, path):
    register_hbasekv(spark)
    return (
        spark.read.format("hbasekv")
        .option("catalog", json.dumps(CATALOG))
        .option("path", path)
        .option("physical_naming", NAMING)
        .load()
    )


def _table(spark, path):
    return load_table(spark, CATALOG, path, physical_naming=NAMING)


def _rows(df) -> list[tuple]:
    return sorted((r.k, r.v) for r in df.collect())


def _put(path, rows, overwrite=False):
    """One hbasekv batch write run in this process: stage, then commit."""
    w = HbaseKVBatchWriter(
        catalog=CAT,
        schema=CAT.to_struct_type(),
        path=path,
        physical_naming=NAMING,
        overwrite=overwrite,
    )
    batch = pa.RecordBatch.from_pylist(
        [{"k": k, "v": v} for k, v in rows],
        schema=pa.schema([("k", pa.int64()), ("v", pa.int64())]),
    )
    msg = w.write(iter([batch]))
    try:
        w.commit([msg])
    except BaseException:
        w.abort([msg])
        raise


def _listing_is_manifest(path) -> bool:
    on_disk = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    return on_disk == data_files(path)


class _CrashAt:
    """Make the k-th ``os.replace``/``os.remove`` called from package code
    raise, as if the process died there."""

    def __init__(self, k: int) -> None:
        self.k = k
        self.calls = 0

    def wrap(self, fn):
        def call(*args, **kwargs):
            if sys._getframe(1).f_code.co_filename.startswith(PACKAGE_DIR):
                self.calls += 1
                if self.calls == self.k:
                    raise OSError(f"injected crash at call {self.k}")
            return fn(*args, **kwargs)

        return call


A = [(1, 10), (2, 20)]
B = [(3, 30), (4, 40)]
C = [(2, 21), (9, 90)]
NEXT = [(50, 500)]


def _setup_files(spark, path):
    # a directory that has never been committed to: no manifest yet
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i, rows in enumerate((A, B)):
        pq.write_table(
            pa.table({"k": [k for k, _ in rows], "d:v": [v for _, v in rows]}),
            os.path.join(path, f"{i:05d}.parquet"),
        )


def _setup_puts(spark, path):
    for rows in (A, B, C):
        _put(path, rows)


def _setup_table(spark, path):
    df = spark.createDataFrame(A + B, "k long, v long")
    write_table(df, CATALOG, path, num_partitions=2)


CASES = {
    # name: (set-up, the write, rows before, rows after)
    "hbasekv_overwrite": (_setup_files, lambda spark, p: _put(p, C, overwrite=True), A + B, C),
    "hbasekv_append": (_setup_puts, lambda spark, p: _put(p, NEXT), A + B + C, A + B + C + NEXT),
    "compaction": (
        _setup_puts,
        lambda spark, p: compact_flush_files(spark, p, target_bytes=1 << 20),
        A + B + C,
        A + B + C,
    ),
    "rewrite": (
        _setup_table,
        lambda spark, p: write_table(_table(spark, p), CATALOG, p, num_partitions=1),
        A + B,
        A + B,
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_crash_inside_commit_keeps_old_or_new_table(spark, tmp_path, monkeypatch, case):
    """For every k, the k-th rename or delete of the write raises. Both
    readers then return exactly the rows before or exactly the rows after
    (none lost, none duplicated), and the next write succeeds and leaves
    the directory listing equal to the manifest."""
    setup, write, old, new = CASES[case]
    old, new = sorted(old), sorted(new)
    k = 0
    while True:
        k += 1
        path = str(tmp_path / f"crash{k}")
        setup(spark, path)
        crash = _CrashAt(k)
        with monkeypatch.context() as m:
            m.setattr(os, "replace", crash.wrap(os.replace))
            m.setattr(os, "remove", crash.wrap(os.remove))
            try:
                write(spark, path)
                crashed = False
            except OSError:
                crashed = True
        got = _rows(_table(spark, path))
        assert got in (old, new), f"crash at call {k}: {got}"
        assert _rows(_hbasekv(spark, path)) == got, f"crash at call {k}"
        if not crashed:
            assert got == new
            break
        _put(path, NEXT)
        assert _rows(_table(spark, path)) == sorted(got + NEXT)
        assert _listing_is_manifest(path)
    assert k > 2, "the write made too few renames/deletes to test"


def test_failed_rewrite_job_keeps_old_table(spark, tmp_path):
    """The Spark job of an in-place rewrite fails: the table is unchanged,
    nothing staged is left behind, and the next rewrite succeeds."""
    path = str(tmp_path / "poison")
    _setup_table(spark, path)
    poisoned = _table(spark, path).withColumn(
        "v", F.when(F.col("k") == 4, F.raise_error(F.lit("injected"))).otherwise(F.col("v"))
    )
    with pytest.raises(Exception, match="injected"):
        write_table(poisoned, CATALOG, path, num_partitions=1)
    assert _rows(_table(spark, path)) == sorted(A + B)
    assert _rows(_hbasekv(spark, path)) == sorted(A + B)
    assert not [f for _, _, fs in os.walk(os.path.join(path, ".staging")) for f in fs]
    write_table(_table(spark, path), CATALOG, path, num_partitions=1)
    assert _rows(_table(spark, path)) == sorted(A + B)
    assert len(data_files(path)) == 1 and _listing_is_manifest(path)


def test_concurrent_appends_are_all_listed(spark, tmp_path):
    """Two threads each commit 25 single-file appends to one table; the
    directory lock serializes the manifest updates, so none is lost."""
    path = str(tmp_path / "conc")
    start = threading.Barrier(2)
    errors = []

    def appender(t):
        try:
            start.wait()
            for i in range(25):
                _put(path, [(t * 100 + i, i)])
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(t,)) for t in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    assert len(data_files(path)) == 50
    assert _listing_is_manifest(path)
    assert _rows(_table(spark, path)) == sorted((t * 100 + i, i) for t in range(2) for i in range(25))


def test_compaction_after_concurrent_overwrite_raises(spark, tmp_path, monkeypatch):
    """An overwrite commits between compaction's plan and its commit: the
    compaction's inputs are gone, so its commit raises, the overwrite's
    rows stay exactly as written and no merged file is left behind."""
    path = str(tmp_path / "race")
    for rows in (A, B, C):
        _put(path, rows)
    real_commit = compaction.commit

    def overwrite_first(*args, **kwargs):
        _put(path, NEXT, overwrite=True)
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(compaction, "commit", overwrite_first)
    with pytest.raises(RuntimeError, match="stale commit"):
        compact_flush_files(spark, path, target_bytes=1 << 20)
    assert _rows(_table(spark, path)) == NEXT
    assert _rows(_hbasekv(spark, path)) == NEXT
    leftover = [f for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    assert leftover == [os.path.basename(f) for f in data_files(path)]
    assert len(leftover) == 1 and leftover[0].startswith("batch-")


# -- model-based test -------------------------------------------------------

KEYS = st.integers(0, 30)
ANY_KEY = st.integers(-5, 40)  # includes keys outside every file's range
ROWS = st.lists(st.tuples(KEYS, st.integers(-1000, 1000)), max_size=8)


class KVTableMachine(RuleBasedStateMachine):
    """Random sequences of hbasekv appends and overwrites, minor
    compactions and in-place rewrites, checked after every get,
    multi-get, range scan and head against ``model`` (rowkey -> values).
    A table may hold several rows per rowkey: hbasekv appends do not
    upsert."""

    spark = None
    root = None
    n = 0

    @initialize(rows=ROWS)
    def new_table(self, rows):
        KVTableMachine.n += 1
        self.path = os.path.join(self.root, f"t{KVTableMachine.n}")
        self.model: dict[int, list[int]] = {}
        self._save(rows, "overwrite")

    def _save(self, rows, mode):
        register_hbasekv(self.spark)
        df = self.spark.createDataFrame(rows, "k long, v long").coalesce(1)
        (
            df.write.format("hbasekv")
            .option("catalog", json.dumps(CATALOG))
            .option("path", self.path)
            .option("physical_naming", NAMING)
            .mode(mode)
            .save()
        )
        if mode == "overwrite":
            self.model = {}
        for k, v in rows:
            self.model.setdefault(k, []).append(v)

    def _expect(self, keep) -> list[tuple]:
        return sorted((k, v) for k, vs in self.model.items() if keep(k) for v in vs)

    def _check(self, cond, keep):
        want = self._expect(keep)
        assert _rows(_table(self.spark, self.path).where(cond)) == want
        assert _rows(_hbasekv(self.spark, self.path).where(cond)) == want

    @rule(rows=ROWS.filter(bool))
    def append(self, rows):
        self._save(rows, "append")

    @rule(rows=ROWS)
    def overwrite(self, rows):
        self._save(rows, "overwrite")

    @precondition(lambda self: len(data_files(self.path)) > 1)
    @rule()
    def compact(self):
        compact_flush_files(self.spark, self.path, target_bytes=1 << 20)
        assert len(data_files(self.path)) <= 1

    @rule(n=st.integers(1, 3))
    def rewrite(self, n):
        write_table(_table(self.spark, self.path), CATALOG, self.path, num_partitions=n)

    @rule(k=ANY_KEY)
    def get(self, k):
        self._check(F.col("k") == k, lambda x: x == k)

    @rule(keys=st.lists(ANY_KEY, min_size=1, max_size=4))
    def multi_get(self, keys):
        self._check(F.col("k").isin(keys), lambda x: x in keys)

    @rule(lo=ANY_KEY, width=st.integers(0, 12))
    def range_scan(self, lo, width):
        self._check(F.col("k").between(lo, lo + width), lambda x: lo <= x <= lo + width)

    @rule(n=st.integers(1, 10))
    def head(self, n):
        got = _rows(head_by_rowkey(self.spark, self.path, CATALOG, n).df)
        want = self._expect(lambda x: True)
        # ties on the last rowkey may return any of its values
        assert [k for k, _ in got] == [k for k, _ in want[:n]]
        assert all(v in self.model[k] for k, v in got)

    @invariant()
    def listing_is_manifest(self):
        assert _listing_is_manifest(self.path)


def test_kv_table_matches_dict_model(spark, tmp_path):
    KVTableMachine.spark = spark
    KVTableMachine.root = str(tmp_path)
    run_state_machine_as_test(
        KVTableMachine,
        settings=settings(
            max_examples=6,
            stateful_step_count=10,
            deadline=None,
            derandomize=True,
            database=None,
            # every step runs Spark jobs: report a failing sequence as found
            phases=[Phase.generate],
            suppress_health_check=list(HealthCheck),
        ),
    )
