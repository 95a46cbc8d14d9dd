"""Key-value workloads over catalog-described, rowkey-sorted tables.

``kv_point``: one closed-loop client issues a seeded, Zipf-skewed stream of
point gets (through ``load_table``; a fixed share through
``spark.read.format("hbasekv")``), 10-key multi-gets, short rowkey range
scans and ``stats_scan.head_by_rowkey`` over ``orders`` and ``customer``,
laid out by ``write_table`` as multi-file tables. About a tenth of the
rowkeys are absent, so gets include in-range misses.

``kv_ingest``: one closed-loop client appends seeded put batches (half
updates of existing rowkeys, half new rowkeys) through the ``hbasekv``
batch writer into a flush-file directory, reads each batch back
(read-your-write, newest version by ``seq``), runs
``compaction.compact_flush_files`` after every few batches and, once per
pass, folds the flush files into the base table with
``upsert.overlay_cells`` + ``write_table``.

Expected results come from the generated inputs plus the put history,
never from the engine.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from harness import dir_bytes


def _catalog(table: str, rowkey: str, cols: dict[str, str]) -> dict:
    columns = {rowkey: {"cf": "rowkey", "col": rowkey, "type": cols[rowkey]}}
    for c, t in cols.items():
        if c != rowkey:
            columns[c] = {"cf": "d", "col": c, "type": t}
    return {"table": f"kv:{table}", "rowkey": rowkey, "columns": columns}


ORDERS = _catalog(
    "orders",
    "o_orderkey",
    {
        "o_orderkey": "long",
        "o_custkey": "long",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderpriority": "string",
    },
)
CUSTOMER = _catalog(
    "customer",
    "c_custkey",
    {
        "c_custkey": "long",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
)
ACCOUNTS = _catalog(
    "accounts",
    "c_custkey",
    {
        "c_custkey": "long",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
        "seq": "long",
    },
)

# Assumed, not measured: no public trace gives these (see perfbench/README.md)
HOLE_FRAC = 0.1  # share of rowkeys removed so gets include in-range misses
OOB_KEY = 10**9  # beyond every file's rowkey range
OOB_PROBES = 4


@dataclass
class Op:
    kind: str
    table: str = ""
    keys: list = field(default_factory=list)
    n: int = 0
    batch: int = 0


ZIPF_S = 0.99  # the YCSB core workloads' Zipfian constant


def _zipf_sampler(rng: np.random.Generator, n: int, s: float = ZIPF_S):
    """Draw ranks 0..n-1 with P(r) ~ 1/(r+1)^s, mapped through a seeded
    permutation so hot keys are spread over the key space (as YCSB's
    scrambled Zipfian generator does)."""
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    cdf /= cdf[-1]
    perm = rng.permutation(n)
    return lambda size: perm[np.minimum(np.searchsorted(cdf, rng.random(size)), n - 1)]


def _rows(table: pd.DataFrame, cat: dict) -> list[tuple]:
    cols = list(cat["columns"])
    return [tuple(_py(v) for v in r) for r in table[cols].itertuples(index=False, name=None)]


def _py(v):
    return v.item() if isinstance(v, np.generic) else v


def _result_rows(rows, cat: dict) -> list[tuple]:
    cols = list(cat["columns"])
    return sorted(tuple(r[c] for c in cols) for r in rows)


class KVPointWorkload:
    name = "kv_point"
    PASS_SECONDS = 3.0  # one pass on a 4-core host
    SETUP_REPS = 3  # a set-up takes about 2 s
    COLD_WINDOW = False
    # the ops of one pass as (kind, table); the order and the keys are seeded.
    # Fixed, so every run weighs the kinds alike: 7 fast ops, then hget, then
    # the two heads, the slowest kind
    PASS = [
        ("get", "orders"),
        ("get", "orders"),
        ("get", "customer"),
        ("mget", "orders"),
        ("mget", "customer"),
        ("scan", "orders"),
        ("scan", "customer"),
        ("hget", "orders"),
        ("head", "orders"),
        ("head", "orders"),
    ]

    def __init__(self, data_dir: str, table_dir: str, sf: float) -> None:
        self.data_dir = data_dir
        self.table_dir = table_dir
        self.sf = sf
        self.cats = {"orders": ORDERS, "customer": CUSTOMER}
        self.truth: dict[str, pd.DataFrame] = {}
        self.user_bytes = 0
        self.stored_bytes = 0

    def path(self, table: str) -> str:
        return os.path.join(self.table_dir, table)

    def generate(self, seed: int) -> None:
        rng = np.random.default_rng([seed, 200])
        tables = datagen.relational_tables(seed, self.sf, tuple(self.cats))
        os.makedirs(self.data_dir, exist_ok=True)
        self.samplers = {}
        for t, cat in self.cats.items():
            pdf = tables[t][list(cat["columns"])]
            pdf = pdf[rng.random(len(pdf)) >= HOLE_FRAC].reset_index(drop=True)
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(self.data_dir, f"{t}.parquet"),
            )
            rk = cat["rowkey"]
            self.truth[t] = pdf.set_index(rk, drop=False).sort_index()
            self.user_bytes += pa.Table.from_pandas(pdf, preserve_index=False).nbytes
            # sample over the full dense key range: holes become misses
            self.samplers[t] = _zipf_sampler(rng, int(tables[t][rk].max()) + 1)
        self.stream_rng = rng

    def _next_op(self, kind: str, table: str) -> Op:
        draw = self.samplers[table]
        if kind == "mget":
            return Op(kind, table, [int(k) for k in draw(10)])
        if kind == "head":
            return Op(kind, table, n=20)
        return Op(kind, table, [int(draw(1)[0])], n=64 if kind == "scan" else 0)

    def pass_ops(self, i: int) -> list[Op]:
        return [self._next_op(*self.PASS[j]) for j in self.stream_rng.permutation(len(self.PASS))]

    def layout(self, spark) -> None:
        from spark_hbase_connector_spark.sources.table import load_table, write_table

        for t, cat in self.cats.items():
            src = load_table(spark, cat, os.path.join(self.data_dir, f"{t}.parquet"))
            write_table(src, cat, self.path(t), num_partitions=16 if t == "orders" else 4)
        self.stored_bytes = sum(sum(dir_bytes(self.path(t)).values()) for t in self.cats)

    def warm_up(self, spark, tracer) -> None:
        """The op kinds that first start Python workers, outside the
        window; set-up has already run the JVM-side scan path."""
        key = int(self.truth["orders"].index[0])
        for kind in ("hget", "head", "get"):
            self.run_op(spark, tracer, Op(kind, "orders", [key], n=20))

    # -- ops -------------------------------------------------------------
    def _table(self, spark, t: str):
        from spark_hbase_connector_spark.sources.table import load_table

        return load_table(spark, self.cats[t], self.path(t), physical_naming="cf:col")

    def _options(self, t: str) -> dict[str, str]:
        return {"catalog": json.dumps(self.cats[t]), "path": self.path(t), "physical_naming": "cf:col"}

    def _hbasekv(self, spark, t: str):
        return spark.read.format("hbasekv").options(**self._options(t)).load()

    def run_op(self, spark, tracer, op: Op):
        from pyspark.sql import functions as F

        from spark_hbase_connector_spark.sources.stats_scan import head_by_rowkey

        cat = self.cats[op.table]
        rk = F.col(cat["rowkey"])
        if op.kind == "hget":
            with tracer.span("hbasekv.read"):
                rows = self._hbasekv(spark, op.table).where(rk == op.keys[0]).collect()
            return _result_rows(rows, cat), len(rows)
        if op.kind == "head":
            plan = head_by_rowkey(spark, self.path(op.table), cat, op.n)
            with tracer.span("table.exec"):
                rows = plan.df.collect()
            frac = len(plan.files_selected) / plan.files_total
            return (_result_rows(rows, cat), frac), len(rows)
        df = self._table(spark, op.table)
        if op.kind == "get":
            df = df.where(rk == op.keys[0])
        elif op.kind == "mget":
            df = df.where(rk.isin(op.keys))
        else:  # scan
            df = df.where(rk.between(op.keys[0], op.keys[0] + op.n - 1))
        with tracer.span("table.exec"):
            rows = df.collect()
        return _result_rows(rows, cat), len(rows)

    def throughput_rows(self, rec) -> int:
        return rec.rows

    def expected(self, op: Op) -> list[tuple]:
        truth = self.truth[op.table]
        cat = self.cats[op.table]
        if op.kind in ("get", "hget", "mget"):
            hit = truth.loc[truth.index.intersection(op.keys)]
        elif op.kind == "scan":
            hit = truth.loc[op.keys[0] : op.keys[0] + op.n - 1]
        else:
            hit = truth.iloc[: op.n]
        return sorted(_rows(hit, cat))

    def check(self, records) -> list[str]:
        errors = []
        for rec in records:
            if not rec.ok:
                continue
            got = rec.result[0] if rec.op.kind == "head" else rec.result
            if got != self.expected(rec.op):
                rec.ok = False
                errors.append(f"op {rec.op_id} {rec.op.kind} {rec.op.table} {rec.op.keys[:3]}: wrong rows")
        return errors

    # -- traced-run extras -------------------------------------------------
    def layer_metrics(self, spark, records) -> dict[str, float]:
        from pyspark.sql.datasource import EqualTo, IsNotNull

        from spark_hbase_connector_spark.sources.python_datasource import HbaseKVDataSource

        kept = total = 0
        heads = []
        for rec in records:
            if rec.op.kind == "hget":
                # the planning Spark runs for the op's get, replayed on the
                # driver (Spark plans a Python source in a worker process):
                # the source's reader, the filters Spark pushes for
                # `rowkey = k`, then partitions()
                source = HbaseKVDataSource(self._options(rec.op.table))
                reader = source.reader(source.schema())
                rk = (self.cats[rec.op.table]["rowkey"],)
                list(reader.pushFilters([IsNotNull(rk), EqualTo(rk, rec.op.keys[0])]))
                kept += len(reader.partitions())
                total += len(reader._data_files())
            elif rec.op.kind == "head" and rec.ok:
                heads.append(rec.result[1])
        # rowkeys outside every file's range: each probe is an hbasekv get
        # that must return no rows; errors are counted, never skipped
        failed = 0
        for i in range(OOB_PROBES):
            t = "orders" if i % 2 == 0 else "customer"
            rk = self.cats[t]["rowkey"]
            try:
                rows = self._hbasekv(spark, t).where(f"{rk} = {OOB_KEY + i}").collect()
                failed += bool(rows)
            except Exception:  # noqa: BLE001 - the probe's outcome is the metric
                failed += 1
        return {
            "hbasekv.partitions_planned_frac": kept / total if total else 0.0,
            "stats_scan.files_selected_frac": float(np.mean(heads)) if heads else 0.0,
            "hbasekv.oob_miss_failed_frac": failed / OOB_PROBES,
        }

    def byte_metrics(self) -> dict[str, float]:
        # no op writes, so bytes_written_per_user_byte does not apply (0):
        # the layout's written bytes are exactly the stored bytes
        return {"bytes_stored_per_user_byte": self.stored_bytes / self.user_bytes}


class KVIngestWorkload:
    name = "kv_ingest"
    PASS_SECONDS = 5.5  # one pass on a 4-core host
    SETUP_REPS = 4  # a set-up takes about 1 s
    COLD_WINDOW = False
    BATCH_ROWS = 200
    BATCHES_PER_COMPACTION = 4
    COMPACTIONS_PER_PASS = 1
    COMPACT_TARGET_BYTES = 1 << 20

    def __init__(self, data_dir: str, table_dir: str, sf: float) -> None:
        self.data_dir = data_dir
        self.base = os.path.join(table_dir, "base")
        self.delta = os.path.join(table_dir, "delta")
        self.sf = sf
        self.cat = ACCOUNTS
        self.rk = ACCOUNTS["rowkey"]
        self.cols = list(ACCOUNTS["columns"])
        self.user_bytes = 0
        self.bytes_written = 0
        self.compactions: list[dict] = []

    def generate(self, seed: int) -> None:
        rng = np.random.default_rng([seed, 300])
        cust = datagen.relational_tables(seed, self.sf, ("customer",))["customer"]
        cust = cust.assign(seq=np.zeros(len(cust), dtype=np.int64))[self.cols]
        os.makedirs(self.data_dir, exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(cust, preserve_index=False),
            os.path.join(self.data_dir, "accounts.parquet"),
        )
        self.pristine = cust
        self.rng = rng
        self.next_key = int(cust[self.rk].max()) + 1
        self.batches: list[pd.DataFrame] = []

    def _next_batch(self) -> pd.DataFrame:
        rng = self.rng
        half = self.BATCH_ROWS // 2
        draw = _zipf_sampler(rng, self.next_key)
        # the first `half` distinct keys in draw order (np.unique alone
        # sorts, which would favour low rowkeys)
        drawn = draw(half * 2)
        _, first = np.unique(drawn, return_index=True)
        old = drawn[np.sort(first)][:half]
        new = np.arange(self.next_key, self.next_key + self.BATCH_ROWS - len(old))
        self.next_key += len(new)
        keys = np.concatenate([old, new]).astype(np.int64)
        n = len(keys)
        seq = len(self.batches) + 1
        pdf = pd.DataFrame(
            {
                "c_custkey": keys,
                "c_name": [f"Customer#{k:09d}" for k in keys],
                "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
                "c_mktsegment": rng.choice(datagen.SEGMENTS, n),
                "seq": np.full(n, seq, dtype=np.int64),
            }
        )
        self.batches.append(pdf)
        return pdf

    def pass_ops(self, i: int) -> list[Op]:
        """One pass: COMPACTIONS_PER_PASS x (BATCHES_PER_COMPACTION x
        (put, read-your-write get), compaction), then the base rewrite."""
        ops = []
        for _ in range(self.COMPACTIONS_PER_PASS):
            for _ in range(self.BATCHES_PER_COMPACTION):
                pdf = self._next_batch()
                b = len(self.batches) - 1
                key = int(pdf[self.rk].iloc[int(self.rng.integers(0, len(pdf)))])
                ops += [Op("put", batch=b), Op("rget", keys=[key], batch=b)]
            ops.append(Op("compact"))
        ops.append(Op("rewrite"))
        return ops

    def layout(self, spark) -> None:
        from spark_hbase_connector_spark.sources.table import load_table, write_table

        src = load_table(spark, self.cat, os.path.join(self.data_dir, "accounts.parquet"))
        write_table(src, self.cat, self.base, num_partitions=4)
        shutil.rmtree(self.delta, ignore_errors=True)
        os.makedirs(self.delta)

    def warm_up(self, spark, tracer) -> None:
        """put, read-your-write get and compaction on a scratch flush
        directory, outside the window; the put history is left as it was."""
        delta = self.delta
        self.delta = delta + ".warm"
        os.makedirs(self.delta)
        self.batches.append(self.pristine.head(self.BATCH_ROWS))
        b = len(self.batches) - 1
        key = int(self.pristine[self.rk].iloc[0])
        for op in (Op("put", batch=b), Op("put", batch=b), Op("rget", keys=[key], batch=b), Op("compact")):
            self.run_op(spark, tracer, op)
        self.batches.pop()
        shutil.rmtree(self.delta)
        self.delta = delta
        self.bytes_written = self.user_bytes = 0
        self.compactions.clear()

    def _delta_reader(self, spark):
        return (
            spark.read.format("hbasekv")
            .option("catalog", json.dumps(self.cat))
            .option("path", self.delta)
            .option("physical_naming", "cf:col")
            .load()
        )

    def _written(self, before: dict[str, int], path: str) -> int:
        after = dir_bytes(path)
        return sum(sz for f, sz in after.items() if before.get(f) != sz)

    def run_op(self, spark, tracer, op: Op):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from spark_hbase_connector_spark.operators.compaction import compact_flush_files
        from spark_hbase_connector_spark.operators.upsert import overlay_cells
        from spark_hbase_connector_spark.sources.catalog import parse_catalog
        from spark_hbase_connector_spark.sources.table import load_table, write_table

        if op.kind == "put":
            pdf = self.batches[op.batch]
            before = dir_bytes(self.delta)
            schema = parse_catalog(self.cat).to_struct_type()
            with tracer.span("hbasekv.append"):
                (
                    spark.createDataFrame(pdf, schema=schema)
                    .coalesce(1)
                    .write.format("hbasekv")
                    .option("catalog", json.dumps(self.cat))
                    .option("path", self.delta)
                    .option("physical_naming", "cf:col")
                    .mode("append")
                    .save()
                )
            self.bytes_written += self._written(before, self.delta)
            self.user_bytes += pa.Table.from_pandas(pdf, preserve_index=False).nbytes
            return None, len(pdf)
        if op.kind == "rget":
            with tracer.span("hbasekv.read"):
                rows = self._delta_reader(spark).where(F.col(self.rk) == op.keys[0]).collect()
            newest = max((tuple(r[c] for c in self.cols) for r in rows), key=lambda r: r[-1], default=None)
            return newest, len(rows)
        if op.kind == "compact":
            before = dir_bytes(self.delta)
            stats = compact_flush_files(spark, self.delta, self.COMPACT_TARGET_BYTES)
            rewritten = self._written(before, self.delta)
            self.bytes_written += rewritten
            self.compactions.append(dict(stats, bytes_rewritten=rewritten))
            return stats, 0
        # rewrite: newest delta version per rowkey overlays the base
        base = load_table(spark, self.cat, self.base, physical_naming="cf:col")
        delta = load_table(spark, self.cat, self.delta, physical_naming="cf:col")
        w = Window.partitionBy(self.rk).orderBy(F.col("seq").desc())
        latest = delta.withColumn("__rn", F.row_number().over(w)).where("__rn = 1").drop("__rn")
        nxt = self.base + ".next"
        write_table(overlay_cells(base, latest, self.rk), self.cat, nxt, num_partitions=4)
        self.bytes_written += sum(dir_bytes(nxt).values())
        shutil.rmtree(self.base)
        os.replace(nxt, self.base)
        for f in os.listdir(self.delta):
            if f.endswith(".parquet"):
                os.remove(os.path.join(self.delta, f))
        return None, 0

    def throughput_rows(self, rec) -> int:
        return rec.rows if rec.op.kind == "put" else 0

    def _expected_state(self, upto: int) -> pd.DataFrame:
        state = pd.concat([self.pristine] + self.batches[:upto])
        return state.drop_duplicates(self.rk, keep="last").set_index(self.rk, drop=False).sort_index()

    def check(self, records) -> list[str]:
        errors = []
        done_batches = 0
        for rec in records:
            if rec.op.kind == "put" and rec.ok:
                done_batches = rec.op.batch + 1
            if rec.op.kind != "rget" or not rec.ok:
                continue
            pdf = self.batches[rec.op.batch]
            want = _rows(pdf[pdf[self.rk] == rec.op.keys[0]], self.cat)[0]
            if rec.result != want:
                rec.ok = False
                errors.append(f"op {rec.op_id} rget {rec.op.keys[0]}: got {rec.result} want {want}")
        # final state, read with pyarrow straight from the files
        files = [
            os.path.join(d, f)
            for d in (self.base, self.delta)
            for f in sorted(dir_bytes(d))
        ]
        got = pd.concat([pq.read_table(f).to_pandas() for f in files])
        got.columns = [c.split(":", 1)[-1] for c in got.columns]
        got = got.sort_values("seq", kind="stable").drop_duplicates(self.rk, keep="last")
        got = got.set_index(self.rk, drop=False).sort_index()[self.cols]
        want = self._expected_state(done_batches)[self.cols]
        if _rows(got, self.cat) != _rows(want, self.cat):
            errors.append(f"final state differs: {len(got)} rows read, {len(want)} expected")
        self.live_bytes = pa.Table.from_pandas(want, preserve_index=False).nbytes
        return errors

    def layer_metrics(self, spark, records) -> dict[str, float]:
        c = self.compactions or [{"files_before": 0, "files_after": 0, "bytes_rewritten": 0}]
        return {
            "compaction.files_before": float(np.mean([x["files_before"] for x in c])),
            "compaction.files_after": float(np.mean([x["files_after"] for x in c])),
            "compaction.bytes_rewritten": float(np.mean([x["bytes_rewritten"] for x in c])),
        }

    def byte_metrics(self) -> dict[str, float]:
        stored = sum(dir_bytes(self.base).values()) + sum(dir_bytes(self.delta).values())
        return {
            "bytes_written_per_user_byte": self.bytes_written / self.user_bytes if self.user_bytes else 0.0,
            "bytes_stored_per_user_byte": stored / self.live_bytes,
        }
