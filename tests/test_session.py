"""Session defaults that must hold on the host they run on, without the
caller patching the environment: Python workers import the package with
no outside PYTHONPATH, and the default driver heap fits in physical
memory. Both run in a fresh interpreter, since a JVM takes both settings
only at launch."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

_SCRIPT = r"""
import json
import sys

sys.path.insert(0, {repo!r})
from pyspark.sql import Row

from spark_hbase_connector_spark.session import get_spark
from spark_hbase_connector_spark.sources.python_datasource import register_hbasekv
from spark_hbase_connector_spark.sources.table import write_table

spark = get_spark("session-defaults", cpus=2)
print("DRIVER_MEMORY", spark.conf.get("spark.driver.memory"), flush=True)
catalog = {{
    "table": "t:kv",
    "rowkey": "k",
    "columns": {{
        "k": {{"cf": "rowkey", "col": "k", "type": "long"}},
        "v": {{"cf": "info", "col": "v", "type": "string"}},
    }},
}}
write_table(
    spark.createDataFrame([Row(k=i, v=f"v{{i}}") for i in range(10)]),
    catalog, "kv", num_partitions=2,
)
register_hbasekv(spark)
rows = (
    spark.read.format("hbasekv")
    .option("catalog", json.dumps(catalog))
    .option("path", "kv")
    .option("physical_naming", "cf:col")
    .load()
    .where("k = 7")
    .collect()
)
print("GET", json.dumps([r.asDict() for r in rows]), flush=True)
"""


@pytest.fixture(scope="module")
def fresh_session(tmp_path_factory):
    """Output lines of the script above, run from outside the repository
    with neither PYTHONPATH nor SPARK_DRIVER_MEMORY set."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_DRIVER_MEMORY")
    }
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=repo)],
        cwd=tmp_path_factory.mktemp("fresh_session"),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = dict(
        line.split(" ", 1)
        for line in proc.stdout.splitlines()
        if line.startswith(("DRIVER_MEMORY ", "GET "))
    )
    return proc, lines


def _to_bytes(size: str) -> int:
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    size = size.strip().lower().removesuffix("b")
    if size[-1] in units:
        return int(size[:-1]) * units[size[-1]]
    return int(size)


def test_workers_import_package_without_pythonpath(fresh_session):
    proc, lines = fresh_session
    assert "GET" in lines, proc.stderr[-3000:]
    assert json.loads(lines["GET"]) == [{"k": 7, "v": "v7"}]


def test_default_driver_heap_fits_physical_memory(fresh_session):
    proc, lines = fresh_session
    assert "DRIVER_MEMORY" in lines, proc.stderr[-3000:]
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert _to_bytes(lines["DRIVER_MEMORY"]) <= phys
