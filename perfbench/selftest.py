"""Fast self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json``: runs the untraced and the traced
window on tiny inputs for two seeds, and checks that every named metric is
emitted with its declared unit and a finite value, that outputs are
correct, and that the two seeds issue different op streams but produce the
same metric set. Exits non-zero on the first violation.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import uuid

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import run  # noqa: E402

SEEDS = (11, 12)


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest: FAIL: {msg}")


def one(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    args = argparse.Namespace(workload=workload, seed=seed, seconds=1.0, trace=trace)
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{uuid.uuid4().hex}")
    os.makedirs(work)
    try:
        return run.run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    check(declared[0] == run.E2E_UNITS, "end_to_end metrics differ from run.E2E_UNITS")
    check(declared[1] == run.layer_units(), "per_layer metrics differ from run.layer_units()")
    check(
        [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS),
        "workloads differ from run.WORKLOADS",
    )
    run.KV_SF = 0.001
    run.CORPUS_DOCS, run.CORPUS_VECS = 120, 120
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            seen = {}
            for seed in SEEDS:
                result, info = one(workload, seed, trace)
                where = f"{workload} seed={seed} trace={trace}"
                check(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{where}: keys")
                check(result["correct"], f"{where}: outputs incorrect")
                check(result["attempted"] >= 1, f"{where}: nothing attempted")
                check(info["seed"] == seed, f"{where}: seed not recorded")
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                check(got == declared[trace], f"{where}: metric set {sorted(got)}")
                for k, v in result["metrics"].items():
                    check(math.isfinite(v["value"]), f"{where}: {k} = {v['value']}")
                seen[seed] = (info["op_stream_digest"], sorted(got))
                print(f"selftest: {where}: ok ({result['attempted']} ops)", flush=True)
            (d1, m1), (d2, m2) = seen.values()
            check(d1 != d2, f"{workload} trace={trace}: seeds gave the same op stream")
            check(m1 == m2, f"{workload} trace={trace}: seeds gave different metric sets")
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
