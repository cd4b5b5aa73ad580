"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json once untraced and once traced with
``--size tiny`` and checks that the result line has exactly the four required
keys, that every metric of BENCHMARK.json is present with its unit and a
finite value, and that every correctness check passed. It also feeds the
ann_query result checks wrong answers, and checks that the command fails
without a result in a directory that holds only the benchmark. Exits 1 on
the first failure.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def fail(msg: str) -> None:
    print(f"selftest: FAIL {msg}")
    sys.exit(1)


def run_workload(cwd, workload, trace, seconds="3"):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", seconds, "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def check_result(spec, workload, trace, proc) -> None:
    tag = f"{workload} trace={trace}"
    if proc.returncode != 0:
        fail(f"{tag}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{tag}: result keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        fail(f"{tag}: correct={result['correct']} failed={result['failed']} "
             f"failures={detail.get('failures')}")
    want = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in want}:
        fail(f"{tag}: metric names differ: {sorted(set(got) ^ {m['name'] for m in want})}")
    for m in want:
        value = got[m["name"]]
        if value["unit"] != m["unit"]:
            fail(f"{tag}: {m['name']} unit {value['unit']} != {m['unit']}")
        if not isinstance(value["value"], (int, float)) or not math.isfinite(value["value"]):
            fail(f"{tag}: {m['name']} value {value['value']!r}")
    if trace and not detail.get("layers"):
        fail(f"{tag}: no per-module layer breakdown in the detail line")
    print(f"selftest: ok {tag} attempted={result['attempted']}")


def check_checks() -> None:
    """The ann_query result checks must reject wrong answers."""
    import numpy as np

    sys.path.insert(0, HERE)
    import ann_query as aq

    rng = np.random.default_rng(0)
    matrix = rng.normal(size=(200, 4))
    q = aq.Query(matrix[0].astype(np.float32), 10, 150, matrix, 5)
    good = q.truth.tolist()
    if not aq.check_ranked(good, q, 5) or not aq.check_exact(q.truth_all.tolist(), q):
        fail("checks reject the ground truth")
    outside = [i for i in range(200) if i < 10 or i > 150][0]
    for wrong in (good[::-1], good[:4] + [outside], good[:4] + [good[0]], good[:4]):
        if aq.check_ranked(wrong, q, 5):
            fail(f"check_ranked accepted {wrong}")
    swapped = q.truth_all.tolist()
    swapped[-1] = int(np.argsort(q.dist)[5])
    if aq.check_exact(swapped, q):
        fail("check_exact accepted a non-top-k id")
    print("selftest: ok result checks reject wrong answers")


def check_without_program(spec) -> None:
    """In a directory holding only the benchmark, the command must fail
    without printing a result."""
    bare = os.path.join(ROOT, ".perfbench_run", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = run_workload(bare, spec["workloads"][0]["name"], 0)
        if proc.returncode == 0 or '"metrics"' in proc.stdout:
            fail(f"run without the program exited {proc.returncode}: {proc.stdout[-500:]}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest: ok fails without the program")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_checks()
    check_without_program(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_result(spec, w["name"], trace, run_workload(ROOT, w["name"], trace))
    print("selftest: all ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
