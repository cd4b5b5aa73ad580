"""Per-query job-level profiler (guide §1: measure first).

For each named headline query: run it once untimed (warmup — the bench
does the same), then once timed under a job group, and attribute every
Spark job to the query via the UI REST API: per-job wall time, stage
count, task count, shuffle read/write bytes. Also splits construction
time (driver-side planning jobs run inside the query fn) from the final
collect, and reports two per-query costs that otherwise need a profiler:
``codegen_compiles`` (classes Spark compiled during the timed rep — a
warm query that still compiles has query-specific generated code) and
``python_eval_nodes`` (ArrowEvalPython/BatchEvalPython nodes in the
executed plan — each starts Python-worker tasks).

Usage: python tools/profile_query.py <query> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
import bench
from pq_vector_spark import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")


def api(base, path):
    with urllib.request.urlopen(base + path) as r:
        return json.load(r)


def python_eval_nodes(df) -> int:
    """ArrowEvalPython/BatchEvalPython nodes in the executed plan (the
    final adaptive plan only, not the initial one AQE prints below it)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return final.count("ArrowEvalPython") + final.count("BatchEvalPython")


def main():
    names = sys.argv[1:] or list(bench.HEADLINE)
    spark = get_spark("pq_profile")
    sc = spark.sparkContext
    qs = entry_mod.queries()

    ui = sc.uiWebUrl  # e.g. http://host:4040
    app_id = sc.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    # warmup every query once (plan compile amortized, like the bench)
    for name in names:
        qs[name](spark, SF_DIR).collect()

    reps = int(os.environ.get("PROF_REPS", "2"))
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    results = {}
    for name in names:
        best = None
        for _ in range(reps):
            sc.setJobGroup(f"prof_{name}", name)
            c0 = codegen.METRIC_COMPILATION_TIME().getCount()
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            t1 = time.perf_counter()
            df.collect()
            t2 = time.perf_counter()
            sc.setJobGroup(None, None)
            cur = {
                "construct_sec": round(t1 - t0, 3),
                "collect_sec": round(t2 - t1, 3),
                "total_sec": round(t2 - t0, 3),
                "codegen_compiles": codegen.METRIC_COMPILATION_TIME().getCount() - c0,
                "python_eval_nodes": python_eval_nodes(df),
            }
            if best is None or cur["total_sec"] < best["total_sec"]:
                best = cur
        results[name] = best

    jobs = api(base, "/jobs")
    by_group: dict[str, list] = {}
    for j in jobs:
        g = j.get("jobGroup") or ""
        if g.startswith("prof_"):
            by_group.setdefault(g[5:], []).append(j)

    for name in names:
        js = sorted(by_group.get(name, []), key=lambda j: j["jobId"])
        lines = []
        for j in js:
            sub = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            try:
                comp = time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                dur = time.mktime(comp) - time.mktime(sub)
            except Exception:
                dur = -1
            # millisecond precision from the fractional part
            try:
                ms0 = float("0." + j["submissionTime"].split(".")[1][:3])
                ms1 = float("0." + j["completionTime"].split(".")[1][:3])
                dur += ms1 - ms0
            except Exception:
                pass
            lines.append(
                {
                    "job": j["jobId"],
                    "sec": round(dur, 3),
                    "stages": len(j.get("stageIds", [])),
                    "tasks": j.get("numTasks"),
                    "desc": (j.get("description") or "")[:60],
                }
            )
        results[name]["jobs"] = lines
        results[name]["n_jobs"] = len(lines)

    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
