#!/usr/bin/env python
"""Optimization profiler: per-headliner plan + runtime evidence.

For each requested query this captures, into the ``--out`` directory:
  <name>_<tag>.txt    — .explain("formatted") of the exact DataFrame benched
  profile_<tag>.json  — every query's row, MERGED into an existing capture
and prints one JSON line per query with:
  wall seconds (same warm/min-of-N protocol as bench.py), #jobs, #stages,
  #tasks, shuffle read/write bytes, plan-feature counts (Exchange,
  BatchEvalPython/ArrowEvalPython/MapInPandas, join strategies, scans).

Metrics come from the Spark UI REST API (spark.ui.enabled forced on in this
session only; bench.py itself keeps the UI off).  Usage:

  python scripts/query_profile.py --out plans/<tag> [--tag before] [--runs 3] [q1 q2 ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

PLAN_FEATURES = [
    ("exchange", r"\bExchange\b"),
    ("broadcast_exchange", r"\bBroadcastExchange\b"),
    ("sort_merge_join", r"\bSortMergeJoin\b"),
    ("broadcast_hash_join", r"\bBroadcastHashJoin\b"),
    ("shuffled_hash_join", r"\bShuffledHashJoin\b"),
    ("bnl_join", r"\bBroadcastNestedLoopJoin\b"),
    ("cartesian", r"\bCartesianProduct\b"),
    ("batch_eval_python", r"\bBatchEvalPython\b"),
    ("arrow_eval_python", r"\bArrowEvalPython\b"),
    ("map_in_pandas", r"\bMapInPandas|\bMapInArrow|\bPythonMapInArrow"),
    ("flatmapgroups", r"\bFlatMapGroupsInPandas\b"),
    ("scan_parquet", r"Scan parquet"),
    ("in_memory_scan", r"InMemoryTableScan"),
    ("sort_node", r"^\s*[+:\-\s]*\*?\(?\d*\)?\s*Sort "),
    ("window_node", r"\bWindow\b|\bRunningWindowFunction\b"),
    ("aqe", r"AdaptiveSparkPlan"),
]


def plan_features(plan: str) -> dict:
    return {
        k: len(re.findall(rx, plan, flags=re.MULTILINE)) for k, rx in PLAN_FEATURES
    }


def _explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _rest(app_url: str, path: str):
    with urllib.request.urlopen(app_url + path, timeout=10) as r:
        return json.loads(r.read().decode())


def _app_url(spark) -> str:
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    return f"{ui}/api/v1/applications/{app_id}"


def job_metrics(spark, after_job_id: int) -> dict:
    url = _app_url(spark)
    jobs = [j for j in _rest(url, "/jobs") if j["jobId"] > after_job_id]
    stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
    n_tasks = sum(j.get("numTasks", 0) for j in jobs)
    sread = swrite = inbytes = 0
    spill_mem = spill_disk = 0
    for sid in stage_ids:
        try:
            stages = _rest(url, f"/stages/{sid}")
        except Exception:
            continue
        for st in stages:
            sread += st.get("shuffleReadBytes", 0)
            swrite += st.get("shuffleWriteBytes", 0)
            inbytes += st.get("inputBytes", 0)
            spill_mem += st.get("memoryBytesSpilled", 0)
            spill_disk += st.get("diskBytesSpilled", 0)
    return {
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "tasks": n_tasks,
        "shuffle_read_mb": round(sread / 1e6, 3),
        "shuffle_write_mb": round(swrite / 1e6, 3),
        "input_mb": round(inbytes / 1e6, 3),
        "spill_disk_mb": round(spill_disk / 1e6, 3),
    }


def last_job_id(spark) -> int:
    try:
        jobs = _rest(_app_url(spark), "/jobs")
        return max((j["jobId"] for j in jobs), default=-1)
    except Exception:
        return -1


def main() -> None:
    from chainweb_data_spark.session import get_spark
    from chainweb_data_spark.queries import query_fns
    import bench

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True, help="capture dir, e.g. plans/r14")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("names", nargs="*", help="queries (default: bench.HEADLINE)")
    args = ap.parse_args()
    tag, runs = args.tag, args.runs
    names = args.names or bench.HEADLINE
    plans_dir = os.path.join(ROOT, args.out)

    os.makedirs(plans_dir, exist_ok=True)
    spark = get_spark("cds-profile", extra_conf={"spark.ui.enabled": "true"})
    fns = query_fns()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark.range(0, int(cpus), 1, int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).collect()

    results = {}
    for name in names:
        sc = spark.sparkContext
        sc.setJobDescription(f"{name}: warm")
        df = fns[name](spark, SF_DIR)
        df.collect()  # warm: codegen + page cache (bench protocol)
        plan = _explain_str(df)
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)

        best = float("inf")
        best_metrics = None
        full_wall = name in bench.FULL_WALL
        for i in range(runs):
            sc.setJobDescription(f"{name}: timed run {i}")
            j0 = last_job_id(spark)
            if full_wall:
                t0 = time.perf_counter()
                fns[name](spark, SF_DIR).collect()
            else:
                df = fns[name](spark, SF_DIR)
                t0 = time.perf_counter()
                df.collect()
            dt = time.perf_counter() - t0
            if dt < best:
                best = dt
                best_metrics = job_metrics(spark, j0)
        sc.setJobDescription(None)
        spark.catalog.clearCache()  # inter-query isolation, same as bench.py
        row = {"s": round(best, 4), **(best_metrics or {}), **plan_features(plan)}
        results[name] = row
        print(json.dumps({name: row}), flush=True)

    out_path = os.path.join(plans_dir, f"profile_{tag}.json")
    # MERGE into an existing capture: partial invocations (a few queries
    # after an edit) must not drop the other queries' entries
    merged = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                merged = json.load(f)
        except (OSError, ValueError):
            merged = {}
    merged.update(results)
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    print(f"wrote {out_path} ({len(merged)} queries)", file=sys.stderr)


if __name__ == "__main__":
    main()
