#!/usr/bin/env python
"""Optimization profiler: per-headliner plan + runtime evidence.

For each requested query this captures, into the ``--out`` directory:
  <name>_<tag>.txt    — .explain("formatted") of the exact DataFrame benched
  profile_<tag>.json  — every query's row, MERGED into an existing capture
and prints one JSON line per query with:
  wall seconds (same warm/min-of-N protocol as bench.py), #jobs, #stages,
  #tasks, shuffle MB (read + written), spill MB (memory + disk), plan-
  feature counts (Exchange, BatchEvalPython/ArrowEvalPython/MapInPandas,
  join strategies, scans).

Job metrics come from the session's Spark event log, read after the
session stops with the workload benchmark's parser (perfbench/trace.py):
each timed run is a span, and every job submitted inside it counts
toward the run.  Input bytes are not reported: the event-log reader does
not sum them.  Usage:

  python scripts/query_profile.py --out plans/<tag> [--tag before] [--runs 3] [q1 q2 ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time

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


def run_totals(jobs) -> dict:
    return {
        "jobs": len(jobs),
        "stages": len({st for j in jobs for st in j.stages}),
        "tasks": sum(j.tasks for j in jobs),
        "shuffle_mb": round(sum(j.shuffle_bytes for j in jobs) / 1e6, 3),
        "spill_mb": round(sum(j.spill_bytes for j in jobs) / 1e6, 3),
    }


def timed_runs(log_dir, names, runs, plans_dir, tag):
    """Warm each query, write its plan, time ``runs`` runs in a session
    logging events to ``log_dir``; returns ``{name: (seconds, span index,
    plan features)}`` for each query's fastest run, and the spans."""
    from chainweb_data_spark.session import get_spark
    from chainweb_data_spark.queries import query_fns
    from perfbench.trace import Tracer, event_log_conf
    import bench

    spark = get_spark("cds-profile", extra_conf=event_log_conf(log_dir))
    tracer = Tracer()
    fns = query_fns()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark.range(0, int(cpus), 1, int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).collect()

    best_runs = {}
    for name in names:
        sc = spark.sparkContext
        sc.setJobDescription(f"{name}: warm")
        df = fns[name](spark, SF_DIR)
        df.collect()  # warm: codegen + page cache (bench protocol)
        plan = _explain_str(df)
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        features = plan_features(plan)

        full_wall = name in bench.FULL_WALL
        for i in range(runs):
            sc.setJobDescription(f"{name}: timed run {i}")
            # the span holds construction too, so its jobs count to the run
            with tracer.span(f"{name}: timed run {i}"):
                if full_wall:
                    t0 = time.perf_counter()
                    fns[name](spark, SF_DIR).collect()
                else:
                    df = fns[name](spark, SF_DIR)
                    t0 = time.perf_counter()
                    df.collect()
                dt = time.perf_counter() - t0
            if name not in best_runs or dt < best_runs[name][0]:
                best_runs[name] = (dt, len(tracer.spans) - 1, features)
        sc.setJobDescription(None)
        spark.catalog.clearCache()  # inter-query isolation, same as bench.py
    spark.stop()  # finishes the event log
    return best_runs, tracer.spans


def main() -> None:
    from perfbench.trace import attribute, read_event_log
    import bench

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True, help="capture dir, e.g. plans/r14")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("names", nargs="*", help="queries (default: bench.HEADLINE)")
    args = ap.parse_args()
    tag = args.tag
    plans_dir = os.path.join(ROOT, args.out)
    os.makedirs(plans_dir, exist_ok=True)

    log_dir = tempfile.mkdtemp(prefix="query_profile_events_")
    try:
        best_runs, spans = timed_runs(
            log_dir, args.names or bench.HEADLINE, args.runs, plans_dir, tag
        )
        jobs = read_event_log(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    attribute(jobs, spans)
    results = {}
    for name, (best, span, features) in best_runs.items():
        row = {
            "s": round(best, 4),
            **run_totals([j for j in jobs if j.span == span]),
            **features,
        }
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
