"""Benchmark command: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload tip --seed 1 --seconds 30 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` is the separate per-layer run (spans, Spark event log,
maintenance pass).  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds diagnostics (pins, machine load and steal, failures).  The exit
code is 0 only when every output check passed.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_ROOT = ".perfbench_run"
sys.path.insert(0, ROOT)

from perfbench.metrics import result_line  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("tip", "explorer"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "chainweb_data_spark")):
        print(
            f"perfbench: no chainweb_data_spark package under {ROOT}; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    from perfbench import explorer, tip
    from perfbench.harness import Machine, pin_environment
    from perfbench.trace import event_log_conf

    run_dir = os.path.join(ROOT, RUN_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    pins = pin_environment(ROOT, run_dir)
    conf = {}
    if args.trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf = event_log_conf(log_dir)
    machine = Machine()
    try:
        workload = {"tip": tip, "explorer": explorer}[args.workload]
        res = workload.run(args.seed, args.seconds, bool(args.trace), run_dir, conf)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        # spans outlive the run: one JSON line each
        trace_dir = os.path.join(ROOT, RUN_ROOT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        res["tracer"].dump(
            os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.spans.jsonl")
        )
    line = result_line(res, bool(args.trace))
    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "pins": pins,
        "machine": machine.reading(),
        "failures": res["failures"],
        "end_to_end": res["end_to_end"],
    }
    print(json.dumps({"diagnostics": diagnostics}))
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
