"""Untraced multi-op tip run from a checkout; prints the per-op
publish_batch and op span durations as one JSON line.
Usage: python commit_bench.py <checkout root> <run dir> <seed> <seconds>"""
import json
import shutil
import sys

root, run_dir, seed, seconds = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
sys.path.insert(0, root)
shutil.rmtree(run_dir, ignore_errors=True)
from perfbench import tip  # noqa: E402
from perfbench.harness import pin_environment  # noqa: E402

pin_environment(root, run_dir)
res = tip.run(seed, seconds, False, run_dir, {})
spans = res["tracer"].spans


def durs(name):
    return [round(s.end - s.start, 3) for s in spans if s.name == name]


print(json.dumps({
    "root": root, "seed": seed, "failures": len(res["failures"]),
    "publish_s": durs("publish.publish_batch"),
    "op_s": durs("op"),
    "end_to_end": res["end_to_end"],
}))
shutil.rmtree(run_dir, ignore_errors=True)
