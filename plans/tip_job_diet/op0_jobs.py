"""Run a traced 1-op seed-1 tip workload from a checkout and print the
Spark jobs of op 0, grouped by the op's top-level span: each line counts
the jobs with one (inner span, call site, description); the last group is
the store-wide row check after the op, outside the op span.
Usage: python op0_jobs.py <checkout root> <run dir>"""
import collections
import glob
import json
import os
import shutil
import sys

root, run_dir = sys.argv[1], sys.argv[2]
sys.path.insert(0, root)
shutil.rmtree(run_dir, ignore_errors=True)
from perfbench import tip  # noqa: E402
from perfbench.harness import pin_environment  # noqa: E402
from perfbench.trace import event_log_conf  # noqa: E402

pin_environment(root, run_dir)
log_dir = os.path.join(run_dir, "eventlog")
os.makedirs(log_dir)
res = tip.run(1, 20, True, run_dir, event_log_conf(log_dir))
print("failed", len(res["failures"]), res["failures"], file=sys.stderr)
spans = res["tracer"].spans

jobs = []
(path,) = glob.glob(os.path.join(log_dir, "*"))
with open(path) as f:
    for line in f:
        ev = json.loads(line)
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        result = max(ev["Stage Infos"], key=lambda s: s["Stage ID"])
        desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
        site = result["Stage Name"].replace(os.path.abspath(root) + os.sep, "")
        jobs.append((ev["Submission Time"] / 1000.0, site, desc))


def innermost(t):
    best = None
    for i, s in enumerate(spans):
        if s.start <= t <= s.end and (best is None or s.depth > spans[best].depth):
            best = i
    return best


op_span = next(i for i, s in enumerate(spans) if s.name == "op" and s.op == 0)
after_op = spans[op_span].end
next_op = min(
    (s.start for s in spans if s.op is not None and s.op > 0 and s.name == "op"),
    default=min((s.start for s in spans if s.name == "maintenance"), default=1e18),
)
groups = collections.OrderedDict()
total = 0
for t, site, desc in jobs:
    i = innermost(t)
    if i is None:
        continue
    chain = []
    k = i
    while k is not None:
        chain.append(k)
        k = spans[k].parent
    if op_span in chain:
        top = chain[chain.index(op_span) - 1] if chain[0] != op_span else op_span
    elif after_op <= t < next_op and spans[chain[-1]].op == 0:
        top = chain[-1]
    else:
        continue
    inner = f"{spans[i].name} | " if i != top else ""
    groups.setdefault(spans[top].name, collections.Counter())[f"{inner}{site}  {desc}"] += 1
    total += 1
for name, c in groups.items():
    print(f"== {name}: {sum(c.values())} jobs")
    for key, n in c.items():
        print(f"  {n:4d} x {key}")
print("total op0 jobs", total)
