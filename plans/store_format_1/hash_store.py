"""Run a 2-op seed-1 tip workload from a checkout and hash every table of
its store (published tables through the log, silver tables by directory).
Usage: python hash_store.py <checkout root> <run dir>"""
import hashlib
import json
import os
import shutil
import sys

root, run_dir = sys.argv[1], sys.argv[2]
sys.path.insert(0, root)
shutil.rmtree(run_dir, ignore_errors=True)
from perfbench import tip  # noqa: E402
from perfbench.harness import pin_environment  # noqa: E402

pin_environment(root, run_dir)
res = tip.run(1, 40, False, run_dir, {})
print("failed", len(res["failures"]), res["failures"], file=sys.stderr)

import pyarrow.parquet as pq  # noqa: E402

from chainweb_data_spark.streaming import publish  # noqa: E402

store = os.path.join(run_dir, "store")


def rows_of(tdir, files):
    out = []
    for rel in files:
        t = pq.read_table(os.path.join(tdir, rel))
        parts = [
            p.split("=", 1) for p in os.path.dirname(rel).split(os.sep) if "=" in p
        ]
        for r in t.to_pylist():
            for k, v in parts:
                r[k] = v
            out.append(json.dumps(r, sort_keys=True, default=str))
    return sorted(out)


def digest(rows):
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16], len(rows)


result = {}
man = publish.read_manifest(store)
for t, files in sorted(man["tables"].items()):
    result[t] = digest(rows_of(os.path.join(store, f"{t}.parquet"), files))
for name in ("tx_lineage", "cont_history"):
    for cand in (os.path.join(store, "_silver", f"{name}.parquet"),
                 os.path.join(store, f"{name}.parquet")):
        if os.path.isdir(cand):
            files = [
                os.path.relpath(os.path.join(r, f), cand)
                for r, _d, fs in os.walk(cand)
                for f in fs
                if not f.startswith(("_", "."))
            ]
            result[name] = digest(rows_of(cand, files))
print(json.dumps(result, sort_keys=True))
