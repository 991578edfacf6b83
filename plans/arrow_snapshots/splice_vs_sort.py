"""The two ways ``publish._insert`` puts added rows into a snapshot,
timed against each other: the bisect splice (``_SPLICE_COST`` forced to
0) and the sort of the concatenation (forced to infinity), beside the
path the cut picks.

Snapshots are synthetic and sorted by (table, file): six tables, file
names ``height_bucket=<b>/part-<uuid>.parquet`` (so adds land anywhere
in their table, as Spark's part files do).  Workloads:

- ``hot``: the cached single-writer loop — fold one delta of k adds at a
  time, ``steps`` times, then read every table's file list as a reader
  does (``_table_rows`` + ``to_pylist``); mean fold and read ms.
- ``fold``: one fold of k adds into n rows (a cold resolve gathering
  several deltas), best of three.

Prints one JSON line per (workload, path).

Usage: python plans/arrow_snapshots/splice_vs_sort.py
"""

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))

import pyarrow as pa  # noqa: E402

import chainweb_data_spark.streaming.publish as pub  # noqa: E402

TABLES = ["blocks", "events", "minerkeys", "signers", "transactions", "transfers"]
PATHS = {"splice": 0, "sort": float("inf"), "cut": pub._SPLICE_COST}


def rows(n: int, stats: bool):
    t = [TABLES[i % len(TABLES)] for i in range(n)]
    f = [f"height_bucket={i % 64}/part-{uuid.uuid4().hex}.parquet" for i in range(n)]
    s = ['{"height":[%d,%d]}' % (i, i) for i in range(n)] if stats else [None] * n
    return pa.table(
        {
            "table": pa.array(t, pa.string()),
            "file": pa.array(f, pa.string()),
            "stats": pa.array(s, pa.string()),
        }
    ).sort_by(pub._SORT_KEY)


def hot(n: int, k: int, steps: int) -> dict:
    snap = rows(n, True)
    fold = read = 0.0
    for _ in range(steps):
        adds = rows(k, True)
        t0 = time.perf_counter()
        snap = pub._insert(snap, adds)
        t1 = time.perf_counter()
        for t in TABLES:
            pub._table_rows(snap, t)["file"].to_pylist()
        read += time.perf_counter() - t1
        fold += t1 - t0
    return {
        "fold_ms": round(fold / steps * 1e3, 3),
        "read_ms": round(read / steps * 1e3, 3),
        "chunks": snap["file"].num_chunks,
    }


def fold(n: int, k: int) -> dict:
    snap, adds = rows(n, False), rows(k, False)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        out = pub._insert(snap, adds)
        best = min(best, time.perf_counter() - t0)
    assert out.num_rows == n + k and out["file"].num_chunks == 1
    return {"fold_ms": round(best * 1e3, 3)}


WORKLOADS = [
    ("hot", 4000, 66, 15),  # tip: ~4k live rows, ~66 adds per commit
    ("fold", 4000, 990, None),  # tip cold resolve: 15 deltas at once
    ("hot", 1_000_000, 66, 5),
    ("fold", 1_000_000, 1024, None),
    ("fold", 1_000_000, 4096, None),
    ("fold", 1_000_000, 16384, None),
    ("fold", 1_000_000, 100_000, None),
    ("fold", 4_000_000, 15, None),  # --bigsweep resolve: 14 one-file deltas
    ("fold", 4_000_000, 16384, None),
]


def main() -> None:
    for kind, n, k, steps in WORKLOADS:
        for path, cost in PATHS.items():
            pub._SPLICE_COST = cost
            r = hot(n, k, steps) if kind == "hot" else fold(n, k)
            print(json.dumps({"workload": kind, "n": n, "k": k, "path": path, **r}), flush=True)


if __name__ == "__main__":
    main()
