"""What projecting the stats column away saves a stats-less resolve.

Writes a checkpoint-shaped sidecar (``table, file, stats``; zstd,
262 144-row groups, like ``publish._write_sidecar_parquet``) of N files
whose stats are ~570-byte JSON strings (nine columns of footer min/max,
hashes included), then reads it back with and without the stats column.
Prints one JSON line: sidecar bytes, and per read the wall, the Arrow
bytes held and the driver RSS growth.

Usage: python plans/arrow_snapshots/stats_projection.py [n_files]
"""

import gc
import json
import os
import random
import sys
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["blocks", "transactions", "events", "transfers", "signers", "minerkeys"]


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return -1.0


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    rnd = random.Random(0)
    t_col, f_col, s_col = [], [], []
    for t in TABLES:
        for i in range(n // len(TABLES)):
            h = rnd.randrange(10**7)
            t_col.append(t)
            f_col.append(f"height_bucket={i % 64}/part-{i:07d}-{t[:4]}.snappy.parquet")
            s_col.append(json.dumps({
                "height": [h, h + 10], "chainid": [0, 19],
                "creationtime": [1600000000000000 + h, 1600000000000099 + h],
                "hash": ["%064x" % rnd.getrandbits(256), "%064x" % rnd.getrandbits(256)],
                "payload": ["%064x" % rnd.getrandbits(256), "%064x" % rnd.getrandbits(256)],
                "miner": ["k:%040x" % rnd.getrandbits(160), "k:%040x" % rnd.getrandbits(160)],
                "nonce": [h * 7, h * 9], "weight": [h, h * 3], "target": [h * 11, h * 13],
            }, separators=(",", ":")))
    avg = sum(map(len, s_col)) / len(s_col)
    table = pa.table({"table": t_col, "file": f_col, "stats": s_col})
    del t_col, f_col, s_col
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "ckpt.parquet")
        pq.write_table(table, path, compression="zstd", row_group_size=262_144)
        del table
        gc.collect()
        report = {
            "n_files": n,
            "stats_bytes_avg": round(avg),
            "sidecar_mb": round(os.path.getsize(path) / 1e6, 1),
        }
        for name, cols in (("without_stats", ["table", "file"]),
                           ("with_stats", ["table", "file", "stats"])):
            r0 = rss_mb()
            t0 = time.perf_counter()
            got = pq.read_table(path, columns=cols)
            wall = time.perf_counter() - t0
            report[name] = {
                "wall_s": round(wall, 3),
                "arrow_mb": round(got.nbytes / 1e6, 1),
                "rss_growth_mb": round(rss_mb() - r0, 1),
            }
            del got
            gc.collect()
    print(json.dumps(report))


if __name__ == "__main__":
    main()
