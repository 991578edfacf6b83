"""Driver cost of the snapshot reads of tip-shaped commits, metadata only.

Commits 58 deltas to a fresh store (six tables, 10 added files each per
commit, 16 for the key-bucketed ``signers``, with per-file stats), and
after each commit reads every table's live files and stats three times,
as ``read_published(where=...)`` does.  Prints the mean and max wall of
one commit's 18 reads.  Give the checkout to import from: this build's
reads go through ``_snapshot``; a build that still has ``_table_files``
(the Python-set readers) is read through that.

Usage: python plans/arrow_snapshots/tip_reads.py <checkout>
"""

import os
import sys
import tempfile
import time
import uuid

sys.path.insert(0, sys.argv[1])

import chainweb_data_spark.streaming.publish as pub  # noqa: E402

TABLES = ["blocks", "events", "minerkeys", "signers", "transactions", "transfers"]
ARROW = hasattr(pub, "_snapshot")


def read(out: str, v: int, t: str):
    if ARROW:
        rows = pub._table_rows(pub._snapshot(out, v), t)
        return rows["file"].to_pylist(), pub._file_stats(rows)
    return pub._table_files(out, v, t, with_stats=True)


def main() -> None:
    with tempfile.TemporaryDirectory(prefix="tip-reads-") as d:
        run(os.path.join(d, "store"))


def run(out: str) -> None:
    pub.ensure_manifest(out)
    walls = []
    for v in range(2, 60):
        add = {
            t: [f"height_bucket={v // 4}/part-{uuid.uuid4().hex}.parquet" for _ in range(10)]
            for t in TABLES
        }
        add["signers"] = [
            f"key_bucket=k{c}/part-{uuid.uuid4().hex}.parquet" for c in "0123456789abcdef"
        ]
        stats = {t: {f: {"height": [v, v]} for f in fs} for t, fs in add.items()}
        pub._commit_delta(out, v, add, {}, stats)
        t0 = time.perf_counter()
        for t in TABLES:
            for _ in range(3):
                read(out, v, t)
        walls.append(time.perf_counter() - t0)
    print(
        {
            "resolver": "_snapshot" if ARROW else "_table_files",
            "mean_ms": round(sum(walls) / len(walls) * 1e3, 2),
            "max_ms": round(max(walls) * 1e3, 2),
        }
    )


if __name__ == "__main__":
    main()
