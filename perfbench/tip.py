"""``tip`` workload: catch up on a seeded backlog, then follow the chain
tip one micro-batch at a time and read every batch back.

Set-up backfills the history through ``listen_stream(available_now=True,
continuation_history=True)`` over seeded feed files.  Each op then hands
one micro-batch (three new heights across 20 chains plus blocks
re-delivered from the height before them) to the calls that
``listen_stream``'s batch function makes: ``payload_to_tables`` →
``publish_batch`` → ``update_continuation_history``.  Between the commit
and the silver update a reader point-reads the newest height (freshness).
After it come ``READS`` rounds of reads: a ``read_published`` point read
of an older height of the batch, a governed event search via
``bounded_scan_published`` (page 1, then page 2 resumed from the pinned
token) and a ``lookup_history`` on a continuation tx.  The loop is closed
with one client.
"""

from __future__ import annotations

import importlib
import json
import os
import time

from . import feed as feedmod
from .harness import Session, gmean_of_medians, median
from .trace import (
    CountingLogStore,
    Tracer,
    attribute,
    dir_bytes,
    read_event_log,
    self_times,
    subtree,
)

#: heights of backlog the set-up catches up on
HISTORY_HEIGHTS = 8
#: backlog feed files, each with its own mtime so the micro-batches form
#: the same way on every run
HISTORY_FILES = 2
#: nominal seconds per op on a 4-CPU machine; ``--seconds`` sets the op count
NOMINAL_OP_S = 20.0
#: read rounds per op (a different height, search term and continuation each)
READS = len(feedmod.SEARCH_TERMS)
SEARCH = dict(limit=10, slice_width=4, budget_slices=2)
TABLES = ("blocks", "transactions", "events", "transfers", "signers", "minerkeys")


def n_ops(seconds: int) -> int:
    return max(1, round(seconds / NOMINAL_OP_S))


def _write_backlog(blocks: list, feed_dir: str) -> int:
    os.makedirs(feed_dir)
    n, size = len(blocks), 0
    base = 1_600_000_000
    for i in range(HISTORY_FILES):
        path = os.path.join(feed_dir, f"feed_{i:03d}.json")
        with open(path, "w") as f:
            for b in blocks[n * i // HISTORY_FILES : n * (i + 1) // HISTORY_FILES]:
                line = json.dumps(b.row) + "\n"
                size += len(line)
                f.write(line)
        os.utime(path, (base + i, base + i))
    return size


def run(seed: int, seconds: int, trace: bool, run_dir: str, session_conf: dict) -> dict:
    from pyspark.sql import functions as F

    from chainweb_data_spark.fixtures.generate import ACTIVATION_FLOOR
    from chainweb_data_spark.ingest import transforms
    from chainweb_data_spark.operators.cursor import (
        decode_pinned_token,
        encode_pinned_token,
    )
    from chainweb_data_spark.queries.chainweb import EVENTS_CURSOR
    from chainweb_data_spark.schemas.payload import RAW_SCHEMA
    from chainweb_data_spark.streaming import listen, publish, silver

    # the package re-exports a function under the module's name
    bs = importlib.import_module("chainweb_data_spark.plans.bounded_scan")
    ops = n_ops(seconds)
    tf = feedmod.tip_feed(seed, HISTORY_HEIGHTS, ops)
    expect = feedmod.Expectations()
    feed_dir = os.path.join(run_dir, "feed")
    store = os.path.join(run_dir, "store")
    feed_bytes = _write_backlog(tf.history, feed_dir)

    tracer = Tracer()
    counting = CountingLogStore(publish.LOG_STORE)
    publish.LOG_STORE = counting
    if trace:
        tracer.wrap(publish, "read_published", "publish.read_published")
        tracer.wrap(bs, "bounded_scan", "bounded_scan.bounded_scan")

    t0 = time.perf_counter()
    sess = Session("perfbench-tip", run_dir, session_conf)
    spark = sess.spark
    with tracer.span("setup.backfill"):
        q = listen.listen_stream(
            spark, feed_dir, store,
            event_min_height=ACTIVATION_FLOOR,
            available_now=True,
            continuation_history=True,
        )
        q.awaitTermination()
    setup_s = time.perf_counter() - t0
    progress = [p["durationMs"] for p in q.recentProgress if p["numInputRows"]]
    expect.deliver(tf.history)

    by_class: dict[str, list[float]] = {}
    op_s, new_blocks, failures = [], 0, []
    layer: dict[str, list[float]] = {}

    def note(key: str, v: float) -> None:
        layer.setdefault(key, []).append(v)

    def timed(cls: str, span: str, fn):
        t = time.perf_counter()
        with tracer.span(span):
            out = fn()
        by_class.setdefault(cls, []).append(time.perf_counter() - t)
        return out

    point_reads = []

    def point_read(height: int) -> set[str]:
        df = publish.read_published(
            spark, store, "blocks", where={"height": (height, height)}
        )
        point_reads.append(df)
        return {
            r.hash for r in df.filter(F.col("height") == height).select("hash").collect()
        }

    def search(term: str) -> tuple[list, list]:
        pred = F.col("paramtext").contains(term)
        res1, version = timed(
            "search_p1", "read.search_p1",
            lambda: bs.bounded_scan_published(
                spark, store, "events", pred, EVENTS_CURSOR, **SEARCH
            ),
        )

        def page2():
            cur, _off, pinned = decode_pinned_token(
                encode_pinned_token(res1.next_cursor, version)
            )
            return bs.bounded_scan_published(
                spark, store, "events", pred, EVENTS_CURSOR,
                cursor=tuple(cur), version=pinned, **SEARCH,
            )[0]

        res2 = timed("search_p2", "read.search_p2", page2)
        for res in (res1, res2):
            note("bounded_scan.slices_examined", res.slices_examined)
        key = lambda r: (r.height, r.requestkey, r.idx, r.block)  # noqa: E731
        return [key(r) for r in res1.rows], [key(r) for r in res2.rows]

    for k, (new_heights, batch) in enumerate(zip(tf.heights, tf.batches)):
        tracer.op = k
        h = new_heights[-1]
        rows = tf.rows(batch)
        feed_bytes += sum(len(json.dumps(b.row)) + 1 for b in batch)
        fresh = [b for b in batch if b.height in new_heights]
        expect.deliver(batch)
        targets = expect.lookup_targets(batch, READS)
        got: dict[str, object] = {}
        t_op = time.perf_counter()
        with tracer.span("op"):
            with tracer.span("ingest.payload_to_tables"):
                raw = spark.createDataFrame(rows, RAW_SCHEMA).localCheckpoint(eager=True)
                tables = transforms.payload_to_tables(
                    raw, event_min_height=ACTIVATION_FLOOR
                )
            if trace:
                with tracer.span("ingest.transform"):
                    for df in tables.values():
                        df.write.format("noop").mode("overwrite").save()
            ls0 = counting.snapshot()
            with tracer.span("publish.publish_batch"):
                rec = publish.publish_batch(spark, tables, store)
            ls1 = counting.snapshot()
            by_class.setdefault("commit", []).append(time.perf_counter() - t_op)
            got["fresh"] = timed("fresh_read", "read.fresh", lambda: point_read(h))
            note("freshness", time.perf_counter() - t_op)
            timed(
                "silver_update", "silver.update_continuation_history",
                lambda: silver.update_continuation_history(
                    spark, tables["transactions"], store
                ),
            )
            for i, term in enumerate(feedmod.SEARCH_TERMS):
                got[f"block {h - 1 - i}"] = timed(
                    "block_read", "read.block", lambda: point_read(h - 1 - i)
                )
                got[f"search {term}"] = search(term)
                got[f"history {i}"] = timed(
                    "history", "silver.lookup_history",
                    lambda: silver.lookup_history(spark, store, targets[i]).collect(),
                )
        op_s.append(time.perf_counter() - t_op)
        new_blocks += len(fresh)

        # read-your-write checks, outside the timed op
        want: dict[str, object] = {"fresh": expect.blocks_at(h)}
        lim = SEARCH["limit"]
        for i, term in enumerate(feedmod.SEARCH_TERMS):
            want[f"block {h - 1 - i}"] = expect.blocks_at(h - 1 - i)
            order = expect.search_order(term)
            want[f"search {term}"] = (order[:lim], order[lim : 2 * lim])
            want[f"history {i}"] = expect.history(targets[i])
            got[f"history {i}"] = {(r.depth, r.rk, r.code) for r in got[f"history {i}"]}
        wrong = [name for name in want if got[name] != want[name]]
        if wrong:
            failures.append(f"op {k}: wrong {', '.join(wrong)}")
        note("publish.files_added_per_commit", sum(rec["add"].values()))
        for df in point_reads:
            note("publish.files_per_read", len(df.inputFiles()))
        point_reads.clear()
        for key, a, b in zip(
            ("logstore.calls_per_commit", "logstore.durable_writes_per_commit",
             "logstore.bytes_per_commit"), ls0, ls1,
        ):
            note(key, b - a)

    # store-wide checks: every table holds exactly the feed's distinct
    # primary keys, once each, despite the re-delivered blocks
    failures += _check_tables(spark, publish, store, expect)
    end_to_end = {
        "setup_s": setup_s,
        "throughput_per_s": new_blocks / sum(op_s),
        "latency_gmean_s": gmean_of_medians(by_class),
        "peak_rss_mb": sess.peak_rss_mb(),
    }
    layers = {
        "session.start_s": sess.start_s,
        "ingest.rows_per_block": sum(len(v) for v in expect.pks.values())
        / len(expect.pks["blocks"]),
        "store.bytes_per_feed_byte": dir_bytes(store) / feed_bytes,
        "tip.freshness_s": median(layer["freshness"]),
        "listen.batch_s": median(p["triggerExecution"] for p in progress) / 1000,
        "listen.add_batch_s": median(p["addBatch"] for p in progress) / 1000,
        "listen.engine_s": median(
            p["triggerExecution"] - p["addBatch"] for p in progress
        ) / 1000,
    }
    for key in (
        "publish.files_added_per_commit", "logstore.calls_per_commit",
        "logstore.durable_writes_per_commit", "logstore.bytes_per_commit",
        "publish.files_per_read", "bounded_scan.slices_examined",
    ):
        layers[key] = median(layer[key])
    n_checks = ops + len(TABLES)
    if trace:
        with tracer.span("maintenance"):
            layers.update(_maintenance(spark, publish, store, tracer))
        # compaction must keep every row
        failures += _check_tables(spark, publish, store, expect)
        n_checks += len(TABLES)
    sess.stop()
    if trace:
        layers.update(_span_layers(tracer, run_dir))
    return {
        "attempted": n_checks,
        "failed": len(failures),
        "failures": failures,
        "tracer": tracer,
        "end_to_end": end_to_end,
        "per_layer": layers,
    }


def _check_tables(spark, publish, store: str, expect) -> list[str]:
    from pyspark.sql import functions as F

    from chainweb_data_spark.streaming.listen import TABLE_PKS

    bad = []
    for t, want in expect.counts().items():
        df = publish.read_published(spark, store, t)
        n, distinct = df.agg(F.count(F.lit(1)), F.count_distinct(*TABLE_PKS[t])).first()
        if not n == distinct == want:
            bad.append(f"table {t}: rows={n} distinct={distinct} feed={want}")
    return bad


def _maintenance(spark, publish, store: str, tracer: Tracer) -> dict[str, float]:
    before = after = 0
    t0 = time.perf_counter()
    for t in TABLES:
        with tracer.span("maintenance.compact_published"):
            done = publish.compact_published(spark, store, t, min_files=1)
        before += sum(b for b, _a in done.values())
        after += sum(a for _b, a in done.values())
    compact_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("maintenance.vacuum"):
        publish.vacuum(store)
    return {
        "maintenance.compact_s": compact_s,
        "maintenance.vacuum_s": time.perf_counter() - t0,
        "maintenance.files_before": before,
        "maintenance.files_after": after,
    }


def _span_layers(tracer: Tracer, run_dir: str) -> dict[str, float]:
    """Per-layer numbers from the spans and the Spark event log."""
    spans = tracer.spans
    jobs = read_event_log(os.path.join(run_dir, "eventlog"))
    attribute(jobs, spans)
    selfs = self_times(spans)
    jobs_in: dict[int, list] = {}
    for j in jobs:
        if j.span is not None:
            jobs_in.setdefault(j.span, []).append(j)

    def sub_jobs(i: int) -> list:
        return [j for k in subtree(spans, i) for j in jobs_in.get(k, [])]

    def named(name: str) -> list[int]:
        return [i for i, s in enumerate(spans) if s.name == name and s.op is not None]

    def dur(name: str) -> float:
        return median(spans[i].end - spans[i].start for i in named(name))

    def jobs_of(name: str, attr: str | None = None) -> float:
        if attr is None:
            return median(len(sub_jobs(i)) for i in named(name))
        return median(sum(getattr(j, attr) for j in sub_jobs(i)) for i in named(name))

    return {
        "ingest.transform_s": dur("ingest.transform"),
        "publish.commit_s": dur("publish.publish_batch"),
        "publish.jobs_per_commit": jobs_of("publish.publish_batch"),
        "publish.tasks_per_commit": jobs_of("publish.publish_batch", "tasks"),
        "publish.resolve_s": median(selfs[i] for i in named("publish.read_published")),
        "silver.update_s": dur("silver.update_continuation_history"),
        "silver.jobs_per_update": jobs_of("silver.update_continuation_history"),
        "silver.lookup_s": dur("silver.lookup_history"),
        "bounded_scan.request_s": median(
            spans[i].end - spans[i].start
            for i in named("read.search_p1") + named("read.search_p2")
        ),
        "spark.jobs_per_op": jobs_of("op"),
        "spark.tasks_per_op": jobs_of("op", "tasks"),
        "spark.shuffle_bytes_per_op": jobs_of("op", "shuffle_bytes"),
        "spark.executor_cpu_s_per_op": jobs_of("op", "executor_cpu_s"),
        "spark.spill_bytes": sum(j.spill_bytes for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
    }
