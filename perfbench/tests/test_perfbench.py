"""The benchmark's own tests: seeded inputs, span/job attribution on a
synthetic event log, the log-store counter, and the result line.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import feed, metrics, trace  # noqa: E402
from perfbench.explorer import result_hash  # noqa: E402

# ---------------------------------------------------------------------------
# seeded feed
# ---------------------------------------------------------------------------


def _digest(f: feed.TipFeed) -> str:
    h = hashlib.sha256()
    for b in f.history + [b for batch in f.batches for b in batch]:
        h.update(b.row["header"].encode())
        h.update(b.row["payload"].encode())
    return h.hexdigest()


def test_feed_is_identical_for_a_seed_and_differs_across_seeds():
    a, b = feed.tip_feed(5, 3, 2), feed.tip_feed(5, 3, 2)
    assert _digest(a) == _digest(b)
    assert [len(x) for x in a.batches] == [len(x) for x in b.batches]
    assert _digest(feed.tip_feed(6, 3, 2)) != _digest(a)


def test_batches_carry_new_heights_plus_redeliveries():
    f = feed.tip_feed(5, 3, 2)
    for hs, batch in zip(f.heights, f.batches):
        assert len(hs) == feed.HEIGHTS_PER_BATCH
        assert {b.height for b in batch} == {hs[0] - 1, *hs}
        assert sum(b.height == hs[0] - 1 for b in batch) == feed.REDELIVERED
    assert max(b.height for b in f.history) == f.heights[0][0] - 1
    assert f.heights[1][0] == f.heights[0][-1] + 1


def test_expectations_ignore_redelivered_blocks():
    f = feed.tip_feed(5, 3, 2)
    e = feed.Expectations()
    e.deliver(f.history)
    e.deliver([b for b in f.batches[0] if b.height in f.heights[0]])
    before = e.counts()
    e.deliver(f.batches[0])  # the re-deliveries are already known
    assert e.counts() == before
    assert before["blocks"] == len(f.history) + len(f.batches[0]) - feed.REDELIVERED


def test_search_order_is_height_desc_requestkey_desc_idx_block_asc():
    e = feed.Expectations()
    e.hits["t"] = {(1, "a", 0, "x"), (2, "a", 1, "y"), (2, "b", 3, "x"),
                   (2, "b", 0, "z"), (2, "b", 0, "w")}
    assert e.search_order("t") == [
        (2, "b", 0, "w"), (2, "b", 0, "z"), (2, "b", 3, "x"), (2, "a", 1, "y"),
        (1, "a", 0, "x"),
    ]


def test_history_walks_every_distinct_lineage_row():
    e = feed.Expectations()
    # origin exec tx re-mined in a twin block with other code: the walk
    # fans out over both rows, as the silver table does
    e.lineage = {("o", None, "c1"), ("o", None, "c2"), ("s1", "o", None),
                 ("s2", "s1", None)}
    assert e.history("s2") == {(0, "s1", None), (1, "o", "c1"), (1, "o", "c2")}
    assert e.history("o") == set()


# ---------------------------------------------------------------------------
# spans, self time, event-log attribution
# ---------------------------------------------------------------------------


def _span(name, start, end, parent, depth, op=0):
    return trace.Span(name, start, end, parent, op, depth)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("op", 0.0, 10.0, None, 0),
        _span("a", 1.0, 4.0, 0, 1),
        _span("a.inner", 2.0, 3.0, 1, 2),
        _span("b", 3.5, 6.0, 0, 1),  # overlaps a: covered once
    ]
    st = trace.self_times(spans)
    assert st == [10.0 - 5.0, 3.0 - 1.0, 1.0, 2.5]


def test_tracer_nests_spans_and_records_op():
    t = trace.Tracer()
    t.op = 3
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert (outer.parent, inner.parent, inner.depth, inner.op) == (None, 0, 1, 3)
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert trace.subtree(t.spans, 0) == {0, 1}


def _write_log(path, jobs, tasks):
    with open(path, "w") as f:
        f.write(json.dumps({"Event": "SparkListenerApplicationStart"}) + "\n")
        for jid, submit_s, stages in jobs:
            f.write(json.dumps({
                "Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": int(submit_s * 1000), "Stage IDs": stages,
            }) + "\n")
        for stage, cpu_ns, shuffle_w, spilled in tasks:
            f.write(json.dumps({
                "Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {
                    "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
                    "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                             "Local Bytes Read": 7},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                    "Memory Bytes Spilled": spilled, "Disk Bytes Spilled": 0,
                },
            }) + "\n")


def test_jobs_go_to_the_innermost_span_open_at_submission(tmp_path):
    t0 = 1_700_000_000.0
    spans = [
        _span("op", t0, t0 + 10, None, 0),
        _span("publish", t0 + 1, t0 + 5, 0, 1),
        _span("read", t0 + 6, t0 + 8, 0, 1),
    ]
    _write_log(
        tmp_path / "app-1",
        jobs=[(0, t0 + 2, [0]), (1, t0 + 3, [1, 2]), (2, t0 + 7, [3]),
              (3, t0 + 9, [4]), (4, t0 + 20, [5])],
        tasks=[(0, 1e9, 10, 0), (1, 2e9, 0, 3), (2, 1e9, 0, 0), (2, 1e9, 0, 0),
               (3, 5e8, 0, 0), (5, 1e9, 0, 0)],
    )
    jobs = trace.read_event_log(str(tmp_path))
    trace.attribute(jobs, spans)
    assert [j.span for j in jobs] == [1, 1, 2, 0, None]
    assert [j.tasks for j in jobs] == [1, 3, 1, 0, 1]
    assert jobs[1].executor_cpu_s == 4.0
    assert jobs[1].spill_bytes == 3
    assert jobs[0].shuffle_bytes == 17
    assert jobs[0].gc_s == 0.005
    in_op = [j for j in jobs if j.span in trace.subtree(spans, 0)]
    assert len(in_op) == 4


def test_event_log_conf_is_uncompressed_and_single_file():
    conf = trace.event_log_conf("/x")
    assert conf["spark.eventLog.compress"] == "false"
    assert conf["spark.eventLog.rolling.enabled"] == "false"


# ---------------------------------------------------------------------------
# log-store counter
# ---------------------------------------------------------------------------


def test_counting_log_store_counts_calls_writes_and_bytes(tmp_path):
    from chainweb_data_spark.streaming.logstore import PosixLogStore

    store = trace.CountingLogStore(PosixLogStore())
    p = str(tmp_path / "a.json")
    store.put_if_absent(p, b"12345")
    store.write_atomic(str(tmp_path / "b.json"), b"123")
    assert store.exists(p)
    assert store.read_bytes(p) == b"12345"
    assert store.snapshot() == (4, 2, 8)


# ---------------------------------------------------------------------------
# result line and BENCHMARK.json
# ---------------------------------------------------------------------------


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_declares_the_metrics_the_command_prints():
    b = _bench_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in b["workloads"]} == {"tip", "explorer"}


def test_result_line_carries_every_named_metric_with_its_unit():
    res = {
        "attempted": 4, "failed": 0,
        "end_to_end": {k: 1.5 for k in metrics.END_TO_END},
        "per_layer": {"session.start_s": 2.0, "publish.commit_s": 3.0},
    }
    untraced = metrics.result_line(res, trace=False)
    assert set(untraced) == {"correct", "attempted", "failed", "metrics"}
    assert untraced["correct"] is True
    assert {k: v["unit"] for k, v in untraced["metrics"].items()} == metrics.END_TO_END
    traced = metrics.result_line(res, trace=True)
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == metrics.PER_LAYER
    assert traced["metrics"]["traced.throughput_per_s"]["value"] == 1.5
    assert traced["metrics"]["publish.commit_s"]["value"] == 3.0
    res["failed"] = 1
    assert metrics.result_line(res, trace=False)["correct"] is False


def test_result_hash_ignores_row_and_column_order():
    a = result_hash(["x", "y"], [(1, "a"), (2.0, None)])
    b = result_hash(["y", "x"], [(None, 2), ("a", 1)])
    assert a == b
    assert a != result_hash(["x", "y"], [(1, "a"), (3, None)])
