"""``explorer`` workload: a closed loop with one client over the 15
registered ``cw_*`` endpoint functions on the committed
``.fixtures/chainweb`` tables.

A request is plan construction plus ``collect()``, which is what a caller
waits for.  The seed orders the requests; a warm-up round, untimed, runs
every class once first.  ``spark.catalog.clearCache()`` runs between
requests, as ``bench.py`` does.  After the loop each class's timed result
is hashed against its DuckDB oracle (``oracle_sqls()``).
"""

from __future__ import annotations

import importlib
import datetime
import decimal
import hashlib
import math
import os
import random
import time

from .harness import Session, gmean_of_medians, median
from .metrics import EXPLORER_CLASSES as CLASSES
from .trace import Tracer, attribute, read_event_log, subtree

WARMUP_ROUNDS = 1
#: nominal seconds per measured round of all 15 classes on a 4-CPU machine
NOMINAL_ROUND_S = 20.0


def n_rounds(seconds: int) -> int:
    return max(1, math.ceil(seconds / NOMINAL_ROUND_S))


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "␀"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return f"{float(v):.17g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, cells
    canonicalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\t".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\t".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def run(seed: int, seconds: int, trace: bool, run_dir: str, session_conf: dict) -> dict:
    from chainweb_data_spark.fixtures.generate import fixture_dir

    # the package re-exports a function under the module's name
    bs = importlib.import_module("chainweb_data_spark.plans.bounded_scan")

    tracer = Tracer()
    slices: list[int] = []
    if trace:
        inner = bs.bounded_scan

        def spanned(*a, **kw):
            with tracer.span("bounded_scan.bounded_scan"):
                res = inner(*a, **kw)
            slices.append(res.slices_examined)
            return res

        bs.bounded_scan = spanned

    t0 = time.perf_counter()
    from chainweb_data_spark.queries import query_fns

    sess = Session("perfbench-explorer", run_dir, session_conf)
    spark = sess.spark
    fns = query_fns()
    fix = fixture_dir()
    missing = [c for c in CLASSES if c not in fns]
    if missing or not os.path.exists(os.path.join(fix, "_DONE")):
        raise RuntimeError(f"explorer surface incomplete: {missing or fix}")
    setup_s = time.perf_counter() - t0

    rng = random.Random(seed)
    rounds = n_rounds(seconds)
    by_class: dict[str, list[float]] = {c: [] for c in CLASSES}
    hashes: dict[str, set[str]] = {c: set() for c in CLASSES}
    lat: list[float] = []
    for r in range(WARMUP_ROUNDS + rounds):
        order = list(CLASSES)
        rng.shuffle(order)
        timed = r >= WARMUP_ROUNDS
        for name in order:
            tracer.op = len(lat) if timed else None
            t_req = time.perf_counter()
            with tracer.span("request" if timed else "warmup"):
                with tracer.span(f"queries.{name}.construct"):
                    df = fns[name](spark, fix)
                with tracer.span(f"queries.{name}.execute"):
                    rows = df.collect()
            dt = time.perf_counter() - t_req
            spark.catalog.clearCache()
            if timed:
                by_class[name].append(dt)
                lat.append(dt)
                hashes[name].add(result_hash(df.columns, rows))

    failures = _check_oracles(hashes)
    end_to_end = {
        "setup_s": setup_s,
        "throughput_per_s": len(lat) / sum(lat),
        "latency_gmean_s": gmean_of_medians(by_class),
        "peak_rss_mb": sess.peak_rss_mb(),
    }
    layers = {"session.start_s": sess.start_s}
    sess.stop()
    if trace:
        layers.update(_span_layers(tracer, run_dir))
        layers["bounded_scan.slices_examined"] = median(slices)
    return {
        "attempted": len(lat),
        "failed": sum(len(by_class[c]) for c in failures),
        "failures": [f"{c}: {failures[c]}" for c in failures],
        "tracer": tracer,
        "end_to_end": end_to_end,
        "per_layer": layers,
    }


def _check_oracles(hashes: dict[str, set[str]]) -> dict[str, str]:
    """Classes whose timed results differ from their DuckDB oracle."""
    import duckdb

    from chainweb_data_spark.queries import oracle_sqls

    sqls = oracle_sqls()
    bad = {}
    con = duckdb.connect()
    try:
        for name, got in hashes.items():
            cur = con.execute(sqls[name])
            want = result_hash([d[0] for d in cur.description], cur.fetchall())
            if got != {want}:
                bad[name] = f"{len(got)} result hash(es), none or not all equal the oracle"
    finally:
        con.close()
    return bad


def _span_layers(tracer: Tracer, run_dir: str) -> dict[str, float]:
    spans = tracer.spans
    jobs = read_event_log(os.path.join(run_dir, "eventlog"))
    attribute(jobs, spans)
    jobs_in: dict[int, list] = {}
    for j in jobs:
        if j.span is not None:
            jobs_in.setdefault(j.span, []).append(j)

    def sub_jobs(i: int) -> list:
        return [j for k in subtree(spans, i) for j in jobs_in.get(k, [])]

    out: dict[str, float] = {}
    for c in CLASSES:
        for part in ("construct", "execute"):
            name = f"queries.{c}.{part}"
            idx = [
                i for i, s in enumerate(spans)
                if s.name == name and spans[s.parent].name == "request"
            ]
            out[f"{name}_s"] = median(spans[i].end - spans[i].start for i in idx)
        req = [
            i for i, s in enumerate(spans)
            if s.name == "request" and spans[i + 1].name == f"queries.{c}.construct"
        ]
        out[f"queries.{c}.jobs"] = median(len(sub_jobs(i)) for i in req)
    reqs = [i for i, s in enumerate(spans) if s.name == "request"]
    bsc = [
        s.end - s.start for s in spans
        if s.name == "bounded_scan.bounded_scan" and s.op is not None
    ]
    out.update({
        "bounded_scan.request_s": median(bsc),
        "spark.jobs_per_op": median(len(sub_jobs(i)) for i in reqs),
        "spark.tasks_per_op": median(sum(j.tasks for j in sub_jobs(i)) for i in reqs),
        "spark.shuffle_bytes_per_op": median(
            sum(j.shuffle_bytes for j in sub_jobs(i)) for i in reqs
        ),
        "spark.executor_cpu_s_per_op": median(
            sum(j.executor_cpu_s for j in sub_jobs(i)) for i in reqs
        ),
        "spark.spill_bytes": sum(j.spill_bytes for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
    })
    return out
