"""End-to-end gap fill — the reference's ``gaps`` command
(``haskell-src/exec/Chainweb/Gaps.hs:60-195``): find missing height ranges
in the store, fetch them from the node, ingest the results.

Composition of the already-tested pieces, in the reference's order:

1. detect: the W1 lead-window operator over the store's blocks
   (``operators/gaps.py``; Gaps.hs's SQL window at 156-188);
2. plan: chunk each (chain, gap) into ≤120-height fetch ranges
   (``plans/fill.py gap_ranges_to_plan`` = createRanges, Gaps.hs:82-91);
3. fetch: the retrying executor (``ingest/fetch.py run_fetch_plan`` =
   blocksBetween + handleRequest retry taxonomy);
4. ingest: the same pure transforms and the same insert path the
   streaming ``listen`` uses (``payload_to_tables`` → ONE
   ``publish_batch`` commit over all six tables; Gaps.hs:60-195 writes
   through the listener's insert) — a re-fetched boundary block is a
   no-op, exactly the reference's ON CONFLICT, and the filled rows are
   in the store's log like every other published row.

Scale: detection is one window over the published blocks table's
(chainid, height) projection (column-pruned scan); fetching parallelism
is the executor thread pool; ingestion is the normal bucket-partitioned
publish whose duplicate probe prunes to the fetched ranges' buckets.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..ingest.fetch import FetchPolicy, FetchReport, Transport, raw_df_from_report, run_fetch_plan
from ..ingest.transforms import payload_to_tables
from ..operators.gaps import detect_gaps
from ..streaming.publish import publish_batch, read_published
from .fill import gap_ranges_to_plan


def find_gap_plan(
    spark: SparkSession, store_dir: str, chunk: int = 120
) -> list[tuple[int, int, int]]:
    """(chain, low, high) fetch ranges for every missing height range
    between the store's per-chain min and max heights (the published
    snapshot; an empty store has none)."""
    blocks = read_published(spark, store_dir, "blocks")
    if blocks is None:
        return []
    gaps = [
        (r["chainid"], r["gap_start"], r["gap_end"])
        for r in detect_gaps(blocks.select("chainid", "height"), "chainid", "height")
        .select("chainid", "gap_start", "gap_end")
        .collect()
    ]
    return gap_ranges_to_plan(gaps, chunk)


def fill_gaps(
    spark: SparkSession,
    store_dir: str,
    transport: Transport,
    policy: FetchPolicy | None = None,
    event_min_height: int = 0,
    chunk: int = 120,
) -> FetchReport:
    """Detect, fetch, and ingest every interior gap in the store as ONE
    ``publish_batch`` commit.  Returns the fetch report (failed ranges
    stay missing and will be found again by the next run — the
    reference's behavior on fetch errors, Gaps.hs:112-127).  The
    operator entry point of README's gap-fill example; no library code
    calls it."""
    plan = find_gap_plan(spark, store_dir, chunk)
    report = run_fetch_plan(transport, plan, policy)
    if report.rows:
        tables = payload_to_tables(
            raw_df_from_report(spark, report), event_min_height=event_min_height
        )
        publish_batch(spark, tables, store_dir)
    return report
