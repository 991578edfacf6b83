"""Chainweb domain queries — the reference's HTTP endpoint semantics
(haskell-src/exec/Chainweb/Server.hs handler per query, SURVEY §3.1/§7.1
step 5) over the six ingested tables.

These run on the deterministic chainweb fixture (fixtures/generate.py,
seed=42, committed under .fixtures/chainweb/ — built by the REAL ingest
transforms), not on the TPC-H testdata: the domain shape (orphan twins,
continuation chains, coinbase events, cursor orders) doesn't exist there.
Each query still registers a DuckDB oracle — reading the fixture parquet by
absolute path — so the driver hash-gate covers the reference's own query
surface, not just generic analogs.

Conventions as in registry.py: timestamps → epoch-µs bigints, decimals →
double at the output edge, every LIMIT behind a total ORDER BY.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures.generate import fixture_dir, write_chainweb_fixture
from ..operators.cursor import CursorSpec, keyset_page
from ..operators.gaps import detect_gaps
from ..schemas.chainweb import CONTINUATION_MAX_DEPTH
from .registry import register

FIX = fixture_dir()  # /root/repo/.fixtures/chainweb

# DuckDB reads the spark-written parquet directories via glob
def _p(table: str) -> str:
    return f"read_parquet('{FIX}/{table}.parquet/*.parquet')"


def _cw(spark: SparkSession, table: str) -> DataFrame:
    if not os.path.exists(os.path.join(FIX, "_DONE")):
        write_chainweb_fixture(spark)
    return spark.read.parquet(os.path.join(FIX, f"{table}.parquet"))


TS = lambda c: F.unix_micros(F.col(c))  # noqa: E731


# ---------------------------------------------------------------------------
# /txs/recent — O2 (Server.hs:621-631)
# ---------------------------------------------------------------------------


@register(
    "cw_recent_txs",
    oracle=f"""
    SELECT requestkey, chainid, height, epoch_us(creationtime) AS creationtime_us,
           sender, code IS NOT NULL AS has_code, num_events
    FROM {_p('transactions')}
    ORDER BY height DESC, requestkey DESC, block LIMIT 10
    """,
)
def cw_recent_txs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getTransactionsRow (Server.hs:621-631): newest txs, summary
    projection (P6).  TakeOrdered top-10 — no full sort at any scale."""
    tx = _cw(spark, "transactions")
    return (
        tx.orderBy(F.desc("height"), F.desc("requestkey"), F.asc("block"))
        .limit(10)
        .select(
            "requestkey",
            "chainid",
            "height",
            TS("creationtime").alias("creationtime_us"),
            "sender",
            F.col("code").isNotNull().alias("has_code"),
            "num_events",
        )
    )


# ---------------------------------------------------------------------------
# /txs/search — P2 + O1 + continuation-code fallback (Queries.hs:146-162)
# ---------------------------------------------------------------------------

_CONT_WALK_SQL = f"""
    dtx AS (SELECT DISTINCT requestkey, pactid, code FROM {_p('transactions')}),
    starts AS (SELECT DISTINCT requestkey AS start_rk, pactid
               FROM {_p('transactions')} WHERE pactid IS NOT NULL),
    walk AS (
      SELECT s.start_rk, 0 AS depth, d.requestkey AS rk, d.pactid, d.code
      FROM starts s JOIN dtx d ON d.requestkey = s.pactid
      UNION
      SELECT w.start_rk, w.depth + 1, d.requestkey, d.pactid, d.code
      FROM walk w JOIN dtx d ON d.requestkey = w.pactid
    )
"""


@register(
    "cw_search_txs",
    oracle=f"""
    WITH RECURSIVE {_CONT_WALK_SQL},
    initial AS (
      SELECT start_rk, max(code) FILTER (WHERE code IS NOT NULL) AS initial_code
      FROM walk GROUP BY start_rk
    )
    SELECT t.requestkey, t.chainid, t.height,
           epoch_us(t.creationtime) AS creationtime_us, t.sender,
           COALESCE(t.code, i.initial_code, '') AS search_code
    FROM {_p('transactions')} t
    LEFT JOIN initial i ON i.start_rk = t.requestkey
    WHERE COALESCE(t.code, i.initial_code, '') LIKE '%transfer%'
    ORDER BY t.height DESC, t.requestkey DESC, t.block LIMIT 40
    """,
)
def cw_search_txs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """searchTxs (Queries.hs:146-162): code LIKE with the continuation
    fallback — a continuation tx (code NULL) searches by the code of the
    exec tx that STARTED its defpact (Queries.hs:153-157), via the
    continuation-history walk (J4)."""
    tx = _cw(spark, "transactions")
    hist = continuation_histories(tx).select(
        F.col("start_rk").alias("requestkey"), "initial_code"
    )
    search_code = F.coalesce(F.col("code"), F.col("initial_code"), F.lit(""))
    return (
        tx.join(F.broadcast(hist), "requestkey", "left")
        .withColumn("search_code", search_code)
        .filter(F.col("search_code").contains("transfer"))
        .orderBy(F.desc("height"), F.desc("requestkey"), F.asc("block"))
        .limit(40)
        .select(
            "requestkey",
            "chainid",
            "height",
            TS("creationtime").alias("creationtime_us"),
            "sender",
            "search_code",
        )
    )


# ---------------------------------------------------------------------------
# continuation history — J4 (Queries.hs:112-137, WITH RECURSIVE)
# ---------------------------------------------------------------------------


def continuation_histories(tx: DataFrame) -> DataFrame:
    """(start_rk, initial_code, n_steps, steps_csv): the defpact history
    behind each continuation tx of ``tx``, walked by Spark's native
    recursive CTE — the reference's own construct (Queries.hs:112-137).

    Spark's recursive CTE supports only UNION ALL (UNION_NOT_SUPPORTED_IN_
    RECURSIVE_CTE), so dedup happens in one DISTINCT after the recursion —
    equivalent to the oracle's UNION set semantics because every walk row
    carries its depth (a duplicate can only coincide with its orphan twin
    at the same depth, the analog of the CTE's DISTINCT ON (depth),
    Queries.hs:126-130).  The recursive step stops at
    ``CONTINUATION_MAX_DEPTH``, the bound the silver ingest walk shares, so
    a pactid cycle in a corrupt feed ends there instead of at Spark's
    recursion-level limit.

    ``dtx`` is CACHED before the recursion instead of being a CTE: Spark's
    UnionLoop re-plans the recursive step per iteration, and as a plain
    CTE the DISTINCT-aggregate over the transactions scan re-ran in EVERY
    iteration.  Cached, the per-iteration plan is a scan of the in-memory
    relation, whose size statistics also let the per-step join broadcast.
    The inputs reach the SQL as temp views: passed as ``spark.sql``
    DataFrame arguments the same walk runs two more jobs.

    Scale: a walk over every start is bounded by Spark's recursive-CTE row
    limit (``spark.sql.cteRecursionRowLimit``, 1,000,000 rows by default),
    which fails the query loudly rather than truncating it.  The ingest
    path keeps its own per-batch walk (streaming/silver.py), which probes
    only the batch's parents.
    """
    dtx = tx.select("requestkey", "pactid", "code").distinct().cache()
    dtx.createOrReplaceTempView("_cw_dtx")
    tx.createOrReplaceTempView("_cw_tx")
    return tx.sparkSession.sql(
        f"""
        WITH RECURSIVE
        starts AS (SELECT DISTINCT requestkey AS start_rk, pactid
                   FROM _cw_tx WHERE pactid IS NOT NULL),
        walk AS (
          SELECT s.start_rk, 0 AS depth, d.requestkey AS rk, d.pactid, d.code
          FROM starts s JOIN _cw_dtx d ON d.requestkey = s.pactid
          UNION ALL
          SELECT w.start_rk, w.depth + 1, d.requestkey, d.pactid, d.code
          FROM walk w JOIN _cw_dtx d ON d.requestkey = w.pactid
          WHERE w.depth + 1 < {CONTINUATION_MAX_DEPTH}
        ),
        dwalk AS (SELECT DISTINCT start_rk, depth, rk, code FROM walk)
        SELECT start_rk,
               max(CASE WHEN code IS NOT NULL THEN code END) AS initial_code,
               COUNT(*) AS n_steps,
               array_join(
                 transform(array_sort(collect_list(struct(depth, rk))),
                           s -> s.rk), ',') AS steps_csv
        FROM dwalk GROUP BY start_rk
        """
    )


@register(
    "cw_continuation_history",
    oracle=f"""
    WITH RECURSIVE {_CONT_WALK_SQL}
    SELECT start_rk,
           max(code) FILTER (WHERE code IS NOT NULL) AS initial_code,
           COUNT(*) AS n_steps,
           string_agg(rk, ',' ORDER BY depth) AS steps_csv
    FROM walk GROUP BY start_rk ORDER BY start_rk
    """,
)
def cw_continuation_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 end-to-end: every continuation tx's full backward walk, checked
    against DuckDB's native WITH RECURSIVE."""
    return continuation_histories(_cw(spark, "transactions")).orderBy("start_rk")


# ---------------------------------------------------------------------------
# /txs/events — P3 + O1 + J2 (Queries.hs:164-228)
# ---------------------------------------------------------------------------


@register(
    "cw_search_events",
    oracle=f"""
    SELECT e.requestkey, e.block, e.chainid, e.height, e.idx, e.qualname,
           e.paramtext, epoch_us(b.creationtime) AS block_time_us
    FROM {_p('events')} e
    JOIN {_p('blocks')} b ON e.block = b.hash
    WHERE (e.qualname LIKE '%TRANSFER%' OR e.paramtext LIKE '%alice%')
      AND e.height >= 100
    ORDER BY e.height DESC, e.requestkey DESC, e.idx ASC, e.block LIMIT 40
    """,
)
def cw_search_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eventsSearch (Queries.hs:164-228): LIKE predicates + height floor,
    cursor order (height DESC, requestkey DESC, idx ASC), limit, THEN the
    block-time decoration join on the emitted page only (X11
    decorator-after-limit: the join input is 40 rows → broadcast)."""
    ev = _cw(spark, "events")
    bl = _cw(spark, "blocks").select(
        F.col("hash").alias("block"), F.col("creationtime").alias("_bt")
    )
    page = (
        ev.filter(
            (F.col("qualname").contains("TRANSFER") | F.col("paramtext").contains("alice"))
            & (F.col("height") >= 100)
        )
        .orderBy(F.desc("height"), F.desc("requestkey"), F.asc("idx"), F.asc("block"))
        .limit(40)
    )
    return page.join(F.broadcast(bl), "block").select(
        "requestkey",
        "block",
        "chainid",
        "height",
        "idx",
        "qualname",
        "paramtext",
        F.unix_micros(F.col("_bt")).alias("block_time_us"),
    )


# ---------------------------------------------------------------------------
# /txs/account — U1 + J3 + J5 (Queries.hs:251-339)
# ---------------------------------------------------------------------------


def _xchain_lateral(spark: SparkSession) -> DataFrame:
    """J5 (Queries.hs:291-339): resolve the remote (account, chain) of a
    cross-chain transfer leg from the neighboring event in the same tx.

    send leg (to_acct = ''): the TRANSFER_XCHAIN event at idx-1 carries the
    target account (params[1]) and target chain (params[3]);
    receive leg (from_acct = ''): the X_RESUME event at idx-1 carries the
    source chain (params[0]) and accounts (params[2]).
    The reference does this as two correlated laterals + UNION ALL default;
    here: two left equi-joins + coalesce (same rows, no laterals needed).
    """
    ev = _cw(spark, "events")
    send = ev.filter(F.col("qualname").endswith("TRANSFER_XCHAIN")).select(
        F.col("block").alias("_b"),
        F.col("requestkey").alias("_rk"),
        (F.col("idx") + 1).alias("_nidx"),
        F.col("param_1").alias("_send_acct"),
        F.get_json_object("params", "$[3]").cast("long").alias("_send_chain"),
    )
    recv = ev.filter(F.col("qualname").endswith("X_RESUME")).select(
        F.col("block").alias("_b2"),
        F.col("requestkey").alias("_rk2"),
        (F.col("idx") + 1).alias("_nidx2"),
        F.get_json_object("params", "$[2][1]").alias("_recv_acct"),
        F.col("param_0").cast("long").alias("_recv_chain"),
    )
    tr = _cw(spark, "transfers")
    return (
        tr.join(
            F.broadcast(send),
            (tr["block"] == send["_b"])
            & (tr["requestkey"] == send["_rk"])
            & (tr["idx"] == send["_nidx"]),
            "left",
        )
        .join(
            F.broadcast(recv),
            (tr["block"] == recv["_b2"])
            & (tr["requestkey"] == recv["_rk2"])
            & (tr["idx"] == recv["_nidx2"]),
            "left",
        )
        .select(
            tr["*"],
            F.when(F.col("to_acct") == "", F.col("_send_acct"))
            .when(F.col("from_acct") == "", F.col("_recv_acct"))
            .alias("x_acct"),
            F.when(F.col("to_acct") == "", F.col("_send_chain"))
            .when(F.col("from_acct") == "", F.col("_recv_chain"))
            .alias("x_chainid"),
        )
    )


_XCHAIN_ORACLE_CTE = f"""
    xs AS (
      SELECT block AS _b, requestkey AS _rk, idx + 1 AS _nidx,
             param_1 AS _send_acct,
             CAST(json_extract_string(params, '$[3]') AS BIGINT) AS _send_chain
      FROM {_p('events')} WHERE qualname LIKE '%TRANSFER_XCHAIN'
    ),
    xr AS (
      SELECT block AS _b2, requestkey AS _rk2, idx + 1 AS _nidx2,
             json_extract_string(params, '$[2][1]') AS _recv_acct,
             CAST(param_0 AS BIGINT) AS _recv_chain
      FROM {_p('events')} WHERE qualname LIKE '%X_RESUME'
    ),
    trx AS (
      SELECT t.*,
             CASE WHEN t.to_acct = '' THEN xs._send_acct
                  WHEN t.from_acct = '' THEN xr._recv_acct END AS x_acct,
             CASE WHEN t.to_acct = '' THEN xs._send_chain
                  WHEN t.from_acct = '' THEN xr._recv_chain END AS x_chainid
      FROM {_p('transfers')} t
      LEFT JOIN xs ON t.block = xs._b AND t.requestkey = xs._rk AND t.idx = xs._nidx
      LEFT JOIN xr ON t.block = xr._b2 AND t.requestkey = xr._rk2 AND t.idx = xr._nidx2
    )
"""


@register(
    "cw_account_transfers",
    oracle=f"""
    WITH {_XCHAIN_ORACLE_CTE}
    SELECT t.requestkey, t.block, t.chainid, t.height, t.idx, t.modulename,
           t.from_acct, t.to_acct,
           CAST(t.amount * 1000000 AS BIGINT) AS amount_u6,
           t.x_acct, t.x_chainid, epoch_us(b.creationtime) AS block_time_us
    FROM (
      SELECT * FROM trx WHERE from_acct = 'alice' AND modulename = 'coin'
      UNION ALL
      SELECT * FROM trx WHERE to_acct = 'alice' AND modulename = 'coin'
    ) t
    JOIN {_p('blocks')} b ON t.block = b.hash
    ORDER BY t.height DESC, t.requestkey DESC, t.idx ASC, t.block LIMIT 40
    """,
)
def cw_account_transfers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """accountHandler (Server.hs:493-546 / Queries.hs:251-339): two-leg
    UNION ALL on the account, token filter, cursor order + limit, then
    block-time decoration and the cross-chain lateral columns.

    Spark note (SURVEY §2.7 U1): the reference unions two index scans;
    columnar Spark reads the table once — Catalyst collapses the union into
    one scan with OR'd pushed filters."""
    trx = _xchain_lateral(spark)
    legs = trx.filter(
        (F.col("from_acct") == "alice") & (F.col("modulename") == "coin")
    ).unionAll(
        trx.filter((F.col("to_acct") == "alice") & (F.col("modulename") == "coin"))
    )
    bl = _cw(spark, "blocks").select(
        F.col("hash").alias("block"), F.col("creationtime").alias("_bt")
    )
    page = legs.orderBy(
        F.desc("height"), F.desc("requestkey"), F.asc("idx"), F.asc("block")
    ).limit(40)
    return page.join(F.broadcast(bl), "block").select(
        "requestkey",
        "block",
        "chainid",
        "height",
        "idx",
        "modulename",
        "from_acct",
        "to_acct",
        # micro-KDA integer: decimal→double casts differ by 1 ulp between
        # engines, so the exact 6-dp fixture amounts travel as exact longs
        (F.col("amount") * F.lit(1_000_000)).cast("long").alias("amount_u6"),
        "x_acct",
        "x_chainid",
        F.unix_micros(F.col("_bt")).alias("block_time_us"),
    )


# ---------------------------------------------------------------------------
# /txs/tx + /txs/txs — P5 exact-key lookup (Server.hs:408-441)
# ---------------------------------------------------------------------------


@register(
    "cw_tx_by_requestkey",
    oracle=f"""
    WITH target AS (
      SELECT requestkey FROM {_p('transactions')}
      WHERE code IS NOT NULL GROUP BY requestkey
      ORDER BY COUNT(*) DESC, requestkey LIMIT 1
    )
    SELECT t.requestkey, t.block, t.chainid, t.height, t.sender, t.gas,
           t.goodresult IS NOT NULL AS succeeded,
           COALESCE(e.n_events, 0) AS n_events_in_block,
           COALESCE(s.n_signers, 0) AS n_signers
    FROM {_p('transactions')} t
    LEFT JOIN (SELECT block, requestkey, COUNT(*) AS n_events
               FROM {_p('events')} GROUP BY block, requestkey) e
           ON e.block = t.block AND e.requestkey = t.requestkey
    LEFT JOIN (SELECT requestkey, COUNT(*) AS n_signers
               FROM {_p('signers')} GROUP BY requestkey) s
           ON s.requestkey = t.requestkey
    WHERE t.requestkey = (SELECT requestkey FROM target)
    ORDER BY t.block
    """,
)
def cw_tx_by_requestkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queryTxsByKey (Server.hs:408-441): one requestkey → ALL branch rows
    (orphans first-class, §7.3 hard-part 4), each with its events counted
    *in the same block only* (Server.hs:437-441) and ordered signers.
    Target = a requestkey that appears on ≥1 branch, picked
    deterministically so the oracle agrees."""
    tx = _cw(spark, "transactions")
    ev = _cw(spark, "events")
    sg = _cw(spark, "signers")
    target = (
        tx.filter(F.col("code").isNotNull())
        .groupBy("requestkey")
        .count()
        .orderBy(F.desc("count"), F.asc("requestkey"))
        .limit(1)
        .select("requestkey")
    )
    evn = ev.groupBy("block", "requestkey").agg(F.count("*").alias("n_events_in_block"))
    sgn = sg.groupBy("requestkey").agg(F.count("*").alias("n_signers"))
    return (
        tx.join(F.broadcast(target), "requestkey", "left_semi")
        .join(evn, ["block", "requestkey"], "left")
        .join(sgn, "requestkey", "left")
        .select(
            "requestkey",
            "block",
            "chainid",
            "height",
            "sender",
            "gas",
            F.col("goodresult").isNotNull().alias("succeeded"),
            F.coalesce(F.col("n_events_in_block"), F.lit(0)).alias("n_events_in_block"),
            F.coalesce(F.col("n_signers"), F.lit(0)).alias("n_signers"),
        )
        .orderBy("block")
    )


# ---------------------------------------------------------------------------
# /txs/search?pactid= — O3 (Server.hs:449-460)
# ---------------------------------------------------------------------------


@register(
    "cw_txs_by_pactid",
    oracle=f"""
    SELECT requestkey, pactid, step, height,
           goodresult IS NOT NULL AS succeeded
    FROM {_p('transactions')}
    WHERE pactid IS NOT NULL
    ORDER BY (goodresult IS NOT NULL) DESC, height DESC, requestkey DESC, block
    LIMIT 50
    """,
)
def cw_txs_by_pactid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queryTxsByPactId (Server.hs:449-460): continuation steps ranked
    success-first then newest (the order the partial pactid covering index
    serves in Postgres — here it's a TakeOrdered over the pushed
    pactid-not-null filter)."""
    tx = _cw(spark, "transactions")
    return (
        tx.filter(F.col("pactid").isNotNull())
        .orderBy(
            F.col("goodresult").isNotNull().desc(),
            F.desc("height"),
            F.desc("requestkey"),
            F.asc("block"),
        )
        .limit(50)
        .select(
            "requestkey",
            "pactid",
            "step",
            "height",
            F.col("goodresult").isNotNull().alias("succeeded"),
        )
    )


# ---------------------------------------------------------------------------
# /stats + per-chain min/max — A1/A2/A4 (Server.hs:396-406, Gaps.hs:190-195)
# ---------------------------------------------------------------------------


@register(
    "cw_stats",
    oracle=f"""
    SELECT (SELECT MAX(height) FROM {_p('blocks')}) AS max_height,
           (SELECT COUNT(*) FROM {_p('transactions')}) AS n_transactions,
           (SELECT COUNT(*) FROM {_p('events')}) AS n_events,
           (SELECT COUNT(DISTINCT chainid) FROM {_p('blocks')}) AS n_chains
    """,
)
def cw_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/stats (Server.hs:633-641): counts are parquet-footer metadata reads
    (A4 — the analog of pg_class.reltuples, no scan)."""
    bl = _cw(spark, "blocks")
    tx = _cw(spark, "transactions")
    ev = _cw(spark, "events")
    return (
        bl.agg(
            F.max("height").alias("max_height"),
            F.countDistinct("chainid").alias("n_chains"),
        )
        .crossJoin(tx.agg(F.count("*").alias("n_transactions")))
        .crossJoin(ev.agg(F.count("*").alias("n_events")))
        .select("max_height", "n_transactions", "n_events", "n_chains")
    )


@register(
    "cw_chain_minmax",
    oracle=f"""
    SELECT chainid, MIN(height) AS min_height, MAX(height) AS max_height,
           COUNT(*) AS n_blocks
    FROM {_p('blocks')} GROUP BY chainid ORDER BY chainid
    """,
)
def cw_chain_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (Gaps.hs:190-195): per-chain height envelope — the fill planner's
    input."""
    bl = _cw(spark, "blocks")
    return (
        bl.groupBy("chainid")
        .agg(
            F.min("height").alias("min_height"),
            F.max("height").alias("max_height"),
            F.count("*").alias("n_blocks"),
        )
        .orderBy("chainid")
    )


# ---------------------------------------------------------------------------
# gap detection — W1 (Gaps.hs:156-188)
# ---------------------------------------------------------------------------


@register(
    "cw_gaps",
    oracle=f"""
    SELECT chainid, height + 1 AS gap_start, next_h - 1 AS gap_end,
           next_h - height - 1 AS gap_len
    FROM (
      SELECT chainid, height,
             lead(height) OVER (PARTITION BY chainid ORDER BY height) AS next_h
      FROM (SELECT DISTINCT chainid, height FROM {_p('blocks')})
    ) WHERE next_h - height > 1
    ORDER BY chainid, gap_start
    """,
)
def cw_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getBlockGaps (Gaps.hs:156-188): lead-window hole detection over
    distinct (chain, height) — orphan twins collapse first, exactly like the
    reference's DISTINCT."""
    return detect_gaps(_cw(spark, "blocks"), "chainid", "height").orderBy(
        "chainid", "gap_start"
    )


# ---------------------------------------------------------------------------
# richlist — J6 + A7 + O7 (RichList.hs:95-120)
# ---------------------------------------------------------------------------


@register(
    "cw_richlist",
    oracle=f"""
    WITH flows AS (
      SELECT to_acct AS acct, CAST(amount AS DECIMAL(38,18)) AS delta
      FROM {_p('transfers')} WHERE modulename = 'coin' AND to_acct <> ''
      UNION ALL
      SELECT from_acct AS acct, -CAST(amount AS DECIMAL(38,18)) AS delta
      FROM {_p('transfers')} WHERE modulename = 'coin' AND from_acct <> ''
    )
    SELECT acct, CAST(SUM(delta) * 1000000 AS BIGINT) AS balance_u6
    FROM flows GROUP BY acct
    ORDER BY balance_u6 DESC, acct LIMIT 100
    """,
)
def cw_richlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """richlist (RichList.hs:95-120): top-100 balances.  The reference scans
    the node's per-chain SQLite ledgers (S7); the engine-side equivalent
    derives balances from the transfers ledger: +incoming −outgoing per
    account (coinbase mints come from the '' miner leg).  Decimal-exact sum,
    double only at the edge."""
    tr = _cw(spark, "transfers").filter(F.col("modulename") == "coin")
    inflow = tr.filter(F.col("to_acct") != "").select(
        F.col("to_acct").alias("acct"),
        F.col("amount").cast("decimal(38,18)").alias("delta"),
    )
    outflow = tr.filter(F.col("from_acct") != "").select(
        F.col("from_acct").alias("acct"),
        (-F.col("amount").cast("decimal(38,18)")).alias("delta"),
    )
    return (
        inflow.unionAll(outflow)
        .groupBy("acct")
        .agg((F.sum("delta") * F.lit(1_000_000)).cast("long").alias("balance_u6"))
        .orderBy(F.desc("balance_u6"), F.asc("acct"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# bounded scan — O6 governor (BoundedScan.hs:90-254)
# ---------------------------------------------------------------------------

# The event cursor (Server.hs:557-566 EventCursor) extended with the block
# hash as the final tie-break: orphan twins share (height, requestkey, idx),
# so the reference's 3-column cursor is ambiguous at a page boundary that
# splits a twin group — the 4th column makes the order total and the resume
# exact (ADVICE r01).  The leading height conjunct still drives row-group
# pruning; the extra column only refines equality ties.
EVENTS_CURSOR = CursorSpec(
    cols=("height", "requestkey", "idx", "block"),
    descs=(True, True, False, False),
)


@register(
    "cw_bounded_search",
    oracle=f"""
    SELECT requestkey, block, chainid, height, idx, qualname
    FROM {_p('events')}
    WHERE paramtext LIKE '%alice%'
      AND height > (SELECT MAX(height) FROM {_p('events')}) - 120
    ORDER BY height DESC, requestkey DESC, idx ASC, block ASC
    LIMIT 20
    """,
)
def cw_bounded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """performBoundedScan semantics (BoundedScan.hs:175-254) through the
    height-slice governor (plans/bounded_scan.py): budget = 2 slices × 60
    heights ⇒ exactly the top-120-height window is examined; ≤20 matches
    emitted in cursor order.  The oracle states the equivalent observable
    contract declaratively."""
    from ..plans.bounded_scan import bounded_scan

    res = bounded_scan(
        _cw(spark, "events"),
        F.col("paramtext").contains("alice"),
        EVENTS_CURSOR,
        limit=20,
        slice_width=60,
        budget_slices=2,
    )
    cols = ["requestkey", "block", "chainid", "height", "idx", "qualname"]
    rows = [[r[c] for c in cols] for r in res.rows]
    return spark.createDataFrame(
        rows, "requestkey string, block string, chainid long, height long, idx long, qualname string"
    ).select(*cols)


# ---------------------------------------------------------------------------
# circulating coins — A8 (Coins.hs:118-158)
# ---------------------------------------------------------------------------


def _coins_oracle() -> str:
    from ..operators.coins import (
        REWARD_SCHEDULE,
        allocation_case_sql,
        reward_values_sql,
    )

    lo_h, lo_c = REWARD_SCHEDULE[0]
    hi_h, hi_c = REWARD_SCHEDULE[-1]
    return f"""
    WITH hs AS (
      SELECT chainid, height, MIN(epoch_us(creationtime)) AS ts_us
      FROM {_p('blocks')} GROUP BY chainid, height
    ),
    iv(lo, hi, cum_lo, rate) AS (VALUES {reward_values_sql()}),
    curves AS (
      SELECT chainid, height, ts_us,
             CASE WHEN height < {lo_h} THEN CAST({lo_c!r} AS DOUBLE)
                  WHEN height >= {hi_h} THEN CAST({hi_c!r} AS DOUBLE)
                  ELSE iv.cum_lo + (height - iv.lo) * iv.rate END AS mined,
             {allocation_case_sql('ts_us')} AS unlocked
      FROM hs LEFT JOIN iv ON height >= iv.lo AND height < iv.hi
    )
    SELECT chainid, height, ts_us, mined, unlocked,
           mined + unlocked AS circulating
    FROM curves ORDER BY chainid, height
    """


@register("cw_coins", oracle=_coins_oracle())
def cw_coins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getCirculatingCoins (Coins.hs:118-158): mined = piecewise-linear
    interpolation on the cumulative reward schedule; unlocked = allocation
    step function of block time; evaluated for every (chain, height) in the
    fixture.  Both curves execute as a broadcast interval-join + folded CASE
    — one scan, no shuffle beyond the groupBy."""
    from ..operators.coins import with_circulating

    bl = _cw(spark, "blocks")
    hs = bl.groupBy("chainid", "height").agg(
        F.min(F.unix_micros(F.col("creationtime"))).alias("ts_us")
    )
    return with_circulating(hs, "height", "ts_us").orderBy("chainid", "height")


# ---------------------------------------------------------------------------
# keyset pagination over the domain cursor — O5 (BoundedScan.hs:256-266)
# ---------------------------------------------------------------------------

_EVENTS_PAGE_COLS = ("requestkey", "block", "chainid", "height", "idx", "name")


def events_page(
    spark: SparkSession, token: str | None = None, limit: int = 25
) -> tuple[list, str | None]:
    """One /txs/events page — the server-handler flow (Server.hs:484-491):
    decode the opaque continuation token, keyset-resume strictly after it,
    emit ≤ limit rows, and hand back the next token (None when the page is
    under-filled, i.e. the result set is exhausted).

    The collect is the response page itself (≤ limit rows by construction);
    everything before it is a lazy keyset plan whose leading height range
    conjunct reaches the parquet scan."""
    from ..operators.cursor import decode_next_token, encode_next_token

    if limit < 1:
        # the reference 400s a non-positive Limit (Server.hs:317-319); an
        # empty page would otherwise satisfy len(rows) == limit and emit a
        # bogus token from rows[-1]
        raise ValueError(f"limit must be >= 1, got {limit}")
    ev = _cw(spark, "events")
    cursor = None
    if token is not None:
        decoded, _ = decode_next_token(token)
        # arity check: a forged token with fewer values than the cursor spec
        # would zip-truncate keyset_predicate into a weaker predicate and
        # serve overlapping pages — malformed ⇒ the 400 contract
        if len(decoded) != len(EVENTS_CURSOR.cols):
            raise ValueError(f"malformed continuation token: {token!r}")
        cursor = tuple(decoded)
    rows = (
        keyset_page(ev, EVENTS_CURSOR, cursor, limit)
        .select(*_EVENTS_PAGE_COLS)
        .collect()
    )
    next_token = None
    if len(rows) == limit:
        last = rows[-1]
        next_token = encode_next_token([last[c] for c in EVENTS_CURSOR.cols])
    return rows, next_token


@register(
    "cw_events_page_after",
    oracle=f"""
    SELECT requestkey, block, chainid, height, idx, name
    FROM {_p('events')}
    ORDER BY height DESC, requestkey DESC, idx ASC, block ASC
    LIMIT 25 OFFSET 25
    """,
)
def cw_events_page_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset resume through the FULL token round-trip: page 1 is served,
    its next-token encoded (O8), decoded again, and page 2 built from the
    decoded cursor — the gated result must equal rows 26..50 of the
    unpaginated total order (the Server.hs:484-491 Chainweb-Next contract,
    stated declaratively by the oracle's OFFSET form)."""
    from ..operators.cursor import decode_next_token

    _, token = events_page(spark, token=None, limit=25)
    decoded, _ = decode_next_token(token)
    ev = _cw(spark, "events")
    return keyset_page(ev, EVENTS_CURSOR, tuple(decoded), 25).select(
        *_EVENTS_PAGE_COLS
    )


# ---------------------------------------------------------------------------
# J4 under its second registered name (bench.py HEADLINE, perfbench)
# ---------------------------------------------------------------------------


@register(
    "cw_continuation_history_rcte",
    oracle=f"""
    WITH RECURSIVE {_CONT_WALK_SQL}
    SELECT start_rk,
           max(code) FILTER (WHERE code IS NOT NULL) AS initial_code,
           COUNT(*) AS n_steps,
           string_agg(rk, ',' ORDER BY depth) AS steps_csv
    FROM walk GROUP BY start_rk ORDER BY start_rk
    """,
)
def cw_continuation_history_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same walk as ``cw_continuation_history`` — both run
    :func:`continuation_histories`, Spark's native WITH RECURSIVE.  The
    name stays registered because the bench headliners and the workload
    benchmark time it under this name."""
    return cw_continuation_history(spark, sf_dir)
