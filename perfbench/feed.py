"""Seeded chain feed for the ``tip`` workload and the independent
expectations its checks compare against.

The feed is the program's own wire format (``fixtures.generate``: header /
powHash / payload rows, 20 chains, orphan twins, height gaps, continuation
chains).  Heights below the generator's event-activation floor carry no
events, so the benchmark drops them: the store starts at the first height
with events, as a node that joined there would.

Everything the checks expect (distinct primary keys per table, the blocks
at a height, event-search pages, continuation histories) is computed here
in plain Python from the decoded feed, never by the engine under test.
"""

from __future__ import annotations

import base64
import json
import random
from dataclasses import dataclass, field

from chainweb_data_spark.fixtures.generate import ACTIVATION_FLOOR, generate_raw_rows

N_CHAINS = 20
#: new heights per tip micro-batch: with one height the continuation walk
#: depth of a batch ranges 1-3 by seed (and its cost with it); three
#: heights reach depth 3 on every seed tried
HEIGHTS_PER_BATCH = 3
#: blocks re-delivered from the previous height in every tip micro-batch
REDELIVERED = 3
#: event-search terms, one search session each: every coinbase event pays
#: a miner ``k:acct00x``, so each block matches the first; the second
#: matches transfer parties
SEARCH_TERMS = ("k:acct0", "k:acct1")


def _b64_json(s: str):
    return json.loads(base64.urlsafe_b64decode(s + "=" * (-len(s) % 4)))


@dataclass
class Block:
    """One decoded feed row plus the primary keys it contributes."""

    row: dict
    hash: str
    height: int
    chainid: int
    pks: dict[str, set] = field(default_factory=dict)
    #: per search term, matching events as cursor keys
    #: (height, requestkey, idx, block)
    search_hits: dict[str, list[tuple]] = field(default_factory=dict)
    #: (requestkey, pactid, code) per transaction
    lineage: list[tuple] = field(default_factory=list)


def _is_amount(v) -> bool:
    if isinstance(v, dict):
        v = v.get("decimal", v.get("int"))
    if isinstance(v, bool):
        return False
    if isinstance(v, (int, float)):
        return True
    if isinstance(v, str):
        try:
            float(v)
            return True
        except ValueError:
            return False
    return False


def _is_transfer(name: str, params) -> bool:
    return (
        name.endswith("TRANSFER")
        and isinstance(params, list)
        and len(params) == 3
        and isinstance(params[0], str)
        and isinstance(params[1], str)
        and _is_amount(params[2])
    )


def decode_block(row: dict) -> Block:
    header = json.loads(row["header"])
    payload = json.loads(row["payload"])
    bh, height, chainid = header["hash"], header["height"], header["chainId"]
    b = Block(row, bh, height, chainid)
    pks: dict[str, set] = {t: set() for t in (
        "blocks", "transactions", "events", "transfers", "signers", "minerkeys"
    )}
    pks["blocks"].add((bh,))
    for key in _b64_json(payload["minerData"]).get("public-keys") or []:
        pks["minerkeys"].add((bh, key))

    def add_event(rk: str, idx: int, ev: dict) -> None:
        params = ev.get("params")
        pks["events"].add((bh, idx, rk))
        text = json.dumps(params, separators=(",", ":"))
        for term in SEARCH_TERMS:
            if term in text:
                b.search_hits.setdefault(term, []).append((height, rk, idx, bh))
        # coinbase events skip the name/arity test (mkTransferRows)
        if rk == "cb" or _is_transfer(ev.get("name") or "", params):
            pks["transfers"].add((bh, chainid, idx, ev.get("moduleHash") or "", rk))

    for ev in _b64_json(payload["coinbase"]).get("events") or []:
        add_event("cb", 0, ev)
    for tx_b64, out_b64 in payload["transactions"]:
        tx, out = _b64_json(tx_b64), _b64_json(out_b64)
        rk = tx["hash"]
        cmd = json.loads(tx["cmd"])
        pks["transactions"].add((bh, rk))
        for i in range(len(cmd.get("signers") or [])):
            pks["signers"].add((rk, i))
        for i, ev in enumerate(out.get("events") or []):
            add_event(rk, i, ev)
        cont = cmd["payload"].get("cont")
        if cont and cont.get("pactId"):
            b.lineage.append((rk, cont["pactId"], None))
        else:
            b.lineage.append((rk, None, cmd["payload"]["exec"]["code"]))
    b.pks = pks
    return b


@dataclass
class TipFeed:
    history: list[Block]  # the catch-up backlog, in feed order
    #: one micro-batch per op: its new heights plus re-delivered blocks
    batches: list[list[Block]]
    heights: list[list[int]]  # the new heights each batch carries

    def rows(self, blocks: list[Block]) -> list[tuple]:
        return [(b.row["header"], b.row["powHash"], b.row["payload"]) for b in blocks]


def tip_feed(seed: int, history_heights: int, n_ops: int) -> TipFeed:
    """The ``tip`` inputs for ``seed``: ``history_heights`` heights of
    backlog, then ``n_ops`` micro-batches of ``HEIGHTS_PER_BATCH`` heights
    each, every batch re-delivering ``REDELIVERED`` seeded blocks of the
    height before it."""
    first = ACTIVATION_FLOOR
    top = first + history_heights + n_ops * HEIGHTS_PER_BATCH
    by_height: dict[int, list[Block]] = {}
    for row in generate_raw_rows(n_chains=N_CHAINS, max_height=top, seed=seed):
        b = decode_block(row)
        if b.height >= first:
            by_height.setdefault(b.height, []).append(b)
    rng = random.Random(seed)
    history = [b for h in range(first, first + history_heights) for b in by_height[h]]
    heights = [
        list(range(lo, lo + HEIGHTS_PER_BATCH))
        for lo in range(first + history_heights, top, HEIGHTS_PER_BATCH)
    ]
    batches = [
        [b for h in hs for b in by_height[h]]
        + rng.sample(by_height[hs[0] - 1], REDELIVERED)
        for hs in heights
    ]
    return TipFeed(history, batches, heights)


class Expectations:
    """Running ground truth for the store, fed with every delivered block."""

    def __init__(self) -> None:
        self.pks: dict[str, set] = {}
        self.hits: dict[str, set[tuple]] = {t: set() for t in SEARCH_TERMS}
        self.lineage: set[tuple] = set()
        self.blocks: dict[int, set[str]] = {}
        self.conts: list[str] = []  # continuation requestkeys, delivery order

    def deliver(self, blocks: list[Block]) -> None:
        for b in blocks:
            self.blocks.setdefault(b.height, set()).add(b.hash)
            for t, keys in b.pks.items():
                self.pks.setdefault(t, set()).update(keys)
            for term, keys in b.search_hits.items():
                self.hits[term].update(keys)
            for rk, pactid, code in b.lineage:
                self.lineage.add((rk, pactid, code))
                if pactid is not None and rk not in self.conts:
                    self.conts.append(rk)

    def blocks_at(self, height: int) -> set[str]:
        return self.blocks.get(height, set())

    def counts(self) -> dict[str, int]:
        return {t: len(v) for t, v in sorted(self.pks.items())}

    def search_order(self, term: str) -> list[tuple]:
        """Every event matching ``term`` in cursor order: height DESC,
        requestkey DESC, idx ASC, block ASC."""
        by_rk = sorted(self.hits[term], key=lambda k: (k[2], k[3]))
        by_rk.sort(key=lambda k: k[1], reverse=True)
        by_rk.sort(key=lambda k: k[0], reverse=True)
        return by_rk

    def history(self, start_rk: str, max_depth: int = 64) -> set[tuple]:
        """(depth, rk, code) rows of the continuation walk from
        ``start_rk`` over every distinct lineage row delivered so far."""
        rows_by_rk: dict[str, list[tuple]] = {}
        for rk, pactid, code in self.lineage:
            rows_by_rk.setdefault(rk, []).append((pactid, code))
        frontier = [p for rk, p, _c in self.lineage if rk == start_rk and p]
        out: set[tuple] = set()
        depth = 0
        while frontier and depth < max_depth:
            nxt = []
            for parent in frontier:
                for pactid, code in rows_by_rk.get(parent, []):
                    out.add((depth, parent, code))
                    if pactid is not None:
                        nxt.append(pactid)
            frontier, depth = nxt, depth + 1
        return out

    def lookup_targets(self, batch: list[Block], n: int) -> list[str]:
        """``n`` continuation txs with a non-empty history: those of
        ``batch`` first, then the most recently delivered ones."""
        in_batch = [rk for b in batch for rk, p, _c in b.lineage if p]
        out: list[str] = []
        for rk in in_batch + self.conts[::-1]:
            if rk not in out and self.history(rk):
                out.append(rk)
                if len(out) == n:
                    return out
        raise ValueError(f"feed holds fewer than {n} continuations with a history")
