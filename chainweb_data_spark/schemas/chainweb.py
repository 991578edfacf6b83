"""StructTypes for the six chainweb-data tables.

Modeled on the reference DDL (``haskell-src/db-schema/init.sql``) and ORM
types (``lib/ChainwebDb/Types/*.hs``); type mapping rationale in SURVEY §1.3:

- ``numeric(20,0)`` (Word64 nonce/flags)       → DecimalType(20,0)
- ``numeric(80,0)`` (256-bit target/weight)    → canonical decimal-string
  column (``*_raw``) + DecimalType(38,0) truncated companion for ordering
  (no API query does arithmetic on them — init.sql:15-16, SURVEY §7.2)
- ``numeric`` transfer amount (Pact decimal)   → DecimalType(38,18)
- ``jsonb``                                    → StringType holding JSON
  (+ derived typed columns added at ingest, replacing expression indexes)
- ``requestkey | 'cb'`` sum type               → StringType with 'cb'
  sentinel (Types/Common.hs:31-53)

Derived-at-ingest columns (not in the reference schema; they replace its
indexes — SURVEY §4 X1/X2): ``height_bucket`` partition key everywhere;
``param_0/param_1/amount_dec`` on events (partial TRANSFER expression index
init.sql:45-47).
"""

from pyspark.sql import types as T

HEIGHT_BUCKET_SIZE = 10_000  # blocks per partition bucket (SURVEY §4 X1)

# Steps either continuation walk (the query-time recursive CTE in
# queries/chainweb.py, the ingest-time silver walk in streaming/silver.py)
# takes back from a continuation tx.  A causal chain ends at its origin
# exec tx long before this (cross-chain = 2 steps, defpacts ≲ 10); the
# bound only stops a pactid cycle in a corrupt feed, at the same depth in
# both walks.
CONTINUATION_MAX_DEPTH = 64


def _f(name, dtype, nullable=True):
    return T.StructField(name, dtype, nullable)


S = T.StringType()
L = T.LongType()
D = T.DoubleType()
B = T.BooleanType()
TS = T.TimestampType()
DEC20 = T.DecimalType(20, 0)
DEC38 = T.DecimalType(38, 0)
AMOUNT = T.DecimalType(38, 18)

# blocks — init.sql:1-19, Types/Block.hs:41-57
BLOCKS_SCHEMA = T.StructType(
    [
        _f("hash", S, False),
        _f("parent", S, False),
        _f("chainid", L, False),
        _f("height", L, False),
        _f("creationtime", TS, False),
        _f("epoch", TS, False),
        _f("nonce", DEC20, False),
        _f("flags", DEC20, False),
        _f("target", DEC38, False),
        _f("target_raw", S, False),
        _f("weight", DEC38, False),
        _f("weight_raw", S, False),
        _f("miner", S, False),
        _f("predicate", S, False),
        _f("powhash", S, False),
        _f("payload", S, False),
        _f("height_bucket", L, False),  # derived: height // HEIGHT_BUCKET_SIZE
    ]
)

# transactions — init.sql:79-118, Types/Transaction.hs:31-57
TRANSACTIONS_SCHEMA = T.StructType(
    [
        _f("requestkey", S, False),
        _f("block", S, False),
        _f("chainid", L, False),
        _f("height", L, False),
        _f("creationtime", TS, False),
        _f("ttl", L, False),
        _f("gaslimit", L, False),
        _f("gasprice", D, False),
        _f("sender", S, False),
        _f("nonce", S, False),
        _f("code", S, True),
        _f("pactid", S, True),
        _f("rollback", B, True),
        _f("step", L, True),
        _f("data", S, True),
        _f("proof", S, True),
        _f("gas", L, False),
        _f("badresult", S, True),
        _f("goodresult", S, True),
        _f("logs", S, True),
        _f("metadata", S, True),
        _f("continuation", S, True),
        _f("txid", L, True),
        _f("num_events", L, True),
        _f("height_bucket", L, False),
    ]
)

# events — init.sql:21-51, Types/Event.hs:29-41
EVENTS_SCHEMA = T.StructType(
    [
        _f("requestkey", S, False),  # 'cb' sentinel for coinbase
        _f("block", S, False),
        _f("chainid", L, False),
        _f("height", L, False),
        _f("idx", L, False),
        _f("name", S, False),
        _f("module", S, False),
        _f("modulehash", S, False),
        _f("qualname", S, False),
        _f("params", S, False),  # JSON array text
        _f("paramtext", S, False),
        # derived (replaces partial expression index init.sql:45-47):
        _f("param_0", S, True),
        _f("param_1", S, True),
        _f("amount_dec", AMOUNT, True),
        _f("height_bucket", L, False),
    ]
)

# transfers — init.sql:121-147, Types/Transfer.hs:32-44
TRANSFERS_SCHEMA = T.StructType(
    [
        _f("block", S, False),
        _f("requestkey", S, False),
        _f("chainid", L, False),
        _f("height", L, False),
        _f("idx", L, False),
        _f("modulename", S, False),
        _f("modulehash", S, False),
        _f("from_acct", S, False),
        _f("to_acct", S, False),
        _f("amount", AMOUNT, False),
        # derived x-chain columns (precompute of lateral probe J5,
        # Queries.hs:291-339 — pure function of same block's events):
        _f("xchain_acct", S, True),
        _f("xchain_id", L, True),
        _f("height_bucket", L, False),
    ]
)

# signers — init.sql:65-76, Types/Signer.hs:38-46
SIGNERS_SCHEMA = T.StructType(
    [
        _f("requestkey", S, False),
        _f("idx", T.IntegerType(), False),
        _f("pubkey", S, False),
        _f("scheme", S, True),
        _f("addr", S, True),
        _f("caps", S, False),  # JSON array text
        _f("sig", S, False),
        # derived: first base64url char of requestkey — PK-prefix partition
        # key (no height on this table; bucket must be a function of the PK
        # so replays/orphan re-mines land in the same partition)
        _f("key_bucket", S, False),
    ]
)

# minerkeys — init.sql:53-62, Types/MinerKey.hs:15-18
MINERKEYS_SCHEMA = T.StructType(
    [
        _f("block", S, False),
        _f("key", S, False),
        _f("key_bucket", S, False),  # derived: first char of block hash
    ]
)

TABLE_SCHEMAS = {
    "blocks": BLOCKS_SCHEMA,
    "transactions": TRANSACTIONS_SCHEMA,
    "events": EVENTS_SCHEMA,
    "transfers": TRANSFERS_SCHEMA,
    "signers": SIGNERS_SCHEMA,
    "minerkeys": MINERKEYS_SCHEMA,
}

# Primary keys per the reference (orphan-surviving composite keys, SURVEY §1.2)
TABLE_PRIMARY_KEYS = {
    "blocks": ("hash",),
    "transactions": ("block", "requestkey"),
    "events": ("block", "idx", "requestkey"),
    "transfers": ("block", "chainid", "idx", "modulehash", "requestkey"),
    "signers": ("requestkey", "idx"),
    "minerkeys": ("block", "key"),
}
