"""Pure column-expression transforms: raw block+payload JSON → the six tables.

Semantics mirror the reference's row constructors 1:1 (no code copied; the
reference is Haskell over aeson lenses, this is Spark columnar):

- blocks        ← ``asBlock``            (lib/ChainwebData/Types.hs:52-67)
- transactions  ← ``mkTransaction``      (exec/Chainweb/Lookups.hs:293-334)
- events        ← ``mkBlockEvents`` / ``mkEvent`` / ``mkCoinbaseEvents``
                                         (Lookups.hs:198-217,281-288,336-376)
- transfers     ← ``mkTransferRows``     (Lookups.hs:219-265) — TRANSFER
                  projection incl. the amount-coercion precedence chain
                  (Lookups.hs:245-257; canonical per SURVEY §7.3 hard-part 3)
- signers       ← ``mkTransactionSigners`` (Lookups.hs:267-279)
- minerkeys     ← ``bpwoMinerKeys``      (Lookups.hs:290-291)

Execution shape: the reference builds rows tx-by-tx in Haskell; here one
``posexplode`` fans each payload into its children and every derivation is a
codegen'd expression — the payload↔header alignment the reference does with
Data.Map joins (Worker.hs:148-175) is free because all six tables derive
from the same exploded DataFrame (SURVEY §2.3 J7).

Scale: stateless per-row transforms — no shuffle at all until the sink;
ingest throughput is bounded by parquet write, not by these expressions.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — module-level so pandas_udf type hints resolve

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas.chainweb import HEIGHT_BUCKET_SIZE
from ..schemas.payload import (
    CMD_SCHEMA,
    EVENTS_ARRAY_SCHEMA,
    HEADER_SCHEMA,
    MINER_DATA_SCHEMA,
    OUTPUT_SCHEMA,
    PAYLOAD_ENV_SCHEMA,
    TX_SCHEMA,
)

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def b64url_decode_text(col: Column) -> Column:
    """base64url → text, JVM-side: translate url alphabet to standard then
    unbase64 (the reference decodes with its DbHash codec, Types.hs:57-65)."""
    return F.unbase64(F.translate(col, "-_", "+/")).cast("string")


def _height_bucket(height: Column) -> Column:
    return (height / HEIGHT_BUCKET_SIZE).cast("long").alias("height_bucket")


def _with_parsed(raw: DataFrame) -> DataFrame:
    """Attach parsed header / payload-envelope / minerData columns."""
    return (
        raw.withColumn("h", F.from_json("header", HEADER_SCHEMA))
        .withColumn("pl", F.from_json("payload", PAYLOAD_ENV_SCHEMA))
        .withColumn(
            "md", F.from_json(b64url_decode_text(F.col("pl.minerData")), MINER_DATA_SCHEMA)
        )
    )


def decode_le_b64_to_decimal_strings(df: DataFrame, cols: list[str]) -> DataFrame:
    """256-bit little-endian base64url → decimal string: adds ``<c>_raw``
    for each column ``c`` in ``cols``.

    The one Python step in ingest (pandas UDF, Arrow-batched): Spark has no
    256-bit integer.  Mirrors the reference's ``leToInteger`` decode whose
    correctness its parser unit test pins (test/.../Parser.hs:23-60).
    """
    import base64

    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _dec(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            raw = base64.urlsafe_b64decode(v + "=" * (-len(v) % 4))
            return str(int.from_bytes(raw, "little"))

        return s.map(one)

    for c in cols:
        df = df.withColumn(f"{c}_raw", _dec(F.col(c)))
    return df


def _top_digits(raw: str) -> Column:
    """Ordering companion of a 256-bit decimal string: its value floor-
    divided by 10^42 (the leading digits), which fits Decimal(38,0)."""
    return F.expr(
        f"CAST(CASE WHEN length({raw}) > 42 "
        f"THEN substring({raw}, 1, length({raw})-42) "
        "ELSE '0' END AS DECIMAL(38,0))"
    )


# ---------------------------------------------------------------------------
# blocks
# ---------------------------------------------------------------------------


def blocks_from_raw(raw: DataFrame) -> DataFrame:
    """asBlock (Types.hs:52-67): one row per block header."""
    import pandas as pd  # noqa: F401  (pandas UDF dependency)

    df = _with_parsed(raw).select(
        F.col("h.hash").alias("hash"),
        F.col("h.parent").alias("parent"),
        F.col("h.chainId").alias("chainid"),
        F.col("h.height").alias("height"),
        F.timestamp_micros(F.col("h.creationTime")).alias("creationtime"),
        F.timestamp_micros(F.col("h.epochStart")).alias("epoch"),
        F.col("h.nonce").cast("decimal(20,0)").alias("nonce"),
        F.col("h.featureFlags").cast("decimal(20,0)").alias("flags"),
        F.col("h.target").alias("target_b64"),
        F.col("h.weight").alias("weight_b64"),
        F.col("md.account").alias("miner"),
        F.col("md.predicate").alias("predicate"),
        F.col("powHash").alias("powhash"),
        F.col("h.payloadHash").alias("payload"),
        _height_bucket(F.col("h.height")),
    )
    df = decode_le_b64_to_decimal_strings(df, ["target_b64", "weight_b64"])
    return df.select(
        "hash",
        "parent",
        "chainid",
        "height",
        "creationtime",
        "epoch",
        "nonce",
        "flags",
        _top_digits("target_b64_raw").alias("target"),
        F.col("target_b64_raw").alias("target_raw"),
        _top_digits("weight_b64_raw").alias("weight"),
        F.col("weight_b64_raw").alias("weight_raw"),
        "miner",
        "predicate",
        "powhash",
        "payload",
        "height_bucket",
    )


# ---------------------------------------------------------------------------
# transactions (+ shared tx explosion)
# ---------------------------------------------------------------------------


def _exploded_txs(raw: DataFrame) -> DataFrame:
    """One row per (block, tx) with parsed tx / cmd / output columns."""
    p = _with_parsed(raw)
    ex = p.select(
        F.col("h.hash").alias("block_hash"),
        F.col("h.chainId").alias("chainid"),
        F.col("h.height").alias("height"),
        F.posexplode(F.col("pl.transactions")).alias("tx_pos", "pair"),
    )
    return ex.select(
        "block_hash",
        "chainid",
        "height",
        "tx_pos",
        F.from_json(b64url_decode_text(F.col("pair")[0]), TX_SCHEMA).alias("tx"),
        F.from_json(b64url_decode_text(F.col("pair")[1]), OUTPUT_SCHEMA).alias("out"),
    ).withColumn("cmd", F.from_json(F.col("tx.cmd"), CMD_SCHEMA))


def transactions_from_raw(raw: DataFrame) -> DataFrame:
    """mkTransaction (Lookups.hs:293-334).  Notables mirrored exactly:
    ``data`` = cont.data if continuation else exec.data; exactly one of
    bad/goodresult set from result.status; num_events = len(output.events)."""
    t = _exploded_txs(raw)
    is_cont = F.col("cmd.payload.cont").isNotNull() & F.col(
        "cmd.payload.cont.pactId"
    ).isNotNull()
    return t.select(
        F.col("tx.hash").alias("requestkey"),
        F.col("block_hash").alias("block"),
        "chainid",
        "height",
        F.timestamp_micros(
            (F.col("cmd.meta.creationTime") * 1_000_000).cast("long")
        ).alias("creationtime"),
        F.col("cmd.meta.ttl").alias("ttl"),
        F.col("cmd.meta.gasLimit").alias("gaslimit"),
        F.col("cmd.meta.gasPrice").alias("gasprice"),
        F.col("cmd.meta.sender").alias("sender"),
        F.col("cmd.nonce").alias("nonce"),
        F.when(~is_cont, F.col("cmd.payload.exec.code")).alias("code"),
        F.when(is_cont, F.col("cmd.payload.cont.pactId")).alias("pactid"),
        F.when(is_cont, F.col("cmd.payload.cont.rollback")).alias("rollback"),
        F.when(is_cont, F.col("cmd.payload.cont.step")).alias("step"),
        F.when(is_cont, F.col("cmd.payload.cont.data"))
        .otherwise(F.col("cmd.payload.exec.data"))
        .alias("data"),
        F.when(is_cont, F.col("cmd.payload.cont.proof")).alias("proof"),
        F.col("out.gas").alias("gas"),
        F.when(F.col("out.result.status") == "failure", F.col("out.result.error")).alias(
            "badresult"
        ),
        F.when(F.col("out.result.status") == "success", F.col("out.result.data")).alias(
            "goodresult"
        ),
        F.col("out.logs").alias("logs"),
        F.col("out.metadata").alias("metadata"),
        F.col("out.continuation").alias("continuation"),
        F.col("out.txId").alias("txid"),
        F.coalesce(F.json_array_length(F.col("out.events")), F.lit(0))
        .cast("long")
        .alias("num_events"),
        _height_bucket(F.col("height")),
    )


# ---------------------------------------------------------------------------
# events
# ---------------------------------------------------------------------------


def _event_cols(ev: Column) -> list[Column]:
    """mkEvent field rules (Lookups.hs:342-376): empty-string defaults,
    qualname = [namespace.]module[.name], params+paramtext."""
    ename = F.coalesce(ev["name"], F.lit(""))
    mname = ev["module"]["name"]
    mns = ev["module"]["namespace"]
    qual_module = F.when(
        mname.isNull(), F.lit(None).cast("string")
    ).otherwise(F.when(mns.isNull(), mname).otherwise(F.concat_ws(".", mns, mname)))
    qualname = F.when(qual_module.isNull(), ename).otherwise(
        F.concat_ws(".", qual_module, ename)
    )
    params = F.coalesce(ev["params"], F.lit("[]"))
    return [
        ename.alias("name"),
        F.coalesce(qual_module, F.lit("")).alias("module"),
        F.coalesce(ev["moduleHash"], F.lit("")).alias("modulehash"),
        qualname.alias("qualname"),
        params.alias("params"),
        params.alias("paramtext"),
    ]


def _derived_param_cols() -> list[Column]:
    """Derived columns replacing the reference's TRANSFER expression index
    (init.sql:45-47) and the amount coercion (Lookups.hs:245-257) —
    precedence: .decimal (num|str) → .int (num|str) → bare (num|str)."""
    p = F.col("params")
    # try_to_number semantics: a non-numeric params[2] (e.g. X_RESUME's
    # nested array) coerces to NULL, exactly the reference's Nothing branch
    amount = F.coalesce(
        F.get_json_object(p, "$[2].decimal"),
        F.get_json_object(p, "$[2].int"),
        F.get_json_object(p, "$[2]"),
    ).try_cast("decimal(38,18)")
    return [
        F.get_json_object(p, "$[0]").alias("param_0"),
        F.get_json_object(p, "$[1]").alias("param_1"),
        amount.alias("amount_dec"),
    ]


def events_from_raw(raw: DataFrame) -> DataFrame:
    """mkBlockEvents (Lookups.hs:198-217): coinbase events (requestkey='cb',
    idx=0 — the reference's placeholder, Lookups.hs:285-286) ∪ per-tx events
    (idx = position in the tx's output)."""
    p = _with_parsed(raw)
    cb = (
        p.select(
            F.col("h.hash").alias("block"),
            F.col("h.chainId").alias("chainid"),
            F.col("h.height").alias("height"),
            F.explode_outer(
                F.from_json(
                    F.get_json_object(
                        b64url_decode_text(F.col("pl.coinbase")), "$.events"
                    ),
                    EVENTS_ARRAY_SCHEMA,
                )
            ).alias("ev"),
        )
        .filter(F.col("ev").isNotNull())
        .select(
            F.lit("cb").alias("requestkey"),
            "block",
            "chainid",
            "height",
            F.lit(0).cast("long").alias("idx"),
            *_event_cols(F.col("ev")),
        )
    )
    txev = (
        _exploded_txs(raw)
        .select(
            F.col("tx.hash").alias("requestkey"),
            F.col("block_hash").alias("block"),
            "chainid",
            "height",
            F.posexplode(F.from_json(F.col("out.events"), EVENTS_ARRAY_SCHEMA)).alias(
                "idx", "ev"
            ),
        )
        .select(
            "requestkey",
            "block",
            "chainid",
            "height",
            F.col("idx").cast("long").alias("idx"),
            *_event_cols(F.col("ev")),
        )
    )
    return cb.unionByName(txev).select(
        "*",
        *_derived_param_cols(),
        _height_bucket(F.col("height")),
    )


# ---------------------------------------------------------------------------
# transfers
# ---------------------------------------------------------------------------


def transfers_from_events(events: DataFrame, event_min_height: int = 0) -> DataFrame:
    """mkTransferRows (Lookups.hs:219-265): TRANSFER projection of events.

    Validity (createNonCoinBaseTransfers, Lookups.hs:258-265): qualname ends
    with "TRANSFER", params length 3, params[0]/params[1] JSON strings,
    params[2] amount-coercible; coinbase events skip the qualname/arity check
    (createCoinBaseTransfers).  Heights below the activation floor produce no
    transfers (Types.hs:122-129 fork gate).

    Also the engine's ``backfill-transfers`` job (BackfillTransfers.hs):
    run it over the stored events table.
    """
    p = F.col("params")
    # params[0]/[1] must be JSON *strings* — check the raw token starts with
    # a quote (get_json_object strips quotes, so probe the variant type)
    is_str_0 = F.expr("schema_of_variant(try_variant_get(parse_json(params), '$[0]'))") == "STRING"
    is_str_1 = F.expr("schema_of_variant(try_variant_get(parse_json(params), '$[1]'))") == "STRING"
    valid_noncb = (
        F.substring(F.col("qualname"), -8, 8).eqNullSafe("TRANSFER")
        & (F.json_array_length(p) == 3)
        & is_str_0
        & is_str_1
        & F.col("amount_dec").isNotNull()
    )
    is_cb = F.col("requestkey") == "cb"
    ok = (F.col("height") >= event_min_height) & (
        is_cb | valid_noncb
    ) & F.col("param_0").isNotNull() & F.col("param_1").isNotNull() & F.col(
        "amount_dec"
    ).isNotNull()
    return events.filter(ok).select(
        "block",
        "requestkey",
        "chainid",
        "height",
        "idx",
        F.col("module").alias("modulename"),
        "modulehash",
        F.col("param_0").alias("from_acct"),
        F.col("param_1").alias("to_acct"),
        F.col("amount_dec").alias("amount"),
        F.lit(None).cast("string").alias("xchain_acct"),
        F.lit(None).cast("long").alias("xchain_id"),
        "height_bucket",
    )


# ---------------------------------------------------------------------------
# signers / minerkeys
# ---------------------------------------------------------------------------


def _key_bucket_expr(pk_col: Column) -> Column:
    """The un-aliased bucket expression: 'k' + the first base64url char
    of the PK.  The 'k' prefix pins partition-type inference to STRING —
    a tiny batch whose keys all start with digits would otherwise write
    an all-numeric dir set that reads back as INT, and the next batch's
    letter bucket crashes the pruned probe's cast (the dedup index and
    the curation hash table hit the identical trap)."""
    return F.concat(F.lit("k"), F.substring(pk_col, 1, 1))


def _key_bucket(pk_col: Column) -> Column:
    """PK-prefix partition key for the height-less tables (signers /
    minerkeys): ~64 roughly-uniform buckets, and a FUNCTION OF THE PK, so
    a replayed or orphan-twin row always lands in the same bucket as the
    original.  That makes the ingest duplicate-probe prunable (scan only
    the buckets the batch's keys map to) without the height-range
    assumption these tables can't make: a requestkey re-mined after an
    orphan may land at ANY later height, but its key bucket never
    changes."""
    return _key_bucket_expr(pk_col).alias("key_bucket")


def signers_from_raw(raw: DataFrame) -> DataFrame:
    """mkTransactionSigners (Lookups.hs:267-279): zip signers × sigs × idx."""
    t = _exploded_txs(raw)
    s = t.select(
        F.col("tx.hash").alias("requestkey"),
        F.col("tx.sigs").alias("sigs"),
        F.posexplode(F.col("cmd.signers")).alias("idx", "signer"),
    )
    return s.select(
        "requestkey",
        F.col("idx").cast("int").alias("idx"),
        F.col("signer.pubKey").alias("pubkey"),
        F.col("signer.scheme").alias("scheme"),
        F.col("signer.addr").alias("addr"),
        F.coalesce(F.col("signer.clist"), F.lit("[]")).alias("caps"),
        F.col("sigs")[F.col("idx")]["sig"].alias("sig"),
        _key_bucket(F.col("requestkey")),
    )


def minerkeys_from_raw(raw: DataFrame) -> DataFrame:
    """bpwoMinerKeys (Lookups.hs:290-291): block ↔ miner public keys."""
    p = _with_parsed(raw)
    return p.select(
        F.col("h.hash").alias("block"),
        F.explode(F.col("md.public-keys")).alias("key"),
        _key_bucket(F.col("h.hash")),
    )


# ---------------------------------------------------------------------------
# orchestration
# ---------------------------------------------------------------------------


def payload_to_tables(raw: DataFrame, event_min_height: int = 0) -> dict[str, DataFrame]:
    """Fan one raw feed into all six tables (the Spark analog of the
    reference's single-transaction write set, Worker.hs:50-82)."""
    events = events_from_raw(raw)
    return {
        "blocks": blocks_from_raw(raw),
        "transactions": transactions_from_raw(raw),
        "events": events,
        "transfers": transfers_from_events(events, event_min_height),
        "signers": signers_from_raw(raw),
        "minerkeys": minerkeys_from_raw(raw),
    }
