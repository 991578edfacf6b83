"""Schema verification — the parquet analog of the reference's
``check-schema`` / migration guard (``haskell-src/exec/Chainweb/Migration.hs``:
refuse to run against a database whose schema drifted from the code's
expectation).

A stored table passes when every expected column exists with the expected
type; extra columns are reported but tolerated (parquet evolves by adding
columns; the reference's Postgres guard is stricter because DDL drift there
means migrations went wrong).  Type comparison ignores nullability — parquet
nullability reflects writer history, not intent.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..schemas.chainweb import TABLE_SCHEMAS


@dataclass
class SchemaReport:
    table: str
    missing: list[str] = field(default_factory=list)  # expected, absent
    mistyped: list[tuple[str, str, str]] = field(default_factory=list)  # (col, want, got)
    extra: list[str] = field(default_factory=list)  # present, unexpected

    @property
    def ok(self) -> bool:
        return not self.missing and not self.mistyped


def _has_data_files(path: str) -> bool:
    for _root, _dirs, files in os.walk(path):
        if any(not f.startswith(("_", ".")) for f in files):
            return True
    return False


_INT_WIDTH = {"byte": 1, "short": 2, "integer": 4, "long": 8}


def _compatible(want, got) -> bool:
    """Exact type match, or a lossless integral narrowing: partition
    columns are re-inferred from directory names at read time (a
    height_bucket written as long reads back as int), so a stored integral
    type no wider than the declared one is the same data."""
    if want == got:
        return True
    w = _INT_WIDTH.get(want.typeName())
    g = _INT_WIDTH.get(got.typeName())
    return w is not None and g is not None and g <= w


def check_table_schema(
    spark: SparkSession, path: str, table: str, expected=None
) -> SchemaReport:
    expected = TABLE_SCHEMAS[table] if expected is None else expected
    got = spark.read.parquet(path).schema
    got_types = {f.name: f.dataType for f in got.fields}
    rep = SchemaReport(table=table)
    for f in expected.fields:
        if f.name not in got_types:
            rep.missing.append(f.name)
        elif not _compatible(f.dataType, got_types[f.name]):
            rep.mistyped.append(
                (f.name, f.dataType.simpleString(), got_types[f.name].simpleString())
            )
    rep.extra = [n for n in got_types if n not in {f.name for f in expected.fields}]
    return rep


def check_store(spark: SparkSession, out_dir: str) -> dict[str, SchemaReport]:
    """Check every table directory under ``out_dir``; raises ValueError with
    a full drift report when any table fails — the reference's refuse-to-run
    behavior, so a worker never ingests into a drifted store."""
    reports = {}
    for table in TABLE_SCHEMAS:
        path = os.path.join(out_dir, f"{table}.parquet")
        # a directory with no data files yet (e.g. transfers before the
        # event-activation height) has no schema to drift
        if os.path.exists(path) and _has_data_files(path):
            reports[table] = check_table_schema(spark, path, table)
    bad = {t: r for t, r in reports.items() if not r.ok}
    if bad:
        lines = []
        for t, r in bad.items():
            if r.missing:
                lines.append(f"{t}: missing columns {r.missing}")
            for col, want, got in r.mistyped:
                lines.append(f"{t}.{col}: expected {want}, stored {got}")
        raise ValueError(
            "schema drift — refusing to run (reference Migration.hs "
            "behavior):\n" + "\n".join(lines)
        )
    return reports


def check_curation_store(
    spark: SparkSession, out_dir: str
) -> dict[str, SchemaReport]:
    """The same refuse-to-run guard over the curation sink's store: the
    five out_dir tables plus the dedup index's three (schemas/curation.py)
    — run it before resuming ``curation_sink`` against an existing
    directory, exactly as ``check_store`` runs before the listen path.
    An operator's check, named in README row "Streaming curation sink";
    no library code calls it."""
    from ..schemas.curation import CURATION_SCHEMAS, DEDUP_INDEX_SCHEMAS

    reports = {}
    for table, expected in CURATION_SCHEMAS.items():
        path = os.path.join(out_dir, f"{table}.parquet")
        if os.path.exists(path) and _has_data_files(path):
            reports[table] = check_table_schema(spark, path, table, expected)
    for table, expected in DEDUP_INDEX_SCHEMAS.items():
        path = os.path.join(out_dir, "dedup_index", f"{table}.parquet")
        if os.path.exists(path) and _has_data_files(path):
            reports[table] = check_table_schema(spark, path, table, expected)
    bad = {t: r for t, r in reports.items() if not r.ok}
    if bad:
        lines = []
        for t, r in bad.items():
            if r.missing:
                lines.append(f"{t}: missing columns {r.missing}")
            for col, want, got in r.mistyped:
                lines.append(f"{t}.{col}: expected {want}, stored {got}")
        raise ValueError(
            "curation store schema drift — refusing to resume:\n"
            + "\n".join(lines)
        )
    return reports
