"""Schema inference + versioning — SURVEY.md §1.3 / S9 / A7.

The reference infers field types by walking the first records
(schema_manager.py:177-223), generates DDL (225-279), and versions
schemas with MAX(version_number)+1 in Postgres plus JSON mirrors in
S3 (s3_helper.py:156-230). Here:

- inference is a single distributed agg pass over the WHOLE dataset
  (max string length per column — not a first-record guess);
- versions live in a LogStore-backed record log with the same
  ``COALESCE(MAX(version),0)+1`` semantics (A7), published through
  the seam's put-if-absent (object-store-portable, lost-update-free);
- "latest" is ``ORDER BY version DESC LIMIT 1`` (A6), replacing the
  reference's max-LastModified S3 listing.

In production this table is a Delta table and schema evolution is
``mergeSchema``; the explicit version ledger is kept for parity with
the reference's GET /s3/schemas API.
"""

from __future__ import annotations

import json
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TYPE_MAP = {
    T.LongType: "integer",
    T.IntegerType: "integer",
    T.ShortType: "integer",
    T.DoubleType: "float",
    T.FloatType: "float",
    T.DecimalType: "float",
    T.BooleanType: "boolean",
    T.TimestampType: "timestamp",
    T.TimestampNTZType: "timestamp",
    T.DateType: "timestamp",
    T.StringType: "string",
    T.ArrayType: "array",
    T.MapType: "json",
    T.StructType: "json",
    T.BinaryType: "binary",
}


def infer_schema(df: DataFrame) -> dict:
    """Reference-shaped schema doc {field: {type, max_length?}}.

    String max-lengths come from ONE aggregate over all rows (A9) —
    the reference samples the first record and mis-sizes columns.
    """
    out: dict[str, dict] = {}
    strings = []
    for f in df.schema.fields:
        t = _TYPE_MAP.get(type(f.dataType), "string")
        out[f.name] = {"type": t}
        if t == "string":
            strings.append(f.name)
    if strings:
        row = df.agg(
            *[F.max(F.length(F.col(c))).alias(c) for c in strings]
        ).collect()[0]
        for c in strings:
            out[c]["max_length"] = row[c]
    return out


def create_ddl_from_schema(table: str, schema: dict) -> str:
    """Reference-parity DDL generation (schema_manager.py:225-279):
    float->DECIMAL, json/array->JSONB-ish, long strings->TEXT, plus
    audit columns."""
    cols = []
    for name, spec in schema.items():
        t = spec["type"]
        if t == "integer":
            sql_t = "BIGINT"
        elif t == "float":
            sql_t = "DECIMAL(15,4)"
        elif t == "boolean":
            sql_t = "BOOLEAN"
        elif t == "timestamp":
            sql_t = "TIMESTAMP"
        elif t in ("json", "array"):
            sql_t = "STRING"  # JSON text column (JSONB in the reference)
        elif t == "binary":
            sql_t = "BINARY"
        else:
            ml = spec.get("max_length") or 0
            sql_t = "STRING" if ml > 255 else "VARCHAR(255)"
        cols.append(f'  `{name}` {sql_t}')
    cols.append("  `created_at` TIMESTAMP")
    cols.append("  `updated_at` TIMESTAMP")
    body = ",\n".join(cols)
    return f"CREATE TABLE IF NOT EXISTS `{table}` (\n{body}\n) USING parquet"


class SchemaRegistry:
    """Versioned schema store (A6/A7/S9) — a LOG of schema records.

    Each ``save`` appends one record through the LogStore seam's
    ``put_if_absent`` (POSIX link locally, ``If-None-Match`` on S3 —
    inject ``store`` to deploy off POSIX). The registry is
    metadata-scale by construction (one record per schema version),
    so reads are plain record scans; ``_load`` materializes them as a
    DataFrame for SQL-side consumers.

    Concurrency: two simultaneous ``save`` calls for the same table
    cannot both claim version N — they contend on the same log index,
    the loser re-reads and re-computes (``COALESCE(MAX(version),0)+1``
    over what actually committed). The previous parquet-swap design
    had a lost-update window here; the log closes it.
    """

    _SCHEMA = (
        "table_name string, version int, "
        "schema_definition string, created_at string"
    )

    def __init__(self, path: str, store=None, payloads=None):
        from jde_to_datalake_spark.sources.log_store import (
            PosixDataFileStore,
            PosixLogStore,
        )

        self.path = path
        self.store = store or PosixLogStore(path)
        # file plane (a DataFileStore at ``path``) only for legacy-
        # layout detection (loose parquet files at the root) — inject
        # beside ``store`` on an object-store deployment
        self.payloads = payloads or PosixDataFileStore(path)

    def _records(self) -> list[dict]:
        versions = self.store.list_versions()
        if not versions:
            # refuse to silently treat a PRE-log parquet registry as
            # empty (next save would re-claim version 1)
            legacy = any(
                f.endswith(".parquet")
                for f in self.payloads.root_files()
            )
            if legacy:
                raise RuntimeError(
                    f"{self.path}: found a pre-log schema-registry "
                    "layout (parquet files, no _log records). Migrate "
                    "by re-saving each (table_name, version, "
                    "schema_definition, created_at) row as a log "
                    "record in version order."
                )
        return [self.store.read(v) for v in versions]

    def _load(self, spark: SparkSession) -> DataFrame | None:
        recs = self._records()
        if not recs:
            return None
        return spark.createDataFrame(
            [
                (
                    r["table_name"],
                    r["version"],
                    r["schema_definition"],
                    r["created_at"],
                )
                for r in recs
            ],
            self._SCHEMA,
        )

    @staticmethod
    def _max_version(recs: list[dict], table: str) -> int:
        return max(
            (r["version"] for r in recs if r["table_name"] == table),
            default=0,
        )

    def next_version(self, spark: SparkSession, table: str) -> int:
        return self._max_version(self._records(), table) + 1

    def save(self, spark: SparkSession, table: str, schema: dict) -> int:
        from jde_to_datalake_spark.sources.log_store import LogConflict

        while True:
            versions = self.store.list_versions()
            idx = versions[-1] + 1 if versions else 0
            version = self._max_version(self._records(), table) + 1
            record = {
                "table_name": table,
                "version": version,
                "schema_definition": json.dumps(schema, sort_keys=True),
                "created_at": datetime.now(timezone.utc).isoformat(),
                # writer token: recognizes our own landed put when a
                # lost-ACK store reports a conflict anyway
                "writer": uuid.uuid4().hex,
            }
            try:
                self.store.put_if_absent(idx, record)
                return version
            except LogConflict:
                try:
                    existing = self.store.read(idx)
                except FileNotFoundError:
                    continue
                if existing.get("writer") == record["writer"]:
                    return version  # our own put landed; ACK was lost
                continue  # real competitor — re-base and retry

    def latest(self, spark: SparkSession, table: str) -> dict | None:
        recs = [
            r for r in self._records() if r["table_name"] == table
        ]
        if not recs:
            return None
        recs.sort(key=lambda r: r["version"])
        return json.loads(recs[-1]["schema_definition"])
