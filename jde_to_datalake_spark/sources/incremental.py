"""Incremental ingestion: persisted high-watermark + overlap rescan.

The reference's change-capture DAGs re-fetch a fixed sliding window
every run — "give me cardex since today-5d"
(dag_cardex_changes_to_bakery_ops.py:24-33,
dag_cardex_changes_to_bakery_system.py:20-33 ``days_back=5``) — and
lean on the unique-transaction-id dedup to cancel the 5 days of
re-reads. That couples freshness to a guess: too-small ``days_back``
silently drops late arrivals, too-large re-processes most of the
window forever.

Here the window is replaced by state: a ``Watermark`` persists the max
event-time actually *committed*, and ``incremental_scan`` reads only
``(hwm - overlap, ∞)``. The overlap is for genuinely late rows (clock
skew, out-of-order upstream commits), is typically minutes not days,
and the re-read rows it admits are cancelled exactly by the same
idempotency machinery the reference uses (plans/ledger.py
``pending_only`` anti-join). Crash-safety comes from ordering, not
transactions: the watermark is advanced ONLY after the sink commits,
so a crash between sink and advance re-reads a batch (and the ledger
drops it) rather than losing one.

Scale notes: the predicate is a plain range filter on the event-time
column, so it rides partition pruning (hive ``year=/month=/day=``
layouts via sources/parquet_lake.py) and parquet row-group stats
(clustered layouts via sources/lake_maintenance.py — mind the
TIMESTAMP_NTZ caveat there); an incremental poll over a 100 TB table
touches only the partitions newer than the watermark. The watermark
itself is one row — reading and writing it is metadata-scale by
construction, and the committed value is computed with one ``max()``
aggregation over the batch (map-side partial, one-row result).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Watermark:
    """One named high-watermark persisted as a single-row parquet dir
    behind a LogStore pointer.

    Parquet (not a JSON field) so the value round-trips with its exact
    type — timestamps, dates and integers all survive without a parse
    step. The publish is a POINTER FLIP through the LogStore seam
    (``store`` injects an object-store impl; default POSIX under
    ``<path>/_log``; ``payload_store`` injects the file plane the
    same way — a ``DataFileStore`` rooted at ``path`` that lists,
    ages and reaps the data dirs — so the watermark runs END-TO-END
    on a bucket): each advance writes the new single-row parquet
    under a fresh unique dir — write-direct-to-final-name, no rename
    anywhere — then atomically publishes a pointer record at it,
    COMPARE-AND-SWAPPED on the pointer version this advance READ its
    comparison value from. Readers resolve the pointer first, so they
    see the old watermark or the new one, never a torn state.

    Concurrency: a lost CAS means another advance landed between this
    writer's read and its flip. Because the watermark is a MONOTONIC
    MAX — advancing is commutative, re-deriving against the fresher
    value loses nothing — the loser re-reads and retries (bounded by
    ``conflict_retries``); with CAS + retry, racing advances converge
    on the global max, where the old last-writer-wins flip could
    REWIND the clock (writer A's stale smaller value overwriting B's
    larger one → a silent re-backfill). Exhausting the retries raises
    :class:`~jde_to_datalake_spark.sources.log_store.PointerConflict`
    — loud, never silent. Superseded payload dirs age out through
    ``clean_stale`` (a concurrent reader's lazy plan may still be
    bound to one).
    """

    def __init__(
        self, path: str, name: str = "hwm", store=None, payload_store=None
    ):
        from jde_to_datalake_spark.sources.log_store import (
            DataDirPointer,
            PosixLogStore,
        )

        self.path = path
        self.name = name
        self._ptr = DataDirPointer(
            path, store or PosixLogStore(path), payloads=payload_store
        )

    def _read_at(self, spark: SparkSession, path: "str | None") -> Any | None:
        if path is None:
            return None
        rows = spark.read.parquet(path).collect()
        return rows[0]["value"] if rows else None

    def get(self, spark: SparkSession) -> Any | None:
        self._ptr.require_migrated("watermark")
        return self._read_at(spark, self._ptr.current_path())

    def clean_stale(self, retention_seconds: float = 3600.0) -> list:
        """Reclaim data-dir orphans of crashed advances (died between
        the parquet write and the pointer flip) older than the
        retention window; the current payload is never touched."""
        return self._ptr.clean_stale(retention_seconds)

    def advance(
        self,
        spark: SparkSession,
        df: DataFrame,
        ts_col: str,
        conflict_retries: int = 5,
    ) -> Any | None:
        """Commit max(ts_col) of a successfully-sunk batch as the new
        watermark. Never moves backwards (a replay of an old batch
        must not rewind the clock); empty batches are a no-op. Returns
        the watermark now in effect.

        The flip is CAS-anchored on the pointer version the comparison
        value was read at; a lost race re-reads and retries (monotonic
        max is commutative — see the class docstring), raising
        ``PointerConflict`` after ``conflict_retries`` losses."""
        from jde_to_datalake_spark.sources.log_store import PointerConflict

        self._ptr.require_migrated("watermark")
        new = df.agg(F.max(ts_col).alias("value")).collect()[0]["value"]
        out_schema = df.select(
            F.lit(self.name).alias("name"), F.col(ts_col).alias("value")
        ).schema
        for attempt in range(conflict_retries + 1):
            base, rec = self._ptr.latest()
            current = self._read_at(
                spark,
                None if rec is None else self._ptr.path_of(rec["data_dir"]),
            )
            if new is None or (current is not None and new <= current):
                return current
            out = spark.createDataFrame([(self.name, new)], schema=out_schema)
            try:
                self._ptr.flip(
                    lambda p: out.coalesce(1)
                    .write.mode("overwrite")
                    .parquet(p),
                    expected=base,
                )
                return new
            except PointerConflict:
                if attempt == conflict_retries:
                    raise
        return new  # unreachable; loop always returns or raises


def incremental_scan(
    source: DataFrame,
    ts_col: str,
    watermark_value: Any | None,
    overlap: str | None = None,
) -> DataFrame:
    """Rows newer than ``watermark_value - overlap``.

    First run (no watermark yet) returns the full source — the
    backfill. ``overlap`` is an INTERVAL string (``'2 hours'``); rows
    inside the overlap are re-reads by design and must flow through an
    idempotent sink (ledger ``pending_only`` / MERGE).
    """
    if watermark_value is None:
        return source
    low = F.lit(watermark_value)
    if overlap is not None:
        low = low - F.expr(f"INTERVAL {overlap}")
    return source.filter(F.col(ts_col) > low)


def incremental_batch(
    spark: SparkSession,
    source: DataFrame,
    ts_col: str,
    watermark: Watermark,
    overlap: str | None = None,
) -> DataFrame:
    """One poll: scan from the persisted watermark with overlap.

    The caller sinks the result (idempotently), THEN calls
    ``watermark.advance(spark, batch, ts_col)`` — advance-after-commit
    is what makes a crash replay instead of lose.
    """
    return incremental_scan(source, ts_col, watermark.get(spark), overlap)
