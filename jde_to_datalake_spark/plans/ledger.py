"""Idempotency ledger — SURVEY.md A12/A13 (dedup / idempotent upsert).

The reference keeps an ``ingredient_submitted_status`` Postgres table
with ``unique_transaction_id UNIQUE`` and writes via
``INSERT ... ON CONFLICT DO UPDATE`` (jde_helper.py:1006-1012,
dag_bakery_system_to_jde.py:383-423). The Spark-native equivalent is
Delta ``MERGE INTO``; this environment has no Delta, so the ledger is
a keyed upsert over ``sources/versioned.py``'s transaction-log table
(file-level partial-rewrite MERGE, optimistic multi-writer detection):
a concurrent dispatcher whose MERGE overlaps another's loses LOUDLY
(``PointerConflict``) instead of silently clobbering its rows — the
engine-side equivalent of the reference's ``UNIQUE`` constraint. Swap
to Delta in prod:

    DeltaTable.forPath(spark, path).alias("l").merge(
        updates.alias("u"), "l.key = u.key"
    ).whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()

Scale: each MERGE rewrites only the ledger files whose footer
key-range intersects the batch. ``pending_only`` is one lazy anti-join
against the latest version's done keys: no collect of the batch, and no
py4j traffic that grows with the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class IdempotencyLedger:
    """Keyed upsert ledger with MERGE semantics over one
    :class:`~jde_to_datalake_spark.sources.versioned.VersionedTable`
    at ``<path>/_versioned``.

    ``store`` injects the record plane (default POSIX under
    ``<path>/_log``) and ``payload_store`` the file plane (a
    :class:`~jde_to_datalake_spark.sources.log_store.DataFileStore`
    rooted at ``path``, default POSIX); the table's commit log is
    derived from the first (``LogStore.for_child``) and its data files
    from the second (``DataFileStore.child``), so the whole ledger
    lives in one storage domain — on a bucket end-to-end when both are
    S3.

    Concurrency rides the table's optimistic concurrency: key-disjoint
    concurrent merges may both commit; a merge that overlaps an
    intervening commit raises
    :class:`~jde_to_datalake_spark.sources.log_store.PointerConflict`
    by default (``conflict_retries=0``) — its updates are NOT in the
    ledger and it must re-drive the batch. ``conflict_retries=N``
    re-runs the merge against the fresher snapshot, the serialized
    ON-CONFLICT-DO-UPDATE outcome, so a retry loses neither writer's
    rows.

    Ledgers written before the versioned table was the only backend
    keep their rows in a pointer-flipped parquet dir named by the
    ``_log`` record; such a ledger refuses every call until
    :meth:`migrate_to_versioned` converts it. The root ``_log`` is
    checked once per instance, on first use.
    """

    #: where the table lives under the ledger root — underscore-
    #: prefixed so no data-dir sweep ever touches it
    VERSIONED_DIR = "_versioned"

    #: the root ``_log`` record that marks a converted pointer ledger
    _HANDOFF = {"backend": "versioned", "table_dir": VERSIONED_DIR}

    def __init__(
        self,
        path: str,
        key: str = "unique_transaction_id",
        store=None,
        payload_store=None,
    ):
        from jde_to_datalake_spark.sources.log_store import (
            DataDirPointer,
            PosixLogStore,
        )
        from jde_to_datalake_spark.sources.versioned import VersionedTable

        self.path = path
        self.key = key
        self._ptr = DataDirPointer(
            path, store or PosixLogStore(path), payloads=payload_store
        )
        self._vt = VersionedTable(
            self._ptr.path_of(self.VERSIONED_DIR),
            log_store=self._ptr.store.for_child(self.VERSIONED_DIR),
            data_store=self._ptr.payloads.child(self.VERSIONED_DIR),
        )
        self._layout_checked = False
        #: (version, session, done-key frame) of the last pending_only;
        #: threads racing on it only rebuild it
        self._done = None

    def _table(self):
        """The table, after the one-time legacy-layout check: a
        silently-empty ledger would re-dispatch every transaction an
        old ledger had marked done."""
        if not self._layout_checked:
            _, rec = self._ptr.latest()
            if rec is None:
                self._ptr.require_migrated("idempotency ledger")
            elif "data_dir" in rec:
                raise RuntimeError(
                    f"{self.path}: unconverted pointer-backed "
                    "idempotency ledger (its _log points at "
                    f"{rec['data_dir']}). Refusing to treat existing "
                    "data as empty — run migrate_to_versioned(spark) "
                    "once to convert it."
                )
            self._layout_checked = True
        return self._vt

    def exists(self) -> bool:
        return self._table().latest_version() is not None

    def load(self, spark: SparkSession) -> DataFrame | None:
        vt = self._table()
        v = vt.latest_version()
        if v is None:
            return None
        # merge_schema: ledger merges evolve the schema (e.g. mark_done
        # introducing status_text) and untouched files keep their
        # written schema until rewritten
        return vt.read(spark, version=v, merge_schema=True)

    def pending_only(self, spark: SparkSession, batch: DataFrame) -> DataFrame:
        """J6: drop rows already marked done (MUST precede side effects).

        One lazy plan, ``batch LEFT ANTI JOIN done``, where ``done`` is
        the latest version's ``status = 'done'`` keys (NULL batch keys
        survive). The ``done`` frame is pinned to that version's file
        list and kept per (version, session), so its schema-inference
        job runs once per version, not once per call."""
        vt = self._table()
        v = vt.latest_version()
        if v is None:
            return batch
        memo = self._done
        if memo is None or memo[0] != v or memo[1] is not spark:
            done = (
                vt.read(spark, version=v, merge_schema=True)
                .filter(F.col("status") == "done")
                .select(self.key)
            )
            memo = self._done = (v, spark, done)
        return batch.join(memo[2], self.key, "left_anti")

    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        conflict_retries: int = 0,
    ) -> None:
        """MERGE: matched -> take update row; not matched -> insert.

        ``updates`` must contain the key plus the ledger payload
        columns. Last-writer-wins within ``updates`` is resolved by
        keeping one row per key: max by 'updated_at' when present
        (ties and the no-timestamp case fall through to min row hash —
        deterministic under any partitioning, unlike dropDuplicates'
        keep-whichever-arrives-first).

        A merge that loses an overlapping race raises
        ``PointerConflict`` (default) or, with ``conflict_retries=N``,
        re-runs against the fresher snapshot up to N times (class
        docstring).
        """
        from pyspark.sql import Window

        from jde_to_datalake_spark.functions.scalars import stable_row_hash

        order = [stable_row_hash(updates).asc()]
        if "updated_at" in updates.columns:
            order.insert(0, F.col("updated_at").desc_nulls_last())
        w = Window.partitionBy(self.key).orderBy(*order)
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        self._upsert(self._table(), spark, updates, conflict_retries)

    def _upsert(self, vt, spark, rows: DataFrame, retries: int) -> None:
        """The table's keyed MERGE, its lost optimistic race surfaced
        as the ledger's uniform ``PointerConflict``."""
        from jde_to_datalake_spark.sources.log_store import PointerConflict
        from jde_to_datalake_spark.sources.versioned import (
            ConcurrentCommitError,
        )

        try:
            vt.merge(spark, rows, key=self.key, retries=retries)
        except ConcurrentCommitError as e:
            raise PointerConflict(
                f"{self.path}: ledger merge lost its optimistic race "
                "and exhausted its retries — the updates are NOT in "
                "the ledger; re-drive the batch"
            ) from e

    def migrate_to_versioned(self, spark: SparkSession) -> None:
        """Convert a pointer-backed ledger: upsert the pointer's current
        payload into the table, then CAS-publish the handoff marker on
        the root ``_log``. The upsert goes FIRST: a concurrent
        migrator's upsert serializes with ours in the table's own log,
        so any versioned marker at the contested version counts as
        ours. No-op on a ledger with no pointer or one already
        converted. A pointer flip landing before the marker raises
        ``PointerConflict``; invoking again re-upserts the fresher
        payload (keyed, so no duplicates) and converges."""
        base, rec = self._ptr.latest()
        if rec is None or "data_dir" not in rec:
            return
        current = spark.read.parquet(self._ptr.path_of(rec["data_dir"]))
        # straight to the table: every other call refuses this layout
        self._upsert(self._vt, spark, current, retries=5)
        self._ptr.publish_record(
            self._HANDOFF,
            base,
            is_ours=lambda landed: landed.get("backend") == "versioned",
        )

    def mark_done(
        self,
        spark: SparkSession,
        keys: DataFrame,
        status_text: str = "",
        conflict_retries: int = 0,
    ) -> None:
        """A13: grouped status UPDATE (dag_bakery_ops_to_jde.py:289-295)."""
        updates = keys.select(self.key).withColumns(
            {
                "status": F.lit("done"),
                "status_text": F.lit(status_text[:699]),  # F16 cap
            }
        )
        self.merge(spark, updates, conflict_retries=conflict_retries)

    def clean_stale(self, retention_seconds: float = 3600.0) -> list:
        """Reclaim a converted ledger's ``data-*`` dirs — the pointer
        payloads the handoff marker superseded, and orphans of writers
        that died mid-flip — older than the retention window."""
        return self._ptr.clean_stale(retention_seconds)
