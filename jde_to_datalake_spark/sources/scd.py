"""SCD Type 2 — keyed change history over the versioned table.

The reference keeps entity history as dated full snapshots (one
parquet drop per day per dispatch type, backend/s3_helper.py:45-75)
and answers "what did this item look like on date D" by reading that
day's file. The lakehouse-native form is a Type-2 slowly-changing
dimension: ONE table holding every attribute version as a row with
``valid_from`` / ``valid_to`` / ``is_current`` columns, maintained
incrementally from a change feed — Delta Live Tables' APPLY CHANGES
INTO ... STORED AS SCD TYPE 2, re-expressed over
:class:`~jde_to_datalake_spark.sources.versioned.VersionedTable`
primitives.

Semantics per batch (after SEQUENCE-BY dedup to the latest row per
key by ``ts_col``):

- a key whose tracked attributes CHANGED closes its current row
  (``valid_to`` = the batch row's timestamp, ``is_current`` = false)
  and inserts a new current row (``valid_from`` = that timestamp);
- a key whose tracked attributes are UNCHANGED leaves its row alone
  (no churn version);
- a batch row whose timestamp is not strictly newer than the current
  row's ``valid_from`` is STALE and skipped — re-applying an old or
  duplicate batch is a no-op, which is what makes at-least-once CDC
  delivery and the optimistic retry loop safe;
- a key with no current row gets a fresh current row — but a
  previously-closed key reopens only for a timestamp STRICTLY newer
  than its last recorded event, so a redelivered stale upsert can
  never resurrect a deleted/closed entity with old data.

Scale: SCD2 shares the keyed partial rewrite of ``merge`` and
``merge_into`` (``VersionedTable._probe_batch`` and
``_publish_rewrite``) — the batch's keys are probed against footer
stats in one job, only files that can hold a batch key are read and
rewritten, everything else is carried by reference, and a batch no
file can hold is appended with nothing rewritten; on a key-clustered
dimension a B-key batch rewrites O(B) files regardless of how much
history the table holds. A one-job probe skips the commit entirely
when no clause would act. Snapshot-isolated with the optimistic
``retries`` loop every keyed writer shares, and exactly-once from a
stream via the txn-stamped ``scd2_batch_writer``.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jde_to_datalake_spark.sources.versioned import (
    VersionedTable,
    _retry_on_conflict,
)


def apply_scd2(
    spark: SparkSession,
    table: VersionedTable,
    updates: DataFrame,
    key: "str | list[str]",
    tracked: "list[str]",
    ts_col: str,
    start_col: str = "valid_from",
    end_col: str = "valid_to",
    current_col: str = "is_current",
    delete_col: "str | None" = None,
    txn: "tuple[str, int] | list[tuple[str, int]] | None" = None,
    retries: int = 0,
) -> "int | None":
    """Apply one CDC batch to ``table`` as SCD Type 2; returns the new
    version (the current one when the batch changes nothing, ``None``
    on an empty first batch).

    ``updates`` carries the key, the tracked attribute columns, and
    ``ts_col`` (the change timestamp — any orderable type). The
    dimension's bookkeeping columns (``start_col``/``end_col``/
    ``current_col``) are owned by this function: the batch must not
    supply them, and ``end_col`` takes ``ts_col``'s type.

    ``delete_col`` names an optional boolean event flag: a true row is
    a CDC DELETE — it CLOSES the key's current row at its timestamp
    and opens nothing (the key's history stays queryable; a later
    upsert reopens it). Delete events for unknown keys are ignored,
    stale delete events skip like any stale row, and the flag column
    itself never lands in the dimension.
    """
    for c in (start_col, end_col, current_col):
        if c in updates.columns:
            raise ValueError(
                f"apply_scd2: column {c!r} is SCD bookkeeping — the "
                "batch must not supply it"
            )
    keys = [key] if isinstance(key, str) else list(key)
    need = [*keys, ts_col, *tracked] + ([delete_col] if delete_col else [])
    missing = [c for c in need if c not in updates.columns]
    if missing:
        raise ValueError(f"apply_scd2: batch lacks column(s) {missing}")
    return _retry_on_conflict(
        retries,
        _apply_scd2_once,
        spark,
        table,
        updates,
        keys,
        list(tracked),
        ts_col,
        start_col,
        end_col,
        current_col,
        delete_col,
        txn,
    )


def _and_eq(a: str, b: str, keys: "list[str]"):
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"{a}.`{k}`") == F.col(f"{b}.`{k}`"))
    return cond


def _apply_scd2_once(
    spark,
    table,
    updates,
    keys,
    tracked,
    ts_col,
    start_col,
    end_col,
    current_col,
    delete_col,
    txn,
) -> "int | None":
    # SEQUENCE BY: latest row per key wins within the batch (NULL keys
    # are dropped — a dimension row needs an identity)
    ident = F.lit(True)
    for k in keys:
        ident = ident & F.col(k).isNotNull()
    latest = (
        updates.filter(ident)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(F.col(ts_col).desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        # consumed by the key probe, the close-classification join,
        # the open-rows joins, and _as_dim: compute the batch dedup
        # once and share blocks
        .localCheckpoint(eager=False)
    )
    ts_type = updates.schema[ts_col].dataType.simpleString()

    def _not_deleted(df, qual=""):
        if delete_col is None:
            return F.lit(True)
        return ~F.coalesce(
            F.col(f"{qual}`{delete_col}`").cast("boolean"), F.lit(False)
        )

    def _as_dim(df):
        """Batch rows shaped as new CURRENT dimension rows."""
        out = (
            df.withColumn(start_col, F.col(ts_col))
            .withColumn(end_col, F.lit(None).cast(ts_type))
            .withColumn(current_col, F.lit(True))
            .drop(ts_col)
        )
        return out.drop(delete_col) if delete_col else out

    prev = table.latest_version()
    if prev is None:
        first = _as_dim(latest.filter(_not_deleted(latest)))
        if first.isEmpty():
            return None
        return table.commit(
            first,
            mode="overwrite",
            expected_base=None,
            txn=txn,
            annotations={"operation": "SCD2"},
        )

    # key envelope (the commit-reconciliation read declaration) and
    # footer-stat file probe in ONE job — the batch is already
    # key-unique after the window dedup, so the duplicate guard is
    # vacuously satisfied
    p = table._probe_batch(spark, latest, keys, prev, "apply_scd2")
    touched = p.touched
    if not touched:
        # no file can hold a batch key: every batch row is a new key
        # (delete events for unknown keys are ignored)
        return table._publish_rewrite(
            prev,
            table._physical_batch(
                _as_dim(latest.filter(_not_deleted(latest))), prev
            ),
            None, p.untouched, touched, p.read_ranges, "SCD2", txn,
            physical=True,
        )

    live = table._live_scan(spark, touched, prev)
    # consumed by the probe pair, the kept-rows rewrite, and the
    # open-rows joins: compute the touched scan once, share blocks
    live = live.localCheckpoint(eager=False)
    tcols = list(live.columns)

    # classify each touched row against its (at most one) batch row
    t = live.alias("t")
    s = latest.withColumn("__src", F.lit(True)).alias("s")
    jcond = F.lit(True)
    for k in keys:
        jcond = jcond & (F.col(f"t.`{k}`") == F.col(f"s.`{k}`"))
    j = t.join(s, jcond, "left")
    is_cur = F.col(f"t.`{current_col}`")
    fresh = F.col("__src").isNotNull() & (
        F.col(f"s.`{ts_col}`") > F.col(f"t.`{start_col}`")
    )
    changed = F.lit(False)
    for c in tracked:
        changed = changed | ~F.col(f"t.`{c}`").eqNullSafe(F.col(f"s.`{c}`"))
    closes = is_cur & fresh & (changed | ~_not_deleted(j, "s."))

    cur_rows = live.filter(F.col(current_col)).alias("c")
    # per-key last-event instant over the key's WHOLE history (open or
    # closed): a closed key may reopen only for a STRICTLY newer
    # timestamp — otherwise a redelivered stale upsert would resurrect
    # a deleted/closed entity with old data (at-least-once safety)
    hist_agg = live.groupBy(*keys).agg(
        F.max(F.coalesce(F.col(end_col), F.col(start_col))).alias(
            "__last_ev"
        ),
        F.max(F.col(current_col).cast("int")).alias("__has_cur"),
    )

    def _openable_new(df):
        """Batch rows (non-delete) allowed to OPEN a row for a key
        with no current row: unknown keys, or closed keys the row's
        timestamp strictly postdates."""
        return (
            df.filter(_not_deleted(df)).alias("s")
            .join(
                hist_agg.alias("h"),
                _and_eq("s", "h", keys),
                "left",
            )
            .filter(
                F.col("__has_cur").isNull()
                | (
                    (F.col("__has_cur") == 0)
                    & (F.col(f"s.`{ts_col}`") > F.col("__last_ev"))
                )
            )
            .select("s.*")
        )

    # probe jobs: anything to do at all? (an idempotent re-apply must
    # not rewrite byte-identical files)
    n_closes = j.filter(closes).limit(1).count()
    n_new = _openable_new(latest).limit(1).count()
    if n_closes == 0 and n_new == 0:
        return prev

    # rewritten touched rows: history and non-matching rows unchanged;
    # closing rows take (valid_to = batch ts, is_current = false)
    out_cols = []
    for c in tcols:
        val = F.col(f"t.`{c}`")
        if c == end_col:
            val = F.when(closes, F.col(f"s.`{ts_col}`")).otherwise(val)
        elif c == current_col:
            val = F.when(closes, F.lit(False)).otherwise(val)
        out_cols.append(val.alias(c))
    # generated columns recompute over the closed rows; ones declared
    # after the touched files were written are materialized
    kept = table._recompute_generated(
        j.select(*out_cols, closes.alias("__closed")),
        F.col("__closed"),
        prev,
    ).drop("__closed")

    # new current rows: changed keys + keys lacking a current row.
    # (A stale batch row never opens a version: the close predicate
    # requires a strictly newer timestamp, and a stale row for a key
    # WITH a current row falls into neither branch.)
    changed_s = F.lit(False)
    for c in tracked:
        changed_s = changed_s | ~F.col(f"c.`{c}`").eqNullSafe(
            F.col(f"s.`{c}`")
        )
    matched_new = (
        latest.alias("s")
        .join(
            cur_rows,
            _and_eq("s", "c", keys),
            "inner",
        )
        .filter(
            (F.col(f"s.`{ts_col}`") > F.col(f"c.`{start_col}`"))
            & changed_s
            & _not_deleted(None, "s.")
        )
        .select("s.*")
    )
    brand_new = _openable_new(latest)
    opens = _as_dim(matched_new.unionByName(brand_new))

    opens = table._apply_generated(opens)
    table._enforce_constraints(opens)
    return table._publish_rewrite(
        prev,
        kept.unionByName(opens, allowMissingColumns=True),
        live, p.untouched, touched, p.read_ranges, "SCD2", txn,
    )


def scd2_batch_writer(
    table: VersionedTable,
    key: "str | list[str]",
    tracked: "list[str]",
    ts_col: str,
    app_id: Optional[str] = None,
    **scd_cols,
):
    """``foreachBatch`` function maintaining ``table`` as an SCD-2
    dimension from a CDC stream. With ``app_id`` the write is
    txn-stamped (Delta's txnAppId/txnVersion): a batch re-delivered
    after a crash between sink commit and checkpoint advance is
    skipped outright, making the dimension exactly-once; bind
    ``app_id`` to the checkpoint lineage (``checkpoint_app_id``) so a
    deleted checkpoint cannot replay under a stale identity. Without
    it, at-least-once delivery is still SAFE (stale-timestamp rows
    are skipped by construction) — it just pays the probe cost on
    re-delivery."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        txn = None
        if app_id is not None:
            last = table.last_txn_version(app_id)
            if last is not None and last >= batch_id:
                return  # already applied (crash-window re-delivery)
            txn = (app_id, batch_id)
        apply_scd2(
            batch_df.sparkSession,
            table,
            batch_df,
            key,
            tracked,
            ts_col,
            txn=txn,
            **scd_cols,
        )

    return write
