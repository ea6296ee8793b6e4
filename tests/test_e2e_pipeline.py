"""End-to-end replay of the reference's flagship DAG
(dag_bakery_system_to_jde): fetch -> parse/flatten (R2) -> dedup vs
ledger (J6) -> dispatch (S14) -> idempotent status upsert (A12) ->
re-run dispatches nothing.

The REST fetch is the registered Python data source; dispatch is a
collected post-aggregation batch (the reference POSTs row-by-row; the
engine materializes the pending batch once, keeping side effects
outside Catalyst exactly like the foreachBatch pattern).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jde_to_datalake_spark.operators.flatten import (
    flatten_actions,
    synthesize_actions,
)
from jde_to_datalake_spark.plans.ledger import IdempotencyLedger
from jde_to_datalake_spark.session import load_table
from tests.conftest import SF_DIR


def _flat_items(spark):
    orders = load_table(spark, SF_DIR, "orders").filter(F.col("o_orderkey") < 200)
    lineitem = load_table(spark, SF_DIR, "lineitem").filter(F.col("l_orderkey") < 200)
    return flatten_actions(synthesize_actions(orders, lineitem))


@pytest.fixture(params=["versioned"])
def make_ledger():
    """The ledger's one backend, the VersionedTable partial-rewrite
    MERGE, drives the dispatch e2e."""
    return IdempotencyLedger


def test_full_dispatch_pipeline_idempotent(spark, tmp_path, make_ledger):
    ledger = make_ledger(str(tmp_path / "ledger"))
    flat = _flat_items(spark).dropDuplicates(["unique_transaction_id"])
    total = flat.count()
    assert total > 0

    # --- run 1: everything is pending; dispatch and mark done --------
    pending1 = ledger.pending_only(spark, flat)
    assert pending1.count() == total

    dispatched = pending1.select(
        "unique_transaction_id",
        F.lit("done").alias("status"),
        F.substring(F.lit("posted ok"), 1, 699).alias("status_text"),  # F16 cap
        F.lit(1).alias("updated_at"),
    )
    ledger.merge(spark, dispatched)
    stored = ledger.load(spark)
    assert stored.count() == total
    assert stored.filter(F.col("status") == "done").count() == total

    # --- run 2 (the 5-min re-poll with lookback): nothing to do ------
    pending2 = ledger.pending_only(spark, flat)
    assert pending2.count() == 0

    # --- late item arrives: only IT is dispatched --------------------
    late = flat.limit(1).withColumn(
        "unique_transaction_id", F.concat(F.col("unique_transaction_id"), F.lit("_late"))
    )
    pending3 = ledger.pending_only(spark, flat.unionByName(late))
    assert pending3.count() == 1
    ledger.merge(
        spark,
        pending3.select(
            "unique_transaction_id",
            F.lit("done").alias("status"),
            F.lit("late ok").alias("status_text"),
            F.lit(2).alias("updated_at"),
        ),
    )
    assert ledger.load(spark).count() == total + 1


def test_failed_dispatch_retried_next_run(spark, tmp_path, make_ledger):
    """status='failed' rows are NOT skipped by the dedup probe — the
    reference retries failures on the next poll (jde_helper.py ON
    CONFLICT DO UPDATE keeps the latest status)."""
    ledger = make_ledger(str(tmp_path / "ledger"))
    flat = _flat_items(spark).dropDuplicates(["unique_transaction_id"]).limit(10)

    first = flat.limit(3).select(
        "unique_transaction_id",
        F.lit("failed").alias("status"),
        F.lit("HTTP 500").alias("status_text"),
        F.lit(1).alias("updated_at"),
    )
    ledger.merge(spark, first)
    pending = ledger.pending_only(spark, flat)
    assert pending.count() == 10  # failed rows come back as pending

    retried = first.withColumn("status", F.lit("done")).withColumn(
        "updated_at", F.lit(2)
    )
    ledger.merge(spark, retried)
    assert ledger.load(spark).filter(F.col("status") == "done").count() == 3
    assert ledger.pending_only(spark, flat).count() == 7


def test_ledger_merge_within_batch_tiebreak_is_deterministic(spark, tmp_path):
    """A12: duplicate keys inside one updates batch resolve to the
    max-updated_at row (not an arbitrary dropDuplicates keeper), and
    without a timestamp to the min-row-hash row — stable under any
    partitioning / retry."""
    from jde_to_datalake_spark.plans.ledger import IdempotencyLedger

    ledger = IdempotencyLedger(str(tmp_path / "ledger_tb"))
    updates = spark.createDataFrame(
        [
            ("k1", "old", "2026-01-01"),
            ("k1", "new", "2026-02-01"),
            ("k2", "only", "2026-01-15"),
        ],
        "unique_transaction_id string, status string, updated_at string",
    ).repartition(4)
    ledger.merge(spark, updates)
    got = {
        r["unique_transaction_id"]: r["status"]
        for r in ledger.load(spark).collect()
    }
    assert got == {"k1": "new", "k2": "only"}

    # no updated_at column: keeper is the min-row-hash row, so repeated
    # merges of the same multiset always pick the same keeper
    ledger2 = IdempotencyLedger(str(tmp_path / "ledger_tb2"))
    dup = spark.createDataFrame(
        [("k1", "a"), ("k1", "b")], "unique_transaction_id string, status string"
    )
    ledger2.merge(spark, dup.repartition(1))
    first = ledger2.load(spark).collect()[0]["status"]
    for n_parts in (2, 3, 5):
        ledger3 = IdempotencyLedger(str(tmp_path / f"ledger_tb3_{n_parts}"))
        ledger3.merge(spark, dup.repartition(n_parts))
        assert ledger3.load(spark).collect()[0]["status"] == first
