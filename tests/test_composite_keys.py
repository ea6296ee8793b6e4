"""Composite merge keys: merge / merge_into / SCD2 / LakeSQL MERGE all
accept ``key: list[str]`` — the reference's ledger upserts on the
composite ``(action_id, ingredient_id, lot_id)``
(jde_helper.py:1367-1381), previously served only by the concat-utid
convention (F7). File pruning intersects the per-column footer-stat
probes, so a composite-key merge on a clustered table still rewrites
a file subset."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jde_to_datalake_spark.sources.versioned import VersionedTable


@pytest.fixture()
def table(tmp_path):
    return VersionedTable(str(tmp_path / "tbl"))


def _base(spark, table, n=100):
    df = spark.range(0, n).select(
        (F.col("id") % 10).cast("int").alias("a"),
        (F.col("id") / 10).cast("int").alias("b"),
        (F.col("id") * 2).alias("v"),
    )
    table.commit(
        df.repartitionByRange(4, "a", "b").sortWithinPartitions("a", "b"),
        mode="overwrite",
    )
    return table


def _rows(spark, t):
    return {(r["a"], r["b"]): r["v"] for r in t.read(spark).collect()}


# -- merge -------------------------------------------------------------------


def test_composite_merge_updates_and_inserts(spark, table):
    _base(spark, table)
    src = spark.createDataFrame(
        [(3, 0, 999), (99, 99, 1)], "a int, b int, v long"
    )
    table.merge(spark, src, key=["a", "b"])
    got = _rows(spark, table)
    assert got[(3, 0)] == 999
    assert got[(99, 99)] == 1
    assert len(got) == 101
    # a same-a different-b row was NOT touched (composite, not single)
    assert got[(3, 1)] == 26


def test_composite_merge_duplicate_key_rejected(spark, table):
    _base(spark, table)
    dup = spark.createDataFrame([(1, 1, 5), (1, 1, 6)], "a int, b int, v long")
    with pytest.raises(ValueError, match="duplicate key"):
        table.merge(spark, dup, key=["a", "b"])
    # same a, different b: NOT a duplicate composite key
    ok = spark.createDataFrame([(1, 1, 5), (1, 2, 6)], "a int, b int, v long")
    table.merge(spark, ok, key=["a", "b"])
    got = _rows(spark, table)
    assert got[(1, 1)] == 5 and got[(1, 2)] == 6


def test_composite_merge_null_key_rows_are_pure_inserts(spark, table):
    _base(spark, table)
    src = spark.createDataFrame(
        [(None, 0, 111), (None, 0, 222)], "a int, b int, v long"
    )
    table.merge(spark, src, key=["a", "b"])
    df = table.read(spark)
    assert df.count() == 102  # both NULL-key rows inserted
    assert df.filter(F.col("a").isNull()).count() == 2
    assert _rows(spark, table)[(0, 0)] == 0  # existing rows untouched


def test_composite_probe_prunes_files(spark, table):
    _base(spark, table)
    keys_df = spark.createDataFrame([(0, 0)], ["a", "b"])
    p = table._probe_batch(
        spark, keys_df, ["a", "b"], table.latest_version(), "merge"
    )
    m = p.manifest
    assert p.touched and p.untouched  # the probe pruned a real subset
    # every untouched file is provably range-disjoint on a or b
    for f in p.untouched:
        sa = m["stats"][f].get("a")
        sb = m["stats"][f].get("b")
        assert (sa and not sa[0] <= 0 <= sa[1]) or (
            sb and not sb[0] <= 0 <= sb[1]
        )


# -- merge_into ---------------------------------------------------------------


def test_composite_merge_into_full_clauses(spark, table):
    _base(spark, table)
    src = spark.createDataFrame(
        [(3, 0, 1), (4, 0, 2), (77, 77, 3)], "a int, b int, x int"
    )
    table.merge_into(
        spark,
        src,
        ["a", "b"],
        matched=[
            ("delete", "s.x = 1"),
            ("update", "s.x = 2", {"v": "t.v + 1000"}),
        ],
        not_matched=[("insert", None)],
    )
    got = _rows(spark, table)
    assert (3, 0) not in got  # deleted
    assert got[(4, 0)] == 8 + 1000  # conditionally updated
    assert (77, 77) in got  # inserted (x column evolves the schema)
    assert len(got) == 100


def test_composite_merge_into_not_matched_by_source(spark, table):
    _base(spark, table)
    # mirror-sync to just two rows
    src = table.read(spark).filter(
        (F.col("a") == 0) & (F.col("b").isin(0, 1))
    )
    table.merge_into(
        spark,
        src,
        ["a", "b"],
        matched=[("update", None, None)],
        not_matched_by_source=[("delete", None)],
    )
    got = _rows(spark, table)
    assert set(got) == {(0, 0), (0, 1)}


# -- SCD2 ---------------------------------------------------------------------


def test_composite_scd2(spark, tmp_path):
    from jde_to_datalake_spark.sources.scd import apply_scd2

    dim = VersionedTable(str(tmp_path / "dim"))
    b1 = spark.createDataFrame(
        [(1, "x", "red", 100), (1, "y", "blue", 100), (2, "x", "green", 100)],
        ["site", "item", "color", "ts"],
    )
    apply_scd2(spark, dim, b1, ["site", "item"], ["color"], "ts")
    b2 = spark.createDataFrame(
        [(1, "x", "RED", 200)], ["site", "item", "color", "ts"]
    )
    v2 = apply_scd2(spark, dim, b2, ["site", "item"], ["color"], "ts")
    # idempotent re-apply
    assert apply_scd2(spark, dim, b2, ["site", "item"], ["color"], "ts") == v2
    rows = dim.read(spark).collect()
    cur = {
        (r["site"], r["item"]): r["color"]
        for r in rows
        if r["is_current"]
    }
    assert cur == {(1, "x"): "RED", (1, "y"): "blue", (2, "x"): "green"}
    closed = [r for r in rows if not r["is_current"]]
    assert len(closed) == 1
    assert (closed[0]["site"], closed[0]["item"]) == (1, "x")
    assert closed[0]["valid_to"] == 200


# -- LakeSQL ------------------------------------------------------------------


def test_lake_sql_composite_merge(spark, table):
    from jde_to_datalake_spark.plans.lake_sql import LakeSQL

    _base(spark, table)
    lk = LakeSQL(spark)
    lk.register("t", table)
    lk.sql(
        """
        MERGE INTO t USING (
            SELECT CAST(3 AS INT) AS a, CAST(0 AS INT) AS b,
                   CAST(999 AS BIGINT) AS v
            UNION ALL
            SELECT CAST(55 AS INT), CAST(66 AS INT), CAST(1 AS BIGINT)
        ) s
        ON t.a = s.a AND t.b = s.b
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    got = _rows(spark, table)
    assert got[(3, 0)] == 999 and got[(55, 66)] == 1 and len(got) == 101


def test_composite_read_changes(spark, table):
    _base(spark, table)
    src = spark.createDataFrame(
        [(3, 0, 999), (99, 99, 1)], "a int, b int, v long"
    )
    table.merge(spark, src, key=["a", "b"])
    ch = table.read_changes(spark, 0, table.latest_version(), key=["a", "b"])
    got = {
        (r["a"], r["b"], r["_change_type"]): r["v"] for r in ch.collect()
    }
    assert got == {
        (3, 0, "update_preimage"): 6,
        (3, 0, "update_postimage"): 999,
        (99, 99, "insert"): 1,
    }


def test_read_changes_null_key_rows_are_delete_insert(spark, table):
    """NULL key components must match NOTHING in the change-feed
    classification (same as the merge equi-join): a deleted NULL-key
    row and an inserted NULL-key row are independent delete+insert
    events, never an update pair."""
    t0 = spark.createDataFrame(
        [(None, 1, 10), (1, 1, 11)], "a int, b int, v long"
    )
    table.commit(t0, mode="overwrite")
    t1 = spark.createDataFrame(
        [(None, 1, 20), (1, 1, 11)], "a int, b int, v long"
    )
    table.commit(t1, mode="overwrite")
    ch = table.read_changes(spark, 0, 1, key=["a", "b"]).collect()
    got = sorted((r["a"], r["v"], r["_change_type"]) for r in ch)
    # the identical (1,1,11) row cancels; the NULL-key rows do NOT
    # pair up as update_pre/postimage
    assert got == [
        (None, 10, "delete"),
        (None, 20, "insert"),
    ]


def test_merge_guard_and_probe_share_one_job(spark, tmp_path):
    """The duplicate-key guard, the key-envelope aggregate, and the
    footer-stat file probe ride ONE Spark job (_probe_batch): the
    guard was previously its own collect on top of the per-column
    probe jobs. Measured on this suite's pinned session: single-key
    merge 12 -> 11 jobs, composite 15 -> 14 — the upper bounds below
    regress if the guard job reappears. The merge_into (matched
    update plus insert) and apply_scd2 legs hold the other two keyed
    writers on the same probe to their measured job counts."""
    from pyspark.sql import functions as F

    from jde_to_datalake_spark.sources.scd import apply_scd2
    from jde_to_datalake_spark.sources.versioned import VersionedTable

    sc = spark.sparkContext
    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    t.commit(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        mode="overwrite",
    )
    dim = VersionedTable(str(tmp_path / "dim"))
    apply_scd2(
        spark,
        dim,
        spark.range(0, 100).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("v"),
            F.lit(1).cast("long").alias("ts"),
        ),
        "k",
        ["v"],
        "ts",
    )

    def jobs(group, fn):
        sc.setJobGroup(group, "")
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    n_single = jobs(
        "merge-jobs-single",
        lambda: t.merge(
            spark,
            spark.createDataFrame([(95, 1, -1), (97, 2, -2)], ["k", "g", "v"]),
            "k",
        ),
    )
    n_comp = jobs(
        "merge-jobs-composite",
        lambda: t.merge(
            spark,
            spark.createDataFrame([(12, 2, -3)], ["k", "g", "v"]),
            ["k", "g"],
        ),
    )
    n_into = jobs(
        "merge-jobs-merge-into",
        lambda: t.merge_into(
            spark,
            spark.createDataFrame([(40, 0, -4), (500, 0, -5)], ["k", "g", "v"]),
            "k",
            matched=[("update", None, {"v": "s.v"})],
            not_matched=[("insert", None)],
        ),
    )
    n_scd = jobs(
        "merge-jobs-scd2",
        lambda: apply_scd2(
            spark,
            dim,
            spark.createDataFrame([(3, 99, 2), (300, 1, 2)], ["k", "v", "ts"]),
            "k",
            ["v"],
            "ts",
        ),
    )
    assert n_single <= 11, n_single
    assert n_comp <= 14, n_comp
    assert n_into <= 17, n_into
    assert n_scd <= 22, n_scd
    # and the writes themselves were correct
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[95] == -1 and got[97] == -2 and got[12] == -3
    assert got[40] == -4 and got[500] == -5
    assert len(got) == 101
    cur = {
        r["k"]: r["v"]
        for r in dim.read(spark).collect()
        if r["is_current"]
    }
    assert cur[3] == 99 and cur[300] == 1 and cur[4] == 4
    assert len(cur) == 101
