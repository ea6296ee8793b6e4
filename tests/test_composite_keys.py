"""Composite merge keys: merge / merge_into / SCD2 / LakeSQL MERGE all
accept ``key: list[str]`` — the reference's ledger upserts on the
composite ``(action_id, ingredient_id, lot_id)``
(jde_helper.py:1367-1381), previously served only by the concat-utid
convention (F7). File pruning intersects the per-column footer-stat
probes, so a composite-key merge on a clustered table still rewrites
a file subset."""

from __future__ import annotations

import datetime as _dt
import os

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


# -- keyed writes on non-numeric keys and wider batch types ----------------

_KEYS = {
    # BINARY stats are stored hex-encoded; the high bytes check that the
    # probe keeps unsigned byte order
    "binary": ("binary", [b"\x10\x01", b"\x10\x02", b"\x80\x01", b"\xf0\x02"]),
    "date": (
        "date",
        [_dt.date(2024, 1, 1), _dt.date(2024, 1, 2),
         _dt.date(2024, 6, 1), _dt.date(2024, 6, 2)],
    ),
    "timestamp": (
        "timestamp",
        [_dt.datetime(2024, 1, 1, 10), _dt.datetime(2024, 1, 1, 11),
         _dt.datetime(2024, 6, 1, 10), _dt.datetime(2024, 6, 1, 11)],
    ),
}


def _keyed_write(spark, t, writer, rows, ddl):
    """One keyed write of ``rows`` through ``writer``: a plain upsert
    for merge/merge_into, a newer SCD2 event (tracked ``v``, ``ts``)
    for apply_scd2."""
    from jde_to_datalake_spark.sources.scd import apply_scd2

    df = spark.createDataFrame(rows, ddl).coalesce(1)
    if writer == "merge":
        return t.merge(spark, df, "k")
    if writer == "merge_into":
        return t.merge_into(
            spark, df, "k", matched=[("update", None, None)],
            not_matched=[("insert", None)],
        )
    return apply_scd2(spark, t, df, "k", ["v"], "ts")


def _live_rows(spark, t, writer):
    rows = t.read(spark).collect()
    return [r for r in rows if writer != "apply_scd2" or r["is_current"]]


@pytest.mark.parametrize("writer", ["merge", "merge_into", "apply_scd2"])
@pytest.mark.parametrize("kind", sorted(_KEYS))
def test_keyed_write_finds_non_numeric_keys_in_their_file(
    spark, tmp_path, writer, kind
):
    """A key stored in a file must be found by the footer-stat probe
    whatever its type: BINARY stats are hex-encoded, date/timestamp
    stats ISO strings, and a probe comparing raw batch keys against
    the stored form would prune the file holding the key and insert
    the key a second time."""
    ktype, keys = _KEYS[kind]
    ddl = f"k {ktype}, v int, ts int"
    t = VersionedTable(str(tmp_path / "t"))
    # two files of two keys each
    _keyed_write(spark, t, writer, [(keys[0], 0, 1), (keys[1], 1, 1)], ddl)
    _keyed_write(spark, t, writer, [(keys[2], 2, 1), (keys[3], 3, 1)], ddl)
    assert len(t._manifest(t.latest_version())["files"]) == 2
    # one existing key from each file
    _keyed_write(
        spark, t, writer, [(keys[1], 10, 2), (keys[2], 20, 2)], ddl
    )
    live = _live_rows(spark, t, writer)
    got = {bytes(r["k"]) if kind == "binary" else r["k"]: r["v"]
           for r in live}
    assert len(live) == 4, live
    assert got == {keys[0]: 0, keys[1]: 10, keys[2]: 20, keys[3]: 3}


@pytest.mark.parametrize(
    "writer", ["merge", "merge_into", "apply_scd2", "update_where"]
)
def test_keyed_rewrite_keeps_the_table_column_types(
    spark, tmp_path, writer
):
    """A batch whose ``v`` (and ``ts``) is bigint, rewriting files of
    an int table, must write int files: a touched file rewritten as
    bigint next to a carried int file makes a plain read fail. A value
    the table type cannot hold raises and commits nothing. The
    ``update_where`` leg seeds through ``merge`` and assigns a bigint
    SET expression to ``v`` instead of writing a bigint batch."""
    import pyarrow.parquet as pq

    t = VersionedTable(str(tmp_path / "t"))
    narrow = "k bigint, v int, ts int"
    wide = "k bigint, v bigint, ts bigint"
    seed = "merge" if writer == "update_where" else writer
    _keyed_write(spark, t, seed, [(1, 1, 1), (2, 2, 1)], narrow)
    _keyed_write(spark, t, seed, [(10, 10, 1), (11, 11, 1)], narrow)
    # key 1 touches the first file only; key 5 is a new key
    if writer == "update_where":
        t.update_where(spark, {"v": "CAST(v AS BIGINT) + 99"}, "k = 1")
    else:
        _keyed_write(spark, t, writer, [(1, 100, 2), (5, 5, 2)], wide)
    files = t._manifest(t.latest_version())["files"]
    types = {
        str(pq.read_schema(os.path.join(t.root, f)).field(c).type)
        for f in files
        for c in ("v",) + (("valid_to",) if writer == "apply_scd2" else ())
    }
    assert types == {"int32"}, types
    got = {r["k"]: r["v"] for r in _live_rows(spark, t, writer)}
    assert got == {1: 100, 2: 2, 10: 10, 11: 11} | (
        {} if writer == "update_where" else {5: 5}
    )
    before = t.latest_version()
    with pytest.raises(Exception, match="CAST_OVERFLOW|overflow"):
        if writer == "update_where":
            t.update_where(
                spark, {"v": f"CAST(v AS BIGINT) + {1 << 40}"}, "k = 2"
            )
        else:
            _keyed_write(spark, t, writer, [(2, 1 << 40, 3)], wide)
    assert t.latest_version() == before
    assert {r["k"]: r["v"] for r in _live_rows(spark, t, writer)} == got
