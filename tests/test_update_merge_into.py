"""Row-level UPDATE, full-clause MERGE INTO, and timestamp time travel
on the versioned table (Delta's UPDATE / MERGE INTO / timestampAsOf)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from jde_to_datalake_spark.sources.versioned import VersionedTable


@pytest.fixture()
def table(tmp_path):
    return VersionedTable(str(tmp_path / "tbl"))


def _rows(spark, t, version=None, **kw):
    return sorted(tuple(r) for r in t.read(spark, version, **kw).collect())


# -- version_at / timestampAsOf ------------------------------------------


def test_version_at_resolves_wall_clock(spark, table):
    v0 = table.commit(spark.createDataFrame([(1, "a")], ["k", "v"]), mode="overwrite")
    ts0 = time.time()
    time.sleep(0.02)
    v1 = table.commit(spark.createDataFrame([(2, "b")], ["k", "v"]), mode="append")
    assert table.version_at(ts0) == v0
    at1 = table._read_record(v1)["committed_at"]
    assert table.version_at(at1) == v1
    # future instants raise (Delta's "timestamp after latest commit")
    with pytest.raises(ValueError, match="after the latest commit"):
        table.version_at(time.time() + 3600)
    # ... unless the caller opts into change-feed-style clamping
    assert table.version_at(time.time() + 3600, clamp_future=True) == v1
    # instants before the earliest retained commit raise (vacuum bound)
    with pytest.raises(ValueError, match="no retained commit"):
        table.version_at(ts0 - 1000)


def test_read_changes_until_timestamp_clamps_future(spark, table):
    table.commit(spark.createDataFrame([(1, "a")], ["k", "v"]), mode="overwrite")
    table.commit(spark.createDataFrame([(2, "b")], ["k", "v"]), mode="append")
    ch = table.read_changes(
        spark, v_from=0, until_timestamp=time.time() + 3600, key="k"
    )
    assert [(r["k"], r["_change_type"]) for r in ch.collect()] == [(2, "insert")]


def test_read_as_of_timestamp(spark, table):
    table.commit(spark.createDataFrame([(1, "a")], ["k", "v"]), mode="overwrite")
    ts0 = time.time()
    time.sleep(0.02)
    table.commit(spark.createDataFrame([(2, "b")], ["k", "v"]), mode="append")
    assert _rows(spark, table, as_of_timestamp=ts0) == [(1, "a")]
    with pytest.raises(ValueError, match="not both"):
        table.read(spark, version=0, as_of_timestamp=ts0)


def test_version_at_accepts_datetime_and_iso(spark, table):
    import datetime as dt

    table.commit(spark.createDataFrame([(1, "a")], ["k", "v"]), mode="overwrite")
    table.commit(spark.createDataFrame([(2, "b")], ["k", "v"]), mode="append")
    at0 = table._read_record(0)["committed_at"]
    at1 = table._read_record(1)["committed_at"]
    # probe strictly inside [at0, at1): datetime carries microseconds
    # and fromtimestamp may round UP past a float commit stamp
    probe = dt.datetime.fromtimestamp(
        max(at0, at1 - 0.001), dt.timezone.utc
    )
    assert table.version_at(probe) == 0
    assert table.version_at(probe.isoformat()) == 0


# -- update_where ---------------------------------------------------------


def test_update_where_updates_matching_rows_only(spark, table):
    v0 = table.commit(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "s", "n"]),
        mode="overwrite",
    )
    v1 = table.update_where(spark, {"s": F.lit("X"), "n": "n + 100"}, "k >= 2")
    assert v1 == v0 + 1
    assert _rows(spark, table) == [(1, "a", 10), (2, "X", 120), (3, "X", 130)]
    # time travel: the pre-update snapshot is intact
    assert _rows(spark, table, v0) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


def test_update_where_set_sees_pre_update_row(spark, table):
    table.commit(spark.createDataFrame([(1, 2)], ["a", "b"]), mode="overwrite")
    table.update_where(spark, {"a": "b", "b": "a"}, "true")
    assert _rows(spark, table) == [(2, 1)]  # swapped, not chained


def test_update_where_no_match_is_noop(spark, table):
    v0 = table.commit(spark.createDataFrame([(1, 1)], ["k", "n"]), mode="overwrite")
    assert table.update_where(spark, {"n": "0"}, "k > 99") == v0


def test_update_where_partial_rewrite_carries_files(spark, table):
    # several commits -> several files; update touches one key
    for i in range(4):
        table.commit(spark.createDataFrame([(i, i * 10)], ["k", "n"]), mode="append")
    v0 = table.latest_version()
    v1 = table.update_where(spark, {"n": "n + 1"}, "k = 2")
    m0 = set(table._manifest(v0)["files"])
    m1 = set(table._manifest(v1)["files"])
    carried = m0 & m1
    assert carried, "files without matching rows must be carried by reference"
    assert len(m0 - m1) < len(m0), "only matching files rewritten"
    assert _rows(spark, table) == [(0, 0), (1, 10), (2, 21), (3, 30)]


def test_update_where_skips_tombstoned_rows(spark, table):
    table.commit(
        spark.createDataFrame([(1, "x"), (2, "x"), (3, "x")], ["k", "v"]),
        mode="overwrite",
    )
    table.delete_where(spark, "k = 2")
    table.update_where(spark, {"v": F.lit("y")}, "v = 'x'")
    # the deleted row is neither updated nor resurrected
    assert _rows(spark, table) == [(1, "y"), (3, "y")]


def test_update_where_rejects_generated_assignment_and_recomputes(spark, table):
    table.commit(spark.createDataFrame([(1, 10)], ["k", "n"]), mode="overwrite")
    table.add_generated_column(spark, "n2", "n * 2")
    with pytest.raises(ValueError, match="GENERATED"):
        table.update_where(spark, {"n2": "0"}, "true")
    table.update_where(spark, {"n": "n + 5"}, "k = 1")
    # merge_schema: untouched (empty) parts may predate the declaration
    assert _rows(spark, table, merge_schema=True) == [(1, 15, 30)]


def test_update_where_enforces_constraints(spark, table):
    table.commit(spark.createDataFrame([(1, 10)], ["k", "n"]), mode="overwrite")
    table.add_constraint(spark, "n_pos", "n > 0")
    with pytest.raises(ValueError, match="n_pos"):
        table.update_where(spark, {"n": "-1"}, "k = 1")
    # a violating table was never published
    assert _rows(spark, table) == [(1, 10)]


def test_update_where_speaks_logical_names_under_rename(spark, table):
    table.commit(spark.createDataFrame([(1, 10)], ["k", "n"]), mode="overwrite")
    table.rename_column("n", "amount")
    table.update_where(spark, {"amount": "amount + 1"}, "amount = 10")
    df = table.read(spark)
    assert df.columns == ["k", "amount"]
    assert [tuple(r) for r in df.collect()] == [(1, 11)]


def test_update_where_change_feed_classifies_updates(spark, table):
    v0 = table.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), mode="overwrite"
    )
    v1 = table.update_where(spark, {"v": F.lit("B")}, "k = 2")
    ch = table.read_changes(spark, v0, v1, key="k")
    got = sorted((r["k"], r["_change_type"]) for r in ch.collect())
    assert got == [(2, "update_postimage"), (2, "update_preimage")]


def test_update_where_assigning_evolved_column(spark, table):
    """A SET on a column the touched files don't carry is schema
    evolution (the lake has no table-wide schema): old value NULL,
    rewrite materializes the column — the Delta-schema-evolved
    UPDATE shape, and why a typo'd name creates a column instead of
    raising (consistent with evolved appends)."""
    table.commit(spark.createDataFrame([(1, 1), (2, 2)], ["k", "n"]),
                 mode="overwrite")
    table.update_where(spark, {"w": "n * 10"}, "k = 2")
    got = sorted(
        tuple(r)
        for r in table.read(spark, merge_schema=True)
        .select("k", "n", "w")
        .collect()
    )
    assert got == [(1, 1, None), (2, 2, 20)]


def test_update_where_prune_ranges_limits_scan(spark, table):
    for i in range(3):
        table.commit(
            spark.createDataFrame([(i * 10 + j, "x") for j in range(5)], ["k", "v"]),
            mode="append",
        )
    # the range excludes files whose k-stats cannot overlap
    table.update_where(
        spark, {"v": F.lit("y")}, "k between 10 and 14", prune_ranges={"k": (10, 14)}
    )
    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert all(v == "y" for k, v in got.items() if 10 <= k <= 14)
    assert all(v == "x" for k, v in got.items() if not (10 <= k <= 14))


# -- merge_into -----------------------------------------------------------


def test_merge_into_upsert_equivalent(spark, table):
    table.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), mode="overwrite"
    )
    src = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    table.merge_into(spark, src, "k", matched=[("update", None, None)])
    assert _rows(spark, table) == [(1, "a"), (2, "B"), (3, "c")]


def test_merge_into_clause_order_first_match_wins(spark, table):
    table.commit(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], ["k", "n"]), mode="overwrite"
    )
    src = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["k", "x"])
    table.merge_into(
        spark,
        src,
        "k",
        matched=[
            ("delete", "t.n >= 30"),
            ("update", "s.x > 1", {"n": "t.n + s.x"}),
        ],
        not_matched=[],
    )
    # 3 deleted by the first clause; 2 updated by the second; 1 kept
    assert _rows(spark, table) == [(1, 10), (2, 22)]


def test_merge_into_not_matched_by_source_sync(spark, table):
    table.commit(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"]),
        mode="overwrite",
    )
    src = spark.createDataFrame([(2, "B"), (4, "D")], ["k", "v"])
    table.merge_into(
        spark,
        src,
        "k",
        matched=[("update", None, "*")],
        not_matched_by_source=[("delete", None)],
    )
    assert _rows(spark, table) == [(2, "B"), (4, "D")]


def test_merge_into_nbs_update_requires_set(spark, table):
    table.commit(spark.createDataFrame([(1, "x")], ["k", "st"]), mode="overwrite")
    with pytest.raises(ValueError, match="explicit set"):
        table.merge_into(
            spark,
            spark.createDataFrame([(9,)], ["k"]),
            "k",
            not_matched=[],
            not_matched_by_source=[("update", None, None)],
        )
    table.merge_into(
        spark,
        spark.createDataFrame([(9,)], ["k"]),
        "k",
        not_matched=[],
        not_matched_by_source=[("update", None, {"st": F.lit("stale")})],
    )
    assert _rows(spark, table) == [(1, "stale")]


def test_merge_into_insert_only_carries_all_files(spark, table):
    v0 = table.commit(spark.createDataFrame([(1, 1)], ["k", "n"]), mode="overwrite")
    src = spark.createDataFrame([(1, 99), (2, 2), (3, -3)], ["k", "n"])
    v1 = table.merge_into(
        spark, src, "k", matched=[], not_matched=[("insert", "s.n > 0")]
    )
    assert _rows(spark, table) == [(1, 1), (2, 2)]
    # insert-only MERGE rewrites nothing: every existing file carried
    assert set(table._manifest(v0)["files"]) <= set(table._manifest(v1)["files"])


def test_merge_into_noop_when_no_clause_acts(spark, table):
    v0 = table.commit(spark.createDataFrame([(1, 1)], ["k", "n"]), mode="overwrite")
    src = spark.createDataFrame([(1, 1)], ["k", "n"])
    assert (
        table.merge_into(
            spark, src, "k", matched=[("update", "s.n > 100", None)], not_matched=[]
        )
        == v0
    )


def test_merge_into_duplicate_source_keys_raise(spark, table):
    table.commit(spark.createDataFrame([(1, 1)], ["k", "n"]), mode="overwrite")
    with pytest.raises(ValueError, match="duplicate key"):
        table.merge_into(
            spark, spark.createDataFrame([(1, 1), (1, 2)], ["k", "n"]), "k"
        )


def test_merge_into_empty_table_inserts(spark, table):
    v = table.merge_into(spark, spark.createDataFrame([(1, "a")], ["k", "v"]), "k")
    assert v == 0
    assert _rows(spark, table) == [(1, "a")]


def test_merge_into_empty_table_without_insert_clause_is_noop(spark, table):
    assert (
        table.merge_into(
            spark,
            spark.createDataFrame([(1, "a")], ["k", "v"]),
            "k",
            matched=[("update", None, None)],
            not_matched=[],
        )
        is None
    )


def test_merge_into_delete_all_rows(spark, table, tmp_path):
    """A merge_into that deletes every row publishes the one empty
    part stage keeps for a schema, so the table still reads (0 rows,
    same columns) — both through a matched delete and through an
    empty source under a by-source delete. An empty file list made
    ``read`` raise 'empty commit'."""
    table.commit(spark.createDataFrame([(1, 1), (2, 2)], ["k", "n"]), mode="overwrite")
    v = table.merge_into(
        spark,
        spark.createDataFrame([(1,), (2,)], ["k"]),
        "k",
        matched=[("delete", None)],
        not_matched=[],
    )
    assert v == 1 and len(table._manifest(v)["files"]) == 1
    out = table.read(spark)
    assert out.count() == 0 and out.columns == ["k", "n"]
    other = VersionedTable(str(tmp_path / "by_source"))
    other.commit(
        spark.createDataFrame([(1, 1), (2, 2)], ["k", "n"]), mode="overwrite"
    )
    v = other.merge_into(
        spark,
        spark.createDataFrame([], "k bigint, n bigint"),
        "k",
        not_matched_by_source=[("delete",)],
    )
    assert v == 1
    out = other.read(spark)
    assert out.count() == 0 and out.columns == ["k", "n"]


def test_merge_into_partial_rewrite_carries_untouched(spark, table):
    for i in range(4):
        table.commit(spark.createDataFrame([(i, i)], ["k", "n"]), mode="append")
    v0 = table.latest_version()
    v1 = table.merge_into(
        spark,
        spark.createDataFrame([(2, 99)], ["k", "n"]),
        "k",
        matched=[("update", None, None)],
        not_matched=[],
    )
    m0, m1 = set(table._manifest(v0)["files"]), set(table._manifest(v1)["files"])
    assert m0 & m1, "untouched files carried by reference"
    assert _rows(spark, table) == [(0, 0), (1, 1), (2, 99), (3, 3)]


def test_merge_into_rejects_generated_assignment_and_recomputes(spark, table):
    table.commit(spark.createDataFrame([(1, 10)], ["k", "n"]), mode="overwrite")
    table.add_generated_column(spark, "n2", "n * 2")
    with pytest.raises(ValueError, match="GENERATED"):
        table.merge_into(
            spark,
            spark.createDataFrame([(1, 1)], ["k", "x"]),
            "k",
            matched=[("update", None, {"n2": "0"})],
            not_matched=[],
        )
    table.merge_into(
        spark,
        spark.createDataFrame([(1, 50)], ["k", "x"]),
        "k",
        matched=[("update", None, {"n": "s.x"})],
        not_matched=[],
    )
    assert _rows(spark, table) == [(1, 50, 100)]


def test_merge_into_enforces_constraints_on_changed_rows(spark, table):
    table.commit(spark.createDataFrame([(1, 10)], ["k", "n"]), mode="overwrite")
    table.add_constraint(spark, "n_pos", "n > 0")
    with pytest.raises(ValueError, match="n_pos"):
        table.merge_into(
            spark,
            spark.createDataFrame([(1, -5)], ["k", "n"]),
            "k",
            matched=[("update", None, None)],
            not_matched=[],
        )
    assert _rows(spark, table) == [(1, 10)]


def test_merge_into_schema_evolution_insert(spark, table):
    table.commit(spark.createDataFrame([(1, "a")], ["k", "v"]), mode="overwrite")
    src = spark.createDataFrame([(2, "b", "extra")], ["k", "v", "w"])
    table.merge_into(spark, src, "k")
    got = sorted(
        tuple(r) for r in table.read(spark, merge_schema=True).collect()
    )
    assert got == [(1, "a", None), (2, "b", "extra")]


def test_merge_into_speaks_logical_names_under_rename(spark, table):
    table.commit(spark.createDataFrame([(1, 10)], ["k", "n"]), mode="overwrite")
    table.rename_column("n", "amount")
    table.merge_into(
        spark,
        spark.createDataFrame([(1, 11), (2, 22)], ["k", "amount"]),
        "k",
        matched=[("update", None, None)],
    )
    df = table.read(spark)
    assert df.columns == ["k", "amount"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 11), (2, 22)]


def test_merge_into_change_feed_update_and_insert(spark, table):
    v0 = table.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), mode="overwrite"
    )
    v1 = table.merge_into(
        spark,
        spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]),
        "k",
        matched=[("update", None, None)],
    )
    ch = table.read_changes(spark, v0, v1, key="k")
    got = sorted((r["k"], r["_change_type"]) for r in ch.collect())
    assert got == [
        (2, "update_postimage"),
        (2, "update_preimage"),
        (3, "insert"),
    ]


def test_merge_into_null_source_keys_are_inserts(spark, table):
    table.commit(spark.createDataFrame([(1, "a")], ["k", "v"]), mode="overwrite")
    src = spark.createDataFrame([(None, "n1"), (None, "n2")], "k int, v string")
    table.merge_into(spark, src, "k", matched=[("update", None, None)])
    got = [(r["k"], r["v"]) for r in table.read(spark).collect()]
    assert (1, "a") in got and len(got) == 3


# -- history operations + timestamp-bounded change feed --------------------


def test_history_reports_operation_names(spark, table):
    table.commit(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), mode="overwrite")
    table.merge(spark, spark.createDataFrame([(2, "B")], ["k", "v"]), key="k")
    table.delete_where(spark, "k = 1")
    table.update_where(spark, {"v": F.lit("x")}, "k = 2")
    table.merge_into(
        spark,
        spark.createDataFrame([(3, "c")], ["k", "v"]),
        "k",
        matched=[("update", None, None)],
    )
    table.compact(spark)
    ops = [h["operation"] for h in table.history()]  # newest first
    assert ops == ["OPTIMIZE", "MERGE", "UPDATE", "DELETE", "MERGE", "overwrite"]


def test_history_reports_ddl_operations(spark, table):
    table.commit(spark.createDataFrame([(1, 10)], ["k", "n"]), mode="overwrite")
    table.add_constraint(spark, "n_pos", "n > 0")
    table.rename_column("k", "id")  # n is constraint-protected
    ops = [h["operation"] for h in table.history()]
    assert ops == ["RENAME COLUMN", "ADD CONSTRAINT", "overwrite"]


def test_read_changes_by_timestamp(spark, table):
    table.commit(spark.createDataFrame([(1, "a")], ["k", "v"]), mode="overwrite")
    ts0 = time.time()
    time.sleep(0.02)
    table.commit(spark.createDataFrame([(2, "b")], ["k", "v"]), mode="append")
    ts1 = time.time()
    time.sleep(0.02)
    table.commit(spark.createDataFrame([(3, "c")], ["k", "v"]), mode="append")
    got = sorted(
        (r["k"], r["_change_type"])
        for r in table.read_changes(
            spark, key="k", since_timestamp=ts0, until_timestamp=ts1
        ).collect()
    )
    assert got == [(2, "insert")]
    with pytest.raises(ValueError, match="not both"):
        table.read_changes(spark, 0, key="k", since_timestamp=ts0)
    with pytest.raises(ValueError, match="required"):
        table.read_changes(spark, key="k")


def test_detail_reports_table_facts(spark, table):
    table.commit(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"]),
                 mode="overwrite")
    table.delete_where(spark, "k = 3")
    table.add_constraint(spark, "k_pos", "k > 0")
    table.rename_column("v", "val")
    d = table.detail()
    assert d["version"] == table.latest_version()
    assert d["operation"] == "RENAME COLUMN"
    assert d["n_rows"] == 2  # tombstone subtracted
    assert d["n_tombstones"] == 1 and d["n_dv_files"] == 1
    assert d["constraints"] == {"k_pos": "k > 0"}
    assert d["column_renames"] == {"val": "v"}
    assert d["size_bytes"] > 0 and d["n_files"] >= 1
    # historical versions answer too
    assert table.detail(0)["n_rows"] == 3
    with pytest.raises(FileNotFoundError):
        VersionedTable(str(table.root) + "-none").detail()


def test_detail_counts_only_live_tombstones(spark, table):
    """A sidecar surviving because ONE of its files is still live must
    not double-subtract tombstones whose file was already rewritten."""
    table.commit(spark.createDataFrame([(i, "x") for i in range(4)], ["k", "v"]),
                 mode="append")
    table.commit(spark.createDataFrame([(10, "y"), (11, "y")], ["k", "v"]),
                 mode="append")
    # one delete spanning both commits' files -> sidecar refs 2+ files
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try:
        table.delete_where(spark, "k in (0, 10)")
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")
    n_live = table.read(spark).count()
    assert table.detail()["n_rows"] == n_live
    # rewrite ONE of the tombstoned files (k=10's); the sidecar stays
    # for the other -> detail must still equal read()
    table.update_where(spark, {"v": "'z'"}, "k = 11")
    assert table.detail()["n_rows"] == table.read(spark).count() == 4
