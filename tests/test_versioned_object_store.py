"""The versioned table's DATA-file plane on an object store.

Round 12 routed every driver-side data-file operation of
``VersionedTable`` — staged-part adoption, footer reads (stats,
row counts, DV references), restore's existence probe, compaction's
size gate, vacuum's listing/retention/reaping — through the
:class:`DataFileStore` seam (log_store.py). These tests prove the
same table semantics, byte for byte, on two legs:

- ``posix`` — the default :class:`PosixDataFileStore` (today's
  layout, unchanged);
- ``s3`` — :class:`S3DataFileStore` over the fault-injectable
  backing-dir FakeS3Client: Spark writes bytes through ``uri()``
  (the local backing path standing in for an s3a:// mount) while
  every list/stat/move/copy/delete goes through the client's
  ListObjectsV2/CopyObject/DeleteObject API — the adapter code under
  test is byte-identical to what a real boto3 client would drive.

Plus the DataFileStore contract itself on three store shapes, and
the fault discipline: transient throttles are absorbed, exhausted
throttles during ADVISORY steps (stats harvest, vacuum's sweep)
never fail a landed publish.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from jde_to_datalake_spark.sources.log_store import (
    PosixDataFileStore,
    S3DataFileStore,
    S3ObjectLogStore,
)
from jde_to_datalake_spark.sources.versioned import VersionedTable
from tests.test_log_store import FakeS3Client


@pytest.fixture(params=["posix", "s3"])
def make_table(request, tmp_path):
    """Table factory on one root; ``make_table.data(root)`` exposes
    the leg's DataFileStore, ``make_table.client_for(root)`` the
    DATA-plane fake client for fault injection. The log and data
    planes get SEPARATE client instances over the same backing (two
    boto3 connections to one bucket), so injected data-plane faults
    never leak into commit-record I/O."""
    clients: dict = {}

    def client_for(root, kind="data"):
        return clients.setdefault(
            (root, kind), FakeS3Client(backing="/")
        )

    def data_for(root):
        if request.param == "posix":
            return PosixDataFileStore(root)
        s = S3DataFileStore(
            "bkt", root, client_for(root), uri_base=root
        )
        s.RETRY_SLEEP = 0
        return s

    def make(root):
        os.makedirs(root, exist_ok=True)
        if request.param == "posix":
            return VersionedTable(root)
        log = S3ObjectLogStore("bkt", root, client_for(root, "log"))
        log.RETRY_SLEEP = 0
        return VersionedTable(
            root, log_store=log, data_store=data_for(root)
        )

    make.data = data_for
    make.client_for = client_for
    make.leg = request.param
    return make


def _rows(spark, n, start=0):
    return spark.createDataFrame(
        [Row(k=i, v=f"v{i}") for i in range(start, start + n)]
    )


def test_table_lifecycle_on_object_store(spark, tmp_path, make_table):
    """commit → read → DV delete → merge → time travel → restore →
    compact → vacuum, all through the injected data plane."""
    root = str(tmp_path / "tbl")
    t = make_table(root)
    v0 = t.commit(_rows(spark, 10), mode="overwrite")
    v1 = t.commit(_rows(spark, 5, start=10), mode="append")
    assert t.read(spark).count() == 15

    # row-level delete writes DV sidecars through the seam
    t.delete_where(spark, "k >= 12")
    assert t.read(spark).count() == 12
    assert t.dv_files(), "delete_where should add a DV sidecar"

    # keyed merge (partial rewrite) stages + adopts through the seam
    updates = spark.createDataFrame(
        [Row(k=0, v="patched"), Row(k=100, v="new")]
    )
    t.merge(spark, updates, key="k")
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[0] == "patched" and got[100] == "new"
    assert len(got) == 13

    # detail() computes size/rows from seam-side footers
    d = t.detail()
    assert d["n_rows"] == 13 and d["size_bytes"] > 0

    # time travel still reads v0/v1 files
    assert t.read(spark, version=v0).count() == 10
    assert t.read(spark, version=v1).count() == 15

    # restore checks existence through the seam
    t.restore(v1)
    assert t.read(spark).count() == 15

    # compact rewrites, then vacuum reaps every unreferenced file;
    # afterwards the data plane holds EXACTLY the manifest's files
    t.compact(spark)
    removed = t.vacuum(keep_last=1, retention_seconds=0.0)
    assert removed, "vacuum should reap superseded files"
    live = set(t._manifest(t.latest_version())["files"]) | set(
        t.dv_files()
    )
    assert set(make_table.data(root).walk_parquet()) <= live
    assert t.read(spark).count() == 15


def test_partitioned_layout_on_object_store(spark, tmp_path, make_table):
    root = str(tmp_path / "ptbl")
    t = make_table(root)
    df = spark.createDataFrame(
        [Row(r=i % 3, k=i, v=f"v{i}") for i in range(12)]
    )
    t.commit(df, mode="overwrite", partitioned_by=["r"])
    out = t.read(spark)
    assert out.count() == 12
    assert set(out.columns) == {"r", "k", "v"}
    # hive layout on the data plane: files under r=<val>/ dirs
    files = make_table.data(root).walk_parquet()
    assert files and all("r=" in f for f in files)
    # partition pruning feeds from per-file constant stats
    sub = t.files_for_values("r", [1])
    assert sub and len(sub) < len(files)
    # overwrite one partition's worth, vacuum, still readable
    t.commit(
        spark.createDataFrame([Row(r=5, k=99, v="x")]), mode="append"
    )
    t.vacuum(keep_last=1, retention_seconds=0.0)
    assert t.read(spark).count() == 13


def test_convert_adoption_on_object_store(spark, tmp_path, make_table):
    """CONVERT with duplicate basenames: hard link on POSIX,
    server-side CopyObject on S3 — zero bytes through the driver."""
    root = str(tmp_path / "adopt")
    os.makedirs(root)
    df = spark.createDataFrame(
        [Row(y=2024 + i % 2, k=i) for i in range(8)]
    )
    # Spark's own hive write reuses part basenames across partitions
    df.coalesce(1).write.partitionBy("y").parquet(root, mode="overwrite")
    data = make_table.data(root)
    client = (
        make_table.client_for(root) if make_table.leg == "s3" else None
    )
    kw = {}
    if make_table.leg == "s3":
        log = S3ObjectLogStore("bkt", root, client)
        log.RETRY_SLEEP = 0
        kw = {"log_store": log, "data_store": data}
    t = VersionedTable.convert_from_parquet(
        root, partitioned_by=["y"], **kw
    )
    assert t.read(spark).count() == 8
    if client is not None:
        assert client.calls.get("copy_object", 0) >= 1
    # the originals are unreferenced aliases now; vacuum reclaims them
    t.vacuum(keep_last=1, retention_seconds=0.0)
    assert t.read(spark).count() == 8


def test_crashed_staging_dir_reclaimed(spark, tmp_path, make_table):
    root = str(tmp_path / "stg")
    t = make_table(root)
    t.commit(_rows(spark, 4), mode="overwrite")
    # a writer that died after Spark's staging write, before adoption
    data = make_table.data(root)
    _rows(spark, 3).write.parquet(data.uri("_staging-deadbeef"))
    # invisible to readers and to the data listing
    assert t.read(spark).count() == 4
    assert not [
        f for f in data.walk_parquet() if f.startswith("_staging")
    ]
    # within retention: kept (an in-flight writer is never reclaimed)
    assert "_staging-deadbeef" not in t.vacuum(
        keep_last=1, retention_seconds=3600.0
    )
    assert data.top_dirs(("_staging-",)).get("_staging-deadbeef") is not None
    # past retention: reaped, and reported
    time.sleep(0.05)
    removed = t.vacuum(keep_last=1, retention_seconds=0.01)
    assert "_staging-deadbeef" in removed
    assert data.top_dirs(("_staging-",)) == {}


def test_s3_staging_sweep_lists_only_the_staging_prefix(spark, tmp_path):
    """Vacuum's crashed-writer sweep lists ``<table>/_staging-`` on a
    bucket, not every object of the table, and still reclaims the
    stale dir."""
    root = str(tmp_path / "stgp")
    os.makedirs(root)
    log = S3ObjectLogStore("bkt", root, FakeS3Client(backing="/"))
    log.RETRY_SLEEP = 0
    client = FakeS3Client(backing="/")
    data = S3DataFileStore("bkt", root, client, uri_base=root)
    data.RETRY_SLEEP = 0
    t = VersionedTable(root, log_store=log, data_store=data)
    t.commit(_rows(spark, 4), mode="overwrite")
    t.commit(_rows(spark, 3, start=4), mode="append")
    _rows(spark, 3).write.parquet(data.uri("_staging-deadbeef"))

    in_sweep: list = []
    sweep_prefixes: list = []
    sweep, list_v2 = t._stale_staging_dirs, client.list_objects_v2

    def recording_sweep(cutoff):
        in_sweep.append(True)
        try:
            return sweep(cutoff)
        finally:
            in_sweep.pop()

    def recording_list(**kw):
        if in_sweep:
            sweep_prefixes.append(kw["Prefix"])
        return list_v2(**kw)

    t._stale_staging_dirs = recording_sweep
    client.list_objects_v2 = recording_list
    time.sleep(0.05)
    removed = t.vacuum(keep_last=1, retention_seconds=0.01)
    assert "_staging-deadbeef" in removed
    assert sweep_prefixes
    assert set(sweep_prefixes) == {f"{data.prefix}/_staging-"}
    assert data.top_dirs(("_staging-",)) == {}
    assert t.read(spark).count() == 7


def test_throttle_faults_never_fail_a_publish(spark, tmp_path, make_table):
    """Fault discipline on the data plane: transient throttles are
    absorbed by bounded retries; an EXHAUSTED throttle in the stats
    harvest (an advisory step) degrades to missing stats — the commit
    still lands and reads correctly."""
    if make_table.leg != "s3":
        pytest.skip("fault injection is an object-store concern")
    root = str(tmp_path / "faulty")
    t = make_table(root)
    client = make_table.client_for(root)

    # transient SlowDown on the adoption copy: absorbed, commit lands
    client.inject("copy_object", "SlowDown", times=1)
    t.commit(_rows(spark, 4), mode="overwrite")
    assert t.read(spark).count() == 4

    # exhausted throttle on the footer reads feeding the stats
    # harvest: stats for those files are skipped (conservative — the
    # files just can't be pruned), the publish itself still lands
    staged = t.stage(_rows(spark, 3, start=10))
    client.inject(
        "get_object",
        "SlowDown",
        times=len(staged) * (S3DataFileStore.MAX_RETRIES + 1),
    )
    v = t.publish(staged, mode="append")
    client._faults.clear()
    assert t.read(spark).count() == 7
    m = t._manifest(v)
    missing = [f for f in staged if f not in m.get("stats", {})]
    assert missing, "harvest degraded to missing stats, not failure"
    # the NEXT publish is unaffected and harvests its own stats
    t.commit(_rows(spark, 1, start=50), mode="append")
    assert t.read(spark).count() == 8


def test_vacuum_sweep_faults_defer_not_fail(spark, tmp_path, make_table):
    """A landed-but-unACKed delete during vacuum converges (the retry
    answers 204) and never resurrects or loses live data."""
    if make_table.leg != "s3":
        pytest.skip("fault injection is an object-store concern")
    root = str(tmp_path / "sweep")
    t = make_table(root)
    t.commit(_rows(spark, 6), mode="overwrite")
    t.commit(_rows(spark, 6), mode="overwrite")  # supersede v0's files
    client = make_table.client_for(root)
    client.inject("delete_object", "SlowDown", times=1, after=True)
    removed = t.vacuum(keep_last=1, retention_seconds=0.0)
    assert removed
    assert t.read(spark).count() == 6
    live = set(t._manifest(t.latest_version())["files"])
    assert set(make_table.data(root).walk_parquet()) == live


def test_lake_sql_statements_on_object_store(spark, tmp_path, make_table):
    """The LakeSQL statement surface constructs its LOCATION tables
    through ``store_factory``, so CREATE/INSERT/DELETE/SELECT/VACUUM
    drive the object-store adapters end-to-end."""
    if make_table.leg != "s3":
        pytest.skip("statement-surface store injection is the s3 leg")
    from jde_to_datalake_spark.plans.lake_sql import LakeSQL

    root = str(tmp_path / "sqltbl")

    def factory(path):
        log = S3ObjectLogStore(
            "bkt", path, make_table.client_for(path, "log")
        )
        log.RETRY_SLEEP = 0
        return {"log_store": log, "data_store": make_table.data(path)}

    lake = LakeSQL(spark, store_factory=factory)
    spark.createDataFrame(
        [Row(k=i, v=f"v{i}") for i in range(8)]
    ).createOrReplaceTempView("src8")
    lake.sql(f"CREATE TABLE t LOCATION '{root}' AS SELECT * FROM src8")
    assert lake.tables["t"].data is not None
    data_client = make_table.client_for(root)
    assert data_client.calls.get("copy_object", 0) >= 1, (
        "CTAS staging adoption should go through CopyObject"
    )
    lake.sql("INSERT INTO t SELECT k + 100 AS k, v FROM src8")
    assert lake.sql("SELECT * FROM t").count() == 16
    lake.sql("DELETE FROM t WHERE k >= 104")
    assert lake.sql("SELECT * FROM t").count() == 12
    lake.sql("VACUUM t RETAIN 0 HOURS")
    live = set(
        lake.tables["t"]._manifest(lake.tables["t"].latest_version())[
            "files"
        ]
    ) | set(lake.tables["t"].dv_files())
    assert set(make_table.data(root).walk_parquet()) <= live
    assert data_client.calls.get("list_objects_v2", 0) >= 1


def test_lake_sql_optimize_where_sizes_scope_through_the_data_store(
    spark, tmp_path
):
    """``OPTIMIZE t WHERE ...`` sizes its scope with
    ``DataFileStore.file_size``, so it works on a table whose root is
    not a local path (the data plane is the only way to its bytes),
    just like plain ``OPTIMIZE t``."""
    from jde_to_datalake_spark.plans.lake_sql import LakeSQL

    backing = str(tmp_path / "bucket")
    prefix = "tables/opt"
    os.makedirs(os.path.join(backing, prefix), exist_ok=True)
    log = S3ObjectLogStore("bkt", prefix, FakeS3Client(backing=backing))
    data = S3DataFileStore(
        "bkt",
        prefix,
        FakeS3Client(backing=backing),
        uri_base=os.path.join(backing, prefix),
    )
    log.RETRY_SLEEP = data.RETRY_SLEEP = 0
    t = VersionedTable(f"s3a://bkt/{prefix}", log_store=log, data_store=data)
    for i in range(4):
        t.commit(_rows(spark, 3, start=10 * i), mode="append")
    n_files = len(t._manifest(3)["files"])
    lake = LakeSQL(spark)
    lake.register("t", t)
    v = lake.sql("OPTIMIZE t WHERE k >= 0").collect()[0]["version"]
    assert v == 4 and len(t._manifest(v)["files"]) == max(1, n_files // 2)
    assert sorted(r["k"] for r in t.read(spark).collect()) == sorted(
        10 * i + j for i in range(4) for j in range(3)
    )


# -- DataFileStore contract ---------------------------------------------


@pytest.fixture(params=["posix", "s3-mem", "s3-backing"])
def dstore(request, tmp_path):
    root = str(tmp_path / "ds")
    os.makedirs(root, exist_ok=True)
    if request.param == "posix":
        return PosixDataFileStore(root)
    backing = "/" if request.param == "s3-backing" else None
    s = S3DataFileStore(
        "bkt",
        root,
        FakeS3Client(backing=backing),
        uri_base=root if backing else None,
    )
    s.RETRY_SLEEP = 0
    return s


def _put(store, rel, body=b"x" * 7):
    """Land one object through the store's own write surface: the
    backing legs get real files at uri(); the in-memory leg goes
    through the client API (as Spark-over-s3a would)."""
    if isinstance(store, PosixDataFileStore):
        p = store.uri(rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as fh:
            fh.write(body)
    elif store.client.backing is not None:
        p = os.path.join(store.uri(""), rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as fh:
            fh.write(body)
    else:
        store.client.put_object(
            Bucket=store.bucket, Key=store._key(rel), Body=body
        )


def test_datafilestore_contract(dstore):
    _put(dstore, "a.parquet")
    _put(dstore, "y=1/b.parquet", b"y" * 11)
    _put(dstore, "_staging-x/c.parquet")
    _put(dstore, "_log/00000000000.json")
    _put(dstore, "y=1/_hidden/d.parquet")

    # walk skips _/.-prefixed dirs at ANY depth, includes hive dirs
    assert dstore.walk_parquet() == ["a.parquet", "y=1/b.parquet"]
    mt = dstore.parquet_mtimes()
    assert set(mt) == {"a.parquet", "y=1/b.parquet"}
    assert all(m > 0 for m in mt.values())
    # staging listing with newest-internal-mtime
    sd = dstore.top_dirs(("_staging-",))
    assert set(sd) == {"_staging-x"} and sd["_staging-x"] > 0

    assert dstore.exists("a.parquet") and not dstore.exists("zz.parquet")
    assert dstore.file_size("y=1/b.parquet") == 11
    with dstore.open_file("a.parquet") as fh:
        assert fh.read() == b"x" * 7

    # move: content lands at dst, src gone (copy+delete on S3)
    dstore.move("_staging-x/c.parquet", "y=2/c2.parquet")
    assert dstore.exists("y=2/c2.parquet")
    assert not dstore.exists("_staging-x/c.parquet")
    # adopt_copy: both names live
    dstore.adopt_copy("a.parquet", "a2.parquet")
    assert dstore.exists("a.parquet") and dstore.exists("a2.parquet")
    assert dstore.file_size("a2.parquet") == 7

    dstore.delete_file("a2.parquet")
    dstore.delete_file("a2.parquet")  # missing is success
    assert not dstore.exists("a2.parquet")
    dstore.delete_tree("y=1")
    assert "y=1/b.parquet" not in dstore.walk_parquet()
    # prune_empty_dirs never raises, on any leg
    dstore.prune_empty_dirs("y=2/c2.parquet")


def test_uri_passthrough_for_absolute_refs(dstore):
    """Shallow-clone cross-table references (absolute locations) pass
    through uri() unchanged: POSIX paths via os.path.join semantics,
    full URIs on the object-store legs."""
    assert dstore.uri("/abs/path/f.parquet") == "/abs/path/f.parquet"
    if isinstance(dstore, S3DataFileStore):
        assert (
            dstore.uri("s3a://other/t/f.parquet")
            == "s3a://other/t/f.parquet"
        )
