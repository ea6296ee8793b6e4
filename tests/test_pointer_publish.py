"""The five non-table atomic-publish points (watermark, idempotency
ledger, schema registry, training-shard manifest, ingest nonce) run
their semantics against EVERY LogStore implementation — POSIX, the
in-memory object-store stand-in, the S3 adapter over the fake
conditional-write client, a lost-ACK wrapper (every successful put
also reports a conflict), and ``s3-full``: BOTH planes — pointer
records AND payload dirs (listing, retention mtimes, reaping; the
ledger table's data files) — on the fault-injectable S3 fake, the
proof that the ledger and the watermark run END-TO-END against a
bucket with zero ``os.*`` in the control path. This is what routing
them through the seams (records round 10, payloads round 12)
actually bought: the same behavior, byte for byte, on every store."""

from __future__ import annotations

import os
import sys
import threading

import pytest

from jde_to_datalake_spark.sources.log_store import (
    InMemoryLogStore,
    LogStore,
    LostAckStore,
    PosixLogStore,
    S3ObjectLogStore,
    S3PayloadStore,
)
from tests.test_log_store import FakeS3Client

STORES = ["posix", "memory", "s3", "lost-ack", "s3-full"]


@pytest.fixture(params=STORES)
def make_store(request, tmp_path):
    """Store factory: multiple calls with one root return handles on
    the SAME underlying log (the separate-writer deployment shape).
    ``make_store.payloads(root)`` is the matching payload-plane
    factory (None = the artifact's default POSIX payload store); on
    the ``s3-full`` leg it returns an :class:`S3PayloadStore` over
    the SAME backing-dir fake client as the record store, with
    ``uri_base`` mapped to the local backing path so Spark's writer
    lands bytes exactly where the client lists them.
    ``make_store.leg`` exposes the leg name for the one
    POSIX-only expectation (empty dirs don't exist on a bucket)."""
    s3_buckets: dict = {}

    def client_for(root: str, backing=None):
        return s3_buckets.setdefault(root, FakeS3Client(backing=backing))

    def make(root: str):
        if request.param == "memory":
            return InMemoryLogStore(root)
        if request.param == "s3":
            return S3ObjectLogStore("bkt", root, client_for(root))
        if request.param == "s3-full":
            return S3ObjectLogStore("bkt", root, client_for(root, "/"))
        if request.param == "lost-ack":
            return LostAckStore(InMemoryLogStore(root))
        return PosixLogStore(root)

    def payloads(root: str):
        if request.param == "s3-full":
            s = S3PayloadStore(
                "bkt", root, client_for(root, "/"), uri_base=root
            )
            s.RETRY_SLEEP = 0
            return s
        return None  # artifact default: PosixPayloadStore(root)

    make.payloads = payloads
    make.leg = request.param
    yield make
    if request.param in ("memory", "lost-ack"):
        InMemoryLogStore.reset()


def test_watermark_semantics_on_every_store(spark, tmp_path, make_store):
    from pyspark.sql import functions as F

    from jde_to_datalake_spark.sources.incremental import Watermark

    root = str(tmp_path / "wm")
    wm = Watermark(root, store=make_store(root), payload_store=make_store.payloads(root))
    assert wm.get(spark) is None
    b1 = spark.createDataFrame([(1, 10), (2, 30)], ["k", "ts"])
    assert wm.advance(spark, b1, "ts") == 30
    # type-exact round trip through the parquet payload
    assert wm.get(spark) == 30
    # never rewinds on an old-batch replay
    b0 = spark.createDataFrame([(9, 5)], ["k", "ts"])
    assert wm.advance(spark, b0, "ts") == 30
    # empty batch is a no-op
    assert wm.advance(spark, b1.filter(F.lit(False)), "ts") == 30
    # a SECOND handle (own store instance) resolves the same pointer
    wm2 = Watermark(root, store=make_store(root), payload_store=make_store.payloads(root))
    assert wm2.get(spark) == 30
    # superseded data dirs survive the flip (lazy readers may still be
    # bound to them) and age out through the retention-gated sweep
    assert wm.advance(spark, spark.createDataFrame([(3, 99)], ["k", "ts"]), "ts") == 99
    datas = [d for d in os.listdir(root) if d.startswith("data-")]
    assert len(datas) == 2
    assert len(wm.clean_stale(retention_seconds=0)) == 1
    datas = [d for d in os.listdir(root) if d.startswith("data-")]
    assert len(datas) == 1
    assert wm.get(spark) == 99  # current payload untouched by the sweep


def _led(root, make_store):
    from jde_to_datalake_spark.plans.ledger import IdempotencyLedger

    return IdempotencyLedger(
        root,
        key="k",
        store=make_store(root),
        payload_store=make_store.payloads(root),
    )


class _PutHook:
    """Delegating store that runs ``hook(version, record)`` once,
    before the first ``put_if_absent`` it forwards — the deterministic
    stand-in for another writer acting inside this one's publish."""

    def __init__(self, inner, hook):
        self.inner = inner
        self.hook = hook

    def put_if_absent(self, version, record):
        hook, self.hook = self.hook, None
        if hook is not None:
            hook(version, record)
        return self.inner.put_if_absent(version, record)

    def __getattr__(self, name):
        return getattr(self.inner, name)


def test_ledger_semantics_on_every_store(spark, tmp_path, make_store):
    root = str(tmp_path / "led")
    led = _led(root, make_store)
    assert not led.exists() and led.load(spark) is None
    batch = spark.createDataFrame(
        [(1, "pending"), (2, "pending")], ["k", "status"]
    )
    # nothing done yet: all pending
    assert led.pending_only(spark, batch).count() == 2
    led.merge(spark, batch)
    led.mark_done(spark, spark.createDataFrame([(1,)], ["k"]))
    got = {r["k"]: r["status"] for r in led.load(spark).collect()}
    assert got == {1: "done", 2: "pending"}
    # the done key is filtered out of the next batch (J6 order)
    assert {r["k"] for r in led.pending_only(spark, batch).collect()} == {2}
    # a second handle (own store instance) sees both commits
    led2 = _led(root, make_store)
    assert led2.exists()
    assert {r["k"] for r in led2.pending_only(spark, batch).collect()} == {2}
    assert len(led2._vt.versions()) == 2
    # every row lives in the table: no pointer payload dirs to reclaim
    assert not [d for d in os.listdir(root) if d.startswith("data-")]
    assert led.clean_stale(retention_seconds=0) == []
    got = {r["k"]: r["status"] for r in led.load(spark).collect()}
    assert got == {1: "done", 2: "pending"}  # current ledger untouched


def test_schema_registry_on_every_store(spark, tmp_path, make_store):
    from jde_to_datalake_spark.sources.schema_manager import SchemaRegistry

    root = str(tmp_path / "reg")
    reg = SchemaRegistry(root, store=make_store(root))
    assert reg.latest(spark, "t") is None
    assert reg.next_version(spark, "t") == 1
    assert reg.save(spark, "t", {"a": {"type": "string"}}) == 1
    assert reg.save(spark, "t", {"a": {"type": "string"}, "b": {"type": "integer"}}) == 2
    assert reg.save(spark, "other", {"x": {"type": "float"}}) == 1
    assert set(reg.latest(spark, "t")) == {"a", "b"}
    assert reg.next_version(spark, "t") == 3
    # a second handle reads the same log
    reg2 = SchemaRegistry(root, store=make_store(root))
    assert reg2.next_version(spark, "other") == 2
    # the DataFrame surface (A6/A7 SQL consumers)
    df = reg._load(spark)
    assert df.count() == 3
    assert set(df.columns) == {
        "table_name", "version", "schema_definition", "created_at"
    }


def test_schema_registry_concurrent_saves_never_collide(
    spark, tmp_path, make_store
):
    """Two racing saves of ONE table must claim versions 1 and 2 —
    the old parquet-swap design could lose one (lost update); the
    log's put-if-absent retry cannot."""
    from jde_to_datalake_spark.sources.schema_manager import SchemaRegistry

    root = str(tmp_path / "reg")
    handles = [
        SchemaRegistry(root, store=make_store(root)) for _ in range(2)
    ]
    got = [None, None]
    barrier = threading.Barrier(2)

    def save(i):
        barrier.wait()
        got[i] = handles[i].save(spark, "t", {"w": {"type": "string"}})

    ts = [threading.Thread(target=save, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(got) == [1, 2]
    assert handles[0].next_version(spark, "t") == 3


def test_training_shards_on_every_store(spark, tmp_path, make_store):
    from jde_to_datalake_spark.sources.training_shards import (
        clean_stale_stagings,
        read_manifest,
        read_training_shards,
        write_training_shards,
    )

    root = str(tmp_path / "sh")
    packs = spark.createDataFrame(
        [(i, [f"t{i}"], 1) for i in range(10)],
        "pack_id bigint, tokens array<string>, n_toks bigint",
    )
    store = make_store(root)
    os.makedirs(root, exist_ok=True)  # injected-payload legs skip it
    manifest = write_training_shards(
        packs, root, rows_per_shard=5, store=store,
        payload_store=make_store.payloads(root),
    )
    assert manifest["n_shards"] == 2 and manifest["n_rows"] == 10
    assert read_manifest(root, store=make_store(root)) == manifest
    # write-once: a second export loses and leaves no orphan dir
    with pytest.raises(FileExistsError):
        write_training_shards(
            packs, root, rows_per_shard=5, store=store,
            payload_store=make_store.payloads(root),
        )
    dirs = [d for d in os.listdir(root) if d.startswith("shards-")]
    assert dirs == [manifest["data_dir"]]
    # reads resolve the manifest's data dir through the SAME seam
    assert read_training_shards(
        spark, root, verify=True, store=make_store(root),
        payload_store=make_store.payloads(root),
    ).count() == 10
    assert clean_stale_stagings(
        root, store=make_store(root),
        payload_store=make_store.payloads(root),
    ) == []
    if isinstance(store, PosixLogStore):
        # the no-injection default read path (POSIX deployments)
        assert read_training_shards(spark, root, verify=True).count() == 10


def test_ingest_nonce_on_every_store(tmp_path, make_store):
    from jde_to_datalake_spark.streaming.ingest import checkpoint_app_id

    ckpt = str(tmp_path / "ck")
    os.makedirs(ckpt, exist_ok=True)
    a = checkpoint_app_id(ckpt, store=make_store(ckpt))
    b = checkpoint_app_id(ckpt, store=make_store(ckpt))
    assert a == b  # one identity per checkpoint lineage, any store


def test_legacy_layouts_fail_loudly(spark, tmp_path):
    """A PRE-seam artifact (parquet directly under the path, no _log
    pointer) must raise, never read as empty: a silently-empty ledger
    would re-dispatch every done transaction, a silently-None
    watermark would re-backfill, a silently-empty registry would
    re-claim version 1."""
    from jde_to_datalake_spark.plans.ledger import IdempotencyLedger
    from jde_to_datalake_spark.sources.incremental import Watermark
    from jde_to_datalake_spark.sources.schema_manager import SchemaRegistry

    for name in ("led", "wm", "reg"):
        d = tmp_path / name
        d.mkdir()
        spark.createDataFrame([(1, "done")], ["k", "status"]).coalesce(
            1
        ).write.mode("overwrite").parquet(str(d / "__tmp"))
        # flatten: move part files up to the root (the legacy layout)
        import glob
        import shutil as _sh

        for f in glob.glob(str(d / "__tmp" / "*.parquet")):
            _sh.move(f, str(d / os.path.basename(f)))
        _sh.rmtree(str(d / "__tmp"))

    with pytest.raises(RuntimeError, match="pre-pointer"):
        IdempotencyLedger(str(tmp_path / "led"), key="k").exists()
    with pytest.raises(RuntimeError, match="pre-pointer"):
        Watermark(str(tmp_path / "wm")).get(spark)
    with pytest.raises(RuntimeError, match="pre-log"):
        SchemaRegistry(str(tmp_path / "reg")).next_version(spark, "t")


def test_nonce_legacy_file_migrates_identity(tmp_path):
    """A checkpoint written before the seam holds its nonce in a flat
    _ingest_app_nonce file: the app identity must SURVIVE the upgrade
    (a fresh nonce would reset the txn watermark while the batch_id
    lineage continues — the last epoch's replay would double-apply)."""
    from jde_to_datalake_spark.streaming.ingest import checkpoint_app_id

    ckpt = str(tmp_path / "ck")
    os.makedirs(ckpt)
    with open(os.path.join(ckpt, "_ingest_app_nonce"), "w") as fh:
        fh.write("legacynonce123")
    app = checkpoint_app_id(ckpt)
    assert app == f"{os.path.abspath(ckpt)}#legacynonce123"
    # stable on re-read, with and without the legacy file present
    assert checkpoint_app_id(ckpt) == app
    os.remove(os.path.join(ckpt, "_ingest_app_nonce"))
    assert checkpoint_app_id(ckpt) == app  # slot now owns the identity


def test_flip_defers_reap_for_lazy_readers(spark, tmp_path, make_store):
    """A reader holding an UNMATERIALIZED DataFrame bound to the
    pre-merge ledger must still be able to run its action after a
    merge — the merge publishes a new table version but never deletes
    the files it superseded (that's vacuum's retention-gated job)."""
    root = str(tmp_path / "led")
    led = _led(root, make_store)
    led.merge(
        spark,
        spark.createDataFrame([(1, "pending"), (2, "done")], ["k", "status"]),
    )
    lazy = led.load(spark).filter("status = 'done'")  # plan only, no action
    led.mark_done(spark, spark.createDataFrame([(1,)], ["k"]))  # merge lands
    # the pre-merge plan still materializes against the old files
    assert [r["k"] for r in lazy.collect()] == [2]
    # and a fresh read sees the post-merge state
    got = {r["k"]: r["status"] for r in led.load(spark).collect()}
    assert got == {1: "done", 2: "done"}


def test_two_dispatcher_merge_loses_loudly_zero_rows_lost(
    spark, tmp_path, make_store
):
    """TWO concurrent dispatchers whose batches share a key race for
    the same table version: exactly one wins, the other raises
    PointerConflict — and the ledger holds exactly the base plus the
    winner's rows (a last-writer-wins publish would silently drop one
    side's rows → duplicate side-effect dispatch, the failure A12
    exists to prevent). The loud loser then re-merges with
    conflict_retries and BOTH sides' rows are present, the loser's
    update last on the shared key."""
    from jde_to_datalake_spark.sources.log_store import PointerConflict

    root = str(tmp_path / "led")
    handles = [_led(root, make_store) for _ in range(2)]
    handles[0].merge(
        spark, spark.createDataFrame([(0, "done")], "k bigint, status string")
    )
    batches = [
        spark.createDataFrame([(1, "a"), (2, "a")], "k bigint, status string"),
        spark.createDataFrame([(2, "b"), (3, "b")], "k bigint, status string"),
    ]
    # hold each writer's first commit put until both reach theirs: both
    # have read version 0, so both publish at version 1
    publish = threading.Barrier(2, timeout=120)
    for h in handles:
        h._vt.log = _PutHook(h._vt.log, lambda v, r: publish.wait())
    outcomes: list = [None, None]

    def dispatch(i):
        try:
            handles[i].merge(spark, batches[i])
            outcomes[i] = "won"
        except PointerConflict:
            outcomes[i] = "lost"
        except Exception as e:  # noqa: BLE001 — collected for assert
            outcomes[i] = repr(e)

    ts = [threading.Thread(target=dispatch, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(outcomes) == ["lost", "won"]
    winner = outcomes.index("won")
    loser = 1 - winner
    got = {r["k"]: r["status"] for r in handles[0].load(spark).collect()}
    # exactly the winner's rows — nothing silently half-merged
    won = {r[0]: r[1] for r in batches[winner].collect()}
    assert got == {0: "done", **won}
    # the loud loser re-derives: both sides present, zero rows lost
    handles[loser].merge(spark, batches[loser], conflict_retries=3)
    got = {r["k"]: r["status"] for r in handles[0].load(spark).collect()}
    assert set(got) == {0, 1, 2, 3}
    assert got[2] == "ab"[loser]


def test_merge_conflict_retries_rederive_serialized_outcome(
    spark, tmp_path, make_store
):
    """conflict_retries re-runs the merge against the NEW snapshot —
    the serialized ON CONFLICT DO UPDATE outcome: the intervening
    writer's disjoint key survives, and the retrying writer's update
    wins on the contended key."""
    root = str(tmp_path / "led")
    led = _led(root, make_store)
    led.merge(spark, spark.createDataFrame([(1, "pending")], ["k", "status"]))
    other = _led(root, make_store)

    def intervene(version, record):
        # another dispatcher commits first, rewriting key 1's file
        other.merge(
            spark,
            spark.createDataFrame([(1, "sent"), (7, "sent")], ["k", "status"]),
        )

    led._vt.log = _PutHook(led._vt.log, intervene)
    led.merge(
        spark,
        spark.createDataFrame([(1, "done"), (5, "pending")], ["k", "status"]),
        conflict_retries=2,
    )
    got = {r["k"]: r["status"] for r in led.load(spark).collect()}
    assert got == {1: "done", 5: "pending", 7: "sent"}


@pytest.mark.soak
def test_many_dispatchers_with_retries_lose_no_rows(
    spark, tmp_path, make_store
):
    """Four dispatchers, three merges each, all racing with retry
    budget: every one of the 12 batches' keys must be present at the
    end — the serialized ON-CONFLICT-DO-UPDATE outcome under REAL
    thread interleavings (not just the pointwise two-writer shapes).
    Runs on every store leg incl. the every-put lost-ACK injector."""
    root = str(tmp_path / "led")
    n_threads, n_merges = 4, 3
    handles = [_led(root, make_store) for _ in range(n_threads)]
    errors: list = []
    barrier = threading.Barrier(n_threads)

    def dispatch(i):
        barrier.wait()
        for m in range(n_merges):
            batch = spark.createDataFrame(
                [(i * 100 + m, "done")], ["k", "status"]
            )
            try:
                handles[i].merge(spark, batch, conflict_retries=30)
            except Exception as e:  # noqa: BLE001 — collected for assert
                errors.append((i, m, repr(e)))

    ts = [
        threading.Thread(target=dispatch, args=(i,))
        for i in range(n_threads)
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errors == []
    keys = {r["k"] for r in handles[0].load(spark).collect()}
    expected = {i * 100 + m for i in range(n_threads) for m in range(n_merges)}
    assert keys == expected  # zero silently lost rows


def test_concurrent_watermark_advances_converge_on_global_max(
    spark, tmp_path, make_store
):
    """Racing advances are CAS'd and retried (monotonic max is
    commutative): the surviving watermark is the GLOBAL max — the old
    last-writer-wins flip could rewind it to a slower writer's smaller
    value (a silent re-backfill)."""
    from jde_to_datalake_spark.sources.incremental import Watermark

    root = str(tmp_path / "wm")
    values = [10, 40, 20, 30]
    handles = [
        Watermark(root, store=make_store(root), payload_store=make_store.payloads(root)) for _ in values
    ]
    barrier = threading.Barrier(len(values))
    errors: list = []

    def advance(i, v):
        barrier.wait()
        try:
            handles[i].advance(
                spark,
                spark.createDataFrame([(1, v)], ["k", "ts"]),
                "ts",
                conflict_retries=10,
            )
        except Exception as e:  # noqa: BLE001 — collected for assert
            errors.append(e)

    ts = [
        threading.Thread(target=advance, args=(i, v))
        for i, v in enumerate(values)
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errors == []
    assert handles[0].get(spark) == 40


def test_watermark_stale_anchor_conflict_is_loud(
    spark, tmp_path, make_store
):
    """With retries exhausted (conflict_retries=0) a lost CAS raises
    PointerConflict — detection, never a silent clobber."""
    from jde_to_datalake_spark.sources.incremental import Watermark
    from jde_to_datalake_spark.sources.log_store import PointerConflict

    root = str(tmp_path / "wm")
    wm = Watermark(root, store=make_store(root), payload_store=make_store.payloads(root))
    wm.advance(spark, spark.createDataFrame([(1, 10)], ["k", "ts"]), "ts")

    class StaleAnchorPtr:
        def __init__(self, ptr):
            self._ptr = ptr

        def flip(self, write_fn, expected):
            return self._ptr.flip(
                write_fn,
                expected=None if expected is None else expected - 1,
            )

        def __getattr__(self, name):
            return getattr(self._ptr, name)

    wm._ptr = StaleAnchorPtr(wm._ptr)
    with pytest.raises(PointerConflict):
        wm.advance(
            spark,
            spark.createDataFrame([(1, 99)], ["k", "ts"]),
            "ts",
            conflict_retries=0,
        )


def test_ledger_log_store_budget_at_smoke_size(spark, tmp_path):
    """The ledger's log-store traffic per call, pinned: the root _log
    (the legacy-layout check) is read on the instance's first call
    only, and a probe at a version this instance already holds reads
    no table record — the held table's manifest cache serves it."""
    from jde_to_datalake_spark.plans.ledger import IdempotencyLedger

    calls: list = []

    class Counting(LogStore):
        def __init__(self, inner, name):
            self.inner, self.name = inner, name

        def for_child(self, name):
            return Counting(self.inner.for_child(name), name)

        def _call(self, op, *args):
            calls.append((self.name, op))
            return getattr(self.inner, op)(*args)

        def list_versions(self):
            return self._call("list_versions")

        def read(self, version):
            return self._call("read", version)

        def put_if_absent(self, version, record):
            return self._call("put_if_absent", version, record)

        def replace(self, version, record):
            return self._call("replace", version, record)

        def delete(self, version):
            return self._call("delete", version)

    root = str(tmp_path / "led")
    led = IdempotencyLedger(
        root, key="k", store=Counting(PosixLogStore(root), "root")
    )
    rows = "k bigint, status string"
    led.merge(spark, spark.createDataFrame([(k, "done") for k in range(5)], rows))
    assert ("root", "list_versions") in calls  # the one-time check
    calls.clear()
    batch = spark.createDataFrame([(0, "x"), (1, "x"), (9, "x")], rows)
    assert {r["k"] for r in led.pending_only(spark, batch).collect()} == {9}
    led.merge(spark, spark.createDataFrame([(9, "done")], rows))
    n = len(calls)
    assert {r["k"] for r in led.pending_only(spark, batch).collect()} == set()
    assert [c for c in calls if c[0] == "root"] == []
    # the repeat probe: one listing to resolve latest, no record read
    assert calls[n:] == [("_versioned", "list_versions")]


def test_ledger_pending_only_py4j_budget_at_smoke_size(spark, tmp_path):
    """The py4j commands sent while building pending_only do not grow
    with the batch: a 4-key and a 2,000-key batch cost the same, both
    on a fresh handle (which builds its done-set plan) and on a handle
    that already holds it."""
    from jde_to_datalake_spark.plans.ledger import IdempotencyLedger

    root = str(tmp_path / "led")
    rows = "k bigint, status string"
    IdempotencyLedger(root, key="k").merge(
        spark, spark.createDataFrame([(k, "done") for k in range(5)], rows)
    )
    small = spark.createDataFrame([(k, "x") for k in range(4)], rows)
    big = spark.createDataFrame([(k, "x") for k in range(2000)], rows)
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    real = client.send_command
    sent = [0]
    caller = threading.current_thread()

    def counting(*a, **kw):
        # only the calling thread's commands: py4j's clientserver
        # thread sends the deletes of freed JavaObjects whenever it
        # drains its queue, so counting them makes a window's total a
        # race
        if threading.current_thread() is caller:
            sent[0] += 1
        return real(*a, **kw)

    def commands(led, batch):
        n = sent[0]
        led.pending_only(spark, batch)
        return sent[0] - n

    a, b = (IdempotencyLedger(root, key="k") for _ in range(2))
    client.send_command = counting
    try:
        cold = (commands(a, small), commands(b, big))
        warm = (commands(a, big), commands(b, small))
    finally:
        del client.send_command  # back to the class's bound method
    assert cold[0] == cold[1], cold
    assert warm[0] == warm[1], warm
    assert warm[0] < cold[0]


@pytest.mark.parametrize("leg", ["posix", "s3"])
def test_ledger_sweep_never_walks_its_table(spark, tmp_path, monkeypatch, leg):
    """clean_stale looks only for ``data-*`` payload dirs: the ledger's
    ``_versioned`` table — its data files and commit records — is
    never stat'ed (POSIX) or listed (S3), however many files it has."""
    from jde_to_datalake_spark.plans.ledger import IdempotencyLedger

    root = str(tmp_path / "led")
    if leg == "s3":
        log, pay, client = _dual_plane(root)
        led = IdempotencyLedger(root, key="k", store=log, payload_store=pay)
    else:
        led = IdempotencyLedger(root, key="k")
    rows = "k bigint, status string"
    for i in range(3):
        led.merge(spark, spark.createDataFrame([(i, "done")], rows))
    table = os.path.join(root, IdempotencyLedger.VERSIONED_DIR)
    n_files = sum(len(files) for _, _, files in os.walk(table))
    assert n_files >= 6  # data files and commit records
    touched: list = []
    if leg == "s3":
        real_list = client.list_objects_v2

        def listing(**kw):
            resp = real_list(**kw)
            touched.extend(o["Key"] for o in resp.get("Contents", []))
            return resp

        monkeypatch.setattr(client, "list_objects_v2", listing)
    else:
        real_mtime = os.path.getmtime

        def mtime(p):
            touched.append(str(p))
            return real_mtime(p)

        monkeypatch.setattr(os.path, "getmtime", mtime)
    assert led.clean_stale(retention_seconds=0) == []
    # object keys carry no leading "/": match on the relative tail
    assert [t for t in touched if "led/_versioned" in t] == []


def test_ledger_explicit_migration_and_merge_cadence(
    spark, tmp_path, make_store
):
    """A pointer-backed ledger — written here the way the retired
    parquet backend wrote it, with DataDirPointer.flip — refuses every
    call until migrate_to_versioned converts it. The conversion keeps
    every row, is idempotent, and re-drives cleanly after a crash
    between its upsert and its marker publish (the crashed run is
    invisible; the double upsert leaves no duplicate rows). After it,
    merges go through VersionedTable.merge and the table's history
    records each one, and clean_stale reclaims the superseded pointer
    payload without touching the table."""
    from jde_to_datalake_spark.sources.log_store import DataDirPointer

    root = str(tmp_path / "led")
    rows = "k bigint, status string"
    DataDirPointer(
        root, make_store(root), payloads=make_store.payloads(root)
    ).flip(
        lambda p: spark.createDataFrame([(1, "pending"), (2, "done")], rows)
        .coalesce(1)
        .write.parquet(p)
    )
    led = _led(root, make_store)
    batch = spark.createDataFrame([(1, "x"), (2, "x"), (3, "x")], rows)
    for call in (
        led.exists,
        lambda: led.load(spark),
        lambda: led.pending_only(spark, batch),
        lambda: led.merge(spark, batch),
        lambda: led.mark_done(spark, batch.select("k")),
    ):
        with pytest.raises(RuntimeError, match="migrate_to_versioned"):
            call()

    def crash(version, record):
        raise RuntimeError("injected crash before the marker publish")

    real = led._ptr.store
    led._ptr.store = _PutHook(real, crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        led.migrate_to_versioned(spark)
    led._ptr.store = real
    # the upsert landed in the table, but without the marker the
    # ledger still refuses rather than serve a half-converted state
    assert len(led._vt.versions()) == 1
    with pytest.raises(RuntimeError, match="migrate_to_versioned"):
        led.exists()
    led.migrate_to_versioned(spark)  # crash-replay converges
    led.migrate_to_versioned(spark)  # idempotent no-op
    got = {r["k"]: r["status"] for r in led.load(spark).collect()}
    assert got == {1: "pending", 2: "done"}
    assert led.load(spark).count() == 2  # the double upsert left no dupes
    assert {r["k"] for r in led.pending_only(spark, batch).collect()} == {1, 3}
    assert _led(root, make_store).exists()  # a second handle sees it too
    n = len(led._vt.versions())
    led.merge(spark, spark.createDataFrame([(5, "pending")], rows))
    assert len(led._vt.versions()) == n + 1
    led.clean_stale(retention_seconds=0)
    assert [d for d in os.listdir(root) if d.startswith("data-")] == []
    got = {r["k"]: r["status"] for r in led.load(spark).collect()}
    assert got == {1: "pending", 2: "done", 5: "pending"}


def test_versioned_ledger_concurrent_merges_lose_loudly_or_serialize(
    spark, tmp_path, make_store
):
    """Two concurrent dispatchers ride the versioned table's
    optimistic concurrency: with conflict_retries=0 one may lose
    LOUDLY (PointerConflict) and no rows are silently dropped; with
    retries the loser re-derives and both land."""
    from jde_to_datalake_spark.sources.log_store import PointerConflict

    root = str(tmp_path / "led")
    _led(root, make_store).merge(
        spark, spark.createDataFrame([(0, "done")], ["k", "status"])
    )
    handles = [_led(root, make_store) for _ in range(2)]
    batches = [
        spark.createDataFrame([(1, "done")], ["k", "status"]),
        spark.createDataFrame([(2, "done")], ["k", "status"]),
    ]
    outcomes: list = [None, None]
    barrier = threading.Barrier(2)

    def dispatch(i):
        barrier.wait()
        try:
            handles[i].merge(spark, batches[i])
            outcomes[i] = "won"
        except PointerConflict:
            outcomes[i] = "lost"

    ts = [threading.Thread(target=dispatch, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    keys = {r["k"] for r in handles[0].load(spark).collect()}
    # every winner's batch is present; a loser was told loudly
    for i, out in enumerate(outcomes):
        if out == "won":
            assert i + 1 in keys
        else:
            handles[i].merge(spark, batches[i], conflict_retries=3)
    keys = {r["k"] for r in handles[0].load(spark).collect()}
    assert keys == {0, 1, 2}


def test_handoff_races_pointer_flip_rederives(spark, tmp_path, make_store):
    """A pointer flip landing between a migrator's read and its marker
    CAS (a dispatcher still on the parquet backend) makes
    migrate_to_versioned raise PointerConflict; invoking it again
    upserts the FRESHER payload — the intervening writer's rows
    included — before publishing."""
    from jde_to_datalake_spark.sources.log_store import (
        DataDirPointer,
        PointerConflict,
    )

    root = str(tmp_path / "led")
    rows = "k bigint, status string"
    ptr = DataDirPointer(
        root, make_store(root), payloads=make_store.payloads(root)
    )
    ptr.flip(
        lambda p: spark.createDataFrame([(1, "done")], rows).write.parquet(p)
    )
    led = _led(root, make_store)

    def intervene(version, record):
        # the intervener's merged state carries the existing row
        # forward (a real merge never drops keys) plus its own new row
        ptr.flip(
            lambda p: spark.createDataFrame([(1, "done"), (7, "done")], rows)
            .write.parquet(p),
            expected=version - 1,
        )

    real = led._ptr.store
    led._ptr.store = _PutHook(real, intervene)
    with pytest.raises(PointerConflict):
        led.migrate_to_versioned(spark)
    led._ptr.store = real
    with pytest.raises(RuntimeError, match="migrate_to_versioned"):
        led.exists()
    led.migrate_to_versioned(spark)
    led.merge(spark, spark.createDataFrame([(2, "pending")], rows))
    got = {r["k"]: r["status"] for r in led.load(spark).collect()}
    # the intervener's row (7) and the later merge's row (2) both
    # survived the race — zero silent loss across the conversion
    assert got == {1: "done", 7: "done", 2: "pending"}


def test_data_dir_orphan_reclaim(spark, tmp_path, make_store):
    """A writer that dies between the payload write and the pointer
    flip leaks a data-* orphan; clean_stale reclaims it past the
    retention window while sparing the current payload and any fresh
    (in-flight) dir — the staging-sweep discipline applied to every
    pointer-flip artifact."""
    import time

    from jde_to_datalake_spark.sources.incremental import Watermark

    root = str(tmp_path / "wm")
    wm = Watermark(root, store=make_store(root), payload_store=make_store.payloads(root))
    wm.advance(spark, spark.createDataFrame([(1, 10)], ["k", "ts"]), "ts")
    old = time.time() - 7200
    stale = os.path.join(root, "data-deadbeef")
    os.makedirs(stale)
    open(os.path.join(stale, "part-x.parquet"), "w").close()
    for p in (stale, os.path.join(stale, "part-x.parquet")):
        os.utime(p, (old, old))
    fresh = os.path.join(root, "data-cafebabe")
    os.makedirs(fresh)
    removed = wm.clean_stale()  # default retention: 1 h
    assert removed == [stale]
    assert not os.path.exists(stale) and os.path.isdir(fresh)
    assert wm.get(spark) == 10  # current payload untouched
    # the CURRENT dir survives even past retention
    cur = [
        d
        for d in os.listdir(root)
        if d.startswith("data-") and d != "data-cafebabe"
    ]
    assert len(cur) == 1
    curp = os.path.join(root, cur[0])
    for dirpath, dirs, files in os.walk(curp):
        for n in dirs + files:
            os.utime(os.path.join(dirpath, n), (old, old))
    os.utime(curp, (old, old))
    if make_store.leg == "s3-full":
        # an empty dir is not an object: a crashed writer that wrote
        # no bytes left nothing on the bucket to reclaim (the empty
        # `fresh` dir exists only on the local fs, invisible to the
        # payload store); the aged-out current payload still survives
        # via the authoritative pointer re-read
        assert wm.clean_stale(retention_seconds=0) == []
    else:
        assert wm.clean_stale(retention_seconds=0) == [fresh]
    assert wm.get(spark) == 10


def _dual_plane(root):
    """One artifact root with BOTH planes on backed fakes — separate
    clients per plane (sharing state through the backing files, like
    two boto3 connections to one bucket) so faults can target the
    payload plane alone."""
    log_client = FakeS3Client(backing="/")
    pay_client = FakeS3Client(backing="/")
    log = S3ObjectLogStore("bkt", root, log_client)
    log.RETRY_SLEEP = 0
    pay = S3PayloadStore("bkt", root, pay_client, uri_base=root)
    pay.RETRY_SLEEP = 0
    return log, pay, pay_client


def test_payload_faults_never_fail_sweep_or_publish(spark, tmp_path):
    """Throttle + landed-but-unACKed faults on the payload plane's
    list/delete during clean_stale: the sweep DEFERS (never raises,
    never fails the flip that triggered it) and converges on the next
    clean sweep — the advisory-trim discipline under injected faults,
    not just by code inspection."""
    from jde_to_datalake_spark.sources.incremental import Watermark

    root = str(tmp_path / "wm")
    log, pay, pay_client = _dual_plane(root)
    wm = Watermark(root, store=log, payload_store=pay)
    wm.advance(spark, spark.createDataFrame([(1, 10)], ["k", "ts"]), "ts")
    # a flip whose auto-reclaim sweep hits an exhausted-listing fault
    # must still PUBLISH (the sweep is advisory)
    pay_client.inject(
        "list_objects_v2", "SlowDown", times=pay.MAX_RETRIES + 1
    )
    assert (
        wm.advance(spark, spark.createDataFrame([(1, 20)], ["k", "ts"]), "ts")
        == 20
    )
    assert wm.get(spark) == 20
    # deletes that LAND but report failure (lost-ACK shape): the sweep
    # DEFERS — reports nothing removed, fails nothing...
    pay_client.inject(
        "delete_object", "SlowDown", times=pay.MAX_RETRIES + 1, after=True
    )
    assert wm.clean_stale(retention_seconds=0) == []
    assert wm.get(spark) == 20  # current payload untouched
    # ...and the next clean sweep re-lists the partially-reaped dir
    # and converges (the landed deletes are not repeated, the
    # remainder is removed)
    assert len(wm.clean_stale(retention_seconds=0)) == 1
    assert wm.get(spark) == 20
    datas = [d for d in os.listdir(root) if d.startswith("data-")]
    assert len(datas) == 1  # exactly the current payload survives


def test_ledger_merge_handles_map_typed_payload(spark, tmp_path):
    """A ledger payload carrying a MAP column (the reference's
    `additions` shape) used to fail merge at PLAN time — the
    within-batch tie-break hashed all columns and Spark refuses
    xxhash64 on maps (round-11 advisor). Now folded through to_json:
    the merge plans, and a genuine duplicate key still collapses to
    exactly one deterministic row."""
    from jde_to_datalake_spark.plans.ledger import IdempotencyLedger

    led = IdempotencyLedger(str(tmp_path / "led"), key="k")
    batch = spark.createDataFrame(
        [
            (1, "pending", {"a": "x"}),
            (1, "sent", {"a": "y"}),  # duplicate key, differing map
            (2, "pending", {"b": "z"}),
        ],
        "k bigint, status string, attrs map<string,string>",
    )
    led.merge(spark, batch)
    rows = {r["k"]: r for r in led.load(spark).collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["attrs"] == {"b": "z"}
    first_pick = rows[1]["status"]
    assert first_pick in ("pending", "sent")
    # deterministic across re-deliveries: the same batch re-merged
    # picks the same row
    led.merge(spark, batch)
    rows = {r["k"]: r for r in led.load(spark).collect()}
    assert rows[1]["status"] == first_pick


def test_pending_only_is_one_lazy_anti_join(spark, tmp_path, monkeypatch):
    """pending_only is ``batch LEFT ANTI JOIN done`` as one lazy plan:
    the J6 result, no action on the batch (its only job is the
    done-set read's own schema inference, paid once per version), no
    rescan at a version it already holds, a fresh plan once another
    handle commits, and an empty latest version raises like read."""
    from jde_to_datalake_spark.plans.ledger import IdempotencyLedger
    from jde_to_datalake_spark.sources.versioned import VersionedTable

    root = str(tmp_path / "led")
    led = IdempotencyLedger(root, key="k")
    rows = "k bigint, status string"
    led.merge(spark, spark.createDataFrame([(k, "done") for k in range(10)], rows))
    led.merge(spark, spark.createDataFrame([(10, "pending")], rows))
    led.merge(
        spark,
        spark.createDataFrame([(k, "done") for k in range(100, 110)], rows),
    )
    batch = spark.createDataFrame(
        [(0, "x"), (1, "x"), (10, "x"), (500, "x"), (None, "x")],
        "k bigint, payload string",
    )
    sc = spark.sparkContext
    scans: list = []
    real_scan = VersionedTable._scan_files

    def counting_scan(self, *a, **kw):
        scans.append(self.root)
        return real_scan(self, *a, **kw)

    monkeypatch.setattr(VersionedTable, "_scan_files", counting_scan)

    def jobs_of(group, fn):
        sc.setJobGroup(group, "")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    # a cold build starts exactly the jobs of the bare done-set read
    # (mergeSchema inference) — nothing runs over the batch
    _, read_jobs = jobs_of(
        "bare-read",
        lambda: VersionedTable(os.path.join(root, "_versioned")).read(
            spark, merge_schema=True
        ),
    )
    out, cold_jobs = jobs_of("cold", lambda: led.pending_only(spark, batch))
    assert cold_jobs == read_jobs
    # correctness: done keys 0,1 drop; pending 10, unseen 500 and the
    # NULL key (no anti-join match) stay
    assert {r["k"] for r in out.collect()} == {10, 500, None}
    # a second call at the same version: no job, no new file scan
    n = len(scans)
    out2, warm_jobs = jobs_of("warm", lambda: led.pending_only(spark, batch))
    assert warm_jobs == 0
    assert len(scans) == n
    # a merge through a second handle: the next call sees the new
    # done key, and the frame built before the merge keeps its version
    IdempotencyLedger(root, key="k").mark_done(
        spark, spark.createDataFrame([(10,)], "k bigint")
    )
    n = len(scans)
    out3 = led.pending_only(spark, batch)
    assert len(scans) == n + 1  # one done-set plan for the new version
    assert {r["k"] for r in out3.collect()} == {500, None}
    # threads sharing the handle across one more commit: a race on the
    # held plan only rebuilds it, and every frame sees the new done key
    IdempotencyLedger(root, key="k").mark_done(
        spark, spark.createDataFrame([(500,)], "k bigint")
    )
    frames: list = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(
                target=lambda: frames.append(led.pending_only(spark, batch))
            )
            for _ in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert len(frames) == 8
    assert all({r["k"] for r in f.collect()} == {None} for f in frames)
    assert {r["k"] for r in out2.collect()} == {10, 500, None}
    # a latest version with no files raises exactly as read does
    vt = VersionedTable(os.path.join(root, "_versioned"))
    vt.publish([], mode="overwrite")
    with pytest.raises(FileNotFoundError, match="empty commit"):
        vt.read(spark, merge_schema=True)
    with pytest.raises(FileNotFoundError, match="empty commit"):
        led.pending_only(spark, batch)
