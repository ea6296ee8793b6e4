"""LogStore seam contract — both implementations must satisfy the
same five-primitive behavior the commit protocol builds on
(sources/log_store.py). These are pure-Python tests (no Spark)."""

from __future__ import annotations

import json
import os
import threading

import pytest

from jde_to_datalake_spark.sources.log_store import (
    InMemoryLogStore,
    LogConflict,
    PosixLogStore,
    S3ObjectLogStore,
)


class _FakeClientError(Exception):
    """botocore.ClientError shape: carries response["Error"]["Code"]."""

    def __init__(self, code):
        super().__init__(code)
        self.response = {"Error": {"Code": code}}


class FakeS3Client:
    """In-repo stand-in for the boto3 S3 client surface
    S3ObjectLogStore/S3DataFileStore use, with REAL conditional-write
    semantics: put_object(IfNoneMatch="*") is atomic under the lock
    and answers 412 PreconditionFailed when the key exists — the
    exact behavior of S3 conditional writes (GA Nov 2024). Listing
    paginates at 2 keys per page so the adapters' ContinuationToken
    loops are exercised, carries per-object LastModified like real
    S3, and is strongly consistent (2020+).

    ``backing`` (a local base dir) switches the bucket's storage
    from an in-memory dict to REAL FILES at ``<backing>/<Key>``
    (single-bucket fake; LastModified = file mtime; deleting the
    last object under a "directory" prunes the now-empty local dirs,
    like object stores having no empty dirs). This is what lets a
    payload-plane test hand Spark a plain local path to WRITE while
    every list/delete/get goes through this client's fault-injectable
    API — the adapter code under test is byte-identical to what a
    real boto3 client would drive; only the byte transport differs.

    ``inject(op, code, times, after)`` queues transient faults the
    way real S3 emits them: 409 ConditionalRequestConflict (racing
    conditional PUTs — neither applied), 503 SlowDown (throttle;
    ``after=True`` raises AFTER applying the write — the landed-but-
    unACKed shape whose retry answers 412 from the caller's own
    object)."""

    PAGE = 2

    def __init__(self, backing=None):
        import threading

        self.backing = backing
        self._objects: dict = {}  # (bucket, key) -> bytes
        self._mtimes: dict = {}  # (bucket, key) -> epoch
        self._lock = threading.Lock()
        self._faults: list = []  # (op, code, after)
        self.calls: dict = {}  # op -> count (retry-visibility)

    def inject(self, op, code, times=1, after=False):
        self._faults.extend((op, code, after) for _ in range(times))

    def _bpath(self, key):
        return os.path.join(self.backing, key)

    def _enter(self, op, apply_fn):
        """Count the call, pop one matching fault: before-faults raise
        without applying; after-faults apply the mutation first."""
        self.calls[op] = self.calls.get(op, 0) + 1
        fault = next(
            (f for f in self._faults if f[0] == op), None
        )
        if fault is None:
            return apply_fn()
        self._faults.remove(fault)
        _, code, after = fault
        if after:
            apply_fn()
        raise _FakeClientError(code)

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None):
        def apply():
            if self.backing is not None:
                p = self._bpath(Key)
                if IfNoneMatch == "*" and os.path.exists(p):
                    raise _FakeClientError("PreconditionFailed")
                os.makedirs(os.path.dirname(p), exist_ok=True)
                with open(p, "wb") as fh:
                    fh.write(bytes(Body))
                return
            if IfNoneMatch == "*" and (Bucket, Key) in self._objects:
                raise _FakeClientError("PreconditionFailed")
            import time

            self._objects[(Bucket, Key)] = bytes(Body)
            self._mtimes[(Bucket, Key)] = time.time()

        with self._lock:
            self._enter("put_object", apply)
        return {}

    def get_object(self, Bucket, Key):
        import io

        with self._lock:
            def apply():
                if self.backing is not None:
                    try:
                        with open(self._bpath(Key), "rb") as fh:
                            return fh.read()
                    except (FileNotFoundError, IsADirectoryError):
                        raise _FakeClientError("NoSuchKey") from None
                try:
                    return self._objects[(Bucket, Key)]
                except KeyError:
                    raise _FakeClientError("NoSuchKey") from None

            data = self._enter("get_object", apply)
        return {"Body": io.BytesIO(data)}

    def delete_object(self, Bucket, Key):
        def apply():
            if self.backing is not None:
                p = self._bpath(Key)
                try:
                    os.remove(p)
                except OSError:
                    return  # S3: 204 either way
                # object stores have no empty dirs: prune local ones
                d = os.path.dirname(p)
                base = os.path.abspath(self.backing)
                while os.path.abspath(d) != base:
                    try:
                        os.rmdir(d)
                    except OSError:
                        break
                    d = os.path.dirname(d)
                return
            self._objects.pop((Bucket, Key), None)
            self._mtimes.pop((Bucket, Key), None)

        with self._lock:
            self._enter("delete_object", apply)  # S3: 204 either way
        return {}

    def copy_object(self, Bucket, Key, CopySource):
        """Server-side copy like real S3: fresh bytes at the new key,
        fresh LastModified, source untouched; NoSuchKey when the
        source is missing."""
        src_bucket, src_key = CopySource["Bucket"], CopySource["Key"]

        def apply():
            if self.backing is not None:
                import shutil

                sp, dp = self._bpath(src_key), self._bpath(Key)
                os.makedirs(os.path.dirname(dp), exist_ok=True)
                try:
                    shutil.copyfile(sp, dp)
                except (FileNotFoundError, IsADirectoryError):
                    raise _FakeClientError("NoSuchKey") from None
                return
            if (src_bucket, src_key) not in self._objects:
                raise _FakeClientError("NoSuchKey")
            import time

            self._objects[(Bucket, Key)] = self._objects[
                (src_bucket, src_key)
            ]
            self._mtimes[(Bucket, Key)] = time.time()

        with self._lock:
            self._enter("copy_object", apply)
        return {}

    def _listing(self, Bucket, Prefix):
        """sorted [(key, mtime_epoch, size)] under the prefix."""
        if self.backing is not None:
            out = []
            base = os.path.abspath(self.backing)
            # walk only under the prefix's top dir to keep it cheap
            top = os.path.dirname(self._bpath(Prefix))
            for dirpath, _dirs, files in os.walk(top):
                for f in files:
                    p = os.path.join(dirpath, f)
                    key = os.path.relpath(p, base)
                    if key.startswith(Prefix):
                        try:
                            out.append(
                                (
                                    key,
                                    os.path.getmtime(p),
                                    os.path.getsize(p),
                                )
                            )
                        except OSError:
                            continue  # deleted mid-walk
            return sorted(out)
        return sorted(
            (k, self._mtimes.get((b, k), 0.0), len(body))
            for (b, k), body in self._objects.items()
            if b == Bucket and k.startswith(Prefix)
        )

    def list_objects_v2(
        self, Bucket, Prefix, ContinuationToken=None, Delimiter=None
    ):
        with self._lock:
            entries = self._enter(
                "list_objects_v2", lambda: self._listing(Bucket, Prefix)
            )
        rolled: set = set()
        if Delimiter:
            # like S3: every key with a Delimiter past the prefix rolls
            # up into one CommonPrefixes entry per subtree, and those
            # entries count toward a page like keys do
            keep: dict = {}
            for k, m, s in entries:
                cut = k.find(Delimiter, len(Prefix))
                if cut < 0:
                    keep[k] = (k, m, s)
                else:
                    p = k[: cut + len(Delimiter)]
                    rolled.add(p)
                    keep[p] = (p, None, None)
            entries = [keep[k] for k in sorted(keep)]
        start = int(ContinuationToken) if ContinuationToken else 0
        page = entries[start : start + self.PAGE]
        truncated = start + self.PAGE < len(entries)
        resp = {
            "Contents": [
                {"Key": k, "LastModified": m, "Size": s}
                for k, m, s in page
                if k not in rolled
            ],
            "IsTruncated": truncated,
        }
        if rolled:
            resp["CommonPrefixes"] = [
                {"Prefix": k} for k, _m, _s in page if k in rolled
            ]
        if truncated:
            resp["NextContinuationToken"] = str(start + self.PAGE)
        return resp


@pytest.fixture(params=["posix", "memory", "s3"])
def store(request, tmp_path):
    root = str(tmp_path / "tbl")
    os.makedirs(root, exist_ok=True)
    if request.param == "memory":
        s = InMemoryLogStore(root)
        yield s
        InMemoryLogStore.reset(root)
    elif request.param == "s3":
        yield S3ObjectLogStore("bkt", "tables/t1", FakeS3Client())
    else:
        yield PosixLogStore(root)


def test_put_read_list_roundtrip(store):
    store.put_if_absent(0, {"a": 1})
    store.put_if_absent(2, {"b": [1, 2]})
    assert store.list_versions() == [0, 2]
    assert store.read(0) == {"a": 1}
    assert store.read(2) == {"b": [1, 2]}


def test_put_if_absent_is_exclusive(store):
    store.put_if_absent(5, {"x": 1})
    with pytest.raises(LogConflict):
        store.put_if_absent(5, {"x": 2})
    assert store.read(5) == {"x": 1}  # loser never overwrites


def test_read_missing_raises_file_not_found(store):
    # the reconcile loop maps this to a retryable "vacuumed mid-check"
    with pytest.raises(FileNotFoundError):
        store.read(99)


def test_replace_and_delete(store):
    store.put_if_absent(1, {"v": "old"})
    store.replace(1, {"v": "new"})
    assert store.read(1) == {"v": "new"}
    store.delete(1)
    assert store.list_versions() == []


def test_records_must_be_json_serializable(store):
    # both stores enforce the wire contract at put time — a record
    # that can't serialize must fail loudly, not lie in memory
    with pytest.raises(TypeError):
        store.put_if_absent(0, {"bad": object()})


def test_read_result_is_not_aliased(store):
    store.put_if_absent(0, {"files": ["a"]})
    r = store.read(0)
    r["files"].append("mutant")
    assert store.read(0) == {"files": ["a"]}


def test_concurrent_put_if_absent_single_winner(store):
    """N threads race one version; exactly one wins — the uniqueness
    guarantee the entire optimistic-concurrency protocol rests on."""
    results = []

    def contender(i):
        try:
            store.put_if_absent(7, {"writer": i})
            results.append(("won", i))
        except LogConflict:
            results.append(("lost", i))

    threads = [
        threading.Thread(target=contender, args=(i,)) for i in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [i for tag, i in results if tag == "won"]
    assert len(wins) == 1
    assert store.read(7) == {"writer": wins[0]}


def test_posix_layout_matches_legacy_paths(tmp_path):
    """The POSIX store writes exactly the `_log/<v>.json` layout every
    pre-seam table already has — existing tables keep reading."""
    root = str(tmp_path / "tbl")
    s = PosixLogStore(root)
    s.put_if_absent(3, {"k": 1})
    p = os.path.join(root, "_log", f"{3:011d}.json")
    assert os.path.exists(p)
    with open(p) as fh:
        assert json.load(fh) == {"k": 1}


def test_posix_clean_stale_reclaims_only_old_tmp(tmp_path):
    root = str(tmp_path / "tbl")
    s = PosixLogStore(root)
    s.put_if_absent(0, {})
    stale = os.path.join(s.dir, "_tmp-dead")
    with open(stale, "w") as fh:
        fh.write("{}")
    os.utime(stale, (0, 0))
    fresh = os.path.join(s.dir, "_tmp-live")
    with open(fresh, "w") as fh:
        fh.write("{}")
    s.clean_stale(1.0)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)  # younger than cutoff: an in-flight writer
    assert s.list_versions() == [0]


def test_memory_store_shared_across_instances(tmp_path):
    """Two store instances on one root see one log — the multi-writer
    visibility model (what separate S3 clients get from the bucket)."""
    root = str(tmp_path / "tbl")
    a, b = InMemoryLogStore(root), InMemoryLogStore(root)
    a.put_if_absent(0, {"w": "a"})
    assert b.list_versions() == [0]
    with pytest.raises(LogConflict):
        b.put_if_absent(0, {"w": "b"})
    InMemoryLogStore.reset(root)


def test_pointer_slot_is_write_once(store):
    from jde_to_datalake_spark.sources.log_store import PointerSlot

    slot = PointerSlot(store)
    assert slot.get() is None
    slot.create({"data_dir": "a"})
    assert slot.get() == {"data_dir": "a"}
    with pytest.raises(LogConflict):
        slot.create({"data_dir": "b"})  # write-once loser
    assert slot.get() == {"data_dir": "a"}  # loser changed nothing
    # the slot deliberately has NO blind-overwrite primitive — mutable
    # pointers must go through DataDirPointer's CAS'd flip
    assert not hasattr(slot, "set")


def test_lost_ack_store_lands_then_conflicts(store):
    from jde_to_datalake_spark.sources.log_store import LostAckStore

    s = LostAckStore(store)
    with pytest.raises(LogConflict):
        s.put_if_absent(0, {"k": 1})
    # the put LANDED despite the reported conflict
    assert s.read(0) == {"k": 1}
    assert s.list_versions() == [0]
    # a genuine conflict (occupied version) propagates from the inner
    # store BEFORE any injection — and does not advance the fire count
    with pytest.raises(LogConflict):
        s.put_if_absent(0, {"k": 2})
    assert s.read(0) == {"k": 1}
    # pass-throughs
    s.replace(0, {"k": 3})
    assert s.read(0) == {"k": 3}
    s.delete(0)
    assert s.list_versions() == []


def test_lost_ack_fire_every_n(store):
    from jde_to_datalake_spark.sources.log_store import LostAckStore

    s = LostAckStore(store, fire_every=2)
    s.put_if_absent(0, {})  # 1st put: clean ACK
    with pytest.raises(LogConflict):
        s.put_if_absent(1, {})  # 2nd: lands, ACK lost
    assert s.list_versions() == [0, 1]


# -- real-S3 fault shapes the adapter must absorb -------------------------


def _s3_store(client=None):
    s = S3ObjectLogStore("bkt", "tables/t1", client or FakeS3Client())
    s.RETRY_SLEEP = 0  # no backoff waits in tests
    return s


def test_s3_409_retry_then_win():
    """ConditionalRequestConflict = racing conditional PUTs, neither
    applied yet; AWS guidance is retry — the re-attempt must land and
    the 409 must never escape as a raw ClientError."""
    client = FakeS3Client()
    s = _s3_store(client)
    client.inject("put_object", "ConditionalRequestConflict", times=2)
    s.put_if_absent(0, {"w": "me"})
    assert s.read(0) == {"w": "me"}
    assert client.calls["put_object"] == 3  # 2 conflicts + the win


def test_s3_409_then_racer_landed_is_log_conflict():
    """409 first, then the RACER's object exists: the retry answers
    412 and the adapter surfaces LogConflict — through the same path
    the writer-token read-back disambiguates."""
    client = FakeS3Client()
    s = _s3_store(client)
    client.put_object(
        Bucket="bkt",
        Key="tables/t1/_log/00000000000.json",
        Body=b'{"w": "racer"}',
    )
    client.inject("put_object", "ConditionalRequestConflict")
    with pytest.raises(LogConflict):
        s.put_if_absent(0, {"w": "me"})
    assert s.read(0) == {"w": "racer"}  # loser never overwrote


def test_s3_409_exhaustion_raises_raw():
    client = FakeS3Client()
    s = _s3_store(client)
    client.inject(
        "put_object", "ConditionalRequestConflict", times=s.MAX_RETRIES + 1
    )
    with pytest.raises(_FakeClientError):
        s.put_if_absent(0, {})


def test_s3_slowdown_retried_on_every_op():
    client = FakeS3Client()
    s = _s3_store(client)
    for op in ("put_object", "get_object", "list_objects_v2",
               "delete_object"):
        client.inject(op, "SlowDown")
    s.put_if_absent(0, {"k": 1})
    assert s.read(0) == {"k": 1}
    assert s.list_versions() == [0]
    s.delete(0)
    assert s.list_versions() == []
    assert not client._faults  # every injected throttle was absorbed


def test_s3_slowdown_after_landed_put_is_lost_ack_shape():
    """A throttle whose first attempt actually applied: the retry gets
    412 from the caller's OWN object — reported honestly as
    LogConflict, which the pointer/commit writer-token read-back then
    recognizes as a self-win."""
    client = FakeS3Client()
    s = _s3_store(client)
    client.inject("put_object", "SlowDown", after=True)
    with pytest.raises(LogConflict):
        s.put_if_absent(0, {"w": "me"})
    assert s.read(0) == {"w": "me"}  # it landed


def test_s3_slowdown_exhaustion_raises_raw():
    client = FakeS3Client()
    s = _s3_store(client)
    client.inject("get_object", "SlowDown", times=s.MAX_RETRIES + 1)
    s.put_if_absent(0, {})
    with pytest.raises(_FakeClientError):
        s.read(0)


def test_s3_list_interleaved_with_writes_stays_consistent():
    """A key published between pagination calls may or may not appear
    in the listing (each page is a point-in-time snapshot); the
    listing must never crash or duplicate, and the CAS put — not the
    listing — remains the authority."""

    class InterleavingClient(FakeS3Client):
        def __init__(self):
            super().__init__()
            self._interleaved = False

        def list_objects_v2(self, **kw):
            resp = super().list_objects_v2(**kw)
            if not self._interleaved and resp.get("IsTruncated"):
                self._interleaved = True
                # a writer lands a NEW latest version mid-listing
                self._objects[
                    ("bkt", "tables/t1/_log/00000000009.json")
                ] = b"{}"
            return resp

    client = InterleavingClient()
    s = _s3_store(client)
    for v in range(5):
        s.put_if_absent(v, {})
    got = s.list_versions()
    assert got == sorted(set(got))  # no duplicates, sorted
    assert set(range(5)) <= set(got)  # nothing pre-existing dropped
    # the authority: a CAS put against the mid-listing arrival loses
    with pytest.raises(LogConflict):
        s.put_if_absent(9, {"w": "stale-lister"})


def test_for_child_derives_same_domain_store(store, tmp_path):
    """for_child roots a store of the same kind under the parent —
    how the ledger's versioned backend gets a commit log in the SAME
    storage domain instead of silently defaulting to local disk."""
    child = store.for_child("_versioned")
    assert type(child) is type(store)
    child.put_if_absent(0, {"w": 1})
    assert child.read(0) == {"w": 1}
    # parent and child logs are independent namespaces
    assert store.list_versions() == []
    store.put_if_absent(0, {"p": 1})
    assert child.read(0) == {"w": 1}


def test_for_child_s3_prefix_and_lost_ack_wrap():
    from jde_to_datalake_spark.sources.log_store import LostAckStore

    s = _s3_store()
    child = s.for_child("_versioned")
    assert child.prefix == "tables/t1/_versioned"
    assert child.client is s.client  # same bucket connection
    wrapped = LostAckStore(s, fire_every=3).for_child("_versioned")
    assert isinstance(wrapped, LostAckStore)
    assert wrapped.fire_every == 3
    assert wrapped.inner.prefix == "tables/t1/_versioned"


def test_for_child_unknown_store_fails_loudly():
    from jde_to_datalake_spark.sources.log_store import LogStore

    class Exotic(LogStore):
        pass

    with pytest.raises(NotImplementedError, match="inject one explicitly"):
        Exotic().for_child("_versioned")


# -- DataDirPointer: the CAS'd mutable-pointer primitive -------------------


def _mkpayload(path):
    os.makedirs(path)
    with open(os.path.join(path, "part-0.parquet"), "w") as fh:
        fh.write("payload")


def test_pointer_flip_cas_and_record_trim(store, tmp_path):
    from jde_to_datalake_spark.sources.log_store import DataDirPointer

    root = str(tmp_path / "ptr")
    os.makedirs(root, exist_ok=True)
    ptr = DataDirPointer(root, store)
    assert ptr.latest() == (None, None)
    first = ptr.flip(_mkpayload)
    assert ptr.current() == first
    second = ptr.flip(_mkpayload)
    assert ptr.current() == second
    third = ptr.flip(_mkpayload)
    assert ptr.current() == third
    # the winner trims superseded pointer RECORDS but KEEPS its CAS
    # anchor (a concurrent writer's lost-ACK read-back at that version
    # must still find its record): log stays at <= 2 records
    assert store.list_versions() == [1, 2]
    # ...and the superseded PAYLOAD dirs survive for lazy readers
    assert os.path.isdir(os.path.join(root, first))
    assert os.path.isdir(os.path.join(root, second))
    # until the retention-gated sweep reclaims them (current kept)
    removed = ptr.clean_stale(retention_seconds=0)
    assert sorted(removed) == sorted(
        [os.path.join(root, first), os.path.join(root, second)]
    )
    assert os.path.isdir(os.path.join(root, third))


def test_pointer_flip_stale_anchor_loses_loudly(store, tmp_path):
    from jde_to_datalake_spark.sources.log_store import (
        DataDirPointer,
        PointerConflict,
    )

    root = str(tmp_path / "ptr")
    os.makedirs(root, exist_ok=True)
    ptr = DataDirPointer(root, store)
    ptr.flip(_mkpayload)
    base, _ = ptr.latest()
    winner = ptr.flip(_mkpayload)  # intervening writer
    with pytest.raises(PointerConflict):
        ptr.flip(_mkpayload, expected=base)  # stale anchor: loud loss
    assert ptr.current() == winner  # nothing of the winner's clobbered
    # the loser's payload is an orphan the sweep reclaims
    orphans = ptr.clean_stale(retention_seconds=0)
    assert len(orphans) == 2  # superseded v0 payload + the loser's
    assert os.path.isdir(os.path.join(root, winner))


def test_pointer_flip_lost_ack_self_win(store, tmp_path):
    from jde_to_datalake_spark.sources.log_store import (
        DataDirPointer,
        LostAckStore,
    )

    root = str(tmp_path / "ptr")
    os.makedirs(root, exist_ok=True)
    ptr = DataDirPointer(root, LostAckStore(store))
    # every put reports a conflict despite landing: the data-dir name
    # is the writer token, so flip recognizes its own record
    first = ptr.flip(_mkpayload)
    assert ptr.current() == first
    second = ptr.flip(_mkpayload)
    assert ptr.current() == second


def test_pointer_concurrent_flips_single_winner(store, tmp_path):
    from jde_to_datalake_spark.sources.log_store import (
        DataDirPointer,
        PointerConflict,
    )

    root = str(tmp_path / "ptr")
    os.makedirs(root, exist_ok=True)
    ptr = DataDirPointer(root, store)
    ptr.flip(_mkpayload)
    base, _ = ptr.latest()
    outcomes = []
    barrier = threading.Barrier(4)

    def contender(i):
        barrier.wait()
        try:
            name = DataDirPointer(root, store).flip(
                _mkpayload, expected=base
            )
            outcomes.append(("won", name))
        except PointerConflict:
            outcomes.append(("lost", None))

    ts = [threading.Thread(target=contender, args=(i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    wins = [n for tag, n in outcomes if tag == "won"]
    assert len(wins) == 1  # exactly one writer's flip is current
    assert ptr.current() == wins[0]
    assert sum(1 for tag, _ in outcomes if tag == "lost") == 3


def test_pointer_round10_single_record_layout_reads_and_flips(
    store, tmp_path
):
    """A round-10 pointer (one record at version 0, published by the
    old replace-based slot) must read unchanged and CAS-append from
    version 1 — no migration step."""
    from jde_to_datalake_spark.sources.log_store import DataDirPointer

    root = str(tmp_path / "ptr")
    os.makedirs(root, exist_ok=True)
    _mkpayload(os.path.join(root, "data-legacy"))
    store.put_if_absent(0, {"data_dir": "data-legacy"})
    ptr = DataDirPointer(root, store)
    assert ptr.current() == "data-legacy"
    new = ptr.flip(_mkpayload)
    assert ptr.current() == new
    # the legacy record survives as the CAS anchor; the next flip
    # ages it out
    assert store.list_versions() == [0, 1]
    ptr.flip(_mkpayload)
    assert store.list_versions() == [1, 2]


def test_pointer_lag_listing_store_never_trims(store, tmp_path):
    """A store that cannot promise list-after-write completeness
    (supports_consistent_listing=False — the legacy S3+DynamoDB
    arbiter shape) must NEVER have its pointer records trimmed:
    without trims there are no holes, so a stale CAS always finds the
    still-present record and conflicts loudly with zero reliance on
    listings."""
    from jde_to_datalake_spark.sources.log_store import (
        DataDirPointer,
        PointerConflict,
    )

    class LagListingStore:
        supports_consistent_listing = False

        def __init__(self, inner):
            self.inner = inner

        def __getattr__(self, name):
            return getattr(self.inner, name)

    root = str(tmp_path / "ptr")
    os.makedirs(root, exist_ok=True)
    ptr = DataDirPointer(root, LagListingStore(store))
    ptr.flip(_mkpayload)
    stale_base, _ = ptr.latest()
    for _ in range(4):
        winner = ptr.flip(_mkpayload)
    # the log GREW — no record was ever trimmed
    assert store.list_versions() == [0, 1, 2, 3, 4]
    # a stale CAS conflicts on the still-present record, loudly
    with pytest.raises(PointerConflict, match="pointer moved past"):
        ptr.flip(_mkpayload, expected=stale_base)
    assert ptr.current() == winner
    # the sweep reclaims superseded PAYLOADS but leaves records alone
    ptr.clean_stale(retention_seconds=0)
    assert store.list_versions() == [0, 1, 2, 3, 4]
    assert ptr.current() == winner


def test_pointer_stale_publish_into_trimmed_hole_is_loud(store, tmp_path):
    """Record trims leave HOLES below the max: a writer stale by >= 3
    intervening flips can put_if_absent into a reclaimed slot BELOW
    the current pointer — the put 'succeeds' but readers resolve MAX,
    so without the post-publish staleness check its payload would be
    SILENTLY lost. It must raise PointerConflict instead."""
    from jde_to_datalake_spark.sources.log_store import (
        DataDirPointer,
        PointerConflict,
    )

    root = str(tmp_path / "ptr")
    os.makedirs(root, exist_ok=True)
    ptr = DataDirPointer(root, store)
    ptr.flip(_mkpayload)  # v0
    stale_base, _ = ptr.latest()  # a slow writer reads here
    ptr.flip(_mkpayload)  # v1 (trims nothing)
    ptr.flip(_mkpayload)  # v2 (trims v0)
    winner = ptr.flip(_mkpayload)  # v3 (trims v1 -> hole at v1)
    assert store.list_versions() == [2, 3]
    with pytest.raises(PointerConflict, match="newer pointer version"):
        ptr.flip(_mkpayload, expected=stale_base)  # lands in the hole
    # the winner is still current; the stale record never surfaces
    assert ptr.current() == winner
    # the stale writer's debris (record below max + payload orphan)
    # is reclaimed by the sweep
    ptr.clean_stale(retention_seconds=0)
    assert ptr.current() == winner
    assert max(store.list_versions()) == 3


def test_pointer_reader_rereads_through_record_trim(store, tmp_path):
    """A reader that listed the log just before a winner's record trim
    must re-resolve to the new latest, not crash on the vanished
    version — the bounded re-list in latest()."""
    from jde_to_datalake_spark.sources.log_store import DataDirPointer

    root = str(tmp_path / "ptr")
    os.makedirs(root, exist_ok=True)
    ptr = DataDirPointer(root, store)
    ptr.flip(_mkpayload)
    ptr.flip(_mkpayload)
    second = ptr.flip(_mkpayload)  # log now [1, 2]; version 0 trimmed

    class TrimRacingStore:
        """Delegates to the real store but serves ONE stale listing —
        the reader's window where version 0 was listed then trimmed."""

        def __init__(self, inner):
            self.inner = inner
            self._stale_served = False

        def list_versions(self):
            if not self._stale_served:
                self._stale_served = True
                return [0]  # already-trimmed version
            return self.inner.list_versions()

        def __getattr__(self, name):
            return getattr(self.inner, name)

    racing = DataDirPointer(root, TrimRacingStore(store))
    assert racing.current() == second


# -- DataFileStore as the pointer payload plane, beside the record plane --


def _write_parquet(path, n_rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"k": list(range(n_rows))}), path)


@pytest.fixture(params=["posix", "s3"])
def payloads(request, tmp_path):
    """Both payload-plane implementations over ONE local layout: the
    S3 leg uses a backing-dir fake client (objects are real files), so
    writing through uri() with plain file APIs — what Spark's writer
    does — is visible to both."""
    from jde_to_datalake_spark.sources.log_store import (
        PosixDataFileStore,
        S3DataFileStore,
    )

    root = str(tmp_path / "ptr")
    os.makedirs(root, exist_ok=True)
    if request.param == "s3":
        client = FakeS3Client(backing="/")
        s = S3DataFileStore("bkt", root, client, uri_base=root)
        s.RETRY_SLEEP = 0
        yield s
    else:
        yield PosixDataFileStore(root)


def test_payload_uri_roundtrip_and_dirs(payloads):
    root = payloads.uri()
    assert payloads.top_dirs(("data-",)) == {}
    assert payloads.root_files() == []
    _write_parquet(os.path.join(payloads.uri("data-a"), "p0.parquet"), 3)
    _write_parquet(os.path.join(payloads.uri("data-a"), "p1.parquet"), 4)
    _write_parquet(os.path.join(payloads.uri("data-b"), "p0.parquet"), 2)
    with open(os.path.join(root, "loose.parquet"), "w") as fh:
        fh.write("x")
    _write_parquet(os.path.join(payloads.uri("_versioned"), "t0.parquet"), 1)
    dirs = payloads.top_dirs(("data-",))
    assert set(dirs) == {"data-a", "data-b"}
    assert set(payloads.top_dirs(("",))) == {  # every dir, no loose file
        "data-a", "data-b", "_versioned"
    }
    assert set(payloads.top_dirs(("data-b", "_v"))) == {
        "data-b", "_versioned"
    }
    # mtimes are fresh (just written)
    import time

    assert all(abs(time.time() - m) < 300 for m in dirs.values())
    assert payloads.root_files() == ["loose.parquet"]
    payloads.delete_tree("data-a")
    assert set(payloads.top_dirs(("data-",))) == {"data-b"}
    assert not os.path.exists(payloads.uri("data-a"))
    payloads.delete_tree("data-missing")  # reaping an absent dir is a no-op
    assert set(payloads.top_dirs(("data-",))) == {"data-b"}


def test_s3_root_files_lists_only_the_root_level():
    """The legacy-layout check runs once per ledger instance: it must
    not list the ledger's whole ``_versioned`` table and ``_log``
    records to find loose root files (one delimited request, not 101
    two-key pages)."""
    from jde_to_datalake_spark.sources.log_store import S3DataFileStore

    client = FakeS3Client()
    for i in range(200):
        client.put_object(
            Bucket="bkt", Key=f"ledgers/l1/_versioned/part-{i:03d}.parquet",
            Body=b"x",
        )
    client.put_object(
        Bucket="bkt", Key="ledgers/l1/_log/00000000000.json", Body=b"{}"
    )
    s = S3DataFileStore("bkt", "ledgers/l1", client)
    client.calls.clear()
    assert s.root_files() == []
    assert client.calls == {"list_objects_v2": 1}
    client.put_object(Bucket="bkt", Key="ledgers/l1/loose.parquet", Body=b"x")
    assert s.root_files() == ["loose.parquet"]


def test_payload_listing_paginates(payloads):
    # 5 files > PAGE=2: the S3 leg must walk ContinuationToken pages
    # and a reap must delete every page of keys, not just the first
    for i in range(5):
        _write_parquet(
            os.path.join(payloads.uri("data-big"), f"p{i}.parquet"), 1
        )
        _write_parquet(
            os.path.join(payloads.uri(f"data-{i}"), "p0.parquet"), 1
        )
    assert set(payloads.top_dirs(("data-",))) == {
        "data-big", *(f"data-{i}" for i in range(5))
    }
    payloads.delete_tree("data-big")
    assert "data-big" not in payloads.top_dirs(("data-",))
    assert not os.path.exists(payloads.uri("data-big"))


def test_payload_mtime_missing_is_never_reclaimable():
    from jde_to_datalake_spark.sources.log_store import _epoch

    assert _epoch(None) == float("inf")
    assert _epoch(12.5) == 12.5

    class DT:  # boto3 returns datetimes
        def timestamp(self):
            return 99.0

    assert _epoch(DT()) == 99.0


def test_payload_s3_throttle_absorbed(tmp_path):
    from jde_to_datalake_spark.sources.log_store import S3DataFileStore

    root = str(tmp_path / "ptr")
    client = FakeS3Client(backing="/")
    s = S3DataFileStore("bkt", root, client, uri_base=root)
    s.RETRY_SLEEP = 0
    _write_parquet(os.path.join(root, "data-a", "p0.parquet"), 3)
    for op in ("list_objects_v2", "delete_object"):
        client.inject(op, "SlowDown")
    assert set(s.top_dirs(("data-",))) == {"data-a"}
    s.delete_tree("data-a")
    assert s.top_dirs(("data-",)) == {}
    assert not client._faults  # every throttle retried, none escaped


def test_payload_s3_default_uri_is_s3a():
    from jde_to_datalake_spark.sources.log_store import S3DataFileStore

    s = S3DataFileStore("bkt", "/tables/t1/", FakeS3Client())
    assert s.uri() == "s3a://bkt/tables/t1"
    assert s.uri("data-x") == "s3a://bkt/tables/t1/data-x"
