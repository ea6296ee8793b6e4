"""Commit-log storage seam — the five primitives the transaction
protocol needs, behind one interface.

Everything the versioned lake guarantees (optimistic concurrency,
conflict reconciliation, time travel, vacuum) reduces to FIVE
operations on immutable commit records keyed by version:

- ``put_if_absent(version, record)`` — the ONE atomic primitive the
  whole protocol rests on: publish a record if and only if no record
  exists at that version, failing with :class:`LogConflict` otherwise
  (the optimistic-concurrency loser detection).
- ``read(version)`` — one record's JSON (``FileNotFoundError`` when
  vacuumed/absent; callers surface that as a retryable conflict).
- ``list_versions()`` — the retained version numbers.
- ``replace(version, record)`` — atomic in-place overwrite; used ONLY
  by vacuum's checkpoint augmentation (adds derived state to the
  oldest retained record — never changes a record's meaning).
- ``delete(version)`` — vacuum trimming history.

``VersionedTable`` routes ALL log I/O through an injected store
(default :class:`PosixLogStore`), so the commit protocol's guarantees
are exactly the store's guarantees — nothing above this seam touches
``os``.

Object-store mapping (how the same contract deploys off POSIX — see
SCALE.md "Object-store commits"):

- **S3 (2024+ conditional writes)**: ``put_if_absent`` = ``PutObject``
  with ``If-None-Match: *`` (fails 412 when the key exists);
  ``replace`` = plain ``PutObject`` (S3 PUTs are atomic — readers see
  old or new, never torn); ``read``/``list_versions``/``delete`` =
  ``GetObject``/``ListObjectsV2`` (prefix ``_log/``)/``DeleteObject``.
- **GCS**: ``put_if_absent`` = ``x-goog-if-generation-match: 0``;
  rest as above.
- **ABFS**: real rename — Delta's own HDFS/ABFS LogStore recipe
  (write temp, atomic rename-without-overwrite) works verbatim.
- **S3 without conditional writes** (legacy): an external
  coordinator issues the uniqueness guarantee — DynamoDB
  ``PutItem`` with ``attribute_not_exists(version)`` as the
  ``put_if_absent``, the object body written after winning (Delta's
  S3DynamoDBLogStore). The interface is unchanged; only the impl is.
  Such an adapter must set ``supports_consistent_listing = False``
  (object listings lag the authoritative DynamoDB log), which makes
  the pointer plane skip record trims — see :class:`LogStore`.

The reference keeps its lake on S3 (s3_helper.py:29-75) with no
transaction log at all; this seam is what makes the engine's commit
protocol deployable there.

:class:`InMemoryLogStore` exists to PROVE the seam: the full
concurrency test matrix (tests/test_conflicts.py) runs against it,
demonstrating the conflict tier has no hidden dependence on POSIX
semantics (hard links, rename atomicity, directory listing).

:class:`PointerSlot` (write-once single record: the ingest app
nonce, the training-shard manifest) and :class:`DataDirPointer`
(compare-and-swapped mutable pointer: the watermark's data dirs
and the idempotency ledger's conversion marker; the schema
registry appends to a record log directly) are the sibling primitives for the engine's
OTHER atomic-publish points. Each of those used to hand-roll its
own POSIX ``os.link`` / ``os.rename``; routing them through the
seam means the whole engine's exactly-once publishes — not just
the table log — are exactly one ``LogStore`` implementation away
from any object store, and NONE of them retains a blind
last-writer-wins overwrite: every mutable publish is either
``put_if_absent`` at the next log version (registry) or a CAS'd
pointer flip that raises :class:`PointerConflict` on a lost race.

:class:`LostAckStore` wraps any store with the object-store
lost-ACK fault: a ``put_if_absent`` that LANDS server-side but
reports :class:`LogConflict` to the caller (an SDK's internal retry
answering 412/conditional-failure from its own earlier write). The
conflict matrix runs once under this injection to prove the
writer-token recovery composes with reconciliation, not just with a
clean append.

:class:`DataFileStore` is the second seam, beside this record one:
every driver-side operation on FILES. For a ``VersionedTable`` that
is staged-part adoption, footer reads, restore's existence probe,
compaction's size gate and vacuum's listing/retention/reaping; for
the pointer artifacts (watermark, idempotency ledger, training
shards, schema registry) it is the same store rooted at the artifact:
``uri`` for Spark, ``top_dirs`` for the retention sweeps,
``root_files`` for legacy-layout detection, ``delete_tree`` for the
reap. Two implementations: :class:`PosixDataFileStore` (today's
layout, byte-for-byte) and :class:`S3DataFileStore` (ListObjectsV2
by prefix + LastModified/Size, server-side CopyObject, DeleteObject,
GetObject footers). Spark moves the data BYTES through whatever
filesystem its connector mounts at ``uri()`` (s3a on a cluster).
With both seams injected a versioned table — and the idempotency
ledger's table via :meth:`DataFileStore.child` — runs its full
lifecycle on a bucket with no ``os.*`` in the control path
(tests/test_versioned_object_store.py).
"""

from __future__ import annotations

import json
import os
import threading
import uuid


class LogConflict(Exception):
    """A record already exists at the target version — the caller
    lost the optimistic-concurrency race."""


class PointerConflict(Exception):
    """A pointer-flip publish lost a compare-and-swap race: another
    writer flipped the pointer after this writer read it. The loser's
    payload dir is an unreferenced orphan (``clean_stale`` reclaims
    it); NOTHING of the winner's publish was overwritten. Raised
    instead of silently last-writer-wins so a second concurrent
    dispatcher (the multi-writer mistake the reference's Postgres
    ``UNIQUE`` constraint made loud, dag_bakery_system_to_jde.py:38-59)
    cannot lose the first one's rows. Callers for whom the flip is
    COMMUTATIVE (the watermark's monotonic max) may re-read and retry;
    callers merging divergent payloads (the idempotency ledger) must
    re-derive from the new current state."""


class LogStore:
    """Interface. Implementations must make ``put_if_absent`` atomic
    and ``replace`` reader-atomic (a concurrent ``read`` sees the old
    record or the new one, never a torn byte sequence).

    ``supports_consistent_listing`` declares whether
    ``list_versions`` reflects every already-landed put (true for
    POSIX, the in-memory prover, S3 since 2020, GCS). The TABLE
    commit protocol treats listings as advisory (the CAS put is the
    authority), but the POINTER plane's record TRIMS are gated on
    this flag: trimming opens holes below the max version that only a
    complete listing can police (``DataDirPointer.publish_record``'s
    staleness check), so a store that cannot promise it — e.g. the
    legacy S3+DynamoDB arbiter, where the object body lands after the
    conditional put and listings lag the authoritative log — sets
    this False and the pointer log simply grows (no trims → a stale
    CAS always finds the still-present record and conflicts loudly;
    ``clean_stale`` leaves records alone too).

    Retry policy lives in the IMPLEMENTATION (an object-store adapter
    keeps its SDK's transient-error retries): retrying a timed-out
    ``put_if_absent`` is safe even when the first attempt actually
    landed, because every commit record carries a writer token
    (``commit_id``) and the publisher recognizes its own record on
    ``LogConflict`` (versioned.py ambiguous-put recovery) — report the
    conflict honestly, never swallow it."""

    supports_consistent_listing: bool = True

    def list_versions(self) -> "list[int]":
        raise NotImplementedError

    def read(self, version: int) -> dict:
        raise NotImplementedError

    def put_if_absent(self, version: int, record: dict) -> None:
        raise NotImplementedError

    def replace(self, version: int, record: dict) -> None:
        raise NotImplementedError

    def delete(self, version: int) -> None:
        raise NotImplementedError

    def clean_stale(self, cutoff_epoch: float) -> None:
        """Reclaim implementation-private debris left by crashed
        publishes (e.g. POSIX temp files) older than ``cutoff_epoch``.
        No-op where the implementation leaves none."""

    def for_child(self, name: str) -> "LogStore":
        """A store of the same kind rooted at the child location
        ``<this store's root>/<name>`` — how a composite artifact
        (e.g. the ledger's versioned backend under its own root)
        derives a log in the SAME storage domain as its parent
        instead of silently defaulting to local disk. Implementations
        that cannot derive (exotic injected stores) inherit this
        loud default and the caller must inject the child store
        explicitly."""
        raise NotImplementedError(
            f"{type(self).__name__} cannot derive a child store for "
            f"{name!r}; inject one explicitly"
        )


def _record_name(version: int) -> str:
    return f"{version:011d}.json"


class PosixLogStore(LogStore):
    """Local-filesystem store: records are ``_log/<v>.json`` under the
    table root. ``put_if_absent`` = write a fully-formed temp file,
    then ``os.link`` it into place — link is atomic AND fails with
    ``FileExistsError`` when the target exists, which is exactly the
    loser detection; a reader can never observe a half-written record,
    and a writer crash leaves only a temp file (reclaimed by
    ``clean_stale`` via vacuum). ``replace`` = temp + ``os.replace``
    (atomic on POSIX)."""

    def __init__(self, root: str):
        self.root = root
        self.dir = os.path.join(root, "_log")
        os.makedirs(self.dir, exist_ok=True)

    def for_child(self, name: str) -> "PosixLogStore":
        return PosixLogStore(os.path.join(self.root, name))

    def _path(self, version: int) -> str:
        return os.path.join(self.dir, _record_name(version))

    def list_versions(self) -> "list[int]":
        out = []
        for f in os.listdir(self.dir):
            if f.endswith(".json"):
                try:
                    out.append(int(f[:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def read(self, version: int) -> dict:
        with open(self._path(version)) as fh:
            return json.load(fh)

    def _write_tmp(self, record: dict) -> str:
        tmp = os.path.join(self.dir, f"_tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        return tmp

    def put_if_absent(self, version: int, record: dict) -> None:
        tmp = self._write_tmp(record)
        try:
            os.link(tmp, self._path(version))
        except FileExistsError:
            raise LogConflict(str(version)) from None
        finally:
            os.remove(tmp)

    def replace(self, version: int, record: dict) -> None:
        tmp = self._write_tmp(record)
        os.replace(tmp, self._path(version))

    def delete(self, version: int) -> None:
        os.remove(self._path(version))

    def clean_stale(self, cutoff_epoch: float) -> None:
        for f in os.listdir(self.dir):
            if f.startswith("_tmp-"):
                p = os.path.join(self.dir, f)
                if os.path.getmtime(p) <= cutoff_epoch:
                    os.remove(p)


class InMemoryLogStore(LogStore):
    """Process-local store used to PROVE the seam (and handy for
    tests): records live in a class-level registry keyed by the
    table's absolute root, so every ``VersionedTable`` instance —
    and every thread — pointed at the same root shares one log, the
    same visibility model an object store gives separate writers.

    Records are stored as SERIALIZED JSON: ``put`` round-trips through
    ``json.dumps`` so a record that would not survive the wire fails
    here exactly as it would on POSIX/S3, and ``read`` hands back a
    fresh deserialization (no aliasing mutable state into callers).
    All operations take one lock — the uniqueness guarantee of
    ``put_if_absent`` is the lock, standing in for S3's
    ``If-None-Match`` / DynamoDB's conditional put."""

    _registry: "dict[str, dict[int, str]]" = {}
    _lock = threading.Lock()

    def __init__(self, root: str):
        self.key = os.path.abspath(root)
        with self._lock:
            self._registry.setdefault(self.key, {})

    def for_child(self, name: str) -> "InMemoryLogStore":
        return InMemoryLogStore(os.path.join(self.key, name))

    def _log(self) -> "dict[int, str]":
        return self._registry[self.key]

    def list_versions(self) -> "list[int]":
        with self._lock:
            return sorted(self._log())

    def read(self, version: int) -> dict:
        with self._lock:
            try:
                raw = self._log()[version]
            except KeyError:
                raise FileNotFoundError(
                    f"in-memory log {self.key}: no record {version}"
                ) from None
        return json.loads(raw)

    def put_if_absent(self, version: int, record: dict) -> None:
        raw = json.dumps(record)
        with self._lock:
            if version in self._log():
                raise LogConflict(str(version))
            self._log()[version] = raw

    def replace(self, version: int, record: dict) -> None:
        raw = json.dumps(record)
        with self._lock:
            self._log()[version] = raw

    def delete(self, version: int) -> None:
        with self._lock:
            self._log().pop(version, None)

    @classmethod
    def reset(cls, root: "str | None" = None) -> None:
        """Drop one root's log (or all) — test isolation."""
        with cls._lock:
            if root is None:
                cls._registry.clear()
            else:
                cls._registry.pop(os.path.abspath(root), None)


class S3ObjectLogStore(LogStore):
    """The object-store adapter the seam was built for: commit records
    as ``s3://<bucket>/<prefix>/_log/<v>.json`` objects, uniqueness
    from S3 conditional writes (``If-None-Match: *`` — GA since
    Nov 2024; GCS: ``x-goog-if-generation-match: 0`` behaves
    identically through the same client shape).

    ``client`` is injected and duck-typed to the boto3 S3 client
    surface this class actually uses (``put_object``, ``get_object``,
    ``delete_object``, ``list_objects_v2`` + paginator) — the
    container has no boto3 and no bucket, so the contract is proven
    against an in-repo fake with real 412 semantics
    (tests/test_log_store.py::FakeS3Client) running the same seam
    contract suite as the POSIX/in-memory stores. With a real boto3
    client the behavior notes are:

    - ``put_if_absent``: ``PutObject`` with ``IfNoneMatch="*"`` —
      the 412 ``PreconditionFailed`` is the loser detection. The
      SDK's internal retry can answer 412 from its OWN landed first
      attempt (lost ACK); that is exactly what the engine's
      writer-token recovery absorbs (versioned.py ambiguous-put
      handling), so the adapter reports the conflict honestly and
      never needs to disambiguate itself. Two further real-S3 codes
      are handled here because nothing above the seam should see
      them: **409 ConditionalRequestConflict** — concurrent
      conditional PUTs to the SAME key can race inside S3 and 409
      instead of 412 (AWS documents "retry the request"); the
      adapter re-attempts the conditional PUT a bounded number of
      times, so the retry lands 200 (we won) or 412 (the racer's
      object exists → ``LogConflict``) — a 409 never escapes as a
      raw ClientError past the LogConflict/writer-token machinery.
      **503 SlowDown** (throttling) — retried with exponential
      backoff on every operation; a throttle retry whose first
      attempt actually landed resolves to 412 = the lost-ACK shape
      the writer token already disambiguates.
    - ``replace``: plain ``PutObject`` — S3 PUTs are reader-atomic
      (old or new body, never torn).
    - ``list_versions``: ``ListObjectsV2`` on the ``_log/`` prefix
      (strongly consistent since 2020), paginated. Pages are
      snapshots per call, not per listing — a key published between
      pages can appear or not; callers already treat listings as
      advisory (the CAS put is the authority).
    - ``clean_stale``: no-op — this adapter writes no temp objects.
    """

    #: bounded in-adapter retries for 409 ConditionalRequestConflict
    #: and 503 SlowDown (boto3's own retry layer sits below this —
    #: the belt here keeps the seam's contract airtight even with SDK
    #: retries disabled)
    MAX_RETRIES: int = 5
    #: base backoff seconds between throttle retries (exponential;
    #: tests set 0)
    RETRY_SLEEP: float = 0.05

    def __init__(self, bucket: str, prefix: str, client):
        self.bucket = bucket
        self.prefix = prefix.strip("/")
        self.client = client

    def for_child(self, name: str) -> "S3ObjectLogStore":
        return S3ObjectLogStore(
            self.bucket, f"{self.prefix}/{name}", self.client
        )

    def _call(self, op: str, **kw):
        """Invoke one client op, absorbing bounded throttle faults."""
        return _s3_retry_call(
            self.client, op, self.MAX_RETRIES, self.RETRY_SLEEP, **kw
        )

    def _key(self, version: int) -> str:
        return f"{self.prefix}/_log/{_record_name(version)}"

    def list_versions(self) -> "list[int]":
        out = []
        for obj in _s3_list_objects(
            self.client,
            self.bucket,
            f"{self.prefix}/_log/",
            self.MAX_RETRIES,
            self.RETRY_SLEEP,
        ):
            name = obj["Key"].rsplit("/", 1)[-1]
            if name.endswith(".json"):
                try:
                    out.append(int(name[:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def read(self, version: int) -> dict:
        try:
            resp = self._call(
                "get_object", Bucket=self.bucket, Key=self._key(version)
            )
        except Exception as e:
            if _s3_error_code(e) in ("NoSuchKey", "404"):
                raise FileNotFoundError(self._key(version)) from None
            raise
        return json.loads(resp["Body"].read())

    def put_if_absent(self, version: int, record: dict) -> None:
        body = json.dumps(record).encode()
        for attempt in range(self.MAX_RETRIES + 1):
            try:
                self._call(
                    "put_object",
                    Bucket=self.bucket,
                    Key=self._key(version),
                    Body=body,
                    IfNoneMatch="*",
                )
                return
            except Exception as e:
                code = _s3_error_code(e)
                if code in ("PreconditionFailed", "412"):
                    raise LogConflict(str(version)) from None
                # 409: concurrent conditional PUTs to one key raced
                # inside S3 — neither has won yet. AWS guidance: retry;
                # the re-attempt resolves to 200 (we won) or 412 (the
                # racer landed → honest LogConflict, and if the landed
                # object is OURS the caller's writer-token read-back
                # disambiguates exactly as for a lost ACK).
                if (
                    code != "ConditionalRequestConflict" and code != "409"
                ) or attempt == self.MAX_RETRIES:
                    raise
                if self.RETRY_SLEEP:
                    import time

                    time.sleep(self.RETRY_SLEEP * (2**attempt))

    def replace(self, version: int, record: dict) -> None:
        self._call(
            "put_object",
            Bucket=self.bucket,
            Key=self._key(version),
            Body=json.dumps(record).encode(),
        )

    def delete(self, version: int) -> None:
        self._call(
            "delete_object", Bucket=self.bucket, Key=self._key(version)
        )


def _s3_error_code(e: Exception) -> str:
    """The error code of a botocore ClientError (duck-typed: any
    exception carrying the same ``response`` shape matches)."""
    resp = getattr(e, "response", None)
    if isinstance(resp, dict):
        err = resp.get("Error", {})
        return str(err.get("Code", ""))
    return ""


#: codes AWS documents as retry-the-request transients
_THROTTLE_CODES = (
    "SlowDown",
    "503",
    "RequestTimeout",
    "InternalError",
    "500",
)


def _s3_retry_call(client, op: str, max_retries: int, sleep: float, **kw):
    """One duck-typed S3 client call with bounded exponential-backoff
    retries on the documented transient codes — shared by the record
    adapter (:class:`S3ObjectLogStore`) and the file adapter
    (:class:`S3DataFileStore`) so both seams absorb throttling
    identically."""
    import time

    for attempt in range(max_retries + 1):
        try:
            return getattr(client, op)(**kw)
        except Exception as e:
            if (
                _s3_error_code(e) not in _THROTTLE_CODES
                or attempt == max_retries
            ):
                raise
            if sleep:
                time.sleep(sleep * (2**attempt))


def _s3_list_objects(
    client,
    bucket: str,
    prefix: str,
    max_retries: int,
    sleep: float,
    delimiter: "str | None" = None,
):
    """Yield every ``ListObjectsV2`` entry under ``prefix``, following
    ``ContinuationToken`` pages; each page request absorbs throttles
    through :func:`_s3_retry_call`. The one listing loop of both S3
    adapters. With a ``delimiter`` only the keys directly under
    ``prefix`` are yielded: S3 rolls every deeper key up into one
    ``CommonPrefixes`` entry per subtree, so nothing below is listed."""
    token: "str | None" = None
    while True:
        kw = {"Bucket": bucket, "Prefix": prefix}
        if delimiter:
            kw["Delimiter"] = delimiter
        if token:
            kw["ContinuationToken"] = token
        resp = _s3_retry_call(
            client, "list_objects_v2", max_retries, sleep, **kw
        )
        yield from resp.get("Contents", [])
        if not resp.get("IsTruncated"):
            return
        token = resp.get("NextContinuationToken")


def _epoch(last_modified) -> float:
    """LastModified (a datetime from boto3, an epoch float from a
    fake) → epoch seconds; MISSING is reported as fresh (``inf``) so
    retention can only ever under-reclaim, never wrongly delete."""
    if last_modified is None:
        return float("inf")
    ts = getattr(last_modified, "timestamp", None)
    return ts() if callable(ts) else float(last_modified)


class DataFileStore:
    """The file-plane contract beside :class:`LogStore` (commit
    records). Everything a :class:`VersionedTable` does to data files
    OUTSIDE a Spark job goes through this interface, and so does every
    pointer artifact's payload-dir handling (:class:`DataDirPointer`,
    the training shards, the schema registry's legacy check), so an
    artifact deploys onto an object store by injecting one
    implementation: Spark moves the bytes through whatever
    filesystem its connector mounts at ``uri()`` (s3a on a cluster),
    and the driver-side metadata operations — staged-file adoption,
    footer reads, vacuum's listing/retention/reaping — map exactly as
    SCALE.md's "Data-plane mapping" describes. All paths are
    RELATIVE to the table root (the manifest's own file-name space);
    an entry that is already absolute (a shallow clone's cross-table
    reference) passes through ``uri()`` unchanged.

    No operation here requires atomicity: data files are immutable
    and content-addressed (uuid names), the log's ``put_if_absent``
    is the only commit point, and every delete is advisory (a failed
    or partial sweep leaves re-listable remainders the next sweep
    retries — losing a cleanup race is fine, failing a landed publish
    is not)."""

    def uri(self, rel: str = "") -> str:
        """The Spark-readable/writable location of ``rel`` (a POSIX
        path, an ``s3a://`` URI, …)."""
        raise NotImplementedError

    def parquet_mtimes(self, rel: str = "") -> "dict[str, float]":
        """``{relpath: mtime_epoch}`` of every ``.parquet`` file under
        ``rel`` (default: the table root), excluding files inside
        ``_``/``.``-prefixed directories (the log, in-flight staging
        dirs). One ``ListObjectsV2`` sweep on an object store — the
        per-object ``LastModified`` rides along for free and feeds
        vacuum's retention gate."""
        raise NotImplementedError

    def walk_parquet(self, rel: str = "") -> "list[str]":
        """Sorted ``.parquet`` relpaths under ``rel`` — the listing
        form of :meth:`parquet_mtimes` for callers that don't need
        retention mtimes (legacy adoption, staged-output discovery)."""
        return sorted(self.parquet_mtimes(rel))

    def top_dirs(self, prefixes: tuple) -> "dict[str, float]":
        """``{name: newest_mtime_epoch}`` of the top-level dirs whose
        names start with one of ``prefixes`` — the input of every
        retention sweep (vacuum's ``_staging-*``, a pointer's
        ``data-*``, the training shards' ``shards-*``). Other dirs (a
        ledger's ``_versioned`` table) are never walked; an object
        store lists one ``ListObjectsV2`` prefix per name prefix. The
        NEWEST internal mtime (object store: max ``LastModified``
        under the prefix) is what ages, so an in-flight writer still
        producing files is never reclaimed; a dir that cannot be
        walked reports ``inf`` (alive — never reclaimable this
        sweep)."""
        raise NotImplementedError

    def root_files(self) -> "list[str]":
        """Loose file names directly under the root (the pre-pointer
        legacy-layout detection)."""
        raise NotImplementedError

    def child(self, name: str) -> "DataFileStore":
        """A store of the same kind rooted at ``<root>/<name>`` — what
        a :class:`VersionedTable` living inside a pointer artifact
        (the idempotency ledger's table) injects, so its data files
        stay in the same storage domain as the pointer."""
        raise NotImplementedError

    def move(self, src_rel: str, dst_rel: str) -> None:
        """Adopt one staged file at its final name. POSIX: ``rename``
        (metadata-speed). Object store: server-side ``CopyObject`` +
        ``DeleteObject`` — never data through the driver; a real
        cluster avoids even that by writing direct-to-final-name
        through a cloud committer (uuid part names are already
        collision-free), per SCALE.md."""
        raise NotImplementedError

    def adopt_copy(self, src_rel: str, dst_rel: str) -> None:
        """Alias one existing file under a second name WITHOUT copying
        bytes through the driver (CONVERT adoption of duplicate
        basenames). POSIX: hard link. Object store: server-side
        ``CopyObject``."""
        raise NotImplementedError

    def delete_file(self, rel: str) -> None:
        """Remove one file; missing is success (S3 answers 204 either
        way, and vacuum/discard races resolve in the deleter's favor)."""
        raise NotImplementedError

    def delete_tree(self, rel: str) -> None:
        """Recursively reap one directory/prefix. Partial failure
        leaves a re-listable remainder for the next sweep."""
        raise NotImplementedError

    def prune_empty_dirs(self, rel: str) -> None:
        """Drop now-empty ancestor directories of a just-deleted file
        (hive layouts). Object stores have no empty dirs — no-op."""
        raise NotImplementedError

    def exists(self, rel: str) -> bool:
        raise NotImplementedError

    def file_size(self, rel: str) -> int:
        """One file's size in bytes (POSIX ``stat``; object store:
        the ``Size`` the listing already carries)."""
        raise NotImplementedError

    def open_file(self, rel: str):
        """Binary file-like for driver-side FOOTER reads (stats
        harvest, row counts, DV reference lists) — metadata-sized."""
        raise NotImplementedError

    def parquet_row_count(self, rel: str) -> int:
        """Row count from the parquet footer — a metadata read, no
        scan, no Spark job. Unreadable files PROPAGATE (callers that
        can tolerate absence guard themselves)."""
        import pyarrow.parquet as pq

        fh = self.open_file(rel)
        try:
            return pq.ParquetFile(fh).metadata.num_rows
        finally:
            fh.close()


class PosixDataFileStore(DataFileStore):
    """Local-filesystem data plane — byte-for-byte the layout and
    semantics every existing table already has."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, rel: str) -> str:
        # os.path.join passes absolute entries (shallow-clone refs)
        # through unchanged — the POSIX form of uri() passthrough
        return os.path.join(self.root, rel) if rel else self.root

    def uri(self, rel: str = "") -> str:
        return self._path(rel)

    def parquet_mtimes(self, rel: str = "") -> "dict[str, float]":
        base = self._path(rel)
        out: "dict[str, float]" = {}
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames[:] = [
                d for d in dirnames if not d.startswith(("_", "."))
            ]
            for f in filenames:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(dirpath, f)
                try:
                    out[os.path.relpath(p, base)] = os.path.getmtime(p)
                except OSError:
                    continue  # deleted mid-walk: already gone
        return out

    def top_dirs(self, prefixes: tuple) -> "dict[str, float]":
        # directory mtimes take part, so even an EMPTY crashed-writer
        # dir ages out (object stores have no empty dirs)
        out: "dict[str, float]" = {}
        try:
            names = os.listdir(self.root)
        except OSError:
            return out
        for name in names:
            p = os.path.join(self.root, name)
            if not name.startswith(prefixes) or not os.path.isdir(p):
                continue
            try:
                newest = os.path.getmtime(p)
                for dirpath, _dirs, files in os.walk(p):
                    newest = max(
                        newest,
                        os.path.getmtime(dirpath),
                        *(
                            os.path.getmtime(os.path.join(dirpath, f))
                            for f in files
                        ),
                    )
            except OSError:
                # entries moved mid-walk: an active writer — alive
                newest = float("inf")
            out[name] = newest
        return out

    def root_files(self) -> "list[str]":
        try:
            return [
                f
                for f in os.listdir(self.root)
                if os.path.isfile(os.path.join(self.root, f))
            ]
        except OSError:
            return []

    def child(self, name: str) -> "PosixDataFileStore":
        return PosixDataFileStore(os.path.join(self.root, name))

    def move(self, src_rel: str, dst_rel: str) -> None:
        src, dst = self._path(src_rel), self._path(dst_rel)
        # a concurrent vacuum can rmdir a (momentarily empty) hive
        # partition directory between makedirs and rename — re-create
        # and retry once
        for attempt in (0, 1):
            os.makedirs(os.path.dirname(dst) or self.root, exist_ok=True)
            try:
                os.rename(src, dst)
                return
            except FileNotFoundError:
                if attempt:
                    raise

    def adopt_copy(self, src_rel: str, dst_rel: str) -> None:
        os.link(self._path(src_rel), self._path(dst_rel))

    def delete_file(self, rel: str) -> None:
        try:
            os.remove(self._path(rel))
        except FileNotFoundError:
            pass

    def delete_tree(self, rel: str) -> None:
        import shutil

        shutil.rmtree(self._path(rel), ignore_errors=True)

    def prune_empty_dirs(self, rel: str) -> None:
        # a concurrent writer can repopulate a dir between the listdir
        # check and the rmdir — losing the cleanup race is fine,
        # crashing the sweep is not
        d = os.path.dirname(self._path(rel))
        try:
            while d != self.root and not os.listdir(d):
                os.rmdir(d)
                d = os.path.dirname(d)
        except OSError:
            pass

    def exists(self, rel: str) -> bool:
        return os.path.exists(self._path(rel))

    def file_size(self, rel: str) -> int:
        return os.path.getsize(self._path(rel))

    def open_file(self, rel: str):
        return open(self._path(rel), "rb")


class S3DataFileStore(DataFileStore):
    """Object-store file plane over the same duck-typed boto3 surface
    as the record adapter (``list_objects_v2`` with
    ``LastModified``/``Size``, ``get_object``, ``delete_object``,
    ``copy_object``), sharing their bounded throttle-retry
    discipline. ``uri_base`` defaults to the ``s3a://`` mount a Spark
    cluster reads/writes the same keys through; tests pass the fake
    bucket's local backing path so Spark writes land exactly where
    the (fault-injectable) client lists them.

    Shallow-clone cross-table references (absolute locations) pass
    through ``uri()`` unchanged but have no key form — cloning
    between stores stays a POSIX-deployment feature, exactly like
    hive-partitioned clones are excluded everywhere."""

    MAX_RETRIES: int = 5
    RETRY_SLEEP: float = 0.05

    def __init__(
        self,
        bucket: str,
        prefix: str,
        client,
        uri_base: "str | None" = None,
    ):
        self.bucket = bucket
        self.prefix = prefix.strip("/")
        self.client = client
        self.uri_base = (
            uri_base or f"s3a://{bucket}/{self.prefix}"
        ).rstrip("/")

    def _call(self, op: str, **kw):
        return _s3_retry_call(
            self.client, op, self.MAX_RETRIES, self.RETRY_SLEEP, **kw
        )

    def _key(self, rel: str) -> str:
        return f"{self.prefix}/{rel}" if rel else self.prefix

    def uri(self, rel: str = "") -> str:
        if rel and ("://" in rel or rel.startswith("/")):
            return rel  # absolute cross-table reference
        return self.uri_base if not rel else f"{self.uri_base}/{rel}"

    def _objects(self, prefix: str, delimiter: "str | None" = None):
        return _s3_list_objects(
            self.client,
            self.bucket,
            prefix,
            self.MAX_RETRIES,
            self.RETRY_SLEEP,
            delimiter,
        )

    def _list(
        self,
        rel: str = "",
        name_prefix: str = "",
        delimiter: "str | None" = None,
    ):
        """Yield ``(relpath, mtime_epoch, size)`` for every object
        under ``rel`` whose relpath starts with ``name_prefix``
        (relpaths relative to ``rel``; only the top level with a
        ``delimiter``)."""
        base = f"{self._key(rel)}/"
        for obj in self._objects(base + name_prefix, delimiter):
            yield (
                obj["Key"][len(base):],
                _epoch(obj.get("LastModified")),
                int(obj.get("Size", 0)),
            )

    def parquet_mtimes(self, rel: str = "") -> "dict[str, float]":
        out: "dict[str, float]" = {}
        for relpath, mtime, _size in self._list(rel):
            parts = relpath.split("/")
            if any(s.startswith(("_", ".")) for s in parts[:-1]):
                continue
            if parts[-1].endswith(".parquet"):
                out[relpath] = mtime
        return out

    def top_dirs(self, prefixes: tuple) -> "dict[str, float]":
        out: "dict[str, float]" = {}
        for p in prefixes:
            for relpath, mtime, _size in self._list(name_prefix=p):
                if "/" not in relpath:
                    continue  # a loose file, not a dir
                top = relpath.split("/", 1)[0]
                out[top] = max(out.get(top, 0.0), mtime)
        return out

    def root_files(self) -> "list[str]":
        # Delimiter="/": the ledger's _versioned table and _log
        # records roll up into CommonPrefixes instead of being listed
        return [r for r, _m, _s in self._list(delimiter="/")]

    def child(self, name: str) -> "S3DataFileStore":
        return S3DataFileStore(
            self.bucket,
            self._key(name),
            self.client,
            uri_base=self.uri(name),
        )

    def move(self, src_rel: str, dst_rel: str) -> None:
        self.adopt_copy(src_rel, dst_rel)
        self.delete_file(src_rel)

    def adopt_copy(self, src_rel: str, dst_rel: str) -> None:
        self._call(
            "copy_object",
            Bucket=self.bucket,
            Key=self._key(dst_rel),
            CopySource={"Bucket": self.bucket, "Key": self._key(src_rel)},
        )

    def delete_file(self, rel: str) -> None:
        self._call(
            "delete_object", Bucket=self.bucket, Key=self._key(rel)
        )

    def delete_tree(self, rel: str) -> None:
        keys = [f"{self._key(rel)}/{r}" for r, _m, _s in self._list(rel)]
        for key in keys:
            self._call("delete_object", Bucket=self.bucket, Key=key)

    def prune_empty_dirs(self, rel: str) -> None:
        pass  # object stores have no empty dirs

    def _stat(self, rel: str) -> "tuple[float, int] | None":
        """Exact-key (mtime, size) via a prefix listing — the fake and
        real S3 both answer exact prefixes cheaply; no head_object in
        the duck-typed surface."""
        key = self._key(rel)
        for obj in self._objects(key):
            if obj["Key"] == key:
                return _epoch(obj.get("LastModified")), int(obj.get("Size", 0))
        return None

    def exists(self, rel: str) -> bool:
        return self._stat(rel) is not None

    def file_size(self, rel: str) -> int:
        st = self._stat(rel)
        if st is None:
            raise FileNotFoundError(self._key(rel))
        return st[1]

    def open_file(self, rel: str):
        import io

        try:
            resp = self._call(
                "get_object", Bucket=self.bucket, Key=self._key(rel)
            )
        except Exception as e:
            if _s3_error_code(e) in ("NoSuchKey", "404"):
                raise FileNotFoundError(self._key(rel)) from None
            raise
        return io.BytesIO(resp["Body"].read())


class PointerSlot:
    """A single named atomic WRITE-ONCE record on a :class:`LogStore`
    — the publish primitive for the engine's one-shot artifacts (the
    ingest app nonce, the training-shard manifest):

    - ``create(record)`` — publish once, exclusively
      (:class:`LogConflict` when a record already exists: the caller
      lost a write-once race, e.g. two training-shard exports).
    - ``get()`` — the record, or ``None`` before ``create``.

    The slot is version ``0`` of an ordinary log, so every store
    implementation (POSIX link, S3 If-None-Match, DynamoDB
    conditional put, the in-memory prover) serves it unchanged.

    There is deliberately NO ``set``: a blind overwrite primitive is
    a silent-lost-update in waiting (two dispatchers last-writer-wins
    each other). Mutable pointers go through :class:`DataDirPointer`,
    whose flips are compare-and-swapped on the version the writer
    read, so a concurrent writer FAILS LOUDLY
    (:class:`PointerConflict`) instead of losing rows.
    """

    SLOT = 0

    def __init__(self, store: LogStore):
        self.store = store

    def create(self, record: dict) -> None:
        self.store.put_if_absent(self.SLOT, record)

    def get(self) -> "dict | None":
        try:
            return self.store.read(self.SLOT)
        except FileNotFoundError:
            return None


class DataDirPointer:
    """Pointer-flip publish for directory-shaped payloads (the
    watermark's single-row parquet, an unconverted idempotency
    ledger's parquet):
    ``flip(write_fn)`` writes the new payload under a fresh unique
    ``data-<uuid>`` dir (write-direct-to-final-name — no rename on
    the data plane), then atomically publishes a pointer record at
    it. Readers resolve ``current_path`` first, so they see the old
    payload or the new one, never a mix.

    The pointer is a growing LOG of records (``{"data_dir": <name>}``
    at versions 0, 1, 2, …), and every flip is a COMPARE-AND-SWAP:
    ``put_if_absent`` at ``observed latest + 1``. A writer that read
    version N and tries to publish N+1 after another writer already
    did LOSES LOUDLY (:class:`PointerConflict`) — never last-writer-
    wins, so two concurrent dispatchers can never silently drop one
    side's rows (the failure the reference's Postgres ``UNIQUE``
    constraint guarded, dag_bakery_system_to_jde.py:38-59). The
    unique data-dir name doubles as the writer token: a lost-ACK
    conflict (the put landed, the store reported failure) is
    recognized by reading the record back, exactly the versioned
    table's ambiguous-put recovery.

    Superseded payload dirs are NOT reaped at flip time — a reader
    holding a lazy DataFrame bound to the old dir must be able to
    materialize it after the flip. They age out through
    ``clean_stale``'s retention window, the same discipline as the
    versioned table's staging sweep; every successful flip runs that
    sweep opportunistically (``auto_reclaim_seconds``, default 1 h —
    set ``None`` to leave reclamation entirely to an external
    schedule), so a steady-state pipeline's superseded dirs stay
    bounded by flips-per-retention-window without any operator
    action. The winner also trims superseded pointer RECORDS —
    keeping its own CAS anchor (``new_version - 1``): a concurrent
    writer whose put at that version landed but lost its ACK must
    still find its record on read-back, so trimming the anchor would
    widen the misclassification window to a single intervening flip.
    Record trims are ADVISORY: a failed delete (object-store
    throttle, missing permission) never fails a publish that already
    landed — the next flip or sweep retries it.

    ``require_migrated`` raises on a PRE-seam layout (payload files
    directly under the root with no pointer record): silently
    treating legacy data as "empty" would, e.g., re-dispatch every
    transaction an old ledger had marked done. A round-10 layout
    (one record at version 0 published by replace) reads and flips
    unchanged — the CAS just starts appending at version 1."""

    #: bounded re-list attempts when the latest record is trimmed
    #: between ``list_versions`` and ``read`` (a concurrent winner's
    #: record trim) — each retry re-resolves latest, so one retry
    #: per intervening flip suffices
    READ_RETRIES: int = 5

    def __init__(
        self,
        root: str,
        store: LogStore,
        auto_reclaim_seconds: "float | None" = 3600.0,
        payloads: "DataFileStore | None" = None,
    ):
        self.root = root
        self.store = store
        self.payloads = payloads or PosixDataFileStore(root)
        self.auto_reclaim_seconds = auto_reclaim_seconds

    def latest(self) -> "tuple[int, dict] | tuple[None, None]":
        """(version, record) of the current pointer — the CAS anchor
        a writer must pass back to ``flip`` as ``expected`` so the
        swap is against the state it READ, not the state at publish
        time."""
        for _ in range(self.READ_RETRIES + 1):
            versions = self.store.list_versions()
            if not versions:
                return None, None
            v = versions[-1]
            try:
                return v, self.store.read(v)
            except FileNotFoundError:
                continue  # trimmed between list and read: re-resolve
        raise RuntimeError(
            f"{self.root}: pointer log churned through "
            f"{self.READ_RETRIES + 1} re-reads — pathological flip "
            "contention or a store listing newer than its reads"
        )

    def current(self) -> "str | None":
        """The current data dir name, or ``None`` before the first
        flip — and also ``None`` when the latest record is not
        dir-shaped (a consumer-level marker like the ledger's
        versioned-backend handoff record): such a record supersedes
        every data dir, so they all become ``clean_stale``-reclaimable."""
        _, rec = self.latest()
        return rec.get("data_dir") if rec else None

    def current_path(self) -> "str | None":
        d = self.current()
        return None if d is None else self.payloads.uri(d)

    def path_of(self, name: str) -> str:
        """The Spark-readable/writable location of one payload dir."""
        return self.payloads.uri(name)

    def require_migrated(self, what: str) -> None:
        if self.latest()[0] is not None:
            return
        legacy = any(
            f.endswith(".parquet") for f in self.payloads.root_files()
        )
        if legacy:
            raise RuntimeError(
                f"{self.root}: found a pre-pointer {what} layout "
                "(parquet files at the root, no _log pointer). "
                "Refusing to treat existing data as empty — migrate "
                "by moving the parquet files into a data-<uuid> "
                "subdirectory and publishing a pointer record "
                '{"data_dir": "<that name>"} at log version 0.'
            )

    _UNANCHORED = object()  # sentinel: snapshot latest inside flip

    def flip(self, write_fn, expected=_UNANCHORED) -> str:
        """``write_fn(abs_path)`` materializes the new payload at the
        given (not-yet-existing) directory path; then ONE CAS'd record
        publish makes it current.

        ``expected`` anchors the swap: the pointer version this
        writer's read state came from (``latest()[0]``; ``None`` for
        "no pointer yet"). Passing it is what makes read-modify-write
        callers (the watermark's advance) serializable — a flip that
        lands after an intervening publish raises
        :class:`PointerConflict` instead of silently discarding the
        intervening writer's state.
        Left unanchored, the flip snapshots latest itself (correct
        only for payloads that don't derive from the previous one).
        """
        if expected is self._UNANCHORED:
            expected, _ = self.latest()
        name = f"data-{uuid.uuid4().hex}"
        write_fn(self.payloads.uri(name))
        self.publish_record(
            {"data_dir": name},
            expected,
            is_ours=lambda rec: rec.get("data_dir") == name,
        )
        if self.auto_reclaim_seconds is not None:
            try:
                self.clean_stale(self.auto_reclaim_seconds)
            except Exception:  # noqa: BLE001 — reclamation is advisory
                pass  # a failed sweep never fails a landed publish
        return name

    def publish_record(self, record: dict, expected, is_ours) -> int:
        """CAS-publish ``record`` at ``expected + 1`` — the one
        audited publish path shared by ``flip`` and consumer-level
        marker records (the ledger's versioned-backend handoff).
        ``is_ours(landed)`` classifies the record found at the
        contested version on a reported conflict: True = this
        writer's own put landed and only the ACK was lost (success);
        False = a competitor won (:class:`PointerConflict`).

        The conflict may be SPURIOUS in one narrow interleaving: this
        writer's put landed, then two or more subsequent flips
        published AND trimmed it before the read-back (the trim below
        keeps one superseded record — the CAS anchor — exactly so a
        single intervening flip cannot cause this). Callers must
        treat PointerConflict as "re-read and re-derive", which is
        idempotent-safe even when the lost publish actually landed:
        the re-derived state is computed from a successor of it.

        Superseded records older than the kept anchor are trimmed
        ADVISORILY — a failed delete never fails a publish that
        already landed; the next publish or ``clean_stale`` retries.
        """
        new_version = 0 if expected is None else expected + 1
        try:
            self.store.put_if_absent(new_version, record)
        except LogConflict:
            try:
                landed = self.store.read(new_version)
            except FileNotFoundError:
                landed = None
            if landed is None or not is_ours(landed):
                raise PointerConflict(
                    f"{self.root}: pointer moved past version "
                    f"{expected} before this publish landed — "
                    "another writer won; re-read current state and "
                    "re-derive (idempotent-safe; any orphaned payload "
                    "dir is reclaimed by clean_stale)"
                ) from None
        # Trims and their policing are a PAIR gated on listing
        # consistency: on a store whose listing may lag, we never
        # trim, so a stale CAS always finds the still-present record
        # and conflicts loudly — no holes, no reliance on listings.
        if not getattr(self.store, "supports_consistent_listing", True):
            return new_version
        versions = self.store.list_versions()
        # Staleness check AFTER the put: record trims leave HOLES
        # below the max (the anchor-keeping trim deletes expected-1
        # and older), so a writer stale by >= 3 intervening flips can
        # put_if_absent into a reclaimed slot BELOW the current
        # pointer — the put "succeeds" but readers resolve MAX, so the
        # record never becomes current and its payload would be
        # silently lost. Any version above ours at this point means
        # either exactly that (stale publish into a hole), or a
        # legitimate win already superseded by a writer that anchored
        # on us — indistinguishable here, and re-deriving is correct
        # for both (idempotent upsert over a state that either misses
        # our rows or already incorporates them). Loud, never silent.
        if any(v > new_version for v in versions):
            raise PointerConflict(
                f"{self.root}: a newer pointer version exists above "
                f"this publish at {new_version} — re-read and "
                "re-derive (idempotent-safe; the conflict may be "
                "spurious if a racing writer already anchored on this "
                "publish, in which case re-deriving is a no-op)"
            )
        for v in versions:
            if v < new_version - 1:  # keep the CAS anchor (see above)
                try:
                    self.store.delete(v)
                except Exception:  # noqa: BLE001 — trim is advisory
                    continue
        return new_version

    def clean_stale(self, retention_seconds: float = 3600.0) -> list:
        """Reclaim unreferenced ``data-*`` dirs: payloads SUPERSEDED
        by later flips (left in place so lazy readers bound to them
        still materialize) and orphans of writers that died between
        the payload write and the pointer flip — the same discipline
        as the versioned table's staging sweep: unreferenced dirs are
        deleted only past the retention window (judged on the NEWEST
        mtime inside, so an in-flight flip is never reclaimed), and
        the pointer is re-read right before each delete so a flip
        landing mid-sweep keeps its payload. Superseded pointer
        RECORDS leaked by a crash between a winning put and its trim
        are also dropped. Returns removed payload locations.

        The payload walk goes through the :class:`DataFileStore` seam
        (``top_dirs(("data-",))`` = a listing of the ``data-*`` dirs
        only, with per-object mtimes, so a converted ledger's
        ``_versioned`` table is never walked; ``delete_tree`` = prefix
        reap), so the same sweep runs against a bucket exactly as
        against POSIX. Every file-plane step
        is ADVISORY: a throttled listing or a failed delete never
        fails the sweep's caller (the next flip or sweep retries) —
        a reclaim can only ever be deferred, never forced."""
        import time

        removed = []
        latest_v, _ = self.latest()
        if latest_v is not None and getattr(
            self.store, "supports_consistent_listing", True
        ):
            for v in self.store.list_versions():
                # keep the newest record's CAS anchor too — an
                # in-flight writer's lost-ACK read-back at that
                # version must still find its record. Gated on
                # listing consistency like publish_record's trim:
                # no trims -> no holes on lag-listing stores.
                if v < latest_v - 1:
                    try:
                        self.store.delete(v)
                    except Exception:  # noqa: BLE001 — trim is advisory
                        continue
        cutoff = time.time() - retention_seconds
        try:
            dirs = self.payloads.top_dirs(("data-",))
        except Exception:  # noqa: BLE001 — the sweep is advisory
            return removed  # throttled listing: reclaim next sweep
        for name in sorted(dirs):
            if dirs[name] > cutoff:
                continue
            if self.current() == name:  # re-read: authoritative
                continue
            try:
                self.payloads.delete_tree(name)
            except Exception:  # noqa: BLE001 — the reap is advisory
                continue  # partial deletes re-list and retry next sweep
            removed.append(self.payloads.uri(name))
        return removed


class LostAckStore(LogStore):
    """Fault-injection wrapper: every ``put_if_absent`` LANDS in the
    wrapped store, then reports :class:`LogConflict` anyway — the
    object-store lost-ACK failure mode (an adapter's internal retry
    answering "already exists" from its own earlier successful
    write). ``fire_every`` narrows the fault to every Nth put
    (default 1 = every put); all other primitives pass through.

    With writer-token recovery (versioned.py ambiguous-put handling)
    every publish must still complete exactly-once under this store —
    tests/test_conflicts.py runs its matrix once with it wrapped
    around each real store.
    """

    def __init__(self, inner: LogStore, fire_every: int = 1):
        self.inner = inner
        self.fire_every = fire_every
        self._puts = 0

    def for_child(self, name: str) -> "LostAckStore":
        # the child inherits the fault injection (fresh put counter)
        return LostAckStore(self.inner.for_child(name), self.fire_every)

    def list_versions(self) -> "list[int]":
        return self.inner.list_versions()

    def read(self, version: int) -> dict:
        return self.inner.read(version)

    def put_if_absent(self, version: int, record: dict) -> None:
        self.inner.put_if_absent(version, record)
        self._puts += 1
        if self._puts % self.fire_every == 0:
            raise LogConflict(f"{version} (injected lost ACK)")

    def replace(self, version: int, record: dict) -> None:
        self.inner.replace(version, record)

    def delete(self, version: int) -> None:
        self.inner.delete(version)

    def clean_stale(self, cutoff_epoch: float) -> None:
        self.inner.clean_stale(cutoff_epoch)
