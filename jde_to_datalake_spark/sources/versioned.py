"""Versioned parquet table — a transaction-log lake format in miniature.

The environment has no delta-spark, but the reference's lake needs
what a log-structured table format provides: atomic commits, readable
history, time travel, and upserts that readers never observe
half-applied (the reference approximates this with dated dispatch
snapshots at backend/s3_helper.py:45 and a Postgres ledger at
dag_bakery_system_to_jde.py:38-59). This module implements the core
of the public Delta Lake design — an ordered JSON transaction log
naming immutable parquet data files — with single-table scope:

    <root>/_log/00000000000.json   one commit record per version:
                                   delta actions + periodic checkpoint
    <root>/part-<uuid>.parquet     immutable data files

- ``commit(df, mode)``  append | overwrite; data files are written
  FIRST, then the manifest is published with an O_EXCL create —
  readers either see the old version or the new one, never a mix.
  Concurrent writers race on the manifest create; the loser gets
  ``ConcurrentCommitError``. Read-modify-write callers (``merge``,
  ``compact``) additionally pin ``expected_base`` to the version they
  read, so a commit landing in between FAILS the upsert instead of
  being silently overwritten — Delta's stale-read-snapshot conflict
  rule, both halves (optimistic concurrency, as in Delta).
- ``read(version=...)``  latest by default; any historical version
  while its files remain (time travel).
- ``merge(updates, key)``  keyed upsert as a PARTIAL file rewrite:
  footer stats decide which files can hold a batch key; untouched
  files are carried by reference, touched ones are anti-joined and
  rewritten. MERGE semantics with full history retained.
- ``history()`` / ``vacuum(keep_last)``  audit log; physical removal
  of files unreferenced by retained versions.
- ``delete_where(predicate)``  row-level DELETE as a deletion-vector
  sidecar (no data file rewritten; O(matching rows) commit); readers
  apply tombstones with a broadcast anti-join on the public
  (``_metadata.file_name``, ``_metadata.row_index``) row identity;
  ``compact`` materializes them.
- ``read_changes(v_from, v_to, key=...)``  NET row-level change feed
  from the manifest diff — carried files are never scanned, so CDC
  between snapshots costs O(changed data), not O(table).

Scale: a commit manifest lists file PATHS (metadata, not data); reads
plan a normal parquet scan over the listed files, so partition-width
parallelism, pushdown, and column pruning are unchanged.

Log format (Delta's actual design, adopted round 7): each commit
writes a DELTA record — the files/DV sidecars added and removed, the
new files' footer stats, this commit's txn stamps, and any schema-
metadata change — so commit metadata is O(changed files), never
O(table); every ``CHECKPOINT_INTERVAL`` commits (and always at version
0) the record additionally embeds a CHECKPOINT: the full reconstructed
table state. Writer and reader share ONE fold: the writer builds only
the delta record and derives its new state with
``_apply_commit_record`` — the same step ``_manifest(v)`` replays to
rebuild a version from the nearest checkpoint at-or-below it plus the
delta tail (bounded by the interval) — so the published state and
every replay of it cannot disagree. ``commit_delta(v)`` exposes the
per-commit change summary directly — what the streaming source plans
from, reading O(span x changed) instead of O(span x files), and what
commit reconciliation checks. A continuous 5-minute
append cadence (the reference's own, dag_bakery_system_to_jde.py:449)
therefore writes a few hundred bytes per cycle regardless of how many
files the table has accumulated. Pre-delta manifests (a full state
per commit) are still read transparently as self-checkpoints.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import os
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from jde_to_datalake_spark.sources.log_store import (
    DataFileStore,
    LogConflict,
    LogStore,
    PosixDataFileStore,
    PosixLogStore,
)


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first (optimistic loser)."""


def _retry_on_conflict(retries: int, attempt_once, *args):
    """``attempt_once(*args)``, re-run against the fresh snapshot up
    to ``retries`` more times while it loses a race
    (``ConcurrentCommitError``) — Delta's optimistic-conflict retry.
    Safe because a losing publish commits nothing (its staged files
    are orphans ``vacuum`` reclaims) and every attempt re-reads the
    latest version. ``retries=0`` is the fail-loudly contract for
    callers that coordinate writers themselves."""
    attempt = 0
    while True:
        try:
            return attempt_once(*args)
        except ConcurrentCommitError:
            attempt += 1
            if attempt > retries:
                raise


class CommitOwnershipUnknown(RuntimeError):
    """``put_if_absent`` reported a conflict but the record at that
    version could not be read back (store read errors persisting
    through bounded retries — e.g. a vacuum race or a transient
    object-store fault). Deliberately NOT a ``ConcurrentCommitError``:
    the publish may have LANDED, so reconciling (re-basing and
    republishing the same staged files) could double-apply rows.
    Callers must re-check table state — e.g. compare
    ``latest_version``/row counts or retry the whole operation through
    an idempotent path (txn app-id) — before re-driving the write."""


class _KeyedBatch(NamedTuple):
    """What a keyed writer knows about its batch before staging
    (``VersionedTable._probe_batch``)."""

    prev: "int | None"  # the version read; the publish's expected base
    manifest: "dict | None"  # prev's manifest (None: no table yet)
    guard: Row  # n_groups, max_n, any_match, kmin_<k>/kmax_<k>
    keys: "list[str]"  # PHYSICAL key names
    touched: "list[str] | None"  # files that can hold a batch key
    untouched: "list[str] | None"  # files carried by reference
    read_ranges: "dict | None"  # the batch's key envelope


# publish(expected_base=...) sentinel: None is a meaningful expectation
# ("I read an empty table"), so absence needs its own marker
_UNSET = object()

# Table-level metadata: a commit record sets one as ``set_<key>`` and
# every later state inherits it until another commit sets it again.
# ``partition_types`` is pinned together with the layout it types, so
# it is no change of its own: ``commit_delta``'s ``metadata_changed``
# reads the other five.
_TABLE_METADATA_KEYS = (
    "partitioned_by",
    "partition_types",
    "column_renames",
    "dropped_columns",
    "constraints",
    "generated_columns",
)
_CONFLICT_METADATA_KEYS = tuple(
    k for k in _TABLE_METADATA_KEYS if k != "partition_types"
)
# keys of a reconstructed state that commit annotations may not shadow
_STATE_KEYS = frozenset(
    ("version", "mode", "files", "stats", "committed_at", "dv_files",
     "dv_refs", "txns") + _TABLE_METADATA_KEYS
)


class AuditFailure(RuntimeError):
    """A write-audit-publish batch failed its quality checks.

    ``failures`` holds the failing expectation rows (name, column,
    n_failed, ...); the staged files were discarded."""

    def __init__(self, failures: list[dict]):
        super().__init__(
            f"{len(failures)} quality check(s) failed: "
            + ", ".join(str(f.get("check_name", f)) for f in failures[:5])
        )
        self.failures = failures


_B16 = "b16:"  # tag for hex-encoded BINARY stats (order-preserving)


def _footer_stats(source) -> dict:
    """Per-column [min, max] for one parquet file, from row-group
    footer statistics — JSON-storable types only (int/float/str; byte
    stats are stored as tagged order-preserving hex, see below).
    Columns with missing or non-storable stats are omitted, which
    readers treat as "cannot prune" — always conservative. ``source``
    is a path or a binary file-like from ``DataFileStore.open_file``
    (closed here; the footer thrift is fully parsed before the
    close)."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(source).metadata
    except Exception:
        return {}
    finally:
        close = getattr(source, "close", None)
        if close is not None:
            close()
    out: dict = {}
    poisoned: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name in poisoned:
                continue
            try:
                # pyarrow RAISES (not returns-None) at several points
                # for types without extractable stats — list columns
                # on .statistics, decimal columns on .min/.max
                st = col.statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no min/max")
                mn, mx = st.min, st.max
            except Exception:
                poisoned.add(name)
                out.pop(name, None)
                continue
            if isinstance(mn, bytes):
                # BINARY column (pyarrow yields str for String-logical
                # columns, bytes only for true binary — verified on
                # Spark-written files): store an ORDER-PRESERVING hex
                # encoding with a format tag. Hex is order-isomorphic
                # to unsigned byte order (the nibble -> hex-char map is
                # monotone and prefix semantics match), so range/point
                # probes compare correctly after the same encoding in
                # _stat_probe_value. Round 13: this is what lets the
                # binary band/fingerprint index artifacts keep min/max
                # file pruning (the previous decode-as-UTF-8 fallback
                # poisoned the column for any real digest bytes).
                mn, mx = _B16 + mn.hex(), _B16 + mx.hex()
            if isinstance(mn, (_dt.date, _dt.datetime)):
                # DATE/TIMESTAMP stats stored as CANONICAL ISO-8601
                # strings (aware values -> UTC, tz stripped):
                # lexicographic order == chronological order (a bare
                # date is a prefix of its own midnight timestamp and
                # sorts first, which is exactly "earliest that day"),
                # so range/point probes compare correctly after the
                # same normalization (_stat_probe_value)
                mn, mx = _iso_naive_utc(mn), _iso_naive_utc(mx)
            if not isinstance(mn, (int, float, str)) or isinstance(mn, bool):
                poisoned.add(name)
                out.pop(name, None)
                continue
            if name in out:
                out[name] = [min(out[name][0], mn), max(out[name][1], mx)]
            else:
                out[name] = [mn, mx]
    return out


def _iso_naive_utc(v) -> str:
    """ISO-8601 string for a date/datetime, timezone-aware values
    first converted to UTC and stripped — one canonical textual form,
    so lexicographic comparison equals chronological comparison across
    stored stats and probe bounds (naive values are taken as UTC,
    matching the engine's UTC-container posture)."""
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v.isoformat()


def _validate_partition_cols(cols) -> list:
    """Partition column names become directory-name prefixes; Spark's
    file listing (and this table's own staging walk) treats ``_``/
    ``.``-prefixed paths as hidden artifacts, so such names would make
    every written file silently invisible. Reject them up front."""
    import re as _re

    out = list(cols)
    for c in out:
        if not _re.fullmatch(r"[A-Za-z][A-Za-z0-9_]*", str(c)):
            raise ValueError(
                f"partition column {c!r}: names must start with a "
                "letter (hidden-path conventions make '_'/'.'-prefixed "
                "directories invisible to parquet readers)"
            )
    return out


def _parse_partition_value(s: str):
    """Decode one hive ``k=v`` directory value the way Spark's
    partition discovery does: URL-unescape, ``__HIVE_DEFAULT_PARTITION__``
    is NULL, and numerics parse (int, then float) so footer-stat
    comparisons stay numeric; everything else stays a string."""
    from urllib.parse import unquote

    s = unquote(s)
    if s == "__HIVE_DEFAULT_PARTITION__":
        return None
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        pass
    return s


def _path_partitions(relpath: str) -> dict:
    """``{column: value}`` parsed from a file's hive-style directory
    segments (``year=2024/month=06/part-x.parquet`` ->
    ``{"year": 2024, "month": 6}``). Empty for flat paths."""
    out: dict = {}
    d = os.path.dirname(relpath)
    if not d:
        return out
    for seg in d.replace("\\", "/").split("/"):
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k:
                out[k] = _parse_partition_value(v)
    return out


def _widest_partition_ddl(values) -> str:
    """Widest Spark DDL type covering every parsed hive partition
    value in ``values`` — the PINNED type recorded in the manifest so
    batch reads, the Arrow stream reader, and CDF all surface the
    SAME schema (Spark's per-read inference and a path-value sniff
    can otherwise disagree: int vs bigint, date vs string). Mirrors
    Spark's partition-column inference lattice: int (fits 32-bit) →
    bigint → double → date (all ISO dates) → string; all-NULL columns
    pin string (Spark's own fallback for undecidable columns)."""
    non_null = [v for v in values if v is not None]
    if not non_null:
        return "string"
    if all(isinstance(v, int) and not isinstance(v, bool) for v in non_null):
        if all(-(2**31) <= v < 2**31 for v in non_null):
            return "int"
        return "bigint"
    if all(
        isinstance(v, (int, float)) and not isinstance(v, bool)
        for v in non_null
    ):
        return "double"
    if all(isinstance(v, str) for v in non_null):
        try:
            for v in non_null:
                _dt.date.fromisoformat(v)
            return "date"
        except ValueError:
            pass
        return "string"
    return "string"


def _stat_probe_value(v):
    """Normalize a skipping probe bound/value to the form footer
    stats are stored in: DATE/TIMESTAMP become canonical ISO-8601
    strings, BINARY values the tagged order-preserving hex form (see
    _footer_stats) so comparisons stay chronological / bytewise;
    everything else passes through."""
    if isinstance(v, (_dt.date, _dt.datetime)):
        return _iso_naive_utc(v)
    if isinstance(v, (bytes, bytearray)):
        return _B16 + bytes(v).hex()
    return v


def _stat_excludes(stat, lower=None, upper=None, values=None) -> bool:
    """Does a file's footer ``stat`` (``[min, max]`` of one column)
    prove the file holds no probed value: none in ``[lower, upper]``
    (``None`` = unbounded), or, given a sorted ``values`` list, none
    of those? Probes are in stored-stat form (``_stat_probe_value``).
    A missing stat or incomparable types (``TypeError``) prove
    nothing: the file is kept. The one overlap test behind
    ``files_for_range``, ``files_for_values`` and commit
    reconciliation."""
    if stat is None:
        return False
    mn, mx = stat
    try:
        if values is not None:
            # the smallest probe value >= min is the only candidate
            i = bisect.bisect_left(values, mn)
            if i == len(values):
                return True
            lower = upper = values[i]
        return (lower is not None and mx < lower) or (
            upper is not None and mn > upper
        )
    except TypeError:
        return False


def _b16_decode(v: str) -> bytes:
    """The bytes a ``b16:``-tagged BINARY stat encodes."""
    return bytes.fromhex(v[len(_B16):])


def _dv_referenced_files(source) -> "list[str] | None":
    """Distinct data-file basenames a deletion-vector sidecar
    tombstones — one metadata-sized column read (the sidecar holds
    (file, pos) rows and is tiny relative to the table). None when the
    sidecar cannot be read, which readers treat as "keep it".
    ``source`` is a path or a file-like (closed here)."""
    try:
        import pyarrow.parquet as pq

        t = pq.read_table(source, columns=["file"])
        return sorted(set(t.column("file").to_pylist()))
    except Exception:
        return None
    finally:
        close = getattr(source, "close", None)
        if close is not None:
            close()


def _dv_live_rows(source, live_bases: set) -> int:
    """How many tombstone rows of a deletion-vector sidecar aim at a
    file in ``live_bases`` — one metadata-sized column read.

    A corrupt or unreadable sidecar PROPAGATES: silently treating it
    as zero tombstones would make ``detail()`` report an inflated
    ``n_rows`` on a damaged table instead of surfacing the problem
    (``read()`` would fail on the same sidecar anyway)."""
    import pyarrow.parquet as pq

    try:
        t = pq.read_table(source, columns=["file"])
    finally:
        close = getattr(source, "close", None)
        if close is not None:
            close()
    return sum(1 for f in t.column("file").to_pylist() if f in live_bases)


def _txn_pairs(txn) -> "list[tuple[str, int]]":
    """Normalize the ``txn`` argument: None, one (app_id, version)
    pair, or a list of pairs (Delta's multiple-setTransaction form)."""
    if txn is None:
        return []
    if isinstance(txn, tuple) and len(txn) == 2 and not isinstance(
        txn[0], tuple
    ):
        return [txn]
    return list(txn)


def _to_epoch_seconds(v) -> float:
    """Normalize a user-supplied instant to epoch seconds (the unit
    commit records store). Naive datetimes / ISO strings are UTC —
    the log stamps with ``time.time()``, so a local-time guess would
    silently shift history by the host's offset."""
    if isinstance(v, bool):
        raise TypeError(f"not a timestamp: {v!r}")
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        v = _dt.datetime.fromisoformat(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return v.timestamp()
    raise TypeError(
        f"timestamp must be epoch seconds, datetime, or ISO string; "
        f"got {type(v).__name__}"
    )


def _expr_references(expr_sql: str, name: str) -> bool:
    """Conservative check: does a stored SQL expression reference the
    column ``name``? Word-bounded match, backtick-quoted or bare."""
    import re as _re

    pat = rf"(?<![A-Za-z0-9_])`?{_re.escape(name)}`?(?![A-Za-z0-9_])"
    return _re.search(pat, expr_sql) is not None


def _log_dir(root: str) -> str:
    return os.path.join(root, "_log")


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:011d}.json")


class VersionedTable:
    #: how long an idle writer app's idempotent-txn record is retained
    #: in the manifest map (Delta's setTransaction retention). Entries
    #: older than this are pruned at the next publish: the map stays
    #: bounded by the number of RECENTLY-active writer apps instead of
    #: growing one entry per checkpoint lineage ever used. A writer
    #: idle longer than the window loses replay protection for its
    #: in-flight batch — the same documented trade Delta makes.
    TXN_RETENTION_SECONDS: float = 30 * 24 * 3600.0

    #: per-instance RECONSTRUCTED-state cache size — commit records are
    #: IMMUTABLE once published (vacuum deletes or checkpoint-augments,
    #: never changes meaning), so caching is safe; the LRU holds full
    #: table states keyed by version, which also bounds the delta-tail
    #: replay: a walk back to the nearest checkpoint caches every
    #: intermediate state it rebuilds
    MANIFEST_CACHE_SIZE: int = 16

    #: how often a commit record embeds a full-state CHECKPOINT.
    #: Between checkpoints each commit is a delta record (O(changed
    #: files) bytes); reconstruction replays at most this many deltas.
    #: Delta's own log uses the same structure (JSON actions + a
    #: checkpoint every N commits).
    CHECKPOINT_INTERVAL: int = 10

    #: how many consecutive lost races publish() will reconcile and
    #: re-base across before giving up — each retry is metadata-only
    #: (delta-record reads + one link attempt), so this bounds driver
    #: work under pathological contention, not normal operation
    MAX_RECONCILE: int = 5

    def __init__(
        self,
        root: str,
        txn_retention_seconds: float | None = None,
        log_store: "LogStore | None" = None,
        data_store: "DataFileStore | None" = None,
    ):
        self.root = root
        self.txn_retention_seconds = (
            self.TXN_RETENTION_SECONDS
            if txn_retention_seconds is None
            else txn_retention_seconds
        )
        self._manifest_cache: "dict[int, dict]" = {}
        # ALL commit-log I/O goes through this seam (log_store.py):
        # the transaction protocol's guarantees are exactly the
        # store's put-if-absent/replace atomicity, so swapping the
        # POSIX default for an object-store impl changes no logic
        # above this line
        self.log: LogStore = (
            PosixLogStore(root) if log_store is None else log_store
        )
        # ... and ALL driver-side DATA-file I/O goes through the
        # sibling seam (DataFileStore): staged-file adoption, footer
        # reads, vacuum's listing/retention/reaping. Spark itself
        # reads/writes through data.uri(); with both seams injected
        # the table runs end-to-end on an object store.
        self.data: "DataFileStore" = (
            PosixDataFileStore(root) if data_store is None else data_store
        )

    # -- log ------------------------------------------------------------
    def versions(self) -> list[int]:
        return self.log.list_versions()

    def _walk_parquet(self) -> list[str]:
        """Every ``.parquet`` relpath under the table root, including
        hive partition subdirectories; ``_``/``.``-prefixed dirs
        (the log, in-flight staging dirs) are skipped."""
        return self.data.walk_parquet()

    def _stats_of(self, f: str) -> dict:
        """One file's footer stats through the data seam — {} when the
        file (or its footer) cannot be read: readers treat missing
        stats as "cannot prune", always conservative."""
        try:
            fh = self.data.open_file(f)
        except Exception:
            return {}
        return _footer_stats(fh)

    def _dv_refs(self, d: str) -> "list[str] | None":
        """One DV sidecar's referenced-basename list through the data
        seam — None when unreadable (callers keep the sidecar whole)."""
        try:
            fh = self.data.open_file(d)
        except Exception:
            return None
        return _dv_referenced_files(fh)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def version_at(self, timestamp, clamp_future: bool = False) -> int:
        """Resolve a wall-clock instant to the table version a reader
        at that instant would have seen: the LATEST retained version
        whose ``committed_at`` is <= ``timestamp`` — Delta's
        ``timestampAsOf`` rule, including both edges: an instant
        before the earliest retained commit raises (``vacuum`` bounds
        how far back, exactly like Delta's retention window), and an
        instant AFTER the newest commit raises too (Delta's
        "timestamp after latest commit" error — a typo'd future
        timestamp must not silently read latest). Pass
        ``clamp_future=True`` for the one context where Delta clamps
        instead: a change-feed ``endingTimestamp`` beyond the newest
        commit reads up to latest.

        ``timestamp`` may be a float/int epoch-seconds value, a
        ``datetime`` (naive = UTC, matching the log's ``time.time()``
        stamps), or an ISO-8601 string. Cost is one small JSON read
        per retained version (the raw commit record, no state
        reconstruction) — metadata-scale, never touching data files.
        """
        ts = _to_epoch_seconds(timestamp)
        best = None
        newest_at = None
        # committed_at is wall-clock and so not guaranteed strictly
        # monotonic across writers; scan every retained record rather
        # than binary-searching an ordering the log does not promise.
        # Ties and clock jogs resolve to the HIGHEST qualifying
        # version — the snapshot a reader at that instant observes.
        for v in self.versions():
            at = self._read_record(v)["committed_at"]
            newest_at = at if newest_at is None else max(newest_at, at)
            if at <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"{self.root}: no retained commit at or before "
                f"{timestamp!r} (earliest retained version is "
                f"{self.versions()[0] if self.versions() else None}; "
                "vacuum may have removed older history)"
            )
        if not clamp_future and ts > newest_at:
            raise ValueError(
                f"{self.root}: timestamp {timestamp!r} is after the "
                f"latest commit (committed_at={newest_at}); pass the "
                "version explicitly to read the newest snapshot"
            )
        return best

    def _read_record(self, version: int) -> dict:
        """One commit record's raw JSON (a delta, optionally carrying a
        checkpoint; legacy pre-delta manifests read as full states)."""
        return self.log.read(version)

    def _cache_state(self, version: int, state: dict) -> None:
        if len(self._manifest_cache) >= self.MANIFEST_CACHE_SIZE:
            self._manifest_cache.pop(next(iter(self._manifest_cache)))
        self._manifest_cache[version] = state

    def _apply_commit_record(self, prev: dict, rec: dict) -> dict:
        """Fold one delta record onto the previous version's state —
        the reconstruction step of the checkpoint+tail log. Pure:
        neither input is mutated."""
        removed = set(rec.get("remove", []))
        files = [
            f for f in prev.get("files", []) if f not in removed
        ] + list(rec.get("add", []))
        file_set = set(files)
        stats = {
            f: s
            for f, s in prev.get("stats", {}).items()
            if f in file_set
        }
        stats.update(rec.get("add_stats", {}))
        dv_removed = set(rec.get("dv_remove", []))
        dv_files = [
            d for d in prev.get("dv_files", []) if d not in dv_removed
        ] + list(rec.get("dv_add", []))
        dv_set = set(dv_files)
        dv_refs = {
            d: r
            for d, r in prev.get("dv_refs", {}).items()
            if d in dv_set
        }
        dv_refs.update(rec.get("dv_refs_upd", {}))
        # txn map: every state carries the full per-app map (lookups
        # read one state, and it survives vacuum/compaction — Delta's
        # checkpointed setTransaction). Entries idle past the retention
        # window (measured against this commit's timestamp, so replay
        # is deterministic) are pruned, then this commit's stamps fold
        # in with the max-version rule
        at_commit = rec["committed_at"]
        cutoff = at_commit - self.txn_retention_seconds
        txns: dict = {}
        for app, e in prev.get("txns", {}).items():
            if not isinstance(e, dict):
                e = {"version": int(e), "at": at_commit}
            if e.get("at", at_commit) > cutoff:
                txns[app] = dict(e)
        for app, e in rec.get("txn", {}).items():
            old = txns.get(app, {}).get("version", e["version"])
            txns[app] = {
                "version": max(int(e["version"]), int(old)),
                "at": e.get("at", at_commit),
            }
        state = {
            "version": rec["version"],
            "mode": rec["mode"],
            "files": files,
            "stats": stats,
            "committed_at": at_commit,
        }
        # table metadata: inherited unless this commit explicitly set
        # it (rename/drop/restore/clone record even an empty map — the
        # "explicitly cleared" case); partition types only with a
        # layout
        for k in _TABLE_METADATA_KEYS:
            v = rec[f"set_{k}"] if f"set_{k}" in rec else prev.get(k)
            if v and (k != "partition_types" or "partitioned_by" in state):
                state[k] = dict(v) if isinstance(v, dict) else list(v)
        if dv_files:
            state["dv_files"] = dv_files
            if dv_refs:
                state["dv_refs"] = dv_refs
        if txns:
            state["txns"] = txns
        # per-commit audit keys surface flattened on THIS version's
        # state only (restored_from etc.), exactly as before
        state.update(rec.get("annotations", {}))
        return state

    def _manifest(self, version: int) -> dict:
        """A version's FULL reconstructed state (files, stats,
        dv_files/dv_refs, txns, column mapping, audit annotations) —
        the same dict shape every read/write surface has always
        consumed. Rebuilt from the nearest checkpoint at-or-below the
        version plus the delta tail (at most ``CHECKPOINT_INTERVAL``
        small JSON reads); every intermediate state lands in the LRU,
        so sequential access (history, stream planning fallbacks) is
        one record read per step."""
        cached = self._manifest_cache.get(version)
        if cached is not None:
            return cached
        tail: list[dict] = []
        v = version
        base = None
        while base is None:
            cached = self._manifest_cache.get(v)
            if cached is not None:
                base = cached
                break
            rec = self._read_record(v)
            if "files" in rec:
                base = rec  # legacy full manifest: a self-checkpoint
            elif "checkpoint" in rec:
                base = rec["checkpoint"]
            else:
                tail.append(rec)
                v -= 1
                if v < 0:
                    raise RuntimeError(
                        f"{self.root}: corrupt log — no checkpoint at "
                        f"or below version {version} (version 0 always "
                        "checkpoints)"
                    )
        if v == version and not tail:
            self._cache_state(version, base)
            return base
        for rec in reversed(tail):
            base = self._apply_commit_record(base, rec)
            self._cache_state(rec["version"], base)
        return base

    def commit_delta(self, version: int) -> dict:
        """The per-commit change summary — what changed AT ``version``
        relative to ``version - 1``:

        - ``mode``; ``add``/``remove``: data files; ``dv_add``/
          ``dv_remove``: deletion-vector sidecars;
        - ``add_stats``: footer stats of the added files (and of any
          file whose stats this commit replaced);
        - ``dv_refs``: the data files each sidecar tombstones, at
          least for every readable sidecar in ``dv_add``;
        - ``txn_apps``: the set of idempotent-writer apps it stamped;
        - ``metadata_changed``: whether it set the layout, column
          mapping, constraints or generated columns.

        For delta-format commits this is one small record read,
        O(changed files) regardless of table size — the planning
        primitive the streaming source uses to stay O(span x changed)
        and the per-commit view commit reconciliation checks. Legacy
        full-state manifests fall back to a two-manifest diff
        (preserving manifest order)."""
        rec = self._read_record(version)
        if "files" not in rec:
            return {
                "mode": rec["mode"],
                "add": list(rec.get("add", [])),
                "remove": list(rec.get("remove", [])),
                "dv_add": list(rec.get("dv_add", [])),
                "dv_remove": list(rec.get("dv_remove", [])),
                "add_stats": dict(rec.get("add_stats", {})),
                "dv_refs": dict(rec.get("dv_refs_upd", {})),
                "txn_apps": set(rec.get("txn", {})),
                "metadata_changed": any(
                    f"set_{k}" in rec for k in _CONFLICT_METADATA_KEYS
                ),
            }
        prev = (
            self._manifest(version - 1)
            if version > 0
            else {"files": [], "dv_files": []}
        )
        old_f, new_f = set(prev.get("files", [])), set(rec["files"])
        old_d = set(prev.get("dv_files", []))
        new_d = set(rec.get("dv_files", []))
        added = [f for f in rec["files"] if f not in old_f]
        stats = rec.get("stats", {})
        old_txns = prev.get("txns", {})
        return {
            "mode": rec["mode"],
            "add": added,
            "remove": [f for f in prev.get("files", []) if f not in new_f],
            "dv_add": [
                d for d in rec.get("dv_files", []) if d not in old_d
            ],
            "dv_remove": [
                d for d in prev.get("dv_files", []) if d not in new_d
            ],
            "add_stats": {f: stats[f] for f in added if f in stats},
            "dv_refs": dict(rec.get("dv_refs", {})),
            "txn_apps": {
                a
                for a, e in rec.get("txns", {}).items()
                if old_txns.get(a) != e
            },
            "metadata_changed": any(
                (prev.get(k) or None) != (rec.get(k) or None)
                for k in _CONFLICT_METADATA_KEYS
            ),
        }

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest txn version this writer app has committed (None if
        never) — the read half of the idempotent-writer protocol: a
        retrying writer skips any txn version <= this. The per-app map
        is carried forward into EVERY manifest (the same reason Delta
        checkpoints setTransaction actions), so the lookup is one
        newest-manifest read and survives vacuum and compaction."""
        v = self.latest_version()
        if v is None:
            return None
        t = self._manifest(v).get("txns", {}).get(str(app_id))
        if t is None:
            return None
        return int(t["version"]) if isinstance(t, dict) else int(t)

    def history(self) -> list[dict]:
        """Commit audit trail, newest first: mode, file count, ts, and
        per-commit operation metrics (files added/removed — straight
        off each commit's delta record, Delta's operationMetrics)."""
        out = []
        for v in reversed(self.versions()):
            m = self._manifest(v)
            try:
                d = self.commit_delta(v)
            except FileNotFoundError:
                # legacy full-state manifest whose predecessor was
                # vacuumed: the diff is unrecoverable, metrics unknown
                d = {"add": [], "remove": []}
            out.append(
                {
                    "version": v,
                    "mode": m["mode"],
                    # Delta's DESCRIBE HISTORY operation name: each
                    # write path annotates its commits (UPDATE, MERGE,
                    # DELETE, OPTIMIZE, ...); plain commits fall back
                    # to their mode
                    "operation": m.get("operation", m["mode"]),
                    "n_files": len(m["files"]),
                    "n_added": len(d["add"]),
                    "n_removed": len(d["remove"]),
                    "committed_at": m["committed_at"],
                }
            )
        return out

    def detail(self, version: int | None = None) -> dict:
        """DESCRIBE DETAIL: table-level facts of a version, computed
        from metadata only (manifest + file footers + sidecar sizes —
        no data scan, no Spark job). ``n_rows`` is physical rows minus
        live tombstones, i.e. what ``read()`` returns."""
        if version is None:
            version = self.latest_version()
        if version is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        m = self._manifest(version)
        files = m["files"]
        dv_files = m.get("dv_files", [])
        size = sum(self.data.file_size(f) for f in files)
        n_physical = sum(self.data.parquet_row_count(f) for f in files)
        # count only tombstones aimed at LIVE files: a sidecar survives
        # as long as ANY of its referenced files is live, but rows
        # aimed at already-rewritten files were materialized by that
        # rewrite — subtracting them again would undercount vs read()
        live_bases = {os.path.basename(f) for f in files}
        n_tombstones = 0
        for f in dv_files:
            n_tombstones += _dv_live_rows(
                self.data.open_file(f), live_bases
            )
        return {
            "location": os.path.abspath(self.root),
            "version": version,
            "operation": m.get("operation", m["mode"]),
            "committed_at": m["committed_at"],
            "n_files": len(files),
            "size_bytes": size,
            "n_rows": n_physical - n_tombstones,
            "n_dv_files": len(dv_files),
            "n_tombstones": n_tombstones,
            "column_renames": dict(m.get("column_renames", {})),
            "dropped_columns": list(m.get("dropped_columns", [])),
            "constraints": dict(m.get("constraints", {})),
            "generated_columns": dict(m.get("generated_columns", {})),
            "partitioned_by": list(m.get("partitioned_by", [])),
        }

    @classmethod
    def convert_from_parquet(
        cls,
        root: str,
        txn_retention_seconds: "float | None" = None,
        partitioned_by: "list[str] | None" = None,
        log_store: "LogStore | None" = None,
        data_store: "DataFileStore | None" = None,
    ) -> "VersionedTable":
        """Delta's CONVERT TO DELTA: adopt an existing directory of
        plain parquet files as version 0 of a versioned table WITHOUT
        rewriting a byte — the commit lists the files it found and
        harvests their footer stats (so data skipping works from the
        first read), and every later write goes through the normal
        transaction log.

        ``partitioned_by`` is Delta's ``CONVERT TO DELTA ...
        PARTITIONED BY``: adopt a hive-partitioned layout
        (``year=/month=/day=`` — the reference's own lake layout,
        s3_helper.py:45) metadata-only. Partition values parsed from
        the directory names are recorded as per-file constant min=max
        stats (file skipping then subsumes partition pruning — a
        ``files_for_range`` probe on ``year`` scans a file subset with
        zero data movement), the columns surface on every read via
        ``basePath`` discovery, and later writes lay their files out
        in the same ``k=v`` directories. Genuinely ambiguous layouts
        are rejected: every file must carry exactly the named
        partition columns in its path, and no others.

        Without ``partitioned_by``, hive layouts are REJECTED
        (partition values live in directory names, not file bytes —
        adopting them flat would silently drop those columns).
        Duplicate basenames are rejected (deletion vectors address
        rows by file basename). A directory that is already a
        versioned table is rejected rather than double-initialized.
        """
        t = cls(
            root,
            txn_retention_seconds=txn_retention_seconds,
            log_store=log_store,
            data_store=data_store,
        )
        if t.latest_version() is not None:
            raise ValueError(
                f"{root}: already a versioned table "
                f"(latest version {t.latest_version()})"
            )
        files = t.data.walk_parquet()
        if not files:
            raise FileNotFoundError(f"{root}: no parquet files to convert")
        parted = [f for f in files if "=" in os.path.dirname(f)]
        if partitioned_by is None and parted:
            raise ValueError(
                f"{root}: hive-partitioned layout ({parted[0]!r}) — "
                "pass partitioned_by=[...] to adopt it metadata-only "
                "(partition values live in paths, not file bytes)"
            )
        if partitioned_by is not None:
            want = _validate_partition_cols(partitioned_by)
            if not want:
                raise ValueError("partitioned_by must name >=1 column")
            for f in files:
                got = _path_partitions(f)
                if sorted(got) != sorted(want):
                    raise ValueError(
                        f"{root}: ambiguous hive layout — {f!r} carries "
                        f"partition segments {sorted(got)}, expected "
                        f"exactly {sorted(want)}"
                    )
        bases = [os.path.basename(f) for f in files]
        if len(set(bases)) != len(bases):
            if partitioned_by is None:
                raise ValueError(
                    f"{root}: duplicate file basenames — deletion "
                    "vectors address rows by basename, so adopted "
                    "names must be unique"
                )
            # Spark-written hive layouts reuse part file names across
            # partition directories. Deletion vectors address rows by
            # BASENAME, so adopt each file under a unique name inside
            # its own partition directory WITHOUT moving bytes through
            # the driver — a hard link locally, a server-side
            # CopyObject on an object store (the original names stay
            # valid for any readers outside the table until vacuum
            # reclaims them as unreferenced).
            linked = []
            for f in sorted(files):
                dst = os.path.join(
                    os.path.dirname(f), f"part-{uuid.uuid4().hex}.parquet"
                )
                t.data.adopt_copy(f, dst)
                linked.append(dst)
            files = linked
        t.publish(
            sorted(files),
            mode="overwrite",
            expected_base=None,
            annotations={"operation": "CONVERT"},
            partitioned_by=partitioned_by,
        )
        return t

    # -- hive partitioning --------------------------------------------------
    def partitioned_by(self, version: int | None = None) -> list[str]:
        """The table's hive partition columns (empty when the table is
        not partitioned). Set once by ``convert_from_parquet(...,
        partitioned_by=[...])`` and inherited by every later commit:
        partition values live in directory names (``year=2024/...``),
        are recorded as constant min=max footer stats at publish (so
        data skipping subsumes partition pruning), surface as columns
        on every read (``basePath`` discovery), and staged writes lay
        new files out in the same ``k=v`` directories."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return []
        return list(self._manifest(version).get("partitioned_by", []))

    def _data_reader(
        self,
        spark: SparkSession,
        merge_schema: bool = False,
        version: int | None = None,
    ):
        """The DataFrameReader every data-file scan uses: mergeSchema
        on demand, and ``basePath`` discovery when the table is hive-
        partitioned so ``k=v`` directory values surface as columns."""
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if self.partitioned_by(version):
            reader = reader.option("basePath", self.data.uri())
        return reader

    def partition_types(self, version: int | None = None) -> dict:
        """Pinned ``{partition column: Spark DDL type}`` — recorded in
        the manifest at the commit that establishes the layout (from
        the written frame's schema, or from a path-value scan at
        CONVERT adoption) and inherited by every later commit, so
        EVERY read surface (batch basePath scan, Arrow stream reader,
        CDF, SHOW PARTITIONS consumers) speaks one schema instead of
        each re-inferring its own (int vs bigint drift). Legacy
        manifests written before pinning derive the types on demand
        from the manifest's own file paths — deterministic for a
        given version, and re-recorded by the next publish."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return {}
        m = self._manifest(version)
        pby = m.get("partitioned_by", [])
        if not pby:
            return {}
        pt = m.get("partition_types")
        if pt:
            return dict(pt)
        return self._derive_partition_types(m["files"], pby)

    @staticmethod
    def _derive_partition_types(files, pby) -> dict:
        vals: dict = {c: [] for c in pby}
        for f in files:
            p = _path_partitions(f)
            for c in pby:
                vals[c].append(p.get(c))
        return {c: _widest_partition_ddl(vs) for c, vs in vals.items()}

    def _cast_partition_types(
        self, df: DataFrame, version: int | None = None
    ) -> DataFrame:
        """Align a basePath scan's inferred partition columns to the
        manifest's pinned types (a cheap Project, only when a column's
        inferred type differs). ANSI cast on purpose: a partition
        value the pinned type cannot represent is corruption and must
        surface, not silently null out."""
        pt = self.partition_types(version)
        if not pt:
            return df
        cur = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        if all(cur.get(c) in (None, t) for c, t in pt.items()):
            return df
        return df.select(
            *[
                F.col(c).cast(pt[c]).alias(c)
                if c in pt and cur[c] != pt[c]
                else F.col(c)
                for c in df.columns
            ]
        )

    def _scan_files(
        self,
        spark: SparkSession,
        files: list[str],
        merge_schema: bool = False,
        version: int | None = None,
    ) -> DataFrame:
        """The one PHYSICAL file-scan shape every read path uses:
        manifest-listed parquet paths through ``_data_reader``
        (mergeSchema / basePath), partition columns cast to their
        pinned types."""
        df = self._data_reader(spark, merge_schema, version).parquet(
            *[self.data.uri(f) for f in files]
        )
        return self._cast_partition_types(df, version)

    # -- write ----------------------------------------------------------
    # -- column mapping (rename/drop without rewriting data) ---------------
    def column_renames(self, version: int | None = None) -> dict:
        """Current logical -> physical column name map (empty when no
        column was ever renamed). Physical names are what parquet
        files and footer stats carry; logical names are what every
        read/write surface speaks."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return {}
        return dict(self._manifest(version).get("column_renames", {}))

    def dropped_columns(self, version: int | None = None) -> list[str]:
        """PHYSICAL names of dropped columns (excluded from reads;
        their bytes remain until a rewrite materializes the drop)."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return []
        return list(self._manifest(version).get("dropped_columns", []))

    def _to_physical_name(
        self, name: str, version: int | None = None
    ) -> str:
        return self.column_renames(version).get(name, name)

    def _live_physical_columns(self, version: int) -> set:
        """Best-effort PHYSICAL column names live at a version: the
        union of the manifest's footer-stats keys (covering every file)
        with the footer schemas of the first and last listed files
        (two metadata reads — covers columns whose types carry no
        storable stats), minus dropped names. Used to validate
        rename/drop DDL (round-6 advisor): a column living ONLY in
        middle files of a schema-evolved table AND lacking footer
        stats in all of them can be missed — the failure mode is a
        clear DDL error, never a wrong read."""
        m = self._manifest(version)
        cols: set = set()
        for s in m.get("stats", {}).values():
            cols.update(s.keys())
        files = m["files"]
        for f in {files[0], files[-1]} if files else ():
            try:
                import pyarrow.parquet as pq

                with self.data.open_file(f) as fh:
                    cols.update(pq.read_schema(fh).names)
            except Exception:
                pass
        return cols - set(self.dropped_columns(version))

    def _to_physical_df(
        self, df: DataFrame, version: int | None = None
    ) -> DataFrame:
        """Translate a LOGICAL frame to physical column names for
        writing. Guards the name-mode invariants: a dropped column
        cannot be re-added (old files still carry its bytes under that
        name, which would leak into the new column), and a column may
        not collide with the physical storage name of a renamed one."""
        renames = self.column_renames(version)
        dropped = set(self.dropped_columns(version))
        if not renames and not dropped:
            return df
        phys_taken = set(renames.values())
        sel = []
        for c in df.columns:
            p = renames.get(c, c)
            if p in dropped:
                raise ValueError(
                    f"{self.root}: column {c!r} was dropped; its bytes "
                    "still live in old files under that physical name, "
                    "so re-adding it would resurrect them — compact() "
                    "first (materializing the drop) or pick a new name"
                )
            if c not in renames and c in phys_taken:
                raise ValueError(
                    f"{self.root}: column name {c!r} is the physical "
                    "storage of a renamed column — pick a different name"
                )
            sel.append(F.col(c).alias(p) if p != c else F.col(c))
        return df.select(*sel)

    def _to_logical_df(
        self, df: DataFrame, version: int | None = None, keep: tuple = ()
    ) -> DataFrame:
        """Translate a PHYSICAL scan to logical names: dropped columns
        vanish, renamed ones surface under their logical name.
        ``keep`` names pass-through columns (change-feed metadata
        etc.). A pure projection — pushdown and pruning still reach
        the scan below it."""
        renames = self.column_renames(version)
        dropped = set(self.dropped_columns(version))
        if not renames and not dropped:
            return df
        inv = {p: l for l, p in renames.items()}
        sel = []
        for c in df.columns:
            if c in keep:
                sel.append(F.col(c))
            elif c in dropped:
                continue
            elif c in inv:
                sel.append(F.col(c).alias(inv[c]))
            else:
                sel.append(F.col(c))
        return df.select(*sel)

    # -- generated columns (write-time computed, Delta's GENERATED ALWAYS AS)
    def generated_columns(self, version: int | None = None) -> dict:
        """Declared generated columns ({name: sql expression}, empty
        when none): every row-adding write computes the column from
        the expression when the batch omits it, and REJECTS the batch
        when it supplies a conflicting value — so the column provably
        equals its expression and can be trusted for clustering/
        skipping. The canonical use: a DATE/numeric derivative of a
        timestamp, because TIMESTAMP_NTZ predicates never reach
        parquet footer stats (SCALE.md) — cluster and prune on the
        generated day instead."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return {}
        return dict(self._manifest(version).get("generated_columns", {}))

    def add_generated_column(
        self, spark: SparkSession, name: str, expr_sql: str
    ) -> int:
        """Declare ``name`` GENERATED ALWAYS AS (``expr_sql``) — a
        metadata commit. The name must not collide with a live column
        (files written before the declaration would hold unvalidated
        values); declare it before the data that carries it, or pick a
        new name. Existing files simply lack the column (reads with
        ``merge_schema`` see NULLs) until ``compact()`` materializes
        it table-wide. The expression is analyzed against the current
        schema so typos fail here, not at the next write."""
        prev = self.latest_version()
        if prev is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        gen = self.generated_columns(prev)
        if name in gen:
            raise ValueError(f"generated column {name!r} already declared")
        renames = self.column_renames(prev)
        live_logical = {
            ({p: l for l, p in renames.items()}).get(c, c)
            for c in self._live_physical_columns(prev)
        }
        if name in live_logical or name in renames:
            raise ValueError(
                f"{name!r} already names a column of this table — a "
                "generated column must be declared before any file "
                "carries the name (existing values were never "
                "validated against the expression)"
            )
        # analyze the expression against the current schema NOW
        self.read(spark, prev).withColumn(name, F.expr(expr_sql)).schema
        m = self._manifest(prev)
        return self.publish(
            [],
            mode="overwrite",
            expected_base=prev,
            carry=m["files"],
            generated_columns={**gen, name: expr_sql},
            annotations={"operation": "ADD GENERATED COLUMN", "added_generated_column": name},
        )

    def drop_generated_column(self, name: str) -> int:
        """Stop auto-computing ``name``; the column itself remains an
        ordinary column in the files that carry it."""
        prev = self.latest_version()
        if prev is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        gen = self.generated_columns(prev)
        if name not in gen:
            raise ValueError(f"no generated column {name!r}")
        gen.pop(name)
        m = self._manifest(prev)
        return self.publish(
            [],
            mode="overwrite",
            expected_base=prev,
            carry=m["files"],
            generated_columns=gen,
            annotations={"operation": "DROP GENERATED COLUMN", "dropped_generated_column": name},
        )

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """Fill declared generated columns a LOGICAL batch omits, and
        reject rows that supply a value differing from the expression
        (Delta's GENERATED ALWAYS AS contract — both halves). Zero
        cost when none are declared."""
        gen = self.generated_columns()
        if not gen:
            return df
        for name, expr_sql in gen.items():
            if name in df.columns:
                bad = (
                    df.filter(
                        ~F.col(name).eqNullSafe(F.expr(expr_sql))
                    )
                    .limit(1)
                    .collect()
                )
                if bad:
                    raise ValueError(
                        f"{self.root}: batch value for generated column "
                        f"{name!r} differs from its expression "
                        f"({expr_sql}); first offending row: "
                        f"{bad[0].asDict()}"
                    )
            else:
                df = df.withColumn(name, F.expr(expr_sql))
        return df

    # -- CHECK constraints (table-level, enforced on write) ----------------
    def constraints(self, version: int | None = None) -> dict:
        """The table's CHECK constraints ({name: sql predicate}, empty
        when none) — Delta's ALTER TABLE ADD CONSTRAINT, persisted as
        table metadata and enforced on every row-adding write."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return {}
        return dict(self._manifest(version).get("constraints", {}))

    def add_constraint(
        self, spark: SparkSession, name: str, predicate_sql: str
    ) -> int:
        """ADD CONSTRAINT <name> CHECK (<predicate_sql>): a metadata
        commit that first VALIDATES the existing data (one scan — the
        same contract as Delta: a constraint can only be added when
        every current row satisfies it, else readers could never trust
        it), then persists the predicate; every later ``commit``/
        ``merge``/``commit_audited`` rejects batches with violating
        rows. Predicates speak LOGICAL column names; NULL evaluates as
        satisfied (SQL CHECK semantics)."""
        prev = self.latest_version()
        if prev is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        cur = self.constraints(prev)
        if name in cur:
            raise ValueError(f"constraint {name!r} already exists")
        bad = (
            self.read(spark, prev)
            .filter(~F.coalesce(F.expr(predicate_sql).cast("boolean"), F.lit(True)))
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                f"cannot add constraint {name!r}: existing rows violate "
                f"CHECK ({predicate_sql})"
            )
        m = self._manifest(prev)
        return self.publish(
            [],
            mode="overwrite",
            expected_base=prev,
            carry=m["files"],
            constraints={**cur, name: predicate_sql},
            annotations={"operation": "ADD CONSTRAINT", "added_constraint": name},
        )

    def drop_constraint(self, name: str) -> int:
        """DROP CONSTRAINT: metadata-only; future writes stop checking
        it. Unknown names raise (a typo'd drop silently succeeding
        would leave the caller believing enforcement ended)."""
        prev = self.latest_version()
        if prev is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        cur = self.constraints(prev)
        if name not in cur:
            raise ValueError(f"constraint {name!r} does not exist")
        cur.pop(name)
        m = self._manifest(prev)
        return self.publish(
            [],
            mode="overwrite",
            expected_base=prev,
            carry=m["files"],
            constraints=cur,
            annotations={"operation": "DROP CONSTRAINT", "dropped_constraint": name},
        )

    def _enforce_constraints(self, df: DataFrame) -> None:
        """Reject a LOGICAL batch containing rows that violate any
        stored CHECK constraint. Zero cost when the table has none;
        one O(batch) limit-1 job otherwise — the write-side gate Delta
        runs inside its transaction."""
        checks = self.constraints()
        if not checks:
            return
        viol = F.lit(False)
        for sql in checks.values():
            viol = viol | ~F.coalesce(
                F.expr(sql).cast("boolean"), F.lit(True)
            )
        bad = df.filter(viol).limit(1).collect()
        if bad:
            names = ", ".join(
                f"{n}: CHECK ({s})" for n, s in checks.items()
            )
            raise ValueError(
                f"{self.root}: batch violates table constraint(s) "
                f"[{names}]; first offending row: {bad[0].asDict()}"
            )

    def _reject_dependent_column(self, version, name: str, op: str):
        """Delta's dependent-column rule: a column referenced by a
        CHECK constraint or a generated-column expression cannot be
        renamed or dropped — the stored SQL would silently dangle (the
        constraint stops resolving, or resolves against the WRONG
        column). Drop the dependency first, then alter the column."""
        for cname, sql in self.constraints(version).items():
            if _expr_references(sql, name):
                raise ValueError(
                    f"{op}: column {name!r} is referenced by constraint "
                    f"{cname!r} (CHECK ({sql})); drop the constraint "
                    "first"
                )
        for gname, sql in self.generated_columns(version).items():
            if gname == name or _expr_references(sql, name):
                raise ValueError(
                    f"{op}: column {name!r} is {'a' if gname == name else 'referenced by'} "
                    f"generated column {gname!r} (GENERATED ALWAYS AS "
                    f"({sql})); drop the generated column first"
                )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit (Delta's
        column mapping, name mode): no data file is touched at any
        table size — the manifest records logical->physical and every
        read/write surface translates at the boundary. Footer stats
        keep their physical names, so data skipping on the renamed
        column is unaffected."""
        prev = self.latest_version()
        if prev is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        if old == new:
            raise ValueError("rename_column: old and new are the same")
        if old in self.partitioned_by(prev):
            raise ValueError(
                f"rename_column: {old!r} is a hive partition column — "
                "its name is encoded in every file's directory path "
                "and cannot change metadata-only"
            )
        renames = self.column_renames(prev)
        dropped = set(self.dropped_columns(prev))
        if new in renames:
            raise ValueError(f"{new!r} already names a (renamed) column")
        if new in dropped:
            raise ValueError(
                f"{new!r} was dropped; old files still carry its bytes "
                "— compact() first or pick a different name"
            )
        if new in set(renames.values()) - {renames.get(old, old)}:
            raise ValueError(
                f"{new!r} is the physical storage of another renamed column"
            )
        if old in dropped:
            raise ValueError(f"{old!r} was dropped")
        self._reject_dependent_column(prev, old, "rename_column")
        live = self._live_physical_columns(prev)
        old_physical = renames.get(old, old)
        if old not in renames and old_physical not in live:
            raise ValueError(
                f"{self.root}: {old!r} is not a column of this table"
            )
        # ``new`` must not collide with an ORDINARY live column either
        # (round-6 advisor, medium): renames={'k':'v'} on a table that
        # already has a real 'k' would make every read project two 'k'
        # columns — Delta rejects this case, so do we. Ordinary = live
        # physical names that are not the storage of a renamed column
        # (those collide under the guards above).
        ordinary = live - set(renames.values())
        if new in ordinary - {old_physical}:
            raise ValueError(
                f"{new!r} already names an existing column of this table"
            )
        physical = renames.pop(old, old)
        if new != physical:
            renames[new] = physical
        m = self._manifest(prev)
        return self.publish(
            [],
            mode="overwrite",
            expected_base=prev,
            carry=m["files"],
            column_renames=renames,
            annotations={"operation": "RENAME COLUMN", "renamed_column": [old, new]},
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN as a METADATA-ONLY commit: the
        column disappears from every read immediately; its bytes
        remain in existing files until ``compact()`` rewrites them
        (exactly Delta's drop-then-REORG contract). The name cannot be
        re-added until a rewrite materializes the drop."""
        prev = self.latest_version()
        if prev is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        renames = self.column_renames(prev)
        dropped = list(self.dropped_columns(prev))
        physical = renames.pop(name, name)
        if physical in dropped:
            raise ValueError(f"{name!r} is already dropped")
        if name in self.partitioned_by(prev):
            raise ValueError(
                f"drop_column: {name!r} is a hive partition column — "
                "partition values live in directory paths; repartition "
                "the table (read + commit elsewhere) to remove it"
            )
        self._reject_dependent_column(prev, name, "drop_column")
        # validate existence (round-6 advisor, low): a typo'd drop used
        # to record a phantom physical name that permanently blocked
        # any future column of that name, even though no file carried it
        if name not in self.column_renames(prev) and (
            physical not in self._live_physical_columns(prev)
        ):
            raise ValueError(
                f"{self.root}: {name!r} is not a column of this table"
            )
        dropped.append(physical)
        m = self._manifest(prev)
        return self.publish(
            [],
            mode="overwrite",
            expected_base=prev,
            carry=m["files"],
            column_renames=renames,
            dropped_columns=dropped,
            annotations={"operation": "DROP COLUMN", "dropped_column": name},
        )

    def stage(
        self, df: DataFrame, partitioned_by: "list[str] | None" = None
    ) -> list[str]:
        """Write data files WITHOUT publishing them (the W of
        write-audit-publish). Staged files are invisible to readers —
        no manifest references them — and are reclaimed by ``vacuum``
        if never published.

        Zero-row part files (empty shuffle partitions) are dropped
        before staging returns: they carry no footer stats, so every
        stats-pruned path (merge probes, read_where, conflict
        reconciliation) would conservatively treat them as
        "may match anything" forever. When EVERY part is empty one is
        kept — an intentionally-empty commit (overwrite-to-empty)
        must stay readable with its schema."""
        staging = f"_staging-{uuid.uuid4().hex}"
        # write TIMESTAMP (ltz) as INT64 micros, not Spark's legacy
        # INT96: INT96 columns carry NO parquet statistics, which would
        # silently exclude every ltz timestamp from manifest-level data
        # skipping (and INT96 is deprecated; Delta/Iceberg mandate
        # INT64). Session conf restored after the write; Spark
        # timestamps are micros internally, so the encoding is
        # lossless and readers handle both transparently.
        spark = df.sparkSession
        _TS_CONF = "spark.sql.parquet.outputTimestampType"
        prev_ts = spark.conf.get(_TS_CONF, None)
        spark.conf.set(_TS_CONF, "TIMESTAMP_MICROS")
        pby = (
            list(partitioned_by)
            if partitioned_by is not None
            else self.partitioned_by()
        )
        try:
            writer = df.write.mode("overwrite")
            if pby:
                missing = [c for c in pby if c not in df.columns]
                if missing:
                    raise ValueError(
                        f"stage: partitioned table requires partition "
                        f"column(s) {missing} in every written frame"
                    )
                writer = writer.partitionBy(*pby)
            writer.parquet(self.data.uri(staging))
        finally:
            if prev_ts is None:
                spark.conf.unset(_TS_CONF)
            else:
                spark.conf.set(_TS_CONF, prev_ts)
        # adopt each staged part at its final uuid name, PRESERVING
        # its k=v directory path for partitioned layouts (hive layout
        # is the on-disk contract; partition values live only there).
        # The move is metadata-speed through the data seam (POSIX
        # rename / server-side CopyObject); staging leftovers
        # (_SUCCESS etc.) go with the staging dir.
        new_files = []
        for f in self.data.walk_parquet(staging):
            dst_rel = os.path.join(
                os.path.dirname(f), f"part-{uuid.uuid4().hex}.parquet"
            )
            self.data.move(os.path.join(staging, f), dst_rel)
            new_files.append(dst_rel)
        self.data.delete_tree(staging)
        if pby and not new_files:
            # Spark writes NO part files for an empty partitionBy
            # write; keep the overwrite-to-empty contract (one
            # readable schema-carrying part) by staging a flat
            # empty part — partition columns ride as data columns
            # there, which readers resolve identically at 0 rows
            return self.stage(df.limit(0), partitioned_by=[])
        return self._drop_empty_parts(sorted(new_files))

    def _drop_empty_parts(self, staged: list[str]) -> list[str]:
        """Discard zero-row staged parts (keep one if ALL are empty —
        see ``stage``). Footer num_rows is a metadata read."""
        nonempty = [
            f for f in staged if self.data.parquet_row_count(f) > 0
        ]
        if not nonempty:
            keep = staged[:1]
            self.discard(staged[1:])
            return keep
        self.discard([f for f in staged if f not in set(nonempty)])
        return nonempty

    def read_staged(self, spark: SparkSession, staged: list[str]) -> DataFrame:
        """The audit surface: exactly the rows a publish would add.

        Partition discovery cannot rely on the manifest here: files
        staged with ``stage(df, partitioned_by=[...])`` BEFORE the
        table's first commit have no manifest to consult, yet their
        hive ``k=v`` segments carry real columns — auditing them flat
        would silently hide the partition columns from every
        write-audit-publish check (round-8 advisor). Detect the hive
        layout from the staged relpaths themselves and set basePath
        accordingly; pinned types apply when the table already has a
        committed layout, else the staged paths' own values type the
        columns."""
        reader = spark.read
        parted = [f for f in staged if "=" in os.path.dirname(f)]
        if parted or self.partitioned_by():
            reader = reader.option("basePath", self.data.uri())
        df = reader.parquet(*[self.data.uri(f) for f in staged])
        if self.latest_version() is not None:
            return self._cast_partition_types(df)
        if parted:
            pby = sorted(_path_partitions(parted[0]))
            pt = self._derive_partition_types(staged, pby)
            cur = {
                f.name: f.dataType.simpleString() for f in df.schema.fields
            }
            if any(cur.get(c) not in (None, t) for c, t in pt.items()):
                df = df.select(
                    *[
                        F.col(c).cast(pt[c]).alias(c)
                        if c in pt and cur[c] != pt[c]
                        else F.col(c)
                        for c in df.columns
                    ]
                )
        return df

    def discard(self, staged: list[str]) -> None:
        """Drop never-published staged files immediately."""
        for f in staged:
            self.data.delete_file(f)

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        expected_base=_UNSET,
        txn: "tuple[str, int] | list[tuple[str, int]] | None" = None,
        _physical: bool = False,
        annotations: dict | None = None,
        partitioned_by: "list[str] | None" = None,
    ) -> int:
        """Write data files, then publish the next manifest atomically.

        Data files land before the manifest exists, so a crashed or
        losing writer leaves only unreferenced files (cleaned by
        ``vacuum``), never a torn table.

        ``df`` speaks LOGICAL column names; under an active column
        mapping it is translated to physical storage names before the
        write (``_physical=True`` skips that — internal callers whose
        frames are already physical, e.g. ``merge``).

        ``partitioned_by`` on the FIRST commit creates the table as a
        hive-partitioned one (Delta's CREATE TABLE ... PARTITIONED
        BY): this and every later write lay files into ``k=v``
        directories and record partition stats. On an existing table
        it must match the declared layout (the property is
        immutable)."""
        if partitioned_by is not None:
            partitioned_by = _validate_partition_cols(partitioned_by)
            existing = self.partitioned_by()
            if self.latest_version() is not None and list(
                partitioned_by
            ) != existing:
                raise ValueError(
                    f"commit: partitioned_by={list(partitioned_by)} does "
                    f"not match the table's layout {existing} — the "
                    "partition layout is immutable once created"
                )
        if not _physical:
            df = self._apply_generated(df)
            self._enforce_constraints(df)
            df = self._to_physical_df(df)
        # the written frame's own schema is the EXACT partition-type
        # declaration (int stays int, date stays date) — publish pins
        # it at layout establishment; inherited afterwards
        pby_eff = (
            partitioned_by
            if partitioned_by is not None
            else self.partitioned_by()
        )
        ptypes = (
            {
                f.name: f.dataType.simpleString()
                for f in df.schema.fields
                if f.name in pby_eff
            }
            if pby_eff
            else None
        )
        return self.publish(
            self.stage(df, partitioned_by=partitioned_by),
            mode=mode,
            expected_base=expected_base,
            txn=txn,
            annotations=annotations,
            partitioned_by=partitioned_by,
            partition_types=ptypes,
        )

    def publish(
        self,
        staged: list[str],
        mode: str = "append",
        expected_base=_UNSET,
        carry: list[str] | None = None,
        txn: "tuple[str, int] | list[tuple[str, int]] | None" = None,
        dv_files: list[str] | None = None,
        known_stats: dict | None = None,
        annotations: dict | None = None,
        column_renames: dict | None = None,
        dropped_columns: list[str] | None = None,
        constraints: dict | None = None,
        generated_columns: dict | None = None,
        read_files: list[str] | None = None,
        read_ranges: dict | None = None,
        partitioned_by: list[str] | None = None,
        dv_files_add: list[str] | None = None,
        partition_types: dict | None = None,
    ) -> int:
        """Publish previously staged files as the next version (the P
        of write-audit-publish).

        ``dv_files_add`` APPENDS deletion-vector sidecars to the
        inherited DV set instead of replacing it wholesale
        (``dv_files``) — the reconcilable form ``delete_where`` uses:
        on a re-base the new base's DV state is inherited and the new
        sidecars ride on top, so a DV-only delete commutes with
        key-disjoint concurrent writers.

        ``expected_base`` is the snapshot-isolation guard for
        read-modify-write callers (``merge``/``compact``): pass the
        version you READ, and the publish targets exactly
        ``expected_base + 1`` — if any other writer committed since,
        that manifest already exists and the atomic link fails with
        ``ConcurrentCommitError`` instead of silently discarding the
        intervening commit (the Delta conflict rule: a commit whose
        read snapshot is stale must not win). Without it the base is
        re-read at publish time and only two writers racing on the
        SAME version number are detected — fine for blind appends,
        wrong for upserts. A rejected publish leaves its staged files
        unreferenced; ``vacuum`` reclaims them (retry = re-read +
        re-stage, never re-publish stale files).

        ``carry`` (overwrite mode only) names files from the PREVIOUS
        version carried into the new one BY REFERENCE — no data copied,
        their footer stats reused. This is the partial-rewrite
        primitive ``merge`` uses: the new version = carried files +
        staged files. Every carried file must be referenced by the
        base manifest (a typo'd path would publish a version pointing
        at bytes ``vacuum`` considers unreferenced).

        ``txn`` = (app_id, txn_version) stamps the commit with an
        idempotent-writer transaction (Delta's txnAppId/txnVersion
        action): a retrying writer checks ``last_txn_version(app_id)``
        before committing and SKIPS work already recorded — the O(1)
        effectively-once mechanism for append-shaped streaming sinks,
        where a keyed MERGE would pay a data-sized anti-join for
        idempotency alone. A LIST of (app_id, txn_version) pairs
        stamps them all in the one commit (Delta allows multiple
        setTransaction actions per commit) — how a change-feed
        consumer records both its stream-batch lineage and the base
        version it has covered, atomically.

        ``dv_files`` is the FULL deletion-vector sidecar list for the
        new version (``delete_where`` passes it). When omitted it is
        inherited: appends and carry-based partial rewrites keep the
        base version's DVs (tombstoned rows stay deleted); a full
        overwrite (no carry) drops them — the rewrite materialized the
        deletes, exactly Delta's compaction behavior.

        ``known_stats`` supplies footer stats the caller already holds
        for files in ``staged`` (``restore`` passes the target
        manifest's), skipping their per-file footer reads.
        ``annotations`` adds audit keys to the manifest (e.g.
        ``restored_from``); reserved manifest keys are rejected.

        **Commit reconciliation** (Delta's ConflictChecker): when
        another writer commits between this publish's base and its
        link attempt, the publish does NOT immediately fail. If this
        commit's logical intent provably COMMUTES with every
        intervening commit — checked file-by-file against their
        O(changed) delta records — it is re-based onto the new latest
        version and re-linked, with no caller re-execution:

        - a BLIND APPEND (mode='append', no ``expected_base``) commutes
          with everything except a metadata change (new constraint /
          generated column / column mapping — the staged rows were
          validated under the old rules) or a same-app txn stamp;
        - a READ-MODIFY-WRITE (``carry`` + ``expected_base``) declares
          its read set via ``read_files`` (the files its computation
          scanned) and optionally ``read_ranges`` ({column: (lo, hi)}
          — the key envelope of its probe, e.g. a merge batch's
          [min_key, max_key]). It commutes when no intervening commit
          removed a file it read or rewrote, tombstoned rows in one
          (DV adds aimed at its read set), changed metadata, stamped
          the same txn app, or added a file whose footer stats
          overlap ``read_ranges`` (no ranges or no stats = assume
          overlap — conservative). On re-base the carry list is
          recomputed against the new latest manifest, so a concurrent
          OPTIMIZE of untouched files or a key-disjoint merge simply
          drops out / flows in by reference.

        Anything else (full overwrites, explicit ``dv_files``, DDL
        commits) keeps the strict behavior: ``ConcurrentCommitError``,
        and the caller's ``retries=N`` re-runs against the fresh
        snapshot. A non-commuting reconciliation raises the same
        error, so opting in never weakens snapshot isolation — it only
        removes re-executions that would have produced the identical
        result.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        if carry is not None and mode != "overwrite":
            raise ValueError("carry requires mode='overwrite'")
        if read_files is not None and carry is None:
            raise ValueError("read_files requires carry (a partial rewrite)")
        if dv_files is not None and dv_files_add is not None:
            raise ValueError("pass dv_files OR dv_files_add, not both")
        pinned = expected_base is not _UNSET
        if pinned:
            prev = expected_base
        else:
            prev = self.latest_version()
        sets_metadata = any(
            x is not None
            for x in (
                column_renames,
                dropped_columns,
                constraints,
                generated_columns,
                partitioned_by,
            )
        )
        blind_append = mode == "append" and not pinned
        declared_reads = read_files is not None or read_ranges is not None
        can_reconcile = (
            not sets_metadata
            and dv_files is None
            and (blind_append or (carry is not None and declared_reads))
        )
        # the protected set: everything this commit READ or RETIRES —
        # computed once against the ORIGINAL base; an intervening
        # commit touching any of it does not commute
        my_removes: set = set()
        protected: set = set()
        if carry is not None and prev is not None:
            base_files = self._manifest(prev)["files"]
            my_removes = set(base_files) - set(carry)
            protected = my_removes | set(read_files or [])
            protected |= {os.path.basename(f) for f in protected}
        my_txn_apps = {str(a) for a, _v in _txn_pairs(txn)}
        base0 = prev
        checked_to = prev
        for _attempt in range(1 + self.MAX_RECONCILE):
            latest = self.latest_version()
            if latest != prev:
                if not can_reconcile:
                    if pinned:
                        raise ConcurrentCommitError(
                            f"stale snapshot: read version {prev}, but "
                            f"latest is {latest} — re-read and retry the "
                            "merge/compact"
                        )
                    raise ConcurrentCommitError(
                        f"version "
                        f"{0 if prev is None else prev + 1} was committed "
                        "by another writer"
                    )
                self._check_commutes(
                    checked_to,
                    latest,
                    blind_append=blind_append,
                    protected=protected,
                    read_ranges=read_ranges,
                    txn_apps=my_txn_apps,
                )
                checked_to = latest
                prev = latest
                if carry is not None:
                    carry = [
                        f
                        for f in self._manifest(latest)["files"]
                        if f not in my_removes
                    ]
                # audit trail: DESCRIBE HISTORY shows the commit was
                # re-based over commuting concurrent writers
                n_reconciled = latest - (
                    base0 if base0 is not None else -1
                )
                annotations = {
                    **(annotations or {}),
                    "reconciled_over": int(n_reconciled),
                }
            try:
                return self._publish_once(
                    prev,
                    staged,
                    mode,
                    carry,
                    txn,
                    dv_files,
                    known_stats,
                    annotations,
                    column_renames,
                    dropped_columns,
                    constraints,
                    generated_columns,
                    partitioned_by,
                    dv_files_add,
                    partition_types,
                )
            except ConcurrentCommitError:
                if not can_reconcile:
                    raise
                # loop: re-read latest, check the new tail, re-base
                continue
        raise ConcurrentCommitError(
            f"{self.root}: publish lost {self.MAX_RECONCILE} consecutive "
            "reconciliation races — the table is under very heavy write "
            "contention; re-run the operation"
        )

    def _check_commutes(
        self,
        lo: "int | None",
        hi: int,
        blind_append: bool,
        protected: set,
        read_ranges: "dict | None",
        txn_apps: set,
    ) -> None:
        """Raise ``ConcurrentCommitError`` unless every commit in
        ``(lo, hi]`` provably commutes with the in-flight publish (see
        ``publish``). Reads each intervening commit's raw delta record
        — O(changed files) per commit, never table-sized."""
        start = 0 if lo is None else lo + 1
        for v in range(start, hi + 1):
            try:
                s = self.commit_delta(v)
            except FileNotFoundError:
                # a concurrent vacuum trimmed an intervening record
                # mid-reconciliation: surface a retryable conflict,
                # not a crash — the re-run reads a fresh snapshot
                raise ConcurrentCommitError(
                    f"version {v}'s commit record was vacuumed while "
                    "reconciling a lost race — re-run against the new "
                    "snapshot"
                ) from None
            if s["metadata_changed"]:
                raise ConcurrentCommitError(
                    f"concurrent metadata change at version {v} "
                    "(constraints / generated columns / column mapping) "
                    "— re-run against the new snapshot"
                )
            if txn_apps and txn_apps & s["txn_apps"]:
                raise ConcurrentCommitError(
                    f"version {v} stamped txn app "
                    f"{sorted(txn_apps & s['txn_apps'])} concurrently — "
                    "idempotent-writer replay state is ambiguous; re-run"
                )
            if blind_append:
                continue  # adds/removes/DVs cannot affect a blind append
            removed = set(s["remove"]) | {
                os.path.basename(f) for f in s["remove"]
            }
            if protected & removed:
                raise ConcurrentCommitError(
                    f"version {v} removed file(s) this commit read or "
                    "rewrote — re-run against the new snapshot"
                )
            for d in s["dv_add"]:
                refs = s["dv_refs"].get(d)
                if refs is None or any(
                    r in protected for r in refs
                ):
                    raise ConcurrentCommitError(
                        f"version {v} tombstoned rows in file(s) this "
                        "commit read — re-run against the new snapshot"
                    )
            for f in s["add"]:
                if not self._add_is_disjoint(
                    f, s["add_stats"].get(f), read_ranges
                ):
                    raise ConcurrentCommitError(
                        f"version {v} added file {f!r} that may contain "
                        "rows this commit should have read — re-run "
                        "against the new snapshot"
                    )

    @staticmethod
    def _add_is_disjoint(
        fname: str, fstats: "dict | None", read_ranges: "dict | None"
    ) -> bool:
        """Can the added file provably contain NO row the in-flight
        commit's read predicate matches? ``read_ranges`` semantics:
        ``None`` = the commit's read predicate is unbounded (any new
        row might have mattered — every add conflicts); ``{}`` = the
        result depends only on rows in ``read_files`` (no new row
        could matter — e.g. a compaction, or a merge whose batch keys
        are all NULL); ``{col: (lo, hi)}`` = only rows with ``col``
        inside the range mattered — disjoint iff the file's footer
        stats for some range column sit entirely outside it. Missing
        stats mean "maybe overlaps" (conservative)."""
        if read_ranges is None:
            return False
        if not read_ranges:
            return True
        if not fstats:
            return False
        return any(
            _stat_excludes(
                fstats.get(column),
                _stat_probe_value(lower),
                _stat_probe_value(upper),
            )
            for column, (lower, upper) in read_ranges.items()
        )

    def _publish_once(
        self,
        prev: "int | None",
        staged: list[str],
        mode: str,
        carry: "list[str] | None",
        txn,
        dv_files: "list[str] | None",
        known_stats: "dict | None",
        annotations: "dict | None",
        column_renames: "dict | None",
        dropped_columns: "list[str] | None",
        constraints: "dict | None",
        generated_columns: "dict | None",
        partitioned_by: "list[str] | None" = None,
        dv_files_add: "list[str] | None" = None,
        partition_types: "dict | None" = None,
    ) -> int:
        """One publish attempt against base version ``prev``: builds
        the commit's delta record, derives the new state from it with
        the fold every reader replays (``_apply_commit_record``), and
        atomically links the record as ``prev + 1``. Raises
        ``ConcurrentCommitError`` if that version number was taken
        (the reconciliation loop in ``publish`` decides whether to
        re-base or surface it)."""
        base = self._manifest(prev) if prev is not None else {}
        if carry is not None:
            if prev is None:
                raise ValueError("carry requires an existing base version")
            base_files = set(base["files"])
            missing = [f for f in carry if f not in base_files]
            if missing:
                raise ValueError(
                    f"carry names files absent from version {prev}: "
                    f"{missing[:5]}"
                )
            files = list(carry) + staged
        elif mode == "append" and prev is not None:
            files = base["files"] + staged
        else:
            files = list(staged)
        version = 0 if prev is None else prev + 1
        now = time.time()
        # per-file column stats from the parquet FOOTERS (no data scan)
        # power manifest-level data skipping (read_where). New files are
        # footer-read here driver-side — at lake scale Delta collects
        # these from the writing tasks; footer reads are metadata-sized
        # either way. Files the base already has stats for keep them
        # (the fold carries them); stats the caller already holds
        # (restore reuses the target manifest's) skip the footer read.
        base_stats = base.get("stats", {})
        known = known_stats or {}
        add_stats = {
            f: known[f] for f in files if f not in base_stats and f in known
        }
        need_stats = [
            f for f in staged if f not in base_stats and f not in add_stats
        ]
        if len(need_stats) > 8:
            # wide commits (a big overwrite/backfill stages hundreds of
            # files): footer reads are independent metadata I/O —
            # overlap them instead of a serial driver loop. At true
            # lake scale Delta collects stats from the writing tasks;
            # a bounded thread pool is the single-node equivalent.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as pool:
                read = list(pool.map(self._stats_of, need_stats))
        else:
            read = [self._stats_of(f) for f in need_stats]
        add_stats.update((f, fs) for f, fs in zip(need_stats, read) if fs)
        # hive-partitioned tables: partition values live in directory
        # names, not file bytes — record each new file's values as
        # constant min=max column stats, so files_for_range/values
        # (and every read_where on top) prune on partition columns
        # exactly like Delta's partition pruning, with zero extra
        # machinery. NULL partitions simply record no stat
        # (conservative: the file is never pruned on that column).
        pby = partitioned_by
        if pby is None:
            pby = base.get("partitioned_by")
        if pby:
            for f in staged:
                pvals = _path_partitions(f)
                fs = dict(add_stats.get(f, base_stats.get(f, {})))
                for c in pby:
                    if pvals.get(c) is not None:
                        fs[c] = [pvals[c], pvals[c]]
                if fs != base_stats.get(f):
                    add_stats[f] = fs
        if dv_files is None:
            # inherit: deletes survive appends and partial rewrites;
            # a full overwrite materialized them
            inherit = prev is not None and (
                mode == "append" or carry is not None
            )
            dv_files = list(base.get("dv_files", [])) if inherit else []
            for d in dv_files_add or ():
                if d not in dv_files:
                    dv_files.append(d)
        # prune DV sidecars whose EVERY referenced data file has left
        # the manifest (a merge/compact rewrote them — the rewrite
        # materialized those deletes): their tombstones can no longer
        # match any row, so carrying them would grow the DV list (and
        # every reader's anti-join side) without bound. Each sidecar's
        # referenced-file set is computed ONCE (a metadata-sized
        # column read) and cached in the manifest under ``dv_refs``.
        # The cached set is the sidecar's FULL reference list, NEVER
        # shrunk to the currently-live subset: a restore() can re-add
        # a file a later rewrite had retired, and a live-shrunk cache
        # would then prune a sidecar that still tombstones rows of the
        # returning file — silently resurrecting deleted rows (round-6
        # advisor, high). Liveness is recomputed transiently against
        # each publish's own file set; unknown refs are kept whole
        # (conservative — pruning is an optimization, never semantics).
        base_refs = base.get("dv_refs", {})
        dv_refs_upd: dict = {}
        if dv_files:
            # sidecars reference data files by BASENAME (the join key
            # of the DV read path); manifests of shallow clones list
            # files by absolute path — compare on both forms
            file_set = set(files) | {os.path.basename(f) for f in files}
            kept_dvs = []
            for d in dv_files:
                refs = base_refs.get(d)
                if refs is None:
                    refs = self._dv_refs(d)
                if refs is None:
                    kept_dvs.append(d)  # unreadable refs: keep whole
                elif any(r in file_set for r in refs):
                    kept_dvs.append(d)
                    if d not in base_refs:
                        dv_refs_upd[d] = refs
            dv_files = kept_dvs
        if annotations:
            clash = _STATE_KEYS & annotations.keys()
            if clash:
                raise ValueError(
                    f"annotations may not shadow manifest keys: {sorted(clash)}"
                )
        # -- the delta record: what changed relative to the previous
        # version — O(changed files) bytes per commit, never O(table)
        base_fset, new_fset = set(base.get("files", [])), set(files)
        base_dvs = base.get("dv_files", [])
        base_dset, new_dset = set(base_dvs), set(dv_files)
        record = {
            "version": version,
            "mode": mode,
            "committed_at": now,
            # writer token for ambiguous-put recovery: on an object
            # store, a put can time out client-side AFTER succeeding
            # server-side; the store adapter's internal retry then
            # sees "already exists" from its OWN success. On
            # LogConflict we read the record back — a matching
            # commit_id means WE won and the publish is complete
            # (never a competitor: the token is generated fresh per
            # attempt and never leaves this call).
            "commit_id": uuid.uuid4().hex,
            "add": [f for f in files if f not in base_fset],
            "remove": [f for f in base.get("files", []) if f not in new_fset],
        }
        if add_stats:
            record["add_stats"] = add_stats
        dv_add = [d for d in dv_files if d not in base_dset]
        if dv_add:
            record["dv_add"] = dv_add
        dv_remove = [d for d in base_dvs if d not in new_dset]
        if dv_remove:
            record["dv_remove"] = dv_remove
        if dv_refs_upd:
            record["dv_refs_upd"] = dv_refs_upd
        txn_rec: dict = {}
        for app_id, txn_version in _txn_pairs(txn):
            a = str(app_id)
            old_v = txn_rec.get(a, {}).get("version", int(txn_version))
            txn_rec[a] = {
                "version": max(int(txn_version), int(old_v)),
                "at": now,
            }
        if txn_rec:
            record["txn"] = txn_rec
        # table metadata: only what the caller passed (an explicit
        # empty value is recorded: it clears) — the fold inherits the
        # rest
        passed = (
            partitioned_by,
            column_renames,
            dropped_columns,
            constraints,
            generated_columns,
        )  # in _CONFLICT_METADATA_KEYS order
        for k, v in zip(_CONFLICT_METADATA_KEYS, passed):
            if v is not None:
                record[f"set_{k}"] = v
        # pin the partition columns' TYPES once (immutable, like the
        # layout itself), when a commit establishes the layout: the
        # caller's declaration (commit() passes the written frame's
        # own schema — exact), else a path-value scan (the CONVERT
        # adoption path, Spark's inference lattice). Every read
        # surface casts to these, so batch/stream/CDF schemas cannot
        # drift apart.
        if pby and not base.get("partition_types"):
            ptypes = {
                c: str(t)
                for c, t in (partition_types or {}).items()
                if c in pby
            }
            undeclared = [c for c in pby if c not in ptypes]
            if undeclared:
                ptypes.update(
                    self._derive_partition_types(files, undeclared)
                )
            record["set_partition_types"] = ptypes
        if annotations:
            record["annotations"] = dict(annotations)
        state = self._apply_commit_record(base, record)
        # the caller's file and DV order is the published order; when
        # the fold's differs (carry/files passed in non-manifest
        # order — restore with reordered history; rare), restore it
        # and checkpoint, so a replay reads the same order
        reordered = (
            state["files"] != files or state.get("dv_files", []) != dv_files
        )
        if reordered:
            state["files"] = files
            if dv_files:
                state["dv_files"] = dv_files
        # checkpoint: always at version 0, every CHECKPOINT_INTERVAL
        # commits, and whenever the order was restored above
        if (
            prev is None
            or version % self.CHECKPOINT_INTERVAL == 0
            or reordered
        ):
            record["checkpoint"] = state
        # Reader-atomic publish through the LogStore seam: whatever
        # the store's put-if-absent primitive is (POSIX hard link, S3
        # If-None-Match, DynamoDB conditional put), failure means
        # another writer owns this version — the optimistic-
        # concurrency loser detection the reconcile loop rests on.
        try:
            self.log.put_if_absent(version, record)
        except LogConflict:
            # Ambiguous-put recovery (Delta's S3 commit semantics):
            # distinguish "another writer owns this version" from "my
            # own put landed but the acknowledgement was lost and the
            # store retried into its own success". The writer token
            # settles it — read the record back and compare. The
            # read-back is retried through a short bounded backoff: a
            # transient read fault here must NOT masquerade as a
            # competitor, because a blind append would then re-base
            # and republish the same staged files on top of its own
            # possibly-landed commit (double-applied rows). If the
            # record stays unreadable, ownership is undecidable —
            # raise the distinct non-reconcilable error instead.
            existing = None
            for backoff in (0.05, 0.2, 0.8, None):
                try:
                    existing = self.log.read(version)
                    break
                except (FileNotFoundError, OSError, ValueError) as e:
                    if backoff is None:
                        raise CommitOwnershipUnknown(
                            f"{self.root}: version {version} conflicted "
                            f"but could not be read back ({e!r}); the "
                            "publish may or may not have landed — "
                            "re-check table state before retrying"
                        ) from e
                    time.sleep(backoff)
            if existing.get("commit_id") != record["commit_id"]:
                raise ConcurrentCommitError(
                    f"version {version} was committed by another writer"
                ) from None
        self._cache_state(version, state)
        return version

    def commit_audited(
        self,
        df: DataFrame,
        checks: list[dict],
        mode: str = "append",
        expected_base=_UNSET,
    ) -> int:
        """Write-audit-publish: stage ``df``, run the quality
        expectations (operators/quality.expectations_report) against
        the STAGED files — the exact bytes a publish would expose —
        and publish only if every check passes; otherwise discard the
        staged files and raise ``AuditFailure`` carrying the report.

        The gate readers rely on: a failed batch never becomes a
        version, and the audit reads what was written, not what the
        writer thinks it wrote.
        """
        from jde_to_datalake_spark.operators.quality import (
            expectations_report,
        )

        df = self._apply_generated(df)
        self._enforce_constraints(df)
        staged = self.stage(self._to_physical_df(df))
        # the audit surface speaks LOGICAL names like every reader
        report = expectations_report(
            self._to_logical_df(
                self.read_staged(df.sparkSession, staged)
            ),
            checks,
        )
        failures = [r.asDict() for r in report.collect() if not r.passed]
        if failures:
            self.discard(staged)
            raise AuditFailure(failures)
        return self.publish(staged, mode=mode, expected_base=expected_base)

    # -- read -----------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
        as_of_timestamp=None,
    ) -> DataFrame:
        """Read a version. ``merge_schema=True`` unions the schemas of
        files written under different commits (schema evolution:
        columns absent from older files read as null).
        ``as_of_timestamp`` time-travels by wall clock instead of by
        version number (Delta's ``timestampAsOf``; see
        ``version_at`` for resolution rules) — mutually exclusive
        with ``version``."""
        if as_of_timestamp is not None:
            if version is not None:
                raise ValueError(
                    "read: pass version OR as_of_timestamp, not both"
                )
            version = self.version_at(as_of_timestamp)
        if version is None:
            version = self.latest_version()
        if version is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        files = self._manifest(version)["files"]
        if not files:
            raise FileNotFoundError(f"{self.root}@{version}: empty commit")
        df = self._scan_files(spark, files, merge_schema, version)
        return self._to_logical_df(self._apply_dvs(df, spark, version), version)

    # -- deletion vectors -------------------------------------------------
    #: past this many live tombstone rows the read-path anti-join is no
    #: longer broadcast (falls back to a shuffled anti-join); that is
    #: the signal to ``compact()`` and materialize the deletes
    DV_BROADCAST_MAX_ROWS: int = 5_000_000

    def dv_files(self, version: int | None = None) -> list[str]:
        """Deletion-vector sidecar files of a version (empty = none)."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return []
        return self._manifest(version).get("dv_files", [])

    def dv_relation(
        self, spark: SparkSession, version: int | None = None
    ) -> "DataFrame | None":
        """The version's tombstones as a (file, pos) DataFrame — file is
        the data file's basename, pos its parquet row index — or None
        when the version carries no deletion vectors."""
        dvs = self.dv_files(version)
        if not dvs:
            return None
        return spark.read.parquet(*[self.data.uri(f) for f in dvs])

    def _live_scan(
        self, spark: SparkSession, files: "list[str]", version: int
    ) -> DataFrame:
        """The LIVE rows of ``files`` at ``version``: a merge-schema
        parquet scan with deletion vectors applied and column mapping
        translated — the one read shape every partial-rewrite write
        path (update_where / merge_into / SCD2) starts from."""
        scan = self._scan_files(spark, files, True, version)
        return self._to_logical_df(
            self._apply_dvs(scan, spark, version), version
        )

    def _apply_dvs(self, df: DataFrame, spark, version) -> DataFrame:
        """Filter a scan of a version's data files down to live rows.

        Delta's deletion-vector read path re-expressed with public
        Spark: each data row's identity is (``_metadata.file_name``,
        ``_metadata.row_index``) — both stable for parquet regardless
        of split planning — and the tombstone set is a sidecar
        relation anti-joined against it. The sidecar is tiny relative
        to the table (deletes accumulate only until the next
        compaction), so the anti-join is BROADCAST: the 100 TB scan
        side never shuffles, and file pruning still happens first
        (tombstones of pruned-out files simply never match). Past
        ``DV_BROADCAST_MAX_ROWS`` live tombstones the hint is dropped
        (a shuffled anti-join beats broadcasting a giant bitmap) —
        the documented signal to run ``compact()``.
        """
        dvs = self.dv_files(version)
        if not dvs:
            return df
        dvr = spark.read.parquet(
            *[self.data.uri(f) for f in dvs]
        ).select(
            F.col("file").alias("__dvr_file"),
            F.col("pos").alias("__dvr_pos"),
        )
        total = sum(self.data.parquet_row_count(f) for f in dvs)
        if total <= self.DV_BROADCAST_MAX_ROWS:
            dvr = F.broadcast(dvr)
        return (
            df.withColumns(
                {
                    "__dv_file": F.col("_metadata.file_name"),
                    "__dv_pos": F.col("_metadata.row_index"),
                }
            )
            .join(
                dvr,
                (F.col("__dv_file") == F.col("__dvr_file"))
                & (F.col("__dv_pos") == F.col("__dvr_pos")),
                "left_anti",
            )
            .drop("__dv_file", "__dv_pos")
        )

    def delete_where(
        self,
        spark: SparkSession,
        predicate,
        prune_ranges: dict | None = None,
        retries: int = 0,
    ) -> int:
        """Row-level DELETE without rewriting any data file.

        Writes a deletion-vector sidecar naming the (file, row_index)
        of every live row matching ``predicate`` (a Column or SQL
        string), then publishes a manifest with the SAME data files
        plus the grown DV list — commit cost is O(matching rows) to
        write and one metadata publish, never O(table) rewrite. This
        is the GDPR/right-to-be-forgotten shape for a 100 TB training
        corpus: the delete is immediately visible to every reader
        (read/read_where/merge all apply DVs), and the physical
        rewrite happens later, amortized, in ``compact()``.

        ``prune_ranges`` ({column: (lo, hi)}, as ``files_for_ranges``)
        restricts the matching SCAN to stats-overlapping files — on a
        clustered table a targeted delete reads a fraction of the
        table. The ranges must be implied by ``predicate``: rows in
        pruned-out files are not examined, exactly like read_where's
        contract.

        Matching rows already tombstoned are not re-recorded (the scan
        applies existing DVs first), so repeated deletes stay compact.
        A predicate matching nothing is a no-op returning the current
        version. Snapshot-isolated like merge: a commit landing
        between the read and the publish fails this delete;
        ``retries`` re-runs it against the fresh snapshot (the same
        optimistic-conflict retry as ``merge`` — re-matching the
        predicate on the new snapshot is the correct outcome, and
        rows already tombstoned are never re-recorded).
        """
        return _retry_on_conflict(
            retries, self._delete_where_once, spark, predicate, prune_ranges
        )

    def _delete_where_once(
        self, spark: SparkSession, predicate, prune_ranges: dict | None
    ) -> int:
        prev = self.latest_version()
        if prev is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        if isinstance(predicate, str):
            predicate = F.expr(predicate)
        manifest = self._manifest(prev)
        files = (
            self.files_for_ranges(prune_ranges, prev)
            if prune_ranges
            else manifest["files"]
        )
        if not files:
            return prev
        scan = self._scan_files(spark, files, True, prev)
        hits = (
            # predicates speak LOGICAL names; the rename projection is
            # transparent to the _metadata columns selected below
            self._to_logical_df(self._apply_dvs(scan, spark, prev), prev)
            .filter(predicate)
            .select(
                F.col("_metadata.file_name").alias("file"),
                F.col("_metadata.row_index").alias("pos"),
            )
        )
        staging = f"_staging-{uuid.uuid4().hex}"
        # tombstones are (string, long) rows — tiny relative to the
        # scan. coalesce (narrow, no shuffle) keeps the sidecar count
        # bounded per delete so the manifest DV list stays metadata-
        # sized; a delete so large that 8 writers bottleneck is one
        # you should express as a rewrite instead.
        hits.coalesce(8).write.mode("overwrite").parquet(
            self.data.uri(staging)
        )
        new_dvs = []
        for f in self.data.walk_parquet(staging):
            dst = f"dv-{uuid.uuid4().hex}.parquet"
            self.data.move(os.path.join(staging, f), dst)
            new_dvs.append(dst)
        self.data.delete_tree(staging)
        live = []
        for f in new_dvs:
            if self.data.parquet_row_count(f) > 0:
                live.append(f)
            else:
                # empty part file: no tombstones from it
                self.data.delete_file(f)
        if not live:
            return prev
        return self.publish(
            [],
            mode="overwrite",
            expected_base=prev,
            carry=manifest["files"],
            dv_files_add=live,
            annotations={"operation": "DELETE"},
            # reconciliation read declaration: the matching scan read
            # every candidate file; with prune_ranges the predicate is
            # bounded (physical names — the stats key space), so a
            # key-disjoint concurrent writer commutes with this delete
            read_files=files,
            read_ranges=(
                {
                    self._to_physical_name(c, prev): b
                    for c, b in prune_ranges.items()
                }
                if prune_ranges
                else None
            ),
        )

    # -- row-level UPDATE ---------------------------------------------------
    def update_where(
        self,
        spark: SparkSession,
        assignments: dict,
        predicate,
        prune_ranges: dict | None = None,
        txn: "tuple[str, int] | list[tuple[str, int]] | None" = None,
        retries: int = 0,
    ) -> int:
        """Row-level UPDATE as a partial file rewrite — Delta's
        ``UPDATE <table> SET ... WHERE ...``.

        ``assignments`` maps LOGICAL column names to new-value
        expressions (Column or SQL string); ``predicate`` selects the
        rows to update (Column or SQL string). SQL-UPDATE evaluation
        order holds: every SET expression and the predicate see the
        PRE-update row, so ``{"a": "b", "b": "a"}`` swaps the two
        columns rather than chaining.

        Scale shape mirrors ``merge``: one pruned scan finds the files
        that CONTAIN a matching row (``prune_ranges`` restricts that
        scan by footer stats, same contract as ``delete_where``), only
        those files are rewritten, and every other file is carried
        into the new version by reference — a targeted update of a
        clustered table rewrites O(matching files), never O(table).
        Tombstoned rows are never updated or resurrected (the scan
        applies deletion vectors first), generated columns are
        recomputed on updated rows (and may not be assigned directly —
        Delta's GENERATED ALWAYS AS rule), CHECK constraints gate the
        post-update rows, and the change feed classifies the rewrite
        as update_preimage/update_postimage under a key like any other
        partial rewrite.

        Snapshot-isolated with the same optimistic ``retries`` loop as
        ``merge``. A predicate matching nothing is a no-op returning
        the current version.
        """
        return _retry_on_conflict(
            retries,
            self._update_where_once,
            spark,
            assignments,
            predicate,
            prune_ranges,
            txn,
        )

    def _update_where_once(
        self, spark, assignments, predicate, prune_ranges, txn
    ) -> int:
        prev = self.latest_version()
        if prev is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        if not assignments:
            raise ValueError("update_where: assignments must be non-empty")
        if isinstance(predicate, str):
            predicate = F.expr(predicate)
        gen = self.generated_columns(prev)
        for c in assignments:
            if c in gen:
                raise ValueError(
                    f"update_where: column {c!r} is GENERATED ALWAYS AS "
                    f"({gen[c]}) — assign its source columns and the "
                    "expression recomputes it"
                )
        manifest = self._manifest(prev)
        candidates = (
            self.files_for_ranges(prune_ranges, prev)
            if prune_ranges
            else manifest["files"]
        )
        if not candidates:
            return prev

        # one metadata-scale job: which files hold >=1 matching LIVE row
        touched_set = {
            os.path.basename(r["f"])
            for r in self._live_scan(spark, candidates, prev)
            .filter(predicate)
            .select(F.col("_metadata.file_name").alias("f"))
            .distinct()
            .collect()
        }
        if not touched_set:
            return prev
        by_base = {os.path.basename(f): f for f in manifest["files"]}
        touched = [by_base[b] for b in by_base if b in touched_set]
        untouched = [
            f for f in manifest["files"] if os.path.basename(f) not in touched_set
        ]
        scan = self._live_scan(spark, touched, prev)
        rows = scan
        # assignments naming a column the TOUCHED files don't carry are
        # schema evolution, exactly like commit/merge (there is no
        # table-wide schema to validate against — schema is per-file):
        # the pre-update value is NULL and the rewrite materializes the
        # column for these files. A genuinely-new name creates the
        # column, same as an evolved append would.
        for c in assignments:
            if c not in rows.columns:
                rows = rows.withColumn(c, F.lit(None))
        # flag FIRST (predicate over pre-update values), then replace all
        # assigned columns in ONE withColumns call so every SET expression
        # also resolves against the pre-update row
        flagged = rows.withColumn(
            "__upd", F.coalesce(predicate.cast("boolean"), F.lit(False))
        )
        new_vals = {
            c: F.when(
                F.col("__upd"),
                F.expr(e) if isinstance(e, str) else e,
            ).otherwise(F.col(c))
            for c, e in assignments.items()
        }
        updated = flagged.withColumns(new_vals)
        # generated columns recompute over the POST-update row; a
        # column declared after these files were written is absent
        # from the scan — the rewrite materializes it (files written
        # after the declaration always carry generated values)
        for name, expr_sql in gen.items():
            if name in updated.columns:
                updated = updated.withColumn(
                    name,
                    F.when(F.col("__upd"), F.expr(expr_sql)).otherwise(
                        F.col(name)
                    ),
                )
            else:
                updated = updated.withColumn(name, F.expr(expr_sql))
        # a SET expression wider than its column (bigint into int)
        # must not rewrite the touched files in the wider type while
        # carried files keep theirs — the same alignment as
        # _publish_rewrite; a value the column cannot hold raises
        updated = self._cast_like(updated, scan)
        self._enforce_constraints(
            updated.filter(F.col("__upd")).drop("__upd")
        )
        out = self._to_physical_df(updated.drop("__upd"), prev)
        return self.publish(
            self.stage(out),
            mode="overwrite",
            expected_base=prev,
            carry=untouched,
            txn=txn,
            annotations={"operation": "UPDATE"},
            # reconciliation read declaration: the probe scanned every
            # candidate file; with prune_ranges the predicate is
            # bounded by those footer ranges (physical names — the
            # stats key space), otherwise any concurrent add may match
            read_files=candidates,
            read_ranges=(
                {
                    self._to_physical_name(c, prev): b
                    for c, b in prune_ranges.items()
                }
                if prune_ranges
                else None
            ),
        )

    # -- change data feed -------------------------------------------------
    def read_changes(
        self,
        spark: SparkSession,
        v_from: int | None = None,
        v_to: int | None = None,
        key: "str | list[str] | None" = None,
        since_timestamp=None,
        until_timestamp=None,
    ) -> DataFrame:
        """NET row-level changes between two snapshots — Delta's
        ``table_changes`` re-expressed over the manifest diff, costing
        O(changed data), never O(table).

        Because commits carry untouched files BY REFERENCE, the
        manifest diff names exactly the files that changed: rows of
        files only in ``v_to`` are candidate inserts, rows of files
        only in ``v_from`` are candidate deletes, and files common to
        both are untouched data — except positions tombstoned between
        the versions (deletion-vector growth), which are deletes read
        by scanning ONLY the files the new tombstones name. Carried
        files are never scanned.

        With ``key=None``: emits ``_change_type`` in {insert, delete};
        a rewrite (merge/compact) of an unchanged row shows as a
        delete+insert pair — file-level truth, zero joins.

        With ``key``: the candidate sets are full-outer-joined on the
        key (over CHANGED files only) and classified as ``insert``,
        ``delete``, ``update_preimage``/``update_postimage``; rows
        rewritten byte-identical (compaction, carried-forward churn)
        cancel out. Requires key-unique snapshots — the invariant
        ``merge`` maintains; on append-duplicated tables use
        ``key=None``.

        Both versions must still be readable (``vacuum`` bounds how
        far back changes can be computed — the same trade Delta makes
        with its retention window).

        ``since_timestamp`` / ``until_timestamp`` bound the feed by
        wall clock instead of version number (Delta's starting/ending
        timestamp options): each resolves through ``version_at`` to
        the snapshot a reader at that instant saw, so the feed is
        "every change since instant A (up to instant B)". Mutually
        exclusive with the corresponding version argument.
        """
        if since_timestamp is not None:
            if v_from is not None:
                raise ValueError(
                    "read_changes: pass v_from OR since_timestamp, not both"
                )
            v_from = self.version_at(since_timestamp)
        if v_from is None:
            raise ValueError(
                "read_changes: v_from or since_timestamp is required"
            )
        if until_timestamp is not None:
            if v_to is not None:
                raise ValueError(
                    "read_changes: pass v_to OR until_timestamp, not both"
                )
            # Delta's endingTimestamp clamps past-the-newest-commit to
            # latest (unlike timestampAsOf, which errors).
            v_to = self.version_at(until_timestamp, clamp_future=True)
        if v_to is None:
            v_to = self.latest_version()
        if v_to is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        if v_from == v_to:
            raise ValueError("read_changes: v_from must differ from v_to")
        if v_from > v_to:
            raise ValueError(
                f"read_changes: v_from={v_from} is newer than v_to={v_to}"
            )
        m_from = self._manifest(v_from)
        m_to = self._manifest(v_to)
        from_set, to_set = set(m_from["files"]), set(m_to["files"])
        added = [f for f in m_to["files"] if f not in from_set]
        removed = [f for f in m_from["files"] if f not in to_set]
        common = [f for f in m_from["files"] if f in to_set]

        # the feed is presented in v_to's LOGICAL schema (Delta reads
        # changes under the end schema): every scan below translates
        # through the column mapping at v_to
        def _typed_empty(version):
            files = self._manifest(version)["files"]
            if not files:
                return self.read(spark, version, merge_schema=True).filter(
                    F.lit(False)
                )
            return self._to_logical_df(
                self._scan_files(spark, files, True, v_to).filter(
                    F.lit(False)
                ),
                v_to,
            )

        # candidate deletes: live-at-v_from rows of removed files ...
        if removed:
            old_rows = self._to_logical_df(
                self._apply_dvs(
                    self._scan_files(spark, removed, True, v_to),
                    spark,
                    v_from,
                ),
                v_to,
            )
        else:
            old_rows = _typed_empty(v_from)
        # ... plus common-file positions tombstoned in v_to but not in
        # v_from. New tombstones name their files, so only those files
        # are scanned (metadata-bounded collect of distinct names).
        dv_to = self.dv_relation(spark, v_to)
        if dv_to is not None and common:
            dv_from = self.dv_relation(spark, v_from)
            diff = dv_to
            if dv_from is not None:
                diff = dv_to.exceptAll(dv_from)
            diff = diff.filter(F.col("file").isin(common))
            tomb_files = [
                r["file"]
                for r in diff.select("file").distinct().collect()
            ]
            if tomb_files:
                tomb = (
                    self._scan_files(spark, tomb_files, True, v_to)
                    .withColumns(
                        {
                            "__dv_file": F.col("_metadata.file_name"),
                            "__dv_pos": F.col("_metadata.row_index"),
                        }
                    )
                    .join(
                        F.broadcast(
                            diff.select(
                                F.col("file").alias("__dvr_file"),
                                F.col("pos").alias("__dvr_pos"),
                            )
                        ),
                        (F.col("__dv_file") == F.col("__dvr_file"))
                        & (F.col("__dv_pos") == F.col("__dvr_pos")),
                        "left_semi",
                    )
                    .drop("__dv_file", "__dv_pos")
                )
                old_rows = old_rows.unionByName(
                    self._to_logical_df(tomb, v_to),
                    allowMissingColumns=True,
                )
        # candidate inserts: live-at-v_to rows of added files
        if added:
            new_rows = self._to_logical_df(
                self._apply_dvs(
                    self._scan_files(spark, added, True, v_to),
                    spark,
                    v_to,
                ),
                v_to,
            )
        else:
            new_rows = _typed_empty(v_to)

        if key is None:
            return old_rows.withColumn(
                "_change_type", F.lit("delete")
            ).unionByName(
                new_rows.withColumn("_change_type", F.lit("insert")),
                allowMissingColumns=True,
            )

        keys = [key] if isinstance(key, str) else list(key)
        cols = list(
            dict.fromkeys(old_rows.columns + new_rows.columns)
        )  # union, first-seen order
        val_cols = [c for c in cols if c not in keys]

        def _packed(df, side):
            present = set(df.columns)
            return df.select(
                F.struct(*[F.col(k) for k in keys]).alias(
                    f"__k_{side.strip('_')}"
                ),
                F.struct(
                    *[
                        (
                            F.col(c) if c in present else F.lit(None)
                        ).alias(c)
                        for c in val_cols
                    ]
                ).alias(side),
            )

        # join on per-field PLAIN equality, not struct equality: Spark
        # compares struct fields null-safely, which would pair a
        # deleted NULL-key row with an unrelated inserted NULL-key row
        # (and blow up M x N on many). A NULL key component must match
        # nothing — the same semantics as merge's multi-column
        # equi-join: NULL-keyed rows classify as plain delete/insert.
        po = _packed(old_rows, "__old")
        pn = _packed(new_rows, "__new")
        jcond = F.lit(True)
        for k in keys:
            jcond = jcond & (
                F.col(f"__k_old.`{k}`") == F.col(f"__k_new.`{k}`")
            )
        j = po.join(pn, jcond, "full_outer").select(
            F.coalesce(F.col("__k_old"), F.col("__k_new")).alias("__k"),
            "__old",
            "__new",
        )
        # rows rewritten byte-identical (compaction churn) cancel out
        # HERE — before the explode, so unchanged data costs one
        # null-safe struct compare and nothing downstream
        j = j.filter(~F.col("__old").eqNullSafe(F.col("__new")))
        tagged = j.select(
            F.col("__k"),
            F.when(
                F.col("__old").isNull(),
                F.array(
                    F.struct(
                        F.col("__new").alias("v"),
                        F.lit("insert").alias("t"),
                    )
                ),
            )
            .when(
                F.col("__new").isNull(),
                F.array(
                    F.struct(
                        F.col("__old").alias("v"),
                        F.lit("delete").alias("t"),
                    )
                ),
            )
            .otherwise(
                F.array(
                    F.struct(
                        F.col("__old").alias("v"),
                        F.lit("update_preimage").alias("t"),
                    ),
                    F.struct(
                        F.col("__new").alias("v"),
                        F.lit("update_postimage").alias("t"),
                    ),
                )
            )
            .alias("__changes"),
        )
        exploded = tagged.select(
            "__k", F.explode("__changes").alias("__c")
        )
        return exploded.select(
            *[F.col(f"__k.`{k}`").alias(k) for k in keys],
            *[F.col(f"__c.v.`{c}`").alias(c) for c in val_cols],
            F.col("__c.t").alias("_change_type"),
        )

    # -- data skipping ---------------------------------------------------
    def files_for_range(
        self,
        column: str,
        lower=None,
        upper=None,
        version: int | None = None,
    ) -> list[str]:
        """The subset of a version's files whose footer [min, max] for
        ``column`` overlaps [lower, upper] — manifest-level data
        skipping, the Delta read optimization. Files without stored
        stats for the column are KEPT (conservative: unknown can never
        wrongly drop rows); range predicates never match NULLs, so
        null presence is irrelevant to the overlap test."""
        if version is None:
            version = self.latest_version()
        if version is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        column = self._to_physical_name(column, version)
        lower = _stat_probe_value(lower)
        upper = _stat_probe_value(upper)
        manifest = self._manifest(version)
        stats = manifest.get("stats", {})
        return [
            f
            for f in manifest["files"]
            if not _stat_excludes(stats.get(f, {}).get(column), lower, upper)
        ]

    def files_for_ranges(
        self, ranges: dict, version: int | None = None
    ) -> list[str]:
        """Conjunctive multi-column skipping: a file survives only if
        its stats overlap EVERY ``{column: (lower, upper)}`` range —
        each additional clustered column prunes further."""
        if not ranges:
            raise ValueError("ranges must name at least one column")
        # pin the version ONCE: per-column latest_version() re-resolution
        # could mix file lists from two versions if a commit lands
        # mid-call (round-4 advisor finding)
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"{self.root}: no commits yet")
        files = None
        for column, (lower, upper) in ranges.items():
            picked = set(self.files_for_range(column, lower, upper, version))
            files = picked if files is None else files & picked
        # preserve manifest order for deterministic planning
        manifest = self._manifest(version)
        return [f for f in manifest["files"] if f in files]

    def files_for_values(
        self, column: str, values, version: int | None = None
    ) -> list[str]:
        """The subset of a version's files whose footer [min, max] for
        ``column`` contains AT LEAST ONE of ``values`` — the point-probe
        (IN-list) twin of :meth:`files_for_range`. On a table CLUSTERED
        by ``column`` (each file covering a narrow disjoint slice of
        the key space) a probe of V distinct values scans ~min(V,
        n_files) files instead of the whole table — the band-index
        probe path. Files without stored stats are KEPT (conservative);
        NULL probe values never match (IN semantics) and are dropped;
        an empty probe set matches nothing and returns no files."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"{self.root}: no commits yet")
        vals = sorted(
            {_stat_probe_value(v) for v in values if v is not None}
        )
        if not vals:
            return []
        column = self._to_physical_name(column, version)
        manifest = self._manifest(version)
        stats = manifest.get("stats", {})
        return [
            f
            for f in manifest["files"]
            if not _stat_excludes(
                stats.get(f, {}).get(column), values=vals
            )
        ]

    def read_where_in(
        self,
        spark: SparkSession,
        column: str,
        values,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """``read`` restricted to ``column IN (values)``: the scan
        plans over only the files whose footer stats can contain a
        probe value (see :meth:`files_for_values`), and the exact
        IN predicate still applies on top — pruning is a file-list
        optimization, never a semantics change."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"{self.root}: no commits yet")
        # normalize bytearray -> bytes: Spark collects BinaryType as
        # bytearray, which is unhashable/unsortable against bytes
        vals = sorted(
            {
                bytes(v) if isinstance(v, bytearray) else v
                for v in values
                if v is not None
            }
        )
        files = self.files_for_values(column, vals, version)
        if not files:
            return self.read(spark, version, merge_schema).filter(
                F.lit(False)
            )
        df = self._scan_files(spark, files, merge_schema, version)
        return self._to_logical_df(
            self._apply_dvs(df, spark, version).filter(
                F.col(self._to_physical_name(column, version)).isin(vals)
            ),
            version,
        )

    def read_where_all(
        self,
        spark: SparkSession,
        ranges: dict,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """``read_where`` over a conjunction of column ranges."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"{self.root}: no commits yet")
        files = self.files_for_ranges(ranges, version)
        # the exact predicate runs on the PHYSICAL scan (before the
        # logical rename projection), so column names are translated
        cond = F.lit(True)
        for column, (lower, upper) in ranges.items():
            p = self._to_physical_name(column, version)
            if lower is not None:
                cond = cond & (F.col(p) >= F.lit(lower))
            if upper is not None:
                cond = cond & (F.col(p) <= F.lit(upper))
        if not files:
            return self.read(spark, version, merge_schema).filter(F.lit(False))
        # merge_schema matches read() semantics on schema-evolved
        # tables: without it the pruned scan resolves to one file's
        # schema and silently drops evolved columns (round-4 advisor)
        df = self._scan_files(spark, files, merge_schema, version)
        return self._to_logical_df(
            self._apply_dvs(df, spark, version).filter(cond), version
        )

    def read_where(
        self,
        spark: SparkSession,
        column: str,
        lower=None,
        upper=None,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """``read`` restricted to ``lower <= column <= upper``: the scan
        plans over only the stats-overlapping files (a clustered or
        sorted table reads a fraction of its bytes), and the exact
        predicate still applies on top — pruning is a file-list
        optimization, never a semantics change. ``merge_schema``
        matches ``read()``'s schema-evolution behavior."""
        return self.read_where_all(
            spark, {column: (lower, upper)}, version, merge_schema
        )

    # -- upsert ---------------------------------------------------------
    @staticmethod
    def _cast_like(df: DataFrame, like: DataFrame) -> DataFrame:
        """Cast ``df``'s columns that ``like`` also has to ``like``'s
        types; other columns (evolved ones) pass through. The cast is
        Spark's ANSI cast, so a value the narrower type cannot hold
        raises instead of wrapping."""
        target = {f.name: f.dataType for f in like.schema.fields}
        casts = {
            f.name: F.col(f.name).cast(target[f.name])
            for f in df.schema.fields
            if f.name in target and f.dataType != target[f.name]
        }
        return df.withColumns(casts) if casts else df

    def _align_types(
        self, spark: SparkSession, df: DataFrame, version: int
    ) -> DataFrame:
        """Cast ``df``'s columns that already exist in the table to
        the table's merged column types (PHYSICAL names on both
        sides) — the insert-only path's alignment: ``_publish_inserts``
        stages the source frame directly, and WITHOUT alignment a
        source type that differs from the table's (an int batch into
        a bigint table, or the reverse) writes mixed-type files whose
        plain-read success depends on which footer Spark samples for
        the schema. The merged schema comes from a mergeSchema scan of
        every file (one Spark job). ``_publish_rewrite`` aligns to its
        touched-file scan instead, which it has already resolved."""
        files = self._manifest(version)["files"]
        if not files:
            return df
        scan = self._scan_files(spark, files, True, version)
        return self._cast_like(df, scan)

    def _probe_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        key: "str | list[str]",
        prev: "int | None",
        op: str,
        physical: bool = False,
    ) -> _KeyedBatch:
        """What a keyed writer (``merge``, ``merge_into``, SCD2) must
        know about ``batch`` against version ``prev`` before it
        stages, from ONE Spark job:

        - the duplicate-key guard: a key held by two MATCHABLE rows
          (every key component non-null) raises ``ValueError`` naming
          ``op`` — Delta errors when several source rows match one
          target row. A row with any NULL component matches nothing
          under equi-join semantics (a pure insert), so it is exempt;
        - the per-column key envelope, ``read_ranges``: the read
          predicate the publish declares for commit reconciliation
          (``{}`` when no row is matchable — an equi-join on NULL
          reads nothing);
        - the footer-stat file probe: each file's [min, max] per key
          column becomes one row of a metadata-scale ranges relation,
          and a broadcast range join probes the batch's DISTINCT keys
          against it, so a file is touched only when at least one
          batch key falls inside its range. Composite keys intersect
          the per-column tests (a row matching the whole tuple has
          every component inside its file's range), so each key
          column prunes further. Files lacking stats for a column stay
          touched (unknown range = may match).

        The guard aggregate and the per-column range joins are UNIONED
        into one relation and collected once. ``batch`` speaks logical
        names unless ``physical``; footer stats, ``keys`` and
        ``read_ranges`` are physical. With no table yet (``prev`` None)
        only the guard runs and ``touched``/``untouched`` are None."""
        keys = [key] if isinstance(key, str) else list(key)
        keys_phys = [self._to_physical_name(k, prev) for k in keys]
        if physical:
            keys = keys_phys
        matchable = F.lit(True)
        for k in keys:
            matchable = matchable & F.col(k).isNotNull()
        grouped = batch.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
        stats_df = grouped.agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.max(F.when(matchable, F.col("__n"))).alias("max_n"),
            *[f for k in keys for f in (
                F.min(k).alias(f"kmin_{k}"), F.max(k).alias(f"kmax_{k}")
            )],
            F.max(matchable.cast("int")).alias("any_match"),
        ).select(
            F.lit(-1).alias("__col"),
            F.lit(None).cast("string").alias("__file"),
            "*",
        )
        manifest = self._manifest(prev) if prev is not None else None
        ranged_by_col: "list[list[str]]" = []
        combined = stats_df
        if manifest is not None:
            file_stats = manifest.get("stats", {})
            for i, (kc, kp) in enumerate(zip(keys, keys_phys)):
                ranged = [
                    (f, st[0], st[1])
                    for f in manifest["files"]
                    for st in (file_stats.get(f, {}).get(kp),)
                    if st is not None
                ]
                ranged_by_col.append([f for f, _mn, _mx in ranged])
                if not ranged:
                    continue
                if any(
                    isinstance(mn, str) and mn.startswith(_B16)
                    for _f, mn, _mx in ranged
                ) and isinstance(batch.schema[kc].dataType, BinaryType):
                    # BINARY stats are stored hex-encoded; the join
                    # compares native bytes (Spark orders binary
                    # unsigned bytewise, the order the encoding keeps)
                    ranged = [
                        (f, _b16_decode(mn), _b16_decode(mx))
                        for f, mn, mx in ranged
                    ]
                rdf = spark.createDataFrame(
                    ranged, ["__file", "__mn", "__mx"]
                )
                combined = combined.unionByName(
                    grouped.select(F.col(kc).alias("__k"))
                    .dropna()
                    .distinct()
                    .join(
                        F.broadcast(rdf),
                        (F.col("__k") >= F.col("__mn"))
                        & (F.col("__k") <= F.col("__mx")),
                    )
                    .select(F.lit(i).alias("__col"), "__file")
                    .distinct(),
                    allowMissingColumns=True,
                )
        rows = combined.collect()
        guard = next(r for r in rows if r["__col"] == -1)
        if guard["max_n"] is not None and guard["max_n"] > 1:
            dup = (
                grouped.filter(F.col("__n") > 1)
                .filter(matchable)
                .limit(1)
                .collect()
            )
            dupkey = tuple(dup[0][k] for k in keys)
            raise ValueError(
                f"{op}: batch contains duplicate key "
                f"{dupkey if len(keys) > 1 else dupkey[0]!r} — a key may "
                "match at most one batch row (Delta MERGE contract); "
                "dedupe the batch first"
            )
        any_match = bool(guard["any_match"])
        read_ranges = (
            {
                kp: (guard[f"kmin_{k}"], guard[f"kmax_{k}"])
                for k, kp in zip(keys, keys_phys)
            }
            if any_match
            else {}
        )
        touched = untouched = None
        if manifest is not None:
            mf = manifest["files"]
            # no matchable key: an equi-join on NULL matches nothing,
            # so even stat-less files stay untouched
            excluded = set(mf)
            if any_match:
                hits = {
                    (r["__col"], r["__file"]) for r in rows if r["__col"] >= 0
                }
                excluded = {
                    f
                    for i, flist in enumerate(ranged_by_col)
                    for f in flist
                    if (i, f) not in hits
                }
            touched = [f for f in mf if f not in excluded]
            untouched = [f for f in mf if f in excluded]
        return _KeyedBatch(
            prev, manifest, guard, keys_phys, touched, untouched, read_ranges
        )

    def _publish_inserts(
        self,
        spark: SparkSession,
        p: _KeyedBatch,
        rows: DataFrame,
        txn,
        op: str,
        read_files: "list[str] | None" = None,
        physical: bool = False,
    ) -> int:
        """The insert-only keyed write: nothing existing changes, so
        ``rows`` are staged as new files and EVERY file of ``p.prev``
        is carried by reference. Logical ``rows`` get their generated
        columns filled, CHECK constraints enforced and names mapped
        to physical first (``physical``: the caller already did all
        three). ``read_files`` are the files scanned to find the
        inserts (none when no file can hold a batch key). Zero staged
        rows publish nothing and return ``p.prev``."""
        if not physical:
            rows = self._apply_generated(rows)
            self._enforce_constraints(rows)
            rows = self._to_physical_df(rows, p.prev)
        staged = self.stage(self._align_types(spark, rows, p.prev))
        if not staged or self.data.parquet_row_count(staged[0]) == 0:
            self.discard(staged)
            return p.prev
        return self.publish(
            staged,
            mode="overwrite",
            expected_base=p.prev,
            carry=p.manifest["files"],
            txn=txn,
            annotations={"operation": op},
            read_files=read_files or [],
            read_ranges=p.read_ranges,
        )

    def _publish_rewrite(
        self,
        p: _KeyedBatch,
        rows: DataFrame,
        scan: DataFrame,
        txn,
        op: str,
        physical: bool = False,
    ) -> int:
        """The partial-rewrite keyed write: ``rows`` (logical unless
        ``physical``) replace the live rows of ``p.touched``, every
        untouched file is carried by reference, and the publish
        declares the probe's read set (the touched files and the key
        envelope) for commit reconciliation. ``rows`` are cast to the
        types of ``scan``, the touched-file scan they were built from
        (same naming): a union with a wider batch type would otherwise
        rewrite the touched files in that type while carried files
        keep theirs. A rewrite that deletes every touched row
        publishes the carried files alone, not an empty part."""
        rows = self._cast_like(rows, scan)
        staged = self.stage(
            rows if physical else self._to_physical_df(rows, p.prev)
        )
        if not staged or self.data.parquet_row_count(staged[0]) == 0:
            self.discard(staged)
            staged = []
        return self.publish(
            staged,
            mode="overwrite",
            expected_base=p.prev,
            carry=p.untouched,
            txn=txn,
            annotations={"operation": op},
            read_files=p.touched,
            read_ranges=p.read_ranges,
        )

    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: "str | list[str]",
        txn: "tuple[str, int] | list[tuple[str, int]] | None" = None,
        retries: int = 0,
    ) -> int:
        """Keyed MERGE: matched rows replaced, new rows inserted —
        rewriting ONLY the files the batch can touch. If appends left
        a key with DUPLICATE target rows, all its copies collapse to
        the one batch row (the rewrite anti-joins matching keys out
        and inserts the batch row once) — the upsert re-establishes
        the key invariant, unlike ``merge_into``'s matched-update,
        which updates each copy independently (Delta parity).

        ``key`` may be a COMPOSITE list (the reference's ledger key
        ``(action_id, ingredient_id, lot_id)``, jde_helper.py:1367):
        rows match on equality of the whole tuple, a row with any NULL
        component matches nothing (pure insert), the duplicate guard
        applies per tuple, and the file probe intersects the
        per-column footer-stat tests so each key column prunes
        further.

        Concurrency: the publish declares this merge's read set (the
        touched files + the batch's key envelope), so a lost race
        against a COMMUTING writer — a blind append, a key-disjoint
        merge, an OPTIMIZE of untouched files — reconciles inside
        ``publish`` with no re-execution (see ``publish``'s commit-
        reconciliation contract). ``retries``: when the intervening
        commit genuinely overlaps (``ConcurrentCommitError``), re-run
        the whole merge against the NEW snapshot up to this many times
        — Delta's optimistic-conflict retry; a MERGE re-resolved
        against the fresher snapshot is the semantically correct
        outcome. Default 0 preserves the fail-loudly contract for
        callers that coordinate writers themselves.

        The partial-rewrite form of Delta's file-level MERGE, shared
        with ``merge_into`` and SCD2: one Spark job probes the batch's
        DISTINCT keys against every file's footer [min, max] for
        ``key``, so a file is touched only when at least one batch key
        falls inside its range. Untouched files are carried into the
        new version BY REFERENCE (``publish(carry=...)``); only touched
        files are read, anti-joined, and rewritten, and when no file
        can hold a batch key the batch is appended with nothing
        rewritten. Per-key membership (not batch-range overlap)
        matters because hash-valued keys span the whole key space in
        any batch: on a table kept key-clustered
        (``compact(cluster_by=key)``) a B-key micro-batch rewrites at
        most B files, not O(corpus) — the property that makes
        continuous ingestion viable at 100 TB. Files lacking stats for
        ``key`` are conservatively rewritten (unknown range = may
        match), so semantics never depend on stats being present.

        Delta-matching edges:
        - duplicate keys in ``updates`` raise ``ValueError`` (Delta
          errors on multiple source matches — silently inserting both
          copies would corrupt the key invariant);
        - an EMPTY updates frame is a no-op returning the current
          version (no empty commit; ``None`` when the table has no
          commits either);
        - touched files are read with ``merge_schema=True`` and the
          union allows missing columns, so MERGE composes with schema
          evolution. Because untouched files are carried unrewritten,
          a schema-evolved table must be read with
          ``merge_schema=True`` (exactly Delta's contract — old files
          keep their written schema until rewritten);
        - the publish is pinned to the version this merge READ
          (snapshot isolation): an intervening commit fails this merge
          instead of being silently overwritten.
        """
        return _retry_on_conflict(
            retries, self._merge_once, spark, updates, key, txn
        )

    def _merge_once(self, spark, updates, key, txn) -> int:
        prev = self.latest_version()
        # everything below operates in PHYSICAL column names: the
        # updates frame (logical, like every caller-facing surface) is
        # translated once, the key follows, and the internal raw scans
        # / stats lookups / final stage are physical by construction.
        # CHECK constraints gate the NEW rows here; kept rows were
        # validated at their own writes (or by add_constraint's scan);
        # generated columns fill/validate first (constraints may
        # reference them).
        updates = self._apply_generated(updates)
        self._enforce_constraints(updates)
        updates = self._to_physical_df(updates, prev)
        # three consumers read the batch (dup-guard/envelope agg, the
        # key probe, the final anti-join + stage): a lazy local
        # checkpoint computes it once and shares blocks instead of
        # re-running the source plan per job
        updates = updates.localCheckpoint(eager=False)
        # the guard runs BEFORE the empty-table path: a first merge
        # must reject duplicate keys exactly like every later one
        p = self._probe_batch(
            spark, updates, key, prev, "merge", physical=True
        )
        if p.guard["n_groups"] == 0:
            return prev  # empty batch: nothing to merge (None if no table yet)
        if prev is None:
            return self.commit(
                updates,
                mode="overwrite",
                expected_base=None,
                txn=txn,
                _physical=True,
                annotations={"operation": "MERGE"},
            )
        if not p.touched:
            return self._publish_inserts(
                spark, p, updates, txn, "MERGE", physical=True
            )
        current = self._apply_dvs(
            self._scan_files(spark, p.touched, True, prev),
            spark,
            prev,
        )
        kept = current.join(
            updates.select(*p.keys).distinct(), p.keys, "left_anti"
        )
        return self._publish_rewrite(
            p,
            kept.unionByName(updates, allowMissingColumns=True),
            current,
            txn,
            "MERGE",
            physical=True,
        )

    # -- full-clause MERGE --------------------------------------------------
    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        key: "str | list[str]",
        matched: "list[tuple] | tuple" = (),
        not_matched: "list[tuple] | tuple" = (("insert", None),),
        not_matched_by_source: "list[tuple] | tuple" = (),
        txn: "tuple[str, int] | list[tuple[str, int]] | None" = None,
        retries: int = 0,
    ) -> "int | None":
        """Delta's full MERGE INTO statement — the general form of
        ``merge`` (which is the common upsert fast path). Returns the
        published version; the CURRENT version when no clause acts
        (no-op), and ``None`` when the table has no commits yet and
        nothing inserts.

        Target and source rows are matched on equality of ``key`` —
        a single column or a COMPOSITE list (equality of the whole
        tuple; any NULL component matches nothing). A key holding
        DUPLICATE target rows (legal after blind appends) has EACH
        copy matched and updated/deleted independently — Delta's
        semantics, where only duplicate SOURCE matches error; contrast
        ``merge``, whose upsert collapses a key's copies to one row.
        Each row then takes the FIRST clause (in list order) whose
        condition holds,
        within its match class:

        - ``matched``: clauses over (target row, its matching source
          row) — ``("update", condition, set)`` or ``("delete",
          condition)``. ``set`` maps target columns to expressions;
          ``None``/``"*"`` means UPDATE SET * (every target column
          copied from the same-named source column where one exists).
        - ``not_matched``: source rows matching no target row —
          ``("insert", condition)`` inserts the full source row
          (INSERT *); conditions may reference source columns only.
        - ``not_matched_by_source``: target rows matching no source
          row — ``("update", condition, set)`` or ``("delete",
          condition)``; conditions/sets may reference target columns
          only. The classic full-sync idiom is one unconditional
          delete (target rows absent from the feed disappear).

        A row matching no clause is kept unchanged. Conditions and
        set expressions are Columns or SQL strings; inside matched
        clauses qualify ambiguous names with the aliases ``t.`` (the
        table) and ``s.`` (the source). Generated columns may not be
        assigned (they recompute over the post-update row, Delta's
        GENERATED ALWAYS AS rule); CHECK constraints gate updated and
        inserted rows.

        Scale shape: without ``not_matched_by_source`` clauses, the
        footer-stat key probe ``merge`` and SCD2 share bounds the
        rewrite to files that can hold a source key, and a call that
        changes no existing row (no file can hold a source key, or no
        ``matched`` clause) rewrites NOTHING — inserts are appended,
        all existing files carried by reference.
        ``not_matched_by_source`` inspects every target row by
        definition, so those calls rewrite all files — exactly Delta's
        cost for the same clause.

        Source rows must be key-unique (duplicate keys raise — Delta
        errors when multiple source rows match one target row); NULL
        source keys match nothing and flow to ``not_matched``.
        Snapshot-isolated with the same optimistic ``retries`` loop
        as ``merge``.
        """
        matched = [self._norm_clause(c, ("update", "delete")) for c in matched]
        not_matched = [self._norm_clause(c, ("insert",)) for c in not_matched]
        nbs = [
            self._norm_clause(c, ("update", "delete"))
            for c in not_matched_by_source
        ]
        for verb, _cond, aset in nbs:
            if verb == "update" and not isinstance(aset, dict):
                raise ValueError(
                    "merge_into: a not_matched_by_source update needs an "
                    "explicit set dict (there is no source row to copy *)"
                )
        gen = self.generated_columns()
        for verb, _cond, aset in matched + nbs:
            if isinstance(aset, dict):
                bad = sorted(set(aset) & set(gen))
                if bad:
                    raise ValueError(
                        f"merge_into: column(s) {bad} are GENERATED ALWAYS "
                        "AS (...) — assign their source columns and the "
                        "expressions recompute them"
                    )
        return _retry_on_conflict(
            retries,
            self._merge_into_once,
            spark,
            source,
            key,
            matched,
            not_matched,
            nbs,
            txn,
        )

    @staticmethod
    def _norm_clause(c, allowed: tuple) -> tuple:
        """Normalize a merge_into clause to (verb, condition, set)."""
        if not c or c[0] not in allowed:
            raise ValueError(
                f"merge_into: expected a clause starting with one of "
                f"{allowed}, got {c!r}"
            )
        verb = c[0]
        cond = c[1] if len(c) > 1 else None
        aset = c[2] if len(c) > 2 else None
        if verb == "update" and isinstance(aset, str) and aset != "*":
            raise ValueError(
                f"merge_into: update set must be a dict or '*', got {aset!r}"
            )
        if aset == "*":
            aset = None
        return (verb, cond, aset)

    @staticmethod
    def _clause_cond(cond):
        if cond is None:
            return F.lit(True)
        return F.expr(cond) if isinstance(cond, str) else cond

    def _merge_into_once(
        self, spark, source, key, matched, not_matched, nbs, txn
    ) -> int:
        prev = self.latest_version()
        keys = [key] if isinstance(key, str) else list(key)
        # the source feeds the guard/envelope agg, the key probe, the
        # full-outer join, and the insert projection: lazily
        # checkpoint it once (one fewer full source pass per call)
        source = source.localCheckpoint(eager=False)
        # guard + envelope + file probe in ONE job. The probe half is
        # wasted work only when a by-source clause forces a full
        # rewrite anyway (nbs) — metadata-scale joins, not worth a
        # second code path.
        p = self._probe_batch(spark, source, key, prev, "merge_into")

        def _inserts_of(frame_with_aliases, bare: bool):
            """Source rows passing any insert clause. ``bare``: the
            frame IS the source (no join, no s. alias)."""
            if not not_matched:
                return None
            cond = F.lit(False)
            for _verb, c, _set in not_matched:
                cond = cond | F.coalesce(
                    self._clause_cond(c).cast("boolean"), F.lit(False)
                )
            out = frame_with_aliases.filter(cond)
            if not bare:
                out = out.select("s.*")
            return out.drop("__src")

        src = source.withColumn("__src", F.lit(True)).alias("s")
        if prev is None:
            # no table yet: only not_matched clauses can act
            ins = _inserts_of(src, bare=True)
            if ins is None or p.guard["n_groups"] == 0:
                return prev
            return self.commit(
                ins,
                mode="overwrite",
                expected_base=None,
                txn=txn,
                annotations={"operation": "MERGE"},
            )

        if p.guard["n_groups"] == 0 and not nbs:
            return prev  # empty source, no by-source clause: no-op
        if nbs:
            # a by-source clause inspects EVERY target row: all files
            # are candidates (Delta pays the same full-rewrite cost)
            # ... and ABSENCE from the source matters, so a concurrent
            # add of any row could change the outcome: the read
            # predicate is unbounded (reconciliation always re-runs)
            p = p._replace(
                touched=list(p.manifest["files"]),
                untouched=[],
                read_ranges=None,
            )
        touched = p.touched

        if not touched or not (matched or nbs):
            # nothing existing changes: append the inserts (source rows
            # whose key no touched row holds), carry every file
            if touched:
                src = src.join(
                    self._live_scan(spark, touched, prev)
                    .select(*[F.col(k) for k in keys])
                    .distinct(),
                    on=keys,
                    how="left_anti",
                )
            ins = _inserts_of(src, bare=True)
            if ins is None:
                return prev
            return self._publish_inserts(
                spark, p, ins, txn, "MERGE", read_files=touched
            )

        live = self._live_scan(spark, touched, prev)
        # the touched scan has up to three consumers below (no-op
        # probe, kept-rows rewrite, insert anti-join); a lazy local
        # checkpoint computes it once and shares blocks instead of
        # re-scanning per consumer (round-2 multi-consumer lesson)
        live = live.localCheckpoint(eager=False)
        tcols = list(live.columns)

        # general path: one full-outer join over the touched rows
        t = live.withColumn("__tgt", F.lit(True)).alias("t")
        jcond = F.lit(True)
        for k in keys:
            jcond = jcond & (F.col(f"t.`{k}`") == F.col(f"s.`{k}`"))
        j = t.join(src, jcond, "full_outer")

        def _first_match(clauses, prefix):
            expr = F.lit(None).cast("string")
            for i in range(len(clauses) - 1, -1, -1):
                _verb, cond, _set = clauses[i]
                expr = F.when(
                    F.coalesce(
                        self._clause_cond(cond).cast("boolean"), F.lit(False)
                    ),
                    F.lit(f"{prefix}{i}"),
                ).otherwise(expr)
            return expr

        j = j.withColumn(
            "__act",
            F.when(
                F.col("__tgt").isNotNull() & F.col("__src").isNotNull(),
                _first_match(matched, "m"),
            ).when(F.col("__tgt").isNotNull(), _first_match(nbs, "n")),
        )

        # one probe job over the join: does ANY clause act? An
        # idempotent re-run whose conditions match nothing must be a
        # no-op commit-wise, not a byte-identical rewrite of every
        # key-touched file (the second scan below is the same
        # two-pass shape Delta's MERGE runs: find, then rewrite).
        ins_pred = F.lit(False)
        for _verb, c, _set in not_matched:
            ins_pred = ins_pred | F.coalesce(
                self._clause_cond(c).cast("boolean"), F.lit(False)
            )
        probe = j.agg(
            F.count(F.when(F.col("__act").isNotNull(), F.lit(1))).alias(
                "n_act"
            ),
            F.count(
                F.when(F.col("__tgt").isNull() & ins_pred, F.lit(1))
            ).alias("n_ins"),
        ).collect()[0]
        if probe["n_act"] == 0 and probe["n_ins"] == 0:
            return prev

        delete_labels = [
            f"m{i}" for i, (v, _c, _s) in enumerate(matched) if v == "delete"
        ] + [f"n{i}" for i, (v, _c, _s) in enumerate(nbs) if v == "delete"]

        def _resolved_set(aset):
            if aset is None:  # UPDATE SET *: same-named source columns
                return {
                    c: F.col(f"s.`{c}`")
                    for c in source.columns
                    if c in tcols and c not in gen
                }
            return {
                c: (F.expr(e) if isinstance(e, str) else e)
                for c, e in aset.items()
            }

        gen = self.generated_columns(prev)
        update_clauses = [
            (f"m{i}", _resolved_set(aset))
            for i, (v, _c, aset) in enumerate(matched)
            if v == "update"
        ] + [
            (f"n{i}", _resolved_set(aset))
            for i, (v, _c, aset) in enumerate(nbs)
            if v == "update"
        ]
        for _label, sd in update_clauses:
            unknown = sorted(set(sd) - set(tcols))
            if unknown:
                raise ValueError(
                    f"merge_into: set names unknown column(s) {unknown} — "
                    f"the table's live columns are {tcols}"
                )

        tgt = j.filter(F.col("__tgt").isNotNull())
        if delete_labels:
            tgt = tgt.filter(
                F.col("__act").isNull() | ~F.col("__act").isin(delete_labels)
            )
        out_cols = []
        for c in tcols:
            val = F.col(f"t.`{c}`")
            for label, sd in reversed(update_clauses):
                if c in sd:
                    val = F.when(F.col("__act") == label, sd[c]).otherwise(val)
            out_cols.append(val.alias(c))
        rewritten = tgt.select(*out_cols, F.col("__act"))
        # generated columns recompute over the post-update row; ones
        # declared after the touched files were written are absent
        # from the scan — the rewrite materializes them
        for name, expr_sql in gen.items():
            if name in rewritten.columns:
                rewritten = rewritten.withColumn(
                    name,
                    F.when(
                        F.col("__act").isNotNull(), F.expr(expr_sql)
                    ).otherwise(F.col(name)),
                )
            else:
                rewritten = rewritten.withColumn(name, F.expr(expr_sql))
        ins = _inserts_of(j.filter(F.col("__tgt").isNull()), bare=False)
        changed = rewritten.filter(F.col("__act").isNotNull()).drop("__act")
        final = rewritten.drop("__act")
        if ins is not None:
            ins = self._apply_generated(ins)
            changed = changed.unionByName(ins, allowMissingColumns=True)
            final = final.unionByName(ins, allowMissingColumns=True)
        self._enforce_constraints(changed)
        # a clause CAN delete every touched row: the rewrite then
        # publishes the shrunken file set (the probe above already
        # ruled out the no-op case)
        return self._publish_rewrite(p, final, live, txn, "MERGE")

    # -- streaming sink ---------------------------------------------------
    def foreach_batch_writer(self, mode: str = "append", key: str | None = None):
        """``foreachBatch`` function committing each micro-batch as one
        table version (append, or keyed MERGE when ``key`` is given).

        Spark re-delivers a micro-batch after crash-recovery with the
        SAME batch_id; committing via the log makes the re-delivery
        visible as a new version rather than silently double-counting
        — pair with a MERGE key (or an idempotency ledger) when the
        sink must be effectively-once.
        """

        def write(batch_df: DataFrame, batch_id: int) -> None:
            if key is not None:
                self.merge(batch_df.sparkSession, batch_df, key)
            else:
                self.commit(batch_df, mode=mode)

        return write

    def restore(self, to_version: int) -> int:
        """Delta RESTORE: roll the table back to ``to_version`` by
        publishing that version's exact state (files, stats, deletion
        vectors) as a NEW version — metadata-only, nothing copied,
        history preserved (the bad versions stay time-travelable until
        vacuumed; the reference's only recovery is a manual re-push).

        Fails with ``FileNotFoundError`` when the target manifest or
        any file it references has been vacuumed away — raise vacuum
        ``keep_last`` above the rollback window you need.

        The idempotent-txn map is carried from the CURRENT version,
        not the target (writer idempotence records must survive the
        rollback — Delta keeps setTransaction on RESTORE too). The
        flip side: a streaming writer whose batches are being rolled
        back still sees them as committed, so to re-ingest the
        rolled-back data, restart that stream from a FRESH checkpoint
        (new app lineage); resuming the old checkpoint would skip
        exactly those batches.
        """
        try:
            m = self._manifest(to_version)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"{self.root}: version {to_version} has no manifest — "
                "never committed, or vacuumed past keep_last"
            ) from None
        needed = list(m["files"]) + list(m.get("dv_files", []))
        missing = [f for f in needed if not self.data.exists(f)]
        if missing:
            raise FileNotFoundError(
                f"{self.root}: cannot restore to version {to_version} — "
                f"{len(missing)} referenced file(s) were vacuumed "
                f"(first: {missing[:3]})"
            )
        return self.publish(
            list(m["files"]),
            mode="overwrite",
            dv_files=list(m.get("dv_files", [])),
            known_stats=m.get("stats", {}),
            annotations={
                "operation": "RESTORE",
                "restored_from": int(to_version),
            },
            # RESTORE restores schema metadata too: the target's
            # column mapping, explicitly (empty = explicitly cleared)
            column_renames=m.get("column_renames", {}),
            dropped_columns=m.get("dropped_columns", []),
            constraints=m.get("constraints", {}),
            generated_columns=m.get("generated_columns", {}),
        )

    def clone_to(
        self,
        dest_root: str,
        version: int | None = None,
        log_store: "LogStore | None" = None,
    ) -> "VersionedTable":
        """Delta SHALLOW CLONE: create a new table at ``dest_root``
        whose first version references this table's data files (and
        deletion-vector sidecars) IN PLACE by absolute path — a
        metadata-only operation at any table size. The zero-copy dev
        branch of a 100 TB table: experiments read, merge, delete and
        compact the clone freely without touching the source.

        Divergence is copy-on-write by construction: ``merge`` /
        ``delete_where`` on the clone write new files into the CLONE
        root and carry untouched source files by reference;
        ``compact`` rewrites everything locally — i.e. it converts the
        clone shallow→deep (Delta's documented way to materialize).
        Footer stats carry over, so data skipping works on the clone
        from version 0.

        The one shared-fate caveat (Delta's too): ``vacuum`` on the
        SOURCE can delete files the clone still references — the
        clone's reads then fail with missing files. Vacuum of the
        CLONE never deletes source bytes (it only removes files that
        live in its own root).
        """
        if version is None:
            version = self.latest_version()
        if version is None:
            raise FileNotFoundError(f"{self.root}: no commits to clone")
        if self.partitioned_by(version):
            raise ValueError(
                "clone_to: shallow clones of hive-partitioned tables "
                "are not supported — the clone's basePath discovery "
                "cannot span another table's root; compact() into a "
                "new table instead"
            )
        m = self._manifest(version)
        clone = VersionedTable(
            dest_root,
            txn_retention_seconds=self.txn_retention_seconds,
            log_store=log_store,
        )
        if clone.latest_version() is not None:
            raise ValueError(
                f"{dest_root}: already a table (version "
                f"{clone.latest_version()}) — clone into an empty root"
            )

        def _abs(f: str) -> str:
            # cross-table references are ABSOLUTE locations; on an
            # object store the data seam's uri() is already absolute
            p = self.data.uri(f)
            return p if "://" in p else os.path.abspath(p)

        stats = {_abs(f): s for f, s in m.get("stats", {}).items()}
        clone.publish(
            [_abs(f) for f in m["files"]],
            mode="overwrite",
            dv_files=[_abs(f) for f in m.get("dv_files", [])],
            known_stats=stats,
            annotations={
                "operation": "CLONE",
                "cloned_from": os.path.abspath(self.root),
                "clone_source_version": int(version),
            },
            column_renames=m.get("column_renames", {}),
            dropped_columns=m.get("dropped_columns", []),
            constraints=m.get("constraints", {}),
            generated_columns=m.get("generated_columns", {}),
        )
        return clone

    # -- maintenance -----------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        target_partitions: int = 1,
        cluster_by: "str | list[str] | None" = None,
        zorder_bits: int = 4,
    ) -> int:
        """Rewrite the latest version's files into ``target_partitions``
        parquet files (small-file compaction as a normal overwrite
        commit — old versions stay readable until vacuumed). Pinned to
        the snapshot it read; commit reconciliation lets a concurrent
        blind append or key-disjoint merge land mid-compaction and
        both commit (the appended/merged files re-base into the new
        version by reference), while an overlapping rewrite still
        fails the compaction (re-run it) rather than being thrown
        away.

        ``cluster_by`` as ONE column range-partitions and sorts the
        rewrite on it — the OPTIMIZE-with-clustering move: each
        rewritten file covers a narrow disjoint value range, so the
        footer stats published with the commit make ``read_where`` on
        that column skip all but the overlapping files. (Costs one
        range shuffle; plain compaction stays a coalesce.)

        ``cluster_by`` as SEVERAL columns Z-ORDERS the rewrite
        (OPTIMIZE ZORDER BY): rows are laid out along the Morton curve
        of quantile-bucketed column values (the shared
        ``lake_maintenance.zorder_value`` kernel — one approxQuantile
        metadata pass per column, then a fixed fan of comparison+shift
        terms in whole-stage codegen, one range shuffle), so every
        clustered column — not just a primary — has narrow per-file
        ranges and ``read_where``/``files_for_ranges`` prunes on ANY
        of them. Linear clustering wins for one dominant filter
        column; z-order wins when queries filter on different columns
        at different times. ``zorder_bits=4`` (16 buckets/column, 62
        codegen terms for 2 columns) stays well under the JVM ~8 KB
        JIT method limit a 64-arm CASE chain once tripped; 16^k cells
        is plenty for FILE-level pruning at realistic file counts.
        """
        base = self.latest_version()
        latest = self.read(spark, base, merge_schema=True)
        # materialize generated columns table-wide: rows written before
        # the declaration lack the column; recomputing the whole column
        # is safe because write-time validation pins supplied values to
        # the expression anyway
        for gname, gexpr in self.generated_columns(base).items():
            latest = latest.withColumn(gname, F.expr(gexpr))
        rewritten = self._clustered_rewrite(
            latest, target_partitions, cluster_by, zorder_bits
        )
        # publish as a carry-[] partial rewrite (retiring every base
        # file) rather than a bare overwrite: the read declaration —
        # content of all base files, no dependence on absent rows —
        # lets reconciliation re-base the compaction over a concurrent
        # blind append instead of failing it. DV semantics are
        # unchanged: the rewrite materialized the tombstones, and the
        # publish prunes sidecars whose referenced files all retired.
        rewritten = self._apply_generated(rewritten)
        self._enforce_constraints(rewritten)
        base_files = (
            self._manifest(base)["files"] if base is not None else []
        )
        return self.publish(
            self.stage(self._to_physical_df(rewritten, base)),
            mode="overwrite",
            expected_base=base,
            carry=[],
            annotations={"operation": "OPTIMIZE"},
            read_files=base_files,
            read_ranges={},
        )

    def _clustered_rewrite(
        self, df: DataFrame, target_partitions, cluster_by, zorder_bits
    ) -> DataFrame:
        """The shared rewrite layout: coalesce, one-column range
        clustering, or multi-column z-order (see ``compact``)."""
        if isinstance(cluster_by, (list, tuple)) and len(cluster_by) == 1:
            cluster_by = cluster_by[0]
        if isinstance(cluster_by, (list, tuple)):
            from jde_to_datalake_spark.sources.lake_maintenance import (
                zorder_value,
            )

            cols = list(cluster_by)
            work, z = zorder_value(df, cols, bits_per_col=zorder_bits)
            return (
                work.withColumn("__z", z)
                .repartitionByRange(target_partitions, F.col("__z"))
                .sortWithinPartitions("__z", *cols)
                .drop("__z", *[f"__zi_{c}" for c in cols])
            )
        if cluster_by is not None:
            return df.repartitionByRange(
                target_partitions, F.col(cluster_by)
            ).sortWithinPartitions(cluster_by)
        return df.coalesce(target_partitions)

    def compact_files(
        self,
        spark: SparkSession,
        files: "list[str] | None" = None,
        max_file_bytes: "int | None" = None,
        target_partitions: int = 1,
        cluster_by: "str | list[str] | None" = None,
        zorder_bits: int = 4,
    ) -> int:
        """PARTIAL compaction — Delta's ``OPTIMIZE`` bin-packing:
        rewrite ONLY the named ``files`` (or, with ``max_file_bytes``,
        every data file smaller than that — the small-file sweep) into
        ``target_partitions`` new files, carrying everything else by
        reference. This is the maintenance primitive that scales: a
        100 TB table cannot afford ``compact()``'s full rewrite on a
        cadence, but sweeping the per-batch small files costs
        O(small files) while the settled bulk is untouched — exactly
        how Delta's OPTIMIZE [WHERE] amortizes small-file buildup.

        Semantics match ``compact`` restricted to the selection:
        tombstones of rewritten files are materialized (the rewrite
        reads live rows only) and their now-dead sidecars are pruned
        by the publish; tombstones of carried files survive untouched.
        ``cluster_by`` lays the rewritten slice out with narrow footer
        ranges — new files may overlap carried files' ranges (as in
        Delta), which skipping handles per file. Selecting zero or one
        file is a no-op returning the current version. Snapshot-
        pinned like ``compact``: an intervening commit fails it."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"{self.root}: no commits yet")
        manifest = self._manifest(base)
        all_files = manifest["files"]
        if files is None:
            if max_file_bytes is None:
                raise ValueError(
                    "compact_files: pass files=[...] or max_file_bytes=N"
                )
            files = [
                f
                for f in all_files
                if self.data.file_size(f) < max_file_bytes
            ]
        sel = set(files)
        missing = sorted(sel - set(all_files))
        if missing:
            raise ValueError(
                f"compact_files: not in version {base}: {missing[:5]}"
            )
        if len(sel) <= 1:
            return base  # nothing to pack
        carry = [f for f in all_files if f not in sel]
        scan = self._scan_files(
            spark, [f for f in all_files if f in sel], True, base
        )
        live = self._apply_dvs(scan, spark, base)
        # physical frame: translate cluster columns through the column
        # mapping, and materialize drops out of the rewritten slice
        # (same as compact — the new files shed the dead bytes)
        dropped = set(self.dropped_columns(base)) & set(live.columns)
        if dropped:
            live = live.drop(*dropped)
        if isinstance(cluster_by, str):
            cluster_by = self._to_physical_name(cluster_by, base)
        elif isinstance(cluster_by, (list, tuple)):
            cluster_by = [
                self._to_physical_name(c, base) for c in cluster_by
            ]
        rewritten = self._clustered_rewrite(
            live, target_partitions, cluster_by, zorder_bits
        )
        # frames here are PHYSICAL (straight from the files): stage
        # directly, bypassing the logical->physical translation.
        # Reconciliation declaration: the result depends only on the
        # rewritten slice's content (read_files) and on NO absent row
        # (read_ranges={}), so the sweep commutes with concurrent
        # appends and key-disjoint merges — maintenance never blocks
        # ingest.
        return self.publish(
            self.stage(rewritten),
            mode="overwrite",
            expected_base=base,
            carry=carry,
            annotations={"operation": "OPTIMIZE"},
            read_files=sorted(sel),
            read_ranges={},
        )

    def vacuum(
        self,
        keep_last: int = 1,
        retention_seconds: float = 3600.0,
        dry_run: bool = False,
    ) -> list[str]:
        """Drop manifests beyond the newest ``keep_last`` and delete
        data files no retained version references. Returns removed
        files. ``dry_run=True`` (Delta's VACUUM DRY RUN) returns the
        files a real run WOULD delete without touching anything —
        manifests, data files, and temp files all stay.

        ``retention_seconds`` guards IN-FLIGHT writers (the same hazard
        Delta's retention window exists for): a concurrent
        commit/commit_audited has staged files on disk that no
        manifest references YET — deleting them would let the publish
        succeed while pointing at missing files. Unreferenced files
        younger than the retention window are therefore kept; pass 0
        only when no writer can be active. Stale manifest temp files
        (crashed publishes) age out the same way, and so do
        ``_staging-*`` directories abandoned by writers that died
        before moving their files into place (judged on the NEWEST
        mtime inside the dir, so an in-flight write is never
        reclaimed; dir names ride in the returned list).
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        retained = vs[-keep_last:]
        referenced = set()
        for v in retained:
            m = self._manifest(v)
            referenced.update(m["files"])
            referenced.update(m.get("dv_files", []))
        # the oldest retained record must carry a materialized state:
        # its predecessors (possibly including the checkpoint it
        # reconstructs from) are about to be deleted. Augmenting a
        # delta record with its own checkpoint adds no new meaning
        # (the state is derived from the log being trimmed), and the
        # store's replace() is reader-atomic — they see the old record
        # or the augmented one, never a torn file.
        if dry_run:
            cutoff = time.time() - retention_seconds
            return [
                f
                for f, mt in sorted(self.data.parquet_mtimes().items())
                if f not in referenced and mt <= cutoff
            ] + self._stale_staging_dirs(cutoff)
        if retained and vs[:-keep_last]:
            oldest = retained[0]
            rec = self._read_record(oldest)
            if "files" not in rec and "checkpoint" not in rec:
                rec["checkpoint"] = self._manifest(oldest)
                self.log.replace(oldest, rec)
        # vacuum is the ONE operation that deletes manifests — drop the
        # state cache so vacuumed versions fail loudly at the record
        # read, not at a ghost file scan
        self._manifest_cache.clear()
        cutoff = time.time() - retention_seconds
        removed = []
        for v in vs[:-keep_last]:
            self.log.delete(v)
        # one data-plane listing feeds both the unreferenced check and
        # the retention gate (object store: a single ListObjectsV2
        # sweep whose LastModified rides along for free)
        for f, mt in sorted(self.data.parquet_mtimes().items()):
            if f not in referenced and mt <= cutoff:
                self.data.delete_file(f)
                removed.append(f)
                # drop now-empty partition directories (hive layouts);
                # a concurrent writer can repopulate one between the
                # listdir check and the rmdir — losing the cleanup race
                # is fine, crashing the sweep is not (no-op on object
                # stores: they have no empty dirs)
                self.data.prune_empty_dirs(f)
        self.log.clean_stale(cutoff)
        # reclaim crashed staging dirs: a writer that died between
        # Spark's staging write and the move-into-place loop leaves a
        # `_staging-*` dir that `_walk_parquet` (correctly) never
        # surfaces — without this sweep it would leak forever.
        for name in self._stale_staging_dirs(cutoff):
            self.data.delete_tree(name)
            removed.append(name)
        return removed

    def _stale_staging_dirs(self, cutoff: float) -> list[str]:
        """``_staging-*`` dirs whose NEWEST internal mtime predates
        ``cutoff`` — abandoned by crashed writers. Judging on the
        newest mtime (not the dir's) means an in-flight write still
        producing files is never reclaimed even if it started long
        ago; entries moving mid-walk mark the owner as alive."""
        return [
            name
            for name, newest in sorted(
                self.data.top_dirs(("_staging-",)).items()
            )
            if newest <= cutoff
        ]


def commit_drift_checked(
    table: VersionedTable,
    df: "DataFrame",
    column: str,
    edges: list[float],
    max_chi2: float,
    mode: str = "append",
):
    """Drift-gated commit: stage ``df``, compare the STAGED rows'
    distribution of ``column`` against the table's current version
    (operators/quality.histogram_drift with fixed ``edges``), and
    publish only when the summed chi-square drift stays within
    ``max_chi2`` — otherwise discard the staged files and raise
    ``AuditFailure`` carrying the per-bucket report rows.

    The same write-audit-publish discipline as ``commit_audited``
    (the audit reads the staged bytes, not the writer's plan), with a
    TWO-snapshot check instead of row-level expectations: the gate
    real feeds need for "this batch looks nothing like the table".
    An empty table (no commits yet) publishes unconditionally — there
    is no baseline to drift from.
    """
    from jde_to_datalake_spark.operators.quality import histogram_drift

    spark = df.sparkSession
    base_version = table.latest_version()
    df = table._apply_generated(df)
    table._enforce_constraints(df)
    staged = table.stage(table._to_physical_df(df))
    if base_version is None:
        return table.publish(staged, mode=mode, expected_base=None)
    report = histogram_drift(
        table.read(spark, base_version),
        # the drift check speaks LOGICAL names, like the base read
        table._to_logical_df(table.read_staged(spark, staged)),
        column,
        edges=edges,
    )
    rows = report.collect()
    total = sum(r["chi2_term"] for r in rows if r["chi2_term"] is not None)
    if total > max_chi2:
        table.discard(staged)
        raise AuditFailure(
            [
                {
                    "check_name": f"drift__{column}",
                    "chi2_total": total,
                    "max_chi2": max_chi2,
                    **{k: r[k] for k in ("bucket", "n_base", "n_cur")},
                }
                for r in rows
            ]
        )
    return table.publish(staged, mode=mode, expected_base=base_version)
