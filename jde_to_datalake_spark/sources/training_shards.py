"""Sharded training-data export: the corpus pipeline's last mile.

``assemble_packs`` yields (pack_id, tokens, n_toks) rows; a trainer
wants them as immutable, size-bounded shard files plus a manifest it
can use for deterministic data ordering, resumable epochs, and
integrity checks. (The reference's analogue is the per-batch dispatch
ledger — jde_helper.py's "send only what the ledger has not seen" —
applied to a one-shot artifact: publish once, verify forever.)

Layout::

    <root>/shards-<uuid>/shard=<n>/*.parquet   the pack rows of shard n
    <root>/_log/00000000000.json               the manifest, LAST

Design rules (the versioned-table commit protocol applied to a
write-once artifact):

- shard membership is a PURE FUNCTION of the pack id
  (``pack_id // rows_per_shard``), never of task layout —
  ``maxRecordsPerFile`` splits depend on scheduling, so a retried
  stage could emit different shard contents under that scheme, which
  breaks resumable training (epoch N+1 must see byte-identical
  shards);
- one repartition on the shard key co-locates each shard in a single
  task, so every ``shard=<n>`` directory holds exactly one file —
  the trainer-side read unit IS the shard;
- data files land FIRST, directly under their final unique-named
  directory (``shards-<uuid>`` — no rename anywhere on the data
  plane, so the layout deploys unchanged on an object store); the
  manifest lands LAST through the LogStore seam's ``PointerSlot``
  (put-if-absent — POSIX link locally, ``If-None-Match`` on S3) and
  records which data dir is current — a reader that resolves the
  manifest only ever sees a complete export, and a concurrent second
  writer loses the manifest race and FAILS (cleaning up its own
  orphan data dir) instead of silently corrupting the artifact;
- per-shard ``row_hash`` is an ORDER-INDEPENDENT aggregate (the sum
  of per-row ``xxhash64``, accumulated as DECIMAL(38,0) because an
  int64 sum of hashes overflows and Spark 4's ANSI mode correctly
  throws on that), so integrity verification is one map-side-combined
  aggregation — no sort, no collect of data.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jde_to_datalake_spark.sources.log_store import (
    LogConflict,
    LogStore,
    PayloadStore,
    PointerSlot,
    PosixLogStore,
    PosixPayloadStore,
)


def _slot(root: str, store: "LogStore | None") -> PointerSlot:
    return PointerSlot(store or PosixLogStore(root))


def _payloads(
    root: str, payload_store: "PayloadStore | None"
) -> PayloadStore:
    """The data-dir plane (where `shards-*` actually live): listing
    with mtimes for the staging sweep, prefix reaping, and the URI
    Spark reads/writes — injectable like the manifest's ``store``, so
    the whole artifact deploys on an object store (default POSIX
    under ``root``)."""
    return payload_store or PosixPayloadStore(root)


def _row_hash(id_col: str, tokens_col: str) -> F.Column:
    """Per-row content hash: xxhash64 over the id and the token stream
    (joined with an out-of-band separator so ["ab","c"] != ["a","bc"])."""
    return F.xxhash64(
        F.col(id_col), F.array_join(F.col(tokens_col), "\x1f")
    )


def _shard_hash(id_col: str, tokens_col: str) -> F.Column:
    """Order-independent shard digest: exact decimal sum of the row
    hashes, emitted as a string (equality is all a digest needs; a
    string survives JSON round-trips without precision loss)."""
    return (
        F.sum(_row_hash(id_col, tokens_col).cast("decimal(38,0)"))
        .cast("string")
    )


def write_training_shards(
    packs: DataFrame,
    root: str,
    rows_per_shard: int = 1024,
    id_col: str = "pack_id",
    tokens_col: str = "tokens",
    store: "LogStore | None" = None,
    payload_store: "PayloadStore | None" = None,
) -> dict:
    """Export pack rows as size-bounded shards + manifest; returns the
    manifest dict. Raises ``FileExistsError`` if ``root`` already holds
    a manifest — the artifact is write-once (export to a fresh root,
    or version roots the way the versioned table versions manifests).
    ``store`` injects the manifest's publish primitive (default POSIX
    under ``<root>/_log``); ``payload_store`` injects the data-dir
    plane the same way.

    Cost: ONE shuffle (the repartition on the derived shard key); the
    stats aggregation reads back the written files (so the manifest
    describes the bytes on disk, not the plan that produced them) and
    is map-side combined to |shards| rows.
    """
    if rows_per_shard <= 0:
        raise ValueError("rows_per_shard must be positive")
    if payload_store is None:
        # default-POSIX deployment: the root dir must exist before
        # the slot store and Spark write under it (an object store
        # has no dirs to create)
        os.makedirs(root, exist_ok=True)
    payloads = _payloads(root, payload_store)
    slot = _slot(root, store)
    if slot.get() is not None:
        raise FileExistsError(
            f"{root} already holds a manifest — training shards are "
            "write-once"
        )

    # DIV = exact integer division (a double `/` would round above
    # 2^53); pack ids are dense from 0, so shards are balanced by
    # construction
    sharded = packs.withColumn(
        "shard", F.expr(f"CAST({id_col} DIV {rows_per_shard} AS BIGINT)")
    )
    # data files land directly under their FINAL unique-named dir —
    # no rename on the data plane (an object store has none); the
    # manifest's exclusive publish below decides which dir is current,
    # so a racing second export never touches the winner's files
    data_name = f"shards-{uuid.uuid4().hex}"
    data_dir = payloads.uri(data_name)
    (
        sharded.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(data_dir)
    )

    spark = packs.sparkSession
    # read back with the EXPLICIT schema: a zero-pack export writes no
    # part files under partitionBy (only _SUCCESS), and schema
    # inference on that directory fails — with the schema pinned, an
    # empty export is an ordinary empty frame and the whole path stays
    # total (the manifest also persists the schema for readers)
    schema_json = sharded.schema.json()
    written = spark.read.schema(sharded.schema).parquet(data_dir)
    stats = (
        written.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.size(F.col(tokens_col))).cast("bigint").alias("n_tokens"),
            _shard_hash(id_col, tokens_col).alias("row_hash"),
        )
        .orderBy("shard")
        .collect()  # |shards| rows — metadata-scale by construction
    )
    manifest = {
        "rows_per_shard": rows_per_shard,
        "id_col": id_col,
        "tokens_col": tokens_col,
        "schema": schema_json,
        "data_dir": data_name,
        "n_shards": len(stats),
        "n_rows": sum(r["n_rows"] for r in stats),
        "n_tokens": sum(r["n_tokens"] for r in stats),
        "shards": [
            {
                "shard": r["shard"],
                "n_rows": r["n_rows"],
                "n_tokens": r["n_tokens"],
                "row_hash": r["row_hash"],
            }
            for r in stats
        ],
    }
    # publish LAST, exclusively: losing the put means a concurrent
    # export won the whole artifact — remove our orphan data dir and
    # fail, the winner's files untouched. The unique data_dir doubles
    # as a writer token: a lost-ACK store (our own put landed, then
    # reported conflict) is recognized by reading the record back.
    try:
        slot.create(manifest)
    except LogConflict:
        existing = slot.get()
        if existing is not None and existing.get("data_dir") == data_name:
            return manifest  # our own put landed; ACK was lost
        try:
            payloads.delete_dir(data_name)
        except Exception:  # noqa: BLE001 — cleanup is advisory
            pass  # clean_stale_stagings reclaims the orphan later
        raise FileExistsError(
            f"{root}: another export won the manifest race"
        ) from None
    return manifest


def read_manifest(root: str, store: "LogStore | None" = None) -> dict:
    manifest = _slot(root, store).get()
    if manifest is None:
        raise FileNotFoundError(f"{root}: no training-shard manifest")
    return manifest


def read_training_shards(
    spark: SparkSession,
    root: str,
    shards: list[int] | None = None,
    verify: bool = False,
    store: "LogStore | None" = None,
    payload_store: "PayloadStore | None" = None,
) -> DataFrame:
    """Read exported packs through the manifest. ``shards`` selects a
    subset (the filter on the partition column prunes to those
    directories — a worker reading its assignment touches only its
    files). ``verify=True`` recomputes the order-independent per-shard
    hashes and raises ``ValueError`` on any mismatch before returning.
    """
    from pyspark.sql.types import StructType

    manifest = read_manifest(root, store=store)
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    df = spark.read.schema(schema).parquet(
        _payloads(root, payload_store).uri(manifest["data_dir"])
    )
    if shards is not None:
        unknown = set(shards) - {s["shard"] for s in manifest["shards"]}
        if unknown:
            raise ValueError(f"unknown shards requested: {sorted(unknown)}")
        df = df.filter(F.col("shard").isin([int(s) for s in shards]))
    if verify:
        expected = {
            s["shard"]: (s["n_rows"], s["row_hash"])
            for s in manifest["shards"]
            if shards is None or s["shard"] in set(shards)
        }
        got = {
            r["shard"]: (r["n_rows"], r["row_hash"])
            for r in df.groupBy("shard")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                _shard_hash(
                    manifest["id_col"], manifest["tokens_col"]
                ).alias("row_hash"),
            )
            .collect()
        }
        if got != expected:
            bad = sorted(
                k
                for k in set(expected) | set(got)
                if expected.get(k) != got.get(k)
            )
            raise ValueError(f"shard integrity check failed: {bad}")
    return df


def clean_stale_stagings(
    root: str,
    store: "LogStore | None" = None,
    retention_seconds: float = 3600.0,
    payload_store: "PayloadStore | None" = None,
) -> list[str]:
    """Remove ``shards-*`` data directories that no manifest
    references — the debris of a crashed export (died between the
    data write and the manifest publish) or a losing racer. The
    manifest-referenced directory is never touched. Returns the
    removed paths — the shard-artifact analog of the versioned
    table's ``vacuum``, INCLUDING its in-flight-writer guard: an
    unreferenced dir is reclaimed only when the newest mtime inside
    it predates ``retention_seconds`` (an export that has landed its
    data but not yet its manifest is mid-publish, not debris — pass 0
    only when no exporter can be active), and the manifest is
    re-read immediately before each delete so a publish that lands
    mid-sweep keeps its data. The walk/reap go through the payload
    store (listing with mtimes, prefix delete), and every step is
    ADVISORY under faults — a throttled listing or failed delete
    defers to the next sweep, never raises past it."""
    import time

    removed = []
    slot = _slot(root, store)
    payloads = _payloads(root, payload_store)
    cutoff = time.time() - retention_seconds
    try:
        dirs = payloads.payload_dirs(("shards-", "_shards-"))
    except Exception:  # noqa: BLE001 — the sweep is advisory
        return removed  # throttled listing: reclaim next sweep
    for name in sorted(dirs):
        if dirs[name] > cutoff:
            continue
        # authoritative re-check right before the destructive step:
        # the winning manifest may have landed since the sweep began
        manifest = slot.get()
        if manifest is not None and manifest.get("data_dir") == name:
            continue
        try:
            payloads.delete_dir(name)
        except Exception:  # noqa: BLE001 — the reap is advisory
            continue  # partial deletes re-list and retry next sweep
        removed.append(payloads.uri(name))
    return removed


def epoch_shard_order(
    root: str, seed: int, store: "LogStore | None" = None
) -> list[int]:
    """Deterministic per-epoch shard visit order: shards sorted by
    sha256(seed, shard) — a pure function of the manifest, computed
    driver-side (|shards| items). Different seeds give different
    permutations; the same seed always gives the same one, so a
    training run that restarts mid-epoch resumes the identical order.
    """
    import hashlib

    return sorted(
        (s["shard"] for s in read_manifest(root, store=store)["shards"]),
        key=lambda sh: (
            hashlib.sha256(f"{seed}\x1f{sh}".encode()).hexdigest(), sh
        ),
    )


def read_shard_shuffled(
    spark: SparkSession,
    root: str,
    shard: int,
    seed: int,
    store: "LogStore | None" = None,
    payload_store: "PayloadStore | None" = None,
) -> DataFrame:
    """One shard's rows in a seeded deterministic order: sorted by
    xxhash64(seed, pack_id). The sort is a GLOBAL orderBy — a shard
    file larger than ``spark.sql.files.maxPartitionBytes`` is split
    into several input partitions, and a per-partition sort would
    order each split independently, making the overall row order
    depend on split/config (round-4 advisor finding). A shard is one
    task's worth of data by construction, so the global sort stays
    cheap; combined with ``epoch_shard_order`` this is the standard
    two-level training shuffle (shard order x intra-shard order),
    both replayable from (manifest, seed) alone.
    """
    manifest = read_manifest(root, store=store)
    df = read_training_shards(
        spark, root, shards=[shard], store=store,
        payload_store=payload_store,
    )
    return df.orderBy(
        F.xxhash64(F.lit(int(seed)), F.col(manifest["id_col"])),
        F.col(manifest["id_col"]),
    )
