"""The corpus-ingestion half of the ``sync`` workload's tick.

Each tick hands one micro-batch (a parquet file generated at set-up) to
``streaming.ingest.ingest_batch`` with the bloom prefilter, the
funnel-metrics table and a txn stamp, as the engine's ``foreachBatch``
writer calls it, then runs ``maintain_index_tables`` with the writer's
arguments, so compaction fires on its version cadence within a run.

Batches mix fresh documents from the generated ``documents`` table,
exact re-sends of documents ingested by an earlier batch (the ground
truth for ``n_known``) and near-duplicates of earlier documents (one
word changed, so novel content).
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from datagen import WORDS

# Guesses: corpus ingestion has no counterpart in the reference, so no
# re-send or near-duplicate share can be taken from it.
RESEND_PCT = 20
NEAR_DUP_PCT = 10
COMPACT_EVERY = 3
APP_ID = "perfbench"


def build_batches(docs: list[str], n_batches: int, size: int, seed: int):
    """Seeded batches: (rows, n_resent) per batch, rows = (doc_id, text)."""
    rng = random.Random(seed)
    fresh = iter(docs)
    ingested: list[str] = []
    seen: set[str] = set()
    doc_id = 0
    out = []
    for _ in range(n_batches):
        n_resend = len(ingested) and size * RESEND_PCT // 100
        n_near = len(ingested) and size * NEAR_DUP_PCT // 100
        texts = rng.sample(ingested, n_resend)
        new: list[str] = []
        while len(new) < n_near:
            words = rng.choice(ingested).split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            t = " ".join(words)
            if t not in seen:
                seen.add(t)
                new.append(t)
        while len(texts) + len(new) < size:
            t = next(fresh)
            if t not in seen:
                seen.add(t)
                new.append(t)
        rows = texts + new
        rng.shuffle(rows)
        out.append(([(doc_id + i, t) for i, t in enumerate(rows)], n_resend))
        doc_id += size
        ingested.extend(new)
    return out


class Corpus:
    """The versioned corpus, fingerprint index, bloom filter and funnel
    tables under ``root``, fed one generated batch per tick."""

    def __init__(self, spark, root: str, docs: list[str], n_batches: int,
                 size: int, seed: int):
        from jde_to_datalake_spark.sources.versioned import VersionedTable

        self.spark = spark
        self.size = size
        self.batches = build_batches(docs, n_batches, size, seed)
        self.paths = []
        for b, (rows, _) in enumerate(self.batches):
            p = os.path.join(root, "incoming", f"batch_{b:04d}.parquet")
            os.makedirs(os.path.dirname(p), exist_ok=True)
            pq.write_table(pa.table({
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
            }), p)
            self.paths.append(p)
        self.corpus, self.index, self.bloom, self.metrics = (
            VersionedTable(os.path.join(root, n))
            for n in ("corpus", "index", "bloom", "metrics")
        )
        self.tables = [self.corpus, self.index, self.metrics, self.bloom]

    def ingest(self, b: int) -> dict:
        import jde_to_datalake_spark.streaming.ingest as ingest_mod

        stats = ingest_mod.ingest_batch(
            self.spark.read.parquet(self.paths[b]), self.corpus, self.index,
            bloom_filter=self.bloom, metrics=self.metrics, txn=(APP_ID, b),
        )
        ingest_mod.maintain_index_tables(
            self.spark, self.tables, compact_every=COMPACT_EVERY,
            cluster_by={self.corpus.root: ("fingerprint", 8)},
            vacuum_only={self.bloom.root},
        )
        return stats

    def funnel_rows(self) -> dict[int, list[dict]]:
        """batch_id -> the funnel-metrics rows ingestion wrote for it."""
        out: dict[int, list[dict]] = {}
        for r in self.metrics.read(self.spark).collect():
            out.setdefault(r["batch_id"], []).append(r.asDict())
        return out

    def expected(self, b: int) -> dict:
        known = self.batches[b][1]
        return {"n_rows": self.size, "n_known": known, "n_novel": self.size - known}

    def live_files(self) -> int:
        return sum(
            len(t._manifest(t.latest_version())["files"])  # noqa: SLF001
            for t in self.tables
        )
