"""``sync`` workload: the lake's write-side micro-batch tick.

One caller, closed loop, ticks back to back with no scheduler sleeps.
A tick is what the reference's DAGs do every few minutes:

- dispatch (dag_bakery_system_to_jde.py): a DAG run re-scans the last
  ``days_back`` of actions, relying on the ledger to skip what is done.
  Tick ``c`` therefore scans the next window of orders plus the
  ``windows_back`` windows before it, so nearly every id it sees is
  already in the ledger; the first warm-up tick, with an empty ledger,
  commits the whole scanned history, and the ledger is then handed off
  to its versioned backend. The documents are synthesized and
  flattened, ids the ledger marks done are dropped, the new ids are
  MERGEd into the ledger and the batch lands in the lake under the
  tick's dispatch day;
- corpus ingestion: one generated document batch through
  ``streaming.ingest`` (see corpus.py).

A readback of what the tick's dispatch committed follows: the day's
lake rows reconciled against the ledger and a ledger probe of ids
sampled from earlier ticks.

The lake is partitioned by dispatch day, one partition per tick, as the
reference's ``year=/month=/day=`` keys are (s3_helper.py:45).
Partitioning by the documents' ``effective_at`` instead writes about
1,500 day partitions per 5k-row batch, a small-file shape the reference
never produces.

Output checks run after the timed ticks, from one independent
re-derivation of every window's ids and the generator's ground truth.
"""

from __future__ import annotations

import datetime
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

import layers
from datagen import generate
from corpus import Corpus

KEY = "unique_transaction_id"
FIRST_DAY = datetime.date(2024, 1, 1)
# Tick 0 fills the ledger and is followed by the versioned handoff, so
# tick 1 warms the steady-state path (versioned probe and merge); its
# dispatch ran 25-50% slower than the ticks after it.
WARMUP_TICKS = 2
SAMPLE_IDS = 64
# Each tick's readback runs twice, for four latency samples a run,
# after one untimed warm-up readback: the first readback of a run took
# about 1.3x as long as the rest.
READBACKS = 2


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from jde_to_datalake_spark.operators import flatten
    from jde_to_datalake_spark.plans.ledger import IdempotencyLedger
    from jde_to_datalake_spark.session import load_table
    from jde_to_datalake_spark.sources import parquet_lake
    from jde_to_datalake_spark.sources.versioned import VersionedTable

    spark, tracer, sizes = ctx.spark, ctx.tracer, ctx.sizes
    data_dir = os.path.join(ctx.tmp, "data")
    rows = generate(data_dir, sizes["scale"], ctx.seed, tables=("orders", "lineitem"))
    # the corpus batches draw fresh documents from a table sized for
    # the run's batch count, not for the order scale
    docs_dir = os.path.join(ctx.tmp, "docs")
    generate(docs_dir, sizes["docs_scale"], ctx.seed, tables=("documents",))
    orders = load_table(spark, data_dir, "orders")
    lineitem = load_table(spark, data_dir, "lineitem")
    ledger_path = os.path.join(ctx.tmp, "ledger")
    lake = os.path.join(ctx.tmp, "lake")
    ledger = IdempotencyLedger(ledger_path)
    ledger_vt = VersionedTable(os.path.join(ledger_path, IdempotencyLedger.VERSIONED_DIR))

    window = sizes["window"]
    lookback = window * sizes["windows_back"]
    n_ticks = WARMUP_TICKS + sizes["ops"]
    rng = random.Random(ctx.seed)
    start = rng.randrange(lookback, rows["orders"] - window * n_ticks)
    docs = pq.read_table(os.path.join(docs_dir, "documents.parquet")).column("text").to_pylist()
    corpus = Corpus(spark, os.path.join(ctx.tmp, "corpus"), docs, n_ticks,
                    sizes["batch"], ctx.seed)

    def bounds(c):
        lo = start + c * window
        return lo - lookback, lo + window

    def day_of(c):
        return FIRST_DAY + datetime.timedelta(days=c)

    def window_frames(lo, hi):
        return (
            orders.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)),
            lineitem.filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)),
        )

    def dispatch(c) -> int:
        batch = flatten.flatten_actions(flatten.synthesize_actions(*window_frames(*bounds(c))))
        pending = ledger.pending_only(spark, batch.dropDuplicates([KEY])).persist()
        try:
            n_new = pending.count()
            ledger.merge(spark, pending.select(
                KEY,
                F.lit("done").alias("status"),
                F.lit("dispatched").alias("status_text"),
                F.lit(c).alias("updated_at"),
            ))
            parquet_lake.write_dispatch(
                pending.withColumn("dispatch_date", F.lit(day_of(c))),
                lake, "bakery", "dispatch_date",
            )
        finally:
            pending.unpersist()
        return n_new

    def readback(c, sample_df) -> tuple[int, int, int]:
        d = day_of(c)
        ymd = (d.year, d.month, d.day)
        with tracer.span("parquet_lake.read"):
            day = parquet_lake.read_dispatches(spark, lake, "bakery", start=ymd, end=ymd)
            n_day = day.count()
        unreconciled = ledger.pending_only(spark, day.select(KEY)).count()
        sample_pending = ledger.pending_only(spark, sample_df).count()
        return n_day, unreconciled, sample_pending

    # --- set-up: warm-up ticks and a readback (untimed)
    # The dispatch and corpus chains share no table, so they warm up
    # side by side; the timed ticks run them one after the other.
    t = time.perf_counter()

    def warm_dispatch():
        dispatch(0)
        ledger.migrate_to_versioned(spark)
        for c in range(1, WARMUP_TICKS):
            dispatch(c)

    with ThreadPoolExecutor(2) as pool:
        chains = [
            pool.submit(warm_dispatch),
            pool.submit(lambda: [corpus.ingest(c) for c in range(WARMUP_TICKS)]),
        ]
        for f in chains:
            f.result()
    warm_ids = sorted(r[0] for r in ledger.load(spark).select(KEY).collect())
    sample_df = spark.createDataFrame(
        [(i,) for i in rng.sample(warm_ids, min(SAMPLE_IDS, len(warm_ids)))],
        f"{KEY} string",
    )
    readback(WARMUP_TICKS - 1, sample_df)
    ctx.setup["warmup"] = time.perf_counter() - t

    # --- timed window
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    ops, records, gc_window = [], [], 0.0
    first_op = None
    for c in range(WARMUP_TICKS, n_ticks):
        jvm.System.gc()  # settle the previous tick's garbage, untimed
        gc0 = layers.gc_ms(spark) if tracer.enabled else 0.0
        op = layers.begin_op(tracer, spark, "tick")
        t0 = time.perf_counter()
        if first_op is None:
            first_op = time.monotonic()
        rec = {"tick": c, "error": None}
        try:
            rec["n_new"] = dispatch(c)
            t1 = time.perf_counter()
            rec["stats"] = corpus.ingest(c)
            t2 = time.perf_counter()
            rec["version"] = ledger_vt.latest_version()
            rec["readback"], rec["readback_s"] = [], []
            for _ in range(READBACKS):
                t3 = time.perf_counter()
                rec["readback"].append(readback(c, sample_df))
                rec["readback_s"].append(time.perf_counter() - t3)
            rec.update(dispatch_s=t1 - t0, ingest_s=t2 - t1, tick_s=t2 - t0)
        except Exception as e:  # noqa: BLE001 - a failed tick is counted, not fatal
            rec["error"] = repr(e)[:300]
        if tracer.enabled and rec["error"] is None:
            with tracer.quiet():
                d = day_of(c)
                rec["live_files"] = (
                    len(ledger_vt._manifest(rec["version"])["files"])  # noqa: SLF001
                    + corpus.live_files()
                )
                rec["day_files"] = layers.count_files(os.path.join(
                    lake, "dispatch_type=bakery", f"year={d.year}",
                    f"month={d.month}", f"day={d.day}",
                ))
        layers.end_op(tracer, spark)
        if tracer.enabled:
            gc_window += layers.gc_ms(spark) - gc0
        ops.append(op)
        records.append(rec)
    rss = layers.peak_rss_mb(spark)

    # --- checks (after the window): re-derive every window's ids once
    lo_all, hi_all = bounds(0)[0], bounds(n_ticks - 1)[1]
    flat_all = flatten.flatten_actions(flatten.synthesize_actions(*window_frames(lo_all, hi_all)))
    by_order: dict[int, set] = {}
    for action_id, utid in flat_all.select("action_id", KEY).collect():
        by_order.setdefault(int(action_id[len("act_"):]), set()).add(utid)
    funnels = corpus.funnel_rows()
    cumulative: set = set()
    novel_docs = sum(corpus.expected(c)["n_novel"] for c in range(WARMUP_TICKS))
    batch_rows = new_rows = docs = 0
    for c in range(n_ticks):
        lo, hi = bounds(c)
        ids = set().union(*(by_order.get(k, ()) for k in range(lo, hi)))
        expected_new = len(ids - cumulative)
        cumulative |= ids
        if c < WARMUP_TICKS:
            continue
        r = records[c - WARMUP_TICKS]
        if r["error"] is not None:
            r["ok"] = [False, False]
            continue
        funnel = funnels.get(c, [])
        expected = corpus.expected(c)
        novel_docs += expected["n_novel"]
        batch_rows += len(ids)
        new_rows += r["n_new"]
        docs += r["stats"]["n_rows"]
        ledger_rows = ledger_vt.read(spark, version=r["version"]).count()
        r.update(scanned=len(ids), expected_new=expected_new, ledger_rows=ledger_rows,
                 expected_ledger_rows=len(cumulative), expected_stats=expected)
        r["ok"] = [
            r["n_new"] == expected_new
            and ledger_rows == len(cumulative)
            and all(r["stats"][k] == v for k, v in expected.items())
            and len(funnel) == 1
            and all(funnel[0][k] == v for k, v in expected.items()),
            all(n_day == expected_new and unreconciled == 0 and sample_pending == 0
                for n_day, unreconciled, sample_pending in r["readback"]),
        ]
    if records and records[-1]["error"] is None:
        final_ids = {r[0] for r in ledger.load(spark).select(KEY).collect()}
        index_rows = corpus.index.read(spark).count()
        corpus_rows = corpus.corpus.read(spark).count()
        if final_ids != cumulative or not index_rows == corpus_rows == novel_docs:
            records[-1]["ok"][0] = False
            records[-1]["final_state_mismatch"] = True

    result = {
        "first_op": first_op,
        "peak_rss_mb": rss,
        "records": records,
        "units": {"rows": new_rows, "docs": docs},
    }
    if tracer.enabled:
        done = [r for r in records if r["error"] is None]

        def mean(key):
            return sum(r[key] for r in done) / len(done) if done else 0.0

        result["per_layer"] = layers.layer_metrics(
            tracer, spark, ops, ctx.setup, gc_window, {
                "ledger.new_ratio": new_rows / batch_rows if batch_rows else 0.0,
                "versioned.live_files": mean("live_files"),
                "parquet_lake.files_per_cycle": mean("day_files"),
            },
        )
        result["nesting_violations"] = tracer.check_nesting()
    return result
