"""Per-layer instrumentation: which engine callables the traced run
wraps, and how the recorded spans and counters become the per-layer
metrics declared in ``spec.PER_LAYER``.

Every layer is timed at its public boundary from here; names are
patched where the caller looks them up: ``streaming.ingest`` imports
the bloom build helpers by name, so they are wrapped in that module,
while ``operators.dedup`` imports the bloom probes at call time, so
they are wrapped in ``operators.bloom``.

Span metrics are inclusive of child spans unless the spec marks them
``self``. Spark is lazy: a DataFrame-returning callable (``flatten``,
``read``) only builds a plan, and the execution lands in the span that
triggers the action (``pending_only``'s count, ``merge``'s write).
"""

from __future__ import annotations

import os
import statistics
import time

from spec import PER_LAYER

# span name -> metric name, for spans reported as mean inclusive ms per
# operation (over the operations in which the span occurs)
_SPAN_MS = {
    "registry.build": "registry.build_ms",
    "flatten.build": "flatten.build_ms",
    "ledger.pending_only": "ledger.pending_only_ms",
    "ledger.merge": "ledger.merge_ms",
    "versioned.files_for_values": "versioned.files_for_values_ms",
    "versioned.merge": "versioned.merge_ms",
    "versioned.commit": "versioned.commit_ms",
    "versioned.read": "versioned.read_ms",
    "versioned.compact": "versioned.compact_ms",
    "parquet_lake.write_dispatch": "parquet_lake.write_dispatch_ms",
    "parquet_lake.read": "parquet_lake.read_ms",
    "ingest.maintain": "ingest.maintain_ms",
    "ingest.bloom_refresh": "ingest.bloom_refresh_ms",
    "bloom.build": "bloom.build_ms",
    "bloom.probe": "bloom.probe_ms",
}
# spans reported as self time (duration minus child spans)
_SPAN_SELF_MS = {
    "query_service.handle": "query_service.handle_ms",
    "ingest.ingest_batch": "ingest.ingest_batch_ms",
}
# counters reported as mean count and mean ms per operation
_COUNTERS = {
    "py4j": ("py4j.calls_per_op", "py4j.ms_per_op"),
    "log_store": ("log_store.calls_per_op", "log_store.ms_per_op"),
}


def instrument(tracer, spark) -> None:
    """Wrap every layer boundary the per-layer metrics need. A no-op
    for an untraced run (``tracer.enabled`` false)."""
    if not tracer.enabled:
        return
    from pyspark.sql import readwriter
    from pyspark.sql.classic import dataframe

    import jde_to_datalake_spark.streaming.ingest as ingest_mod
    from jde_to_datalake_spark.operators import bloom, flatten
    from jde_to_datalake_spark.plans.ledger import IdempotencyLedger
    from jde_to_datalake_spark.plans.query_service import QueryService
    from jde_to_datalake_spark.sources import parquet_lake
    from jde_to_datalake_spark.sources.log_store import PosixLogStore
    from jde_to_datalake_spark.sources.versioned import VersionedTable

    # py4j: every command Python sends to the JVM
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    tracer.counted(client, "send_command", "py4j")
    # Spark actions: where lazy plans execute
    for attr in ("collect", "count", "isEmpty", "toPandas", "take", "first"):
        tracer.counted(dataframe.DataFrame, attr, "spark.action")
    for attr in ("save", "parquet"):
        tracer.counted(readwriter.DataFrameWriter, attr, "spark.action")

    tracer.wrap(QueryService, "handle", "query_service.handle")
    tracer.wrap(flatten, "synthesize_actions", "flatten.build")
    tracer.wrap(flatten, "flatten_actions", "flatten.build")
    tracer.wrap(IdempotencyLedger, "pending_only", "ledger.pending_only")
    tracer.wrap(IdempotencyLedger, "merge", "ledger.merge")

    def probed(result, args, kwargs):
        table, version = args[0], kwargs.get("version")
        if version is None and len(args) > 3:
            version = args[3]
        if version is None:
            version = table.latest_version()
        live = len(table._manifest(version)["files"])  # noqa: SLF001
        tracer.count("versioned.files_probed", len(result))
        tracer.count("versioned.files_live_at_probe", live)

    tracer.wrap(VersionedTable, "files_for_values", "versioned.files_for_values",
                after=probed)
    tracer.wrap(VersionedTable, "merge", "versioned.merge")
    tracer.wrap(VersionedTable, "publish", "versioned.commit")
    tracer.wrap(VersionedTable, "read", "versioned.read")
    tracer.wrap(VersionedTable, "read_where_in", "versioned.read")
    tracer.wrap(VersionedTable, "compact", "versioned.compact")
    for attr in ("list_versions", "read", "put_if_absent", "replace", "delete"):
        tracer.counted(PosixLogStore, attr, "log_store")
    tracer.wrap(parquet_lake, "write_dispatch", "parquet_lake.write_dispatch")

    def batch_stats(stats, args, kwargs):
        tracer.count("ingest.rows", stats["n_rows"])
        tracer.count("ingest.novel", stats["n_novel"])
        tracer.count("ingest.batches", 1)
        tracer.count("ingest.bloom_prefiltered", int(bool(stats.get("bloom_prefiltered"))))

    tracer.wrap(ingest_mod, "ingest_batch", "ingest.ingest_batch", after=batch_stats)
    tracer.wrap(ingest_mod, "maintain_index_tables", "ingest.maintain")
    # the refresh step as a whole (build, union and the filter's commit)
    tracer.wrap(ingest_mod, "_refresh_bloom", "ingest.bloom_refresh")
    for attr in ("bloom_build_sharded", "bloom_union_sharded"):
        tracer.wrap(ingest_mod, attr, "bloom.build")
    for attr in ("bloom_probe", "bloom_probe_sharded"):
        tracer.wrap(bloom, attr, "bloom.probe")


def gc_ms(spark) -> float:
    """Total collection time of the Spark JVM's collectors (GC MXBeans)."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def spark_job_stats(spark, ops) -> dict:
    """op -> (jobs, tasks, failed tasks) from the status tracker, by
    the per-operation job group ``job_group(op)``."""
    st = spark.sparkContext.statusTracker()
    out = {}
    for op in ops:
        jobs = tasks = failed = 0
        for jid in st.getJobIdsForGroup(job_group(op)):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is not None:
                    tasks += s.numTasks
                    failed += s.numFailedTasks
        out[op] = (jobs, tasks, failed)
    return out


def job_group(op: int) -> str:
    return f"perfbench-op-{op}"


def begin_op(tracer, spark, kind: str):
    """Start a timed operation on this thread; in a traced run its
    Spark jobs are tagged with the operation's job group."""
    if not tracer.enabled:
        return None
    t0 = time.perf_counter()
    op = tracer.begin_op()
    with tracer.quiet():
        spark.sparkContext.setJobGroup(job_group(op), kind)
    tracer.add_overhead(op, time.perf_counter() - t0)
    return op


def end_op(tracer, spark) -> None:
    if not tracer.enabled:
        return
    t0 = time.perf_counter()
    with tracer.quiet():
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    tracer.add_overhead(tracer.current_op(), time.perf_counter() - t0)
    tracer.end_op()


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def layer_metrics(tracer, spark, ops, setup_spans: dict, gc_window_ms: float,
                  extra: dict) -> dict:
    """Every ``spec.PER_LAYER`` metric for the given timed operations.

    ``setup_spans`` holds the once-per-run set-up durations in seconds;
    ``extra`` supplies values only the workload knows (file counts,
    ratios, the client-side HTTP overhead). A layer the workload does
    not exercise reads 0."""
    per_op = tracer.per_op()
    ops = list(ops)
    n = max(len(ops), 1)
    values = {m: 0.0 for m in PER_LAYER}
    values["session.get_spark_s"] = setup_spans.get("session.get_spark", 0.0)
    values["query_service.init_s"] = setup_spans.get("query_service.init", 0.0)

    for span, metric in _SPAN_MS.items():
        xs = [per_op[o][span][0] * 1e3 for o in ops if span in per_op.get(o, {})]
        values[metric] = _mean(xs)
    for span, metric in _SPAN_SELF_MS.items():
        xs = [per_op[o][span][1] * 1e3 for o in ops if span in per_op.get(o, {})]
        values[metric] = _mean(xs)

    counters = tracer.counters
    for name, (calls_m, ms_m) in _COUNTERS.items():
        values[calls_m] = sum(counters[o][name][0] for o in ops) / n
        values[ms_m] = sum(counters[o][name][1] for o in ops) * 1e3 / n
    values["spark.action_ms"] = (
        sum(counters[o]["spark.action"][1] for o in ops) * 1e3 / n
    )
    jobs = spark_job_stats(spark, ops)
    values["spark.jobs_per_op"] = sum(j[0] for j in jobs.values()) / n
    values["spark.tasks_per_op"] = sum(j[1] for j in jobs.values()) / n
    values["spark.failed_tasks"] = float(sum(j[2] for j in jobs.values()))
    values["jvm.gc_ms_per_op"] = gc_window_ms / n

    probed = sum(counters[o]["versioned.files_probed"][0] for o in ops)
    live = sum(counters[o]["versioned.files_live_at_probe"][0] for o in ops)
    values["versioned.files_probed_ratio"] = probed / live if live else 0.0
    rows = sum(counters[o]["ingest.rows"][0] for o in ops)
    batches = sum(counters[o]["ingest.batches"][0] for o in ops)
    values["ingest.novel_ratio"] = (
        sum(counters[o]["ingest.novel"][0] for o in ops) / rows if rows else 0.0
    )
    values["ingest.bloom_prefiltered_ratio"] = (
        sum(counters[o]["ingest.bloom_prefiltered"][0] for o in ops) / batches
        if batches else 0.0
    )
    values["trace.overhead_ms"] = sum(tracer.overhead_s[o] for o in ops) * 1e3 / n
    values.update(extra)
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return values


def count_files(root: str) -> int:
    return sum(
        f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs
    )


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of this driver process plus its JVM child."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
