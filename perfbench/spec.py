"""The benchmark's declared workloads and metrics — the one source of
``BENCHMARK.json`` (``python3 perfbench/spec.py > BENCHMARK.json``).

The end-to-end metrics are reported by every workload, so their names
are workload-neutral; README.md maps each one to the workload's own
operation (``heavy_p50_gmean_ms`` is over the four reports on
``dashboard`` and over the dispatch-plus-ingest tick on ``sync``).
"""

from __future__ import annotations

import json

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 12

WORKLOADS = {
    "dashboard": (
        "read-only API traffic: 1 closed-loop HTTP client, 1 report to 4 "
        "point/range SQL lookups; exercises query service, plans, py4j and "
        "Spark execution, no table writes"
    ),
    "sync": (
        "write-side micro-batch ticks: flatten, ledger anti-join and MERGE, "
        "day-partitioned lake write, corpus ingest with bloom prefilter and "
        "compaction, then a readback; bypasses the query service"
    ),
}

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.15),
    "ok_ratio": ("ratio", "higher", 0.01),
    "throughput_per_s": ("1/s", "higher", 0.25),
    "heavy_p50_gmean_ms": ("ms", "lower", 0.25),
    "light_p50_gmean_ms": ("ms", "lower", 0.25),
}

# name -> unit; per-operation means over the timed operations
PER_LAYER = {
    "session.get_spark_s": "s",
    "query_service.init_s": "s",
    "query_service.handle_ms": "ms",
    "http.overhead_ms": "ms",
    "registry.build_ms": "ms",
    "py4j.calls_per_op": "count",
    "py4j.ms_per_op": "ms",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "spark.action_ms": "ms",
    "jvm.gc_ms_per_op": "ms",
    "flatten.build_ms": "ms",
    "ledger.pending_only_ms": "ms",
    "ledger.merge_ms": "ms",
    "ledger.new_ratio": "ratio",
    "versioned.files_for_values_ms": "ms",
    "versioned.files_probed_ratio": "ratio",
    "versioned.merge_ms": "ms",
    "versioned.commit_ms": "ms",
    "versioned.read_ms": "ms",
    "versioned.live_files": "count",
    "versioned.compact_ms": "ms",
    "log_store.calls_per_op": "count",
    "log_store.ms_per_op": "ms",
    "parquet_lake.write_dispatch_ms": "ms",
    "parquet_lake.files_per_cycle": "count",
    "parquet_lake.read_ms": "ms",
    "ingest.ingest_batch_ms": "ms",
    "ingest.maintain_ms": "ms",
    "ingest.novel_ratio": "ratio",
    "ingest.bloom_prefiltered_ratio": "ratio",
    "ingest.bloom_refresh_ms": "ms",
    "bloom.build_ms": "ms",
    "bloom.probe_ms": "ms",
    "trace.overhead_ms": "ms",
}

# the higher-is-better per-layer metrics (the rest are lower-is-better)
_HIGHER = {
    "ledger.new_ratio",
    "ingest.novel_ratio",
    "ingest.bloom_prefiltered_ratio",
}


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": "higher" if n in _HIGHER else "lower"}
            for n, u in PER_LAYER.items()
        ],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
