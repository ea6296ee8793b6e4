"""Engine process: one Spark driver running one workload.

Started by ``run.py`` with the run's pinned environment (core count,
Spark local dirs, temp dirs) and a JSON config as its only argument.
It talks to ``run.py`` through stdout lines prefixed with ``@@``; all
other output (Spark logs) goes to stderr.
"""

from __future__ import annotations

import json
import sys
import time

PREFIX = "@@ "


def emit(obj: dict) -> None:
    sys.stdout.write(PREFIX + json.dumps(obj) + "\n")
    sys.stdout.flush()


class Context:
    """What a workload needs: the session, tracer, config and a temp
    directory; ``setup`` collects once-per-run set-up durations."""

    def __init__(self, cfg, spark, tracer, setup):
        self.spark = spark
        self.tracer = tracer
        self.setup = setup
        self.tmp = cfg["tmp"]
        self.seed = cfg["seed"]
        self.sizes = cfg["sizes"]
        self.emit = emit


def main() -> int:
    cfg = json.loads(sys.argv[1])
    sys.path.insert(0, cfg["repo"])
    from tracing import Tracer

    import layers

    tracer = Tracer(bool(cfg["trace"]))
    setup = {}
    t = time.perf_counter()
    from jde_to_datalake_spark.session import get_spark

    spark = get_spark("perfbench")
    setup["session.get_spark"] = time.perf_counter() - t
    from bench import _host_probe

    sc = spark.sparkContext
    info = {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "host_probe_pre": _host_probe(spark),
    }
    layers.instrument(tracer, spark)
    ctx = Context(cfg, spark, tracer, setup)
    workload = cfg["workload"]
    if workload == "dashboard":
        import dashboard as mod
    else:
        import sync as mod
    result = mod.run(ctx)
    info["host_probe_post"] = _host_probe(spark)
    result["info"] = info
    result["setup"] = setup
    emit({"event": "result", **result})
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
