"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Run from the repository root. Every run builds its inputs from
``--seed`` under ``.perfbench_tmp/`` in the working directory, starts
one engine process with a pinned environment (``SPARK_GRAFT_CPUS`` =
the cores this process may use, fresh Spark local and temp dirs),
performs a fixed amount of work sized from ``--seconds``, checks every
output, stops every process it started and deletes its temp dir.

The human-readable lines name each workload's own metrics (unit and
sample count); the last line is one JSON object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402

RUN_TIMEOUT_S = 140.0
DRIVER_MEM = "2g"
WARMUP_ROUNDS = 3
# A tick re-scans the last days_back = 1 day, the low end of the
# reference's 1-5 (BASELINE.md:19), at the 30-minute end of its DAG
# cadences (BASELINE.md:15): 48 windows per tick, only the newest new.
RESCAN_WINDOWS = 24 * 60 // 30


def work_sizes(workload: str, seconds: int, smoke: bool) -> dict:
    """The fixed work of one run: a function of ``--seconds`` only, so
    every run of a seed performs the same operations and table state
    evolves identically whatever the machine's speed. The per-second
    rates are nominal speeds of a 4-core machine."""
    if workload == "dashboard":
        if smoke:
            return {"scale": 0.001, "ops": 10}
        # 80 requests at 12 s: 16 reports, four of each kind
        return {"scale": 0.03, "ops": max(10, seconds * 20 // 3)}
    if smoke:
        return {"scale": 0.001, "docs_scale": 0.001, "window": 1, "windows_back": 9,
                "batch": 10, "ops": 2}
    return {"scale": 0.002, "docs_scale": 0.02, "window": 6,
            "windows_back": RESCAN_WINDOWS - 1, "batch": 100,
            "ops": max(2, seconds // 6)}


def parse_named(workload: str, lines: list[str]) -> dict:
    """name -> (value, unit, n) from a run's human-readable lines."""
    out = {}
    for line in lines:
        m = re.match(rf"{workload} (\S+) = (\S+) (\S+) \(n=(\d+)\)$", line)
        if m:
            out[m[1]] = (float(m[2]), m[3], int(m[4]))
    return out


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1)."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(q * len(s) + 0.5) - 1))]


def tail_quantile(n: int) -> float | None:
    """The highest of p90/p75/p50 with at least ten samples above it."""
    for q in (0.9, 0.75, 0.5):
        if n * (1 - q) >= 10:
            return q
    return None


class Engine:
    """The engine child process and the ``@@`` line protocol."""

    def __init__(self, cfg: dict, env: dict, cwd: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), json.dumps(cfg)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, cwd=cwd, env=env,
            text=True, start_new_session=True,
        )

    def expect(self, event: str) -> dict:
        for line in self.proc.stdout:
            if line.startswith("@@ "):
                msg = json.loads(line[3:])
                if msg.get("event") == event:
                    return msg
        raise RuntimeError(f"engine exited before '{event}' (code {self.proc.wait()})")

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def stop(self, graceful: bool) -> None:
        """End the engine and whatever is left of its process group (the
        JVM), and wait until the group is empty. ``graceful`` first lets
        an engine that has reported its result exit on its own."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        if graceful:
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                pass
        pgid = self.proc.pid
        # the JVM exits on its own once its driver has gone (its shutdown
        # hooks clean Spark's temp dirs); signal only what outlives that
        phases = ((0, 10.0),) if graceful else ()
        for sig, wait_s in phases + ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            deadline = time.monotonic() + wait_s
            while time.monotonic() < deadline:
                try:
                    os.killpg(pgid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.1)
            else:
                continue
            break
        self.proc.wait()


def run_dashboard(engine: Engine, cfg: dict) -> dict:
    import dashboard

    ready = engine.expect("ready")
    port = ready["port"]
    requests = dashboard.plan(cfg["seed"], cfg["sizes"]["ops"], cfg["sizes"]["scale"])
    # every request shape, untimed: each report and lookup template,
    # WARMUP_ROUNDS times (with one round, report latencies still fell
    # by a third over a run's first few timed reports)
    shapes = [f"/data/{n}?limit={dashboard.REPORT_LIMIT}" for n in dashboard.REPORTS]
    shapes += ["/sql?q=" + dashboard.quote(t.format(k=0)) for t, _ in dashboard.LOOKUPS]
    for _ in range(WARMUP_ROUNDS):
        for url in shapes:
            dashboard.fetch(port, url)
    engine.send("begin")
    engine.expect("begun")
    first_op = time.monotonic()
    dashboard.drive(port, requests, dashboard.CLIENTS)
    engine.send("end")
    service = engine.expect("result")
    dashboard.check(requests, ready["data_dir"], ready["oracles"])

    done = [r for r in requests if r["status"] == 200]
    lat = {k: [(r["t1"] - r["t0"]) * 1e3 for r in done if r["kind"] == k]
           for k in ("report", "lookup")}
    by_shape = dashboard.ms_by_shape(done)
    span_s = max(r["t1"] for r in requests) - min(r["t0"] for r in requests)
    out = {
        "first_op": first_op,
        "peak_rss_mb": service["peak_rss_mb"],
        "info": service["info"],
        "setup": service["setup"],
        "attempted": len(requests),
        "failed": len(requests) - len(done),
        "ok": sum(bool(r["ok"]) for r in requests),
        "throughput": len(done) / span_s,
        "heavy_by_shape": {k: v for k, v in by_shape.items() if k in dashboard.REPORTS},
        "light_by_shape": {k: v for k, v in by_shape.items() if k not in dashboard.REPORTS},
        "named": {
            "req_per_s": (len(done) / span_s, "1/s", len(done)),
            "report_p50_ms": (_median(lat["report"]), "ms", len(lat["report"])),
            "lookup_p50_ms": (_median(lat["lookup"]), "ms", len(lat["lookup"])),
        },
        "detail": {
            "clients": dashboard.CLIENTS,
            "repeat_share": dashboard.repeat_shares(requests),
            "p50_ms_by_request": {k: statistics.median(v) for k, v in by_shape.items()},
            "ms_by_request": {k: [round(x, 1) for x in v] for k, v in by_shape.items()},
        },
    }
    q = tail_quantile(len(lat["lookup"]))
    if q is not None:
        out["named"][f"lookup_p{round(q * 100)}_ms"] = (
            percentile(lat["lookup"], q), "ms", len(lat["lookup"]))
    if "per_layer" in service:
        client_s = sum(r["t1"] - r["t0"] for r in done)
        service["per_layer"]["http.overhead_ms"] = (
            (client_s - service["handle_s"]) * 1e3 / max(len(done), 1))
        out["per_layer"] = service["per_layer"]
        out["nesting_violations"] = service["nesting_violations"]
    return out


def run_sync(engine: Engine, cfg: dict) -> dict:
    res = engine.expect("result")
    recs = res["records"]
    done = [r for r in recs if r["error"] is None]

    def ms(key):
        return [r[key] * 1e3 for r in done]

    def total(key):
        return sum(r[key] for r in done)

    readbacks = [x * 1e3 for r in done for x in r["readback_s"]]
    rows, docs = res["units"]["rows"], res["units"]["docs"]
    # every scanned id and document, whatever its verdict: with the
    # DAG's re-scan nearly all ids are already done, so the new rows
    # alone would be a handful per tick. The median over ticks of each
    # tick's rate, so one tick slowed by the host does not move it.
    throughput = _median([(r["scanned"] + r["stats"]["n_rows"]) / r["tick_s"] for r in done])
    out = {
        "first_op": res["first_op"],
        "peak_rss_mb": res["peak_rss_mb"],
        "info": res["info"],
        "setup": res["setup"],
        # a tick and its readback are two checked operations
        "attempted": 2 * len(recs),
        "failed": 2 * (len(recs) - len(done)),
        "ok": sum(sum(map(bool, r["ok"])) for r in recs),
        "throughput": throughput,
        "heavy_by_shape": {"tick": ms("tick_s")},
        "light_by_shape": {"readback": readbacks},
        "named": {
            "records_per_s": (throughput, "1/s", len(done)),
            "rows_per_s": (rows / total("dispatch_s") if done else 0.0, "1/s", len(done)),
            "docs_per_s": (docs / total("ingest_s") if done else 0.0, "1/s", len(done)),
            "tick_p50_ms": (_median(ms("tick_s")), "ms", len(done)),
            "cycle_p50_ms": (_median(ms("dispatch_s")), "ms", len(done)),
            "batch_p50_ms": (_median(ms("ingest_s")), "ms", len(done)),
            "readback_p50_ms": (_median(readbacks), "ms", len(readbacks)),
        },
        "detail": {"records": recs},
    }
    if "per_layer" in res:
        out["per_layer"] = res["per_layer"]
        out["nesting_violations"] = res["nesting_violations"]
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def shape_p50_gmean(by_shape: dict[str, list[float]]) -> float:
    """Geometric mean over request shapes of each shape's median
    latency. Every shape moves it by its own ratio, whatever its share
    of the requests; a median pooled over shapes sees only the middle
    shapes."""
    meds = [statistics.median(v) for v in by_shape.values() if v]
    return statistics.geometric_mean(meds) if meds else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and a few operations (the smoke test)")
    args = ap.parse_args(argv)

    repo = os.getcwd()
    if not (os.path.isfile(os.path.join(repo, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(repo, "jde_to_datalake_spark"))):
        print("perfbench: run from the repository root (engine sources not found)",
              file=sys.stderr)
        return 2

    tmp = os.path.join(repo, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("work", "tmp", "spark-local"):
        os.makedirs(os.path.join(tmp, sub))
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS":
            f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData",
        # spark-submit's own launcher JVM: no /tmp/hsperfdata_* file
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    cfg = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "repo": repo, "tmp": tmp,
        "sizes": work_sizes(args.workload, args.seconds, args.smoke),
    }
    engine = Engine(cfg, env, os.path.join(tmp, "work"))

    def on_timeout(*_):
        raise TimeoutError(f"run exceeded {RUN_TIMEOUT_S:.0f} s")

    def on_term(*_):
        raise InterruptedError("terminated")

    signal.signal(signal.SIGALRM, on_timeout)
    signal.signal(signal.SIGTERM, on_term)  # still stop the engine
    signal.setitimer(signal.ITIMER_REAL, RUN_TIMEOUT_S)
    out = None
    try:
        if args.workload == "dashboard":
            out = run_dashboard(engine, cfg)
        else:
            out = run_sync(engine, cfg)
    except Exception as e:  # noqa: BLE001 - report, clean up, exit non-zero
        print(f"perfbench: {args.workload} failed: {e!r}", file=sys.stderr)
        return 1
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        engine.stop(graceful=out is not None)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    setup_s = out["first_op"] - T_START
    correct = out["ok"] == out["attempted"] and not out.get("nesting_violations")
    named = {
        "setup_s": (setup_s, "s", 1),
        "peak_rss_mb": (out["peak_rss_mb"], "MB", 1),
        "ok_ratio": (out["ok"] / out["attempted"], "ratio", out["attempted"]),
        **out["named"],
    }
    for name, (value, unit, n) in named.items():
        print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})")
    detail = {"sizes": cfg["sizes"], "info": out["info"], "setup": out["setup"],
              **out["detail"]}
    if out.get("nesting_violations"):
        detail["nesting_violations"] = out["nesting_violations"]
    print("detail " + json.dumps(detail, default=str))

    if args.trace:
        metrics = {
            name: {"value": out["per_layer"][name], "unit": unit}
            for name, unit in spec.PER_LAYER.items()
        }
    else:
        values = {
            "setup_s": setup_s,
            "peak_rss_mb": out["peak_rss_mb"],
            "ok_ratio": out["ok"] / out["attempted"],
            "throughput_per_s": out["throughput"],
            "heavy_p50_gmean_ms": shape_p50_gmean(out["heavy_by_shape"]),
            "light_p50_gmean_ms": shape_p50_gmean(out["light_by_shape"]),
        }
        metrics = {
            name: {"value": values[name], "unit": unit}
            for name, (unit, _, _) in spec.END_TO_END.items()
        }
    print(json.dumps({
        "correct": bool(correct),
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
