"""``dashboard`` workload: read-only API traffic over loopback HTTP.

The engine process runs ``serve(QueryService(...))`` over generated
tables; ``run.py`` is the load generator, a separate process with one
closed-loop client (``CLIENTS``). The request sequence is fixed by the
seed: one report to four lookups. A report is one of the
four reconciliation endpoints with ``limit=1000``, so after the first
four every report repeats an earlier one. A lookup is point or range
SQL on ``/sql`` with customer/order keys drawn from a Zipf
distribution, so most lookups are unique. Both repeat shares are
measured and reported.

Outputs are checked after the timed window: each report against
DuckDB running the registry's own oracle SQL on the same parquet, each
lookup re-run on single-threaded DuckDB.
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading
import time
from urllib.parse import quote

import layers
from datagen import generate, sizes as table_sizes

REPORTS = ["pivot_report", "live_comparison", "pricing_summary", "transaction_ids"]
REPORT_LIMIT = 1000
LOOKUPS = [
    # (template, key space) - every template orders its rows totally
    ("SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority "
     "FROM orders WHERE o_custkey = {k} ORDER BY o_orderkey", "customer"),
    ("SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice "
     "FROM lineitem WHERE l_orderkey BETWEEN {k} AND {k} + 9 "
     "ORDER BY l_orderkey, l_linenumber", "orders"),
    ("SELECT o_custkey, count(*) AS n_orders, max(o_totalprice) AS max_total "
     "FROM orders WHERE o_custkey BETWEEN {k} AND {k} + 19 "
     "GROUP BY o_custkey ORDER BY o_custkey", "customer"),
]
# A guess: the reference publishes no request log to take key skew from.
ZIPF_A = 1.05
# One client: with two (one per two cores of a 4-core machine) the
# interleaving of reports and lookups varied from seed to seed, and the
# lookup and report medians spread 13-35% across seeds, against 5-9%
# with one.
CLIENTS = 1


# ----------------------------------------------------------------------
# engine side
# ----------------------------------------------------------------------

def run(ctx) -> dict:
    """Serve until ``run.py`` has driven its requests; returns the
    service-side measurements."""
    import __spark_entry__ as E

    from jde_to_datalake_spark.plans.query_service import QueryService, serve

    spark, tracer = ctx.spark, ctx.tracer
    data_dir = os.path.join(ctx.tmp, "data")
    generate(data_dir, ctx.sizes["scale"], ctx.seed)
    registry = E.queries()
    if tracer.enabled:
        registry = {name: _traced_build(tracer, fn) for name, fn in registry.items()}
    t = time.perf_counter()
    service = QueryService(spark, data_dir, registry)
    ctx.setup["query_service.init"] = time.perf_counter() - t

    state = {"recording": False, "ops": []}
    if tracer.enabled:
        _record_ops(tracer, spark, service, state)
    server = serve(service)
    oracles = E.oracle_sql()
    ctx.emit({
        "event": "ready",
        "port": server.server_address[1],
        "data_dir": data_dir,
        "oracles": {n: oracles[n] for n in REPORTS},
    })
    gc0 = 0.0
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "begin":
            gc0 = layers.gc_ms(spark) if tracer.enabled else 0.0
            state["recording"] = True
            ctx.emit({"event": "begun"})
        elif cmd == "end":
            state["recording"] = False
            break
    server.shutdown()
    server.server_close()
    result = {"peak_rss_mb": layers.peak_rss_mb(spark)}
    if tracer.enabled:
        gc_window = layers.gc_ms(spark) - gc0
        per_op = tracer.per_op()
        result["handle_s"] = sum(
            per_op[o]["query_service.handle"][0] for o in state["ops"]
        )
        result["per_layer"] = layers.layer_metrics(
            tracer, spark, state["ops"], ctx.setup, gc_window, {}
        )
        result["nesting_violations"] = tracer.check_nesting()
    return result


def _traced_build(tracer, fn):
    def build(spark, sf_dir):
        with tracer.span("registry.build"):
            return fn(spark, sf_dir)

    return build


def _record_ops(tracer, spark, service, state) -> None:
    """While recording, each request's ``handle`` call is one traced operation."""
    inner = service.handle

    def handle(path, params):
        if not state["recording"]:
            return inner(path, params)
        op = layers.begin_op(tracer, spark, "report" if path.startswith("/data/") else "lookup")
        with state_lock:
            state["ops"].append(op)
        try:
            return inner(path, params)
        finally:
            layers.end_op(tracer, spark)

    state_lock = threading.Lock()
    service.handle = handle


# ----------------------------------------------------------------------
# load-generator side (run.py's process)
# ----------------------------------------------------------------------

def plan(seed: int, n_requests: int, scale: float) -> list[dict]:
    """The seeded request sequence: one report per five requests."""
    import numpy as np

    rng = random.Random(seed)
    np_rng = np.random.default_rng(seed)
    n = table_sizes(scale)
    perms = {
        space: np_rng.permutation(n[space]) for space in ("customer", "orders")
    }
    # the mix is balanced, not sampled: every seed sends the same number
    # of each report and of each lookup template, so seeds differ in
    # keys and order only
    n_reports = n_requests // 5
    kinds = ["report"] * n_reports + ["lookup"] * (n_requests - n_reports)
    rng.shuffle(kinds)
    reports = [REPORTS[i % len(REPORTS)] for i in range(n_reports)]
    rng.shuffle(reports)
    templates = [i % len(LOOKUPS) for i in range(n_requests - n_reports)]
    rng.shuffle(templates)
    out = []
    for kind in kinds:
        if kind == "report":
            name = reports.pop()
            out.append({"kind": kind, "name": name, "shape": name,
                        "url": f"/data/{name}?limit={REPORT_LIMIT}"})
            continue
        i = templates.pop()
        template, space = LOOKUPS[i]
        rank = n[space] + 1
        while rank > n[space]:
            rank = int(np_rng.zipf(ZIPF_A))
        sql = template.format(k=int(perms[space][rank - 1]))
        out.append({"kind": kind, "shape": f"lookup{i}", "sql": sql,
                    "url": f"/sql?q={quote(sql)}"})
    return out


def repeat_shares(requests: list[dict]) -> dict:
    seen: set = set()
    counts = {"report": [0, 0], "lookup": [0, 0]}
    for r in requests:
        counts[r["kind"]][0] += r["url"] in seen
        counts[r["kind"]][1] += 1
        seen.add(r["url"])
    return {k: (a / b if b else 0.0) for k, (a, b) in counts.items()}


def ms_by_shape(requests: list[dict]) -> dict[str, list[float]]:
    """Latencies (ms) of each report and each lookup template."""
    by: dict[str, list[float]] = {}
    for r in requests:
        by.setdefault(r["shape"], []).append((r["t1"] - r["t0"]) * 1e3)
    return dict(sorted(by.items()))


def fetch(port: int, url: str) -> tuple[int, dict]:
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", url)
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def drive(port: int, requests: list[dict], clients: int) -> None:
    """Closed loop: each client sends its next request when the previous
    one has completed. Fills ``t0``/``t1``/``status``/``body`` in place."""
    lock = threading.Lock()
    cursor = iter(range(len(requests)))

    def client():
        while True:
            with lock:
                i = next(cursor, None)
            if i is None:
                return
            r = requests[i]
            r["t0"] = time.perf_counter()
            try:
                r["status"], r["body"] = fetch(port, r["url"])
            except Exception as e:  # noqa: BLE001 - a failed request is counted
                r["status"], r["body"] = None, {"error": repr(e)[:300]}
            r["t1"] = time.perf_counter()

    threads = [threading.Thread(target=client, daemon=True) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _norm(row) -> tuple:
    """A DuckDB row as the service's JSON encoding carries it."""
    return tuple(
        v if v is None or isinstance(v, (bool, int, float, str)) else str(v)
        for v in row
    )


def check(requests: list[dict], data_dir: str, oracles: dict) -> None:
    """Set ``ok`` on every request: HTTP 200 and the same rows DuckDB
    computes (reports: the oracle SQL; lookups: the lookup SQL on one
    thread). A truncated report must hold exactly ``limit`` rows, each
    one a row of the oracle's result."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in ("customer", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{os.path.join(data_dir, t + '.parquet')}')"
        )
    expected: dict[str, tuple] = {}
    for r in requests:
        body = r.get("body") or {}
        if r.get("status") != 200 or "rows" not in body:
            r["ok"] = False
            continue
        got = [tuple(row) for row in body["rows"]]
        if r["kind"] == "lookup":
            r["ok"] = got == [_norm(row) for row in con.execute(r["sql"]).fetchall()]
            continue
        name = r["name"]
        if name not in expected:
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            order = [cols.index(c) for c in body["columns"]]
            want = [_norm([row[i] for i in order]) for row in cur.fetchall()]
            expected[name] = (want, set(want))
        want, pool = expected[name]
        if len(want) > REPORT_LIMIT:
            r["ok"] = (
                body["truncated"] and len(got) == REPORT_LIMIT
                and all(g in pool for g in got)
            )
        else:
            r["ok"] = not body["truncated"] and sorted(got, key=repr) == sorted(want, key=repr)
    con.close()
