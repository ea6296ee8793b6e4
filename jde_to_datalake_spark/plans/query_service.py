"""Thin HTTP query service — the reference's API front door, Spark-side.

The reference serves its reports over FastAPI endpoints
(``GET /data/pivot_report`` backend/main.py:328, ``GET /data/joined_df3``
backend/main.py:417, generic table reads backend/main.py:1690-1710).
Here the same surface is a stdlib ``http.server`` layer over the
engine's query registry — this container has no FastAPI, and the
service layer is deliberately framework-free: swap ``serve`` for any
ASGI wrapper in prod without touching the query path.

Endpoints:

- ``GET /queries``                  list of registered query names
- ``GET /data/<name>?limit=N``      run a registered query, return JSON
  ``{"name", "columns", "rows", "n_rows", "truncated"}``
- ``GET /sql?q=...&limit=N``        ANSI SQL over the registered views
  (plans/sql_api.register_views) — the multi-tenant analyst surface
- ``GET /explain/<name>?mode=formatted`` — the physical plan of a
  registered query (plan transparency: what an operator will do to
  the cluster is part of the API surface)
- ``GET /diagnostics/skew?table=<view>&keys=a,b&top_n=N`` — key-load
  report over a registered view (operators/skew.skew_report)
- ``POST /maintenance/compact?root=...&target_bytes=N`` — small-file
  compaction trigger (OFF unless ``enable_maintenance=True``); the
  operational counterpart of the reference's POST sync-trigger
  endpoints (backend/main.py DAG-trigger routes)

Results are LIMIT-guarded before collect (default 1000, hard cap
``max_rows``) — the same driver-materialization guard as the S13 Excel
export: an endpoint must never pull an unbounded 100 TB result onto
the driver. The limit is applied as ``df.limit(n)``, so Catalyst
pushes it into the plan (CollectLimit — executors stop early).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from jde_to_datalake_spark.plans.sql_api import register_views

QueryFn = Callable[[SparkSession, str], DataFrame]


class QueryService:
    """Framework-free request handler core (testable without sockets)."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        queries: dict[str, QueryFn],
        default_limit: int = 1000,
        max_rows: int = 10_000,
        enable_sql: bool = True,
        enable_maintenance: bool = False,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = queries
        self.default_limit = default_limit
        self.max_rows = max_rows
        self.enable_sql = enable_sql
        self.enable_maintenance = enable_maintenance
        if enable_sql:
            register_views(spark, sf_dir)

    # ------------------------------------------------------------------
    def handle(self, path: str, params: dict[str, list[str]]) -> tuple[int, dict]:
        """Route a GET request; returns (http_status, json_payload)."""
        if path == "/queries":
            return 200, {"queries": sorted(self.queries)}
        if path.startswith("/data/"):
            name = unquote(path[len("/data/"):])
            fn = self.queries.get(name)
            if fn is None:
                return 404, {"error": f"unknown query: {name}"}
            return self._materialize(name, fn(self.spark, self.sf_dir), params)
        if path == "/sql":
            if not self.enable_sql:
                return 403, {"error": "sql endpoint disabled"}
            q = (params.get("q") or [""])[0]
            if not q.strip():
                return 400, {"error": "missing q parameter"}
            try:
                df = self.spark.sql(q)
            except Exception as e:  # analysis errors -> client error
                return 400, {"error": str(e).split("\n")[0][:500]}
            return self._materialize("sql", df, params)
        if path.startswith("/explain/"):
            name = unquote(path[len("/explain/"):])
            fn = self.queries.get(name)
            if fn is None:
                return 404, {"error": f"unknown query: {name}"}
            mode = (params.get("mode") or ["formatted"])[0]
            if mode not in ("simple", "extended", "formatted", "cost"):
                return 400, {"error": f"unknown explain mode: {mode}"}
            # a FRESH plan, not the registry's cached one: an executed
            # cached DataFrame prints AQE's final adaptive plan, which
            # double-counts exchanges (same caveat as the plan-shape
            # tests)
            fresh = getattr(fn, "__wrapped__", fn)
            df = fresh(self.spark, self.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), mode
            )
            return 200, {"name": name, "mode": mode, "plan": plan}
        if path == "/diagnostics/skew":
            table = (params.get("table") or [""])[0]
            keys = [k for k in (params.get("keys") or [""])[0].split(",") if k]
            if not table or not keys:
                return 400, {"error": "table and keys parameters required"}
            try:
                top_n = int((params.get("top_n") or ["10"])[0])
                df = self.spark.table(table)
            except ValueError:
                return 400, {"error": "top_n must be an integer"}
            except Exception as e:  # unknown view
                return 404, {"error": str(e).split("\n")[0][:500]}
            from jde_to_datalake_spark.operators.skew import skew_report

            # key values may be dates/decimals — make them JSON-safe
            return 200, _jsonable(skew_report(df, keys, top_n=top_n))
        return 404, {"error": f"unknown path: {path}"}

    def handle_post(self, path: str, params: dict[str, list[str]]) -> tuple[int, dict]:
        """Mutating operations live on POST only, and only when the
        service was started with ``enable_maintenance=True`` — a query
        endpoint must not be able to rewrite the lake by default."""
        if path == "/maintenance/compact":
            if not self.enable_maintenance:
                return 403, {"error": "maintenance endpoints disabled"}
            root = (params.get("root") or [""])[0]
            if not root:
                return 400, {"error": "root parameter required"}
            try:
                target = int((params.get("target_bytes") or [str(128 << 20)])[0])
                min_files = int((params.get("min_files") or ["2"])[0])
            except ValueError:
                return 400, {"error": "target_bytes/min_files must be integers"}
            from jde_to_datalake_spark.sources.lake_maintenance import (
                compact_partitions,
            )

            try:
                report = compact_partitions(
                    self.spark, root, target_bytes=target, min_files=min_files
                )
            except Exception as e:  # noqa: BLE001 - surface as client error
                return 400, {"error": str(e).split("\n")[0][:500]}
            return 200, {"root": root, "compacted": report}
        return 404, {"error": f"unknown path: {path}"}

    def _materialize(
        self, name: str, df: DataFrame, params: dict[str, list[str]]
    ) -> tuple[int, dict]:
        try:
            limit = int((params.get("limit") or [self.default_limit])[0])
        except ValueError:
            return 400, {"error": "limit must be an integer"}
        limit = max(1, min(limit, self.max_rows))
        # limit+1 detects truncation without a second job
        rows = df.limit(limit + 1).collect()
        truncated = len(rows) > limit
        rows = rows[:limit]
        return 200, {
            "name": name,
            "columns": df.columns,
            "rows": [[_jsonable(v) for v in r] for r in rows],
            "n_rows": len(rows),
            "truncated": truncated,
        }


def _jsonable(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _jsonable(x) for k, x in v.items()}
    try:  # Row -> dict
        return {k: _jsonable(x) for k, x in v.asDict().items()}
    except AttributeError:
        return str(v)  # Decimal / datetime / date


def serve(service: QueryService, host: str = "127.0.0.1", port: int = 0):
    """Start a threaded HTTP server wrapping ``service``; returns the
    server (use ``server.server_address`` for the bound port and
    ``server.shutdown()`` to stop). Threaded handlers are fine for the
    Spark driver: SparkSession is thread-safe for concurrent actions.
    """

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, route):
            parsed = urlparse(self.path)
            try:
                status, payload = route(parsed.path, parse_qs(parsed.query))
            except Exception as e:  # noqa: BLE001 - surface as 500
                status, payload = 500, {"error": str(e)[:500]}
            body = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802 - http.server API
            self._reply(service.handle)

        def do_POST(self):  # noqa: N802 - http.server API
            self._reply(service.handle_post)

        def log_message(self, *args):  # quiet test output
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    import threading

    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
