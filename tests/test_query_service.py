"""e2e tests for the thin HTTP query service (reference API parity).

The reference front door is ``GET /data/pivot_report`` /
``GET /data/joined_df3`` (backend/main.py:328,417); the service must
return the same rows as calling the registered query directly.
"""

from __future__ import annotations

import json
import urllib.request

import pytest

from conftest import SF_DIR


@pytest.fixture(scope="module")
def service_url(spark):
    import __spark_entry__ as E
    from jde_to_datalake_spark.plans.query_service import QueryService, serve

    svc = QueryService(spark, SF_DIR, E.queries(), default_limit=1000)
    server = serve(svc)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return r.status, json.loads(r.read())


def test_queries_listing(service_url):
    status, payload = _get(f"{service_url}/queries")
    assert status == 200
    assert "pivot_report" in payload["queries"]
    assert len(payload["queries"]) == 50


def test_data_endpoint_matches_direct_query(spark, service_url):
    import __spark_entry__ as E

    status, payload = _get(f"{service_url}/data/pivot_report")
    assert status == 200
    direct = E.queries()["pivot_report"](spark, SF_DIR)
    assert payload["columns"] == direct.columns

    def key(row):
        return tuple("\x00" if v is None else str(v) for v in row)

    got = sorted(map(tuple, payload["rows"]), key=key)
    exp = sorted(map(tuple, direct.collect()), key=key)
    assert got == exp
    assert payload["truncated"] is False


def test_data_endpoint_limit_and_truncation(service_url):
    status, payload = _get(f"{service_url}/data/window_suite?limit=5")
    assert status == 200
    assert payload["n_rows"] == 5
    assert payload["truncated"] is True


def test_unknown_query_404(service_url):
    try:
        _get(f"{service_url}/data/nope")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_sql_endpoint_over_registered_views(service_url):
    status, payload = _get(
        f"{service_url}/sql?q=SELECT%20COUNT(*)%20AS%20n%20FROM%20orders"
    )
    assert status == 200
    assert payload["rows"][0][0] > 0

    try:
        _get(f"{service_url}/sql?q=SELECT%20*%20FROM%20no_such_table")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_explain_endpoint_returns_physical_plan(service_url):
    status, payload = _get(f"{service_url}/explain/pivot_report")
    assert status == 200
    assert payload["mode"] == "formatted"
    assert "BroadcastHashJoin" in payload["plan"]
    assert "Scan parquet" in payload["plan"]
    # unknown query and bad mode are client errors
    for url, expected in (
        (f"{service_url}/explain/nope", 404),
        (f"{service_url}/explain/pivot_report?mode=fancy", 400),
    ):
        try:
            _get(url)
            raise AssertionError(f"expected {expected}")
        except urllib.error.HTTPError as e:
            assert e.code == expected


def _request(url: str, method: str = "GET"):
    req = urllib.request.Request(url, method=method)
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, r.headers["Content-Type"], json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, e.headers["Content-Type"], json.loads(e.read())


def test_get_and_post_share_one_json_reply_path(spark):
    """Over a real socket: a refused POST and a raising handler of
    either verb both come back as JSON bodies with their status."""
    from jde_to_datalake_spark.plans.query_service import QueryService, serve

    svc = QueryService(spark, SF_DIR, {}, enable_sql=False)
    server = serve(svc)
    host, port = server.server_address
    base = f"http://{host}:{port}"

    def boom(path, params):
        raise RuntimeError(f"handler exploded on {path}")

    try:
        assert _request(f"{base}/maintenance/compact?root=x", "POST") == (
            403,
            "application/json",
            {"error": "maintenance endpoints disabled"},
        )
        svc.handle = boom
        svc.handle_post = boom
        assert _request(f"{base}/queries") == (
            500,
            "application/json",
            {"error": "handler exploded on /queries"},
        )
        assert _request(f"{base}/maintenance/compact", "POST") == (
            500,
            "application/json",
            {"error": "handler exploded on /maintenance/compact"},
        )
    finally:
        server.shutdown()
        server.server_close()
