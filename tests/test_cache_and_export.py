"""S13 export sink, F3 unit validation, plan-shape checks."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from jde_to_datalake_spark.functions.scalars import validate_unit
from jde_to_datalake_spark.session import load_table
from jde_to_datalake_spark.sources.excel import ExportTooLargeError, export_result
from tests.conftest import SF_DIR


def test_export_result_and_size_guard(spark, tmp_path):
    nation = load_table(spark, SF_DIR, "nation")
    out = export_result(nation.limit(5), str(tmp_path / "out.xlsx"))
    assert os.path.exists(out) and (out.endswith(".xlsx") or out.endswith(".csv"))
    with pytest.raises(ExportTooLargeError):
        export_result(nation, str(tmp_path / "big.xlsx"), max_rows=2)


def test_validate_unit(spark):
    df = spark.createDataFrame(
        [("KG",), ("kg",), ("bogus",), ("EA",)], ["u"]
    ).withColumn("ok", validate_unit(F.col("u")))
    got = {r["u"]: r["ok"] for r in df.collect()}
    assert got == {"KG": True, "kg": True, "bogus": False, "EA": True}
    strict = spark.createDataFrame([("bogus",)], ["u"]).withColumn(
        "v", validate_unit(F.col("u"), strict=True)
    )
    with pytest.raises(Exception):
        strict.collect()


def test_salted_join_matches_plain_join(spark):
    """Skewed key (90% of left rows) — salted result == plain result."""
    from jde_to_datalake_spark.operators.relational import salted_join

    left = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 50)
        .alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("rv")
    )
    for how in ("inner", "left"):
        plain = left.join(right, "k", how).select("k", "payload", "rv")
        salted = salted_join(left, right, "k", how, salt_buckets=8).select(
            "k", "payload", "rv"
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        ), how


def test_sql_facade_matches_dataframe_plan(spark):
    """spark.sql over registered views == the DataFrame formulation."""
    from jde_to_datalake_spark.plans.sql_api import register_views, sql

    register_views(spark, SF_DIR, ["orders", "customer"])
    got = sql(spark, """
        SELECT c.c_mktsegment, COUNT(*) AS n,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS DOUBLE) / 100 AS total
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """)
    from jde_to_datalake_spark.session import load_table
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    exp = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
             .cast("double") / 100).alias("total"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_filter_and_projection_pushed_to_scan(spark, capsys):
    """Catalyst must push the P4-P6 predicates and the projection into
    the parquet scan — PushedFilters + narrow ReadSchema in the plan
    (SCALE.md 'push down and prune')."""
    import __spark_entry__ as E

    df = E.queries()["filters_inlist_range"](spark, SF_DIR)
    df.explain("formatted")
    plan = capsys.readouterr().out
    assert "PushedFilters: [" in plan
    assert "In(o_orderstatus" in plan and "GreaterThan(o_totalprice" in plan
    # column pruning: only the projected columns reach the reader
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_comment" not in rs and "o_custkey" not in rs
