"""Generic source/sink round-trips + the bucketed-join scale proof."""

from __future__ import annotations

import shutil
from pathlib import Path
from urllib.parse import urlparse

from datatransformertools_spark.sources.sinks import (
    bucketed_join_revenue,
    read_jsonl,
    write_bucketed_table,
)
from datatransformertools_spark.sources.tables import load_table


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    nation.write.mode("overwrite").json(str(tmp_path / "jsonl"))

    schema = "n_nationkey int, n_name string, n_regionkey int"
    got_jsonl = read_jsonl(spark, str(tmp_path / "jsonl"), schema)
    want = sorted(tuple(r) for r in nation.collect())
    assert sorted(tuple(r) for r in got_jsonl.collect()) == want


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed_table(orders, "b_orders", "o_orderkey", 8)
    write_bucketed_table(li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 8)
    try:
        # disable broadcast so the join would otherwise sort-merge with exchanges
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_revenue_ignores_warehouse_dir(spark, sf_dir):
    """The bucketed tables live in the session's own scratch dir: a
    leftover ``dtt_bkt_orders`` dir in the shared warehouse dir (another
    session's, or a crashed run's) does not fail the query, and the
    query runs twice in one session."""
    stale = Path(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path) / "dtt_bkt_orders"
    made = not stale.exists()
    stale.mkdir(parents=True, exist_ok=True)
    (stale / "part-00000-stale.parquet").write_bytes(b"")
    try:
        first = sorted(bucketed_join_revenue(spark, sf_dir).collect())
        assert first and first == sorted(bucketed_join_revenue(spark, sf_dir).collect())
    finally:
        if made:
            shutil.rmtree(stale)
        else:
            (stale / "part-00000-stale.parquet").unlink()


def test_cli_list_and_run(spark, sf_dir, capsys):
    from datatransformertools_spark.__main__ import main

    assert main(["list"]) == 0
    names = capsys.readouterr().out.split()
    assert "q1_pricing_summary" in names and len(names) > 100

    assert main(["run", "nope_not_a_query"]) == 2

    assert main(["run", "q14_promo_revenue", "--sf", sf_dir, "--limit", "5"]) == 0
    out = capsys.readouterr().out
    assert "promo_revenue_pct" in out

    assert main(["explain", "q6_forecast_revenue", "--sf", sf_dir]) == 0
    assert "FileScan" in capsys.readouterr().out
