"""Bucketed tables: co-located joins with zero exchange."""

from __future__ import annotations

from dataframe_sql_spark.engine import plan_string
from dataframe_sql_spark.sources.io import write_bucketed


def test_bucketed_join_has_no_exchange(spark, engine):
    orders = engine.spark.table("orders").limit(2000)
    lineitem = engine.spark.table("lineitem").limit(2000)
    write_bucketed(orders, "b_orders", ["o_orderkey"], num_buckets=8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        num_buckets=8,
    )
    joined = (
        spark.table("b_orders")
        .hint("merge")  # force sort-merge so broadcast doesn't mask bucketing
        .join(spark.table("b_lineitem"), "o_orderkey")
    )
    plan = plan_string(joined)
    assert "Exchange" not in plan, plan  # co-located: no shuffle on either side
    assert "SortMergeJoin" in plan
    assert joined.count() > 0
    # bucket pruning metadata survives the round trip
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_stateful_batch_fallback(spark, engine):
    from dataframe_sql_spark.streaming.pipeline import running_user_totals

    out = running_user_totals(engine.spark.table("events"))
    rows = out.collect()
    assert len(rows) > 0 and all(r.n_events >= 1 for r in rows)
