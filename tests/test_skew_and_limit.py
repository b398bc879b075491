"""Salted aggregation exactness + MySQL-style LIMIT rewrite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataframe_sql_spark.dialect.shim import translate
from dataframe_sql_spark.operators.skew import salted_agg


def test_limit_offset_comma_rewrite():
    out = translate("select * from t order by a limit 5, 10")
    assert "LIMIT 10 OFFSET 5" in out


def test_plain_limit_untouched():
    assert "limit 5" in translate("select * from t limit 5")


def test_salted_agg_equals_plain(spark, engine):
    li = engine.spark.table("lineitem")
    salted = salted_agg(
        li,
        ["l_returnflag"],
        {"s": ("l_quantity", "sum"), "c": ("l_quantity", "count")},
        buckets=8,
    )
    plain = li.groupBy("l_returnflag").agg(
        {"l_quantity": "sum"}
    )
    got = {r.l_returnflag: (r.s, r.c) for r in salted.collect()}
    want_sum = {
        r.l_returnflag: r["sum(l_quantity)"] for r in plain.collect()
    }
    assert set(got) == set(want_sum)
    for k in got:
        assert got[k][0] == pytest.approx(want_sum[k])


def test_salted_join_equals_plain_join(spark, engine):
    from dataframe_sql_spark.operators.skew import salted_join

    li = engine.spark.table("lineitem").select("l_orderkey", "l_linenumber")
    orders = engine.spark.table("orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    salted = salted_join(li, orders, on=["l_orderkey"], buckets=8)
    plain = li.join(orders, on="l_orderkey")
    key = lambda r: (r.l_orderkey, r.l_linenumber, r.o_custkey)  # noqa: E731
    assert sorted(map(key, salted.collect())) == sorted(map(key, plain.collect()))


def test_salted_join_left_outer_keeps_unmatched(spark):
    from dataframe_sql_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "va"])
    b = spark.createDataFrame([(1, "z")], ["k", "vb"])
    out = {(r.k, r.va, r.vb) for r in salted_join(a, b, ["k"], buckets=4, how="left").collect()}
    assert out == {(1, "x", "z"), (2, "y", None)}


def test_salted_join_rejects_build_preserving_types(spark):
    from dataframe_sql_spark.operators.skew import salted_join

    a = spark.createDataFrame([(1, "x")], ["k", "va"])
    b = spark.createDataFrame([(1, "z")], ["k", "vb"])
    with pytest.raises(ValueError, match="probe-preserving"):
        salted_join(a, b, ["k"], how="full")


def test_salted_agg_rejects_non_algebraic(spark):
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_agg(spark.range(5), ["id"], {"m": ("id", "median")})


def test_salted_join_flattens_adversarial_skew(spark):
    """Adversarial-skew gate (SCALE.md roadmap #3): on a 99%-one-key
    probe side, the task that owns the hot key owns the stage. Spark's
    shuffle routes rows by pmod(Murmur3 hash(keys), numPartitions) —
    F.hash IS that function, so the per-partition row distribution of
    the exchange is computable exactly, without private APIs: it is
    the max task INPUT each plan would schedule. The unsalted join
    must show the pathology (one partition ≥ 99% of rows) and the
    salted plan must flatten it (hot key spread over the salt
    buckets), while returning exactly the plain join's rows on the
    same adversarial input."""
    # pinned: the 16 salted groups need more partitions than a small
    # host's core count to spread over (4 partitions held 43k rows)
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        _check_salted_join_flattens(spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def _check_salted_join_flattens(spark):
    from dataframe_sql_spark.operators.skew import salted_join, with_salt

    N = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_rows = 100_000
    probe = spark.range(n_rows).select(
        F.when(F.col("id") % 100 < 99, F.lit(0))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    build = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("vb")
    )

    def max_partition_rows(df, cols) -> int:
        return (
            df.groupBy(
                F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(N)).alias("p")
            )
            .agg(F.count("*").alias("n"))
            .agg(F.max("n"))
            .collect()[0][0]
        )

    un = max_partition_rows(probe, ["k"])
    sa = max_partition_rows(with_salt(probe, 16), ["k", "__salt"])
    assert un >= 0.99 * n_rows, "hot key should pin one partition unsalted"
    # 16 salt buckets spread the hot key to ~6.2k rows per (key,salt)
    # group; a partition may collect a few groups, but never the
    # pre-salt pathology (measured 12.4k vs 99k at 32 partitions —
    # the /5 bound leaves room for partition-layout variation in the
    # seeded salt)
    assert sa <= un / 5, f"salting did not flatten the exchange: {sa} vs {un}"
    # and semantics are unchanged on the adversarial input
    plain = probe.join(build, "k")
    salted = salted_join(probe, build, ["k"], buckets=16)
    assert salted.count() == plain.count()
    assert (
        salted.exceptAll(plain).count() == 0
        and plain.exceptAll(salted).count() == 0
    )
