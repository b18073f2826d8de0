"""Skew-mitigation operators (operators/skew.py) — salted results must
be identical to their unsalted equivalents on skewed data."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline_airflow_docker_spark.operators.skew import salted_agg, salted_join


def _skewed(spark):
    # 90% of rows share one hot key — the shape salting exists for.
    rows = [(i, "hot" if i % 10 else f"cold{i}", float(i % 7)) for i in range(1000)]
    return spark.createDataFrame(rows, "row_id BIGINT, k STRING, v DOUBLE")


def test_salted_agg_matches_plain_agg(spark):
    df = _skewed(spark)
    plain = {
        (r["k"]): (r["total"], r["n"])
        for r in df.groupBy("k")
        .agg(F.sum(F.col("v").cast("decimal(18,4)")).cast("double").alias("total"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r["k"]): (r["total"], r["n"])
        for r in salted_agg(
            df,
            keys=["k"],
            partial_aggs={"ps": F.sum(F.col("v").cast("decimal(18,4)")),
                          "pc": F.count(F.lit(1))},
            final_aggs={"total": F.sum("ps").cast("double"), "n": F.sum("pc")},
            num_salts=8,
            salt_on=["row_id"],
        ).collect()
    }
    assert salted == plain


def test_salted_agg_spreads_hot_key(spark):
    df = _skewed(spark)
    partial = df.withColumn(
        "__salt", F.pmod(F.hash("row_id"), F.lit(8))
    ).groupBy("k", "__salt").count()
    hot_partials = partial.filter(F.col("k") == "hot").count()
    assert hot_partials == 8  # hot key split across all 8 salt buckets


def test_salted_agg_all_columns_are_keys(spark):
    # Degenerate salt_on: every column is a grouping key, so there is
    # no attribute column to hash. Must not raise (F.hash() with zero
    # args does) — falls back to partition-id salting and still
    # produces the exact distinct-key counts.
    df = _skewed(spark).select("k").repartition(8)
    out = {
        r["k"]: r["n"]
        for r in salted_agg(
            df,
            keys=["k"],
            partial_aggs={"pc": F.count(F.lit(1))},
            final_aggs={"n": F.sum("pc")},
        ).collect()
    }
    assert out["hot"] == 900 and len(out) == 101


def test_salted_join_matches_plain_join(spark):
    skewed = _skewed(spark)
    dim = spark.createDataFrame(
        [("hot", 1), ("cold10", 2), ("cold20", 3)], "k STRING, tag INT"
    )
    plain = sorted(
        (r["row_id"], r["tag"]) for r in skewed.join(dim, "k").collect()
    )
    salted = sorted(
        (r["row_id"], r["tag"]) for r in salted_join(skewed, dim, "k", num_salts=4).collect()
    )
    assert salted == plain and len(plain) == 902  # 900 hot + cold10 + cold20


# ---- spread() guard behavior (r18) ----------------------------------


def test_spread_noops_on_shuffle_exchange_plans(spark):
    """A plan already containing a SHUFFLE exchange is already being
    redistributed — spread() must return it untouched (probing .rdd on
    it under AQE would eagerly execute the upstream stages)."""
    from pipeline_airflow_docker_spark.operators.skew import spread

    agg = _skewed(spark).groupBy("k").agg(F.sum("v").alias("s"))
    assert spread(agg, key="k") is agg
    rep = _skewed(spark).repartition(4)
    assert spread(rep) is rep


def test_spread_still_fires_through_broadcast_joins(spark):
    """BroadcastExchange does NOT redistribute the probe side, so a
    broadcast-join-decorated scan keeps its (possibly serial) input
    layout and still deserves the spread — the guard must match
    shuffle exchanges only, not the 'Exchange' substring of
    BroadcastExchange."""
    from pipeline_airflow_docker_spark.operators.skew import spread

    base = _skewed(spark).coalesce(1)
    dim = spark.createDataFrame([("hot", 1)], "k STRING, flag INT")
    joined = base.join(F.broadcast(dim), "k", "left")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    out = spread(joined, key="row_id")
    target = 3 * spark.sparkContext.defaultParallelism
    assert out is not joined
    assert out.rdd.getNumPartitions() == target
    # and the result is unchanged
    assert sorted(r["row_id"] for r in out.collect()) == sorted(
        r["row_id"] for r in joined.collect()
    )


def test_spread_noops_when_only_a_subquery_shuffles(spark):
    """A serial scan filtered by a scalar subquery whose aggregate
    shuffles: the Exchange sits in the subquery, not in the scan's own
    lineage, yet spread() still no-ops. Probing ``.rdd`` would run that
    subquery eagerly, and the spread plan would run it again, so the
    guard counts every shuffle in the printed plan, subqueries included.
    It runs nothing either way: no job is launched by the call."""
    from pipeline_airflow_docker_spark.operators.skew import spread
    from tools.stage_bytes import group_jobs

    base = spark.range(0, 1000, 1, 1).withColumn("v", F.col("id") % 7)
    wide = spark.range(0, 1000, 1, 4).withColumn("w", F.col("id") % 5)
    wide.createOrReplaceTempView("spread_subquery_wide")
    base.createOrReplaceTempView("spread_subquery_base")
    df = spark.sql(
        "SELECT * FROM spread_subquery_base "
        "WHERE v > (SELECT avg(w) FROM spread_subquery_wide)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Subquery" in plan and "Exchange SinglePartition" in plan
    sc = spark.sparkContext
    sc.setJobGroup("spread-subquery-test", "spread guard")
    try:
        assert spread(df, key="id") is df
        assert group_jobs(spark, "spread-subquery-test") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
