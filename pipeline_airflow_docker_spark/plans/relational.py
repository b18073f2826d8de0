"""Relational operator surface (SURVEY.md §2 Part B) over the TPC-H-ish
test tables.

The reference never joins, groups, windows, or sorts anything (SURVEY.md
§2 A.5: zero joins; §2 A.4: count/limit only), so this module is the
``[EXT]`` generalized closure its clean->enrich->combine->count patterns
imply. Everything is declarative DataFrame API — Catalyst does pushdown,
join selection (broadcast vs shuffle via AQE), and whole-stage codegen.

Scale notes are attached per query: the physical-plan shape each one
should (and does — see tests/test_plans.py) produce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_airflow_docker_spark.catalog import register_views, table
from pipeline_airflow_docker_spark.functions import davg, dec, dsum
from pipeline_airflow_docker_spark.plans.contracts import (
    DOUBLE_LITERAL_RE,
    INT_LITERAL_RE,
)
from pipeline_airflow_docker_spark.plans.registry import query

# --------------------------------------------------------------------
# B7 hash aggregate — the flagship query (pricing summary, TPC-H Q1
# shape). Generalizes the reference's only aggregate (row count,
# dags/etl_data_pipeline_mongodb_complex.py:43) to grouped multi-agg.
# Physical plan: parquet scan (shipdate filter pushed) -> partial
# HashAggregate -> shuffle on 2 low-cardinality keys -> final
# HashAggregate -> sort. At 100 TB the partial aggregation collapses
# billions of rows to 6 groups per task before the shuffle.
# --------------------------------------------------------------------

# Three cross-engine cliffs pinned here (this SQL text runs on BOTH
# engines via q_sql_entry):
# 1. (1±x) factors NARROWED to DECIMAL(8,4): with both factors at
#    (18,4) the three-way product exceeds 38 digits and the engines
#    degrade differently; at (18,4)x(8,4)x(8,4) it is 34-36 digits —
#    EXACT decimal end-to-end in both.
# 1b. The first product is explicitly re-widened to DECIMAL(28,8)
#    before the second multiply: DuckDB types (18,4)x(8,4) as
#    DECIMAL(18,8) — width CAPPED, unlike Spark's (27,8) — so the
#    tax multiply's rescale to scale 12 overflows 18 digits once
#    |l_extendedprice| reaches ~1e7 (era-fuzz rows with pre-1998
#    shipdates were the first fuzz measures ever admitted by this
#    query's filter). After the cast both engines stay exact:
#    Spark (37,12), DuckDB (36,12).
# 2. decimal -> double goes through a STRING round-trip: DuckDB's
#    int128-decimal -> DOUBLE cast divides in floating point and is
#    NOT correctly rounded (observed 4e-9 off on sum_charge at
#    sf0.001), while decimal -> string -> double is correctly
#    rounded in both engines (same trick as the decimal-moment keys).
_PRICING_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(1 - CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(8,4)))
            AS STRING) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                     * CAST(1 - CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(8,4))
                     AS DECIMAL(28,8))
               * CAST(1 + CAST(l_tax AS DECIMAL(18,4)) AS DECIMAL(8,4)))
            AS STRING) AS DOUBLE) AS sum_charge,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
    / COUNT(l_quantity) AS avg_qty,
  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
    / COUNT(l_discount) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q_agg_group", oracle=_PRICING_SQL)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.skew import spread  # noqa: PLC0415

    li = table(spark, sf_dir, "lineitem")
    # (1±x) factors at DECIMAL(8,4) keep every product within 38
    # digits — exact decimal on both engines (see _PRICING_SQL note).
    disc_price = dec("l_extendedprice") * (
        F.lit(1) - dec("l_discount")
    ).cast("decimal(8,4)")
    charge = disc_price * (F.lit(1) + dec("l_tax")).cast("decimal(8,4)")
    # r17: the seven decimal multiply-accumulates are the dominant
    # per-row cost and they run BEFORE the first exchange; on an
    # unsplittable input (1 row group) that serialized the whole
    # aggregate onto one task (measured 1.00 s → 0.64 s at sf0.1 with
    # the spread). No-op when the scan already has ≥3×cores splits —
    # see operators/skew.py::spread. Filter stays below the exchange,
    # so scan pushdown is unchanged (plan-gated).
    li = spread(
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .select(
            "l_orderkey", "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax",
        ),
        key="l_orderkey",
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------
# B20 SQL entry point: the same flagship through spark.sql over
# registered views — proves DF and SQL paths produce identical plans.
# --------------------------------------------------------------------
@query("q_sql_entry", oracle=_PRICING_SQL)
def q_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_PRICING_SQL)


# --------------------------------------------------------------------
# B1 compound predicates: BETWEEN / IN / LIKE / comparison. All five
# predicates push into the parquet scan (PushedFilters) — at 100 TB
# with lineitem partitioned by ship-month this prunes ~29/36 months
# before any row is read.
# --------------------------------------------------------------------
@query(
    "q_filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_extendedprice
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1996-12-31 00:00:00'
      AND l_returnflag IN ('A', 'R')
      AND l_linestatus LIKE 'F%'
      AND l_quantity BETWEEN 10 AND 20
      AND l_discount >= 0.05
    """,
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate").between("1996-01-01", "1996-12-31")
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_linestatus").like("F%")
        & F.col("l_quantity").between(10, 20)
        & (F.col("l_discount") >= 0.05)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_extendedprice")


# --------------------------------------------------------------------
# B2 inner equi-join chain with broadcast dim: revenue per nation
# (TPC-H Q5 shape). nation is broadcast (no shuffle); the
# customer⋈orders⋈lineitem chain shuffles on its keys with AQE free to
# re-plan: at 100 TB, orders⋈lineitem is the big sort-merge join and
# nation stays a broadcast hash join on every executor.
# --------------------------------------------------------------------
@query(
    "q_join_inner",
    oracle="""
    SELECT n.n_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS STRING) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    n = table(spark, sf_dir, "nation")
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    # Fact-first shape: reduce the dimension side (customer ⋈ orders ⋈
    # broadcast(nation)) to the two columns the fact join needs, then
    # sort-merge-join lineitem against it on the fact key. The merge
    # hint matters in both directions: at 100 TB a big-big broadcast is
    # impossible, and locally Catalyst's static size estimate would
    # otherwise *broadcast the 600 k-row lineitem side* (projected cols
    # fall under the 10 MB threshold), serializing a driver-built hash
    # relation — measured 2.4× slower than the merge join.
    co = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("o_orderkey", "n_name")
    )
    return (
        li.hint("merge")
        .join(co, li.l_orderkey == co.o_orderkey)
        .groupBy("n_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# --------------------------------------------------------------------
# B3 left outer join + two-level aggregate: order-count distribution
# per customer including zero-order customers (TPC-H Q13 shape).
# --------------------------------------------------------------------
@query(
    "q_join_outer",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------
# B3 full outer join: deliberately asymmetric per-nation customer vs
# supplier counts, null-safe coalesced key.
# --------------------------------------------------------------------
@query(
    "q_join_full",
    oracle="""
    SELECT COALESCE(a.nationkey, b.nationkey) AS nationkey,
           a.cnt_customers, b.cnt_suppliers
    FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS cnt_customers
          FROM customer WHERE c_nationkey < 15 GROUP BY c_nationkey) a
    FULL OUTER JOIN
         (SELECT s_nationkey AS nationkey, COUNT(*) AS cnt_suppliers
          FROM supplier WHERE s_nationkey >= 10 GROUP BY s_nationkey) b
    ON a.nationkey = b.nationkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 15)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("cnt_customers"))
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") >= 10)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("cnt_suppliers"))
    )
    return cust.join(supp, "nationkey", "full").select(
        "nationkey", "cnt_customers", "cnt_suppliers"
    )


# --------------------------------------------------------------------
# B4 semi / anti joins: customers with (semi) / without (anti) orders
# in 1995. Both avoid materializing the probe side — no fanout, and
# Catalyst rewrites IN/EXISTS subqueries to exactly these.
# --------------------------------------------------------------------
_ORDERS_1995 = "SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'"


@query(
    "q_join_semi",
    oracle=f"""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN ({_ORDERS_1995})
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = _orders_in_1995(spark, sf_dir)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle=f"""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN ({_ORDERS_1995})
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = _orders_in_1995(spark, sf_dir)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def _orders_in_1995(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("o_custkey")


# --------------------------------------------------------------------
# B5 range (non-equi) join: classify orders into price tiers. The tier
# side is 3 rows -> BroadcastNestedLoopJoin; the fact side streams
# through without a shuffle, which is the right 100 TB plan for
# banding joins.
# --------------------------------------------------------------------
_TIERS = [(0.0, 100_000.0, "small"), (100_000.0, 300_000.0, "medium"), (300_000.0, 600_000.0, "large")]


@query(
    "q_join_range",
    oracle="""
    SELECT o.o_orderkey, t.tier
    FROM orders o
    JOIN (VALUES (0.0, 100000.0, 'small'),
                 (100000.0, 300000.0, 'medium'),
                 (300000.0, 600000.0, 'large')) AS t(lo, hi, tier)
      ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    tiers = spark.createDataFrame(_TIERS, "lo DOUBLE, hi DOUBLE, tier STRING")
    cond = (o.o_totalprice >= tiers.lo) & (o.o_totalprice < tiers.hi)
    return o.join(F.broadcast(tiers), cond).select("o_orderkey", "tier")


# --------------------------------------------------------------------
# B6 as-of join (no native Spark op — SURVEY.md §4.2): for each click
# event, the most recent view at-or-before it by the same user.
# Spark recipe: union both sides tagged, one window pass per user with
# last(ignorenulls) — a single shuffle on user_id, linear in events,
# no range-join blowup. Oracle: DuckDB's native ASOF LEFT JOIN.
# --------------------------------------------------------------------
@query(
    "q_join_asof",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts, v.ts AS last_view_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND v.ts <= c.ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # r17: the tagged union used TWO scans of events (one per side);
    # each input row maps to exactly one merged row, so a single scan
    # with a CASE projection emits the identical merged relation —
    # one pass instead of two at any scale (0.58 s → 0.35 s at sf0.1).
    is_click = F.col("event_type") == "click"
    merged = ev.filter(is_click | (F.col("event_type") == "view")).select(
        # clicks keep their event_id; views contribute NULL (they are
        # carriers for view_ts only) — identical to the old union rows.
        F.when(is_click, F.col("event_id")).alias("event_id"),
        "user_id",
        "ts",
        F.when(~is_click, F.col("ts")).alias("view_ts"),
        F.when(is_click, F.lit(1)).otherwise(F.lit(0)).alias("__kind"),
    )
    # views sort before clicks at equal ts (__kind 0 < 1) => "at or
    # before" semantics; event_id makes the order total.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "__kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = merged.withColumn(
        "last_view_ts", F.last("view_ts", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("__kind") == 1).select(
        "event_id", "user_id", "ts", "last_view_ts"
    )


# --------------------------------------------------------------------
# B8 distinct / count-distinct. Exact distinct shuffles twice
# (expand + merge); the approximate variant below trades that for a
# single HLL++ sketch pass — the 100 TB default.
# --------------------------------------------------------------------
@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
        .orderBy("l_returnflag")
    )


# HLL++ estimates are implementation-specific, so the raw estimate has
# no cross-engine hash to match. The gradeable contract is the
# tolerance property instead: emit the exact distinct count plus a
# boolean "HLL estimate landed within 5% of exact" (rsd=0.02, so 5%
# is > 2 sigma); the oracle asserts the same shape with approx_ok=TRUE.
# A broken HLL path flips the boolean and the hash, so the approx
# operator is genuinely exercised and driver-gradeable.
@query(
    "q_agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts_exact,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts_exact"),
            # rsd 0.01 puts the graded 5% bound at >=5 sigma of sketch
            # error (rsd 0.02 left it at 2.5 sigma — a fresh fuzz seed
            # could breach that honestly; same flaw class as the
            # approx-percentile value-tolerance verdict, fixed round 7).
            # At graded cardinalities the p=14 sketch is still in its
            # linear-counting regime, i.e. near-exact.
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        )
        .select(
            "l_returnflag",
            "n_parts_exact",
            (
                F.abs(F.col("approx_parts") - F.col("n_parts_exact"))
                <= 0.05 * F.col("n_parts_exact")
            ).alias("approx_ok"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------
# B9 rollup with grouping id (cube is the same machinery).
# --------------------------------------------------------------------
@query(
    "q_agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- Spark emits NO rows for grouping sets over an EMPTY relation
    -- (standard SQL and DuckDB emit the () grand-total row); the
    -- HAVING mirrors Spark's contract and is a no-op on any
    -- non-empty input.
    HAVING COUNT(*) > 0
    ORDER BY gid, l_returnflag, l_linestatus
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.skew import spread  # noqa: PLC0415

    # r17: Expand (3× row fan-out) + decimal partial aggregation run
    # before the exchange — spread so they parallelize on unsplittable
    # inputs (1.06 s → 0.78 s at sf0.1); no-op on well-laid-out tables.
    li = spread(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_linestatus", "l_quantity"
        ),
        key="l_orderkey",
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            dsum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n_rows")
    )


# --------------------------------------------------------------------
# B9 (cont.) cube: all 2^k grouping-set combinations in one pass —
# Catalyst plans a single Expand node feeding one hash aggregate, so
# the input is scanned once no matter how many grouping sets; the
# shuffle carries gid as part of the grouping key, keeping the 100 TB
# cost profile identical to a plain groupBy modulo the 4x expand.
# --------------------------------------------------------------------
@query(
    "q_agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    -- empty-relation contract: see q_agg_rollup
    HAVING COUNT(*) > 0
    ORDER BY gid, o_orderstatus, o_orderpriority
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            dsum("o_totalprice").alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
        .select("o_orderstatus", "o_orderpriority", "gid", "sum_price", "n_orders")
    )


# --------------------------------------------------------------------
# B10 sort + top-k: planner compiles to TakeOrderedAndProject — a
# per-partition bounded heap + driver merge of k rows, never a global
# sort. The tie-break makes the result set deterministic.
# --------------------------------------------------------------------
@query(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------
# B11 ranking windows. row_number gets a total order (tie-broken);
# rank/dense_rank run over the value ordering alone so tie semantics
# are actually exercised.
# --------------------------------------------------------------------
@query(
    "q_win_rank",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn,
           CAST(RANK()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT) AS rnk,
           CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT) AS drnk
    FROM customer
    """,
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w_total = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    w_value = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w_total).alias("rn"),
        F.rank().over(w_value).alias("rnk"),
        F.dense_rank().over(w_value).alias("drnk"),
    )


# --------------------------------------------------------------------
# B12 analytic windows with frames: running spend per customer +
# lag/lead/first. Running sum in exact decimal so every prefix is
# order-independent-reproducible.
# --------------------------------------------------------------------
@query(
    "q_win_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w_run AS STRING) AS DOUBLE) AS running_spend,
           LAG(o_totalprice, 1)  OVER w AS prev_price,
           LEAD(o_totalprice, 1) OVER w AS next_price,
           FIRST_VALUE(o_totalprice) OVER w_run AS first_price
    FROM orders
    WINDOW
      w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_win_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w_run).cast("double").alias("running_spend"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.first("o_totalprice").over(w_run).alias("first_price"),
    )


# --------------------------------------------------------------------
# B12b time-based RANGE frame: trailing-1-hour rolling sum per user.
# Spark range frames need a numeric ordering column, so the frame runs
# over unix_micros(ts) with microsecond bounds — exactly DuckDB's
# INTERVAL arithmetic (its timestamps are microseconds), so sub-second
# event times cannot drift the frame boundary between engines.
# --------------------------------------------------------------------
@query(
    "q_win_range",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS STRING) AS DOUBLE) AS rolling_1h
    FROM events
    """,
)
def q_win_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(dec("value")).over(w).cast("double").alias("rolling_1h"),
    )


# --------------------------------------------------------------------
# B13 set ops: intersect + except over distinct key sets, tagged and
# stacked into one result.
#
# r17 plan shape: the literal intersect()/exceptAll() form planned the
# two distinct subtrees TWICE each (4 scans, 5 exchanges — each set op
# re-plans both inputs). Set semantics over DISTINCT inputs reduce to
# presence flags on one NULL-SAFE full-outer join of the two distinct
# aggregates: INTERSECT = present in both, EXCEPT = present left-only,
# with <=> reproducing the set ops' NULL-equality contract
# (tests/test_sqledge_contract.py). 2 scans, 4 exchanges (one per
# distinct + two join sides; plans/r17/q_setops_after.txt), identical
# rows (0.45 s → 0.31 s at sf0.1); at 100 TB this halves the passes
# over both inputs. The oracle keeps the textbook INTERSECT/EXCEPT.
# --------------------------------------------------------------------
@query(
    "q_setops",
    oracle="""
    SELECT 'both' AS tag, nationkey FROM (
      SELECT DISTINCT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT 'customer_only' AS tag, nationkey FROM (
      SELECT DISTINCT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    """,
)
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey")).distinct()
        .withColumn("__c", F.lit(1))
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nationkey")).distinct()
        .withColumn("__s", F.lit(1))
    )
    j = cust.join(
        supp, cust["nationkey"].eqNullSafe(supp["nationkey"]), "full_outer"
    ).select(
        F.coalesce(cust["nationkey"], supp["nationkey"]).alias("nationkey"),
        cust["__c"].alias("__c"),
        supp["__s"].alias("__s"),
    )
    tag = (
        F.when(F.col("__c").isNotNull() & F.col("__s").isNotNull(), F.lit("both"))
        .when(F.col("__c").isNotNull(), F.lit("customer_only"))
    )
    return (
        j.withColumn("tag", tag)
        .filter(F.col("tag").isNotNull())
        .select("tag", "nationkey")
    )


# --------------------------------------------------------------------
# B14 string function pack — all JVM built-ins, whole-stage codegen'd;
# no Python in the hot path.
# --------------------------------------------------------------------
@query(
    "q_fn_string",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           LOWER(p_type) AS type_lower,
           SUBSTRING(p_name, 1, 4) AS name_prefix,
           CAST(LENGTH(p_name) AS INT) AS name_len,
           CONCAT_WS('|', p_brand, p_type) AS brand_type,
           REPLACE(p_name, ' ', '_') AS name_snake,
           REGEXP_EXTRACT(p_brand, '[0-9]+') AS brand_num,
           STRING_SPLIT(p_name, ' ')[1] AS first_word,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded
    FROM part
    """,
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.regexp_extract("p_brand", "[0-9]+", 0).alias("brand_num"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


# --------------------------------------------------------------------
# B15 date/time function pack. DuckDB's date_trunc returns DATE for
# month-trunc — cast both sides to TIMESTAMP explicitly.
# --------------------------------------------------------------------
@query(
    "q_fn_date",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_month,
           CAST(DAYOFMONTH(o_orderdate) AS INT) AS order_day,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(DATE_DIFF('day', o_orderdate, DATE '2002-01-01') AS INT) AS days_to_2002,
           -- epoch_us // 1000000: exact integer division TRUNCATING
           -- toward zero — measured, this is what Spark's
           -- unix_timestamp does (1969-12-31 23:59:59.5 -> 0, NOT the
           -- floor -1). The previous FLOOR(EPOCH(..)) was wrong on
           -- two edges the 2024-only fixtures never rolled: pre-1970
           -- fractions (floor != trunc) and far-future years (EPOCH
           -- returns a DOUBLE whose ulp at year 9999 is ~30 us, so
           -- .999999 rounds UP a whole second before FLOOR sees it).
           -- DuckDB's // on BIGINT truncates, matching exactly.
           epoch_us(o_orderdate) // 1000000 AS epoch_sec,
           STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') AS iso
    FROM orders
    """,
)
def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.to_date("o_orderdate").alias("order_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate")).alias("days_to_2002"),
        F.unix_timestamp("o_orderdate").alias("epoch_sec"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("iso"),
    )


# --------------------------------------------------------------------
# B16 math function pack. sqrt is IEEE-exact cross-engine; pow is
# expressed as multiplication (libm pow is not bit-stable across
# engines); floor/ceil come back as BIGINT on both sides.
# --------------------------------------------------------------------
@query(
    "q_fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 1) AS price_rounded,
           ABS(l_quantity - 25.0) AS qty_dev,
           CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
           SQRT(l_quantity) AS qty_sqrt,
           l_quantity * l_quantity AS qty_sq,
           l_orderkey % 7 AS key_mod
    FROM lineitem
    """,
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_rounded"),
        F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


# --------------------------------------------------------------------
# B17 JSON + array/higher-order functions over events.props and
# documents.text. The k cast is gated on contracts.INT_LITERAL_RE —
# the round-8 numeric-string probes showed raw cast semantics diverge
# in five classes (legacy Spark cast TRUNCATES '4.5' to 4, DuckDB
# TRY_CAST ROUNDS it to 5, hex/underscore forms parse on one engine
# only), so the graded contract is "k whose string rendering is an
# integer literal"; both engines apply the identical gate before the
# cast, where they provably agree (incl. overflow -> NULL).
# --------------------------------------------------------------------
@query(
    "q_fn_json",
    oracle=f"""
    SELECT event_id,
           TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(
                             json_extract_string(props, '$.k'),
                             '{INT_LITERAL_RE}')
                         THEN json_extract_string(props, '$.k') END
                    AS INT) AS k,
           TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(
                             json_extract_string(props, '$.k'),
                             '{INT_LITERAL_RE}')
                         THEN json_extract_string(props, '$.k') END
                    AS INT) % 10 AS k_bucket,
           CAST(LENGTH(props) AS INT) AS props_len
    FROM events
    """,
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    raw = F.get_json_object("props", "$.k")
    k = F.when(raw.rlike(INT_LITERAL_RE), raw.cast("int"))
    return e.select(
        "event_id",
        k.alias("k"),
        (k % 10).alias("k_bucket"),
        F.length("props").alias("props_len"),
    )


@query(
    "q_fn_array",
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tokens,
           LIST_CONTAINS(STRING_SPLIT(text, ' '), 'spark') AS has_spark,
           STRING_SPLIT(text, ' ')[1] AS first_token,
           STRING_SPLIT(text, ' ')[-1] AS last_token
    FROM documents
    """,
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "spark").alias("has_spark"),
        toks.getItem(0).alias("first_token"),
        F.element_at(toks, -1).alias("last_token"),
    )


# --------------------------------------------------------------------
# B17b map functions: construct (create_map), merge (map_concat with a
# JSON-derived map<string,string>), filter (map_filter), and explode
# to (key, value) rows. The oracle replays the exploded form as a
# UNION ALL of the constructed entries plus json_keys expansion.
#
# The props ingest contract (round 8 — the JSON-malformation fuzz axis
# crashed the original form with DUPLICATED_MAP_KEY on '{"a":1,"a":2}'
# and exposed three more engine-divergence classes):
#   1. Only STRICT-JSON objects contribute entries. Spark enforces it
#      natively (allowSingleQuotes/allowNonNumericNumbers=false; the
#      parser already rejects trailing commas and leading zeros).
#      DuckDB's yyjson json_valid is lenient on exactly two extensions
#      — NaN/Infinity literals and trailing commas — so the oracle
#      carries two lexical guards run on a STRING-LITERAL-STRIPPED
#      copy of the doc (every "..." replaced by ""), which makes them
#      exact: a conforming doc can't contain those tokens outside
#      strings.
#   2. Duplicate-key objects are ambiguous (Spark can express only
#      LAST_WIN, DuckDB json_extract reads the FIRST) and are treated
#      like malformed docs: they contribute no entries. Detected
#      engine-side via json_object_keys (returns dups), oracle-side
#      via json_keys length vs list_distinct length.
#   3. Props keys colliding with the built 'day'/'type' keys are
#      excluded before map_concat (under EXCEPTION dedup policy a
#      {"day": ...} doc would abort the job; the built entries win).
#   4. Number-typed values re-serialize with different exponent
#      spelling per engine ('1.5E308' vs '1.5e308'), so values split
#      into value_str (non-numeric) and value_num (TRY_CAST DOUBLE) —
#      numerics compare as typed doubles, not as raw text.
#   5. Keys are addressed by RFC 6901 JSON Pointer in the oracle
#      ('/'||key with ~ -> ~0, / -> ~1) — the '$.'||key path form
#      breaks on dotted/spaced keys and errors on quote keys. DuckDB's
#      pointer treats the empty key nonconformantly (returns root), so
#      docs containing an empty key are out of contract on both sides.
#   6. Lone-surrogate escapes (\ud800 unpaired) parse under Jackson
#      but are invalid under yyjson; the engine carries a raw-text
#      guard (high escape not followed by low / low not preceded by
#      high — valid pairs like 😀 stay in contract).
#   7. Numeric overflow (1e999) re-serializes as the quoted artifact
#      '"Infinity"' under Jackson and the bare string 'Infinity' under
#      yyjson; the engine unquotes the artifact so both compare as
#      value_num = +-inf. (A string value whose CONTENT is literally
#      '"Infinity"' with embedded quotes would alias into this — out
#      of contract, documented.)
# Malformed/NULL props parse to a NULL map; coalesce to the empty map
# so bad props lose only their own entries, never the built ones.
# --------------------------------------------------------------------
@query(
    "q_fn_map",
    oracle=r"""
    WITH ok AS (
      SELECT event_id, props,
             regexp_replace(props, '"([^"\\]|\\.)*"', '""', 'g') AS stripped
      FROM events
      WHERE json_valid(props)
    ),
    gated AS (
      SELECT event_id, props FROM ok
      WHERE NOT regexp_matches(stripped, '(NaN|Infinity)')
        AND NOT regexp_matches(stripped, ',\s*[}\]]')
        AND len(json_keys(props)) = len(list_distinct(json_keys(props)))
        AND NOT list_contains(json_keys(props), '')
    ),
    entries AS (
      SELECT event_id, 'day' AS key, CAST(CAST(ts AS DATE) AS VARCHAR) AS value
      FROM events
      UNION ALL
      SELECT event_id, 'type', event_type FROM events
      WHERE event_type IS NOT NULL
      UNION ALL
      SELECT g.event_id, k.key,
             json_extract_string(
               g.props, '/' || replace(replace(k.key, '~', '~0'), '/', '~1')
             ) AS value
      FROM gated g, unnest(json_keys(g.props)) k(key)
      WHERE k.key NOT IN ('day', 'type')
        AND json_extract_string(
              g.props, '/' || replace(replace(k.key, '~', '~0'), '/', '~1')
            ) IS NOT NULL
    )
    SELECT event_id, key,
           CASE WHEN NOT regexp_matches(value, '__DBL__')
                THEN value END AS value_str,
           TRY_CAST(CASE WHEN regexp_matches(value, '__DBL__')
                         THEN value END AS DOUBLE) AS value_num
    FROM entries
    """.replace("__DBL__", DOUBLE_LITERAL_RE),
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    built = F.create_map(
        F.lit("day"), F.to_date("ts").cast("string"),
        F.lit("type"), F.col("event_type"),
    )
    jok = F.json_object_keys("props")
    strict = F.from_json(
        "props",
        "map<string,string>",
        {"allowSingleQuotes": "false", "allowNonNumericNumbers": "false"},
    )
    # Unpaired-surrogate escape: high not followed by low, or low not
    # preceded by high (valid pairs stay in contract). Jackson accepts
    # these; yyjson rejects the whole doc.
    lone_surrogate = (
        r"(?i)(\\ud[89ab][0-9a-f]{2}(?!\\ud[c-f]))"
        r"|((?<!\\ud[89ab][0-9a-f]{2})\\ud[c-f][0-9a-f]{2})"
    )
    ok = (
        (F.size(jok) == F.size(F.array_distinct(jok)))
        & (~F.array_contains(jok, F.lit("")))
        & (~F.col("props").rlike(lone_surrogate))
    )
    parsed = F.coalesce(
        F.when(ok, strict),
        F.from_json(F.lit("{}"), "map<string,string>"),
    )
    pruned = F.map_filter(
        parsed, lambda k, v: (~k.isin("day", "type")) & v.isNotNull()
    )
    merged = F.map_filter(
        F.map_concat(built, pruned), lambda k, v: v.isNotNull()
    )
    kv = e.select("event_id", F.explode(merged).alias("key", "value"))
    raw = F.col("value")
    # Jackson renders numeric overflow as the quoted artifact
    # '"Infinity"'; unquote so both engines compare it as +-inf.
    value = (
        F.when(raw == '"Infinity"', F.lit("Infinity"))
        .when(raw == '"-Infinity"', F.lit("-Infinity"))
        .otherwise(raw)
    )
    kv = kv.select("event_id", "key", value.alias("value"))
    # The numeric route is whitelist-gated (contracts.DOUBLE_LITERAL_RE)
    # rather than try-cast-gated: DuckDB's double parse accepts
    # underscore separators ('4_2' -> 42.0) that Spark's does not, so
    # "whatever casts" is not a cross-engine contract — "matches the
    # shared literal grammar" is.
    num = F.when(
        F.col("value").rlike(DOUBLE_LITERAL_RE), F.col("value").cast("double")
    )
    return kv.select(
        "event_id",
        "key",
        F.when(num.isNull(), F.col("value")).alias("value_str"),
        num.alias("value_num"),
    )


# --------------------------------------------------------------------
# B18 subqueries (scalar + correlated EXISTS) through the SQL entry
# point — the identical ANSI text runs on both engines; Catalyst
# decorrelates the EXISTS into a semi join.
# --------------------------------------------------------------------
_SUBQUERY_SQL = """
SELECT c_custkey, c_acctbal
FROM customer c
WHERE c_acctbal > (
        SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS STRING) AS DOUBLE) / COUNT(*)
        FROM customer)
  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@query("q_subquery", oracle=_SUBQUERY_SQL)
def q_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_SUBQUERY_SQL)


# --------------------------------------------------------------------
# B18 (cont.) correlated scalar subquery + NOT IN. Catalyst's
# decorrelation rewrites the per-row "avg of my brand" into one
# aggregate-then-join (RewriteCorrelatedScalarSubquery) and the NOT IN
# into a null-aware anti join — both shuffle-once plans; nothing is
# re-executed per outer row, which is what makes the query viable when
# the outer table is 100 TB.
# --------------------------------------------------------------------
_SUBQUERY_CORR_SQL = """
SELECT p_partkey, p_brand, p_retailprice
FROM part p
WHERE p_retailprice > (
        SELECT CAST(CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
               / COUNT(*)
        FROM part p2 WHERE p2.p_brand = p.p_brand)
  AND p_partkey NOT IN (
        SELECT l_partkey FROM lineitem WHERE l_quantity > 49)
"""


@query("q_subquery_corr", oracle=_SUBQUERY_CORR_SQL)
def q_subquery_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_SUBQUERY_CORR_SQL)


# --------------------------------------------------------------------
# B19 pandas UDF (Arrow-vectorized — the sanctioned Python escape
# hatch; a row-at-a-time Python UDF here would be ~10-100x slower).
# The arithmetic is integer-exact so the SQL oracle still applies.
# --------------------------------------------------------------------
@query(
    "q_udf",
    oracle="""
    SELECT doc_id, (n_chars * 31 + doc_id * 7) % 97 AS score
    FROM documents
    """,
)
def q_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    # Annotations are assigned as live objects: `from __future__ import
    # annotations` stringifies inline hints, which pandas_udf rejects.
    def _score(n_chars, doc_id):
        return (n_chars * 31 + doc_id * 7) % 97

    _score.__annotations__ = {
        "n_chars": pd.Series, "doc_id": pd.Series, "return": pd.Series
    }
    score = pandas_udf(_score, "long")

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", score("n_chars", "doc_id").alias("score"))


# --------------------------------------------------------------------
# [EXT] Phase-5 skew hardening: salted two-stage aggregation
# (operators/skew.py). Result must be IDENTICAL to the plain groupBy —
# decimal partials are order/partition-independent, so the oracle is
# the unsalted SQL aggregate.
# --------------------------------------------------------------------
@query(
    "q_agg_salted",
    oracle="""
    SELECT event_type,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.skew import salted_agg  # noqa: PLC0415

    ev = table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        partial_aggs={
            "ps": F.sum(dec("value")),
            "pc": F.count(F.lit(1)),
        },
        final_aggs={
            "total_value": F.sum("ps").cast("double"),
            "n_events": F.sum("pc"),
        },
        num_salts=16,
        salt_on=["event_id"],
    )
    return out.orderBy("event_type")


# --------------------------------------------------------------------
# B19b grouped-map UDAF boundary: per-group pandas computation via
# applyInPandas (Arrow-batched; one group per pandas frame). Median is
# genuinely non-algebraic — it cannot be a partial+final built-in —
# which is exactly when applyInPandas earns its shuffle. Scale: one
# shuffle on the group key; each group must fit one executor's memory
# (documents-per-lang does; a billion-row group would need the
# two-pass approx_percentile built-in instead).
# --------------------------------------------------------------------
@query(
    "q_udaf",
    oracle="""
    SELECT lang,
           median(n_chars) AS median_chars,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: PLC0415

    d = table(spark, sf_dir, "documents").select("lang", "n_chars")

    def _stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "median_chars": [float(pdf["n_chars"].median())],
                "n_docs": [len(pdf)],
            }
        )

    out = d.groupBy("lang").applyInPandas(
        _stats, schema="lang STRING, median_chars DOUBLE, n_docs BIGINT"
    )
    return out.orderBy("lang")


# --------------------------------------------------------------------
# B19c Python UDTF (Spark 4): one input row -> N output rows with
# per-row Python logic. Tokenize-with-position over a document slice;
# the lateral join shape is what a custom flatten/parse would use when
# explode(F.split()) can't express the logic. (This one IS expressible
# as explode — chosen deliberately so the oracle can check the UDTF
# machinery exactly.)
# --------------------------------------------------------------------
@query(
    "q_udtf",
    oracle="""
    SELECT doc_id, pos, tok FROM (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents WHERE doc_id < 100
    )
    ORDER BY doc_id, pos
    """,
)
def q_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import lit, udtf  # noqa: PLC0415

    # useArrow: the UDTF executes as ArrowEvalPythonUDTF (vectorized
    # batch transfer) instead of row-pickling BatchEvalPythonUDTF —
    # same eval contract, and keeps the registry's zero-row-Python
    # invariant (tools/plan_audit.py).
    @udtf(returnType="pos BIGINT, tok STRING", useArrow=True)
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                return
            # split(" ") (not split()) == DuckDB string_split semantics:
            # empty tokens between consecutive delimiters are kept.
            for i, tok in enumerate(text.split(" "), start=1):
                yield (i, tok)

    spark.udtf.register("tokenize_pos", Tokenize)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.tok
        FROM documents d, LATERAL tokenize_pos(d.text) t
        WHERE d.doc_id < 100
        ORDER BY d.doc_id, t.pos
        """
    )


# --------------------------------------------------------------------
# B22 pivot: long -> wide conditional aggregation. Explicit pivot
# values (the 5 langs) keep the plan a single pass — with values
# supplied, Spark skips the extra distinct-collect job AND the output
# schema is static, which is what you want at 100 TB (an unbounded
# pivot column is a schema explosion). Oracle: CASE-WHEN conditional
# aggregate, the relational-algebra meaning of pivot.
# --------------------------------------------------------------------
_LANGS = ["de", "en", "es", "fr", "zh"]


@query(
    "q_pivot",
    oracle="""
    SELECT source,
           COUNT(CASE WHEN lang = 'de' THEN 1 END) AS de,
           COUNT(CASE WHEN lang = 'en' THEN 1 END) AS en,
           COUNT(CASE WHEN lang = 'es' THEN 1 END) AS es,
           COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
           COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS zh
    FROM documents GROUP BY source ORDER BY source
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    out = (
        d.groupBy("source")
        .pivot("lang", _LANGS)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _LANGS)  # absent (source, lang) cell = 0 docs
        .orderBy("source")
    )
    return out


# --------------------------------------------------------------------
# B22b unpivot (melt): wide -> long. Spark's native `unpivot` plans as
# an Expand node — each input row emits V rows in the same task, no
# shuffle, no V-way self-union scan. Oracle: the UNION ALL relational
# form (DuckDB's UNPIVOT would also work; UNION ALL keeps it ANSI).
# --------------------------------------------------------------------
@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
    FROM lineitem WHERE l_orderkey < 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey < 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="value",
    )


# --------------------------------------------------------------------
# B23 exact percentiles: `percentile(col, array(...))` is the exact
# sort-based form (one pass, per-group sort buffer). Both engines use
# the same rank = p*(n-1) linear interpolation; results rounded to 6
# decimals to absorb expression-shape float drift. At 100 TB the
# declared scale path is approx_percentile (t-digest sketch, fixed
# memory) — same call shape, swapped function.
# --------------------------------------------------------------------
@query(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 6) AS p25,
           round(quantile_cont(l_quantity, 0.50), 6) AS p50,
           round(quantile_cont(l_quantity, 0.75), 6) AS p75,
           round(quantile_cont(l_quantity, 0.99), 6) AS p99
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pct = F.percentile("l_quantity", F.array(*[F.lit(p) for p in (0.25, 0.5, 0.75, 0.99)]))
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("pcts"))
        .select(
            "l_returnflag",
            F.round(F.col("pcts")[0], 6).alias("p25"),
            F.round(F.col("pcts")[1], 6).alias("p50"),
            F.round(F.col("pcts")[2], 6).alias("p75"),
            F.round(F.col("pcts")[3], 6).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


# B23b: the sketch scale path, graded with the same
# exact-value-plus-verdict contract as q_agg_approx_distinct — emit
# the exact median plus a boolean tolerance verdict; the oracle
# asserts the shape with approx_ok=TRUE. approx_percentile is
# single-pass and mergeable (partial aggregation), the percentile to
# use when an exact percentile would dominate the stage at 100 TB.
#
# The verdict is a RANK window, not a value tolerance: GK-style
# sketches guarantee rank error (<= n/accuracy), never value error,
# and they return an actual data element while percentile()
# INTERPOLATES — on a small group with a gap around the median the
# two legitimately differ by any amount (fuzz seed 5: 56 values,
# exact = (25.5+28.5)/2 = 27.0, approx = the rank-correct element
# 25.5 — 5.6% apart with ZERO rank error). approx_ok therefore
# asserts approx lies between the DISCRETE p40 and p60 order
# statistics (percentile_disc — elements at ranks ceil(0.4n) and
# ceil(0.6n)): any rank-correct element satisfies that for EVERY n,
# and it stays a real accuracy gate — a sketch drifting past ~10%
# rank error fails it on any non-degenerate distribution. The bounds
# must be discrete, not interpolated: for n=2 distinct values the
# interpolated p40/p60 both land strictly BETWEEN the two elements,
# so no element passes — the hypothesis property
# (test_approx_percentile_rank_window_total) falsified the
# interpolated formulation with vals=[0.0, 0.0001] the day it was
# written.
#
# Accuracy knob (measured at sf10, 60 M rows): QuantileSummaries
# insert cost scales with the accuracy parameter — 10000 (the Spark
# default) took 48 s, 1000 took 7 s with the IDENTICAL medians, 100
# drifted. 1000 bounds rank error at ~0.1%, far inside the graded 5%
# tolerance. Counter-intuitively Spark's EXACT percentile is cheaper
# here (1.3 s): it buffers per-DISTINCT-value counts, and l_quantity
# is domain-bounded — the sketch only wins on effectively-continuous
# measures, which is exactly when its accuracy knob matters.
@query(
    "q_agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.50), 6) AS p50_exact,
           -- a group with no non-NULL values has no percentile and no
           -- tolerance verdict (Spark's |approx-exact| test is NULL)
           CASE WHEN quantile_cont(l_quantity, 0.50) IS NULL
                THEN NULL ELSE TRUE END AS approx_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.5)).alias("exact"),
            F.expr(
                "percentile_disc(0.4) WITHIN GROUP (ORDER BY l_quantity)"
            ).alias("lo"),
            F.expr(
                "percentile_disc(0.6) WITHIN GROUP (ORDER BY l_quantity)"
            ).alias("hi"),
            F.approx_percentile("l_quantity", F.lit(0.5), F.lit(1000)).alias("approx"),
        )
        .select(
            "l_returnflag",
            F.round("exact", 6).alias("p50_exact"),
            (
                (F.col("approx") >= F.col("lo"))
                & (F.col("approx") <= F.col("hi"))
            ).alias("approx_ok"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------
# B24 ordered string aggregation: collect_list -> sort_array ->
# concat_ws. The explicit sort INSIDE the aggregate is the point:
# collect_list order is partition-arrival order and thus
# nondeterministic under parallelism; sorting makes the result
# reproducible at any cluster size (and hash-checkable).
# --------------------------------------------------------------------
@query(
    "q_agg_stringagg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def q_agg_stringagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias(
                "nations"
            )
        )
        .orderBy("n_regionkey")
    )


# --------------------------------------------------------------------
# B12' distribution window functions: percent_rank / cume_dist /
# ntile. ntile assigns by row position, so the ORDER BY carries a
# unique tie-break (c_custkey) in both engines — without it ties make
# the tile assignment run-dependent.
# --------------------------------------------------------------------
@query(
    "q_win_distribution",
    oracle="""
    SELECT c_custkey, c_nationkey,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST()    OVER w AS cume,
           CAST(NTILE(4)  OVER w AS INT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q_win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


# --------------------------------------------------------------------
# B25 time-series resample + gap-fill (hypertable-rollup shape):
# hourly per-user buckets, missing hours generated JOINLESS — a lag
# window finds each gap between consecutive observed buckets and a
# sequence-explode fills it (the union equals the per-user min..max
# grid exactly, so the oracle keeps the textbook grid + left-join
# formulation) — totals in exact decimal, and a forward-fill of the
# last observed total via last(ignorenulls) — the standard
# state-carry-forward for sensor/event rollups. Machinery lives in
# operators/timeseries.py::gap_fill_hourly, which guards the explode
# with a fill-step budget (the round-7 era-fuzz block proved a single
# 1900/9999 row pair makes a ~71M-bucket per-user grid and OOM-kills
# the JVM). The qkey rolls up an EXPLICIT fill window — calendar 2024,
# which admits every base/fuzz-jitter row — because a real rollup
# fills the range the dashboard asked for, never data min..max.
# --------------------------------------------------------------------
@query(
    "q_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket,
             COUNT(*) AS n_events,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts < TIMESTAMP '2025-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx
      FROM hourly GROUP BY 1
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
      FROM bounds
    )
    SELECT g.user_id, g.bucket,
           COALESCE(h.n_events, 0) AS n_events,
           COALESCE(h.total, 0.0) AS total,
           last_value(h.total IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS ffill_total
    FROM grid g LEFT JOIN hourly h
      ON g.user_id IS NOT DISTINCT FROM h.user_id AND g.bucket = h.bucket
    """,
)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.timeseries import (  # noqa: PLC0415
        gap_fill_hourly,
    )

    e = table(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-01 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2025-01-01 00:00:00").cast("timestamp"))
    )
    return gap_fill_hourly(e, "user_id", "ts", "value")


# --------------------------------------------------------------------
# B31 recursive CTE (Spark 4 WITH RECURSIVE): hierarchy flattening —
# the org-chart/category-tree workload — over the region -> nation ->
# customer containment DAG modeled as a generic edge list. Spark 4
# supports UNION ALL recursion only (no UNION dedup), so the qkey
# walks an ACYCLIC hierarchy where path duplication cannot occur;
# cyclic closures stay on the label-propagation operator
# (operators/dedup.py::resolve_components), which converges on any
# graph. Identical SQL runs on both engines.
# --------------------------------------------------------------------
_RECURSIVE_SQL = """
WITH RECURSIVE edges AS (
  SELECT concat('R', r_regionkey) AS parent, concat('N', n_nationkey) AS child
  FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT concat('N', n_nationkey) AS parent, concat('C', c_custkey) AS child
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
walk AS (
  SELECT concat('R', r_regionkey) AS node,
         concat('R', r_regionkey) AS root,
         0 AS depth,
         concat('R', r_regionkey) AS path
  FROM region
  UNION ALL
  SELECT e.child AS node, w.root,
         w.depth + 1 AS depth,
         concat(w.path, '>', e.child) AS path
  FROM walk w JOIN edges e ON e.parent = w.node
)
SELECT node, root, depth, path FROM walk
"""


@query("q_recursive_cte", oracle=_RECURSIVE_SQL)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL)


# --------------------------------------------------------------------
# B32 LATERAL correlated subquery (multi-row, ORDER BY + LIMIT): the
# top-N-per-group shape expressed as SQL the way warehouses write it;
# the window-function equivalent is q_win_rank. Identical SQL on both
# engines.
# --------------------------------------------------------------------
_LATERAL_SQL = """
SELECT n.n_name, s.s_name, s.s_acctbal
FROM nation n,
LATERAL (
  SELECT s_name, s_acctbal FROM supplier
  WHERE s_nationkey = n.n_nationkey
  ORDER BY s_acctbal DESC, s_name LIMIT 2
) s
"""


@query("q_lateral", oracle=_LATERAL_SQL)
def q_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


# --------------------------------------------------------------------
# B33 VARIANT semi-structured type (Spark 4): parse JSON once into the
# binary VARIANT encoding, then typed-path extraction — the schema-
# on-read shape that replaces repeated get_json_object string
# re-parsing (each call re-parses the string; VARIANT parses once and
# navigates an indexed binary form — the 100 TB-relevant difference
# for wide semi-structured scans). Output is plain typed columns so
# the DuckDB oracle compares via its JSON functions.
# --------------------------------------------------------------------
@query(
    "q_variant",
    oracle=f"""
    WITH g AS (
      SELECT event_id, event_type,
             TRY_CAST(CASE WHEN regexp_matches(
                               json_extract_string(props, '$.k'),
                               '{INT_LITERAL_RE}')
                           THEN json_extract_string(props, '$.k') END
                      AS INT) AS k
      FROM events
      WHERE json_valid(props)
        AND len(json_keys(props)) = len(list_distinct(json_keys(props)))
    )
    SELECT event_id, k, k >= 50 AS k_high, upper(event_type) AS event_type_u
    FROM g WHERE k % 2 = 0
    """,
)
def q_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # try_parse_json: malformed/NULL props -> NULL VARIANT (parse_json
    # FAILFASTs the whole job on the first bad record — unusable on
    # real corpora). The k value navigates out of the VARIANT as a
    # STRING and passes the shared INT_LITERAL_RE gate before the int
    # cast — variant's own int cast truncates doubles (4.9 -> 4) and
    # coerces booleans (true -> 1) in ways no DuckDB expression
    # mirrors exactly (round-8 numeric-string probes); the gated
    # string render is the contract both engines express, and NULL k
    # rows drop at the even-k filter either way.
    # Duplicate-key docs: the variant builder rejects them, so
    # try_parse_json nulls the doc while DuckDB's json_extract would
    # read the FIRST match — the oracle carries the matching
    # outer-dup exclusion (round-8 JSON fuzz axis). Dups nested BELOW
    # the outer level also null the variant but are invisible to
    # json_keys; declared out of contract (the engine side is safe —
    # the row drops, nothing crashes).
    k_str = F.expr("try_variant_get(try_parse_json(props), '$.k', 'string')")
    k = F.when(k_str.rlike(INT_LITERAL_RE), k_str.cast("int"))
    return (
        e.select(
            "event_id",
            k.alias("k"),
            (k >= 50).alias("k_high"),
            F.upper("event_type").alias("event_type_u"),
        )
        .filter(F.col("k") % 2 == 0)
    )


# --------------------------------------------------------------------
# B34 string collations (Spark 4): case-insensitive grouping via
# UTF8_LCASE collation — grouping/compare semantics carried by the
# TYPE rather than wrapped lower() calls at every use site (and
# collation-aware comparisons stay eligible for pushdown/codegen).
# The output key is lower()-canonicalized so the cross-engine hash is
# well-defined; the oracle expresses the same semantics with lower().
# --------------------------------------------------------------------
@query(
    "q_collation",
    oracle="""
    SELECT lower(CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                      ELSE event_type END) AS event_type_ci,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def q_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    mixed = F.when(
        F.col("event_id") % 2 == 0, F.upper("event_type")
    ).otherwise(F.col("event_type"))
    ci = F.collate(mixed, "UTF8_LCASE")
    return (
        e.groupBy(ci.alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.lower(F.col("g").cast("string")).alias("event_type_ci"),
            "n",
            "n_users",
        )
        .orderBy("event_type_ci")
    )


# --------------------------------------------------------------------
# B35 explicit null ordering: Spark sorts ASC NULLS FIRST by default,
# DuckDB (and most warehouses) ASC NULLS LAST — silent cross-engine
# divergence unless the query states its null placement. This qkey
# ranks a nullable measure with explicit NULLS LAST + a key tiebreak
# on both engines; first/last value picks ignore nulls explicitly.
# --------------------------------------------------------------------
@query(
    "q_win_nulls",
    oracle="""
    WITH nulled AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal
      FROM customer
    )
    SELECT c_custkey, c_nationkey, bal,
           CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                   ORDER BY bal DESC NULLS LAST, c_custkey)
                AS INT) AS bal_rank,
           FIRST_VALUE(bal IGNORE NULLS) OVER (
             PARTITION BY c_nationkey
             ORDER BY bal DESC NULLS LAST, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS top_bal
    FROM nulled
    """,
)
def q_win_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    bal = F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
        F.col("c_acctbal")
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("bal").desc_nulls_last(), "c_custkey"
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey", "c_nationkey", bal.alias("bal")
    ).select(
        "c_custkey",
        "c_nationkey",
        "bal",
        F.row_number().over(w).cast("int").alias("bal_rank"),
        F.first("bal", ignorenulls=True).over(wf).alias("top_bal"),
    )


# --------------------------------------------------------------------
# B37 statistical moments with deterministic math: per-group stddev
# and Pearson correlation from exact DECIMAL moments (n, Σx, Σy, Σx²,
# Σy², Σxy) — the built-in corr()/stddev() aggregate doubles in
# partition order and is not bit-reproducible across engines or
# cluster sizes; moments are (same trick as the z-score screen,
# operators/profile.py). One partial-agg-friendly shuffle. Precision
# is deliberately asymmetric per engine quirk: Spark uses (18,4) — a
# (p,s)x(p,s) product must fit its 38-digit cap ((37,8) does) or it
# silently reduces scale; DuckDB uses (19,4) — widths <=18 live in
# int64 and the raw product overflows before widening, while 19
# forces int128 with an exact (38,8) product. The oracle's
# decimal->double goes through VARCHAR because DuckDB's direct int128
# cast computes mantissa*10^-s in floating point (double-rounded, up
# to 1 ulp off), while string parsing — like Spark's BigDecimal path —
# is correctly rounded. Both sides then produce bit-identical doubles.
# --------------------------------------------------------------------
@query(
    "q_agg_moments",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                      * CAST(l_quantity AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                      * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                      * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS std_qty,
           (sxy - sx * sy / n)
             / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_qty_price
    FROM m ORDER BY l_returnflag
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.skew import spread  # noqa: PLC0415

    # r17: five decimal(18,4)² product-sums per row before the
    # exchange — the slowest single-scan aggregate in the registry on
    # an unsplittable input (1.89 s → 0.77 s at sf0.1 with the
    # spread); no-op when the scan is already parallel.
    li = spread(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
        ),
        key="l_orderkey",
    )
    dq = dec("l_quantity", 18, 4)
    dp = dec("l_extendedprice", 18, 4)
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dq).cast("double").alias("sx"),
        F.sum(dp).cast("double").alias("sy"),
        F.sum(dq * dq).cast("double").alias("sxx"),
        F.sum(dp * dp).cast("double").alias("syy"),
        F.sum(dq * dp).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        "n",
        F.sqrt((sxx - sx * sx / n) / (n - 1)).alias("std_qty"),
        (
            (sxy - sx * sy / n)
            / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n))
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------
# B40 Spearman rank correlation — the robust counterpart of B37's
# Pearson: monotone association free of outlier leverage (heavy-tailed
# price/quantity columns are the norm in 100 TB telemetry). No Spark
# builtin. Strategy: average-rank ties, then Pearson over the ranks —
# but 100% deterministically: the classic average rank for value v in
# group g is rank + (ties-1)/2, a half-integer; correlation is
# invariant under affine maps of the ranks, so we use the INTEGER
# 2*rank + ties - 1 instead and keep every moment in exact DECIMAL
# (B37's trick — built-in corr() sums doubles in partition order and
# never bit-reproduces). Physical plan: ONE exchange on l_returnflag
# (rank windows partition by it; the tie-count windows partition by
# (flag, value), which hashpartitioning(flag) already satisfies —
# EnsureRequirements inserts sorts, not shuffles) -> partial+final
# moment aggregate -> 3-row result. Decimal widths per B37's
# engine-quirk note: Spark (18,0) so products fit the 38-digit cap;
# DuckDB (19,0) to force exact int128 products; decimal->double via
# VARCHAR on the DuckDB side for correctly-rounded doubles.
# --------------------------------------------------------------------
@query(
    "q_corr_spearman",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag,
             CAST(2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                  + count(*) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                                   RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1
                  AS DECIMAL(19,0)) AS rx,
             CAST(2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                  + count(*) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
                                   RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1
                  AS DECIMAL(19,0)) AS ry
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    m AS (
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(CAST(SUM(rx) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(ry) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(rx * rx) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(ry * ry) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(rx * ry) AS VARCHAR) AS DOUBLE) AS sxy
      FROM ranked GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (sxy - sx * sy / n)
             / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))
             AS rho_qty_price
    FROM m ORDER BY l_returnflag
    """,
)
def q_corr_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.ranks import (  # noqa: PLC0415
        binned_scaled_ranks,
        scaled_rank_by_value,
    )
    from pipeline_airflow_docker_spark.operators.skew import spread  # noqa: PLC0415

    # Contract: correlation over rows where BOTH measures are non-NULL
    # (pairwise deletion — a NULL has no rank on either axis).
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .filter(
            F.col("l_quantity").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
    )
    # A plain rank() window would partition by l_returnflag (3 groups
    # = 3 tasks sorting the whole fact table; measured 97 s at sf10 vs
    # 33 s binned). Each axis now uses the cheapest exact strategy for
    # its domain (operators/ranks.py):
    # - l_quantity is DOMAIN-BOUNDED (~50 distinct integers), so its
    #   scaled rank is a pure function of (flag, value) — computed on
    #   the tiny distinct-value count table and broadcast back. Zero
    #   sorts, zero fact shuffles for this axis, at any corpus size.
    # - l_extendedprice is effectively continuous, so it keeps the
    #   bin-parallel window (width 2048 -> ~50 bins/group; the sort
    #   partitions by (flag, bin), parallelism scales with the width
    #   knob, never the group count).
    #
    # r17 plan restructure: BOTH count tables now derive from the raw
    # filtered scan (``counts_from=li``) instead of the previous
    # axis's decorated output — the old composition re-planned the qty
    # lut join inside the price axis's counts subtree (4 lineitem
    # scans, 11 exchanges; now 3 scans, 8 exchanges). The fact lineage
    # additionally gets a scale-adaptive spread (hash on the
    # near-unique price — no-op on well-laid-out inputs) so the bin
    # projection and broadcast-join probes parallelize on unsplittable
    # local files. Measured 1.82 s → 1.29 s at sf0.1; ranks are pure
    # functions of the (flag, value) multisets, so results are
    # bit-identical (oracle re-verified).
    fact = spread(li, key="l_extendedprice")
    ranked = binned_scaled_ranks(
        fact, "l_returnflag", [("l_extendedprice", 2048.0, "ry")],
        counts_from=li,
    )
    ranked = scaled_rank_by_value(
        ranked, "l_returnflag", "l_quantity", out_col="rx", counts_from=li
    ).select("l_returnflag", "rx", "ry")
    m = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").cast("double").alias("sx"),
        F.sum("ry").cast("double").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("double").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("double").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        "n",
        (
            (sxy - sx * sy / n)
            / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n))
        ).alias("rho_qty_price"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------
# B41 median + MAD (median absolute deviation) per group — the robust
# center/spread screen (B27's z-score flags outliers against MOMENTS,
# which the outliers themselves inflate; MAD does not). Spark's
# percentile()/DuckDB's quantile_cont interpolate at even counts with
# different expression shapes ((a+b)/2 vs a+(b-a)*f — up to 1 ulp
# apart), so the qkey pins the LOWER MEDIAN: the order statistic at
# position (n+1) div 2 by value order — integer-exact, identical in
# any engine. Selection, not sorting: each median comes from
# operators/ranks.py::binned_kth_value — a (group, bin) count
# aggregate (map-side partial) locates the one bin containing
# position k, and only that bin's rows are ranked, so no task ever
# sorts more than ~n/n_bins rows regardless of group count. The
# approximate alternative at 100 TB remains approx_percentile
# (t-digest) when ~1% error is acceptable; the MAD shape is unchanged
# either way.
# --------------------------------------------------------------------
@query(
    "q_agg_mad",
    oracle="""
    WITH r1 AS (
      SELECT l_returnflag, l_quantity,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem WHERE l_quantity IS NOT NULL
    ),
    withmed AS (
      SELECT l_returnflag, l_quantity, n,
             MAX(CASE WHEN rn = (n + 1) // 2 THEN l_quantity END)
               OVER (PARTITION BY l_returnflag) AS med_qty
      FROM r1
    ),
    r2 AS (
      SELECT l_returnflag, n, med_qty,
             abs(l_quantity - med_qty) AS dev,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY abs(l_quantity - med_qty)) AS rn2
      FROM withmed
    )
    SELECT l_returnflag, n, med_qty, dev AS mad_qty
    FROM r2 WHERE rn2 = (n + 1) // 2
    ORDER BY l_returnflag
    """,
)
def q_agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.ranks import (  # noqa: PLC0415
        join_group_nullsafe,
        kth_value_by_counts,
    )

    # Contract: rank statistics are over NON-NULL measures (a NULL
    # quantity has no rank; a group with zero valid measures has no
    # median row). Explicit on both engines.
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity")
        .filter(F.col("l_quantity").isNotNull())
    )
    # l_quantity is DOMAIN-BOUNDED (~50 distinct integers), and so is
    # |l_quantity - median| — so both medians are read off tiny
    # (flag, distinct-value) count tables
    # (operators/ranks.py::kth_value_by_counts): one map-side-partial
    # aggregate each, cumulative counts on the ~150-row table, no row
    # of the fact table ever ranked or sorted. Lineage of the round-4
    # fixes for this key: flag-partitioned windows sorted the whole
    # table on #groups tasks (46 s at sf10); binned k-th selection
    # ranked only the bin holding position k (16 s); counting beats
    # selecting because the fact side's only work is two partial
    # aggregates (binned_kth_value remains the general path for
    # unbounded/continuous measures, hypothesis-pinned in
    # tests/test_properties.py).
    from pipeline_airflow_docker_spark.functions.materialize import (  # noqa: PLC0415
        materialize,
    )

    # med is 3 rows consumed by three downstream subtrees (dev, the
    # final join, and mad's lineage through dev); materializing it
    # stops Catalyst re-planning its count+select subtree into each
    # consumer (extra full lineitem aggregates otherwise).
    med = materialize(
        kth_value_by_counts(
            li, "l_returnflag", "l_quantity", out_col="med_qty"
        )
    )
    dev = join_group_nullsafe(li, med, ["l_returnflag"]).select(
        "l_returnflag",
        F.abs(F.col("l_quantity") - F.col("med_qty")).alias("dev"),
    )
    mad = kth_value_by_counts(
        dev, "l_returnflag", "dev", out_col="mad_qty"
    ).select("l_returnflag", "mad_qty")
    return (
        join_group_nullsafe(med, mad, ["l_returnflag"], broadcast=False)
        .select("l_returnflag", "n", "med_qty", "mad_qty")
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------
# B48 bloom-prefiltered semi join (operators/bloomjoin.py): lineitem
# semi-joined to high-balance suppliers with an Arrow-vectorized Bloom
# prefilter ahead of the shuffle. The bloom only reduces shuffled
# volume — the exact join removes false positives, so the oracle is
# the plain IN-subquery aggregate.
# --------------------------------------------------------------------
@query(
    "q_bloom_join",
    oracle="""
    SELECT l_returnflag, count(*) AS n_items,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)))
                AS VARCHAR) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_suppkey IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000)
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.bloomjoin import (  # noqa: PLC0415
        bloom_semi_join,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_returnflag", "l_extendedprice"
    )
    dim = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select("s_suppkey")
    )
    semi = bloom_semi_join(li, "l_suppkey", dim, "s_suppkey")
    return (
        semi.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------
# B49 fixed-point PageRank (operators/graph.py): 3 iterations over the
# symmetrized customer–supplier trade graph, exact int64 fixed-point
# (sum order cannot perturb the result), top-20 by rank. The oracle
# unrolls the identical integer recurrence — no recursion, no floats.
# --------------------------------------------------------------------
@query(
    "q_pagerank",
    oracle="""
    WITH fwd AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT src, dst FROM fwd
      UNION
      SELECT dst AS src, src AS dst FROM fwd
    ),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (
      SELECT node, deg,
             1000000000000 // n AS base,
             1000000000000 // n AS rank_fp
      FROM deg, nn
    ),
    i1 AS (SELECT e.dst AS node, CAST(sum(r.rank_fp // r.deg) AS BIGINT) AS inc
           FROM r0 r JOIN edges e ON e.src = r.node GROUP BY e.dst),
    r1 AS (SELECT r.node, r.deg, r.base,
                  (15 * r.base + 85 * COALESCE(i.inc, 0)) // 100 AS rank_fp
           FROM r0 r LEFT JOIN i1 i ON i.node = r.node),
    i2 AS (SELECT e.dst AS node, CAST(sum(r.rank_fp // r.deg) AS BIGINT) AS inc
           FROM r1 r JOIN edges e ON e.src = r.node GROUP BY e.dst),
    r2 AS (SELECT r.node, r.deg, r.base,
                  (15 * r.base + 85 * COALESCE(i.inc, 0)) // 100 AS rank_fp
           FROM r1 r LEFT JOIN i2 i ON i.node = r.node),
    i3 AS (SELECT e.dst AS node, CAST(sum(r.rank_fp // r.deg) AS BIGINT) AS inc
           FROM r2 r JOIN edges e ON e.src = r.node GROUP BY e.dst),
    r3 AS (SELECT r.node, r.deg, r.base,
                  (15 * r.base + 85 * COALESCE(i.inc, 0)) // 100 AS rank_fp
           FROM r2 r LEFT JOIN i3 i ON i.node = r.node)
    SELECT node, deg, rank_fp FROM r3
    ORDER BY rank_fp DESC, node
    LIMIT 20
    """,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.graph import (  # noqa: PLC0415
        pagerank_fixed_point,
        symmetrize,
    )

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    pr = pagerank_fixed_point(symmetrize(edges), iterations=3)
    return pr.orderBy(F.col("rank_fp").desc(), "node").limit(20)
