"""Data-quality / pipeline-hygiene qkeys (SURVEY.md §2 Part B/C
extensions, round 2): column profiling, distribution outlier screens,
explicit GROUPING SETS.

The reference's only data-quality machinery is a record count logged by
an Airflow task [ref dags/etl_data_pipeline.py:26-29] and a row-shape
check in the enhanced Kafka DAG [ref
dags/kafka_to_mongo_pipeline_enchanced.py:1-40]; these qkeys generalize
that into the machine-checkable profiles a 100 TB pipeline gates on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_airflow_docker_spark.catalog import register_views, table
from pipeline_airflow_docker_spark.functions.numeric import oracle_double_repr
from pipeline_airflow_docker_spark.operators.intervals import bin_interval_join
from pipeline_airflow_docker_spark.operators.profile import (
    histogram_fixed,
    profile_columns,
    zscore_outliers,
)
from pipeline_airflow_docker_spark.operators.textstats import (
    ngram_counts,
    vocabulary,
)
from pipeline_airflow_docker_spark.plans.contracts import INT_LITERAL_RE
from pipeline_airflow_docker_spark.plans.registry import query


# --------------------------------------------------------------------
# Column profile: one row of stats per profiled column, computed in a
# single pass (r18: exploded per-column values + two HashAggregates —
# no multi-countDistinct Expand; see operators/profile.py for the
# exact- vs approx-distinct scale trade).
# --------------------------------------------------------------------
_PROFILE_COLS = ["l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"]


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        numeric = c in ("l_orderkey", "l_quantity")
        if numeric:
            mins = (
                f"MIN({c})::DOUBLE AS min_num, MAX({c})::DOUBLE AS max_num, "
                "NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str"
            )
        else:
            mins = (
                "NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num, "
                f"MIN({c}) AS min_str, MAX({c}) AS max_str"
            )
        parts.append(
            f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows, "
            f"COUNT({c}) AS n_nonnull, COUNT(DISTINCT {c}) AS n_distinct, {mins} "
            "FROM lineitem"
        )
    return " UNION ALL ".join(parts)


@query("q_profile", oracle=_profile_oracle())
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return profile_columns(li, _PROFILE_COLS)


# --------------------------------------------------------------------
# Equi-width histogram (operators/profile.py::histogram_fixed): the
# distribution-shape companion to q_profile. Bin index is integer
# division on the floor(value*scale) grid — floor is IEEE-identical in
# every engine, unlike cast-to-int (Spark truncates, DuckDB rounds) —
# so both engines bin every boundary value the same way. Map-side bin
# assign, one shuffle of <= n_bins partial counts.
# l_extendedprice spans ~[900, 105000); 20 integer-cent-width bins
# over [0, 110000) clamp nothing but exercise the clamp expression.
# --------------------------------------------------------------------
@query(
    "q_histogram",
    oracle="""
    SELECT CAST(bin AS INT) AS bin,
           (bin * 550000 + 0) / 100 AS bin_lo,
           ((bin + 1) * 550000 + 0) / 100 AS bin_hi,
           COUNT(*) AS n
    FROM (
      SELECT GREATEST(0, LEAST(19,
               (CAST(floor(l_extendedprice * 100) AS BIGINT) - 0) // 550000
             )) AS bin
      FROM lineitem
    )
    GROUP BY bin
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return histogram_fixed(li, "l_extendedprice", lo=0.0, hi=110_000.0, n_bins=20)


# --------------------------------------------------------------------
# Distribution outlier screen: events whose value sits >2.5 sample
# standard deviations from their event_type mean. One aggregate
# shuffle; stats broadcast back; the fact table never shuffles.
# --------------------------------------------------------------------
@query(
    "q_outliers",
    oracle="""
    WITH s AS (
      SELECT event_type,
             COUNT(value) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) / COUNT(value) AS mean,
             -- square IN DECIMAL (19,4 forces int128-exact products,
             -- B37's note); dec(v*v) diverges cross-engine once v^2
             -- exceeds 2^53 — see operators/profile.py::zscore_outliers
             CAST(CAST(SUM(CAST(value AS DECIMAL(19,4)) * CAST(value AS DECIMAL(19,4)))
                  AS STRING) AS DOUBLE) AS sumsq
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, e.event_id, e.ts, e.user_id, e.value, e.props,
           (e.value - s.mean)
             / sqrt((s.sumsq - s.n * s.mean * s.mean) / (s.n - 1)) AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs((e.value - s.mean)
              / sqrt((s.sumsq - s.n * s.mean * s.mean) / (s.n - 1))) > 2.5
    """,
)
def q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return zscore_outliers(ev, "event_type", "value", k=2.5)


# --------------------------------------------------------------------
# Explicit GROUPING SETS with GROUPING() flags — the general form of
# the rollup/cube pair (q_agg_rollup / q_agg_cube). One Expand node +
# one aggregate; partial aggregation applies per grouping set, so at
# 100 TB this is len(sets)× the scan rows into the map-side combine,
# not len(sets) separate scans.
# --------------------------------------------------------------------
_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows,
       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INT) AS g_ls
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
HAVING COUNT(*) > 0
"""
# ^ HAVING: Spark emits NO rows for grouping sets over an EMPTY
# relation while DuckDB emits the () grand-total row; this SQL runs on
# BOTH engines, and the clause is a no-op on any non-empty input.


@query("q_grouping_sets", oracle=_GROUPING_SETS_SQL)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


# --------------------------------------------------------------------
# Corpus vocabulary: top-100 tokens by term frequency with document
# frequency — tokenizer/BPE-training first pass. TakeOrderedAndProject
# top-k; total-ordered tie-break so the cut is reproducible.
# --------------------------------------------------------------------
@query(
    "q_vocab",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df_docs
    FROM tok GROUP BY token
    ORDER BY tf DESC, token LIMIT 100
    """,
)
def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return vocabulary(d, "doc_id", "text", top_k=100)


# --------------------------------------------------------------------
# Word-bigram frequencies, top-100 — n-gram LM counts / contamination
# screens. Same DuckDB list_transform shingling the minhash oracle uses.
# --------------------------------------------------------------------
@query(
    "q_ngram_counts",
    oracle="""
    WITH tok AS (SELECT string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> concat_ws(' ', toks[i], toks[i+1]))) AS gram
      FROM tok WHERE len(toks) >= 2
    )
    SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram
    ORDER BY cnt DESC, gram LIMIT 100
    """,
)
def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return ngram_counts(d, "text", n=2, top_k=100)


# --------------------------------------------------------------------
# Fuzzy dimension lookup: dirty keys matched to the nation dimension by
# edit distance <= 2. The dirty side here is a literal 8-row frame, so
# the non-equi join is a broadcast loop over 25 dimension rows — the
# right plan at this shape. For a *large* dirty side, block first
# (length or prefix bucket) so candidates meet on an equi-key; the
# operator stays the same inside each block.
#
# Cross-engine contract (r12 probe): Spark's levenshtein counts CODE
# POINTS, DuckDB's counts BYTES — every non-ASCII pair diverges
# ('café'/'cafe' = 1 vs 2, one emoji = 1 vs 4). The engine's
# codepoint semantic is the right one for text; the key is GRADED on
# the ASCII domain where the two coincide: _TYPOS is literal ASCII
# and the nation dim is never fuzzed (bounded-blast-radius rule in
# tools/gen_fuzz_data.py). tests/test_levenshtein_contract.py pins
# the agreement battery, the divergence discriminator, and an ASCII
# tripwire on both graded inputs so a fixture roll that opens the
# non-ASCII surface fails with a pointer, not a hash mismatch.
# --------------------------------------------------------------------
_TYPOS = [
    "NATIN_3",
    "NATIOM_12",
    "NTION_7",
    "XATION_0",
    "NATION_99",
    "NATON_21",
    "NNATION_5",
    "NATIONN_18",
]
_TYPO_VALUES = ", ".join(f"('{t}')" for t in _TYPOS)


@query(
    "q_fuzzy_join",
    oracle=f"""
    WITH typos(typo) AS (VALUES {_TYPO_VALUES})
    SELECT t.typo, n.n_name,
           CAST(levenshtein(t.typo, n.n_name) AS INT) AS dist
    FROM typos t JOIN nation n ON levenshtein(t.typo, n.n_name) <= 2
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    typos = spark.createDataFrame([(t,) for t in _TYPOS], "typo string")
    nation = table(spark, sf_dir, "nation")
    dist = F.levenshtein(F.col("typo"), F.col("n_name"))
    return (
        typos.join(F.broadcast(nation), on=dist <= 2)
        .select("typo", "n_name", dist.alias("dist"))
    )


# --------------------------------------------------------------------
# Binned interval join — big-big range join without a nested loop:
# attribute each event to same-user purchase windows [ts, ts+1h). The
# plain range join (q_join_range) nested-loops, which is correct for a
# tiny build side; this is the shape that survives two fact tables.
# See operators/intervals.py for the binning math.
# --------------------------------------------------------------------
@query(
    "q_join_range_binned",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS lo,
             ts + INTERVAL 1 HOUR AS hi
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, e.event_id, e.user_id, e.event_type, e.ts
    FROM events e
    JOIN p ON e.user_id = p.user_id
          AND e.ts >= p.lo AND e.ts < p.hi
          AND e.event_id <> p.purchase_id
    """,
)
def q_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("hi"),
    )
    joined = bin_interval_join(
        ev, purchases, point_ts="ts", lo_col="lo", hi_col="hi",
        keys=["user_id"], bin_seconds=3600,
    )
    return joined.filter(F.col("event_id") != F.col("purchase_id")).select(
        "purchase_id", "event_id", "user_id", "event_type", "ts"
    )


# --------------------------------------------------------------------
# Batch sessionization (operators/intervals.py::sessionize): per-user
# session indices with a 30-minute inactivity gap — the batch mirror
# of the streaming session window, for backfills/reprocessing. One
# shuffle: lag and the running sum share one window spec.
# --------------------------------------------------------------------
@query(
    "q_sessionize",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    ),
    m AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('microsecond', prev_ts, ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM o
    )
    SELECT user_id, event_id,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
             AS session_idx
    FROM m
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.intervals import sessionize  # noqa: PLC0415

    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    out = sessionize(
        ev, ["user_id"], "ts", gap_seconds=1800, order_tiebreakers=["event_id"]
    )
    return out.select("user_id", "event_id", "session_idx")


# --------------------------------------------------------------------
# Salted skew join (operators/skew.py::salted_join): the manual
# fallback for pathological key skew — hot fact keys spread over N
# tasks, the dimension side replicated N x. The oracle is the plain
# join: salting must never change results, only the shuffle layout.
# --------------------------------------------------------------------
@query(
    "q_join_salted",
    oracle="""
    SELECT s.s_nationkey,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey ORDER BY s.s_nationkey
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.skew import salted_join  # noqa: PLC0415
    from pipeline_airflow_docker_spark.functions.numeric import dec  # noqa: PLC0415

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_quantity"
    )
    sup = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    joined = salted_join(li, sup, "suppkey", num_salts=8)
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .orderBy("s_nationkey")
    )


# --------------------------------------------------------------------
# SCD2 dimension build (operators/intervals.py::scd2_intervals):
# change stream -> half-open validity intervals per (user, event_type)
# with a current-version flag — the warehouse type-2 dimension the
# reference's ETL DAGs would need one step downstream. One lead-window
# shuffle, no self-join.
# --------------------------------------------------------------------
@query(
    "q_scd2",
    oracle="""
    SELECT user_id, event_type, event_id, value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) IS NULL AS is_current
    FROM events
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.intervals import scd2_intervals  # noqa: PLC0415

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value", "ts"
    )
    out = scd2_intervals(
        ev, ["user_id", "event_type"], "ts", order_tiebreakers=["event_id"]
    )
    return out.select(
        "user_id", "event_type", "event_id", "value",
        "valid_from", "valid_to", "is_current",
    )


# --------------------------------------------------------------------
# Tokenizer-coverage check (operators/textstats.py::oov_rate): per-doc
# out-of-vocabulary rate against the top-100 corpus vocabulary. The
# vocab is broadcast (KBs); the corpus shuffles once keyed by doc_id.
# --------------------------------------------------------------------
@query(
    "q_oov_rate",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS tf FROM tok GROUP BY token
        ORDER BY tf DESC, token LIMIT 100
      )
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)
             AS oov_ratio
    FROM tok t LEFT JOIN vocab v USING (token)
    GROUP BY doc_id
    """,
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.textstats import (  # noqa: PLC0415
        oov_rate,
        vocabulary,
    )

    d = table(spark, sf_dir, "documents")
    vocab = vocabulary(d, top_k=100).select("token")
    return oov_rate(d, vocab)


# --------------------------------------------------------------------
# Rare-bigram quality signal (operators/textstats.py::
# rare_bigram_ratio): integer-exact stand-in for LM-perplexity
# filtering — fraction of a doc's bigrams that are corpus-rare.
# Bigrams materialized once; corpus counts one keyed aggregate; join
# back keyed on the bigram.
# --------------------------------------------------------------------
@query(
    "q_bigram_rarity",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks)-1, 1) + 1),
                                   i -> concat_ws(' ', toks[i], toks[i+1])))
               AS gram
      FROM tok WHERE len(toks) >= 2
    ),
    c AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram)
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN c.cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rare,
           SUM(CASE WHEN c.cnt <= 2 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)
             AS rare_ratio
    FROM g JOIN c USING (gram)
    GROUP BY doc_id
    """,
)
def q_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.textstats import (  # noqa: PLC0415
        rare_bigram_ratio,
    )

    return rare_bigram_ratio(table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------
# Snapshot reconciliation (operators/reconcile.py::table_diff): keyed
# diff of two table versions — added/removed/changed — as the
# post-backfill audit. Each side collapses to (key, md5 row-hash)
# map-side; one full-outer equi-join classifies. The two snapshots
# are derived deterministically from orders so both engines replay
# the identical scenario.
# --------------------------------------------------------------------
_DIFF_NULL = "'\\x00∅'"

# o_totalprice is DOUBLE: the row hash renders it through the %a
# hex-float contract (functions/numeric.py::portable_double_repr) —
# the native ::VARCHAR spelling is a per-engine dialect past 1e7.
_DIFF_PRICE = oracle_double_repr("o_totalprice")


@query(
    "q_table_diff",
    oracle=f"""
    WITH old AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 101 <> 0
    ),
    new AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 13 = 0
                  THEN round(o_totalprice + 1.0, 2) ELSE o_totalprice END
               AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_custkey % 97 <> 0
    ),
    oh AS (
      SELECT o_orderkey,
             md5(concat_ws(chr(31), o_custkey::VARCHAR,
                           {_DIFF_PRICE}, o_orderpriority)) AS h
      FROM old
    ),
    nh AS (
      SELECT o_orderkey,
             md5(concat_ws(chr(31), o_custkey::VARCHAR,
                           {_DIFF_PRICE}, o_orderpriority)) AS h
      FROM new
    )
    SELECT o_orderkey, change FROM (
      SELECT COALESCE(oh.o_orderkey, nh.o_orderkey) AS o_orderkey,
             CASE WHEN oh.o_orderkey IS NULL THEN 'added'
                  WHEN nh.o_orderkey IS NULL THEN 'removed'
                  WHEN oh.h <> nh.h THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM oh FULL OUTER JOIN nh ON oh.o_orderkey = nh.o_orderkey
    ) WHERE change <> 'unchanged'
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.reconcile import table_diff  # noqa: PLC0415

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    old = o.filter(F.col("o_orderkey") % 101 != 0)
    new = o.filter(F.col("o_custkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.round(F.col("o_totalprice") + 1.0, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    return table_diff(old, new, keys=["o_orderkey"])


# --------------------------------------------------------------------
# Session summaries on top of sessionize: per (user, session) event
# count, duration, and value total — the product-analytics session
# table. The groupBy key (user_id, session_idx) is a superset of the
# sessionize window key, so the aggregate reuses the same hash
# partitioning characteristics; decimal-exact value sums.
# --------------------------------------------------------------------
@query(
    "q_session_stats",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    ),
    m AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('microsecond', prev_ts, ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM o
    ),
    s AS (
      SELECT user_id, event_id, ts, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
               AS session_idx
      FROM m
    )
    SELECT user_id, session_idx,
           COUNT(*) AS n_events,
           MIN(ts) AS t_start,
           MAX(ts) AS t_end,
           date_diff('microsecond', MIN(ts), MAX(ts)) // 1000000
             AS duration_sec,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, session_idx
    """,
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.functions.numeric import dec  # noqa: PLC0415
    from pipeline_airflow_docker_spark.operators.intervals import sessionize  # noqa: PLC0415

    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    s = sessionize(ev, ["user_id"], "ts", 1800, order_tiebreakers=["event_id"])
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
        # integer-div micros: date_diff('second') counts boundary
        # crossings, not elapsed whole seconds — engines disagree
        F.expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000")
        .alias("duration_sec"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
    )


# --------------------------------------------------------------------
# B42 interval coalescing (operators/intervals.py::coalesce_intervals):
# merge overlapping activity intervals into maximal covered islands —
# the uptime/coverage-window rollup (each event covers [ts, ts+5min);
# touching-or-overlapping spans fuse). Running-max gaps-and-islands:
# new-island flag via max(end) over ROWS UNBOUNDED..1 PRECEDING, id =
# running sum, then a (user, island) aggregate — which clusters on a
# superset of the window's partition key, so the whole plan is ONE
# user_id exchange (plan-gated). Timestamp arithmetic is microsecond-
# exact in both engines; island numbering is tie-order-independent
# (equal starts see the same running max).
# --------------------------------------------------------------------
@query(
    "q_intervals_merge",
    oracle="""
    WITH iv AS (
      -- the fabricated [ts, ts+5min) activity intervals inherit the
      -- event-time plausibility horizon (plans/contracts.py,
      -- applied via streaming/windows.py::plausible_event_time):
      -- a year-9999 event's interval END leaves the representable
      -- Python datetime range at collect (era-fuzz find, round 7)
      SELECT user_id, ts AS s, ts + INTERVAL 5 MINUTE AS e FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts < TIMESTAMP '2025-01-01 00:00:00'
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       >= s
                  THEN 0 ELSE 1 END AS new_island
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             CAST(SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                        ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS island
      FROM flagged
    )
    SELECT user_id, island, MIN(s) AS island_start, MAX(e) AS island_end,
           COUNT(*) AS n_events
    FROM isl GROUP BY user_id, island
    """,
)
def q_intervals_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.intervals import (  # noqa: PLC0415
        coalesce_intervals,
    )
    from pipeline_airflow_docker_spark.plans.contracts import (  # noqa: PLC0415
        HORIZON_2024,
    )
    from pipeline_airflow_docker_spark.streaming.windows import (  # noqa: PLC0415
        plausible_event_time,
    )

    # The fabricated [ts, ts+5min) activity intervals inherit the
    # declared event-time horizon: a year-9999 interval END leaves the
    # datetime-representable range at collect (era-fuzz find, round 7).
    iv = (
        plausible_event_time(
            table(spark, sf_dir, "events"), "ts", HORIZON_2024
        )
        .select(
            "user_id",
            F.col("ts").alias("s"),
            (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
        )
    )
    return coalesce_intervals(iv, "user_id", "s", "e").groupBy(
        "user_id", "island"
    ).agg(
        F.min("s").alias("island_start"),
        F.max("e").alias("island_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------
# B43 character-class profile — payload-hygiene screen over a string
# column (the JSON props blob): per-row counts of digits / letters /
# whitespace / other, all integer-exact via length-difference after a
# global regexp strip (the [0-9]/[A-Za-z]/whitespace classes sit in
# the Java-regex/RE2 common subset, like the PII scrubber). Map-side
# only — zero shuffle (plan-gated); the schema-drift canary that
# catches a producer switching number formats or injecting control
# characters long before a parser does.
# --------------------------------------------------------------------
@query(
    "q_charclass",
    oracle="""
    SELECT event_id,
           CAST(length(props) AS INT) AS n_chars,
           CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS INT) AS n_digit,
           CAST(length(props) - length(regexp_replace(props, '[A-Za-z]', '', 'g')) AS INT) AS n_alpha,
           CAST(length(props) - length(regexp_replace(props, '[ \\t]', '', 'g')) AS INT) AS n_space
    FROM events
    """,
)
def q_charclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    n = F.length("props")

    def stripped(pattern: str) -> F.Column:
        return (n - F.length(F.regexp_replace("props", pattern, ""))).cast("int")

    return ev.select(
        "event_id",
        n.cast("int").alias("n_chars"),
        stripped("[0-9]").alias("n_digit"),
        stripped("[A-Za-z]").alias("n_alpha"),
        stripped("[ \\t]").alias("n_space"),
    )


# --------------------------------------------------------------------
# B44 tolerant-cast quarantine — ANSI-safe ingestion: try_cast turns
# malformed values into NULL instead of failing the job (Spark 4
# Column.try_cast ≡ DuckDB TRY_CAST on integer literals), and the
# quarantine COUNT is the data-quality metric a pipeline gates on.
# Only integer-string casts are graded, and since round 8 that
# restriction is STRUCTURAL, not a fixture accident: both engines
# apply contracts.INT_LITERAL_RE to the string before casting.
# Ungated, the engines disagree on at least five classes — DuckDB
# rounds decimal strings ('29.46' -> 29), hex-parses '0x10' -> 16,
# and accepts '4_2' -> 42 where Spark's try_cast nulls all of them.
# One grouped aggregate.
# --------------------------------------------------------------------
@query(
    "q_try_cast",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(
                                   json_extract_string(props, '$.k'),
                                   '{INT_LITERAL_RE}')
                               THEN json_extract_string(props, '$.k') END
                          AS INT)) AS n_k_valid,
           CAST(SUM(TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(
                                      json_extract_string(props, '$.k'),
                                      '{INT_LITERAL_RE}')
                                  THEN json_extract_string(props, '$.k') END
                             AS INT))
                AS BIGINT) AS sum_k,
           COUNT(TRY_CAST(CASE WHEN regexp_matches(event_type,
                                                   '{INT_LITERAL_RE}')
                               THEN event_type END
                          AS INT)) AS n_type_numeric
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    raw = F.get_json_object("props", "$.k")
    k = F.when(raw.rlike(INT_LITERAL_RE), raw.try_cast("int"))
    et_num = F.when(
        F.col("event_type").rlike(INT_LITERAL_RE),
        F.col("event_type").try_cast("int"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(k).alias("n_k_valid"),
            F.sum(k).alias("sum_k"),
            F.count(et_num).alias("n_type_numeric"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# B45 equal-frequency bucketing — ntile quartiles of value within each
# event_type (the rank-based tiering behind quality bands, price
# tiers, curriculum buckets) plus per-tier summary stats. ntile is the
# SQL-standard definition in both engines; ties are pinned by the
# event_id tiebreak so bucket membership is total-order deterministic.
# The tier window and the (type, tier) aggregate both cluster on
# event_type — ONE exchange end-to-end (plan-gated).
# --------------------------------------------------------------------
@query(
    "q_quantile_bucket",
    oracle="""
    WITH t AS (
      SELECT event_type, value,
             CAST(ntile(4) OVER (PARTITION BY event_type
                                 ORDER BY value, event_id) AS INT) AS tier
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, tier, COUNT(*) AS n,
           MIN(value) AS lo, MAX(value) AS hi,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
    FROM t GROUP BY event_type, tier
    """,
)
def q_quantile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.functions import dsum  # noqa: PLC0415
    from pipeline_airflow_docker_spark.operators.ranks import (  # noqa: PLC0415
        binned_ntile,
    )

    # Contract: tiers over NON-NULL values only (explicit; engines
    # disagree on default NULL placement in ORDER BY anyway).
    ev = (
        table(spark, sf_dir, "events")
        .select("event_type", "value", "event_id")
        .filter(F.col("value").isNotNull())
    )
    # operators/ranks.py::binned_ntile — a plain ntile window here
    # would partition by event_type (5 groups = 5 tasks sorting all
    # events; 9.8 s at sf10 vs 3.8 s binned). value spans ~[0, 100):
    # width 4 -> ~25 bins/group.
    tiered = binned_ntile(
        ev,
        "event_type",
        "value",
        n_tiles=4,
        tiebreak_cols=["event_id"],
        bin_width=4.0,
    )
    return (
        tiered.groupBy("event_type", "tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            dsum("value").alias("sum_value"),
        )
    )


# --------------------------------------------------------------------
# B46 deterministic mode + lower median (operators/profile.py::
# mode_median) per event_type over value, bin width 10. Built-in
# mode() leaves ties arbitrary in both engines; this pins them.
# --------------------------------------------------------------------
@query(
    "q_agg_mode",
    oracle="""
    WITH b AS (
      SELECT event_type, value,
             CAST(floor(value / 10.0) AS BIGINT) AS vbin
      FROM events WHERE value IS NOT NULL
    ),
    md AS (
      SELECT event_type, vbin AS mode_bin, c AS mode_count FROM (
        SELECT event_type, vbin, count(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY count(*) DESC, vbin) AS rn
        FROM b GROUP BY event_type, vbin
      ) WHERE rn = 1
    ),
    me AS (
      SELECT event_type, n, value AS median_low FROM (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM b
      ) WHERE rn = (n + 1) // 2
    )
    SELECT me.event_type, n, median_low, mode_bin, mode_count
    FROM me JOIN md ON md.event_type = me.event_type
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.profile import (  # noqa: PLC0415
        mode_median,
    )

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return mode_median(
        e.select("event_type", "value"), "event_type", "value", bin_width=10.0
    )


# --------------------------------------------------------------------
# B47 two-sample KS drift (operators/profile.py::ks_statistic):
# click-vs-view distribution gap over events.value. The oracle cumsums
# one global ordering; the operator's bin-offset decomposition must
# reproduce it exactly.
# --------------------------------------------------------------------
@query(
    "q_ks_drift",
    oracle="""
    WITH pv AS (
      SELECT value,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL
      GROUP BY value
    ),
    c AS (
      SELECT value,
             sum(ca) OVER (ORDER BY value
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             sum(cb) OVER (ORDER BY value
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      FROM pv
    ),
    t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                 CAST(sum(cb) AS BIGINT) AS n_b FROM pv)
    SELECT n_a, n_b,
           round(abs(cuma::DOUBLE / n_a - cumb::DOUBLE / n_b), 6) AS ks_stat,
           value AS at_value
    FROM c, t
    ORDER BY ks_stat DESC, at_value
    LIMIT 1
    """,
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_airflow_docker_spark.operators.profile import (  # noqa: PLC0415
        ks_statistic,
    )

    e = table(spark, sf_dir, "events")
    return ks_statistic(e, "value", "event_type", "click", "view", bin_width=10.0)
