"""The nine keys registered in round 5 (B46-B49, C27-C31): DuckDB
parity, operator-level invariants and plan shape, plus a pin on the
registry they were folded into."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pipeline_airflow_docker_spark.catalog import TABLES
from pipeline_airflow_docker_spark.plans import ORACLES, QUERIES
from tools.check_parity import _rows_canon

SF = "/root/testdata/sf0.001"

ROUND5_KEYS = (
    "q_agg_mode",
    "q_ks_drift",
    "q_source_caps",
    "q_sample_weighted",
    "q_word_entropy",
    "q_pmi_bigrams",
    "q_zipf_slope",
    "q_bloom_join",
    "q_pagerank",
)


def test_registry_pin():
    """Exactly 150 keys, each with an oracle, the round-5 nine among
    them: a change that drops a key fails here, not in the driver's
    grading window."""
    assert len(QUERIES) == 150
    assert set(ORACLES) == set(QUERIES)
    assert set(ROUND5_KEYS) <= set(QUERIES)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ROUND5_KEYS))
def test_staged_parity(spark, con, name):
    sdf = QUERIES[name](spark, SF)
    srows, scols = sdf.collect(), sdf.columns
    cur = con.execute(ORACLES[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert _rows_canon(scols, srows) == _rows_canon(ocols, orows)


# ------------------------------ bloom -------------------------------


def test_bloom_never_drops_a_true_match(spark):
    from pipeline_airflow_docker_spark.operators.bloomjoin import (
        bloom_prefilter,
        build_bloom,
    )

    dim = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    fact = spark.range(0, 10_000).select(F.col("id").alias("k"))
    bloom = build_bloom(dim, "k", num_bits=1 << 14, num_hashes=4)
    kept = {
        r.k for r in bloom_prefilter(fact, "k", bloom, num_hashes=4).collect()
    }
    true_keys = {r.k for r in dim.collect()} & {r.k for r in fact.collect()}
    assert true_keys <= kept  # zero false negatives, ever
    # and the prefilter actually prunes (fp-rate sanity, not exactness)
    assert len(kept) < 10_000


def test_bloom_semi_join_equals_plain_semi_join(spark):
    from pipeline_airflow_docker_spark.operators.bloomjoin import bloom_semi_join

    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_suppkey", "l_orderkey")
    )
    dim = (
        spark.read.parquet(f"{SF}/supplier.parquet")
        .filter(F.col("s_acctbal") > 5000)
        .select("s_suppkey")
    )
    got = sorted(
        (r.l_suppkey, r.l_orderkey)
        for r in bloom_semi_join(li, "l_suppkey", dim, "s_suppkey").collect()
    )
    want = sorted(
        (r.l_suppkey, r.l_orderkey)
        for r in li.join(
            dim, li["l_suppkey"] == dim["s_suppkey"], "leftsemi"
        ).collect()
    )
    assert got == want


def test_bloom_probe_is_arrow_vectorized(spark):
    from pipeline_airflow_docker_spark.operators.bloomjoin import (
        bloom_prefilter,
        build_bloom,
    )

    dim = spark.range(0, 100).select(F.col("id").alias("k"))
    bloom = build_bloom(dim, "k", num_bits=1 << 12)
    plan = bloom_prefilter(dim, "k", bloom)._jdf.queryExecution().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


# ----------------------------- pagerank -----------------------------


def test_pagerank_conserves_mass_and_ignores_partitioning(spark):
    from pipeline_airflow_docker_spark.operators.graph import (
        pagerank_fixed_point,
        symmetrize,
    )

    raw = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a")],
        ["src", "dst"],
    )
    scale = 10**12
    edges = symmetrize(raw)
    r1 = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(edges, iterations=4, scale=scale).collect()
    }
    r2 = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(
            edges.repartition(7), iterations=4, scale=scale
        ).collect()
    }
    assert r1 == r2  # exact integer arithmetic: layout cannot perturb
    total = sum(r1.values())
    # mass conserved up to bounded floor-division loss per node/round
    loss_bound = len(r1) * (4 + 1) * 100
    assert scale - loss_bound <= total <= scale
    # symmetric ring+chord: the double-degree hub outranks the leaf
    assert r1["a"] > r1["d"]


def test_pagerank_uniform_on_regular_graph(spark):
    from pipeline_airflow_docker_spark.operators.graph import (
        pagerank_fixed_point,
        symmetrize,
    )

    ring = spark.createDataFrame(
        [(str(i), str((i + 1) % 6)) for i in range(6)], ["src", "dst"]
    )
    ranks = {
        r.node: r.rank_fp
        for r in pagerank_fixed_point(symmetrize(ring), iterations=3).collect()
    }
    assert len(set(ranks.values())) == 1  # regular graph => equal ranks


def test_pagerank_releases_its_edge_pin(spark, monkeypatch):
    """pagerank pins the edge list (disk_persist by default); a
    DISK_ONLY persist lives in the JVM CacheManager keyed by the
    logical plan until explicitly unpersisted, so the operator must
    release it before returning — a long-lived session running
    pagerank over many edge lists must not accumulate cache entries
    (and bench reps must not inherit the warmup's cache)."""
    from pipeline_airflow_docker_spark.operators.graph import (
        pagerank_fixed_point,
        symmetrize,
    )

    from pipeline_airflow_docker_spark.functions import materialize as mat

    monkeypatch.delenv("SPARK_GRAFT_MATERIALIZE", raising=False)
    spark.catalog.clearCache()
    ring = spark.createDataFrame(
        [(str(i), str((i + 1) % 6)) for i in range(6)], ["src", "dst"]
    )
    scratch_before = len(mat._SCRATCH_PATHS)
    # checkpoint_every=1 forces an intermediate checkpoint per round:
    # each must be released when superseded (releasing the lazy plan
    # built on top of a checkpoint is a no-op — the materialized
    # object itself must be tracked).
    out = pagerank_fixed_point(
        symmetrize(ring), iterations=3, checkpoint_every=1
    )
    assert out.count() == 6
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty(), "pagerank leaked a persisted DataFrame"
    # only the FINAL result's scratch copy may remain (freed at exit);
    # the three intermediate checkpoints must be gone.
    assert len(mat._SCRATCH_PATHS) <= scratch_before + 1
    # and the result must still be readable after the pins are gone
    assert out.count() == 6


# ------------------------- sampling / caps --------------------------


def test_cap_per_group_invariants(spark):
    from pipeline_airflow_docker_spark.operators.splits import cap_per_group

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "source")
    capped = cap_per_group(d, ["source"], cap=3, key_col="doc_id")
    per = {
        r.source: r.n
        for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per and all(n <= 3 for n in per.values())
    again = cap_per_group(d.repartition(13), ["source"], 3, key_col="doc_id")
    assert sorted(r.doc_id for r in capped.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_weighted_sample_prefers_heavy_rows(spark):
    from pipeline_airflow_docker_spark.operators.splits import weighted_sample

    rows = [(i, 1000.0 if i < 50 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = weighted_sample(df, "w", k=100, key_col="doc_id").collect()
    assert len(got) == 100
    heavy = sum(1 for r in got if r.doc_id < 50)
    # 50 rows carry 1000x weight: essentially all must be selected
    assert heavy >= 45
    # reproducible: a different layout yields the identical sample
    again = weighted_sample(df.repartition(11), "w", 100, key_col="doc_id")
    assert sorted(r.doc_id for r in got) == sorted(
        r.doc_id for r in again.collect()
    )


# --------------------------- mode / ks ------------------------------


def test_mode_median_matches_pandas(spark):
    from pipeline_airflow_docker_spark.operators.profile import mode_median

    e = spark.read.parquet(f"{SF}/events.parquet").select("event_type", "value")
    got = {
        r.event_type: (r.n, r.median_low, r.mode_bin, r.mode_count)
        for r in mode_median(e, "event_type", "value", bin_width=10.0).collect()
    }
    pdf = e.toPandas()
    for et, g in pdf.groupby("event_type"):
        v = g["value"].sort_values().to_numpy()
        n = len(v)
        bins = (g["value"] // 10.0).astype("int64")
        vc = bins.value_counts()
        top = vc.max()
        want_bin = min(b for b, c in vc.items() if c == top)
        assert got[et] == (n, v[(n + 1) // 2 - 1], want_bin, top)


def test_ks_zero_against_itself_and_binning_exactness(spark):
    from pipeline_airflow_docker_spark.operators.profile import ks_statistic

    e = spark.read.parquet(f"{SF}/events.parquet").select("event_type", "value")
    same = e.filter(F.col("event_type") == "click").unionByName(
        e.filter(F.col("event_type") == "click").withColumn(
            "event_type", F.lit("clone")
        )
    )
    row = ks_statistic(same, "value", "event_type", "click", "clone").collect()[0]
    assert row.ks_stat == 0.0 and row.n_a == row.n_b
    # bin width must not change the statistic (decomposition is exact)
    a = ks_statistic(e, "value", "event_type", "click", "view", 10.0).collect()[0]
    b = ks_statistic(e, "value", "event_type", "click", "view", 1000.0).collect()[0]
    assert (a.ks_stat, a.at_value) == (b.ks_stat, b.at_value)


# ------------------------ text statistics ---------------------------


def test_word_entropy_uniform_is_log_n(spark):
    from pipeline_airflow_docker_spark.operators.textstats import word_entropy

    import math

    df = spark.createDataFrame(
        [("g", " ".join(f"w{i}" for i in range(64)))], ["grp", "text"]
    )
    row = word_entropy(df, "grp").collect()[0]
    assert row.n_tokens == 64 and row.n_types == 64
    assert abs(row.entropy_nats - math.log(64)) < 1e-6


def test_pmi_bigrams_finds_the_glued_pair(spark):
    from pipeline_airflow_docker_spark.operators.textstats import pmi_bigrams

    filler = " ".join(f"x{i % 40} y{i % 37}" for i in range(200))
    docs = [(i, f"alpha beta {filler}") for i in range(10)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    top = pmi_bigrams(df, min_count=5, top_k=5).collect()
    assert ("alpha", "beta") in {(r.w1, r.w2) for r in top}


def test_zipf_slope_near_minus_one_on_zipfian_counts(spark):
    from pipeline_airflow_docker_spark.operators.textstats import zipf_slope

    # word i repeated ~C/i times => ideal slope -1
    words = []
    for i in range(1, 40):
        words += [f"w{i:02d}"] * max(1, 4000 // i)
    df = spark.createDataFrame([("g", " ".join(words))], ["grp", "text"])
    row = zipf_slope(df, "grp").collect()[0]
    assert row.n_types == 39
    assert -1.1 < row.zipf_slope < -0.9


# ------------------------------ plans -------------------------------


@pytest.mark.parametrize("name", sorted(ROUND5_KEYS))
def test_staged_plans_no_cartesian_no_row_python(spark, name):
    df = QUERIES[name](spark, SF)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree, name
    assert "BatchEvalPython" not in tree, name
