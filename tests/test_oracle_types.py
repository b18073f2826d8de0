"""Registry-wide TYPE gates between the DuckDB oracles and the Spark
results — the round-4 lesson institutionalized.

Round 4's five red driver rows (q_bigram_rarity, q_corpus_stats,
q_intervals_merge, q_oov_rate, q_try_cast) were all rows+schema-green /
hash-red with one shared root cause: an un-CAST integer ``SUM(...)`` in
the oracle SQL, which DuckDB widens to HUGEINT (int128) — a type Spark
cannot emit, hashed differently by the driver, and INVISIBLE to the
local mirror because ``fetchall()`` collapses HUGEINT to a plain Python
int. These tests make that class of divergence impossible to reintroduce:

1. ``test_all_oracles_inside_spark_type_set`` — every registered oracle's
   result types must lie inside the set Spark can emit (no HUGEINT /
   unsigned / INTERVAL / ... anywhere, including nested in LIST/STRUCT).
   DuckDB resolves types at plan time, so this runs without executing a
   single oracle — it covers all keys, streaming included.
2. ``test_spark_integer_widths_match_oracle`` — the mirror-image bug:
   per qkey, every integer-family column must have the SAME width on
   both engines (oracle BIGINT <-> Spark LongType, INTEGER <->
   IntegerType, ...). Spark schemas come from the lazily-built
   DataFrame, so batch keys cost one Catalyst analysis each.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_parity import oracle_type_violations  # noqa: E402
from tools.plan_audit import is_streaming  # noqa: E402

from pipeline_airflow_docker_spark import plans  # noqa: E402
from pipeline_airflow_docker_spark.catalog import TABLES  # noqa: E402

SF = "/root/testdata/sf0.001"

# DuckDB integer type -> required Spark simpleString. Any column typed
# in the integer family on EITHER side must match width exactly on the
# other: the driver's value hash goes through column types, so an int32
# vs int64 disagreement is a latent red row even when values collide.
_INT_DUCK_TO_SPARK = {
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "HUGEINT": "<none — Spark cannot emit int128>",
}
_SPARK_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


def test_gate_catches_the_round4_failure_mode(oracle_con):
    """The exact shape that went red in r04 — an un-CAST integer SUM —
    must be flagged, including when buried in a LIST or STRUCT; the
    CAST-AS-BIGINT fix must pass."""
    rel = oracle_con.sql("SELECT SUM(n_nationkey) AS s FROM nation")
    assert oracle_type_violations(list(rel.columns), list(rel.types))
    rel = oracle_con.sql(
        "SELECT [SUM(n_nationkey)] AS l, {'x': SUM(n_nationkey)} AS st FROM nation"
    )
    assert len(oracle_type_violations(list(rel.columns), list(rel.types))) == 2
    rel = oracle_con.sql(
        "SELECT CAST(SUM(n_nationkey) AS BIGINT) AS s FROM nation"
    )
    assert not oracle_type_violations(list(rel.columns), list(rel.types))
    # TIME family: TIMESTAMP WITH TIME ZONE is allowed, but bare TIME,
    # TIME WITH TIME ZONE, and a TIME nested in a STRUCT are not —
    # tokenizing the multi-word form must not launder TIME through.
    assert not oracle_type_violations(["t"], ["TIMESTAMP WITH TIME ZONE"])
    assert oracle_type_violations(["t"], ["TIME"])
    assert oracle_type_violations(["t"], ["TIME WITH TIME ZONE"])
    assert oracle_type_violations(["t"], ["STRUCT(x TIME)"])
    # Structural walk (round 6): uppercase STRUCT *field names* must
    # NOT false-positive — only actual type nodes are judged.
    assert not oracle_type_violations(["t"], ['STRUCT("K" INTEGER)'])
    assert not oracle_type_violations(["t"], ['STRUCT("ZONE" VARCHAR)'])
    assert oracle_type_violations(["t"], ['STRUCT("K" TIME)'])
    assert oracle_type_violations(["t"], ["MAP(INTEGER, TIME)"])


def test_all_oracles_inside_spark_type_set(oracle_con):
    bad: dict[str, str] = {}
    for name, sql in sorted(plans.ORACLES.items()):
        rel = oracle_con.sql(sql)
        viol = oracle_type_violations(list(rel.columns), list(rel.types))
        if viol:
            bad[name] = "; ".join(viol)
    assert not bad, f"oracles emitting types outside Spark's set: {bad}"


def test_spark_integer_widths_match_oracle(oracle_con, spark):
    bad: dict[str, list[str]] = {}
    for name, sql in sorted(plans.ORACLES.items()):
        if is_streaming(name):
            # Building a streaming key executes its bounded run; their
            # integer columns are COUNT(*)/SUM(int) aggregates asserted
            # through check_parity + test_streaming.py. The oracle-side
            # gate above still covers them completely.
            continue
        rel = oracle_con.sql(sql)
        duck = dict(zip(rel.columns, (str(t) for t in rel.types)))
        sdf = plans.QUERIES[name](spark, SF)
        problems = []
        for field in sdf.schema.fields:
            s_type = field.dataType.simpleString()
            d_type = duck.get(field.name)
            if d_type is None:
                continue  # name mismatch — check_parity's schema gate
            d_is_int = d_type in _INT_DUCK_TO_SPARK
            s_is_int = s_type in _SPARK_INT_TYPES
            if not d_is_int and not s_is_int:
                continue
            if _INT_DUCK_TO_SPARK.get(d_type) != s_type:
                problems.append(
                    f"{field.name}: spark={s_type} oracle={d_type}"
                )
        if problems:
            bad[name] = problems
    assert not bad, f"integer-width mismatches spark vs oracle: {bad}"
