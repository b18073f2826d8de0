"""Skew mitigation: salted two-stage aggregation and salted joins.

`[EXT]` scale operators (SURVEY.md §7 Phase 5) — nothing like this
exists in the reference (it has no partitioning concept at all,
SURVEY.md §4.1). At 100 TB a handful of hot grouping keys (one
mega-customer, one dominant event_type) can pin an entire stage on one
task. AQE's skew-join splitting covers joins; for *aggregations* over
hot keys the standard fix is salting:

  stage 1: group by (key, salt) where salt = hash(row) % N
           -> N partial rows per hot key, spread over N tasks
  stage 2: group by key over the partials -> final row per key

Only works for algebraic aggregates (sum/count/min/max, and avg as
sum+count). The helper takes the decomposition explicitly so the
reassembly is visible and testable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: dict[str, Column],
    final_aggs: dict[str, Column],
    num_salts: int = 16,
    salt_on: Sequence[str] | None = None,
) -> DataFrame:
    """Two-stage aggregation with a synthetic salt key.

    ``partial_aggs``: name -> aggregate over the raw rows (stage 1,
    keyed by keys+salt). ``final_aggs``: name -> aggregate over the
    stage-1 partial columns (stage 2, keyed by keys). For sums/counts
    the final agg is a sum of partials; min/max re-take min/max.

    ``salt_on``: columns to derive the salt from (deterministic —
    replayable runs hash stable row attributes). Name a
    high-cardinality column (an id, a timestamp) or the salt
    degenerates and the hot key stays on one task. Default salts on
    all non-key columns; when every column is a grouping key there is
    nothing deterministic to salt on, so the salt falls back to
    ``spark_partition_id()`` (spreads hot keys across however many
    input partitions hold them; not stable across different input
    partitionings, which only matters if you diff partial rows between
    runs — the final aggregate is identical either way).

    Example::

        salted_agg(events, ["event_type"],
                   partial_aggs={"s": F.sum("value"), "c": F.count(F.lit(1))},
                   final_aggs={"total": F.sum("s"), "n": F.sum("c")})
    """
    salt_cols = list(salt_on) if salt_on else [c for c in df.columns if c not in keys]
    if salt_cols:
        salt_expr = F.pmod(F.hash(*[F.col(c) for c in salt_cols]), F.lit(num_salts))
    else:
        # All columns are grouping keys: hash() with zero args would
        # raise, and any constant would un-salt. Partition id spreads a
        # hot key over every input partition that contains it.
        salt_expr = F.pmod(F.spark_partition_id(), F.lit(num_salts))
    salted = df.withColumn("__salt", salt_expr)
    partial = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(name) for name, expr in partial_aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[expr.alias(name) for name, expr in final_aggs.items()]
    )


def spread(
    df: DataFrame,
    key: str | Sequence[str] | None = None,
    factor: int = 3,
) -> DataFrame:
    """Scale-adaptive input spread for CPU-heavy map-side pipelines
    (guide §2.5 "input skew: one huge unsplittable file ... repartition
    immediately after the read").

    A table stored as one parquet row group is UNSPLITTABLE: Spark cuts
    it into byte-range splits but the whole row group decodes in the
    single task that holds its start offset, so everything up to the
    first exchange — decode, filters, decimal multiply-accumulate,
    partial aggregation — runs serially no matter how many cores exist
    (the driver testdata is exactly this shape: 1 file × 1 row group
    per table; measured (31+1)/32 stragglers on every scan stage).
    This helper repartitions to ``factor ×`` the session's default
    parallelism ONLY when the input has fewer partitions than that
    target — at cluster scale a 100 TB table carries orders of
    magnitude more row groups than ``3 × cores`` and this is a no-op,
    so the extra exchange exists exactly when the input layout starves
    the cores and never otherwise. The 3× factor matters as much as
    the floor: an input that lands just above the core count (34
    splits on 32 cores — the sf10 documents table) runs as one full
    wave plus a 2-task straggler wave, doubling wall clock; 3× cores
    gives the scheduler enough granularity to balance (measured 2.4×
    on the dedup operators' per-doc hash stages).

    ``key`` selects HASH distribution on an existing high-cardinality
    column — unlike round-robin ``repartition(n)``, hash partitioning
    is deterministic per row and skips the local sort-before-repartition
    pass (SPARK-23207) that round-robin pays to make retries safe;
    measured 0.81 s → 0.64 s on the flagship aggregate vs the
    round-robin form. Use ≥20× more distinct key values than the
    target partition count (guide §2.5); natural unique-ish keys
    (order keys, event ids) qualify. Without ``key``, falls back to
    round-robin (correct for any input, pays the sort).

    Scan-rooted inputs only (r18, ADVICE hardening): the partition
    probe reads ``df.rdd``, and under AQE that EXECUTES every shuffle
    stage in the plan eagerly — work the subsequent repartition plan
    would then recompute. A plan that already contains an Exchange is
    already being redistributed (its post-shuffle layout is AQE's job,
    not this helper's), so spread() detects that from the *unexecuted*
    physical plan and no-ops instead of triggering execution.
    """
    target = factor * df.sparkSession.sparkContext.defaultParallelism
    # Shuffle exchanges only: BroadcastExchange does NOT redistribute
    # the probe side (a broadcast-join-decorated scan still deserves
    # the spread), and \bExchange\b alone would also match it as a
    # substring. The four shuffle partitionings are enumerated.
    # executedPlan, not sparkPlan: exchanges are inserted by the
    # EnsureRequirements preparation, which sparkPlan predates; under
    # AQE executedPlan is the UNEXECUTED initial AdaptiveSparkPlan
    # (isFinalPlan=false) — reading its string runs nothing (the same
    # access tools/plan_audit.py relies on registry-wide).
    import re  # noqa: PLC0415

    plan = df._jdf.queryExecution().executedPlan().toString()
    if re.search(
        r"\bExchange (hashpartitioning|rangepartitioning"
        r"|RoundRobinPartitioning|SinglePartition)",
        plan,
    ):
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    if key is not None:
        keys = [key] if isinstance(key, str) else list(key)
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    num_salts: int = 16,
) -> DataFrame:
    """Inner equi-join where ``skewed`` has hot values of ``key``.

    The skewed side gets a random-ish salt in [0, N); the small side is
    exploded N× with every salt value, then the join runs on
    (key, salt) — each hot key's rows spread across N tasks. The small
    side's N× inflation is the price, so ``small`` must be the
    dimension side. (AQE skew-join makes this unnecessary for most
    cases; this is the manual fallback for pathological skew or
    non-AQE contexts.)
    """
    sk = skewed.withColumn(
        "__salt",
        F.pmod(F.hash(*[F.col(c) for c in skewed.columns]), F.lit(num_salts)),
    )
    sm = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    out = sk.join(sm, on=[key, "__salt"], how="inner")
    return out.drop("__salt")
