"""Streaming sources.

The harness has no Kafka broker (SURVEY.md §7 Phase 3), so the
reference's Kafka topics are modeled by the *file* source over staged
parquet — the same unbounded-source API surface (``spark.readStream``),
schema-first like the Kafka ``from_json(value)`` path would be. A real
deployment swaps ``stream_table`` for
``spark.readStream.format("kafka")...`` + ``from_json``; every
downstream operator is source-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pipeline_airflow_docker_spark.catalog import table
from pipeline_airflow_docker_spark.functions.materialize import scratch_mkdtemp

# (sf_dir, table, n_files) -> (staged dir, its read schema): the
# schema rides along so a stream over the dir starts job-free.
_STAGED: dict[tuple[str, str, int], tuple[str, StructType]] = {}


def stage_table(
    spark: SparkSession, sf_dir: str, name: str, n_files: int = 1
) -> str:
    """Materialize a test table as a directory of parquet files the
    file source can monitor. ``n_files > 1`` + maxFilesPerTrigger
    yields genuine multi-micro-batch runs (state crossing batches).
    Staged once per (sf_dir, table, n_files) per process, and its read
    schema resolved once with it."""
    key = (sf_dir, name, n_files)
    if key not in _STAGED or not os.path.isdir(_STAGED[key][0]):
        out = os.path.join(
            scratch_mkdtemp(f"padspark_stream_{name}_"), "data"
        )
        df = table(spark, sf_dir, name)
        if n_files > 1:
            # Time-ordered split: file i holds an ordered slice, so a
            # maxFilesPerTrigger=1 run sees broadly in-order batches
            # (how a replayed Kafka topic would arrive).
            df = df.repartitionByRange(n_files, *df.columns[:1])
        else:
            df = df.coalesce(1)
        df.write.mode("overwrite").parquet(out)
        _STAGED[key] = (out, spark.read.parquet(out).schema)
    return _STAGED[key][0]


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    n_files: int = 1,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded DataFrame over a staged test table: the engine's
    stand-in for a Kafka topic subscription."""
    path = stage_table(spark, sf_dir, name, n_files)
    reader = spark.readStream.schema(_STAGED[(sf_dir, name, n_files)][1])
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


_STAGED_SEQ: dict[tuple, str] = {}


def stage_files(
    spark: SparkSession,
    dfs: list[DataFrame],
    cache_key: tuple | None = None,
) -> str:
    """Stage each DataFrame as one parquet file in a shared directory,
    modification-time ordered, so a ``maxFilesPerTrigger=1`` file-source
    run replays them as exactly ``len(dfs)`` micro-batches in list
    order (the file source lists oldest-mtime-first; mtimes are pinned
    explicitly rather than trusting filesystem timestamp resolution).

    This is how a bounded replay flushes append-mode stateful results:
    tail the real data with sentinel batches whose far-future event
    times advance the watermark — batch k's max event time becomes the
    watermark at batch k+1, which then evicts-and-emits every expired
    outer-join row / closed window. Two sentinels, because eviction
    happens one batch AFTER the watermark jump.
    """
    if cache_key is not None and cache_key in _STAGED_SEQ:
        if os.path.isdir(_STAGED_SEQ[cache_key]):
            return _STAGED_SEQ[cache_key]
    out = os.path.join(scratch_mkdtemp("padspark_stream_seq_"), "data")
    base = 1_600_000_000
    seen: set[str] = set()
    for i, df in enumerate(dfs):
        df.coalesce(1).write.mode("append").parquet(out)
        for fname in os.listdir(out):
            p = os.path.join(out, fname)
            if fname.startswith(("_", ".")) or p in seen:
                continue
            os.utime(p, (base + i, base + i))
            seen.add(p)
    if cache_key is not None:
        _STAGED_SEQ[cache_key] = out
    return out
