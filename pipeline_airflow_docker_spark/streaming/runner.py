"""Bounded streaming execution: run an unbounded plan to completion
under ``Trigger.AvailableNow`` and hand back the result as a batch
DataFrame.

This is the engine's replacement for the reference's bounded poll
loops (``max_messages=100`` at dags/kafka_to_mongo_pipeline.py:69-80,
50 at ..._enchanced.py:148-150): process exactly what the source holds
now, checkpointed, then stop — at-least-once from the source, made
effectively-exactly-once by idempotent sinks (sinks.py).
"""

from __future__ import annotations

import uuid

from pipeline_airflow_docker_spark.functions.materialize import scratch_mkdtemp

from pyspark.sql import DataFrame, SparkSession


def run_to_df(
    sdf: DataFrame,
    output_mode: str = "complete",
    foreach_batch=None,
    timeout_sec: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame with availableNow; results land in
    a memory sink (or a foreachBatch sink) and come back as a batch
    DataFrame.

    ``complete`` mode for aggregations: under availableNow the final
    state flushes at end-of-stream without needing the watermark to
    pass the last window (append mode would hold the tail windows in
    state forever on a bounded run).

    ``state_partitions`` sizes the stateful-operator parallelism for
    this query (restored afterwards): a streaming query opens one state
    store per shuffle partition per stateful operator — stream-stream
    joins open FOUR — so partition count should track expected state
    volume, not the session's batch-shuffle width. The setting is
    baked into the checkpoint at first start, which is why it's a
    per-query knob here rather than session config.

    A query still running after ``timeout_sec`` is stopped and raises
    ``TimeoutError``: a partial memory table must never come back
    looking like the answer."""
    spark: SparkSession = sdf.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    # Throwaway bounded-replay checkpoint on the fastest local
    # scratch (r17; see scratch_mkdtemp) — production swaps this
    # for durable shared storage.
    ckpt = scratch_mkdtemp("padspark_ckpt_")
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        writer = sdf.writeStream.trigger(availableNow=True).option(
            "checkpointLocation", ckpt
        )
        if foreach_batch is not None:
            q = writer.outputMode(output_mode).foreachBatch(foreach_batch).start()
            _await(q, timeout_sec)
            return spark.createDataFrame([], sdf.schema)
        q = writer.outputMode(output_mode).format("memory").queryName(name).start()
        _await(q, timeout_sec)
        return spark.table(name)
    finally:
        # The resolved frame keeps the sink's rows; the view would keep
        # them (partial ones too, after a timeout) for the session.
        spark.catalog.dropTempView(name)
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)


def _await(q, timeout_sec: float) -> None:
    """Wait for a bounded query to end; stop it and raise if it has not
    ended within ``timeout_sec``."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} still running after {timeout_sec} s; stopped"
        )
