"""Streaming semantics tests: batch-equivalence (unified semantics),
multi-batch state, and idempotent upsert (K3)."""

from __future__ import annotations

import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from pipeline_airflow_docker_spark.catalog import table
from pipeline_airflow_docker_spark.streaming.runner import run_to_df
from pipeline_airflow_docker_spark.streaming.sinks import (
    latest_by_key,
    upsert_foreach_batch,
)
from pipeline_airflow_docker_spark.streaming.sources import stream_table
from pipeline_airflow_docker_spark.streaming.windows import (
    session_counts,
    tumbling_counts,
)
from tools.stage_bytes import group_jobs


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, sf_dir):
    """The same builder over readStream and over a batch scan must
    produce identical results (Structured Streaming unified
    semantics)."""
    stream_out = run_to_df(
        tumbling_counts(stream_table(spark, sf_dir, "events")), "complete"
    )
    batch_out = tumbling_counts(table(spark, sf_dir, "events"))
    assert _rows(stream_out) == _rows(batch_out)


def test_timed_out_bounded_query_raises_and_is_stopped(spark, sf_dir):
    """A bounded run that outlives its timeout must not hand back what
    it has so far: the query is stopped and the call raises."""
    sdf = stream_table(spark, sf_dir, "events").select("event_id")

    def slow_batch(batch_df, batch_id):
        time.sleep(3)

    before = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError, match="still running"):
        run_to_df(sdf, "append", foreach_batch=slow_batch, timeout_sec=1)
    assert {q.id for q in spark.streams.active} == before


def test_run_to_df_leaves_no_memory_view(spark, sf_dir):
    sdf = stream_table(spark, sf_dir, "events").select("event_id")
    outs = [run_to_df(sdf, "append") for _ in range(2)]
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")]
    assert views == []
    want = table(spark, sf_dir, "events").count()
    assert [o.count() for o in outs] == [want, want]  # rows outlive the view


def test_timed_out_memory_sink_leaves_no_view(spark, sf_dir):
    """A memory sink stopped at its timeout holds partial rows; its
    view must go with it."""
    sleep = F.udf(lambda v: time.sleep(3) or v, "long")
    sdf = stream_table(spark, sf_dir, "events").select(sleep("event_id"))
    with pytest.raises(TimeoutError, match="still running"):
        run_to_df(sdf, "append", timeout_sec=1)
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")]
    assert views == []


def test_stream_table_reuses_staged_schema(spark, sf_dir):
    first = stream_table(spark, sf_dir, "events")
    sc = spark.sparkContext
    try:
        sc.setJobGroup("stream-table-test.second", "stream_table")
        second = stream_table(spark, sf_dir, "events")
        assert group_jobs(spark, "stream-table-test.second") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert second.schema == first.schema


def test_session_multibatch_state_merges(spark, sf_dir):
    """Session state must merge across micro-batches: a 4-batch run
    equals the single-batch run."""
    one = run_to_df(
        session_counts(stream_table(spark, sf_dir, "events")), "complete"
    )
    many = run_to_df(
        session_counts(
            stream_table(spark, sf_dir, "events", n_files=4, max_files_per_trigger=1)
        ),
        "complete",
    )
    assert _rows(one) == _rows(many)


def test_upsert_idempotent_and_batch_order_independent(spark, sf_dir):
    """Replaying the whole stream into an existing upsert target must
    not change it (idempotence — what makes at-least-once delivery
    effectively exactly-once, the K3 semantic)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    target = os.path.join(tempfile.mkdtemp(prefix="upsert_test_"), "state")
    fb = upsert_foreach_batch(target, ["user_id", "event_type"], ["ts", "event_id"])
    fb(ev, 0)
    first = _rows(spark.read.parquet(target))
    fb(ev, 1)  # full replay
    assert _rows(spark.read.parquet(target)) == first
    # and equals the batch keep-latest
    expected = latest_by_key(ev, ["user_id", "event_type"], ["ts", "event_id"])
    assert first == _rows(expected)


def test_upsert_later_version_wins(spark):
    df1 = spark.createDataFrame(
        [(1, "a", 10, 100.0)], "k LONG, g STRING, v LONG, val DOUBLE"
    )
    df2 = spark.createDataFrame(
        [(1, "a", 5, 999.0), (1, "a", 20, 42.0)],
        "k LONG, g STRING, v LONG, val DOUBLE",
    )
    target = os.path.join(tempfile.mkdtemp(prefix="upsert_test2_"), "state")
    fb = upsert_foreach_batch(target, ["k", "g"], ["v"])
    fb(df1, 0)
    fb(df2, 1)
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1 and rows[0].v == 20 and rows[0].val == 42.0


def test_stream_dedup_removes_redelivery(spark, sf_dir):
    from pipeline_airflow_docker_spark.streaming.windows import dedup_by_key

    ev = stream_table(spark, sf_dir, "events")
    out = run_to_df(dedup_by_key(ev.unionByName(ev), ["event_id"]), "append")
    n = table(spark, sf_dir, "events").count()
    assert out.count() == n
    assert out.select("event_id").distinct().count() == n


def test_bounded_stream_terminates_on_short_topic(spark, sf_dir):
    """Reference bug 3: poll-until-100 spins forever when the topic
    holds fewer messages. Our bounded ingestion terminates and returns
    everything available."""
    from pipeline_airflow_docker_spark.plans.streaming_q import q_stream_bounded

    out = q_stream_bounded(spark, sf_dir)
    n = out.count()
    assert 0 < n <= 100
    assert out.columns == ["event_id", "event_type_u"]


def test_stateful_running_totals_cross_batch(spark, sf_dir):
    """State must carry across micro-batches: with users split over 2
    time-ordered files (1 file per trigger), some user must emit twice
    and the second emission must be cumulative, not per-batch."""
    from pyspark.sql import functions as F

    from pipeline_airflow_docker_spark.streaming.runner import run_to_df
    from pipeline_airflow_docker_spark.streaming.sources import stream_table
    from pipeline_airflow_docker_spark.streaming.stateful import running_totals

    ev = stream_table(spark, sf_dir, "events", n_files=2, max_files_per_trigger=1)
    emissions = run_to_df(
        running_totals(ev, "user_id", "value"), output_mode="update"
    ).collect()
    per_key: dict = {}
    for r in emissions:
        per_key.setdefault(r.user_id, []).append(r.n_so_far)
    multi = {k: sorted(v) for k, v in per_key.items() if len(v) > 1}
    assert multi, "no key crossed a batch boundary — state carry untested"
    from pipeline_airflow_docker_spark.catalog import table

    batch = {
        r.user_id: r.n
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for k, counts in per_key.items():
        assert max(counts) == batch[k], f"cumulative total wrong for {k}"


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    """Two live streams joined on key + event-time range must equal the
    identical interval join at rest (unified semantics). Also pins the
    state contract: without a time bound Spark would reject the query,
    with it the join runs append-mode to completion."""
    from pyspark.sql import functions as F

    from pipeline_airflow_docker_spark.plans.streaming_q import (
        q_stream_stream_join,
    )

    out = q_stream_stream_join(spark, sf_dir)
    ev = table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").alias("a")
    b = ev.where(F.col("event_type") == "purchase").alias("b")
    batch = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") >= F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 30 minutes")),
    ).select(F.col("a.event_id").alias("click_id"), F.col("b.event_id").alias("purchase_id"))
    got = {(r.click_id, r.purchase_id) for r in out.collect()}
    want = {(r.click_id, r.purchase_id) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_mongo_upsert_foreach_batch_falls_back_to_parquet_merge(spark):
    """The streaming kafka->mongo tail: without the connector jar the
    batch lands in the parquet merge sink with identical keyed
    last-writer-wins semantics; replay stays idempotent."""
    from pipeline_airflow_docker_spark.streaming.sinks import (
        mongo_upsert_foreach_batch,
    )

    df1 = spark.createDataFrame(
        [(1, "a", 10, 100.0), (2, "b", 1, 7.0)],
        "k LONG, g STRING, v LONG, val DOUBLE",
    )
    df2 = spark.createDataFrame(
        [(1, "a", 20, 42.0)], "k LONG, g STRING, v LONG, val DOUBLE"
    )
    target = os.path.join(tempfile.mkdtemp(prefix="mongo_fb_"), "state")
    fb = mongo_upsert_foreach_batch(
        "mongodb://h:27017", "etl", "posts", ["k", "g"], ["v"],
        fallback_dir=target,
    )
    fb(df1, 0)
    fb(df2, 1)
    fb(df2, 2)  # replay: idempotent
    rows = {(r.k, r.g): (r.v, r.val) for r in spark.read.parquet(target).collect()}
    assert rows == {(1, "a"): (20, 42.0), (2, "b"): (1, 7.0)}


def test_interval_join_left_outer_emits_null_padded(spark, tmp_path):
    """Left-outer stream-stream join: a click with no purchase within
    the interval emits null-padded once the watermark passes its
    eviction bound. Each side streams its OWN directory with aligned
    file counts — two scans admit files independently under
    availableNow, so a shared directory desyncs the sides and the
    min-policy watermark stalls (observed; this layout is the fix) —
    and the final flush batch performs the eviction."""
    import pathlib
    import time

    from pipeline_airflow_docker_spark.streaming.joins import interval_join
    from pipeline_airflow_docker_spark.streaming.runner import run_to_df

    root = pathlib.Path(tmp_path)
    cdir, pdir = root / "clicks", root / "purch"
    cdir.mkdir(), pdir.mkdir()

    def mk(rows):
        return (
            spark.createDataFrame(rows, "user_id LONG, event_id LONG, ts_s STRING")
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
            .drop("ts_s")
        )

    # batch 0: the matched pair + the never-matched click
    mk([(1, 100, "2024-01-01 00:00:00"), (2, 200, "2024-01-01 00:05:00")]).coalesce(
        1
    ).write.mode("append").parquet(str(cdir))
    mk([(1, 101, "2024-01-01 00:10:00")]).coalesce(1).write.mode("append").parquet(
        str(pdir)
    )
    time.sleep(1.1)  # distinct file mtimes => deterministic admission order
    # batch 1: advances both watermarks a day past click 200's bound
    mk([(3, 900, "2024-01-02 12:00:00")]).coalesce(1).write.mode("append").parquet(
        str(cdir)
    )
    mk([(98, 901, "2024-01-02 12:00:00")]).coalesce(1).write.mode("append").parquet(
        str(pdir)
    )

    def src(d):
        schema = spark.read.parquet(str(d)).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )

    joined = interval_join(
        src(cdir),
        src(pdir),
        key="user_id",
        upper="30 minutes",
        watermark="10 minutes",
        how="leftOuter",
    ).select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("purchase_id"),
    )
    out = {(r.click_id, r.purchase_id) for r in run_to_df(joined, "append").collect()}
    assert (100, 101) in out  # matched pair
    assert (200, None) in out  # null-padded unmatched click


def test_running_totals_transform_with_state(spark, sf_dir):
    """Spark 4 transformWithStateInPandas variant of running_totals:
    same cross-batch contract. Requires protobuf (the state-server
    protocol); skipped where it is unavailable."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    from pipeline_airflow_docker_spark.streaming.stateful import running_totals_tws

    ev = stream_table(spark, sf_dir, "events", n_files=2, max_files_per_trigger=1)
    out = run_to_df(running_totals_tws(ev, "user_id", "value"), output_mode="update")
    batch = {
        r.user_id: (r.n, float(r.mx))
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    latest: dict = {}
    for r in out.collect():
        latest[r.user_id] = (r.n_so_far, float(r.max_so_far))
    for k, v in latest.items():
        assert v == batch[k]


def test_stage_files_orders_batches_by_list_position(spark):
    """stage_files pins strictly increasing mtimes so a
    maxFilesPerTrigger=1 replay consumes the list in order — the
    mechanism q_stream_join_outer's watermark-flush sentinels rely on."""
    from pipeline_airflow_docker_spark.streaming.sources import stage_files

    dfs = [spark.createDataFrame([(i,)], "batch long") for i in range(3)]
    path = stage_files(spark, dfs)
    data_files = sorted(
        (
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        ),
        key=os.path.getmtime,
    )
    assert len(data_files) == 3
    order = [spark.read.parquet(f).collect()[0].batch for f in data_files]
    assert order == [0, 1, 2]
    # cache_key returns the same staging on a second call
    p2 = stage_files(spark, dfs, cache_key=("t", "x"))
    assert stage_files(spark, dfs, cache_key=("t", "x")) == p2


def test_file_arrival_incremental_pickup_via_checkpoint(spark, tmp_path):
    """S9 file-sensor semantics, engine-level: the streaming file
    source discovers files that arrive BETWEEN checkpointed runs and
    processes each exactly once — the Spark-native replacement for the
    reference's poll-until-present FileSensor + rerun loop
    [ref dags/etl_data_pipeline_mongodb_complex.py:93-98]. The seen-
    files log in the checkpoint is what makes re-running the bounded
    job equivalent to the sensor's poke loop: old files are never
    reprocessed, new arrivals are picked up."""
    src = str(tmp_path / "incoming")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "id LONG, v STRING"
    spark.createDataFrame([(1, "a")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .format("parquet")
            .option("path", sink)
            .start()
        )
        q.awaitTermination(120)

    # The restart below is proven under the manager local sessions use.
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass").endswith(
        ".FileSystemBasedCheckpointFileManager"
    )
    run_once()
    assert sorted(r.id for r in spark.read.parquet(sink).collect()) == [1]

    # A new file lands after the first bounded run finished.
    spark.createDataFrame([(2, "b")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    # Exactly-once per file: old file not reprocessed, new one ingested.
    assert sorted(r.id for r in spark.read.parquet(sink).collect()) == [1, 2]


def test_late_rows_dropped_only_after_window_eviction(spark):
    """Pins the watermark choreography q_stream_late_drop relies on:
    Spark evicts closed windows at the end of the first batch that
    runs under the advanced watermark, and a late row is dropped ONLY
    once its window's state is gone — one batch earlier it would merge
    into the still-open window. The staged order (bulk, on-time,
    late) must therefore yield exactly one watermark-dropped row and
    an unpolluted early window."""
    import tempfile
    from datetime import datetime

    from pipeline_airflow_docker_spark.streaming.sources import stage_files

    b1 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 5)), (2, datetime(2024, 1, 2, 0, 0))],
        "id long, ts timestamp",
    )
    b2 = spark.createDataFrame(
        [(9, datetime(2024, 1, 2, 0, 5))], "id long, ts timestamp"
    )  # on-time: first batch under the advanced watermark -> eviction
    b3 = spark.createDataFrame(
        [(3, datetime(2024, 1, 1, 0, 10))], "id long, ts timestamp"
    )  # late: arrives after eviction -> must be dropped
    path = stage_files(spark, [b1, b2, b3])
    s = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    ckpt = tempfile.mkdtemp(prefix="padspark_late_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            agg.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .format("memory")
            .queryName("late_drop_probe")
            .start()
        )
        q.awaitTermination(120)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert dropped == 1
    early = {
        r.n
        for r in spark.table("late_drop_probe").collect()
        if r.ws == datetime(2024, 1, 1, 0, 0)
    }
    assert early == {1}  # late copy did NOT inflate the closed window


def test_rocksdb_state_store_produces_identical_results(spark, sf_dir):
    """SCALE.md §1/§6 declare RocksDB as the production state store;
    prove the bundled provider actually runs here and emits the same
    windowed aggregate as the default HDFS-backed store (state-store
    choice must be a durability/ops knob, never a semantics knob)."""
    from pipeline_airflow_docker_spark.streaming.windows import tumbling_counts

    ev = stream_table(spark, sf_dir, "events", n_files=2, max_files_per_trigger=1)
    baseline = {
        (r.window_start, r.event_type, r.n_events, r.sum_value)
        for r in run_to_df(tumbling_counts(ev, "1 hour"), "complete").collect()
    }
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = {
            (r.window_start, r.event_type, r.n_events, r.sum_value)
            for r in run_to_df(tumbling_counts(ev, "1 hour"), "complete").collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert rocks == baseline


def test_horizon_parameter_rejects_implausible_event_times(spark):
    """Round 8: the event-time plausibility horizon is an operator-layer
    parameter (streaming/windows.py, streaming/joins.py), not a plans
    constant — a reuse of the stateful builders outside the graded
    fixtures can declare its own ingest envelope. A single year-9999
    row must not poison the watermark or leak into session/window
    arithmetic; NULL event times (unwindowable) are rejected too."""
    from pipeline_airflow_docker_spark.streaming.joins import interval_join
    from pipeline_airflow_docker_spark.streaming.windows import (
        dedup_by_key,
        plausible_event_time,
    )

    horizon = ("2024-01-01 00:00:00", "2025-01-01 00:00:00")
    rows = [
        (1, "2024-03-01 10:00:00", 7, "click", 1.0, None),
        (2, "2024-03-01 10:05:00", 7, "purchase", 2.0, None),
        (3, "9999-12-31 23:59:59", 7, "click", 3.0, None),  # poison
        (4, "1900-01-01 00:00:00", 7, "click", 4.0, None),  # pre-horizon
        (5, None, 7, "click", 5.0, None),                   # unwindowable
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id LONG, ts STRING, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    kept = plausible_event_time(ev, "ts", horizon)
    assert sorted(r.event_id for r in kept.collect()) == [1, 2]
    # None opts out entirely (upstream-validated inputs)
    assert plausible_event_time(ev, "ts", None) is ev

    # dedup_by_key is stream-only (dropDuplicatesWithinWatermark), so
    # pin the STRUCTURE: the horizon filter must sit BELOW the
    # watermark node — filtering after it would be too late, the
    # poison row would already have advanced the watermark. (The
    # end-to-end behavior is graded by q_stream_dedup and red-fenced
    # by the era-fuzz slice in tests/test_fuzz_parity.py.)
    deduped = dedup_by_key(ev.unionByName(ev), ["event_id"], horizon=horizon)
    plan = deduped._jdf.queryExecution().analyzed().toString()
    dd = plan.index("DeduplicateWithinWatermark")
    assert "Filter" in plan[dd:] and "2025-01-01" in plan[dd:]

    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    joined = interval_join(
        clicks, purchases, key="user_id", upper="30 minutes", horizon=horizon
    ).select(F.col("l.event_id").alias("click_id"))
    assert [r.click_id for r in joined.collect()] == [1]

    counts = session_counts(ev, "10 minutes", horizon=horizon)
    [sess] = counts.collect()
    assert sess.n_events == 2
