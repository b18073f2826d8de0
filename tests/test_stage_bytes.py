"""tools/stage_bytes.py on a session with the Spark UI off: jobs and
stages come from the in-process status store, only stages that ran
count, and a failing key is recorded without stopping the run."""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from pipeline_airflow_docker_spark import catalog, plans, session
from tools import stage_bytes
from tools.plan_audit import is_streaming
from tools.stage_bytes_diff import compare

# The generated sf0.01 test data, beside the default scale factor.
SF_CORRECTNESS = os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR), "sf0.01")


@pytest.fixture
def shared_session(spark, monkeypatch):
    """main() on the suite's session instead of a new builder call."""
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    return spark


def _stage_list(spark) -> dict[int, object]:
    """Newest attempt of every stage in the store, as the REST stage
    list serves them."""
    sc = spark.sparkContext
    seq = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None
    )
    out: dict[int, object] = {}
    for i in range(seq.size()):
        st = seq.apply(i)
        if st.stageId() not in out or st.attemptId() > out[st.stageId()].attemptId():
            out[st.stageId()] = st
    return out


def test_reused_shuffle_counts_only_run_stages(spark, monkeypatch):
    def self_join(spark, sf_dir):
        # AQE runs the aggregate's shuffle once and reuses it for the
        # other side; later jobs list its stage again, as SKIPPED.
        agg = spark.range(0, 20000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count()
        return agg.join(agg.withColumnRenamed("count", "c2"), "k")

    monkeypatch.setattr(stage_bytes.uuid, "uuid4", lambda: SimpleNamespace(hex="test"))
    before = set(_stage_list(spark))
    rec = stage_bytes.run_key(spark, "", "self-join", self_join)
    # The store may already have evicted the skipped stages; the jobs
    # still list them.
    jobs = stage_bytes.group_jobs(spark, "stage-bytes.self-join.test")
    tracker = spark.sparkContext.statusTracker()
    listed = {sid for j in jobs for sid in tracker.getJobInfo(j).stageIds}
    ran = [
        st for sid, st in _stage_list(spark).items()
        if sid not in before and st.status().name() in ("COMPLETE", "FAILED")
    ]
    assert rec["ok"], rec
    assert rec["n_jobs"] == len(jobs) >= 2
    assert 0 < rec["n_stages"] == len(ran) < len(listed)
    assert rec["shuffleWriteBytes"] > 0
    for m in stage_bytes.METRICS:
        assert rec[m] == sum(getattr(st, m)() for st in ran), m


class _Seq(list):
    """A Scala ``Seq`` as py4j exposes it."""

    def size(self):
        return len(self)

    def apply(self, i):
        return self[i]


class _Evicted(Py4JJavaError):
    def __init__(self):
        Exception.__init__(self, "java.util.NoSuchElementException")


class _Store:
    """The status store calls ``stage_totals`` makes: ``jobs`` maps a job
    id to (stage ids, completed-stage count), ``stages`` a stage id that
    is still held to (status, inputBytes)."""

    def __init__(self, jobs, stages):
        self.jobs, self.stages = jobs, stages

    def job(self, j):
        if j not in self.jobs:
            raise _Evicted()
        ids, completed = self.jobs[j]
        return SimpleNamespace(stageIds=lambda: _Seq(ids), numCompletedStages=lambda: completed)

    def lastStageAttempt(self, sid):
        if sid not in self.stages:
            raise _Evicted()
        status, nbytes = self.stages[sid]
        return SimpleNamespace(
            status=lambda: SimpleNamespace(name=lambda: status),
            executorRunTime=lambda: 1000,
            inputBytes=lambda: nbytes,
            outputBytes=lambda: 0,
            shuffleReadBytes=lambda: 0,
            shuffleWriteBytes=lambda: 0,
        )


def test_only_evicted_skipped_stages_are_tolerated():
    # Job 1 reuses job 0's shuffle: it lists stage 1 again, skipped, and
    # the store evicts skipped stages first. Each job completed one stage.
    jobs = {0: ([0], 1), 1: ([1, 2], 1)}
    rec = stage_bytes.stage_totals(
        _Store(jobs, {0: ("COMPLETE", 10), 2: ("COMPLETE", 5)}), [0, 1]
    )
    assert rec["n_stages"] == 2 and rec["inputBytes"] == 15
    assert rec["executorRunTime_sec"] == 2.0
    # A run stage is gone: two completed stages reported, one held.
    with pytest.raises(RuntimeError, match="report 2 completed stages where 1 are held"):
        stage_bytes.stage_totals(
            _Store(jobs, {0: ("COMPLETE", 10), 1: ("SKIPPED", 0)}), [0, 1]
        )
    with pytest.raises(RuntimeError, match="job 2 is no longer"):
        stage_bytes.stage_totals(_Store(jobs, {}), [2])


def test_failing_key_is_recorded_and_the_run_goes_on(
    shared_session, monkeypatch, tmp_path, sf_dir
):
    def boom(spark, sf_dir):
        raise ValueError("planned failure")

    monkeypatch.setitem(plans.QUERIES, "q_test_boom", boom)
    out = tmp_path / "rec.json"
    rc = stage_bytes.main(["--sf", sf_dir, "--json", str(out), "q_test_boom", "q_agg_group"])
    res = json.loads(out.read_text())["results"]
    assert rc == 1
    assert res["q_test_boom"] == {"ok": False, "error": "ValueError: planned failure"}
    assert res["q_agg_group"]["ok"] and res["q_agg_group"]["n_jobs"] >= 1


def test_json_record_diffs_clean_against_itself(shared_session, tmp_path):
    out = tmp_path / "rec.json"
    rc = stage_bytes.main(["--sf", SF_CORRECTNESS, "--json", str(out), "q_join_inner"])
    payload = json.loads(out.read_text())
    rec = payload["results"]["q_join_inner"]
    assert rc == 0
    assert payload["sf_dir"] == SF_CORRECTNESS
    assert rec["ok"] and rec["n_jobs"] >= 1 and rec["n_stages"] >= 1
    assert rec["inputBytes"] > 0 and rec["shuffleReadBytes"] > 0
    findings = compare(payload, payload)
    assert {f["metric"] for f in findings} == {
        "inputBytes", "shuffleReadBytes", "shuffleWriteBytes", "n_stages"
    }
    assert {f["verdict"] for f in findings} == {"OK"}


def test_no_keys_sweeps_every_batch_key_but_the_skipped(shared_session, monkeypatch):
    seen: list[str] = []

    def fake_measure(spark, sf_dir, keys):
        seen.extend(keys)
        return {}

    monkeypatch.setattr(stage_bytes, "measure", fake_measure)
    assert stage_bytes.main(["--sf", SF_CORRECTNESS]) == 0
    expected = [
        k for k in sorted(plans.QUERIES)
        if not is_streaming(k) and k not in stage_bytes.DEFAULT_SKIP
    ]
    assert seen == expected
    assert "q_gapfill" in seen and not any(is_streaming(k) for k in seen)
    seen.clear()
    assert stage_bytes.main(["--sf", SF_CORRECTNESS, "--skip", "q_gapfill"]) == 0
    assert "q_gapfill" not in seen and "q_semdedup" in seen
