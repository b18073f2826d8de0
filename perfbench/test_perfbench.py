"""The benchmark's own tests. Pure Python, no Spark session:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
from tracing import Tracer, duration, self_times, stream_totals  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _cycles(run_op, n_measure=4, ops=("a", "b", "c")):
    tracer = Tracer()
    cycles = []
    for i, phase in enumerate(["cold", "warmup", *["measure"] * n_measure]):
        c = worker.run_cycle(tracer, i, phase, list(ops), run_op)
        c["traced"] = phase == "measure" and i % 2 == 0
        cycles.append(c)
    return tracer, cycles


def _layer_names() -> set[str]:
    """Names of one traced cycle's per-layer record, built against a
    stand-in for the Spark probe."""

    class Probe:
        def drain(self):
            pass

        def group_jobs(self, group):
            return [1] if group.endswith(".action") else []

        def stage_ids(self, jobs):
            return [7] * len(jobs)

        def stage_totals(self, stages):
            keys = (
                "stages tasks executor_run_s executor_cpu_s input_bytes "
                "shuffle_read_bytes shuffle_write_bytes spill_bytes max_task_over_median"
            ).split()
            return dict.fromkeys(keys, 1.0)

        def phases_ms(self, df):
            return {"analysis": 1.0, "optimization": 2.0, "planning": 3.0}

    class FakeRunner:
        last_action_df = {}

    tracer, cycles = _cycles(lambda name, op: True, n_measure=1)
    rec = worker.layer_record(FakeRunner(), Probe(), cycles[-1], tracer.spans)
    rec.update({"jvm.cpu_s": 0.0, "jvm.gc_s": 0.0})
    rec.update({f"streaming.{k}": v for k, v in stream_totals([]).items()})
    return set(rec)


def test_every_named_metric_is_printed_with_its_unit():
    all_ops = [o for w in WORKLOADS.values() for o in w.ops]
    _, cycles = _cycles(lambda name, op: True, ops=all_ops)
    layer = [dict.fromkeys(_layer_names(), 1.0)]
    produced = worker.summarize(cycles, [1.0, 1.0], layer, tuple(all_ops), 9.0)
    produced.update(dict.fromkeys(("setup_s", "session.get_spark_s", "peak_rss_mb"), 1.0))
    produced.update(dict.fromkeys(("catalog.table_s", "catalog.table_jobs"), 1.0))
    produced.update(run.scratch_left([]))
    result = {"attempted": 3, "failed": 0, "metrics": produced}
    for trace, group in ((0, "end_to_end"), (1, "per_layer")):
        line = json.loads(json.dumps(run.result_line(result, BENCH, trace)))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        names = [m["name"] for m in BENCH[group]]
        assert list(line["metrics"]) == names
        for m in BENCH[group]:
            assert line["metrics"][m["name"]]["unit"] == m["unit"]
            assert isinstance(line["metrics"][m["name"]]["value"], float)


def test_missing_metric_is_an_error():
    with pytest.raises(KeyError):
        run.result_line({"attempted": 1, "failed": 0, "metrics": {}}, BENCH, 0)


def test_per_key_metric_for_every_op_of_every_workload():
    names = {m["name"] for m in BENCH["per_layer"]}
    for w in WORKLOADS.values():
        for op in w.ops:
            assert f"key.{op}_s" in names


def test_spans_carry_a_parent_id():
    def run_op(name, op_id):
        with tracer.span("build"):
            pass
        with tracer.span("action"):
            with tracer.span("write"):
                pass
        return True

    tracer = Tracer()
    worker.run_cycle(tracer, 0, "measure", ["a", "b"], run_op)
    by_id = {s["id"]: s for s in tracer.spans}
    roots = [s for s in tracer.spans if s["parent"] is None]
    assert [s["name"] for s in roots] == ["cycle"]
    for s in tracer.spans:
        if s["parent"] is not None:
            parent = by_id[s["parent"]]
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]
    # The spans of one op share its id.
    ops = {s["op"] for s in tracer.spans if s["name"] != "cycle"}
    assert ops == {"c0.a", "c0.b"}
    for s in tracer.spans:
        if s["name"] in ("build", "action", "write"):
            assert by_id[s["parent"]]["op"] == s["op"]


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 5.0, "end": 9.0},
        {"id": 3, "parent": 2, "start": 6.0, "end": 7.0},
    ]
    st = self_times(spans)
    assert st == {0: 3.0, 1: 3.0, 2: 3.0, 3: 1.0}
    assert duration(spans[0]) == sum(st.values())


@pytest.mark.parametrize("failure", ["raise", "mismatch"])
def test_failing_op_lowers_success_ratio(failure):
    def run_op(name, op_id):
        if name == "b" and op_id == "c3.b":
            if failure == "raise":
                raise RuntimeError("boom")
            return False
        return True

    _, cycles = _cycles(run_op)
    m = worker.summarize(cycles, [1.0], [], ("a", "b", "c"), 9.0)
    attempted, failed = worker.success_counts(cycles)
    assert (attempted, failed) == (18, 1)
    assert m["success_ratio"] == pytest.approx(17 / 18)
    bad = next(c for c in cycles if c["index"] == 3)
    assert not bad["ok"]
    clean = [c["wall"] for c in cycles if c["phase"] == "measure" and c["ok"]]
    assert m["cycle_s"] == pytest.approx(sorted(clean)[len(clean) // 2])


def test_failed_op_is_never_timed_as_a_success():
    _, cycles = _cycles(lambda name, op: name != "b")
    m = worker.summarize(cycles, [1.0], [], ("a", "b", "c"), 9.0)
    # Never passed: the whole window, not a fast key.
    assert m["key.b_s"] == 9.0
    assert m["cycle_s"] == 9.0
    assert m["success_ratio"] == pytest.approx(2 / 3)


def test_seed_changes_only_op_order_and_generated_inputs(tmp_path):
    w = WORKLOADS["ingest"]
    orders = {tuple(w.cycle_order(s)) for s in range(20)}
    assert len(orders) > 1
    assert all(sorted(o) == sorted(w.ops) for o in orders)
    assert w.cycle_order(5) == w.cycle_order(5)

    a = datagen.write_dag_csvs(str(tmp_path / "a"), 1, 300)
    a2 = datagen.write_dag_csvs(str(tmp_path / "a2"), 1, 300)
    b = datagen.write_dag_csvs(str(tmp_path / "b"), 2, 300)
    for k in ("hw", "air", "grades"):
        same = open(a["paths"][k]).read() == open(a2["paths"][k]).read()
        differ = open(a["paths"][k]).read() != open(b["paths"][k]).read()
        assert same and differ

    # The catalog tables do not take the seed at all: two generations
    # are identical, so the recorded checksums hold for every seed.
    f1, f2 = datagen._frames(0.001), datagen._frames(0.001)
    for name in f1:
        assert f1[name].equals(f2[name]), name


def test_dag_counts_match_the_csvs(tmp_path):
    import csv

    d = datagen.write_dag_csvs(str(tmp_path), 3, 500)
    with open(d["paths"]["hw"]) as fh:
        rows = list(csv.reader(fh))[1:]
    assert d["hw_complete"] == sum(all(rows_i) for rows_i in rows)
    assert 0 < d["hw_complete"] < len(rows)
    union = 0
    for k in ("air", "grades"):
        with open(d["paths"][k]) as fh:
            union += sum(any(r) for r in list(csv.reader(fh))[1:])
    assert d["union_non_empty"] == union


def test_warmup_rule():
    assert not worker.levelled([5.0, 4.0])
    assert not worker.levelled([5.0, 4.5, 4.0, 3.6])  # still falling
    assert not worker.levelled([4.0, 4.4, 4.0])  # noisy
    assert worker.levelled([5.0, 4.0, 3.95, 4.05])


def test_benchmark_json_contract():
    assert set(BENCH) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))


def test_scratch_left_counts_only_the_programs_scratch(tmp_path):
    (tmp_path / "padspark_csv_1").mkdir()
    (tmp_path / "padspark_csv_1" / "part-0").write_bytes(b"x" * 10)
    (tmp_path / "perfbench_probe_1").mkdir()
    (tmp_path / "blockmgr-1").mkdir()
    new = sorted(str(p) for p in tmp_path.iterdir())
    m = run.scratch_left(new)
    assert m["materialize.scratch_dirs_left"] == 1.0
    assert m["materialize.scratch_bytes_left"] == 10.0
    on_tmpfs = run.fs_type(str(tmp_path)) == "tmpfs"
    assert m["materialize.scratch_on_tmpfs"] == float(on_tmpfs)
    assert run.scratch_left([])["materialize.scratch_on_tmpfs"] == 0.0
