"""Harness-integrity tests (r15 verdict item 7): the measurement and
grading channels themselves, not the engine.

The r15 round proved the instruments can fail while the engine is
green (BENCH_r15 parsed:null). These tests pin the load-bearing
harness semantics against SYNTHETIC inputs so a silent change to the
grading-window rotation, the bench headline set, or the stdout
emission contract fails CI instead of costing a round:

- the grading-window rotation (plans/__init__._last_green/_rotate)
  against fabricated CORRECTNESS files — red/errored rows must count
  as grading-starved, never-green keys must front, ties must be
  deterministic (test_entry.py's rotation test only checks
  monotonicity against the LIVE files);
- the bench headline set must exist in the registry (bench.py
  silently drops unknown keys — a rename would silently shrink the
  headline and read as a speedup);
- bench.py end-to-end through a real subprocess: the final stdout
  line must survive the driver's 2,000-char tail capture and the full
  per-pass record must be on stderr.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO) if _REPO not in sys.path else None

import bench  # noqa: E402
from pipeline_airflow_docker_spark import plans as plansmod  # noqa: E402


def test_headline_keys_all_registered():
    """Every headline key must resolve in plans.QUERIES: bench.py
    filters unknown keys silently, so a key rename would shrink the
    headline set and read as a round-over-round speedup."""
    missing = [k for k in bench.HEADLINE if k not in plansmod.QUERIES]
    assert not missing, f"headline keys not in registry: {missing}"
    # The two synthetic bench keys must NOT collide with registry keys
    # (build() would resolve them to the wrong query).
    assert bench.PRUNE_KEY not in plansmod.QUERIES
    assert bench.BUCKET_KEY not in plansmod.QUERIES


def _write_correctness(tmp_path, rnd: int, rows: dict) -> None:
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def _green():
    return {"err": None, "rows_match": True, "schema_match": True,
            "hash_match": True}


def test_last_green_semantics(tmp_path, monkeypatch):
    """_last_green: only fully-green rows count (an errored or
    mismatched row leaves the key as grading-starved as never-graded),
    and the NEWEST green round wins."""
    _write_correctness(tmp_path, 3, {
        "k_green_old": _green(),
        "k_red": {**_green(), "hash_match": False},
        "k_err": {**_green(), "err": "boom"},
        "k_rowsonly": {"err": None, "rows_match": True,
                       "schema_match": None, "hash_match": None},
        "k_regressed": _green(),
    })
    _write_correctness(tmp_path, 4, {
        "k_green_new": _green(),
        # green in r3, red in r4: last GREEN round stays 3 — the key
        # needs fresh evidence but is not never-graded.
        "k_regressed": {**_green(), "rows_match": False},
    })
    monkeypatch.setattr(plansmod, "_REPO_ROOT", str(tmp_path))
    green = plansmod._last_green()
    assert green == {
        "k_green_old": 3,
        # rows-only checks (no oracle) are a real driver pass.
        "k_rowsonly": 3,
        "k_green_new": 4,
        "k_regressed": 3,
    }


def test_rotate_fronts_stalest_keys(tmp_path, monkeypatch):
    """_rotate with a synthetic history (driver round > 2, so pure
    staleness ordering): never-green keys sort first alphabetically,
    then greens by ascending last-green round; QUERIES and ORACLES
    iterate in the same order. Run against the REAL registry with two
    real keys given synthetic green rows, state restored after."""
    keys = sorted(plansmod.QUERIES)
    k_older, k_newest = keys[5], keys[10]
    _write_correctness(tmp_path, 3, {k_older: _green()})
    _write_correctness(tmp_path, 4, {k_newest: _green()})
    monkeypatch.setattr(plansmod, "_REPO_ROOT", str(tmp_path))

    snap_q, snap_o = dict(plansmod.QUERIES), dict(plansmod.ORACLES)
    try:
        plansmod._rotate()
        order = list(plansmod.QUERIES)
        never_green = [k for k in order if k not in (k_older, k_newest)]
        # Never-green first (alphabetical — deterministic tiebreak),
        # then the r3 green, then the r4 green, exhausting the registry.
        assert order == sorted(never_green) + [k_older, k_newest]
        oracle_order = list(plansmod.ORACLES)
        assert oracle_order == [k for k in order if k in plansmod.ORACLES]
    finally:
        for mapping, snap in ((plansmod.QUERIES, snap_q),
                              (plansmod.ORACLES, snap_o)):
            mapping.clear()
            mapping.update(snap)


def test_bench_subprocess_stdout_survives_driver_tail():
    """End-to-end channel test (the BENCH_r15 failure class): run the
    real bench.py as a subprocess on one cheap key at sf0.001 and
    parse its stdout exactly the way the driver does — last non-empty
    line of the final 2,000 chars. The full per-pass record must be on
    stderr, not stdout, and the record's calibration must show the
    pinned SPARK_GRAFT_CPUS honored."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_REPS="1",
        SPARK_GRAFT_BENCH_PASSES="1",
        SPARK_GRAFT_BENCH_KEYS="q_count_gate",
        SPARK_GRAFT_CPUS="2",
    )
    # bench.py as __main__, with the background class-data-sharing
    # build of get_spark switched off (see conftest.py).
    run_bench = (
        "import runpy, sys; sys.path.insert(0, sys.argv[1]); "
        "from pipeline_airflow_docker_spark import session; "
        "session.start_cds_build = lambda layout: None; "
        "runpy.run_path(sys.argv[2], run_name='__main__')"
    )
    proc = subprocess.run(
        [sys.executable, "-c", run_bench, _REPO, os.path.join(_REPO, "bench.py")],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    tail = proc.stdout[-2000:]
    line = [ln for ln in tail.splitlines() if ln.strip()][-1]
    rec = json.loads(line)  # the driver's parse — must not raise
    assert rec["metric"] == "headline_queries_total_sec"
    assert rec["value"] > 0
    assert rec["queries"].keys() == {"q_count_gate"}
    assert rec["runs_summary"][0]["clean"] is True
    assert rec["calibration"]["cpus_effective"] == 2
    assert len(line) <= bench.STDOUT_LINE_BUDGET
    assert "# runs_full:" not in proc.stdout
    full_line = [
        ln for ln in proc.stderr.splitlines()
        if ln.startswith("# runs_full: ")
    ]
    assert len(full_line) == 1
    full = json.loads(full_line[0][len("# runs_full: "):])
    # The adjudication record: every pass's per-key timings plus every
    # probe bracket (N passes -> N+1 calibrations).
    assert len(full["runs"]) == 1
    assert full["runs"][0]["queries"].keys() == {"q_count_gate"}
    assert len(full["calibrations"]) == 2
    assert full["runs"][0]["total"] == rec["value"]
