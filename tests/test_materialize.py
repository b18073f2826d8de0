"""Materialization-mode knob (functions/materialize.py): every mode
must produce identical operator results — the knob trades executor
memory vs disk vs scratch-store, never semantics."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from pipeline_airflow_docker_spark.catalog import table
from pipeline_airflow_docker_spark.functions import materialize as mat
from pipeline_airflow_docker_spark.functions.materialize import (
    MODES,
    materialize,
    release,
)
from pipeline_airflow_docker_spark.operators.dedup import (
    minhash_dup_pairs,
    resolve_components,
)


@pytest.mark.parametrize("mode", MODES)
def test_materialize_modes_preserve_rows(spark, mode):
    df = spark.range(100).withColumnRenamed("id", "k")
    out = materialize(df, how=mode)
    assert sorted(r.k for r in out.collect()) == list(range(100))
    # dtypes round-trip exactly; nullability may widen in
    # parquet_scratch mode (file sources are always nullable in Spark).
    assert out.dtypes == df.dtypes


def test_unknown_mode_raises(spark):
    with pytest.raises(ValueError, match="unknown materialize mode"):
        materialize(spark.range(1), how="shared_memory")


def test_dedup_identical_across_modes(spark, sf_dir, monkeypatch):
    got = {}
    for mode in MODES:
        monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", mode)
        d = table(spark, sf_dir, "documents")
        pairs = minhash_dup_pairs(d, "doc_id", "text", threshold=0.8)
        comp = resolve_components(d.select("doc_id"), pairs, id_col="doc_id")
        got[mode] = (
            sorted((r.id_a, r.id_b) for r in pairs.collect()),
            sorted((r.id, r.component) for r in comp.collect()),
        )
    base = got["local_checkpoint"]
    for mode in MODES:
        assert got[mode] == base, f"mode {mode} diverged"


def test_release_deletes_parquet_scratch(spark):
    """release() on a scratch materialization frees the disk now, not
    at process exit — iterative loops must not accumulate rounds."""
    df = materialize(spark.range(10), how="parquet_scratch")
    (path,) = [p for _, p in [mat._LIVE[df]]]
    assert path is not None and os.path.isdir(path)
    release(df)
    assert not os.path.exists(path)
    release(df)  # idempotent; unknown frames are a no-op too
    release(spark.range(3))


def test_disk_persist_truncate_truncates_lineage(spark):
    """materialize(truncate=True) must cut the plan in EVERY mode:
    re-materializing N rounds under disk_persist may not nest N plans
    (the analyzer/stack blowup ADVICE r03 flagged)."""
    df = spark.range(50).withColumnRenamed("id", "k")
    for _ in range(3):
        df = materialize(df.selectExpr("k + 1 AS k"), how="disk_persist", truncate=True)
    plan = df._jdf.queryExecution().analyzed().toString().lower()
    # A truncated plan is a bare scan of the materialized result
    # ("Relation [k#N] parquet") — no arithmetic, no Project stack.
    # (Analyzed plans print lowercase: "(k#1L + cast(1 as bigint))".)
    assert "cast(1 as bigint)" not in plan, plan
    assert plan.lstrip().startswith("relation"), plan
    assert sorted(r.k for r in df.collect()) == list(range(3, 53))


def test_link_cascade_releases_parent_scratch(spark):
    """release(child) must free a parent pinned via link() — the r10
    release-handle contract (functions/materialize.py:link). Scratch
    parquet makes the effect observable on disk immediately."""
    parent = materialize(spark.range(20), how="parquet_scratch")
    (_, path) = mat._LIVE[parent]
    assert path is not None and os.path.isdir(path)
    child = parent.selectExpr("id * 2 AS k")
    mat.link(child, parent)
    release(child)
    assert not os.path.exists(path)
    assert parent not in mat._LIVE
    assert child not in mat._DEPS
    release(child)  # cascade is idempotent


def test_gap_fill_release_handle_frees_internal_pin(spark, monkeypatch):
    """gap_fill_hourly pins its hourly bucket table internally; under
    disk_persist the JVM cache entry outlives the Python object, so
    release(result) MUST cascade to it (r10 fix, previously only the
    refusal path released). Red-fence: revert timeseries.py's link()
    and the _LIVE entry survives this release."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from pipeline_airflow_docker_spark.operators.timeseries import (  # noqa: PLC0415
        gap_fill_hourly,
    )

    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "disk_persist")
    before = len(mat._LIVE)
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", 1.0), (1, "2024-01-01 05:40:00", 2.0)],
        "k INT, ts STRING, v DOUBLE",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")
    out = gap_fill_hourly(df, "k", "ts", "v", max_fill_steps=100)
    assert out.count() == 6  # 00..05 inclusive, 4 filled
    assert len(mat._LIVE) == before + 1  # the internal pin is tracked
    assert out in mat._DEPS
    release(out)
    assert len(mat._LIVE) == before
    assert out not in mat._DEPS


def test_deps_entries_die_with_the_child(spark):
    """_DEPS holds STRONG parent refs only while the child is alive —
    the weak KEY bounds growth for callers that drop results without
    release() (the no-release path r10's verdict questioned). Storage
    is then covered by ContextCleaner / the atexit scratch sweep."""
    import gc  # noqa: PLC0415
    import weakref  # noqa: PLC0415

    parent = materialize(spark.range(5), how="parquet_scratch")
    child = parent.selectExpr("id AS k")
    mat.link(child, parent)
    parent_ref = weakref.ref(parent)
    n_deps = len(mat._DEPS)
    del child
    gc.collect()
    assert len(mat._DEPS) == n_deps - 1  # weak key: entry died with child
    release(parent)  # still explicitly releasable by its own handle
    del parent
    gc.collect()
    assert parent_ref() is None  # _DEPS did not leak a strong ref


@pytest.mark.parametrize("raw", ["inf", "-inf", "nan", "-1", "1e308", "eight"])
def test_malformed_shm_headroom_falls_back_to_the_default(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_MIN_FREE_GB", raw)
    assert mat._shm_min_free_bytes() == 8 * 1024**3
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_MIN_FREE_GB", "0.5")
    assert mat._shm_min_free_bytes() == 512 * 1024**2


def _scratch_child(env_extra: dict[str, str]) -> list[str]:
    """Run a fresh interpreter that makes two scratch dirs and exits
    normally; returns their paths."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from pipeline_airflow_docker_spark.functions.materialize import scratch_mkdtemp\n"
        "paths = [scratch_mkdtemp('sweep_a_'), scratch_mkdtemp('sweep_b_')]\n"
        "assert all(os.path.isdir(p) for p in paths)\n"
        "print('\\n'.join(paths))\n"
    )
    env = {**os.environ, "PYTHONPATH": root, **env_extra}
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        timeout=120, check=True,
    )
    paths = out.stdout.split()
    assert len(paths) == 2
    return paths


def test_scratch_dirs_are_swept_at_exit(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    for path in _scratch_child({}):
        assert not os.path.exists(path), path


def test_user_scratch_root_is_kept_and_its_dirs_swept(tmp_path):
    root = tmp_path / "user_root"
    paths = _scratch_child({"SPARK_GRAFT_SCRATCH": str(root)})
    assert all(os.path.dirname(p) == str(root) for p in paths)
    assert root.is_dir()
    assert list(root.iterdir()) == []
