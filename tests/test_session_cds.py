"""Class-data-sharing launch of local sessions (session.py).

Layout and launch decisions run against a fake Spark and JDK install
under ``tmp_path``; one test starts a real session in a subprocess over
a corrupt archive, which the JVM must ignore.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from pipeline_airflow_docker_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A fake Spark install (one jar, a templates-only conf dir) and JDK,
    with HOME under tmp_path so the archive cache is private."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    java_home = tmp_path / "jdk"
    java_home.mkdir()
    (java_home / "release").write_text('IMPLEMENTOR="test"\nJAVA_VERSION="17.0.1"\n')
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("HOME", str(tmp_path / "home"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    for k in session._CLASSPATH_ENV:
        monkeypatch.delenv(k, raising=False)
    return spark_home


@pytest.fixture
def spawned(monkeypatch):
    """Record background build starts instead of starting them."""
    calls = []
    monkeypatch.setattr(session.subprocess, "Popen", lambda cmd, **kw: calls.append((cmd, kw)))
    return calls


def test_templates_only_conf_dir_is_redirected_under_the_cache(install):
    layout = session.cds_layout()
    root = session.cds_root()
    assert root.startswith(os.path.join(os.environ["HOME"], ".cache"))
    assert os.path.dirname(layout.archive) == root
    assert layout.conf_dir == os.path.join(root, "conf")
    assert layout.java_version == "17.0.1"


def test_conf_dir_with_a_real_file_gets_neither_redirect_nor_flag(install, spawned):
    (install / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    layout = session.cds_layout()
    assert layout is None
    assert session.class_sharing("local[2]", "-Dx=1", layout) == ("-Dx=1", None)
    assert spawned == []


def test_caller_java_options_survive_with_the_flag_appended(install, spawned):
    layout = session.cds_layout()
    os.makedirs(os.path.dirname(layout.archive))
    open(layout.archive, "wb").close()
    flag = f"-XX:SharedArchiveFile={layout.archive}"
    assert session.class_sharing("local[2]", "-Dx=1 -Dy=2", layout) == (
        f"-Dx=1 -Dy=2 {flag}",
        layout.conf_dir,
    )
    assert session.class_sharing("local", None, layout) == (flag, layout.conf_dir)
    assert spawned == []


def test_non_local_master_gets_neither_change(install, spawned):
    layout = session.cds_layout()
    os.makedirs(os.path.dirname(layout.archive))
    open(layout.archive, "wb").close()
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert session.class_sharing(master, "-Dx=1", layout) == ("-Dx=1", None)
    os.remove(layout.archive)
    assert session.class_sharing("yarn", None, layout) == (None, None)
    assert spawned == []


def test_key_changes_when_the_jars_listing_changes(install):
    before = session.cds_layout().archive
    assert session.cds_layout().archive == before  # stable for one install
    (install / "jars" / "extra.jar").write_bytes(b"")
    assert session.cds_layout().archive != before


def test_key_changes_when_a_jar_is_replaced_under_the_same_name(install):
    """The JVM checks each jar's size and mtime against the archive."""
    jar = install / "jars" / "spark-core.jar"
    before = session.cds_layout().archive
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    touched = session.cds_layout().archive
    assert touched != before
    jar.write_bytes(b"rebuilt")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert session.cds_layout().archive not in (before, touched)


def test_classpath_from_the_environment_means_no_archive(install, monkeypatch):
    monkeypatch.setenv("SPARK_DIST_CLASSPATH", "/opt/hadoop/lib/*")
    assert session.cds_layout() is None


def test_missing_archive_launches_unchanged_and_starts_one_detached_build(install, spawned):
    layout = session.cds_layout()
    assert session.class_sharing("local[2]", "-Dx=1", layout) == ("-Dx=1", None)
    [(cmd, kw)] = spawned
    assert cmd[-3:] == ["-m", "pipeline_airflow_docker_spark.session", "--build-cds"]
    assert kw["start_new_session"] is True
    assert kw["stdin"] == subprocess.DEVNULL
    # A live build holds the lock: no second start.
    open(layout.sibling(".lock"), "w").close()
    assert session.class_sharing("local[2]", "-Dx=1", layout) == ("-Dx=1", None)
    assert len(spawned) == 1
    # A lock nobody refreshed is stale: a new build may start.
    old = time.time() - 2 * session._LOCK_STALE_S
    os.utime(layout.sibling(".lock"), (old, old))
    session.class_sharing("local[2]", None, layout)
    assert len(spawned) == 2
    # A failed build stops background retries for the key.
    open(layout.sibling(".failed"), "w").close()
    session.class_sharing("local[2]", None, layout)
    assert len(spawned) == 2


def test_lock_is_exclusive_and_a_stale_one_is_taken_over(tmp_path):
    lock = str(tmp_path / "k.lock")
    assert session._take_lock(lock)
    assert not session._take_lock(lock)
    old = time.time() - 2 * session._LOCK_STALE_S
    os.utime(lock, (old, old))
    assert session._take_lock(lock)
    assert not session._take_lock(lock)
    assert os.listdir(tmp_path) == ["k.lock"]


def test_corrupt_archive_still_starts_a_session_and_runs_a_job(tmp_path):
    """-Xshare:auto: an archive the JVM cannot validate is ignored and
    the launch proceeds without class sharing; the session then removes
    it and marks the key failed, so the next launch is a plain one."""
    script = """
import os
from pipeline_airflow_docker_spark import session
layout = session.cds_layout()
if layout is None:
    print("NO-LAYOUT")
    raise SystemExit(0)
os.makedirs(os.path.dirname(layout.archive), exist_ok=True)
with open(layout.archive, "wb") as fh:
    fh.write(b"\\x00not a class-data archive" * 4096)
spark = session.get_spark("corrupt-cds", master="local[1]", shuffle_partitions=1)
assert layout.archive in spark.sparkContext.getConf().get(session.JAVA_OPTIONS)
print("COUNT", spark.range(10).count())
spark.stop()
print("LEFT", os.path.exists(layout.archive), os.path.exists(layout.sibling(".failed")))
"""
    env = {
        **os.environ,
        "HOME": str(tmp_path),
        "PYTHONPATH": REPO,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": str(tmp_path / "local"),
    }
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    if "NO-LAYOUT" in proc.stdout:
        pytest.skip("this environment's launch cannot share classes")
    assert "COUNT 10" in proc.stdout
    assert "LEFT False True" in proc.stdout
