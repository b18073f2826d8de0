"""Benchmark entry point.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the inputs (cached under
``.perfbench/data``), then starts worker processes, one after the
other, in a run directory the benchmark owns (``.perfbench/runs/...``:
temp files, ``spark-warehouse`` and ``derby.log`` land there):
``SETUP_SAMPLES - 1`` that only set up, then the one that also runs the
cycles. ``setup_s`` is the median set-up time of all of them. Spark's
local dirs and the program's scratch stay where the program puts them
(``/dev/shm`` when it can). After the run, outside timing, the
benchmark records which scratch dirs the run left and where they
landed, deletes every entry the run added to those places and the run
directory, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones. ``--record-expected`` re-records the
registry keys' row counts and checksums into ``expected.json`` instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import SLOTS, WORKLOADS  # noqa: E402

PACKAGE = "pipeline_airflow_docker_spark"
RUN_TIMEOUT_S = 170.0
DRIVER_MEM = "2g"
# Set-ups per run (fresh processes); ``setup_s`` is their median.
SETUP_SAMPLES = 3
# Where the program puts its scratch (``scratch_mkdtemp``) and Spark's
# local dirs (``session.get_spark``) when /dev/shm is usable.
SHM = "/dev/shm"
SHM_SCRATCH = f"{SHM}/spark_graft_tmp_{os.getuid()}"
SHM_LOCAL = f"{SHM}/spark_graft_local"
# Name prefixes of the program's scratch dirs, and of the one dir the
# worker makes through ``scratch_mkdtemp`` to see where scratch lands.
SCRATCH_PREFIXES = ("padspark_", "spark_graft_")
PROBE_PREFIX = "perfbench_probe_"


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    path = os.path.realpath(path)
    best, kind = "", ""
    with open("/proc/mounts") as fh:
        for line in fh:
            _dev, mnt, typ = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def entries(dirs: list[str]) -> set[str]:
    """Paths of the entries of every existing dir in ``dirs``."""
    return {os.path.join(d, n) for d in dirs if os.path.isdir(d) for n in os.listdir(d)}


def tree_size(path: str) -> int:
    if not os.path.isdir(path):
        return os.lstat(path).st_size
    size = 0
    for root, _dirs, files in os.walk(path):
        size += sum(os.lstat(os.path.join(root, f)).st_size for f in files)
    return size


def scratch_left(new: list[str]) -> dict[str, float]:
    """What the program's scratch helpers left among the entries the run
    added (nothing sweeps ``scratch_mkdtemp`` dirs), and whether the
    scratch dirs landed on tmpfs or fell back to a disk tempdir."""
    names = {p: os.path.basename(p) for p in new}
    left = [p for p in new if names[p].startswith(SCRATCH_PREFIXES)]
    landed = left + [p for p in new if names[p].startswith(PROBE_PREFIX)]
    return {
        "materialize.scratch_dirs_left": float(len(left)),
        "materialize.scratch_bytes_left": float(sum(tree_size(p) for p in left)),
        "materialize.scratch_on_tmpfs": float(
            bool(landed) and all(fs_type(p) == "tmpfs" for p in landed)
        ),
    }


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def start_worker(run_dir: str, args: dict, log) -> subprocess.Popen:
    """Start one worker in ``run_dir``. Its temp dir (the program's
    fallback for scratch when tmpfs is short) is the run's ``tmp/``;
    Spark's local dirs and the program's scratch root are left to the
    program."""
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in (
        "SPARK_LOCAL_DIRS", "SPARK_GRAFT_SCRATCH", "SPARK_GRAFT_SCRATCH_MIN_FREE_GB",
        "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_MATERIALIZE", "SPARK_GRAFT_STAGED",
    ):
        env.pop(k, None)
    env.update(
        {
            "PYTHONPATH": ROOT,
            "PYTHONDONTWRITEBYTECODE": "1",
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_GRAFT_SF_DIR": args["sf_dir"],
            "SPARK_GRAFT_CPUS": str(SLOTS),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_UI": "0",
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    if os.path.isdir(SHM) and not os.access(SHM, os.W_OK | os.X_OK):
        # session.py would put spark.local.dir on a tmpfs this user
        # cannot write, and every job would fail.
        env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    args["t_launch"] = time.monotonic()
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(args)],
        cwd=run_dir,
        env=env,
        stdout=log,
        stderr=subprocess.STDOUT,
        start_new_session=True,
    )


def group_running(pgid: int) -> bool:
    """True while a process of group ``pgid`` has not ended. A zombie has
    ended: the orphaned JVM is reaped by init, which can take seconds."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                state, _ppid, pgrp = fh.read().rsplit(")", 1)[1].split()[:3]
        except OSError:
            continue
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def wait_worker(proc: subprocess.Popen, deadline: float) -> int:
    """Wait for the worker until ``deadline``, then make sure nothing of
    its session (the JVM runs there) is left, and wait until it is gone."""
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = -9
    gone_by = time.monotonic() + 10.0
    while group_running(proc.pid) and time.monotonic() < gone_by:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.02)
    proc.poll()
    return code


def remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


def run(workload_name: str, seed: int, seconds: int, trace: int, record: bool) -> int:
    t_start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: program package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    workload = WORKLOADS[workload_name]
    base = os.path.join(ROOT, ".perfbench")
    sf_dir = os.path.join(base, "data", f"sf{workload.sf}")
    datagen.write_tables(sf_dir, workload.sf)

    run_dir = os.path.join(base, "runs", f"{workload.name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # Where the run's scratch and Spark local dirs can land; whatever
    # the run adds there is reported and then deleted.
    watched = [SHM_SCRATCH, SHM_LOCAL, os.path.join(run_dir, "tmp")]
    before = entries(watched)
    dag = {}
    if workload.replays:
        dag = datagen.write_dag_csvs(os.path.join(run_dir, "dag_in"), seed, workload.dag_rows)
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    args = {
        "root": ROOT,
        "workload": workload.name,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "record": record,
        "sf_dir": sf_dir,
        "expected": os.path.join(HERE, "expected.json"),
        "dag": dag,
        "dag_out": os.path.join(run_dir, "dag_out"),
        "result": os.path.join(run_dir, "result.json"),
        "spans_out": os.path.join(base, "traces", f"{workload.name}-seed{seed}.json"),
        "probe_prefix": PROBE_PREFIX,
    }
    parts = [
        {**args, "setup_only": True, "result": os.path.join(run_dir, f"setup{i}.json")}
        for i in range(0 if record else SETUP_SAMPLES - 1)
    ] + [args]
    log_path = os.path.join(base, f"last-{workload.name}.log")
    try:
        with open(log_path, "w") as log:
            for part in parts:
                code = wait_worker(start_worker(run_dir, part, log), t_start + RUN_TIMEOUT_S)
                if code != 0:
                    break
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write("".join(l + "\n" for l in tail.splitlines() if l.startswith("#")))
        if code != 0 or record:
            if code != 0:
                print(f"perfbench: worker exited with {code}; log tail:\n{tail}", file=sys.stderr)
            return code
        samples = []
        for part in parts:
            with open(part["result"]) as fh:
                samples.append(json.load(fh))
        result = samples[-1]
        for k in ("setup_s", "session.get_spark_s"):
            result["metrics"][k] = statistics.median(x["metrics"][k] for x in samples)
        result["metrics"].update(scratch_left(sorted(entries(watched) - before)))
    finally:
        for path in entries(watched) - before:
            remove(path)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps(result_line(result, spec(), trace)))
    return 0


def result_line(result: dict, bench: dict, trace: int) -> dict:
    """The printed result: every end-to-end metric of ``bench`` (or
    every per-layer one with ``trace``), each with its unit. A metric
    the run did not measure is an error, except the per-key times of
    another workload's keys, which read 0."""
    metrics = {}
    for m in bench["per_layer"] if trace else bench["end_to_end"]:
        value = result["metrics"].get(m["name"])
        if value is None and m["name"].startswith("key."):
            value = 0.0
        if value is None:
            raise KeyError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args(argv)
    if a.record_expected:
        names = [a.workload] if a.workload else list(WORKLOADS)
        return max(run(n, a.seed, a.seconds, 0, True) for n in names)
    if not a.workload:
        ap.error("--workload is required")
    return run(a.workload, a.seed, a.seconds, a.trace, False)


if __name__ == "__main__":
    sys.exit(main())
