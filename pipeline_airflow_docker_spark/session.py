"""SparkSession factory + scale-oriented runtime configuration.

The reference executes everything eagerly in single-process pandas with
no optimizer (SURVEY.md §4.1). Here the session is configured for the
opposite: lazy Catalyst plans, AQE re-planning at runtime, skew-join
splitting, and partition coalescing — the settings that matter when the
same plans run on a 1000-executor cluster over ~100 TB.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
from collections.abc import Iterator

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Confs that are safe/desirable to (re)apply on an existing session at
# runtime — everything here is runtime-settable SQL conf.
RUNTIME_CONF: dict[str, str] = {
    # AQE: runtime re-planning — broadcast-at-runtime, skew-join
    # splitting, and post-shuffle partition coalescing. At 100 TB these
    # replace hand-tuned shuffle partition counts.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas/Python boundary (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # The events table stores TIMESTAMP(NANOS) parquet, which Spark 4
    # rejects by default; read as long, catalog.table converts to
    # microsecond timestamps (truncation — matches DuckDB's ns->us).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ANSI off: permissive casts match the reference's pandas semantics.
    "spark.sql.ansi.enabled": "false",
    # ...but NOT the legacy size(NULL) = -1 that non-ANSI mode drags
    # in: a -1 "size" silently poisons every token count, ratio, and
    # chunk index computed over a NULL array (the degenerate-data gate
    # caught -1 token counts in nine text qkeys). size(NULL) = NULL
    # matches DuckDB len(NULL) and SQL NULL propagation.
    "spark.sql.legacy.sizeOfNull": "false",
    # WITH RECURSIVE safety valve: the default (1M rows) is sized for
    # toy data — an acyclic hierarchy walk over a 10-scale fact set
    # legitimately produces tens of millions of rows. Cycle protection
    # comes from the acyclic-graph contract (q_recursive_cte) and the
    # per-level semantics, not this limit.
    "spark.sql.cteRecursionRowLimit": str(200_000_000),
    # Streaming state in RocksDB (bundled since Spark 3.2): keeps
    # windowed-agg/dedup state off the executor heap, which is the
    # difference between "works" and "OOMs" for 100 TB-scale stateful
    # queries (SURVEY.md §4.2). Changelog checkpointing uploads deltas,
    # not full snapshots, per micro-batch.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session.

    The correctness driver passes us *its* session; we only touch confs
    that are legal to set mid-flight.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Not settable on this session (e.g. static conf) — fine.
            pass
    return spark


def _builder(app_name: str, master: str, shuffle_partitions: int) -> SparkSession.Builder:
    """The session builder ``get_spark`` launches (the class-list run of
    :func:`build_cds` launches the same one)."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off (saves ~1 s startup + a port per process): the status
        # store it would show is read in-process (tools/stage_bytes.py).
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # Local-mode split sizing only. The driver testdata is a single
        # ~10 MB parquet file per table; with the cluster defaults
        # (openCostInBytes=4 MB, maxPartitionBytes=128 MB) Spark cuts it
        # into ~3 splits and 29 of local[32]'s cores sit idle on every
        # scan. Shrinking both puts all cores on the scan. NOT applied
        # on a cluster master: at 100 TB the 128 MB default yields
        # ~800 k well-sized tasks, while 4 MB splits would explode the
        # task count 32×.
        builder = builder.config(
            "spark.sql.files.openCostInBytes", str(128 * 1024)
        ).config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        # Shuffle/spill scratch on tmpfs when available: this box's
        # /dev/vda is a shared virtio disk with multi-second latency
        # bursts that land squarely on shuffle-file writes (observed as
        # sporadic 10-20 s stalls of otherwise sub-second plans). On a
        # real cluster spark.local.dir is provisioned node-local SSD —
        # tmpfs is the closest local-mode analog. Test data stays small
        # enough (≲2 GB at sf10) that 126 GB of shm never fills; a
        # cluster deployment does NOT inherit this (guarded to local*).
        if os.path.isdir("/dev/shm"):
            builder = builder.config("spark.local.dir", "/dev/shm/spark_graft_local")
        # Streaming checkpoints through FileSystem, not FileContext. The
        # default manager commits each metadata file with a FileContext
        # rename, and Hadoop's RawLocalFs resolves symlinks on that path
        # by spawning `stat`/`readlink` child processes when the Hadoop
        # native library is absent (as with a pip-installed pyspark):
        # about 60 ms of forks per bounded micro-batch on tmpfs, 4-core
        # box. A local master's checkpoints are on a local POSIX
        # filesystem, where the FileSystem rename is atomic too. Cluster
        # masters keep Spark's default (HDFS-safe) manager.
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return builder


def get_spark(
    app_name: str = "pipeline_airflow_docker_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a session tuned for local testing.

    ``local[N]`` here; on a real cluster the same confs apply, with
    shuffle partitioning left to AQE coalescing from a high initial
    partition count.

    A local master that starts a new JVM maps this machine's
    class-data-sharing archive when one exists (see
    :func:`class_sharing`), and starts a background build of it when
    not; the build never delays this call.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = _builder(app_name, master, shuffle_partitions)
    conf_dir = mapped = None
    if SparkContext._active_spark_context is None:
        layout = cds_layout()
        java_options, conf_dir = class_sharing(master, None, layout)
        if java_options is not None:
            builder = builder.config(JAVA_OPTIONS, java_options)
            mapped = layout
    with _environ("SPARK_CONF_DIR", conf_dir):
        spark = builder.getOrCreate()
    if mapped is not None:
        _drop_rejected_archive(spark, mapped)
    return apply_runtime_conf(spark)


@contextlib.contextmanager
def _environ(name: str, value: str | None) -> Iterator[None]:
    """Set ``os.environ[name]`` (when ``value`` is not None) for the
    block; the JVM launch copies the environment inside it."""
    if value is None:
        yield
        return
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = old


# ---------------------------------------------------------------------
# Class-data sharing (CDS) for local sessions.
#
# A fresh driver JVM spends most of its start-up loading, parsing and
# verifying the ~15k classes Spark touches. A static AppCDS archive
# holds them pre-parsed and is mapped at start-up instead. The archive
# is specific to the JDK, the Spark install and the exact classpath, so
# it lives per machine under ~/.cache (never in the repo), named by a
# key over all three. The JVM validates an archive before mapping it
# and, under the default -Xshare:auto, starts without class sharing
# when it is corrupt or mismatched: never a broken session, but slower
# than no flag at all, because the named archive replaces the JDK's
# default one. The first session over such an archive removes it and
# leaves a ``.failed`` marker, so later launches are plain ones.
#
# JDK 17 turns sharing off when a non-empty directory is on the
# classpath, and spark-submit puts the conf dir there. A conf dir that
# holds only *.template files (a stock install) is swapped for an empty
# one, which the launch reads nothing from either way; a conf dir with
# any real file is left alone and gets no archive.
# ---------------------------------------------------------------------

JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# A build refreshes its lock's mtime every _HEARTBEAT_S; a lock left
# untouched for _LOCK_STALE_S belongs to a build that died.
_HEARTBEAT_S = 30.0
_LOCK_STALE_S = 600.0
# The class-list run and the dump each get this long before the build
# gives up (a nice-19 build on a saturated machine is slow, not stuck).
_BUILD_STEP_TIMEOUT_S = 3600.0
# Launcher inputs that put more entries on the driver classpath than
# the conf dir and the jars dir; any of them set means no archive.
_CLASSPATH_ENV = (
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_PREPEND_CLASSES",
)


@dataclasses.dataclass(frozen=True)
class CdsLayout:
    """Where the archive for the current local launch lives, and how
    that launch must be made to map it."""

    archive: str
    conf_dir: str | None  # SPARK_CONF_DIR to launch with; None leaves it
    java_home: str
    java_version: str

    def sibling(self, suffix: str) -> str:
        return self.archive[: -len(".jsa")] + suffix


def cds_root() -> str:
    return os.path.join(os.path.expanduser("~"), ".cache", __package__, "cds")


def _java_version(java_home: str) -> str:
    with open(os.path.join(java_home, "release")) as fh:
        for line in fh:
            name, _, value = line.strip().partition("=")
            if name == "JAVA_VERSION":
                return value.strip('"')
    raise OSError(f"no JAVA_VERSION in {java_home}/release")


def cds_layout() -> CdsLayout | None:
    """The archive layout for a local launch from this environment, or
    None when the launch cannot share classes: no identifiable JDK or
    Spark install, extra classpath entries from the environment, a conf
    dir holding a real file, or a cache path that extraJavaOptions'
    whitespace splitting would break.

    The key covers java.home and java.version, the Spark version, the
    jars-dir listing in directory order (the order the launcher's
    ``jars/*`` expands to) with each jar's size and mtime, and the launch
    classpath itself. The JVM rejects an archive whose jars changed size
    or mtime, and a rejected archive still replaces the JDK's default
    one, so a jar replaced under the same name must change the key."""
    from pyspark.find_spark_home import _find_spark_home  # noqa: PLC0415

    if any(os.environ.get(k) for k in _CLASSPATH_ENV):
        return None
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        if java is None:
            return None
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    try:
        spark_home = _find_spark_home()
        jars_dir = os.path.join(spark_home, "jars")
        with os.scandir(jars_dir) as entries:
            jars = [(e.name, e.stat()) for e in entries]
        java_version = _java_version(java_home)
    except (OSError, SystemExit):
        return None
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        conf_files = os.listdir(conf_dir)
    except FileNotFoundError:
        conf_files = []
    except OSError:
        return None
    if any(not n.endswith(".template") for n in conf_files):
        return None
    root = cds_root()
    if any(c.isspace() for c in root):
        return None
    launch_conf = os.path.join(root, "conf") if conf_files else None
    classpath = os.pathsep.join(
        [os.path.join(launch_conf or conf_dir, ""), os.path.join(jars_dir, "*")]
    )
    import pyspark  # noqa: PLC0415

    key = hashlib.sha256(
        "\n".join(
            [
                java_home,
                java_version,
                pyspark.__version__,
                "\0".join(f"{n}:{st.st_size}:{st.st_mtime_ns}" for n, st in jars),
                classpath,
            ]
        ).encode()
    ).hexdigest()[:16]
    return CdsLayout(
        archive=os.path.join(root, f"{key}.jsa"),
        conf_dir=launch_conf,
        java_home=java_home,
        java_version=java_version,
    )


def class_sharing(
    master: str, java_options: str | None, layout: CdsLayout | None
) -> tuple[str | None, str | None]:
    """``(spark.driver.extraJavaOptions, SPARK_CONF_DIR)`` to launch
    ``master`` with. A local master whose archive exists gets the
    archive flag appended to the caller's options and the layout's conf
    dir; anything else launches unchanged, and a local master whose
    archive is missing starts its background build."""
    if layout is None or not master.startswith("local"):
        return java_options, None
    if not os.path.isfile(layout.archive):
        start_cds_build(layout)
        return java_options, None
    if layout.conf_dir:
        try:
            os.makedirs(layout.conf_dir, exist_ok=True)
        except OSError:
            return java_options, None
    flag = f"-XX:SharedArchiveFile={layout.archive}"
    return (f"{java_options} {flag}" if java_options else flag), layout.conf_dir


def _drop_rejected_archive(spark: SparkSession, layout: CdsLayout) -> None:
    """Remove ``layout``'s archive when the JVM of ``spark``, launched
    with it, maps no shared classes (``java.vm.info`` lacks "sharing"),
    and mark the key failed so no background build retries it."""
    if "sharing" in spark._jvm.System.getProperty("java.vm.info"):
        return
    with contextlib.suppress(OSError):
        with open(layout.sibling(".failed"), "w") as fh:
            fh.write(f"{time.ctime()}: the JVM rejected {layout.archive}\n")
        os.remove(layout.archive)


def _lock_age(path: str) -> float:
    try:
        return time.time() - os.stat(path).st_mtime
    except FileNotFoundError:
        return math.inf


def start_cds_build(layout: CdsLayout) -> None:
    """Start ``python -m pipeline_airflow_docker_spark.session
    --build-cds`` detached (own session, nice 19) unless a live build
    holds the lock or a build for this key failed before. Never waits."""
    if _lock_age(layout.sibling(".lock")) < _LOCK_STALE_S or os.path.exists(
        layout.sibling(".failed")
    ):
        return
    root = os.path.dirname(layout.archive)
    try:
        os.makedirs(root, exist_ok=True)
        log = open(layout.sibling(".log"), "ab")  # noqa: SIM115 - handed to the child
    except OSError:
        return
    cmd = [sys.executable, "-m", f"{__package__}.session", "--build-cds"]
    nice = shutil.which("nice")
    if nice:
        cmd = [nice, "-n", "19", *cmd]
    with log:
        subprocess.Popen(  # noqa: S603 - fixed argv
            cmd,
            cwd=root,
            env=_child_env(),
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )


def _child_env(**extra: str) -> dict[str, str]:
    """This environment, plus what a child python needs to import the
    package from any working directory."""
    package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(p for p in (package_parent, os.environ.get("PYTHONPATH")) if p)
    return {**os.environ, "PYTHONPATH": path, **extra}


def _take_lock(path: str) -> bool:
    """O_EXCL lock; a lock untouched for _LOCK_STALE_S is taken over."""
    for _ in range(2):
        try:
            os.close(os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644))
            return True
        except FileExistsError:
            if _lock_age(path) < _LOCK_STALE_S:
                return False
            # Move the stale lock aside; if what was moved turns out to
            # be fresh, another process took it over first: hand it back.
            aside = f"{path}.{os.getpid()}"
            try:
                os.rename(path, aside)
            except FileNotFoundError:
                continue
            if _lock_age(aside) < _LOCK_STALE_S:
                os.rename(aside, path)
                return False
            os.remove(aside)
    return False


def _run_step(cmd: list[str], lock: str, **kwargs) -> None:
    """Run one build step to completion, refreshing the lock while it
    runs; raise when it fails or outlives _BUILD_STEP_TIMEOUT_S."""
    proc = subprocess.Popen(cmd, **kwargs)  # noqa: S603 - fixed argv
    deadline = time.monotonic() + _BUILD_STEP_TIMEOUT_S
    while True:
        try:
            code = proc.wait(timeout=_HEARTBEAT_S)
            break
        except subprocess.TimeoutExpired:
            os.utime(lock)
            if time.monotonic() > deadline:
                proc.kill()
                proc.wait()
                raise TimeoutError(f"{cmd[0]}: no result after {_BUILD_STEP_TIMEOUT_S:.0f} s")
    if code != 0:
        raise RuntimeError(f"{' '.join(cmd[:4])} ... exited with {code}")


def build_cds(layout: CdsLayout | None = None) -> str | None:
    """Build this machine's archive for the current local launch and
    return its path; None when the launch cannot share classes or
    another build holds the lock.

    Two steps, each in its own process, with a private work dir for
    local dirs and temp files: a short canned local workload (open
    parquet, aggregate, join, window, CSV write/read) in a JVM started
    with -XX:DumpLoadedClassList, then ``java -Xshare:dump`` over that
    class list and the classpath that JVM reported, written to a temp
    name and renamed into place. A failed build leaves a ``.failed``
    marker that stops background builds for this key; ``--build-cds``
    clears it before building."""
    layout = layout or cds_layout()
    if layout is None:
        return None
    if os.path.isfile(layout.archive):
        return layout.archive
    root = os.path.dirname(layout.archive)
    os.makedirs(root, exist_ok=True)
    lock = layout.sibling(".lock")
    if not _take_lock(lock):
        return None
    work = tempfile.mkdtemp(prefix="work-", dir=root)
    out = f"{layout.archive}.{os.getpid()}.tmp"
    try:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        env = _child_env(TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        if layout.conf_dir:
            os.makedirs(layout.conf_dir, exist_ok=True)
            env["SPARK_CONF_DIR"] = layout.conf_dir
        t = time.monotonic()
        run = f"from {__package__}.session import _class_list_run; _class_list_run({work!r})"
        _run_step([sys.executable, "-c", run], lock, cwd=work, env=env)
        with open(os.path.join(work, "jvm.json")) as fh:
            jvm = json.load(fh)
        launched = (os.path.realpath(jvm["java.home"]), jvm["java.version"])
        if launched != (os.path.realpath(layout.java_home), layout.java_version):
            # The launch resolved another JDK than the key names.
            raise RuntimeError(f"launched {jvm['java.home']} {jvm['java.version']}")
        print(f"class list: {time.monotonic() - t:.1f} s", flush=True)
        t = time.monotonic()
        _run_step(
            [
                os.path.join(layout.java_home, "bin", "java"),
                "-Xshare:dump",
                f"-XX:SharedClassListFile={os.path.join(work, 'classes.lst')}",
                f"-XX:SharedArchiveFile={out}",
                f"-Djava.io.tmpdir={tmp}",
                "-cp",
                jvm["java.class.path"],
            ],
            lock,
            cwd=work,
            env=env,
            stdout=subprocess.DEVNULL,
        )
        os.replace(out, layout.archive)
        print(f"dump: {time.monotonic() - t:.1f} s -> {layout.archive}", flush=True)
    except BaseException:
        with open(layout.sibling(".failed"), "w") as fh:
            fh.write(f"{time.ctime()}\n")
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for path in (out, lock):
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)
    return layout.archive


def _class_list_run(work: str) -> None:
    """The canned workload of :func:`build_cds`'s first step: every
    class it loads goes into ``work/classes.lst``."""
    from pyspark.sql import Window  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    from pipeline_airflow_docker_spark import catalog  # noqa: PLC0415

    spark = (
        _builder("cds-class-list", "local[2]", 4)
        .config("spark.driver.memory", "1g")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            JAVA_OPTIONS,
            f"-XX:DumpLoadedClassList={os.path.join(work, 'classes.lst')} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        )
        .getOrCreate()
    )
    system = spark._jvm.System
    with open(os.path.join(work, "jvm.json"), "w") as fh:
        json.dump(
            {k: system.getProperty(k) for k in ("java.class.path", "java.home", "java.version")},
            fh,
        )
    data = os.path.join(work, "data")
    spark.range(5000).select(
        F.col("id"),
        (F.col("id") % 17).alias("k"),
        (F.col("id") * 0.5).alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    ).coalesce(1).write.parquet(os.path.join(data, "facts"))
    [single] = glob.glob(os.path.join(data, "facts", "*.parquet"))
    catalog.file_schema(spark, single)
    facts = spark.read.parquet(os.path.join(data, "facts"))
    agg = facts.groupBy("k").agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
    ranked = facts.join(agg, "k").withColumn(
        "r", F.rank().over(Window.partitionBy("k").orderBy(F.col("v").desc()))
    )
    ranked.write.csv(os.path.join(data, "csv"), header=True)
    spark.read.csv(os.path.join(data, "csv"), header=True, inferSchema=True).groupBy(
        "k"
    ).count().collect()
    spark.stop()


def _main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Session utilities.")
    ap.add_argument(
        "--build-cds",
        action="store_true",
        help="build the class-data-sharing archive local sessions map at start-up",
    )
    args = ap.parse_args(argv)
    if not args.build_cds:
        ap.print_help()
        return 2
    layout = cds_layout()
    if layout is None:
        print("class-data sharing does not apply to this environment's launch")
        return 1
    with contextlib.suppress(FileNotFoundError):
        os.remove(layout.sibling(".failed"))
    path = build_cds(layout)
    if path is None:
        print(f"another build holds {layout.sibling('.lock')}")
        return 1
    print(path)
    return 0


if __name__ == "__main__":
    sys.exit(_main())
