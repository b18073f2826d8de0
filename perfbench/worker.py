"""One benchmark run in a fresh process (started by ``run.py``).

Timeline of a run: set-up (imports, ``session.get_spark``, every table
opened once through ``catalog.table``), one cold cycle, warm-up cycles
until cycle time levels off (rule in :func:`levelled`), then measured
cycles for ``--seconds``. Every op's output is checked; the result is
written as JSON for ``run.py`` to print.

Usage (normally via run.py): ``python3 perfbench/worker.py '<json args>'``
"""

from __future__ import annotations

import gc
import json
import os
import resource
import shutil
import statistics
import sys
import threading
import time
from collections.abc import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import SparkProbe, Tracer, duration, self_times, stream_totals, wrap_layer_calls  # noqa: E402
from workloads import SLOTS, WORKLOADS  # noqa: E402

PACKAGE = "pipeline_airflow_docker_spark"
OP_TIMEOUT_S = 40.0
# Warm-up stops once the last WARMUP_MIN_CYCLES cycles lie within
# LEVEL_TOL of each other, or after WARMUP_MAX_CYCLES. The cap counts
# cycles, not seconds: the JIT warms per query executed, so a count puts
# every run's measured cycles at the same point of the warm-up slope.
LEVEL_TOL = 0.03
WARMUP_MIN_CYCLES = 3
WARMUP_MAX_CYCLES = 4
MIN_MEASURED = 4


def levelled(walls: list[float]) -> bool:
    """True once warm-up cycle times have stopped moving: the latest
    WARMUP_MIN_CYCLES cycles differ by at most LEVEL_TOL."""
    last = walls[-WARMUP_MIN_CYCLES:]
    return len(last) == WARMUP_MIN_CYCLES and max(last) <= (1.0 + LEVEL_TOL) * min(last)


def run_cycle(
    tracer: Tracer,
    index: int,
    phase: str,
    order: list[str],
    run_op: Callable[[str, str], bool],
) -> dict:
    """Run every op of one cycle in ``order``. ``run_op(name, op_id)``
    returns True when the op's output passed its check; an exception
    counts as a failed op. Failed ops are recorded with ``ok=False``
    and make the whole cycle unclean, so they are never timed as a
    success."""
    ops = []
    with tracer.span("cycle", op=f"c{index}", phase=phase) as cyc:
        for name in order:
            with tracer.span("op", op=f"c{index}.{name}", key=name) as sp:
                try:
                    sp["ok"] = bool(run_op(name, sp["op"]))
                except Exception as exc:  # noqa: BLE001 - counted, reported
                    sp["ok"] = False
                    sp["error"] = f"{type(exc).__name__}: {exc}"[:400]
            ops.append(sp)
    return {
        "index": index,
        "phase": phase,
        "wall": duration(cyc),
        "ok": all(o["ok"] for o in ops),
        "ops": ops,
    }


def success_counts(cycles: list[dict]) -> tuple[int, int]:
    """(ops attempted, ops failed) over every cycle of the run."""
    attempted = sum(len(c["ops"]) for c in cycles)
    failed = sum(not o["ok"] for c in cycles for o in c["ops"])
    return attempted, failed


def median_or(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def summarize(
    cycles: list[dict],
    warm_walls: list[float],
    layer: list[dict],
    ops: tuple[str, ...],
    window_s: float,
) -> dict[str, float]:
    """Run-level metrics from the cycle records. ``layer`` holds one
    per-layer record per traced measured cycle (empty when untraced)."""
    measured = [c for c in cycles if c["phase"] == "measure"]
    attempted, failed = success_counts(cycles)
    out = {
        # No clean measured cycle: report the whole measured window, so
        # a failing run never reads faster than a passing one.
        "cycle_s": median_or((c["wall"] for c in measured if c["ok"]), window_s),
        "cold_cycle_s": cycles[0]["wall"],
        "success_ratio": (attempted - failed) / attempted,
        "cycles.measured": float(len(measured)),
        "cycles.warmup": float(len(warm_walls)),
        "warmup.levelled": float(levelled(warm_walls)),
    }
    for name in ops:
        # A key that never passed in the measured window reads as the
        # whole window, like cycle_s, never as a fast key.
        out[f"key.{name}_s"] = median_or(
            (duration(o) for c in measured for o in c["ops"] if o["key"] == name and o["ok"]),
            window_s,
        )
    if layer:
        traced = [c["wall"] for c in measured if c["traced"]]
        plain = [c["wall"] for c in measured if not c["traced"]]
        out["trace.cycle_s"] = median_or(traced)
        out["trace.plain_cycle_s"] = median_or(plain)
        out["trace.overhead_s"] = out["trace.cycle_s"] - out["trace.plain_cycle_s"]
        for k in layer[0]:
            out[k] = median_or(r[k] for r in layer)
    return out


class Runner:
    """Binds the workload's ops to a live session."""

    def __init__(self, spark, sf_dir, expected, dag, out_root, tracer):
        from pyspark.sql import functions as F  # noqa: PLC0415

        from pipeline_airflow_docker_spark import pipelines, plans  # noqa: PLC0415

        self.F = F
        self.spark = spark
        self.sc = spark.sparkContext
        self.plans = plans
        self.pipelines = pipelines
        self.sf_dir = sf_dir
        self.expected = expected
        self.dag = dag
        self.out_root = out_root
        self.tracer = tracer
        self.actual: dict[str, list[int]] = {}
        self.last_action_df: dict[str, object] = {}

    def checksum_row(self, df):
        """Row count and an order-insensitive checksum (sum of a 64-bit
        row hash), computed in the JVM so no rows reach the driver."""
        F = self.F
        cols = [f"c{i}" for i in range(len(df.columns))]
        agg = df.toDF(*cols).agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*cols)).alias("h")
        )
        return agg, agg.collect()[0]

    def run_op(self, name: str, op_id: str) -> bool:
        timer = threading.Timer(OP_TIMEOUT_S, self._cancel, [op_id])
        timer.start()
        try:
            if name in self.plans.QUERIES:
                return self._query(name, op_id)
            return self._replay(name, op_id)
        finally:
            timer.cancel()

    def _cancel(self, op_id: str) -> None:
        for part in ("build", "action"):
            self.sc.cancelJobGroup(f"{op_id}.{part}")

    def _query(self, key: str, op_id: str) -> bool:
        self.sc.setJobGroup(f"{op_id}.build", key)
        with self.tracer.span("build"):
            df = self.plans.QUERIES[key](self.spark, self.sf_dir)
        self.sc.setJobGroup(f"{op_id}.action", key)
        with self.tracer.span("action"):
            agg, row = self.checksum_row(df)
        self.last_action_df[op_id] = agg
        got = [int(row["n"]), int(row["h"] or 0)]
        self.actual[key] = got
        want = self.expected.get(key)
        return want is not None and got == want

    def _replay(self, name: str, op_id: str) -> bool:
        paths = self.dag["paths"]
        out = os.path.join(self.out_root, op_id)
        fn = getattr(self.pipelines, name)
        self.sc.setJobGroup(f"{op_id}.action", name)
        with self.tracer.span("pipeline"):
            if name == "etl_data_pipeline_mongodb_complex":
                m = fn(self.spark, paths["air"], paths["grades"], out, min_rows=10)
            else:
                m = fn(self.spark, paths["hw"], out)
        if name == "etl_data_pipeline_mongodb_complex":
            want = self.dag["union_non_empty"]
            return m["nb_lignes"] == want and m["rows_loaded"] == want
        return m["rows_loaded"] == self.dag["hw_complete"]


def layer_record(runner: Runner, probe: SparkProbe, cyc: dict, spans: list[dict]) -> dict:
    """Per-layer totals of one traced cycle (read after the cycle)."""
    probe.drain()
    rec: dict[str, float] = {}
    build_jobs = action_jobs = 0
    action_stages: list[int] = []
    op_stages: list[int] = []
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for op in cyc["ops"]:
        b = probe.group_jobs(f"{op['op']}.build")
        a = probe.group_jobs(f"{op['op']}.action")
        build_jobs += len(b)
        action_jobs += len(a)
        action_stages += probe.stage_ids(a)
        op_stages += probe.stage_ids(b + a)
        df = runner.last_action_df.pop(op["op"], None)
        if df is not None:
            for k, v in probe.phases_ms(df).items():
                phases[k] += v
    stages = probe.stage_totals(action_stages)
    kids = [s for s in spans if s["op"] and s["op"].startswith(f"c{cyc['index']}.")]
    by_name: dict[str, float] = {}
    for s in kids:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + duration(s)
    rec["plans.build_s"] = by_name.get("build", 0.0)
    rec["plans.build_jobs"] = float(build_jobs)
    rec["exec.action_s"] = by_name.get("action", 0.0) + by_name.get("pipeline", 0.0)
    rec["exec.jobs"] = float(action_jobs)
    for k in phases:
        rec[f"exec.{k}_ms"] = phases[k]
    for k in (
        "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "max_task_over_median",
    ):
        rec[f"exec.{k}"] = float(stages[k])
    rec["sources.read_s"] = by_name.get("read", 0.0)
    rec["sinks.write_s"] = by_name.get("write", 0.0)
    writes = [s for s in kids if s["name"] == "write"]
    rec["sinks.bytes_written"] = float(sum(s.get("bytes", 0) for s in writes))
    rec["sinks.files_written"] = float(sum(s.get("files", 0) for s in writes))
    # Input of every job the ops launched, build-time jobs included:
    # the ingest keys do their reading inside QUERIES[k].
    read = probe.stage_totals(op_stages)["input_bytes"]
    rec["sinks.bytes_per_input_byte"] = rec["sinks.bytes_written"] / read if read else 0.0
    # Share of the cycle covered by the ops' build/action/pipeline spans.
    top = {s["id"] for s in cyc["ops"]}
    covered = sum(duration(s) for s in kids if s["parent"] in top)
    rec["trace.accounted_share"] = covered / cyc["wall"]
    return rec


def main() -> int:
    args = json.loads(sys.argv[1])
    t_launch = args["t_launch"]
    workload = WORKLOADS[args["workload"]]
    record = args.get("record", False)
    trace = bool(args["trace"])
    sys.path.insert(0, args["root"])

    # ---- set-up (timed: what a fresh task process pays) ------------
    from pipeline_airflow_docker_spark import catalog, plans  # noqa: F401, PLC0415
    from pipeline_airflow_docker_spark.functions.materialize import scratch_mkdtemp  # noqa: PLC0415
    from pipeline_airflow_docker_spark.session import get_spark  # noqa: PLC0415

    t = time.monotonic()
    spark = get_spark("perfbench", master=f"local[{SLOTS}]")
    get_spark_s = time.monotonic() - t
    for name in catalog.TABLES:
        catalog.table(spark, args["sf_dir"], name)
    setup_s = time.monotonic() - t_launch
    # ---- end of set-up ---------------------------------------------
    if args.get("setup_only"):
        write_result(args["result"], 0, 0, {"setup_s": setup_s, "session.get_spark_s": get_spark_s})
        # Nothing to flush: run.py ends the JVM and deletes its local
        # dirs, which saves the seconds of a clean shutdown.
        os._exit(0)

    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer()
    probe = SparkProbe(spark)
    restore = None
    if trace:
        restore = wrap_layer_calls(tracer, PACKAGE)
        probe.listen_streaming()
    expected = {}
    if os.path.exists(args["expected"]):
        with open(args["expected"]) as fh:
            expected = json.load(fh).get(f"sf{workload.sf}", {})
    runner = Runner(spark, args["sf_dir"], expected, args["dag"], args["dag_out"], tracer)
    order = workload.cycle_order(args["seed"])
    print(f"# cycle order: {order}", file=sys.stderr)

    cycles: list[dict] = []
    layer: list[dict] = []

    def one(phase: str, traced: bool) -> dict:
        tracer.enabled = traced
        if traced:
            probe.drain()  # late events of the plain cycle before stay out
        n_progress = len(probe.progress)
        cpu0, gc0 = (probe.jvm_cpu_s(), probe.jvm_gc_s()) if traced else (0.0, 0.0)
        c = run_cycle(tracer, len(cycles), phase, order, runner.run_op)
        c["traced"] = traced
        cycles.append(c)
        if traced:
            cpu1, gc1 = probe.jvm_cpu_s(), probe.jvm_gc_s()
            rec = layer_record(runner, probe, c, tracer.spans)
            rec["jvm.cpu_s"], rec["jvm.gc_s"] = cpu1 - cpu0, gc1 - gc0
            for k, v in stream_totals(probe.progress[n_progress:]).items():
                rec[f"streaming.{k}"] = v
            layer.append(rec)
        runner.last_action_df.clear()
        shutil.rmtree(args["dag_out"], ignore_errors=True)
        gc.collect()
        print(
            f"# cycle {c['index']} {phase}{' traced' if traced else ''} "
            f"{c['wall']:.3f}s ok={c['ok']}",
            file=sys.stderr,
        )
        for o in c["ops"]:
            if not o["ok"]:
                print(f"#   FAILED {o['key']}: {o.get('error', 'output mismatch')}", file=sys.stderr)
        return c

    if record:
        one("cold", False)
        write_expected(args["expected"], workload, runner.actual)
        spark.stop()
        return 0

    one("cold", False)
    warm_walls: list[float] = []
    while not levelled(warm_walls) and len(warm_walls) < WARMUP_MAX_CYCLES:
        warm_walls.append(one("warmup", False)["wall"])
    t_measure = time.monotonic()
    k = 0
    while True:
        c = one("measure", trace and k % 2 == 0)
        k += 1
        elapsed = time.monotonic() - t_measure
        if k >= MIN_MEASURED and elapsed + 0.5 * c["wall"] >= args["seconds"]:
            break
    window_s = time.monotonic() - t_measure
    if restore is not None:
        restore()
    probe.stop()
    python_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    metrics = summarize(cycles, warm_walls, layer, workload.ops, window_s)
    metrics["setup_s"] = setup_s
    metrics["session.get_spark_s"] = get_spark_s
    metrics["peak_rss_mb"] = probe.jvm_peak_rss_mb() + python_rss_mb
    if trace:
        metrics.update(direct_catalog_calls(spark, catalog, args["sf_dir"], probe))
        with open(args["spans_out"], "w") as fh:
            json.dump(span_dump(tracer.spans), fh)
    # One dir through the program's scratch helper, left for run.py to
    # see where scratch lands (tmpfs, or the disk tempdir fallback).
    scratch_mkdtemp(args["probe_prefix"])
    write_result(args["result"], *success_counts(cycles), metrics)
    spark.stop()
    return 0


def write_result(path: str, attempted: int, failed: int, metrics: dict[str, float]) -> None:
    with open(path, "w") as fh:
        json.dump({"attempted": attempted, "failed": failed, "metrics": metrics}, fh)


def direct_catalog_calls(spark, catalog, sf_dir: str, probe: SparkProbe) -> dict[str, float]:
    """Open every table once more through ``catalog.table``; median
    wall time per call and Spark jobs launched per call."""
    group = f"catalog.direct.{time.monotonic_ns()}"
    spark.sparkContext.setJobGroup(group, "catalog.table")
    times = []
    for name in catalog.TABLES:
        t = time.perf_counter()
        catalog.table(spark, sf_dir, name)
        times.append(time.perf_counter() - t)
    probe.drain()
    jobs = len(probe.group_jobs(group))
    spark.sparkContext.setJobGroup("perfbench.idle", "between cycles")
    return {"catalog.table_s": statistics.median(times), "catalog.table_jobs": jobs / len(times)}


def span_dump(spans: list[dict]) -> list[dict]:
    selfs = self_times(spans)
    keep = ("id", "name", "parent", "op", "start", "end", "key", "fn", "phase", "ok", "error")
    return [
        {**{k: s[k] for k in keep if k in s}, "self": selfs[s["id"]]}
        for s in sorted(spans, key=lambda s: s["start"])
    ]


def write_expected(path: str, workload, actual: dict[str, list[int]]) -> None:
    data = {}
    if os.path.exists(path):
        with open(path) as fh:
            data = json.load(fh)
    data.setdefault(f"sf{workload.sf}", {}).update(actual)
    rows = (f"  {json.dumps(sf)}: {json.dumps(data[sf], sort_keys=True)}" for sf in sorted(data))
    with open(path, "w") as fh:
        fh.write("{\n" + ",\n".join(rows) + "\n}\n")


if __name__ == "__main__":
    sys.exit(main())
