"""Count Spark JOBS a qkey's build+action creates (REST status API).

resolve_components' convergence used to run a separate join+count job
per propagation round; r18 folded the changed-count into the
propagation aggregate. The plan dump cannot show driver-side loop
structure — the job count can. Same UI-REST approach as
tools/stage_bytes.py.

Usage: python tools/job_count.py [--sf DIR] q_dedup_resolve ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_UI", "1")


def _jobs(base: str, app_id: str) -> list[dict]:
    # No status filter: failed/retried jobs count too — the tool makes
    # evidence-grade claims about driver-side loop structure.
    url = f"{base}/api/v1/applications/{app_id}/jobs"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _jobs_stable(base: str, app_id: str) -> set[int]:
    """The status store is fed by the ASYNC listener bus, so a read
    immediately after collect() can miss just-finished jobs. Poll until
    two consecutive reads agree; warn when they never do, since the
    count may then be stale-low."""
    import time  # noqa: PLC0415

    prev = {j["jobId"] for j in _jobs(base, app_id)}
    for _ in range(20):
        time.sleep(0.25)
        cur = {j["jobId"] for j in _jobs(base, app_id)}
        if cur == prev:
            return cur
        prev = cur
    print(
        "WARNING: job list still changing after 20 polls; this count may be low",
        file=sys.stderr,
    )
    return prev


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()

    from pyspark.sql import functions as F  # noqa: PLC0415

    from pipeline_airflow_docker_spark import plans  # noqa: PLC0415
    from pipeline_airflow_docker_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark("job-count")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    base, app_id = sc.uiWebUrl, sc.applicationId
    if not base:
        print("ERROR: Spark UI disabled", file=sys.stderr)
        return 2
    out = {}
    for name in args.keys:
        before = _jobs_stable(base, app_id)
        df = plans.QUERIES[name](spark, args.sf)
        df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
        ).collect()
        after = _jobs_stable(base, app_id)
        out[name] = len(after - before)
        print(f"{name}: {out[name]} jobs", flush=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
