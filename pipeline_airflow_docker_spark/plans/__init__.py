"""Query plan registry — the driver-facing inventory.

Each operator from SURVEY.md §2 registers a named query here: a
``(spark, sf_dir) -> DataFrame`` callable, optionally paired with the
equivalent ANSI SQL the DuckDB oracle runs on the same parquet tables.
``__spark_entry__.py`` is a thin shim over this module.
"""

from __future__ import annotations

import glob
import os
import re

from pipeline_airflow_docker_spark.plans.registry import (  # noqa: F401
    ORACLES,
    QUERIES,
    query,
)

# Importing these modules populates the registry.
from pipeline_airflow_docker_spark.plans import (  # noqa: F401,E402
    llm,
    streaming_q,
    dataops,
    relational,
    reference_ops,
)

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _correctness_files() -> list[tuple[int, str]]:
    out = []
    for p in glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")):
        if m := re.search(r"CORRECTNESS_r(\d+)\.json$", p):
            out.append((int(m.group(1)), p))
    return sorted(out)


def _last_green() -> dict[str, int]:
    """key -> newest round whose driver row was fully green (hash or
    rows-only check passed, no error). Red/errored rows do NOT count:
    a key that failed last round is as grading-starved as one never
    graded — its fix needs fresh evidence."""
    import json  # noqa: PLC0415

    last: dict[str, int] = {}
    for rnd, path in _correctness_files():
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for key, row in rows.items():
            ok = (
                isinstance(row, dict)
                and row.get("err") is None
                and row.get("rows_match") is not False
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            if ok:
                last[key] = max(last.get(key, -1), rnd)
    return last


# The driver grades only the first 50 registered keys: stalest evidence first.
def _rotate() -> None:
    """Greedy staleness ordering: keys whose last GREEN driver row is
    oldest (or that have never been green) register first, ties by
    key, so the 50-key grading window always spends its slots where
    evidence is weakest, with no per-round hand-tuning."""
    green = _last_green()
    order = sorted(QUERIES, key=lambda k: (green.get(k, -1), k))
    for mapping in (QUERIES, ORACLES):
        items = {k: mapping[k] for k in order if k in mapping}
        mapping.clear()
        mapping.update(items)


_rotate()
