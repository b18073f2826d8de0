"""The benchmark's workloads: what one cycle calls, at which scale.

Every workload is a closed loop with ONE client: the next call starts
only when the previous one has returned and been checked. A cycle is a
fixed list of ops; ``--seed`` only picks where in that list the cycle
starts (the same rotation every cycle of a run) and seeds the DAG
replay CSVs. See NOTES.md for why each workload exists.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# Spark task slots for every workload (``local[SLOTS]``).
SLOTS = 2

# Registry keys of the analytic cycle: a cut of bench.py's
# HEADLINE list sized so a whole run fits the benchmark's time budget
# (NOTES.md): shuffle aggregate, 4-way join and ranking window.
QUERY_KEYS = (
    "q_agg_group",
    "q_join_inner",
    "q_win_rank",
)

# Registry keys of the ingest cycle: a lossless CSV round trip through
# the batch sources/sinks and one AvailableNow streaming drain.
INGEST_KEYS = (
    "q_csv_roundtrip",
    "q_stream_bounded",
)

# Reference DAG replays (pipelines.*) run by the ingest cycle.
DAG_REPLAYS = (
    "etl_data_pipeline",
    "etl_data_pipeline_mongodb",
    "etl_data_pipeline_mongodb_complex",
)


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    keys: tuple[str, ...]
    replays: tuple[str, ...] = ()
    dag_rows: int = 0  # rows of the generated hw CSV

    @property
    def ops(self) -> tuple[str, ...]:
        return (*self.keys, *self.replays)

    def cycle_order(self, seed: int) -> list[str]:
        """The op order of every cycle in a run with ``seed``: a rotation
        of ``ops``. Every run thus executes the same cyclic sequence of
        ops and only the cycle boundary moves. A free permutation made
        cycle time depend on which op follows which (about 10 % between
        the two cyclic orders of QUERY_KEYS at sf0.001)."""
        k = random.Random(seed).randrange(len(self.ops))
        return [*self.ops[k:], *self.ops[:k]]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload("analytic", 0.03, QUERY_KEYS),
        Workload("ingest", 0.01, INGEST_KEYS, DAG_REPLAYS, dag_rows=2000),
    )
}
