"""Deterministic inputs for the benchmark.

Two kinds of input, kept apart on purpose:

* ``write_tables(sf_dir, sf)`` writes the ten catalog tables
  (region nation customer supplier part orders lineitem events
  documents embeddings), one Parquet file each, with the column names,
  types and value domains the registry keys expect. They come from a
  FIXED generator seed, never from ``--seed``: the expected row counts
  and checksums in ``expected.json`` are recorded against exactly these
  bytes.
* ``write_dag_csvs(out_dir, seed, rows)`` writes the CSV inputs of the
  three reference DAG replays from the run's ``--seed``, with seeded
  NULL cells, and returns the row counts each replay must report.

Only numpy, pandas and pyarrow are used, so generating costs no Spark
job and never shows up in a timed phase.
"""

from __future__ import annotations

import csv
import os

import numpy as np

# Bump when the generated bytes change; expected.json is keyed by it.
TABLES_VERSION = 1
TABLES_SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table; linear in ``sf`` like the TPC-H family,
    with the text/vector tables floored so tiny scales still carry
    near-duplicate and neighbour structure."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _frames(sf: float) -> dict:
    """pandas frames of every table (pandas is imported only here: runs
    that find the tables already written never load it)."""
    import pandas as pd  # noqa: PLC0415

    size = table_sizes(sf)

    def rng(name: str) -> np.random.Generator:
        return np.random.default_rng([TABLES_SEED, sum(map(ord, name))])

    out = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5}
    )

    n, r = size["customer"], rng("customer")
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": r.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, n),
            "c_mktsegment": r.choice(SEGMENTS, n),
        }
    )

    n, r = size["supplier"], rng("supplier")
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": r.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, n),
        }
    )

    n, r = size["part"], rng("part")
    keys = np.arange(n, dtype=np.int64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": keys,
            "p_name": np.char.add(
                np.char.add(r.choice(PART_ADJ, n), " "), r.choice(PART_NOUN, n)
            ),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
            "p_type": r.choice(PART_TYPES, n),
            "p_size": r.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
        }
    )

    n, r = size["orders"], rng("orders")
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": r.integers(0, size["customer"], n).astype(np.int64),
            "o_orderstatus": r.choice(["F", "O", "P"], n),
            "o_totalprice": _money(r, 1000.0, 500_000.0, n),
            "o_orderdate": _days(r, "1995-01-01", 2404, n),
            "o_orderpriority": r.choice(PRIORITIES, n),
        }
    )

    n, r = size["lineitem"], rng("lineitem")
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": r.integers(0, size["orders"], n).astype(np.int64),
            "l_partkey": r.integers(0, size["part"], n).astype(np.int64),
            "l_suppkey": r.integers(0, size["supplier"], n).astype(np.int64),
            "l_linenumber": r.integers(1, 8, n).astype(np.int32),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], n),
            "l_linestatus": r.choice(["F", "O"], n),
            "l_shipdate": _days(r, "1995-01-02", 2498, n),
        }
    )

    n, r = size["events"], rng("events")
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(r.integers(0, month_us, n)).astype(
        "timedelta64[us]"
    )
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": r.integers(0, max(15, int(15_000 * sf)), n).astype(np.int64),
            "event_type": r.choice(EVENT_TYPES, n),
            "value": np.round(r.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )

    n, r = size["documents"], rng("documents")
    texts = [" ".join(r.choice(VOCAB, k)) for k in r.integers(10, 101, n)]
    # Every 50th document is a one-word edit of an earlier one, so the
    # near-duplicate operators always have true pairs to find.
    for i in range(50, n, 50):
        words = texts[int(r.integers(0, i))].split()
        words[int(r.integers(0, len(words)))] = str(r.choice(VOCAB))
        texts[i] = " ".join(words)
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": r.choice(LANGS, n),
            "source": np.char.add("src", r.integers(0, 20, n).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    n, r = size["embeddings"], rng("embeddings")
    labels = r.integers(0, 10, n).astype(np.int32)
    centroids = r.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centroids[labels] + r.normal(0.0, 0.6, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs), "label": labels}
    )
    return out


def write_tables(sf_dir: str, sf: float) -> None:
    """Write every catalog table under ``sf_dir`` unless a complete set
    of this version is already there (generation is idempotent)."""
    stamp = os.path.join(sf_dir, f"_COMPLETE_v{TABLES_VERSION}")
    if os.path.exists(stamp):
        return
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    os.makedirs(sf_dir, exist_ok=True)
    for name, df in _frames(sf).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        tmp = os.path.join(sf_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(sf_dir, f"{name}.parquet"))
    with open(stamp, "w") as fh:
        fh.write(f"sf={sf}\n")


# ----------------------------------------------------------------------
# Reference DAG inputs (FIXTURES.md §1.2-1.4 shapes), seeded per run.
# ----------------------------------------------------------------------

HW_HEADER = ["Index", "Height(Inches)", "Weight(Pounds)"]
AIR_HEADER = ["Month", "1958", "1959", "1960"]
GRADES_HEADER = [
    "Last name", "First name", "SSN", "Test1", "Test2", "Test3", "Test4", "Final", "Grade",
]
NULL_SHARE = 0.05  # share of nullable cells left empty
MONTHS = "JAN FEB MAR APR MAY JUN JUL AUG SEP OCT NOV DEC".split()


def _cells(rng: np.random.Generator, values: list[str], nullable: bool) -> list[str]:
    if not nullable:
        return values
    holes = rng.random(len(values)) < NULL_SHARE
    return ["" if h else v for v, h in zip(values, holes)]


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def write_dag_csvs(out_dir: str, seed: int, rows: int) -> dict[str, object]:
    """Write hw / airtravel / grades CSVs for the three DAG replays and
    return their paths plus the counts each replay must report:

    * ``hw_complete``: hw rows with no empty cell (``dropna(how='any')``);
    * ``union_non_empty``: airtravel + grades rows with at least one
      non-empty cell (``dropna(how='all')`` after the ragged union).
    """
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)

    hw = []
    for i in range(rows):
        h, w = rng.normal(68.0, 2.0), rng.normal(127.0, 12.0)
        hw.append([str(i + 1), *_cells(rng, [f"{h:.2f}", f"{w:.2f}"], True)])
    hw_complete = sum(all(c != "" for c in r) for r in hw)

    n_air = max(12, rows // 16)
    air = []
    for i in range(n_air):
        nums = [str(int(rng.integers(300, 700))) for _ in range(3)]
        air.append(_cells(rng, [MONTHS[i % 12], *nums], True))
    n_grades = max(16, rows // 12)
    grades = []
    for i in range(n_grades):
        tests = [f"{rng.uniform(30, 100):.1f}" for _ in range(5)]
        ssn = f"{rng.integers(100, 999)}-{rng.integers(10, 99)}-{rng.integers(1000, 9999)}"
        row = [f"Last{i}", f"First{i}", ssn, *tests, str(rng.choice(["A", "B", "C", "D"]))]
        grades.append(_cells(rng, row, True))
    # A few rows with every cell empty: the "all" branch of dropna.
    for block in (air, grades):
        for _ in range(int(rng.integers(1, 4))):
            block.insert(int(rng.integers(0, len(block) + 1)), [""] * len(block[0]))
    union_non_empty = sum(any(c != "" for c in r) for r in air + grades)

    paths = {
        "hw": os.path.join(out_dir, "hw.csv"),
        "air": os.path.join(out_dir, "airtravel.csv"),
        "grades": os.path.join(out_dir, "grades.csv"),
    }
    _write_csv(paths["hw"], HW_HEADER, hw)
    _write_csv(paths["air"], AIR_HEADER, air)
    _write_csv(paths["grades"], GRADES_HEADER, grades)
    return {"paths": paths, "hw_complete": hw_complete, "union_non_empty": union_non_empty}
