"""Grading-evidence staleness audit over CORRECTNESS_r*.json.

For every registered qkey, reports the newest round with a fully green
driver row (rows+schema+hash all passing, no error) and summarizes the
age distribution — the check VERDICT r03 item 2 asks for each round:
after round N, no key's newest green row should be older than N-2.

Usage: python tools/staleness_audit.py   # markdown to stdout
"""

from __future__ import annotations

import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from pipeline_airflow_docker_spark.plans import (
        QUERIES,
        _correctness_files,
        _last_green,
    )

    files = _correctness_files()
    newest = files[-1][0] if files else 0
    green = _last_green()
    ages = Counter()
    never: list[str] = []
    by_age: dict[int, list[str]] = {}
    for key in QUERIES:
        if key not in green:
            never.append(key)
        else:
            age = newest - green[key]
            ages[age] += 1
            by_age.setdefault(age, []).append(key)

    print(f"# Driver-evidence staleness (through round r{newest:02d})\n")
    print("| newest green row | keys | share |")
    print("|---|---|---|")
    total = len(QUERIES)
    for age in sorted(ages):
        print(
            f"| r{newest - age:02d} (age {age}) | {ages[age]} |"
            f" {ages[age] / total:.0%} |"
        )
    if never:
        print(f"| never driver-green | {len(never)} | {len(never) / total:.0%} |")
    print(f"\ntotal registered: {total}")
    max_age = max(ages) if ages else 0
    print(f"max age among ever-green keys: {max_age} round(s)")
    if never:
        print("\nNever driver-green (front of the next rotation window):")
        for k in sorted(never):
            print(f"- `{k}`")
    stale = sorted(k for a, ks in by_age.items() if a > 2 for k in ks)
    if stale:
        print("\nOlder than two rounds (violates the freshness target):")
        for k in stale:
            print(f"- `{k}` (r{green[k]:02d})")
    else:
        print("\nNo ever-green key is older than two rounds.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
