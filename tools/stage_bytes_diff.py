"""Diff two stage-bytes captures: the plan-regression instrument that
works through host noise (r14 verdict #4).

Wall-clock on this box swings up to 2x on identical code (virtio
bursts, cold-vs-warm page cache), so round-over-round timing tables
keep needing adjudication. Plan VOLUME does not swing: for a fixed SF
dir and a fixed plan, inputBytes / shuffleReadBytes /
shuffleWriteBytes and the stage count are deterministic up to
compression jitter. This tool compares a fresh tools/stage_bytes.py
capture against a committed baseline (e.g.
evidence/stage_bytes_sf10_top10_r14.json) and fails loudly on any
unexplained movement — a widened shuffle, a lost pushdown (inputBytes
up), an extra stage — while staying silent on wall_sec and
executorRunTime, which are host weather.

Usage (the capture reads the status store in-process; no keys means
every batch key but --skip):
    python tools/stage_bytes.py --sf .benchdata/sf10 --json /tmp/now.json [k1 k2 ...]
    python tools/stage_bytes_diff.py --baseline evidence/stage_bytes_sf10_top10_r14.json /tmp/now.json

Verdicts per key/metric: OK (within --tol), SMALL (absolute delta
under --abs-floor — sub-compression-block noise on tiny volumes),
MOVED (outside both). Stage-count changes are MOVED unless
--allow-stage-drift N covers them (AQE post-shuffle coalescing can
legitimately pick a different partition count when input stats sit
near a boundary). Exit 1 on any MOVED.
"""

from __future__ import annotations

import argparse
import json
import sys

BYTE_METRICS = ("inputBytes", "shuffleReadBytes", "shuffleWriteBytes")


def compare(
    base: dict,
    new: dict,
    tol: float = 0.05,
    abs_floor: int = 1 << 20,
    stage_drift: int = 0,
    expect_ratio: float = 1.0,
) -> list[dict]:
    """Return one finding per (key, metric) comparison. ``verdict`` is
    OK / SMALL / MOVED / MISSING (key absent from one side).

    ``expect_ratio`` turns the tool into a cross-SF linearity check:
    with a baseline at sf10 and a capture at sf100, ``expect_ratio=10``
    accepts byte metrics whose new/base ratio sits within ``tol`` of
    10x (RELATIVE: |ratio/expect - 1| <= tol) and still expects stage
    counts constant. A quadratic blow-up (100x on 10x data) is
    flagrantly MOVED; sub-linear readings are flagged too (a metric
    that stopped scaling usually means the key silently degenerated)."""
    findings: list[dict] = []
    b_res, n_res = base.get("results", base), new.get("results", new)
    for key in sorted(set(b_res) | set(n_res)):
        if key not in b_res or key not in n_res:
            findings.append({
                "key": key,
                "metric": "-",
                "verdict": "MISSING",
                "detail": "baseline" if key not in b_res else "new capture",
            })
            continue
        b, n = b_res[key], n_res[key]
        for m in BYTE_METRICS:
            bv, nv = b.get(m, 0), n.get(m, 0)
            delta = nv - bv * expect_ratio
            # 0 -> 0 is on-expectation at any ratio; 0 -> nonzero is inf
            ratio = (
                nv / bv if bv else (float("inf") if nv else expect_ratio)
            )
            if abs(ratio / expect_ratio - 1.0) <= tol:
                verdict = "OK"
            elif abs(delta) < abs_floor * max(expect_ratio, 1.0):
                verdict = "SMALL"
            else:
                verdict = "MOVED"
            findings.append({
                "key": key,
                "metric": m,
                "base": bv,
                "new": nv,
                "ratio": round(ratio, 4),
                "verdict": verdict,
            })
        bs, ns = b.get("n_stages", 0), n.get("n_stages", 0)
        findings.append({
            "key": key,
            "metric": "n_stages",
            "base": bs,
            "new": ns,
            "ratio": round(ns / bs, 4) if bs else None,
            "verdict": "OK" if abs(ns - bs) <= stage_drift else "MOVED",
        })
    return findings


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--baseline", required=True)
    ap.add_argument("new", help="fresh stage_bytes.py --json capture")
    ap.add_argument("--tol", type=float, default=0.05,
                    help="relative byte tolerance (compression jitter)")
    ap.add_argument("--abs-floor", type=int, default=1 << 20,
                    help="absolute deltas under this many bytes are "
                         "SMALL, never MOVED (tiny-volume noise)")
    ap.add_argument("--allow-stage-drift", type=int, default=0,
                    help="tolerated |n_stages| change per key (AQE "
                         "coalescing near a boundary)")
    ap.add_argument("--expect-ratio", type=float, default=1.0,
                    help="cross-SF linearity mode: expected new/base "
                         "byte ratio (e.g. 10 for an sf100 capture "
                         "against an sf10 baseline); pair with a "
                         "looser --tol (0.3 is typical — re-read "
                         "amplification under memory pressure is real)")
    args = ap.parse_args()

    with open(args.baseline) as f:
        base = json.load(f)
    with open(args.new) as f:
        new = json.load(f)

    findings = compare(
        base, new,
        tol=args.tol, abs_floor=args.abs_floor,
        stage_drift=args.allow_stage_drift,
        expect_ratio=args.expect_ratio,
    )
    moved = [f for f in findings if f["verdict"] in ("MOVED", "MISSING")]
    for f in findings:
        if f["verdict"] == "MISSING":
            print(f"{f['key']:24s} {'-':18s} MISSING from {f['detail']}")
            continue
        mark = {"OK": " ", "SMALL": "~", "MOVED": "!"}[f["verdict"]]
        print(
            f"{mark} {f['key']:24s} {f['metric']:18s} "
            f"{f['base']:>16,} -> {f['new']:>16,}  x{f['ratio']}"
            f"  {f['verdict']}"
        )
    n_keys = len({f["key"] for f in findings})
    print(f"\n# {n_keys} keys, {len(moved)} MOVED/MISSING "
          f"(tol {args.tol:.0%}, floor {args.abs_floor:,} B, "
          f"stage drift {args.allow_stage_drift})")
    return 1 if moved else 0


if __name__ == "__main__":
    raise SystemExit(main())
