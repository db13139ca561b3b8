#!/usr/bin/env python3
"""Interleaved end-to-end A/B of two checkouts on one perfbench workload.

Usage:
    python3 tools/perf_ab.py <parent_dir> <change_dir> --workload W \
        --seeds A-B [--seconds 12]

For each seed in A..B it runs `python3 perfbench/run.py --workload W
--seed N --seconds S --trace 0` once in each checkout, back to back, and
flips which checkout goes first on every seed, so a drift of the host's
speed during the batch falls on both sides alike. Each run builds from
its own checkout's sources (perfbench/build.py).

It prints one line per run as it goes, then per end-to-end metric: the
median and IQR (inter-quartile range, q3 - q1) of each side, the change
of the medians, and in how many seed pairs the change was better. The
direction of "better" comes from the change checkout's BENCHMARK.json.
A claimed gain should win at least 9 of 10 pairs, and its medians should
differ by more than the parent's IQR. A run that exits non-zero, or
reports `correct: false` or failed operations, is listed and counted.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(checkout: Path, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}: {p.stderr.strip()[-300:]}"}
    res = json.loads(lines[-1])
    return {"correct": res.get("correct"), "attempted": res.get("attempted"),
            "failed": res.get("failed"),
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("parent_dir", type=Path)
    ap.add_argument("change_dir", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--seconds", type=int, default=12)
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    bench = json.loads((a.change_dir / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}

    sides = {"parent": a.parent_dir.resolve(), "change": a.change_dir.resolve()}
    runs = {"parent": {}, "change": {}}
    for i, seed in enumerate(range(lo, hi + 1)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(sides[side], a.workload, seed, a.seconds)
            runs[side][seed] = r
            shown = r.get("error") or " ".join(
                f"{k}={v:.4g}" for k, v in sorted(r["metrics"].items()))
            print(f"[{a.workload} seed {seed}] {side}: {shown}", flush=True)

    bad = [(side, seed, r) for side in runs for seed, r in runs[side].items()
           if "error" in r or r["correct"] is False or r["failed"]]
    for side, seed, r in bad:
        print(f"BAD RUN {side} seed {seed}: "
              f"{r.get('error') or {k: r[k] for k in ('correct', 'attempted', 'failed')}}")

    seeds = [s for s in range(lo, hi + 1)
             if "error" not in runs["parent"][s] and "error" not in runs["change"][s]]
    print(f"\n== {a.workload}: {len(seeds)} complete pairs ==")
    print(f"{'metric':28} {'parent med':>11} {'IQR':>9} {'change med':>11} "
          f"{'IQR':>9} {'change':>8} {'wins':>6}")
    for name, direction in better.items():
        pv = [runs["parent"][s]["metrics"][name] for s in seeds
              if name in runs["parent"][s]["metrics"]]
        cv = [runs["change"][s]["metrics"][name] for s in seeds
              if name in runs["change"][s]["metrics"]]
        if not pv or not cv or len(pv) != len(cv):
            continue
        pm, cm = statistics.median(pv), statistics.median(cv)
        pq, cq = quartiles(pv), quartiles(cv)
        sign = 1 if direction == "higher" else -1
        wins = sum(1 for p, c in zip(pv, cv) if sign * (c - p) > 0)
        rel = (cm - pm) / pm * 100 if pm else float("nan")
        print(f"{name:28} {pm:11.4g} {pq[1] - pq[0]:9.3g} {cm:11.4g} "
              f"{cq[1] - cq[0]:9.3g} {rel:+7.1f}% {wins:>3}/{len(pv)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
