#!/usr/bin/env python3
"""Interleaved A/B of the perfbench end-to-end metrics between two checkouts.

    python3 scripts/ab_bench.py --parent DIR --change DIR --workload point_joins --pairs 5

Each checkout is first copied into a scratch directory (`--work`, default a
new temporary directory, removed at exit), so neither checkout is written
to: perfbench/run.py keeps its inputs and Spark scratch under its own root.
Pair i runs `perfbench/run.py --workload W --seed i --seconds 10 --trace 0`
once on each side; the parent runs first in odd pairs and the change in
even pairs, so a drift of the host's speed over the session does not
favour one side. Prints every run's end-to-end metrics, then per side the
median of each metric and the change's median relative to the parent's.
Exits 1 if any run is incorrect, fails an operation or prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

SKIP = (".git", ".bench_work", ".bench_out", ".bench_build", "__pycache__",
        ".pytest_cache", "spark-warehouse")


def run_once(root: str, workload: str, seed: int) -> dict | None:
    """One untraced perfbench run in `root`: its final JSON line, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "10", "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-2000:])
        return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--work", help="scratch directory for the copies (kept)")
    args = ap.parse_args(argv)

    work = args.work or tempfile.mkdtemp(prefix="ab_bench_")
    roots = {}
    for side in ("parent", "change"):
        roots[side] = os.path.join(work, side)
        shutil.rmtree(roots[side], ignore_errors=True)
        shutil.copytree(getattr(args, side), roots[side],
                        ignore=shutil.ignore_patterns(*SKIP))

    results: dict = {"parent": [], "change": []}
    ok = True
    try:
        for seed in range(1, args.pairs + 1):
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            for side in order:
                r = run_once(roots[side], args.workload, seed)
                good = bool(r and r["correct"] and r["failed"] == 0)
                ok &= good
                metrics = {k: v["value"] for k, v in (r or {}).get("metrics", {}).items()}
                results[side].append(metrics)
                shown = "  ".join(f"{k}={v:.4g}" for k, v in sorted(metrics.items()))
                print(f"pair {seed} {side:6s} {'ok' if good else 'FAILED'}  {shown}",
                      flush=True)
    finally:
        if not args.work:
            shutil.rmtree(work, ignore_errors=True)

    names = sorted({k for runs in results.values() for m in runs for k in m})
    print(f"\n{args.workload}: medians over {args.pairs} pairs")
    for k in names:
        med = {s: statistics.median(m[k] for m in runs if k in m)
               for s, runs in results.items() if any(k in m for m in runs)}
        if len(med) < 2:
            continue
        rel = (med["change"] / med["parent"] - 1) * 100 if med["parent"] else float("nan")
        print(f"  {k:18s} parent {med['parent']:.4g}  change {med['change']:.4g}  "
              f"({rel:+.1f}%)")
    if not ok:
        print("error: some run was incorrect, failed an operation or gave no result",
              file=sys.stderr)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
