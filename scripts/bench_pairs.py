"""Alternating before/after pairs of one benchmark workload.

  python3 scripts/bench_pairs.py --parent REV --workload serve \\
      --seeds 1-10,13 [--trace 0]

Compares the working tree this script sits in (the change) with revision
REV (the parent), checked out into a temporary `git worktree` that is
removed when the script ends. Each side first makes one untimed run,
which fills its perfbench input cache and is reported as discarded. Then
every seed runs once per side, alternating: odd seeds run the parent
first, even seeds the change first, so drift in the machine's load falls
on both sides alike. Every run has perfbench's own run length.

For each metric BENCHMARK.json names (the end-to-end metrics with
--trace 0, the per-layer ones with --trace 1) it prints the per-seed
values, each side's median and quartiles, and how many pairs the change
won (strictly better in the metric's direction). Every run's correct and
failed counts are printed too. The last stdout line is one JSON object
with the same figures.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    """'1-10,13' -> [1, ..., 10, 13]."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.strip().partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_side(checkout: str, workload: str, seed: int, trace: int) -> dict:
    """One perfbench run in `checkout`; its parsed result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise RuntimeError(f"{' '.join(cmd)} in {checkout} exited "
                           f"{p.returncode}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metrics: list[dict], seeds: list[int],
              runs: dict[str, dict[int, dict]]) -> dict:
    out = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = {side: [runs[side][s]["metrics"][name]["value"]
                       for s in seeds] for side in ("parent", "change")}
        wins = sum((c < p) if lower else (c > p)
                   for p, c in zip(vals["parent"], vals["change"]))
        out[name] = {"better": m["better"], **vals, "wins": wins,
                     "parent_q": quartiles(vals["parent"]),
                     "change_q": quartiles(vals["change"])}
    return out


def report(summary: dict, seeds: list[int]) -> None:
    for name, s in summary.items():
        print(f"\n{name} ({s['better']} is better)")
        for seed, p, c in zip(seeds, s["parent"], s["change"]):
            won = (c < p) if s["better"] == "lower" else (c > p)
            print(f"  seed {seed:>3}: {p:12.4f} -> {c:12.4f}"
                  f"{'  win' if won else ''}")
        for side in ("parent", "change"):
            q1, med, q3 = s[f"{side}_q"]
            print(f"  {side:>6} median {med:.4f} (IQR {q1:.4f}-{q3:.4f})")
        print(f"  change won {s['wins']}/{len(seeds)} pairs")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True,
                    help="git revision to compare the working tree with")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10,13")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    seeds = parse_seeds(args.seeds)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end" if args.trace == 0 else "per_layer"]

    tmp = tempfile.mkdtemp(prefix="bench-pairs-")
    parent_dir = os.path.join(tmp, "parent")
    subprocess.run(["git", "worktree", "add", "--detach", parent_dir,
                    args.parent], cwd=ROOT, check=True,
                   stdout=subprocess.DEVNULL)
    sides = {"parent": parent_dir, "change": ROOT}
    runs: dict[str, dict[int, dict]] = {"parent": {}, "change": {}}
    try:
        for side, checkout in sides.items():
            r = run_side(checkout, args.workload, seeds[0], args.trace)
            print(f"discarded cache-filling run: {side} seed {seeds[0]} "
                  f"correct={r['correct']} failed={r['failed']}",
                  flush=True)
        for seed in seeds:
            order = (["parent", "change"] if seed % 2
                     else ["change", "parent"])
            for side in order:
                r = run_side(sides[side], args.workload, seed, args.trace)
                runs[side][seed] = r
                print(f"seed {seed} {side}: correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']}",
                      flush=True)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", parent_dir],
                       cwd=ROOT, check=False)
        shutil.rmtree(tmp, ignore_errors=True)

    summary = summarize(metrics, seeds, runs)
    report(summary, seeds)
    print(json.dumps({
        "parent": args.parent, "workload": args.workload, "seeds": seeds,
        "trace": args.trace,
        "failed": {side: sum(r["failed"] for r in runs[side].values())
                   for side in runs},
        "metrics": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
