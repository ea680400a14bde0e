#!/usr/bin/env python3
"""Interleaved A/B of two git revisions on one perfbench workload.

    python3 scripts/ab.py --base main~1 --change main \\
        --workload pipeline_etl --seeds 1301-1310 --seconds 5 --trace 0

Exports each revision's committed files into its own directory (`git
archive`, so uncommitted edits never leak in), then runs
`perfbench/run.py` once per seed on each side. The sides alternate
which runs first from one seed to the next, so a drift in the machine's
load falls on both. Every run is a fresh process and writes only under
its own export.

For each end-to-end metric of `BENCHMARK.json` (per-layer ones with
`--trace 1`) it prints both sides' median and quartiles, and in how
many seeds the change was better, as `wins/pairs`. A side's failed or
incorrect run is reported and left out of its pair. The exports live in
a temporary directory that is removed when the run ends.

Commit the change first, or pass a commit of the work tree made with
`git add -A && git stash create`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def _export(rev: str, dest: str) -> str:
    """Write `rev`'s committed tree into `dest`; return its short sha."""
    sha = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--short", rev],
        check=True, capture_output=True, text=True).stdout.strip()
    os.makedirs(dest)
    arch = subprocess.Popen(["git", "-C", ROOT, "archive", sha],
                            stdout=subprocess.PIPE)
    with tarfile.open(fileobj=arch.stdout, mode="r|") as tar:
        tar.extractall(dest, filter="data")
    if arch.wait():
        raise SystemExit(f"ab: git archive {rev} failed")
    return sha


def _run(tree: str, args, seed: int) -> dict | None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = None
    if p.returncode or res is None or not res.get("correct"):
        print(f"  run failed: {tree} seed {seed} (exit {p.returncode}): "
              f"{(p.stderr.strip().splitlines() or [''])[-1][:200]}",
              file=sys.stderr)
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(specs: list[dict], runs: dict, names: dict) -> None:
    base, change = names["base"], names["change"]
    print(f"{'metric':<28} {'base ' + base:>28} {'change ' + change:>28}"
          f" {'wins':>6}")
    for spec in specs:
        m, lower = spec["name"], spec["better"] == "lower"
        pairs = [(a[m], b[m]) for a, b in zip(runs["base"], runs["change"])
                 if a and b and m in a and m in b]
        if not pairs:
            continue
        cells = []
        for side in (0, 1):
            q1, q2, q3 = _quartiles([p[side] for p in pairs])
            cells.append(f"{q2:.4g} [{q1:.4g}, {q3:.4g}]")
        wins = sum((b < a) if lower else (b > a) for a, b in pairs)
        print(f"{m:<28} {cells[0]:>28} {cells[1]:>28}"
              f" {wins:>3}/{len(pairs):<2}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision A")
    ap.add_argument("--change", required=True, help="git revision B")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1301-1310 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = bench["per_layer" if args.trace else "end_to_end"]
    trees, names = {}, {}
    runs: dict = {"base": [], "change": []}
    with tempfile.TemporaryDirectory(prefix="ab-") as work:
        for side in ("base", "change"):
            trees[side] = os.path.join(work, side)
            names[side] = _export(getattr(args, side), trees[side])
        for i, seed in enumerate(_seeds(args.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                runs[side].append(_run(trees[side], args, seed))
            print(f"seed {seed}: {' then '.join(order)} done",
                  file=sys.stderr)
    report(specs, runs, names)
    return 0


if __name__ == "__main__":
    sys.exit(main())
