"""Interleaved A/B of one command: a base revision against the working tree.

    python scripts/ab.py --base <rev> [--pairs N] [--metric <json.path> [--higher]] -- <cmd ...>

The base revision is exported with ``git archive`` into a temporary
directory, so nothing is registered in the repository's ``.git`` and an
interrupted run leaves no stale worktree behind.  ``cmd`` then runs as a
subprocess alternately there and in the working tree, with the tree as its
cwd and on its PYTHONPATH.  The side that runs first swaps every pair, so
slow drift of a shared host does not favour one side (the
alternating-subprocess protocol of BENCH/AB_FULLFORMAT_R6.md).

A sample is the command's wall time in seconds or, with ``--metric``, a
number read from the last JSON object the command prints to stdout
(``--metric timing.s`` reads ``{"timing": {"s": ...}}``); lower is better,
or higher with ``--higher`` (a throughput such as pages/s).
The script prints every pair, each side's median and quartiles, and how
many pairs the working tree won.
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
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _sample(cmd: list[str], tree: Path, metric: str | None) -> float:
    env = dict(os.environ, PYTHONPATH=str(tree))
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"command failed in {tree} (exit {proc.returncode})")
    if metric is None:
        return wall
    for line in reversed(proc.stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            value = json.loads(line)
            for key in metric.split("."):
                value = value[key]
            return float(value)
    raise SystemExit(f"no JSON object on stdout of the command in {tree}")


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--metric", default=None, help="dotted path into the last JSON line")
    ap.add_argument("--higher", action="store_true", help="a higher metric is better")
    ap.add_argument("cmd", nargs=argparse.REMAINDER, help="-- command to run")
    args = ap.parse_args(argv)
    cmd = args.cmd[1:] if args.cmd[:1] == ["--"] else args.cmd
    if not cmd:
        ap.error("give the command after --")

    rev = subprocess.run(
        ["git", "rev-parse", "--short", args.base],
        cwd=REPO, check=True, capture_output=True, text=True,
    ).stdout.strip()
    base_tree = Path(tempfile.mkdtemp(prefix=f"ab-{rev}-")) / "tree"
    base_tree.mkdir()
    archive = subprocess.run(
        ["git", "archive", rev], cwd=REPO, check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", str(base_tree)], input=archive, check=True)
    trees = {"base": base_tree, "head": REPO}
    samples: dict[str, list[float]] = {"base": [], "head": []}
    wins = 0
    try:
        print(f"base {rev}  vs  working tree   cmd: {' '.join(cmd)}", flush=True)
        for i in range(args.pairs):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            got = {side: _sample(cmd, trees[side], args.metric) for side in order}
            for side in order:
                samples[side].append(got[side])
            won = got["head"] > got["base"] if args.higher else got["head"] < got["base"]
            gain = got["head"] / got["base"] if args.higher else got["base"] / got["head"]
            wins += won
            print(
                f"pair {i + 1:2d} ({order[0]} first): base {got['base']:.4f}  "
                f"head {got['head']:.4f}  speedup {gain:.3f}"
                f"{'  head won' if won else ''}",
                flush=True,
            )
    finally:
        shutil.rmtree(base_tree.parent, ignore_errors=True)

    n = len(samples["head"])
    for side in ("base", "head"):
        q1, med, q3 = _quartiles(samples[side])
        print(f"{side}: median {med:.4f}  q1 {q1:.4f}  q3 {q3:.4f}  (n={n})")
    base_med, head_med = statistics.median(samples["base"]), statistics.median(samples["head"])
    speedup = head_med / base_med if args.higher else base_med / head_med
    print(f"median speedup of head: {speedup:.3f}x   head won {wins} of {n} pairs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
