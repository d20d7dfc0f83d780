"""Paired A/B benchmark of two trees of this repo with perfbench.

    python3 scripts/ab_pairs.py --parent HEAD --pairs 10
    python3 scripts/ab_pairs.py --parent main --workload sparse_tail

Run from the repo root. ``--parent`` names the baseline's git revision;
the change is the working tree (tracked and staged files, via
``git stash create``). Each side is unpacked with ``git archive`` into its
own temp directory, so both run from committed-style checkouts with fresh
``.bench_*`` directories.

For every workload, pair ``i`` (from 1) runs both sides on seed ``i``, one
after the other, and the side that runs first alternates strictly: odd
pairs run the parent first, even pairs the change. Each run is
``perfbench/run.py --workload W --seed N --seconds S --trace 0`` with ``S``
the ``run_seconds`` of ``BENCHMARK.json``; the last JSON line of its
stdout is the result.

Printed per end-to-end metric of ``BENCHMARK.json``: the parent's median
and inter-quartile range, the change's median, the change/parent ratio,
the pairs the change won, the medians of the parent-first and of the
change-first pairs (run order biases a pair by a few percent), and whether
the change stays within the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

SIDES = ("parent", "change")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def _unpack(rev: str, dest: str) -> None:
    os.makedirs(dest)
    archive = dest + ".tar"
    with open(archive, "wb") as fh:
        subprocess.run(["git", "archive", "--format=tar", rev], check=True, stdout=fh)
    with tarfile.open(archive) as tar:
        tar.extractall(dest, filter="data")
    os.remove(archive)


def _run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} in {tree}: no result line "
                           f"(exit {proc.returncode})")
    out = json.loads(lines[-1])
    return {
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: v["value"] for k, v in out["metrics"].items()},
    }


def _better(spec: dict, change: float, parent: float) -> bool:
    return change < parent if spec["better"] == "lower" else change > parent


def _worse_share(spec: dict, change: float, parent: float) -> float:
    """How much worse the change is than the parent, as a share of the
    parent (negative when it is better)."""
    d = (change - parent) / parent if parent else 0.0
    return d if spec["better"] == "lower" else -d


def report(workload: str, pairs: list[dict], specs: list[dict]) -> bool:
    """Print one workload's table; True when every metric stays within
    its bound and no operation failed."""
    n = len(pairs)
    ok = True
    print(f"{workload}: {n} pairs (odd pairs parent first)")
    for spec in specs:
        name = spec["name"]
        par = [p["parent"]["metrics"][name] for p in pairs]
        chg = [p["change"]["metrics"][name] for p in pairs]
        mp, mc = statistics.median(par), statistics.median(chg)
        q1, _, q3 = statistics.quantiles(par, n=4) if n >= 2 else (mp, mp, mp)
        wins = sum(_better(spec, c, p) for p, c in zip(par, chg))
        by_first = {}
        for first in SIDES:
            idx = [i for i, p in enumerate(pairs) if p["first"] == first]
            by_first[first] = (
                statistics.median(par[i] for i in idx) if idx else float("nan"),
                statistics.median(chg[i] for i in idx) if idx else float("nan"),
            )
        worse = _worse_share(spec, mc, mp)
        within = worse <= spec["bound"]
        ok &= within
        print(
            f"  {name:22s} parent {mp:10.4g} [{q1:.4g}, {q3:.4g}]  change {mc:10.4g}"
            f"  ratio {mc / mp if mp else float('nan'):6.3f}  change better {wins}/{n}"
            f"  parent-first {by_first['parent'][0]:.4g}/{by_first['parent'][1]:.4g}"
            f"  change-first {by_first['change'][0]:.4g}/{by_first['change'][1]:.4g}"
            f"  {'within' if within else 'OUTSIDE'} bound {spec['bound']:.2f}"
        )
    for side in SIDES:
        failed = sum(p[side]["failed"] for p in pairs)
        attempted = sum(p[side]["attempted"] for p in pairs)
        ok &= failed == 0 and all(p[side]["correct"] for p in pairs)
        print(f"  {side} failed ops {failed}/{attempted}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--parent", default="HEAD", help="git revision of the baseline")
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all in BENCHMARK.json)")
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    specs = bench["end_to_end"]
    seconds = bench["run_seconds"]
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    revs = {"parent": _git("rev-parse", args.parent),
            "change": _git("stash", "create") or _git("rev-parse", "HEAD")}

    base = tempfile.mkdtemp(prefix="ab_pairs-")
    ok = True
    try:
        trees = {side: os.path.join(base, side) for side in SIDES}
        for side in SIDES:
            _unpack(revs[side], trees[side])
        for workload in workloads:
            pairs = []
            for seed in range(1, args.pairs + 1):
                order = SIDES if seed % 2 else SIDES[::-1]
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    pair[side] = _run(trees[side], workload, seed, seconds)
                    print(f"{workload} seed {seed} {side}: {pair[side]['metrics']}",
                          file=sys.stderr, flush=True)
                pairs.append(pair)
            ok &= report(workload, pairs, specs)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
