"""Interleaved A/B of two trees on one perfbench workload, with an A/A control.

Usage (from the repository root)::

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload trickle_mor --pairs 10

Runs ``--pairs`` triplets of untraced ``perfbench/run.py`` runs, each
at perfbench's own run length: the
parent, the change, and the parent again (the A/A arm).  Each triplet
uses a fresh seed, shared by its three runs, and the arms' order
rotates from one triplet to the next, so no arm always runs first or
last.  ``perfbench/run.py`` runs unchanged inside each tree; its last
stdout line is the result.

For each end-to-end metric of ``BENCHMARK.json`` it prints the median
and interquartile range of each arm, how many triplets the change won
against the parent, how many the A/A arm won, and the A/A drift (its
median against the parent's).  A verdict is printed only where the
change won at least 8 in 10 triplets (or lost as many) and its median
gap to the parent is larger than the A/A arm's: on a host that swings
between identical runs, a gap no larger than the A/A gap is host drift.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
ARMS = ("parent", "change", "aa")
RUN_TIMEOUT_S = 900  # one perfbench run: setup, the timed section, the final check


def run_once(tree: Path, workload: str, seed: int) -> dict:
    """One untraced perfbench run in ``tree``: its result object, or
    ``{"error": ...}`` when the run failed or printed no result."""
    try:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--trace", "0"],
            cwd=tree, capture_output=True, text=True, timeout=RUN_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = out.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"error": f"exit {out.returncode}: {out.stderr.strip()[-300:]}"}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def value(run: dict, name: str):
    """One metric of one run's result, or None when the run has none."""
    return run.get("metrics", {}).get(name, {}).get("value")


def table(runs: list[dict], metrics: list[dict]) -> list[str]:
    """The report: one row per metric over the triplets where all three
    arms produced a value."""
    n = len(runs)
    out = [
        f"{'metric':<22}{'parent med [q1-q3]':>30}{'change med [q1-q3]':>30}"
        f"{'A/A med [q1-q3]':>30}{'change wins':>13}{'A/A wins':>10}{'A/A drift':>11}"
        f"{'A/B gap':>9}  verdict"
    ]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = [
            {a: value(r[a], name) for a in ARMS}
            for r in runs
            if all(value(r[a], name) is not None for a in ARMS)
        ]
        if not vals:
            out.append(f"{name:<22}  no values")
            continue
        arm = {a: quartiles([v[a] for v in vals]) for a in ARMS}

        def beats(x, y):
            return x < y if lower else x > y

        wins = sum(beats(v["change"], v["parent"]) for v in vals)
        aa_wins = sum(beats(v["aa"], v["parent"]) for v in vals)
        base = arm["parent"][1]
        gap = (arm["change"][1] - base) / base if base else 0.0
        drift = (arm["aa"][1] - base) / base if base else 0.0
        verdict = "-"
        if abs(gap) > abs(drift):
            if wins >= 0.8 * len(vals):
                verdict = "change better"
            elif wins <= 0.2 * len(vals):
                verdict = "change worse"
        cells = "".join(
            f"{f'{arm[a][1]:.4g} [{arm[a][0]:.4g}-{arm[a][2]:.4g}]':>30}" for a in ARMS
        )
        out.append(
            f"{name:<22}{cells}{f'{wins}/{len(vals)}':>13}{f'{aa_wins}/{len(vals)}':>10}"
            f"{drift:>+11.1%}{gap:>+9.1%}  {verdict}"
        )
    bad = [
        (i, a, r[a].get("error") or f"correct={r[a].get('correct')} failed={r[a].get('failed')}")
        for i, r in enumerate(runs) for a in ARMS
        if r[a].get("error") or not r[a].get("correct") or r[a].get("failed")
    ]
    out.append(f"{n} triplets; runs failed or incorrect: {len(bad)}")
    out += [f"  triplet {i} {a}: {why}" for i, a, why in bad]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir", type=Path)
    ap.add_argument("change_dir", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10, help="number of triplets")
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first triplet")
    args = ap.parse_args(argv)

    trees = {"parent": args.parent_dir, "change": args.change_dir, "aa": args.parent_dir}
    metrics = json.loads(BENCHMARK.read_text())["end_to_end"]
    runs = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = ARMS[i % 3:] + ARMS[:i % 3]
        got = {}
        for a in order:
            got[a] = run_once(trees[a].resolve(), args.workload, seed)
            print(f"triplet {i} seed {seed} {a}: commit_p50_s "
                  f"{got[a].get('error') or value(got[a], 'commit_p50_s')}",
                  file=sys.stderr, flush=True)
        runs.append(got)
    print(f"workload {args.workload}, {args.pairs} triplets, seeds "
          f"{args.seed}-{args.seed + args.pairs - 1}")
    print("\n".join(table(runs, metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
