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

With ``--trace`` it also runs one traced run per arm (``--trace 1``, at
seed ``TRACE_SEED``) and lists the per-layer counters of ``BENCHMARK.json``
whose values repeated exactly between the parent and the A/A arm, with
the change's value beside each, plus the files and bytes each commit
wrote (from ``.perfbench/runs/``).  Only a counter that repeats between
two runs of one tree is evidence of a plan change when the change moves
it; the others are listed as not repeating.  ``--pairs 0`` runs only
the traced arms.
"""

from __future__ import annotations

import argparse
import itertools
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"
ARMS = ("parent", "change", "aa")
RUN_TIMEOUT_S = 900  # one perfbench run: setup, the timed section, the final check
TRACE_SEED = 1  # the seed of the traced counters of record (`perfbench/run.py --trace 1 --seed 1`)


def run_once(tree: Path, workload: str, seed: int, trace: int = 0) -> dict:
    """One perfbench run in ``tree``: its result object, or
    ``{"error": ...}`` when the run failed or printed no result.  A
    traced run's result also carries ``commits``: the (files, bytes)
    each commit wrote, from the report the run saved."""
    try:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--trace", str(trace)],
            cwd=tree, capture_output=True, text=True, timeout=RUN_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = out.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"error": f"exit {out.returncode}: {out.stderr.strip()[-300:]}"}
    if trace:
        saved = tree / ".perfbench" / "runs" / f"{workload}-seed{seed}-trace1.json"
        report = json.loads(saved.read_text())
        result["commits"] = [[c["files_written"], c["data_b_written"]] for c in report["commits"]]
    return result


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


def num(x) -> str:
    """A counter's value: whole numbers exactly, others to 6 digits."""
    if x is None:
        return "-"
    return str(int(x)) if float(x).is_integer() else f"{x:.6g}"


def counters(traced: dict[str, dict], per_layer: list[dict]) -> list[str]:
    """The traced report: each per-layer counter that repeated exactly
    between the parent and the A/A arm, with the change's value, then
    the names of those that did not repeat."""
    bad = [a for a in ARMS if traced[a].get("error")]
    if bad:
        return [f"traced run failed: {a}: {traced[a]['error']}" for a in bad]
    out = [f"{'counter (repeats parent = A/A)':<36}{'parent':>16}{'change':>16}  change"]
    rows = [(m["name"], {a: value(traced[a], m["name"]) for a in ARMS}) for m in per_layer]
    rows.append(("commits [files, bytes]", {a: traced[a].get("commits") for a in ARMS}))
    other = []
    for name, v in rows:
        if v["parent"] is None or v["parent"] != v["aa"]:
            other.append(name)
            continue
        if isinstance(v["parent"], list):  # one line per commit
            for i, (p, c) in enumerate(itertools.zip_longest(v["parent"], v["change"])):
                same = "same" if p == c else "MOVED"
                out.append(f"{f'{name} #{i}':<36}{str(p):>16}{str(c):>16}  {same}")
            continue
        same = "same" if v["parent"] == v["change"] else "MOVED"
        out.append(f"{name:<36}{num(v['parent']):>16}{num(v['change']):>16}  {same}")
    out.append("not repeating between parent and A/A (no evidence either way): "
               + (", ".join(other) or "none"))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir", type=Path)
    ap.add_argument("change_dir", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10, help="number of triplets")
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first triplet")
    ap.add_argument("--trace", action="store_true", help="also one traced run per arm")
    args = ap.parse_args(argv)

    trees = {"parent": args.parent_dir, "change": args.change_dir, "aa": args.parent_dir}
    bench = json.loads(BENCHMARK.read_text())
    metrics = bench["end_to_end"]
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
    if args.pairs:
        print(f"workload {args.workload}, {args.pairs} triplets, seeds "
              f"{args.seed}-{args.seed + args.pairs - 1}")
        print("\n".join(table(runs, metrics)))
    if args.trace:
        traced = {}
        for a in ARMS:
            traced[a] = run_once(trees[a].resolve(), args.workload, TRACE_SEED, trace=1)
            print(f"traced {a}: {traced[a].get('error') or 'ok'}", file=sys.stderr, flush=True)
        print(f"workload {args.workload}, traced, seed {TRACE_SEED}")
        print("\n".join(counters(traced, bench["per_layer"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
