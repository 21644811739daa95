"""Check that the counts the benchmark reports repeat exactly.

Usage (from the repository root)::

    python3 perfbench/selfcheck.py --workload trickle_cow --seed 1 --other-seed 2

Runs the traced benchmark twice with ``--seed`` and once with
``--other-seed``.  The two same-seed runs must agree exactly on the
Spark jobs, stages and tasks of every call, the files and bytes every
commit and compaction wrote, and ``bytes_per_live_row``.  The other
seed must apply a different event stream of the same shape: the same
sequence of calls, with different bytes.  Exits 1 when either fails.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def traced_report(workload: str, seed: int, seconds: int) -> dict:
    """Run the traced benchmark once; return its saved report, spans included."""
    subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        check=True, capture_output=True,
    )
    saved = RUN.parent.parent / ".perfbench" / "runs" / f"{workload}-seed{seed}-trace1.json"
    return json.loads(saved.read_text())


def fingerprint(rep: dict) -> dict:
    return {
        "calls": [
            (s["name"], s.get("jobs"), s.get("stages"), s.get("tasks"))
            for s in rep["spans"] if s["name"] != "commit"
        ],
        "commits": [(c["files_written"], c["data_b_written"]) for c in rep["commits"]],
        "compacts": [(c["files_written"], c["data_b_written"]) for c in rep["compacts"]],
        "bytes_per_live_row": rep["end_to_end"]["bytes_per_live_row"]["value"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--other-seed", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args(argv)

    a, b, c = (
        fingerprint(traced_report(args.workload, s, args.seconds))
        for s in (args.seed, args.seed, args.other_seed)
    )
    ok = True
    for key in a:
        if a[key] != b[key]:
            ok = False
            print(f"seed {args.seed}: {key} differs between two runs")
            if isinstance(a[key], list):
                for i, (x, y) in enumerate(zip(a[key], b[key])):
                    if x != y:
                        print(f"  #{i}: {x} != {y}")
            else:
                print(f"  {a[key]} != {b[key]}")
    same_shape = [n for n, *_ in a["calls"]] == [n for n, *_ in c["calls"]]
    different = a["commits"] != c["commits"] or a["bytes_per_live_row"] != c["bytes_per_live_row"]
    if not (same_shape and different):
        ok = False
        print(f"seed {args.other_seed}: same call sequence {same_shape}, different bytes {different}")
    print("exact-repeat self-check:", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
