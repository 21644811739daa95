"""Scaling-efficiency evidence: the same CDC replay at N and 4N cores.

The north rule requires throughput scaling efficiency >= 0.8 from N to 4N
executors (BASELINE.json:14).  No multi-node cluster exists in this
sandbox, so the sanctioned proxy (BENCH/BASELINE.md) is the identical job at
``local[8]`` vs ``local[32]`` over the same staged parquet input, each in
a fresh JVM.  Efficiency = rate(4N) / (4 * rate(N)).

Input sizing matters: fixed per-job overhead (planning, codegen, commit)
is ~10 s regardless of cores, so the event count must be large enough that
parallel work dominates — exactly as on a real cluster, where a 10^10-event
replay amortizes job overhead to nothing.  Default 64M events (~20 GB).
Shuffle/lake dirs live on /dev/shm so the measurement varies parallelism,
not disk.

Trials: this VM shows ±45% tenancy noise at local[32] (BENCH/BASELINE.md),
so each core count runs ``trials`` times (default 5) in INTERLEAVED order
(8,32,8,32,... so a noise burst hits both sides equally), each in a fresh
JVM (a heavy first job poisons later timings in the same JVM).  Efficiency
is reported on the MEDIANS, with min/max spread per side.

Usage: python tools/scaling_bench.py [n_events] [trials] — raw result
goes to BENCH/last_run.json; curate BENCH/BASELINE.md by hand from it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_RUNNER = """
import atexit, json, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from rocket_etl_spark.session import build_session
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch

cores = int(sys.argv[1]); in_dir = sys.argv[2]
spark = build_session(app_name=f"scaling-{{cores}}", master=f"local[{{cores}}]",
                      extra_conf={{"spark.local.dir": "/dev/shm/spark-local"}})
spark.sparkContext.setLogLevel("ERROR")
events = spark.read.parquet(in_dir)
# tmpfs lake dir MUST be reclaimed even on crash: a 32M-event replay
# leaves a ~9 GB table — 25 leaked trials filled /dev/shm and made every
# later JVM fail to start (observed in round 4)
lake_dir = tempfile.mkdtemp(prefix="scaling-lake-", dir="/dev/shm")
atexit.register(shutil.rmtree, lake_dir, True)
table = create_repo_files_table(spark, lake_dir + "/t", num_buckets=2 * cores)
n = int(sys.argv[3])
t0 = time.monotonic()
replay_batch(table, events, epoch_id=0)
dt = time.monotonic() - t0
print(json.dumps({{"cores": cores, "events": n, "wall_s": round(dt, 2),
                   "events_per_sec": round(n / dt)}}))
spark.stop()
"""


def run(cores: int, in_dir: str, n_events: int, retries: int = 1) -> dict | None:
    """One fresh-JVM replay trial.  A crashed/empty subprocess (host OOM
    burst, JVM abort) is retried once, then skipped with its stderr tail
    printed — a 25-minute protocol must never die on one lost trial."""
    script = _RUNNER.format(repo=str(REPO))
    for attempt in range(retries + 1):
        out = subprocess.run(
            [sys.executable, "-c", script, str(cores), in_dir, str(n_events)],
            capture_output=True, text=True, env={**os.environ, "PYTHONPATH": str(REPO)},
            timeout=1800,
        )
        lines = out.stdout.strip().splitlines()
        if lines:
            try:
                return json.loads(lines[-1])
            except json.JSONDecodeError:
                pass
        print(
            json.dumps({
                "cores": cores, "failed_attempt": attempt + 1, "rc": out.returncode,
                "stderr_tail": out.stderr.strip().splitlines()[-3:],
            }),
            flush=True,
        )
    return None


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 64_000_000
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    # stage identical input once
    gen = f"""
import sys, json
sys.path.insert(0, {str(REPO)!r})
from rocket_etl_spark.session import build_session
from rocket_etl_spark.generate import change_events
spark = build_session(app_name="scaling-gen", master="local[32]")
spark.sparkContext.setLogLevel("ERROR")
change_events(spark, {n_events}, n_repos=2000, paths_per_repo=4000, delete_frac=0.05,
              max_content_blocks=4, num_partitions=256).write.mode("overwrite").parquet(sys.argv[1])
spark.stop()
"""
    in_dir = tempfile.mkdtemp(prefix="scaling-events-", dir="/dev/shm")
    import atexit
    import shutil

    atexit.register(shutil.rmtree, in_dir, True)  # crash-safe tmpfs reclaim
    subprocess.run(
        [sys.executable, "-c", gen, in_dir],
        check=True, capture_output=True, text=True,
        env={**os.environ, "PYTHONPATH": str(REPO)}, timeout=1800,
    )

    import statistics

    runs: dict[int, list[dict]] = {8: [], 32: []}
    for t in range(trials):
        for cores in (8, 32):  # interleaved: noise bursts hit both sides
            r = run(cores, in_dir, n_events)
            if r is None:  # skipped trial (crash after retry) — keep going
                continue
            r["trial"] = t + 1
            runs[cores].append(r)
            print(json.dumps(r), flush=True)

    # the crash-skip retry path can lose every trial of one side; emit a
    # partial-error record instead of letting median([]) raise and throw
    # away the surviving side's 25 minutes of measurements
    if not runs[8] or not runs[32]:
        result = {
            "events": n_events,
            "trials_per_side": trials,
            "error": "one side lost every trial",
            "surviving_trials": {str(c): runs[c] for c in (8, 32)},
        }
        print(json.dumps(result))
        (REPO / "BENCH").mkdir(exist_ok=True)
        (REPO / "BENCH" / "last_run.json").write_text(
            json.dumps(result, indent=2) + "\n"
        )
        import shutil

        shutil.rmtree(in_dir, ignore_errors=True)
        return

    def side(cores: int) -> dict:
        rates = [r["events_per_sec"] for r in runs[cores]]
        return {
            "cores": cores,
            "trials": runs[cores],
            "median_events_per_sec": statistics.median(rates),
            "min_events_per_sec": min(rates),
            "max_events_per_sec": max(rates),
            "spread_pct": round(100 * (max(rates) - min(rates)) / statistics.median(rates), 1),
        }

    s8, s32 = side(8), side(32)
    eff = s32["median_events_per_sec"] / (4 * s8["median_events_per_sec"])
    # adjacent 8/32 runs share tenancy conditions, so per-pair efficiency
    # then median is the most noise-robust single number this VM can give
    by_trial32 = {r["trial"]: r for r in runs[32]}
    paired = [
        round(by_trial32[a["trial"]]["events_per_sec"] / (4 * a["events_per_sec"]), 3)
        for a in runs[8]
        if a["trial"] in by_trial32  # skip trials where one side was lost
    ]
    result = {
        "events": n_events,
        "trials_per_side": trials,
        "N": s8,
        "4N": s32,
        "scaling_efficiency_median": round(eff, 3),
        "paired_efficiency": paired,
        # paired can be empty when the surviving 8/32 trial ids are
        # disjoint even though both sides have data
        "paired_efficiency_median": statistics.median(paired) if paired else None,
    }
    print(json.dumps(result))

    import shutil

    shutil.rmtree(in_dir, ignore_errors=True)

    out = REPO / "BENCH" / "last_run.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(result, indent=2) + "\n")
    # BENCH/BASELINE.md holds the curated multi-run table + analysis; update
    # it by hand from last_run.json — this script must not clobber it.


if __name__ == "__main__":
    main()
