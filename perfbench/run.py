"""CDC engine benchmark: one closed-loop client applying seeded epochs.

Usage (from the repository root)::

    python3 perfbench/run.py --workload trickle_mor --seed 1 --seconds 20 --trace 0

The client applies delivery epochs one at a time through the calls
``replay_stream``'s ``foreachBatch`` makes (``prepare_events`` ->
``align_batch`` -> ``merge_batch`` -> ``append_lineage``) and, between
commits, reads the table through ``lookup``, ``filtered_read`` and
``LakeTable.read``, and compacts it with ``compact``.  Each op waits for
the previous one: a slower engine gets less work, never a queue.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a
separate run of the same schedule that times each call from outside,
reads the Spark work each call ran, and reports the per-layer metrics.
After the timed section every answer is checked against the pure-SQL
LWW oracle.  The last line of stdout is the result object; the line
before it is the full report, which is also written, with the spans,
to ``.perfbench/runs/`` under the repository root.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()  # set-up is timed from here

import argparse  # noqa: E402
import atexit  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
OUT_DIR = ROOT / ".perfbench"
FINAL_COLS = ["repo", "path", "lang", "content_sha256", "last_commit", "last_event_seq"]

END_TO_END_UNITS = {
    "setup_s": "s", "workload_s": "s", "ingest_events_per_s": "1/s",
    "commit_p50_s": "s", "lookup_p50_s": "s", "filter_p50_s": "s", "scan_p50_s": "s",
    "bytes_per_live_row": "B", "peak_rss_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Session:
    """The Spark session and the per-run scratch directory, both owned
    by one run.  ``close`` stops the JVM, waits for it to exit, and
    removes the directory; it also runs at interpreter exit and on
    SIGTERM, so a failed run leaves nothing behind."""

    def __init__(self, work: Path):
        self.work = work
        self.spark = None
        self._proc = None
        work.mkdir(parents=True)
        atexit.register(self.close)
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        # every temp file of this process and of the JVM lands in the run dir
        os.environ["TMPDIR"] = str(work)
        tempfile.tempdir = str(work)

    def start(self, nproc: int):
        from pyspark import SparkContext

        from rocket_etl_spark.session import build_session

        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{nproc}]",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                # A fully committed heap keeps peak RSS from tracking GC
                # timing, which varies with host load: without it the
                # metric spread 0.24 over five runs of one workload.
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = SparkContext._gateway.proc
        return self.spark

    def close(self) -> None:
        from hostprobe import children

        if self.spark is not None:
            from pyspark import SparkContext

            spark, self.spark = self.spark, None
            try:
                spark.stop()
                SparkContext._gateway.shutdown()
            except Exception:  # the JVM may already be gone; it is reaped below
                pass
        if self._proc is not None:
            proc, self._proc = self._proc, None
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # a JVM still launching when SIGTERM arrived has no handle yet
        for pid in children(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass
        shutil.rmtree(self.work, ignore_errors=True)


def tail(samples: list[float]) -> tuple[int, float] | None:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond
    it (nearest rank), or None when the sample count cannot carry one."""
    n = len(samples)
    for p in (99, 95, 90, 75):
        k = math.ceil(p / 100 * n)
        if n - k >= 10:
            return p, sorted(samples)[k - 1]
    return None


def check_answers(stage_dir: Path, work: Path, answers, last_ep: int, final_dir: Path):
    """Compare every recorded answer, and the final table row by row,
    with the LWW oracle at the same delivery prefix.  Returns the
    failures and the oracle's live row count."""
    from lww_oracle import LwwOracle

    failures = []
    oracle = LwwOracle(stage_dir, work)
    try:
        for i, op, got in answers:
            if op.kind == "lookup":
                want = oracle.lookup(op.epoch, op.keys)
                got, want = sorted(got), sorted(want)
            elif op.kind == "filter":
                want = oracle.summary(op.epoch, since=op.since)
            else:
                want = oracle.summary(op.epoch)
            if got != want:
                failures.append({"op": i, "kind": op.kind, "epoch": op.epoch,
                                 "error": f"wrong answer: got {got} want {want}"[:500]})
        bad, live_rows = oracle.final_mismatches(last_ep, final_dir)
    finally:
        oracle.close()
    if bad:
        failures.append({"op": None, "kind": "final_state", "epoch": last_ep,
                         "error": f"{bad} of {live_rows} rows differ from the oracle"})
    return failures, live_rows


def run(args, work: Path) -> tuple[dict, dict]:
    from client import Client, Layout, live_bytes
    from hostprobe import drift_record, peak_rss_mb, steal_s
    from layers import med
    from tracer import NullTracer, SparkTracer
    from workloads import (
        NUM_BUCKETS,
        WARMUP_ROUNDS,
        WORKLOADS,
        n_epochs,
        schedule,
        stage_events,
    )

    from rocket_etl_spark.lake.table import LakeTable
    from rocket_etl_spark.streaming.replay import create_repo_files_table

    w = WORKLOADS[args.workload]
    host = drift_record()
    sess = Session(work)
    spark = sess.start(host["nproc"])
    t_session = time.monotonic() - T_PROCESS

    # ---- set-up: stage inputs, load the base, warm up on a copy of it
    epochs = n_epochs(w, args.seconds)
    stage_dir = work / "events"
    t0 = time.monotonic()
    per_epoch, pool = stage_events(spark, args.seed, epochs, stage_dir)
    ops = schedule(w, args.seed, epochs, pool)
    t_stage = time.monotonic() - t0

    warm = Client(spark, w.mode, stage_dir, NullTracer())
    table = create_repo_files_table(spark, work / "lake", num_buckets=NUM_BUCKETS)
    t0 = time.monotonic()
    base_res, _ = warm.commit(table, -1)
    t_base = time.monotonic() - t0

    # The throwaway table is a copy of the loaded base, so warm-up runs
    # the timed section's first epochs against the same table state.
    shutil.copytree(table.path, work / "warmup")
    scratch = LakeTable.load(spark, work / "warmup")
    warm_rounds: list[float] = []
    for r in range(WARMUP_ROUNDS):
        t0 = time.monotonic()
        for op in ops:
            if op.epoch == r and op.kind != "compact":
                warm.run(scratch, op)
        warm_rounds.append(time.monotonic() - t0)
    warm.compact(scratch, WARMUP_ROUNDS - 1)
    setup_s = time.monotonic() - T_PROCESS

    # ---- timed section: the fixed op schedule, one op at a time
    tracer = SparkTracer(spark) if args.trace else NullTracer()
    client = Client(spark, w.mode, stage_dir, tracer)
    layout = Layout(table, tracer) if args.trace else None
    times: dict[str, list[float]] = {k: [] for k in ("commit", "lookup", "filter", "scan", "compact")}
    answers: list[tuple] = []  # (op index, op, answer)
    failures: list[dict] = []
    commits: list[dict] = []
    compacts: list[dict] = []
    reads: dict[str, list[dict]] = {"lookup": [], "filter": []}
    events_delivered = 0
    steal0 = steal_s()
    t_work = time.monotonic()
    for i, op in enumerate(ops):
        try:
            out, dt = client.run(table, op)
            if op.kind == "commit":
                res = out
                events_delivered += per_epoch.get(op.epoch, 0)
                rec = {"epoch": op.epoch, "wall_s": dt, "rows_in": res.rows_in,
                       "decide_files_scanned": res.decide_files_scanned,
                       "decide_files_total": res.decide_files_total}
                if layout:
                    rec |= layout.step()
                commits.append(rec)
            elif op.kind == "compact":
                rec = {"epoch": op.epoch, "wall_s": dt, "files_before": out["files_before"],
                       "files_after": out["files_after"]}
                if layout:
                    rec |= layout.step()
                compacts.append(rec)
            elif op.kind == "scan":
                answers.append((i, op, out))
            else:  # lookup, filter: (answer, the engine's pruning stats)
                answers.append((i, op, out[0]))
                reads[op.kind].append(out[1])
            times[op.kind].append(dt)
        except Exception as e:  # a failed op is counted, and the run goes on
            failures.append({"op": i, "kind": op.kind, "epoch": op.epoch,
                             "error": f"{type(e).__name__}: {e}"[:500]})
    workload_s = time.monotonic() - t_work
    host["steal_s_timed"] = round(steal_s() - steal0, 2)
    rss = peak_rss_mb()  # before the final export and the oracle add their own

    # ---- after timing: check every answer against the LWW oracle
    t_check = time.monotonic()
    last_ep = epochs - 1
    final_dir = work / "final"
    table.read().select(*FINAL_COLS).write.parquet(str(final_dir))
    wrong, live_rows = check_answers(stage_dir, work, answers, last_ep, final_dir)
    failures += wrong
    t_check = time.monotonic() - t_check
    attempted = len(ops) + 1  # every op plus the final-state comparison
    bytes_per_live_row = live_bytes(table) / max(live_rows, 1)

    commit_wall = sum(times["commit"])
    e2e = {
        "setup_s": setup_s,
        "workload_s": workload_s,
        "ingest_events_per_s": events_delivered / commit_wall if commit_wall else None,
        "commit_p50_s": med(times["commit"]),
        "lookup_p50_s": med(times["lookup"]),
        "filter_p50_s": med(times["filter"]),
        "scan_p50_s": med(times["scan"]),
        "bytes_per_live_row": bytes_per_live_row,
        "peak_rss_mb": rss,
    }
    samples = {
        "commit_p50_s": len(times["commit"]), "lookup_p50_s": len(times["lookup"]),
        "filter_p50_s": len(times["filter"]), "scan_p50_s": len(times["scan"]),
        "ingest_events_per_s": len(times["commit"]),
    }
    tails = {}
    for kind in ("commit", "lookup", "filter", "scan"):
        t = tail(times[kind])
        if t is None:
            tails[f"{kind}_tail_s"] = f"omitted: {len(times[kind])} samples cannot carry a tail"
        else:
            tails[f"{kind}_p{t[0]}_s"] = t[1]

    report = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host,
        "setup": {"session_s": t_session, "stage_s": t_stage, "base_load_s": t_base,
                  "warmup_rounds_s": warm_rounds, "base_rows_upserted": base_res.rows_upserted},
        "epochs": epochs, "events_per_epoch": per_epoch, "ops": len(ops), "check_s": t_check,
        "end_to_end": {k: {"value": v, "unit": END_TO_END_UNITS[k], "n": samples.get(k, 1)}
                       for k, v in e2e.items()},
        "tails": tails,
        "failed_ops_frac": len(failures) / attempted,
        "failures": failures,
        "live_rows": live_rows,
        "times": times,
        "commits": commits,
        "compacts": compacts,
    }
    if args.trace:
        from layers import per_layer

        report["per_layer"] = per_layer(tracer, commits, compacts, reads, workload_s)
        report["trace_group_mismatches"] = tracer.group_mismatches
        report["spans"] = tracer.report()
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
    }
    if args.trace:
        result["metrics"] = report["per_layer"]
    else:
        result["metrics"] = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    sess.close()
    return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import duckdb  # noqa: F401
        import rocket_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its oracle from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = OUT_DIR / f"work-{os.getpid()}"
    report, result = run(args, work)
    runs = OUT_DIR / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (runs / name).write_text(json.dumps(report, indent=1, default=str))
    report.pop("spans", None)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
