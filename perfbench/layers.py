"""Per-layer metrics of a traced run, named by engine module.

Each value is a median per call over the run unless its name says
otherwise.  ``perfbench/README.md`` lists which end-to-end metric each
one should move, and on which workload.
"""

from __future__ import annotations

import statistics

SPARK_COUNTERS = {
    "jobs": "count", "stages": "count", "tasks": "count", "job_s": "s",
    "exec_run_s": "s", "shuffle_read_b": "B", "shuffle_write_b": "B",
    "input_b": "B", "spill_b": "B",
}


def med(xs):
    """Median of the values that were measured, or None if none were."""
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def per_layer(tracer, commits, compacts, reads, workload_s) -> dict:
    spans: dict[str, list] = {}
    for s in tracer.spans:
        spans.setdefault(s.name, []).append(s)

    def wall(name):
        return med(s.wall_s for s in spans.get(name, ()))

    def ctr(name, key):
        return med(s.counters.get(key) for s in spans.get(name, ()))

    def gap(name):
        return med(
            s.wall_s - s.counters["job_s"]
            for s in spans.get(name, ())
            if s.counters.get("job_s") is not None
        )

    m: dict[str, tuple] = {
        # streaming.replay
        "replay.align_s": (wall("replay.align"), "s"),
        "replay.lineage_s": (wall("replay.lineage"), "s"),
        # lake.merge
        "merge.wall_s": (wall("merge"), "s"),
        **{f"merge.{k}": (ctr("merge", k), u) for k, u in SPARK_COUNTERS.items()},
        "merge.driver_gap_s": (gap("merge"), "s"),
    }
    last = commits[-1] if commits else {}
    scanned = [c["decide_files_scanned"] or 0 for c in commits]
    total = [c["decide_files_total"] or 0 for c in commits]
    m |= {
        "merge.decide_files_scanned": (med(scanned), "count"),
        "merge.decide_files_total": (med(total), "count"),
        # ratio over the whole run; its base is merge.decide_files_total
        "merge.decide_scan_frac": (sum(scanned) / sum(total) if sum(total) else 0.0, "frac"),
        "merge.files_written": (med(c["files_written"] for c in commits), "count"),
        "merge.data_b_written": (med(c["data_b_written"] for c in commits), "B"),
        # lake.table
        "table.snapshot_s": (med(c["snapshot_s"] for c in commits + compacts), "s"),
        "table.meta_b_written": (med(c["meta_b_written"] for c in commits), "B"),
        # after the last commit: a run may end on a compaction, which
        # leaves no deltas to show
        "table.live_files": (last.get("live_files"), "count"),
        "table.delta_files": (last.get("delta_files"), "count"),
        "table.live_files_added_per_epoch": (med(c["live_files_added"] for c in commits), "count"),
        "table.delta_files_added_per_epoch": (med(c["delta_files_added"] for c in commits), "count"),
        "table.scan_jobs": (ctr("table.scan", "jobs"), "count"),
        "table.scan_input_b": (ctr("table.scan", "input_b"), "B"),
        "table.scan_exec_run_s": (ctr("table.scan", "exec_run_s"), "s"),
        "table.scan_driver_gap_s": (gap("table.scan"), "s"),
        # lake.lookup
        "lookup.files_scanned": (med(r["files_scanned"] for r in reads["lookup"]), "count"),
        "lookup.files_total": (med(r["files_total"] for r in reads["lookup"]), "count"),
        "lookup.jobs": (ctr("lookup", "jobs"), "count"),
        "lookup.exec_run_s": (ctr("lookup", "exec_run_s"), "s"),
        "lookup.driver_gap_s": (gap("lookup"), "s"),
        "filter.files_scanned": (med(r["files_scanned"] for r in reads["filter"]), "count"),
        "filter.files_total": (med(r["files_total"] for r in reads["filter"]), "count"),
        "filter.input_b": (ctr("filter", "input_b"), "B"),
        "filter.driver_gap_s": (gap("filter"), "s"),
        # lake.maintenance
        "compact.wall_s": (wall("compact"), "s"),
        "compact.files_before": (med(c["files_before"] for c in compacts), "count"),
        "compact.files_after": (med(c["files_after"] for c in compacts), "count"),
        "compact.data_b_written": (med(c["data_b_written"] for c in compacts), "B"),
        "compact.jobs": (ctr("compact", "jobs"), "count"),
        "compact.driver_gap_s": (gap("compact"), "s"),
        # the tracer's own bookkeeping, against the rest of the timed section
        "trace.overhead_frac": (
            tracer.overhead_s / (workload_s - tracer.overhead_s), "frac"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
