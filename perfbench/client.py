"""The benchmark's single client and what it reads back from the table.

``Client`` applies one op at a time through the engine's public calls
and returns each op's answer with its wall time; ``Layout`` (traced runs
only) reads what each write left in the table directory.
"""

from __future__ import annotations

import time
from pathlib import Path

from lww_oracle import SUMMARY_EXPRS, canon
from rocket_etl_spark.lake.lookup import filtered_read, lookup
from rocket_etl_spark.lake.maintenance import compact
from rocket_etl_spark.lake.merge import merge_batch
from rocket_etl_spark.lake.table import legacy_layouts
from rocket_etl_spark.streaming.replay import (
    align_batch,
    append_lineage,
    prepare_events,
    sha256_derived,
)

APP_ID = "perfbench"
EVENTS_SCHEMA = (
    "event_seq bigint, event_ts timestamp, op string, repo string, path string, "
    "commit string, lang string, content string, delivery_order bigint"
)


class Client:
    """The single closed-loop client: each method runs one op to
    completion and returns ``(answer, wall seconds)``."""

    def __init__(self, spark, mode: str, stage_dir: Path, tracer):
        self.spark, self.mode, self.stage_dir, self.tr = spark, mode, stage_dir, tracer
        self.derived = sha256_derived()

    def _timed(self, name: str, fn, ep: int):
        t0 = time.monotonic()
        out, _ = self.tr.call(name, fn, epoch=ep)
        return out, time.monotonic() - t0

    def run(self, table, op):
        """Run one scheduled op (``workloads.Op``)."""
        if op.kind == "commit":
            return self.commit(table, op.epoch)
        if op.kind == "compact":
            return self.compact(table, op.epoch)
        if op.kind == "lookup":
            return self.lookup(table, op.epoch, op.keys)
        if op.kind == "filter":
            return self.filter(table, op.epoch, op.since)
        return self.scan(table, op.epoch)

    # ------------------------------------------------------------ writes
    def commit(self, table, ep: int):
        """One delivery epoch through the calls ``replay_stream``'s
        ``foreachBatch`` makes, as child spans of one ``commit`` span."""
        tr = self.tr
        t0 = time.monotonic()
        parent = tr.begin("commit", epoch=ep)
        batch = self.spark.read.schema(EVENTS_SCHEMA).parquet(str(self.stage_dir / f"_ep={ep}"))

        def align():
            prepared = prepare_events(batch, defer_hash=True)
            return align_batch(table, prepared, skip_cols=set(self.derived))

        (aligned, new_schema), _ = tr.call("replay.align", align, epoch=ep, parent=parent)
        res, _ = tr.call(
            "merge",
            lambda: merge_batch(
                table, aligned, epoch_id=ep + 1, new_schema=new_schema, app_id=APP_ID,
                derived_cols=self.derived, mode=self.mode,
            ),
            epoch=ep, parent=parent,
        )
        res.wall_ms = int((time.monotonic() - t0) * 1000)
        tr.call("replay.lineage", lambda: append_lineage(self.spark, table, res),
                epoch=ep, parent=parent)
        tr.finish(parent)
        return res, time.monotonic() - t0

    def compact(self, table, ep: int):
        return self._timed("compact", lambda: compact(table), ep)

    # ------------------------------------------------------------- reads
    def lookup(self, table, ep: int, keys):
        def run():
            df, stats = lookup(table, list(keys), return_stats=True)
            rows = df.select("repo", "path", "last_event_seq", "content_sha256").collect()
            return {tuple(r) for r in rows}, stats

        return self._timed("lookup", run, ep)

    def filter(self, table, ep: int, since: int):
        def run():
            df, stats = filtered_read(table, f"last_event_seq >= {since}", return_stats=True)
            return canon(df.selectExpr(*SUMMARY_EXPRS).first()), stats

        return self._timed("filter", run, ep)

    def scan(self, table, ep: int):
        return self._timed(
            "table.scan", lambda: canon(table.read().selectExpr(*SUMMARY_EXPRS).first()), ep
        )


class Layout:
    """Traced runs only: what each write left in the table directory
    (files and bytes written, snapshot and manifest bytes), from the
    snapshot the engine itself publishes.  Its time counts as tracing
    overhead."""

    def __init__(self, table, tracer):
        self.table, self.tr = table, tracer
        self.files = self._live()
        self.meta = self._meta_names()

    def _live(self) -> dict[str, str]:
        t0 = time.monotonic()
        snap = self.table.current_snapshot()
        self.snapshot_s = time.monotonic() - t0
        return {fe["path"]: fe.get("kind", "base") for fe in snapshot_files(snap)}

    def _meta_names(self) -> set[Path]:
        snap_dir = self.table.snap_dir
        return set(snap_dir.glob("*.json")) | set((snap_dir / "manifests").glob("*.json"))

    def step(self) -> dict:
        t0 = time.monotonic()
        before = self.files
        self.files = self._live()
        new = [p for p in self.files if p not in before]
        meta = self._meta_names()
        new_meta = meta - self.meta
        self.meta = meta
        out = {
            "snapshot_s": self.snapshot_s,
            "files_written": len(new),
            "data_b_written": sum((self.table.path / p).stat().st_size for p in new),
            "meta_b_written": sum(p.stat().st_size for p in new_meta),
            "live_files": len(self.files),
            "delta_files": sum(1 for k in self.files.values() if k == "delta"),
        }
        out["live_files_added"] = out["live_files"] - len(before)
        out["delta_files_added"] = out["delta_files"] - sum(
            1 for k in before.values() if k == "delta"
        )
        self.tr.overhead_s += time.monotonic() - t0
        return out


def snapshot_files(snap: dict) -> list[dict]:
    """Every live data-file entry of a snapshot, legacy layouts included."""
    lists = list(snap["buckets"].values()) + [
        fl for layout in legacy_layouts(snap) for fl in layout["buckets"].values()
    ]
    return [fe for fl in lists for fe in fl]


def live_bytes(table) -> int:
    return sum(
        (table.path / fe["path"]).stat().st_size
        for fe in snapshot_files(table.current_snapshot())
    )
