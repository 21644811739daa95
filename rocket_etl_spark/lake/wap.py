"""Write–audit–publish: staged MERGE commits gated by validation.

Iceberg's WAP pattern (``write.wap.enabled`` + cherry-pick) re-expressed
over the local snapshot chain: a staged merge runs the FULL merge
machinery — LWW dedupe, broadcast/SMJ/MOR strategy selection, bloom and
zone-map build, exactly-once fence bookkeeping — but its commit lands in
a ``staged-<tag>.json`` side namespace that readers never see
(``current_snapshot`` matches only ``snapshot-*.json``).  The staged
state is then *audited* — read back in full and checked against
declarative validation rules (``plans.validate``) — and either
*published* (an atomic CAS links the staged content into the chain as
the next snapshot) or *aborted* (the marker and the commit's own data
files are deleted; re-linked parent files are untouched by
construction).

Why this shape and not a flag on the chain tip: the chain is an
immutable CAS'd sequence, so an in-chain "staged" tip would force every
reader AND every concurrent writer to walk back over it, and an abort
would have to publish a revert snapshot whose changelog entries then
need special-casing.  Keeping staged commits out of the namespace makes
visibility, ``changes()``, and time travel correct with zero changes to
their logic — exactly why Iceberg stages WAP snapshots outside the main
branch pointer.

Concurrency contract (documented, Iceberg-equivalent): publish is an
atomic CAS on the next snapshot id.  If ANY commit (direct merge,
compaction, another publish) lands between stage and publish, the
staged snapshot's basis is stale and ``publish_staged`` raises
``PublishConflict`` — the caller re-stages from the live tip (the batch
is theirs to replay; the exactly-once fence makes re-staging an
already-published epoch a no-op at the next merge).  Nothing is ever
silently dropped or double-applied: visibility changes only through the
CAS.

At 100 TB this costs what a normal merge costs plus one audit read of
the staged state (column-pruned to the audited columns; the rules
themselves are one codegen'd projection — see plans/validate.py), and
buys the CDC-operational property the north rule's exactly-once story
implies but cannot give alone: a malformed upstream batch (schema rot,
key explosion, poisoned values) is caught while still invisible, so
downstream readers never observe — and downstream incremental consumers
never propagate — a bad epoch.

Reference semantics: upstream rocket-etl validates rows inline and
skips/logs failures mid-load (SURVEY.md §3.1 step 5) — under a
crash-restart the already-loaded prefix of a bad batch stays visible.
The staged form is the scale-correct re-expression: all-or-nothing
visibility for the audited epoch.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rocket_etl_spark.lake.merge import CommitResult, merge_batch
from rocket_etl_spark.lake.planner import delta_files
from rocket_etl_spark.lake.table import LakeTable


class PublishConflict(RuntimeError):
    """The chain advanced between stage and publish; re-stage from tip."""


class StageError(RuntimeError):
    """The table's state cannot accept a staged merge (see message)."""


@dataclass
class StagedCommit:
    tag: str
    table_path: str
    parent_id: int
    result: CommitResult

    @property
    def marker(self) -> Path:
        return Path(self.table_path) / "snapshots" / f"staged-{self.tag}.json"

    def snapshot(self) -> dict:
        with open(self.marker) as f:
            return json.load(f)


class _StagingTable(LakeTable):
    """A LakeTable whose commit CAS is redirected into the staged
    namespace.  Everything else — snapshot reads, data dir, bucket
    layout — is the real table, so ``merge_batch`` runs unmodified and
    its data files land in the real ``data/`` tree (unreferenced by any
    published snapshot until publish; abort deletes them)."""

    def __init__(self, base: LakeTable, tag: str):
        super().__init__(base.spark, base.path)
        self._tag = tag

    def _try_write_snapshot(self, snap: dict) -> bool:
        snap = {**snap, "staged": True, "staged_tag": self._tag}
        final = self.snap_dir / f"staged-{self._tag}.json"
        tmp = self.snap_dir / f".tmp-{uuid.uuid4().hex}.json"
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)  # tag is fresh per stage — always wins
            return True
        finally:
            tmp.unlink(missing_ok=True)


def stage_merge(
    table: LakeTable,
    batch: DataFrame,
    epoch_id: int | None = None,
    app_id: str = "default",
    new_schema=None,
    derived_cols: dict | None = None,
    mode: str = "cow",
) -> StagedCommit:
    """Run a full MERGE whose commit is staged (invisible to readers).

    Same contract as ``merge_batch`` except: ``mor_compact_threshold``
    is unavailable (auto-compaction publishes real snapshots — it
    belongs after publish), and a COW stage onto merge-on-read
    delta-bearing buckets raises (the pre-merge delta fold is likewise
    a real commit; run ``compact()`` first)."""
    from rocket_etl_spark.lake.branch import _BranchTable

    if isinstance(table, _BranchTable):
        # _StagingTable rebuilds from base.path and would base the staged
        # MERGE on the MAIN tip, not the branch head — the first audited
        # batch onto a non-empty branch would then merge against a base
        # missing the branch's prior epochs and publish_staged would
        # always conflict.  Refuse loudly instead of corrupting
        # (advisor finding, r5); audit a branch with audit_branch +
        # publish_branch, which exist for exactly this composition.
        raise StageError(
            "stage_merge does not compose with a branch table: the staged "
            "merge would base on the main tip, not the branch head — use "
            "replay into the branch + audit_branch/publish_branch instead"
        )
    snap = table.current_snapshot()
    if mode == "cow" and delta_files(snap):
        raise StageError(
            "cannot stage a copy-on-write merge onto merge-on-read deltas: "
            "the delta fold would publish a visible commit before the audit "
            "— compact() the table first, or stage with mode='mor'"
        )
    tag = uuid.uuid4().hex[:12]
    st = _StagingTable(table, tag)
    try:
        res = merge_batch(
            st, batch, epoch_id=epoch_id, app_id=app_id, new_schema=new_schema,
            derived_cols=derived_cols, mode=mode,
        )
    except Exception:
        # a failed stage must not strand its marker (data files it wrote
        # pre-failure are unreferenced orphans — age-guarded GC's job)
        (table.snap_dir / f"staged-{tag}.json").unlink(missing_ok=True)
        raise
    return StagedCommit(tag=tag, table_path=str(table.path),
                        parent_id=snap["snapshot_id"], result=res)


def read_staged(table: LakeTable, staged: StagedCommit) -> DataFrame:
    """The table state AS IF the staged commit were published — the
    audit surface.  Same column-pruning/pushdown behavior as a normal
    read (it IS a normal read, over the staged snapshot's file list)."""
    return table.read(snap=staged.snapshot())


def audit_staged(
    table: LakeTable,
    staged: StagedCommit,
    rules,
    max_violations: int = 0,
) -> dict:
    """Audit the staged state against declarative rules
    (``plans.validate``).  Returns ``{"ok", "violations", "by_rule"}``;
    ``ok`` iff total violating rows <= ``max_violations``.  One job:
    rules annotate in a single codegen'd projection, the count
    aggregates per rule name."""
    from rocket_etl_spark.plans.validate import VIOLATIONS_COL, annotate

    if staged.result.skipped:
        # fence no-op: nothing was staged, there is no state to audit
        return {"ok": True, "violations": 0, "by_rule": {}}
    ann = annotate(read_staged(table, staged), rules)
    rows = (
        ann.select(F.explode(VIOLATIONS_COL).alias("rule"))
        .groupBy("rule")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )  # bounded: one row per RULE, not per violation
    by_rule = {r["rule"]: int(r["n"]) for r in rows}
    bad = (
        ann.filter(F.size(VIOLATIONS_COL) > 0).limit(max_violations + 1).count()
        if by_rule
        else 0
    )
    return {"ok": bad <= max_violations, "violations": bad, "by_rule": by_rule}


def publish_staged(table: LakeTable, staged: StagedCommit) -> dict:
    """Atomically make the staged commit visible as the next snapshot.

    CAS semantics: succeeds iff no commit of any kind landed after the
    stage's basis; otherwise raises ``PublishConflict`` (re-stage from
    the live tip — the staged snapshot's re-linked file list and fence
    arithmetic are only valid against its own parent)."""
    if staged.result.skipped:
        return {"published": False, "reason": "epoch already committed"}
    snap = staged.snapshot()
    pub = {k: v for k, v in snap.items() if k not in ("staged", "staged_tag")}
    tip = table.current_snapshot()
    if tip["snapshot_id"] != pub["parent_id"] or not table._try_write_snapshot(pub):
        raise PublishConflict(
            f"table advanced past snapshot {pub['parent_id']} while epoch "
            f"{snap.get('epoch_id')} was staged; re-stage from the new tip"
        )
    staged.marker.unlink(missing_ok=True)
    return {"published": True, "snapshot_id": pub["snapshot_id"]}


def abort_staged(table: LakeTable, staged: StagedCommit) -> dict:
    """Discard the staged commit: delete its marker and the data files
    the commit itself wrote.  Files the stage RE-LINKED from the parent
    snapshot are shared with published history and are never touched
    (``added_files`` is exact — the same bookkeeping ``changes()``
    trusts for changelog attribution)."""
    if staged.result.skipped or not staged.marker.exists():
        return {"aborted": False, "files_removed": 0}
    snap = staged.snapshot()
    # crash-window guard: if the publish CAS succeeded but the process
    # died before unlinking the marker, the staged content IS the
    # published snapshot and its added files are live — a later abort
    # must only clean the marker, never the files.  The added-file paths
    # embed a per-stage uuid, so equality identifies this stage exactly.
    pub_path = staged.marker.parent / f"snapshot-{snap['snapshot_id']:08d}.json"
    if pub_path.exists():
        with open(pub_path) as f:
            pub = json.load(f)
        if pub.get("added_files") == snap.get("added_files"):
            staged.marker.unlink(missing_ok=True)
            return {"aborted": False, "files_removed": 0,
                    "reason": "stage was already published"}
    removed = 0
    for files in snap.get("added_files", {}).values():
        for fe in files:
            p = Path(staged.table_path) / fe["path"]
            if p.exists():
                p.unlink()
                removed += 1
    staged.marker.unlink(missing_ok=True)
    return {"aborted": True, "files_removed": removed}


def list_staged(table: LakeTable) -> list[str]:
    """Tags of live staged commits (audit windows in flight)."""
    return sorted(
        p.name[len("staged-"):-len(".json")]
        for p in table.snap_dir.glob("staged-*.json")
    )
