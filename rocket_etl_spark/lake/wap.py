"""Write–audit–publish: staged MERGE commits gated by validation.

Iceberg's WAP pattern, run the way Iceberg runs it on branches
(``spark.wap.branch``): a stage is a one-commit branch named
``wap-<tag>`` (lake/branch.py).  ``stage_merge`` forks the branch at the
main tip and runs the FULL merge machinery into it — LWW dedupe,
broadcast/SMJ/MOR strategy selection, bloom and zone-map build,
exactly-once fence bookkeeping — so the commit lands in the branch chain
that main-chain readers never see.  The staged state is then *audited*
— read back in full and checked against declarative validation rules
(``plans.validate``) — and either *published* (the branch head
fast-forwards onto main with one atomic CAS) or *aborted* (the branch
and its own data files are dropped; re-linked parent files are
untouched by construction).  Every step is the branch operation of the
same name: ``read_branch``, ``audit_branch``, ``publish_branch``,
``drop_branch``; this module only maps the single-commit API onto it.

Because the stage is a branch, a copy-on-write stage onto merge-on-read
deltas works too: ``merge_batch``'s pre-merge delta fold commits into
the branch, ahead of the staged merge, and goes live with it at publish.
A stage onto a branch table is refused: branches do not nest.

Concurrency contract (documented, Iceberg-equivalent): publish requires
the main tip to still be the stage's fork.  If ANY commit (direct merge,
compaction, another publish) lands between stage and publish, the
staged snapshot's basis is stale and ``publish_staged`` raises
``PublishConflict`` — the caller aborts and re-stages from the live tip
(the batch is theirs to replay; the exactly-once fence makes re-staging
an already-published epoch a no-op at the next merge).  Nothing is ever
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

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame

from rocket_etl_spark.lake.branch import (
    BranchConflict,
    BranchError,
    _BranchTable,
    audit_branch,
    branch_table,
    create_branch,
    drop_branch,
    list_branches,
    publish_branch,
    read_branch,
)
from rocket_etl_spark.lake.merge import CommitResult, merge_batch
from rocket_etl_spark.lake.table import LakeTable

_PREFIX = "wap-"


class PublishConflict(BranchConflict):
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
    def branch(self) -> str:
        """The one-commit branch holding the stage."""
        return _PREFIX + self.tag


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

    Same contract as ``merge_batch`` except that ``mor_compact_threshold``
    is unavailable (auto-compaction belongs after publish).  The stage
    is the one-commit branch ``wap-<tag>``; a merge that raises or that
    the epoch fence skips leaves no branch behind."""
    if isinstance(table, _BranchTable):
        raise StageError(
            "stage_merge does not compose with a branch table: branches do "
            "not nest — replay into the branch, then audit_branch + "
            "publish_branch gate the whole chain"
        )
    tag = uuid.uuid4().hex[:12]
    name = _PREFIX + tag
    fork = create_branch(table, name)
    try:
        res = merge_batch(
            branch_table(table, name), batch, epoch_id=epoch_id, app_id=app_id,
            new_schema=new_schema, derived_cols=derived_cols, mode=mode,
        )
    except Exception:
        # a failed stage must not strand its branch (data files it wrote
        # before failing are unreferenced orphans — age-guarded GC's job)
        drop_branch(table, name)
        raise
    if res.skipped:
        drop_branch(table, name)  # fence no-op: nothing was staged
    return StagedCommit(tag=tag, table_path=str(table.path),
                        parent_id=fork["fork_id"], result=res)


def read_staged(table: LakeTable, staged: StagedCommit) -> DataFrame:
    """The table state AS IF the staged commit were published — the
    audit surface (``read_branch``: a normal pruned read over the staged
    snapshot's file list)."""
    return read_branch(table, staged.branch)


def audit_staged(
    table: LakeTable,
    staged: StagedCommit,
    rules,
    max_violations: int = 0,
) -> dict:
    """Audit the staged state against declarative rules
    (``plans.validate``) with ``audit_branch``.  Returns
    ``{"ok", "violations", "by_rule"}``; ``ok`` iff total violating rows
    <= ``max_violations``."""
    if staged.result.skipped:
        # fence no-op: nothing was staged, there is no state to audit
        return {"ok": True, "violations": 0, "by_rule": {}}
    return audit_branch(table, staged.branch, rules, max_violations)


def publish_staged(table: LakeTable, staged: StagedCommit) -> dict:
    """Atomically make the staged commit visible as the next snapshot
    (``publish_branch``).

    Succeeds iff no commit of any kind landed after the stage's fork;
    otherwise raises ``PublishConflict`` (abort, then re-stage from the
    live tip — the staged snapshot's re-linked file list and fence
    arithmetic are only valid against its own parent)."""
    if staged.result.skipped:
        return {"published": False, "reason": "epoch already committed"}
    try:
        out = publish_branch(table, staged.branch)
    except BranchConflict as e:
        raise PublishConflict(
            f"table advanced past snapshot {staged.parent_id} while epoch "
            f"{staged.result.epoch_id} was staged; re-stage from the new tip"
        ) from e
    return {"published": True, "snapshot_id": out["snapshot_id"]}


def abort_staged(table: LakeTable, staged: StagedCommit) -> dict:
    """Discard the staged commit (``drop_branch``): the branch markers
    and the data files the stage itself wrote.  Files the stage
    RE-LINKED from the parent snapshot are shared with published history
    and are never touched; a stage whose publish already landed keeps
    its files (``drop_branch``'s crash-window guard)."""
    if staged.result.skipped:
        return {"aborted": False, "files_removed": 0}
    try:
        out = drop_branch(table, staged.branch)
    except BranchError:  # already published or aborted
        return {"aborted": False, "files_removed": 0}
    if not out["dropped"]:
        return {"aborted": False, "files_removed": 0,
                "reason": "stage was already published"}
    return {"aborted": True, "files_removed": out["files_removed"]}


def list_staged(table: LakeTable) -> list[str]:
    """Tags of live staged commits (audit windows in flight)."""
    return [n[len(_PREFIX):] for n in list_branches(table) if n.startswith(_PREFIX)]
