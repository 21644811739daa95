"""Writable branch refs: multi-commit staging with atomic publish.

Iceberg's branch refs: a NAMED CHAIN of staged commits.  Create a
branch at the current tip, replay any number of epochs into it through
the full merge machinery (LWW, fencing, broadcast/SMJ/MOR, blooms, spec
evolution — ``branch_table`` returns a ``LakeTable`` view, so every
engine surface works unmodified), audit the branch state at any point,
then publish the branch head onto the main chain with ONE atomic CAS —
or drop the branch and its data files without main ever having seen a
byte.

The CDC-operational story this buys at 10^10-event scale: a multi-epoch
BACKFILL (or a risky reprocess) runs against production data files
without production visibility, gets validated end-state-wise, and goes
live all-or-nothing.  Write–audit–publish (lake/wap.py) is the
one-commit case: each stage is a branch ``wap-<tag>`` holding one merge,
audited, published and dropped through this module, as Iceberg runs WAP
on ``spark.wap.branch``.

Mechanics:

* branch ref:   ``snapshots/branchref-<name>.json`` (CAS'd marker with
  the fork snapshot id);
* branch chain: ``snapshots/branch-<name>-<id>.json`` — each commit into
  the branch CAS-links the next id exactly like the main chain, so
  concurrent writers into one branch serialize through the same
  rebase/recompute protocol as main-chain merges;
* main-chain readers glob ``snapshot-*.json`` only and never see either;
* publish: require ``main tip == fork`` (fast-forward, Iceberg's
  publish rule), then CAS the branch HEAD — a self-contained snapshot —
  as the next main snapshot, with ``added_files`` combined over every
  branch commit so ``changes()`` attributes the branch's row-level
  history to the publish; anything already on main past the fork raises
  ``BranchConflict`` (drop + re-branch from the new tip; the published
  epochs' fences ride the head, so re-replaying them no-ops);
* intermediate branch snapshots' superseded files become ordinary
  age-guarded orphans; ``expire_snapshots`` protects everything a live
  branch references (maintenance.py reads the branch namespaces).

Snapshot ids inside a branch continue from the fork (fork+1, fork+2,
…): ids are chain-local names, and publish renumbers the head to the
main tip's successor.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from pyspark.sql import DataFrame

from rocket_etl_spark.lake.table import LakeTable, _cas_write

_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")
_CHAIN_RE_T = r"^branch-{name}-(\d{{8}})\.json$"


class BranchConflict(RuntimeError):
    """Main advanced past the fork between branch and publish; drop the
    branch and re-branch from the new tip."""


class BranchError(RuntimeError):
    """Branch bookkeeping problem (missing/duplicate name, empty)."""


def _ref_path(table: LakeTable, name: str) -> Path:
    return table.snap_dir / f"branchref-{name}.json"


def _chain_files(table: LakeTable, name: str) -> list[Path]:
    pat = re.compile(_CHAIN_RE_T.format(name=re.escape(name)))
    out = [p for p in table.snap_dir.iterdir() if pat.match(p.name)]
    return sorted(out)


class _BranchTable(LakeTable):
    """The branch as a ``LakeTable``: reads resolve to the branch head,
    commits CAS into the branch chain.  Every engine surface —
    ``merge_batch`` (both modes), ``append_batch``, ``compact``,
    ``evolve_buckets``, lookups, metadata reads over ``snap=`` — runs
    unmodified against it; data files land in the real ``data/`` tree,
    unreferenced by any published snapshot until publish."""

    def __init__(self, base: LakeTable, name: str, fork_id: int):
        super().__init__(base.spark, base.path)
        self._name = name
        self._fork_id = fork_id

    def current_snapshot(self) -> dict | None:
        chain = _chain_files(self, self._name)
        if chain:
            return self._read_snapshot_file(chain[-1])
        return self.snapshot(self._fork_id)

    def _try_write_snapshot(self, snap: dict) -> bool:
        # the main chain's commit, into the branch chain: bucket lists
        # are externalized exactly like main-chain commits (untouched
        # buckets re-reference their manifests), so a long backfill
        # branch pays O(touched) per epoch too and publish re-uses the
        # same manifest names
        return super()._try_write_snapshot({**snap, "branch": self._name})

    def _commit_path(self, snapshot_id: int) -> Path:
        return self.snap_dir / f"branch-{self._name}-{snapshot_id:08d}.json"


def create_branch(table: LakeTable, name: str) -> dict:
    """Fork ``name`` at the current tip.  CAS'd: a second creator of the
    same live name loses (drop it first)."""
    if not _NAME_RE.match(name or ""):
        raise BranchError(f"invalid branch name {name!r}")
    tip = table.current_snapshot()
    ref = {"name": name, "fork_id": tip["snapshot_id"], "buckets": {}}
    if not _cas_write(_ref_path(table, name), ref):
        raise BranchError(f"branch {name!r} already exists")
    return {"name": name, "fork_id": tip["snapshot_id"]}


def branch_table(table: LakeTable, name: str) -> _BranchTable:
    """The branch as a writable ``LakeTable`` view — pass it to
    ``merge_batch`` / ``replay_batch`` / ``compact`` / audits."""
    ref_p = _ref_path(table, name)
    if not ref_p.exists():
        raise BranchError(f"no branch {name!r}")
    with open(ref_p) as f:
        ref = json.load(f)
    return _BranchTable(table, name, int(ref["fork_id"]))


def list_branches(table: LakeTable) -> dict[str, dict]:
    """Live branches: ``{name: {fork_id, commits, head_id}}``."""
    out = {}
    for p in sorted(table.snap_dir.glob("branchref-*.json")):
        with open(p) as f:
            ref = json.load(f)
        chain = _chain_files(table, ref["name"])
        head = None
        if chain:
            m = re.search(r"(\d{8})\.json$", chain[-1].name)
            head = int(m.group(1))
        out[ref["name"]] = {
            "fork_id": int(ref["fork_id"]),
            "commits": len(chain),
            "head_id": head,
        }
    return out


def read_branch(table: LakeTable, name: str, **kw) -> DataFrame:
    """The branch's current state (audit surface) — a normal pruned read
    over the branch head's file list."""
    return branch_table(table, name).read(**kw)


def audit_branch(
    table: LakeTable, name: str, rules, max_violations: int = 0
) -> dict:
    """Audit the branch's CURRENT state against declarative rules
    (``plans.validate``) — the gate to run before ``publish_branch``,
    and ``wap.audit_staged``'s gate before ``publish_staged``: returns
    ``{"ok", "violations", "by_rule"}``, ``ok`` iff violating rows <=
    ``max_violations``.  Rules annotate in a single codegen'd projection
    over the branch head's file list; the count aggregates per rule."""
    import pyspark.sql.functions as F

    from rocket_etl_spark.plans.validate import VIOLATIONS_COL, annotate

    ann = annotate(read_branch(table, name), rules)
    rows = (
        ann.select(F.explode(F.col(VIOLATIONS_COL)).alias("rule"))
        .groupBy("rule")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )  # bounded: one row per RULE, not per violation
    by_rule = {r["rule"]: int(r["n"]) for r in rows}
    bad = (
        ann.filter(F.size(F.col(VIOLATIONS_COL)) > 0).limit(max_violations + 1).count()
        if by_rule
        else 0
    )
    return {"ok": bad <= max_violations, "violations": bad, "by_rule": by_rule}


def _combined_added(chain_snaps: list[dict]) -> dict:
    out: dict[str, list] = {}
    for s in chain_snaps:
        for b, fl in (s.get("added_files") or {}).items():
            out[b] = out.get(b, []) + list(fl)
    return out


def publish_branch(table: LakeTable, name: str) -> dict:
    """Fast-forward main to the branch head with one atomic CAS.

    Requires the main tip to still be the branch's fork point — any
    intervening main commit raises ``BranchConflict`` (the branch head's
    re-linked file list and fence arithmetic are only valid against its
    fork).  The published snapshot is the branch HEAD renumbered onto
    main, carrying the union of the branch commits' ``added_files`` so
    the changelog reports the branch's full row-level history at the
    publish point."""
    bt = branch_table(table, name)
    chain = _chain_files(table, name)
    if not chain:
        raise BranchError(f"branch {name!r} has no commits to publish")
    snaps = []
    for p in chain:
        with open(p) as f:
            snaps.append(json.load(f))
    head = snaps[-1]
    tip = table.current_snapshot()
    if tip["snapshot_id"] != bt._fork_id:
        raise BranchConflict(
            f"main advanced to snapshot {tip['snapshot_id']} past branch "
            f"{name!r}'s fork {bt._fork_id}; drop the branch and re-branch "
            "from the new tip (published epochs stay fenced)"
        )
    pub = {k: v for k, v in head.items() if k != "branch"}
    pub["snapshot_id"] = tip["snapshot_id"] + 1
    pub["parent_id"] = tip["snapshot_id"]
    pub["added_files"] = _combined_added(snaps)
    pub["stats"] = {
        **(head.get("stats") or {}),
        "published_branch": name,
        "branch_commits": len(snaps),
    }
    if not table._try_write_snapshot(pub):
        raise BranchConflict(
            f"a commit raced the publish of branch {name!r}; drop and "
            "re-branch from the new tip"
        )
    for p in chain:
        p.unlink(missing_ok=True)
    _ref_path(table, name).unlink(missing_ok=True)
    return {
        "published": True,
        "snapshot_id": pub["snapshot_id"],
        "branch_commits": len(snaps),
    }


def drop_branch(table: LakeTable, name: str) -> dict:
    """Discard the branch: its chain, its ref, and every data file its
    chain snapshots reference that no main-chain snapshot and no other
    live branch references — the files its commits wrote, including a
    mid-branch compaction's output, which records no ``added_files``
    (a compaction rewrites, it doesn't change).  Files the branch
    re-linked from main are never touched.

    Crash-window guard: if a ``publish_branch`` CAS succeeded but the
    process died before unlinking the branch markers, the branch's
    content IS a published snapshot and its files are live — a later
    drop must only clean the markers, never the files.  This is the one
    such guard: ``wap.abort_staged`` is this drop."""
    chain = _chain_files(table, name)
    ref_p = _ref_path(table, name)
    if not (ref_p.exists() or chain):
        raise BranchError(f"no branch {name!r}")
    if chain and ref_p.exists():
        with open(ref_p) as f:
            fork_id = int(json.load(f)["fork_id"])
        pub_path = table.snap_dir / f"snapshot-{fork_id + 1:08d}.json"
        if pub_path.exists():
            with open(pub_path) as f:
                pub = json.load(f)
            if (pub.get("stats") or {}).get("published_branch") == name:
                for p in chain:
                    p.unlink(missing_ok=True)
                ref_p.unlink(missing_ok=True)
                return {"dropped": False, "files_removed": 0,
                        "reason": "branch was already published"}
    mine, _ = table._referenced(chain)
    others = [p for p in table.snap_dir.glob("branch-*.json") if p not in chain]
    live, _ = table._referenced(table._snapshot_files() + others)
    removed = 0
    for rel in sorted(mine - live):
        fp = table.path / rel
        if fp.exists():
            fp.unlink()
            removed += 1
    for p in chain:
        p.unlink(missing_ok=True)
    ref_p.unlink(missing_ok=True)
    return {"dropped": True, "files_removed": removed}
