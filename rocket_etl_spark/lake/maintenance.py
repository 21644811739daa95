"""Lake maintenance: compaction, tombstone GC, snapshot expiry.

Copy-on-write MERGEs leave two kinds of debt at scale: many small files
per bucket (one per commit that touched it) and delete tombstones that
never expire.  Compaction rewrites buckets into one file each and drops
tombstones older than a caller-supplied watermark; snapshot expiry
deletes unreachable snapshots and any data files no surviving snapshot
references (Iceberg's expire_snapshots + remove_orphan_files, locally).

Tombstone-drop safety: a tombstone for key K with seq S guards against
upserts of K with seq < S arriving LATER.  Once the stream's replay
position (low-watermark of any possible redelivery) has passed S, the
tombstone can never matter again and is droppable.  The caller owns the
watermark — typically min(checkpoint offsets) over all consumers.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from rocket_etl_spark.lake.planner import (
    attach_file_metadata,
    bucket_of,
    delta_files,
    evolved_layouts,
    file_count,
    layouts,
    legacy_layouts,
    legacy_probe_cols,
    legacy_touched,
    select_files,
    update_buckets,
    written_files,
)
from rocket_etl_spark.lake.table import LakeTable, child_snapshot

# How often a maintenance writer (compact, rebucket, evolve_buckets,
# rollback) retries a lost snapshot CAS from the new tip before it gives
# up.  Each retry recomputes its input from the snapshot it reads, so no
# work is ever stale-committed; raising on the FIRST loss would abort a
# live ``replay_stream(compact_every=N)`` whenever an epoch commit raced a
# mid-stream compaction, and retrying forever would livelock — with an
# orphaned rewrite per attempt — against a stream that commits faster
# than one rewrite completes.
CAS_RETRIES = 5


def _retry_cas(what: str, attempt) -> dict:
    """Run ``attempt()`` until it returns a result (None: CAS lost)."""
    for _ in range(CAS_RETRIES + 1):
        res = attempt()
        if res is not None:
            return res
    raise RuntimeError(
        f"{what} lost the snapshot CAS {CAS_RETRIES + 1} times in a row — "
        "writers are committing faster than it completes; retry when the "
        "table quiesces (each lost rewrite left an age-guarded orphan dir)"
    )


def compact(
    table: LakeTable,
    tombstone_watermark: int | None = None,
    min_files: int = 2,
    buckets: list[int] | None = None,
    migrate_legacy: bool = False,
) -> dict:
    """Rewrite fragmented buckets to one file each; drop droppable
    tombstones.

    SELECTIVE by default: only buckets holding >= ``min_files`` data files
    are rewritten (Iceberg's binpack rewrite_data_files shape), so
    compaction cost scales with fragmentation, not table size — the
    property that keeps a 100 TB table maintainable when the broadcast
    MERGE's keep path adds a few files per touched bucket per epoch.
    A tombstone purge (``tombstone_watermark`` given) rewrites every
    populated bucket, since any single file may hold droppable
    tombstones.  Explicit ``buckets`` overrides both selections.

    Returns {'snapshot_id', 'files_before', 'files_after',
    'tombstones_dropped', 'buckets_rewritten'}.  Partition-parallel: each
    bucket's rewrite is one task (repartition by the bucket column), no
    driver data path.

    Concurrency: losing the snapshot CAS to a concurrent writer RETRIES
    from the new tip, at most ``CAS_RETRIES`` times; the orphaned rewrite
    files of a lost attempt are removed later by age-guarded
    ``expire_snapshots``.

    The output files get decide-scan metadata attached — ``kr`` zone
    maps (footer stats, free) and key blooms (bounded by the per-file
    row cap) — which MERGE commits already carry, so the LARGEST files
    stay prunable too.
    """
    return _retry_cas("compaction", lambda: _compact_once(
        table, tombstone_watermark, min_files, buckets, migrate_legacy,
    ))


def _compact_once(
    table: LakeTable,
    tombstone_watermark: int | None,
    min_files: int,
    buckets: list[int] | None,
    migrate_legacy: bool,
) -> dict | None:
    snap = table.current_snapshot()
    cur, *legacy = layouts(snap)
    legacy = [lay for lay in legacy if any(lay.buckets.values())]
    files_before = file_count(snap)
    if buckets is not None:
        cand = sorted(int(b) for b in buckets)
    elif tombstone_watermark is not None:
        cand = sorted(int(b) for b, fl in cur.buckets.items() if fl)
    else:
        cand = sorted(int(b) for b, fl in cur.buckets.items() if len(fl) >= min_files)

    # which RETIRED-layout buckets must be read (and thereby migrated to
    # the current spec)?
    # * migrate_legacy: all of them — the bulk "finish the migration"
    #   pass, O(unmigrated data) because cand may be empty;
    # * folding delta files while legacy layouts exist: a delta key's
    #   base row may live under a retired layout, and folding the delta
    #   into a current-spec base file WITHOUT migrating that base would
    #   leave the key live under two specs (duplicate rows).  A slim
    #   key-column scan of the delta files alone finds the legacy
    #   buckets those keys hash to — migration cost stays O(delta keys'
    #   legacy buckets), not O(legacy).
    leg_sel: dict[int, list[int]] = {}
    if legacy and migrate_legacy:
        leg_sel = {
            lay.spec_id: sorted(int(b) for b, fl in lay.buckets.items() if fl)
            for lay in legacy
        }
    elif legacy and cand:
        deltas = delta_files(snap)
        delta_rel = {fe["path"] for b in cand for fe in deltas.get(b, [])}
        if delta_rel:
            dkeys = (
                table.read_plan(
                    select_files(snap, cand, {}, paths=delta_rel), snap,
                    include_tombstones=True,
                )
                .select(*snap["key_cols"])
                .distinct()
            )
            leg_sel = legacy_touched(
                snap, dkeys.select(*legacy_probe_cols(snap)).distinct().collect()
            )

    if not cand and not leg_sel:
        return {
            "snapshot_id": snap["snapshot_id"],
            "files_before": files_before,
            "files_after": files_before,
            "tombstones_dropped": 0,
            "buckets_rewritten": 0,
            "legacy_buckets_migrated": 0,
        }

    df = table.read_plan(select_files(snap, cand, leg_sel), snap, include_tombstones=True)
    order_col = snap["order_col"]
    if tombstone_watermark is not None:
        keep = ~F.coalesce(F.col("_deleted"), F.lit(False)) | (
            F.col(order_col) >= tombstone_watermark
        )
        dropped = df.filter(~keep).count()
        df = df.filter(keep)
    else:
        dropped = 0

    # uuid suffix (like merge's commit tags): two RACING compactions may
    # both target snapshot n+1 — a deterministic dir name would have them
    # interleave writes into the same directory
    import uuid

    commit_tag = f"compact-{snap['snapshot_id'] + 1:08d}-{uuid.uuid4().hex[:8]}"
    out_dir_rel = f"data/{commit_tag}"
    out_dir = table.path / out_dir_rel
    shaped = df.withColumn(
        "_bucket", bucket_of(snap["key_cols"], int(snap["num_buckets"]))
    ).repartition(
        max(len(cand) + sum(len(v) for v in leg_sel.values()), 1), "_bucket"
    )
    shaped.write.partitionBy("_bucket").parquet(str(out_dir))
    # rewritten buckets get the new file (or [] when a purge emptied the
    # bucket) and the migrated retired buckets empty out; rows MIGRATED
    # out of a retired layout may scatter into buckets outside ``cand``
    # and append there.  Decide-scan metadata for the new base files is
    # built under the schema of the snapshot we compacted (not the
    # possibly moved tip).
    from rocket_etl_spark.schema.registry import TableSchema

    written = written_files(table.path, out_dir_rel, snap["current_schema_version"])
    schema = TableSchema.from_json(snap["schemas"][str(snap["current_schema_version"])])
    attach_file_metadata(table.path, written, schema, snap["key_cols"])
    new_snap = child_snapshot(
        snap,
        **update_buckets(snap, written, rewritten=cand, legacy_rewritten=leg_sel),
        # a compaction rewrites, it doesn't change: no changelog contribution
        added_files={},
        stats={"compacted": True, "tombstones_dropped": int(dropped)},
    )
    if not table._try_write_snapshot(new_snap):
        return None  # CAS lost — caller retries from the new tip
    return {
        "snapshot_id": new_snap["snapshot_id"],
        "files_before": files_before,
        "files_after": file_count(new_snap),
        "tombstones_dropped": int(dropped),
        "buckets_rewritten": len(cand),
        "legacy_buckets_migrated": sum(len(v) for v in leg_sel.values()),
    }


def rollback(table: LakeTable, snapshot_id: int) -> dict:
    """Restore ``snapshot_id``'s state as a NEW tip snapshot (Iceberg
    ``rollback_to_snapshot``): pure metadata — the target's file list is
    re-linked, no data moves, O(1) regardless of table size.  Pairs with
    tags: ``rollback(t, resolve_tag(t, "last-known-good"))``.

    Semantics, chosen for the CDC recovery story:

    * **Fences revert to the target's.**  Epochs committed after the
      target become uncommitted again, so a corrected upstream can
      re-deliver them and the exactly-once fence re-applies them — that
      is the point of rolling back.  (Consequently the duplicate guard
      for those epochs is deliberately gone; do not roll back while the
      ORIGINAL bad epochs can still arrive.)
    * **The changelog skips rollbacks** — like compaction, the commit
      adds no files, so ``changes()`` across it reports nothing.
      Downstream incremental consumers must recompute from the rollback
      target (``lake.materialized`` recompute path); a state DIFF would
      be a full-table join, which a 100 TB rollback exists to avoid.
    * **Ancestors only**: the target must be on the current tip's
      ancestry (a CAS-losing orphan snapshot's fences/files were never
      published state — resurrecting them would be corruption, the same
      rule Iceberg enforces).

    History is preserved (the rolled-back-from tip stays retained until
    expiry — roll forward by rolling back to it).  A lost snapshot CAS
    retries from the new tip, at most ``CAS_RETRIES`` times."""
    def attempt() -> dict | None:
        tip = table.current_snapshot()
        if tip["snapshot_id"] == snapshot_id:
            return {"rolled_back": False, "reason": "target is already the tip"}
        # the chain is LINEAR by construction — the snapshot CAS admits
        # exactly one winner per id and losers never create a file — so
        # every retained snapshot with a smaller id IS an ancestor (even
        # across expiry holes, e.g. a tagged pin older than keep_last)
        if snapshot_id > tip["snapshot_id"]:
            raise ValueError(
                f"snapshot {snapshot_id} is newer than the current tip "
                f"{tip['snapshot_id']} — cannot roll back to it"
            )
        try:
            target = table.snapshot(snapshot_id)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot {snapshot_id} is not retained (expired?) — "
                f"cannot roll back to it"
            )
        new_snap = child_snapshot(
            target,
            snapshot_id=tip["snapshot_id"] + 1,
            parent_id=tip["snapshot_id"],
            added_files={},
            stats={"rollback_of": snapshot_id, "rolled_back_from": tip["snapshot_id"]},
        )
        if not table._try_write_snapshot(new_snap):
            return None
        return {
            "rolled_back": True,
            "snapshot_id": new_snap["snapshot_id"],
            "restored": snapshot_id,
            "undone_snapshots": tip["snapshot_id"] - snapshot_id,
        }

    return _retry_cas("rollback", attempt)


def table_stats(table: LakeTable) -> dict:
    """Operational summary from metadata alone — snapshot JSON + parquet
    footers, no Spark job, no data pages read (Iceberg reads the same
    numbers from its manifests).  ``total_rows`` includes tombstone rows;
    ``fragmented_buckets`` is what the default selective ``compact``
    would rewrite."""
    import pyarrow.parquet as pq

    def rows(fl: list[dict]) -> int:
        return sum(pq.read_metadata(str(table.path / fe["path"])).num_rows for fe in fl)

    snap = table.current_snapshot()
    cur, *legacy = layouts(snap)
    sizes = [len(fl) for fl in cur.buckets.values()]
    legacy_lists = [fl for lay in legacy for fl in lay.buckets.values()]
    legacy_files = sum(len(fl) for fl in legacy_lists)
    legacy_rows = sum(rows(fl) for fl in legacy_lists)
    depths = [len(fl) for fl in delta_files(snap).values()]
    return {
        "snapshot_id": snap["snapshot_id"],
        "num_buckets": cur.num_buckets,
        "schema_version": snap["current_schema_version"],
        "populated_buckets": sum(1 for n in sizes if n),
        "total_files": file_count(snap),
        "total_rows": sum(rows(fl) for fl in cur.buckets.values()) + legacy_rows,
        "max_files_per_bucket": max(sizes, default=0),
        "fragmented_buckets": sum(1 for n in sizes if n >= 2),
        # merge-on-read debt: delta files awaiting a compaction fold;
        # max_delta_depth bounds the per-key read amplification
        "delta_files": sum(depths),
        "max_delta_depth": max(depths, default=0),
        # bucket-spec-evolution debt: files still under retired layouts,
        # shrinking as MERGEs migrate matched files / compact() bulk-moves
        "spec_id": cur.spec_id,
        "legacy_layouts": len(legacy),
        "legacy_files": legacy_files,
        "legacy_rows": legacy_rows,
    }


def rebucket(table: LakeTable, new_num_buckets: int) -> dict:
    """Rewrite the table into ``new_num_buckets`` hash buckets (snapshot-
    committed full rewrite — Iceberg's REPLACE PARTITION FIELD + rewrite).

    Bucket count fixes the unit of copy-on-write: a table created small
    (say 16 buckets) that grows to billions of keys rewrites ~1/16th of
    itself per MERGE epoch.  Rebucketing to O(table_size / target_bucket
    _bytes) restores commit cost ∝ change-set size.  The rewrite itself is
    one shuffle, partition-parallel, no driver data path; readers keep
    resolving old snapshots (their num_buckets rides each snapshot).

    Losing the snapshot CAS retries from the new tip, at most
    ``CAS_RETRIES`` times (the input is recomputed, the lost attempt's
    files are age-guarded orphans)."""
    return _retry_cas("rebucket", lambda: _rebucket_once(table, new_num_buckets))


def _rebucket_once(table: LakeTable, new_num_buckets: int) -> dict | None:
    import uuid

    snap = table.current_snapshot()
    if int(snap["num_buckets"]) == new_num_buckets:
        return {"snapshot_id": snap["snapshot_id"], "rebucketed": False}
    df = table.read_plan(select_files(snap), snap, include_tombstones=True)
    keys = snap["key_cols"]

    commit_tag = f"rebucket-{snap['snapshot_id'] + 1:08d}-{uuid.uuid4().hex[:8]}"
    out_dir_rel = f"data/{commit_tag}"
    out_dir = table.path / out_dir_rel
    (
        df.withColumn("_bucket", bucket_of(keys, new_num_buckets))
        .repartition(new_num_buckets, "_bucket")
        .write.partitionBy("_bucket")
        .parquet(str(out_dir))
    )
    written = written_files(table.path, out_dir_rel, snap["current_schema_version"])
    new_snap = child_snapshot(
        snap,
        num_buckets=new_num_buckets,
        # a full rewrite starts a fresh spec and absorbs every retired
        # layout (the read above included them)
        spec_id=int(snap.get("spec_id", 0)) + 1,
        buckets={str(b): fl for b, fl in written.items()},
        legacy=None,
        added_files={},  # a rewrite, not a logical change
        stats={"rebucketed_from": int(snap["num_buckets"])},
    )
    if not table._try_write_snapshot(new_snap):
        return None  # CAS lost — caller retries from the new tip
    return {
        "snapshot_id": new_snap["snapshot_id"],
        "rebucketed": True,
        "num_buckets": new_num_buckets,
    }


def evolve_buckets(table: LakeTable, new_num_buckets: int) -> dict:
    """Change the table's bucket count WITHOUT rewriting any data —
    Iceberg partition-spec evolution, the move ``rebucket`` cannot make
    at scale (a 100 TB table cannot be rewritten to grow its hash
    width; its metadata can be rewritten in O(1)).

    The commit is metadata-only: the current layout is retired into the
    snapshot's ``legacy`` list (``lake.table.legacy_layouts``) and the
    tip starts an empty layout under ``new_num_buckets`` with a fresh
    ``spec_id``.  From then on:

    * new writes (MERGE changed rows, appends, MOR deltas) route by the
      NEW spec;
    * reads union the current layout with every legacy layout; pruned
      reads (MERGE decide, point lookup) probe each retired spec with
      the key's bucket under THAT spec, so pruning survives evolution;
    * a copy-on-write MERGE that matches a legacy file rewrites ALL of
      that file's rows into current-spec buckets — gradual migration as
      a free side effect of normal ingestion;
    * ``compact(migrate_legacy=True)`` bulk-migrates whatever remains,
      at a cost proportional to the UNMIGRATED data only.

    Refuses while merge-on-read delta files exist (``compact()`` first):
    a delta's key may shadow a base row, and retiring the layout would
    put base and delta under different specs with no fold boundary —
    the same mode-transition rule the COW MERGE enforces.  A lost
    snapshot CAS retries from the new tip, at most ``CAS_RETRIES`` times.
    """

    def attempt() -> dict | None:
        snap = table.current_snapshot()
        if int(snap["num_buckets"]) == int(new_num_buckets):
            return {"snapshot_id": snap["snapshot_id"], "evolved": False}
        if delta_files(snap):
            raise ValueError(
                "cannot evolve the bucket spec over merge-on-read deltas: "
                "compact() the table first so every key has exactly one "
                "live row under the retiring layout"
            )
        new_snap = child_snapshot(
            snap,
            **evolved_layouts(snap, new_num_buckets),
            added_files={},  # a spec change, not a logical change
            stats={"evolved_from": int(snap["num_buckets"])},
        )
        if not table._try_write_snapshot(new_snap):
            return None
        return {
            "snapshot_id": new_snap["snapshot_id"],
            "evolved": True,
            "num_buckets": int(new_num_buckets),
            "spec_id": new_snap["spec_id"],
            "legacy_layouts": len(legacy_layouts(new_snap)),
        }

    return _retry_cas("bucket-spec evolution", attempt)


def expire_snapshots(
    table: LakeTable, keep_last: int = 2, orphan_min_age_s: float = 3600.0,
    dry_run: bool = False,
) -> dict:
    """Delete snapshots older than the newest ``keep_last`` and any data
    files no surviving snapshot references.  Time-travel to expired
    snapshots stops working (by design).

    A file referenced by an *expired* snapshot is deletable immediately
    (it was committed; only history pointed at it).  A file referenced by
    NO snapshot at all may be an in-flight commit's output (written
    pre-CAS) — deleting it would corrupt that commit if it wins — so
    true orphans are only removed once older than ``orphan_min_age_s``
    (Iceberg's remove_orphan_files age-guard, default 3 days there).

    TAGGED snapshots (``lake.metadata.create_tag`` — named refs like
    "last-known-good") never expire regardless of age: their snapshot
    JSON and, transitively, the files they reference survive until the
    tag is dropped — Iceberg's ref-retention rule.  A live branch
    (lake/branch.py, which also holds every staged write–audit–publish
    commit, lake/wap.py) pins its fork snapshot the same way, and the
    files and manifests its chain references survive until it is
    published or dropped.

    ``dry_run=True`` deletes nothing and reports what WOULD go
    (snapshots_removed / files_removed / a bounded ``sample`` of doomed
    paths) — the operational pre-flight before pointing an aggressive
    retention policy at a production table."""
    snaps = table._snapshot_files()
    if len(snaps) <= keep_last:
        keep, drop = snaps, []  # nothing expires; orphan GC still runs
    else:
        keep, drop = snaps[-keep_last:], snaps[:-keep_last]

    import json
    import re as _re
    import time as _time

    from rocket_etl_spark.lake.metadata import list_tags

    tagged_ids = set(list_tags(table).values())
    # a LIVE branch's fork snapshot is load-bearing even before the
    # branch's first commit (the branch head resolves to the fork):
    # expiring it would GC data files the branch still references.  Pin
    # every live branch's fork id exactly like a tag until the branch is
    # published or dropped.
    for ref_p in table.snap_dir.glob("branchref-*.json"):
        try:
            with open(ref_p) as f:
                tagged_ids.add(int(json.load(f)["fork_id"]))
        except (OSError, ValueError, KeyError):
            continue
    if tagged_ids and drop:
        def _sid(p):
            m = _re.search(r"snapshot-(\d+)\.json$", p.name)
            return int(m.group(1)) if m else None

        pinned = [p for p in drop if _sid(p) in tagged_ids]
        keep = pinned + keep
        drop = [p for p in drop if _sid(p) not in tagged_ids]

    # live BRANCHES (lake/branch.py — WAP stages included) reference
    # freshly-written data files that no published snapshot knows yet —
    # protect them until published or dropped
    live_refs, live_mans = table._referenced(keep)
    branch_refs, branch_mans = table._referenced(
        list(table.snap_dir.glob("branch-*.json"))
    )
    referenced = live_refs | branch_refs
    live_mans |= branch_mans
    expired_refs, expired_mans = table._referenced(drop)

    now = _time.time()
    files_removed = 0
    doomed: list[str] = []
    for data_file in (table.path / "data").rglob("*.parquet"):
        rel = str(data_file.relative_to(table.path))
        if rel in referenced:
            continue
        if rel in expired_refs or now - data_file.stat().st_mtime >= orphan_min_age_s:
            if dry_run:
                if len(doomed) < 20:
                    doomed.append(rel)
                files_removed += 1
                continue
            data_file.unlink()
            files_removed += 1
    # manifest GC mirrors the data-file rule exactly: a manifest is
    # CONTENT-addressed and may be shared by many snapshots (expired and
    # live), so only manifests referenced by NO surviving snapshot go —
    # immediately when an expired snapshot referenced them, age-guarded
    # when nothing references them at all (an in-flight commit may have
    # durably written its manifests just before its snapshot CAS).
    manifests_removed = 0
    if table.man_dir.exists():
        for man_file in table.man_dir.glob("man-*.json"):
            if man_file.name in live_mans:
                continue
            if (
                man_file.name in expired_mans
                or now - man_file.stat().st_mtime >= orphan_min_age_s
            ):
                manifests_removed += 1
                if not dry_run:
                    table._unlink_manifest(man_file.name)
    if dry_run:
        return {
            "snapshots_removed": len(drop),
            "files_removed": files_removed,
            "manifests_removed": manifests_removed,
            "dry_run": True,
            "sample": doomed,
        }
    # prune now-empty commit dirs
    for d in sorted((table.path / "data").glob("*"), reverse=True):
        if d.is_dir() and not any(d.rglob("*.parquet")):
            import shutil

            shutil.rmtree(d, ignore_errors=True)

    for p in drop:
        p.unlink()
    return {
        "snapshots_removed": len(drop),
        "files_removed": files_removed,
        "manifests_removed": manifests_removed,
    }
