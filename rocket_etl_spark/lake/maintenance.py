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
    legacy_layouts,
    legacy_probe_cols,
    legacy_touched,
    written_files,
)
from rocket_etl_spark.lake.table import LakeTable


def compact(
    table: LakeTable,
    tombstone_watermark: int | None = None,
    min_files: int = 2,
    buckets: list[int] | None = None,
    max_retries: int = 5,
    sort_cols: list[str] | None = None,
    target_file_rows: int | None = None,
    migrate_legacy: bool = False,
    zorder: bool = False,
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
    from the new tip (bounded by ``max_retries``) — compaction's input is
    recomputed from the snapshot it reads, so no work is ever
    stale-committed; the orphaned rewrite files of the lost attempt are
    removed later by age-guarded ``expire_snapshots``.  (Raising on the
    FIRST loss — as an earlier version did — would abort a live
    ``replay_stream(compact_every=N)`` whenever an epoch commit raced a
    mid-stream compaction; retrying forever would livelock, with an
    orphaned rewrite per attempt, against a stream that commits faster
    than one rewrite completes — hence the cap.)

    ``sort_cols`` (typically the table's key columns) CLUSTERS each
    rewritten bucket: rows are sorted within the bucket and split into
    files of ``target_file_rows`` each, so every output file covers a
    disjoint key slice — Iceberg's sort-order rewrite.  Combined with
    the zone maps this pass attaches to its output (below), a later
    copy-on-write MERGE's decide scan prunes the big base files to just
    the slices its winner keys can touch, instead of re-reading the
    whole bucket every epoch.  Unsorted compaction (the default) keeps
    one file per bucket.

    Either way the output files get decide-scan metadata attached —
    ``kr`` zone maps (footer stats, free) and key blooms (bounded by the
    per-file row cap) — which MERGE commits already carry but compaction
    previously stripped, leaving exactly the LARGEST files unprunable.
    """
    for _ in range(max_retries + 1):
        res = _compact_once(
            table, tombstone_watermark, min_files, buckets, sort_cols,
            target_file_rows, migrate_legacy, zorder,
        )
        if res is not None:
            return res
    raise RuntimeError(
        f"compaction lost the snapshot CAS {max_retries + 1} times in a row — "
        "writers are committing faster than the rewrite completes; retry when "
        "the table quiesces (each lost attempt left an age-guarded orphan dir)"
    )


_Z_BITS = 8  # rank resolution per z-column: 256 quantile bins
_Z_SAMPLE_FRACTION = 0.02
_Z_SAMPLE_CAP = 50_000


def _zvalue_expr(df, cols):
    """Bit-interleaved Z-value over per-column approximate ranks.

    Ranks come from sample-derived quantile boundaries (the same
    sample-based range partitioning Delta's OPTIMIZE ZORDER and Spark's
    own RangePartitioner use): per column, up to 2^_Z_BITS - 1 sorted
    boundary literals; a row's rank = count of boundaries <= value — a
    codegen'd O(bins) comparison fold, order-preserving for ANY
    comparable dtype (strings included, which rules out width_bucket).
    The bits of the k ranks interleave MSB-first into one integer whose
    sort order traverses the space-filling Z-curve.  Sampling skew only
    degrades clustering BALANCE, never correctness — the residual
    predicate always re-applies.  Returns None when the sample is too
    degenerate to build boundaries (empty/constant table)."""
    k = len(cols)
    sample = (
        df.select(*cols)
        .sample(False, _Z_SAMPLE_FRACTION, seed=7)
        .limit(_Z_SAMPLE_CAP)
        .collect()
    )
    if len(sample) < 4:
        sample = df.select(*cols).limit(_Z_SAMPLE_CAP).collect()
    ranks = []
    n_bins = 1 << _Z_BITS
    for i, c in enumerate(cols):
        vals = sorted(r[i] for r in sample if r[i] is not None)
        if not vals:
            return None
        bounds = []
        for j in range(1, n_bins):
            b = vals[min(len(vals) - 1, (j * len(vals)) // n_bins)]
            if not bounds or b != bounds[-1]:
                bounds.append(b)
        if not bounds:
            return None
        rank = sum(
            (F.when(F.col(c) >= F.lit(b), 1).otherwise(0) for b in bounds),
            F.lit(0),
        )
        # stretch deduplicated boundaries back over the full bit range so
        # every column contributes across all _Z_BITS interleave slots
        ranks.append(((rank * (n_bins - 1)) / F.lit(len(bounds))).cast("int"))
    z = F.lit(0)
    for bit in range(_Z_BITS - 1, -1, -1):
        for i, r in enumerate(ranks):
            pos = bit * k + (k - 1 - i)
            z = z + F.shiftleft(F.shiftright(r, bit).bitwiseAND(F.lit(1)), pos)
    return z


def _compact_once(
    table: LakeTable,
    tombstone_watermark: int | None,
    min_files: int,
    buckets: list[int] | None,
    sort_cols: list[str] | None = None,
    target_file_rows: int | None = None,
    migrate_legacy: bool = False,
    zorder: bool = False,
) -> dict | None:
    snap = table.current_snapshot()
    legacy = [l for l in legacy_layouts(snap) if any(l["buckets"].values())]
    files_before = sum(len(v) for v in snap["buckets"].values()) + sum(
        len(v) for l in legacy for v in l["buckets"].values()
    )
    if buckets is not None:
        cand = sorted(int(b) for b in buckets)
    elif tombstone_watermark is not None:
        cand = sorted(int(b) for b, fl in snap["buckets"].items() if fl)
    else:
        cand = sorted(int(b) for b, fl in snap["buckets"].items() if len(fl) >= min_files)

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
            int(l["spec_id"]): sorted(int(b) for b, fl in l["buckets"].items() if fl)
            for l in legacy
        }
    elif legacy and cand:
        deltas = delta_files(snap)
        delta_rel = {fe["path"] for b in cand for fe in deltas.get(b, [])}
        if delta_rel:
            dkeys = (
                table.read(
                    buckets=cand, include_tombstones=True,
                    file_subset=delta_rel, legacy_buckets={},
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

    df = table.read(buckets=cand, include_tombstones=True, legacy_buckets=leg_sel)
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
    shaped = df.withColumn("_bucket", table.bucket_expr()).repartition(
        max(len(cand) + sum(len(v) for v in leg_sel.values()), 1), "_bucket"
    )
    if sort_cols and zorder and len(sort_cols) >= 2:
        # Z-ORDER cluster (Delta OPTIMIZE ZORDER / Iceberg sort-order
        # with interleave): lexicographic sort gives tight zone maps
        # only on the LEADING column — each slice spans nearly the full
        # domain of every later column, so range pruning on them is
        # dead.  Interleaving the bits of per-column ranks makes every
        # file cover a balanced hyper-rectangle: min/max stays tight on
        # ALL the z-columns at once, at the cost of slightly looser
        # leading-column ranges.
        zcol = _zvalue_expr(df, sort_cols)
        if zcol is not None:
            shaped = (
                shaped.withColumn("_z", zcol)
                .sortWithinPartitions("_bucket", "_z")
                .drop("_z")
            )
        else:  # degenerate sample (empty/constant table) — linear sort
            shaped = shaped.sortWithinPartitions("_bucket", *sort_cols)
    elif sort_cols:
        # cluster the bucket: contiguous key slices per output file, so
        # the attached zone maps carry tight disjoint ranges
        shaped = shaped.sortWithinPartitions("_bucket", *sort_cols)
    writer = shaped.write.partitionBy("_bucket")
    if target_file_rows:
        writer = writer.option("maxRecordsPerFile", int(target_file_rows))
    writer.parquet(str(out_dir))
    # untouched buckets keep their existing file lists; rewritten ones get
    # the new single file (or [] when a purge emptied the bucket).  Rows
    # MIGRATED out of a retired layout may scatter into buckets outside
    # ``cand`` — those append (their keys had no current-spec row).
    # untouched buckets keep their (manifest-marked) lists by reference —
    # never mutated, only replaced below — so the commit re-serializes
    # only the rewritten buckets' manifests
    new_buckets: dict[str, list] = {
        b: fl for b, fl in snap["buckets"].items() if int(b) not in set(cand)
    }
    for b in cand:
        new_buckets[str(b)] = []
    written = written_files(table.path, out_dir_rel, snap["current_schema_version"])
    for b, fl in written.items():
        new_buckets[str(b)] = fl if b in set(cand) else new_buckets.get(str(b), []) + fl
    # decide-scan metadata for the rewritten base files, under the schema
    # of the snapshot we compacted (not the possibly moved tip)
    from rocket_etl_spark.schema.registry import TableSchema

    schema = TableSchema.from_json(snap["schemas"][str(snap["current_schema_version"])])
    attach_file_metadata(table.path, written, schema, snap["key_cols"])

    # retired layouts: drop the buckets this pass migrated; a layout with
    # nothing left disappears (fully-migrated tables lose the section)
    new_legacy = []
    for layout in legacy:
        migrated = set(leg_sel.get(int(layout["spec_id"]), []))
        kept = {
            bb: fl
            for bb, fl in layout["buckets"].items()
            if int(bb) not in migrated and fl
        }
        if kept:
            new_legacy.append({**layout, "buckets": kept})

    new_snap = dict(snap)
    new_snap["snapshot_id"] = snap["snapshot_id"] + 1
    new_snap["parent_id"] = snap["snapshot_id"]
    new_snap["epoch_id"] = None
    new_snap["buckets"] = new_buckets
    if new_legacy:
        new_snap["legacy"] = new_legacy
    else:
        new_snap.pop("legacy", None)
    # a compaction rewrites, it doesn't change: no changelog contribution
    new_snap["added_files"] = {}
    new_snap["stats"] = {"compacted": True, "tombstones_dropped": int(dropped)}
    if not table._try_write_snapshot(new_snap):
        return None  # CAS lost — caller retries from the new tip
    return {
        "snapshot_id": new_snap["snapshot_id"],
        "files_before": files_before,
        "files_after": sum(len(v) for v in new_buckets.values())
        + sum(len(v) for l in new_legacy for v in l["buckets"].values()),
        "tombstones_dropped": int(dropped),
        "buckets_rewritten": len(cand),
        "legacy_buckets_migrated": sum(len(v) for v in leg_sel.values()),
    }


def rollback(table: LakeTable, snapshot_id: int, max_retries: int = 5) -> dict:
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
    expiry — roll forward by rolling back to it)."""
    import json as _json

    for _ in range(max_retries + 1):
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
        new_snap = {
            **_json.loads(_json.dumps(target)),  # deep copy
            "snapshot_id": tip["snapshot_id"] + 1,
            "parent_id": tip["snapshot_id"],
            "epoch_id": None,
            "app_id": None,
            "added_files": {},
            "stats": {
                "rollback_of": snapshot_id,
                "rolled_back_from": tip["snapshot_id"],
            },
        }
        if table._try_write_snapshot(new_snap):
            return {
                "rolled_back": True,
                "snapshot_id": new_snap["snapshot_id"],
                "restored": snapshot_id,
                "undone_snapshots": tip["snapshot_id"] - snapshot_id,
            }
    raise RuntimeError(
        f"rollback lost the snapshot CAS {max_retries + 1} times in a row"
    )


def table_stats(table: LakeTable) -> dict:
    """Operational summary from metadata alone — snapshot JSON + parquet
    footers, no Spark job, no data pages read (Iceberg reads the same
    numbers from its manifests).  ``total_rows`` includes tombstone rows;
    ``fragmented_buckets`` is what the default selective ``compact``
    would rewrite."""
    import pyarrow.parquet as pq

    snap = table.current_snapshot()
    files = 0
    rows = 0
    max_files = 0
    fragmented = 0
    for fl in snap["buckets"].values():
        files += len(fl)
        max_files = max(max_files, len(fl))
        if len(fl) >= 2:
            fragmented += 1
        for fe in fl:
            rows += pq.read_metadata(str(table.path / fe["path"])).num_rows
    depths = [len(fl) for fl in delta_files(snap).values()]
    legacy_files = legacy_rows = 0
    for layout in legacy_layouts(snap):
        for fl in layout["buckets"].values():
            legacy_files += len(fl)
            for fe in fl:
                legacy_rows += pq.read_metadata(str(table.path / fe["path"])).num_rows
    files += legacy_files
    rows += legacy_rows
    return {
        "snapshot_id": snap["snapshot_id"],
        "num_buckets": int(snap["num_buckets"]),
        "schema_version": snap["current_schema_version"],
        "populated_buckets": sum(1 for fl in snap["buckets"].values() if fl),
        "total_files": files,
        "total_rows": rows,
        "max_files_per_bucket": max_files,
        "fragmented_buckets": fragmented,
        # merge-on-read debt: delta files awaiting a compaction fold;
        # max_delta_depth bounds the per-key read amplification
        "delta_files": sum(depths),
        "max_delta_depth": max(depths, default=0),
        # bucket-spec-evolution debt: files still under retired layouts,
        # shrinking as MERGEs migrate matched files / compact() bulk-moves
        "spec_id": int(snap.get("spec_id", 0)),
        "legacy_layouts": len(legacy_layouts(snap)),
        "legacy_files": legacy_files,
        "legacy_rows": legacy_rows,
    }


def rebucket(table: LakeTable, new_num_buckets: int, max_retries: int = 5) -> dict:
    """Rewrite the table into ``new_num_buckets`` hash buckets (snapshot-
    committed full rewrite — Iceberg's REPLACE PARTITION FIELD + rewrite).

    Bucket count fixes the unit of copy-on-write: a table created small
    (say 16 buckets) that grows to billions of keys rewrites ~1/16th of
    itself per MERGE epoch.  Rebucketing to O(table_size / target_bucket
    _bytes) restores commit cost ∝ change-set size.  The rewrite itself is
    one shuffle, partition-parallel, no driver data path; readers keep
    resolving old snapshots (their num_buckets rides each snapshot).

    Losing the snapshot CAS retries from the new tip, bounded (same
    rationale and livelock cap as ``compact`` — the input is recomputed,
    the lost attempt's files are age-guarded orphans)."""
    for _ in range(max_retries + 1):
        res = _rebucket_once(table, new_num_buckets)
        if res is not None:
            return res
    raise RuntimeError(
        f"rebucket lost the snapshot CAS {max_retries + 1} times in a row — "
        "retry when the table quiesces"
    )


def _rebucket_once(table: LakeTable, new_num_buckets: int) -> dict | None:
    import uuid

    snap = table.current_snapshot()
    if int(snap["num_buckets"]) == new_num_buckets:
        return {"snapshot_id": snap["snapshot_id"], "rebucketed": False}
    df = table.read(include_tombstones=True)
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
    new_buckets = {
        str(b): fl
        for b, fl in written_files(
            table.path, out_dir_rel, snap["current_schema_version"]
        ).items()
    }
    new_snap = dict(snap)
    new_snap["snapshot_id"] = snap["snapshot_id"] + 1
    new_snap["parent_id"] = snap["snapshot_id"]
    new_snap["epoch_id"] = None
    new_snap["num_buckets"] = new_num_buckets
    new_snap["buckets"] = new_buckets
    # a full rewrite starts a fresh spec and absorbs every retired layout
    # (the read above included them)
    new_snap["spec_id"] = int(snap.get("spec_id", 0)) + 1
    new_snap.pop("legacy", None)
    new_snap["added_files"] = {}  # a rewrite, not a logical change
    new_snap["stats"] = {"rebucketed_from": int(snap["num_buckets"])}
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
    the same mode-transition rule the COW MERGE enforces.
    """
    snap = table.current_snapshot()
    while True:
        if int(snap["num_buckets"]) == int(new_num_buckets):
            return {"snapshot_id": snap["snapshot_id"], "evolved": False}
        if delta_files(snap):
            raise ValueError(
                "cannot evolve the bucket spec over merge-on-read deltas: "
                "compact() the table first so every key has exactly one "
                "live row under the retiring layout"
            )
        old_spec_id = int(snap.get("spec_id", 0))
        legacy = [
            layout
            for layout in (snap.get("legacy") or [])
            if any(layout["buckets"].values())
        ]
        if any(snap["buckets"].values()):
            legacy = [
                {
                    "spec_id": old_spec_id,
                    "num_buckets": int(snap["num_buckets"]),
                    "buckets": snap["buckets"],
                }
            ] + legacy
        new_snap = dict(snap)
        new_snap["snapshot_id"] = snap["snapshot_id"] + 1
        new_snap["parent_id"] = snap["snapshot_id"]
        new_snap["epoch_id"] = None
        new_snap["num_buckets"] = int(new_num_buckets)
        new_snap["spec_id"] = old_spec_id + 1
        new_snap["buckets"] = {}
        new_snap["legacy"] = legacy
        new_snap["added_files"] = {}  # a spec change, not a logical change
        new_snap["stats"] = {"evolved_from": int(snap["num_buckets"])}
        if table._try_write_snapshot(new_snap):
            return {
                "snapshot_id": new_snap["snapshot_id"],
                "evolved": True,
                "num_buckets": int(new_num_buckets),
                "spec_id": new_snap["spec_id"],
                "legacy_layouts": len(legacy),
            }
        snap = table.current_snapshot()  # CAS lost — retry from the tip


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
    tag is dropped — Iceberg's ref-retention rule.

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

    def _refs(paths):
        """(data file paths, manifest names) referenced by snapshots."""
        out: set[str] = set()
        mans: set[str] = set()

        def bucket_files(bm):
            for v in bm.values():
                if isinstance(v, str):  # manifest reference
                    mans.add(v)
                    yield from table._manifest_entries(v)
                else:
                    yield from v

        for p in paths:
            with open(p) as f:
                s = json.load(f)  # raw: refs recorded before resolving
            out.update(fe["path"] for fe in bucket_files(s["buckets"]))
            for layout in s.get("legacy") or []:
                # retired-bucket-layout files are just as live
                out.update(fe["path"] for fe in bucket_files(layout["buckets"]))
            # changelog attribution: a published-branch snapshot's
            # added_files may reference files a mid-branch compaction
            # already superseded in its buckets — ``changes()`` still
            # reads them, so they stay protected while the snapshot is
            # retained (on ordinary snapshots added ⊆ buckets: no-op)
            for files in (s.get("added_files") or {}).values():
                out.update(fe["path"] for fe in files)
        return out, mans

    # live staged commits (write-audit-publish, lake/wap.py) and live
    # BRANCHES (lake/branch.py — multi-commit staging) reference
    # freshly-written data files that no published snapshot knows yet —
    # protect them until published or dropped
    staged = (
        list(table.snap_dir.glob("staged-*.json"))
        + list(table.snap_dir.glob("branch-*.json"))
    )
    live_refs, live_mans = _refs(keep)
    staged_refs, staged_mans = _refs(staged)
    referenced = live_refs | staged_refs
    live_mans |= staged_mans
    expired_refs, expired_mans = _refs(drop)

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
