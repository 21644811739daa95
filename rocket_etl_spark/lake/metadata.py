"""Queryable metadata tables: ``snapshots`` / ``files`` / ``history``.

Iceberg exposes its manifest state as SQL-queryable metadata tables
(``tbl.snapshots``, ``tbl.files``, ``tbl.history``); operators build
their monitoring, debt dashboards, and incident forensics on them.
This module is the same surface over the local snapshot chain: each
function reads ONLY metadata — snapshot JSON plus parquet footers and
inode sizes, never data pages — and returns a small DataFrame so the
result composes with joins/filters/SQL like any other table.

Scale contract: the returned frames are metadata-sized — O(snapshots
retained) and O(live files), the same rows Iceberg's metadata tables
materialize from manifests — and are built driver-side for that reason
(a 100 TB table has ~10^5 files and ~10^4 retained snapshots; the data
itself never moves).  ``expire_snapshots`` bounds both axes.

Reference semantics: upstream rocket-etl's only introspection is job
logs; the lake-native re-expression is table-shaped observability,
matching how its CKAN datastore exposes resource metadata as queryable
rows.
"""

from __future__ import annotations

import json
import re
import time

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from rocket_etl_spark.lake.planner import describe_file, file_count, layouts
from rocket_etl_spark.lake.table import LakeTable, _cas_write

_SNAPSHOTS_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("parent_id", T.LongType(), True),
        T.StructField("epoch_id", T.LongType(), True),
        T.StructField("app_id", T.StringType(), True),
        T.StructField("operation", T.StringType(), False),
        T.StructField("committed_at", T.TimestampType(), True),
        T.StructField("schema_version", T.LongType(), True),
        T.StructField("total_files", T.LongType(), False),
        T.StructField("added_files", T.LongType(), False),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("is_current", T.BooleanType(), False),
    ]
)

_FILES_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("schema_version", T.LongType(), True),
        T.StructField("rows", T.LongType(), True),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("has_bloom", T.BooleanType(), False),
        T.StructField("bloom_bytes", T.LongType(), True),
        T.StructField("key_min", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("key_max", T.MapType(T.StringType(), T.StringType()), True),
        # bucket-spec evolution: which layout the file is laid out under
        # (spec_id of the tip = current; lower = retired, awaiting
        # migration) and that layout's bucket count
        T.StructField("spec_id", T.IntegerType(), False),
        T.StructField("spec_num_buckets", T.IntegerType(), False),
    ]
)

_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("parent_id", T.LongType(), True),
        T.StructField("epoch_id", T.LongType(), True),
        T.StructField("committed_at", T.TimestampType(), True),
        T.StructField("is_current", T.BooleanType(), False),
    ]
)


def _operation(snap: dict) -> str:
    """Classify a snapshot the way Iceberg's ``operation`` column does,
    from the stats the writers already record."""
    stats = snap.get("stats") or {}
    if "rollback_of" in stats:
        return "rollback"
    if stats.get("wiped"):
        return "overwrite"
    # before the rewrite flags: a publish inherits the branch HEAD's own
    # stats, which may carry compacted/evolved markers from the last
    # on-branch maintenance commit
    if "published_branch" in stats:
        return "publish-branch"  # fast-forward of a staged branch head
    if stats.get("compacted") or "rebucketed_from" in stats:
        return "replace"  # rewrite without logical change (compact/rebucket)
    if "evolved_from" in stats:
        return "evolve-spec"  # metadata-only bucket-spec change
    if stats.get("mor"):
        return "delta-append"
    if stats.get("appended"):
        return "append"
    if "rows_total" in stats:
        return "create"
    return "merge"


def _committed_at(snap: dict):
    """Commit time: the durable ``committed_at_ms`` the CAS stamps
    (table.py)."""
    from datetime import datetime, timezone

    return datetime.fromtimestamp(snap["committed_at_ms"] / 1000.0, tz=timezone.utc)


def as_of(table: LakeTable, ts) -> int:
    """Resolve a timestamp to a snapshot id — Iceberg ``TIMESTAMP AS OF``.

    ``ts`` is a ``datetime`` (naive = local time, like SQL literals) or
    epoch seconds.  Returns the id of the LATEST ancestor of the current
    tip committed at or before ``ts``; read it with
    ``table.read(snapshot_id=as_of(table, ts))``.  Walks the retained
    ancestry only (metadata-sized); raises ``LookupError`` when ``ts``
    predates every retained snapshot — exactly when Iceberg's resolution
    fails after expiry."""
    from datetime import datetime

    if isinstance(ts, datetime):
        ts = ts.timestamp()
    snap = table.current_snapshot()
    while snap is not None:
        if _committed_at(snap).timestamp() <= ts:
            return snap["snapshot_id"]
        parent = snap.get("parent_id")
        if parent is None:
            break
        try:
            snap = table.snapshot(parent)
        except FileNotFoundError:
            break
    raise LookupError(
        f"no retained snapshot committed at or before {ts} "
        f"(history may have been expired)"
    )


def snapshots(table: LakeTable) -> DataFrame:
    """One row per RETAINED snapshot (Iceberg ``tbl.snapshots``).

    ``operation`` distinguishes merge / append / delta-append (MOR) /
    overwrite (wipe) / replace (compaction, rebucket); ``committed_at``
    is the time the snapshot CAS stamped (commit identity is still the
    CAS'd id, not wall time)."""
    rows = []
    tip = table.current_snapshot()
    tip_id = tip["snapshot_id"] if tip else None
    for p in table._snapshot_files():
        snap = table._read_snapshot_file(p)  # resolves bucket manifests
        stats = snap.get("stats") or {}
        rows.append(
            (
                snap["snapshot_id"],
                snap.get("parent_id"),
                snap.get("epoch_id"),
                snap.get("app_id"),
                _operation(snap),
                _committed_at(snap),
                snap.get("current_schema_version"),
                file_count(snap),
                sum(len(fl) for fl in (snap.get("added_files") or {}).values()),
                stats.get("rows_in"),
                snap["snapshot_id"] == tip_id,
            )
        )
    return table.spark.createDataFrame(rows, _SNAPSHOTS_SCHEMA)


def files(table: LakeTable, snapshot_id: int | None = None) -> DataFrame:
    """One row per live data file of a snapshot (Iceberg ``tbl.files``).

    ``rows``/``bytes`` come from the parquet footer and the inode (the
    same numbers ``table_stats`` aggregates); ``kind`` is ``base`` or
    ``delta`` (merge-on-read debt); ``key_min``/``key_max`` surface the
    zone map and ``has_bloom`` the per-file key bloom that the MERGE
    decide scan and point lookups prune with — so "why didn't this file
    prune?" is answerable with a filter, not a debugger."""
    import pyarrow.parquet as pq

    snap = (
        table.snapshot(snapshot_id)
        if snapshot_id is not None
        else table.current_snapshot()
    )
    rows = []
    for spec_id, spec_nb, bmap in layouts(snap):
        for b, fl in bmap.items():
            for fe in fl:
                full = table.path / fe["path"]
                try:
                    nrows = pq.read_metadata(str(full)).num_rows
                    nbytes = full.stat().st_size
                except OSError:
                    nrows, nbytes = None, None
                kind, has_bloom, bloom_bytes, key_min, key_max = describe_file(fe)
                rows.append(
                    (
                        int(b),
                        fe["path"],
                        kind,
                        fe.get("sv"),
                        nrows,
                        nbytes,
                        has_bloom,
                        bloom_bytes,
                        key_min,
                        key_max,
                        spec_id,
                        spec_nb,
                    )
                )
    return table.spark.createDataFrame(rows, _FILES_SCHEMA)


# ------------------------------------------------------------------- tags
# Iceberg named refs, tag flavor: an immutable name → snapshot-id pin.
# The CDC-ops use case is "last-known-good": tag the snapshot a validation
# pass blessed, keep reading/reporting against it by NAME while ingestion
# advances the tip, and expire history freely — expire_snapshots protects
# tagged snapshots (and, transitively, the files they reference).

_REF_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")


def _refs_dir(table: LakeTable):
    return table.path / "refs"


def create_tag(table: LakeTable, name: str, snapshot_id: int | None = None) -> dict:
    """Pin ``name`` to ``snapshot_id`` (default: current tip).  Tags are
    IMMUTABLE (Iceberg tag semantics): creating an existing name raises —
    drop it first if you really mean to move it.  The pin is CAS'd the
    same way snapshots are (fsync + hard link), so two racing creators
    resolve to exactly one winner."""
    if not _REF_NAME.match(name):
        raise ValueError(f"invalid tag name {name!r}")
    if snapshot_id is None:
        snapshot_id = table.current_snapshot()["snapshot_id"]
    else:
        table.snapshot(snapshot_id)  # must exist (raises otherwise)
    ref = {
        "name": name,
        "snapshot_id": int(snapshot_id),
        "created_at_ms": int(time.time() * 1000),
    }
    d = _refs_dir(table)
    d.mkdir(parents=True, exist_ok=True)
    if not _cas_write(d / f"{name}.json", ref):
        raise ValueError(f"tag {name!r} already exists (tags are immutable)")
    return ref


def resolve_tag(table: LakeTable, name: str) -> int:
    """The snapshot id a tag pins — ``table.read(snapshot_id=
    resolve_tag(table, name))`` is the named read."""
    try:
        with open(_refs_dir(table) / f"{name}.json") as f:
            return json.load(f)["snapshot_id"]
    except FileNotFoundError:
        raise LookupError(f"no such tag: {name!r}")


def list_tags(table: LakeTable) -> dict[str, int]:
    """All tags as ``{name: snapshot_id}``."""
    out = {}
    for p in sorted(_refs_dir(table).glob("*.json")):
        if p.name.startswith("."):
            continue
        with open(p) as f:
            ref = json.load(f)
        out[ref["name"]] = ref["snapshot_id"]
    return out


def drop_tag(table: LakeTable, name: str) -> bool:
    """Remove a tag; the pinned snapshot becomes expirable again.  True
    if it existed."""
    p = _refs_dir(table) / f"{name}.json"
    try:
        p.unlink()
        return True
    except FileNotFoundError:
        return False


def history(table: LakeTable) -> DataFrame:
    """The current tip's ancestry, tip first (Iceberg ``tbl.history``).

    Walks ``parent_id`` links through the retained chain; an expired
    ancestor ends the walk (exactly Iceberg's behavior once snapshots
    are expired).  Distinct from ``snapshots()``: after a conflicting
    writer loses a CAS, orphaned snapshot ids can exist that were never
    an ancestor of the tip — history() shows lineage, snapshots() shows
    everything retained."""
    rows = []
    snap = table.current_snapshot()
    first = True
    while snap is not None:
        rows.append(
            (
                snap["snapshot_id"],
                snap.get("parent_id"),
                snap.get("epoch_id"),
                _committed_at(snap),
                first,
            )
        )
        first = False
        parent = snap.get("parent_id")
        if parent is None:
            break
        try:
            snap = table.snapshot(parent)
        except FileNotFoundError:
            break  # expired past this point
    return table.spark.createDataFrame(rows, _HISTORY_SCHEMA)
