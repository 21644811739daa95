"""Local lake table with Iceberg commit semantics over parquet.

The north rule targets Iceberg MERGE with snapshot-id + epoch fencing
(BASELINE.json:14), but no Iceberg runtime jar exists in this sandbox
(SURVEY.md §0).  This backend reproduces the load-bearing semantics:

* **Snapshot log** — table state is an immutable chain of JSON snapshot
  files; a snapshot lists, per hash-bucket, the parquet data files (with
  the schema version each was written under) plus the epoch id that
  produced it.
* **Atomic compare-and-swap commit** — a commit materializes the full
  snapshot JSON to a temp file, then ``os.link``s it to
  ``snapshot-<n+1>.json``.  ``link`` fails if the name exists, so exactly
  one writer wins snapshot n+1 and a torn/partial snapshot can never be
  observed (the temp is fully written and fsynced first).
* **Epoch fencing** — per-application fences (Delta's txnAppId/txnVersion
  pattern): each snapshot carries ``fences[app_id] = {hwm, above}`` where
  ``hwm`` is the contiguous high-watermark (every epoch ≤ hwm committed)
  and ``above`` the sparse set of committed epochs beyond it.  The record
  is exact, O(out-of-order window) in size — zero extra entries for a
  Structured Streaming source, whose batch ids are contiguous — and never
  grows with history.  App scoping means a NEW checkpoint (epochs restart
  at 0) pointed at an existing table gets a fresh fence instead of being
  silently skipped against another stream's epoch numbers.
* **Bucketed copy-on-write** — rows hash into ``num_buckets`` buckets by
  key (``pmod(xxhash64(repo, path), N)``); a MERGE rewrites only touched
  buckets and re-links the rest from the parent snapshot.  This is the
  property that keeps a 100 TB table mergeable: commit cost scales with
  the change set, not the table.

On a cluster with the Iceberg runtime, ``rocket_etl_spark.lake`` is the
swap point: the same ``merge_batch`` contract maps onto ``MERGE INTO``
against a real catalog table partitioned by ``bucket(N, repo)``.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Sequence
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import DateType, StructType, TimestampNTZType, TimestampType

from rocket_etl_spark.lake.planner import (  # noqa: F401  legacy_layouts: importable from here
    FilePlan,
    bucket_of,
    legacy_layouts,
    select_files,
)
from rocket_etl_spark.schema.registry import TableSchema, project_to

_SNAP_RE = re.compile(r"snapshot-(\d{8})\.json$")

# ---- per-bucket snapshot manifests -------------------------------------
# A snapshot used to inline its ENTIRE ``buckets`` file map (every file
# entry, each carrying up to ~1.4 KB of bloom + zone-map metadata), so
# every commit re-serialized + fsynced O(live files x per-file metadata)
# of JSON — the one per-epoch driver cost that grew with TABLE size
# rather than epoch size on the trickle-CDC regime.  Snapshots now store
# each bucket's file list as a reference to a CONTENT-ADDRESSED manifest
# file (``snapshots/manifests/man-<sha256[:24]>.json``), written once and
# shared by every snapshot whose bucket is unchanged — Iceberg's manifest
# tree, restricted to one level because buckets already partition the
# file map.  A commit therefore writes only its touched buckets'
# manifests plus a thin snapshot; unchanged buckets re-use their
# manifest BY NAME (no re-serialization: resolved lists carry their
# manifest name, see _ManifestList).  Reads resolve references through a
# bounded in-process cache keyed by (dir, name) — manifests are
# immutable once written, so cached parses never go stale.  Pre-manifest
# snapshots (inline lists) keep loading unchanged.
_MANIFEST_CACHE: "dict[tuple[str, str], list]" = {}
_MANIFEST_CACHE_MAX = 8192


def _man_cache_put(key: tuple, entries: list) -> None:
    if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
        # drop an arbitrary ~eighth: manifests are tiny and re-parseable,
        # exactness doesn't matter, bounding memory does
        for k in list(_MANIFEST_CACHE)[: _MANIFEST_CACHE_MAX // 8]:
            del _MANIFEST_CACHE[k]
    _MANIFEST_CACHE[key] = entries


class _ManifestList(list):
    """A bucket file list resolved from (or already persisted to) a
    content-addressed manifest; ``man`` is the manifest file name.  The
    marker is what lets ``_try_write_snapshot`` re-reference an untouched
    bucket without re-serializing its entries.  Any code that CHANGES a
    bucket's list builds a plain list (never mutates in place), so a
    surviving marker is proof the content is unchanged."""

    __slots__ = ("man",)

    def __init__(self, it=(), man: str | None = None):
        super().__init__(it)
        self.man = man


def _fence_from_set(app_id: str, epochs: set) -> dict:
    """Exact {hwm, above} encoding of an arbitrary committed-epoch set."""
    hwm = -1
    while hwm + 1 in epochs:
        hwm += 1
    return {app_id: {"hwm": hwm, "above": sorted(e for e in epochs if e > hwm)}}


def fence_add(fences: dict, app_id: str, epoch_id: int) -> dict:
    """Return ``fences`` with (app_id, epoch_id) recorded committed.

    Advances the contiguous high-watermark greedily so the sparse
    ``above`` set stays bounded by the out-of-order commit window."""
    f = fences.get(app_id, {"hwm": -1, "above": []})
    hwm, above = f["hwm"], set(f["above"])
    if epoch_id > hwm:
        above.add(epoch_id)
    while hwm + 1 in above:
        hwm += 1
        above.discard(hwm)
    return {**fences, app_id: {"hwm": hwm, "above": sorted(above)}}


def arrow_table(rows: Sequence, struct: StructType) -> pa.Table:
    """Rows held in Python as an Arrow table typed the way Spark hands
    ``struct`` to Arrow.  Dates and timestamps go through the Spark
    type's own ``toInternal``, so a value means what it means to
    ``createDataFrame(<list>)`` (a naive datetime is local time)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(struct)
    cols = []
    for i, (f, af) in enumerate(zip(struct.fields, schema)):
        vals = [r[i] for r in rows]
        if isinstance(f.dataType, (DateType, TimestampType, TimestampNTZType)):
            storage = pa.int32() if isinstance(f.dataType, DateType) else pa.int64()
            internal = [None if v is None else f.dataType.toInternal(v) for v in vals]
            cols.append(pa.array(internal, storage).cast(af.type))
        else:
            cols.append(pa.array(vals, af.type))
    return pa.Table.from_arrays(cols, schema=schema)


def local_frame(spark: SparkSession, rows: Sequence, struct: StructType) -> DataFrame:
    """A relation over rows held in Python, handed to the JVM as Arrow.

    ``createDataFrame(<list>)`` parallelizes a pickled Python RDD, so
    every job over the relation runs ``defaultParallelism`` Python
    worker tasks.  An Arrow table becomes a ``LocalRelation`` decoded
    inside the JVM instead: no Python worker ever runs, a projection
    over it is folded at plan time (collecting it runs no job), and
    broadcasting it costs no executor time."""
    return spark.createDataFrame(arrow_table(rows, struct), struct)


def _mor_reconcile(df: DataFrame, keys: Sequence[str], order_col: str) -> DataFrame:
    """Collapse merge-on-read base+delta rows to one winner per key.

    Winner = max ``(order_col, -_seq)``: highest LWW order; on an order
    tie the row from the EARLIEST commit (lowest ``_seq``) wins, because
    the COW MERGE's decide is strict (``batch_ord > table_ord`` — an
    equal-order later arrival loses to the row already in the table) and
    MOR must converge to the identical state.  Base/COW rows read
    ``_seq`` as null → 0, so they out-rank any delta on equal order.
    One hash-aggregation shuffle over the delta-bearing buckets' rows
    only; map-side partial max_by keeps hot keys skew-safe.
    """
    others = [c for c in df.columns if c not in set(keys) and c != "_seq"]
    packed = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in others]),
            F.struct(
                F.col(order_col).alias("_o"),
                (-F.coalesce(F.col("_seq"), F.lit(0))).alias("_ns"),
            ),
        ).alias("_w")
    )
    # input column order, so a reconciled selection reads like a plain one
    return packed.select(*[
        F.col(c) if c in keys else F.col(f"_w.{c}").alias(c)
        for c in df.columns if c != "_seq"
    ])


def _mor_reconcile_arrow(tbl: pa.Table, keys: Sequence[str], order_col: str) -> pa.Table:
    """``_mor_reconcile`` over an Arrow table on the driver (point
    lookups): the same winner, max ``(order_col, -_seq)`` with a null
    ``_seq`` read as 0 and a null order ranked lowest, as Spark's struct
    ordering ranks it.  Sorting puts each key's winner first, and an
    ordered (single-threaded) ``first`` aggregation picks it; Arrow
    groups null key parts together, like ``groupBy``."""
    rows = tbl.drop_columns(["_seq"])
    ranked = rows.select([*keys, order_col]).append_column(
        "_ns", pc.coalesce(tbl["_seq"], pa.scalar(0, pa.int64()))
    ).append_column("_i", pa.array(range(tbl.num_rows), pa.int64()))
    ranked = ranked.sort_by(
        [(order_col, "descending"), ("_ns", "ascending")], null_placement="at_end"
    )
    first = ranked.group_by(list(keys), use_threads=False).aggregate([("_i", "first")])
    return rows.take(first["_i_first"])


class LakeTable:
    def __init__(self, spark: SparkSession, path: str | Path):
        self.spark = spark
        self.path = Path(path)
        self.snap_dir = self.path / "snapshots"
        self.man_dir = self.snap_dir / "manifests"
        self.data_dir = self.path / "data"

    # ------------------------------------------------------------------ DDL
    @staticmethod
    def create(
        spark: SparkSession,
        path: str | Path,
        schema: TableSchema,
        key_cols: Sequence[str],
        order_col: str,
        num_buckets: int = 16,
    ) -> "LakeTable":
        """Create the table (snapshot 0, empty).  Idempotent-unsafe by
        design: fails if a snapshot chain already exists."""
        t = LakeTable(spark, path)
        t.snap_dir.mkdir(parents=True, exist_ok=True)
        t.data_dir.mkdir(parents=True, exist_ok=True)
        snap = {
            "snapshot_id": 0,
            "parent_id": None,
            "epoch_id": None,
            "key_cols": list(key_cols),
            "order_col": order_col,
            "num_buckets": num_buckets,
            "current_schema_version": schema.version,
            "schemas": {str(schema.version): schema.to_json()},
            "buckets": {},
            "committed_epochs": [],
            "stats": {"rows_total": 0},
        }
        if not t._try_write_snapshot(snap):
            raise FileExistsError(f"table already exists at {path}")
        return t

    @staticmethod
    def load(spark: SparkSession, path: str | Path) -> "LakeTable":
        t = LakeTable(spark, path)
        if t.current_snapshot() is None:
            raise FileNotFoundError(f"no lake table at {path}")
        return t

    # ------------------------------------------------------------ snapshots
    def _snapshot_files(self) -> list[Path]:
        if not self.snap_dir.exists():
            return []
        out = []
        for p in self.snap_dir.iterdir():
            if _SNAP_RE.search(p.name):
                out.append(p)
        return sorted(out)

    def current_snapshot(self) -> dict | None:
        files = self._snapshot_files()
        if not files:
            return None
        return self._read_snapshot_file(files[-1])

    def snapshot(self, snapshot_id: int) -> dict:
        return self._read_snapshot_file(
            self.snap_dir / f"snapshot-{snapshot_id:08d}.json"
        )

    # ------------------------------------------------- manifest plumbing
    def _read_snapshot_file(self, p: Path | str) -> dict:
        """Load + resolve one snapshot JSON (raises FileNotFoundError as
        ``open`` does — callers rely on that for expired-history walks)."""
        with open(p) as f:
            return self._resolve_snapshot(json.load(f))

    def _manifest_entries(self, name: str) -> "_ManifestList":
        key = (str(self.man_dir), name)
        hit = _MANIFEST_CACHE.get(key)
        if hit is None:
            with open(self.man_dir / name) as f:
                hit = json.load(f)
            _man_cache_put(key, hit)
        # shallow copy: callers may REPLACE the list in a new snapshot dict
        # but never mutate entry dicts (engine-wide convention — fresh
        # commits build fresh entry dicts), so sharing them is safe
        return _ManifestList(hit, man=name)

    def _resolve_snapshot(self, snap: dict) -> dict:
        """Replace manifest references (string values in bucket maps) with
        their resolved file-entry lists.  Inline lists (pre-manifest
        snapshots, staged/branch snapshots) pass through untouched."""
        def rb(bm: dict) -> dict:
            return {
                b: (self._manifest_entries(v) if isinstance(v, str) else v)
                for b, v in bm.items()
            }

        if isinstance(snap.get("buckets"), dict):
            snap["buckets"] = rb(snap["buckets"])
        for layout in snap.get("legacy") or []:
            if isinstance(layout.get("buckets"), dict):
                layout["buckets"] = rb(layout["buckets"])
        return snap

    def _unlink_manifest(self, name: str) -> None:
        """Delete one manifest (expiry) and drop its cached parse."""
        (self.man_dir / name).unlink(missing_ok=True)
        _MANIFEST_CACHE.pop((str(self.man_dir), name), None)

    def _write_manifest(self, entries: list) -> str:
        """Persist one bucket file list as a content-addressed manifest,
        returning its name.  Identical content maps to an identical name,
        so concurrent writers and shared buckets converge on one file
        (EEXIST on the link is success)."""
        import hashlib

        payload = json.dumps(list(entries), sort_keys=True, separators=(",", ":"))
        name = f"man-{hashlib.sha256(payload.encode()).hexdigest()[:24]}.json"
        # stat even on a cache hit: the cache proves the content, not
        # that the file survives (expiry in another process unlinks it)
        final = self.man_dir / name
        if not final.exists():
            self.man_dir.mkdir(parents=True, exist_ok=True)
            tmp = self.man_dir / f".tmp-{uuid.uuid4().hex}.json"
            with open(tmp, "w") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, final)
            except FileExistsError:
                pass  # same content already published — converged
            finally:
                tmp.unlink(missing_ok=True)
        key = (str(self.man_dir), name)
        if key not in _MANIFEST_CACHE:
            _man_cache_put(key, json.loads(payload))
        return name

    def _externalize_snapshot(self, snap: dict) -> dict:
        """The write-side inverse of ``_resolve_snapshot``: swap bucket
        file lists for manifest references.  An unchanged bucket (still a
        ``_ManifestList`` from resolution) re-uses its name with ZERO
        serialization — the property that caps per-commit driver cost at
        O(touched buckets); changed/new lists are hashed + written once.
        Empty lists stay inline (no file needed); string values pass
        through (already references, e.g. a republished branch head)."""
        def ext(bm: dict) -> dict:
            out = {}
            for b, fl in bm.items():
                if isinstance(fl, str) or not fl:
                    out[b] = fl if isinstance(fl, str) else []
                elif isinstance(fl, _ManifestList) and fl.man is not None:
                    out[b] = fl.man
                else:
                    out[b] = self._write_manifest(fl)
            return out

        snap = dict(snap)
        if isinstance(snap.get("buckets"), dict):
            snap["buckets"] = ext(snap["buckets"])
        if snap.get("legacy"):
            snap["legacy"] = [
                {**layout, "buckets": ext(layout["buckets"])}
                if isinstance(layout.get("buckets"), dict)
                else layout
                for layout in snap["legacy"]
            ]
        return snap

    def fences(self, snap: dict | None = None) -> dict:
        """Per-app exactly-once fences from the tip snapshot:
        ``{app_id: {"hwm": int, "above": [int, ...]}}``.

        ``hwm`` = contiguous high-watermark (every epoch ≤ hwm is
        committed); ``above`` = committed epochs beyond it.  Exact, and
        bounded by the out-of-order commit window instead of history
        (10^5 streaming epochs → one integer).  Legacy snapshots carrying
        a cumulative ``committed_epochs`` list are converted on read."""
        snap = snap if snap is not None else self.current_snapshot()
        if snap is None:
            return {}
        if "fences" in snap:
            return snap["fences"]
        if "committed_epochs" in snap:  # legacy cumulative-list snapshots
            return _fence_from_set("default", set(snap["committed_epochs"]))
        out = set()
        for p in self._snapshot_files():
            with open(p) as f:
                e = json.load(f).get("epoch_id")
            if e is not None:
                out.add(e)
        return _fence_from_set("default", out)

    def is_epoch_committed(
        self, epoch_id: int, app_id: str = "default", snap: dict | None = None
    ) -> bool:
        f = self.fences(snap).get(app_id)
        return bool(f) and (epoch_id <= f["hwm"] or epoch_id in set(f["above"]))

    def committed_epochs(self, app_id: str | None = None) -> set:
        """Committed epoch ids — for ``app_id`` or the union over apps.

        Materializes ``range(hwm + 1)``, so it is a test/observability
        helper; the fence check itself is ``is_epoch_committed`` (O(1))."""
        out: set = set()
        for app, f in self.fences().items():
            if app_id is not None and app != app_id:
                continue
            out |= set(range(f["hwm"] + 1)) | set(f["above"])
        return out

    def _try_write_snapshot(self, snap: dict) -> bool:
        """Atomic CAS: publish ``snapshot-<id>.json`` iff absent.

        The temp file is fully written + fsynced before the link, so a
        published snapshot is always complete; ``os.link`` is atomic and
        fails with EEXIST when another attempt already won this id.

        Stamps ``committed_at_ms`` at CAS time (always overwritten — a
        dict cloned from a parent snapshot must not inherit its parent's
        commit time): the durable clock behind timestamp time travel
        (``metadata.as_of``), like Iceberg's snapshot timestamp-ms.

        Bucket file lists are externalized to content-addressed per-
        bucket manifest files first (see the module-level manifest notes):
        unchanged buckets re-reference their manifest by name, so the
        JSON this writes — and the driver CPU serializing it — is
        O(touched buckets + chain metadata), not O(live files).  Manifests
        are durable (fsync) BEFORE the snapshot that references them
        links into place, so a published snapshot never dangles.
        """
        snap = {**snap, "committed_at_ms": int(time.time() * 1000)}
        snap = self._externalize_snapshot(snap)
        final = self.snap_dir / f"snapshot-{snap['snapshot_id']:08d}.json"
        tmp = self.snap_dir / f".tmp-{uuid.uuid4().hex}.json"
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
            return True
        except FileExistsError:
            return False
        finally:
            tmp.unlink(missing_ok=True)

    # --------------------------------------------------------------- schema
    def current_schema(self) -> TableSchema:
        snap = self.current_snapshot()
        return TableSchema.from_json(snap["schemas"][str(snap["current_schema_version"])])

    # ----------------------------------------------------------------- read
    def read(
        self,
        buckets: Sequence[int] | None = None,
        snapshot_id: int | None = None,
        include_tombstones: bool = False,
        file_subset: set[str] | None = None,
        snap: dict | None = None,
        legacy_buckets: dict[int, Sequence[int]] | None = None,
    ) -> DataFrame:
        """Current table state, optionally restricted to some buckets
        (file-level pruning — only those buckets' parquet files are read).
        ``file_subset`` (relative paths) restricts further to specific
        files within those buckets — the MERGE's matched-file pruning.

        Files are read under their write-time schema and projected to the
        current schema by field id (null-backfill adds, re-alias renames,
        cast widens) — see ``schema.registry.project_to``.

        Deletes are stored as **tombstone rows** (``_deleted = true``,
        key + LWW seq retained) so that a stale upsert arriving *after* a
        newer delete still loses — the property that makes the MERGE
        convergent under arbitrary event reordering.  Normal reads filter
        them out; the MERGE reads with ``include_tombstones=True``.
        Compaction may purge tombstones older than a retention horizon.

        **Merge-on-read reconciliation**: buckets carrying ``delta``
        file entries (written by ``merge_batch(mode='mor')``, which
        appends LWW-winner rows instead of rewriting the bucket) are
        reconciled at read time — per key, the winning row is the max of
        ``(order_col, -commit_seq)``, i.e. highest LWW order with ties
        broken toward the EARLIEST commit.  The tie direction matches the
        copy-on-write MERGE exactly (its decide uses a strict
        ``batch_ord > table_ord``, so on equal order the already-written
        row wins); the COW/MOR final-state equivalence property test
        pins this.  Buckets with only base files skip reconciliation
        entirely — the plain union path — so the read-side cost is
        confined to delta-bearing buckets until compaction folds them.

        **Legacy bucket layouts** (bucket-spec evolution): files still
        laid out under a retired spec (``legacy_layouts``) are included
        too.  ``legacy_buckets=None`` reads ALL legacy files (the safe
        default — correct for full scans); a ``{spec_id: [bucket ids]}``
        dict prunes each retired layout to the buckets the caller's keys
        hash to under THAT spec (``planner.legacy_touched``; a spec_id
        absent from the dict contributes nothing).  A legacy base row
        can be shadowed by a merge-on-read delta that lives in a
        CURRENT-spec bucket, so a selected delta pulls every selected
        legacy file into the reconciliation.

        Which files are read, and which of them reconcile, is
        ``planner.select_files``' plan — the one every reader shares
        (``read_plan`` reads a plan the caller made, pruned by key or
        zone map; point lookups read theirs with pyarrow).
        """
        if snap is None:
            # explicit ``snap`` = read an out-of-chain snapshot dict (a
            # staged write-audit-publish commit — lake/wap.py's audit read)
            snap = (
                self.snapshot(snapshot_id)
                if snapshot_id is not None
                else self.current_snapshot()
            )
        plan = select_files(snap, buckets, legacy_buckets, paths=file_subset)
        return self.read_plan(plan, snap, include_tombstones)

    def read_plan(
        self, plan: FilePlan, snap: dict, include_tombstones: bool = False
    ) -> DataFrame:
        """``read`` of the files a ``planner.select_files`` plan over
        ``snap`` selected."""
        current = TableSchema.from_json(snap["schemas"][str(snap["current_schema_version"])])

        def _load(entries: list[dict], with_seq: bool) -> DataFrame | None:
            by_sv: dict[int, list[str]] = {}
            for fe in entries:
                by_sv.setdefault(fe["sv"], []).append(str(self.path / fe["path"]))
            parts: list[DataFrame] = []
            for sv, paths in sorted(by_sv.items()):
                fschema = TableSchema.from_json(snap["schemas"][str(sv)])
                phys = fschema.to_struct().add("_deleted", "boolean", True)
                passthrough = ("_deleted",)
                if with_seq:
                    # absent from base/COW parquet → read as null → seq 0
                    phys = phys.add("_seq", "long", True)
                    passthrough = ("_deleted", "_seq")
                df = self.spark.read.schema(phys).parquet(*paths)
                parts.append(project_to(df, fschema, current, passthrough=passthrough))
            if not parts:
                return None
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        plain = _load(plan.plain, with_seq=False)
        rec = _load(plan.rec, with_seq=True)
        if rec is not None:
            rec = _mor_reconcile(rec, snap["key_cols"], snap["order_col"])
        if plain is None and rec is None:
            phys = current.to_struct().add("_deleted", "boolean", True)
            out = local_frame(self.spark, [], phys)
        elif plain is None:
            out = rec
        elif rec is None:
            out = plain
        else:
            out = plain.unionByName(rec)
        if include_tombstones:
            return out
        return out.filter(~F.coalesce(F.col("_deleted"), F.lit(False))).drop("_deleted")

    # ------------------------------------------------------- changelog read
    def changes(self, from_snapshot: int, to_snapshot: int | None = None) -> DataFrame:
        """Row-level changes committed after ``from_snapshot`` up to and
        including ``to_snapshot`` (default: current) — the CDC-out surface
        (Delta CDF / Iceberg changelog equivalent).

        Free by construction: every MERGE stamps each written row with its
        ``_action`` (insert/update/delete/keep/stale/tombstone), and each
        snapshot records the files its commit added in ``added_files``
        (explicit, so a CAS-retried commit is attributed to the snapshot
        that actually published it — never inferred from path prefixes).
        Only net changes are returned (keep/stale rows and tombstone-noops
        are filtered); compaction snapshots contribute nothing (they
        rewrite, they don't change).
        """
        cur = self.current_snapshot()
        to_snapshot = cur["snapshot_id"] if to_snapshot is None else to_snapshot
        current_schema = TableSchema.from_json(
            cur["schemas"][str(cur["current_schema_version"])]
        )
        by_sv: dict[int, list[str]] = {}
        for sid in range(from_snapshot + 1, to_snapshot + 1):
            snap = self.snapshot(sid)
            if "added_files" in snap:
                for files in snap["added_files"].values():
                    for fe in files:
                        by_sv.setdefault(fe["sv"], []).append(str(self.path / fe["path"]))
                continue
            # legacy snapshots: fall back to the commit-path-prefix heuristic
            prefix = f"data/commit-{sid:08d}-"
            for files in snap["buckets"].values():
                for fe in files:
                    if fe["path"].startswith(prefix):
                        by_sv.setdefault(fe["sv"], []).append(str(self.path / fe["path"]))
        parts: list[DataFrame] = []
        for sv, paths in sorted(by_sv.items()):
            fschema = TableSchema.from_json(cur["schemas"][str(sv)])
            phys = fschema.to_struct().add("_deleted", "boolean", True).add(
                "_action", "string", True
            )
            df = self.spark.read.schema(phys).parquet(*paths)
            parts.append(
                project_to(df, fschema, current_schema, passthrough=("_action",))
            )
        if not parts:
            return local_frame(
                self.spark, [],
                current_schema.to_struct().add("change_type", "string", True),
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return (
            # 'upsert' = merge-on-read commits: a MOR delta is appended
            # without reading the table, so insert-vs-update is unknown
            # at write time — the changelog reports it honestly as upsert
            out.filter(F.col("_action").isin("insert", "update", "delete", "upsert"))
            .withColumnRenamed("_action", "change_type")
        )

    # ------------------------------------------------------------- utility
    def key_cols(self) -> list[str]:
        return list(self.current_snapshot()["key_cols"])

    def order_col(self) -> str:
        return self.current_snapshot()["order_col"]

    def num_buckets(self) -> int:
        return int(self.current_snapshot()["num_buckets"])

    def bucket_expr(self) -> Column:
        return bucket_of(self.key_cols(), self.num_buckets())
