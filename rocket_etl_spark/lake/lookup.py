"""Metadata-pruned point lookups: key → row without scanning the table.

The serving-path read a CDC-maintained table owes its consumers: given
a bounded set of keys ("this repo/path", "these 500 entities"), return
their current rows touching only the files that can possibly hold them.
``planner.select_files`` plans the read, the planner every reader of the
table shares, and narrows it with metadata that is free at lookup time:

1. **Bucket pruning** — keys hash to buckets (``pmod(xxhash64(keys),
   N)``), so only the touched buckets' file lists are considered, in
   the current layout and in every retired one.  The bucket ids come
   from the SAME ``bucket_of`` expression the writer uses — no Python
   reimplementation of xxhash64 to drift out of sync — evaluated over
   the probe keys' Arrow-backed local relation (``table.local_frame``),
   which Spark folds at plan time: no job runs.
2. **Key pruning** — per-file key zone maps (``kr``: footer min/max) and
   the 1 KB key blooms small commits attach: a file whose zone map or
   bloom excludes every probe key is skipped.

These are the same key pruners the MERGE's decide scan trusts for
correctness (a false negative there would be a wrong merge), so the
lookup inherits their no-false-negative guarantee: every file that may
contain a probe key is read; files without metadata are always read.
On the trickle-CDC file layout (many small bloomed files between
compactions) a point lookup reads O(files holding the key) instead of
O(files in bucket) — the measured 2x+ decide-scan pruning
(BENCH/BASELINE.md round 4) applied to reads.

The surviving files are read on the driver with ``pyarrow.dataset``,
each key column's ``isin`` pushed into the scan, and the answer reaches
Spark as one Arrow table: a ``LocalRelation``, so building and
collecting a lookup runs no Spark job.  The driver-side read repeats
``LakeTable.read``'s rules through their Arrow twins, each kept beside
its Spark original: the plan's split into plain and reconcile files is
the one ``read`` uses, ``schema.registry.project_arrow`` maps file
columns to the current schema by field id, and
``table._mor_reconcile_arrow`` picks the LWW winner.  So a lookup returns exactly ``read()`` filtered by a null-safe
key match, duplicate rows of an ``append_batch`` bucket included.
Driver memory holds the row groups being decoded (pyarrow decodes a
row group before it filters) plus the rows the per-column ``isin`` lets
through: for a one-column key the matched rows, for a composite key
every row whose parts each occur somewhere in the probe — up to whole
candidate files when the probe spans most of a column's values (a large
probe over few repos and shared paths).  ``LOOKUP_MAX_KEYS`` bounds the
probe.

Merge-on-read safety: pruning never drops a file that may hold a probe
key, and every row of a probed key is kept up to the reconcile, so the
per-key base+delta reconciliation input stays complete — files the
pruner skips provably contain no row of any probed key, and rows of
other keys cannot change a probed key's winner.

At cluster scale this is the pattern Iceberg serves point reads with
(manifest-entry column bounds + optional bloom filters); here the
metadata lives in the snapshot JSON, bounded at ~1 KB per small file.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from rocket_etl_spark.lake.planner import (
    bound_canon,
    bucket_of,
    legacy_probe_cols,
    legacy_touched,
    range_safe_cols,
    select_files,
)
from rocket_etl_spark.lake.table import (
    LakeTable,
    _mor_reconcile_arrow,
    arrow_table,
)
from rocket_etl_spark.schema.registry import TableSchema, project_arrow

# a "point" lookup is bounded by contract: beyond this, use a join
LOOKUP_MAX_KEYS = 100_000


def lookup(
    table: LakeTable,
    key_values: Sequence,
    snapshot_id: int | None = None,
    return_stats: bool = False,
) -> DataFrame | tuple[DataFrame, dict]:
    """Current rows for the given key tuples (scalars OK for single-col
    keys).  Deleted keys return no row; unknown keys return no row.
    ``snapshot_id`` time-travels the lookup.  With ``return_stats``,
    also returns ``{"buckets_touched", "files_scanned", "files_total"}``
    for the touched buckets (pruning observability)."""
    snap = (
        table.snapshot(snapshot_id) if snapshot_id is not None
        else table.current_snapshot()
    )
    keys = snap["key_cols"]
    rows = [
        tuple(kv) if isinstance(kv, (tuple, list)) else (kv,)
        for kv in key_values
    ]
    if not rows:
        raise ValueError("lookup needs at least one key")
    if len(rows) > LOOKUP_MAX_KEYS:
        raise ValueError(
            f"{len(rows)} probe keys exceeds LOOKUP_MAX_KEYS="
            f"{LOOKUP_MAX_KEYS}; join against table.read() instead"
        )
    if any(len(r) != len(keys) for r in rows):
        raise ValueError(f"each key must have {len(keys)} parts ({keys})")

    schema = TableSchema.from_json(
        snap["schemas"][str(snap["current_schema_version"])]
    )
    full = schema.to_struct()
    by_name = {f.name: f for f in full.fields}
    key_struct = type(full)([by_name[k] for k in keys])  # field order == key order
    probe_tbl = arrow_table(rows, key_struct)
    keys_df = table.spark.createDataFrame(probe_tbl, key_struct)

    # bucket ids via the writer's own expression, folded over the local
    # relation at plan time (the collect runs no job); each RETIRED
    # bucket layout (spec evolution) is probed with the keys' buckets
    # under THAT spec, so pruning survives evolution
    probe = keys_df.select(
        "*", bucket_of(keys, int(snap["num_buckets"])).alias("_b"), *legacy_probe_cols(snap)
    ).collect()
    touched = sorted({r["_b"] for r in probe})
    key_rows = [tuple(r[k] for k in keys) for r in probe]
    plan = select_files(
        snap, touched, legacy_touched(snap, probe),
        key_rows=lambda: key_rows, n_keys=len(key_rows),
    )
    stats = {
        "buckets_touched": len(touched),
        "files_scanned": plan.scanned,
        "files_total": plan.total,
    }
    types = to_arrow_schema(full)
    found = _read_probed(table, snap, schema, types, plan.plain, probe_tbl, with_seq=False)
    if plan.rec:
        found = pa.concat_tables([found, _mor_reconcile_arrow(
            _read_probed(table, snap, schema, types, plan.rec, probe_tbl, with_seq=True),
            keys, snap["order_col"],
        )])
    live = found.filter(pc.invert(pc.fill_null(found["_deleted"], False)))
    out = table.spark.createDataFrame(live.drop_columns(["_deleted"]), full)
    return (out, stats) if return_stats else out


# Spark writes timestamps as INT96 (``spark.sql.parquet.outputTimestampType``);
# read at pyarrow's default nanosecond unit, one outside 1677..2262 (a
# 9999-12-31 ``valid_to`` sentinel) overflows int64.  Spark's own unit is
# the microsecond.
_PARQUET = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)
_LOCAL_FS = pafs.LocalFileSystem()


def _read_probed(
    table: LakeTable,
    snap: dict,
    current: TableSchema,
    types: pa.Schema,
    entries: list[dict],
    probe: pa.Table,
    with_seq: bool,
) -> pa.Table:
    """Every row of ``entries``' files whose key matches a ``probe`` row
    null-safely (``eqNullSafe``, as the MERGE matches keys), projected
    to ``current`` (in its Arrow ``types``) plus ``_deleted`` and, with
    ``with_seq``, ``_seq`` (null where the file has none, as in base
    files).  The files of one schema version form one dataset, so
    pyarrow reads them in parallel.  Each key column's ``isin`` is
    pushed into the scan; for a composite key that is a superset of the
    probe tuples, so the exact tuple match follows."""
    keys = snap["key_cols"]
    extra = {"_deleted": pa.bool_(), **({"_seq": pa.int64()} if with_seq else {})}

    def shape(got: pa.Table, fschema: TableSchema) -> pa.Table:
        part = project_arrow(got, fschema, current, types)
        for c, typ in extra.items():
            part = part.append_column(
                c, got[c].cast(typ) if c in got.column_names
                else pa.nulls(got.num_rows, typ)
            )
        return part

    by_sv: dict[str, list[str]] = {}
    for fe in entries:
        by_sv.setdefault(str(fe["sv"]), []).append(str(table.path / fe["path"]))
    parts = [shape(pa.table({}), TableSchema(version=0))]  # no file: no row
    for sv, paths in by_sv.items():
        fschema = TableSchema.from_json(snap["schemas"][sv])
        src = {f.id: f.name for f in fschema.fields}
        # files of one version differ only in the _deleted/_seq they carry
        dset = ds.dataset(paths, format=_PARQUET, schema=pa.unify_schemas(
            [_PARQUET.inspect(p, filesystem=_LOCAL_FS) for p in paths]
        ))
        cond = None
        for k in keys:
            want = probe[k].combine_chunks()
            name = src[current.field_by_name(k).id]
            col = ds.field(name)
            if dset.schema.field(name).type != want.type:
                col = col.cast(want.type)
            cond = col.isin(want) if cond is None else cond & col.isin(want)
        have = [c for c in extra if c in dset.schema.names]
        got = dset.to_table(columns=fschema.names() + have, filter=cond)
        parts.append(shape(got, fschema))
    found = pa.concat_tables(parts)
    return found.filter(_probe_hits(found, probe, keys))


def _probe_hits(found: pa.Table, probe: pa.Table, keys: Sequence[str]) -> pa.ChunkedArray:
    """Whether each ``found`` row's key tuple is a ``probe`` tuple, nulls
    equal to nulls.  Each key column becomes its index among the probe's
    distinct values (null where absent); the indices fold column by
    column into one int64 code, renumbered against the probe's own codes
    after each step so the code stays below the probe size."""
    code_f = code_p = None
    for k in keys:
        vals = pc.unique(probe[k])
        f = pc.index_in(found[k], value_set=vals, skip_nulls=False).cast(pa.int64())
        p = pc.index_in(probe[k], value_set=vals, skip_nulls=False).cast(pa.int64())
        if code_f is None:
            code_f, code_p = f, p
            continue
        code_f = pc.add(pc.multiply(code_f, len(vals)), f)
        code_p = pc.add(pc.multiply(code_p, len(vals)), p)
        seen = pc.unique(code_p)
        code_f = pc.index_in(code_f, value_set=seen).cast(pa.int64())
        code_p = pc.index_in(code_p, value_set=seen).cast(pa.int64())
    return pc.is_valid(code_f)


_IDENT = r"[A-Za-z_][A-Za-z_0-9]*"
_LIT = r"(?:'(?:[^']*)'|-?\d+(?:\.\d+)?)"
_CONJUNCT_RE = re.compile(
    rf"^\s*({_IDENT})\s*(>=|<=|==|=|>|<)\s*({_LIT})\s*$"
)
_BETWEEN_RE = re.compile(
    rf"^\s*({_IDENT})\s+BETWEEN\s+({_LIT})\s+AND\s+({_LIT})\s*$", re.IGNORECASE
)


def _parse_prunable_conjuncts(predicate: str, schema) -> dict[str, tuple]:
    """Best-effort extraction of zone-map-prunable bounds from a SQL
    predicate: top-level conjunctions of ``col <op> literal`` /
    ``col BETWEEN a AND b`` over zone-map-supported columns.

    STRICTLY conservative: anything this parser does not understand — a
    disjunction, parentheses, NOT, a function call, an unsupported dtype,
    a literal that does not fit the column's type — contributes NO bound
    (the file is read; the residual predicate still applies exactly), so
    a parse miss can only cost speed, never rows.  Returns
    ``{col: (lo, hi)}`` with either bound possibly None."""
    if re.search(r"\(|\bOR\b|\bNOT\b|\bIN\b", predicate, re.IGNORECASE):
        return {}
    safe = set(range_safe_cols(schema))
    out: dict[str, tuple] = {}

    def lit_val(raw: str, dt: str):
        if raw.startswith("'"):
            return raw[1:-1] if dt in ("string", "varchar", "char", "date") else None
        if dt in ("string", "varchar", "char", "date", "binary", "boolean"):
            return None
        if "." in raw:
            return None  # float literal vs int zone map: skip, stay safe
        return int(raw)

    # split on top-level AND; BETWEEN is rewritten to two conjuncts first
    pred = re.sub(
        rf"({_IDENT})\s+BETWEEN\s+({_LIT})\s+AND\s+({_LIT})",
        r"\1 >= \2 AND \1 <= \3",
        predicate,
        flags=re.IGNORECASE,
    )
    for part in re.split(r"\bAND\b", pred, flags=re.IGNORECASE):
        m = _CONJUNCT_RE.match(part)
        if not m:
            continue
        col, op, raw = m.group(1), m.group(2), m.group(3)
        if col not in safe:
            continue
        dt = schema.field_by_name(col).dtype.lower().split("(")[0].strip()
        cv = bound_canon(lit_val(raw, dt), dt)
        if cv is None:
            continue
        lo, hi = out.get(col, (None, None))
        if op in (">", ">="):  # strict > keeps the inclusive bound: superset, safe
            lo = cv if lo is None else max(lo, cv)
        elif op in ("<", "<="):
            hi = cv if hi is None else min(hi, cv)
        else:  # = / ==
            lo = cv if lo is None else max(lo, cv)
            hi = cv if hi is None else min(hi, cv)
        out[col] = (lo, hi)
    return out


def filtered_read(
    table: LakeTable,
    predicate: str,
    snapshot_id: int | None = None,
    return_stats: bool = False,
    skip_cols: set | frozenset = frozenset(),
    residual: bool = True,
) -> DataFrame | tuple[DataFrame, dict]:
    """``table.read().filter(predicate)`` with automatic zone-map file
    pruning — the declarative-read surface the ``range_scan`` machinery
    deserves: real users write a SQL ``filter``, not a pruning API.

    The predicate's prunable conjuncts (``col <op> literal``, BETWEEN —
    see ``_parse_prunable_conjuncts``) skip every file whose per-column
    min/max provably excludes them; the FULL predicate then re-applies
    as a residual on the surviving files, so the answer is always
    identical to the unpruned read (pruning has no false negatives by
    construction; a parse miss just reads more files).

    ``skip_cols``: columns that may NOT contribute bounds (a caller whose
    downstream transform renames/derives over them — jobspec.extract).
    ``residual=False`` returns the pruned read WITHOUT applying the
    predicate — only for callers that apply it themselves downstream."""
    snap = (
        table.snapshot(snapshot_id) if snapshot_id is not None
        else table.current_snapshot()
    )
    schema = TableSchema.from_json(
        snap["schemas"][str(snap["current_schema_version"])]
    )
    bounds = _parse_prunable_conjuncts(predicate, schema)
    for c in set(bounds) & set(skip_cols):
        del bounds[c]
    plan = select_files(snap, bounds=bounds)
    df = table.read_plan(plan, snap)
    if residual:
        df = df.filter(predicate)
    if not return_stats:
        return df
    return df, {
        "files_scanned": plan.scanned,
        "files_total": plan.total,
        "pruned_on": sorted(bounds),
    }


def range_scan(
    table: LakeTable,
    col: str,
    lo=None,
    hi=None,
    snapshot_id: int | None = None,
    return_stats: bool = False,
    also: dict | None = None,
) -> DataFrame | tuple[DataFrame, dict]:
    """Rows with ``lo <= col <= hi`` (either bound optional), reading only
    the files whose zone map can overlap the range.

    Buckets are hash-distributed, so every bucket participates — the
    pruning is at FILE granularity via the per-file key MIN/MAX (``kr``)
    zone maps.  On a freshly-trickled table each small file spans few
    keys, so selective ranges skip most files; after a CLUSTERED
    compaction (``compact(sort_cols=[...], target_file_rows=...)``) each
    bucket is disjoint sorted slices and a range touches ~1 slice per
    bucket — the layout this scan is designed to exploit, the same
    composition as Iceberg's sort-order rewrite + manifest column
    bounds.  A file with no zone map for ``col`` is always read (no
    false negatives); the residual predicate re-applies exactly, so
    pruning can never change the answer.

    ``col`` may be ANY zone-map-supported column (string / int family /
    date / boolean / binary) — since late r5 every commit records
    footer min/max for all such columns, Iceberg column-bounds style,
    with long string bounds truncated safely — so a lang or commit
    predicate prunes files too, not just the merge keys.  The residual
    filter also pushes into the parquet scan as a normal min/max
    row-group filter — file pruning here saves the OPEN of excluded
    files, which dominates on a high-file-count trickle layout.

    ``also={col2: (lo2, hi2), ...}`` ANDs further range predicates: a
    file is skipped when ANY predicate's zone map proves disjointness,
    and every predicate re-applies as a residual filter.  With a
    Z-ORDER layout (``compact(..., zorder=True)``) this is the payoff
    query shape — each z-column's bounds are balanced-tight, so a
    conjunctive box query multiplies the per-column skip rates.
    """
    snap = (
        table.snapshot(snapshot_id) if snapshot_id is not None
        else table.current_snapshot()
    )
    if lo is None and hi is None:
        raise ValueError("range_scan needs at least one bound")
    schema = TableSchema.from_json(
        snap["schemas"][str(snap["current_schema_version"])]
    )
    preds = {col: (lo, hi), **(also or {})}
    canon: dict[str, tuple] = {}
    for c, (plo, phi) in preds.items():
        if c not in range_safe_cols(schema):
            raise ValueError(
                f"range_scan needs a zone-map-supported column; {c!r} not in "
                f"{range_safe_cols(schema)}"
            )
        dt = schema.field_by_name(c).dtype.lower().split("(")[0].strip()
        canon[c] = (bound_canon(plo, dt), bound_canon(phi, dt))

    plan = select_files(snap, bounds=canon)
    df = table.read_plan(plan, snap)
    pred = F.lit(True)
    for c, (plo, phi) in preds.items():
        if plo is not None:
            pred = pred & (F.col(c) >= F.lit(plo))
        if phi is not None:
            pred = pred & (F.col(c) <= F.lit(phi))
    out = df.filter(pred)
    if not return_stats:
        return out
    return out, {
        "files_scanned": plan.scanned,
        "files_total": plan.total,
        "pruned": plan.scanned < plan.total,
    }
