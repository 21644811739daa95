"""The snapshot's file-layout rules, behind one module.

A snapshot lists data-file entries ``{"path", "sv"}`` per hash bucket of
its current bucket layout, plus the still-unmigrated files of every
retired layout (``legacy_layouts``).  An entry may also carry
``"kind": "delta"`` (a merge-on-read commit's append), a ``kr`` zone map
(per-column footer min/max) and a ``bloom`` of its keys.  Every reader
and writer of the table needs the same rules about them, and this is the
only module that knows them:

* **Layouts** — a key's bucket is ``pmod(xxhash64(keys), N)`` under each
  layout's own ``N`` (``bucket_of``), so a keyed read probes the key's
  bucket in the current layout and in every retired one
  (``legacy_probe_cols`` / ``legacy_touched``).
* **Deltas** — a delta entry can shadow a row of any other file of its
  bucket and, because it routes by the current layout, of any
  retired-layout file; such files are read together through the
  merge-on-read reconcile (``select_files``; ``delta_files`` lists the
  fold debt).
* **Key pruning** — a bloom or a key-column zone map that excludes every
  probed key proves the file holds none of them.  Neither has false
  negatives, so the pruning is exact; it is what the copy-on-write
  MERGE's decide scan and point lookups trust for correctness.
* **Value pruning** — a zone map that excludes a predicate's bounds
  proves the file holds no matching row, but a reconciled read must see
  every version of a key: a value bound never drops a file that takes
  part in a reconciliation.  Key-column bounds hold for every version of
  a key and stay legal everywhere.
* **Written files** — the entries for the files a ``partitionBy("_bucket")``
  write left (``written_files``), and their zone maps and blooms
  (``attach_file_metadata``).
* **Commits** — the bucket maps a commit publishes: which files a
  rewrite drops, where new files go, which retired buckets a migration
  empties (``update_buckets``, ``evolved_layouts``); ``layouts`` and
  ``file_count`` walk them for the counts.

``select_files`` is the planner every read goes through:
``LakeTable.read``, the MERGE decide and keep scans, compaction,
``lake.lookup``'s point lookups and ``filtered_read``.
"""

from __future__ import annotations

import base64
import datetime
import re
from bisect import bisect_left
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import Column

from rocket_etl_spark.schema.registry import TableSchema


def bucket_of(key_cols: Sequence[str], num_buckets: int) -> Column:
    """Deterministic bucket id for a row: pmod(xxhash64(keys), N)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(num_buckets)).cast("int")


def legacy_layouts(snap: dict) -> list[dict]:
    """The snapshot's retired bucket layouts, newest first.

    Bucket-spec evolution (``maintenance.evolve_buckets``) is
    metadata-only — Iceberg partition-spec evolution: the tip's
    ``num_buckets``/``buckets`` describe the CURRENT spec (all new
    writes route here) while each retired spec's still-unmigrated files
    stay listed under ``snap["legacy"]`` as
    ``{"spec_id", "num_buckets", "buckets"}``.  A key lives under
    exactly ONE spec at a time: the MERGE's keep side rewrites matched
    legacy files into current-spec buckets (gradual migration), and
    ``compact(migrate_legacy=True)`` finishes the job in bulk."""
    return snap.get("legacy") or []


class Layout(NamedTuple):
    """One bucket layout of a snapshot: its spec id, bucket count and
    ``{bucket: file entries}`` map."""

    spec_id: int
    num_buckets: int
    buckets: dict[str, list[dict]]


def layouts(snap: dict) -> list[Layout]:
    """The snapshot's current layout, then each retired one."""
    return [Layout(int(snap.get("spec_id", 0)), int(snap["num_buckets"]), snap["buckets"])] + [
        Layout(int(lay["spec_id"]), int(lay["num_buckets"]), lay["buckets"])
        for lay in legacy_layouts(snap)
    ]


def file_count(snap: dict) -> int:
    """Live data files of the snapshot, retired layouts included."""
    return sum(len(fl) for lay in layouts(snap) for fl in lay.buckets.values())


def update_buckets(
    snap: dict,
    added: dict[int, list[dict]],
    rewritten: Sequence[int] = (),
    legacy_rewritten: dict[int, Sequence[int]] | None = None,
    matched: set[str] | None = None,
) -> dict:
    """The ``buckets`` and ``legacy`` fields of a commit over ``snap``.

    * ``rewritten`` current-layout buckets, and the retired-layout
      buckets ``legacy_rewritten`` names (``{spec_id: [bucket ids]}``),
      lose the files the commit read and rewrote: the ``matched`` paths,
      or every file when ``matched`` is None.
    * ``added`` (``{bucket: entries}``) files lead a rewritten bucket's
      list and follow the existing files of any other bucket.  Rows that
      migrate out of a retired layout may land in a bucket the commit
      did not rewrite; they append, because a key lives under one layout
      only, so the bucket holds no row of theirs.
    * Every other bucket list is kept by reference — never mutated — so
      the snapshot write re-uses its manifest.  Buckets keep their place
      in the map and new ones follow in the order given: readers list
      files in the map's order, and the Spark scans over them are not
      indifferent to it.
    * With ``legacy_rewritten`` None the retired layouts carry over as
      they are; otherwise empty retired buckets and layouts are dropped.
    """

    def survivors(fl: list[dict]) -> list[dict]:
        return [] if matched is None else [fe for fe in fl if fe["path"] not in matched]

    rw = list(dict.fromkeys(int(b) for b in rewritten))
    buckets = dict(snap["buckets"])
    for b in rw:
        buckets[str(b)] = added.get(b, []) + survivors(buckets.get(str(b), []))
    for b, fl in added.items():
        if b not in rw:
            buckets[str(b)] = list(buckets.get(str(b), [])) + fl
    legacy = legacy_layouts(snap)
    if legacy_rewritten is not None:
        legacy = []
        for lay in legacy_layouts(snap):
            hit = {int(b) for b in legacy_rewritten.get(int(lay["spec_id"]), ())}
            kept = {}
            for b, fl in lay["buckets"].items():
                fl = survivors(fl) if int(b) in hit else fl
                if fl:
                    kept[b] = fl
            if kept:
                legacy.append({**lay, "buckets": kept})
    return {"buckets": buckets, "legacy": legacy}


def layouts_changed(old: dict, new: dict, buckets) -> bool:
    """Whether ``new`` differs from ``old`` in its retired layouts or in
    the file list of any of the current-layout ``buckets``: a commit
    that read them from ``old`` cannot rebase onto ``new``."""
    return legacy_layouts(new) != legacy_layouts(old) or any(
        new["buckets"].get(str(b)) != old["buckets"].get(str(b)) for b in buckets
    )


def evolved_layouts(snap: dict, num_buckets: int) -> dict:
    """The layout fields of a bucket-spec evolution over ``snap``: a new,
    empty current layout of ``num_buckets`` buckets under the next spec
    id; the old current layout, if it holds files, becomes the newest
    retired one, ahead of the retired layouts that still hold files."""
    retired = _live_legacy(snap)
    if any(snap["buckets"].values()):
        retired = [{
            "spec_id": int(snap.get("spec_id", 0)),
            "num_buckets": int(snap["num_buckets"]),
            "buckets": snap["buckets"],
        }] + retired
    return {
        "num_buckets": int(num_buckets),
        "spec_id": int(snap.get("spec_id", 0)) + 1,
        "buckets": {},
        "legacy": retired,
    }


def _live_legacy(snap: dict) -> list[dict]:
    return [lay for lay in legacy_layouts(snap) if any(lay["buckets"].values())]


def legacy_probe_cols(snap: dict) -> list[Column]:
    """One bucket-id column ``_b<spec_id>`` per retired layout that still
    holds files: each key's bucket under THAT layout's bucket count, so
    pruning by bucket survives evolution.  Empty when nothing is left
    under a retired layout."""
    return [
        bucket_of(snap["key_cols"], int(lay["num_buckets"])).alias(f"_b{lay['spec_id']}")
        for lay in _live_legacy(snap)
    ]


def legacy_touched(snap: dict, rows) -> dict[int, list[int]]:
    """``{spec_id: [bucket ids]}``: the file-bearing retired-layout
    buckets that ``rows`` (carrying the ``legacy_probe_cols``) hash to,
    in the form ``select_files``' ``legacy_buckets`` takes.  A layout
    none of the rows touches is absent."""
    out: dict[int, list[int]] = {}
    for lay in _live_legacy(snap):
        col = f"_b{lay['spec_id']}"
        hit = sorted(b for b in {r[col] for r in rows} if lay["buckets"].get(str(b)))
        if hit:
            out[int(lay["spec_id"])] = hit
    return out


def _is_delta(fe: dict) -> bool:
    return fe.get("kind") == "delta"


def delta_files(snap: dict) -> dict[int, list[dict]]:
    """``{bucket: delta entries}`` for every current-layout bucket that
    holds merge-on-read deltas: the buckets a compaction must fold
    before a copy-on-write decide or a spec change, each with its read
    amplification (the entry count)."""
    out: dict[int, list[dict]] = {}
    for b, fl in snap["buckets"].items():
        deltas = [fe for fe in fl if _is_delta(fe)]
        if deltas:
            out[int(b)] = deltas
    return out


def describe_file(fe: dict) -> tuple:
    """A file entry's layout metadata as ``lake.metadata.files`` reports
    it: ``(kind, has_bloom, bloom_bytes, key_min, key_max)`` — ``kind``
    is base or delta, and the zone map's per-column bounds are strings."""
    kr, bloom = fe.get("kr"), fe.get("bloom")
    return (
        fe.get("kind", "base"),
        bloom is not None,
        len(base64.b64decode(bloom)) if bloom else None,
        {k: str(v[0]) for k, v in kr.items()} if kr else None,
        {k: str(v[1]) for k, v in kr.items()} if kr else None,
    )


def written_files(
    table_path: Path, out_dir_rel: str, sv: int, delta: bool = False
) -> dict[int, list[dict]]:
    """``{bucket: entries}`` for the parquet files a
    ``write.partitionBy("_bucket")`` left under ``out_dir_rel`` (relative
    to the table root), written under schema version ``sv``; ``delta``
    marks them as a merge-on-read commit's deltas."""
    out: dict[int, list[dict]] = {}
    for bdir in sorted((Path(table_path) / out_dir_rel).glob("_bucket=*")):
        out[int(bdir.name.split("=")[1])] = [
            {
                "path": f"{out_dir_rel}/{bdir.name}/{p.name}",
                "sv": sv,
                **({"kind": "delta"} if delta else {}),
            }
            for p in sorted(bdir.iterdir())
            if p.name.endswith(".parquet")
        ]
    return out


# ---- per-file key blooms: decide-scan and lookup pruning ---------------
# The merge's decide phase (winners × table slim join) must consult every
# touched bucket's key columns — measured as the per-epoch cost floor
# (BENCH/BASELINE.md round-4 breakdown).  Small commits therefore attach
# a tiny bloom filter of their keys to each written file entry; a later
# small epoch collects its (bounded) winner keys and SKIPS scanning any
# bloomed file that cannot contain one.  Blooms have no false negatives,
# so a skipped file provably holds only keep-rows, which the broadcast
# path re-links untouched (matched-file pruning) — pruning is therefore
# gated on broadcast-path eligibility; the SMJ path never prunes.
# The payoff case is the production shape: a long stream of small epochs
# between compactions, where the table is many small files and each
# epoch's keys live in few of them.
BLOOM_BITS = 1 << 13  # 8192 bits = 1 KB per file entry, ~2% fp at 1k keys
BLOOM_COMMIT_MAX_ROWS = 250_000
BLOOM_PROBE_MAX_KEYS = 20_000
# per-FILE row cap: a broadcast merge with a small batch can still rewrite
# a matched file holding millions of rows — blooming it would stall the
# driver on a full pyarrow key read AND saturate the 1 KB bloom into
# uselessness (fill^8 → ~1 past ~2k distinct keys).  Checked from parquet
# footer metadata only; oversized files simply carry no bloom (= always
# scanned — conservative, never wrong).
BLOOM_FILE_MAX_ROWS = 2048
_BLOOMS_ENABLED = True

# Blooms hash the canonical string of each key value, so only dtypes whose
# Python value is IDENTICAL between the write side (pyarrow ``to_pylist``)
# and the probe side (Spark ``collect``) may participate: str/int/date/bool
# round-trip exactly, and binary is canonicalized to hex on both sides.
# Timestamps (tz-aware parquet read-back vs session-naive collect), floats
# and decimals (repr/scale edge cases) are gated OUT — a representation
# mismatch there would be a bloom FALSE NEGATIVE: a silently skipped file
# that really held a winner key, i.e. a wrong merge.
_BLOOM_SAFE_DTYPES = {
    "string", "varchar", "char", "tinyint", "smallint", "int", "integer",
    "bigint", "long", "date", "boolean", "binary",
}


def _dtype(schema: TableSchema, col: str) -> str:
    return schema.field_by_name(col).dtype.lower().split("(")[0].strip()


def _bloom_safe_keys(schema, keys) -> bool:
    try:
        return all(_dtype(schema, k) in _BLOOM_SAFE_DTYPES for k in keys)
    except Exception:
        return False


# ---- per-file zone maps: range pruning past the bloom caps -------------
# Blooms cap out (BLOOM_FILE_MAX_ROWS per file, BLOOM_PROBE_MAX_KEYS per
# probe) because they cost a key-column data read to build and k hashes
# per probe key.  Zone maps — per-file MIN/MAX of each column — are free
# at both ends: built from parquet FOOTER statistics only (no data read,
# so every file of any size gets one) and probed with two bisects per
# (file, key column) over the sorted probe values.  A file whose range
# provably excludes every probe key column-wise cannot contain a probe
# row (per-column exclusion ⇒ tuple exclusion), so skipping it is safe;
# overlap is merely a false positive (file scanned anyway).  This is the
# same trick as Iceberg's manifest-entry column bounds.
RANGE_PROBE_MAX_KEYS = 200_000
_RANGES_ENABLED = True

_INT_DTYPES = {"tinyint", "smallint", "int", "integer", "bigint", "long"}


def _range_canon(v, dt: str):
    """Canonical ORDER-PRESERVING, JSON-storable encoding of a key value,
    identical for pyarrow footer statistics and Spark collect() rows:
    ints stay ints; dates → ISO strings (sort like dates); binary → hex
    (hex lexicographic == byte order); strings as-is (UTF-8 byte order ==
    code-point order).  Unsafe dtypes never reach here (_bloom_safe_keys
    gates both build and probe)."""
    if v is None:
        return None
    if dt in _INT_DTYPES:
        return int(v)
    if dt == "boolean":
        return int(bool(v))
    if dt == "binary":
        return bytes(v).hex()
    if dt == "date":
        return v if isinstance(v, str) else v.isoformat()
    return str(v)


_DATE_LIT_RE = re.compile(r"(\d{4})-(\d{1,2})-(\d{1,2})")


def bound_canon(v, dt: str):
    """Zone-map canonical form of a predicate bound (``_range_canon``).
    A string bound on a date column is read the way Spark's string→date
    cast reads it (``YYYY-M-D``, 1–2 digit month and day) and becomes
    its ISO form; any other string gives None, no bound — compared as a
    raw string, ``'2024-1-5'`` would sort after ``'2024-01-07'`` and
    prune matching files."""
    if dt != "date" or not isinstance(v, str):
        return _range_canon(v, dt)
    m = _DATE_LIT_RE.fullmatch(v)
    if m is None:
        return None
    try:
        return datetime.date(*map(int, m.groups())).isoformat()
    except ValueError:
        return None


_RANGE_TRUNC = 32  # Iceberg-style string-bound truncation length


def range_safe_cols(schema) -> list[str]:
    """Every scalar column whose dtype the zone-map canon supports.

    Zone maps are footer-only, so bounds are recorded for ALL such
    columns, not just the merge keys — Iceberg records column bounds
    for every column for the same reason: ``filtered_read`` can then
    prune files on any of them (e.g. a lang or commit predicate), while
    the MERGE decide probe keeps consulting only the key columns."""
    return [f.name for f in schema.fields if _dtype(schema, f.name) in _BLOOM_SAFE_DTYPES]


def _trunc_bounds(lo, hi):
    """Iceberg-style bound truncation for long string values: the lower
    bound truncates to a prefix (a prefix is <= the value — safe), the
    upper bound truncates and INCREMENTS its last code point (yielding a
    string > every value sharing the prefix — safe).  Returns (lo, hi)
    or (lo, None) when no valid upper truncation exists; a None bound
    means 'cannot prune upward on this column for this file'."""
    if isinstance(lo, str) and len(lo) > _RANGE_TRUNC:
        lo = lo[:_RANGE_TRUNC]
    if isinstance(hi, str) and len(hi) > _RANGE_TRUNC:
        p = hi[:_RANGE_TRUNC]
        hi = None
        for i in range(len(p) - 1, -1, -1):
            if ord(p[i]) < 0x10FFFF:
                # skip the surrogate range (like Iceberg's truncate): an
                # incremented U+D7FF would be a lone surrogate that
                # json.dump emits as an unpaired \ud800 escape — valid
                # for Python but invalid strict JSON for other readers.
                # U+E000 > every surrogate, so the bound stays safe.
                nxt = ord(p[i]) + 1
                if 0xD800 <= nxt <= 0xDFFF:
                    nxt = 0xE000
                hi = p[:i] + chr(nxt)
                break
    return lo, hi


def _each_file(table_path: Path, out_files: dict[int, list[dict]], one) -> None:
    """Run ``one(entry, absolute path)`` over every entry, threaded."""
    flat = [(fe, str(Path(table_path) / fe["path"])) for fl in out_files.values() for fe in fl]
    with ThreadPoolExecutor(max_workers=min(16, max(len(flat), 1))) as ex:
        list(ex.map(lambda item: one(*item), flat))


def _build_file_ranges(table_path: Path, out_files: dict[int, list[dict]], cols, schema) -> None:
    """Attach a ``kr`` zone map ({col: [min, max]}) over ``cols`` to every
    just-written file entry, from parquet footer metadata only — no row
    cap needed.  Columns with nulls or absent statistics get no entry
    (the probe treats a missing bound as 'may contain anything'); long
    string bounds are truncated Iceberg-style (``_trunc_bounds``) so a
    KB-sized content column never bloats the snapshot JSON."""
    import pyarrow.parquet as pq

    dts = {c: _dtype(schema, c) for c in cols}

    def one(fe, path):
        md = pq.ParquetFile(path).metadata
        lo: dict[str, object] = {}
        hi: dict[str, object] = {}
        ok = set(cols)
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            seen = set()
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name not in ok:
                    continue
                st = col.statistics
                if (
                    st is None
                    or not st.has_min_max
                    or st.null_count is None  # unknown ⇒ conservative
                    or st.null_count > 0
                ):
                    ok.discard(name)  # no bound ⇒ never prune on this col
                    continue
                mn, mx = _range_canon(st.min, dts[name]), _range_canon(st.max, dts[name])
                if name not in lo or mn < lo[name]:
                    lo[name] = mn
                if name not in hi or mx > hi[name]:
                    hi[name] = mx
                seen.add(name)
            ok &= seen
        kr = {}
        for k in ok:
            if k not in lo:
                continue
            tlo, thi = _trunc_bounds(lo[k], hi[k])
            if thi is not None:
                kr[k] = [tlo, thi]
        if kr:
            fe["kr"] = kr

    _each_file(table_path, out_files, one)


def _range_hit(fe: dict, sorted_vals: dict[str, list]) -> bool:
    """True iff the file MAY contain some probe key: every zone-mapped
    key column has at least one probe value inside [min, max]."""
    kr = fe.get("kr")
    if not kr:
        return True
    for k, (mn, mx) in kr.items():
        vals = sorted_vals.get(k)
        if vals is None:
            continue
        i = bisect_left(vals, mn)
        if i >= len(vals) or vals[i] > mx:
            return False  # no probe value of k in range ⇒ no tuple fits
    return True


_BLOOM_K = 8  # hash positions per key: false-hit ≈ fill^8, so a probe of
#               thousands of keys still skips files at ~30% fill — k=2
#               saturates at a few hundred probe keys (fill² decay)


def _bloom_positions(key_vals) -> list[int]:
    """``_BLOOM_K`` bit positions for a key tuple — pure python/hashlib so
    the write side (pyarrow read-back) and probe side (collected rows)
    can never disagree.  NULL key parts get a reserved token."""
    import hashlib

    def canon(v):
        if v is None:
            return "\x00"
        if isinstance(v, (bytes, bytearray, memoryview)):
            return "b:" + bytes(v).hex()  # Spark collect yields bytearray,
            #                               pyarrow yields bytes — str() of
            #                               those differ; hex agrees
        return str(v)

    s = "\x1f".join(canon(v) for v in key_vals)
    d = hashlib.md5(s.encode()).digest() + hashlib.md5(s.encode() + b"#").digest()
    return [
        int.from_bytes(d[4 * i : 4 * i + 4], "big") % BLOOM_BITS
        for i in range(_BLOOM_K)
    ]


def _build_file_blooms(table_path: Path, out_files: dict[int, list[dict]], keys) -> None:
    """Attach a base64 key bloom to every just-written file entry of at
    most ``BLOOM_FILE_MAX_ROWS`` rows (driver-side pyarrow, threaded)."""
    import pyarrow.parquet as pq

    def one(fe, path):
        pf = pq.ParquetFile(path)
        if pf.metadata.num_rows > BLOOM_FILE_MAX_ROWS:
            return  # footer-only check: no key read, no saturated bloom
        t = pf.read(columns=list(keys))
        bits = bytearray(BLOOM_BITS // 8)
        cols = [t[k].to_pylist() for k in keys]
        for vals in zip(*cols) if cols else []:
            for p in _bloom_positions(vals):
                bits[p >> 3] |= 1 << (p & 7)
        fe["bloom"] = base64.b64encode(bytes(bits)).decode()

    _each_file(table_path, out_files, one)


def attach_file_metadata(
    table_path: Path,
    out_files: dict[int, list[dict]],
    schema: TableSchema,
    keys: Sequence[str],
    rows_in: int | None = None,
) -> None:
    """Attach the pruning metadata to just-written file entries: zone
    maps over every supported column (footer-only, free at any size —
    Iceberg column bounds) and, when the key dtypes allow, key blooms.
    A MERGE passes the ``rows_in`` its commit took: only a small commit
    (at most ``BLOOM_COMMIT_MAX_ROWS``) gets blooms, so that later small
    epochs can skip its files; a compaction passes None and its blooms
    self-gate on the per-file row cap."""
    if not out_files:
        return
    if (
        _BLOOMS_ENABLED
        and (rows_in is None or 0 < rows_in <= BLOOM_COMMIT_MAX_ROWS)
        and _bloom_safe_keys(schema, keys)
    ):
        _build_file_blooms(table_path, out_files, keys)
    if _RANGES_ENABLED:
        _build_file_ranges(table_path, out_files, range_safe_cols(schema), schema)


# ---- the planner ---------------------------------------------------------
@dataclass
class FilePlan:
    """The files a read selects: ``plain`` files are read as they are,
    ``rec`` files go through the merge-on-read collapse as one set.
    ``scanned`` of the ``total`` files in the selected buckets are read
    (the pruning record)."""

    plain: list[dict]
    rec: list[dict]
    scanned: int
    total: int


def _key_hits(
    snap: dict, entries: list[dict], key_rows: Callable[[], Sequence], n_keys: int
) -> set[str] | None:
    """Paths of the ``entries`` that MAY contain one of the probe keys per
    their bloom AND per their key-column zone map (each independently
    has no false negatives, so either proof of absence suffices to
    skip); files carrying neither pruner are always kept.  None when the
    probe is too large for either pruner, no entry carries one, or a key
    dtype cannot be canonicalized — ``key_rows`` is then never called."""
    import numpy as np

    keys = snap["key_cols"]
    schema = TableSchema.from_json(snap["schemas"][str(snap["current_schema_version"])])
    blooms = (
        _BLOOMS_ENABLED
        and n_keys <= BLOOM_PROBE_MAX_KEYS
        and any("bloom" in fe for fe in entries)
    )
    ranges = (
        _RANGES_ENABLED
        and n_keys <= RANGE_PROBE_MAX_KEYS
        and any("kr" in fe for fe in entries)
    )
    if not (blooms or ranges) or not _bloom_safe_keys(schema, keys):
        return None
    rows = key_rows()
    byte_idx = bit_mask = None
    if blooms:
        # (nkeys, K) bit positions; a key POSSIBLY hits a file iff ALL its
        # K positions are set in that file's bloom (no false negatives);
        # the file must be scanned iff ANY key possibly hits
        idx = np.array([_bloom_positions(tuple(r)) for r in rows], dtype=np.int64)
        byte_idx, bit_mask = idx >> 3, (1 << (idx & 7)).astype(np.uint8)
    sorted_vals: dict[str, list] = {}
    if ranges:
        for i, k in enumerate(keys):
            dt = _dtype(schema, k)
            vals = [_range_canon(r[i], dt) for r in rows]
            sorted_vals[k] = sorted(v for v in vals if v is not None)
            if len(sorted_vals[k]) < len(vals):
                # a NULL probe key part matches no table row under join
                # semantics, but don't let it perturb the bounds check
                del sorted_vals[k]
    keep: set[str] = set()
    for fe in entries:
        hit = not ranges or _range_hit(fe, sorted_vals)
        blm = fe.get("bloom") if (hit and blooms) else None
        if blm is not None:
            bits = np.frombuffer(base64.b64decode(blm), dtype=np.uint8)
            hit = bool(((bits[byte_idx] & bit_mask) != 0).all(axis=1).any())
        if hit:
            keep.add(fe["path"])
    return keep


def _bounds_hit(fe: dict, bounds: dict[str, tuple], keys: set, pinned: bool) -> bool:
    """False iff a usable bound's zone map PROVES the file disjoint from
    the predicate.  A ``pinned`` file takes part in a reconciliation, so
    only key-column bounds may drop it."""
    kr = fe.get("kr") or {}
    return not any(
        (r := kr.get(c)) is not None
        and (c in keys or not pinned)
        and ((hi is not None and r[0] > hi) or (lo is not None and r[1] < lo))
        for c, (lo, hi) in bounds.items()
    )


def select_files(
    snap: dict,
    buckets: Sequence[int] | None = None,
    legacy_buckets: dict[int, Sequence[int]] | None = None,
    paths: set[str] | None = None,
    key_rows: Callable[[], Sequence] | None = None,
    n_keys: int = 0,
    bounds: dict[str, tuple] | None = None,
) -> FilePlan:
    """Plan a read of ``snap``: the file entries it selects, pruned and
    split into plain and reconcile sets.

    * ``buckets`` / ``legacy_buckets`` select buckets: current-layout
      ids (None: all) and ``{spec_id: [bucket ids]}`` per retired layout
      (None: all; a spec_id absent from the dict contributes nothing).
    * ``paths`` keeps only those files (relative paths).
    * ``key_rows`` (called only when a pruner applies; ``n_keys`` rows of
      key tuples in key-column order) prunes by key: blooms and
      key-column zone maps.
    * ``bounds`` (``{col: (lo, hi)}``, canonical values, either side
      None) prunes by zone map.  In a bucket holding delta entries, and
      for a retired-layout file while any selected bucket holds one, only
      key-column bounds apply: the reconcile winner may fail the
      predicate while a stale row of the same key in another file passes
      it.

    Reconciliation is needed where a delta entry could shadow another
    surviving file's row of the same key: in a current-layout bucket
    whose surviving files include a delta and at least one other file,
    and — because a delta routes by the CURRENT spec, so a legacy base
    row's delta lives in another layout — for every surviving legacy
    file once any surviving file is a delta (a lone current-layout delta
    then joins the reconcile set too)."""
    groups: list[tuple[bool, list[dict]]] = []  # (is_legacy, bucket's files)
    bset = None if buckets is None else {int(b) for b in buckets}
    for b, fl in snap["buckets"].items():
        if fl and (bset is None or int(b) in bset):
            groups.append((False, fl))
    for lay in legacy_layouts(snap):
        allowed = (
            None
            if legacy_buckets is None
            else {int(x) for x in legacy_buckets.get(lay["spec_id"], ())}
        )
        for b, fl in lay["buckets"].items():
            if fl and (allowed is None or int(b) in allowed):
                groups.append((True, fl))
    gathered = [fe for _, fl in groups for fe in fl]
    hits = _key_hits(snap, gathered, key_rows, n_keys) if key_rows is not None else None
    keys = set(snap["key_cols"])
    any_delta = any(_is_delta(fe) for fe in gathered)

    selections: list[tuple[bool, list[dict]]] = []
    for is_legacy, fl in groups:
        pinned = any_delta if is_legacy else any(_is_delta(fe) for fe in fl)
        sel = [
            fe
            for fe in fl
            if (hits is None or fe["path"] in hits)
            and (not bounds or _bounds_hit(fe, bounds, keys, pinned))
            and (paths is None or fe["path"] in paths)
        ]
        if sel:
            selections.append((is_legacy, sel))

    sel_delta = any(_is_delta(fe) for _, sel in selections for fe in sel)
    has_legacy = any(is_legacy for is_legacy, _ in selections)
    plain: list[dict] = []
    rec: list[dict] = []
    for is_legacy, sel in selections:
        if is_legacy:
            needs_rec = sel_delta
        else:
            needs_rec = any(_is_delta(fe) for fe in sel) and (len(sel) > 1 or has_legacy)
        (rec if needs_rec else plain).extend(sel)
    return FilePlan(plain, rec, len(plain) + len(rec), len(gathered))
