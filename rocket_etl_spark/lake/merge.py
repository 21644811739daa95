"""Keyed, idempotent, epoch-fenced MERGE — the engine's heart.

Reproduces the reference's ``upsert`` loader semantics (update-or-insert
by primary key, replay-idempotent; upstream ``pipeline/loaders.py`` [U])
as a single declarative Spark plan, with WAL-ordered LWW and delete
support, equivalent to:

    MERGE INTO table t USING batch s
      ON  t.<keys> = s.<keys>
      WHEN MATCHED AND s.op = 'delete' AND s.<seq> > t.<seq> THEN DELETE
      WHEN MATCHED AND s.<seq> > t.<seq>                    THEN UPDATE SET *
      WHEN NOT MATCHED AND s.op <> 'delete'                 THEN INSERT *

Execution shape (scale rationale inline):

1. plan: the LWW winner aggregation over (keys, order, op) IS the
   planning pass — it yields the per-key winning order/op (the broadcast
   MERGE's decision input, cached slim for the commit's duration) and
   every planning stat in one column-pruned scan of the batch;
2. the touched-bucket set, input stats (rows_in, seq min/max), EXACT
   key cardinality, key bytes, and duplicate-delivery detection reduce
   from the winner relation in a second (tiny, one-row-per-key input)
   aggregation — ≤ num_buckets rows reach the driver;
3. one pipeline, two physical strategies chosen from the planning pass's
   key-cardinality estimate: the **broadcast MERGE** (``_merge_broadcast``,
   when the batch key set fits a broadcast) fuses LWW dedupe and MERGE
   into a slim winner aggregation + slim action join + two map-side
   broadcast joins, so the ONLY payload bytes that ever shuffle are the
   changed rows' final bucket placement — current-table rows stream from
   their scan tasks straight back to parquet; the **SMJ MERGE**
   (``_merge_smj``, unbounded key sets) is the classic ``max_by`` dedupe
   (map-side partial combine → hot keys reduce before the shuffle)
   feeding a full-outer sort-merge join.  Either way the batch join side
   is one row per key, so the join cannot skew;
4. MERGE stats (insert/update/delete counts, per bucket) are written as
   a physical ``_action`` column and read back by a pruned single-column
   scan of the new files — driver-side pyarrow below a file-count
   threshold (~1 bit/row of I/O; no Spark job per epoch), one
   partition-discovering Spark scan above it (DataFrame.observe is
   unusable here: observed metrics never resolve inside a streaming
   foreachBatch);
5. CAS-commit a snapshot = parent's untouched buckets + new files.

The MERGE is order-insensitive across and within batches: the LWW guard
``s.seq > t.seq`` means late/duplicate delivery converges to the same
final state — idempotency does not depend on the watermark.

Concurrency (CAS-loss) protocol: losing the snapshot CAS means another
writer published first.  The loser REBASES onto the latest snapshot —
carrying forward the winner's buckets and fences — iff its own touched
buckets and the schema are untouched by the winner; a touched-bucket
overlap means the merge was computed against stale rows, so it is
recomputed from the latest snapshot (the orphaned first-attempt files
are left for age-guarded ``expire_snapshots``).  A concurrent schema
evolution raises ``CommitConflict`` — the caller re-aligns and retries
(``replay_batch`` does this automatically).  Each snapshot records its
own ``added_files`` explicitly, so changelog reads attribute files to
the snapshot that actually published them regardless of retries.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rocket_etl_spark.lake.table import LakeTable, bucket_of, fence_add
from rocket_etl_spark.operators.lww import lww_dedupe
from rocket_etl_spark.schema.registry import TableSchema

# gate for the broadcast (fused slim-dedupe + MERGE) path: batch key sets
# above this don't fit a comfortable broadcast (~tens of MB / a few
# hundred MB of hash relation).  No minimum-duplicate-ratio gate:
# interleaved A/B showed the broadcast path 3-5x faster even at dedupe
# ratio 1.09, because keeping KB-wide payloads out of aggregation buffers
# and exchanges dwarfs the extra key-column pass.  Overridable for
# clusters whose executors can hold bigger hash relations (epochs with
# tens of millions of distinct keys).
import os as _os

SLIM_DEDUPE_MAX_KEYS = int(_os.environ.get("SPARK_GRAFT_SLIM_MAX_KEYS", 2_000_000))

# the count gate alone under-protects with WIDE keys (repo+path can be
# hundreds of bytes: 2M such keys is a multi-hundred-MB hash relation on
# the driver AND every executor).  The planning aggregate therefore also
# measures actual key bytes, and the broadcast path additionally requires
# distinct_keys × (avg_key_bytes + per-row overhead) under this bound.
SLIM_DEDUPE_MAX_BYTES = int(
    _os.environ.get("SPARK_GRAFT_SLIM_MAX_BYTES", 256 * 1024 * 1024)
)
# JVM hash-relation per-row overhead: UnsafeRow header + ord/action/del
# fields + map entry — ~64 bytes is deliberately conservative
_BCAST_ROW_OVERHEAD = 64

# ---- per-file key blooms: decide-phase scan pruning --------------------
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
# epoch's keys live in few of them.  Compaction drops blooms (rewritten
# files get none) — conservative, never wrong.
BLOOM_BITS = 1 << 13  # 8192 bits = 1 KB per file entry, ~2% fp at 1k keys
BLOOM_COMMIT_MAX_ROWS = int(_os.environ.get("SPARK_GRAFT_BLOOM_MAX_ROWS", 250_000))
BLOOM_PROBE_MAX_KEYS = int(_os.environ.get("SPARK_GRAFT_BLOOM_PROBE_KEYS", 20_000))
# per-FILE row cap: a broadcast merge with a small batch can still rewrite
# a matched file holding millions of rows — blooming it would stall the
# driver on a full pyarrow key read AND saturate the 1 KB bloom into
# uselessness (fill^8 → ~1 past ~2k distinct keys).  Checked from parquet
# footer metadata only; oversized files simply carry no bloom (= always
# scanned — conservative, never wrong).
BLOOM_FILE_MAX_ROWS = int(_os.environ.get("SPARK_GRAFT_BLOOM_FILE_ROWS", 2048))
_BLOOMS_ENABLED = _os.environ.get("SPARK_GRAFT_FILE_BLOOMS", "1") != "0"

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

def _bloom_safe_keys(schema, keys) -> bool:
    try:
        return all(
            schema.field_by_name(k).dtype.lower().split("(")[0].strip()
            in _BLOOM_SAFE_DTYPES
            for k in keys
        )
    except Exception:
        return False


# ---- per-file key zone maps: range pruning past the bloom caps ---------
# Blooms cap out (BLOOM_FILE_MAX_ROWS per file, BLOOM_PROBE_MAX_KEYS per
# epoch) because they cost a key-column data read to build and k hashes
# per probe key.  Zone maps — per-file MIN/MAX of each key column — are
# free at both ends: built from parquet FOOTER statistics only (no data
# read, so every file of any size gets one) and probed with two bisects
# per (file, key column) over the sorted winner values.  A file whose
# range provably excludes every winner key column-wise cannot contain a
# winner row (per-column exclusion ⇒ tuple exclusion), so skipping it is
# safe; overlap is merely a false positive (file scanned anyway).  This
# is the same trick as Iceberg's manifest-entry column bounds.
RANGE_PROBE_MAX_KEYS = int(_os.environ.get("SPARK_GRAFT_RANGE_PROBE_KEYS", 200_000))
_RANGES_ENABLED = _os.environ.get("SPARK_GRAFT_FILE_RANGES", "1") != "0"

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


_RANGE_TRUNC = 32  # Iceberg-style string-bound truncation length


def _range_safe_cols(schema) -> list[str]:
    """Every scalar column whose dtype the zone-map canon supports.

    Zone maps are footer-only, so bounds are recorded for ALL such
    columns, not just the merge keys — Iceberg records column bounds
    for every column for the same reason: ``range_scan`` can then prune
    files on any of them (e.g. a lang or commit predicate), while the
    MERGE decide probe keeps consulting only the key columns."""
    return [
        f.name
        for f in schema.fields
        if f.dtype.lower().split("(")[0].strip() in _BLOOM_SAFE_DTYPES
    ]


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


def _build_file_ranges(out_dir, out_files: dict[int, list[dict]], keys, schema) -> None:
    """Attach a ``kr`` zone map ({col: [min, max]}) to every just-written
    file entry, from parquet footer metadata only — no row cap needed.
    ``keys`` here is the COLUMN LIST to map (call sites pass
    ``_range_safe_cols(schema)`` — every supported column, keys
    included).  Columns with nulls or absent statistics get no entry
    (the probe treats a missing bound as 'may contain anything'); long
    string bounds are truncated Iceberg-style (``_trunc_bounds``) so a
    KB-sized content column never bloats the snapshot JSON."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    dts = {k: schema.field_by_name(k).dtype.lower().split("(")[0].strip() for k in keys}
    flat = [
        (fe, str(out_dir.parent.parent / fe["path"]))
        for fl in out_files.values()
        for fe in fl
    ]

    def one(item):
        fe, path = item
        md = pq.ParquetFile(path).metadata
        lo: dict[str, object] = {}
        hi: dict[str, object] = {}
        ok = set(keys)
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

    with ThreadPoolExecutor(max_workers=min(16, max(len(flat), 1))) as ex:
        list(ex.map(one, flat))


def _range_hit(fe: dict, sorted_vals: dict[str, list]) -> bool:
    """True iff the file MAY contain some winner key: every zone-mapped
    key column has at least one winner value inside [min, max]."""
    from bisect import bisect_left

    kr = fe.get("kr")
    if not kr:
        return True
    for k, (mn, mx) in kr.items():
        vals = sorted_vals.get(k)
        if vals is None:
            continue
        i = bisect_left(vals, mn)
        if i >= len(vals) or vals[i] > mx:
            return False  # no winner value of k in range ⇒ no tuple fits
    return True


_BLOOM_K = 8  # hash positions per key: false-hit ≈ fill^8, so a probe of
#               thousands of keys still skips files at ~30% fill — k=2
#               saturates at a few hundred probe keys (fill² decay)


def _bloom_positions(key_vals) -> list[int]:
    """``_BLOOM_K`` bit positions for a key tuple — pure python/hashlib so
    the write side (pyarrow read-back) and probe side (collected winner
    rows) can never disagree.  NULL key parts get a reserved token."""
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


def _build_file_blooms(out_dir, out_files: dict[int, list[dict]], keys) -> None:
    """Attach a base64 key bloom to every just-written file entry
    (driver-side pyarrow, threaded — same bounded pattern as
    ``_action_counts``; only called for small commits)."""
    import base64
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    flat = [
        (fe, str(out_dir.parent.parent / fe["path"]))
        for fl in out_files.values()
        for fe in fl
    ]

    def one(item):
        fe, path = item
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

    with ThreadPoolExecutor(max_workers=min(16, max(len(flat), 1))) as ex:
        list(ex.map(one, flat))


def _prune_decide_files(
    entries, key_rows, keys, schema,
    blooms: bool = True, ranges: bool = True,
) -> tuple[set[str], int, int] | None:
    """Decide-scan file subset: keep files (from the candidate ``entries``
    — the touched buckets' file entries across EVERY bucket layout, legacy
    included) that MAY contain a winner key per their bloom AND per their
    zone map (each independently has no false negatives, so either proof
    of absence suffices to skip).  Files carrying neither pruner are
    always kept.  Returns (subset, scanned, total), or None when nothing
    can be skipped."""
    import base64

    import numpy as np

    byte_idx = bit_mask = None
    if blooms:
        # (nkeys, K) bit positions; a key POSSIBLY hits a file iff ALL its
        # K positions are set in that file's bloom (no false negatives);
        # the file must be scanned iff ANY key possibly hits
        idx = np.array(
            [_bloom_positions(tuple(r)) for r in key_rows], dtype=np.int64
        )
        byte_idx, bit_mask = idx >> 3, (1 << (idx & 7)).astype(np.uint8)
    sorted_vals: dict[str, list] = {}
    if ranges:
        dts = {
            k: schema.field_by_name(k).dtype.lower().split("(")[0].strip()
            for k in keys
        }
        for i, k in enumerate(keys):
            vals = [_range_canon(r[i], dts[k]) for r in key_rows]
            sorted_vals[k] = sorted(v for v in vals if v is not None)
            if len(sorted_vals[k]) < len(vals):
                # a NULL winner key part matches no table row under join
                # semantics, but don't let it perturb the bounds check
                del sorted_vals[k]
    keep: set[str] = set()
    total = skipped = 0
    for fe in entries:
        total += 1
        hit = True
        if ranges and not _range_hit(fe, sorted_vals):
            hit = False
        blm = fe.get("bloom") if (hit and blooms) else None
        if blm is not None:
            bits = np.frombuffer(base64.b64decode(blm), dtype=np.uint8)
            hit = bool(
                ((bits[byte_idx] & bit_mask) != 0).all(axis=1).any()
            )
        if hit:
            keep.add(fe["path"])
        else:
            skipped += 1
    if not skipped:
        return None
    return keep, total - skipped, total


class CommitConflict(Exception):
    """A concurrent commit changed the table in a way this merge cannot
    rebase over (schema evolution raced this batch's own evolution).
    Re-align the batch against the current schema and retry."""


@dataclass
class CommitResult:
    snapshot_id: int
    epoch_id: int | None
    skipped: bool
    rows_in: int = 0
    rows_upserted: int = 0
    rows_deleted: int = 0
    event_seq_min: int | None = None
    event_seq_max: int | None = None
    touched_buckets: int = 0
    wall_ms: int = 0
    # per-partition (hash-bucket) lineage detail: one dict per touched
    # bucket with keys bucket / rows_in / rows_upserted / rows_deleted /
    # event_seq_min / event_seq_max (the north rule's "per-partition
    # lineage rows: event-range, offsets, row counts")
    bucket_stats: list[dict] | None = None
    # decide-phase scan accounting (bloom pruning observability):
    # files actually scanned / files in the touched buckets
    decide_files_scanned: int | None = None
    decide_files_total: int | None = None


def _action_counts(
    spark, out_dir, out_files: dict[int, list[dict]], max_driver_files: int = 512
) -> dict[int, dict[str, int]]:
    """Per-bucket MERGE action counts ({bucket: {action: n}}) from the
    commit's freshly written files.

    ``_action`` is a 5-value dictionary-encoded column, so counting it
    costs ~1 bit/row of I/O no matter how wide the rows are.  Below
    ``max_driver_files`` files the count runs driver-side with pyarrow
    (column-pruned, threaded) — cheaper than scheduling a Spark job per
    epoch, and the bytes stay bounded by row count, not data size.  Large
    commits fall back to one column-pruned Spark scan whose partition
    discovery (``basePath``) recovers the bucket id from the directory
    layout."""
    per_bucket: dict[int, dict[str, int]] = {}
    flat = [
        (b, str(out_dir.parent.parent / fe["path"]))
        for b, fl in out_files.items()
        for fe in fl
    ]
    if len(flat) <= max_driver_files:
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        def one(item):
            b, path = item
            vc = pq.read_table(path, columns=["_action"])["_action"].value_counts()
            return b, {str(v["values"]): int(v["counts"]) for v in vc.to_pylist()}

        with ThreadPoolExecutor(max_workers=min(16, max(len(flat), 1))) as ex:
            for b, counts in ex.map(one, flat):
                agg = per_bucket.setdefault(b, {})
                for a, n in counts.items():
                    agg[a] = agg.get(a, 0) + n
        return per_bucket

    rows = (
        spark.read.schema("_action string")
        .option("basePath", str(out_dir))
        .parquet(*[p for _, p in flat])
        .groupBy("_bucket", "_action")
        .count()
        .collect()
    )
    for r in rows:
        agg = per_bucket.setdefault(int(r["_bucket"]), {})
        agg[r["_action"]] = agg.get(r["_action"], 0) + int(r["count"])
    return per_bucket


def _merge_smj(
    deduped: DataFrame, current: DataFrame, keys, order_col: str, vals, nb: int
) -> DataFrame:
    """Full-outer sort-merge MERGE — the unbounded-batch path (batch key
    set too large to broadcast).  Both sides shuffle by key; the LWW order
    rides the struct under a dedicated _ord field so it works whether
    order_col is a value column or one of the keys."""
    t_side = current.select(
        *keys,
        F.struct(
            *[F.col(c) for c in vals],
            F.col(order_col).alias("_ord"),
            F.coalesce(F.col("_deleted"), F.lit(False)).alias("_deleted"),
        ).alias("_t"),
    )
    s_side = deduped.select(
        *keys,
        F.struct(
            *[F.col(c) for c in vals],
            F.col(order_col).alias("_ord"),
            (F.col("op") == "delete").alias("_deleted"),
        ).alias("_s"),
    )
    joined = t_side.join(s_side, on=list(keys), how="full_outer")

    s_seq = F.col("_s._ord")
    t_seq = F.col("_t._ord")
    s_del = F.col("_s._deleted")
    t_del = F.col("_t._deleted")
    s_wins = F.col("_s").isNotNull() & (F.col("_t").isNull() | (s_seq > t_seq))
    action = (
        F.when(~s_wins, F.lit("keep"))
        .when(s_del & (F.col("_t").isNull() | t_del), F.lit("tombstone"))
        .when(s_del, F.lit("delete"))
        .when(F.col("_t").isNull() | t_del, F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    return (
        joined.withColumn("_action", action)
        .withColumn("_w", F.when(s_wins, F.col("_s")).otherwise(F.col("_t")))
        .select(
            *keys,
            *[F.col(f"_w.{c}").alias(c) for c in vals],
            F.col("_w._deleted").alias("_deleted"),
            "_action",
        )
        .withColumn("_bucket", bucket_of(keys, nb))
    )


def _rel_paths(table_path, fnames) -> set[str] | None:
    """input_file_name() URIs → snapshot-relative posix paths.

    Returns ``None`` when any name cannot be resolved under the table
    root (non-local scheme, symlinked mount, foreign path) — the caller
    then degrades to the always-correct full-touched-bucket rewrite
    (``file_subset=None`` + no file re-linking) instead of aborting the
    merge on a path-layout assumption."""
    from pathlib import Path
    from urllib.parse import unquote, urlparse

    root = Path(table_path).resolve()
    out = set()
    for n in fnames:
        if not n:  # rows from in-memory relations carry no file name
            continue
        p = urlparse(n).path if "://" in n else n
        try:
            out.add(Path(unquote(p)).resolve().relative_to(root).as_posix())
        except ValueError:
            return None
    return out


def _merge_broadcast(
    batch: DataFrame,
    current: DataFrame,
    keys,
    order_col: str,
    vals,
    nb: int,
    derived_cols: dict,
    dedupe_guard: bool = True,
    read_matched=None,
    cache_registry: list | None = None,
    winners: DataFrame | None = None,
) -> tuple[list[tuple[DataFrame, bool]], set | None]:
    """Broadcast MERGE — neither losing batch rows nor the table's wide
    rows ever shuffle; LWW dedupe and MERGE fuse into one decision.

    The full-outer SMJ MERGE moves every current row's payload through an
    exchange + sort just to decide, per key, "batch wins or table wins".
    When the batch key set fits a broadcast that decision needs only slim
    columns:

    1. winner agg: ``batch.groupBy(keys).agg(max(ord), max_by(is_delete,
       ord))`` — one shuffle of key/order/op bytes only, payload untouched
       (this IS the LWW dedupe decision, fused with the MERGE's);
    2. action join: winners LEFT JOIN current (keys, ord, deleted) — a
       sort-merge join of SLIM rows, the current side a column-pruned
       scan (key + order + tombstone flag, no payload decode);
    3. ``win`` = the batch keys that beat the table, with winning order
       and MERGE action — bounded by the batch key set, broadcastable;
    4. changed rows: batch ⋈ broadcast(win) on (keys, ord = winning ord)
       map-side picks exactly the winner rows in ONE wide pass over the
       batch (a thin max_by guard collapses duplicate deliveries of the
       winning (key, ord) pair — skipped entirely when the planning pass
       proved the batch duplicate-free), then one bucket-partitioned
       shuffle of ONLY changed rows for tight files;
    5. keep rows: current LEFT ANTI broadcast(win) — a map-side filter:
       each scan task streams its bucket's survivors straight back to
       parquet, payload untouched by any exchange.  With ``read_matched``
       (the default from ``merge_batch``), the keep side reads ONLY the
       files that actually contain a winning key: the action join's
       t-side carries ``input_file_name()``, the matched-file set is
       collected (bounded by the touched buckets' file count), unmatched
       files are RE-LINKED into the new snapshot untouched — Iceberg/
       Delta COW at file granularity, which is what keeps per-epoch
       rewrite cost proportional to the keys an epoch actually hits
       instead of to every file of every touched bucket (the difference
       between O(epoch) and O(table) for a small streaming epoch).

    Same (row, _action, _deleted) output as lww_dedupe + ``_merge_smj`` —
    equivalence pytest-checked on random multi-epoch replays.  Null-safe
    equality throughout: a null key is a group, exactly as the full-outer
    join treats it.  Derived columns are computed on winner rows only,
    after step 4.  Returns ([(changed, True), (keep_side, tight), ...],
    matched_rel) — one keep side per ``read_matched`` source frame
    (current-spec keeps exchange-free; legacy-layout migrations
    bucket-exchanged, see the comment at the return).

    Tradeoff vs the SMJ path: keep-rows avoid the exchange at the cost of
    file granularity — each scan task writes one file per bucket it
    holds, so a bucket can gain a few files per epoch instead of exactly
    one (scan tasks pack CONTIGUOUS bucket files, so the total stays
    ~tasks + buckets, not tasks × buckets).  Compaction
    (lake/maintenance.py, ``compact_every`` in replay_stream) re-tightens
    them; at cluster scale the avoided table-payload exchange dominates —
    this split is exactly why Iceberg/Delta MERGE rewrites only matched
    files instead of shuffling the table.
    """
    if winners is None:
        winners = batch.groupBy(*keys).agg(
            F.max(order_col).alias("_s_ord"),
            F.max_by(F.col("op") == "delete", F.col(order_col)).alias("_s_del"),
        )
    t_slim = current.select(
        *keys,
        F.col(order_col).alias("_t_ord"),
        F.coalesce(F.col("_deleted"), F.lit(False)).alias("_t_del"),
        F.lit(True).alias("_t_present"),  # null after the outer join = no t row
        # which physical file holds this row — drives matched-file pruning
        F.input_file_name().alias("_t_fname"),
    )
    for k in keys:
        t_slim = t_slim.withColumnRenamed(k, f"_t_{k}")
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"_t_{k}"))
        cond = c if cond is None else cond & c
    # Only table rows whose key matches a winner key can influence the
    # decision, so pre-filter the table side with a broadcast LEFT SEMI
    # against the winner keys (same null-safe equality — no false drops)
    # before the outer join.  Without this the outer join sort-merges the
    # ENTIRE touched-bucket slim relation against the (small) winner set:
    # an exchange + sort of O(table slice) rows per epoch.  With it the
    # table side streams through a map-side hash probe (never shuffled),
    # and the remaining outer join is winner-set vs ≤ winner-set sized.
    t_hit = t_slim.join(F.broadcast(winners.select(*keys)), cond, "left_semi")
    act = winners.join(t_hit, cond, "left_outer")
    if read_matched is not None and cache_registry is not None:
        # the matched-file collect materializes act anyway; caching the
        # SLIM relation (keys + ords + flags + file name) lets the win
        # broadcasts reuse it instead of re-running the winner aggregation
        # + table-key join — the whole decision computes exactly once
        act = act.persist()
        cache_registry.append(act)

    no_t = F.col("_t_present").isNull()
    s_wins = no_t | (F.col("_s_ord") > F.col("_t_ord"))
    action = (
        F.when(F.col("_s_del") & (no_t | F.col("_t_del")), F.lit("tombstone"))
        .when(F.col("_s_del"), F.lit("delete"))
        .when(no_t | F.col("_t_del"), F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    # _w_del rides along as the AUTHORITATIVE tombstone flag for changed
    # rows: _action above is derived from the same max_by(_s_del) winner,
    # so the two can never disagree.  (Re-deriving _deleted from the picked
    # row's op — as an earlier version did — used lww_dedupe's independent
    # tie-break, which could contradict _action when duplicate deliveries
    # share the winning (key, order) but differ in op.)
    win = act.filter(s_wins).select(
        *[F.col(k).alias(f"_w_{k}") for k in keys],
        F.col("_s_ord").alias("_w_ord"),
        F.col("_s_del").alias("_w_del"),
        action.alias("_action"),
    )

    cond_s = F.col(order_col).eqNullSafe(F.col("_w_ord"))
    for k in keys:
        cond_s = cond_s & F.col(k).eqNullSafe(F.col(f"_w_{k}"))

    picked = batch.join(F.broadcast(win), cond_s, "inner").drop(
        *[f"_w_{k}" for k in keys], "_w_ord"
    )
    if dedupe_guard:
        # duplicate deliveries of the winning (key, ord) pair: guard agg
        # over winner rows only (~one row per key reaches it).  Skipped
        # when the planning pass PROVED the batch (key, order)-duplicate-
        # free (exact count-distinct) — then ``picked`` is already one row
        # per key, and the winner payload's only remaining exchange is its
        # final bucket placement.
        changed = lww_dedupe(picked, keys=keys, order_col=order_col)
    else:
        changed = picked
    for c, expr in derived_cols.items():
        changed = changed.withColumn(c, expr)
    changed = changed.select(
        *keys,
        *[F.col(c) for c in vals],
        F.col("_w_del").alias("_deleted"),
        "_action",
    ).withColumn("_bucket", bucket_of(keys, nb))

    matched_rel = None
    keeps_srcs = [(current, False)]
    if read_matched is not None:
        # files holding at least one WINNING key — every other file's rows
        # are untouched by this merge and the file is re-linked, not read
        names = [
            r["_t_fname"]
            for r in act.filter(F.col("_t_present").isNotNull() & s_wins)
            .select("_t_fname")
            .distinct()
            .collect()
        ]
        matched_rel, keeps_srcs = read_matched(names)

    cond_k = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"_w_{k}"))
        cond_k = c if cond_k is None else cond_k & c

    def _keep(src: DataFrame) -> DataFrame:
        return (
            src.join(
                F.broadcast(win.select(*[f"_w_{k}" for k in keys])), cond_k, "left_anti"
            )
            .select(
                *keys,
                *[F.col(c) for c in vals],
                F.coalesce(F.col("_deleted"), F.lit(False)).alias("_deleted"),
                F.lit("keep").alias("_action"),
            )
            .withColumn("_bucket", bucket_of(keys, nb))
        )

    # `tight` keep sides (legacy-layout migrations) route through a
    # bucket-hash exchange — their bucket placement CHANGES, and writing
    # them straight off the scan would emit one file per (task, target
    # bucket) pair; current-spec keeps stream task→parquet exchange-free
    # as before (placement unchanged)
    return (
        [(changed, True)] + [(_keep(src), tight) for src, tight in keeps_srcs],
        matched_rel,
    )


def _merge_mor_commit(
    table: LakeTable,
    batch: DataFrame,
    snap: dict,
    epoch_id: int | None,
    app_id: str,
    derived_cols: dict,
    schema: TableSchema,
    keys,
    order_col: str,
    nb: int,
    winners_slim: DataFrame,
    caches: list,
    plan_rows,
    touched: list,
    rows_in: int,
    seq_lo,
    seq_hi,
    distinct_keys: int,
    dup_deliveries: bool,
    est_broadcast_bytes: int,
    commit_tag: str,
    mor_compact_threshold: int | None,
    _mark,
    _timing: bool,
    _ph: dict,
) -> CommitResult:
    """Merge-on-read write: append the epoch's LWW winners as per-bucket
    DELTA files — the table is never read, so per-epoch cost is O(batch).

    Reads reconcile base+delta per key (``LakeTable.read`` picks max
    ``(order_col, -_seq)``; ``_seq`` is this commit's snapshot id, baked
    into the delta parquet) and compaction folds deltas back into base
    files.  This is the Hudi-MOR / Iceberg-v2 write shape: the decide
    scan and matched-file rewrite that bound the COW path's trickle-CDC
    floor disappear entirely, deferred to compaction where they amortize
    across many epochs.

    Winner payloads take the slim path when the key set fits a broadcast
    (losing rows' payloads never shuffle — map-side semi-join against
    the already-computed winner set), else one max_by agg shuffle.
    Delete events become tombstone winners (``_deleted=true``) exactly
    as in COW; insert-vs-update is unknowable without reading the table,
    so delta rows carry ``_action='upsert'|'delete'`` and the changelog
    reports upserts as such.

    Commit: CAS with ALWAYS-REBASE — a MOR commit appends file entries
    to bucket lists and reads no table state, so it commutes with any
    concurrent data commit (another MOR epoch, a compaction).  The one
    non-commuting case, a concurrent schema evolution, raises
    ``CommitConflict`` for the caller to re-align (same as COW).  A CAS
    rebase can leave the baked ``_seq`` one less than the final snapshot
    id; ordering stays correct for any single-writer stream (seqs remain
    strictly increasing per key) — only two CONCURRENT writers racing
    the same key at the same LWW order tie non-deterministically, a race
    that is unordered to begin with.
    """
    ndl_by_bucket = {r["_bucket"]: int(r["ndl"] or 0) for r in plan_rows}
    dk_by_bucket = {r["_bucket"]: int(r["dk"]) for r in plan_rows}
    plan_by_bucket = {r["_bucket"]: (int(r["n"]), r["lo"], r["hi"]) for r in plan_rows}
    deletes_total = sum(ndl_by_bucket.values())

    out_files: dict[int, list[dict]] = {}
    if touched:
        use_broadcast = (
            0 < distinct_keys <= SLIM_DEDUPE_MAX_KEYS
            and est_broadcast_bytes <= SLIM_DEDUPE_MAX_BYTES
        )
        if use_broadcast:
            # map-side winner pick: losing rows' payloads never shuffle
            win = winners_slim.select(
                *[F.col(k).alias(f"_w_{k}") for k in keys],
                F.col("_s_ord").alias("_w_ord"),
                F.col("_s_del").alias("_w_del"),
            )
            cond = F.col(order_col).eqNullSafe(F.col("_w_ord"))
            for k in keys:
                cond = cond & F.col(k).eqNullSafe(F.col(f"_w_{k}"))
            picked = batch.join(F.broadcast(win), cond, "inner").drop(
                *[f"_w_{k}" for k in keys], "_w_ord"
            )
            if dup_deliveries:
                # duplicate deliveries of the winning (key, ord) pair —
                # collapse before writing; skipped when planning PROVED
                # the batch (key, order)-duplicate-free
                picked = lww_dedupe(picked, keys=keys, order_col=order_col)
            winners_rows = picked.withColumn(
                "_deleted", F.coalesce(F.col("_w_del"), F.lit(False))
            ).drop("_w_del", "op")
        else:
            deduped = lww_dedupe(batch, keys=keys, order_col=order_col)
            winners_rows = deduped.withColumn(
                "_deleted", F.col("op") == "delete"
            ).drop("op")
        for c, expr in derived_cols.items():
            winners_rows = winners_rows.withColumn(c, expr)
        vals = [c for c in schema.names() if c not in keys]
        delta = (
            winners_rows.select(
                *keys,
                *[F.col(c) for c in vals],
                "_deleted",
            )
            .withColumn(
                "_action",
                F.when(F.col("_deleted"), F.lit("delete")).otherwise(F.lit("upsert")),
            )
            .withColumn("_seq", F.lit(snap["snapshot_id"] + 1).cast("long"))
            .withColumn("_bucket", bucket_of(keys, nb))
        )
        out_dir_rel = f"data/commit-{commit_tag}"
        out_dir = table.path / out_dir_rel
        (
            delta.repartition(max(len(touched), 1), "_bucket")
            .write.partitionBy("_bucket")
            .parquet(str(out_dir))
        )
        for bdir in sorted(out_dir.glob("_bucket=*")):
            b = int(bdir.name.split("=")[1])
            out_files[b] = [
                {
                    "path": f"{out_dir_rel}/{bdir.name}/{p.name}",
                    "sv": schema.version,
                    "kind": "delta",
                }
                for p in sorted(bdir.iterdir())
                if p.name.endswith(".parquet")
            ]
    _mark("write")
    for c in caches:
        c.unpersist()

    bucket_stats = [
        {
            "bucket": int(b),
            "rows_in": plan_by_bucket[b][0],
            # MOR reports REQUESTED upserts/deletes (winner counts by op):
            # whether a delete hit a live key is unknowable without the
            # decide scan this mode exists to skip
            "rows_upserted": dk_by_bucket[b] - ndl_by_bucket[b],
            "rows_deleted": ndl_by_bucket[b],
            "event_seq_min": plan_by_bucket[b][1],
            "event_seq_max": plan_by_bucket[b][2],
        }
        for b in sorted(touched)
    ]

    base = snap
    while True:
        # untouched buckets keep their manifest-marked lists by reference
        # (never mutated — touched ones are REPLACED via + below), so the
        # snapshot write re-serializes only the touched buckets
        new_buckets = dict(base["buckets"])
        for b in touched:
            new_buckets[str(b)] = new_buckets.get(str(b), []) + out_files.get(b, [])
        schemas = dict(base["schemas"])
        schemas[str(schema.version)] = schema.to_json()
        fences = table.fences(base)
        if epoch_id is not None:
            fences = fence_add(fences, app_id, epoch_id)
        new_snap = {
            "snapshot_id": base["snapshot_id"] + 1,
            "parent_id": base["snapshot_id"],
            "epoch_id": epoch_id,
            "app_id": app_id,
            "key_cols": list(keys),
            "order_col": order_col,
            "num_buckets": nb,
            "spec_id": int(base.get("spec_id", 0)),
            **({"legacy": base["legacy"]} if base.get("legacy") else {}),
            "current_schema_version": schema.version,
            "schemas": schemas,
            "buckets": new_buckets,
            "added_files": {str(b): fl for b, fl in out_files.items()},
            "fences": fences,
            "stats": {"rows_in": rows_in, "mor": True},
        }
        if table._try_write_snapshot(new_snap):
            if _timing:
                _mark("commit")
                print(
                    "[merge-timing] epoch=%s %s total=%.3fs (mor)"
                    % (
                        epoch_id,
                        " ".join(f"{k}={v:.3f}s" for k, v in _ph.items()),
                        sum(_ph.values()),
                    )
                )
            if mor_compact_threshold is not None and touched:
                # log-structured maintenance: fold any bucket whose delta
                # depth reached the bound, keeping read amplification O(1)
                deep = [
                    b
                    for b in touched
                    if sum(
                        1
                        for fe in new_snap["buckets"].get(str(b), [])
                        if fe.get("kind") == "delta"
                    )
                    >= mor_compact_threshold
                ]
                if deep:
                    from rocket_etl_spark.lake.maintenance import compact

                    compact(table, buckets=deep)
            return CommitResult(
                snapshot_id=new_snap["snapshot_id"],
                epoch_id=epoch_id,
                skipped=False,
                rows_in=rows_in,
                rows_upserted=distinct_keys - deletes_total,
                rows_deleted=deletes_total,
                event_seq_min=seq_lo,
                event_seq_max=seq_hi,
                touched_buckets=len(touched),
                bucket_stats=bucket_stats,
                decide_files_scanned=0,
                decide_files_total=0,
            )
        latest = table.current_snapshot()
        if epoch_id is not None and table.is_epoch_committed(epoch_id, app_id, latest):
            return CommitResult(latest["snapshot_id"], epoch_id, skipped=True)
        if latest["current_schema_version"] != snap["current_schema_version"]:
            raise CommitConflict(
                f"schema evolved concurrently (v{snap['current_schema_version']} -> "
                f"v{latest['current_schema_version']}); re-align the batch and retry"
            )
        if int(latest["num_buckets"]) != nb:
            # concurrent bucket-spec evolution: our delta files are laid
            # out under the retired spec — recompute under the new one
            return None
        base = latest  # append-only: always safe to rebase


def merge_batch(
    table: LakeTable,
    batch: DataFrame,
    epoch_id: int | None = None,
    new_schema: TableSchema | None = None,
    app_id: str = "default",
    derived_cols: dict | None = None,
    mode: str = "cow",
    mor_compact_threshold: int | None = None,
) -> CommitResult:
    """MERGE ``batch`` into ``table``; returns commit stats.

    ``batch`` must carry the table's columns (under ``new_schema`` if an
    evolution accompanies this commit) plus ``op`` ('upsert'|'delete').
    ``epoch_id`` enables the exactly-once fence, scoped by ``app_id``
    (one fence per stream/application — Delta's txnAppId/txnVersion
    pattern): an epoch already committed under this app is a no-op,
    while a different app's epoch numbering never collides.

    ``derived_cols`` ({name: Column expr over batch columns}) are table
    columns computed AFTER the LWW dedupe, on winner rows only, and must
    therefore be pure functions of other columns (sha256 of content, a
    normalization).  Excluding them from the pre-dedupe batch keeps their
    bytes out of the dedupe shuffle/sort and skips computing them for
    rows that lose the LWW race — measured ~2x on the end-to-end replay
    for the 64-char content_sha256 column.  They may not be key or order
    columns (winners are chosen before they exist).

    ``mode`` selects the write strategy:

    * ``'cow'`` (default) — copy-on-write: decide against the table,
      rewrite matched files, re-link the rest.  Read-optimized; per-epoch
      cost ~O(touched buckets' key columns + matched files).
    * ``'mor'`` — merge-on-read: the epoch's LWW winners (including
      delete tombstones) are APPENDED as per-bucket delta files without
      reading the table at all; reads reconcile base+delta per key
      (``LakeTable.read``), and compaction folds deltas back into base
      files.  Write-optimized — per-epoch cost is O(batch) with no
      decide scan, the shape that keeps a 10^10-event trickle-CDC stream
      ingesting at wire speed; the read-amplification debt is bounded by
      ``mor_compact_threshold`` (auto-compact any touched bucket whose
      delta-file count reaches it) or an external ``compact_every``/
      ``compact()`` schedule.  A COW merge landing on delta-bearing
      buckets compacts them first (mode transition is always safe).

    Final table state is IDENTICAL between modes for any replay — the
    property test replays random multi-epoch streams both ways and
    diffs; both modes share the exactly-once fence and CAS commit.
    """
    t0 = time.monotonic()
    compactions = 0
    while True:  # recompute loop: re-runs only on touched-bucket CAS conflict
        snap = table.current_snapshot()
        if epoch_id is not None and table.is_epoch_committed(epoch_id, app_id, snap):
            return CommitResult(snap["snapshot_id"], epoch_id, skipped=True)
        if mode == "cow":
            # mode transition: fold any merge-on-read deltas before a COW
            # decide reads these buckets (its keep/re-link logic assumes
            # one live row per key per bucket's file set — a retained
            # stale delta row would out-seq the rewrite and corrupt)
            delta_buckets = [
                int(b)
                for b, fl in snap["buckets"].items()
                if any(fe.get("kind") == "delta" for fe in fl)
            ]
            if delta_buckets:
                if compactions >= 5:
                    raise RuntimeError(
                        "COW merge cannot clear merge-on-read deltas: a "
                        "concurrent MOR writer keeps appending; use one "
                        "write mode per table or pause the MOR stream"
                    )
                from rocket_etl_spark.lake.maintenance import compact

                compact(table, buckets=delta_buckets)
                compactions += 1
                continue
        res = _merge_once(
            table, batch, snap, epoch_id, new_schema, app_id, derived_cols,
            mode=mode, mor_compact_threshold=mor_compact_threshold,
        )
        if res is not None:
            res.wall_ms = int((time.monotonic() - t0) * 1000)
            return res


def _merge_once(
    table: LakeTable,
    batch: DataFrame,
    snap: dict,
    epoch_id: int | None,
    new_schema: TableSchema | None,
    app_id: str,
    derived_cols: dict | None = None,
    mode: str = "cow",
    mor_compact_threshold: int | None = None,
) -> CommitResult | None:
    """One merge attempt against basis snapshot ``snap``.  Returns the
    CommitResult, or None when a CAS loss forces a full recompute."""
    spark = table.spark
    derived_cols = derived_cols or {}
    schema = new_schema or TableSchema.from_json(
        snap["schemas"][str(snap["current_schema_version"])]
    )
    keys = snap["key_cols"]
    order_col = snap["order_col"]
    nb = int(snap["num_buckets"])

    if set(derived_cols) & (set(keys) | {order_col}):
        raise ValueError("derived_cols may not include key or order columns")
    expect = (set(schema.names()) | {"op"}) - set(derived_cols)
    if set(batch.columns) != expect:
        raise ValueError(f"batch columns {sorted(batch.columns)} != expected {sorted(expect)}")

    commit_tag = f"{snap['snapshot_id'] + 1:08d}-{uuid.uuid4().hex[:8]}"

    # SPARK_GRAFT_TIMING=1: print a per-phase wall breakdown of this merge
    # (plan / decide+write / stats / commit) — the observability hook for
    # chasing per-epoch fixed costs (streaming mode pays them per micro-
    # batch).  Negligible overhead when unset (a few monotonic() calls).
    _timing = bool(_os.environ.get("SPARK_GRAFT_TIMING"))
    _tm = time.monotonic()
    _ph: dict[str, float] = {}

    def _mark(phase: str) -> None:
        nonlocal _tm
        now = time.monotonic()
        _ph[phase] = _ph.get(phase, 0.0) + (now - _tm)
        _tm = now

    # 1+2. planning IS the LWW winner aggregation: ONE column-pruned pass
    # over (keys, order, op) computes, per key, the winning order + op
    # (the broadcast MERGE's decision input, cached and reused) AND the
    # planning stats — row counts, seq ranges, key bytes, duplicate-
    # delivery detection — which then reduce per bucket in a second agg
    # over the (already tiny) one-row-per-key relation.  Bucket id is
    # key-deterministic, so dedupe cannot change the touched set; ≤
    # num_buckets rows reach the driver, and the batch's key columns are
    # scanned exactly once for the whole plan+decide phase.
    # (Deliberately no DataFrame.observe anywhere: observed metrics never
    # resolve inside a streaming foreachBatch — Observation.get blocks.)
    key_bytes_col = sum(
        (F.coalesce(F.octet_length(F.col(k).cast("string")), F.lit(4)) for k in keys),
        F.lit(0),
    )
    winners_slim = batch.groupBy(*keys).agg(
        F.max(order_col).alias("_s_ord"),
        F.max_by(F.col("op") == "delete", F.col(order_col)).alias("_s_del"),
        F.count(F.lit(1)).alias("_cnt"),
        F.min(order_col).alias("_lo"),
        # EXACT distinct orders per key: Σ equals the distinct (key, order)
        # pair count — when that equals the row count the batch provably
        # has no duplicate deliveries and the post-pick dedupe guard is
        # skipped.  Exact on purpose: an approximation could skip wrongly.
        F.count_distinct(F.col(order_col)).alias("_nords"),
        # key BYTES (same pass): sizes the broadcast hash relation — the
        # key-count gate alone misjudges wide string keys
        F.sum(key_bytes_col).alias("_kb"),
    ).persist()
    caches: list = [winners_slim]
    plan_rows = (
        winners_slim.groupBy(bucket_of(keys, nb).alias("_bucket"))
        .agg(
            F.sum("_cnt").alias("n"),
            F.min("_lo").alias("lo"),
            F.max("_s_ord").alias("hi"),
            # EXACT per-bucket key cardinality (one row per key reaches
            # this agg — no HLL needed)
            F.count(F.lit(1)).alias("dk"),
            F.sum("_kb").alias("kb"),
            F.sum("_nords").alias("ndp"),
            # delete-winner count per bucket: the merge-on-read path's
            # whole stats story (it never reads _action back from files)
            F.sum(F.when(F.col("_s_del"), 1).otherwise(0)).alias("ndl"),
        )
        .collect()
    )
    touched = [r["_bucket"] for r in plan_rows]
    plan_by_bucket = {r["_bucket"]: (int(r["n"]), r["lo"], r["hi"]) for r in plan_rows}
    rows_in = int(sum(r["n"] for r in plan_rows))
    seq_lo = min((r["lo"] for r in plan_rows), default=None)
    seq_hi = max((r["hi"] for r in plan_rows), default=None)
    distinct_keys = int(sum(r["dk"] for r in plan_rows))
    dup_deliveries = rows_in != int(sum(r["ndp"] for r in plan_rows))
    key_bytes = int(sum(r["kb"] or 0 for r in plan_rows))
    avg_key_bytes = key_bytes / rows_in if rows_in else 0.0
    est_broadcast_bytes = int(distinct_keys * (avg_key_bytes + _BCAST_ROW_OVERHEAD))
    _mark("plan")

    if mode == "mor":
        return _merge_mor_commit(
            table, batch, snap, epoch_id, app_id, derived_cols, schema,
            keys, order_col, nb, winners_slim, caches, plan_rows, touched,
            rows_in, seq_lo, seq_hi, distinct_keys, dup_deliveries,
            est_broadcast_bytes, commit_tag, mor_compact_threshold,
            _mark, _timing, _ph,
        )
    if mode != "cow":
        for c in caches:
            c.unpersist()
        raise ValueError(f"unknown merge mode {mode!r} (use 'cow' or 'mor')")

    out_files: dict[int, list[dict]] = {}
    stat_map: dict[str, int] = {}
    bucket_actions: dict[int, dict[str, int]] = {}
    # broadcast path: old file entries NOT containing any winning key are
    # re-linked into the new snapshot instead of being read + rewritten
    retained: dict[str, list[dict]] = {}
    matched_rel: set | None = None
    # bucket-spec evolution: winner keys may still live under a RETIRED
    # layout — probe each legacy spec with the keys' buckets under THAT
    # spec (same tiny collect shape as plan_rows: ≤ spec's bucket count
    # rows; winners_slim is cached).  Only file-bearing buckets count.
    legacy = [
        layout
        for layout in (snap.get("legacy") or [])
        if any(layout["buckets"].values())
    ]
    leg_touched: dict[int, list[int]] = {}
    if touched and legacy:
        for layout in legacy:
            lb = {
                r["_b"]
                for r in winners_slim.select(
                    bucket_of(keys, int(layout["num_buckets"])).alias("_b")
                )
                .distinct()
                .collect()
            }
            lb = sorted(b for b in lb if layout["buckets"].get(str(b)))
            if lb:
                leg_touched[int(layout["spec_id"])] = lb
    if touched:
        from rocket_etl_spark.schema.registry import project_to

        cur_schema = TableSchema.from_json(
            snap["schemas"][str(snap["current_schema_version"])]
        )

        def _project(df: DataFrame) -> DataFrame:
            if new_schema is None:
                return df
            return project_to(df, cur_schema, schema, passthrough=("_deleted",))

        use_broadcast = (
            0 < distinct_keys <= SLIM_DEDUPE_MAX_KEYS
            and est_broadcast_bytes <= SLIM_DEDUPE_MAX_BYTES
        )

        # bloom + zone-map pruning of the DECIDE scan (see the sections
        # above).  Broadcast path only: its keep side re-links unscanned
        # files; the SMJ path rewrites whole buckets and must see every
        # row.  Blooms gate at BLOOM_PROBE_MAX_KEYS (k hashes per key);
        # zone maps stretch to RANGE_PROBE_MAX_KEYS (two bisects/file).
        decide_subset = None
        touched_entries = [
            fe for b in touched for fe in snap["buckets"].get(str(b), [])
        ] + [
            fe
            for layout in legacy
            for b in leg_touched.get(int(layout["spec_id"]), [])
            for fe in layout["buckets"].get(str(b), [])
        ]
        probe_blooms = (
            _BLOOMS_ENABLED
            and distinct_keys <= BLOOM_PROBE_MAX_KEYS
            and any("bloom" in fe for fe in touched_entries)
        )
        probe_ranges = (
            _RANGES_ENABLED
            and distinct_keys <= RANGE_PROBE_MAX_KEYS
            and any("kr" in fe for fe in touched_entries)
        )
        if (
            use_broadcast
            and (probe_blooms or probe_ranges)
            and _bloom_safe_keys(cur_schema, keys)
        ):
            key_rows = winners_slim.select(*keys).collect()
            pruned = _prune_decide_files(
                touched_entries, key_rows, keys, cur_schema,
                blooms=probe_blooms, ranges=probe_ranges,
            )
            if pruned is not None:
                decide_subset, decide_scanned, decide_total = pruned
        if decide_subset is None:
            decide_scanned = decide_total = len(touched_entries)

        # tombstones included: a newer delete must outrank a stale upsert
        current = _project(
            table.read(
                buckets=touched, include_tombstones=True,
                file_subset=decide_subset, legacy_buckets=leg_touched,
            )
        )

        vals = [c for c in schema.names() if c not in keys]
        # _action is written into the data files (tiny, dictionary-encoded)
        # and read back by a pruned single-column scan for the MERGE stats —
        # explicit-schema reads make it invisible to table queries, exactly
        # like the _deleted tombstone flag.
        if use_broadcast:
            def read_matched(fnames):
                rel = _rel_paths(table.path, fnames)
                # current-spec keeps: bucket placement unchanged — stream
                # scan→parquet with no exchange (tight=False).  (An r6
                # experiment replaced this with a union of per-bucket
                # scans to get bucket-contiguous tasks and tighter output
                # files; the 64-way union regressed the incremental merge
                # 5x — per-child planning and stage overhead dwarf the
                # file-count savings — so the single scan stands.)
                srcs = [(
                    _project(
                        table.read(
                            buckets=touched, include_tombstones=True,
                            file_subset=rel, legacy_buckets={},
                        )
                    ),
                    False,
                )]
                if leg_touched:
                    # legacy-layout keeps MIGRATE: placement changes, so
                    # route through a bucket-hash exchange (tight=True) —
                    # one output file per target bucket instead of one
                    # per (scan task, target bucket)
                    srcs.append((
                        _project(
                            table.read(
                                buckets=[], include_tombstones=True,
                                file_subset=rel, legacy_buckets=leg_touched,
                            )
                        ),
                        True,
                    ))
                return rel, srcs

            # fused dedupe+MERGE: no payload ever shuffles except the
            # changed rows' final bucket placement
            outputs, matched_rel = _merge_broadcast(
                batch, current, keys, order_col, vals, nb, derived_cols,
                dedupe_guard=dup_deliveries, read_matched=read_matched,
                cache_registry=caches,
                winners=winners_slim.select(*keys, "_s_ord", "_s_del"),
            )
            if matched_rel is not None:
                for b in touched:
                    retained[str(b)] = [
                        fe
                        for fe in snap["buckets"].get(str(b), [])
                        if fe["path"] not in matched_rel
                    ]
        else:
            # key set exceeds the broadcast bound → slim forms unavailable;
            # plain one-shuffle max_by dedupe feeding the full-outer SMJ
            # (map-side combine keeps hot keys skew-safe), derived columns
            # computed on winners only
            deduped = lww_dedupe(batch, keys=keys, order_col=order_col)
            for c, expr in derived_cols.items():
                deduped = deduped.withColumn(c, expr)
            outputs = [(_merge_smj(deduped, current, keys, order_col, vals, nb), True)]

        _mark("decide")  # broadcast: incl. the matched-file collect
        out_dir_rel = f"data/commit-{commit_tag}"
        out_dir = table.path / out_dir_rel
        # ONE write job for every output side: union preserves each
        # side's partitioning (the changed side keeps its one-partition-
        # per-touched-bucket shuffle, the keep side keeps its exchange-
        # free scan partitions), so this merely removes the per-side job
        # scheduling round-trips and lets the keep scan backfill cores
        # while the changed side's exchange drains (guide §2.6).
        sides = [
            # tight sides (changed rows, legacy migrations): placement
            # changes, so route through a bucket-hash exchange; the keep
            # side is written straight out of its (bucket-contiguous)
            # scan partitions — repartitioning it would put the payload
            # back on the wire
            part.repartition(max(len(touched), 1), "_bucket") if tight else part
            for part, tight in outputs
        ]
        combined = sides[0]
        for p in sides[1:]:
            combined = combined.unionByName(p)
        combined.write.partitionBy("_bucket").parquet(str(out_dir))
        for bdir in sorted(out_dir.glob("_bucket=*")):
            b = int(bdir.name.split("=")[1])
            files = [
                f"{out_dir_rel}/{bdir.name}/{p.name}"
                for p in sorted(bdir.iterdir())
                if p.name.endswith(".parquet")
            ]
            out_files[b] = [{"path": p, "sv": schema.version} for p in files]
        if (
            _BLOOMS_ENABLED
            and 0 < rows_in <= BLOOM_COMMIT_MAX_ROWS
            and _bloom_safe_keys(schema, keys)
        ):
            # small commit: attach key blooms so LATER small epochs can
            # skip scanning these files in their decide phase
            _build_file_blooms(out_dir, out_files, keys)
        if _RANGES_ENABLED and out_files:
            # every commit, every file size, EVERY supported column (not
            # just keys — Iceberg column bounds): zone maps are footer-only
            _build_file_ranges(out_dir, out_files, _range_safe_cols(schema), schema)
        _mark("write")

        if out_files:
            bucket_actions = _action_counts(spark, out_dir, out_files)
            for counts in bucket_actions.values():
                for a, n in counts.items():
                    stat_map[a] = stat_map.get(a, 0) + n
        _mark("stats")

    for c in caches:  # plan+writes done — release the cached slim decision
        c.unpersist()

    bucket_stats = [
        {
            "bucket": int(b),
            "rows_in": plan_by_bucket[b][0],
            "rows_upserted": bucket_actions.get(b, {}).get("insert", 0)
            + bucket_actions.get(b, {}).get("update", 0),
            "rows_deleted": bucket_actions.get(b, {}).get("delete", 0),
            "event_seq_min": plan_by_bucket[b][1],
            "event_seq_max": plan_by_bucket[b][2],
        }
        for b in sorted(touched)
    ]

    # 5. assemble + CAS-commit the snapshot; on CAS loss, REBASE onto the
    # winner's snapshot (carry ITS buckets/fences forward) when our touched
    # buckets and the schema are unaffected, else recompute/raise.
    base = snap  # snapshot whose buckets/fences the new snapshot extends
    while True:
        new_buckets = dict(base["buckets"])
        for b in touched:
            # freshly written files + (broadcast path) re-linked unmatched
            # files; the SMJ path rewrites whole buckets, retained is empty
            new_buckets[str(b)] = out_files.get(b, []) + retained.get(str(b), [])
        for b, fl in out_files.items():
            if b not in set(touched):
                # keep-rows MIGRATED out of a rewritten legacy-layout file
                # scatter to their current-spec buckets — appended: the
                # one-live-row-per-key-per-spec invariant guarantees these
                # keys have no existing row in this bucket
                new_buckets[str(b)] = list(base["buckets"].get(str(b), [])) + fl
        # legacy layouts: a touched legacy bucket's matched files were
        # fully rewritten into current-spec buckets (gradual migration);
        # unmatched files re-link in place.  The SMJ / degraded-broadcast
        # paths rewrite every file of every touched bucket, legacy
        # included, so those buckets empty out entirely.
        new_legacy = []
        for layout in (base.get("legacy") or []):
            tb = set(leg_touched.get(int(layout["spec_id"]), []))
            kept_map = {}
            for bb, fl in layout["buckets"].items():
                if int(bb) in tb:
                    fl = (
                        [fe for fe in fl if fe["path"] not in matched_rel]
                        if matched_rel is not None
                        else []
                    )
                if fl:
                    kept_map[bb] = fl
            if kept_map:
                new_legacy.append({**layout, "buckets": kept_map})
        schemas = dict(base["schemas"])
        schemas[str(schema.version)] = schema.to_json()
        fences = table.fences(base)
        if epoch_id is not None:
            fences = fence_add(fences, app_id, epoch_id)
        new_snap = {
            "snapshot_id": base["snapshot_id"] + 1,
            "parent_id": base["snapshot_id"],
            "epoch_id": epoch_id,
            "app_id": app_id,
            "key_cols": keys,
            "order_col": order_col,
            "num_buckets": nb,
            "spec_id": int(base.get("spec_id", 0)),
            **({"legacy": new_legacy} if new_legacy else {}),
            "current_schema_version": schema.version,
            "schemas": schemas,
            "buckets": new_buckets,
            # this commit's own files, explicit — the changelog source
            "added_files": {str(b): fl for b, fl in out_files.items()},
            # bounded per-app fence: hwm + out-of-order window, never history
            "fences": fences,
            "stats": {"rows_in": rows_in},
        }
        if table._try_write_snapshot(new_snap):
            if _timing:
                _mark("commit")
                print(
                    "[merge-timing] epoch=%s %s total=%.3fs"
                    % (
                        epoch_id,
                        " ".join(f"{k}={v:.3f}s" for k, v in _ph.items()),
                        sum(_ph.values()),
                    )
                )
            return CommitResult(
                snapshot_id=new_snap["snapshot_id"],
                epoch_id=epoch_id,
                skipped=False,
                rows_in=rows_in,
                rows_upserted=stat_map.get("insert", 0) + stat_map.get("update", 0),
                rows_deleted=stat_map.get("delete", 0),
                event_seq_min=seq_lo,
                event_seq_max=seq_hi,
                touched_buckets=len(touched),
                bucket_stats=bucket_stats,
                decide_files_scanned=decide_scanned if touched else 0,
                decide_files_total=decide_total if touched else 0,
            )
        # lost the CAS — someone else published base+1
        latest = table.current_snapshot()
        if epoch_id is not None and table.is_epoch_committed(epoch_id, app_id, latest):
            return CommitResult(latest["snapshot_id"], epoch_id, skipped=True)
        if latest["current_schema_version"] != snap["current_schema_version"]:
            # a concurrent schema evolution: our batch alignment (and any
            # evolution we carry) was computed against a stale schema —
            # rebasing field ids blindly could corrupt; caller re-aligns.
            raise CommitConflict(
                f"schema evolved concurrently (v{snap['current_schema_version']} -> "
                f"v{latest['current_schema_version']}); re-align the batch and retry"
            )
        if (
            int(latest["num_buckets"]) != nb
            or latest.get("legacy") != snap.get("legacy")
        ):
            # a concurrent bucket-spec evolution / legacy-file migration:
            # our output routing and legacy bookkeeping were computed
            # against a retired layout state — recompute from the tip
            return None
        stale = [
            b for b in set(touched) | set(out_files)
            if latest["buckets"].get(str(b)) != snap["buckets"].get(str(b))
        ]
        if stale:
            # our merged rows were derived from a stale read of these
            # buckets — rebasing would lose the winner's rows; recompute
            # against the latest snapshot (first-attempt files become
            # orphans, removed later by age-guarded expire_snapshots).
            return None
        base = latest  # safe rebase: disjoint buckets, same schema


def append_batch(
    table: LakeTable,
    batch: DataFrame,
    epoch_id: int | None = None,
    app_id: str = "default",
) -> CommitResult:
    """True append — the reference's ``upload_method='insert'`` (plain row
    append, upstream ``pipeline/loaders.py`` [U]): rows are written into
    their key buckets WITHOUT the LWW dedupe/join, so duplicate keys
    accumulate exactly as the reference's datastore_insert would.  Do not
    mix with upsert MERGEs on the same table: the MERGE contract assumes
    one live row per key.

    No read-modify-write of rows means a CAS loss always rebases (append
    our file entries onto whatever the winner published); only the
    exactly-once fence is re-checked."""
    t0 = time.monotonic()
    snap = table.current_snapshot()
    if epoch_id is not None and table.is_epoch_committed(epoch_id, app_id, snap):
        return CommitResult(snap["snapshot_id"], epoch_id, skipped=True)

    schema = TableSchema.from_json(snap["schemas"][str(snap["current_schema_version"])])
    keys = snap["key_cols"]
    order_col = snap["order_col"]
    nb = int(snap["num_buckets"])
    if set(batch.columns) - {"op"} != set(schema.names()):
        raise ValueError(
            f"batch columns {sorted(batch.columns)} != schema {sorted(schema.names())}"
        )

    commit_tag = f"{snap['snapshot_id'] + 1:08d}-{uuid.uuid4().hex[:8]}"
    out_dir_rel = f"data/commit-{commit_tag}"
    out_dir = table.path / out_dir_rel
    (
        batch.select(*schema.names())
        .withColumn("_deleted", F.lit(False))
        .withColumn("_action", F.lit("insert"))
        .withColumn("_bucket", bucket_of(keys, nb))
        .repartition(nb, "_bucket")
        .write.partitionBy("_bucket")
        .parquet(str(out_dir))
    )
    out_files: dict[str, list[dict]] = {}
    for bdir in sorted(out_dir.glob("_bucket=*")):
        b = bdir.name.split("=")[1]
        out_files[b] = [
            {"path": f"{out_dir_rel}/{bdir.name}/{p.name}", "sv": schema.version}
            for p in sorted(bdir.iterdir())
            if p.name.endswith(".parquet")
        ]
    # row counts come straight from the parquet footers — metadata-only
    # driver reads (Iceberg gets these from its manifests), no Spark job
    import pyarrow.parquet as pq

    append_bucket_rows: dict[str, int] = {}
    for b, fl in out_files.items():
        append_bucket_rows[b] = sum(
            pq.read_metadata(str(table.path / fe["path"])).num_rows for fe in fl
        )
    rows_in = sum(append_bucket_rows.values())

    base = snap
    while True:
        # untouched buckets keep their manifest-marked lists by reference
        new_buckets = dict(base["buckets"])
        for b, fl in out_files.items():
            new_buckets[b] = new_buckets.get(b, []) + fl
        fences = table.fences(base)
        if epoch_id is not None:
            fences = fence_add(fences, app_id, epoch_id)
        new_snap = {
            **{k: base[k] for k in (
                "key_cols", "order_col", "num_buckets", "current_schema_version", "schemas"
            )},
            "spec_id": int(base.get("spec_id", 0)),
            **({"legacy": base["legacy"]} if base.get("legacy") else {}),
            "snapshot_id": base["snapshot_id"] + 1,
            "parent_id": base["snapshot_id"],
            "epoch_id": epoch_id,
            "app_id": app_id,
            "buckets": new_buckets,
            "added_files": out_files,
            "fences": fences,
            "stats": {"rows_in": rows_in, "appended": True},
        }
        if table._try_write_snapshot(new_snap):
            return CommitResult(
                snapshot_id=new_snap["snapshot_id"],
                epoch_id=epoch_id,
                skipped=False,
                rows_in=rows_in,
                rows_upserted=rows_in,
                touched_buckets=len(out_files),
                wall_ms=int((time.monotonic() - t0) * 1000),
                bucket_stats=[
                    {
                        "bucket": int(b),
                        "rows_in": n,
                        "rows_upserted": n,
                        "rows_deleted": 0,
                        "event_seq_min": None,
                        "event_seq_max": None,
                    }
                    for b, n in sorted(append_bucket_rows.items(), key=lambda kv: int(kv[0]))
                ],
            )
        latest = table.current_snapshot()
        if epoch_id is not None and table.is_epoch_committed(epoch_id, app_id, latest):
            return CommitResult(latest["snapshot_id"], epoch_id, skipped=True)
        if int(latest["num_buckets"]) != nb:
            # concurrent bucket-spec evolution: our files are laid out
            # under the retired spec — rewrite under the new one (the
            # first attempt's files become age-guarded orphans)
            return append_batch(table, batch, epoch_id=epoch_id, app_id=app_id)
        base = latest
