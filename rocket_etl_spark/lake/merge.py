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
   MERGE's decision input) and every planning stat in one column-pruned
   scan of the batch.  A small epoch (``DRIVER_PLAN_MAX_ROWS``) is
   planned in pyarrow over one Arrow collect and its winners return as
   a local relation; a larger one (by a row bound read without a job)
   aggregates on Spark, winners cached;
2. the touched-bucket set, input stats (rows_in, seq min/max), EXACT
   key cardinality, key bytes, and duplicate-delivery detection reduce
   from the winner relation per bucket — ≤ num_buckets rows;
3. one pipeline, two physical strategies chosen from the planning pass's
   key-cardinality estimate: the **broadcast MERGE** (``_merge_broadcast``,
   when the batch key set fits a broadcast) fuses LWW dedupe and MERGE
   into the plan's slim winners + a slim action join + two map-side
   broadcast joins, so the ONLY payload bytes that ever shuffle are the
   changed rows' final bucket placement — current-table rows stream from
   their scan tasks straight back to parquet; the **SMJ MERGE**
   (``_merge_smj``, unbounded key sets) is the classic ``max_by`` dedupe
   (map-side partial combine → hot keys reduce before the shuffle)
   feeding a full-outer sort-merge join.  Either way the batch join side
   is one row per key, so the join cannot skew, and one action rule
   (``_action_rule``) labels every row.  The broadcast MERGE's decide —
   the action join, ``win`` and the matched-file set — runs on the
   driver (``_decide_on_driver``: one pyarrow read of the decide files'
   key, order and tombstone columns, the action table in Arrow, ``win``
   back as a local relation) when the epoch was planned on the driver
   and the decide files' footers hold at most ``DRIVER_PLAN_MAX_ROWS``
   rows; otherwise on Spark (``_decide_on_spark``: the join persisted,
   the matched files collected).  After a driver decide Spark runs only
   the plan collect and the one union write;
4. MERGE stats (insert/update/delete counts, per bucket): every path
   writes each row's action as a physical ``_action`` column (the
   changelog's source); a driver decide counts them from its action
   table, the Spark decide paths read them back by a pruned
   single-column scan of the new files (``_action_counts``) —
   driver-side pyarrow below a file-count threshold (~1 bit/row of
   I/O; no Spark job per epoch), one partition-discovering Spark scan
   above it (DataFrame.observe is unusable here: observed metrics never
   resolve inside a streaming foreachBatch);
5. commit, one tail for both modes: the planner's bucket-map update
   (``update_buckets``: untouched buckets keep their manifests, a COW
   commit drops the files it rewrote) over the child of the tip
   (``table.child_snapshot``), published by ``_cas_commit``'s CAS loop,
   then one ``CommitResult`` built from per-bucket counts.

The decide scan reads the touched buckets of every bucket layout, minus
the files whose key bloom or zone map proves they hold no winner key
(broadcast path only: its keep side re-links the files it did not
read).  That pruning, the entries for the files a commit writes and the
zone maps and blooms attached to them are ``lake/planner.py``'s rules,
shared with every reader of the table.

The MERGE is order-insensitive across and within batches: the LWW guard
``s.seq > t.seq`` means late/duplicate delivery converges to the same
final state — idempotency does not depend on the watermark.

Concurrency (CAS-loss) protocol (``_cas_commit``): losing the snapshot
CAS means another writer published first.  If the winner committed this
same ``(app_id, epoch_id)``, the merge is skipped.  Otherwise the loser
REBASES onto the latest snapshot — carrying forward the winner's
buckets and fences — unless the winner changed something the commit
depends on: a schema evolution raises ``CommitConflict`` (the caller
re-aligns and retries; ``replay_batch`` does this automatically), and a
bucket-spec change — for a COW merge also a retired-layout migration or
a commit to one of its touched buckets, whose rows it read — means the
merge was computed against a stale state, so it is recomputed from the
latest snapshot (the orphaned first-attempt files are left for
age-guarded ``expire_snapshots``).  A MOR delta append read no table
rows and rebases over any concurrent data commit.  Each snapshot
records its own ``added_files`` explicitly, so changelog reads
attribute files to the snapshot that actually published them
regardless of retries.
"""

from __future__ import annotations

import logging
import time
import uuid
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from rocket_etl_spark.lake.planner import (
    attach_file_metadata,
    bucket_of,
    delta_files,
    layouts_changed,
    legacy_probe_cols,
    legacy_touched,
    select_files,
    update_buckets,
    written_files,
)
from rocket_etl_spark.lake.table import LakeTable, child_snapshot, fence_add
from rocket_etl_spark.operators.lww import lww_dedupe
from rocket_etl_spark.schema.registry import TableSchema

# gate for the broadcast (fused slim-dedupe + MERGE) path: batch key sets
# above this don't fit a comfortable broadcast (~tens of MB / a few
# hundred MB of hash relation).  No minimum-duplicate-ratio gate:
# interleaved A/B showed the broadcast path 3-5x faster even at dedupe
# ratio 1.09, because keeping KB-wide payloads out of aggregation buffers
# and exchanges dwarfs the extra key-column pass.
SLIM_DEDUPE_MAX_KEYS = 2_000_000

# the count gate alone under-protects with WIDE keys (repo+path can be
# hundreds of bytes: 2M such keys is a multi-hundred-MB hash relation on
# the driver AND every executor).  The planning aggregate therefore also
# measures actual key bytes, and the broadcast path additionally requires
# distinct_keys × (avg_key_bytes + per-row overhead) under this bound.
SLIM_DEDUPE_MAX_BYTES = 256 * 1024 * 1024
# JVM hash-relation per-row overhead: UnsafeRow header + ord/action/del
# fields + map entry — ~64 bytes is deliberately conservative
_BCAST_ROW_OVERHEAD = 64

# gate for the driver-side plan: an epoch of at most this many events is
# planned from one Arrow collect of its slim columns (a few tens of bytes
# per event on the driver); a larger one runs the Spark aggregation
DRIVER_PLAN_MAX_ROWS = 200_000

log = logging.getLogger(__name__)

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
    # wall seconds per MERGE phase of the attempt that committed:
    # plan/decide/write/stats/commit (COW), plan/write/commit (MOR);
    # empty for a skipped merge
    phase_s: dict[str, float] = field(default_factory=dict)


def _action_counts(
    spark, out_dir, out_files: dict[int, list[dict]], max_driver_files: int = 512
) -> dict[int, dict[str, int]]:
    """Per-bucket MERGE action counts ({bucket: {action: n}}) from the
    commit's freshly written files — the stats of a Spark decide (a
    driver decide counts its own action table instead).

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
    action = _action_rule(s_wins, s_del, F.col("_t").isNull(), t_del)
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


def _action_rule(s_wins, s_del, no_t, t_del):
    """The MERGE action of a batch winner against the table's row of its
    key, one rule for both physical strategies: ``keep`` where the batch
    does not win, else by the winner's delete flag and whether the table
    holds a live row (``no_t``: no row; ``t_del``: a tombstone).  A null
    condition counts as false, as in any ``F.when``.  Every branch is a
    literal, so the column is NOT NULL.  ``_action_rule_arrow`` is its
    twin for the driver decide; a change here belongs there too."""
    return (
        F.when(~s_wins, F.lit("keep"))
        .when(s_del & (no_t | t_del), F.lit("tombstone"))
        .when(s_del, F.lit("delete"))
        .when(no_t | t_del, F.lit("insert"))
        .otherwise(F.lit("update"))
    )


def _action_rule_arrow(s_wins, s_del, no_t, t_del):
    """``_action_rule`` over Arrow boolean arrays: Kleene logic, and
    ``case_when`` reads a null condition as false, as ``F.when`` does."""
    import pyarrow.compute as pc

    absent = pc.or_kleene(no_t, t_del)
    conds = [pc.invert(s_wins), pc.and_kleene(s_del, absent), s_del, absent]
    return pc.case_when(
        pc.make_struct(*conds, field_names=["keep", "tombstone", "delete", "insert"]),
        "keep", "tombstone", "delete", "insert", "update",
    )


def _rel_paths(table_path, fnames) -> set[str] | None:
    """input_file_name() URIs → snapshot-relative posix paths.

    Returns ``None`` when any name cannot be resolved under the table
    root (non-local scheme, symlinked mount, foreign path) — the caller
    then degrades to the always-correct full-touched-bucket rewrite
    (``paths=None`` + no file re-linking) instead of aborting the
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


def _pick_winners(
    batch: DataFrame, win: DataFrame, keys, order_col: str, dedupe_guard: bool
) -> DataFrame:
    """The batch rows that carry their key's winning order: ``batch``
    joined map-side to broadcast ``win`` (``_w_<key>`` columns, the
    winning ``_w_ord`` and whatever flags ride along) on keys and order,
    null-safe, so losing rows' payloads never shuffle.  ``dedupe_guard``
    adds a guard agg over winner rows only (~one row per key reaches it)
    that collapses duplicate deliveries of the winning (key, ord) pair;
    the planning pass drops it when it PROVED the batch (key, order)-
    duplicate-free (exact count-distinct) — then the pick is already one
    row per key, and the winner payload's only remaining exchange is its
    final bucket placement."""
    cond = F.col(order_col).eqNullSafe(F.col("_w_ord"))
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"_w_{k}"))
    picked = batch.join(F.broadcast(win), cond, "inner").drop(
        *[f"_w_{k}" for k in keys], "_w_ord"
    )
    return lww_dedupe(picked, keys=keys, order_col=order_col) if dedupe_guard else picked


def _decide_on_spark(
    current: DataFrame, winners: DataFrame, keys, order_col: str, caches: list
) -> tuple[DataFrame, list[str]]:
    """The broadcast MERGE's decide on Spark (steps 2-3 of
    ``_merge_broadcast``): ``winners`` (``keys, _s_ord, _s_del``) LEFT
    JOIN the decide read ``current``'s slim columns (keys, order,
    tombstone flag, ``input_file_name()``).  Returns ``win`` (the keys
    that beat the table: ``_w_<key>``, ``_w_ord``, ``_w_del`` and
    ``_action``) and the names of the files holding a winning key.  The
    joined relation is persisted into ``caches``: the file-name collect
    materializes it, and the ``win`` broadcasts reuse it."""
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
    act = winners.join(t_hit, cond, "left_outer").persist()
    caches.append(act)

    no_t = F.col("_t_present").isNull()
    s_wins = no_t | (F.col("_s_ord") > F.col("_t_ord"))
    # _w_del rides along as the AUTHORITATIVE tombstone flag for changed
    # rows: _action is derived from the same max_by(_s_del) winner, so the
    # two can never disagree.  (Re-deriving _deleted from the picked row's
    # op — as an earlier version did — used lww_dedupe's independent
    # tie-break, which could contradict _action when duplicate deliveries
    # share the winning (key, order) but differ in op.)
    win = act.filter(s_wins).select(
        *[F.col(k).alias(f"_w_{k}") for k in keys],
        F.col("_s_ord").alias("_w_ord"),
        F.col("_s_del").alias("_w_del"),
        _action_rule(s_wins, F.col("_s_del"), no_t, F.col("_t_del")).alias("_action"),
    )
    names = [
        r["_t_fname"]
        for r in act.filter(~no_t & s_wins).select("_t_fname").distinct().collect()
    ]
    return win, names


def _decide_on_driver(
    table: LakeTable,
    snap: dict,
    schema: TableSchema,
    entries: list[dict],
    winners: "pa.Table",
    winners_struct: StructType,
) -> tuple[DataFrame, set[str], dict[int, dict[str, int]]]:
    """``_decide_on_spark``'s twin for an epoch planned on the driver
    whose decide files are small: ONE pyarrow read of the key, order and
    ``_deleted`` columns of ``entries`` (``lookup._read_probed``: the
    null-safe probe match and the projection by schema version a point
    lookup uses), then the same left join on the key, the same
    ``s_wins`` and ``_action_rule_arrow``, in Arrow.  ``winners`` is the
    driver plan's per-key table (``keys, _s_ord, _s_del, _bucket``).

    Returns ``win`` as a local relation typed as the Spark decide types
    it (``_action`` NOT NULL: the written files' bytes depend on it),
    the relative paths of the files holding a winning key, and the
    per-bucket action counts of the changed rows — one changed row per
    ``win`` row, so these equal what ``_action_counts`` reads back from
    the written files on the Spark path."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    from rocket_etl_spark.lake.lookup import _probe_codes, _read_probed

    keys, order_col = snap["key_cols"], snap["order_col"]
    cols = list(dict.fromkeys([*keys, order_col]))  # the order may be a key
    struct = schema.to_struct()
    found = _read_probed(
        table, snap, schema, to_arrow_schema(StructType([struct[c] for c in cols])),
        entries, winners, with_seq=False, columns=cols, with_file=True,
    )
    code_t, code_w = _probe_codes(found, winners, keys)
    t_side = pa.table({
        "_c": code_t,
        "_t_ord": found[order_col],
        "_t_del": pc.fill_null(found["_deleted"], False),
        "_t_file": found["_file"],
    })
    act = winners.append_column("_c", code_w).join(
        t_side, "_c", join_type="left outer", use_threads=False
    )
    no_t = pc.is_null(act["_t_file"])
    s_wins = pc.or_kleene(no_t, pc.greater(act["_s_ord"], act["_t_ord"]))
    act = act.append_column(
        "_action", _action_rule_arrow(s_wins, act["_s_del"], no_t, act["_t_del"])
    ).filter(s_wins)

    matched = set(pc.unique(act["_t_file"]).drop_null().to_pylist())
    counts: dict[int, dict[str, int]] = {}
    for r in act.group_by(["_bucket", "_action"]).aggregate([([], "count_all")]).to_pylist():
        counts.setdefault(r["_bucket"], {})[r["_action"]] = r["count_all"]

    w_struct = StructType(
        [StructField(f"_w_{k}", winners_struct[k].dataType, winners_struct[k].nullable)
         for k in keys]
        + [StructField("_w_ord", winners_struct["_s_ord"].dataType),
           StructField("_w_del", BooleanType()),
           StructField("_action", StringType(), nullable=False)]
    )
    win = act.select([*keys, "_s_ord", "_s_del", "_action"]).rename_columns(w_struct.names)
    return table.spark.createDataFrame(win, w_struct), matched, counts


def _merge_broadcast(
    batch: DataFrame,
    win: DataFrame,
    keep_srcs: list[tuple[DataFrame, bool]],
    keys,
    order_col: str,
    vals,
    nb: int,
    derived_cols: dict,
    dedupe_guard: bool = True,
) -> list[tuple[DataFrame, bool]]:
    """Broadcast MERGE — neither losing batch rows nor the table's wide
    rows ever shuffle; LWW dedupe and MERGE fuse into one decision.

    The full-outer SMJ MERGE moves every current row's payload through an
    exchange + sort just to decide, per key, "batch wins or table wins".
    When the batch key set fits a broadcast that decision needs only slim
    columns:

    1. winners: the plan's per-key winning order and delete flag
       (``_winner_is_delete``) — this IS the LWW dedupe decision, fused
       with the MERGE's;
    2. action join: winners LEFT JOIN the table rows of their keys (key,
       order, tombstone flag and source file only, no payload decode) —
       on Spark (``_decide_on_spark``), or, for an epoch planned on the
       driver whose decide files are small, in Arrow over one pyarrow
       read (``_decide_on_driver``);
    3. ``win`` = the batch keys that beat the table, with winning order
       and MERGE action (``_action_rule``) — bounded by the batch key
       set, broadcastable — and the matched files, those holding a
       winning key (a Spark collect, or the Arrow read's source files);
    4. changed rows: batch ⋈ broadcast(win) on (keys, ord = winning ord)
       map-side picks exactly the winner rows in ONE wide pass over the
       batch (a thin max_by guard collapses duplicate deliveries of the
       winning (key, ord) pair — skipped entirely when the planning pass
       proved the batch duplicate-free), then one bucket-partitioned
       shuffle of ONLY changed rows for tight files;
    5. keep rows: each of ``keep_srcs`` LEFT ANTI broadcast(win) — a
       map-side filter: each scan task streams its bucket's survivors
       straight back to parquet, payload untouched by any exchange.  The
       keep side reads ONLY the matched files; unmatched files are
       RE-LINKED into the new snapshot untouched — Iceberg/Delta COW at
       file granularity, which is what keeps per-epoch rewrite cost
       proportional to the keys an epoch actually hits instead of to
       every file of every touched bucket (the difference between
       O(epoch) and O(table) for a small streaming epoch).

    This function builds steps 4-5 from ``win``.  Same (row, _action,
    _deleted) output as lww_dedupe + ``_merge_smj`` — equivalence
    pytest-checked on random multi-epoch replays.  Null-safe equality
    throughout: a null key is a group, exactly as the full-outer join
    treats it.  Derived columns are computed on winner rows only, after
    step 4.  Returns [(changed, True), (keep_side, tight), ...] — one
    keep side per ``keep_srcs`` frame (current-spec keeps exchange-free;
    legacy-layout migrations bucket-exchanged, see the comment at the
    return).

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
    changed = _pick_winners(batch, win, keys, order_col, dedupe_guard)
    for c, expr in derived_cols.items():
        changed = changed.withColumn(c, expr)
    changed = changed.select(
        *keys,
        *[F.col(c) for c in vals],
        F.col("_w_del").alias("_deleted"),
        "_action",
    ).withColumn("_bucket", bucket_of(keys, nb))

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
    return [(changed, True)] + [(_keep(src), tight) for src, tight in keep_srcs]


def _winner_is_delete(order_col: str):
    """``max_by(op == 'delete', order)`` with the one tie rule of every
    plan path: null orders are skipped, as ``max`` skips them, and a
    delete tying an upsert on the winning order (duplicate deliveries
    differing in op) wins, whatever order the rows arrive in."""
    is_del = F.col("op") == "delete"
    order = F.col(order_col)
    return F.max_by(is_del, F.when(order.isNotNull(), F.struct(order, is_del)))


def _row_bound(batch: DataFrame) -> int | None:
    """A bound on the batch's row count that runs no Spark job: the
    optimizer's ``maxRows`` (``spark.range``, a local relation, a
    limit), else the row counts in the parquet footers of the files the
    batch reads, or None when neither is known.  Footers overcount a filtered read and
    can undercount a join; the driver plan's capped collect stays the
    hard gate, so a wrong bound costs time, never a wrong plan."""
    rows = batch._jdf.queryExecution().optimizedPlan().maxRows()
    if rows.isDefined():
        return int(rows.get())
    files = batch.inputFiles()
    return _footer_rows(files) if files else None


def _footer_rows(paths) -> int | None:
    """The row count in the parquet footers of ``paths``, read without a
    Spark job and stopping once over ``DRIVER_PLAN_MAX_ROWS``; None when
    a footer cannot be read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 0
    try:
        for f in paths:
            n += pq.read_metadata(f).num_rows
            if n > DRIVER_PLAN_MAX_ROWS:
                break
    except (OSError, pa.ArrowException):
        return None
    return n


def _plan_on_spark(
    batch: DataFrame, keys, order_col: str, nb: int, key_bytes_col
) -> tuple[DataFrame, list]:
    """The plan as a two-level Spark aggregation, for epochs above the
    driver plan's gate: ONE column-pruned pass over (keys, order, op)
    yields the persisted per-key winner relation (the caller unpersists
    it), then a second agg over that one-row-per-key relation reduces
    it per bucket — ≤ num_buckets rows reach the driver."""
    winners = batch.groupBy(*keys).agg(
        F.max(order_col).alias("_s_ord"),
        _winner_is_delete(order_col).alias("_s_del"),
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
    plan_rows = (
        winners.groupBy(bucket_of(keys, nb).alias("_bucket"))
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
    return winners, plan_rows


def _plan_on_driver(
    batch: DataFrame, keys, order_col: str, nb: int, key_bytes_col
) -> tuple[DataFrame, list[dict], "pa.Table"] | None:
    """The plan of an epoch of at most ``DRIVER_PLAN_MAX_ROWS`` events,
    in pyarrow over ONE Arrow collect of its slim columns: keys, order,
    ``op == 'delete'``, key bytes and the writer's own bucket id.
    Returns the winners as a local relation (``keys, _s_ord, _s_del``)
    and the per-bucket plan rows, with the values ``_plan_on_spark``
    computes, plus the winners' Arrow table with their bucket ids (the
    driver decide's input) — or None when the epoch is over the gate: by its no-job
    row bound (``_row_bound``), else by the capped collect itself.  A
    stable sort by order, then by the delete flag, gives the tie rule of
    ``_winner_is_delete``."""
    bound = _row_bound(batch)
    if bound is not None and bound > DRIVER_PLAN_MAX_ROWS:
        log.debug(
            "epoch over DRIVER_PLAN_MAX_ROWS=%d events by its row bound: planning on Spark",
            DRIVER_PLAN_MAX_ROWS,
        )
        return None
    slim = batch.select(
        *keys,
        F.col(order_col).alias("_ord"),
        (F.col("op") == "delete").alias("_del"),
        key_bytes_col.alias("_kb"),
        bucket_of(keys, nb).alias("_bucket"),
    )
    got = slim.limit(DRIVER_PLAN_MAX_ROWS + 1).toArrow()
    if got.num_rows > DRIVER_PLAN_MAX_ROWS:
        log.debug(
            "epoch over DRIVER_PLAN_MAX_ROWS=%d events: planning on Spark",
            DRIVER_PLAN_MAX_ROWS,
        )
        return None
    import pyarrow as pa
    import pyarrow.compute as pc

    # each key's last row is then its max order's (null orders first,
    # as max/max_by skip them), the delete among tied ops
    got = got.take(pc.sort_indices(
        got, [("_ord", "ascending"), ("_del", "ascending")], null_placement="at_start"
    ))
    per_key = got.group_by(keys, use_threads=False).aggregate([
        ("_ord", "max"),
        ("_del", "last", pc.ScalarAggregateOptions(skip_nulls=False)),
        ([], "count_all"),
        ("_ord", "min"),
        ("_ord", "count_distinct"),
        ("_kb", "sum"),
        ("_bucket", "min"),
    ])
    s_ord = per_key["_ord_max"]
    s_del = pc.if_else(pc.is_valid(s_ord), per_key["_del_last"], pa.scalar(None, pa.bool_()))
    per_key = pa.table({
        **{k: per_key[k] for k in keys},
        "_s_ord": s_ord,
        "_s_del": s_del,
        "_cnt": per_key["count_all"],
        "_lo": per_key["_ord_min"],
        "_nords": per_key["_ord_count_distinct"],
        "_kb": per_key["_kb_sum"],
        "_ndl": pc.cast(pc.fill_null(s_del, False), pa.int64()),
        "_bucket": per_key["_bucket_min"],
    })
    per_bucket = per_key.group_by("_bucket").aggregate([
        ("_cnt", "sum"), ("_lo", "min"), ("_s_ord", "max"), ([], "count_all"),
        ("_kb", "sum"), ("_nords", "sum"), ("_ndl", "sum"),
    ])
    names = {"_cnt_sum": "n", "_lo_min": "lo", "_s_ord_max": "hi", "count_all": "dk",
             "_kb_sum": "kb", "_nords_sum": "ndp", "_ndl_sum": "ndl"}
    plan_rows = [{names.get(c, c): v for c, v in r.items()} for r in per_bucket.to_pylist()]
    struct = StructType(
        [slim.schema[k] for k in keys]
        + [StructField("_s_ord", slim.schema["_ord"].dataType), StructField("_s_del", BooleanType())]
    )
    winners = per_key.select([*keys, "_s_ord", "_s_del", "_bucket"])
    return (
        batch.sparkSession.createDataFrame(winners.drop_columns(["_bucket"]), struct),
        plan_rows,
        winners,
    )


def _write_mor_delta(
    table: LakeTable,
    snap: dict,
    batch: DataFrame,
    winners: DataFrame | None,
    schema: TableSchema,
    derived_cols: dict,
    dedupe_guard: bool,
    n_touched: int,
    out_dir_rel: str,
) -> dict[int, list[dict]]:
    """Merge-on-read write: append the epoch's LWW winners as per-bucket
    DELTA files under ``out_dir_rel`` — the table is never read, so
    per-epoch cost is O(batch).  Returns the written ``{bucket: entries}``.

    Reads reconcile base+delta per key (``LakeTable.read`` picks max
    ``(order_col, -_seq)``; ``_seq`` is this commit's snapshot id, baked
    into the delta parquet) and compaction folds deltas back into base
    files.  This is the Hudi-MOR / Iceberg-v2 write shape: the decide
    scan and matched-file rewrite that bound the COW path's trickle-CDC
    floor disappear entirely, deferred to compaction where they amortize
    across many epochs.

    ``winners`` is the plan's per-key winner relation (``keys, _s_ord,
    _s_del``; a local relation when the epoch was planned on the driver,
    else the persisted Spark aggregation), given when the epoch passed
    the broadcast gate: winner payloads are then picked map-side
    against it (``_pick_winners``).  Without it, one max_by agg shuffle
    picks them.  Delete events become tombstone winners
    (``_deleted=true``) exactly as in COW; insert-vs-update is
    unknowable without reading the table, so delta rows carry
    ``_action='upsert'|'delete'`` and the changelog reports upserts as
    such.

    The commit always rebases on a CAS loss: it appends file entries to
    bucket lists and read no table state, so it commutes with any
    concurrent data commit (another MOR epoch, a compaction).  A CAS
    rebase can leave the baked ``_seq`` one less than the final snapshot
    id; ordering stays correct for any single-writer stream (seqs remain
    strictly increasing per key) — only two CONCURRENT writers racing
    the same key at the same LWW order tie non-deterministically, a race
    that is unordered to begin with.
    """
    keys, order_col = snap["key_cols"], snap["order_col"]
    if winners is not None:
        win = winners.select(
            *[F.col(k).alias(f"_w_{k}") for k in keys],
            F.col("_s_ord").alias("_w_ord"),
            F.col("_s_del").alias("_w_del"),
        )
        rows = (
            _pick_winners(batch, win, keys, order_col, dedupe_guard)
            .withColumn("_deleted", F.coalesce(F.col("_w_del"), F.lit(False)))
            .drop("_w_del", "op")
        )
    else:
        rows = lww_dedupe(batch, keys=keys, order_col=order_col).withColumn(
            "_deleted", F.col("op") == "delete"
        ).drop("op")
    for c, expr in derived_cols.items():
        rows = rows.withColumn(c, expr)
    vals = [c for c in schema.names() if c not in keys]
    delta = (
        rows.select(*keys, *[F.col(c) for c in vals], "_deleted")
        .withColumn(
            "_action",
            F.when(F.col("_deleted"), F.lit("delete")).otherwise(F.lit("upsert")),
        )
        .withColumn("_seq", F.lit(snap["snapshot_id"] + 1).cast("long"))
        .withColumn("_bucket", bucket_of(keys, int(snap["num_buckets"])))
    )
    (
        delta.repartition(max(n_touched, 1), "_bucket")
        .write.partitionBy("_bucket")
        .parquet(str(table.path / out_dir_rel))
    )
    return written_files(table.path, out_dir_rel, schema.version, delta=True)


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
            delta_buckets = list(delta_files(snap))
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
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown merge mode {mode!r} (use 'cow' or 'mor')")
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

    # per-phase wall breakdown of this merge (``CommitResult.phase_s``):
    # where an epoch's fixed cost goes (streaming pays it per micro-batch)
    _tm = time.monotonic()
    _ph = dict.fromkeys(
        ("plan", "write", "commit") if mode == "mor"
        else ("plan", "decide", "write", "stats", "commit"),
        0.0,
    )

    def _mark(phase: str) -> None:
        nonlocal _tm
        now = time.monotonic()
        _ph[phase] = _ph.get(phase, 0.0) + (now - _tm)
        _tm = now

    # 1+2. plan: per key, the winning order + op (``_s_ord``/``_s_del``,
    # the decision input of the broadcast MERGE and of the MOR pick), and
    # per touched bucket the planning stats — row counts, seq ranges,
    # exact key cardinality, key bytes, duplicate-delivery detection.
    # Two paths, one answer.  An epoch of at most DRIVER_PLAN_MAX_ROWS
    # events is planned on the driver: one Spark job collects its slim
    # columns as Arrow, pyarrow aggregates them, and the winners go back
    # as a local relation, so the plan's later consumers (legacy probe,
    # bloom key rows, broadcast) fold at plan time and run no job.  A
    # larger epoch runs the two-level Spark aggregation, its winners
    # persisted for the commit's duration.  The gate reads a row bound
    # that runs no job first (``_row_bound``: maxRows, parquet footers),
    # so a large epoch never pays the collect; only a batch of unknown
    # size learns it from the capped collect coming back full.
    # Bucket id is key-deterministic, so dedupe cannot change the
    # touched set.  (Deliberately no DataFrame.observe anywhere: observed
    # metrics never resolve inside a streaming foreachBatch.)
    key_bytes_col = sum(
        (F.coalesce(F.octet_length(F.col(k).cast("string")), F.lit(4)) for k in keys),
        F.lit(0),
    )
    caches: list = []
    planned = _plan_on_driver(batch, keys, order_col, nb, key_bytes_col)
    if planned is None:
        winners_slim, plan_rows = _plan_on_spark(batch, keys, order_col, nb, key_bytes_col)
        caches.append(winners_slim)
        winners_arrow = None
    else:
        winners_slim, plan_rows, winners_arrow = planned
    touched = sorted(r["_bucket"] for r in plan_rows)
    plan_by_bucket = {r["_bucket"]: (int(r["n"]), r["lo"], r["hi"]) for r in plan_rows}
    rows_in = int(sum(r["n"] for r in plan_rows))
    seq_lo = min((r["lo"] for r in plan_rows), default=None)
    seq_hi = max((r["hi"] for r in plan_rows), default=None)
    distinct_keys = int(sum(r["dk"] for r in plan_rows))
    dup_deliveries = rows_in != int(sum(r["ndp"] for r in plan_rows))
    key_bytes = int(sum(r["kb"] or 0 for r in plan_rows))
    avg_key_bytes = key_bytes / rows_in if rows_in else 0.0
    est_broadcast_bytes = int(distinct_keys * (avg_key_bytes + _BCAST_ROW_OVERHEAD))
    # the broadcast gate: the slim winner forms fit a broadcast
    use_broadcast = (
        0 < distinct_keys <= SLIM_DEDUPE_MAX_KEYS
        and est_broadcast_bytes <= SLIM_DEDUPE_MAX_BYTES
    )
    _mark("plan")

    out_dir_rel = f"data/commit-{commit_tag}"
    out_files: dict[int, list[dict]] = {}
    decide = None
    if mode == "mor":
        if touched:
            out_files = _write_mor_delta(
                table, snap, batch, winners_slim if use_broadcast else None,
                schema, derived_cols, dup_deliveries, len(touched), out_dir_rel,
            )
        _mark("write")
        update: dict = {}
        # MOR reports REQUESTED upserts/deletes (winner counts by op):
        # whether a delete hit a live key is unknowable without the
        # decide scan this mode exists to skip
        counts = {r["_bucket"]: (int(r["dk"]) - int(r["ndl"] or 0), int(r["ndl"] or 0))
                  for r in plan_rows}
        stats = {"rows_in": rows_in, "mor": True}
    else:
        # per-bucket action counts: from the driver decide, else read back
        # from the written files (``_action_counts``)
        bucket_actions: dict[int, dict[str, int]] | None = None
        # broadcast path: old file entries NOT containing any winning key are
        # re-linked into the new snapshot instead of being read + rewritten
        matched_rel: set | None = None
        # bucket-spec evolution: winner keys may still live under a RETIRED
        # layout — probe each legacy spec with the keys' buckets under THAT
        # spec (one tiny collect over winners_slim — no job when it is the
        # driver plan's local relation: ≤ the specs' bucket-count product rows)
        leg_cols = legacy_probe_cols(snap)
        leg_touched = (
            legacy_touched(snap, winners_slim.select(*leg_cols).distinct().collect())
            if touched and leg_cols
            else {}
        )
        if touched:
            from rocket_etl_spark.schema.registry import project_to

            cur_schema = TableSchema.from_json(
                snap["schemas"][str(snap["current_schema_version"])]
            )

            def _project(df: DataFrame) -> DataFrame:
                if new_schema is None:
                    return df
                return project_to(df, cur_schema, schema, passthrough=("_deleted",))

            # bloom + zone-map pruning of the DECIDE scan (lake/planner.py).
            # Broadcast path only: its keep side re-links unscanned files;
            # the SMJ path rewrites whole buckets and must see every row.
            decide = select_files(
                snap, touched, leg_touched,
                key_rows=(lambda: winners_slim.select(*keys).collect()) if use_broadcast else None,
                n_keys=distinct_keys,
            )
            vals = [c for c in schema.names() if c not in keys]

            def decide_read() -> DataFrame:
                # tombstones included: a newer delete must outrank a stale upsert
                return _project(table.read_plan(decide, snap, include_tombstones=True))

            # _action is written into the data files (tiny, dictionary-encoded)
            # and, on the Spark decide paths, read back by a pruned
            # single-column scan for the MERGE stats — explicit-schema reads
            # make it invisible to table queries, exactly like the _deleted
            # tombstone flag.
            if use_broadcast:
                def keep_sources(rel):
                    # planned against ``snap``, the snapshot the decide read
                    def keep_read(bkts, legacy):
                        plan = select_files(snap, bkts, legacy, paths=rel)
                        return _project(table.read_plan(plan, snap, include_tombstones=True))

                    # current-spec keeps: bucket placement unchanged — stream
                    # scan→parquet with no exchange (tight=False).  (An r6
                    # experiment replaced this with a union of per-bucket
                    # scans to get bucket-contiguous tasks and tighter output
                    # files; the 64-way union regressed the incremental merge
                    # 5x — per-child planning and stage overhead dwarf the
                    # file-count savings — so the single scan stands.)
                    srcs = [(keep_read(touched, {}), False)]
                    if leg_touched:
                        # legacy-layout keeps MIGRATE: placement changes, so
                        # route through a bucket-hash exchange (tight=True) —
                        # one output file per target bucket instead of one
                        # per (scan task, target bucket)
                        srcs.append((keep_read([], leg_touched), True))
                    return srcs

                # the decide on the driver: the epoch was planned there and
                # its decide files' footers hold at most DRIVER_PLAN_MAX_ROWS
                # rows (no Spark job reads them).  COW folds deltas before
                # deciding, so ``decide.rec`` is empty; a reconcile set
                # would take the Spark decide.
                driver_decide = False
                if winners_arrow is not None and not decide.rec:
                    n = _footer_rows([str(table.path / fe["path"]) for fe in decide.plain])
                    driver_decide = n is not None and n <= DRIVER_PLAN_MAX_ROWS
                if driver_decide:
                    win, matched_rel, bucket_actions = _decide_on_driver(
                        table, snap, schema, decide.plain, winners_arrow, winners_slim.schema
                    )
                else:
                    win, names = _decide_on_spark(
                        decide_read(), winners_slim.select(*keys, "_s_ord", "_s_del"),
                        keys, order_col, caches,
                    )
                    matched_rel = _rel_paths(table.path, names)
                # fused dedupe+MERGE: no payload ever shuffles except the
                # changed rows' final bucket placement
                outputs = _merge_broadcast(
                    batch, win, keep_sources(matched_rel), keys, order_col, vals, nb,
                    derived_cols, dedupe_guard=dup_deliveries,
                )
            else:
                # key set exceeds the broadcast bound → slim forms unavailable;
                # plain one-shuffle max_by dedupe feeding the full-outer SMJ
                # (map-side combine keeps hot keys skew-safe), derived columns
                # computed on winners only
                deduped = lww_dedupe(batch, keys=keys, order_col=order_col)
                for c, expr in derived_cols.items():
                    deduped = deduped.withColumn(c, expr)
                outputs = [(_merge_smj(deduped, decide_read(), keys, order_col, vals, nb), True)]

            _mark("decide")  # broadcast: incl. the matched files (collect or Arrow read)
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
            out_files = written_files(table.path, out_dir_rel, schema.version)
            attach_file_metadata(table.path, out_files, schema, keys, rows_in=rows_in)
            _mark("write")

            if out_files and bucket_actions is None:
                bucket_actions = _action_counts(spark, out_dir, out_files)
            _mark("stats")

        # the touched buckets' matched files (all of them on the SMJ and
        # degraded-broadcast paths) were rewritten, legacy ones into
        # current-spec buckets (gradual migration); unmatched files re-link
        update = {
            "rewritten": touched, "legacy_rewritten": leg_touched, "matched": matched_rel,
        }
        counts = {}
        for b in touched:
            a = (bucket_actions or {}).get(b, {})
            counts[b] = (a.get("insert", 0) + a.get("update", 0), a.get("delete", 0))
        stats = {"rows_in": rows_in}

    for c in caches:  # plan+writes done — release the cached slim decision
        c.unpersist()

    # 5. CAS-commit the snapshot (``_cas_commit``): the bucket maps come
    # from the planner, over whichever snapshot the commit lands on
    def fields(base: dict) -> dict:
        return {
            **update_buckets(base, out_files, **update),
            "current_schema_version": schema.version,
            "schemas": {**base["schemas"], str(schema.version): schema.to_json()},
            # this commit's own files, explicit — the changelog source
            "added_files": {str(b): fl for b, fl in out_files.items()},
            "stats": stats,
        }

    def stale(latest: dict) -> bool:
        # a COW commit was derived from a read of its buckets and of the
        # retired layouts: a concurrent legacy-file migration or a commit
        # to one of its buckets means rebasing would lose the winner's
        # rows — recompute (the first attempt's files become orphans,
        # removed later by age-guarded expire_snapshots)
        return layouts_changed(snap, latest, set(touched) | set(out_files))

    new_snap = _cas_commit(
        table, snap, epoch_id, app_id, fields, recompute=None if mode == "mor" else stale
    )
    if not isinstance(new_snap, dict):
        return new_snap  # fenced by the winner, or recompute
    _mark("commit")
    if mode == "mor" and mor_compact_threshold is not None and touched:
        # log-structured maintenance: fold any bucket whose delta
        # depth reached the bound, keeping read amplification O(1)
        deltas = delta_files(new_snap)
        deep = [b for b in touched if len(deltas.get(b, ())) >= mor_compact_threshold]
        if deep:
            from rocket_etl_spark.lake.maintenance import compact

            compact(table, buckets=deep)
    return CommitResult(
        snapshot_id=new_snap["snapshot_id"],
        epoch_id=epoch_id,
        skipped=False,
        rows_in=rows_in,
        rows_upserted=sum(u for u, _ in counts.values()),
        rows_deleted=sum(d for _, d in counts.values()),
        event_seq_min=seq_lo,
        event_seq_max=seq_hi,
        touched_buckets=len(touched),
        bucket_stats=[
            {
                "bucket": int(b),
                "rows_in": plan_by_bucket[b][0],
                "rows_upserted": counts[b][0],
                "rows_deleted": counts[b][1],
                "event_seq_min": plan_by_bucket[b][1],
                "event_seq_max": plan_by_bucket[b][2],
            }
            for b in sorted(touched)
        ],
        decide_files_scanned=decide.scanned if decide else 0,
        decide_files_total=decide.total if decide else 0,
        phase_s=_ph,
    )


def _cas_commit(
    table: LakeTable,
    snap: dict,
    epoch_id: int | None,
    app_id: str,
    fields,
    recompute=None,
    schema_bound: bool = True,
) -> dict | CommitResult | None:
    """CAS-commit a data commit computed against ``snap``: the child of
    the tip carrying ``fields(tip)``, this commit's epoch in its app's
    fence.  Returns the published snapshot — or, when the CAS keeps
    losing, what the winner's snapshot decides:

    * it fenced this ``(app_id, epoch_id)`` → a skipped ``CommitResult``;
    * it evolved the schema (and ``schema_bound``: the commit carries a
      schema of its own) → ``CommitConflict``; the caller re-aligns;
    * it changed the bucket spec, or ``recompute(tip)`` holds → None:
      the commit was routed or read against a retired state — recompute;
    * otherwise rebase: the next attempt builds on the winner's snapshot
      (its buckets and fences carry forward)."""
    base = snap
    while True:
        fences = table.fences(base)
        if epoch_id is not None:
            # bounded per-app fence: hwm + out-of-order window, never history
            fences = fence_add(fences, app_id, epoch_id)
        new_snap = child_snapshot(
            base, epoch_id=epoch_id, app_id=app_id, fences=fences, **fields(base)
        )
        if table._try_write_snapshot(new_snap):
            return new_snap
        latest = table.current_snapshot()  # lost: another writer published first
        if epoch_id is not None and table.is_epoch_committed(epoch_id, app_id, latest):
            return CommitResult(latest["snapshot_id"], epoch_id, skipped=True)
        if schema_bound and latest["current_schema_version"] != snap["current_schema_version"]:
            # our batch alignment (and any evolution we carry) was computed
            # against a stale schema — rebasing field ids blindly could
            # corrupt; the caller re-aligns
            raise CommitConflict(
                f"schema evolved concurrently (v{snap['current_schema_version']} -> "
                f"v{latest['current_schema_version']}); re-align the batch and retry"
            )
        if int(latest["num_buckets"]) != int(snap["num_buckets"]) or (
            recompute is not None and recompute(latest)
        ):
            return None
        base = latest


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
    our file entries onto whatever the winner published), over a
    concurrent schema change too — the files record the schema they were
    written under; only the exactly-once fence and the bucket spec are
    re-checked."""
    t0 = time.monotonic()
    snap = table.current_snapshot()
    if epoch_id is not None and table.is_epoch_committed(epoch_id, app_id, snap):
        return CommitResult(snap["snapshot_id"], epoch_id, skipped=True)

    schema = TableSchema.from_json(snap["schemas"][str(snap["current_schema_version"])])
    keys = snap["key_cols"]
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
    out_files = written_files(table.path, out_dir_rel, schema.version)
    # row counts come straight from the parquet footers — metadata-only
    # driver reads (Iceberg gets these from its manifests), no Spark job
    import pyarrow.parquet as pq

    bucket_rows = {
        b: sum(pq.read_metadata(str(table.path / fe["path"])).num_rows for fe in fl)
        for b, fl in out_files.items()
    }
    rows_in = sum(bucket_rows.values())

    new_snap = _cas_commit(
        table, snap, epoch_id, app_id,
        lambda base: {
            **update_buckets(base, out_files),
            "added_files": {str(b): fl for b, fl in out_files.items()},
            "stats": {"rows_in": rows_in, "appended": True},
        },
        schema_bound=False,
    )
    if new_snap is None:
        # concurrent bucket-spec evolution: our files are laid out under
        # the retired spec — rewrite under the new one (the first
        # attempt's files become age-guarded orphans)
        return append_batch(table, batch, epoch_id=epoch_id, app_id=app_id)
    if not isinstance(new_snap, dict):
        return new_snap
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
            for b, n in sorted(bucket_rows.items())
        ],
    )
