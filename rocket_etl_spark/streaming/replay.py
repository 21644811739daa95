"""Change-event replay: batch and Structured Streaming entry points.

The pipeline the north star describes (BASELINE.json:6):

    tail change stream → vectorized transforms (normalize_lang, sha256)
      → LWW dedupe → epoch-fenced MERGE → lineage row per epoch

``replay_stream`` tails a directory of event batches with a file source
(the sandbox stand-in for a Kafka/binlog source — no Kafka jar offline,
SURVEY.md §0), replays each micro-batch with ``replay_batch`` in
``foreachBatch`` (the one epoch path batch and stream share), and is
resumable from its checkpoint: after a crash, Spark replays the last
uncommitted epoch, and the lake's epoch fence turns the duplicate MERGE
into a no-op — exactly-once table effects over an at-least-once source.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rocket_etl_spark.functions.hashing import sha256_expr
from rocket_etl_spark.functions.lang import normalize_lang
from rocket_etl_spark.lake.merge import CommitConflict, CommitResult, merge_batch
from rocket_etl_spark.lake.table import LakeTable
from rocket_etl_spark.schema.registry import TableSchema

# v1 change-event schema (FIXTURES.md A2)
EVENTS_DDL = (
    "event_seq bigint, event_ts timestamp, op string, "
    "repo string, path string, commit string, lang string, content string"
)

# the lake table: key (repo, path), LWW order last_event_seq (FIXTURES.md A1)
REPO_FILES_SCHEMA = TableSchema.from_ddl(
    [
        ("repo", "string"),
        ("path", "string"),
        ("lang", "string"),
        ("content", "string"),
        ("content_sha256", "string"),
        ("last_commit", "string"),
        ("last_event_seq", "bigint"),
    ]
)

# declared event-column renames across stream versions (rename is not
# inferable from data — it must be declared, as in Iceberg ALTER COLUMN)
DEFAULT_RENAMES: dict[str, str] = {"language": "lang"}


def create_repo_files_table(
    spark: SparkSession, path: str | Path, num_buckets: int = 16
) -> LakeTable:
    return LakeTable.create(
        spark, path, REPO_FILES_SCHEMA, key_cols=("repo", "path"),
        order_col="last_event_seq", num_buckets=num_buckets,
    )


def sha256_derived(use_pandas_udfs: bool = False) -> dict:
    """The deferred content-hash column for ``merge_batch(derived_cols=)``:
    computed post-dedupe on winner rows only (the 64-char hex column never
    rides the dedupe shuffle — measured ~2x end-to-end replay)."""
    if use_pandas_udfs:
        from rocket_etl_spark.functions.hashing import sha256_content

        return {"content_sha256": sha256_content(F.col("content"))}
    return {"content_sha256": sha256_expr("content")}


def prepare_events(
    events: DataFrame, use_pandas_udfs: bool = False, defer_hash: bool = False
) -> DataFrame:
    """Vectorized transform: event columns → table columns (+ op).

    Two verified-identical implementations of the named transforms
    (sha256 content hashing, lang normalization — BASELINE.json:6):

    * default: pure ``pyspark.sql`` expressions — whole-stage codegen,
      zero Python in the hot path.  Measured ~3x faster end-to-end: the
      Arrow transfer of content bytes to Python workers dominates at
      high core counts, so JVM-side wins even though the UDFs are
      vectorized.
    * ``use_pandas_udfs=True``: the Arrow pandas-UDF variants — the
      surface custom logic plugs into (anything hashlib/pandas can
      express rides the same slot); cross-checked equal in tests.

    ``defer_hash=True`` omits ``content_sha256`` — the replay paths then
    hand ``sha256_derived()`` to the MERGE, which computes it after the
    LWW dedupe (winners only, lighter shuffle)."""
    lang_col = "language" if "language" in events.columns else "lang"
    if use_pandas_udfs:
        from rocket_etl_spark.functions.hashing import sha256_content

        lang_norm = normalize_lang(F.col(lang_col))
        sha = sha256_content(F.col("content"))
    else:
        from rocket_etl_spark.functions.lang import normalize_lang_expr

        lang_norm = normalize_lang_expr(lang_col)
        sha = sha256_expr("content")
    base = [
        F.col("repo"),
        F.col("path"),
        lang_norm.alias(lang_col),
        F.col("content"),
        *([] if defer_hash else [sha.alias("content_sha256")]),
        F.col("commit").alias("last_commit"),
        F.col("event_seq").alias("last_event_seq"),
        F.coalesce(F.col("op"), F.lit("upsert")).alias("op"),
    ]
    known = {"repo", "path", "lang", "language", "content", "commit", "event_seq",
             "op", "event_ts", "delivery_order"}
    extras = [F.col(c) for c in events.columns if c not in known]
    return events.select(*base, *extras)


def align_batch(
    table: LakeTable,
    batch: DataFrame,
    renames: dict[str, str] | None = None,
    skip_cols: set[str] | frozenset[str] = frozenset(),
) -> tuple[DataFrame, TableSchema | None]:
    """Schema-evolution alignment of a prepared batch to the table.

    * a batch column matching a **declared** rename target evolves the
      table (rename old→new, same field id);
    * unknown batch columns → ``add_column`` (new field id);
    * a batch column wider than the table's → ``widen_column``;
    * table columns missing from the batch → null-backfill.

    Returns the aligned batch and the evolved schema (None if unchanged).
    """
    renames = DEFAULT_RENAMES if renames is None else renames
    schema = table.current_schema()
    evolved = False
    batch_types = dict(zip(batch.columns, [f.dataType.simpleString() for f in batch.schema.fields]))

    for new_name, old_name in renames.items():
        if new_name in batch_types and old_name in schema.names():
            schema = schema.rename_column(old_name, new_name)
            evolved = True

    for col, dtype in batch_types.items():
        if col == "op":
            continue
        if col not in schema.names():
            schema = schema.add_column(col, dtype)
            evolved = True
        else:
            cur = schema.field_by_name(col).dtype
            if cur != dtype and (cur, dtype) in {("int", "bigint"), ("float", "double")}:
                schema = schema.widen_column(col, dtype)
                evolved = True

    cols = []
    for f in schema.fields:
        if f.name in skip_cols:
            continue  # deferred derived column: the MERGE computes it post-dedupe
        if f.name in batch_types:
            cols.append(F.col(f.name).cast(f.dtype).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dtype).alias(f.name))
    aligned = batch.select(*cols, F.col("op"))
    return aligned, (schema if evolved else None)


def replay_batch(
    table: LakeTable,
    events: DataFrame,
    epoch_id: int | None = None,
    renames: dict[str, str] | None = None,
    use_pandas_udfs: bool = False,
    app_id: str = "default",
    mode: str = "cow",
    mor_compact_threshold: int | None = None,
) -> CommitResult:
    """One-shot batch replay: transform → align → MERGE.

    ``mode='mor'`` switches the MERGE to merge-on-read delta appends
    (see ``merge_batch``): same final state, no decide scan — the
    trickle-CDC write path; pair with ``mor_compact_threshold`` or a
    compaction schedule to bound read amplification.

    A ``CommitConflict`` (a concurrent schema change) re-aligns and
    retries (``_align_and_commit``)."""
    return _align_and_commit(
        table, events, renames, use_pandas_udfs,
        lambda aligned, new_schema, derived: merge_batch(
            table, aligned, epoch_id=epoch_id, new_schema=new_schema,
            app_id=app_id, derived_cols=derived, mode=mode,
            mor_compact_threshold=mor_compact_threshold,
        ),
    )


def stage_replay(
    table: LakeTable,
    events: DataFrame,
    epoch_id: int | None = None,
    renames: dict[str, str] | None = None,
    use_pandas_udfs: bool = False,
    app_id: str = "default",
    mode: str = "cow",
):
    """``replay_batch`` whose commit is STAGED (write-audit-publish,
    lake/wap.py): the full transform → align → MERGE runs, but the
    result stays invisible until ``publish_staged`` — audit the staged
    state first with ``read_staged``/``audit_staged``.  Returns a
    ``StagedCommit``."""
    from rocket_etl_spark.lake.wap import stage_merge

    return _align_and_commit(
        table, events, renames, use_pandas_udfs,
        lambda aligned, new_schema, derived: stage_merge(
            table, aligned, epoch_id=epoch_id, new_schema=new_schema,
            app_id=app_id, derived_cols=derived, mode=mode,
        ),
    )


def _align_and_commit(
    table: LakeTable,
    events: DataFrame,
    renames: dict[str, str] | None,
    use_pandas_udfs: bool,
    commit: Callable[[DataFrame, TableSchema | None, dict], object],
):
    """transform → align → ``commit(aligned, new_schema, derived_cols)``.

    A ``CommitConflict`` (another writer evolved the schema between our
    alignment and our commit) is absorbed by re-aligning against the
    now-current schema and retrying — the merge itself already rebases
    or recomputes over concurrent data commits."""
    prepared = prepare_events(events, use_pandas_udfs=use_pandas_udfs, defer_hash=True)
    derived = sha256_derived(use_pandas_udfs)
    while True:
        aligned, new_schema = align_batch(table, prepared, renames, skip_cols=set(derived))
        try:
            return commit(aligned, new_schema, derived)
        except CommitConflict:
            continue


# --------------------------------------------------------------- lineage
LINEAGE_DDL = (
    "epoch_id bigint, snapshot_id bigint, event_seq_min bigint, event_seq_max bigint, "
    "rows_in bigint, rows_upserted bigint, rows_deleted bigint, "
    "touched_buckets int, wall_ms bigint, skipped boolean"
)

# per-partition lineage (north rule: "per-partition lineage rows —
# event-range, offsets, row counts"): one row per touched hash-bucket per
# epoch, riding the stats the MERGE already computes (planning aggregate
# + per-bucket action counts) — no extra scan anywhere.
BUCKET_LINEAGE_DDL = (
    "epoch_id bigint, snapshot_id bigint, bucket int, rows_in bigint, "
    "rows_upserted bigint, rows_deleted bigint, "
    "event_seq_min bigint, event_seq_max bigint"
)


def _ddl_to_arrow(ddl: str):
    import pyarrow as pa

    m = {"bigint": pa.int64(), "int": pa.int32(), "boolean": pa.bool_(), "string": pa.string()}
    return pa.schema([(f.split()[0], m[f.split()[1]]) for f in ddl.split(", ")])


def _append_rows(dirpath: Path, ddl: str, rows: list[dict]) -> None:
    """Append tiny metadata rows as one parquet file, driver-side.

    Lineage rows are a handful of dicts per epoch; writing them through a
    Spark job costs a full scheduling round-trip per epoch for no
    parallelism.  pyarrow writes a standard parquet file Spark reads with
    the same explicit schema."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    dirpath.mkdir(parents=True, exist_ok=True)
    t = pa.Table.from_pylist(rows, schema=_ddl_to_arrow(ddl))
    # crash-atomic: write to a dot-prefixed temp and rename into place
    # (atomic on one filesystem) — a direct write torn mid-crash would
    # leave a corrupt footer that fails EVERY subsequent lineage read.
    # Dot-prefixed names are invisible to Spark readers even if leaked.
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = dirpath / f".{name}.tmp"
    pq.write_table(t, tmp)
    os.rename(tmp, dirpath / name)


def append_lineage(spark: SparkSession, table: LakeTable, res: CommitResult) -> None:
    _append_rows(
        Path(table.path) / "lineage",
        LINEAGE_DDL,
        [
            {
                "epoch_id": res.epoch_id,
                "snapshot_id": res.snapshot_id,
                "event_seq_min": res.event_seq_min,
                "event_seq_max": res.event_seq_max,
                "rows_in": res.rows_in,
                "rows_upserted": res.rows_upserted,
                "rows_deleted": res.rows_deleted,
                "touched_buckets": res.touched_buckets,
                "wall_ms": res.wall_ms,
                "skipped": res.skipped,
            }
        ],
    )
    if res.bucket_stats:
        _append_rows(
            Path(table.path) / "lineage_buckets",
            BUCKET_LINEAGE_DDL,
            [
                {"epoch_id": res.epoch_id, "snapshot_id": res.snapshot_id, **bs}
                for bs in res.bucket_stats
            ],
        )


def read_lineage(spark: SparkSession, table: LakeTable) -> DataFrame:
    return spark.read.schema(LINEAGE_DDL).parquet(str(Path(table.path) / "lineage"))


def read_bucket_lineage(spark: SparkSession, table: LakeTable) -> DataFrame:
    """Per-partition (hash-bucket) lineage: one row per touched bucket per
    epoch with its event-seq range and in/upserted/deleted row counts."""
    return spark.read.schema(BUCKET_LINEAGE_DDL).parquet(
        str(Path(table.path) / "lineage_buckets")
    )


# -------------------------------------------------------------- streaming
def kafka_event_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    events_ddl: str = EVENTS_DDL,
    starting_offsets: str = "earliest",
    options: dict | None = None,
) -> DataFrame:
    """Production change-stream tail: a Kafka topic of JSON change events
    (the binlog transport the file-source directory stands in for —
    SURVEY.md §2.9 T1).  Returns a streaming DataFrame with the same
    columns as the file source, so ``replay_stream(stream_df=...)`` is a
    drop-in swap.

    Jar-gated like the Iceberg backend: ``spark-sql-kafka-0-10`` is not
    in this sandbox (SURVEY.md §0), so the gate raises a clean
    NotImplementedError here; on a cluster the reader works unchanged."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    try:
        raw = reader.load()
    except Exception as e:
        if "kafka" in str(e).lower() and (
            "failed to find" in str(e).lower() or "data source" in str(e).lower()
        ):
            raise NotImplementedError(
                "Kafka source requires the spark-sql-kafka-0-10 runtime jar "
                "(absent in this sandbox); pass --packages "
                "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> "
                "on a cluster"
            ) from e
        raise
    return raw.select(
        F.from_json(F.col("value").cast("string"), events_ddl).alias("_e")
    ).select("_e.*")


def replay_stream(
    spark: SparkSession,
    table: LakeTable,
    events_dir: str | Path,
    checkpoint_dir: str | Path,
    events_ddl: str = EVENTS_DDL,
    renames: dict[str, str] | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    source_dedupe_watermark: str | None = None,
    compact_every: int | None = None,
    reorder_bound: int | None = None,
    app_id: str | None = None,
    stream_df: DataFrame | None = None,
    notifier=None,
    mode: str = "cow",
    mor_compact_threshold: int | None = None,
    refresh_mvs: list | None = None,
    refresh_every: int = 1,
    audit_rules: list | None = None,
    quarantine_dir: str | Path | None = None,
) -> list[CommitResult]:
    """Tail ``events_dir`` and MERGE each micro-batch (exactly-once).

    One epoch path: each micro-batch is a ``replay_batch`` (or, audited,
    a ``stage_replay``) under the stream's ``app_id`` with the Structured
    Streaming batch id as its epoch, so prepare → align → MERGE and the
    re-align on a ``CommitConflict`` run exactly as in a batch replay.

    ``available_now=True`` drains everything currently in the directory
    and stops — the replay/benchmark mode.  ``available_now=False`` runs
    the default trigger and returns only once the query is stopped
    (``StreamingQuery.stop()``, e.g. from ``spark.streams.active``) or
    fails; both modes return the epochs they ran and notify the stream's
    success or failure the same way.  With a watermark string
    (e.g. ``'10 minutes'``), at-least-once source duplicates are dropped
    via ``dropDuplicatesWithinWatermark`` on (repo, path, commit) before
    the MERGE (T4 in SURVEY.md §2.9); correctness never depends on it —
    the LWW merge guard already absorbs duplicates and reordering.

    ``compact_every=N`` runs lake compaction after every N committed
    epochs — the self-maintaining ingestion mode.  Tombstones are only
    purged when ``reorder_bound`` is given: the purge watermark is the
    current epoch's min event_seq minus that bound, so an out-of-order
    source (events up to ``reorder_bound`` seq positions late, e.g.
    ``generate.change_events(shuffle_bound=B)``) can never resurrect a
    deleted row by re-delivering a stale upsert after its guarding
    tombstone was purged.  Without the bound, compaction still merges
    small files but keeps every tombstone (always safe).

    ``app_id`` scopes the exactly-once fence (default: derived from the
    checkpoint path) — a NEW checkpoint pointed at an existing table gets
    fresh epoch numbering instead of colliding with a previous stream's.

    ``mode='mor'`` appends each micro-batch as merge-on-read deltas
    instead of copy-on-write rewrites (see ``merge_batch``) — the
    write-optimized ingestion mode; ``mor_compact_threshold`` (or
    ``compact_every``) bounds the deltas a read must reconcile.

    ``stream_df`` swaps the source: pass ``kafka_event_stream(...)`` (or
    any streaming DataFrame with the event columns) instead of the file
    directory.  ``notifier`` (see ``rocket_etl_spark.notify``) receives a
    per-epoch event and a final stream summary; notifier failures never
    fail the run.

    ``refresh_mvs=[MaterializedAggregate, ...]`` keeps downstream
    rollups continuously fresh: after every ``refresh_every``-th
    committed epoch each MV's incremental ``refresh()`` runs (additive
    O(changes) on insert-only windows, dirty-group recompute otherwise —
    lake/materialized.py).  Each refresh is exactly-once under the MV's
    own app fence, so a crash between the table commit and the MV
    refresh replays safely — the MV catches up from ``changes()`` on the
    next trigger, never double-applying.  A refresh failure fails the
    stream (the checkpoint replays the epoch; the table commit itself is
    already fenced) rather than silently leaving the MV stale.

    ``audit_rules`` turns every micro-batch into a write–audit–publish
    commit (lake/wap.py): the MERGE runs into an invisible one-commit
    branch, the rules audit the WOULD-BE table state, and only a clean
    batch publishes.  A failing batch is aborted — and because the
    Structured Streaming checkpoint will mark the batch consumed
    regardless, its raw events are appended to ``quarantine_dir``
    (parquet, with ``_epoch_id`` and ``_quarantined_ts`` columns) so
    nothing is silently dropped: the operator replays the fixed batch
    from quarantine with ``replay_batch`` once upstream is repaired (its
    epoch stayed unfenced).  ``audit_rules`` without a
    ``quarantine_dir`` raises: an audited stream with nowhere to put
    rejects would be a silent-loss trap.
    """
    from rocket_etl_spark.notify import safe_notify

    if audit_rules and quarantine_dir is None:
        raise ValueError(
            "audit_rules without quarantine_dir would silently drop "
            "rejected batches (the stream checkpoint marks them consumed) "
            "— give the rejects somewhere to land"
        )
    if audit_rules and mor_compact_threshold is not None:
        # stage_merge takes no auto-compaction parameter (each stage is a
        # one-commit branch; folding belongs after publish), so accepting
        # mor_compact_threshold here and ignoring it would let an audited
        # MOR stream accumulate unbounded delta depth silently
        raise ValueError(
            "audit_rules and mor_compact_threshold do not compose: staged "
            "commits cannot auto-compact — schedule compact() via "
            "compact_every or run it after publishes instead"
        )
    if app_id is None:
        import hashlib

        app_id = "stream-" + hashlib.sha256(
            str(Path(checkpoint_dir).resolve()).encode()
        ).hexdigest()[:12]
    results: list[CommitResult] = []

    if stream_df is not None:
        stream = stream_df
    else:
        reader = spark.readStream.schema(events_ddl)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        stream = reader.parquet(str(events_dir))

    if source_dedupe_watermark:
        stream = stream.withWatermark("event_ts", source_dedupe_watermark)
        stream = stream.dropDuplicatesWithinWatermark(["repo", "path", "commit"])

    committed = 0  # non-skipped epochs: the compaction and MV refresh clock

    def audited_epoch(batch_df: DataFrame, epoch_id: int) -> CommitResult:
        # write–audit–publish: stage the batch replay, audit the would-be
        # state, publish only if clean.  A rejected batch aborts (no trace,
        # epoch unfenced) and its RAW events land in the quarantine sink —
        # the checkpoint marks the batch consumed either way, so the
        # quarantine is the only durable copy of a poisoned epoch.
        from rocket_etl_spark.lake.wap import abort_staged, audit_staged, publish_staged

        st = stage_replay(table, batch_df, epoch_id, renames, app_id=app_id, mode=mode)
        audit = audit_staged(table, st, audit_rules)  # a fenced stage passes
        if audit["ok"]:
            publish_staged(table, st)  # ... and publishes nothing
            return st.result
        abort_staged(table, st)
        (
            batch_df
            .withColumn("_epoch_id", F.lit(epoch_id).cast("long"))
            .withColumn("_quarantined_ts", F.current_timestamp())
            .write.mode("append").parquet(str(quarantine_dir))
        )
        safe_notify(notifier, {
            "kind": "epoch", "app_id": app_id, "epoch_id": epoch_id,
            "status": "audit_rejected",
            "violations": audit["violations"],
            "by_rule": audit["by_rule"],
        })
        return CommitResult(
            snapshot_id=table.current_snapshot()["snapshot_id"],
            epoch_id=epoch_id, skipped=True,
        )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal committed
        t0 = time.monotonic()
        if audit_rules:
            res = audited_epoch(batch_df, epoch_id)
        else:
            res = replay_batch(
                table, batch_df, epoch_id, renames, app_id=app_id, mode=mode,
                mor_compact_threshold=mor_compact_threshold,
            )
        res.wall_ms = int((time.monotonic() - t0) * 1000)
        append_lineage(spark, table, res)
        results.append(res)
        safe_notify(notifier, {
            "kind": "epoch", "app_id": app_id, "epoch_id": res.epoch_id,
            "status": "success", "skipped": res.skipped, "rows_in": res.rows_in,
            "rows_upserted": res.rows_upserted, "rows_deleted": res.rows_deleted,
            "snapshot_id": res.snapshot_id, "wall_ms": res.wall_ms,
        })
        if res.skipped:
            return
        committed += 1
        if compact_every and committed % compact_every == 0:
            from rocket_etl_spark.lake.maintenance import compact

            # purge watermark = redelivery low-watermark, NOT this epoch's
            # min: a later file may still carry older (stale) upserts up to
            # reorder_bound positions back; their guarding tombstones must
            # outlive that window or a deleted row resurrects.
            wm = (
                res.event_seq_min - reorder_bound
                if (reorder_bound is not None and res.event_seq_min is not None)
                else None
            )
            compact(table, tombstone_watermark=wm)
        if refresh_mvs and committed % max(refresh_every, 1) == 0:
            for mv in refresh_mvs:
                mv.refresh(table)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", str(checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    try:
        q.awaitTermination()
    except Exception:
        safe_notify(notifier, {
            "kind": "stream", "app_id": app_id, "status": "failure",
            "epochs": len(results),
        })
        raise
    safe_notify(notifier, {
        "kind": "stream", "app_id": app_id, "status": "success",
        "epochs": len(results),
        "rows_in": sum(r.rows_in for r in results),
        "rows_upserted": sum(r.rows_upserted for r in results),
        "rows_deleted": sum(r.rows_deleted for r in results),
    })
    return results
