"""Metadata-pruned point lookups (lake/lookup.py): correct rows under
COW, MOR, deletes and time travel; bloom/zone pruning really skips files
on the trickle layout without ever changing the answer."""

from __future__ import annotations

import datetime as dt
import uuid

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StructType

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.lake.lookup import lookup
from rocket_etl_spark.lake.merge import merge_batch
from rocket_etl_spark.lake.table import LakeTable, bucket_of
from rocket_etl_spark.schema.registry import TableSchema
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def _some_keys(table, n=5):
    return [
        (r["repo"], r["path"])
        for r in table.read().select("repo", "path").orderBy("repo", "path").limit(n).collect()
    ]


def _rows(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def test_lookup_matches_filtered_read(spark, tmp_path):
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=8)
    replay_batch(t, change_events(spark, 4_000, seed=3), epoch_id=0)
    keys = _some_keys(t, 5)
    got = lookup(t, keys)
    cond = F.struct("repo", "path").isin([F.struct(F.lit(a), F.lit(b)) for a, b in keys])
    want = t.read().filter(cond)
    assert _rows(got) == _rows(want)
    assert got.count() == len(keys)


def test_lookup_unknown_and_deleted_keys_empty(spark, tmp_path):
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=8)
    replay_batch(t, change_events(spark, 2_000, seed=3, delete_frac=0.0), epoch_id=0)
    (victim,) = _some_keys(t, 1)
    # delete the victim via a tombstoning epoch
    del_ev = (
        change_events(spark, 1, seed=4)
        .withColumn("repo", F.lit(victim[0]))
        .withColumn("path", F.lit(victim[1]))
        .withColumn("op", F.lit("delete"))
        .withColumn("event_seq", F.lit(10_000_000).cast("long"))
    )
    replay_batch(t, del_ev, epoch_id=1)
    assert lookup(t, [victim]).count() == 0
    assert lookup(t, [("no-such-repo", "no/such/path")]).count() == 0
    # time travel: the pre-delete snapshot still serves the row
    pre = t.current_snapshot()["parent_id"]
    assert lookup(t, [victim], snapshot_id=pre).count() == 1


def test_lookup_prunes_files_on_trickle_layout(spark, tmp_path):
    """Many small (bloomed) commits → a point lookup scans a strict
    subset of the touched buckets' files, and pruning never changes
    the result."""
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    for i in range(12):
        ev = change_events(spark, 120, seed=20 + i).withColumn(
            "path", F.concat(F.lit(f"e{i}/"), F.col("path"))
        )
        replay_batch(t, ev, epoch_id=i)
    keys = _some_keys(t, 3)
    got, stats = lookup(t, keys, return_stats=True)
    assert stats["files_scanned"] < stats["files_total"]
    cond = F.struct("repo", "path").isin([F.struct(F.lit(a), F.lit(b)) for a, b in keys])
    assert _rows(got) == _rows(t.read().filter(cond))


def test_lookup_mor_reconciles_latest(spark, tmp_path):
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, change_events(spark, 1_000, seed=5), epoch_id=0)
    (k,) = _some_keys(t, 1)
    upd = (
        change_events(spark, 1, seed=6)
        .withColumn("repo", F.lit(k[0]))
        .withColumn("path", F.lit(k[1]))
        .withColumn("op", F.lit("upsert"))
        .withColumn("content", F.lit("NEW CONTENT"))
        .withColumn("event_seq", F.lit(10_000_000).cast("long"))
    )
    replay_batch(t, upd, epoch_id=1, mode="mor")
    row = lookup(t, [k]).collect()
    assert len(row) == 1 and row[0]["content"] == "NEW CONTENT"


def test_lookup_bounds_and_shape_errors(spark, tmp_path):
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, change_events(spark, 500, seed=5), epoch_id=0)
    with pytest.raises(ValueError):
        lookup(t, [])
    with pytest.raises(ValueError):
        lookup(t, [("only-one-part",)])


def test_range_scan_equals_filter_and_prunes_after_clustering(spark, tmp_path):
    """range_scan returns exactly read().filter(lo <= col <= hi); after a
    CLUSTERED compaction (sorted disjoint slices + zone maps) a selective
    range provably skips files."""
    from rocket_etl_spark.lake.lookup import range_scan
    from rocket_etl_spark.lake.maintenance import compact

    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    for i in range(6):
        ev = change_events(spark, 300, seed=40 + i).withColumn(
            "path", F.concat(F.lit(f"e{i}/"), F.col("path"))
        )
        replay_batch(t, ev, epoch_id=i)

    lo, hi = "org2", "org5"  # covers org2/... through org4/...
    want = t.read().filter((F.col("repo") >= lo) & (F.col("repo") <= hi))
    got = range_scan(t, "repo", lo, hi)
    assert _rows(got) == _rows(want)
    assert got.count() > 0

    compact(t, sort_cols=["repo", "path"], target_file_rows=150, min_files=1)
    got2, stats = range_scan(t, "repo", lo, hi, return_stats=True)
    assert _rows(got2) == _rows(want)  # same snapshot content post-compact
    assert stats["pruned"] and stats["files_scanned"] < stats["files_total"]

    # open-ended bounds + misuse errors
    assert _rows(range_scan(t, "repo", lo=None, hi="org1")) == _rows(
        t.read().filter(F.col("repo") <= "org1")
    )
    # since late r5 non-key supported columns scan too (column bounds);
    # only an unknown/unsupported column is rejected
    assert _rows(range_scan(t, "content", "a", "zzzz")) == _rows(
        t.read().filter((F.col("content") >= "a") & (F.col("content") <= "zzzz"))
    )
    with pytest.raises(Exception, match="zone-map-supported|not found|no field"):
        range_scan(t, "no_such_col", "a", "b")
    with pytest.raises(ValueError, match="bound"):
        range_scan(t, "repo")


def _jobs_run(spark, fn):
    """``(fn(), Spark jobs fn ran)``: counted under a job group of its
    own once the listener bus has drained — a host-independent cost."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_lookup_runs_no_python_fed_jobs(spark, tmp_path):
    """Probe keys reach the JVM as an Arrow local relation: computing
    their bucket ids runs no job, a COW lookup is the probe broadcast
    plus the file scan, and an empty selection is a single job."""
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=8)
    replay_batch(t, change_events(spark, 2_000, seed=3), epoch_id=0)
    keys = _some_keys(t, 4)
    df, built = _jobs_run(spark, lambda: lookup(t, keys))
    assert built == 0
    rows, collected = _jobs_run(spark, df.collect)
    assert len(rows) == 4 and collected <= 2
    n, counted = _jobs_run(spark, lambda: t.read(buckets=[]).count())
    assert n == 0 and counted == 1


def _null_safe_in(keys, probe):
    cond = F.lit(False)
    for p in probe:
        hit = F.lit(True)
        for k, v in zip(keys, p):
            hit = hit & F.col(k).eqNullSafe(F.lit(v))
        cond = cond | hit
    return cond


def _check_lookup_like_filter(spark, t, probe):
    """lookup == read().filter(null-safe key match); every bucket the
    probe keys hash to (computed by Spark from a pickled-row frame, a
    path independent of the Arrow relation) is touched, and the files
    scanned cover every file holding a probed row."""
    snap = t.current_snapshot()
    keys, nb = snap["key_cols"], int(snap["num_buckets"])
    got, stats = lookup(t, probe, return_stats=True)
    want = t.read().filter(_null_safe_in(keys, probe))
    got_rows = got.select(sorted(got.columns)).collect()
    want_rows = want.select(sorted(want.columns)).collect()
    assert len(got_rows) == len(set(got_rows)) and set(got_rows) == set(want_rows)
    assert want_rows
    full = t.current_schema().to_struct()
    ref = spark.createDataFrame(probe, StructType([full[k] for k in keys])).select(
        bucket_of(keys, nb).alias("b")
    )
    assert stats["buckets_touched"] == len({r.b for r in ref.collect()})
    holding = want.select(F.input_file_name()).distinct().count()
    assert holding <= stats["files_scanned"] <= stats["files_total"], stats
    return stats


def test_lookup_keeps_date_and_null_key_parts(spark, tmp_path):
    """A (bigint, date) key with NULL date parts, written over several
    small COW epochs (blooms + zone maps on): the Arrow probe hashes to
    the writer's buckets and pruning loses no probed row."""
    schema = TableSchema.from_ddl(
        [("k", "bigint"), ("d", "date"), ("val", "string"), ("seq", "bigint")]
    )
    t = LakeTable.create(
        spark, tmp_path / "t", schema, key_cols=("k", "d"), order_col="seq",
        num_buckets=4,
    )
    for e in range(4):
        merge_batch(t, spark.sql(
            f"SELECT id % 5 AS k, IF(id % 7 = 0, NULL, date_add(DATE'2024-01-01', "
            f"CAST(id AS INT))) AS d, concat('v', id) AS val, id + {e * 1000} AS seq, "
            f"'upsert' AS op FROM range({e * 40}, {e * 40 + 40})"
        ), epoch_id=e)
    probe = [(0, None), (3, dt.date(2024, 1, 4)), (1, dt.date(2024, 3, 1)),
             (2, dt.date(2024, 1, 12)), (None, dt.date(2024, 1, 2)), (4, None)]
    stats = _check_lookup_like_filter(spark, t, probe)
    assert stats["files_scanned"] < stats["files_total"], stats


def test_lookup_keeps_timestamp_and_null_keys(spark, tmp_path):
    """A timestamp key (no bloom or zone-map pruning: bucket pruning
    only) with a NULL key row: the Arrow probe's timestamps hash like
    the written ones."""
    schema = TableSchema.from_ddl([("ts", "timestamp"), ("val", "string"), ("seq", "bigint")])
    t = LakeTable.create(
        spark, tmp_path / "t", schema, key_cols=("ts",), order_col="seq", num_buckets=4
    )
    merge_batch(t, spark.sql(
        "SELECT IF(id = 0, NULL, timestamp_micros(1700000000000000 + id * 1000001)) AS ts, "
        "concat('v', id) AS val, id AS seq, 'upsert' AS op FROM range(50)"
    ), epoch_id=0)
    some = [r.ts for r in t.read().filter("ts IS NOT NULL").orderBy("ts").limit(3).collect()]
    probe = [(None,), *[(v,) for v in some], (dt.datetime(1999, 1, 1),)]
    stats = _check_lookup_like_filter(spark, t, probe)
    assert stats["files_scanned"] == stats["files_total"]
