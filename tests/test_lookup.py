"""Metadata-pruned point lookups (lake/lookup.py): correct rows under
COW, MOR, deletes and time travel; bloom/zone pruning really skips files
on the trickle layout without ever changing the answer."""

from __future__ import annotations

import datetime as dt
import uuid
from collections import Counter

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StructType

from rocket_etl_spark.generate import change_events, with_evolution
from rocket_etl_spark.lake.lookup import lookup
from rocket_etl_spark.lake.merge import append_batch, merge_batch
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


def test_key_range_filtered_read_equals_filter_and_prunes(spark, tmp_path):
    """A key-range filtered_read returns exactly read().filter(lo <= col
    <= hi), and on epochs that each carry a disjoint repo slice (so each
    file's zone map covers one slice) a selective range skips files."""
    from pyspark.errors import AnalysisException

    from rocket_etl_spark.lake.lookup import filtered_read

    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    for i, digits in enumerate(["01", "23", "45", "67", "8", "9"]):
        ev = change_events(spark, 300, seed=40 + i).withColumn(
            "path", F.concat(F.lit(f"e{i}/"), F.col("path"))
        )
        replay_batch(t, ev.filter(F.substring("repo", 4, 1).isin(*digits)), epoch_id=i)

    lo, hi = "org2", "org5"  # covers org2/... through org4/...
    want = t.read().filter((F.col("repo") >= lo) & (F.col("repo") <= hi))
    got, stats = filtered_read(
        t, f"repo >= '{lo}' AND repo <= '{hi}'", return_stats=True
    )
    assert _rows(got) == _rows(want)
    assert got.count() > 0
    assert stats["pruned_on"] == ["repo"]
    assert stats["files_scanned"] < stats["files_total"], stats

    # open-ended bounds
    assert _rows(filtered_read(t, "repo <= 'org1'")) == _rows(
        t.read().filter(F.col("repo") <= "org1")
    )
    # non-key supported columns prune too (column bounds); an unknown
    # column fails in the residual filter
    assert _rows(filtered_read(t, "content >= 'a' AND content <= 'zzzz'")) == _rows(
        t.read().filter((F.col("content") >= "a") & (F.col("content") <= "zzzz"))
    )
    with pytest.raises(AnalysisException, match="no_such_col"):
        filtered_read(t, "no_such_col >= 'a' AND no_such_col <= 'b'")


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
    """A lookup runs on the driver: its bucket ids fold over the probe
    keys' Arrow relation, its files are read with pyarrow and its answer
    is a local relation, so building and collecting it runs no Spark job
    on a COW table or on a MOR table whose probed keys need a reconcile;
    an empty read selection is a single job."""
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=8)
    replay_batch(t, change_events(spark, 2_000, seed=3), epoch_id=0)
    keys = _some_keys(t, 4)
    df, built = _jobs_run(spark, lambda: lookup(t, keys))
    assert built == 0
    rows, collected = _jobs_run(spark, df.collect)
    assert len(rows) == 4 and collected == 0
    upd = (
        t.read().filter(_null_safe_in(["repo", "path"], keys[:2]))
        .select("repo", "path")
        .join(change_events(spark, 1, seed=6).drop("repo", "path"))
        .withColumn("op", F.lit("upsert"))
        .withColumn("content", F.lit("NEW CONTENT"))
        .withColumn("event_seq", F.lit(10_000_000).cast("long"))
    )
    replay_batch(t, upd, epoch_id=1, mode="mor")
    snap = t.current_snapshot()
    assert any(fe.get("kind") == "delta" for fl in snap["buckets"].values() for fe in fl)
    df, built = _jobs_run(spark, lambda: lookup(t, keys))
    rows, collected = _jobs_run(spark, df.collect)
    assert (built, collected) == (0, 0)
    assert sorted(r["content"] == "NEW CONTENT" for r in rows) == [False, False, True, True]
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
    assert got.columns == want.columns
    assert Counter(got_rows) == Counter(want_rows) and want_rows
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


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_lookup_keeps_timestamps_outside_the_nanosecond_range(spark, tmp_path, mode):
    """Timestamps int64 nanoseconds cannot hold (a 9999-12-31
    ``valid_to`` sentinel, a 1600s date) in a key column and a value
    column, COW and MOR: Spark writes and reads them, and so must the
    lookup's driver-side read."""
    schema = TableSchema.from_ddl(
        [("ts", "timestamp"), ("valid_to", "timestamp"), ("seq", "bigint")]
    )
    t = LakeTable.create(
        spark, tmp_path / "t", schema, key_cols=("ts",), order_col="seq", num_buckets=2
    )
    rows = (
        "SELECT CASE id % 3 WHEN 0 THEN TIMESTAMP'9999-12-31 00:00:00' "
        "WHEN 1 THEN TIMESTAMP'1600-06-01 12:00:00' "
        "ELSE timestamp_micros(1700000000000000 + id) END AS ts, "
        "IF(id % 2 = 0, TIMESTAMP'9999-12-31 23:59:59', TIMESTAMP'1650-01-01 00:00:00') "
        "AS valid_to, id + {} AS seq, 'upsert' AS op FROM range({}, {})"
    )
    merge_batch(t, spark.sql(rows.format(0, 0, 12)), epoch_id=0)
    merge_batch(t, spark.sql(rows.format(100, 6, 9)), epoch_id=1, mode=mode)
    probe = [(dt.datetime(9999, 12, 31),), (dt.datetime(1600, 6, 1, 12),)]
    _check_lookup_like_filter(spark, t, probe)
    got = sorted((r.ts, r.valid_to, r.seq) for r in lookup(t, probe).collect())
    assert got == [
        (dt.datetime(1600, 6, 1, 12), dt.datetime(1650, 1, 1), 107),
        (dt.datetime(9999, 12, 31), dt.datetime(9999, 12, 31, 23, 59, 59), 106),
    ]


def test_lookup_across_schema_versions(spark, tmp_path):
    """Files written under three schema versions (v1; v2 adds
    ``size_bytes int``; v4 renames ``lang`` to ``language`` and widens
    ``size_bytes`` to bigint), COW and MOR: each file's columns map to
    the current schema by field id, as ``read()`` maps them."""
    ev = change_events(spark, 2_000, seed=23, delete_frac=0.1)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=16)
    replay_batch(t, ev.filter(ev.event_seq < 1_000), epoch_id=0)
    v2 = with_evolution(ev.filter((ev.event_seq >= 1_000) & (ev.event_seq < 1_020)), 2)
    replay_batch(t, v2, epoch_id=1, mode="mor")
    v4 = with_evolution(ev.filter((ev.event_seq >= 1_020) & (ev.event_seq < 1_040)), 4)
    replay_batch(t, v4, epoch_id=2)
    snap = t.current_snapshot()
    assert {fe["sv"] for fl in snap["buckets"].values() for fe in fl} >= {1, 2, 4}
    assert t.current_schema().field_by_name("size_bytes").dtype == "bigint"
    old = [(r.repo, r.path) for r in t.read().filter("last_event_seq < 1000")
           .orderBy("repo", "path").limit(3).collect()]
    new = [(r.repo, r.path) for r in t.read().filter("last_event_seq >= 1000")
           .orderBy("repo", "path").limit(6).collect()]
    got = _check_lookup_like_filter(spark, t, old + new + [("no-repo", "no/path")])
    assert got["files_scanned"] > 0


def test_lookup_keeps_append_batch_duplicates(spark, tmp_path):
    """``append_batch`` rows skip the LWW dedupe, so a key can hold
    several rows in one bucket: the lookup returns each of them, as
    ``read()`` does."""
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, change_events(spark, 200, seed=8, delete_frac=0.0), epoch_id=0)
    probe = _some_keys(t, 5)
    state = t.read().filter(_null_safe_in(["repo", "path"], probe)).drop("lang")
    bumped = state.withColumn("last_event_seq", F.col("last_event_seq") + 1_000)
    append_batch(t, bumped.withColumn("lang", F.lit("bumped")), epoch_id=1)
    twice = _null_safe_in(["repo", "path"], probe[:2])
    append_batch(t, state.filter(twice).withColumn("lang", F.lit("again")), epoch_id=2)
    _check_lookup_like_filter(spark, t, probe + [("no-repo", "no/path")])
    rows = lookup(t, probe[:2]).collect()
    # per key: the merged row, its bumped copy and its verbatim copy
    langs = Counter(r.lang for r in rows)
    assert len(rows) == 6 and langs["again"] == 2 and langs["bumped"] == 2, rows


def test_lookup_time_travel_reads_the_old_snapshot(spark, tmp_path):
    """``snapshot_id`` serves the state at that snapshot: its buckets,
    file list and schema, after later COW and MOR commits moved on."""
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, change_events(spark, 800, seed=9), epoch_id=0)
    keys = _some_keys(t, 4)
    old_id = t.current_snapshot()["snapshot_id"]
    before = {tuple(r) for r in t.read().filter(_null_safe_in(["repo", "path"], keys)).collect()}
    touch = (
        t.read().filter(_null_safe_in(["repo", "path"], keys[:3]))
        .select("repo", "path")
        .join(change_events(spark, 1, seed=10).drop("repo", "path"))
        .withColumn("event_seq", F.lit(10_000_000).cast("long"))
    )
    replay_batch(t, touch.withColumn("op", F.lit("delete")).limit(1), epoch_id=1)
    replay_batch(
        t, with_evolution(touch.withColumn("op", F.lit("upsert")), 2)
        .withColumn("event_seq", F.lit(20_000_000).cast("long")),
        epoch_id=2, mode="mor",
    )
    got = {tuple(r) for r in lookup(t, keys, snapshot_id=old_id).collect()}
    assert got == before and len(got) == 4
    now = lookup(t, keys).collect()
    assert len(now) == 4 and "size_bytes" in now[0].asDict()
    assert sum(r.last_event_seq == 20_000_000 for r in now) == 3


def test_reconciled_reads_keep_schema_column_order(spark, tmp_path):
    """A key that is not the leading column, in a bucket that needs the
    merge-on-read reconcile: ``read()`` and ``lookup`` both return the
    schema's column order."""
    schema = TableSchema.from_ddl([("val", "string"), ("k", "bigint"), ("seq", "bigint")])
    t = LakeTable.create(
        spark, tmp_path / "t", schema, key_cols=("k",), order_col="seq", num_buckets=1
    )
    rows = "SELECT concat('v', id) AS val, id % 7 AS k, id AS seq, 'upsert' AS op FROM range({}, {})"
    merge_batch(t, spark.sql(rows.format(0, 20)), epoch_id=0)
    merge_batch(t, spark.sql(rows.format(20, 30)), epoch_id=1, mode="mor")
    assert t.read().columns == lookup(t, [(1,)]).columns == ["val", "k", "seq"]
    _check_lookup_like_filter(spark, t, [(1,), (5,), (None,), (99,)])


def test_lookup_ties_go_to_the_earliest_commit(spark, tmp_path):
    """Two MOR deltas re-deliver each key's winning order with new
    values: on an order tie the earliest commit wins (the base row, whose
    ``_seq`` reads as 0), in ``lookup`` as in ``read()``."""
    schema = TableSchema.from_ddl([("k", "bigint"), ("val", "string"), ("seq", "bigint")])
    t = LakeTable.create(
        spark, tmp_path / "t", schema, key_cols=("k",), order_col="seq", num_buckets=2
    )
    rows = "SELECT id % 7 AS k, concat('{}', id) AS val, id AS seq, 'upsert' AS op FROM range({}, 20)"
    merge_batch(t, spark.sql(rows.format("v", 0)), epoch_id=0)
    merge_batch(t, spark.sql(rows.format("late", 13)), epoch_id=1, mode="mor")
    merge_batch(t, spark.sql(rows.format("later", 13)), epoch_id=2, mode="mor")
    probe = [(k,) for k in range(7)]
    _check_lookup_like_filter(spark, t, probe)
    assert sorted(r.val for r in lookup(t, probe).collect()) == [f"v{i}" for i in range(13, 20)]
