"""Metadata tables (lake/metadata.py): snapshots/files/history as
queryable DataFrames, consistent with the snapshot chain, the footer
numbers, and the pruning metadata the MERGE actually uses."""

from __future__ import annotations

import pyspark.sql.functions as F

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.lake.maintenance import compact, expire_snapshots, table_stats
from rocket_etl_spark.lake.merge import append_batch
from rocket_etl_spark.lake.metadata import files, history, snapshots
from rocket_etl_spark.streaming.replay import (
    create_repo_files_table,
    prepare_events,
    replay_batch,
)


def _table(spark, tmp_path, n_epochs=3, mor_epoch=False):
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    for ep in range(n_epochs):
        replay_batch(
            t, change_events(spark, 800, seed=20 + ep), epoch_id=ep,
            mode="mor" if (mor_epoch and ep == n_epochs - 1) else "cow",
        )
    return t


def test_snapshots_table_matches_chain(spark, tmp_path):
    t = _table(spark, tmp_path, n_epochs=2)
    pdf = snapshots(t).orderBy("snapshot_id").toPandas()
    # create + 2 merges, ids contiguous, exactly one current tip
    assert list(pdf["snapshot_id"]) == [0, 1, 2]
    assert list(pdf["operation"]) == ["create", "merge", "merge"]
    assert list(pdf["is_current"]) == [False, False, True]
    assert pdf["parent_id"].tolist()[1:] == [0, 1]
    assert pdf["epoch_id"].tolist()[1:] == [0, 1]
    assert (pdf["added_files"][1:] > 0).all()
    assert pdf["committed_at"].notna().all()


def test_operation_classification(spark, tmp_path):
    t = _table(spark, tmp_path, n_epochs=2, mor_epoch=True)
    append_batch(t, prepare_events(change_events(spark, 100, seed=30)), epoch_id=2)
    compact(t)
    rows = {r["snapshot_id"]: r for r in snapshots(t).collect()}
    ops = {sid: r["operation"] for sid, r in rows.items()}
    assert ops[0] == "create" and ops[1] == "merge"
    assert ops[2] == "delta-append"
    assert ops[3] == "append"
    assert ops[4] == "replace"
    # app_id names the commit's writer: a compaction has none, it does
    # not inherit the last data commit's
    assert rows[3]["app_id"] == "default"
    assert rows[4]["app_id"] is None and rows[4]["epoch_id"] is None


def test_files_table_matches_footers_and_stats(spark, tmp_path):
    t = _table(spark, tmp_path, n_epochs=3, mor_epoch=True)
    pdf = files(t).toPandas()
    st = table_stats(t)
    assert len(pdf) == st["total_files"]
    assert int(pdf["rows"].sum()) == st["total_rows"]
    assert (pdf["kind"] == "delta").sum() == st["delta_files"]
    assert (pdf["bytes"] > 0).all()
    assert set(pdf["bucket"]) <= set(range(4))
    # the pruning metadata is surfaced where it exists: a small commit's
    # files carry blooms and zone maps, and min <= max per zone-mapped col
    zm = pdf[pdf["key_min"].notna()]
    assert len(zm) > 0 and (pdf["has_bloom"]).any()
    for _, r in zm.iterrows():
        for col, mn in r["key_min"].items():
            assert mn <= r["key_max"][col]
    # files() accepts a historical snapshot and shows fewer files
    early = files(t, snapshot_id=1).toPandas()
    assert 0 < len(early) < len(pdf)


def test_history_walks_ancestry_and_stops_at_expiry(spark, tmp_path):
    t = _table(spark, tmp_path, n_epochs=3)
    h = history(t).toPandas()
    assert list(h["snapshot_id"]) == [3, 2, 1, 0]
    assert h["is_current"].tolist() == [True, False, False, False]
    # expire all but the last two snapshots: history truncates cleanly
    expire_snapshots(t, keep_last=2, orphan_min_age_s=0.0)
    h2 = history(t).toPandas()
    assert list(h2["snapshot_id"]) == [3, 2]
    # snapshots() likewise shows only the retained chain
    assert sorted(snapshots(t).toPandas()["snapshot_id"]) == [2, 3]


def test_as_of_timestamp_time_travel(spark, tmp_path):
    import time

    import pytest

    from rocket_etl_spark.lake.metadata import as_of

    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    marks = [time.time()]  # before any data epoch
    for ep in range(3):
        time.sleep(0.01)  # committed_at_ms has millisecond resolution
        replay_batch(t, change_events(spark, 500, seed=40 + ep), epoch_id=ep)
        marks.append(time.time())
    # each boundary resolves to the snapshot live at that instant
    assert as_of(t, marks[0]) == 0  # the create snapshot
    for i in (1, 2, 3):
        assert as_of(t, marks[i]) == i
    # and the resolved id reads the state of that moment
    mid = t.read(snapshot_id=as_of(t, marks[2])).count()
    assert mid == t.read(snapshot_id=2).count()
    # datetime input works too
    from datetime import datetime

    assert as_of(t, datetime.fromtimestamp(marks[3])) == 3
    # predating all retained history raises
    with pytest.raises(LookupError):
        as_of(t, marks[0] - 3600)


def test_tags_pin_read_and_survive_expiry(spark, tmp_path):
    import pytest

    from rocket_etl_spark.lake.metadata import (
        create_tag,
        drop_tag,
        list_tags,
        resolve_tag,
    )

    t = _table(spark, tmp_path, n_epochs=2)
    good_state = t.read().count()
    create_tag(t, "last-known-good")  # pins the current tip (snapshot 2)
    assert list_tags(t) == {"last-known-good": 2}
    # ingestion advances well past the pin
    for ep in (2, 3):
        replay_batch(t, change_events(spark, 800, seed=60 + ep), epoch_id=ep)
    # tags are immutable; bad names rejected; explicit ids validated
    with pytest.raises(ValueError):
        create_tag(t, "last-known-good")
    with pytest.raises(ValueError):
        create_tag(t, "../escape")
    with pytest.raises(FileNotFoundError):
        create_tag(t, "ghost", snapshot_id=99)
    # aggressive expiry: the tagged snapshot and its files survive
    expire_snapshots(t, keep_last=1, orphan_min_age_s=0.0)
    pinned = resolve_tag(t, "last-known-good")
    assert pinned == 2
    assert t.read(snapshot_id=pinned).count() == good_state
    # untagged ancestors really expired
    assert sorted(snapshots(t).toPandas()["snapshot_id"]) == [2, 4]
    # dropping the tag makes it expirable again
    assert drop_tag(t, "last-known-good") is True
    assert drop_tag(t, "last-known-good") is False
    expire_snapshots(t, keep_last=1, orphan_min_age_s=0.0)
    assert sorted(snapshots(t).toPandas()["snapshot_id"]) == [4]
    with pytest.raises(LookupError):
        resolve_tag(t, "last-known-good")


def test_metadata_tables_compose_with_sql(spark, tmp_path):
    t = _table(spark, tmp_path, n_epochs=2)
    f = files(t)
    # the canonical ops question: per-bucket file count + debt, in SQL
    agg = (
        f.groupBy("bucket")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(F.when(F.col("kind") == "delta", 1).otherwise(0)).alias("deltas"),
        )
        .orderBy("bucket")
        .collect()
    )
    assert all(r["n_files"] >= 1 and r["deltas"] == 0 for r in agg)
