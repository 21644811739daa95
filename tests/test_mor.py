"""Merge-on-read mode: COW/MOR final-state equivalence, tie semantics,
compaction folds, mode transition, fencing, evolution, changelog.

The contract under test (lake/merge.py ``_write_mor_delta`` and the
commit tail it shares with copy-on-write, lake/table.py
``_mor_reconcile``): a MOR replay — epochs appended as
delta files, reconciled at read — produces BYTE-IDENTICAL final state to
the same epochs replayed copy-on-write, under deletes, duplicate
deliveries, out-of-order arrival, and schema evolution."""

from __future__ import annotations

import pandas as pd
import pytest

from rocket_etl_spark.generate import change_events, with_evolution
from rocket_etl_spark.lake.maintenance import compact, table_stats
from rocket_etl_spark.lake.merge import merge_batch
from rocket_etl_spark.oracle import replay_oracle
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def _state(table, **kw) -> pd.DataFrame:
    pdf = table.read(**kw).toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)


def _delta_files(table) -> int:
    snap = table.current_snapshot()
    return sum(
        1 for fl in snap["buckets"].values() for fe in fl if fe.get("kind") == "delta"
    )


def _epoch_slices(events, n_epochs: int, per: int):
    return [
        events.filter(
            (events.event_seq >= i * per) & (events.event_seq < (i + 1) * per)
        )
        for i in range(n_epochs)
    ]


@pytest.mark.parametrize("delete_frac", [0.0, 0.25])
def test_mor_equals_cow_multi_epoch(spark, tmp_path, delete_frac):
    events = change_events(spark, 8_000, seed=11, delete_frac=delete_frac)
    cow = create_repo_files_table(spark, tmp_path / "cow", num_buckets=8)
    mor = create_repo_files_table(spark, tmp_path / "mor", num_buckets=8)
    for i, b in enumerate(_epoch_slices(events, 4, 2_000)):
        replay_batch(cow, b, epoch_id=i)
        replay_batch(mor, b, epoch_id=i, mode="mor")
    assert _delta_files(mor) > 0  # deltas really accumulated, no silent COW
    pd.testing.assert_frame_equal(_state(cow), _state(mor), check_dtype=False)
    pd.testing.assert_frame_equal(
        _state(mor), replay_oracle([b.toPandas() for b in _epoch_slices(events, 4, 2_000)]),
        check_dtype=False,
    )


def test_mor_out_of_order_and_duplicates(spark, tmp_path):
    """Epochs delivered out of order AND twice still converge to the oracle."""
    events = change_events(spark, 6_000, seed=13, delete_frac=0.2)
    slices = _epoch_slices(events, 3, 2_000)
    mor = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    for i in (1, 0, 2, 1, 0):  # reordered + redelivered (no fence: LWW absorbs)
        replay_batch(mor, slices[i], mode="mor")
    pd.testing.assert_frame_equal(
        _state(mor), replay_oracle([s.toPandas() for s in slices]), check_dtype=False
    )


def test_mor_tie_earliest_commit_wins(spark, tmp_path):
    """Equal LWW order across epochs: the EARLIER commit's row must win —
    the exact tie rule of the COW decide (strict batch_ord > table_ord)."""
    ddl = "event_seq long, event_ts timestamp, op string, repo string, path string, commit string, lang string, content string"
    row = dict(event_seq=5, event_ts=None, op="upsert", repo="r", path="p", lang="py")
    e1 = spark.createDataFrame([{**row, "commit": "c1", "content": "first"}], ddl)
    e2 = spark.createDataFrame([{**row, "commit": "c2", "content": "second"}], ddl)
    for m in ("cow", "mor"):
        t = create_repo_files_table(spark, tmp_path / m, num_buckets=2)
        replay_batch(t, e1, epoch_id=0, mode=m)
        replay_batch(t, e2, epoch_id=1, mode=m)
        got = t.read().select("content").collect()
        assert [r["content"] for r in got] == ["first"], m


def test_compaction_folds_deltas(spark, tmp_path):
    events = change_events(spark, 6_000, seed=17, delete_frac=0.2)
    mor = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    for i, b in enumerate(_epoch_slices(events, 3, 2_000)):
        replay_batch(mor, b, epoch_id=i, mode="mor")
    before = _state(mor)
    assert _delta_files(mor) > 0
    res = compact(mor)
    assert res["buckets_rewritten"] > 0
    assert _delta_files(mor) == 0
    st = table_stats(mor)
    assert st["delta_files"] == 0 and st["max_delta_depth"] == 0
    pd.testing.assert_frame_equal(before, _state(mor), check_dtype=False)
    # tombstone purge over a reconciled read
    res2 = compact(mor, tombstone_watermark=10**9)
    assert res2["tombstones_dropped"] > 0
    pd.testing.assert_frame_equal(before, _state(mor), check_dtype=False)


def test_auto_compact_threshold(spark, tmp_path):
    events = change_events(spark, 8_000, seed=19)
    mor = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    for i, b in enumerate(_epoch_slices(events, 4, 2_000)):
        replay_batch(mor, b, epoch_id=i, mode="mor", mor_compact_threshold=2)
    # every bucket's delta depth stays below the bound after each commit
    assert table_stats(mor)["max_delta_depth"] < 2
    pd.testing.assert_frame_equal(
        _state(mor),
        replay_oracle([b.toPandas() for b in _epoch_slices(events, 4, 2_000)]),
        check_dtype=False,
    )


def test_cow_merge_on_delta_buckets_compacts_first(spark, tmp_path):
    """Mode transition: a COW merge landing on delta-bearing buckets folds
    them first, and the combined replay still matches the oracle."""
    events = change_events(spark, 6_000, seed=23, delete_frac=0.15)
    slices = _epoch_slices(events, 3, 2_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, slices[0], epoch_id=0, mode="mor")
    replay_batch(t, slices[1], epoch_id=1, mode="mor")
    assert _delta_files(t) > 0
    replay_batch(t, slices[2], epoch_id=2)  # cow
    assert _delta_files(t) == 0
    pd.testing.assert_frame_equal(
        _state(t), replay_oracle([s.toPandas() for s in slices]), check_dtype=False
    )


def test_mor_epoch_fence_skips_duplicate(spark, tmp_path):
    events = change_events(spark, 1_000, seed=29)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    r1 = replay_batch(t, events, epoch_id=7, mode="mor")
    r2 = replay_batch(t, events, epoch_id=7, mode="mor")
    assert not r1.skipped and r2.skipped
    assert t.current_snapshot()["snapshot_id"] == r1.snapshot_id


def test_mor_schema_evolution(spark, tmp_path):
    """Add + rename + widen across MOR epochs: reconciliation happens
    after per-file-schema projection, so mixed-sv deltas still merge."""
    events = change_events(spark, 6_000, seed=31)
    slices = _epoch_slices(events, 3, 2_000)
    cow = create_repo_files_table(spark, tmp_path / "cow", num_buckets=4)
    mor = create_repo_files_table(spark, tmp_path / "mor", num_buckets=4)
    for i, v in enumerate((1, 2, 4)):  # base → +size_bytes:int → widen long
        b = with_evolution(slices[i], v)
        replay_batch(cow, b, epoch_id=i)
        replay_batch(mor, b, epoch_id=i, mode="mor")
    pd.testing.assert_frame_equal(_state(cow), _state(mor), check_dtype=False)
    assert "size_bytes" in _state(mor).columns


def test_mor_changelog_reports_upserts(spark, tmp_path):
    events = change_events(spark, 2_000, seed=37, delete_frac=0.2)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, events, epoch_id=0, mode="mor")
    ch = t.changes(0).groupBy("change_type").count().collect()
    kinds = {r["change_type"]: r["count"] for r in ch}
    assert set(kinds) <= {"upsert", "delete"} and kinds.get("upsert", 0) > 0
    # changelog row count == LWW winner count of the epoch
    assert sum(kinds.values()) == events.toPandas().groupby(["repo", "path"]).ngroups


def test_mor_time_travel(spark, tmp_path):
    events = change_events(spark, 4_000, seed=41)
    slices = _epoch_slices(events, 2, 2_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    r1 = replay_batch(t, slices[0], epoch_id=0, mode="mor")
    replay_batch(t, slices[1], epoch_id=1, mode="mor")
    pd.testing.assert_frame_equal(
        _state(t, snapshot_id=r1.snapshot_id),
        replay_oracle([slices[0].toPandas()]),
        check_dtype=False,
    )


def test_mor_commit_stats(spark, tmp_path):
    events = change_events(spark, 3_000, seed=43, delete_frac=0.2)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    res = replay_batch(t, events, epoch_id=0, mode="mor")
    pdf = events.toPandas()
    winners = pdf.sort_values("event_seq").groupby(["repo", "path"]).last()
    assert res.rows_in == 3_000
    assert res.rows_deleted == int((winners["op"] == "delete").sum())
    assert res.rows_upserted == int((winners["op"] != "delete").sum())
    assert res.decide_files_scanned == 0  # the whole point of the mode
    per_bucket = {b["bucket"]: b for b in res.bucket_stats}
    assert sum(b["rows_in"] for b in per_bucket.values()) == 3_000


def test_mor_rejects_unknown_mode(spark, tmp_path):
    events = change_events(spark, 100, seed=47)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    with pytest.raises(ValueError, match="unknown merge mode"):
        replay_batch(t, events, mode="bogus")


def test_mor_streaming_replay_with_compaction(spark, tmp_path):
    """Structured Streaming in MOR mode: per-micro-batch delta appends +
    periodic compaction folds, converging to the batch oracle."""
    import shutil
    import tempfile
    from pathlib import Path

    from rocket_etl_spark.streaming.replay import replay_stream

    events = change_events(spark, 6_000, seed=53, delete_frac=0.1)
    pdfs = []
    for i in range(4):
        b = events.filter(
            (events.event_seq >= i * 1_500) & (events.event_seq < (i + 1) * 1_500)
        )
        tmp = tempfile.mkdtemp()
        b.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/out")
        part = next(Path(f"{tmp}/out").glob("part-*.parquet"))
        (tmp_path / "events").mkdir(parents=True, exist_ok=True)
        shutil.move(str(part), str(tmp_path / "events" / f"batch-{i}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)
        pdfs.append(b.toPandas())
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    results = replay_stream(
        spark, t, tmp_path / "events", tmp_path / "ckpt",
        max_files_per_trigger=1, mode="mor", compact_every=2,
    )
    assert len(results) == 4 and all(not r.skipped for r in results)
    # compact_every=2 folded after epochs 2 and 4 -> no residual deltas
    assert table_stats(t)["delta_files"] == 0
    pd.testing.assert_frame_equal(
        _state(t), replay_oracle(pdfs), check_dtype=False
    )
