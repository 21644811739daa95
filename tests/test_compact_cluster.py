"""Compaction's one output shape: one file per rewritten bucket, with the
zone maps and blooms a MERGE commit carries attached, so the decide scan
can still prune the large base files (lake/maintenance.py)."""

from __future__ import annotations

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.lake.maintenance import compact
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def test_unsorted_compaction_unchanged_shape(spark, tmp_path):
    """Default compaction still packs one file per bucket (no regression),
    now with metadata attached."""
    events = change_events(spark, 4_000, seed=8)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    for i in range(2):
        replay_batch(
            t,
            events.filter(
                (events.event_seq >= i * 2_000) & (events.event_seq < (i + 1) * 2_000)
            ),
            epoch_id=i,
        )
    compact(t)
    snap = t.current_snapshot()
    for fl in snap["buckets"].values():
        assert len(fl) <= 1
        for fe in fl:
            assert "kr" in fe
