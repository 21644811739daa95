"""Bucket-spec evolution: metadata-only bucket-count change
(``maintenance.evolve_buckets``), the move a 100 TB table needs because a
full ``rebucket`` rewrite is off the table at that size.

The contract under test (Iceberg partition-spec evolution semantics):

* the evolve commit writes NO data files — pure metadata;
* reads/merges/lookups over the mixed current+legacy layout are
  byte-identical to a never-evolved replay of the same events;
* a copy-on-write MERGE gradually MIGRATES matched legacy files into the
  current layout; ``compact(migrate_legacy=True)`` finishes in bulk;
* merge-on-read deltas land under the current spec and reconcile against
  legacy base rows; the compaction fold migrates exactly the legacy
  buckets the delta keys hash to;
* fencing, expiry, lookup pruning, and metadata tables stay correct.
"""

from __future__ import annotations

import pandas as pd
import pytest

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.lake.lookup import filtered_read, lookup
from rocket_etl_spark.lake.maintenance import (
    compact,
    evolve_buckets,
    expire_snapshots,
    table_stats,
)
from rocket_etl_spark.lake.merge import merge_batch
from rocket_etl_spark.oracle import replay_oracle
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def _state(table, **kw) -> pd.DataFrame:
    pdf = table.read(**kw).toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)


def _epoch_slices(events, n_epochs: int, per: int):
    return [
        events.filter(
            (events.event_seq >= i * per) & (events.event_seq < (i + 1) * per)
        )
        for i in range(n_epochs)
    ]


def _legacy_files(table) -> int:
    snap = table.current_snapshot()
    return sum(
        len(fl)
        for layout in (snap.get("legacy") or [])
        for fl in layout["buckets"].values()
    )


def _data_files(table) -> set[str]:
    return {
        str(p.relative_to(table.path))
        for p in (table.path / "data").rglob("*.parquet")
    }


def test_evolve_is_metadata_only_and_preserves_state(spark, tmp_path):
    events = change_events(spark, 3_000, seed=5)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, events, epoch_id=0)
    before = _state(t)
    files_before = _data_files(t)

    res = evolve_buckets(t, 16)
    assert res["evolved"] and res["num_buckets"] == 16
    assert _data_files(t) == files_before  # not one byte of data moved
    snap = t.current_snapshot()
    assert snap["num_buckets"] == 16 and snap["spec_id"] == 1
    assert snap["buckets"] == {}  # fresh layout starts empty
    assert [l["num_buckets"] for l in snap["legacy"]] == [4]
    pd.testing.assert_frame_equal(before, _state(t), check_dtype=False)

    # no-op evolve to the same width
    assert evolve_buckets(t, 16) == {
        "snapshot_id": snap["snapshot_id"],
        "evolved": False,
    }


@pytest.mark.parametrize("delete_frac", [0.0, 0.3])
def test_merge_after_evolve_matches_unevolved_replay(spark, tmp_path, delete_frac):
    """Same epochs, one table evolving 4→16 midway, one staying at 4:
    identical final state, and the evolved table visibly MIGRATES the
    legacy files its winners touch."""
    events = change_events(spark, 6_000, seed=7, delete_frac=delete_frac)
    batches = _epoch_slices(events, 3, 2_000)
    ev = create_repo_files_table(spark, tmp_path / "ev", num_buckets=4)
    ref = create_repo_files_table(spark, tmp_path / "ref", num_buckets=4)

    replay_batch(ev, batches[0], epoch_id=0)
    evolve_buckets(ev, 16)
    leg0 = _legacy_files(ev)
    assert leg0 > 0
    replay_batch(ev, batches[1], epoch_id=1)
    # epoch 1 updates keys from epoch 0 → their legacy files migrated out
    assert _legacy_files(ev) < leg0
    replay_batch(ev, batches[2], epoch_id=2)

    for i, b in enumerate(batches):
        replay_batch(ref, b, epoch_id=i)

    pd.testing.assert_frame_equal(_state(ref), _state(ev), check_dtype=False)
    pd.testing.assert_frame_equal(
        _state(ev),
        replay_oracle([b.toPandas() for b in batches]),
        check_dtype=False,
    )


def test_exactly_once_fence_survives_evolution(spark, tmp_path):
    events = change_events(spark, 2_000, seed=9)
    batches = _epoch_slices(events, 2, 1_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, batches[0], epoch_id=0)
    evolve_buckets(t, 8)
    redo = replay_batch(t, batches[0], epoch_id=0)  # duplicate delivery
    assert redo.skipped
    res = replay_batch(t, batches[1], epoch_id=1)
    assert not res.skipped
    pd.testing.assert_frame_equal(
        _state(t),
        replay_oracle([b.toPandas() for b in batches]),
        check_dtype=False,
    )


def test_lookup_and_filtered_read_probe_legacy_layouts(spark, tmp_path):
    events = change_events(spark, 3_000, seed=13, delete_frac=0.0)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, events, epoch_id=0)
    full = _state(t)
    evolve_buckets(t, 16)
    # touch a few keys so both layouts hold data
    upd = events.limit(200).withColumn("event_seq", events.event_seq + 10_000)
    replay_batch(t, upd, epoch_id=1)

    some = [tuple(r) for r in full[["repo", "path"]].head(5).itertuples(index=False)]
    got, stats = lookup(t, some, return_stats=True)
    assert sorted(map(tuple, got.select("repo", "path").collect())) == sorted(some)
    assert stats["files_scanned"] <= stats["files_total"]

    lo, hi = full["repo"].min(), full["repo"].min()
    rs = filtered_read(t, f"repo >= '{lo}' AND repo <= '{hi}'")
    expect = full[(full["repo"] >= lo) & (full["repo"] <= hi)]
    assert rs.count() == len(expect)


def test_compact_migrate_legacy_finishes_the_move(spark, tmp_path):
    events = change_events(spark, 3_000, seed=17)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, events, epoch_id=0)
    before = _state(t)
    evolve_buckets(t, 16)
    assert _legacy_files(t) > 0
    res = compact(t, migrate_legacy=True)
    assert res["legacy_buckets_migrated"] > 0
    snap = t.current_snapshot()
    assert not snap.get("legacy")  # fully migrated — the section is gone
    assert table_stats(t)["legacy_files"] == 0
    pd.testing.assert_frame_equal(before, _state(t), check_dtype=False)


def test_mor_deltas_reconcile_against_legacy_and_fold_migrates(spark, tmp_path):
    events = change_events(spark, 4_000, seed=19, delete_frac=0.2)
    batches = _epoch_slices(events, 2, 2_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    ref = create_repo_files_table(spark, tmp_path / "ref", num_buckets=4)
    replay_batch(t, batches[0], epoch_id=0)
    evolve_buckets(t, 16)
    replay_batch(t, batches[1], epoch_id=1, mode="mor")
    for i, b in enumerate(batches):
        replay_batch(ref, b, epoch_id=i)
    # read-side reconciliation across specs: delta (current) vs base (legacy)
    pd.testing.assert_frame_equal(_state(ref), _state(t), check_dtype=False)

    # fold the deltas: the intersecting legacy buckets must migrate with
    # them, or folded keys would go live under two specs at once
    snap = t.current_snapshot()
    deep = [
        int(b)
        for b, fl in snap["buckets"].items()
        if any(fe.get("kind") == "delta" for fe in fl)
    ]
    assert deep
    res = compact(t, buckets=deep)
    assert res["legacy_buckets_migrated"] > 0
    after = t.current_snapshot()
    assert not any(
        fe.get("kind") == "delta"
        for fl in after["buckets"].values()
        for fe in fl
    )
    pd.testing.assert_frame_equal(_state(ref), _state(t), check_dtype=False)
    # no key may live under two layouts: pandas-level duplicate check
    pdf = t.read().toPandas()
    assert not pdf.duplicated(subset=["repo", "path"]).any()


def test_evolve_refuses_over_mor_deltas(spark, tmp_path):
    events = change_events(spark, 1_000, seed=23)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, events, epoch_id=0, mode="mor")
    with pytest.raises(ValueError, match="compact"):
        evolve_buckets(t, 8)
    compact(t, buckets=list(range(4)))
    assert evolve_buckets(t, 8)["evolved"]


def test_smj_merge_path_migrates_touched_legacy_buckets(spark, tmp_path, monkeypatch):
    import rocket_etl_spark.lake.merge as merge_mod

    monkeypatch.setattr(merge_mod, "SLIM_DEDUPE_MAX_KEYS", 0)  # force SMJ
    events = change_events(spark, 3_000, seed=29, delete_frac=0.1)
    batches = _epoch_slices(events, 2, 1_500)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    ref = create_repo_files_table(spark, tmp_path / "ref", num_buckets=4)
    replay_batch(t, batches[0], epoch_id=0)
    evolve_buckets(t, 16)
    replay_batch(t, batches[1], epoch_id=1)
    for i, b in enumerate(batches):
        replay_batch(ref, b, epoch_id=i)
    pd.testing.assert_frame_equal(_state(ref), _state(t), check_dtype=False)
    # SMJ rewrites whole touched buckets → those legacy buckets emptied
    snap = t.current_snapshot()
    touched_legacy = {
        b
        for layout in (snap.get("legacy") or [])
        for b, fl in layout["buckets"].items()
        if fl
    }
    # epoch 1's keys overlap heavily with epoch 0's (same generator) —
    # at least one legacy bucket must have been migrated away
    assert len(touched_legacy) < 4


def test_expire_snapshots_never_drops_legacy_files(spark, tmp_path):
    events = change_events(spark, 2_000, seed=31)
    batches = _epoch_slices(events, 2, 1_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, batches[0], epoch_id=0)
    evolve_buckets(t, 16)
    replay_batch(t, batches[1], epoch_id=1)
    expect = _state(t)
    expire_snapshots(t, keep_last=1, orphan_min_age_s=0.0)
    pd.testing.assert_frame_equal(expect, _state(t), check_dtype=False)


def test_metadata_tables_surface_specs(spark, tmp_path):
    from rocket_etl_spark.lake.metadata import files, snapshots

    events = change_events(spark, 2_000, seed=37)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    # several small commits → several files per legacy bucket, so the
    # tiny epoch-1 update below migrates SOME legacy files, not all
    for i, b in enumerate(_epoch_slices(events, 4, 500)):
        replay_batch(t, b, epoch_id=i)
    evolve_buckets(t, 16)
    upd = events.limit(3).withColumn("event_seq", events.event_seq + 10_000)
    replay_batch(t, upd, epoch_id=4)

    f = files(t).toPandas()
    assert set(f["spec_id"].unique()) == {0, 1}
    assert set(f[f["spec_id"] == 0]["spec_num_buckets"]) == {4}
    assert set(f[f["spec_id"] == 1]["spec_num_buckets"]) == {16}
    ops = {
        r["snapshot_id"]: r["operation"]
        for r in snapshots(t).collect()
    }
    assert "evolve-spec" in ops.values()
    st = table_stats(t)
    assert st["legacy_layouts"] == 1 and st["legacy_files"] > 0
    assert st["spec_id"] == 1


def test_migrated_keeps_write_one_file_per_target_bucket(spark, tmp_path):
    """Legacy-file migration routes keep-rows through a bucket-hash
    exchange: one output file per TARGET bucket, not one per (scan task,
    target bucket) pair — the difference between O(buckets) and
    O(tasks x buckets) files per epoch on a wide migration."""
    events = change_events(spark, 4_000, seed=67, delete_frac=0.0)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    # several commits -> many legacy files -> many scan tasks at migration
    for i, b in enumerate(_epoch_slices(events, 4, 1_000)):
        replay_batch(t, b, epoch_id=i)
    evolve_buckets(t, 16)
    assert _legacy_files(t) >= 8
    # update EVERY key: all legacy files match and migrate in one epoch
    upd = events.withColumn("event_seq", events.event_seq + 100_000)
    replay_batch(t, upd, epoch_id=4)
    snap = t.current_snapshot()
    assert not snap.get("legacy")  # everything migrated
    for b, fl in snap["buckets"].items():
        # 1 changed-rows file + at most 1 migrated-keeps file per bucket
        assert len(fl) <= 2, (b, [fe["path"] for fe in fl])


def test_concurrent_evolution_forces_merge_recompute(spark, tmp_path):
    """A merge whose basis snapshot was superseded by a bucket-spec
    evolution must RECOMPUTE (its output files route by the retired
    spec), never rebase — for both write modes.  Simulated exactly as
    the CAS-loss path sees it: `_merge_once` invoked against the stale
    pre-evolution snapshot."""
    from rocket_etl_spark.lake.merge import _merge_once
    from rocket_etl_spark.streaming.replay import prepare_events, sha256_derived

    events = change_events(spark, 2_000, seed=97, delete_frac=0.1)
    batches = _epoch_slices(events, 2, 1_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, batches[0], epoch_id=0)
    stale = t.current_snapshot()  # basis BEFORE the concurrent evolution
    evolve_buckets(t, 16)

    prepared = prepare_events(batches[1], defer_hash=True)
    for mode in ("cow", "mor"):
        res = _merge_once(
            t, prepared, stale, 1, None, "default",
            derived_cols=sha256_derived(), mode=mode,
        )
        assert res is None, mode  # spec changed -> recompute, not rebase
    # the normal retry loop lands the epoch correctly under the new spec
    res2 = replay_batch(t, batches[1], epoch_id=1)
    assert not res2.skipped
    pd.testing.assert_frame_equal(
        _state(t),
        replay_oracle([b.toPandas() for b in batches]),
        check_dtype=False,
    )


def test_double_evolution_with_repeated_width(spark, tmp_path):
    """Two evolutions, the second returning to the ORIGINAL width: two
    retired layouts coexist, one sharing num_buckets with the current
    spec — spec_id (not width) must key the legacy bookkeeping.  Reads,
    merges, lookups, and bulk migration stay exact across all three
    eras."""
    events = change_events(spark, 6_000, seed=101, delete_frac=0.1)
    batches = _epoch_slices(events, 3, 2_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    ref = create_repo_files_table(spark, tmp_path / "ref", num_buckets=4)

    replay_batch(t, batches[0], epoch_id=0)
    evolve_buckets(t, 16)
    replay_batch(t, batches[1], epoch_id=1)
    evolve_buckets(t, 4)  # back to the original width
    replay_batch(t, batches[2], epoch_id=2)
    for i, b in enumerate(batches):
        replay_batch(ref, b, epoch_id=i)

    snap = t.current_snapshot()
    assert snap["num_buckets"] == 4 and snap["spec_id"] == 2
    assert len({l["spec_id"] for l in snap.get("legacy", [])}) == len(
        snap.get("legacy", [])
    )
    pd.testing.assert_frame_equal(_state(ref), _state(t), check_dtype=False)

    # a key from the FIRST era must be findable through all layouts
    some = [tuple(r) for r in ref.read().select("repo", "path").limit(3).collect()]
    got, stats = lookup(t, some, return_stats=True)
    assert got.count() == len(some)
    assert stats["files_scanned"] <= stats["files_total"]

    compact(t, migrate_legacy=True)
    assert not t.current_snapshot().get("legacy")
    pd.testing.assert_frame_equal(_state(ref), _state(t), check_dtype=False)
