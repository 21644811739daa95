"""Writable branch refs (lake/branch.py): multi-epoch staging invisible
to main, atomic fast-forward publish, conflict detection, drop-with-GC,
fence survival across publish, expiry protection of live branches."""

from __future__ import annotations

import pandas as pd
import pytest

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.lake.branch import (
    BranchConflict,
    BranchError,
    branch_table,
    create_branch,
    drop_branch,
    list_branches,
    publish_branch,
    read_branch,
)
from rocket_etl_spark.lake.maintenance import compact, expire_snapshots
from rocket_etl_spark.oracle import replay_oracle
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def _state(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)


def _slices(events, n, per):
    return [
        events.filter(
            (events.event_seq >= i * per) & (events.event_seq < (i + 1) * per)
        )
        for i in range(n)
    ]


def test_branch_isolation_and_publish(spark, tmp_path):
    """A 3-epoch backfill on a branch: main sees nothing until publish,
    then exactly the replayed state; changelog reports the branch's
    changes at the publish snapshot."""
    events = change_events(spark, 6_000, seed=41, delete_frac=0.1)
    batches = _slices(events, 3, 2_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=8)
    replay_batch(t, batches[0], epoch_id=0)
    main_before = _state(t.read())
    tip_before = t.current_snapshot()["snapshot_id"]

    create_branch(t, "backfill")
    bt = branch_table(t, "backfill")
    replay_batch(bt, batches[1], epoch_id=1)
    replay_batch(bt, batches[2], epoch_id=2)

    # invisible to main; visible on the branch
    pd.testing.assert_frame_equal(main_before, _state(t.read()))
    assert t.current_snapshot()["snapshot_id"] == tip_before
    branch_state = _state(read_branch(t, "backfill"))
    assert len(branch_state) > len(main_before)
    info = list_branches(t)["backfill"]
    assert info["commits"] == 2 and info["fork_id"] == tip_before

    res = publish_branch(t, "backfill")
    assert res["published"] and res["branch_commits"] == 2
    pd.testing.assert_frame_equal(branch_state, _state(t.read()))
    pd.testing.assert_frame_equal(
        _state(t.read()),
        replay_oracle([b.toPandas() for b in batches]),
        check_dtype=False,
    )
    assert list_branches(t) == {}
    # changelog across the publish covers the branch epochs' net changes
    ch = t.changes(tip_before).toPandas()
    assert len(ch) > 0

    # duplicate creation now allowed again (name was released)
    create_branch(t, "backfill")
    drop_branch(t, "backfill")


def test_publish_conflict_when_main_advances(spark, tmp_path):
    events = change_events(spark, 3_000, seed=43)
    batches = _slices(events, 3, 1_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=8)
    replay_batch(t, batches[0], epoch_id=0)
    create_branch(t, "risky")
    replay_batch(branch_table(t, "risky"), batches[1], epoch_id=1)
    replay_batch(t, batches[2], epoch_id=2)  # main moves past the fork
    with pytest.raises(BranchConflict):
        publish_branch(t, "risky")
    drop_branch(t, "risky")


def test_drop_branch_removes_its_files_only(spark, tmp_path):
    events = change_events(spark, 3_000, seed=47)
    batches = _slices(events, 2, 1_500)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=8)
    replay_batch(t, batches[0], epoch_id=0)
    before = _state(t.read())
    create_branch(t, "scrap")
    replay_batch(branch_table(t, "scrap"), batches[1], epoch_id=1)
    res = drop_branch(t, "scrap")
    assert res["files_removed"] > 0
    pd.testing.assert_frame_equal(before, _state(t.read()))  # main intact
    with pytest.raises(BranchError):
        branch_table(t, "scrap")


def test_drop_branch_removes_midbranch_compaction_output(spark, tmp_path):
    """A compaction inside the branch records no ``added_files``; the drop
    still deletes its output, and nothing main references."""
    events = change_events(spark, 3_000, seed=47)
    batches = _slices(events, 3, 1_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=8)
    replay_batch(t, batches[0], epoch_id=0)
    before = _state(t.read())
    all_files = {str(p.relative_to(t.path)) for p in t.data_dir.rglob("*.parquet")}
    create_branch(t, "scrap")
    bt = branch_table(t, "scrap")
    replay_batch(bt, batches[1], epoch_id=1)
    replay_batch(bt, batches[2], epoch_id=2)
    assert compact(bt)["buckets_rewritten"] > 0
    drop_branch(t, "scrap")
    after = {str(p.relative_to(t.path)) for p in t.data_dir.rglob("*.parquet")}
    assert after == all_files  # every file the branch wrote is gone
    pd.testing.assert_frame_equal(before, _state(t.read()))


def test_fences_survive_publish(spark, tmp_path):
    """Epochs merged on the branch stay exactly-once after publish: a
    post-publish redelivery of a branch epoch is a fenced no-op."""
    events = change_events(spark, 2_000, seed=53)
    batches = _slices(events, 2, 1_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=8)
    replay_batch(t, batches[0], epoch_id=0)
    create_branch(t, "b")
    replay_batch(branch_table(t, "b"), batches[1], epoch_id=1)
    publish_branch(t, "b")
    assert replay_batch(t, batches[1], epoch_id=1).skipped
    pd.testing.assert_frame_equal(
        _state(t.read()),
        replay_oracle([b.toPandas() for b in batches]),
        check_dtype=False,
    )


def test_expire_protects_live_branch_files(spark, tmp_path):
    events = change_events(spark, 3_000, seed=59)
    batches = _slices(events, 3, 1_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=8)
    replay_batch(t, batches[0], epoch_id=0)
    create_branch(t, "live")
    replay_batch(branch_table(t, "live"), batches[1], epoch_id=1)
    want = _state(read_branch(t, "live"))
    replay_batch(t, batches[2], epoch_id=2)  # advance main so expiry bites
    expire_snapshots(t, keep_last=1, orphan_min_age_s=0.0)
    # the branch's own data files survived the orphan GC
    pd.testing.assert_frame_equal(want, _state(read_branch(t, "live")))
    drop_branch(t, "live")


def test_branch_supports_mor_and_spec_evolution(spark, tmp_path):
    """The branch view is a full LakeTable: merge-on-read epochs and a
    mid-branch bucket-spec evolution publish correctly."""
    from rocket_etl_spark.lake.maintenance import compact, evolve_buckets

    events = change_events(spark, 4_000, seed=61, delete_frac=0.1)
    batches = _slices(events, 2, 2_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, batches[0], epoch_id=0)
    create_branch(t, "evolve")
    bt = branch_table(t, "evolve")
    evolve_buckets(bt, 16)
    replay_batch(bt, batches[1], epoch_id=1, mode="mor")
    compact(bt, migrate_legacy=True)  # folds deltas + migrates, on-branch
    publish_branch(t, "evolve")
    snap = t.current_snapshot()
    assert snap["num_buckets"] == 16 and not snap.get("legacy")
    pd.testing.assert_frame_equal(
        _state(t.read()),
        replay_oracle([b.toPandas() for b in batches]),
        check_dtype=False,
    )


def test_branch_name_validation_and_missing(spark, tmp_path):
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    with pytest.raises(BranchError):
        create_branch(t, "bad name!")
    with pytest.raises(BranchError):
        branch_table(t, "ghost")
    create_branch(t, "dup")
    with pytest.raises(BranchError):
        create_branch(t, "dup")
    with pytest.raises(BranchError):
        publish_branch(t, "dup")  # no commits
    drop_branch(t, "dup")


def test_audit_branch_gates_publish(spark, tmp_path):
    """The WAP-style audit over a branch: a poisoned backfill is caught
    on the branch (main untouched), dropped, and a clean re-branch
    passes + publishes."""
    import pyspark.sql.functions as F

    from rocket_etl_spark.lake.branch import audit_branch
    from rocket_etl_spark.plans.validate import matches

    events = change_events(spark, 2_000, seed=71)
    batches = _slices(events, 2, 1_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, batches[0], epoch_id=0)
    rules = [matches("lang", "^[a-z0-9+#-]{1,12}$", name="lang_shape")]

    create_branch(t, "bf")
    poisoned = batches[1].withColumn("lang", F.lit("??POISON??"))
    replay_batch(branch_table(t, "bf"), poisoned, epoch_id=1)
    verdict = audit_branch(t, "bf", rules)
    assert not verdict["ok"] and "lang_shape" in verdict["by_rule"]
    drop_branch(t, "bf")

    create_branch(t, "bf")
    replay_batch(branch_table(t, "bf"), batches[1], epoch_id=1)
    assert audit_branch(t, "bf", rules)["ok"]
    publish_branch(t, "bf")
    pd.testing.assert_frame_equal(
        _state(t.read()),
        replay_oracle([b.toPandas() for b in batches]),
        check_dtype=False,
    )


def test_changelog_survives_midbranch_compaction_and_expiry(spark, tmp_path):
    """A mid-branch compaction supersedes earlier branch commits' files
    in the head's buckets, but the publish's combined added_files still
    references them for changelog attribution — expiry must not GC them
    while the published snapshot is retained."""
    from rocket_etl_spark.lake.maintenance import compact

    events = change_events(spark, 3_000, seed=73, delete_frac=0.1)
    batches = _slices(events, 3, 1_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, batches[0], epoch_id=0)
    fork = t.current_snapshot()["snapshot_id"]
    create_branch(t, "bf")
    bt = branch_table(t, "bf")
    replay_batch(bt, batches[1], epoch_id=1)
    compact(bt, min_files=1)  # supersede epoch 1's files on the branch
    replay_batch(bt, batches[2], epoch_id=2)
    publish_branch(t, "bf")
    expire_snapshots(t, keep_last=1, orphan_min_age_s=0.0)
    ch = t.changes(fork).toPandas()  # must not hit a deleted parquet
    assert len(ch) > 0
    assert set(ch["change_type"]) <= {"insert", "update", "delete", "upsert"}


def test_drop_after_crashed_publish_never_deletes_live_files(spark, tmp_path):
    """Crash window: publish CAS succeeded, process died before cleaning
    the branch markers.  A later drop_branch must clean markers ONLY —
    the branch's files are now live main data."""
    events = change_events(spark, 2_000, seed=83)
    batches = _slices(events, 2, 1_000)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, batches[0], epoch_id=0)
    create_branch(t, "pub")
    replay_batch(branch_table(t, "pub"), batches[1], epoch_id=1)
    # simulate the crash: publish, then RESTORE the markers as if the
    # process died before unlinking them
    import json as _json

    chain = list(t.snap_dir.glob("branch-pub-*.json"))
    saved = [(p.name, p.read_text()) for p in chain] + [
        (f"branchref-pub.json", (t.snap_dir / "branchref-pub.json").read_text())
    ]
    publish_branch(t, "pub")
    for name, text in saved:
        (t.snap_dir / name).write_text(text)
    want = _state(t.read())
    res = drop_branch(t, "pub")
    assert res["dropped"] is False and res["files_removed"] == 0
    assert "published" in res["reason"]
    pd.testing.assert_frame_equal(want, _state(t.read()))  # nothing lost
    assert not list(t.snap_dir.glob("branch*pub*"))  # markers cleaned
