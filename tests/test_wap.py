"""Write-audit-publish (lake/wap.py): staged commits are invisible until
published, auditable via validation rules, abortable without a trace,
CAS-protected against concurrent commits, and exactly-once under the
epoch fence."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.lake.maintenance import expire_snapshots
from rocket_etl_spark.lake.wap import (
    PublishConflict,
    StageError,
    abort_staged,
    audit_staged,
    list_staged,
    publish_staged,
    read_staged,
)
from rocket_etl_spark.plans.validate import check, matches
from rocket_etl_spark.streaming.replay import (
    create_repo_files_table,
    replay_batch,
    stage_replay,
)


def _state(table) -> pd.DataFrame:
    pdf = table.read().toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)


def _events(spark, n, seed=7, **kw):
    return change_events(spark, n, seed=seed, **kw)


def _unreferenced(table) -> set[str]:
    """Data files that no main-chain snapshot and no branch references."""
    refs, _ = table._referenced(
        table._snapshot_files() + list(table.snap_dir.glob("branch-*.json"))
    )
    return {str(p.relative_to(table.path)) for p in table.data_dir.rglob("*.parquet")} - refs


def test_stage_invisible_then_publish_equals_direct_merge(spark, tmp_path):
    ev0 = _events(spark, 3_000)
    ev1 = _events(spark, 1_000, seed=8)

    # reference: both epochs merged directly
    direct = create_repo_files_table(spark, tmp_path / "direct", num_buckets=4)
    replay_batch(direct, ev0, epoch_id=0)
    replay_batch(direct, ev1, epoch_id=1)

    t = create_repo_files_table(spark, tmp_path / "wap", num_buckets=4)
    replay_batch(t, ev0, epoch_id=0)
    before = _state(t)
    tip_before = t.current_snapshot()["snapshot_id"]

    st = stage_replay(t, ev1, epoch_id=1)
    # invisible: same tip, same readable state, fence not yet advanced
    assert t.current_snapshot()["snapshot_id"] == tip_before
    pd.testing.assert_frame_equal(_state(t), before)
    assert not t.is_epoch_committed(1)
    assert list_staged(t) == [st.tag]

    # the staged read IS the post-publish state
    staged_view = (
        read_staged(t, st).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    out = publish_staged(t, st)
    assert out["published"] and out["snapshot_id"] == tip_before + 1
    assert t.is_epoch_committed(1)
    assert list_staged(t) == []
    after = _state(t)
    pd.testing.assert_frame_equal(after, staged_view)
    pd.testing.assert_frame_equal(after, _state(direct))

    # changelog attributes the published epoch's rows normally
    ch = t.changes(tip_before).groupBy("change_type").count().collect()
    assert sum(r["count"] for r in ch) > 0


def test_audit_catches_poison_and_abort_leaves_no_trace(spark, tmp_path):
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, _events(spark, 2_000), epoch_id=0)
    before = _state(t)
    snap_before = t.current_snapshot()
    files_before = {
        fe["path"] for fl in snap_before["buckets"].values() for fe in fl
    }

    # poison: events whose lang normalizes to an unexpected value
    # (normalization lowercases unknown labels but keeps their shape,
    # so the '?' characters reliably fail the lang_shape regex)
    bad = _events(spark, 500, seed=9).withColumn("lang", F.lit("??POISON??"))
    st = stage_replay(t, bad, epoch_id=1)
    audit = audit_staged(
        t, st, [matches("lang", "^[a-z0-9+#-]{1,12}$", name="lang_shape")]
    )
    assert not audit["ok"] and audit["by_rule"].get("lang_shape", 0) > 0

    res = abort_staged(t, st)
    assert res["aborted"] and res["files_removed"] > 0
    # no trace: tip unchanged, state unchanged, no staged marker, and the
    # parent's files were untouched by the abort
    assert t.current_snapshot()["snapshot_id"] == snap_before["snapshot_id"]
    pd.testing.assert_frame_equal(_state(t), before)
    assert list_staged(t) == []
    now = {
        fe["path"]
        for fl in t.current_snapshot()["buckets"].values()
        for fe in fl
    }
    assert now == files_before
    for p in files_before:
        assert (t.path / p).exists()

    # epoch 1 is retriable after the abort
    ok = replay_batch(t, _events(spark, 500, seed=10), epoch_id=1)
    assert not ok.skipped and t.is_epoch_committed(1)


def test_audit_passes_clean_batch(spark, tmp_path):
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, _events(spark, 2_000), epoch_id=0)
    st = stage_replay(t, _events(spark, 500, seed=9), epoch_id=1)
    audit = audit_staged(
        t, st,
        [
            matches("content_sha256", "^[0-9a-f]{64}$", name="sha_shape"),
            check("seq_nonneg", "last_event_seq >= 0"),
        ],
    )
    assert audit == {"ok": True, "violations": 0, "by_rule": {}}
    assert publish_staged(t, st)["published"]


def test_publish_conflict_on_intervening_commit(spark, tmp_path):
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, _events(spark, 2_000), epoch_id=0)
    st = stage_replay(t, _events(spark, 500, seed=9), epoch_id=1)
    # a direct commit lands while the audit window is open
    replay_batch(t, _events(spark, 500, seed=10), epoch_id=2)
    with pytest.raises(PublishConflict):
        publish_staged(t, st)
    # recovery: abort the stale stage, re-stage from the live tip
    abort_staged(t, st)
    st2 = stage_replay(t, _events(spark, 500, seed=9), epoch_id=1)
    assert publish_staged(t, st2)["published"]
    assert t.is_epoch_committed(1) and t.is_epoch_committed(2)


def test_staged_epoch_fence_exactly_once(spark, tmp_path):
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, _events(spark, 1_000), epoch_id=0)
    st = stage_replay(t, _events(spark, 500, seed=9), epoch_id=1)
    assert publish_staged(t, st)["published"]
    state = _state(t)
    # re-staging the committed epoch is a fence no-op end to end
    st2 = stage_replay(t, _events(spark, 500, seed=9), epoch_id=1)
    assert st2.result.skipped
    assert publish_staged(t, st2) == {
        "published": False, "reason": "epoch already committed",
    }
    # auditing a fence-skipped stage is a clean no-op (nothing was staged)
    assert audit_staged(
        t, st2, [matches("lang", "^[a-z0-9+#-]{1,12}$", name="lang_shape")]
    ) == {"ok": True, "violations": 0, "by_rule": {}}
    assert abort_staged(t, st2)["aborted"] is False
    pd.testing.assert_frame_equal(_state(t), state)


def test_cow_stage_over_mor_deltas_stays_invisible_until_publish(spark, tmp_path):
    from rocket_etl_spark.lake.branch import branch_table, create_branch
    from rocket_etl_spark.lake.planner import delta_files

    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, _events(spark, 1_000), epoch_id=0)
    replay_batch(t, _events(spark, 300, seed=9), epoch_id=1, mode="mor")
    tip = t.current_snapshot()
    before = _state(t)
    # the COW stage folds the deltas inside its branch: main sees nothing
    st = stage_replay(t, _events(spark, 300, seed=10), epoch_id=2)
    assert t.current_snapshot()["snapshot_id"] == tip["snapshot_id"]
    assert delta_files(t.current_snapshot()) == delta_files(tip)
    pd.testing.assert_frame_equal(_state(t), before)
    assert not t.is_epoch_committed(2)
    out = publish_staged(t, st)
    assert out == {"published": True, "snapshot_id": tip["snapshot_id"] + 1}
    assert not delta_files(t.current_snapshot())
    # a MOR stage publishes too
    st = stage_replay(t, _events(spark, 300, seed=11), epoch_id=3, mode="mor")
    assert publish_staged(t, st)["published"]

    direct = create_repo_files_table(spark, tmp_path / "d", num_buckets=4)
    for ep, seed, n in [(0, 7, 1_000), (1, 9, 300), (2, 10, 300), (3, 11, 300)]:
        replay_batch(direct, _events(spark, n, seed=seed), epoch_id=ep)
    pd.testing.assert_frame_equal(_state(t), _state(direct))

    # branches do not nest: a stage onto a branch table is refused
    create_branch(t, "bf")
    with pytest.raises(StageError):
        stage_replay(branch_table(t, "bf"), _events(spark, 300, seed=12), epoch_id=4)
    assert list_staged(t) == []


def test_abort_cow_stage_over_mor_deltas_removes_the_fold(spark, tmp_path):
    """The pre-merge delta fold of a COW stage commits a compaction into
    the stage's branch; that compaction records no ``added_files``, and
    an abort must still delete its output."""
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, _events(spark, 1_000), epoch_id=0)
    replay_batch(t, _events(spark, 300, seed=9), epoch_id=1, mode="mor")
    before, state = _unreferenced(t), _state(t)
    st = stage_replay(t, _events(spark, 300, seed=10), epoch_id=2)
    res = abort_staged(t, st)
    assert res["aborted"] and res["files_removed"] > 0
    assert _unreferenced(t) == before
    pd.testing.assert_frame_equal(_state(t), state)


def test_failed_stage_strands_no_marker(spark, tmp_path):
    from rocket_etl_spark.lake.wap import stage_merge
    from rocket_etl_spark.streaming.replay import prepare_events

    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, _events(spark, 1_000), epoch_id=0)
    batch = prepare_events(_events(spark, 500, seed=9))
    with pytest.raises(Exception):
        stage_merge(t, batch, epoch_id=1,
                    derived_cols={"bad": "no_such_function(repo)"})
    # the failed stage left no audit-window marker behind
    assert list_staged(t) == []
    assert not list(t.snap_dir.glob("branchref-wap-*"))
    # and the epoch is still stageable
    st = stage_replay(t, _events(spark, 500, seed=9), epoch_id=1)
    assert publish_staged(t, st)["published"]


def test_abort_after_publish_crash_window_keeps_live_files(spark, tmp_path):
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, _events(spark, 1_000), epoch_id=0)
    st = stage_replay(t, _events(spark, 500, seed=9), epoch_id=1)
    # the stage's branch markers: its ref and its one chain commit
    markers = {
        p: p.read_bytes() for p in t.snap_dir.glob(f"branch*-{st.branch}*.json")
    }
    assert len(markers) == 2
    assert publish_staged(t, st)["published"]
    # simulate the crash ordering: publish CAS landed, marker unlinks did
    # not — a recovery process later calls abort on the stale handle
    for p, data in markers.items():
        p.write_bytes(data)
    state = _state(t)
    res = abort_staged(t, st)
    assert res["aborted"] is False and res["files_removed"] == 0
    assert res.get("reason") == "stage was already published"
    assert list_staged(t) == []
    # the published files are all still live and readable
    pd.testing.assert_frame_equal(_state(t), state)


def test_expire_protects_live_staged_files(spark, tmp_path):
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, _events(spark, 1_000), epoch_id=0)
    st = stage_replay(t, _events(spark, 500, seed=9), epoch_id=1)
    # aggressive GC during the audit window: age guard disabled on purpose
    expire_snapshots(t, keep_last=1, orphan_min_age_s=0.0)
    # the staged commit still publishes and reads cleanly
    assert publish_staged(t, st)["published"]
    assert t.read().count() > 0
    t.read().collect()  # every referenced file is really on disk
