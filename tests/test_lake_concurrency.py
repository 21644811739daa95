"""Lake-layer concurrency + fence semantics.

Covers the round-2 correctness rework:

* bounded per-app epoch fences (hwm + out-of-order window, never history)
* app-scoped fencing (Delta txnAppId/txnVersion pattern)
* CAS-loss rebase (disjoint buckets: no lost update) and recompute
  (overlapping buckets: merged against latest, still LWW-correct), for
  copy-on-write and merge-on-read merges and appends; a loser whose own
  epoch the interloper committed is skipped
* the maintenance writers' bounded CAS retry
* explicit per-snapshot ``added_files`` changelog attribution under retry
* tombstone purge guarded by a redelivery low-watermark (no resurrection)
* expire_snapshots orphan age-guard (in-flight pre-CAS files survive)
* true-append insert mode (duplicate keys accumulate)
"""

from __future__ import annotations

import json

import pandas as pd
import pyspark.sql.functions as F
import pytest

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.lake.maintenance import (
    compact,
    evolve_buckets,
    expire_snapshots,
    rollback,
)
from rocket_etl_spark.lake.merge import append_batch, merge_batch
from rocket_etl_spark.lake.table import bucket_of, fence_add
from rocket_etl_spark.operators.lww import lww_dedupe
from rocket_etl_spark.oracle import replay_oracle
from rocket_etl_spark.streaming.replay import (
    create_repo_files_table,
    prepare_events,
    replay_batch,
)


# ------------------------------------------------------------------ fences
def test_fence_add_is_exact_and_bounded():
    fences: dict = {}
    # streaming case: contiguous epochs -> sparse set stays EMPTY
    for e in range(10_000):
        fences = fence_add(fences, "app", e)
    f = fences["app"]
    assert f == {"hwm": 9_999, "above": []}
    # out-of-order commits: 'above' holds only the gap window
    fences = fence_add(fences, "app", 10_002)
    assert fences["app"] == {"hwm": 9_999, "above": [10_002]}
    fences = fence_add(fences, "app", 10_001)
    assert fences["app"] == {"hwm": 9_999, "above": [10_001, 10_002]}
    fences = fence_add(fences, "app", 10_000)  # gap closes, hwm catches up
    assert fences["app"] == {"hwm": 10_002, "above": []}
    # apps are independent
    fences = fence_add(fences, "other", 0)
    assert fences["other"] == {"hwm": 0, "above": []}
    assert fences["app"]["hwm"] == 10_002


def test_snapshot_fence_stays_o1_over_many_epochs(spark, tmp_path):
    """Snapshot JSON must not grow with epoch history (round-1 finding:
    the cumulative committed_epochs array made commit cost O(history))."""
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    ev = change_events(spark, 300, seed=7).cache()
    sizes = []
    for ep in range(12):
        replay_batch(table, ev.filter(ev.event_seq % 12 == ep), epoch_id=ep)
        snap_file = table._snapshot_files()[-1]
        sizes.append(len(json.dumps(json.load(open(snap_file))["fences"])))
    ev.unpersist()
    # fence payload is constant-size once hwm advances — not growing per
    # epoch (only the hwm integer's digit count may differ)
    assert max(sizes) - min(sizes) <= 4
    assert table.current_snapshot()["fences"]["default"] == {"hwm": 11, "above": []}
    # every snapshot of the chain, the empty one ``create`` writes too,
    # carries the fields the fence, changelog and time-travel reads use
    for p in table._snapshot_files():
        raw = json.load(open(p))
        assert {"fences", "added_files", "committed_at_ms"} <= set(raw), p.name
    # replays of any old epoch are skipped without a chain scan
    assert replay_batch(table, ev.limit(10), epoch_id=3).skipped
    assert table.committed_epochs() == set(range(12))


def test_fence_is_app_scoped(spark, tmp_path):
    """A second application's epoch 0 must NOT be fenced by the first's."""
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    ev = change_events(spark, 400, seed=11).cache()
    b0, b1 = ev.filter(ev.event_seq < 200), ev.filter(ev.event_seq >= 200)
    r_a = replay_batch(table, b0, epoch_id=0, app_id="stream-A")
    assert not r_a.skipped
    # different app, same epoch number: applies (LWW makes it convergent)
    r_b = replay_batch(table, b1, epoch_id=0, app_id="stream-B")
    assert not r_b.skipped
    # same app, same epoch: fenced
    assert replay_batch(table, b0, epoch_id=0, app_id="stream-A").skipped
    assert replay_batch(table, b1, epoch_id=0, app_id="stream-B").skipped
    ev.unpersist()
    eng = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    ora = replay_oracle([b0.toPandas(), b1.toPandas()])
    pd.testing.assert_frame_equal(eng[ora.columns], ora, check_dtype=False)


# -------------------------------------------------------- CAS loss handling
def _split_by_bucket(spark, ev, keys, nb):
    """Split events into (bucket-0 rows, bucket-1 rows) for a 2-bucket table."""
    tagged = ev.withColumn("_b", bucket_of(keys, nb))
    return tagged.filter("_b = 0").drop("_b"), tagged.filter("_b = 1").drop("_b")


def _with_cas_interloper(table, interloper):
    """Make ``table``'s next snapshot CAS lose once: before the first CAS
    attempt, ``interloper()`` commits (winning the id), then the original
    CAS runs and fails — exercising the rebase/recompute path exactly as
    a concurrent writer would."""
    orig = table._try_write_snapshot
    state = {"fired": False}

    def hooked(snap):
        if not state["fired"]:
            state["fired"] = True
            interloper()  # publishes base+1 first; our CAS then loses
        return orig(snap)

    table._try_write_snapshot = hooked
    return state


def _commit(table, events, epoch_id, app_id, mode):
    """Commit ``events`` as one epoch: a merge in ``mode``, or, for
    ``"append"``, a true append of their per-key LWW winners (the
    events carry no deletes there, so the table still equals the
    oracle)."""
    if mode == "append":
        rows = lww_dedupe(prepare_events(events), order_col="last_event_seq").drop("op")
        return append_batch(table, rows, epoch_id=epoch_id, app_id=app_id)
    return replay_batch(table, events, epoch_id=epoch_id, app_id=app_id, mode=mode)


def _assert_oracle(table, events):
    eng = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    ora = replay_oracle([events.toPandas()])
    pd.testing.assert_frame_equal(eng[ora.columns], ora, check_dtype=False)


def _disjoint_buckets_rebase(spark, tmp_path, mode):
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    delete_frac = 0.0 if mode == "append" else 0.1
    ev = change_events(spark, 600, seed=31, delete_frac=delete_frac).cache()
    mine, theirs = _split_by_bucket(spark, ev, ["repo", "path"], 2)

    state = _with_cas_interloper(
        table, lambda: _commit(table, theirs, 0, "theirs", mode)
    )
    res = _commit(table, mine, 0, "mine", mode)
    table._try_write_snapshot = type(table)._try_write_snapshot.__get__(table)
    assert state["fired"] and not res.skipped

    # no lost update: BOTH writers' rows present, equal to sequential oracle
    _assert_oracle(table, ev)

    # changelog attribution: each snapshot's changes come from its own
    # added_files — the rebased commit reports ONLY its own rows
    snap = table.current_snapshot()
    mine_rows = table.changes(snap["snapshot_id"] - 1, snap["snapshot_id"])
    assert mine_rows.count() > 0
    keys_mine = {(r["repo"], r["path"]) for r in mine_rows.select("repo", "path").collect()}
    keys_theirs = {
        (r["repo"], r["path"]) for r in theirs.select("repo", "path").distinct().collect()
    }
    assert not keys_mine & keys_theirs
    ev.unpersist()


def test_cas_loss_disjoint_buckets_rebases_without_lost_update(spark, tmp_path):
    _disjoint_buckets_rebase(spark, tmp_path, "cow")


def test_cas_loss_disjoint_buckets_rebases_without_lost_update_mor(spark, tmp_path):
    _disjoint_buckets_rebase(spark, tmp_path, "mor")


def test_cas_loss_disjoint_buckets_rebases_without_lost_update_append(spark, tmp_path):
    _disjoint_buckets_rebase(spark, tmp_path, "append")


def _overlapping_buckets(spark, tmp_path, mode):
    """Interloper touches the SAME buckets: a copy-on-write rebase would
    drop its rows, so the loser must recompute against the latest
    snapshot; a merge-on-read delta read no rows and rebases."""
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=1)
    ev = change_events(spark, 500, seed=37, delete_frac=0.1).cache()
    first, second = ev.filter(ev.event_seq % 2 == 0), ev.filter(ev.event_seq % 2 == 1)

    state = _with_cas_interloper(
        table, lambda: _commit(table, second, 0, "theirs", mode)
    )
    res = _commit(table, first, 0, "mine", mode)
    table._try_write_snapshot = type(table)._try_write_snapshot.__get__(table)
    assert state["fired"] and not res.skipped
    _assert_oracle(table, ev)
    ev.unpersist()


def test_cas_loss_overlapping_buckets_recomputes(spark, tmp_path):
    _overlapping_buckets(spark, tmp_path, "cow")


def test_cas_loss_overlapping_buckets_recomputes_mor(spark, tmp_path):
    _overlapping_buckets(spark, tmp_path, "mor")


@pytest.mark.parametrize("mode", ["cow", "mor", "append"])
def test_cas_loss_to_own_epoch_is_skipped(spark, tmp_path, mode):
    """The interloper commits the loser's own ``(app_id, epoch_id)`` (a
    redelivered epoch racing itself): the loser must come back skipped,
    not rebase a second copy of the epoch on top."""
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    ev = change_events(spark, 300, seed=61, delete_frac=0.0 if mode == "append" else 0.1)
    ev = ev.cache()
    state = _with_cas_interloper(table, lambda: _commit(table, ev, 0, "default", mode))
    res = _commit(table, ev, 0, "default", mode)
    table._try_write_snapshot = type(table)._try_write_snapshot.__get__(table)
    assert state["fired"] and res.skipped
    assert res.snapshot_id == table.current_snapshot()["snapshot_id"] == 1
    _assert_oracle(table, ev)
    ev.unpersist()


def test_maintenance_cas_retries_are_bounded(spark, tmp_path):
    """A maintenance writer that keeps losing the snapshot CAS gives up
    with ``RuntimeError`` after a bounded number of attempts instead of
    livelocking against a writer that always commits first."""
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    assert evolve_buckets(table, 4)["evolved"]
    attempts = []

    def always_lose(snap):
        attempts.append(snap["snapshot_id"])
        assert len(attempts) < 50, "the CAS retry loop never gives up"
        return False

    table._try_write_snapshot = always_lose
    with pytest.raises(RuntimeError, match="lost the snapshot CAS"):
        evolve_buckets(table, 8)
    n = len(attempts)
    with pytest.raises(RuntimeError, match="lost the snapshot CAS"):
        rollback(table, 0)
    assert len(attempts) - n == n  # one cap for every maintenance writer
    table._try_write_snapshot = type(table)._try_write_snapshot.__get__(table)
    assert table.current_snapshot()["snapshot_id"] == 1


# ------------------------------------------------- tombstone purge safety
def test_tombstone_purge_respects_reorder_bound(spark, tmp_path):
    """A stale upsert re-delivered AFTER compaction must not resurrect a
    deleted row when the purge watermark honors the reorder bound."""
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    ev = change_events(spark, 200, seed=41, delete_frac=0.0).cache()
    # pick one live key and delete it at a high seq
    row = ev.orderBy("event_seq").limit(1).collect()[0]
    replay_batch(table, ev, epoch_id=0)
    delete_ev = spark.createDataFrame(
        [(10_000, row["event_ts"], "delete", row["repo"], row["path"],
          row["commit"], row["lang"], row["content"])],
        ev.schema,
    )
    replay_batch(table, delete_ev, epoch_id=1)
    assert (
        table.read().filter(
            (F.col("repo") == row["repo"]) & (F.col("path") == row["path"])
        ).count() == 0
    )

    # compaction with a reorder-bounded watermark: tombstone at seq 10_000
    # survives because redelivery can reach back to 10_500 - 600 < 10_000
    compact(table, tombstone_watermark=10_500 - 600)
    # late, stale upsert of the same key (seq 9_999 < tombstone's 10_000)
    stale = spark.createDataFrame(
        [(9_999, row["event_ts"], "upsert", row["repo"], row["path"],
          row["commit"], row["lang"], "STALE CONTENT")],
        ev.schema,
    )
    replay_batch(table, stale, epoch_id=2)
    assert (
        table.read().filter(
            (F.col("repo") == row["repo"]) & (F.col("path") == row["path"])
        ).count() == 0
    ), "purged tombstone let a stale upsert resurrect a deleted row"
    ev.unpersist()


def test_compact_without_bound_keeps_all_tombstones(spark, tmp_path):
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    ev = change_events(spark, 500, seed=43, delete_frac=0.3)
    replay_batch(table, ev, epoch_id=0)
    tombs = table.read(include_tombstones=True).filter("_deleted").count()
    assert tombs > 0
    stats = compact(table, tombstone_watermark=None)
    assert stats["tombstones_dropped"] == 0
    assert table.read(include_tombstones=True).filter("_deleted").count() == tombs


# --------------------------------------------------- expire orphan age guard
def test_expire_keeps_young_unreferenced_files(spark, tmp_path):
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    ev = change_events(spark, 300, seed=47)
    replay_batch(table, ev.filter(ev.event_seq < 150), epoch_id=0)
    replay_batch(table, ev.filter(ev.event_seq >= 150), epoch_id=1)

    # a young file referenced by NO snapshot = an in-flight commit's output
    inflight = table.path / "data" / "commit-inflight" / "part-0.parquet"
    inflight.parent.mkdir(parents=True)
    ev.limit(5).write.mode("overwrite").parquet(str(inflight.parent / "stage"))
    part = next((inflight.parent / "stage").glob("part-*.parquet"))
    part.rename(inflight)

    before = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    gc = expire_snapshots(table, keep_last=1)  # default orphan_min_age_s=3600
    assert gc["snapshots_removed"] > 0
    assert inflight.exists(), "age guard must protect in-flight pre-CAS files"
    # files referenced only by EXPIRED snapshots are removed immediately
    assert gc["files_removed"] > 0
    pd.testing.assert_frame_equal(
        before,
        table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True),
    )
    # with age 0 the orphan is collectable
    expire_snapshots(table, keep_last=1, orphan_min_age_s=0)
    assert not inflight.exists()


# ----------------------------------------------------------- true append
def test_append_batch_accumulates_duplicate_keys(spark, tmp_path):
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    ev = change_events(spark, 100, seed=53, delete_frac=0.0)
    from rocket_etl_spark.streaming.replay import prepare_events

    batch = prepare_events(ev).drop("op")
    r1 = append_batch(table, batch, epoch_id=0, app_id="ins")
    r2 = append_batch(table, batch, epoch_id=1, app_id="ins")
    assert r1.rows_in == 100 and r2.rows_in == 100
    assert table.read().count() == 200  # duplicates accumulate: true insert
    # epoch fence still applies to appends
    assert append_batch(table, batch, epoch_id=0, app_id="ins").skipped
    assert table.read().count() == 200
    # appends contribute to the changelog as inserts
    assert table.changes(0).filter("change_type = 'insert'").count() == 200


def test_upsert_after_interloper_merge_is_still_lww(spark, tmp_path):
    """Sanity: merge_batch (not append) on a table already holding one
    row per key keeps the one-live-row-per-key invariant under rebase."""
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    ev = change_events(spark, 400, seed=59, delete_frac=0.05).cache()
    replay_batch(table, ev.filter(ev.event_seq < 200), epoch_id=0)
    replay_batch(table, ev.filter(ev.event_seq >= 200), epoch_id=1)
    live = table.read()
    assert live.count() == live.select("repo", "path").distinct().count()
    ev.unpersist()
