"""Per-bucket snapshot manifests (lake/table.py).

Round-5 verdict item #1: a commit used to re-serialize the ENTIRE
``buckets`` file map (each entry carrying bloom + zone-map metadata)
into one snapshot JSON — an O(live files) driver cost per epoch.  With
content-addressed per-bucket manifests the snapshot stores references,
unchanged buckets re-use their manifest BY NAME, and the per-commit
snapshot write is O(touched buckets).  These tests pin:

* snapshot JSON size stays flat while the table's file count grows;
* unchanged buckets share manifest files across snapshots (by name);
* resolution round-trips (reads/time travel see identical file lists);
* expire_snapshots GCs only manifests no surviving snapshot references,
  including the shared-manifest case (verdict item #6);
* a live branch's FORK snapshot is pinned against expiry (ADVICE item).
"""

import json

import pyspark.sql.functions as F

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.lake.maintenance import expire_snapshots
from rocket_etl_spark.lake.table import LakeTable, _ManifestList
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def _snap_path(table, sid):
    return table.snap_dir / f"snapshot-{sid:08d}.json"


def _raw(table, sid):
    with open(_snap_path(table, sid)) as f:
        return json.load(f)


def test_snapshot_size_flat_and_manifests_shared(spark, tmp_path):
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=16)
    ev = change_events(spark, 4000, seed=11, delete_frac=0.05).cache()
    # epoch 0 populates; later epochs upsert a FEW fresh keys each (the
    # path remap makes them NEW rows — a re-delivered old event would
    # correctly lose the LWW race and change nothing)
    replay_batch(table, ev, epoch_id=0)
    sizes, file_counts = [], []
    for ep in range(1, 7):
        batch = (
            ev.filter(ev.event_seq % 29 == ep).limit(3)
            .withColumn("path", F.concat(F.lit(f"new{ep}/"), F.col("path")))
        )
        # merge-on-read: every epoch APPENDS delta files, so the live
        # file count provably grows while the snapshot stays thin
        replay_batch(table, batch, epoch_id=ep, mode="mor")
        snap = table.current_snapshot()
        sizes.append(_snap_path(table, snap["snapshot_id"]).stat().st_size)
        file_counts.append(sum(len(fl) for fl in snap["buckets"].values()))
    ev.unpersist()
    # file count grows epoch over epoch, snapshot JSON does not grow with
    # it: the thin snapshot holds references + chain metadata only
    assert file_counts[-1] > file_counts[0]
    assert max(sizes) < 3 * min(sizes), (sizes, file_counts)

    # raw on-disk form: bucket values are manifest-name strings
    raw = _raw(table, table.current_snapshot()["snapshot_id"])
    assert raw["buckets"] and all(
        isinstance(v, str) or v == [] for v in raw["buckets"].values()
    )

    # consecutive snapshots share UNTOUCHED buckets' manifests by name
    tip = table.current_snapshot()["snapshot_id"]
    a, b = _raw(table, tip - 1), _raw(table, tip)
    shared = [
        k for k in a["buckets"]
        if isinstance(a["buckets"][k], str) and a["buckets"][k] == b["buckets"].get(k)
    ]
    assert shared, "no unchanged bucket re-used its manifest"

    # resolution round-trip: the resolved dict carries marked lists whose
    # content equals the manifest file's
    snap = table.current_snapshot()
    for k, fl in snap["buckets"].items():
        if isinstance(raw["buckets"][k], str):
            assert isinstance(fl, _ManifestList) and fl.man == raw["buckets"][k]
            with open(table.man_dir / fl.man) as f:
                assert json.load(f) == list(fl)

    # reads and time travel work across manifest snapshots
    assert table.read().count() > 0
    assert table.read(snapshot_id=tip - 3).count() > 0


def test_expire_gc_keeps_shared_manifests(spark, tmp_path):
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    ev = change_events(spark, 3000, seed=12, delete_frac=0.0).cache()
    replay_batch(table, ev, epoch_id=0)
    for ep in range(1, 5):
        batch = (
            ev.filter(ev.event_seq % 31 == ep).limit(30)
            .withColumn("path", F.concat(F.lit(f"new{ep}/"), F.col("path")))
        )
        replay_batch(table, batch, epoch_id=ep)
    ev.unpersist()
    tip = table.current_snapshot()["snapshot_id"]
    kept_raw = [_raw(table, tip - 1), _raw(table, tip)]
    kept_mans = {
        v
        for s in kept_raw
        for v in s["buckets"].values()
        if isinstance(v, str)
    }
    all_mans = {p.name for p in table.man_dir.glob("man-*.json")}
    assert kept_mans <= all_mans and len(all_mans) > len(kept_mans)

    res = expire_snapshots(table, keep_last=2, orphan_min_age_s=0.0)
    assert res["snapshots_removed"] > 0
    left = {p.name for p in table.man_dir.glob("man-*.json")}
    # every manifest a kept snapshot references survives (shared ones
    # included); every other manifest is gone (age guard disabled)
    assert kept_mans <= left
    assert left == kept_mans, (left - kept_mans, kept_mans - left)

    # the surviving chain still reads end-to-end
    assert table.read().count() > 0
    assert LakeTable.load(spark, table.path).read().count() > 0


def test_expire_pins_live_branch_fork(spark, tmp_path):
    from rocket_etl_spark.lake.branch import branch_table, create_branch, read_branch

    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    ev = change_events(spark, 1500, seed=13, delete_frac=0.0).cache()
    replay_batch(table, ev.filter(ev.event_seq % 3 == 0), epoch_id=0)
    fork = create_branch(table, "fix")["fork_id"]
    # main advances well past the fork; the branch has ZERO commits yet
    for ep in range(1, 5):
        batch = (
            ev.filter(ev.event_seq % 17 == ep).limit(25)
            .withColumn("path", F.concat(F.lit(f"new{ep}/"), F.col("path")))
        )
        replay_batch(table, batch, epoch_id=ep)
    expire_snapshots(table, keep_last=2, orphan_min_age_s=0.0)
    # the fork snapshot file survives and the branch still reads
    assert _snap_path(table, fork).exists()
    assert read_branch(table, "fix").count() > 0
    # and the branch can still take a commit based on the fork
    bt = branch_table(table, "fix")
    replay_batch(bt, ev.filter(ev.event_seq % 23 == 1).limit(20), epoch_id=100)
    assert read_branch(table, "fix").count() > 0
    ev.unpersist()


def test_expire_evicts_unlinked_manifests_from_the_cache(spark, tmp_path):
    """A manifest ``expire_snapshots`` unlinks leaves the in-process
    cache too, and a later write of the same bucket list re-creates the
    file instead of trusting a cache hit — otherwise the snapshot that
    references it dangles for every other process."""
    from rocket_etl_spark.lake.table import _MANIFEST_CACHE

    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    ev = change_events(spark, 400, seed=14, delete_frac=0.0).cache()
    replay_batch(table, ev.filter(ev.event_seq < 200), epoch_id=0)
    first = table.current_snapshot()
    b, old = next((b, fl) for b, fl in first["buckets"].items() if fl)
    replay_batch(table, ev.filter(ev.event_seq >= 200), epoch_id=1)
    ev.unpersist()
    assert table.current_snapshot()["buckets"][b].man != old.man

    expire_snapshots(table, keep_last=1, orphan_min_age_s=0.0)
    assert not (table.man_dir / old.man).exists()
    assert (str(table.man_dir), old.man) not in _MANIFEST_CACHE

    # republish the expired bucket list: its manifest is written again
    _MANIFEST_CACHE[(str(table.man_dir), old.man)] = list(old)  # stale entry
    assert table._write_manifest(list(old)) == old.man
    assert (table.man_dir / old.man).exists()
