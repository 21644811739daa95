"""JobSpec pipelines (the reference's job-dict model) + source readers +
lake maintenance (compaction / tombstone GC / snapshot expiry)."""

from __future__ import annotations

import pytest

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.lake.maintenance import compact, expire_snapshots
from rocket_etl_spark.lake.table import LakeTable
from rocket_etl_spark.plans.jobspec import DestSpec, JobSpec, SourceSpec, TransformSpec, run_job
from rocket_etl_spark.sources.readers import read_source, source_checksum
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def test_csv_job_upserts_into_lake(spark, tmp_path):
    # stage a csv source (the reference's most common extractor)
    src_df = spark.createDataFrame(
        [(1, "alice ", "py", "10"), (2, "", "C++", "20"), (3, "carol", "go", "x")],
        "id bigint, name string, language string, score string",
    )
    src_df.coalesce(1).write.option("header", True).csv(str(tmp_path / "in"))

    spec = JobSpec(
        name="people",
        source=SourceSpec(
            format="csv",
            path=str(tmp_path / "in"),
            schema_ddl="id bigint, name string, language string, score string",
        ),
        transform=TransformSpec(
            renames={"language": "lang"},
            casts={"score": "int"},           # 'x' -> null, marshmallow-style coercion
            null_norm=("name",),              # '' -> NULL
            derived={"name_clean": "trim(name)"},
            filter="id >= 1",
        ),
        dest=DestSpec(
            mode="upsert", path=str(tmp_path / "t"), key_cols=("id",), order_col="id"
        ),
    )
    res = run_job(spark, spec)
    assert res is not None and res.rows_in == 3

    out = LakeTable.load(spark, tmp_path / "t").read().toPandas().set_index("id").sort_index()
    assert out.loc[2, "name"] is None or str(out.loc[2, "name"]) in ("None", "nan")
    assert out.loc[1, "lang"] == "py"
    assert out.loc[1, "name_clean"] == "alice"
    import math

    assert math.isnan(out.loc[3, "score"]) or out.loc[3, "score"] is None

    # re-running the job converges (reference: idempotent replays)
    res2 = run_job(spark, spec)
    out2 = LakeTable.load(spark, tmp_path / "t").read().toPandas()
    assert len(out2) == len(out)
    assert res2.rows_upserted == 0  # every row stale (same order_col) -> no-op


def test_overwrite_job_wipes_then_loads(spark, tmp_path):
    base = JobSpec(
        name="j",
        source=SourceSpec(format="parquet", path=str(tmp_path / "src1")),
        dest=DestSpec(mode="upsert", path=str(tmp_path / "t"), key_cols=("k",), order_col="v"),
    )
    spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint").write.parquet(
        str(tmp_path / "src1")
    )
    run_job(spark, base)

    spark.createDataFrame([(9, 90)], "k bigint, v bigint").write.parquet(str(tmp_path / "src2"))
    wipe = JobSpec(
        name="j",
        source=SourceSpec(format="parquet", path=str(tmp_path / "src2")),
        dest=DestSpec(mode="overwrite", path=str(tmp_path / "t")),
    )
    run_job(spark, wipe)
    out = LakeTable.load(spark, tmp_path / "t").read().toPandas()
    assert sorted(out.k) == [9]


def test_overwrite_wipe_retries_a_lost_cas(spark, tmp_path, monkeypatch):
    """An upsert commit wins the snapshot id the wipe was about to take:
    the wipe retries from the new tip, so the overwrite still lands —
    the interloper's rows go with the wipe — and the success
    notification reports the overwrite's own commit."""
    from rocket_etl_spark.lake.merge import merge_batch

    path = tmp_path / "t"
    spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint").write.parquet(
        str(tmp_path / "src1")
    )
    run_job(spark, JobSpec(
        name="j",
        source=SourceSpec(format="parquet", path=str(tmp_path / "src1")),
        dest=DestSpec(mode="upsert", path=str(path), key_cols=("k",), order_col="v"),
    ))
    spark.createDataFrame([(9, 90)], "k bigint, v bigint").write.parquet(str(tmp_path / "src2"))

    orig = LakeTable._try_write_snapshot
    state = {"fired": False}

    def hooked(self, snap):
        if not state["fired"]:
            state["fired"] = True  # the wipe's first CAS: commit ahead of it
            merge_batch(
                LakeTable.load(spark, path),
                spark.createDataFrame([(5, 50, "upsert")], "k bigint, v bigint, op string"),
            )
        return orig(self, snap)

    monkeypatch.setattr(LakeTable, "_try_write_snapshot", hooked)
    events = []
    res = run_job(spark, JobSpec(
        name="j",
        source=SourceSpec(format="parquet", path=str(tmp_path / "src2")),
        dest=DestSpec(mode="overwrite", path=str(path)),
    ), notifier=events.append)
    monkeypatch.undo()

    assert state["fired"] and res is not None and res.rows_upserted == 1
    table = LakeTable.load(spark, path)
    assert sorted(table.read().toPandas().k) == [9]
    assert table.current_snapshot()["snapshot_id"] == res.snapshot_id
    assert table.snapshot(res.snapshot_id - 1)["stats"] == {"wiped": True}
    assert events[-1]["status"] == "success"
    assert events[-1]["snapshot_id"] == res.snapshot_id


def test_source_errors_and_checksum(spark, tmp_path):
    with pytest.raises(ValueError, match="declared schema"):
        read_source(spark, SourceSpec(format="csv", path="/nope"))
    # remote (http/sftp) sources were removed: an unknown format
    with pytest.raises(ValueError, match="unknown source format"):
        read_source(spark, SourceSpec(format="http", path="http://x/y.parquet"))
    p = tmp_path / "f.txt"
    p.write_text("hello")
    import hashlib

    assert source_checksum(p) == hashlib.sha256(b"hello").hexdigest()


def test_compaction_merges_files_and_drops_tombstones(spark, tmp_path):
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    ev = change_events(spark, 3000, seed=2, delete_frac=0.2)
    for i in range(3):
        replay_batch(
            table,
            ev.filter((ev.event_seq >= i * 1000) & (ev.event_seq < (i + 1) * 1000)),
            epoch_id=i,
        )
    before = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    snap = table.current_snapshot()
    files_before = sum(len(v) for v in snap["buckets"].values())
    tombs_before = table.read(include_tombstones=True).filter("_deleted").count()
    # COW keeps <=1 file per bucket; compaction's value here is tombstone GC
    assert files_before >= 4 and tombs_before > 0

    # all events delivered (watermark past the max seq) -> all tombstones droppable
    stats = compact(table, tombstone_watermark=3001)
    assert stats["files_after"] <= 4
    assert stats["tombstones_dropped"] == tombs_before

    after = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(before, after)  # visible state unchanged
    assert table.read(include_tombstones=True).filter("_deleted").count() == 0

    # fence survives compaction + expiry
    assert table.committed_epochs() == {0, 1, 2}
    gc = expire_snapshots(table, keep_last=1)
    assert gc["snapshots_removed"] >= 3 and gc["files_removed"] > 0
    assert table.committed_epochs() == {0, 1, 2}
    res = replay_batch(table, ev.filter(ev.event_seq < 1000), epoch_id=1)
    assert res.skipped  # old epoch still fenced after expiry

    pd.testing.assert_frame_equal(
        before,
        table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True),
    )


def test_time_travel_read(spark, tmp_path):
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    ev = change_events(spark, 2000, seed=4)
    replay_batch(table, ev.filter(ev.event_seq < 1000), epoch_id=0)
    n1 = table.read().count()
    s1 = table.current_snapshot()["snapshot_id"]
    replay_batch(table, ev.filter(ev.event_seq >= 1000), epoch_id=1)
    assert table.read().count() != n1 or True
    assert table.read(snapshot_id=s1).count() == n1  # historical snapshot readable


def test_rebucket_preserves_state_and_keeps_merging(spark, tmp_path):
    """maintenance.rebucket: table grows past its creation-time bucket
    count -> rewrite into more buckets, state identical, merges continue."""
    import pandas as pd

    from rocket_etl_spark.lake.maintenance import rebucket
    from rocket_etl_spark.oracle import replay_oracle

    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    ev = change_events(spark, 2_000, seed=61, delete_frac=0.1).cache()
    replay_batch(table, ev.filter(ev.event_seq < 1_000), epoch_id=0)

    before = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    stats = rebucket(table, 16)
    assert stats["rebucketed"] and table.current_snapshot()["num_buckets"] == 16
    after = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)

    # merges keep working against the new layout; fence survives
    assert replay_batch(table, ev.filter(ev.event_seq < 1_000), epoch_id=0).skipped
    replay_batch(table, ev.filter(ev.event_seq >= 1_000), epoch_id=1)
    eng = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    ora = replay_oracle([ev.toPandas()])
    pd.testing.assert_frame_equal(eng[ora.columns], ora, check_dtype=False)
    ev.unpersist()

    # no-op when the count is unchanged
    assert rebucket(table, 16) == {
        "snapshot_id": table.current_snapshot()["snapshot_id"],
        "rebucketed": False,
    }


def test_kafka_source_is_cleanly_gated(spark):
    import pytest

    from rocket_etl_spark.streaming.replay import kafka_event_stream

    with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
        kafka_event_stream(spark, "localhost:9092", "changes")


def test_notifier_receives_job_and_epoch_events(spark, tmp_path):
    import json

    import pytest

    from rocket_etl_spark.notify import FileNotifier, safe_notify
    from rocket_etl_spark.plans.jobspec import DestSpec, JobSpec, SourceSpec, run_job

    events_log = tmp_path / "notify.jsonl"
    notifier = FileNotifier(events_log)

    src = tmp_path / "in.csv"
    src.write_text("id,name\n1,a\n")
    ok = JobSpec(
        name="notify-ok",
        source=SourceSpec(format="csv", path=str(src), schema_ddl="id int, name string"),
        dest=DestSpec(mode="file", path=str(tmp_path / "o1")),
    )
    run_job(spark, ok, notifier=notifier)

    bad = JobSpec(
        name="notify-bad",
        source=SourceSpec(format="csv", path=str(tmp_path / "missing.csv"),
                          schema_ddl="id int"),
        dest=None,
    )
    with pytest.raises(Exception):
        run_job(spark, bad, notifier=notifier)

    evs = [json.loads(line) for line in events_log.read_text().splitlines()]
    by = {(e["name"], e["status"]) for e in evs if e["kind"] == "job"}
    assert ("notify-ok", "success") in by and ("notify-bad", "failure") in by

    # a broken notifier must never fail the caller
    def boom(_e):
        raise RuntimeError("webhook down")

    safe_notify(boom, {"kind": "job"})  # no raise


def test_stream_notifier_epoch_events(spark, tmp_path):
    import json
    import pathlib
    import shutil
    import tempfile

    from rocket_etl_spark.notify import FileNotifier
    from rocket_etl_spark.streaming.replay import replay_stream

    ev = change_events(spark, 1_000, seed=71, delete_frac=0.1)
    (tmp_path / "events").mkdir()
    t = tempfile.mkdtemp()
    ev.coalesce(1).write.parquet(t + "/o")
    part = next(pathlib.Path(t + "/o").glob("part-*.parquet"))
    shutil.move(str(part), str(tmp_path / "events" / "b0.parquet"))

    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    log = tmp_path / "notify.jsonl"
    replay_stream(spark, table, tmp_path / "events", tmp_path / "ckpt",
                  notifier=FileNotifier(log))
    evs = [json.loads(line) for line in log.read_text().splitlines()]
    kinds = [e["kind"] for e in evs]
    assert kinds.count("epoch") >= 1 and kinds[-1] == "stream"
    assert evs[-1]["status"] == "success" and evs[-1]["rows_in"] == 1_000
