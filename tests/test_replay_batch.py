"""M1 golden tests: parallel batch replay == sequential pandas oracle."""

from __future__ import annotations

import pandas as pd
import pytest

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.oracle import replay_oracle
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def _final_state(table) -> pd.DataFrame:
    pdf = table.read().toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)


def _assert_equal(engine: pd.DataFrame, oracle: pd.DataFrame):
    assert list(engine.columns) == list(oracle.columns) or set(engine.columns) == set(
        oracle.columns
    )
    engine = engine[oracle.columns].reset_index(drop=True)
    assert len(engine) == len(oracle)
    # the headline invariant: per-row content sha256 equality by key
    pd.testing.assert_frame_equal(
        engine[["repo", "path", "content_sha256"]],
        oracle[["repo", "path", "content_sha256"]],
        check_dtype=False,
    )
    pd.testing.assert_frame_equal(engine, oracle, check_dtype=False)


@pytest.mark.parametrize("n_events", [1_000, 10_000])
def test_single_batch_replay_matches_oracle(spark, tmp_path, n_events):
    events = change_events(spark, n_events, seed=42)
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=8)
    res = replay_batch(table, events, epoch_id=0)
    assert not res.skipped
    assert res.rows_in == n_events
    _assert_equal(_final_state(table), replay_oracle([events.toPandas()]))


def test_multi_batch_replay_matches_oracle(spark, tmp_path):
    events = change_events(spark, 6_000, seed=7)
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=8)
    pdfs = []
    for i in range(3):
        b = events.filter(
            (events.event_seq >= i * 2_000) & (events.event_seq < (i + 1) * 2_000)
        )
        pdfs.append(b.toPandas())
        replay_batch(table, b, epoch_id=i)
    _assert_equal(_final_state(table), replay_oracle(pdfs))


def test_commit_result_reports_phase_seconds(spark, tmp_path):
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    for ep, mode, phases in [
        (0, "cow", {"plan", "decide", "write", "stats", "commit"}),
        (1, "mor", {"plan", "write", "commit"}),
    ]:
        res = replay_batch(
            table, change_events(spark, 1_000, seed=50 + ep), epoch_id=ep, mode=mode
        )
        assert set(res.phase_s) == phases
        assert min(res.phase_s.values()) >= 0
        # the phases lie inside the merge's wall time (wall_ms truncates)
        assert sum(res.phase_s.values()) <= (res.wall_ms + 1) / 1000
    assert replay_batch(table, change_events(spark, 10, seed=52), epoch_id=1).phase_s == {}


def test_deletes_remove_rows(spark, tmp_path):
    events = change_events(spark, 5_000, seed=3, delete_frac=0.3)
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    res = replay_batch(table, events, epoch_id=0)
    oracle = replay_oracle([events.toPandas()])
    eng = _final_state(table)
    assert res.rows_deleted >= 0
    _assert_equal(eng, oracle)


def test_epoch_fence_skips_duplicate(spark, tmp_path):
    events = change_events(spark, 1_000, seed=1)
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    r1 = replay_batch(table, events, epoch_id=42)
    r2 = replay_batch(table, events, epoch_id=42)  # duplicate delivery
    assert not r1.skipped and r2.skipped
    assert table.current_snapshot()["snapshot_id"] == r1.snapshot_id


def test_replay_idempotent_without_fence(spark, tmp_path):
    """Even with no epoch id, re-merging the same batch converges (LWW guard)."""
    events = change_events(spark, 2_000, seed=9)
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(table, events)
    s1 = _final_state(table)
    replay_batch(table, events)
    s2 = _final_state(table)
    pd.testing.assert_frame_equal(s1, s2, check_dtype=False)


def test_out_of_order_batches_converge(spark, tmp_path):
    """Batches applied in ANY order give the same final state (seq-guarded MERGE)."""
    events = change_events(spark, 4_000, seed=11)
    halves = [
        events.filter(events.event_seq % 2 == i) for i in (0, 1)
    ]
    finals = []
    for order in ([0, 1], [1, 0]):
        table = create_repo_files_table(spark, tmp_path / f"t{order[0]}", num_buckets=4)
        for j, i in enumerate(order):
            replay_batch(table, halves[i], epoch_id=j)
        finals.append(_final_state(table))
    pd.testing.assert_frame_equal(finals[0], finals[1], check_dtype=False)
    _assert_equal(finals[0], replay_oracle([events.toPandas()]))


def test_jvm_and_pandas_udf_paths_agree(spark, tmp_path):
    events = change_events(spark, 2_000, seed=5)
    t1 = create_repo_files_table(spark, tmp_path / "a", num_buckets=4)
    t2 = create_repo_files_table(spark, tmp_path / "b", num_buckets=4)
    replay_batch(t1, events, use_pandas_udfs=True)
    replay_batch(t2, events, use_pandas_udfs=False)
    pd.testing.assert_frame_equal(_final_state(t1), _final_state(t2), check_dtype=False)
