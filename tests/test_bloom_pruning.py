"""Per-file key blooms: decide-phase scan pruning for small epochs.

Correctness contract under test: a bloom-skipped file provably contains
no winner key (no false negatives), so skipping it changes the files the
DECIDE scan reads — never the merged state.  Equivalence is pinned
against a blooms-disabled run and the sequential oracle; effectiveness
(files actually skipped) is observed via CommitResult.decide_files_*.
"""

from __future__ import annotations

import pandas as pd
import pytest

import rocket_etl_spark.lake.planner as LP
import rocket_etl_spark.lake.merge as M
from rocket_etl_spark.generate import change_events
from rocket_etl_spark.oracle import replay_oracle
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def _replay(spark, path, batches, blooms: bool, ranges: bool | None = None):
    """ranges defaults to following `blooms` so the pruning-off leg is
    truly pruning-off (zone maps would otherwise still skip files)."""
    old_b, old_r = LP._BLOOMS_ENABLED, LP._RANGES_ENABLED
    LP._BLOOMS_ENABLED = blooms
    LP._RANGES_ENABLED = blooms if ranges is None else ranges
    try:
        t = create_repo_files_table(spark, path, num_buckets=4)
        res = [replay_batch(t, b, epoch_id=i) for i, b in enumerate(batches)]
        state = t.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
        return t, res, state
    finally:
        LP._BLOOMS_ENABLED, LP._RANGES_ENABLED = old_b, old_r


def test_bloom_pruning_skips_files_and_preserves_state(spark, tmp_path):
    ev = change_events(spark, 8_000, seed=31, delete_frac=0.1)
    # epoch 0: repos hashing to slice A; epoch 1: slice B; epoch 2 is a
    # TRICKLE update (~5% of slice-B keys) -> slice-A files, whose blooms
    # cannot contain any probe key, must be skipped
    slice_col = M.F.abs(M.F.xxhash64("repo")) % 3
    batches = [
        ev.filter(slice_col == 0),
        ev.filter(slice_col == 1),
        ev.filter((slice_col == 1) & (M.F.abs(M.F.xxhash64("path")) % 20 == 0))
        .withColumn("event_seq", M.F.col("event_seq") + 1_000_000),
    ]

    t_b, r_b, s_b = _replay(spark, tmp_path / "blooms", batches, blooms=True)
    t_n, r_n, s_n = _replay(spark, tmp_path / "plain", batches, blooms=False)

    # identical state with and without pruning, and both equal the oracle
    pd.testing.assert_frame_equal(s_b, s_n, check_dtype=False)
    ora = replay_oracle([b.toPandas() for b in batches])
    pd.testing.assert_frame_equal(s_b[ora.columns], ora, check_dtype=False)

    # blooms were written (small commits) and epoch 2 skipped slice-A files
    snap = t_b.current_snapshot()
    assert any(
        "bloom" in fe for files in snap["buckets"].values() for fe in files
    )
    last = r_b[2]
    assert last.decide_files_total > 0
    assert last.decide_files_scanned < last.decide_files_total, (
        f"expected pruning: scanned {last.decide_files_scanned} of "
        f"{last.decide_files_total}"
    )
    # the no-bloom run scanned everything
    assert r_n[2].decide_files_scanned == r_n[2].decide_files_total


def test_bloom_skip_never_loses_tombstones_or_keeps(spark, tmp_path):
    """A delete epoch for slice-B keys must not disturb slice-A rows that
    live only in bloom-skipped files — and the delete itself must win."""
    rows_a = [(i, "u", "ra", f"p{i}", "c1", "py", f"xa{i}") for i in range(40)]
    rows_b = [(50 + i, "u", "rb", f"p{i}", "c2", "py", f"xb{i}") for i in range(40)]
    ddl = ("event_seq long, op string, repo string, path string, "
           "commit string, lang string, content string")

    def df(rows):
        d = spark.createDataFrame(
            [(s, "delete" if o == "d" else "upsert", r, p, c, lg, ct)
             for (s, o, r, p, c, lg, ct) in rows], ddl)
        return d.withColumn("event_ts", (M.F.lit(1000) + M.F.col("event_seq")).cast("timestamp"))

    delete_b = [(100, "d", "rb", "p3", "c3", "py", "ignored")]

    t, res, state = _replay(
        spark, tmp_path / "t", [df(rows_a), df(rows_b), df(delete_b)], blooms=True
    )
    assert len(state) == 79  # 40 A + 40 B - 1 deleted
    assert set(state[state.repo == "ra"].path) == {f"p{i}" for i in range(40)}
    assert "p3" not in set(state[state.repo == "rb"].path)
    # epoch 2 (one key) must have pruned at least epoch-0's files
    assert res[2].decide_files_scanned < res[2].decide_files_total


def test_big_commits_carry_no_blooms(spark, tmp_path):
    old = LP.BLOOM_COMMIT_MAX_ROWS
    LP.BLOOM_COMMIT_MAX_ROWS = 100  # force "big commit" classification
    try:
        ev = change_events(spark, 2_000, seed=5, delete_frac=0.0)
        t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
        replay_batch(t, ev, epoch_id=0)
        snap = t.current_snapshot()
        assert not any(
            "bloom" in fe for files in snap["buckets"].values() for fe in files
        )
    finally:
        LP.BLOOM_COMMIT_MAX_ROWS = old
