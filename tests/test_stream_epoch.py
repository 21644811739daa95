"""A stream micro-batch is a batch replay: it re-aligns and commits after
losing its snapshot CAS to a schema evolution, and a follow stream
(``available_now=False``) runs until its query is stopped."""

from __future__ import annotations

import threading

import pandas as pd
import pyspark.sql.functions as F
import pytest
from test_lake_concurrency import _with_cas_interloper
from test_replay_stream import _write_batches, _write_one

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.oracle import replay_oracle
from rocket_etl_spark.streaming.replay import (
    create_repo_files_table,
    replay_batch,
    replay_stream,
)


def _assert_oracle(table, pdfs):
    eng = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    ora = replay_oracle(pdfs)
    pd.testing.assert_frame_equal(eng[ora.columns], ora, check_dtype=False)


@pytest.mark.parametrize("path", ["stream", "batch"])
def test_epoch_realigns_after_losing_its_cas_to_a_schema_evolution(spark, tmp_path, path):
    """Before the epoch's first snapshot CAS, another writer commits a
    batch that adds a column: the epoch's CAS loses, it re-aligns to the
    evolved schema and commits, and the table equals the oracle over
    both writers' events."""
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    ev = change_events(spark, 600, seed=41, delete_frac=0.1)
    mine = ev.filter(ev.event_seq % 2 == 0)
    theirs = ev.filter(ev.event_seq % 2 == 1).withColumn(
        "size_bytes", F.length("content").cast("bigint")
    )
    state = _with_cas_interloper(
        table, lambda: replay_batch(table, theirs, epoch_id=0, app_id="theirs")
    )
    if path == "stream":
        _write_one(mine, tmp_path / "events", "batch-0")
        results = replay_stream(spark, table, tmp_path / "events", tmp_path / "ckpt")
    else:
        results = [replay_batch(table, mine, epoch_id=0, app_id="mine")]
    table._try_write_snapshot = type(table)._try_write_snapshot.__get__(table)

    assert state["fired"] and len(results) == 1 and not results[0].skipped
    assert "size_bytes" in table.current_schema().names()
    _assert_oracle(table, [mine.toPandas(), theirs.toPandas()])


def test_follow_stream_runs_until_stopped(spark, tmp_path):
    """``available_now=False`` keeps the query running after it has
    committed every file there is; stopping the query returns the epochs
    it ran."""
    pdfs = _write_batches(spark, tmp_path / "events", n_batches=2, per_batch=500, seed=43)
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    epochs: list[dict] = []
    two_epochs = threading.Event()

    def notifier(event):
        if event["kind"] == "epoch":
            epochs.append(event)
            if len(epochs) == 2:
                two_epochs.set()

    out: dict = {}

    def follow():
        try:
            out["results"] = replay_stream(
                spark, table, tmp_path / "events", tmp_path / "ckpt",
                max_files_per_trigger=1, available_now=False, notifier=notifier,
            )
        except Exception as e:  # noqa: BLE001 - re-asserted below
            out["error"] = e

    runner = threading.Thread(target=follow, daemon=True)
    runner.start()
    try:
        assert two_epochs.wait(timeout=300), epochs
        runner.join(timeout=5)
        assert runner.is_alive(), "a follow stream returned before it was stopped"
    finally:
        for q in spark.streams.active:
            q.stop()
        runner.join(timeout=120)

    assert not runner.is_alive() and "error" not in out, out
    results = out["results"]
    assert [r.epoch_id for r in results] == [0, 1]
    assert not any(r.skipped for r in results)
    _assert_oracle(table, pdfs)
