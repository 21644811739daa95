"""Broadcast MERGE ≡ full-outer SMJ MERGE, on state, stats, and changelog.

The broadcast path (lake/merge.py::_merge_broadcast) keeps the current
table's payload out of every exchange; this suite pins its equivalence
to the unbounded SMJ path across multi-epoch, out-of-order, delete-heavy
replays, with the sequential oracle as ground truth.
"""

from __future__ import annotations

import pandas as pd

import rocket_etl_spark.lake.merge as M
from rocket_etl_spark.generate import change_events
from rocket_etl_spark.oracle import replay_oracle
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def _run(spark, path, batches, max_keys):
    old = M.SLIM_DEDUPE_MAX_KEYS
    M.SLIM_DEDUPE_MAX_KEYS = max_keys
    try:
        t = create_repo_files_table(spark, path, num_buckets=4)
        results = [replay_batch(t, b, epoch_id=i) for i, b in enumerate(batches)]
        state = (
            t.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
        )
        return t, results, state
    finally:
        M.SLIM_DEDUPE_MAX_KEYS = old


import pytest


@pytest.mark.parametrize("seed", [17, 71])
def test_broadcast_and_smj_merge_agree(spark, tmp_path, seed):
    ev = change_events(spark, 6_000, seed=seed, delete_frac=0.15, shuffle_bound=400)
    # three epochs, delivered out of event order within each
    batches = [
        ev.filter((ev.event_seq % 3) == i).drop("delivery_order") for i in (1, 0, 2)
    ]

    t_b, r_b, s_b = _run(spark, tmp_path / "bcast", batches, 2_000_000)
    t_s, r_s, s_s = _run(spark, tmp_path / "smj", batches, 0)

    # identical final state — and both equal the sequential oracle
    pd.testing.assert_frame_equal(s_b, s_s, check_dtype=False)
    ora = replay_oracle([ev.toPandas()])
    pd.testing.assert_frame_equal(s_b[ora.columns], ora, check_dtype=False)

    # identical per-epoch MERGE stats
    for a, b in zip(r_b, r_s):
        assert (a.rows_in, a.rows_upserted, a.rows_deleted) == (
            b.rows_in,
            b.rows_upserted,
            b.rows_deleted,
        )
        assert a.touched_buckets == b.touched_buckets

    # identical changelog (CDC-out) across the whole replay
    cols = None
    ch_b = t_b.changes(0).toPandas()
    ch_s = t_s.changes(0).toPandas()
    cols = sorted(ch_b.columns)
    pd.testing.assert_frame_equal(
        ch_b[cols].sort_values(cols).reset_index(drop=True),
        ch_s[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
    )


def test_small_epoch_relinks_unmatched_files(spark, tmp_path):
    """Matched-file pruning: an epoch touching ONE key must rewrite only
    the file(s) containing that key — every other file is re-linked into
    the new snapshot byte-identical (same path entries), and the state
    still equals the sequential oracle."""
    import pyspark.sql.functions as F

    ev = change_events(spark, 4_000, seed=53, delete_frac=0.0)
    # two epochs with DISJOINT key sets -> each bucket holds files from
    # both epochs, so a point update can only match one of them
    e1 = ev.filter(F.col("event_seq") % 2 == 0)
    e2 = ev.filter(F.col("event_seq") % 2 == 1)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, e1, epoch_id=0)
    replay_batch(t, e2, epoch_id=1)
    snap2 = t.current_snapshot()
    old = {fe["path"] for fl in snap2["buckets"].values() for fe in fl}

    row = e2.orderBy("event_seq").first()
    mx = ev.agg(F.max("event_seq")).first()[0]
    upd = spark.createDataFrame(
        [(mx + 1, "upsert", row["repo"], row["path"], "cnew", "py", "new content")],
        "event_seq long, op string, repo string, path string, "
        "commit string, lang string, content string",
    ).withColumn("event_ts", (56789 + F.col("event_seq")).cast("timestamp"))
    replay_batch(t, upd, epoch_id=2)

    snap3 = t.current_snapshot()
    new = {fe["path"] for fl in snap3["buckets"].values() for fe in fl}
    rewritten = old - new
    # only the file(s) holding the updated key were rewritten: one file,
    # or two if the generator happened to emit the same (repo, path) in
    # both epochs (event_seq parity does not make KEYS disjoint)
    assert 1 <= len(rewritten) <= 2, rewritten
    assert (old - rewritten) <= new  # everything else re-linked verbatim

    eng = t.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    ora = replay_oracle([e1.toPandas(), e2.toPandas(), upd.toPandas()])
    pd.testing.assert_frame_equal(eng[ora.columns], ora, check_dtype=False)


def test_byte_gate_falls_back_to_smj_with_identical_results(spark, tmp_path):
    """SLIM_DEDUPE_MAX_BYTES: forcing the byte estimate over the
    bound must route to the SMJ path (no broadcast of a huge key relation)
    with byte-identical results."""
    ev = change_events(spark, 3_000, seed=41, delete_frac=0.1)
    old = M.SLIM_DEDUPE_MAX_BYTES
    try:
        M.SLIM_DEDUPE_MAX_BYTES = 0  # every batch 'too wide' to broadcast
        t_s = create_repo_files_table(spark, tmp_path / "smj", num_buckets=4)
        replay_batch(t_s, ev, epoch_id=0)
        state_smj = t_s.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    finally:
        M.SLIM_DEDUPE_MAX_BYTES = old
    t_b = create_repo_files_table(spark, tmp_path / "bc", num_buckets=4)
    replay_batch(t_b, ev, epoch_id=0)
    state_bc = t_b.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(state_smj, state_bc, check_dtype=False)
    ora = replay_oracle([ev.toPandas()])
    pd.testing.assert_frame_equal(state_smj[ora.columns], ora, check_dtype=False)


def test_broadcast_merge_tied_order_op_conflict_is_consistent(spark, tmp_path):
    """Duplicate deliveries sharing the winning (key, order) but DIFFERING
    in op: whichever op the tie-break picks, the stored row's _deleted flag
    must agree with the changelog's change_type (they are now both derived
    from the same max_by winner — lake/merge.py::_merge_broadcast)."""
    import pyspark.sql.functions as F

    ddl = (
        "event_seq long, op string, repo string, path string, "
        "commit string, lang string, content string"
    )
    base = spark.createDataFrame(
        [(0, "upsert", "r1", "a", "c0", "py", "base")], ddl
    ).withColumn("event_ts", (56789 + F.col("event_seq")).cast("timestamp"))
    # same key, same seq=5, conflicting ops — ambiguous by contract,
    # but the outcome must be internally consistent
    conflict = spark.createDataFrame(
        [(5, "upsert", "r1", "a", "c5u", "py", "xu"),
         (5, "delete", "r1", "a", "c5d", "py", "xd")], ddl
    ).withColumn("event_ts", (56789 + F.col("event_seq")).cast("timestamp"))

    t_b, r_b, _ = _run(spark, tmp_path / "b", [base, conflict], 2_000_000)
    ch = t_b.changes(r_b[0].snapshot_id).toPandas()
    final = ch[ch.last_event_seq == 5]
    assert len(final) == 1
    stored = t_b.read(include_tombstones=True).toPandas()
    stored = stored[stored.last_event_seq == 5]
    assert len(stored) == 1
    change_type = final.change_type.iloc[0]
    deleted = bool(stored._deleted.iloc[0])
    assert (change_type == "delete") == deleted
    # and the live read agrees: a delete leaves no visible row
    assert len(t_b.read().toPandas()) == (0 if deleted else 1)


def test_broadcast_merge_null_keys_match_smj(spark, tmp_path):
    """Null keys are groups, not dropped rows — on BOTH paths."""
    rows = [
        (0, "u", "r1", "a", "c0", "py", "x0"),
        (1, "u", None, "a", "c1", "py", "x1"),
        (2, "u", None, "a", "c2", "py", "x2"),   # newer null-key row wins
        (3, "u", "r1", None, "c3", "py", "x3"),
        (4, "d", "r1", "a", "c4", "py", "x4"),   # delete live row
        (5, "u", "r2", "b", "c5", "py", "x5"),
    ]
    df = spark.createDataFrame(
        [(s, "delete" if o == "d" else "upsert", r, p, c, lg, ct)
         for (s, o, r, p, c, lg, ct) in rows],
        "event_seq long, op string, repo string, path string, "
        "commit string, lang string, content string",
    ).withColumn("event_ts", (56789 + __import__("pyspark.sql.functions", fromlist=["col"]).col("event_seq")).cast("timestamp"))

    t_b, _, s_b = _run(spark, tmp_path / "b", [df], 2_000_000)
    t_s, _, s_s = _run(spark, tmp_path / "s", [df], 0)
    pd.testing.assert_frame_equal(s_b, s_s, check_dtype=False)
    # the null-key rows survived, newest wins; the r1/a delete applied
    assert len(s_b) == 3
    assert set(s_b["last_event_seq"]) == {2, 3, 5}


def test_rel_paths_degrades_to_none_on_foreign_names():
    """A file name the path-layout assumption can't place under the table
    root (remote scheme, foreign mount) must degrade to None — 'rewrite
    all touched-bucket files' — not abort the merge with ValueError."""
    from rocket_etl_spark.lake.merge import _rel_paths

    root = "/tmp/tbl"
    assert _rel_paths(root, ["/tmp/tbl/data/b0/f1.parquet", ""]) == {"data/b0/f1.parquet"}
    assert _rel_paths(root, ["file:///tmp/tbl/data/b0/f%201.parquet"]) == {"data/b0/f 1.parquet"}
    # outside the root -> None (full rewrite), even if other names resolve
    assert _rel_paths(root, ["/tmp/tbl/data/b0/f1.parquet", "/elsewhere/f2.parquet"]) is None
    # non-local scheme: urlparse strips the scheme but the path is foreign
    assert _rel_paths(root, ["s3://bucket/tbl/data/b0/f1.parquet"]) is None
