"""Broadcast MERGE ≡ full-outer SMJ MERGE, on state, stats, and changelog.

The broadcast path (lake/merge.py::_merge_broadcast) keeps the current
table's payload out of every exchange; this suite pins its equivalence
to the unbounded SMJ path across multi-epoch, out-of-order, delete-heavy
replays, with the sequential oracle as ground truth.
"""

from __future__ import annotations

import itertools

import pandas as pd

import rocket_etl_spark.lake.merge as M
from rocket_etl_spark.generate import change_events
from rocket_etl_spark.oracle import replay_oracle
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


# both plan paths: the driver plan (every epoch here is under its gate)
# and, with DRIVER_PLAN_MAX_ROWS forced to 0, the Spark aggregation
PLANS = (True, False)


def _run(spark, path, batches, max_keys, driver_plan=True, mode="cow"):
    old = M.SLIM_DEDUPE_MAX_KEYS, M.DRIVER_PLAN_MAX_ROWS
    M.SLIM_DEDUPE_MAX_KEYS = max_keys
    if not driver_plan:
        M.DRIVER_PLAN_MAX_ROWS = 0
    try:
        t = create_repo_files_table(spark, path, num_buckets=4)
        results = [replay_batch(t, b, epoch_id=i, mode=mode) for i, b in enumerate(batches)]
        state = (
            t.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
        )
        return t, results, state
    finally:
        M.SLIM_DEDUPE_MAX_KEYS, M.DRIVER_PLAN_MAX_ROWS = old


def _changelog(t):
    ch = t.changes(0).toPandas()
    cols = sorted(ch.columns)
    return ch[cols].sort_values(cols).reset_index(drop=True)


import pytest


@pytest.mark.parametrize("seed", [17, 71])
def test_broadcast_and_smj_merge_agree(spark, tmp_path, seed):
    ev = change_events(spark, 6_000, seed=seed, delete_frac=0.15, shuffle_bound=400)
    # three epochs, delivered out of event order within each
    batches = [
        ev.filter((ev.event_seq % 3) == i).drop("delivery_order") for i in (1, 0, 2)
    ]

    # the broadcast MERGE on the driver plan against the SMJ MERGE, and
    # both against themselves on the Spark plan
    t_b, r_b, s_b = _run(spark, tmp_path / "bcast", batches, 2_000_000)
    for name, max_keys, driver_plan in (
        ("smj", 0, True), ("bcast", 2_000_000, False), ("smj", 0, False)
    ):
        t_s, r_s, s_s = _run(
            spark, tmp_path / f"{name}-{driver_plan}", batches, max_keys, driver_plan
        )
        # identical final state
        pd.testing.assert_frame_equal(s_b, s_s, check_dtype=False)

        # identical per-epoch MERGE stats
        for a, b in zip(r_b, r_s):
            assert (a.rows_in, a.rows_upserted, a.rows_deleted) == (
                b.rows_in,
                b.rows_upserted,
                b.rows_deleted,
            )
            assert a.touched_buckets == b.touched_buckets

        # identical changelog (CDC-out) across the whole replay
        pd.testing.assert_frame_equal(_changelog(t_b), _changelog(t_s), check_dtype=False)
    # ... and equal to the sequential oracle
    ora = replay_oracle([ev.toPandas()])
    pd.testing.assert_frame_equal(s_b[ora.columns], ora, check_dtype=False)


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
    tied = [(5, "upsert", "r1", "a", "c5u", "py", "xu"),
            (5, "delete", "r1", "a", "c5d", "py", "xd")]

    for driver_plan, rows in itertools.product(PLANS, (tied, tied[::-1])):
        conflict = spark.createDataFrame(rows, ddl).withColumn(
            "event_ts", (56789 + F.col("event_seq")).cast("timestamp")
        )
        t_b, r_b, _ = _run(
            spark, tmp_path / f"b-{driver_plan}-{rows[0][1]}", [base, conflict], 2_000_000,
            driver_plan,
        )
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
        # both plan paths break the tie the same way, whatever the row
        # order: the delete wins
        assert deleted


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

    for driver_plan in PLANS:
        t_b, _, s_b = _run(spark, tmp_path / f"b-{driver_plan}", [df], 2_000_000, driver_plan)
        t_s, _, s_s = _run(spark, tmp_path / f"s-{driver_plan}", [df], 0, driver_plan)
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


def _tricky_epochs(spark):
    """Three epochs delivered out of event order, each carrying exact
    duplicate deliveries (same key and order, also re-delivered in a
    later epoch), plus hand rows above every generated order: a delete
    tying an upsert on a key's winning order (superseded by an epoch
    delivered earlier), the same tie below a winning order, and null
    key parts."""
    import pyspark.sql.functions as F

    ev = change_events(spark, 3_000, seed=29, delete_frac=0.15).drop("delivery_order")
    mx = 10_000
    ddl = (
        "event_seq long, op string, repo string, path string, "
        "commit string, lang string, content string"
    )

    def hand(rows):
        return (
            spark.createDataFrame(
                [(mx + s, op, r, p, f"c{s}", "py", f"x{s}") for s, op, r, p in rows], ddl
            )
            .withColumn("event_ts", (56789 + F.col("event_seq")).cast("timestamp"))
        )

    gen = [ev.filter((ev.event_seq % 3) == i) for i in (2, 0, 1)]
    hands = [
        hand([(5, "upsert", "rt", "tie.py"), (1, "upsert", None, "n.py"),
              (2, "upsert", "rn", None), (3, "upsert", None, None)]),
        hand([(4, "upsert", "rt", "tie.py"), (4, "delete", "rt", "tie.py"),
              (6, "upsert", "rs", "sub.py"), (6, "delete", "rs", "sub.py"),
              (7, "upsert", "rs", "sub.py"), (8, "delete", None, "n.py"),
              (9, "upsert", "rn", None), (9, "upsert", "rn", None)]),
        hand([(10, "upsert", None, None), (10, "upsert", None, None)]),
    ]
    batches = [g.unionByName(h) for g, h in zip(gen, hands)]
    # exact duplicates within an epoch, and a stale re-delivery of the
    # first epoch's events in the last
    batches[1] = batches[1].unionByName(gen[1].filter(ev.event_seq % 7 == 0))
    batches[2] = batches[2].unionByName(gen[0].filter(ev.event_seq % 11 == 0))
    return batches


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_driver_plan_matches_spark_plan(spark, tmp_path, mode):
    """The driver plan (one Arrow collect, pyarrow aggregation) and the
    Spark plan aggregation give the same commit record, state and
    changelog over out-of-order epochs with duplicate deliveries, an
    op tie on the winning order and null key parts — and both equal the
    sequential oracle."""
    batches = _tricky_epochs(spark)
    got = {
        driver_plan: _run(
            spark, tmp_path / str(driver_plan), batches, 2_000_000, driver_plan, mode
        )
        for driver_plan in PLANS
    }
    (t_d, r_d, s_d), (t_s, r_s, s_s) = got[True], got[False]

    def record(r):
        return (r.rows_in, r.rows_upserted, r.rows_deleted, r.event_seq_min,
                r.event_seq_max, r.touched_buckets, r.bucket_stats)

    assert [record(r) for r in r_d] == [record(r) for r in r_s]
    pd.testing.assert_frame_equal(s_d, s_s, check_dtype=False)
    pd.testing.assert_frame_equal(_changelog(t_d), _changelog(t_s), check_dtype=False)
    ora = replay_oracle([b.toPandas() for b in batches])
    pd.testing.assert_frame_equal(s_d[ora.columns], ora, check_dtype=False)

    for t in (t_d, t_s):
        # a stored row and the change that wrote it agree on deletion
        stored = t.read(include_tombstones=True).toPandas()
        ch = t.changes(0).toPandas()
        keyed = stored.merge(ch, on=["repo", "path", "last_event_seq"])
        assert len(keyed) > 0
        assert ((keyed.change_type == "delete") == keyed._deleted.astype(bool)).all()



def test_gate_reads_row_bound_without_a_job(spark, tmp_path, monkeypatch):
    """The driver plan's gate first reads a row bound that runs no Spark
    job — ``maxRows`` for generated data, parquet footers for a file read,
    None when neither is known — so an epoch over the gate goes to the
    Spark plan without paying the driver plan's collect."""
    import pyspark.sql.functions as F

    ev = change_events(spark, 500, seed=3).drop("delivery_order")
    ev.write.parquet(str(tmp_path / "ev"))
    files = spark.read.parquet(str(tmp_path / "ev"))
    rdd_backed = spark.createDataFrame([(1,)], "a int")
    sc = spark.sparkContext
    sc.setJobGroup("row-bound", "the gate's row bound")
    try:
        assert M._row_bound(ev) == 500
        assert M._row_bound(files) == 500
        assert M._row_bound(files.filter("op = 'delete'")) == 500  # footers overcount
        assert M._row_bound(rdd_backed) is None
        monkeypatch.setattr(M, "DRIVER_PLAN_MAX_ROWS", 499)
        assert M._plan_on_driver(files, ["repo", "path"], "event_seq", 4, F.lit(0)) is None
        assert list(sc.statusTracker().getJobIdsForGroup("row-bound")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _decide_epochs(spark):
    """``_tricky_epochs`` plus a delete of a key the table never held
    (a tombstone), and from the third epoch on a column the table lacks:
    the schema evolves, so the earlier files are read under an older
    schema version."""
    import pyspark.sql.functions as F

    batches = _tricky_epochs(spark)
    ghost = spark.createDataFrame(
        [(10_011, "delete", "ghost", "absent.py", "c", "py", "x")],
        "event_seq long, op string, repo string, path string, "
        "commit string, lang string, content string",
    ).withColumn("event_ts", (56789 + F.col("event_seq")).cast("timestamp"))
    batches[1] = batches[1].unionByName(ghost)
    batches[2] = batches[2].withColumn("tag", F.lit("t"))
    return batches


def _spy_decides(monkeypatch):
    """Record which decide ran for each commit, and the matched files'
    relative paths it returned."""
    seen = []
    on_driver, on_spark, rel_paths = M._decide_on_driver, M._decide_on_spark, M._rel_paths

    def driver(*a, **kw):
        out = on_driver(*a, **kw)
        seen.append(("driver", out[1]))
        return out

    def spark_(*a, **kw):
        seen.append(("spark", None))
        return on_spark(*a, **kw)

    def rel(*a, **kw):
        out = rel_paths(*a, **kw)
        seen[-1] = ("spark", out)
        return out

    monkeypatch.setattr(M, "_decide_on_driver", driver)
    monkeypatch.setattr(M, "_decide_on_spark", spark_)
    monkeypatch.setattr(M, "_rel_paths", rel)
    return seen


def test_driver_decide_matches_spark_decide(spark, tmp_path, monkeypatch):
    """The driver decide (one pyarrow read of the decide files' key,
    order and tombstone columns, the action table in Arrow) and the
    Spark decide (the slim action join and the matched-file collect)
    give the same state, changelog, commit record and matched files —
    over null key parts, an op tie on the winning order, a tombstone
    for an absent key, duplicate and stale re-deliveries, decide files
    of an older schema version and of a retired bucket layout."""
    import pyarrow.parquet as pq

    from rocket_etl_spark.lake.maintenance import evolve_buckets

    batches = _decide_epochs(spark)

    def replay(name, driver_decide):
        with monkeypatch.context() as m:
            seen = _spy_decides(m)
            if not driver_decide:  # every decide set over the gate
                m.setattr(M, "_footer_rows", lambda paths: M.DRIVER_PLAN_MAX_ROWS + 1)
            t = create_repo_files_table(spark, tmp_path / name, num_buckets=4)
            results = [replay_batch(t, batches[0], epoch_id=0)]
            evolve_buckets(t, 8)  # later decides also read the retired layout
            results += [replay_batch(t, b, epoch_id=i) for i, b in enumerate(batches[1:], 1)]
        assert [path for path, _ in seen] == ["driver" if driver_decide else "spark"] * 3
        # a matched file, by what it holds: its (key, order) rows
        def held(f):
            rows = pq.read_table(t.path / f, columns=["repo", "path", "last_event_seq"])
            return frozenset(tuple(r.values()) for r in rows.to_pylist())

        matched = [{held(f) for f in files} for _, files in seen]
        return t, results, matched

    t_d, r_d, m_d = replay("driver", True)
    t_s, r_s, m_s = replay("spark", False)

    def record(r):
        return (r.rows_in, r.rows_upserted, r.rows_deleted, r.event_seq_min,
                r.event_seq_max, r.touched_buckets, r.bucket_stats,
                r.decide_files_scanned, r.decide_files_total)

    assert [record(r) for r in r_d] == [record(r) for r in r_s]
    assert m_d == m_s
    assert any(m_d)  # later epochs rewrite files that hold their keys

    def state(t):
        return t.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)

    pd.testing.assert_frame_equal(state(t_d), state(t_s), check_dtype=False)
    pd.testing.assert_frame_equal(_changelog(t_d), _changelog(t_s), check_dtype=False)
    ora = replay_oracle([b.drop("tag").toPandas() for b in batches])
    got = state(t_d)
    pd.testing.assert_frame_equal(got[ora.columns], ora, check_dtype=False)
    # the ghost delete left a tombstone, no live row
    tomb = t_d.read(include_tombstones=True).toPandas()
    assert tomb[(tomb.repo == "ghost")]._deleted.tolist() == [True]
    assert "ghost" not in set(got.repo)


def test_decide_over_the_gate_runs_on_spark_without_reading_the_files(
    spark, tmp_path, monkeypatch
):
    """An epoch planned on the driver whose decide files hold more than
    ``DRIVER_PLAN_MAX_ROWS`` rows (by their parquet footers, no Spark
    job) takes the Spark decide, and pyarrow never reads those files."""
    import importlib

    import pyspark.sql.functions as F

    # the module, not the package's ``lookup`` function of the same name
    L = importlib.import_module("rocket_etl_spark.lake.lookup")
    ev = change_events(spark, 2_000, seed=5, delete_frac=0.1).drop("delivery_order")
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, ev, epoch_id=0)
    mx = ev.agg(F.max("event_seq")).first()[0]
    epoch = ev.orderBy("event_seq").limit(20).withColumn("event_seq", F.col("event_seq") + mx)

    seen = _spy_decides(monkeypatch)
    monkeypatch.setattr(M, "DRIVER_PLAN_MAX_ROWS", 100)  # epoch 20 events, files > 100 rows

    def no_read(*a, **kw):
        raise AssertionError("the driver plan and the Spark decide are expected")

    monkeypatch.setattr(L, "_read_probed", no_read)
    monkeypatch.setattr(M, "_plan_on_spark", no_read)  # the epoch is planned on the driver
    res = replay_batch(t, epoch, epoch_id=1)
    assert [path for path, _ in seen] == ["spark"]
    assert res.rows_in == 20 and res.decide_files_scanned > 0

    eng = t.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    ora = replay_oracle([ev.toPandas(), epoch.toPandas()])
    pd.testing.assert_frame_equal(eng[ora.columns], ora, check_dtype=False)
