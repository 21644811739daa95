"""Per-file key zone maps (MIN/MAX range pruning of the decide scan).

Zone maps are built from parquet FOOTER statistics only, so unlike
blooms they attach to every file of any commit size.  Contract under
test: a range-skipped file provably contains no winner key (per-column
exclusion implies tuple exclusion), so pruning changes which files the
DECIDE scan reads — never the merged state.  Also covers the dtype gate
shared with blooms: keys whose Python representation differs between the
pyarrow write side and the Spark collect probe side (timestamps, floats)
must produce NO pruning metadata at all — a representation mismatch
would be a silent false negative.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

import rocket_etl_spark.lake.planner as LP
import rocket_etl_spark.lake.merge as M
from rocket_etl_spark.generate import change_events
from rocket_etl_spark.oracle import replay_oracle
from rocket_etl_spark.lake.table import LakeTable
from rocket_etl_spark.schema.registry import TableSchema
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def _replay(spark, path, batches, *, blooms, ranges):
    old_b, old_r = LP._BLOOMS_ENABLED, LP._RANGES_ENABLED
    LP._BLOOMS_ENABLED, LP._RANGES_ENABLED = blooms, ranges
    try:
        t = create_repo_files_table(spark, path, num_buckets=4)
        res = [replay_batch(t, b, epoch_id=i) for i, b in enumerate(batches)]
        state = t.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
        return t, res, state
    finally:
        LP._BLOOMS_ENABLED, LP._RANGES_ENABLED = old_b, old_r


def test_zone_maps_prune_where_blooms_cannot(spark, tmp_path):
    """Sorted-key trickle workload past the bloom caps: commits bigger
    than BLOOM_COMMIT_MAX_ROWS carry no blooms, but their zone maps
    still prune a disjoint-key trickle epoch — and the state matches a
    pruning-free run and the sequential oracle."""
    old = LP.BLOOM_COMMIT_MAX_ROWS
    LP.BLOOM_COMMIT_MAX_ROWS = 10  # force bloom-free commits
    try:
        ev = change_events(spark, 8_000, seed=77, delete_frac=0.1)
        # RANGE-disjoint slices (zone maps prune on value bounds, not
        # hashes): repos are "org{0-9}/repo{idx}", so a lexicographic
        # pivot at "org5" splits cleanly; the trickle updates only
        # upper-slice keys, so lower-slice files' [min,max] exclude them
        lower = M.F.col("repo") < "org5"
        batches = [
            ev.filter(lower),
            ev.filter(~lower),
            ev.filter(~lower & (M.F.abs(M.F.xxhash64("path")) % 20 == 0))
            .withColumn("event_seq", M.F.col("event_seq") + 1_000_000),
        ]
        t_r, r_r, s_r = _replay(spark, tmp_path / "rng", batches, blooms=True, ranges=True)
        t_n, r_n, s_n = _replay(spark, tmp_path / "off", batches, blooms=False, ranges=False)

        pd.testing.assert_frame_equal(s_r, s_n, check_dtype=False)
        ora = replay_oracle([b.toPandas() for b in batches])
        pd.testing.assert_frame_equal(s_r[ora.columns], ora, check_dtype=False)

        snap = t_r.current_snapshot()
        entries = [fe for fl in snap["buckets"].values() for fe in fl]
        assert not any("bloom" in fe for fe in entries)  # cap respected
        assert any("kr" in fe for fe in entries)
        # the trickle epoch pruned via ranges alone
        assert r_r[2].decide_files_scanned < r_r[2].decide_files_total
        assert r_n[2].decide_files_scanned == r_n[2].decide_files_total
    finally:
        LP.BLOOM_COMMIT_MAX_ROWS = old


def test_unsafe_key_dtype_disables_pruning_metadata(spark, tmp_path):
    """A timestamp key is representation-unstable across the pyarrow /
    Spark-collect boundary: both blooms and zone maps must be withheld,
    and the merge must still converge correctly (full decide scan)."""
    schema = TableSchema.from_ddl(
        [("k_ts", "timestamp"), ("val", "string"), ("seq", "bigint")]
    )
    t = LakeTable.create(
        spark, tmp_path / "t", schema, key_cols=("k_ts",), order_col="seq",
        num_buckets=2,
    )
    df1 = spark.sql(
        "SELECT timestamp_seconds(1000 + id) AS k_ts, concat('a', id) AS val, "
        "id AS seq, 'upsert' AS op FROM range(30)"
    )
    df2 = spark.sql(
        "SELECT timestamp_seconds(1000 + id) AS k_ts, concat('b', id) AS val, "
        "100 + id AS seq, 'upsert' AS op FROM range(5)"
    )
    M.merge_batch(t, df1, epoch_id=0)
    res = M.merge_batch(t, df2, epoch_id=1)
    snap = t.current_snapshot()
    entries = [fe for fl in snap["buckets"].values() for fe in fl]
    assert not any("bloom" in fe for fe in entries)
    # since late r5 SAFE non-key columns still get zone maps (val here) —
    # but never the unstable key column, and the decide probe stays off
    assert not any("k_ts" in (fe.get("kr") or {}) for fe in entries)
    assert res.decide_files_scanned == res.decide_files_total  # no pruning
    got = t.read().toPandas().sort_values("seq")
    # the 5 overwritten keys carry the 'b' values; 25 keep their 'a' values
    assert len(got) == 30
    assert (got.val.str.startswith("b")).sum() == 5


def test_range_canon_orders_like_values():
    """hex(bytes) and ISO dates must sort exactly like the raw values —
    the zone-map compare is on canonical strings."""
    import datetime as dt
    import random

    rnd = random.Random(7)
    bs = [bytes(rnd.randrange(256) for _ in range(rnd.randrange(1, 9))) for _ in range(50)]
    canon = [LP._range_canon(b, "binary") for b in bs]
    assert [c for _, c in sorted(zip(bs, canon))] == sorted(canon)
    ds = [dt.date(2000 + rnd.randrange(30), 1 + rnd.randrange(12), 1 + rnd.randrange(28))
          for _ in range(50)]
    canon_d = [LP._range_canon(d, "date") for d in ds]
    assert [c for _, c in sorted(zip(ds, canon_d))] == sorted(canon_d)
    # bytearray (Spark collect) and bytes (pyarrow) canonicalize identically
    assert LP._range_canon(bytearray(b"\x00\xff"), "binary") == LP._range_canon(
        b"\x00\xff", "binary"
    )


def test_range_hit_semantics():
    fe = {"kr": {"a": [10, 20], "b": ["m", "p"]}}
    # a winner inside both column ranges -> may hit
    assert LP._range_hit(fe, {"a": [15], "b": ["n"]})
    # no winner value of 'a' in [10, 20] -> provably absent
    assert not LP._range_hit(fe, {"a": [5, 30], "b": ["n"]})
    # column without collected bounds is ignored
    assert LP._range_hit(fe, {"b": ["n"]})
    # file without a zone map is always scanned
    assert LP._range_hit({}, {"a": [999]})


def test_zone_maps_cover_non_key_columns_with_truncated_bounds(spark, tmp_path):
    """Since late r5 every supported column gets footer min/max (Iceberg
    column bounds), with long string bounds truncated safely — so
    filtered_read prunes on NON-KEY columns too, and a KB-sized content
    column never bloats the snapshot JSON."""
    from pyspark.errors import AnalysisException

    from rocket_etl_spark.functions.lang import normalize_lang_expr
    from rocket_etl_spark.generate import change_events
    from rocket_etl_spark.lake.lookup import filtered_read
    from rocket_etl_spark.lake.planner import _RANGE_TRUNC
    from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch

    events = change_events(spark, 6_000, seed=21, delete_frac=0.0)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    # one epoch per disjoint NON-KEY slice (lang below, at and above
    # 'go'; lang is a function of the key, so no key spans two epochs):
    # every file covers one slice -> pruning
    lang = normalize_lang_expr("lang")
    for i, cond in enumerate([lang < "go", lang == "go", lang > "go"]):
        replay_batch(t, events.filter(cond), epoch_id=i)
    snap = t.current_snapshot()
    for fl in snap["buckets"].values():
        for fe in fl:
            kr = fe.get("kr") or {}
            assert "lang" in kr and "last_event_seq" in kr  # non-key bounds
            for c, (mn, mx) in kr.items():
                if isinstance(mn, str):
                    # truncation cap (+1 for the incremented last char)
                    assert len(mn) <= _RANGE_TRUNC and len(mx) <= _RANGE_TRUNC + 1

    df, st = filtered_read(t, "lang >= 'go' AND lang <= 'go'", return_stats=True)
    assert st["files_scanned"] < st["files_total"], st
    expect = t.read().filter("lang = 'go'").count()
    assert df.count() == expect

    # truncated CONTENT bounds stay correct for range predicates
    some = t.read().select("content").first()[0]
    assert "'" not in some and "\\" not in some  # a plain SQL literal
    df2 = filtered_read(t, f"content >= '{some}' AND content <= '{some}'")
    assert df2.count() == t.read().filter(F.col("content") == some).count()

    # an unknown column prunes nothing and fails in the residual filter
    with pytest.raises(AnalysisException, match="nope"):
        filtered_read(t, "nope >= 1 AND nope <= 2")
