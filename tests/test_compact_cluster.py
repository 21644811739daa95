"""Sorted (clustered) compaction: disjoint per-file key slices + attached
zone maps / blooms make the big base files prunable in later COW decide
scans (lake/maintenance.py sort_cols/target_file_rows)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.lake.maintenance import compact
from rocket_etl_spark.oracle import replay_oracle
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def _state(table) -> pd.DataFrame:
    return (
        table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )


def test_clustered_compaction_attaches_metadata_and_preserves_state(spark, tmp_path):
    events = change_events(spark, 6_000, seed=5, delete_frac=0.1)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    for i in range(3):
        replay_batch(
            t,
            events.filter(
                (events.event_seq >= i * 2_000) & (events.event_seq < (i + 1) * 2_000)
            ),
            epoch_id=i,
        )
    before = _state(t)
    res = compact(t, sort_cols=["repo", "path"], target_file_rows=150)
    assert res["buckets_rewritten"] > 0
    snap = t.current_snapshot()
    per_bucket_files = [fl for fl in snap["buckets"].values() if fl]
    # size-targeted split: at least one bucket got multiple slice files
    assert any(len(fl) > 1 for fl in per_bucket_files)
    for fl in per_bucket_files:
        for fe in fl:
            assert "kr" in fe and "repo" in fe["kr"], fe  # zone map attached
        # slices within a bucket cover DISJOINT repo ranges (sorted write):
        # ordering files by min(repo), each min must be >= the previous max
        spans = sorted((fe["kr"]["repo"][0], fe["kr"]["repo"][1]) for fe in fl)
        for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
            assert lo_next >= hi_prev
    pd.testing.assert_frame_equal(before, _state(t), check_dtype=False)
    pd.testing.assert_frame_equal(
        before,
        replay_oracle([events.toPandas()]),
        check_dtype=False,
    )


def test_clustered_base_prunes_decide_scan(spark, tmp_path):
    """After a clustered compaction, a small COW merge must scan strictly
    fewer decide files than the bucket totals — the zone maps on the base
    slices do the pruning (lake/planner.py select_files)."""
    events = change_events(spark, 8_000, seed=6, n_repos=200, delete_frac=0.0)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    replay_batch(t, events, epoch_id=0)
    compact(t, min_files=1, sort_cols=["repo", "path"], target_file_rows=200)
    tiny = events.filter(events.event_seq >= 7_990)  # a trickle epoch
    res = replay_batch(t, tiny, epoch_id=1)
    assert res.decide_files_total > 0
    assert res.decide_files_scanned < res.decide_files_total
    pd.testing.assert_frame_equal(
        _state(t), replay_oracle([events.toPandas()]), check_dtype=False
    )


def test_unsorted_compaction_unchanged_shape(spark, tmp_path):
    """Default compaction still packs one file per bucket (no regression),
    now with metadata attached."""
    events = change_events(spark, 4_000, seed=8)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    for i in range(2):
        replay_batch(
            t,
            events.filter(
                (events.event_seq >= i * 2_000) & (events.event_seq < (i + 1) * 2_000)
            ),
            epoch_id=i,
        )
    compact(t)
    snap = t.current_snapshot()
    for fl in snap["buckets"].values():
        assert len(fl) <= 1
        for fe in fl:
            assert "kr" in fe


def test_zorder_clustering_prunes_on_every_z_column(spark, tmp_path):
    """Z-order vs lexicographic clustering: after a linear sort by
    (repo, path), each slice spans nearly the whole PATH domain, so a
    path range prunes almost nothing; the Z-curve layout keeps per-file
    min/max balanced-tight on BOTH columns, so the same path range skips
    files.  State is preserved either way (residual predicate exact)."""
    from rocket_etl_spark.lake.lookup import range_scan

    events = change_events(spark, 8_000, seed=9, delete_frac=0.0)
    lin = create_repo_files_table(spark, tmp_path / "lin", num_buckets=2)
    zo = create_repo_files_table(spark, tmp_path / "zo", num_buckets=2)
    replay_batch(lin, events, epoch_id=0)
    replay_batch(zo, events, epoch_id=0)
    compact(lin, min_files=1, sort_cols=["repo", "path"], target_file_rows=150)
    compact(zo, min_files=1, sort_cols=["repo", "path"], target_file_rows=150,
            zorder=True)

    # identical logical state under both layouts
    pd.testing.assert_frame_equal(_state(lin), _state(zo), check_dtype=False)

    paths = sorted(r[0] for r in lin.read().select("path").distinct().collect())
    lo, hi = paths[0], paths[max(1, len(paths) // 20)]  # ~5% path range
    df_l, st_l = range_scan(lin, "path", lo, hi, return_stats=True)
    df_z, st_z = range_scan(zo, "path", lo, hi, return_stats=True)
    assert sorted(map(tuple, df_l.collect())) == sorted(map(tuple, df_z.collect()))
    # the z-layout must skip files on the SECOND column where the
    # lexicographic layout cannot
    assert st_z["files_scanned"] < st_z["files_total"]
    assert st_z["files_scanned"] < st_l["files_scanned"], (st_l, st_z)


def test_zorder_box_query_multiplies_skip_rates(spark, tmp_path):
    """Conjunctive range predicates (`also=`) on a Z-ordered layout:
    each z-column's balanced bounds prune independently, so the box
    query scans fewer files than either single-column range."""
    from rocket_etl_spark.lake.lookup import range_scan

    events = change_events(spark, 8_000, seed=15, delete_frac=0.0)
    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=2)
    replay_batch(t, events, epoch_id=0)
    compact(t, min_files=1, sort_cols=["repo", "path"], target_file_rows=150,
            zorder=True)

    repos = sorted(r[0] for r in t.read().select("repo").distinct().collect())
    paths = sorted(r[0] for r in t.read().select("path").distinct().collect())
    r_rng = (repos[0], repos[max(1, len(repos) // 4)])
    p_rng = (paths[0], paths[max(1, len(paths) // 4)])

    _, st_r = range_scan(t, "repo", *r_rng, return_stats=True)
    _, st_p = range_scan(t, "path", *p_rng, return_stats=True)
    box, st_box = range_scan(
        t, "repo", *r_rng, also={"path": p_rng}, return_stats=True
    )
    assert st_box["files_scanned"] <= min(
        st_r["files_scanned"], st_p["files_scanned"]
    ), (st_r, st_p, st_box)
    assert st_box["files_scanned"] < st_box["files_total"]
    expect = t.read().filter(
        (F.col("repo") >= r_rng[0]) & (F.col("repo") <= r_rng[1])
        & (F.col("path") >= p_rng[0]) & (F.col("path") <= p_rng[1])
    )
    assert sorted(map(tuple, box.collect())) == sorted(map(tuple, expect.collect()))
