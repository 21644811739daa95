"""Zone-map pruning for declarative filtered reads (lake/lookup.py
``filtered_read`` + jobspec lake sources) — round-5 verdict item #4:
users write ``filter``, not ``range_scan``; a simple range/equality
predicate on a zone-mapped column must prune files automatically, with
the residual predicate keeping the answer identical.
"""

import pyspark.sql.functions as F

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.lake.lookup import _parse_prunable_conjuncts, filtered_read
from rocket_etl_spark.lake.maintenance import compact
from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch


def _clustered_table(spark, tmp_path):
    table = create_repo_files_table(spark, tmp_path / "t", num_buckets=4)
    ev = change_events(spark, 6000, seed=31, delete_frac=0.05)
    replay_batch(table, ev, epoch_id=0)
    # clustered compaction: each file covers a disjoint (repo, path) slice,
    # the layout zone-map range pruning exists to exploit (explicit
    # buckets: the selective default skips 1-file buckets)
    compact(
        table, buckets=[0, 1, 2, 3], sort_cols=["repo", "path"],
        target_file_rows=400,
    )
    return table


def test_parser_is_conservative():
    from rocket_etl_spark.streaming.replay import REPO_FILES_SCHEMA

    s = REPO_FILES_SCHEMA
    assert _parse_prunable_conjuncts("repo >= 'r-01' AND repo <= 'r-02'", s) == {
        "repo": ("r-01", "r-02")
    }
    assert _parse_prunable_conjuncts("repo BETWEEN 'a' AND 'b'", s) == {
        "repo": ("a", "b")
    }
    assert _parse_prunable_conjuncts("lang = 'py'", s) == {"lang": ("py", "py")}
    # int bound on a bigint column
    assert _parse_prunable_conjuncts("last_event_seq > 100", s) == {
        "last_event_seq": (100, None)
    }
    # anything non-conjunctive or non-literal contributes nothing
    assert _parse_prunable_conjuncts("repo = 'a' OR repo = 'b'", s) == {}
    assert _parse_prunable_conjuncts("(repo = 'a')", s) == {}
    assert _parse_prunable_conjuncts("length(repo) > 3", s) == {}
    assert _parse_prunable_conjuncts("repo IN ('a', 'b')", s) == {}
    # numeric literal against a string column: skipped
    assert _parse_prunable_conjuncts("repo >= 5", s) == {}


def test_filtered_read_prunes_and_matches(spark, tmp_path):
    table = _clustered_table(spark, tmp_path)
    lo = table.read().select(F.min("repo")).first()[0]
    pred = f"repo <= '{lo}'"
    pruned, stats = filtered_read(table, pred, return_stats=True)
    assert stats["files_scanned"] < stats["files_total"], stats
    assert stats["pruned_on"] == ["repo"]
    expect = table.read().filter(pred)
    got = {tuple(r) for r in pruned.select("repo", "path", "last_event_seq").collect()}
    want = {tuple(r) for r in expect.select("repo", "path", "last_event_seq").collect()}
    assert got == want and want


def test_jobspec_lake_source_prunes(spark, tmp_path):
    from rocket_etl_spark.plans.jobspec import (
        DestSpec, JobSpec, SourceSpec, TransformSpec, extract, run_job,
    )

    table = _clustered_table(spark, tmp_path)
    lo = table.read().select(F.min("repo")).first()[0]
    spec = JobSpec(
        name="lake-read",
        source=SourceSpec(format="lake", path=str(tmp_path / "t")),
        transform=TransformSpec(filter=f"repo <= '{lo}'"),
        dest=DestSpec(mode="file", path=str(tmp_path / "out"), file_format="parquet"),
    )
    # the extract's scan covers fewer files than the table holds — assert
    # via the physical plan's input file count
    df = extract(spark, spec)
    scanned_files = {r[0] for r in df.select(F.input_file_name()).distinct().collect()}
    snap = table.current_snapshot()
    total_files = sum(len(fl) for fl in snap["buckets"].values())
    assert len(scanned_files) < total_files, (len(scanned_files), total_files)
    # equivalence end-to-end: the job's output equals the unpruned
    # read+filter
    run_job(spark, spec)
    out = spark.read.parquet(str(tmp_path / "out"))
    want = table.read().filter(f"repo <= '{lo}'")
    assert out.count() == want.count() > 0

    # a transform that touches the filtered column disables pruning on it
    # (correctness guard), but the job still runs and matches
    spec2 = JobSpec(
        name="lake-read-renamed",
        source=SourceSpec(format="lake", path=str(tmp_path / "t")),
        transform=TransformSpec(
            renames={"repo": "repository"}, filter=f"repository <= '{lo}'"
        ),
        dest=DestSpec(mode="file", path=str(tmp_path / "out2"), file_format="parquet"),
    )
    run_job(spark, spec2)
    out2 = spark.read.parquet(str(tmp_path / "out2"))
    assert out2.count() == want.count()


def _event(spark, repo, path, seq, lang):
    return (
        change_events(spark, 1, seed=9, delete_frac=0.0)
        .withColumn("repo", F.lit(repo))
        .withColumn("path", F.lit(path))
        .withColumn("lang", F.lit(lang))
        .withColumn("event_seq", F.lit(seq).cast("long"))
    )


def test_value_bounds_never_hide_the_mor_winner(spark, tmp_path):
    """A late merge-on-read epoch delivers a STALE row whose values match
    the predicate while the reconciliation winner's do not.  Value-column
    zone maps (the order column included) must not drop the winner's
    base file from a delta-bearing bucket; key-column bounds still prune
    there."""
    from rocket_etl_spark.lake.lookup import range_scan

    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=1)
    replay_batch(t, _event(spark, "r", "a.py", 10, "python"), epoch_id=0)
    replay_batch(t, _event(spark, "z", "b.py", 11, "python"), epoch_id=1)
    replay_batch(t, _event(spark, "r", "a.py", 5, "go"), epoch_id=2, mode="mor")
    assert t.read().filter("lang = 'go'").count() == 0
    assert filtered_read(t, "lang = 'go'").count() == 0
    assert range_scan(t, "lang", "go", "go").count() == 0
    assert filtered_read(t, "last_event_seq <= 5").count() == 0
    got, stats = filtered_read(t, "repo = 'z'", return_stats=True)
    assert [(r.repo, r.path) for r in got.collect()] == [("z", "b.py")]
    assert stats["files_scanned"] < stats["files_total"], stats


def test_legacy_winner_survives_a_late_mor_delta(spark, tmp_path):
    """After bucket-spec evolution the winner's base file sits under the
    retired layout while a late merge-on-read epoch writes a STALE row
    of the same key as a delta under the current one.  The delta must
    reconcile against the legacy file, and value bounds must not drop
    the legacy file while a delta exists."""
    from rocket_etl_spark.lake.lookup import range_scan
    from rocket_etl_spark.lake.maintenance import evolve_buckets

    t = create_repo_files_table(spark, tmp_path / "t", num_buckets=1)
    replay_batch(t, _event(spark, "r", "a.py", 10, "python"), epoch_id=0)
    evolve_buckets(t, 2)
    replay_batch(t, _event(spark, "r", "a.py", 5, "go"), epoch_id=1, mode="mor")
    assert [(r.lang, r.last_event_seq) for r in t.read().collect()] == [("python", 10)]
    assert filtered_read(t, "lang = 'go'").count() == 0
    assert range_scan(t, "lang", "go", "go").count() == 0
    assert filtered_read(t, "lang = 'python'").count() == 1


def test_date_literals_bound_like_spark_reads_them(spark, tmp_path):
    """``'2024-1-5'`` is the date 2024-01-05 to Spark; compared as a raw
    string it sorts after ``'2024-01-07'`` and would prune that file."""
    from rocket_etl_spark.lake.lookup import range_scan
    from rocket_etl_spark.lake.merge import merge_batch
    from rocket_etl_spark.lake.table import LakeTable
    from rocket_etl_spark.schema.registry import TableSchema

    schema = TableSchema.from_ddl([("k", "bigint"), ("d", "date"), ("seq", "bigint")])
    assert _parse_prunable_conjuncts("d >= '2024-1-5'", schema) == {
        "d": ("2024-01-05", None)
    }
    for pred in ("d >= '2024-01'", "d = '2024-2-30'", "d < '2024-01-07 00:00'"):
        assert _parse_prunable_conjuncts(pred, schema) == {}, pred
    t = LakeTable.create(
        spark, tmp_path / "t", schema, key_cols=("k",), order_col="seq", num_buckets=1
    )
    merge_batch(
        t,
        spark.sql("SELECT 1L AS k, DATE'2024-01-07' AS d, 1L AS seq, 'upsert' AS op"),
        epoch_id=0,
    )
    assert filtered_read(t, "d >= '2024-1-5'").count() == 1
    assert range_scan(t, "d", lo="2024-1-5").count() == 1
    assert filtered_read(t, "d >= '2024-1-8'", return_stats=True)[1]["files_scanned"] == 0
