"""Plan audit: dump formatted physical plans for the replay pipeline and
representative harness queries into PLANS.md, with automated red-flag
checks (cartesian products, missing pushdown, row-at-a-time Python).

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

import pyspark.sql.functions as F  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from rocket_etl_spark.generate import change_events  # noqa: E402
from rocket_etl_spark.session import build_session  # noqa: E402
from rocket_etl_spark.streaming.replay import prepare_events  # noqa: E402
from rocket_etl_spark.operators.lww import lww_dedupe  # noqa: E402

SF = "/root/testdata/sf0.01"
AUDIT = [
    "filter_pred",      # expect PushedFilters at the scan
    "project",          # expect pruned ReadSchema
    "join_inner",       # expect shuffle/broadcast hash join, no BNLJ
    "join_broadcast",   # expect BroadcastHashJoin
    "window_lww",       # the core dedupe
    "agg_basic",        # expect partial+final HashAggregate
    "sort_limit",       # expect TakeOrderedAndProject
    "dedup_minhash",    # no cartesian product
    "dedup_simhash",    # multi-table banded candidates, no cartesian product
    "knn_cosine",       # broadcast of the 1-row query side
    "text_analysis",    # fused text pass: ONE scan, one Project, no join
    "corpus_sample_frac",   # shuffle-free: a filter inside the scan stage
    "corpus_sample_quota",  # one exchange (by stratum) + in-partition sort
    "corpus_pack",          # UDTF: one exchange (PARTITION BY) + in-partition sort
]

FLAGS = ["CartesianProduct", "BroadcastNestedLoopJoin"]


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = build_session(app_name="plan-audit", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    out = [
        "# PLANS — physical-plan audit (auto-generated by tools/dump_plans.py)",
        "",
        "Checks: filters/projections reach the parquet scan (PushedFilters /",
        "ReadSchema), joins are hash/broadcast (never cartesian), aggregations",
        "are partial+final, top-k plans TakeOrderedAndProject, and nothing in",
        "the hot path is row-at-a-time Python.",
        "",
    ]
    problems: list[str] = []

    # the engine's core pipeline: transform + LWW dedupe over the stream
    ev = change_events(spark, 10_000)
    core = lww_dedupe(prepare_events(ev), keys=["repo", "path"], order_col="last_event_seq")
    p = plan_of(core)
    out += ["## replay core (transform + LWW dedupe)", "```", p.strip(), "```", ""]
    for f in FLAGS:
        if f in p:
            problems.append(f"replay core: {f}")
    # max_by(struct) buffers are var-length → Spark picks SortAggregate; the
    # invariant that matters is PARTIAL aggregation before the exchange
    # (map-side combine = hot-key skew defused) and exactly one exchange.
    # A side benefit: SortAggregate leaves output hash-partitioned AND
    # key-sorted, which the downstream sort-merge MERGE join reuses as-is.
    if "partial_max_by" not in p:
        problems.append("replay core: expected partial_max_by before the exchange")
    if p.count(") Exchange") != 1:  # detail-section headers = one per operator
        problems.append("replay core: expected exactly one shuffle for LWW dedupe")

    # the broadcast MERGE (lake/merge.py::_merge_broadcast): the keep side
    # must carry the table's payload with ZERO exchanges (map-side anti
    # join only), and the changed side exactly one (bucket placement)
    from rocket_etl_spark.lake.merge import _merge_broadcast

    batch = prepare_events(ev, defer_hash=True).withColumn(
        "content_sha256", F.sha2("content", 256)
    )
    vals = ["lang", "content", "content_sha256", "last_commit", "last_event_seq"]
    current = batch.filter("op <> 'delete'").drop("op").withColumn(
        "_deleted", F.lit(False)
    )
    outputs, _matched = _merge_broadcast(
        batch, current, ["repo", "path"], "last_event_seq", vals, 16, {}
    )
    (changed, _), (keeps, _) = outputs
    def payload_path_shuffles(df) -> int:
        """ShuffleExchange nodes OUTSIDE BroadcastExchange subtrees — i.e.
        on the path the payload actually travels.  Exchanges inside a
        broadcast subtree only move slim winner keys and are allowed."""
        def walk(p) -> int:
            cls = p.getClass().getSimpleName()
            if "BroadcastExchange" in cls:
                return 0
            hit = 1 if "ShuffleExchange" in cls else 0
            ch = p.children()
            return hit + sum(walk(ch.apply(i)) for i in range(ch.size()))

        return walk(df._jdf.queryExecution().sparkPlan())

    kp = plan_of(keeps)
    out += ["## broadcast MERGE — keep side (map-side anti join)", "```", kp.strip(), "```", ""]
    if payload_path_shuffles(keeps) != 0:
        problems.append("broadcast MERGE: keep side must not shuffle the payload")
    if "BroadcastHashJoin" not in kp or "LeftAnti" not in kp:
        problems.append("broadcast MERGE: expected broadcast left-anti keep filter")
    cp = plan_of(changed.repartition(16, "_bucket"))
    # changed side: broadcast pick + thin dedupe guard + bucket placement —
    # payload-path exchanges must carry only winner rows (dedupe guard +
    # final placement = exactly two)
    out += ["## broadcast MERGE — changed side", "```", cp.strip(), "```", ""]
    n_cp = payload_path_shuffles(changed.repartition(16, "_bucket"))
    if n_cp > 2:
        problems.append(
            f"broadcast MERGE: changed side has {n_cp} payload shuffles (expected <=2)"
        )
    for f in FLAGS:
        if f in kp or f in cp:
            problems.append(f"broadcast MERGE: {f}")

    # merge-on-read reconciling read (lake/table.py::_mor_reconcile): the
    # deferred cost of mode='mor' must be ONE hash shuffle with map-side
    # partial max_by (skew-safe) and no join anywhere
    import tempfile

    from rocket_etl_spark.streaming.replay import create_repo_files_table, replay_batch

    mor_dir = tempfile.mkdtemp(prefix="plan-audit-mor-")
    mt = create_repo_files_table(spark, f"{mor_dir}/t", num_buckets=4)
    replay_batch(mt, ev.filter(ev.event_seq < 5_000), epoch_id=0, mode="mor")
    replay_batch(mt, ev.filter(ev.event_seq >= 5_000), epoch_id=1, mode="mor")
    p = plan_of(mt.read())
    out += ["## merge-on-read reconciling read", "```", p.strip(), "```", ""]
    for f in FLAGS:
        if f in p:
            problems.append(f"mor read: {f}")
    if "partial_max_by" not in p:
        problems.append("mor read: expected partial max_by (map-side combine)")
    if "Join" in p:
        problems.append("mor read: reconciliation must not join")
    import shutil

    shutil.rmtree(mor_dir, ignore_errors=True)

    # materialized-view refresh (lake/materialized.py::_plan_refresh — the
    # SAME DataFrames refresh() commits, not a reconstruction).  Additive
    # path: O(changed rows) — scans ONLY the window's commit files plus the
    # MV itself, never the base table, and column-prunes the payload out of
    # the changes scan.  Recompute path: dirty groups semi-join into a
    # column-pruned source scan.
    from rocket_etl_spark.lake.materialized import MaterializedAggregate

    mv_dir = tempfile.mkdtemp(prefix="plan-audit-mv-")
    st = create_repo_files_table(spark, f"{mv_dir}/t", num_buckets=4)
    replay_batch(st, ev.filter(ev.event_seq < 4_000), epoch_id=0)
    mv = MaterializedAggregate.create(
        spark, f"{mv_dir}/mv", st, group_cols=["repo"],
        aggs=[("n_files", "count", "*"), ("max_seq", "max", "last_event_seq")],
        num_buckets=4,
    )
    # epoch 1: brand-new keys, no deletes → every change is an insert
    ins = (
        ev.filter((ev.event_seq >= 4_000) & (ev.event_seq < 6_000))
        .filter(F.col("op") != "delete")
        .withColumn("repo", F.concat(F.lit("new-"), F.col("repo")))
    )
    replay_batch(st, ins, epoch_id=1)
    plan_add = mv._plan_refresh(st)
    p = plan_of(plan_add["refreshed"])
    out += ["## materialized-view refresh — additive path", "```", p.strip(), "```", ""]
    if plan_add["mode"] != "additive":
        problems.append(f"mv additive: expected additive mode, got {plan_add['mode']}")
    # exactly 3 scans: the window's commit files ×2 (delta agg + dirty set)
    # and the MV itself — a 4th would mean the base table was read.  The
    # pre-window commit dir must appear nowhere (O(changed rows) claim).
    n_scans = p.count("Location: InMemoryFileIndex")
    if n_scans != 3:
        problems.append(
            f"mv additive: {n_scans} parquet scans (expected 3: changes ×2 + MV)"
        )
    if "t/data/commit-00000001" in p:
        problems.append("mv additive: pre-window base-table commit was scanned")
    if "content" in p:
        problems.append("mv additive: payload column not pruned from the changes scan")
    mv.refresh(st)
    # epoch 2: same keys, later event_seq → updates force dirty-group recompute
    upd = ev.filter(ev.event_seq < 1_000).withColumn(
        "event_seq", ev.event_seq + 100_000
    )
    replay_batch(st, upd, epoch_id=2)
    plan_re = mv._plan_refresh(st)
    p = plan_of(plan_re["refreshed"])
    out += ["## materialized-view refresh — dirty-group recompute path", "```", p.strip(), "```", ""]
    if plan_re["mode"] != "recompute":
        problems.append(f"mv recompute: expected recompute mode, got {plan_re['mode']}")
    if "LeftSemi" not in p:
        problems.append("mv recompute: expected dirty-group left-semi filter on the source scan")
    if "content" in p:
        problems.append("mv recompute: source scan not pruned to key/group/agg columns")
    for f in FLAGS:
        if f in p:
            problems.append(f"mv refresh: {f}")
    plan_re["refreshed"].unpersist()
    shutil.rmtree(mv_dir, ignore_errors=True)

    # metadata-pruned point lookup (lake/lookup.py): on a trickle layout
    # (many small bloomed/zone-mapped files) the probe must read a strict
    # SUBSET of the touched buckets' files, semi-join the probe keys via
    # broadcast, and never shuffle the payload (the only exchange allowed
    # is none — a plain filtered scan + broadcast semi join).
    from rocket_etl_spark.lake.lookup import lookup as _lookup

    lk_dir = tempfile.mkdtemp(prefix="plan-audit-lookup-")
    lt = create_repo_files_table(spark, f"{lk_dir}/t", num_buckets=4)
    for i in range(8):
        sl = ev.filter(
            (ev.event_seq >= i * 400) & (ev.event_seq < (i + 1) * 400)
        ).withColumn("path", F.concat(F.lit(f"e{i}/"), F.col("path")))
        replay_batch(lt, sl, epoch_id=i)
    probe = [
        (r["repo"], r["path"])
        for r in lt.read().select("repo", "path").orderBy("repo", "path").limit(3).collect()
    ]
    lk_df, lk_stats = _lookup(lt, probe, return_stats=True)
    p = plan_of(lk_df)
    out += [
        "## metadata-pruned point lookup "
        f"(files_scanned={lk_stats['files_scanned']} of {lk_stats['files_total']})",
        "```", p.strip(), "```", "",
    ]
    if lk_stats["files_scanned"] >= lk_stats["files_total"]:
        problems.append("lookup: no file pruning on the trickle layout")
    if "BroadcastHashJoin" not in p or "LeftSemi" not in p:
        problems.append("lookup: expected broadcast left-semi probe join")
    if payload_path_shuffles(lk_df) != 0:
        problems.append("lookup: payload must not shuffle on the probe path")
    for f in FLAGS:
        if f in p:
            problems.append(f"lookup: {f}")
    shutil.rmtree(lk_dir, ignore_errors=True)

    for name in AUDIT:
        df = qs[name](spark, SF)
        p = plan_of(df)
        out += [f"## {name}", "```", p.strip(), "```", ""]
        for f in FLAGS:
            if f in p and name != "knn_cosine":  # 1-row broadcast BNLJ is fine for knn
                problems.append(f"{name}: {f}")

    checks = {
        "filter_pred": ("PushedFilters: [", "filter not pushed to parquet scan"),
        "project": ("ReadSchema: struct<c_custkey:bigint,c_name:string>", "projection not pruned"),
        "join_broadcast": ("BroadcastHashJoin", "expected broadcast join"),
        "sort_limit": ("TakeOrderedAndProject", "expected top-k operator"),
        "agg_basic": ("HashAggregate", "expected hash aggregation"),
    }
    out += ["## automated checks", ""]
    for name, (needle, msg) in checks.items():
        p = plan_of(qs[name](spark, SF))
        ok = needle in p
        out.append(f"- {name}: {'OK' if ok else 'FAIL'} — {'has' if ok else msg} `{needle}`")
        if not ok:
            problems.append(f"{name}: {msg}")
    out.append(f"- red-flag scan (CartesianProduct/BNLJ in hot paths): "
               f"{'OK' if not problems else 'FAIL: ' + '; '.join(problems)}")

    with open("PLANS.md", "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"{len(problems)} problems; PLANS.md written")
    spark.stop()
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
