"""spark-submit entry point: tail a change-event directory into a lake table.

    spark-submit --py-files rocket_etl_spark.zip jobs/replay_job.py \
        --events <dir-or-uri> --table <table-path> --checkpoint <ckpt-path> \
        [--create --buckets 64] [--max-files-per-trigger 16] [--follow]

Drains everything currently available (availableNow) and exits, unless
--follow is given: then the query keeps tailing the directory and the job
runs until the query is stopped or the job is killed.  Either way every
micro-batch takes the one epoch path a batch replay takes
(``replay_stream`` → ``replay_batch``), the job is resumable from its
checkpoint and every epoch is exactly-once fenced.
"""

from __future__ import annotations

import argparse

from rocket_etl_spark.lake.table import LakeTable
from rocket_etl_spark.session import build_session
from rocket_etl_spark.streaming.replay import (
    create_repo_files_table,
    read_lineage,
    replay_stream,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", required=True)
    ap.add_argument("--table", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--create", action="store_true")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--follow", action="store_true")
    ap.add_argument("--source-dedupe-watermark", default=None,
                    help="e.g. '10 minutes' to drop at-least-once source dupes")
    ap.add_argument("--compact-every", type=int, default=None,
                    help="run lake compaction after every N committed epochs")
    ap.add_argument("--reorder-bound", type=int, default=None,
                    help="max event_seq positions the source can deliver late; "
                         "enables tombstone GC during --compact-every")
    ap.add_argument("--app-id", default=None,
                    help="exactly-once fence scope (default: derived from checkpoint)")
    ap.add_argument("--mode", choices=("cow", "mor"), default="cow",
                    help="MERGE write strategy: copy-on-write (read-optimized) "
                         "or merge-on-read delta appends (write-optimized trickle "
                         "ingestion; reads reconcile until compaction folds)")
    ap.add_argument("--mor-compact-threshold", type=int, default=None,
                    help="auto-fold any bucket whose merge-on-read delta depth "
                         "reaches N (bounds read amplification)")
    ap.add_argument("--audit-rules", default=None,
                    help="JSON list (inline or a .json file path) of row rules "
                         "(plans.validate.rules_from_json); every micro-batch "
                         "is then staged, audited against the would-be table "
                         "state, and published only if clean (write-audit-"
                         "publish) -- requires --quarantine")
    ap.add_argument("--quarantine", default=None,
                    help="parquet dir where a rejected batch's raw events land "
                         "(stamped _epoch_id/_quarantined_ts; the epoch stays "
                         "unfenced for a repaired replay)")
    ap.add_argument("--stats", action="store_true",
                    help="print metadata-only table stats after the run")
    ap.add_argument("--evolve-buckets", type=int, default=None,
                    help="before the run: metadata-only bucket-spec evolution "
                    "to this bucket count (Iceberg partition-spec evolution; "
                    "no-op if the table is already this wide)")
    ap.add_argument("--branch", default=None,
                    help="replay onto this branch (created at the current tip "
                    "if absent) instead of main — stage a multi-epoch backfill "
                    "invisibly, then publish with --publish-branch")
    ap.add_argument("--publish-branch", action="store_true",
                    help="with --branch: fast-forward main to the branch head "
                    "after the replay finishes (one atomic CAS)")
    args = ap.parse_args()


    if args.branch and args.audit_rules:
        # each audited micro-batch is staged as a one-commit branch, and
        # branches do not nest — audit a branch with audit_branch +
        # publish_branch instead
        ap.error("--audit-rules does not compose with --branch: replay "
                 "onto the branch un-audited, then audit_branch + "
                 "--publish-branch gate the whole chain")
    spark = build_session(app_name="cdc-replay")
    audit_rules = None
    if args.audit_rules:
        # after build_session: rule predicates are Column expressions and
        # need the active SparkContext
        from rocket_etl_spark.plans.validate import rules_from_json

        audit_rules = rules_from_json(args.audit_rules)
    if args.create:
        table = create_repo_files_table(spark, args.table, num_buckets=args.buckets)
    else:
        table = LakeTable.load(spark, args.table)
    if args.evolve_buckets is not None:
        from rocket_etl_spark.lake.maintenance import evolve_buckets

        print(evolve_buckets(table, args.evolve_buckets))
    main_table = table
    if args.branch:
        from rocket_etl_spark.lake.branch import (
            BranchError,
            branch_table,
            create_branch,
        )

        try:
            create_branch(table, args.branch)
        except BranchError:
            pass  # resume an existing branch
        table = branch_table(main_table, args.branch)

    results = replay_stream(
        spark,
        table,
        args.events,
        args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=not args.follow,
        source_dedupe_watermark=args.source_dedupe_watermark,
        compact_every=args.compact_every,
        reorder_bound=args.reorder_bound,
        app_id=args.app_id,
        mode=args.mode,
        mor_compact_threshold=args.mor_compact_threshold,
        audit_rules=audit_rules,
        quarantine_dir=args.quarantine,
    )
    for r in results:
        print(
            f"epoch={r.epoch_id} snapshot={r.snapshot_id} skipped={r.skipped} "
            f"rows_in={r.rows_in} upserted={r.rows_upserted} deleted={r.rows_deleted} "
            f"wall_ms={r.wall_ms}"
        )
    if results:
        read_lineage(spark, table).orderBy("epoch_id").show(truncate=False)
    if args.branch and args.publish_branch:
        from rocket_etl_spark.lake.branch import publish_branch

        print(publish_branch(main_table, args.branch))
        table = main_table
    if args.stats:
        from rocket_etl_spark.lake.maintenance import table_stats

        print(table_stats(table))
    spark.stop()


if __name__ == "__main__":
    main()
