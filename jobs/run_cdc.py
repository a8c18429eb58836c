"""spark-submit entry point: replay/tail a transcript-CDC WAL into the lake.

Usage (local sandbox):
    python jobs/run_cdc.py --wal-dir /path/wal --table /path/table \
        --checkpoint /path/ckpt [--mode stream|batch] [--buckets 32]
        [--validation full] [--gen-events N]   # optionally generate a demo WAL
        [--metrics-stream DIR]                 # bounded-state metrics side-channel

Recovery / maintenance:
    --mode replay-quarantine --epoch-id N [--quarantine-epochs 0,1]
        re-ingest quarantined rows after a validator/config fix
    --mode maintenance [--tombstone-horizon LSN] [--vacuum-keep N]
        reclaim old delete tombstones / unreferenced snapshot+delta dirs
    --mode read [--as-of-epoch N]
        count the table (optionally TIME-TRAVELED to epoch N's commit)
    --mode rollup --rollup-dir DIR
        refresh the incrementally-maintained per-conversation rollup
        (materialized view) from the changelog — O(changed buckets), safe
        to run after every ingest; idempotent when already current

Cluster packaging (BASELINE.json:14):
    zip -r engine.zip nifi_daffodil_spark
    spark-submit --py-files engine.zip jobs/run_cdc.py --wal-dir ... \
        [--sink iceberg --table lake.db.transcripts]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs without --py-files: make the repo root importable
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--wal-dir", required=True)
    ap.add_argument("--table", required=True, help="sink root dir (parquet) or iceberg table name")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--mode",
                    choices=["stream", "batch", "replay-quarantine",
                             "maintenance", "read", "rollup", "retention"],
                    default="stream")
    ap.add_argument("--older-than", default=None, metavar="ISO_TS",
                    help="--mode retention: expire conversations whose "
                         "LATEST activity predates this ISO timestamp "
                         "(tombstones via the normal epoch path — needs "
                         "--epoch-id; parquet sink only)")
    ap.add_argument("--rollup-dir", default=None, metavar="DIR",
                    help="root dir of the maintained per-conversation "
                         "rollup view (parquet sink only). With --mode "
                         "rollup: refresh it standalone; with stream/batch: "
                         "keep it in sync in-line, one refresh per epoch")
    ap.add_argument("--as-of-epoch", type=int, default=None,
                    help="--mode read: time-travel to the table state as of "
                         "this epoch's commit (omit for current state)")
    ap.add_argument("--changes-since", type=int, default=None,
                    help="--mode read: incremental read — count the change "
                         "rows committed after this epoch (parquet: NET "
                         "per-key rows from the delta dirs; iceberg: "
                         "changelog view)")
    ap.add_argument("--changelog-since", type=int, default=None,
                    help="--mode read: before/after-image changelog — count "
                         "change rows (I/U/D with old+new images) committed "
                         "after this epoch (parquet sink only; pass -1 for "
                         "since-bootstrap)")
    ap.add_argument("--conv-id", default=None,
                    help="--mode read: point lookup — count one "
                         "conversation's turns, read from its one hash "
                         "bucket on the driver (parquet sink only)")
    ap.add_argument("--epoch-id", type=int, default=None,
                    help="epoch id for --mode replay-quarantine and "
                         "--mode retention (must be unused; committed ids "
                         "are no-ops)")
    ap.add_argument("--quarantine-epochs", default=None,
                    help="comma-separated quarantine epochs to retry "
                         "(default all) for --mode replay-quarantine")
    ap.add_argument("--vacuum-keep", type=int, default=None,
                    help="maintenance: remove unreferenced snapshot/delta "
                         "dirs older than counter-N")
    ap.add_argument("--tombstone-horizon", type=int, default=None,
                    help="maintenance: reclaim delete tombstones with "
                         "lsn < N (no smaller lsn can still arrive)")
    ap.add_argument("--reshard-buckets", type=int, default=None,
                    help="maintenance: PARTITION EVOLUTION — rewrite the "
                         "table under a new bucket(conv_id) count (parquet "
                         "sink; with --sink iceberg the plan is printed)")
    ap.add_argument("--sink", choices=["parquet", "iceberg"], default="parquet")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--salt", type=int, default=8)
    ap.add_argument("--validation", choices=["off", "limited", "full"], default="full")
    ap.add_argument("--max-files-per-trigger", type=int, default=4)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--gen-events", type=int, default=0,
                    help="generate a deterministic demo WAL of N events first")
    ap.add_argument("--metrics-stream", default=None, metavar="DIR",
                    help="also run the bounded-state metrics side-channel "
                         "(watermarked windowed counts + stateful per-conv "
                         "progress) writing parquet under DIR (stream mode)")
    ap.add_argument("--var", action="append", default=[], metavar="NAME=VALUE",
                    help="external variable binding (repeatable), e.g. "
                         "--var output_newline=crlf — the reference's dynamic "
                         "properties; unknown names or bad values fail fast")
    args = ap.parse_args(argv)

    external_variables: dict[str, str] = {}
    for kv in args.var:
        if "=" not in kv:
            ap.error(f"--var expects NAME=VALUE, got {kv!r}")
        name, value = kv.split("=", 1)
        external_variables[name] = value

    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine
    from nifi_daffodil_spark.session import build_session

    if args.mode == "maintenance" and args.sink == "iceberg":
        # Iceberg maintenance is catalog-side procedures, not a sink method,
        # and needs no Spark session to PLAN: print the CALL statements for
        # an operator to run where the Iceberg runtime is loaded (the
        # sandbox has no jars). --vacuum-keep -> expire_snapshots
        # retain_last; --tombstone-horizon -> position-delete rewrite.
        if (args.tombstone_horizon is None and args.vacuum_keep is None
                and args.reshard_buckets is None):
            ap.error("--mode maintenance needs --tombstone-horizon, "
                     "--vacuum-keep and/or --reshard-buckets")
        from nifi_daffodil_spark.sinks.iceberg import maintenance_sql, reshard_sql

        try:
            stmts = []
            if args.reshard_buckets is not None:
                stmts += reshard_sql(
                    args.table, args.buckets, args.reshard_buckets
                )
            if args.tombstone_horizon is not None or args.vacuum_keep is not None:
                stmts += maintenance_sql(
                    args.table,
                    retain_last=args.vacuum_keep,
                    compact_deletes=args.tombstone_horizon is not None,
                    remove_orphans=True,
                )
        except ValueError as e:  # unqualified --table: clean CLI error
            ap.error(str(e))
        for stmt in stmts:
            print(stmt)
        return 0

    if args.gen_events:
        from nifi_daffodil_spark.fixtures.walgen import WalSpec, generate_wal

        man = generate_wal(args.wal_dir, WalSpec(n_events=args.gen_events))
        print(f"generated WAL: {len(man['v0']) + len(man['v1'])} segments, "
              f"{man['n_events']} events under {args.wal_dir}")

    # read-flag validation BEFORE any work: a flag mistake must be a usage
    # error up front, not after a full (already committed) ingest
    if args.as_of_epoch is not None and args.mode != "read":
        ap.error("--as-of-epoch only applies to --mode read")
    if args.changes_since is not None and args.mode != "read":
        ap.error("--changes-since only applies to --mode read")
    if args.changelog_since is not None and (
        args.mode != "read" or args.sink != "parquet"
    ):
        ap.error("--changelog-since needs --mode read and the parquet sink")
    if args.conv_id is not None and (
        args.mode != "read" or args.sink != "parquet"
    ):
        ap.error("--conv-id needs --mode read and the parquet sink")
    if args.mode == "rollup" and args.rollup_dir is None:
        ap.error("--mode rollup needs --rollup-dir")
    if args.reshard_buckets is not None:
        if args.mode != "maintenance":
            ap.error("--reshard-buckets only applies to --mode maintenance")
        if args.reshard_buckets < 1:
            ap.error(f"--reshard-buckets must be >= 1, got {args.reshard_buckets}")
    cutoff_ts = None
    if args.mode == "retention":
        if args.older_than is None or args.epoch_id is None:
            ap.error("--mode retention needs --older-than and --epoch-id")
        if args.sink != "parquet":
            ap.error("--mode retention needs the parquet sink")
        import datetime as _dt

        try:
            cutoff_ts = _dt.datetime.fromisoformat(args.older_than)
        except ValueError:
            ap.error(f"--older-than must be an ISO timestamp, got "
                     f"{args.older_than!r}")
    elif args.older_than is not None:
        ap.error("--older-than only applies to --mode retention")
    if args.rollup_dir is not None and args.sink != "parquet":
        ap.error("--rollup-dir needs the parquet sink (the view reads its "
                 "changelog)")

    spark = build_session(app_name="cdc-ingest", cores=args.cores)
    cfg = EngineConfig(
        validation_mode=args.validation,
        n_buckets=args.buckets,
        external_variables=external_variables,
    )
    if args.sink == "iceberg":
        from nifi_daffodil_spark.sinks.iceberg import IcebergMergeSink

        sink = IcebergMergeSink(spark, args.table, args.buckets, args.salt)
    else:
        from nifi_daffodil_spark.sinks.parquet_state import ParquetStateSink

        sink = ParquetStateSink(spark, args.table, n_buckets=args.buckets)

    eng = CdcEngine(spark, sink, cfg)
    attached_roll = None
    if args.rollup_dir is not None and args.mode in ("stream", "batch",
                                                     "retention"):
        from nifi_daffodil_spark.sinks.rollup import ConvRollup

        attached_roll = ConvRollup(spark, sink, args.rollup_dir)
        eng.attach_rollup(attached_roll)
    if args.mode == "stream":
        metrics_qs = []
        if args.metrics_stream:
            metrics_qs = eng.run_metrics_stream(
                args.wal_dir,
                args.metrics_stream,
                args.checkpoint + "_metrics",
                available_now=True,
                max_files_per_trigger=args.max_files_per_trigger,
            )
        q = eng.run_stream(
            args.wal_dir,
            args.checkpoint,
            available_now=True,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        q.awaitTermination()
        for mq in metrics_qs:
            mq.awaitTermination()
    elif args.mode == "batch":
        from nifi_daffodil_spark.sources.wal import read_wal_dir

        eng.process_batch(read_wal_dir(spark, args.wal_dir), 0)
    elif args.mode == "replay-quarantine":
        if args.epoch_id is None:
            ap.error("--mode replay-quarantine requires --epoch-id")
        epochs = (
            [int(x) for x in args.quarantine_epochs.split(",")]
            if args.quarantine_epochs
            else None
        )
        eng.replay_quarantine(args.epoch_id, epochs)
    elif args.mode == "retention":
        st = eng.apply_retention(cutoff_ts, args.epoch_id)
        print(f"retention epoch {args.epoch_id}: "
              f"{st.rows_in} tombstones{' (skipped)' if st.skipped else ''}")
    elif args.mode == "read":
        pass  # no ingest work; the summary below does the (time-travel) read
    elif args.mode == "rollup":
        from nifi_daffodil_spark.sinks.rollup import ConvRollup

        roll = ConvRollup(spark, sink, args.rollup_dir)
        r = roll.refresh()
        removed = roll.vacuum()
        print(json.dumps({
            "rollup_applied": r["applied"],
            "rollup_epoch": r["epoch"],
            "rollup_buckets": r.get("buckets"),
            # rows in the buckets this refresh rewrote — O(changed), not a
            # full O(|view|) scan just to print a count
            "rollup_rows_written": r.get("rows_written"),
            "rollup_vacuumed": len(removed),
        }))
        spark.stop()
        return 0
    else:  # maintenance
        if (args.tombstone_horizon is None and args.vacuum_keep is None
                and args.reshard_buckets is None):
            ap.error("--mode maintenance needs --tombstone-horizon, "
                     "--vacuum-keep and/or --reshard-buckets")
        if args.reshard_buckets is not None:
            # one combined rewrite: resharding folds the whole table anyway,
            # so the tombstone horizon rides the same pass for free
            old_n = sink.n_buckets
            sink.reshard(args.reshard_buckets,
                         lsn_horizon=args.tombstone_horizon)
            if args.tombstone_horizon is not None:
                print(f"compacted tombstones below lsn {args.tombstone_horizon}")
            print(f"resharded {old_n} -> {sink.n_buckets} buckets "
                  f"(reopen with --buckets {sink.n_buckets})")
        elif args.tombstone_horizon is not None:
            sink.compact_tombstones(args.tombstone_horizon)
            print(f"compacted tombstones below lsn {args.tombstone_horizon}")
        if args.vacuum_keep is not None:
            removed = sink.vacuum(keep_last=args.vacuum_keep)
            print(f"vacuumed {len(removed)} dirs: {removed}")

    try:
        n = sink.read_transcripts(as_of_epoch=args.as_of_epoch).count()
        n_changes = (
            sink.read_changes(after_epoch=args.changes_since).count()
            if args.changes_since is not None
            else None
        )
        changelog = (
            {
                r["change"]: r["n"]
                for r in sink.read_changelog(after_epoch=args.changelog_since)
                .groupBy("change").count().withColumnRenamed("count", "n")
                .collect()
            }
            if args.changelog_since is not None
            else None
        )
    except LookupError as e:  # expired/unknown snapshot: clean CLI error
        print(json.dumps({"error": str(e)}))
        spark.stop()
        return 1
    applied = [s for s in eng.stats if not s.skipped]
    summary = {
        "epochs_applied": len(applied),
        "epochs_skipped": len(eng.stats) - len(applied),
        "rows_in_table": n,
        "rows_quarantined": sum(s.rows_quarantined for s in eng.stats),
        "events_per_sec_median": sorted(s.events_per_sec for s in applied)[len(applied) // 2]
        if applied
        else 0.0,
    }
    if args.as_of_epoch is not None:
        summary["as_of_epoch"] = args.as_of_epoch
    if args.changes_since is not None:
        summary["changes_since"] = args.changes_since
        summary["change_rows"] = n_changes
    if args.changelog_since is not None:
        summary["changelog_since"] = args.changelog_since
        summary["changelog_rows"] = changelog
    if args.conv_id is not None:
        summary["conv_id"] = args.conv_id
        summary["conv_rows"] = sink.read_conversation(args.conv_id).count()
    if attached_roll is not None:
        # watermark only — counting the whole view would be O(|view|)
        summary["rollup_epoch"] = attached_roll._read_manifest()["epoch"]
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
