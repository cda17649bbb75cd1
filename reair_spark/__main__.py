"""CLI entry points — the engine's equivalents of the reference's
three executables (SURVEY.md top table):

  python -m reair_spark replicate <src_wh> <dest_wh> [--blacklist db:tbl ...]
      MetastoreReplicationJob equivalent (batch warehouse replication)
  python -m reair_spark sync <src_dir> [<src_dir> ...] <dest_dir> [--dry-run] [--delete]
      batch/hdfs ReplicationJob equivalent (directory sync)
  python -m reair_spark incremental <events> <src_wh> <dest_wh> <state_dir>
      ReplicationLauncher equivalent (audit-log driven incremental);
      <events> is a parquet path, or a jdbc: URL to tail the audit
      tables directly (AuditLogReader parity)
  python -m reair_spark compact <src_root> <dest_root> [--target-mb N]
      small-file compaction (non-destructive rewrite under dest_root)
  python -m reair_spark convert <src> <dest> --from-serde csv --to-serde parquet
      serde migration for one location
  python -m reair_spark status <state_dir>\n  python -m reair_spark monitor <state_dir> --port 8742
      monitoring snapshot over persisted job state (Thrift
      getActiveJobs/getRetiredJobs/getLag parity)
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="reair_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    rep = sub.add_parser("replicate", help="batch warehouse replication")
    rep.add_argument("src_root")
    rep.add_argument("dest_root")
    rep.add_argument("--blacklist", nargs="*", default=[],
                     metavar="DB_RE:TBL_RE", help="db:table regex pairs to skip")
    rep.add_argument("--no-overwrite-newer", action="store_true")
    rep.add_argument("--work-dir")
    rep.add_argument("--verify-checksum", action="store_true",
                     help="digest-verify each copied file "
                          "(reference: BatchUtils.java:105-117)")

    sync = sub.add_parser("sync", help="directory-tree sync")
    sync.add_argument("roots", nargs="+",
                      help="one or more source dirs followed by the dest dir")
    sync.add_argument("--dry-run", action="store_true")
    sync.add_argument("--delete", action="store_true",
                      help="delete dest files absent from src")
    sync.add_argument("--trash-dir",
                      help="with --delete: move extras here (preserving "
                           "relative paths) instead of unlinking")
    sync.add_argument("--verify-checksum", action="store_true")

    inc = sub.add_parser("incremental", help="incremental replication loop")
    inc.add_argument("events_parquet")
    inc.add_argument("src_root")
    inc.add_argument("dest_root")
    inc.add_argument("state_dir")
    inc.add_argument("--batch-size", type=int, default=32)
    inc.add_argument("--max-batches", type=int)
    inc.add_argument("--start-after-id", type=int, default=None,
                     help="operator override: abort persisted in-flight "
                          "jobs and resume the audit tail after this id "
                          "(ReplicationLauncher --start-after-id parity)")
    inc.add_argument("--jdbc-driver",
                     help="JDBC driver class when <events> is a jdbc: URL")
    inc.add_argument("--streaming", action="store_true",
                     help="run as a Structured Streaming query "
                          "(availableNow trigger, checkpointed) instead "
                          "of the polling loop")

    cmp = sub.add_parser("compact", help="small-file compaction")
    cmp.add_argument("src_root")
    cmp.add_argument("dest_root")
    cmp.add_argument("--target-mb", type=int, default=256,
                     help="output file size target (MB)")

    st = sub.add_parser("status", help="job-state monitoring snapshot")
    st.add_argument("state_dir")
    st.add_argument("--max-active", type=int, default=100)

    cst = sub.add_parser(
        "compact-state",
        help="rewrite the job transition log to one row per job "
             "(crash-safe retention; --drop-terminal keeps only "
             "in-flight jobs)",
    )
    cst.add_argument("state_dir")
    cst.add_argument("--drop-terminal", action="store_true")

    msck = sub.add_parser(
        "msck", help="partition discovery / repair for one table "
                     "(MSCK REPAIR TABLE semantics)")
    msck.add_argument("warehouse_root")
    msck.add_argument("db")
    msck.add_argument("table")
    msck.add_argument("--sync", action="store_true",
                      help="also drop catalog partitions whose "
                           "directories are gone (SYNC PARTITIONS)")

    mon = sub.add_parser("monitor", help="serve the monitoring HTTP endpoint")
    mon.add_argument("state_dir")
    mon.add_argument("--port", type=int, default=8742)
    mon.add_argument("--once", action="store_true",
                     help="start, print the bound port, and return "
                          "immediately (testing) instead of serving forever")

    conv = sub.add_parser("convert", help="serde migration for one location")
    conv.add_argument("src")
    conv.add_argument("dest")
    conv.add_argument("--from-serde", required=True)
    conv.add_argument("--to-serde", required=True)
    conv.add_argument("--partition-by", nargs="*", default=[])

    qry = sub.add_parser(
        "query", help="run a registered analytics/pipeline query by name"
    )
    qry.add_argument("name", nargs="?",
                     help="registry key (omit with --list to enumerate)")
    qry.add_argument("--sf-dir",
                     default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                            "/root/testdata/sf0.01"),
                     help="table directory (…/sf0.01 style; defaults to "
                          "$SPARK_GRAFT_SF_DIR like bench.py)")
    qry.add_argument("--limit", type=int, default=20,
                     help="max rows to print (0 = all)")
    qry.add_argument("--output", help="write the full result as parquet here "
                                      "instead of printing rows")
    qry.add_argument("--explain", action="store_true",
                     help="print the formatted physical plan instead of rows")
    qry.add_argument("--list", action="store_true",
                     help="print all registry keys and exit")

    args = p.parse_args(argv)

    if args.cmd == "query" and args.list:
        from reair_spark.registry import all_queries

        for name in sorted(all_queries()):
            print(name)
        return 0
    if args.cmd == "query" and not args.name:
        p.error("query: name required (or --list)")

    from reair_spark.session import get_spark

    spark = get_spark(f"reair_spark_{args.cmd}")

    if args.cmd == "replicate":
        from reair_spark.replicate import replicate_warehouse

        blacklist = [tuple(b.split(":", 1)) for b in args.blacklist] or None
        res = replicate_warehouse(
            spark, args.src_root, args.dest_root, blacklist=blacklist,
            overwrite_newer=not args.no_overwrite_newer, work_dir=args.work_dir,
            verify_checksum=args.verify_checksum,
        )
        summary = {
            "actions": {r["action"]: r["count"] for r in
                        res["plan"].groupBy("action").count().collect()},
            "copies": {r["status"]: [r["n_files"], r["bytes"]] for r in
                       res["copy_summary"].collect()},
            "commits": {r["status"]: r["count"] for r in
                        res["commit_results"].groupBy("status").count().collect()},
        }
        print(json.dumps(summary))
        failed = summary["commits"].get("FAILED", 0)
        return 1 if failed else 0

    if args.cmd == "sync":
        from reair_spark.dirsync import sync_directories

        *src_roots, dest_root = args.roots
        if not src_roots:
            p.error("sync needs at least one src dir and a dest dir")
        res = sync_directories(
            spark, src_roots, dest_root,
            dry_run=args.dry_run, delete_extraneous=args.delete,
            trash_dir=args.trash_dir, verify_checksum=args.verify_checksum,
        )
        out = {
            "plan": {r["action"]: r["count"] for r in
                     res["plan"].groupBy("action").count().collect()}
        }
        if res["results"] is not None:
            out["results"] = {r["status"]: r["count"] for r in
                              res["results"].groupBy("status").count().collect()}
        print(json.dumps(out))
        return 1 if out.get("results", {}).get("FAILED") else 0

    if args.cmd == "incremental":
        from reair_spark.events import run_incremental

        jdbc = args.events_parquet.startswith("jdbc:")
        if args.streaming:
            from reair_spark.streaming import stream_replicate

            if jdbc:
                p.error("--streaming reads a parquet events dir; a jdbc: "
                        "audit tail runs in the polling loop")
            if args.start_after_id is not None:
                # The streaming source tracks position via the Structured
                # Streaming checkpoint, not LAST_PERSISTED_ID — silently
                # ignoring the override would defeat the bad-deploy
                # recovery the flag exists for (ReplicationLauncher's
                # override is a batch-loop concept).
                p.error(
                    "--start-after-id is not supported with --streaming: "
                    "the streaming position lives in the checkpoint dir; "
                    "delete/point --state-dir elsewhere or use the batch "
                    "incremental mode for an id override"
                )
            schema = spark.read.parquet(args.events_parquet).schema
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", args.batch_size)
                .parquet(args.events_parquet)
            )
            stream_replicate(
                spark, stream, args.src_root, args.dest_root,
                args.state_dir, f"{args.state_dir}/_checkpoint",
            )
            print(json.dumps({"mode": "streaming", "status": "drained"}))
            return 0

        if jdbc:
            from reair_spark.auditlog import JdbcAuditLogSource

            props = {"driver": args.jdbc_driver} if args.jdbc_driver else {}
            events = JdbcAuditLogSource(args.events_parquet, properties=props)
        else:
            events = spark.read.parquet(args.events_parquet)
        res = run_incremental(
            spark, events, args.src_root, args.dest_root, args.state_dir,
            batch_size=args.batch_size, max_batches=args.max_batches,
            start_after_id=args.start_after_id,
        )
        print(json.dumps({
            "last_id": res["last_id"], "batches": res["batches"],
            "jobs": res["job_status_counts"],
            "lag_seconds": round(res["lag_seconds"], 1),
        }))
        return 1 if res["job_status_counts"].get("FAILED") else 0

    if args.cmd == "compact":
        from reair_spark.plans import execute_compaction

        out = execute_compaction(
            spark, args.src_root, args.dest_root,
            target_bytes=args.target_mb * 1024 * 1024,
        )
        print(json.dumps({
            r.dir or ".": {"files_in": r.n_files_in, "bytes": r.bytes,
                           "files_out": r.n_files_out}
            for r in out.collect()
        }))
        return 0

    if args.cmd == "status":
        from reair_spark.state import status_snapshot

        print(json.dumps(status_snapshot(
            spark, args.state_dir, max_active=args.max_active)))
        return 0

    if args.cmd == "compact-state":
        from reair_spark.state import JobStore

        store = JobStore(spark, f"{args.state_dir}/replication_jobs")
        n = store.compact(keep_terminal=not args.drop_terminal)
        print(json.dumps({"rows_kept": n,
                          "drop_terminal": args.drop_terminal}))
        return 0

    if args.cmd == "msck":
        from reair_spark.catalog import DirectoryCatalog
        from reair_spark.msck import msck_repair

        plan = msck_repair(
            spark, DirectoryCatalog(args.warehouse_root),
            args.db, args.table, drop_orphans=args.sync,
        )
        out = {}
        for r in plan.collect():
            out.setdefault(r.state, []).append(r.partition_name)
        print(json.dumps({"applied": sorted(out.get("ADD", [])),
                          "orphans": sorted(out.get("ORPHAN", [])),
                          "ok": len(out.get("OK", []))}))
        return 0

    if args.cmd == "monitor":
        from reair_spark.monitor import serve_monitor

        server = serve_monitor(spark, args.state_dir, port=args.port)
        print(json.dumps({"port": server.server_address[1],
                          "endpoints": ["/status", "/jobs/active",
                                        "/jobs/retired", "/lag",
                                        "POST /pause", "POST /resume"]}),
              flush=True)
        if args.once:
            server.shutdown()
            return 0
        import threading

        threading.Event().wait()  # serve until killed
        return 0

    if args.cmd == "convert":
        from reair_spark.sources import convert_location

        convert_location(
            spark, args.src, args.dest, args.from_serde, args.to_serde,
            partition_by=args.partition_by or None,
        )
        print(json.dumps({"converted": args.dest, "serde": args.to_serde}))
        return 0

    if args.cmd == "query":
        from reair_spark.registry import all_queries

        registry = all_queries()
        if args.name not in registry:
            import difflib

            close = difflib.get_close_matches(args.name, registry, n=5)
            p.error(f"unknown query {args.name!r}; close matches: {close} "
                    f"(use --list for all {len(registry)})")
        df = registry[args.name](spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
            return 0
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"query": args.name, "rows": spark.read.parquet(
                args.output).count(), "output": args.output}))
        else:
            rows = df.limit(args.limit).collect() if args.limit else df.collect()
            print(json.dumps({"query": args.name, "n_printed": len(rows),
                              "rows": [r.asDict(recursive=True) for r in rows]},
                             default=str))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
