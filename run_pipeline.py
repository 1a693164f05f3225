#!/usr/bin/env python
"""spark-submit entrypoint for the CDC pipeline (BASELINE.json packaging
contract: `spark-submit --py-files dist/go_data_publisher_spark.zip
run_pipeline.py <cmd> ...`).

Commands:
  generate  --out DIR --events N [--chunks K]     write a change-log stream dir
  stream    --source DIR --table DIR --checkpoint DIR   tail + merge-apply
  batch     --source DIR --table DIR [--chunks K]       chunked batch replay
  verify    --source DIR --table DIR              full-replay equality check
  report    --table DIR [--lineage DIR]           progress/intervals/gaps JSON
  serve     --table DIR [--port N]                HTTP status endpoint
  tail      --source-table DIR --target-table DIR --cursor FILE
            CDC-out: apply a table's change feed to a second table; FILE's
            from_version is the start version for a writer the target has
            never seen (read only, the position commits with the target)
  maintain  --table DIR [--compact-threshold N] [--vacuum-keep K]
            compaction + snapshot expiry (out-of-band maintenance)

The session takes --master and --conf from spark-submit, plus the engine
confs of `session.ENGINE_CONF` (which win over a --conf of the same key).
"""

from __future__ import annotations

import argparse
import json


def main():
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, default=1_000_000)
    g.add_argument("--chunks", type=int, default=16)
    g.add_argument("--seed", type=int, default=42)

    s = sub.add_parser("stream")
    s.add_argument("--source", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--buckets", type=int, default=32)
    s.add_argument("--max-files-per-trigger", type=int, default=1)
    s.add_argument("--lineage", default=None)
    s.add_argument("--metrics", default=None)
    s.add_argument("--wire-format", action="store_true",
                   help="source is Kafka-shaped (key binary LE-uint32, "
                        "value json), as `tail --to-wire` writes")
    s.add_argument("--route-sql", default=None,
                   help="predicate routing winners to --ephemeral-table")
    s.add_argument("--ephemeral-table", default=None)
    s.add_argument("--on-invalid", choices=("quarantine", "error"), default="quarantine",
                   help="V4 mismatch policy: skip-list invalid rows or abort the batch")
    s.add_argument("--writer-id", default="default",
                   help="scopes the epoch replay guard (Delta txnAppId pattern)")

    b = sub.add_parser("batch")
    b.add_argument("--source", required=True)
    b.add_argument("--table", required=True)
    b.add_argument("--buckets", type=int, default=32)
    b.add_argument("--chunks", type=int, default=8)
    b.add_argument("--lineage", default=None)
    b.add_argument("--on-invalid", choices=("quarantine", "error"), default="quarantine")
    b.add_argument("--writer-id", default="default")

    v = sub.add_parser("verify")
    v.add_argument("--source", required=True)
    v.add_argument("--table", required=True)

    r = sub.add_parser("report")
    r.add_argument("--table", required=True)
    r.add_argument("--lineage", default=None)

    sv = sub.add_parser("serve",
                        help="HTTP status endpoint over a table (/healthz "
                             "/status /metrics /history /report /row)")
    sv.add_argument("--table", required=True)
    sv.add_argument("--port", type=int, default=8080)
    sv.add_argument("--lineage", default=None)
    sv.add_argument("--report-ttl", type=float, default=60.0,
                    help="seconds to memoize /report (the reference fronts "
                         "its status document with a TTL cache)")

    t = sub.add_parser("tail",
                       help="CDC-out: tail a table's change feed into a "
                            "second table (or, with --to-wire, publish it "
                            "as Kafka-shaped wire records); the position "
                            "commits with the output")
    t.add_argument("--source-table", required=True)
    t.add_argument("--target-table", default=None)
    t.add_argument("--to-wire", default=None, metavar="DIR",
                   help="publish the feed as wire records (key binary "
                        "LE-uint32, value JSON) into DIR instead of merging "
                        "into a target table — the S5 producer loop; consume "
                        "with `stream --wire-format`")
    t.add_argument("--cursor", required=True,
                   help="JSON file whose from_version is the start version "
                        "for a writer the target has never seen (or a "
                        "--to-wire dir with no window yet); read only")
    t.add_argument("--buckets", type=int, default=32)
    t.add_argument("--writer-id", default="cdc-out")
    t.add_argument("--reseed", action="store_true",
                   help="recover a tailer that fell behind source retention:"
                        " make the target equal the current source snapshot"
                        " and record its version before tailing")

    m = sub.add_parser("maintain",
                       help="compaction + snapshot expiry (the reference's "
                            "out-of-band maintenance loops)")
    m.add_argument("--table", required=True)
    m.add_argument("--compact-threshold", type=int, default=None,
                   help="compact buckets holding >= this many delta files "
                        "(omit to compact every bucket)")
    m.add_argument("--no-compact", action="store_true")
    m.add_argument("--vacuum-keep", type=int, default=None,
                   help="expire snapshots, keeping this many versions")
    m.add_argument("--orphan-grace-seconds", type=float, default=3600.0)
    m.add_argument("--drop-tombstones-below", type=int, default=None,
                   help="expire delete tombstones below this replay "
                        "low-watermark during compaction")

    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from go_data_publisher_spark.session import ENGINE_CONF

    spark = (SparkSession.builder.appName(f"cdc-{args.cmd}")
             .config(map=ENGINE_CONF).getOrCreate())

    from go_data_publisher_spark.lake.table import TranscriptTable
    from go_data_publisher_spark.sources.changelog import (
        generate_changelog,
        write_changelog_stream_dir,
    )
    from go_data_publisher_spark.streaming.apply import ChangeApplier, replay_batch_range
    from go_data_publisher_spark.streaming.pipeline import run_stream

    if args.cmd == "generate":
        log = generate_changelog(spark, args.events, seed=args.seed)
        bounds = write_changelog_stream_dir(log, args.out, n_chunks=args.chunks)
        print(json.dumps({"chunks": len(bounds), "bounds": bounds[:3]}))

    elif args.cmd == "stream":
        tbl = TranscriptTable(spark, args.table, n_buckets=args.buckets)
        eph = (TranscriptTable(spark, args.ephemeral_table, n_buckets=args.buckets)
               if args.ephemeral_table else None)
        app = ChangeApplier(tbl, lineage_dir=args.lineage,
                            quarantine_dir=f"{args.table}/_quarantine",
                            route_sql=args.route_sql, ephemeral_table=eph,
                            on_invalid=args.on_invalid, writer_id=args.writer_id)
        state = run_stream(spark, args.source, app, args.checkpoint,
                           max_files_per_trigger=args.max_files_per_trigger,
                           metrics_path=args.metrics, wire_format=args.wire_format)
        print(json.dumps({"applied_batches": state["applied"]}))

    elif args.cmd == "batch":
        log = spark.read.parquet(args.source)
        tbl = TranscriptTable(spark, args.table, n_buckets=args.buckets)
        app = ChangeApplier(tbl, lineage_dir=args.lineage,
                            quarantine_dir=f"{args.table}/_quarantine",
                            on_invalid=args.on_invalid, writer_id=args.writer_id)
        lo, hi = log.agg(F.min("lsn"), F.max("lsn")).first()
        span = (hi - lo) // args.chunks + 1
        bounds = [(lo + i * span, min(hi, lo + (i + 1) * span - 1)) for i in range(args.chunks)]
        stats = replay_batch_range(app, log, bounds)
        print(json.dumps({"batches": stats}))

    elif args.cmd == "verify":
        from go_data_publisher_spark.operators.dedup import last_wins
        from go_data_publisher_spark.operators.routing import split_valid
        from go_data_publisher_spark.operators.verify import assert_equal_state

        log = spark.read.parquet(args.source)
        valid, _ = split_valid(log)
        expected = last_wins(valid).where(F.col("op") != "D").drop("op", "schema_version")
        tbl = TranscriptTable(spark, args.table)
        got = tbl.snapshot()
        stats = assert_equal_state(
            got, expected, key=("conv_id", "turn_idx"), compare_cols=["text", "role", "lsn"]
        )
        print(json.dumps({"verified": True, **stats}))

    elif args.cmd == "tail":
        from go_data_publisher_spark.streaming.tailer import (
            ChangefeedTailer,
            WirePublisher,
        )

        if bool(args.target_table) == bool(args.to_wire):
            p.error("tail requires exactly one of --target-table / --to-wire")
        src_tbl = TranscriptTable(spark, args.source_table)
        if args.to_wire:
            if args.reseed:
                p.error("--reseed applies to table targets only")
            pub = WirePublisher(src_tbl, args.to_wire, args.cursor)
            out = pub.run_until_caught_up()
            print(json.dumps({
                "ticks": [{k: t[k] for k in
                           ("status", "from_version", "to_version", "path")
                           if k in t} for t in out["ticks"]],
                "caught_up": out["caught_up"],
            }))
        else:
            tgt_tbl = TranscriptTable(spark, args.target_table,
                                      n_buckets=args.buckets)
            tailer = ChangefeedTailer(src_tbl, tgt_tbl, args.cursor,
                                      writer_id=args.writer_id)
            reseed_stats = tailer.reseed() if args.reseed else None
            out = tailer.run_until_caught_up()
            doc = {
                "ticks": [{k: t[k] for k in
                           ("status", "from_version", "to_version")
                           if k in t} for t in out["ticks"]],
                "caught_up": out["caught_up"],
                "target_rows": tgt_tbl.snapshot().count(),
            }
            if reseed_stats is not None:
                doc["reseeded_to_version"] = reseed_stats["reseeded_to_version"]
            print(json.dumps(doc))

    elif args.cmd == "maintain":
        # tombstone expiry happens DURING the compaction rewrite — accepting
        # it alongside --no-compact (or a threshold that compacts nothing)
        # would silently not expire anything
        if args.no_compact and args.drop_tombstones_below is not None:
            p.error("--drop-tombstones-below requires compaction "
                    "(remove --no-compact)")
        tbl = TranscriptTable(spark, args.table)
        out = {"table": args.table}
        if not args.no_compact:
            if args.compact_threshold is not None:
                hot = sorted(b for b, n in tbl.delta_file_counts().items()
                             if n >= args.compact_threshold)
                if not hot and args.drop_tombstones_below is not None:
                    hot = None  # expiry was requested: rewrite every bucket
            else:
                hot = None  # every bucket
            if hot is None or hot:
                tbl.compact(buckets=hot,
                            drop_tombstones_below=args.drop_tombstones_below)
            out["compacted_buckets"] = "all" if hot is None else hot
        if args.vacuum_keep is not None:
            out["vacuum"] = tbl.vacuum(
                keep_versions=args.vacuum_keep,
                orphan_grace_seconds=args.orphan_grace_seconds,
            )
        m2 = tbl.manifest()
        out["version"] = m2["version"]
        out["live_files"] = m2["n_live_files"]
        out["delta_files_per_bucket"] = tbl.delta_file_counts()
        print(json.dumps(out))

    elif args.cmd == "report":
        # status-service serving analogue (S10/Q7/Q8/A3): progress, intervals,
        # gaps and lineage as one JSON document
        from go_data_publisher_spark.serving import build_report

        tbl = TranscriptTable(spark, args.table)
        report = build_report(spark, tbl, lineage_dir=args.lineage)
        print(json.dumps(report, default=str))

    elif args.cmd == "serve":
        # S10 HTTP form: the same documents over a stdlib HTTP endpoint
        # (/healthz /status /metrics /history /report /row)
        from go_data_publisher_spark.serving import ReportServer

        tbl = TranscriptTable(spark, args.table)
        srv = ReportServer(spark, tbl, port=args.port, lineage_dir=args.lineage,
                           report_ttl_seconds=args.report_ttl)
        print(json.dumps({"serving": True, "port": srv.port}), flush=True)
        srv.serve_forever()


if __name__ == "__main__":
    main()
