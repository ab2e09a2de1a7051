"""Engine CLI — mirrors the reference connector entrypoint surface
(airbyte-cdk entrypoint.py:27-58: spec/check/discover/read) plus engine
verbs (replay/expire/metrics). Run via:

  spark-submit --py-files airbyte_spark.zip -m airbyte_spark.cli <cmd> ...
  python -m airbyte_spark.cli <cmd> ...

Commands:
  spec                           connector configuration schema
                                 (≡ ConnectorSpecification)
  discover --target T            print the stream catalog (name, schema,
                                 cursor, pk) for an existing lake table or
                                 the default pages stream
  check    --source DIR          connectivity/shape check on a changelog
                                 directory (≡ CONNECTION_STATUS)
  read     --source DIR --target T [--from-checkpoint K]
                                 bounded incremental sync: replay pending
                                 changelog segments into the target
  stream   --source DIR --target T --spark-checkpoint D
                                 same via Structured Streaming availableNow
  full-refresh --source DIR --target T
                                 snapshot overwrite (sync_mode=full_refresh)
  reset    --target T            truncate the target (EmptyAirbyteSource)
  expire   --target T --watermark TS
                                 GC soft-delete tombstones older than TS
  metrics  --target T            per-checkpoint metrics + per-partition lineage
  export-shards --docs P --target DIR [--max-tokens N] [--n-shards K]
                                 deterministic training-shard export with
                                 content manifest (destinations.py)
  audit    --source DIR --target T
                                 replay-consistency audit: diff table state
                                 vs the log's expected winners (typed
                                 missing/extra/stale/zombie verdicts)
  sync     --catalog FILE [--atomic [--txn-log D]]
           [--attempts-log F [--max-attempts N] [--backoff S]]
           [--loop N [--interval S]]
                                 multi-stream catalog sync (per-stream
                                 modes/PKs/state — ≡ ConfiguredAirbyteCatalog);
                                 --atomic publishes every stream in ONE
                                 catalog transaction (no half-synced reads);
                                 --attempts-log/--loop run through the
                                 scheduler: per-attempt rows + retry with
                                 backoff (≡ SyncWorkflowImpl attempt loop)
  discover-catalog --catalog FILE
                                 print the configured catalog (≡ discover)
  compact  --target T [--target-file-mb N]
                                 bin-pack small data files (one metadata commit)
  vacuum   --target T [--retain-last N]
                                 delete data files unreferenced by the newest
                                 N snapshots (+ orphan manifest segments)
  properties --target T [--set k=v ...] [--unset k ...]
                                 read/update table properties (bloom.key,
                                 manifest.segmented, constraint.*, ...)
  expire-snapshots --target T [--retain-last N]
                                 bound the manifest chain: keep the newest N
                                 snapshot heads (time travel below the floor
                                 is given up; current state untouched)
  inspect  --target T [--what partitions|snapshots|files] [--limit N]
                                 metadata tables: per-partition layout/skew,
                                 snapshot history with tags, live files
  txn-recover --txn-log D [--tables p1,p2]
                                 crash repair: roll decided catalog
                                 transactions forward, scavenge undecided
                                 debris (locks + staged branches)
  tag      --target T [--name N [--version V] [--drop]]
                                 pin/list/drop named snapshots (≡ Iceberg
                                 tags; exempt from expiry and vacuum — the
                                 "corpus a training run saw" pin)
  delete-keys --target T --col C (--values a,b | --keys-parquet P)
                                 equality delete: purge rows by key as an
                                 O(|keys|) metadata commit (no file rewrite;
                                 later re-inserts of the key survive)
  respec   --target T --bucket-col C --n-buckets N
                                 partition-spec evolution: atomic bucket-resize
                                 rewrite of the whole table
  cluster  --target T --sort-cols C1,C2 [--target-file-mb N] [--zorder]
                                 sort-order rewrite: range-cluster files by the
                                 sort key so stats pruning skips files
                                 (--zorder: Morton-interleave 2+ numeric
                                 columns — pruning on ANY of them)
  compact-versions --target T    collapse a merge-on-read table to one
                                 (latest) version per key
  rollback --target T --to-version V
                                 restore an earlier snapshot (new commit;
                                 committed-checkpoint set reverts with it)
  fsck     --target T            metadata/data consistency audit (missing or
                                 torn files, stale sidecars, orphans)
  curate   --docs PARQUET [--out DIR] [--min-quality Q] [--langs en,de]
                                 per-document retention verdict (quality ∧
                                 language ∧ near-dup canonical)
  ingest-warc --warc-dir DIR --target T --spark-checkpoint C
                                 tail a crawl inbox of *.warc.gz shards,
                                 one idempotent LWW merge per file
  ingest-docs --docs PARQUET --registry T --checkpoint K [--near] [--out DIR]
                                 dedup-at-ingest admission against the
                                 fingerprint (or --near MinHash band-key)
                                 registry, exactly-once per checkpoint key
  frontier --source DIR [--budget N] [--top K] [--out DIR]
                                 next crawl wave: change-rate recrawl
                                 schedule over the changelog, fetch budget
                                 apportioned per domain (Hamilton)
  constraint --target T [--add NAME EXPR | --drop NAME]
                                 CHECK constraints (≡ Delta ADD CONSTRAINT):
                                 enforced atomically on every commit; with
                                 no flags, lists active constraints
"""

from __future__ import annotations

import argparse
import json
import sys

import pyspark.sql.functions as F

from airbyte_spark.session import get_spark


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="airbyte_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, *flags):
        sp = sub.add_parser(name)
        for f in flags:
            req = f in ("--source", "--target", "--watermark", "--spark-checkpoint")
            sp.add_argument(f, required=req)
        return sp

    sub.add_parser("spec")
    add("discover", "--target")
    add("check", "--source")
    sp = add("read", "--source", "--target")
    sp.add_argument("--from-checkpoint", type=int, default=None)
    sp.add_argument("--n-buckets", type=int, default=16)
    sp.add_argument("--write-mode", choices=("cow", "mor"), default="cow")
    sp = add("stream", "--source", "--target", "--spark-checkpoint")
    sp.add_argument("--n-buckets", type=int, default=16)
    sp.add_argument("--write-mode", choices=("cow", "mor"), default="cow")
    sp = add("full-refresh", "--source", "--target")
    sp.add_argument("--n-buckets", type=int, default=16)
    add("reset", "--target")
    add("expire", "--target", "--watermark")
    add("metrics", "--target")
    sp = sub.add_parser("sync")
    sp.add_argument("--catalog", required=True, help="catalog JSON file (multi-stream)")
    sp.add_argument("--atomic", action="store_true",
                    help="stage all streams on txn branches, publish all-or-nothing")
    sp.add_argument("--txn-log", default=None, help="transaction log dir (atomic)")
    sp.add_argument("--attempts-log", default=None,
                    help="JSONL jobs/attempts log; enables the scheduler "
                         "(retry-with-backoff, per-attempt bookkeeping)")
    sp.add_argument("--max-attempts", type=int, default=3)
    sp.add_argument("--backoff", type=float, default=2.0,
                    help="seconds before the first retry (doubles per attempt)")
    sp.add_argument("--loop", type=int, default=None, metavar="N",
                    help="run N scheduled syncs back-to-back (each its own "
                         "job id + retry budget)")
    sp.add_argument("--interval", type=float, default=0.0,
                    help="seconds between --loop runs")
    sp = sub.add_parser("discover-catalog")
    sp.add_argument("--catalog", required=True)
    sp = add("compact", "--target")
    sp.add_argument("--target-file-mb", type=int, default=128)
    sp = add("vacuum", "--target")
    # default matches expire-snapshots' retain window: a default vacuum
    # after a default expire must not delete data files still referenced
    # by retained manifests (would silently break advertised time travel)
    sp.add_argument("--retain-last", type=int, default=10,
                    help="keep files referenced by the newest N snapshots "
                         "(default aligns with expire-snapshots)")
    sp = add("properties", "--target")
    sp.add_argument("--set", action="append", default=[], metavar="K=V")
    sp.add_argument("--unset", action="append", default=[], metavar="K")
    sp = add("expire-snapshots", "--target")
    sp.add_argument("--retain-last", type=int, default=10,
                    help="newest N manifest versions to keep (current always kept)")
    sp = add("inspect", "--target")
    sp.add_argument("--what", choices=("partitions", "snapshots", "files"),
                    default="snapshots")
    sp.add_argument("--limit", type=int, default=50)
    sp = sub.add_parser("txn-recover")
    sp.add_argument("--txn-log", required=True, help="transaction log dir")
    sp.add_argument("--tables", default=None,
                    help="comma-separated table paths to scavenge undecided debris")
    sp = add("tag", "--target")
    sp.add_argument("--name", default=None, help="tag to create/drop (omit to list)")
    sp.add_argument("--version", type=int, default=None)
    sp.add_argument("--drop", action="store_true")
    sp = add("delete-keys", "--target")
    sp.add_argument("--col", required=True, help="key column name")
    sp.add_argument("--values", default=None,
                    help="comma-separated key values to delete")
    sp.add_argument("--keys-parquet", default=None,
                    help="parquet file/dir holding the key column")
    sp.add_argument("--checkpoint-key", default=None)
    sp = add("respec", "--target")
    sp.add_argument("--bucket-col", required=True)
    sp.add_argument("--n-buckets", type=int, required=True)
    sp = add("cluster", "--target")
    sp.add_argument("--sort-cols", required=True, help="comma-separated sort key")
    sp.add_argument("--target-file-mb", type=int, default=128)
    sp.add_argument("--zorder", action="store_true",
                    help="Morton-interleave 2+ numeric sort columns")
    add("compact-versions", "--target")
    sp = add("rollback", "--target")
    sp.add_argument("--to-version", type=int, required=True)
    add("fsck", "--target")
    sp = add("emit-messages", "--target")
    sp.add_argument("--out", required=True, help="output JSONL dir")
    sp.add_argument("--stream", default="pages")
    sp = add("export-shards", "--target")
    sp.add_argument("--docs", required=True, help="documents parquet path")
    sp.add_argument("--max-tokens", type=int, default=2048)
    sp.add_argument("--n-shards", type=int, default=16)
    sp = add("audit", "--source", "--target")
    sp.add_argument("--limit", type=int, default=20,
                    help="max divergent keys echoed (counts are always full)")
    sp = sub.add_parser("curate")
    sp.add_argument("--docs", required=True)
    sp.add_argument("--out", default=None)
    sp.add_argument("--min-quality", type=float, default=0.75)
    sp.add_argument("--langs", default=None, help="comma-separated accept list")
    sp = add("ingest-warc", "--target", "--spark-checkpoint")
    sp.add_argument("--warc-dir", required=True, help="crawl inbox of *.warc.gz")
    sp.add_argument("--n-buckets", type=int, default=16)
    sp = add("constraint", "--target")
    sp.add_argument("--add", nargs=2, metavar=("NAME", "EXPR"), default=None)
    sp.add_argument("--drop", default=None, metavar="NAME")
    sp = add("frontier", "--source")
    sp.add_argument("--budget", type=int, default=100)
    sp.add_argument("--top", type=int, default=10_000)
    sp.add_argument("--out", default=None)
    sp.add_argument("--limit", type=int, default=20,
                    help="max picks echoed (full set goes to --out)")
    sp = sub.add_parser("ingest-docs")
    sp.add_argument("--docs", required=True)
    sp.add_argument("--registry", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--near", action="store_true")
    sp.add_argument("--out", default=None)
    sp.add_argument("--n-buckets", type=int, default=16)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    spark = get_spark(f"airbyte_spark-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    out = run(spark, args)
    print(json.dumps(out))
    return 0 if out.get("status") != "FAILED" else 1


def run(spark, args) -> dict:
    from airbyte_spark.lake.format import LakeTable
    from airbyte_spark.schema import CHANGE_SCHEMA
    from airbyte_spark.streaming.pipeline import CdcPipeline

    if args.cmd == "discover":
        if LakeTable.exists(args.target):
            t = LakeTable.load(spark, args.target)
            schema = t.schema()
        else:
            from airbyte_spark.streaming.pipeline import default_target_schema

            schema = default_target_schema()
        return {
            "type": "CATALOG",
            "streams": [
                {
                    "name": "pages",
                    "json_schema": json.loads(schema.json()),
                    "supported_sync_modes": ["full_refresh", "incremental"],
                    "source_defined_cursor": True,
                    "default_cursor_field": ["warc_ts"],
                    "source_defined_primary_key": [["url"]],
                }
            ],
        }

    if args.cmd == "check":
        try:
            df = spark.read.schema(CHANGE_SCHEMA).option("basePath", args.source).parquet(
                args.source
            )
            n = df.limit(1).count()
            return {"type": "CONNECTION_STATUS", "status": "SUCCEEDED", "sampled": n}
        except Exception as e:  # noqa: BLE001
            return {"type": "CONNECTION_STATUS", "status": "FAILED", "message": str(e)}

    if args.cmd == "read":
        pipe = CdcPipeline.create_target(
            spark, args.target, n_buckets=args.n_buckets,
            write_mode=getattr(args, "write_mode", "cow"),
        )
        results = pipe.replay_dir(args.source, from_checkpoint=args.from_checkpoint)
        return {
            "type": "SYNC_RESULT",
            "batches": len(results),
            "applied": sum(1 for r in results if not r.skipped),
            "skipped": sum(1 for r in results if r.skipped),
            "committed": pipe.committed_checkpoints(),
        }

    if args.cmd == "stream":
        pipe = CdcPipeline.create_target(
            spark, args.target, n_buckets=args.n_buckets,
            write_mode=getattr(args, "write_mode", "cow"),
        )
        pipe.run_stream(args.source, args.spark_checkpoint, available_now=True)
        return {
            "type": "SYNC_RESULT",
            "mode": "stream",
            "committed": pipe.committed_checkpoints(),
        }

    if args.cmd == "full-refresh":
        from airbyte_spark.lake.merge import target_projection

        pipe = CdcPipeline.create_target(spark, args.target, n_buckets=args.n_buckets)
        df = spark.read.schema(CHANGE_SCHEMA).option("basePath", args.source).parquet(
            args.source
        )
        from pyspark.sql import Window

        w = Window.partitionBy("url").orderBy(
            F.col("warc_ts").desc_nulls_last(), F.col("_ab_cdc_lsn").desc_nulls_last()
        )
        snap = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1))
            .drop("_rn")
        )
        from airbyte_spark.streaming.pipeline import _extract_winners

        snap = _extract_winners(snap)
        pipe.table.overwrite(target_projection(snap, pipe.cfg), stat_cols=["url"])
        return {"type": "SYNC_RESULT", "mode": "full_refresh", "rows": pipe.raw_state().count()}

    if args.cmd == "reset":
        t = LakeTable.load(spark, args.target)
        t.truncate()
        return {"type": "SYNC_RESULT", "mode": "reset", "version": t.current_version()}

    if args.cmd == "expire":
        pipe = CdcPipeline.create_target(spark, args.target)
        v = pipe.expire_tombstones(args.watermark)
        return {"type": "SYNC_RESULT", "mode": "expire", "version": v}

    if args.cmd == "metrics":
        pipe = CdcPipeline.create_target(spark, args.target)
        rows = [r.asDict() for r in pipe.metrics().collect()]
        lineage = [r.asDict() for r in pipe.table.lineage_df().collect()]
        return {"type": "METRICS", "rows": rows, "lineage": lineage}

    if args.cmd in ("sync", "discover-catalog"):
        from airbyte_spark.catalog import catalog_from_json, sync

        with open(args.catalog) as fh:
            cat = catalog_from_json(json.load(fh))
        if args.cmd == "discover-catalog":
            return {"type": "CATALOG", **cat.discover()}
        if getattr(args, "attempts_log", None) or getattr(args, "loop", None):
            from airbyte_spark.scheduler import run_sync_loop, run_sync_with_retries

            attempts = args.attempts_log or (args.catalog + ".attempts.jsonl")
            kw = dict(
                max_attempts=args.max_attempts,
                backoff_s=args.backoff,
                atomic=getattr(args, "atomic", False),
                txn_log_dir=getattr(args, "txn_log", None),
            )
            if args.loop:
                return {
                    "type": "SYNC_JOBS",
                    "jobs": run_sync_loop(
                        spark, cat, attempts, args.loop,
                        interval_s=args.interval, **kw,
                    ),
                }
            return {
                "type": "SYNC_JOB",
                **run_sync_with_retries(spark, cat, attempts, **kw),
            }
        return {
            "type": "SYNC_RESULT",
            "streams": sync(
                spark,
                cat,
                atomic=getattr(args, "atomic", False),
                txn_log_dir=getattr(args, "txn_log", None),
            ),
        }

    if args.cmd == "spec":
        # ≡ the reference entrypoint's `spec` (airbyte-cdk entrypoint.py:27-58;
        # ConnectorSpecification): the engine's configuration surface
        return {
            "type": "SPEC",
            "documentationUrl": "README.md",
            "connectionSpecification": {
                "type": "object",
                "required": ["source", "target"],
                "properties": {
                    "source": {"type": "string",
                               "description": "changelog directory (parquet segments)"},
                    "target": {"type": "string", "description": "lake table path"},
                    "n_buckets": {"type": "integer", "default": 16,
                                  "description": "url-hash bucket count (merge pruning + skew spread)"},
                    "write_mode": {"type": "string", "enum": ["cow", "mor"], "default": "cow"},
                    "from_checkpoint": {"type": ["integer", "null"], "default": None},
                    "catalog": {"type": "string",
                                "description": "multi-stream catalog JSON (sync command)"},
                },
            },
        }

    if args.cmd == "emit-messages":
        # lake table → AirbyteMessage JSONL (RECORD lines + trailing STATE
        # carrying the table's resume position), so any protocol-speaking
        # destination can consume this engine's output unchanged
        from airbyte_spark.lake.format import LakeTable
        from airbyte_spark.sources.airbyte_messages import write_airbyte_messages

        t = LakeTable.load(spark, args.target)
        df = t.read()
        emitted = "_emitted_at" if "_emitted_at" in df.columns else None
        state = {"table_version": t.current_version(),
                 "committed": sorted(t.committed())}
        write_airbyte_messages(
            df, args.out, args.stream, state=state, emitted_at_col=emitted
        )
        return {"type": "EMIT_RESULT", "out": args.out, "stream": args.stream,
                "records": df.count(), **{"table_version": state["table_version"]}}

    if args.cmd == "export-shards":
        from airbyte_spark.destinations import export_shards

        docs = spark.read.parquet(args.docs)
        manifest = export_shards(
            docs, args.target, max_tokens=args.max_tokens, n_shards=args.n_shards
        )
        return {"type": "EXPORT_RESULT", "target": args.target, **manifest}

    if args.cmd == "audit":
        from airbyte_spark.lake.audit import audit_replay
        from airbyte_spark.schema import CHANGE_SCHEMA as _CS

        pipe = CdcPipeline.create_target(spark, args.target)
        log = spark.read.schema(_CS).option("basePath", args.source).parquet(args.source)
        diffs = audit_replay(pipe.raw_state(), log, pipe.cfg).cache()
        by_verdict = {
            r["verdict"]: r["n"]
            for r in diffs.groupBy("verdict").agg(F.count("*").alias("n")).collect()
        }
        sample = [r.asDict() for r in diffs.limit(args.limit).collect()]
        diffs.unpersist()
        return {
            "type": "AUDIT_RESULT",
            "consistent": not by_verdict,
            "divergent_keys": int(sum(by_verdict.values())),
            "by_verdict": by_verdict,
            "sample": sample,
        }

    if args.cmd == "compact":
        t = LakeTable.load(spark, args.target)
        n_before = len(t.files())
        v = t.compact(target_file_bytes=args.target_file_mb * 1024 * 1024)
        return {
            "type": "MAINTENANCE_RESULT",
            "mode": "compact",
            "files_before": n_before,
            "files_after": len(t.files()),
            "version": v,
        }

    if args.cmd == "vacuum":
        t = LakeTable.load(spark, args.target)
        return {
            "type": "MAINTENANCE_RESULT",
            "mode": "vacuum",
            "files_removed": t.vacuum(retain_last=getattr(args, "retain_last", 10)),
        }

    if args.cmd == "properties":
        t = LakeTable.load(spark, args.target)
        sets = dict(kv.split("=", 1) for kv in args.set)
        if sets or args.unset:
            t._update_properties(sets, set(args.unset), "set-properties")
        return {
            "type": "MAINTENANCE_RESULT",
            "mode": "properties",
            "properties": t.properties(),
            "version": t.current_version(),
        }

    if args.cmd == "expire-snapshots":
        t = LakeTable.load(spark, args.target)
        return {
            "type": "MAINTENANCE_RESULT",
            "mode": "expire-snapshots",
            "manifests_removed": t.expire_snapshots(retain_last=args.retain_last),
            "version": t.current_version(),
        }

    if args.cmd == "inspect":
        t = LakeTable.load(spark, args.target)
        df = {
            "partitions": t.partitions_df,
            "snapshots": t.snapshots_df,
            "files": t.files_df,
        }[args.what]()
        return {
            "type": "MAINTENANCE_RESULT",
            "mode": f"inspect:{args.what}",
            "rows": [r.asDict() for r in df.limit(args.limit).collect()],
        }

    if args.cmd == "txn-recover":
        from airbyte_spark.lake.transaction import recover

        rolled = recover(
            spark,
            args.txn_log,
            args.tables.split(",") if args.tables else None,
        )
        return {"type": "MAINTENANCE_RESULT", "mode": "txn-recover", "rolled_forward": rolled}

    if args.cmd == "tag":
        t = LakeTable.load(spark, args.target)
        if args.name and args.drop:
            t.drop_tag(args.name)
        elif args.name:
            t.tag(args.name, args.version)
        return {"type": "MAINTENANCE_RESULT", "mode": "tag", "tags": t.tags()}

    if args.cmd == "delete-keys":
        from airbyte_spark.lake.dml import delete_equality

        t = LakeTable.load(spark, args.target)
        if args.keys_parquet:
            keys = spark.read.parquet(args.keys_parquet).select(args.col)
        elif args.values:
            keys = args.values.split(",")
        else:
            raise SystemExit("delete-keys needs --values or --keys-parquet")
        res = delete_equality(
            t, keys, cols=[args.col], checkpoint_key=args.checkpoint_key
        )
        return {"type": "MAINTENANCE_RESULT", "mode": "delete-keys", **res}

    if args.cmd == "respec":
        from airbyte_spark.lake.format import PartitionSpec

        t = LakeTable.load(spark, args.target)
        v = t.rewrite_partition_spec(
            PartitionSpec.bucket(args.bucket_col, args.n_buckets)
        )
        return {
            "type": "MAINTENANCE_RESULT",
            "mode": "respec",
            "version": v,
            "n_buckets": args.n_buckets,
            "files": len(t.files()),
        }

    if args.cmd == "cluster":
        t = LakeTable.load(spark, args.target)
        v = t.cluster(
            args.sort_cols.split(","),
            target_file_bytes=args.target_file_mb * 1024 * 1024,
            zorder=args.zorder,
        )
        return {
            "type": "MAINTENANCE_RESULT",
            "mode": "cluster",
            "version": v,
            "sort_order": t.properties()["sort.order"],
            "files": len(t.files()),
        }

    if args.cmd == "rollback":
        t = LakeTable.load(spark, args.target)
        v = t.rollback(args.to_version)
        return {
            "type": "MAINTENANCE_RESULT",
            "mode": "rollback",
            "version": v,
            "restored": args.to_version,
            "files": len(t.files()),
        }

    if args.cmd == "fsck":
        t = LakeTable.load(spark, args.target)
        issues = t.fsck()
        return {
            "type": "MAINTENANCE_RESULT",
            "mode": "fsck",
            "n_issues": len(issues),
            "issues": issues[:50],
        }

    if args.cmd == "compact-versions":
        from airbyte_spark.lake.merge import compact_versions
        from airbyte_spark.protocol import StreamConfig
        from airbyte_spark.streaming.pipeline import default_target_schema

        t = LakeTable.load(spark, args.target)
        n_before = t.read().count()
        v = compact_versions(t, StreamConfig(name="pages", schema=default_target_schema()))
        return {
            "type": "MAINTENANCE_RESULT",
            "mode": "compact-versions",
            "rows_before": n_before,
            "rows_after": t.read().count(),
            "version": v,
        }

    if args.cmd == "curate":
        from airbyte_spark.operators.curate import curate_corpus

        docs = spark.read.parquet(args.docs)
        langs = args.langs.split(",") if args.langs else None
        verdict = curate_corpus(docs, min_quality=args.min_quality, accept_langs=langs)
        if args.out:
            verdict.write.mode("overwrite").parquet(args.out)
            verdict = spark.read.parquet(args.out)
        counts = {
            r["retained"]: r["n"]
            for r in verdict.groupBy("retained").agg(F.count("*").alias("n")).collect()
        }
        return {
            "type": "CURATE_RESULT",
            "retained": counts.get(True, 0),
            "rejected": counts.get(False, 0),
            "out": args.out,
        }

    if args.cmd == "ingest-warc":
        from pyspark.sql.types import (
            BinaryType,
            LongType,
            StringType,
            StructField,
            StructType,
            TimestampNTZType,
        )

        from airbyte_spark.lake.format import PartitionSpec
        from airbyte_spark.protocol import StreamConfig
        from airbyte_spark.sources.warc import stream_warc_ingest

        target_schema = StructType(
            [
                StructField("url", StringType(), False),
                StructField("warc_ts", TimestampNTZType(), True),
                StructField("html", BinaryType(), True),
                StructField("_ab_cdc_lsn", LongType(), True),
                StructField("_ab_cdc_deleted_at", TimestampNTZType(), True),
            ]
        )
        cfg = StreamConfig(name="crawl", schema=target_schema, primary_key=["url"])
        if LakeTable.exists(args.target):
            t = LakeTable.load(spark, args.target)
        else:
            t = LakeTable.create(
                spark, args.target, target_schema,
                PartitionSpec.bucket("url", args.n_buckets),
            )
        stream_warc_ingest(t, cfg, args.warc_dir, args.spark_checkpoint)
        return {
            "type": "INGEST_RESULT",
            "mode": "warc",
            "rows": t.read().count(),
            "version": t.current_version(),
            "committed": len(t.committed()),
        }

    if args.cmd == "ingest-docs":
        from airbyte_spark.operators.dedup_incremental import (
            create_neardup_registry,
            create_registry,
            ingest_dedup,
            ingest_near_dedup,
        )

        docs = spark.read.parquet(args.docs)
        if args.near:
            reg = create_neardup_registry(spark, args.registry, args.n_buckets)
            admitted = ingest_near_dedup(reg, docs, args.checkpoint)
        else:
            reg = create_registry(spark, args.registry, args.n_buckets)
            admitted = ingest_dedup(reg, docs, args.checkpoint)
        if args.out:
            admitted.write.mode("overwrite").parquet(args.out)
        n_in, n_adm = docs.count(), admitted.count()
        return {
            "type": "INGEST_RESULT",
            "mode": "near" if args.near else "exact",
            "input": n_in,
            "admitted": n_adm,
            "dropped": n_in - n_adm,
            "registry_version": reg.current_version(),
            "out": args.out,
        }

    if args.cmd == "constraint":
        t = LakeTable.load(spark, args.target)
        if args.add:
            from airbyte_spark.lake.format import ConstraintViolation

            name, expr = args.add
            try:
                v = t.add_constraint(name, expr)
            except ConstraintViolation as ex:
                return {"type": "CONSTRAINT", "status": "FAILED", "error": str(ex)}
            return {"type": "CONSTRAINT", "added": name, "version": v,
                    "constraints": t.constraints()}
        if args.drop:
            v = t.drop_constraint(args.drop)
            return {"type": "CONSTRAINT", "dropped": args.drop, "version": v,
                    "constraints": t.constraints()}
        return {"type": "CONSTRAINT", "constraints": t.constraints()}

    if args.cmd == "frontier":
        from airbyte_spark.operators.crawl import (
            allocate_fetch_budget,
            recrawl_schedule,
        )
        from airbyte_spark.schema import CHANGE_SCHEMA

        ch = spark.read.schema(CHANGE_SCHEMA).option(
            "basePath", args.source
        ).parquet(args.source)
        sched = recrawl_schedule(ch, top=args.top)
        # one execution of the plan: persist, then write/head/count reuse it
        picks = allocate_fetch_budget(sched, budget=args.budget).persist()
        try:
            if args.out:
                picks.write.mode("overwrite").parquet(args.out)
            rows = picks.orderBy("domain", "slot").limit(args.limit).collect()
            n = picks.count()
        finally:
            picks.unpersist()
        return {
            "type": "FRONTIER",
            "budget": args.budget,
            "selected": n,
            "head": [
                {"domain": r["domain"], "url": r["url"], "slot": r["slot"],
                 "priority": r["priority"]}
                for r in rows
            ],
            "out": args.out,
        }

    raise SystemExit(f"unknown command {args.cmd}")


if __name__ == "__main__":
    sys.exit(main())
