"""CLI — the reference's ``cnpj.py`` entry points re-mapped
(``src/rfb_cnpj_etl/main.py:21-152`` → engine subcommands).

Reference → graft:

* ``db init``      → ``init``    (create empty state table + manifest)
* ``db load``      → ``replay``  (tail changelog parquet → MERGE loop)
* ``db patch``     → folded into the replay normalize stage (SURVEY M3-M6)
* ``db index``     → ``audit``   (no B-trees in Spark; the analog is the
  key-uniqueness + FK-orphan audits the reference's indexes/FKs enforce)
* n/a              → ``verify``  (sha256 differential vs independent oracle)

Run locally (master defaults to ``local[$SPARK_GRAFT_CPUS]``)::

    python -m rfb_cnpj_etl_spark.cli replay --log /data/changelog \
        --state /data/state --manifest /data/manifest.jsonl

or on a cluster — package the lib and let spark-submit own the master::

    spark-submit --py-files rfb_cnpj_etl_spark.zip \
        -m rfb_cnpj_etl_spark.cli ... (SPARK_GRAFT_MASTER unset)
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from .engine import CdcEngine
from .gen import expected_final_state, synthesize_changelog
from .session import get_spark


def _engine(args) -> CdcEngine:
    spark = get_spark("rfb_cnpj_etl_spark_cli")
    return CdcEngine(
        spark,
        args.state,
        args.manifest,
        buckets=args.buckets,
        merge_mode=getattr(args, "merge_mode", "auto"),
        commit_protocol=getattr(args, "commit_protocol", "rename"),
        changes_dir=getattr(args, "changes_dir", None),
        feed_preimages=getattr(args, "feed_preimages", False),
    )


def cmd_init(args) -> int:
    eng = _engine(args)
    from .schema import CHANGELOG_SCHEMA

    like = eng.spark.createDataFrame([], CHANGELOG_SCHEMA)
    eng.state.init_empty(like)
    # record the chosen bucket count so a later bare `replay` (no
    # --buckets) picks it up instead of silently reverting to the default
    eng.manifest.commit(
        {
            "batch_id": "init",
            "lsn_lo": -1,
            "lsn_hi": -1,
            "schema_version": eng.registry.version,
            "buckets": eng.state.buckets,
            "rows": 0,
        }
    )
    print(
        json.dumps(
            {"state": args.state, "initialized": True, "buckets": eng.state.buckets}
        )
    )
    return 0


def cmd_replay(args) -> int:
    eng = _engine(args)
    log = eng.spark.read.parquet(args.log)
    idx = None
    if getattr(args, "minhash_index", None):
        from .operators.dedup import MinhashIndex

        idx = MinhashIndex.open(eng.spark, args.minhash_index)
    maintenance = None
    if getattr(args, "maintain", False):
        from .engine import MaintenancePolicy

        maintenance = MaintenancePolicy()
    entries = eng.replay(
        log,
        batch_size=args.batch_size,
        minhash_index=idx,
        index_max_fanout=getattr(args, "index_max_fanout", None),
        maintenance=maintenance,
    )
    # nothing pending + never-created state table → report 0 rows, don't
    # blow up on a parquet read of a nonexistent path.
    rows = eng.final_state().count() if eng.state.exists() else 0
    print(
        json.dumps(
            {
                "batches_applied": sum(1 for e in entries if not e.get("skipped")),
                "batches_skipped": sum(1 for e in entries if e.get("skipped")),
                "high_watermark": eng.manifest.high_watermark(),
                "rows": rows,
                # observability: which master actually ran the job — under
                # spark-submit this must be the submitted one, not any
                # env-var fallback (tests/test_spark_submit.py asserts it)
                "master": eng.spark.sparkContext.master,
            }
        )
    )
    return 0


def cmd_changes(args) -> int:
    """Summarize (and optionally filter) the published change feed —
    the downstream consumer's entry point."""
    eng = _engine(args)
    feed = eng.change_feed()
    if args.since_lsn is not None:
        feed = feed.filter(F.col("lsn") > args.since_lsn)
    by_type = {
        r["change_type"]: r["n"]
        for r in feed.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    lo_hi = feed.agg(
        F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
    ).collect()[0]
    print(
        json.dumps(
            {
                "rows": int(sum(by_type.values())),
                "by_change_type": by_type,
                "lsn_lo": lo_hi["lo"],
                "lsn_hi": lo_hi["hi"],
                "batch_dirs": feed.select("batch").distinct().count(),
            }
        )
    )
    return 0


def cmd_snapshot(args) -> int:
    """Time travel: reconstruct the state as of a past batch from the
    change feed (no stored snapshot — one fold over the feed prefix)."""
    eng = _engine(args)
    snap = eng.state_as_of(args.as_of)
    if args.out:
        snap.write.mode("overwrite").parquet(args.out)
        snap = eng.spark.read.parquet(args.out)
    print(
        json.dumps(
            {
                "batch_id": args.as_of,
                "rows": snap.count(),
                "columns": snap.columns,
                "out": args.out,
            }
        )
    )
    return 0


def cmd_checkpoint(args) -> int:
    """Publish a snapshot checkpoint into the change feed so later
    time travel folds from it (and retention can prune covered dirs)."""
    eng = _engine(args)
    res = eng.checkpoint_feed(args.as_of)
    print(json.dumps(res))
    return 0


def cmd_verify(args) -> int:
    eng = _engine(args)
    log = eng.spark.read.parquet(args.log)
    res = eng.verify_against(expected_final_state(log))
    print(json.dumps(res))
    return 0 if res["ok"] else 1


def cmd_audit(args) -> int:
    eng = _engine(args)
    dups = eng.state.audit_key_uniqueness()
    print(json.dumps({"duplicate_keys": dups, "ok": dups == 0}))
    return 0 if dups == 0 else 1


def cmd_rebucket(args) -> int:
    eng = _engine(args)
    entry = eng.rebucket(args.to_buckets)
    print(
        json.dumps(
            {
                "rebucket_from": entry["rebucket_from"],
                "rebucket_to": entry["rebucket_to"],
                "rows": entry["rows"],
            }
        )
    )
    return 0


def cmd_optimize(args) -> int:
    eng = _engine(args)
    res = eng.state.compact(
        target_files_per_bucket=args.files_per_bucket,
        sort_within_buckets=args.sort_within_buckets or None,
    )
    print(json.dumps(res))
    return 0


def cmd_health(args) -> int:
    # documented as metadata-only: pure os.listdir/getsize over the
    # table path — no SparkSession (JVM startup) for a report that
    # never runs a Spark job.
    from .operators.store import path_health

    h = path_health(args.state)
    h.pop("per_bucket", None)  # keep the one-line summary greppable
    print(json.dumps(h))
    return 0


def cmd_maintain(args) -> int:
    from .engine import MaintenancePolicy

    eng = _engine(args)
    idx = None
    if args.minhash_index:
        from .operators.dedup import MinhashIndex

        idx = MinhashIndex.open(eng.spark, args.minhash_index)
    policy = MaintenancePolicy(
        max_files_per_bucket=args.max_files_per_bucket,
        auto_compact=not args.dry_run,
        rebucket_above_bucket_bytes=args.rebucket_above_bytes,
        auto_rebucket=args.auto_rebucket and not args.dry_run,
        feed_checkpoint_every=(
            None if args.dry_run else args.feed_checkpoint_every
        ),
        changes_retention_batches=(
            None if args.dry_run else args.changes_retention
        ),
    )
    report = eng.maintain(policy, minhash_index=idx)
    report.pop("manifest_entry", None)
    print(json.dumps(report))
    return 0


def cmd_posting_skew(args) -> int:
    import os

    from .operators.dedup import MinhashIndex

    # MinhashIndex.open CREATES an index (params marker + store dirs)
    # when the path is fresh — a diagnostic verb must not do that on a
    # typo'd/empty path; fail loudly instead.
    marker = os.path.join(args.minhash_index, MinhashIndex.PARAMS_FILE)
    if not os.path.exists(marker):
        print(
            json.dumps(
                {
                    "error": f"no MinHash index at {args.minhash_index} "
                    f"(missing {MinhashIndex.PARAMS_FILE})"
                }
            ),
            file=sys.stderr,
        )
        return 2
    spark = get_spark("rfb_cnpj_etl_spark_cli")
    idx = MinhashIndex.open(spark, args.minhash_index)
    top = [
        {"band": r["band"], "bkey": str(r["bkey"]), "n_ids": r["n_ids"]}
        for r in idx.posting_skew(top_n=args.top).collect()
    ]
    print(json.dumps({"index": args.minhash_index, "hot_keys": top}))
    return 0


def cmd_gen(args) -> int:
    spark = get_spark("rfb_cnpj_etl_spark_cli")
    synthesize_changelog(
        spark,
        args.events,
        hot_repo_fraction=args.hot_fraction,
        seed=args.seed,
    ).write.mode("overwrite").parquet(args.log)
    print(json.dumps({"log": args.log, "events": args.events}))
    return 0


def cmd_aggregate(args) -> int:
    """Advance an incrementally-maintained GROUP BY from the change
    feed (requires the feed to be published with --feed-preimages)."""
    from .operators.ivm import IncrementalAggregate

    eng = _engine(args)
    sums = {}
    for spec in args.sum or []:
        name, _, expr = spec.partition("=")
        if not expr:
            print(f"--sum expects NAME=EXPR, got {spec!r}", file=sys.stderr)
            return 2
        sums[name] = expr
    group_cols = [c.strip() for c in args.group.split(",") if c.strip()]
    if not group_cols:
        print(f"--group expects column names, got {args.group!r}",
              file=sys.stderr)
        return 2
    agg = IncrementalAggregate(eng.spark, args.ivm_path, group_cols, sums)
    if args.bootstrap:
        # the documented recovery for a feed-retention gap (and the
        # mid-life bootstrap): one O(state) rebuild, then advance picks
        # up whatever committed after the rebuild's manifest snapshot
        agg.seed(eng)
    res = agg.advance(eng)
    report = {
        "ivm_path": args.ivm_path,
        "applied": res["applied"],
        "bootstrapped": bool(args.bootstrap),
        "groups": agg.read().count() if agg.exists() else 0,
    }
    if args.verify:
        report["matches_full_recompute"] = (
            agg.verify_against_state(eng)["ok"] if agg.exists() else None
        )
    print(json.dumps(report))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="rfb_cnpj_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--state", required=True)
        sp.add_argument("--manifest", required=True)
        # default None = take the bucket count from the table's layout
        # marker / manifest, falling back to 32 for a fresh table.
        sp.add_argument("--buckets", type=int, default=None)
        # fresh-table default only; an existing table's layout marker
        # decides (rename = atomic-dir-rename filesystems, pointer =
        # S3-class object stores: immutable files + atomic marker)
        sp.add_argument("--commit-protocol", choices=["rename", "pointer"],
                        default="rename")

    sp = sub.add_parser("init", help="create empty state table + manifest")
    common(sp)
    sp.set_defaults(fn=cmd_init)

    sp = sub.add_parser("replay", help="resumable CDC replay from changelog parquet")
    common(sp)
    sp.add_argument("--log", required=True)
    sp.add_argument("--batch-size", type=int, default=1_000_000)
    sp.add_argument(
        "--minhash-index",
        default=None,
        help="path of a MinHash index to maintain during the replay "
        "(near-dup pairs surface per batch in the manifest)",
    )
    sp.add_argument(
        "--merge-mode",
        choices=("auto", "cow", "mor"),
        default="auto",
        help="per-batch write strategy: cow rewrites touched buckets, "
        "mor appends merge-on-read delta files (small-churn path), "
        "auto decides from the batch/state row ratio",
    )
    sp.add_argument(
        "--index-max-fanout",
        type=int,
        default=None,
        help="skew cap for the index pair probe: posting lists larger "
        "than this are excluded from candidate generation (viral "
        "near-dup clusters; recall degrades gracefully via the other "
        "bands). Default: exact",
    )
    sp.add_argument(
        "--maintain",
        action="store_true",
        help="run the default maintenance policy after the replay",
    )
    sp.add_argument(
        "--changes-dir",
        default=None,
        help="publish each batch's net row-level changes (CDC-out: "
        "insert/update/delete + before-image LSN) under this dir — "
        "the Delta Change-Data-Feed analog; read back with `changes`",
    )
    sp.add_argument(
        "--feed-preimages",
        action="store_true",
        help="also publish the replaced row for every update/delete "
        "(update_preimage/delete_preimage rows, the Delta CDF preimage "
        "analog) so downstream incremental aggregates can subtract "
        "retired contributions without reading the state table",
    )
    sp.set_defaults(fn=cmd_replay)

    sp = sub.add_parser(
        "changes", help="read the published CDC-out change feed"
    )
    common(sp)
    sp.add_argument("--changes-dir", required=True)
    sp.add_argument(
        "--since-lsn",
        type=int,
        default=None,
        help="only changes with lsn greater than this",
    )
    sp.set_defaults(fn=cmd_changes)

    sp = sub.add_parser(
        "snapshot",
        help="time travel: rebuild the state as of a past batch from "
        "the change feed",
    )
    common(sp)
    sp.add_argument("--changes-dir", required=True)
    sp.add_argument(
        "--as-of", required=True, help="manifest batch_id to rewind to"
    )
    sp.add_argument(
        "--out", default=None, help="write the snapshot as parquet here"
    )
    sp.set_defaults(fn=cmd_snapshot)

    sp = sub.add_parser(
        "checkpoint",
        help="materialize a snapshot checkpoint into the change feed "
        "(bounds time-travel folds; makes retention pruning safe)",
    )
    common(sp)
    sp.add_argument("--changes-dir", required=True)
    sp.add_argument(
        "--as-of",
        default=None,
        help="manifest batch_id to checkpoint (default: newest batch)",
    )
    sp.set_defaults(fn=cmd_checkpoint)

    sp = sub.add_parser("verify", help="sha256 differential vs oracle final state")
    common(sp)
    sp.add_argument("--log", required=True)
    sp.set_defaults(fn=cmd_verify)

    sp = sub.add_parser("audit", help="key-uniqueness audit (deferred-PK analog)")
    common(sp)
    sp.set_defaults(fn=cmd_audit)

    sp = sub.add_parser(
        "rebucket",
        help="migrate the state table to a new bucket count (B evolution)",
    )
    common(sp)
    sp.add_argument("--to-buckets", type=int, required=True)
    sp.set_defaults(fn=cmd_rebucket)

    sp = sub.add_parser(
        "optimize", help="per-bucket small-file compaction (OPTIMIZE analog)"
    )
    common(sp)
    sp.add_argument("--files-per-bucket", type=int, default=1)
    # within-bucket sort order: parquet row-group min/max data skipping
    # on non-key predicates (the reference's secondary-index analog)
    sp.add_argument("--sort-within-buckets", nargs="*", default=None,
                    metavar="COL")
    sp.set_defaults(fn=cmd_optimize)

    sp = sub.add_parser(
        "health", help="file-size/skew health report (metadata-only, no JVM)"
    )
    # health reads the filesystem only — it deliberately does NOT take
    # the common options that would construct an engine/session.
    sp.add_argument("--state", required=True)
    sp.set_defaults(fn=cmd_health)

    sp = sub.add_parser(
        "posting-skew",
        help="hottest LSH posting keys of a MinHash index (picks a "
        "--index-max-fanout value)",
    )
    sp.add_argument("--minhash-index", required=True)
    sp.add_argument("--top", type=int, default=20)
    sp.set_defaults(fn=cmd_posting_skew)

    sp = sub.add_parser(
        "maintain",
        help="health-driven compaction/rebucket per the maintenance policy",
    )
    common(sp)
    sp.add_argument("--minhash-index", default=None)
    sp.add_argument("--max-files-per-bucket", type=int, default=8)
    sp.add_argument("--rebucket-above-bytes", type=int, default=None)
    sp.add_argument("--auto-rebucket", action="store_true")
    sp.add_argument(
        "--changes-dir",
        default=None,
        help="the engine's change feed (enables the two feed knobs below)",
    )
    sp.add_argument(
        "--feed-checkpoint-every",
        type=int,
        default=None,
        help="auto-publish a feed snapshot checkpoint once this many "
        "batches committed since the newest one (runs before retention)",
    )
    sp.add_argument(
        "--changes-retention",
        type=int,
        default=None,
        help="keep only the newest N feed batch dirs (only "
        "checkpoint-covered dirs are pruned once a checkpoint exists)",
    )
    sp.add_argument(
        "--dry-run",
        action="store_true",
        help="report recommendations only; rewrite nothing",
    )
    sp.set_defaults(fn=cmd_maintain)

    sp = sub.add_parser(
        "aggregate",
        help="incrementally maintain a GROUP BY from the change feed "
        "(publish it with replay --feed-preimages)",
    )
    common(sp)
    sp.add_argument("--changes-dir", required=True)
    sp.add_argument("--ivm-path", required=True)
    sp.add_argument(
        "--group", required=True,
        help="comma-separated group columns, e.g. repo,lang",
    )
    sp.add_argument(
        "--sum", action="append", default=[], metavar="NAME=EXPR",
        help="sum measure over a feed row, e.g. "
        "content_chars=length(content); repeatable",
    )
    sp.add_argument(
        "--verify", action="store_true",
        help="also run the O(state) full-recompute differential",
    )
    sp.add_argument(
        "--bootstrap", action="store_true",
        help="seed() from the current state first — the recovery for a "
        "feed-retention gap and the bootstrap for a feed enabled "
        "mid-life (one O(state) pass; advance stays O(churn) after)",
    )
    sp.set_defaults(fn=cmd_aggregate)

    sp = sub.add_parser("gen", help="seeded synthetic changelog generator")
    sp.add_argument("--log", required=True)
    sp.add_argument("--events", type=int, default=100_000)
    sp.add_argument("--hot-fraction", type=float, default=0.0)
    sp.add_argument("--seed", type=int, default=42)
    sp.set_defaults(fn=cmd_gen)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
