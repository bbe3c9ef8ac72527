"""In-JVM A/B attribution for the round-2 `cdc_bulk_replay` regression
(BENCH_r01 338.9k ev/s → BENCH_r02 200.4k ev/s, −41%).

Two candidate causes (VERDICT r2 "What's wrong" #2):

(a) the round-2 correctness fix added a NORMALIZED-key probe pass and a
    streamed (repartitionByRange + toLocalIterator) window fetch inside
    the timed region (engine.py replay);
(b) documented host-CPU weather (the same job swings multiple × across
    a day on this microVM — see BASELINE.md methodology notes).

This script isolates (a): ONE JVM, one pre-generated log, alternating
interleaved runs (A B B A A B ...) of

  A = the current engine (normalized probe + streamed fetch), and
  B = the round-1 probe shape (raw-key probe + driver collect()),
      reconstructed inline — byte-identical merge path, only the probe
      differs. (B's raw-key probe is the shape the r2 fix REPLACED
      because it silently mis-bucketed normalization-altered keys; the
      synthetic log has clean keys, so both variants produce identical
      state here.)

State/manifest live on tmpfs (/dev/shm) so the one slow host disk does
not add its own noise. Prints one JSON line with per-rep seconds,
medians and best-of for both variants: if A ≈ B, the regression is
weather; if A ≫ B, the probe is the cost and should be fused.

Usage: python scripts/bench_ab_replay.py [--events 2000000] [--reps 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def replay_r1_probe(eng, log, batch_size: int, lsn_col: str = "lsn"):
    """Round-1 replay shape: raw-key probe, driver-side collect."""
    from rfb_cnpj_etl_spark.operators.store import key_bucket

    watermark = eng.manifest.high_watermark()
    pending = log.filter(F.col(lsn_col) > watermark)
    bucket_col = key_bucket(eng.state.keys, eng.state.buckets)
    win = F.floor(F.col(lsn_col) / F.lit(batch_size)).cast("long")
    pairs = (
        pending.groupBy(win.alias("__w"), bucket_col.alias("__b"))
        .agg(F.max(lsn_col).alias("__hi"), F.min(lsn_col).alias("__lo"))
        .collect()
    )
    wins: dict[int, dict] = {}
    for r in pairs:
        w = wins.setdefault(int(r["__w"]), {"buckets": [], "lo": None, "hi": None})
        w["buckets"].append(int(r["__b"]))
        w["lo"] = int(r["__lo"]) if w["lo"] is None else min(int(r["__lo"]), w["lo"])
        w["hi"] = int(r["__hi"]) if w["hi"] is None else max(int(r["__hi"]), w["hi"])
    out = []
    for wid in sorted(wins):
        w = wins[wid]
        start, end = wid * batch_size, (wid + 1) * batch_size - 1
        batch = pending.filter(F.col(lsn_col).between(start, end))
        out.append(
            eng.apply_batch(
                batch,
                f"lsn_{w['lo']}_{w['hi']}",
                w["lo"],
                w["hi"],
                touched=sorted(w["buckets"]),
            )
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--batch-size", type=int, default=None)
    ap.add_argument("--work", default="/dev/shm/ab_replay")
    args = ap.parse_args()
    batch_size = args.batch_size or args.events

    from rfb_cnpj_etl_spark.engine import CdcEngine
    from rfb_cnpj_etl_spark.gen import synthesize_changelog
    from rfb_cnpj_etl_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "ab_replay",
        cores=cpus,
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work, exist_ok=True)
    log_path = f"{args.work}/log"
    synthesize_changelog(
        spark,
        args.events,
        n_repos=200,
        n_paths=5000,
        delete_ratio=0.1,
        hot_repo_fraction=0.1,
        partitions=64,
    ).write.mode("overwrite").parquet(log_path)
    log = spark.read.parquet(log_path)

    # JIT warm-up: one untimed half-size replay so neither variant pays
    # C2 compile (BASELINE.md methodology)
    warm_dir = f"{args.work}/warm"
    eng = CdcEngine(spark, f"{warm_dir}/state", f"{warm_dir}/manifest.jsonl")
    eng.replay(log.filter(F.col("lsn") < args.events // 2), batch_size=batch_size)
    shutil.rmtree(warm_dir, ignore_errors=True)

    def run(variant: str, i: int) -> float:
        d = f"{args.work}/{variant}_{i}"
        eng = CdcEngine(spark, f"{d}/state", f"{d}/manifest.jsonl")
        t0 = time.time()
        if variant == "A":
            eng.replay(log, batch_size=batch_size)
        else:
            replay_r1_probe(eng, log, batch_size)
        dt = time.time() - t0
        n = eng.final_state().count()
        shutil.rmtree(d, ignore_errors=True)
        print(
            f"  {variant} rep{i}: {dt:.2f}s ({args.events / dt / 1000:.0f}k ev/s, "
            f"{n} final rows)",
            file=sys.stderr,
        )
        return dt

    a_times, b_times = [], []
    # alternating order cancels monotone host drift: A B | B A | A B ...
    for i in range(args.reps):
        first, second = ("A", "B") if i % 2 == 0 else ("B", "A")
        for v in (first, second):
            (a_times if v == "A" else b_times).append(run(v, i))

    def summarize(ts: list[float]) -> dict:
        return {
            "runs": [round(t, 3) for t in ts],
            "median_s": round(statistics.median(ts), 3),
            "best_s": round(min(ts), 3),
            "median_ev_per_s": round(args.events / statistics.median(ts), 1),
            "best_ev_per_s": round(args.events / min(ts), 1),
        }

    a, b = summarize(a_times), summarize(b_times)
    ratio = round(a["median_s"] / b["median_s"], 3)
    print(
        json.dumps(
            {
                "metric": "ab_bulk_replay",
                "events": args.events,
                "cores": cpus,
                "A_current_normalized_probe": a,
                "B_r1_raw_probe_collect": b,
                "median_ratio_A_over_B": ratio,
                "verdict": (
                    "probe-cost" if ratio > 1.15 else
                    "within-noise (weather)" if ratio > 0.87 else
                    "A faster"
                ),
            }
        )
    )
    shutil.rmtree(args.work, ignore_errors=True)


if __name__ == "__main__":
    main()
