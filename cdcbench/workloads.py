"""The benchmark's workloads: inputs, set-up, one round, gates.

Every workload replays a change log made by ``gen.synthesize_changelog``
(10% deletes, 10% of events on one hot repo, 200 repos x 5000 paths)
through :class:`CdcEngine` from a single closed-loop caller: one
``replay`` call per round, whose windows each start only after the
previous one has committed. Set-up seeds a warm state with one
copy-on-write bulk window; each round then applies windows of 1% of
that state in auto mode, so merge-on-read.

* ``churn_cdc``: the change feed and its pre-images on, and one
  ``IncrementalAggregate`` (GROUP BY repo, sum of content length)
  advanced after every window. The round ends by reading
  ``state_as_of`` its middle window, the time-travel fold.
* ``churn_index``: the feed off and a ``MinhashIndex`` fed by every
  window, on content where a share of the upserts are near-copies of
  earlier documents. The index starts empty each round. The round ends
  by reading ``signatures()``.

A round always starts from the same state: set-up builds the warm state
once and snapshots its directory, and each round restores the snapshot
(untimed) before it replays the same windows. Every round thus does the
same work, however many rounds fit in a run.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rfb_cnpj_etl_spark.engine import CdcEngine
from rfb_cnpj_etl_spark.gen import expected_final_state, synthesize_changelog
from rfb_cnpj_etl_spark.operators.dedup import MinhashIndex
from rfb_cnpj_etl_spark.operators.ivm import IncrementalAggregate

NAMES = ("churn_cdc", "churn_index")
#: key buckets of the state table and of both index stores, sized to
#: states of tens of thousands of rows (the engine's defaults of 32 and
#: 64 suit much larger tables)
BUCKETS = 8

#: share of churn_index events whose content is a near-copy of an earlier
#: event's document (same body, a different last word)
NEAR_COPY_SHARE = 0.2
#: a near-copy's original is one of the NEAR_COPY_SPAN events before it,
#: mostly in the same window, since the index holds only this round's
NEAR_COPY_SPAN = 100
#: body words per churn_index document; with the index's word 3-shingles
#: a near-copy and its original share 21 of 23 shingles (Jaccard 0.91)
DOC_WORDS = 20


@dataclass(frozen=True)
class Sizes:
    seed_events: int
    #: events per window, and windows per round
    window: int
    windows: int
    #: windows of the untimed warm-up round
    warmup_windows: int
    #: timed post-replay reads per round
    reads: int


SIZES = {
    "full": {
        "churn_cdc": Sizes(20_000, 200, 2, warmup_windows=2, reads=6),
        # an index window costs twice a churn_cdc one and its read a
        # quarter: a shorter warm-up and more reads keep runs steady and short
        "churn_index": Sizes(20_000, 200, 2, warmup_windows=1, reads=18),
    },
    "tiny": {
        "churn_cdc": Sizes(2_000, 200, 2, warmup_windows=1, reads=2),
        "churn_index": Sizes(2_000, 200, 1, warmup_windows=1, reads=2),
    },
}


def with_near_copies(log: DataFrame, seed: int) -> DataFrame:
    """Replace ``content`` with word documents of which NEAR_COPY_SHARE
    are near-copies: ``gen``'s content is a unique hash per event, which
    would leave the index's band join and pair output idle."""
    lsn = F.col("lsn")

    def h(salt: int):
        return F.abs(F.xxhash64(lsn, F.lit(seed), F.lit(salt)))

    near = ((h(101) % 1000) < int(NEAR_COPY_SHARE * 1000)) & (lsn >= NEAR_COPY_SPAN)
    base = F.when(near, lsn - 1 - h(102) % NEAR_COPY_SPAN).otherwise(lsn).cast("string")
    words = [
        F.substring(F.md5(F.concat_ws(":", base, F.lit(str(j)), F.lit(str(seed)))), 1, 8)
        for j in range(DOC_WORDS)
    ]
    content = F.concat_ws(
        " ",
        F.lit("def"),
        F.concat(F.lit("f_"), base),
        *words,
        F.lit("#"),
        F.concat(F.lit("v"), lsn.cast("string")),
    )
    return log.withColumn("content", content)


def mismatched_rows(actual: DataFrame, expected: DataFrame, keys: list[str]) -> int:
    """Rows present on one side only, or whose content hashes differ."""
    a = actual.select(*keys, F.sha2("content", 256).alias("a_sha"))
    e = expected.select(*keys, F.sha2("content", 256).alias("e_sha"))
    return (
        a.join(e, keys, "full_outer")
        .filter(~F.col("a_sha").eqNullSafe(F.col("e_sha")))
        .count()
    )


class Workload:
    """One workload's directories, inputs and round. ``work`` holds the
    log, the snapshot and the live area a round runs in."""

    def __init__(self, name: str, spark: SparkSession, work: str, size: str, seed: int):
        if name not in NAMES:
            raise ValueError(f"unknown workload {name!r}; choose from {NAMES}")
        self.name = name
        self.spark = spark
        self.seed = seed
        self.feed = name == "churn_cdc"
        self.index = name == "churn_index"
        sizes = SIZES[size][name]
        self.seed_events, self.window, self.windows = sizes.seed_events, sizes.window, sizes.windows
        self.warmup_windows, self.reads = sizes.warmup_windows, sizes.reads
        # windows are aligned on absolute LSN, so the seed batch must end
        # on a window boundary for every round to replay the same windows
        if self.seed_events % self.window:
            raise ValueError("seed_events must be a multiple of the window")
        self.events = self.windows * self.window
        self.log_path = os.path.join(work, "log")
        self.live = os.path.join(work, "live")
        self.snap = os.path.join(work, "snap")
        self.log: DataFrame | None = None

    # -- set-up -------------------------------------------------------------

    def generate(self) -> None:
        log = synthesize_changelog(
            self.spark,
            self.seed_events + self.events,
            n_repos=200,
            n_paths=5000,
            delete_ratio=0.1,
            hot_repo_fraction=0.1,
            seed=self.seed,
        )
        if self.index:
            log = with_near_copies(log, self.seed)
        log.write.mode("overwrite").parquet(self.log_path)
        self.log = self.spark.read.parquet(self.log_path)

    def open(self) -> tuple[CdcEngine, list[IncrementalAggregate], MinhashIndex | None]:
        """Engine, aggregates and index over the live area."""
        live = self.live
        eng = CdcEngine(
            self.spark,
            os.path.join(live, "state"),
            os.path.join(live, "manifest"),
            changes_dir=os.path.join(live, "feed") if self.feed else None,
            feed_preimages=self.feed,
            buckets=BUCKETS,
        )
        aggs = (
            [IncrementalAggregate(self.spark, os.path.join(live, "agg"), ["repo"],
                                  {"chars": "length(content)"})]
            if self.feed
            else []
        )
        index = (
            MinhashIndex(self.spark, os.path.join(live, "index"), buckets=BUCKETS)
            if self.index
            else None
        )
        return eng, aggs, index

    def seed_state(self) -> None:
        """Build the warm state in the live area and snapshot it. The
        index is left out: it starts empty each round."""
        shutil.rmtree(self.live, ignore_errors=True)
        os.makedirs(self.live)
        eng, aggs, _index = self.open()
        eng.replay(
            self.log.filter(F.col("lsn") < self.seed_events),
            batch_size=self.seed_events,
            aggregates=aggs,
        )
        shutil.rmtree(self.snap, ignore_errors=True)
        shutil.copytree(self.live, self.snap)

    def restore(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.snap, self.live)

    # -- one round ----------------------------------------------------------

    def replay(self, eng, aggs, index, windows: int) -> list[dict]:
        """Apply the first ``windows`` windows above the warm state."""
        return eng.replay(
            self.log.filter(F.col("lsn") < self.seed_events + windows * self.window),
            batch_size=self.window,
            aggregates=aggs,
            minhash_index=index,
        )

    def read(self, eng, index, entries: list[dict]) -> DataFrame:
        """The post-replay read a round ends with."""
        if self.feed:
            return eng.state_as_of(entries[len(entries) // 2]["batch_id"])
        return index.signatures()

    # -- after the last round ---------------------------------------------

    def gates(self, eng, aggs, entries: list[dict]) -> dict[str, bool]:
        """Untimed correctness checks of the live area after a round."""
        out = {"final_state": bool(eng.verify_against(expected_final_state(self.log))["ok"])}
        if self.feed:
            out["aggregate"] = bool(aggs[0].verify_against_state(eng)["ok"])
            mid = entries[len(entries) // 2]
            expected = expected_final_state(self.log.filter(F.col("lsn") <= mid["lsn_hi"]))
            out["state_as_of"] = (
                mismatched_rows(eng.state_as_of(mid["batch_id"]), expected, eng.state.keys) == 0
            )
        return out

    def delta_files(self, eng, index) -> dict[str, int]:
        out = {"state": sum(eng.state.delta_file_counts().values())}
        if index is not None:
            out["index_sig"] = sum(index.sig_store.delta_file_counts().values())
            out["index_post"] = sum(index.post_store.delta_file_counts().values())
        return out

    def plant_corruption(self) -> None:
        """Delete the state table's largest data file, for the smoke
        test: the final-state gate must then fail."""
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(self.live, "state"))
            for f in fs
            if f.endswith(".parquet")
        ]
        os.remove(max(files, key=os.path.getsize))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
