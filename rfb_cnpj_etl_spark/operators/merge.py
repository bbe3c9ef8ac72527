"""MERGE-style upsert/delete apply over a bucket-partitioned parquet
state table.

The reference's "merge" is drop-and-reload plus patch SQL
(``db/sqlite_builder.py:170-177``, ``utils/db_patch.py``). The engine
implements real keyed MERGE semantics. With Iceberg jars on the
classpath ``MERGE INTO`` would be config-only (SURVEY §4); this sandbox
has no Iceberg runtime, so the same public API is kept and the physical
plan is the scalable parquet fallback:

1. the state table is partitioned by ``bucket = pmod(xxhash64(keys), B)``
   (the Iceberg ``bucket(B, key)`` transform analog);
2. a micro-batch only touches the buckets its keys hash to → read just
   those partitions (partition-pruned scan), union with the batch
   winners, window-dedup by (key, lsn), and rewrite ONLY those buckets;
3. the rewrite goes to a staging dir first, then bucket dirs are
   swapped into place (operators/publish.py holds the staging, swap and
   heal rules). The checkpoint manifest (plans/checkpoint.py) is the
   commit point; a crash between swap and manifest replays the batch,
   and LWW-by-LSN makes the replay a no-op (idempotent).

Write amplification is bounded by touched-buckets/B of the table, not
the whole table. At 100 TB you raise B so a bucket ≈ a few GB; the
algorithm is unchanged.

The layout machinery is :class:`BucketedParquetStore`, shared with the
incremental MinHash index's signature and posting stores
(operators/dedup.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import CODE_KEY, OP_DELETE, OP_UPSERT
from . import publish
from .dedup import last_writer_wins_agg
from .store import (
    BucketedParquetStore,
    dir_bytes,
    key_bucket,
    parquet_footer_rows,
)


class TouchedSetMismatchError(RuntimeError):
    """A merge wrote rows into buckets outside the precomputed touched
    set (the probe and merge saw differently-normalized keys). Raised
    BEFORE any state swap — the state table is guaranteed unchanged."""


class StateTable(BucketedParquetStore):
    """A bucket-partitioned parquet table with MERGE apply.

    Layout: ``{path}/bucket=<i>/part-*.parquet``. Schema = user columns
    + ``lsn`` (last applied per key) + ``content_sha256`` (the per-row
    invariant) + partition column ``bucket``.

    Two write modes, chosen per batch (``merge(mode=...)``):

    * **copy-on-write** (the bulk-replay fast path): read the touched
      buckets, fold in the batch, rewrite those buckets whole. Optimal
      when the batch is a sizable fraction of what it touches.
    * **merge-on-read** (the steady-state small-churn path): the batch's
      LWW winners — including delete tombstones — are APPENDED as
      per-bucket delta files (O(batch) write I/O, no base rewrite);
      reads fold base + deltas through the same LWW-by-LSN dedup, and
      compaction/COW batches fold deltas back into the base. This is
      the fix for the one 100×-scale flaw of rounds ≤3: at uniform
      churn a COW batch of 10⁷ keys over a 10⁹-key table rewrote the
      whole corpus to apply 0.1% of it.

    ``mode="auto"`` picks per batch from the batch-rows /
    touched-state-rows ratio (the reference's batch-ratio knob,
    ``config.py:31-34``, turned into a data-dependent decision), with a
    per-bucket delta-file cap forcing a folding COW batch before reads
    degrade.
    """

    #: auto mode appends a delta iff batch_rows ≤ ratio × (estimated
    #: rows already in the touched buckets) — bigger batches amortize a
    #: rewrite; smaller ones shouldn't pay O(touched corpus).
    MOR_ROW_RATIO = 0.25
    #: a touched bucket already holding this many delta files forces a
    #: folding COW batch (bounds what every read must merge).
    DELTA_FILES_CAP = 32

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str] | None = None,
        buckets: int = 32,
        content_col: str = "content",
        lsn_col: str = "lsn",
        op_col: str = "op",
        commit_protocol: str = "rename",
        feed_preimages: bool = False,
    ) -> None:
        self.keys = keys or CODE_KEY
        self.content_col = content_col
        self.lsn_col = lsn_col
        self.op_col = op_col
        #: opt-in: the change feed also publishes the OLD row for every
        #: update/delete (``update_preimage`` / ``delete_preimage`` rows
        #: — Delta CDF's preimage analog), so a downstream incremental
        #: aggregate can subtract retired contributions without ever
        #: reading this table. Costs a full-column (not keys+lsn-pruned)
        #: read of the touched buckets per feed batch — default off.
        self.feed_preimages = feed_preimages
        super().__init__(
            spark,
            path,
            buckets,
            bucket_keys=self.keys,
            commit_protocol=commit_protocol,
        )
        #: estimated current rows per bucket (exact after a COW rewrite
        #: of the bucket; += appended winners for MOR batches — an upper
        #: bound). Drives the auto COW/MOR decision; persisted in the
        #: layout marker. Advisory only: never used for correctness.
        self._row_est: dict[int, int] = self._load_row_est()

    def _load_row_est(self) -> dict[int, int]:
        raw = self._read_marker().get("row_est") or {}
        return {int(k): int(v) for k, v in raw.items()}

    def _meta_payload(self) -> dict:
        return {
            **super()._meta_payload(),
            "keys": self.keys,
            "row_est": {str(b): n for b, n in self._row_est.items()},
        }

    # -- merge-on-read fold ---------------------------------------------

    def _fold_delta(self, base: DataFrame | None, delta: DataFrame) -> DataFrame:
        """Base ∪ delta → current rows: ONE hash-agg LWW by (key, lsn)
        with delete-tombstone filtering — the exact dedup the COW merge
        runs, applied at read time. ``allowMissingColumns`` carries
        add-column schema evolution across base/delta vintages (older
        rows read NULL for columns added later)."""
        if base is not None:
            merged = base.withColumn(
                self.op_col, F.lit(OP_UPSERT)
            ).unionByName(delta, allowMissingColumns=True)
        else:
            merged = delta
        folded = last_writer_wins_agg(merged, self.keys, self.lsn_col, self.op_col)
        return folded.filter(F.col(self.op_col) != OP_DELETE).drop(self.op_col)

    # -- write ---------------------------------------------------------

    def init_empty(self, like: DataFrame) -> None:
        """DDL analog of initialize_schema (db/sqlite_builder.py:170-177):
        create an empty table layout from a changelog-shaped DF."""
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
        prepared = self._prepare(like.limit(0)).drop("op")
        prepared.write.mode("overwrite").partitionBy("bucket").parquet(self.path)
        self._live = {}  # empty layout: nothing committed yet
        self._write_meta()

    def _prepare(self, df: DataFrame) -> DataFrame:
        """Add engine metadata columns (bucket, content sha256)."""
        out = df
        if "bucket" not in df.columns:
            out = out.withColumn("bucket", key_bucket(self.keys, self.buckets))
        if "content_sha256" not in df.columns:
            out = out.withColumn(
                "content_sha256", F.sha2(F.col(self.content_col).cast("string"), 256)
            )
        return out

    def touched_buckets(self, batch: DataFrame) -> list[int]:
        """Bucket set a batch touches — from the raw batch keys
        (column-pruned scan + tiny distinct on an int; dedup cannot
        change which buckets a batch touches)."""
        bucket_col = key_bucket(self.keys, self.buckets)
        return sorted(
            r["bucket"]
            for r in batch.select(bucket_col.alias("bucket")).distinct().collect()
        )

    #: above this many touched buckets, per-bucket observe() metrics
    #: (one conditional sum per bucket) get bulky — fall back to a
    #: footer-only count job (parquet aggregate pushdown).
    OBSERVE_METRICS_MAX_BUCKETS = 256

    def merge(
        self,
        batch: DataFrame,
        lsn_col: str | None = None,
        op_col: str | None = None,
        touched: list[int] | None = None,
        mode: str = "auto",
        batch_rows: int | None = None,
        changes_out: str | None = None,
    ) -> dict:
        """Apply a changelog micro-batch. Returns manifest metrics:
        ``{"touched_buckets": [...], "bucket_rows": {b: n}, "rows": N,
        "mode": "cow"|"mor", "bytes_written": N}``.

        Logical semantics::

            MERGE INTO state USING dedup(batch) ON state.key = batch.key
              WHEN MATCHED AND op='delete'   THEN DELETE
              WHEN MATCHED                   THEN UPDATE SET *
              WHEN NOT MATCHED AND op<>'delete' THEN INSERT *

        LWW-by-LSN is associative, so state ∪ batch needs only ONE
        keyed dedup (the hash-agg LWW collapses hot keys map-side —
        SURVEY P7's skew answer is free here). ``touched`` can be
        precomputed for all batches in a single upfront pass
        (CdcEngine.replay does), stored sha256 is reused so only new
        winners hash, and the per-bucket manifest metrics ride the
        write job as observed metrics instead of a follow-up count.

        ``mode``: ``"cow"`` rewrites the touched buckets (bulk path),
        ``"mor"`` appends the batch winners as delta files (small-churn
        path, O(batch) write I/O), ``"auto"`` picks per batch —
        requiring ``batch_rows`` (the replay loop gets it free from its
        upfront window probe; a standalone caller may pass
        ``batch.count()``; without it auto stays on COW). For MOR
        batches ``bucket_rows`` counts the winners *appended* per
        bucket, not the bucket's total rows — the manifest entry's
        ``mode`` field says which reading applies.

        ``changes_out`` opts this batch into the CDC-out change feed
        (the Delta Change-Data-Feed / Iceberg changelog-read analog):
        the batch's net row-level changes vs the CURRENT state —
        ``change_type ∈ {insert, update, delete}`` with the replaced
        row's LSN as ``prev_<lsn>``, plus ``update_preimage`` /
        ``delete_preimage`` rows carrying the replaced row itself when
        the table was built with ``feed_preimages=True`` — are
        published atomically to that
        directory BEFORE the state mutates, so a downstream pipeline
        can consume this table as a changelog of its own. The dir must
        be unique per batch (the engine uses ``batch=<batch_id>``);
        see :meth:`_emit_changes` for the exactly-once crash contract.
        """
        if mode not in ("auto", "cow", "mor"):
            raise ValueError(f"unknown merge mode {mode!r}")
        lsn_col = lsn_col or self.lsn_col
        op_col = op_col or self.op_col
        bucket_col = key_bucket(self.keys, self.buckets)
        if touched is None:
            touched = self.touched_buckets(batch)
        if not touched:
            return {"touched_buckets": [], "bucket_rows": {}, "rows": 0}

        incoming = batch
        if "bucket" not in incoming.columns:
            incoming = incoming.withColumn("bucket", bucket_col)
        feed_metrics: dict = {}
        if changes_out is not None:
            # before-image diff MUST run before any state mutation below
            feed_metrics = self._emit_changes(
                incoming, lsn_col, op_col, touched, changes_out
            )
        try:
            if self._resolve_mode(mode, batch_rows, touched) == "mor":
                res = self._merge_mor(incoming, lsn_col, op_col, touched)
            else:
                res = self._merge_cow(incoming, lsn_col, op_col, touched)
        except TouchedSetMismatchError:
            # the feed just published above was diffed against a
            # pre-image read from the SAME wrong touched set (keys in
            # unprobed buckets misclassify as inserts). The state is
            # guaranteed unchanged at this raise, so unpublish it —
            # otherwise the re-driven batch would reuse the poisoned
            # feed via the exactly-once reuse check.
            if changes_out is not None and not feed_metrics.get(
                "change_feed_reused"
            ):
                shutil.rmtree(changes_out, ignore_errors=True)
            raise
        res.update(feed_metrics)
        return res

    def _resolve_mode(
        self, mode: str, batch_rows: int | None, touched: list[int]
    ) -> str:
        """COW vs MOR for one batch. Auto = MOR iff the store exists,
        every touched bucket has a row estimate, the batch is small
        relative to them (< MOR_ROW_RATIO), and no touched bucket has
        hit the delta-file cap (then a COW batch folds it)."""
        if mode == "cow" or not self.exists():
            return "cow"
        if mode == "mor":
            return "mor"
        if batch_rows is None:
            return "cow"
        est = [self._row_est.get(b) for b in touched]
        if any(v is None for v in est):
            return "cow"  # untracked layout (legacy store) → populate via COW
        total = sum(est)
        if total == 0 or batch_rows > self.MOR_ROW_RATIO * total:
            return "cow"
        dcounts = self.delta_file_counts()
        if any(dcounts.get(b, 0) >= self.DELTA_FILES_CAP for b in touched):
            return "cow"
        return "mor"

    # -- CDC-out change feed ---------------------------------------------

    #: sidecar recording the feed's row count (and, for batch dirs, the
    #: touched buckets it was diffed over) inside each published dir
    #: (underscore prefix → ignored by parquet readers).
    FEED_META = "_feed_meta.json"

    def _pre_image(
        self, touched: list[int], lsn_col: str
    ) -> DataFrame | None:
        """Pruned ``(keys, lsn)`` view of the CURRENT surviving rows in
        the touched buckets — the before-image the change feed diffs
        against. MOR deltas are folded on a projection pruned to
        keys+lsn+op BEFORE the LWW aggregate, so the pre-image scan
        never reads content columns (``read_buckets`` would fold full
        rows: ``max_by``'s struct payload blocks column pruning).

        Row-pruning this scan to the batch's key set was tried and
        REVERTED: a broadcast left-semi join cannot push below the
        parquet scan (the narrow read happens either way) and the extra
        distinct+broadcast job per window measured neutral-to-slower in
        the interleaved A/B (scripts/bench_ab_feed.py methodology).
        The scan is the intrinsic price of eager CDF classification —
        the same price Delta's CDF pays on MERGE."""
        cols = [*self.keys, lsn_col]
        base = self._read_base_buckets(touched) if self.exists() else None
        if base is not None:
            base = base.select(*cols)
        delta_ids = [b for b in self.delta_bucket_ids() if b in set(touched)]
        if delta_ids:
            delta = self._read_delta(delta_ids).select(*cols, self.op_col)
            if base is not None:
                merged = base.withColumn(
                    self.op_col, F.lit(OP_UPSERT)
                ).unionByName(delta)
            else:
                merged = delta
            folded = last_writer_wins_agg(
                merged, self.keys, lsn_col, self.op_col
            )
            return folded.filter(F.col(self.op_col) != OP_DELETE).drop(
                self.op_col
            )
        return base

    def _emit_changes(
        self,
        incoming: DataFrame,
        lsn_col: str,
        op_col: str,
        touched: list[int],
        out_dir: str,
    ) -> dict:
        """Compute this batch's net row-level changes against the
        current state and publish them atomically to ``out_dir``.

        Exactly-once contract (the feed is the one artifact a LWW
        re-apply can NOT recompute — after the state swap the same
        batch diffs to an empty set): the feed is staged and published
        via one atomic rename BEFORE any state mutation, and a
        re-apply that finds the dir already published reuses it.
        Crash windows: torn staging → recomputed against the still
        unmutated state; published-but-unmerged → merge re-applies
        (LWW idempotent), feed reused; merged-but-uncommitted →
        manifest re-drives the batch, feed reused (it holds the
        correct pre-image diff).

        The one published dir NOT reused: its recorded touched set
        misses buckets of this call's. That feed came from an attempt
        whose merge raised :class:`TouchedSetMismatchError` — before
        any state mutation, but after the publish, and the crash hit
        before the raise could unpublish it — so it was diffed against
        a pre-image missing those buckets. It is recomputed. Dirs from
        before the set was recorded are reused as they are.
        """

        def write(staging: str) -> dict:
            from pyspark.sql import Observation

            obs = Observation()
            feed = self._changes(incoming, lsn_col, op_col, touched)
            feed = feed.observe(obs, F.count(F.lit(1)).alias("rows"))
            feed.write.mode("overwrite").parquet(staging)
            try:
                rows = int(obs.get["rows"])
            except Exception:  # noqa: BLE001 — AQE may prune the metrics node
                rows = parquet_footer_rows(staging)
            return {"rows": rows, "touched": sorted(touched)}

        res = publish.publish_once(out_dir, write, self.FEED_META)
        recorded = set(res.get("touched", touched))
        if res["reused"] and not recorded.issuperset(touched):
            shutil.rmtree(out_dir)
            res = publish.publish_once(out_dir, write, self.FEED_META)
        if res["reused"]:
            return {"change_rows": res.get("rows"), "change_feed_reused": True}
        return {"change_rows": res["rows"]}

    def _changes(
        self,
        incoming: DataFrame,
        lsn_col: str,
        op_col: str,
        touched: list[int],
    ) -> DataFrame:
        """This batch's net row-level changes against the current state
        of the ``touched`` buckets (the feed :meth:`_emit_changes`
        publishes).

        Classification per batch LWW winner joined to the pre-image:
        no before-row → ``insert`` (delete-on-absent emits nothing);
        before-row outranked (lsn, delete-priority) → ``update`` /
        ``delete``; a stale winner the state outranks emits nothing.
        """
        winners = last_writer_wins_agg(incoming, self.keys, lsn_col, op_col)
        prev_col = f"prev_{lsn_col}"
        pre = self._pre_image(touched, lsn_col)
        if pre is None:
            joined = winners.withColumn(
                prev_col, F.lit(None).cast(dict(winners.dtypes)[lsn_col])
            )
        else:
            joined = winners.join(
                pre.withColumnRenamed(lsn_col, prev_col), self.keys, "left"
            )
        is_del = F.col(op_col) == OP_DELETE
        prev, new = F.col(prev_col), F.col(lsn_col)
        change_type = (
            # equal LSN: delete outranks the stored upsert (the LWW
            # tie-break), an upsert re-delivery is a no-op
            F.when(is_del & prev.isNotNull() & (new >= prev), F.lit("delete"))
            .when(~is_del & prev.isNull(), F.lit("insert"))
            .when(~is_del & (new > prev), F.lit("update"))
        )
        data_cols = [
            c
            for c in winners.columns
            if c not in (*self.keys, op_col, "bucket", "content_sha256")
        ]
        feed = (
            joined.withColumn("change_type", change_type)
            .filter(F.col("change_type").isNotNull())
            .select(*self.keys, "change_type", *data_cols, prev_col)
        )
        if self.feed_preimages and pre is not None:
            # Delta-CDF-style preimages: for every update/delete also
            # publish the row being REPLACED (its own lsn, prev NULL) as
            # change_type update_preimage / delete_preimage. An
            # incremental downstream aggregate subtracts these instead
            # of reading the state table. Fold-transparent for LWW
            # consumers (a preimage always carries a strictly older —
            # or, on the lsn-tie delete, an outranked — lsn than the
            # row that replaced it), but state_as_of / the streaming
            # source still filter them explicitly. Price: the old rows
            # come from a full-column fold of the touched buckets
            # (read_buckets), not the keys+lsn-pruned _pre_image scan —
            # exactly the cost Delta CDF pays on MERGE, and why the
            # flag defaults off.
            replaced = (
                joined.withColumn("change_type", change_type)
                .filter(F.col("change_type").isin("update", "delete"))
                .select(*self.keys, "change_type")
            )
            # (key, old_lsn) of every replaced row, from the NARROW fold
            # already computed for classification — O(batch) rows out
            old_ids = pre.join(replaced, self.keys, "inner")
            # fetch the full old rows by IDENTITY join (key + lsn picks
            # exactly the surviving version) against the raw base +
            # delta scan — a codegen hash join with the O(batch) side
            # broadcast, NOT a full-width LWW aggregate (max_by's struct
            # payload carries strings → SortAggregate; measured 4.6×
            # churn-replay cost before this rewrite, scripts/
            # bench_ab_ivm.py methodology)
            old = self._read_base_buckets(touched) if self.exists() else None
            delta_ids = [
                b for b in self.delta_bucket_ids() if b in set(touched)
            ]
            if delta_ids:
                dl = self._read_delta(delta_ids)
                dl = dl.filter(F.col(self.op_col) != OP_DELETE).drop(
                    self.op_col
                )
                old = dl if old is None else old.unionByName(
                    dl, allowMissingColumns=True
                )
            wtypes = dict(winners.dtypes)
            # add-column evolution: the pre-mutation state lacks columns
            # this batch introduces — NULL-fill them (the state table's
            # own evolution contract) so the preimage rows union cleanly
            for c in data_cols:
                if c not in old.columns:
                    old = old.withColumn(c, F.lit(None).cast(wtypes[c]))
            # ...and the REVERSE: state columns this batch omits (MERGE
            # NULL-fills them in the winner) must still ride the
            # preimage rows with their OLD values — dropping them would
            # make a downstream incremental aggregate subtract 0 for a
            # retired non-NULL contribution (silent divergence). The
            # postimage rows carry NULL there, which is exactly the
            # merged new row's value.
            skip = {*self.keys, op_col, "bucket", "content_sha256", prev_col}
            pre_data_cols = data_cols + [
                c
                for c in old.columns
                if c not in skip and c not in data_cols
            ]
            pre_rows = (
                # no broadcast hint: old_ids is O(replaced-in-batch) —
                # AQE broadcasts it at churn sizes, and a huge update
                # batch must be allowed to shuffle instead
                old.join(old_ids, [*self.keys, lsn_col], "inner")
                # a crash-window delta re-append can hold the same
                # (key, lsn) row twice — identical rows, keep one
                .dropDuplicates(self.keys)
                .withColumn(
                    "change_type",
                    F.concat(F.col("change_type"), F.lit("_preimage")),
                )
                .withColumn(prev_col, F.lit(None).cast(wtypes[lsn_col]))
                .select(*self.keys, "change_type", *pre_data_cols, prev_col)
            )
            feed = feed.unionByName(pre_rows, allowMissingColumns=True)
        return feed

    def _observe_bucket_counts(self, df: DataFrame, touched: list[int]):
        """Attach per-bucket row counters to ride the write job (V4
        progress metering with zero extra scans); returns (df, obs) with
        obs None past the bulky-metrics bound."""
        if len(touched) > self.OBSERVE_METRICS_MAX_BUCKETS:
            return df, None
        from pyspark.sql import Observation

        obs = Observation()
        df = df.observe(
            obs,
            *[
                F.sum(F.when(F.col("bucket") == b, 1).otherwise(0)).alias(f"b{b}")
                for b in touched
            ],
        )
        return df, obs

    @staticmethod
    def _obs_counts(obs) -> dict[int, int] | None:
        """Observed per-bucket counts, or None when AQE empty-relation
        propagation eliminated the CollectMetrics node (e.g. every key
        deleted) — callers fall back to a footer-only count."""
        if obs is None:
            return None
        try:
            return {int(k[1:]): int(v) for k, v in obs.get.items() if v and v > 0}
        except Exception:  # noqa: BLE001
            return None

    def _merge_mor(
        self, incoming: DataFrame, lsn_col: str, op_col: str, touched: list[int]
    ) -> dict:
        """Append the batch's LWW winners — delete tombstones included —
        as per-bucket delta files: write I/O is O(batch), never
        O(touched corpus). Winners are deterministic from the batch, so
        a crash-replay appends identical rows that the read-time fold
        collapses (idempotent without a manifest-side guard)."""
        winners = last_writer_wins_agg(incoming, self.keys, lsn_col, op_col)
        sha = F.sha2(F.col(self.content_col).cast("string"), 256)
        if "content_sha256" in winners.columns:
            sha = F.coalesce(F.col("content_sha256"), sha)
        winners = winners.withColumn(
            "content_sha256",
            F.when(F.col(op_col) != OP_DELETE, sha),  # tombstones: NULL
        )
        winners, obs = self._observe_bucket_counts(winners, touched)
        staging = f"{self.path}.delta_staging"
        staged = self.stage_write(
            winners.repartition(len(touched), "bucket"), staging
        )
        unexpected = sorted(set(staged) - set(touched))
        if unexpected:
            shutil.rmtree(staging, ignore_errors=True)
            raise TouchedSetMismatchError(
                f"merge produced rows in buckets {unexpected} outside the "
                f"precomputed touched set {sorted(touched)}; the touched-"
                "bucket probe must run on keys normalized identically to "
                "the merged batch (state table left unchanged)"
            )
        bytes_written = dir_bytes(staging)
        files = self.append_delta(staging, staged)
        counts = self._obs_counts(obs)
        if counts is None:
            # rare fallback (see _obs_counts): recompute the tiny winner
            # counts — deterministic, and only the counts job, not the data.
            counts = {
                int(r["bucket"]): int(r["n"])
                for r in winners.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        for b, n in counts.items():
            self._row_est[b] = self._row_est.get(b, 0) + n
        self._write_meta()
        return {
            "touched_buckets": touched,
            "bucket_rows": counts,
            "rows": int(sum(counts.values())),
            "buckets": self.buckets,
            "mode": "mor",
            "bytes_written": bytes_written,
            "delta_files": files,
        }

    def _merge_cow(
        self, incoming: DataFrame, lsn_col: str, op_col: str, touched: list[int]
    ) -> dict:
        if self.exists():
            # state keeps its stored content_sha256; the batch side gets
            # NULL (allowMissingColumns) and hashes post-dedup.
            current = self.read_buckets(touched).withColumn(op_col, F.lit(OP_UPSERT))
            merged = current.unionByName(incoming, allowMissingColumns=True)
        else:
            merged = incoming.withColumn(
                "content_sha256", F.lit(None).cast("string")
            )
        # Hash-aggregate LWW (max_by): no sort, map-side partial agg —
        # which is also the hot-key skew answer (a hot key collapses to
        # one row per map task before the shuffle).
        final = last_writer_wins_agg(merged, self.keys, lsn_col, op_col)
        final = (
            final.filter(F.col(op_col) != OP_DELETE)
            .drop(op_col)
            .withColumn(
                "content_sha256",
                F.coalesce(
                    F.col("content_sha256"),
                    F.sha2(F.col(self.content_col).cast("string"), 256),
                ),
            )
        )

        # Per-bucket row metrics observed inside the write job — no
        # follow-up count job (V4 progress metering without extra scans).
        final, obs = self._observe_bucket_counts(final, touched)

        # stage → swap (atomic per bucket dir, commit point = manifest).
        # Repartition on the partition column first (Iceberg
        # write.distribution-mode=hash analog): without it every write
        # task emits a file per bucket it holds — tasks × buckets tiny
        # files per batch; with it, one task and one file per bucket.
        # |touched| partitions, not B: a 2-bucket batch must not schedule
        # B−2 empty write tasks (two buckets hashing to one partition
        # still come out as one file each — partitionBy splits them).
        staging = f"{self.path}.staging"
        staged = self.stage_write(
            final.repartition(len(touched), "bucket"), staging
        )

        # Fail-loud invariant: every bucket dir the write produced must be
        # in `touched`. A violation means the bucket probe and merge() saw
        # different keys (e.g. a normalization applied after the probe) —
        # swapping would silently lose the unexpected buckets' rows AND
        # the state scan above missed those buckets. Raising here, before
        # any swap, leaves the state table untouched.
        unexpected = sorted(set(staged) - set(touched))
        if unexpected:
            shutil.rmtree(staging, ignore_errors=True)
            raise TouchedSetMismatchError(
                f"merge produced rows in buckets {unexpected} outside the "
                f"precomputed touched set {sorted(touched)}; the touched-"
                "bucket probe must run on keys normalized identically to "
                "the merged batch (state table left unchanged)"
            )

        bytes_written = dir_bytes(staging)
        counts = self._obs_counts(obs)
        if counts is not None:
            # refresh the row estimates BEFORE the commit writes the
            # layout marker, so the marker carries them for free
            for b in touched:
                if counts.get(b, 0) > 0:
                    self._row_est[b] = counts[b]
                else:
                    self._row_est.pop(b, None)
        self.commit_staged(staging, touched, staged=staged)
        # a COW rewrite of a bucket folds its deltas into the new base —
        # drop them (crash before this: stale deltas are LWW no-ops)
        self.clear_delta_buckets(touched)

        if counts is None:
            # AQE-eliminated metrics node (see _obs_counts): footer-only
            # count job over the rewritten buckets (aggregate pushdown).
            remaining = [
                b for b in touched if os.path.isdir(f"{self.path}/bucket={b}")
            ]
            counts = (
                {
                    int(r["bucket"]): int(r["rows"])
                    for r in self.read_buckets(remaining)
                    .groupBy("bucket")
                    .agg(F.count("*").alias("rows"))
                    .collect()
                }
                if remaining
                else {}
            )
            for b in touched:
                if counts.get(b, 0) > 0:
                    self._row_est[b] = counts[b]
                else:
                    self._row_est.pop(b, None)
            self._write_meta()
        return {
            "touched_buckets": touched,
            "bucket_rows": counts,
            "rows": int(sum(counts.values())),
            "buckets": self.buckets,
            "mode": "cow",
            "bytes_written": bytes_written,
        }

    # -- layout evolution (reference index pass analog, S11) ------------

    def rebucket(self, new_buckets: int) -> dict:
        """B → B′ layout migration — the generic
        :meth:`BucketedParquetStore.rebucket` protocol (``bucket_keys``
        = the MERGE keys), which also folds any merge-on-read deltas
        into the new base. The per-bucket counts it collects seed the
        row estimates the auto COW/MOR decision runs on."""
        res = super().rebucket(new_buckets)
        # buckets absent from the rewrite's counts are KNOWN-empty after
        # a full-table rewrite — record the 0 (a missing entry reads as
        # "untracked" and forces the conservative COW path)
        counts = dict(res["bucket_rows"])
        self._row_est = {b: counts.get(b, 0) for b in range(new_buckets)}
        self._write_meta()
        return res

    def compact(
        self,
        target_files_per_bucket: int = 1,
        bucket_ids: list[int] | None = None,
        sort_within_buckets: list[str] | None = None,
    ) -> dict:
        """Per-bucket small-file compaction — see the base class (which
        also folds merge-on-read deltas into the rewritten base and,
        with ``bucket_ids``, rewrites ONLY the offending buckets —
        maintenance stays O(offending), never O(table)). The >1-files
        split hash must be seeded INDEPENDENTLY of key_bucket:
        xxhash64(keys) % files is fully determined by xxhash64(keys) %
        buckets whenever files divides buckets."""
        split = None
        if target_files_per_bucket > 1:
            split = F.pmod(
                F.xxhash64(*[F.col(k) for k in self.keys], F.lit(0x5EED)),
                F.lit(target_files_per_bucket),
            )
        res = super().compact(
            target_files_per_bucket,
            split_col=split,
            bucket_ids=bucket_ids,
            sort_within_buckets=sort_within_buckets,
        )
        if res["compacted_buckets"]:
            # post-fold base is the whole truth for the rewritten
            # buckets → exact row estimates via footer-only pyarrow
            # counts (no Spark job). A compaction can empty a bucket
            # outright (every key tombstoned in deltas) — record the
            # explicit zero (an absent key means "untracked" and forces
            # the conservative COW path, which the fold just proved
            # unnecessary). A FULL compaction that emptied the whole
            # table zeroes every bucket.
            if bucket_ids is None and not self.exists():
                self._row_est = {b: 0 for b in range(self.buckets)}
            else:
                for b in res["bucket_ids"]:
                    d = f"{self.path}/bucket={b}"
                    self._row_est[b] = (
                        parquet_footer_rows(d) if os.path.isdir(d) else 0
                    )
            self._write_meta()
        return res

    # -- audits (reference S10/S12 analogs) -----------------------------

    def audit_key_uniqueness(self) -> int:
        """Post-load PK audit (deferred-PK analog,
        db/postgres_builder.py:96-126): count of duplicated keys."""
        return (
            self.read()
            .groupBy(*self.keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .count()
        )
