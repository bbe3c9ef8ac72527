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
from collections.abc import Iterator
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import CODE_KEY, OP_DELETE, OP_UPSERT
from . import publish
from .dedup import last_writer_wins_agg
from .store import (
    FIRST as _FIRST,
    NEXT as _NEXT,
    WINDOW as _WINDOW,
    BucketedParquetStore,
    TouchedSetMismatchError,
    dir_bytes,
    key_bucket,
    write_windows,
)


class FeedWindow(NamedTuple):
    """One window of a :meth:`StateTable.merge`: the feed dir it
    publishes, the highest lsn it holds (unused for the last window) and
    the buckets its keys hash to (None: the merge's)."""

    out_dir: str
    lsn_hi: int | None = None
    touched: list[int] | None = None


@contextmanager
def _conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Session conf ``key`` set to ``value`` for the block."""
    conf = spark.conf
    prev = conf.get(key, None)
    conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)


@contextmanager
def shared(df: DataFrame, readers: int) -> Iterator[DataFrame]:
    """``df`` for ``readers`` consumers: persisted while two or more
    read it, so the first computes it once, and released on exit,
    commit or raise."""
    if readers < 2:
        yield df
        return
    # read when the cache is defined: only with it on does AQE size the
    # cached partitions (else one per shuffle partition: a task for each
    # reader and a file for each write)
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    with _conf(df.sparkSession, key, "true"):
        df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def _write_feed(df: DataFrame, staging: str, *partition: str) -> None:
    """Write a feed frame, one task and file per ``partition`` value.
    Its one semi-join of the touched scans (base ∪ delta) with the
    winners' keys stays above the union: the optimizer would push it
    into each scan, and each copy builds its own broadcast of the same
    keys."""
    if partition:
        df = df.repartition(*partition)
    rules = "spark.sql.optimizer.excludedRules"
    prev = df.sparkSession.conf.get(rules, None)
    push = "org.apache.spark.sql.catalyst.optimizer.PushDownLeftSemiAntiJoin"
    with _conf(df.sparkSession, rules, ",".join(filter(None, [prev, push]))):
        df.write.mode("overwrite").partitionBy(*partition).parquet(staging)


def read_feed(spark: SparkSession, dirs: list[str], root: str | None = None) -> DataFrame:
    """Published feed (or checkpoint) ``dirs`` read against the union by
    name of the schemas their :attr:`StateTable.FEED_META` records: no
    inference job, and a column older dirs lack reads NULL. Under
    ``root`` the ``batch=<id>`` dir names add the ``batch`` column,
    typed by partition discovery. A dir that predates the record makes
    the read infer its schema from every dir (``mergeSchema``)."""
    reader = spark.read if root is None else spark.read.option("basePath", root)
    fields: dict[str, T.StructField] = {}
    for d in dirs:
        meta = publish.read_json(os.path.join(d, StateTable.FEED_META)) or {}
        if "schema" not in meta:
            return reader.option("mergeSchema", "true").parquet(*dirs)
        for f in T.StructType.fromJson(meta["schema"]):
            fields.setdefault(f.name, f)
    return reader.schema(T.StructType(list(fields.values()))).parquet(*dirs)


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
    degrade. That decision, the row-estimate ledger it reads, the
    read-time fold (LWW by ``lsn`` per key, ``op`` tombstones), the
    touched-set guard and the commit are
    :class:`BucketedParquetStore`'s, shared with the MinHash index's
    stores; this class builds the rows a batch writes.
    """

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
        #: reading this table. The feed's one scan of the touched
        #: buckets then reads every column, not just keys + lsn (only
        #: rows sharing a key with the batch go further) — default off.
        self.feed_preimages = feed_preimages
        super().__init__(
            spark,
            path,
            buckets,
            bucket_keys=self.keys,
            commit_protocol=commit_protocol,
            fold=(self.keys, lsn_col, op_col),
        )

    # -- write ---------------------------------------------------------

    def init_empty(self, like: DataFrame) -> None:
        """DDL analog of initialize_schema (db/sqlite_builder.py:170-177):
        create an empty table layout from a changelog-shaped DF."""
        if os.path.isdir(self.path):
            shutil.rmtree(self.path)
        prepared = self._prepare(like.limit(0)).drop("op")
        prepared.write.mode("overwrite").partitionBy("bucket").parquet(self.path)
        self._live = {}  # empty layout: nothing committed yet
        self._schema = None  # recorded by the first staged write
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

    def batch_winners(
        self,
        batch: DataFrame,
        lsn_col: str | None = None,
        op_col: str | None = None,
        windows: list | None = None,
    ) -> DataFrame:
        """The batch's LWW winners (:func:`last_writer_wins_agg`): one
        row per key, tombstones included, with ``bucket`` and
        ``content_sha256`` (NULL on a tombstone). O(batch) and a pure
        function of the batch, so a crash-replay recomputes identical
        rows; the feed, the MERGE and the engine's index all read it.
        ``windows`` are the consecutive windows the batch holds (anything
        with an ``lsn_hi``: :class:`FeedWindow`, the engine's
        ``LsnWindow``); with two or more each row carries its window
        index, and a key keeps one winner per window, which also carries
        the key's next window (NULL on its last: the net winner the
        state takes) and whether it is the key's first — the index's
        pair probe reads both."""
        lsn_col = lsn_col or self.lsn_col
        op_col = op_col or self.op_col
        keys = self.keys
        if len(windows or ()) > 1:
            # window index = how many earlier windows end below the row
            batch = batch.withColumn(
                _WINDOW,
                sum(((F.col(lsn_col) > w.lsn_hi).cast("int") for w in windows[:-1]), F.lit(0)),
            )
            keys = [*keys, _WINDOW]
        winners = last_writer_wins_agg(batch, keys, lsn_col, op_col)
        if _WINDOW in keys:
            chain = Window.partitionBy(*self.keys).orderBy(_WINDOW)
            winners = winners.withColumn(_NEXT, F.lead(_WINDOW).over(chain)).withColumn(
                _FIRST, F.lag(_WINDOW).over(chain).isNull()
            )
        if "bucket" not in winners.columns:
            winners = winners.withColumn(
                "bucket", key_bucket(self.keys, self.buckets)
            )
        sha = F.sha2(F.col(self.content_col).cast("string"), 256)
        if "content_sha256" in winners.columns:
            sha = F.coalesce(F.col("content_sha256"), sha)
        return winners.withColumn(
            "content_sha256", F.when(F.col(op_col) != OP_DELETE, sha)
        )

    def merge(
        self,
        batch: DataFrame,
        lsn_col: str | None = None,
        op_col: str | None = None,
        touched: list[int] | None = None,
        mode: str = "auto",
        batch_rows: int | None = None,
        changes_out: str | list[FeedWindow] | None = None,
        *,
        winners: DataFrame | None = None,
    ) -> dict:
        """Apply a changelog micro-batch. Returns manifest metrics:
        ``{"touched_buckets": [...], "bucket_rows": {b: n}, "rows": N,
        "mode": "cow"|"mor", "bytes_written": N}``.

        Logical semantics::

            MERGE INTO state USING dedup(batch) ON state.key = batch.key
              WHEN MATCHED AND op='delete'   THEN DELETE
              WHEN MATCHED                   THEN UPDATE SET *
              WHEN NOT MATCHED AND op<>'delete' THEN INSERT *

        The batch is deduplicated ONCE (:meth:`batch_winners`); the
        feed, the MOR append and the COW fold of state ∪ winners (LWW is
        associative) all read those winners. ``winners`` passes a
        caller-owned :meth:`batch_winners` frame. ``touched`` can be
        precomputed for all batches in a single upfront pass
        (CdcEngine.replay does), stored sha256 is reused so only new
        winners hash, and the per-bucket manifest metrics ride the
        write job as observed metrics instead of a follow-up count.

        ``mode``: ``"cow"`` rewrites the touched buckets (bulk path),
        ``"mor"`` appends the batch winners as delta files (small-churn
        path, O(batch) write I/O), ``"auto"`` picks per batch
        (:meth:`BucketedParquetStore._choose_mode`) —
        requiring ``batch_rows`` (the replay loop gets it free from its
        upfront window probe; a standalone caller may pass
        ``batch.count()``; without it auto stays on COW, and the feed
        never broadcasts the batch's keys). For MOR
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
        published atomically BEFORE the state mutates, so a downstream
        pipeline can consume this table as a changelog of its own.

        ``changes_out`` is a list of :class:`FeedWindow`, one per window
        of consecutive changelog windows the batch holds
        (``CdcEngine.apply_batch``); a dir string is a list of one.
        Window ``i`` holds the batch rows above the previous window's
        ``lsn_hi``. One LWW pass keeps a winner per key and window, one
        classification diffs each window against the state plus the
        earlier windows (:meth:`_changes`), one write publishes every
        window's feed dir (:meth:`_emit_changes`, which holds the
        exactly-once crash contract), and the state takes the net
        winners. Each dir must be unique per window (the engine uses
        ``batch=<batch_id>``). The result's ``change_rows`` is the
        total and ``window_change_rows`` splits it per window.
        """
        if mode not in ("auto", "cow", "mor"):
            raise ValueError(f"unknown merge mode {mode!r}")
        windows = [FeedWindow(changes_out)] if isinstance(changes_out, str) else changes_out
        lsn_col = lsn_col or self.lsn_col
        op_col = op_col or self.op_col
        if touched is None:
            touched = self.touched_buckets(batch)
        if not touched:
            return {"touched_buckets": [], "bucket_rows": {}, "rows": 0}

        own = winners is None
        if own:
            winners = self.batch_winners(batch, lsn_col, op_col, windows)
        readers = 2 if own and windows else 1
        with shared(winners, readers) as winners:
            feed_metrics: dict = {}
            fresh: list[str] = []
            if windows:
                # the before-image diff MUST run before any state mutation
                feed_metrics, fresh = self._emit_changes(
                    winners, lsn_col, op_col, touched, windows, batch_rows
                )
            # of several windows' winners the state takes each key's last
            net = winners
            if _WINDOW in winners.columns:
                net = winners.filter(F.col(_NEXT).isNull()).drop(_WINDOW, _NEXT, _FIRST)
            try:
                if self._choose_mode(mode, touched, batch_rows) == "mor":
                    res = self._merge_mor(net, op_col, touched)
                else:
                    res = self._merge_cow(net, lsn_col, op_col, touched)
            except TouchedSetMismatchError:
                # the feeds just published above were diffed against a
                # pre-image read from the SAME wrong touched set (keys in
                # unprobed buckets misclassify as inserts). The state is
                # guaranteed unchanged at this raise, so unpublish them —
                # otherwise the re-driven batch would reuse the poisoned
                # feeds via the exactly-once reuse check.
                for out_dir in fresh:
                    shutil.rmtree(out_dir, ignore_errors=True)
                raise
        res.update(feed_metrics)
        return res

    # -- CDC-out change feed ---------------------------------------------

    #: sidecar recording the feed's row count (and, for batch dirs, the
    #: touched buckets it was diffed over) inside each published dir
    #: (underscore prefix → ignored by parquet readers).
    FEED_META = "_feed_meta.json"

    def _emit_changes(
        self,
        winners: DataFrame,
        lsn_col: str,
        op_col: str,
        touched: list[int],
        windows: list[FeedWindow],
        batch_rows: int | None = None,
    ) -> tuple[dict, list[str]]:
        """Publish :meth:`_changes` (each window's net row-level changes
        against the current state and the earlier windows): ONE write,
        partitioned by window when there are several, then each window's
        dir published on its own, in window order, with its row count,
        touched set and schema in the :attr:`FEED_META` sidecar
        (:func:`publish.publish_each`; :func:`read_feed` reads the dir
        against that schema). ``batch_rows`` is the replay probe's row
        count, if known. Returns the metrics and the dirs this call
        published.

        Exactly-once contract (the feed is the one artifact a LWW
        re-apply can NOT recompute — after the state mutates the same
        window diffs to an empty set): every dir is staged and published
        via one atomic rename BEFORE any state mutation, and a re-apply
        that finds every dir already published reuses them without a
        write (``change_feed_reused``). Crash windows: torn staging →
        recomputed against the still unmutated state; published-but-
        unmerged → merge re-applies (LWW idempotent), feeds reused;
        merged-but-uncommitted → manifest re-drives the windows, feeds
        reused (they hold the correct pre-image diff).

        The one published dir NOT reused: its recorded touched set
        misses buckets of its window's. That feed came from an attempt
        whose merge raised :class:`TouchedSetMismatchError` — before any
        state mutation, but after the publish, and the crash hit before
        the raise could unpublish it — so it was diffed against a
        pre-image missing those buckets. It is unpublished and
        recomputed. Dirs from before the set was recorded are reused as
        they are.
        """
        k = len(windows)
        want = [sorted(touched if w.touched is None else w.touched) for w in windows]
        for w, t in zip(windows, want):
            meta = publish.read_json(os.path.join(w.out_dir, self.FEED_META)) or {}
            if os.path.isdir(w.out_dir) and not set(meta.get("touched", t)).issuperset(t):
                shutil.rmtree(w.out_dir)

        def write(staging: str) -> list[tuple[str, dict]]:
            feed = self._changes(winners, lsn_col, op_col, touched, batch_rows)
            schema = feed.drop(_WINDOW).schema.jsonValue()
            return [
                (p, {"rows": n, "touched": t, "schema": schema})
                for (p, n), t in zip(write_windows(feed, staging, k, _write_feed), want)
            ]

        res = publish.publish_each([w.out_dir for w in windows], write, self.FEED_META)
        rows = [r.get("rows") for r in res]
        metrics = {"change_rows": sum(rows), "window_change_rows": rows}
        if all(r["reused"] for r in res):
            metrics["change_feed_reused"] = True
        return metrics, [w.out_dir for w, r in zip(windows, res) if not r["reused"]]

    def _changes(
        self,
        winners: DataFrame,
        lsn_col: str,
        op_col: str,
        touched: list[int],
        batch_rows: int | None = None,
    ) -> DataFrame:
        """Each window's net row-level changes against the current state
        of the ``touched`` buckets and the earlier windows: the feed
        :meth:`_emit_changes` publishes. ``winners`` carry their window
        index (:meth:`batch_winners`); without it they are one window.

        ONE scan of the touched base and delta files — every column with
        preimages on, else keys + lsn (+ op) — left-semi-joined, as one
        union, with the winners' keys before any aggregate, so only the
        O(batch) rows sharing a key with a winner go further. The keys
        are broadcast only when the probe's ``batch_rows`` says they fit
        Spark's own broadcast threshold; otherwise the planner picks,
        and a bulk window shuffles. (Left alone, it sizes the persisted
        winners by a plan estimate before their cache exists, and may
        broadcast the O(state) side instead.)

        Each winner meets the row it would replace: the scanned
        candidates are window −1, and a window's winner meets the LWW of
        the candidates and the same key's winners in earlier windows — a
        running max over the key, ordered by window, which also folds
        crash-duplicated delta rows. A tombstone there means no row.

        That row classifies each change: none → ``insert``
        (delete-on-absent emits nothing); outranked (lsn,
        delete-priority) → ``update`` / ``delete``; a stale winner the
        state outranks emits nothing. With preimages on, each
        update/delete row also yields, from the same row pair, the row
        it REPLACES: ``update_preimage`` / ``delete_preimage`` with the
        old lsn and ``prev_<lsn>`` NULL. It carries every column of the
        old row, also state columns this batch omits (a downstream
        aggregate must subtract a retired non-NULL contribution); a
        column the batch adds reads NULL."""
        prev_col = f"prev_{lsn_col}"
        if _WINDOW not in winners.columns:
            winners = winners.withColumn(_WINDOW, F.lit(0))
        skip = (*self.keys, op_col, self.op_col, "bucket", "content_sha256", _WINDOW, _NEXT, _FIRST)
        rows = winners
        scan = None
        if self.exists():
            scan = self._read_base_buckets(touched)
            if not self.feed_preimages:
                scan = scan.select(*self.keys, lsn_col)
            scan = scan.withColumn(self.op_col, F.lit(OP_UPSERT))
        delta_ids = [b for b in self.delta_bucket_ids() if b in set(touched)]
        if delta_ids:
            delta = self._read_delta(delta_ids)
            if not self.feed_preimages:
                delta = delta.select(*self.keys, lsn_col, self.op_col)
            scan = delta if scan is None else scan.unionByName(delta, allowMissingColumns=True)
        if scan is not None:
            keys = winners.select(*self.keys)
            conf = self.spark._jsparkSession.sessionState().conf()
            if batch_rows is not None and (
                batch_rows * keys._jdf.schema().defaultSize()
                <= conf.autoBroadcastJoinThreshold()
            ):
                keys = F.broadcast(keys)
            rows = (
                scan.join(keys, self.keys, "left_semi")
                .withColumnRenamed(self.op_col, op_col)
                .withColumn(_WINDOW, F.lit(-1))
                .unionByName(winners, allowMissingColumns=True)
            )
        # the replaced row's columns, renamed apart from the winner's
        old: dict[str, str] = {}
        if self.feed_preimages:
            old = {c: f"__old_{c}" for c in rows.columns if c not in (*skip, lsn_col)}
        before = (
            Window.partitionBy(*self.keys)
            .orderBy(_WINDOW)
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        prio = F.when(F.col(op_col) == OP_DELETE, 1).otherwise(0)
        rank = F.struct(lsn_col, prio.alias("__p"), *old)
        prev = F.col("__prev")
        live = prev["__p"] == 0
        joined = (
            rows.withColumn("__prev", F.max(rank).over(before))
            .filter(F.col(_WINDOW) >= 0)
            .select(
                *winners.columns,
                F.when(live, prev[lsn_col]).alias(prev_col),
                *[F.when(live, prev[c]).alias(o) for c, o in old.items()],
            )
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
        changes = joined.withColumn("change_type", change_type).filter(
            F.col("change_type").isNotNull()
        )
        data_cols = [c for c in winners.columns if c not in skip]
        if not old:  # preimages off
            return changes.select(*self.keys, "change_type", *data_cols, prev_col, _WINDOW)
        # one copy of each row, two of an update/delete: the second is
        # its preimage
        replaced = F.col("change_type").isin("update", "delete")
        changes = changes.withColumn(
            "__copy", F.explode(F.sequence(F.lit(0), replaced.cast("int")))
        )
        is_pre = F.col("__copy") == 1
        old[lsn_col] = prev_col

        def pick(c: str) -> Column:
            return F.when(
                is_pre, F.col(old[c]) if c in old else F.lit(None)
            ).otherwise(F.col(c) if c in data_cols else F.lit(None)).alias(c)

        return changes.select(
            *self.keys,
            F.when(is_pre, F.concat("change_type", F.lit("_preimage")))
            .otherwise(F.col("change_type"))
            .alias("change_type"),
            *[pick(c) for c in data_cols],
            F.when(~is_pre, prev).alias(prev_col),
            *[pick(c) for c in old if c not in (*data_cols, lsn_col)],
            _WINDOW,
        )

    def _merge_mor(
        self, winners: DataFrame, op_col: str, touched: list[int]
    ) -> dict:
        """Append the batch's LWW winners — delete tombstones included —
        as per-bucket delta files: write I/O is O(batch), never
        O(touched corpus). Winners are deterministic from the batch, so
        a crash-replay appends identical rows that the read-time fold
        collapses (idempotent without a manifest-side guard)."""
        winners, obs = self._observe_counts(winners, touched)
        staging = f"{self.path}.delta_staging"
        staged, counts = self._stage(
            winners.repartition(len(touched), "bucket"), staging, touched, obs
        )
        bytes_written = dir_bytes(staging)
        files = self._append(staging, staged, counts)
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
        self, winners: DataFrame, lsn_col: str, op_col: str, touched: list[int]
    ) -> dict:
        final = winners
        if self.exists():
            # LWW is associative: state ∪ winners folds to the rows
            # state ∪ batch would; state rows keep their stored digest
            current = self.read_buckets(touched).withColumn(op_col, F.lit(OP_UPSERT))
            final = last_writer_wins_agg(
                current.unionByName(winners, allowMissingColumns=True),
                self.keys,
                lsn_col,
                op_col,
            )
        final = final.filter(F.col(op_col) != OP_DELETE).drop(op_col)

        # Per-bucket row metrics observed inside the write job — no
        # follow-up count job (V4 progress metering without extra scans).
        final, obs = self._observe_counts(final, touched)

        # stage → swap (atomic per bucket dir, commit point = manifest).
        # Repartition on the partition column first (Iceberg
        # write.distribution-mode=hash analog): without it every write
        # task emits a file per bucket it holds — tasks × buckets tiny
        # files per batch; with it, one task and one file per bucket.
        # |touched| partitions, not B: a 2-bucket batch must not schedule
        # B−2 empty write tasks (two buckets hashing to one partition
        # still come out as one file each — partitionBy splits them).
        staging = f"{self.path}.staging"
        staged, counts = self._stage(
            final.repartition(len(touched), "bucket"), staging, touched, obs
        )
        bytes_written = dir_bytes(staging)
        self._commit_cow(staging, touched, staged, counts)
        return {
            "touched_buckets": touched,
            "bucket_rows": counts,
            "rows": int(sum(counts.values())),
            "buckets": self.buckets,
            "mode": "cow",
            "bytes_written": bytes_written,
        }

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
