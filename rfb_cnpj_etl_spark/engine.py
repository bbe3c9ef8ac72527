"""The replay loop / micro-batch driver (reference §3.1 lifecycle,
``orchestrator.py:23-124``, re-expressed).

One call = one resumable CDC replay::

    engine = CdcEngine(spark, state_path, manifest_path)
    engine.replay(changelog_df, batch_size=100_000)

The log is cut into LSN windows above ``manifest.high_watermark()``; one
upfront probe gives each window its touched buckets and event count.

**One apply path.** :meth:`CdcEngine.apply_batch` applies one or more
consecutive windows as one plan: normalize (vectorized cleaners) → ONE
LWW pass into the winners, one per key and window → optional change
feed (one classification of each window's winners against the pre-image
and the earlier windows, one write publishing every window's feed dir
before the state mutates) → bucket-pruned MERGE of the net winners →
optional MinHash index ingest of the same winners (one write publishing
every window's pairs dir before the index mutates, then the net rows) →
one manifest entry per window, committed in window order, carrying its
lsn range, per-bucket row counts (per-partition lineage + metrics, the
north_rule requirement), schema version and near-dup pair count. A
window's cost is fixed Spark jobs, not data, so :meth:`CdcEngine.replay`
hands consecutive windows of one call to one ``apply_batch`` while,
taken together, they would still apply merge-on-read; each window keeps
its batch id, feed dir, pairs dir and ``state_as_of`` point, and
aggregates advance once per call. COW windows and windows whose feed or
pairs dir is already published apply as a group of one.

**Crash contract.** Feeds publish before the state mutates and pairs
before the index mutates, the state append and the index ingest are
LWW-idempotent, and the manifest commit is each window's exactly-once
point. A crash after j of a group's k commits re-drives windows
j+1..k; their feed and pairs dirs are published, so each applies on its
own and reuses them. Restart resumes after the high watermark, with the
schema registry the manifest committed; re-delivered batches are
no-ops.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import publish
from .operators.dedup import last_writer_wins_agg
from .operators.merge import FeedWindow, StateTable, read_feed, shared
from .operators.store import FIRST, NEXT, WINDOW, key_bucket, parquet_footer_rows
from .plans.checkpoint import Manifest
from .schema import CHANGELOG_SCHEMA, CODE_KEY, OP_DELETE, OP_UPSERT, SchemaRegistry


class LsnWindow(NamedTuple):
    """One window of changelog events: the id its manifest entry and
    feed dir carry, its real lsn span, and — when known, as the replay
    probe knows them — the buckets its keys hash to and its event
    count."""

    batch_id: str
    lsn_lo: int
    lsn_hi: int
    touched: list[int] | None = None
    rows: int | None = None


@dataclass
class MaintenancePolicy:
    """When and how the engine maintains its stores after a replay —
    the automatic analog of the reference's post-load index pass
    (lifecycle step 8, ``db/sqlite_builder.py:127-168``; the graft's
    round-2 ``health``/``optimize``/``rebucket`` CLI verbs existed but
    nothing consumed the report). Thresholds live here, in one place.

    ``auto_compact`` fires when any bucket accumulates more than
    ``max_files_per_bucket`` files (each micro-batch adds one file per
    touched bucket — a long replay degenerates scans without this).
    ``rebucket_above_bucket_bytes`` flags a layout whose largest bucket
    outgrew the per-task budget; doubling B is a full-table rewrite, so
    it is a recommendation unless ``auto_rebucket`` is opted into.
    """

    max_files_per_bucket: int = 8
    auto_compact: bool = True
    rebucket_above_bucket_bytes: int | None = None
    auto_rebucket: bool = False
    #: also compact the attached MinHash index's sig/posting stores
    include_index: bool = True
    #: keep only the newest N per-batch pair outputs under
    #: ``{index}/pairs/`` — a long replay writes one dir per
    #: micro-batch, and their counts already live in the manifest.
    #: Like the feed prune, only manifest-committed dirs go, oldest
    #: first: an uncommitted dir is the only correct copy of its
    #: window's pairs (its re-drive reuses it). None = keep everything.
    pairs_retention_batches: int | None = 16
    #: keep only the newest N per-batch change-feed dirs under the
    #: engine's ``changes_dir`` (CDC-out). None = keep everything —
    #: unlike pair outputs the feed is a downstream deliverable, so
    #: pruning is strictly opt-in (set it to the consumers' replay
    #: horizon, like a Kafka retention window).
    changes_retention_batches: int | None = None
    #: within-bucket sort columns applied when a store is compacted,
    #: keyed by store name ("state", "index_sig", "index_post"):
    #: sorted buckets make parquet row-group min/max stats selective so
    #: non-key predicates skip row groups at scan time — the analog of
    #: the reference's 18 secondary indexes (db/schema.py:70-75).
    sort_within_buckets: dict[str, list[str]] | None = None
    #: surface a cap_fanout recommendation when the MinHash index's
    #: largest posting list exceeds this (one maintenance-time agg over
    #: the posting store; None = skip the check). A list of C ids makes
    #: O(C²) candidates through its band key — the operator knob this
    #: feeds is ``max_fanout`` on ingest/incremental_pairs.
    max_posting_list: int | None = None
    #: auto-publish a feed snapshot checkpoint (``checkpoint_feed`` at
    #: the newest applied batch — one state scan, no fold) once this
    #: many merge batches committed since the newest checkpoint. Runs
    #: BEFORE the feed retention prune, so a policy setting both knobs
    #: keeps the feed bounded AND every batch time-travel-reachable
    #: with no manual operator step: ``state_as_of`` folds
    #: O(state + churn-since-checkpoint) and the prune only ever
    #: removes covered dirs. None = checkpoints stay manual.
    feed_checkpoint_every: int | None = None

    def plan(self, health: dict) -> list[str]:
        """Actions a store's health report calls for."""
        actions: list[str] = []
        if health.get("max_files_per_bucket", 0) > self.max_files_per_bucket:
            actions.append("compact")
        if (
            self.rebucket_above_bucket_bytes is not None
            and health.get("max_bucket_bytes", 0) > self.rebucket_above_bucket_bytes
        ):
            actions.append("rebucket")
        return actions

    def offending_buckets(self, health: dict) -> list[int]:
        """Buckets whose base+delta file count breached the compaction
        threshold — the only ones a compaction should rewrite. From the
        health report's per-bucket metadata (no Spark job)."""
        per = health.get("per_bucket", {})
        dper = health.get("delta_per_bucket", {})
        return sorted(
            b
            for b in set(per) | set(dper)
            if per.get(b, {}).get("files", 0)
            + dper.get(b, {}).get("files", 0)
            > self.max_files_per_bucket
        )


def default_normalize(df: DataFrame) -> DataFrame:
    """Vectorized cleaning of every string column (T1 sanitize) — one
    fused projection, no Python."""
    from .functions.normalize import sanitize

    exprs = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.StringType) and f.name not in ("op",):
            exprs.append(sanitize(f.name).alias(f.name))
        else:
            exprs.append(F.col(f.name))
    return df.select(*exprs)


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        manifest_path: str,
        keys: list[str] | None = None,
        buckets: int | None = None,
        normalize: Callable[[DataFrame], DataFrame] | None = default_normalize,
        registry: SchemaRegistry | None = None,
        merge_mode: str = "auto",
        commit_protocol: str = "rename",
        changes_dir: str | None = None,
        feed_preimages: bool = False,
    ) -> None:
        self.spark = spark
        self.manifest = Manifest(manifest_path)
        # Bucket-count resolution: the table's layout marker is the
        # ground truth (it is swapped atomically WITH the data, so it
        # survives a crash between a rebucket swap and its manifest
        # commit — the manifest alone can go stale there); the manifest
        # record covers pre-marker tables; an explicit mismatch is an
        # error (reading with the wrong B silently mis-prunes buckets).
        recorded = StateTable.layout_buckets(state_path)
        if recorded is None:
            recorded = self.manifest.current_buckets()
        if buckets is not None and recorded is not None and buckets != recorded:
            raise ValueError(
                f"state table has buckets={recorded} (layout/manifest) but "
                f"buckets={buckets} was requested; run `rebucket` to change B"
            )
        self.state = StateTable(
            spark,
            state_path,
            keys or CODE_KEY,
            buckets or recorded or 32,
            # fresh-table default; an existing table's marker wins
            commit_protocol=commit_protocol,
            feed_preimages=feed_preimages,
        )
        self.normalize = normalize
        if registry is None:
            # resume the schema history the manifest committed — not the
            # state's layout marker, which a crash between a window's
            # append and its commit leaves holding uncommitted columns
            registry = SchemaRegistry(CHANGELOG_SCHEMA)
            last = next((e for e in reversed(self.manifest.entries()) if "columns" in e), None)
            if last is not None:
                registry.resume(last["columns"], self.manifest.schema_version())
        self.registry = registry
        #: per-batch write strategy: "cow" always rewrites touched
        #: buckets, "mor" always appends delta files, "auto" decides per
        #: batch from the batch-size/state-size ratio (StateTable.merge).
        self.merge_mode = merge_mode
        #: CDC-out: when set, every applied batch publishes its net
        #: row-level changes (insert/update/delete + before-image LSN)
        #: under ``{changes_dir}/batch=<batch_id>/`` — the Delta
        #: Change-Data-Feed analog, making the state table itself
        #: consumable as a changelog by a downstream pipeline.
        self.changes_dir = changes_dir
        if changes_dir:
            publish.recover_root(changes_dir)

    #: (window, bucket) probe rows the driver will hold at once before
    #: switching to the streamed per-partition fetch (65536 rows of 4
    #: longs ≈ a few MB with Row overhead).
    PROBE_COLLECT_MAX = 65536

    # ------------------------------------------------------------------

    def apply_batch(
        self,
        batch: DataFrame,
        *windows: LsnWindow,
        minhash_index=None,
        index_threshold: float = 0.5,
        index_max_fanout: int | None = None,
    ) -> list[dict]:
        """Normalize → dedup → MERGE → (optional near-dup index update +
        per-batch pair report) → manifest-commit the ``windows`` that
        ``batch`` holds. Returns one manifest entry per window.

        One path for any window count: one LWW pass into the winners
        (one per key and window when there are several), one
        :meth:`StateTable.merge` — one feed write publishing every
        window's dir and one write of the net winners — one index
        ingest, then one entry per window, committed in window order.
        Each entry keeps its window's ``mode``, ``change_rows``,
        ``touched_buckets``, lsn span, ``added_columns``,
        ``near_dup_pairs`` and ``pairs_path``; the write metrics go on
        the last. One window is the micro-batch, a group of one; several
        are a group of consecutive merge-on-read windows (:meth:`replay`).

        The index step is the reference's "patch pass as part of the
        load lifecycle" (``orchestrator.py:113-114``) generalized: dedup
        detection runs AS PART OF ingest, per micro-batch, not as a
        periodic full recompute. Everything before the manifest commit
        is idempotent (LWW merge, upsert-by-id index, pairs published
        once per window and reused), so the commit stays the single
        exactly-once point.
        """
        if all(self.manifest.is_applied(w.batch_id) for w in windows):
            return [{"batch_id": w.batch_id, "skipped": True} for w in windows]
        # add-column evolution: new batch columns extend the registry;
        # batches missing known columns are fine (NULL-filled in MERGE).
        cur_names = {f.name for f in self.registry.current.fields}
        new_fields = [f for f in batch.schema.fields if f.name not in cur_names]
        added = []
        if new_fields:
            merged_schema = T.StructType(
                list(self.registry.current.fields) + new_fields
            )
            added = self.registry.evolve(merged_schema)
        if self.normalize is not None:
            batch = self.normalize(batch)
        touched, rows = [w.touched for w in windows], [w.rows for w in windows]
        merge_args = {
            "touched": None if None in touched else sorted(set().union(*touched)),
            "mode": self.merge_mode,
            "batch_rows": None if None in rows else sum(rows),
        }
        feed = None
        if self.changes_dir:
            feed = [
                FeedWindow(
                    os.path.join(self.changes_dir, f"batch={w.batch_id}"), w.lsn_hi, w.touched
                )
                for w in windows
            ]
        pairs: list[dict] = [{} for _ in windows]
        readers = 1 + bool(feed) + (minhash_index is not None)
        with shared(self.state.batch_winners(batch, windows=windows), readers) as winners:
            metrics = self.state.merge(batch, changes_out=feed, winners=winners, **merge_args)
            if minhash_index is not None:
                pairs, index = self._update_index(
                    minhash_index, winners, windows,
                    index_threshold, index_max_fanout, merge_args["batch_rows"],
                )
                metrics.update(index)
        per_window = metrics.pop("window_change_rows", None)
        entries = []
        for i, w in enumerate(windows):
            entry = {
                "batch_id": w.batch_id,
                "lsn_lo": int(w.lsn_lo),
                "lsn_hi": int(w.lsn_hi),
                "schema_version": self.registry.version,
                "added_columns": [f.name for f in added] if i == 0 else [],
                "columns": batch.columns,
                **pairs[i],
            }
            if i == len(windows) - 1:
                entry.update(metrics)
            else:
                entry.update((k, metrics[k]) for k in ("buckets", "mode") if k in metrics)
            if w.touched is not None:
                entry["touched_buckets"] = w.touched
            if per_window is not None:
                entry["change_rows"] = per_window[i]
            entries.append(self.manifest.commit(entry))
        return entries

    #: unit separator — joins the MERGE key columns into the index's
    #: single doc id (no printable-text collisions).
    _ID_SEP = "\x1f"

    @staticmethod
    def _pairs_dir(index, batch_id: str) -> str:
        return f"{index.path}/pairs/batch={batch_id}"

    def _update_index(
        self,
        index,
        winners: DataFrame,
        windows: tuple[LsnWindow, ...],
        threshold: float,
        max_fanout: int | None = None,
        batch_rows: int | None = None,
    ) -> tuple[list[dict], dict]:
        """Fold the ``windows``' LWW winners (the same
        :meth:`StateTable.batch_winners` frame the MERGE applied, one
        per key and window when there are several) into the MinHash
        index in one ingest, and surface the near-dup pairs each window
        makes detectable. The winners are a pure function of the
        normalized batch — NOT of merged state — so a crash-replay feeds
        the index identical docs; upsert winners become index docs,
        delete winners drop their signatures/postings. Each window's
        pairs land in ``{index.path}/pairs/batch=<id>``, published before
        the index mutates and reused on re-apply
        (:meth:`MinhashIndex.ingest`). Returns each window's manifest
        fields (pair count and dir) and the ingest's write metrics."""
        doc_id = F.concat_ws(self._ID_SEP, *self.state.keys).alias("doc_id")
        chain = [WINDOW, NEXT, FIRST] if WINDOW in winners.columns else []
        is_del = F.col(self.state.op_col) == OP_DELETE
        upserts = winners.filter(~is_del).select(
            doc_id, F.col(self.state.content_col).alias("text"), *chain
        )
        deletes = winners.filter(is_del).select(doc_id, *chain)
        paths = [self._pairs_dir(index, w.batch_id) for w in windows]
        metrics, _pairs = index.ingest(
            upserts,
            content_col="text",
            id_col="doc_id",
            deleted_ids=deletes,
            threshold=threshold,
            pairs_out=paths,
            max_fanout=max_fanout,
            # a forced engine write strategy applies to the index too;
            # the replay probe's window row count rides along so auto
            # mode needs no extra count job (events ≥ changed keys —
            # conservative toward COW)
            mode=self.merge_mode,
            batch_rows=batch_rows,
        )
        # counts observed inside the pairs write (or read from a reused
        # dir's sidecar) — no re-read job
        pairs = [
            {"near_dup_pairs": n, "pairs_path": p}
            for n, p in zip(metrics["window_pairs"], paths)
        ]
        reused = {"pairs_reused": True} if metrics.get("pairs_reused") else {}
        return pairs, {
            **reused,
            "index_sig_buckets": metrics["sig_touched_buckets"],
            "index_post_buckets": metrics["post_touched_buckets"],
            "index_bytes_written": metrics["sig_bytes_written"]
            + metrics["post_bytes_written"],
        }

    def replay(
        self,
        changelog: DataFrame,
        batch_size: int = 1_000_000,
        lsn_col: str = "lsn",
        minhash_index=None,
        index_threshold: float = 0.5,
        index_max_fanout: int | None = None,
        maintenance: MaintenancePolicy | None = None,
        aggregates: list | None = None,
    ) -> list[dict]:
        """Resumable replay: equal-width LSN windows above the manifest
        high watermark. Returns the committed manifest entries, one per
        window, in window order.

        Every window goes through :meth:`apply_batch`, the one apply
        path. Consecutive windows share one call (a group) while
        :meth:`StateTable._choose_mode`, given their summed probe rows
        and the union of their touched buckets, would still pick
        merge-on-read, and while each window's feed and pairs dirs are
        unpublished — so a group is only ever classified against a state,
        and paired against an index, that hold none of its rows. Any
        other window is a group of one.

        ``minhash_index`` (a dedup.MinhashIndex) opts near-dup detection
        into the ingest loop: each group makes one index ingest, and each
        window's manifest entry reports the pairs that window made
        detectable, in its own pairs dir. ``maintenance`` runs the
        post-replay health check / compaction policy (the reference's
        automatic lifecycle steps 7–8).

        ``aggregates`` (ivm.IncrementalAggregate list) are advanced
        after every committed group — one job folds all of its windows —
        so downstream materialized views stay fresh inside the ingest
        loop, and they are guaranteed to run BEFORE any ``maintenance``
        feed retention (an aggregate can never lose an unapplied feed
        dir to the same replay's prune)."""
        watermark = self.manifest.high_watermark()
        pending = changelog.filter(F.col(lsn_col) > watermark)
        # Micro-batch windows are aligned on absolute LSN
        # (window k = [k·bs, (k+1)·bs)), so batch boundaries — and hence
        # batch_ids — are stable across resumes. ONE upfront pass
        # computes every window's exact touched-bucket set (per-batch
        # partition pruning without a per-batch driver job: one
        # key+lsn-column scan at 10^10 events). Only windows that
        # actually contain events are enumerated — never the numeric
        # window range, which for sparse LSN spaces (timestamp-derived
        # sequences) can be orders of magnitude larger than the data.
        # Buckets MUST be derived from the keys as merge() will see them —
        # i.e. AFTER normalization (sanitize trims/NUL-strips the key
        # columns; a key altered by it hashes to a different bucket).
        # apply_batch normalizes each batch before merging, so this probe
        # runs the same normalization. The lsn column is the engine's own
        # long and is contract-exempt from normalization. (Catalyst
        # prunes the normalize projection down to key+lsn columns — the
        # probe never touches content.)
        probe = pending if self.normalize is None else self.normalize(pending)
        bucket_col = key_bucket(self.state.keys, self.state.buckets)
        win = F.floor(F.col(lsn_col) / F.lit(batch_size)).cast("long")
        # __n rides the same agg for free: per-(window, bucket) event
        # counts give each batch's row count (the COW/MOR auto decision
        # input) without any extra scan or job.
        pairs_agg = probe.groupBy(win.alias("__w"), bucket_col.alias("__b")).agg(
            F.max(lsn_col).alias("__hi"),
            F.min(lsn_col).alias("__lo"),
            F.count(F.lit(1)).alias("__n"),
        )
        # Hybrid fetch. The streamed path (range-repartition + sort +
        # one fetch job per partition) bounds driver memory when the
        # window table is huge, but costs ~0.8 s of fixed scheduling per
        # REPLAY — measured by in-JVM A/B (BASELINE.md round 3): probe
        # agg + plain collect 0.46 s vs + streamed fetch 1.24 s, with
        # the r2 normalization itself only ~0.05 s (Catalyst prunes it
        # to key+lsn columns). A single-batch production replay was
        # paying 16% for a bound it didn't need. So: try a bounded
        # collect first (limit k+1 proves the table is small — ≤ k rows
        # of 4 ints is a few MB of driver memory); fall back to the
        # streamed path only when the bound is exceeded, re-running the
        # tiny agg (one extra pass over ≤ windows × buckets rows, noise
        # at the scale where the fallback triggers).
        head = pairs_agg.limit(self.PROBE_COLLECT_MAX + 1).collect()
        if len(head) <= self.PROBE_COLLECT_MAX:
            row_iter = iter(sorted(head, key=lambda r: (r["__w"], r["__b"])))
        else:
            # Globally ordered via range partitioning into FEW
            # partitions: toLocalIterator launches one fetch job per
            # partition, so leaving the agg at
            # spark.sql.shuffle.partitions would add that many
            # scheduling round-trips for a table that is tiny relative
            # to the data; 8 partitions keeps the per-fetch driver
            # footprint bounded at scale while costing at most 8
            # fetches.
            row_iter = (
                pairs_agg.repartitionByRange(8, F.col("__w"), F.col("__b"))
                .sortWithinPartitions("__w", "__b")
                .toLocalIterator()
            )

        def windows():
            """:class:`LsnWindow` per window with events, in order. The
            iterator yields (window, bucket) rows in global (__w, __b)
            order — from the bounded driver-side sort, or streamed one
            shuffle partition at a time — so a window's rows are
            contiguous."""
            cur_w: int | None = None
            buckets: list[int] = []
            lo = hi = rows = 0
            for r in row_iter:
                w = int(r["__w"])
                if cur_w is not None and w != cur_w:
                    # batch_id and the manifest record the REAL lsn span
                    # (not the window bounds): a partially-filled tail
                    # window must not advance the watermark past events
                    # that haven't arrived yet, and its later events must
                    # not collide with the applied id.
                    yield LsnWindow(f"lsn_{lo}_{hi}", lo, hi, sorted(buckets), rows)
                    buckets, rows = [], 0
                if not buckets:
                    lo, hi = int(r["__lo"]), int(r["__hi"])
                else:
                    lo, hi = min(lo, int(r["__lo"])), max(hi, int(r["__hi"]))
                cur_w = w
                buckets.append(int(r["__b"]))
                rows += int(r["__n"])
            if cur_w is not None:
                yield LsnWindow(f"lsn_{lo}_{hi}", lo, hi, sorted(buckets), rows)

        def fresh(w: LsnWindow) -> bool:
            """No attempt committed this window or published its feed or
            pairs dir."""
            dirs = []
            if self.changes_dir:
                dirs.append(os.path.join(self.changes_dir, f"batch={w.batch_id}"))
            if minhash_index is not None:
                dirs.append(self._pairs_dir(minhash_index, w.batch_id))
            return not self.manifest.is_applied(w.batch_id) and not any(map(os.path.isdir, dirs))

        def mor(group: list[LsnWindow]) -> bool:
            touched = sorted(set().union(*(w.touched for w in group)))
            rows = sum(w.rows for w in group)
            return self.state._choose_mode(self.merge_mode, touched, rows) == "mor"

        entries: list[dict] = []

        def flush(group: list[LsnWindow]) -> None:
            if not group:
                return
            entries.extend(
                self.apply_batch(
                    pending.filter(F.col(lsn_col).between(group[0].lsn_lo, group[-1].lsn_hi)),
                    *group,
                    minhash_index=minhash_index,
                    index_threshold=index_threshold,
                    index_max_fanout=index_max_fanout,
                )
            )
            for agg in aggregates or []:
                agg.advance(self)

        # A window joins the group before it while both are fresh, the
        # group's first window would apply merge-on-read alone, and the
        # group with it would still. The state does not change until the
        # group applies, so each check sees the state the group will be
        # classified against.
        group: list[LsnWindow] = []
        for w in windows():
            if not (
                group
                and fresh(group[0])
                and fresh(w)
                and mor(group[:1])
                and mor([*group, w])
            ):
                flush(group)
                group = []
            group.append(w)
        flush(group)
        # catch up aggregates when no window flushed this call (batches
        # committed by an earlier, interrupted replay); if any window
        # flushed, its own per-batch advance already caught up
        if not entries:
            for agg in aggregates or []:
                agg.advance(self)
        if maintenance is not None:
            report = self.maintain(maintenance, minhash_index=minhash_index)
            if report.get("actions"):
                entries.append(report["manifest_entry"])
        return entries

    def maintain(
        self, policy: MaintenancePolicy, minhash_index=None
    ) -> dict:
        """Health-driven maintenance (reference lifecycle step 8 run
        automatically, ``db/sqlite_builder.py:127-168``): read each
        store's metadata-only health report, apply the policy.

        Compaction fires when a bucket exceeds the policy's file-count
        threshold; a rebucket-worthy layout is recommended (or applied
        under ``auto_rebucket``). The applied actions are committed as a
        maintenance manifest entry so the lineage records WHO rewrote
        the files; recommendations ride the returned report only."""
        actions: list[dict] = []
        recommendations: list[dict] = []

        def run(name: str, store, rebucketable: bool) -> None:
            h = store.health()
            for what in policy.plan(h):
                if what == "compact" and policy.auto_compact:
                    # rewrite ONLY the buckets that breached the
                    # threshold: at steady-state MOR churn a whole-table
                    # compact would claw back exactly the write
                    # amplification MOR removed (one hot bucket at 9
                    # files must not trigger an O(table) rewrite).
                    res = store.compact(
                        bucket_ids=policy.offending_buckets(h),
                        sort_within_buckets=(
                            policy.sort_within_buckets or {}
                        ).get(name),
                    )
                    actions.append(
                        {"store": name, "action": "compact", **res}
                    )
                elif what == "rebucket" and rebucketable and policy.auto_rebucket:
                    res = store.rebucket(store.buckets * 2)
                    actions.append(
                        {"store": name, "action": "rebucket", **res}
                    )
                else:
                    recommendations.append(
                        {
                            "store": name,
                            "action": what,
                            "max_files_per_bucket": h["max_files_per_bucket"],
                            "max_bucket_bytes": h["max_bucket_bytes"],
                        }
                    )

        run("state", self.state, rebucketable=True)
        if minhash_index is not None and policy.include_index:
            # index stores migrate B through the generic store rebucket
            # (id-keyed sig store, (band,bkey)-keyed posting store); the
            # layout markers make the new counts self-describing on
            # reopen, so the two can evolve independently.
            run("index_sig", minhash_index.sig_store, rebucketable=True)
            run("index_post", minhash_index.post_store, rebucketable=True)
            if policy.max_posting_list is not None:
                # one maintenance-time agg over the posting store (the
                # shuffle carries one int per key — posting_skew's
                # docstring scopes it to maintenance, and this is where
                # its report finally gets consumed): a viral posting
                # list makes O(C²) candidates per probe, and the
                # recommendation names the offending keys plus the
                # max_fanout that would cap them.
                hot = [
                    {
                        "band": int(r["band"]),
                        "bkey": str(r["bkey"]),
                        "n_ids": int(r["n_ids"]),
                    }
                    for r in minhash_index.posting_skew(top_n=20).collect()
                    if int(r["n_ids"]) > policy.max_posting_list
                ]
                if hot:
                    recommendations.append(
                        {
                            "store": "index_post",
                            "action": "cap_fanout",
                            "hot_keys": hot,
                            "recommended_max_fanout": policy.max_posting_list,
                        }
                    )
            pruned = 0
            if policy.pairs_retention_batches is not None:
                pruned = self._prune_committed(
                    os.path.join(minhash_index.path, "pairs"), policy.pairs_retention_batches
                )
            if pruned:
                actions.append(
                    {
                        "store": "index_pairs",
                        "action": "prune",
                        "removed_batch_dirs": pruned,
                    }
                )

        if self.changes_dir and policy.feed_checkpoint_every is not None:
            # checkpoint cadence: merge batches committed since the
            # newest published checkpoint (all of history when none
            # exists yet). Checkpointing the NEWEST batch reads the live
            # state directly — one scan, no feed fold — and must run
            # before the retention prune below so the prune's
            # covered-dirs-only rule has a fresh horizon to work under.
            ids = [e["batch_id"] for e in self._merge_entries()]
            cps = self._feed_checkpoints()
            newest_cp = max(
                (i for i, b in enumerate(ids) if b in cps), default=-1
            )
            if ids and len(ids) - 1 - newest_cp >= policy.feed_checkpoint_every:
                res = self.checkpoint_feed()
                actions.append(
                    {"store": "change_feed", "action": "checkpoint", **res}
                )

        if self.changes_dir and policy.changes_retention_batches is not None:
            pruned = self._prune_change_feed(
                policy.changes_retention_batches
            )
            if pruned:
                actions.append(
                    {
                        "store": "change_feed",
                        "action": "prune",
                        "removed_batch_dirs": pruned,
                    }
                )

        report: dict = {"actions": actions, "recommendations": recommendations}
        if actions:
            hw = self.manifest.high_watermark()
            entry = self.manifest.commit(
                {
                    "batch_id": f"maintenance_{self.manifest.count()}",
                    "lsn_lo": hw,
                    "lsn_hi": hw,
                    "schema_version": self.registry.version,
                    "maintenance": actions,
                    "buckets": self.state.buckets,
                }
            )
            report["manifest_entry"] = entry
        return report

    def _prune_change_feed(self, retention: int) -> int:
        """Count-based feed retention (:meth:`_prune_committed`). Once a
        snapshot checkpoint exists only the dirs the NEWEST one covers
        (manifest position ≤ the checkpoint's) are eligible — removing
        an uncovered dir would destroy ``state_as_of`` for every later
        batch; without one the prune trades time travel for space
        (opt-in)."""
        return self._prune_committed(self.changes_dir, retention, self._feed_checkpoints())

    def _prune_committed(self, root: str, retention: int, checkpoints=()) -> int:
        """Drop the oldest ``batch=<id>`` dirs under ``root`` (feed or
        pairs), in manifest order, until ``retention`` are left, none
        past the newest of ``checkpoints``. Only committed dirs are ever
        dropped: a dir the manifest has not committed (the published-
        but-uncommitted crash window) is the one its re-driven batch
        reuses, and the state or index may already hold its mutations,
        so a recomputed feed would come out empty and recomputed pairs
        would meet later windows' documents."""
        dirs = publish.published(root, "batch")
        if len(dirs) <= retention:
            return 0
        pos = {e["batch_id"]: i for i, e in enumerate(self._merge_entries())}
        horizon = max((pos[b] for b in checkpoints if b in pos), default=len(pos))
        removable = sorted((b for b in dirs if pos.get(b, horizon + 1) <= horizon), key=pos.get)
        doomed = removable[: len(dirs) - retention]
        for b in doomed:
            shutil.rmtree(dirs[b], ignore_errors=True)
        return len(doomed)

    # ------------------------------------------------------------------

    def rebucket(self, new_buckets: int) -> dict:
        """Migrate the state table to a new bucket count and record the
        new layout in the manifest. Crash safety: a crash mid-swap is
        restored by StateTable._recover (the pre-rebucket table survives
        in ``.old``); a crash between the swap and this manifest commit
        leaves the manifest stale, but the layout marker written with
        the swap is the ground truth the next engine resolves B from —
        the stale manifest record is then self-healed by the next
        committed entry."""
        metrics = self.state.rebucket(new_buckets)
        hw = self.manifest.high_watermark()
        # seq in the id keeps repeated rebuckets (32→64→32→…) distinct —
        # Manifest.commit dedups on batch_id.
        entry = {
            "batch_id": f"rebucket_{self.manifest.count()}_to_{new_buckets}",
            "lsn_lo": hw,
            "lsn_hi": hw,
            "schema_version": self.registry.version,
            **metrics,
        }
        return self.manifest.commit(entry)

    def final_state(self) -> DataFrame:
        return self.state.read()

    def change_feed(self) -> DataFrame:
        """The accumulated CDC-out feed — one row per net state change,
        partitioned by the batch that produced it (``batch`` column =
        batch_id). Downstream consumers read this exactly like the
        engine reads its own input changelog: ``lsn`` orders changes,
        ``change_type``/``prev_lsn`` say what happened to the key. Only
        published dirs are read (a torn ``.staging`` is invisible), so
        the feed is always a prefix-consistent view of committed work."""
        if not self.changes_dir:
            raise ValueError(
                "engine was built without changes_dir; pass changes_dir= "
                "to CdcEngine to record a change feed"
            )
        dirs = list(publish.published(self.changes_dir, "batch").values())
        if not dirs:
            raise ValueError(
                f"no published change-feed batches under {self.changes_dir}"
            )
        # add-column evolution mid-history leaves older batch dirs
        # without the new columns: the feed presents ONE evolved schema
        # (old rows NULL-filled, same contract as the state table)
        return read_feed(self.spark, dirs, self.changes_dir)

    def _merge_entries(self) -> list[dict]:
        """Manifest entries that mutated row content, in commit order —
        merge entries carry a ``mode`` metric; maintenance / rebucket /
        checkpoint entries don't and are skipped."""
        return [e for e in self.manifest.entries() if "mode" in e]

    def _feed_checkpoints(self) -> dict[str, str]:
        """Published snapshot checkpoints inside the change feed:
        ``{batch_id: dir}`` for every ``checkpoint=<batch_id>`` dir
        under ``changes_dir``. Discovery is filesystem-only (the atomic
        publish rename is the commit point — a torn ``.staging`` is
        invisible), so a crash between publish and the advisory
        manifest entry loses nothing."""
        if not self.changes_dir:
            return {}
        return publish.published(self.changes_dir, "checkpoint")

    def checkpoint_feed(self, batch_id: str | None = None) -> dict:
        """Materialize a snapshot checkpoint into the change feed (the
        Iceberg expire-snapshots-behind-a-kept-snapshot analog): the
        full state as of ``batch_id`` (default: the newest applied
        batch), published atomically under
        ``changes_dir/checkpoint=<batch_id>/``.

        Why it exists at 10^10 rows: ``state_as_of`` folds the feed
        prefix, which grows with TOTAL churn — unbounded on a
        long-lived table — and retention (which bounds it) destroyed
        time travel entirely. A checkpoint caps the fold at
        O(state-at-checkpoint + churn-since) and makes it safe for
        retention to prune every feed dir the checkpoint covers
        (``maintain`` only prunes covered dirs once one exists). It
        also unlocks time travel for engines that enabled
        ``changes_dir`` mid-life: batches after the checkpoint are
        reconstructible even though the feed never saw the early
        history. The reference has no history at all — each monthly
        drop rebuilds the database (db/sqlite_builder.py:170-177);
        this is the graft's replacement for that reset.

        Idempotent (an existing published dir is reused) and crash-safe
        (stage → atomic rename; the advisory manifest entry commits
        after, and discovery never depends on it)."""
        if not self.changes_dir:
            raise ValueError(
                "engine was built without changes_dir; checkpoints live "
                "inside the change feed"
            )
        entries = self._merge_entries()
        if not entries:
            raise ValueError("no applied batches to checkpoint")
        ids = [e["batch_id"] for e in entries]
        if batch_id is None:
            batch_id = ids[-1]
        if batch_id not in ids:
            raise ValueError(f"batch {batch_id!r} not in the manifest")

        def write(staging: str) -> dict:
            if batch_id == ids[-1]:
                # newest batch: the live state IS the snapshot — one
                # state scan, no feed fold (and no feed-coverage
                # requirement, which is what lets a late-enabled feed
                # bootstrap). Guard the one crash window where the live
                # state is AHEAD of the manifest (batch merged, manifest
                # commit never landed): the feed publishes BEFORE the
                # state mutates, so that window always leaves a
                # published-but-uncommitted batch dir — refuse rather
                # than label a snapshot containing the uncommitted
                # batch's rows with the prior batch's id.
                stray = sorted(
                    set(publish.published(self.changes_dir, "batch"))
                    - set(ids)
                )
                if stray:
                    raise ValueError(
                        f"feed dirs {stray} are published but not manifest-"
                        "committed — the live state may already contain "
                        "their mutations (merge-then-crash window); "
                        "re-drive replay to commit them, then checkpoint"
                    )
                snap = self.state.read()
            else:
                snap = self.state_as_of(batch_id)
            drop = [
                c
                for c in ("bucket", "content_sha256", self.state.op_col)
                if c in snap.columns
            ]
            obs = Observation()
            snap = snap.drop(*drop)
            schema = snap.schema.jsonValue()
            snap = snap.observe(obs, F.count(F.lit(1)).alias("rows"))
            snap.write.mode("overwrite").parquet(staging)
            try:
                rows = int(obs.get["rows"])
            except Exception:  # noqa: BLE001 — AQE may prune the metrics node
                rows = parquet_footer_rows(staging)
            return {"rows": rows, "checkpoint_of": batch_id, "schema": schema}

        out_dir = os.path.join(self.changes_dir, f"checkpoint={batch_id}")
        res = publish.publish_once(out_dir, write, StateTable.FEED_META)
        if not res["reused"]:
            hw = self.manifest.high_watermark()
            self.manifest.commit(
                {
                    "batch_id": f"feed_checkpoint_{self.manifest.count()}",
                    "lsn_lo": hw,
                    "lsn_hi": hw,
                    "schema_version": self.registry.version,
                    "checkpoint_of": batch_id,
                    "checkpoint_rows": res["rows"],
                }
            )
        return {
            "checkpoint_of": batch_id,
            "rows": res.get("rows"),
            "reused": res["reused"],
        }

    def state_as_of(self, batch_id: str) -> DataFrame:
        """Time travel (the Iceberg snapshot-read / Delta ``VERSION AS
        OF`` analog): reconstruct the state table exactly as it stood
        after ``batch_id`` committed, by LWW-folding the change feed's
        committed prefix up to and including that batch — starting from
        the newest covering snapshot checkpoint when one exists
        (:meth:`checkpoint_feed`), else from the beginning of history.

        Cost model at 10^10 rows: one columnar scan of the fold input
        (net changes only — bounded by churn since the checkpoint, not
        state size) plus one map-side-combining hash aggregate; NO
        per-batch state copies are ever written, which is what makes
        every batch a readable snapshot for free. Correctness: each
        batch's feed is its net diff vs the pre-batch state
        (``StateTable._emit_changes``) and a checkpoint is the exact post-batch
        state with original LSNs, so the union replayed under the same
        LWW fold (max lsn, delete-priority tie-break) reproduces the
        post-batch state exactly — including keys deleted and later
        re-inserted (LSN windows are disjoint across batches, so
        post-checkpoint changes always outrank checkpoint rows).

        Requires the feed to cover the history from the chosen starting
        point up to ``batch_id``: batches predating the feed or pruned
        by retention raise ``ValueError`` (never a silent partial
        reconstruction) unless a checkpoint covers them."""
        if not self.changes_dir:
            raise ValueError(
                "engine was built without changes_dir; time travel folds "
                "the change feed"
            )
        entries = self._merge_entries()
        ids = [e["batch_id"] for e in entries]
        try:
            target = ids.index(batch_id)
        except ValueError:
            raise ValueError(f"batch {batch_id!r} not in the manifest")
        cps = self._feed_checkpoints()
        cp_dir = None
        start = 0
        for i in range(target, -1, -1):
            if ids[i] in cps:
                cp_dir = cps[ids[i]]
                start = i + 1
                break
        dirs: list[str] = []
        for e in entries[start : target + 1]:
            if "change_rows" not in e:
                raise ValueError(
                    f"batch {e['batch_id']!r} predates the change feed; "
                    "state_as_of needs changes_dir set for the whole "
                    "history (or a covering checkpoint_feed snapshot)"
                )
            d = os.path.join(self.changes_dir, f"batch={e['batch_id']}")
            if not os.path.isdir(d):
                raise ValueError(
                    f"change-feed dir for batch {e['batch_id']!r} was "
                    "pruned (changes_retention_batches); snapshot "
                    "unavailable (create a checkpoint_feed before "
                    "pruning to keep later batches reconstructible)"
                )
            dirs.append(d)
        op_col = self.state.op_col
        parts: list[DataFrame] = []
        if cp_dir is not None:
            parts.append(
                read_feed(self.spark, [cp_dir]).withColumn(op_col, F.lit(OP_UPSERT))
            )
        if dirs:
            feed = read_feed(self.spark, dirs, self.changes_dir).drop(
                "batch", f"prev_{self.state.lsn_col}"
            )
            parts.append(
                # preimage rows (feed_preimages=True) restate REPLACED
                # rows at their old lsn — LWW-transparent, but drop them
                # so the fold input stays O(net changes)
                feed.filter(~F.col("change_type").endswith("_preimage"))
                .withColumn(
                    op_col,
                    F.when(
                        F.col("change_type") == "delete", OP_DELETE
                    ).otherwise(OP_UPSERT),
                )
                .drop("change_type")
            )
        merged = parts[0]
        if len(parts) == 2:
            # allowMissingColumns: columns added after the checkpoint
            # (or between feed vintages) NULL-fill, the state table's
            # own evolution contract
            merged = parts[0].unionByName(parts[1], allowMissingColumns=True)
        folded = last_writer_wins_agg(
            merged, self.state.keys, self.state.lsn_col, op_col
        )
        out = folded.filter(F.col(op_col) != OP_DELETE).drop(op_col)
        # match final_state()'s schema contract: the per-row content
        # digest is a pure function of content, so recompute it instead
        # of shipping it through the feed
        return out.withColumn(
            "content_sha256",
            F.sha2(F.col(self.state.content_col).cast("string"), 256),
        )

    def verify_against(self, expected: DataFrame, content_col: str = "content") -> dict:
        """Per-row sha256(content) differential vs an independently
        computed oracle state (BASELINE.json input_hint invariant)."""
        actual = self.final_state().select(
            *self.state.keys,
            F.col("content_sha256").alias("sha"),
            F.lit(1).alias("in_a"),
        )
        exp = expected.select(
            *self.state.keys,
            F.sha2(F.col(content_col).cast("string"), 256).alias("sha"),
            F.lit(1).alias("in_e"),
        )
        mismatched = (
            actual.alias("a")
            .join(exp.alias("e"), self.state.keys, "full_outer")
            .filter(
                F.col("a.in_a").isNull()
                | F.col("e.in_e").isNull()
                | ~F.col("a.sha").eqNullSafe(F.col("e.sha"))
            )
            .count()
        )
        return {
            "rows_actual": actual.count(),
            "rows_expected": exp.count(),
            "sha_mismatches": int(mismatched),
            "ok": mismatched == 0,
        }
