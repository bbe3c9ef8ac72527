"""Incremental view maintenance (IVM) over the CDC-out change feed.

Reference analog: the reference rebuilds every derived/reporting table
from scratch on each monthly load (``docs/logs.md:26-40`` — the whole
~197M-row corpus re-aggregated even when a fraction changed). At 10^10
rows an O(state) GROUP BY per refresh is the read-side twin of the
write-amplification flaw merge-on-read removed: the refresh cost must
be O(churn), not O(corpus).

:class:`IncrementalAggregate` maintains a materialized GROUP BY from
the change feed ALONE — it never reads the state table. It requires
the feed to be published with ``feed_preimages=True`` (the Delta
CDF ``update_preimage`` analog): every update/delete row is
accompanied by the row it replaced, so retired contributions are
*subtracted* instead of recomputed:

    insert            → + new row's contribution
    update            → + new row's contribution
    update_preimage   → − old row's contribution
    delete_preimage   → − old row's contribution
    delete            → 0 (its data columns are the incoming delete
                          event's, not the retired row's)

Only distributive aggregates maintain this way: a live-row count ``n``
plus user sums (avg = sum/n at read time). Measures are cast to
``long`` before signing, so cancellation is exact integer arithmetic —
no float drift under unbounded churn (use scaled integers for
fixed-point measures).

Scale contract: one refresh reads O(unapplied churn) feed rows ONCE
(the preimage-pairing guard rides the same job as observed metrics),
folds them into an aggregate keyed by the group columns (O(groups)
rows, map-side partial agg → one shuffle on the group key), and swaps
the stored table atomically. Exactly-once mirrors the engine's
manifest: the applied-batch record travels INSIDE the swapped
directory, so a crash between write and swap re-applies idempotently
and a redelivered batch is a no-op. The record is bounded the same way
the manifest's is (``plans/checkpoint.py`` id folding): LSN-window and
stream-epoch ids — committed in increasing order by a single writer —
fold losslessly into two watermark summaries; only ids of neither
shape stay exact.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.checkpoint import Manifest
from . import publish

#: change_type values that contribute to the aggregate, with sign.
_SIGNS = {
    "insert": 1,
    "update": 1,
    "update_preimage": -1,
    "delete_preimage": -1,
}

#: batch-id shapes that fold into watermarks — the LSN-window shape is
#: THE manifest's (one definition: if the engine's id format changes,
#: both fold rules move together); the epoch shape is the streaming
#: pipeline's. Same single-writer in-order commit argument makes the
#: fold lossless — but only advance()/seed() fold (they see the full
#: committed set, so nothing can be leapfrogged); a direct refresh()
#: keeps ids exact.
_LSN_ID = Manifest._LSN_ID
_EPOCH_ID = re.compile(r"^stream_epoch_(\d+)$")


class IncrementalAggregate:
    """A materialized GROUP BY maintained in O(churn) from a change
    feed published with ``feed_preimages=True``.

    ``sums`` maps output column name → SQL expression over a feed row
    (e.g. ``{"content_chars": "length(content)"}``); the live-row count
    column ``n`` is always maintained.
    """

    META = "_ivm_meta.json"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: list[str],
        sums: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.sums = dict(sums or {})
        clash = ({"n", *self.sums} & set(self.group_cols)) | (
            {"n"} & set(self.sums)
        )
        if clash:
            raise ValueError(f"measure/group name collision: {sorted(clash)}")
        os.makedirs(self.path, exist_ok=True)
        publish.recover(self.agg_dir)
        stored = self._meta()
        if stored is not None and stored.get("spec") != self._spec:
            raise ValueError(
                f"aggregate at {self.path} was built with spec "
                f"{stored.get('spec')}, not {self._spec}; use a new path "
                "to change the view definition"
            )

    # -- storage --------------------------------------------------------

    @property
    def agg_dir(self) -> str:
        return os.path.join(self.path, "agg")

    @property
    def _spec(self) -> dict:
        return {"group_cols": self.group_cols, "sums": self.sums}

    def _meta(self) -> dict | None:
        return publish.read_json(os.path.join(self.agg_dir, self.META))

    def exists(self) -> bool:
        return self._meta() is not None

    @staticmethod
    def _is_applied_in(meta: dict | None, batch_id: str) -> bool:
        """Membership against a meta SNAPSHOT — callers checking many
        ids read the meta once, not once per id."""
        if not meta:
            return False
        if batch_id in meta.get("applied", []):
            return True
        mt = _LSN_ID.match(batch_id)
        if mt and int(mt.group(2)) <= meta.get("applied_lsn_hw", -(2**62)):
            return True
        mt = _EPOCH_ID.match(batch_id)
        return bool(mt) and int(mt.group(1)) <= meta.get(
            "applied_epoch_hw", -1
        )

    def is_applied(self, batch_id: str) -> bool:
        return self._is_applied_in(self._meta(), batch_id)

    @staticmethod
    def _merge_applied(
        meta: dict | None, new_ids: list[str], fold: list[str] | None
    ) -> dict:
        """Bounded applied-record. ``fold`` is the set of batch ids
        VERIFIED against the engine's full committed manifest (advance/
        seed pass every committed id — after their refresh, all of them
        are applied, so raising a watermark to the max folded hi cannot
        mark an unapplied committed batch applied; the in-order
        single-writer commit rule covers batches that commit later).
        ``fold=None`` (a direct refresh of arbitrary batches) folds
        nothing — the caller verified nothing, and an unverified
        LSN/epoch-shaped id (a crash-window dir refreshed before its
        manifest commit, or an out-of-band id) folded into a watermark
        would leapfrog real committed batches below it. Ids of neither
        watermark shape always stay exact; any id the final watermarks
        imply drops from the tail (an applied id at or below a
        watermark is redundant with it)."""
        meta = meta or {}
        lsn_hw = meta.get("applied_lsn_hw", -(2**62))
        epoch_hw = meta.get("applied_epoch_hw", -1)
        applied = set(meta.get("applied", [])) | set(new_ids)
        for bid in fold or []:
            # fold only VERIFIED ids that are actually applied: a
            # committed id neither recorded nor below the watermarks
            # is not applied yet, and must not become "applied" by a
            # sibling's fold raising the watermark past it — advance
            # refreshes all of them in one call, so this only guards
            # misuse of the private helper
            if bid not in applied:
                continue
            m = _LSN_ID.match(bid)
            if m:
                lsn_hw = max(lsn_hw, int(m.group(2)))
                continue
            m = _EPOCH_ID.match(bid)
            if m:
                epoch_hw = max(epoch_hw, int(m.group(1)))
        keep = []
        for bid in set(meta.get("applied", [])) | set(new_ids):
            m = _LSN_ID.match(bid)
            if m:
                if int(m.group(2)) > lsn_hw:
                    keep.append(bid)
                continue
            m = _EPOCH_ID.match(bid)
            if m:
                if int(m.group(1)) > epoch_hw:
                    keep.append(bid)
                continue
            keep.append(bid)
        return {
            "applied": sorted(keep),
            "applied_lsn_hw": lsn_hw,
            "applied_epoch_hw": epoch_hw,
        }

    def read(self) -> DataFrame:
        """The maintained aggregate: ``group_cols + n + <sums>``."""
        if not self.exists():
            raise ValueError(
                f"aggregate at {self.path} has never been refreshed"
            )
        return self.spark.read.parquet(self.agg_dir)

    # -- maintenance ----------------------------------------------------

    def _contributions(self, feed: DataFrame) -> DataFrame:
        sign = F.lit(None).cast("int")
        for ct, s in _SIGNS.items():
            sign = F.when(F.col("change_type") == ct, F.lit(s)).otherwise(
                sign
            )
        c = feed.withColumn("__sign", sign).filter(F.col("__sign").isNotNull())
        aggs = [F.sum("__sign").cast("long").alias("n")]
        for name, expr in self.sums.items():
            aggs.append(
                # NULL measures count as 0 — SQL SUM would yield NULL
                # for an all-NULL group on a recompute while signed
                # cancellation yields 0; coalescing pins ONE semantic
                # for both (and for evolution-NULL-filled old rows)
                F.sum(
                    F.coalesce(F.expr(expr).cast("long"), F.lit(0))
                    * F.col("__sign")
                ).alias(name)
            )
        return c.groupBy(*self.group_cols).agg(*aggs)

    @staticmethod
    def _check_preimage_counts(counts: dict) -> None:
        """Fail loud if the feed lacks preimage rows — refreshing from a
        preimage-less feed would silently double-count every update.
        Invariant of ``StateTable._emit_changes(feed_preimages=True)``:
        each update/delete row has exactly one preimage twin, so the
        per-kind totals must match over any whole set of batches."""
        for kind in ("update", "delete"):
            if counts.get(kind, 0) != counts.get(f"{kind}_preimage", 0):
                raise ValueError(
                    f"feed is missing {kind}_preimage rows "
                    f"({counts.get(kind, 0)} {kind} vs "
                    f"{counts.get(f'{kind}_preimage', 0)} preimages) — "
                    "publish the feed with feed_preimages=True to "
                    "maintain aggregates incrementally"
                )

    def refresh(
        self,
        feed: DataFrame,
        batch_ids: list[str],
        guard: bool = True,
        fold_ids: list[str] | None = None,
    ) -> dict:
        """Fold the given feed rows (exactly the batches named in
        ``batch_ids``) into the stored aggregate. Idempotent: batch ids
        already applied make the whole call a no-op (all-or-nothing —
        callers pass whole unapplied batches, as :meth:`advance` does).

        The preimage-pairing guard rides the SAME job as the fold
        (observed metrics on the feed scan — zero extra passes); a
        violation discards the staged result before the swap, so a
        guarded refresh never commits from a preimage-less feed.

        Direct calls keep their batch ids exact (``fold_ids=None`` —
        folding an unverified id would mark earlier unapplied batches
        applied), so a caller that ONLY ever refreshes directly grows
        the applied record by one id per call; the next :meth:`advance`
        that applies new batches re-bounds it by folding every
        manifest-verified id into the watermarks. ``fold_ids`` is
        advance/seed's verified committed set (see
        :meth:`_merge_applied`).
        """
        publish.recover(self.agg_dir)
        meta = self._meta()
        todo = [b for b in batch_ids if not self._is_applied_in(meta, b)]
        if not todo:
            return {"applied": 0, "reused": True}
        if len(todo) != len(batch_ids):
            raise ValueError(
                "refresh() is all-or-nothing per call: "
                f"{sorted(set(batch_ids) - set(todo))} already applied — "
                "pass only unapplied batches (advance() does this)"
            )
        obs = None
        if guard:
            from pyspark.sql import Observation

            obs = Observation()
            kinds = ("update", "update_preimage", "delete", "delete_preimage")
            feed = feed.observe(
                obs,
                *[
                    F.count(
                        F.when(F.col("change_type") == k, 1)
                    ).alias(k)
                    for k in kinds
                ],
            )
        delta = self._contributions(feed)
        if self.exists():
            merged = (
                self.read()
                .unionByName(delta)
                .groupBy(*self.group_cols)
                .agg(
                    F.sum("n").alias("n"),
                    *[F.sum(s).alias(s) for s in self.sums],
                )
            )
        else:
            merged = delta
        # groups whose last live row retired cancel to all-zero — drop
        # them. Zero COUNT alone is not enough: out-of-order application
        # (a direct refresh of a newer batch before older ones) leaves
        # transients with n=0 but nonzero sum deltas (pure update churn)
        # or n<0 (net retirements) that MUST survive until the earlier
        # batches fold in; once history is whole they cancel exactly.
        nonzero = F.col("n") != 0
        for s in self.sums:
            nonzero = nonzero | (F.col(s) != 0)
        merged = merged.filter(nonzero)

        def write(staging: str) -> dict:
            merged.write.mode("overwrite").parquet(staging)
            if obs is not None:
                try:
                    counts = dict(obs.get)
                except Exception:  # noqa: BLE001 — AQE may prune the node
                    counts = {
                        r["change_type"]: r["cnt"]
                        for r in feed.groupBy("change_type")
                        .agg(F.count(F.lit(1)).alias("cnt"))
                        .collect()
                    }
                self._check_preimage_counts(counts)
            return {
                **self._merge_applied(meta, todo, fold_ids),
                "spec": self._spec,
            }

        publish.replace_dir(self.agg_dir, write, self.META)
        return {"applied": len(todo), "batch_ids": todo}

    def seed(self, engine) -> dict:
        """Bootstrap (or rebuild) from a full recompute over the CURRENT
        state — the one O(state) pass, for tables whose feed does not
        cover their whole history (feed enabled mid-life, or retention
        pruned batches this aggregate never applied). Marks every
        manifest-committed feed batch as applied, so the next
        :meth:`advance` continues incrementally from here."""
        if not engine.changes_dir:
            raise ValueError("engine has no changes_dir (no feed to tail)")
        full = self._contributions(
            engine.final_state().withColumn("change_type", F.lit("insert"))
        )
        # mark ONLY manifest-committed feed batches: their changes are
        # in the state we just aggregated. A published-but-unmerged dir
        # (feed-publish-then-crash window) is NOT in the state yet — it
        # stays unapplied so the next advance folds it after the engine
        # re-drives the batch.
        seen = sorted(
            e["batch_id"]
            for e in engine._merge_entries()
            if "change_rows" in e
        )

        def write(staging: str) -> dict:
            full.filter(F.col("n") > 0).write.mode("overwrite").parquet(
                staging
            )
            return {
                **self._merge_applied(None, seen, fold=seen),
                "spec": self._spec,
            }

        publish.replace_dir(self.agg_dir, write, self.META)
        return {"seeded": True, "batches_marked": len(seen)}

    def advance(self, engine) -> dict:
        """Catch up with every manifest-COMMITTED, unapplied feed batch
        of ``engine`` in ONE job. Order-free: signed sums commute, so
        the union of unapplied batch dirs folds in a single pass — no
        per-batch loop, no replay ordering dependency.

        Only committed batches fold: a published-but-unmerged dir (the
        feed-publish-then-crash window) is not in the state yet, so it
        waits until the engine re-drives and commits its batch.

        Fails loud on a coverage gap: a batch the manifest committed
        with a feed (``change_rows``) whose dir is gone (feed
        retention pruned it) and that was never applied here can NOT
        be reconstructed — refresh would silently diverge. Recover
        with :meth:`seed` (one O(state) rebuild), then keep retention
        behind the aggregate (advance before ``maintain`` prunes)."""
        if not engine.changes_dir:
            raise ValueError("engine has no changes_dir (no feed to tail)")
        # heal a mid-swap crash BEFORE reading the meta: a missing agg
        # dir with an intact .old would otherwise read as "nothing
        # applied" and turn long-applied-but-retention-pruned batches
        # into a spurious 'pruned' error (or refresh's all-or-nothing
        # guard) on a same-instance retry
        publish.recover(self.agg_dir)
        dirs = publish.published(engine.changes_dir, "batch")
        committed = [
            e["batch_id"]
            for e in engine._merge_entries()
            if "change_rows" in e
        ]
        meta = self._meta()
        pending = [b for b in committed if not self._is_applied_in(meta, b)]
        gone = [b for b in pending if b not in dirs]
        if gone:
            raise ValueError(
                f"feed dirs for {len(gone)} committed batches (first: "
                f"{gone[0]!r}) were pruned before this aggregate applied "
                "them — the refresh would silently diverge; rebuild with "
                "seed() and advance aggregates before feed retention runs"
            )
        todo = sorted(pending)
        if not todo:
            return {"applied": 0}
        feed = (
            self.spark.read.option("basePath", engine.changes_dir)
            # add-column evolution mid-history: older dirs NULL-fill
            .option("mergeSchema", "true")
            .parquet(*[dirs[b] for b in todo])
        )
        # fold set = EVERY committed id (not just todo): after this
        # refresh all of them are applied, and folding the already-
        # applied exact ones (e.g. a batch a direct refresh applied
        # out of order earlier) is what re-bounds the record
        return self.refresh(feed, todo, fold_ids=committed)

    def verify_against_state(self, engine, content_ok: bool = True) -> dict:
        """Differential vs a from-scratch aggregate of the CURRENT
        state — the O(state) recompute this operator exists to avoid,
        kept as an audit (aggregate tables are O(groups), so the
        compare collects both sides sorted)."""
        full = self._contributions(
            engine.final_state().withColumn("change_type", F.lit("insert"))
        )
        cols = [*self.group_cols, "n", *self.sums]
        a = [tuple(r) for r in self.read().select(*cols).sort(*cols).collect()]
        b = [tuple(r) for r in full.select(*cols).sort(*cols).collect()]
        return {"ok": a == b, "groups": len(b)}
