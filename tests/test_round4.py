"""Round-4 items (VERDICT r3 "Next round" list):

* bounded manifest tail — incremental (append) fold, O(1) driver memory
  aggregates, full history streamed off disk on demand;
* merge-on-read delta segments for the bucketed state table;
* generic rebucket for every bucketed store (index sig/post included);
* index-ingest hygiene (materialized pairs, _batch_sigs cleanup,
  pairs-dir retention);
* posting-store skew report + bounded-fanout cap.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from rfb_cnpj_etl_spark.plans.checkpoint import Manifest


def _shm_dir(prefix: str) -> str:
    """tmpfs-backed work dir when available (the 10^5-commit test times
    pure manifest I/O; the sandbox's single shared disk would time the
    disk instead — same rationale as bench.py)."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


class TestBoundedManifest:
    def test_tail_bounded_and_fold_incremental(self):
        """10^5 commits: in-memory entries capped at tail_entries, fold
        cost flat across the manifest's life (the r3 scheme rewrote the
        whole snapshot every 256 commits — O(n²/256) total, so the last
        chunk of commits cost ~an order of magnitude more than the
        first)."""
        work = _shm_dir("manifest_tail_")
        try:
            n, tail = 100_000, 512
            m = Manifest(
                os.path.join(work, "m.jsonl"),
                compact_segments=64,
                tail_entries=tail,
            )
            chunk = n // 10
            chunk_times = []
            for c in range(10):
                t0 = time.time()
                for i in range(c * chunk, (c + 1) * chunk):
                    m.commit({"batch_id": f"b{i}", "lsn_lo": i, "lsn_hi": i})
                chunk_times.append(time.time() - t0)
            assert m.count() == n
            assert len(m._tail) == tail  # bounded RSS
            assert m.high_watermark() == n - 1
            # Fold cost must not grow with manifest size: the last chunk
            # may not dwarf the first (quadratic fold ⇒ ~10× here; the
            # generous 6× margin absorbs host-weather noise).
            assert chunk_times[-1] < 6 * max(chunk_times[0], 0.05), chunk_times

            # a fresh reader reconstructs aggregates without holding
            # everything, and full history is still streamable
            m2 = Manifest(
                os.path.join(work, "m.jsonl"),
                compact_segments=64,
                tail_entries=tail,
            )
            assert m2.count() == n
            assert len(m2._tail) == tail
            assert m2.is_applied("b0") and m2.is_applied(f"b{n-1}")
            full = m2.entries()
            assert len(full) == n
            assert [e["seq"] for e in full[:5]] == [0, 1, 2, 3, 4]
            assert full[-1]["batch_id"] == f"b{n-1}"
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def test_aggregates_tracked_beyond_tail(self, tmp_path):
        """schema_version / current_buckets come from incremental
        aggregates, not an entries() scan — correct even when the
        recording entry has been evicted from the in-memory tail."""
        path = str(tmp_path / "m.jsonl")
        m = Manifest(path, compact_segments=8, tail_entries=4)
        m.commit(
            {"batch_id": "a", "lsn_lo": 0, "lsn_hi": 0, "schema_version": 3,
             "buckets": 64}
        )
        for i in range(10):  # evict "a" from the tail
            m.commit({"batch_id": f"f{i}", "lsn_lo": i, "lsn_hi": i})
        assert m.schema_version() == 3
        assert m.current_buckets() == 64
        m2 = Manifest(path, tail_entries=4)
        assert m2.schema_version() == 3
        assert m2.current_buckets() == 64
        assert m2.count() == 11

    def test_torn_append_tail_recovered_from_segment(self, tmp_path):
        """Crash mid-append during a fold: the snapshot ends in a torn
        line but the folded segment was only deleted AFTER the fsync —
        the loader skips the torn tail and recovers the entry from its
        still-present segment."""
        path = str(tmp_path / "m.jsonl")
        m = Manifest(path, compact_segments=10_000)
        e = m.commit({"batch_id": "ok", "lsn_lo": 7, "lsn_hi": 7})
        with open(path, "a", encoding="utf-8") as f:
            f.write(json.dumps(e)[: len(json.dumps(e)) // 2])  # torn append
        m2 = Manifest(path)
        assert [x["batch_id"] for x in m2.entries()] == ["ok"]
        assert m2.high_watermark() == 7

    def test_torn_middle_line_is_corruption(self, tmp_path):
        path = str(tmp_path / "m.jsonl")
        with open(path, "w", encoding="utf-8") as f:
            f.write('{"batch_id": "torn"\n')
            f.write(json.dumps({"batch_id": "later", "lsn_hi": 1}) + "\n")
        with pytest.raises(json.JSONDecodeError):
            Manifest(path)


# ---------------------------------------------------------------------------
# Merge-on-read delta segments (VERDICT r3 item 1)
# ---------------------------------------------------------------------------

from rfb_cnpj_etl_spark.operators.merge import StateTable  # noqa: E402

LOG_SCHEMA = (
    "repo string, path string, commit string, lang string, content string,"
    " lsn long, op string"
)


def log_df(spark, rows):
    return spark.createDataFrame(rows, LOG_SCHEMA)


def row(repo, path, content, lsn, op="upsert"):
    return (repo, path, f"c{lsn}", "python", content, lsn, op)


def state_dict(st):
    return {
        (r["repo"], r["path"]): (r["content"], r["lsn"])
        for r in st.read().collect()
    }


def seed_rows(n):
    """n keys spread across every bucket (uniform churn shape)."""
    return [row("r", f"p{i}", f"v{i}", i) for i in range(n)]


class TestMergeOnRead:
    def test_mor_batch_appends_delta_and_folds(self, spark, tmp_table_dir):
        st = StateTable(spark, tmp_table_dir, buckets=4)
        st.merge(log_df(spark, seed_rows(50)))  # COW seed
        m = st.merge(
            log_df(
                spark,
                [row("r", "p0", "UPDATED", 100),
                 row("r", "p1", None, 101, "delete"),
                 row("r", "brand", "NEW", 102)],
            ),
            mode="mor",
        )
        assert m["mode"] == "mor" and m["rows"] == 3
        assert os.path.isdir(f"{tmp_table_dir}.delta")
        d = state_dict(st)
        assert d[("r", "p0")] == ("UPDATED", 100)
        assert ("r", "p1") not in d
        assert d[("r", "brand")] == ("NEW", 102)
        assert len(d) == 50  # 50 - 1 delete + 1 insert
        # a FRESH instance folds identically (meta + delta reload)
        st2 = StateTable(spark, tmp_table_dir, buckets=4)
        assert state_dict(st2) == d
        # content_sha256 is materialized in the delta (read path stays cheap)
        import hashlib

        shas = {
            (r["repo"], r["path"]): r["content_sha256"]
            for r in st2.read().collect()
        }
        assert shas[("r", "p0")] == hashlib.sha256(b"UPDATED").hexdigest()

    def test_mor_reapply_idempotent(self, spark, tmp_table_dir):
        """Crash-replay shape: the same batch appended twice (duplicate
        delta files) folds to the same state — LWW collapses the
        deterministic duplicates."""
        st = StateTable(spark, tmp_table_dir, buckets=4)
        st.merge(log_df(spark, seed_rows(20)))
        batch = log_df(
            spark,
            [row("r", "p3", "X", 50), row("r", "p4", None, 51, "delete")],
        )
        st.merge(batch, mode="mor")
        before = state_dict(st)
        st.merge(batch, mode="mor")  # re-delivery / crash replay
        assert state_dict(st) == before
        assert st.audit_key_uniqueness() == 0

    def test_auto_mode_cow_for_bulk_mor_for_churn(self, spark, tmp_table_dir):
        st = StateTable(spark, tmp_table_dir, buckets=4)
        m0 = st.merge(log_df(spark, seed_rows(1000)), batch_rows=1000)
        assert m0["mode"] == "cow"  # fresh table
        # comparable-size batch → still COW (rewrite amortizes)
        m1 = st.merge(
            log_df(spark, [row("r", f"p{i}", "u", 2000 + i) for i in range(800)]),
            batch_rows=800,
        )
        assert m1["mode"] == "cow"
        # 1% churn → MOR
        m2 = st.merge(
            log_df(spark, [row("r", f"p{i}", "w", 4000 + i) for i in range(10)]),
            batch_rows=10,
        )
        assert m2["mode"] == "mor"
        # no batch_rows hint → conservative COW
        m3 = st.merge(log_df(spark, [row("r", "p1", "z", 9000)]))
        assert m3["mode"] == "cow"

    def test_small_churn_write_io_is_o_batch(self, spark, tmp_table_dir):
        """The round-3 verdict's Done criterion: bytes written for a
        small-churn batch ≪ corpus, even when the batch touches EVERY
        bucket (uniform churn — the COW worst case that rewrote 100% of
        the corpus to apply 1% of it)."""
        st = StateTable(spark, tmp_table_dir, buckets=8)
        st.merge(log_df(spark, seed_rows(8000)), batch_rows=8000)
        base_bytes = st.health()["bytes"]
        # 1% churn spread over all buckets
        batch = [row("r", f"p{i*100}", "CHURN", 10_000 + i) for i in range(80)]
        m = st.merge(log_df(spark, batch), batch_rows=80)
        assert m["mode"] == "mor"
        assert len(m["touched_buckets"]) == 8  # touches every bucket
        assert m["bytes_written"] < 0.25 * base_bytes, (
            m["bytes_written"],
            base_bytes,
        )
        # and the fold is still exact
        d = state_dict(st)
        assert d[("r", "p0")] == ("CHURN", 10_000)
        assert len(d) == 8000

    def test_cow_batch_folds_touched_deltas(self, spark, tmp_table_dir):
        st = StateTable(spark, tmp_table_dir, buckets=2)
        st.merge(log_df(spark, seed_rows(100)))
        st.merge(log_df(spark, [row("r", "p5", "D1", 200)]), mode="mor")
        assert st.delta_bucket_ids()
        # bulk batch touching everything → COW → deltas folded + cleared
        m = st.merge(
            log_df(spark, [row("r", f"p{i}", "B", 300 + i) for i in range(100)])
        )
        assert m["mode"] == "cow"
        assert st.delta_bucket_ids() == []
        assert not os.path.isdir(f"{tmp_table_dir}.delta")
        d = state_dict(st)
        assert d[("r", "p5")] == ("B", 305)
        assert len(d) == 100

    def test_compact_folds_deltas(self, spark, tmp_table_dir):
        st = StateTable(spark, tmp_table_dir, buckets=2)
        st.merge(log_df(spark, seed_rows(40)))
        st.merge(
            log_df(
                spark,
                [row("r", "p1", "U", 90), row("r", "p2", None, 91, "delete")],
            ),
            mode="mor",
        )
        before = state_dict(st)
        res = st.compact()
        assert res["compacted_buckets"] == 2
        assert not os.path.isdir(f"{tmp_table_dir}.delta")
        assert state_dict(st) == before
        # row estimates refreshed to exact post-fold counts
        assert sum(st._row_est.values()) == len(before)
        # health sees a single file per bucket, no deltas
        h = st.health()
        assert h["max_files_per_bucket"] == 1 and h["delta_files"] == 0

    def test_delta_file_cap_forces_folding_cow(self, spark, tmp_table_dir):
        st = StateTable(spark, tmp_table_dir, buckets=1)
        st.DELTA_FILES_CAP = 3
        st.merge(log_df(spark, seed_rows(1000)), batch_rows=1000)
        for k in range(3):
            m = st.merge(
                log_df(spark, [row("r", "p1", f"u{k}", 2000 + k)]), batch_rows=1
            )
            assert m["mode"] == "mor"
        assert len(st.delta_file_counts()) == 1
        m = st.merge(log_df(spark, [row("r", "p1", "u3", 2010)]), batch_rows=1)
        assert m["mode"] == "cow"  # cap reached → fold
        assert st.delta_bucket_ids() == []
        assert state_dict(st)[("r", "p1")] == ("u3", 2010)

    def test_rebucket_folds_and_clears_deltas(self, spark, tmp_table_dir):
        st = StateTable(spark, tmp_table_dir, buckets=2)
        st.merge(log_df(spark, seed_rows(60)))
        st.merge(log_df(spark, [row("r", "p7", "R", 100)]), mode="mor")
        before = state_dict(st)
        res = st.rebucket(4)
        assert res["rows"] == 60
        assert not os.path.isdir(f"{tmp_table_dir}.delta")
        assert state_dict(st) == before
        assert sum(st._row_est.values()) == 60
        st2 = StateTable(spark, tmp_table_dir, buckets=4)
        assert state_dict(st2) == before

    def test_mor_insert_into_brand_new_bucket(self, spark, tmp_table_dir):
        """A MOR batch may create a bucket that has no base dir yet —
        pruned reads of that bucket must fold base=∅ with the delta."""
        st = StateTable(spark, tmp_table_dir, buckets=32)
        st.merge(log_df(spark, [row("r", "a", "v", 1)]))  # 1 base bucket
        m = st.merge(
            log_df(spark, [row("r", f"n{i}", "NEW", 10 + i) for i in range(20)]),
            mode="mor",
        )
        assert m["mode"] == "mor"
        assert st.read().count() == 21
        # pruned read of one of the fresh buckets
        fresh = [b for b in st.delta_bucket_ids()][:1]
        assert st.read_buckets(fresh).count() >= 1

    def test_schema_evolution_across_mor_delta(self, spark, tmp_table_dir):
        st = StateTable(spark, tmp_table_dir, buckets=2)
        st.merge(log_df(spark, seed_rows(10)))
        evolved = spark.createDataFrame(
            [("r", "p0", "c1", "python", "EV", 99, "upsert", "main")],
            LOG_SCHEMA + ", branch string",
        )
        m = st.merge(evolved, mode="mor")
        assert m["mode"] == "mor"
        out = {
            (r["repo"], r["path"]): (r["content"], r["branch"])
            for r in st.read().collect()
        }
        assert out[("r", "p0")] == ("EV", "main")
        assert out[("r", "p1")] == ("v1", None)  # old base rows read NULL


# ---------------------------------------------------------------------------
# Index-store rebucket (VERDICT r3 item 2) + CLI param recovery (ADVICE)
# ---------------------------------------------------------------------------

from rfb_cnpj_etl_spark.operators.dedup import MinhashIndex  # noqa: E402

BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "green turtles watch from the river bank in the warm afternoon sun"
)
OTHER_TEXT = (
    "completely unrelated spark catalyst optimizer notes about shuffle "
    "partitions broadcast joins and adaptive query execution internals"
)


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


class TestIndexRebucket:
    def _pairs_set(self, df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    def test_store_rebucket_preserves_pairs(self, spark, tmp_path):
        """VERDICT item 2's Done criterion: an index store migrated to a
        new B yields the SAME pairs (bucket count is layout, never
        semantics)."""
        path = str(tmp_path / "idx")
        idx = MinhashIndex(spark, path, k=2, num_hashes=16, bands=4, buckets=4)
        idx.update(
            docs_df(spark, [("a", BASE_TEXT), ("b", OTHER_TEXT)]), "text", "doc_id"
        )
        batch2 = docs_df(spark, [("c", BASE_TEXT + " tonight")])
        idx.update(batch2, "text", "doc_id")
        before = self._pairs_set(
            idx.incremental_pairs(batch2, "text", "doc_id", threshold=0.4)
        )
        assert before  # the near-dup is detectable pre-migration
        r1 = idx.post_store.rebucket(8)
        r2 = idx.sig_store.rebucket(16)
        assert r1["buckets"] == 8 and r2["buckets"] == 16
        # a fresh handle resolves each store's B from its layout marker
        idx2 = MinhashIndex.open(spark, path)
        assert idx2.post_store.buckets == 8
        assert idx2.sig_store.buckets == 16
        after = self._pairs_set(
            idx2.incremental_pairs(batch2, "text", "doc_id", threshold=0.4)
        )
        assert after == before

    def test_maintenance_rebuckets_index_stores(self, spark, tmp_path):
        """The r3 gap: the policy could only RECOMMEND an index-store
        rebucket. Now auto_rebucket migrates the breaching store and the
        pairs output is unchanged across the migration."""
        from rfb_cnpj_etl_spark.engine import CdcEngine, MaintenancePolicy

        eng = CdcEngine(
            spark, str(tmp_path / "state"), str(tmp_path / "m.jsonl")
        )
        idx = MinhashIndex(
            spark, str(tmp_path / "mh"), k=2, num_hashes=16, bands=4, buckets=4
        )
        log = spark.createDataFrame(
            [
                ("r1", "a", "c1", "py", BASE_TEXT, 1, "upsert"),
                ("r1", "b", "c2", "py", OTHER_TEXT, 2, "upsert"),
                ("r2", "c", "c3", "py", BASE_TEXT + " tonight", 3, "upsert"),
            ],
            "repo string, path string, commit string, lang string,"
            " content string, lsn long, op string",
        )
        eng.replay(log, batch_size=10, minhash_index=idx, index_threshold=0.4)
        probe = docs_df(spark, [("c", BASE_TEXT + " tonight")])
        # index stores a doc under id repo\x1fpath — probe via the raw API
        pre = idx.sig_store.buckets, idx.post_store.buckets
        policy = MaintenancePolicy(
            max_files_per_bucket=10_000,
            rebucket_above_bucket_bytes=1,  # everything breaches
            auto_rebucket=True,
        )
        report = eng.maintain(policy, minhash_index=idx)
        rebucketed = {
            a["store"] for a in report["actions"] if a["action"] == "rebucket"
        }
        assert {"index_sig", "index_post"} <= rebucketed
        assert idx.sig_store.buckets == pre[0] * 2
        assert idx.post_store.buckets == pre[1] * 2
        assert not report["recommendations"]
        # pairs unchanged across the migration
        sigs = {r["id"] for r in idx.signatures().collect()}
        assert len(sigs) == 3
        pairs = self._pairs_set(
            idx.incremental_pairs(probe, "text", "doc_id", threshold=0.4)
        )
        assert pairs  # the near-dup still resolves through the new layout

    def test_open_recovers_nondefault_params(self, spark, tmp_path):
        """ADVICE (cli): an index built with non-default parameters must
        be resumable without re-supplying them — open() reads the params
        marker; a mismatched direct construction still fails loudly."""
        path = str(tmp_path / "idx")
        idx = MinhashIndex(
            spark, path, k=2, num_hashes=8, bands=2,
            hash_family="md5", buckets=4,
        )
        idx.update(docs_df(spark, [("a", BASE_TEXT)]), "text", "doc_id")
        with pytest.raises(ValueError, match="was built with"):
            MinhashIndex(spark, path)  # defaults ≠ stored params
        idx2 = MinhashIndex.open(spark, path)
        assert (idx2.k, idx2.num_hashes, idx2.bands, idx2.hash_family) == (
            2, 8, 2, "md5",
        )
        assert idx2.sig_store.buckets == 4
        assert {r["id"] for r in idx2.signatures().collect()} == {"a"}


class TestEngineAutoMor:
    def test_replay_small_tail_goes_mor_and_verifies(self, spark, tmp_path):
        from rfb_cnpj_etl_spark.engine import CdcEngine
        from rfb_cnpj_etl_spark.gen import (
            expected_final_state,
            synthesize_changelog,
        )

        state, man = str(tmp_path / "state"), str(tmp_path / "m.jsonl")
        log = synthesize_changelog(spark, 6000, n_repos=5, n_paths=400).cache()
        eng = CdcEngine(spark, state, man)
        # bulk seed: one big window → COW
        e1 = eng.replay(log.filter(F.col("lsn") < 5900), batch_size=6000)
        assert e1 and e1[0]["mode"] == "cow"
        # small tail (≈100 events over ~5800 rows of state) → MOR
        e2 = eng.replay(log, batch_size=6000)
        assert e2 and e2[0]["mode"] == "mor", e2
        assert eng.verify_against(expected_final_state(log))["ok"]
        # resumed engine folds identically
        eng2 = CdcEngine(spark, state, man)
        assert eng2.verify_against(expected_final_state(log))["ok"]
        assert eng2.state.audit_key_uniqueness() == 0


class TestIngestHygiene:
    """ADVICE r3: pairs materialization, snapshot cleanup, empty-store
    guard, pairs-dir retention, query temp-dir cleanup."""

    def _pairs_set(self, df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    def test_pairs_survive_next_ingest(self, spark, tmp_path):
        """The returned pairs frame is a materialized snapshot — a later
        ingest (which swaps the live buckets) must not change or break
        it when the caller defers collection."""
        path = str(tmp_path / "idx")
        idx = MinhashIndex(spark, path, k=2, num_hashes=16, bands=4, buckets=4)
        idx.update(docs_df(spark, [("a", BASE_TEXT)]), "text", "doc_id")
        m1, pairs1 = idx.ingest(
            docs_df(spark, [("b", BASE_TEXT + " tonight")]),
            "text", "doc_id", threshold=0.4,
        )
        expected = {("a", "b")}
        # second ingest swaps buckets and overwrites last-pairs
        m2, pairs2 = idx.ingest(
            docs_df(spark, [("c", OTHER_TEXT)]), "text", "doc_id", threshold=0.4
        )
        assert self._pairs_set(pairs1) == expected  # deferred collect OK
        assert self._pairs_set(pairs2) == set()
        assert m1["pairs"] == 1 and m2["pairs"] == 0  # observed in-write

    def test_pairs_out_lands_at_destination(self, spark, tmp_path):
        path = str(tmp_path / "idx")
        dest = str(tmp_path / "out" / "pairs_b1")
        idx = MinhashIndex(spark, path, k=2, num_hashes=16, bands=4, buckets=4)
        idx.update(docs_df(spark, [("a", BASE_TEXT)]), "text", "doc_id")
        m, _ = idx.ingest(
            docs_df(spark, [("b", BASE_TEXT + " tonight")]),
            "text", "doc_id", threshold=0.4, pairs_out=dest,
        )
        assert m["pairs_path"] == dest
        assert self._pairs_set(spark.read.parquet(dest)) == {("a", "b")}

    def test_snapshot_cleaned_after_ingest(self, spark, tmp_path):
        path = str(tmp_path / "idx")
        idx = MinhashIndex(spark, path, k=2, num_hashes=16, bands=4, buckets=4)
        idx.update(docs_df(spark, [("a", BASE_TEXT)]), "text", "doc_id")
        idx.ingest(docs_df(spark, [("b", OTHER_TEXT)]), "text", "doc_id")
        leftovers = [
            d for d in os.listdir(path) if "sigs" in d or d.startswith("_batch")
        ]
        assert leftovers == []

    def test_first_batch_only_deletes_is_safe(self, spark, tmp_path):
        """ADVICE: an index whose FIRST batch is deletes-only used to
        crash the pair probe on the empty posting store."""
        path = str(tmp_path / "idx")
        idx = MinhashIndex(spark, path, k=2, num_hashes=16, bands=4, buckets=4)
        empty = docs_df(spark, []).select("doc_id", "text")
        dels = spark.createDataFrame([("ghost",)], "doc_id string")
        m, pairs = idx.ingest(empty, "text", "doc_id", deleted_ids=dels)
        assert m["pairs"] == 0
        assert pairs.count() == 0
        # index still works afterwards
        idx.update(docs_df(spark, [("a", BASE_TEXT)]), "text", "doc_id")
        got = idx.incremental_pairs(
            docs_df(spark, [("b", BASE_TEXT + " tonight")]), threshold=0.4
        )
        # b not ingested → probe-only path; a is the stored neighbour
        assert {r["id_b"] for r in got.collect()} <= {"a", "b"}

    def test_maintain_prunes_pair_dirs(self, spark, tmp_path):
        from rfb_cnpj_etl_spark.engine import CdcEngine, MaintenancePolicy

        eng = CdcEngine(spark, str(tmp_path / "state"), str(tmp_path / "m.jsonl"))
        idx = MinhashIndex(
            spark, str(tmp_path / "mh"), k=2, num_hashes=16, bands=4, buckets=4
        )
        rows = [row("r", f"p{i}", BASE_TEXT + f" v{i}", i) for i in range(6)]
        eng.replay(log_df(spark, rows), batch_size=1,
                   minhash_index=idx, index_threshold=0.9)
        pairs_root = os.path.join(idx.path, "pairs")
        assert len(os.listdir(pairs_root)) == 6
        policy = MaintenancePolicy(
            max_files_per_bucket=10_000, pairs_retention_batches=2
        )
        report = eng.maintain(policy, minhash_index=idx)
        assert len(os.listdir(pairs_root)) == 2
        pruned = [a for a in report["actions"] if a["action"] == "prune"]
        assert pruned and pruned[0]["removed_batch_dirs"] == 4

    def test_query_cleans_work_dir(self, spark):
        import glob

        from rfb_cnpj_etl_spark.plans import queries as Q

        before = set(glob.glob("/dev/shm/mh_inc_idx_*")) | set(
            glob.glob(os.path.join(tempfile.gettempdir(), "mh_inc_idx_*"))
        )
        out = Q.minhash_incremental(spark, "/root/testdata/sf0.001")
        assert out.count() >= 0
        after = set(glob.glob("/dev/shm/mh_inc_idx_*")) | set(
            glob.glob(os.path.join(tempfile.gettempdir(), "mh_inc_idx_*"))
        )
        assert after <= before  # no new leaked work dirs


class TestPostingSkew:
    """Posting-store skew report + bounded-fanout cap (the LSH analog
    of the n-gram path's max_df): a viral near-dup cluster of C docs
    makes O(C²) candidates through every shared band key."""

    def _cluster(self, n):
        # n docs identical except a numeric tail → MinHash signatures
        # collide on most lanes, so every band key is shared by ~all n
        return [(f"d{i}", BASE_TEXT) for i in range(n)] + [
            ("z", OTHER_TEXT),
            ("z2", OTHER_TEXT + " tonight"),
        ]

    def test_skew_report_surfaces_hot_keys(self, spark, tmp_path):
        idx = MinhashIndex(
            spark, str(tmp_path / "idx"), k=2, num_hashes=16, bands=4, buckets=4
        )
        idx.update(docs_df(spark, self._cluster(12)), "text", "doc_id")
        top = idx.posting_skew(top_n=5).collect()
        assert top and top[0]["n_ids"] == 12  # identical docs: full pile-up
        assert top[0]["n_ids"] >= top[-1]["n_ids"]  # sorted hottest-first

    def test_max_fanout_caps_pair_blowup(self, spark, tmp_path):
        idx = MinhashIndex(
            spark, str(tmp_path / "idx"), k=2, num_hashes=16, bands=4, buckets=4
        )
        idx.update(docs_df(spark, self._cluster(12)), "text", "doc_id")
        probe = docs_df(spark, [("d0", BASE_TEXT)])
        exact = idx.incremental_pairs(probe, threshold=0.4)
        capped = idx.incremental_pairs(probe, threshold=0.4, max_fanout=5)
        assert exact.count() == 11  # d0 × {d1..d11}
        assert capped.count() == 0  # every band key of the cluster breached
        # a cold pair (posting lists of size ~2) is unaffected by the cap
        probe2 = docs_df(spark, [("z2", OTHER_TEXT + " tonight")])
        cold = {
            (r["id_a"], r["id_b"])
            for r in idx.incremental_pairs(
                probe2, threshold=0.4, max_fanout=5
            ).collect()
        }
        assert ("z", "z2") in cold


class TestIndexMor:
    """Merge-on-read delta ingest for the MinHash index stores — the
    r3 verdict's residual caveat (index stores inherited the state
    table's COW write amplification at steady-state small churn)."""

    def _sig_set(self, idx):
        return {(r["id"], tuple(r["sig"])) for r in idx.signatures().collect()}

    def _pairs_set(self, df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    def _seed(self, spark, n):
        return docs_df(
            spark, [(f"s{i}", f"{BASE_TEXT} variant {i} {i*7}") for i in range(n)]
        )

    def test_mor_equals_cow(self, spark, tmp_path):
        """Forced-MOR ingest must produce the same index contents and
        the same pairs as forced-COW over an identical batch history."""
        batches = [
            ("seed", self._seed(spark, 20), None),
            ("b1", docs_df(spark, [("x", BASE_TEXT + " tonight"),
                                   ("s3", OTHER_TEXT)]), None),  # s3 updated
            ("b2", docs_df(spark, [("y", OTHER_TEXT + " indeed")]),
             spark.createDataFrame([("s5",)], "doc_id string")),  # s5 deleted
        ]
        out = {}
        for mode in ("cow", "mor"):
            idx = MinhashIndex(
                spark, str(tmp_path / f"idx_{mode}"),
                k=2, num_hashes=16, bands=4, buckets=4,
            )
            pair_sets = []
            for i, (_name, docs, dels) in enumerate(batches):
                m = "cow" if i == 0 else mode  # store must exist for MOR
                met, pairs = idx.ingest(
                    docs, "text", "doc_id", deleted_ids=dels,
                    threshold=0.4, mode=m,
                )
                assert met["mode"] == m
                pair_sets.append(self._pairs_set(pairs))
            out[mode] = (self._sig_set(idx), pair_sets)
        assert out["cow"][0] == out["mor"][0]
        assert out["cow"][1] == out["mor"][1]

    def test_mor_vacates_old_band_keys(self, spark, tmp_path):
        idx = MinhashIndex(
            spark, str(tmp_path / "idx"), k=2, num_hashes=16, bands=4, buckets=4
        )
        idx.update(docs_df(spark, [("a", BASE_TEXT), ("b", OTHER_TEXT)]),
                   "text", "doc_id")  # cow seed
        idx.update(docs_df(spark, [("a", OTHER_TEXT + " rewritten")]),
                   "text", "doc_id", mode="mor")
        # folded posting view holds ONLY a's new band keys
        post = idx.post_store.read().filter(F.col("id") == "a")
        got = {(r["band"], r["bkey"]) for r in post.collect()}
        from rfb_cnpj_etl_spark.operators.dedup import band_explode, minhash_signatures
        want_df = band_explode(
            minhash_signatures(
                docs_df(spark, [("a", OTHER_TEXT + " rewritten")]),
                "text", "doc_id", idx.k, idx.num_hashes, idx.hash_family,
            ),
            idx.num_hashes, idx.bands, idx.hash_family,
        )
        want = {(r["band"], r["bucket"]) for r in want_df.collect()}
        assert got == want

    def test_mor_delete_removes_doc(self, spark, tmp_path):
        idx = MinhashIndex(
            spark, str(tmp_path / "idx"), k=2, num_hashes=16, bands=4, buckets=4
        )
        idx.update(docs_df(spark, [("a", BASE_TEXT), ("b", OTHER_TEXT)]),
                   "text", "doc_id")
        empty = docs_df(spark, [])
        met = idx.update(
            empty, "text", "doc_id",
            deleted_ids=spark.createDataFrame([("a",)], "doc_id string"),
            mode="mor",
        )
        assert met["mode"] == "mor"
        assert {r["id"] for r in idx.signatures().collect()} == {"b"}
        # a's postings no longer pair against a fresh probe of its text
        got = self._pairs_set(
            idx.incremental_pairs(docs_df(spark, [("probe", BASE_TEXT)]),
                                  threshold=0.4)
        )
        assert got == set()

    def test_mor_write_io_is_o_batch(self, spark, tmp_path):
        idx = MinhashIndex(
            spark, str(tmp_path / "idx"), k=2, num_hashes=16, bands=4, buckets=8
        )
        m0, _ = idx.ingest(self._seed(spark, 400), "text", "doc_id",
                           compute_pairs=False, mode="cow")
        corpus_bytes = m0["sig_bytes_written"] + m0["post_bytes_written"]
        m1, _ = idx.ingest(
            docs_df(spark, [("t1", BASE_TEXT + " small batch")]),
            "text", "doc_id", compute_pairs=False, mode="mor",
        )
        delta_bytes = m1["sig_bytes_written"] + m1["post_bytes_written"]
        assert m1["mode"] == "mor"
        # one doc of 400: delta write ≪ corpus rewrite (generous 20% cap
        # absorbs parquet per-file overhead at toy scale)
        assert delta_bytes < 0.2 * corpus_bytes, (delta_bytes, corpus_bytes)

    def test_mor_replay_idempotent(self, spark, tmp_path):
        idx = MinhashIndex(
            spark, str(tmp_path / "idx"), k=2, num_hashes=16, bands=4, buckets=4
        )
        idx.update(docs_df(spark, [("a", BASE_TEXT), ("b", OTHER_TEXT)]),
                   "text", "doc_id")
        batch = docs_df(spark, [("c", BASE_TEXT + " tonight"), ("a", OTHER_TEXT)])
        dels = spark.createDataFrame([("b",)], "doc_id string")
        m1, p1 = idx.ingest(batch, "text", "doc_id", deleted_ids=dels,
                            threshold=0.4, mode="mor")
        after_once = self._sig_set(idx)
        # crash-replay: the SAME batch re-ingested (manifest never
        # committed) — state and pairs must converge, not duplicate
        m2, p2 = idx.ingest(batch, "text", "doc_id", deleted_ids=dels,
                            threshold=0.4, mode="mor")
        assert self._sig_set(idx) == after_once
        assert self._pairs_set(p1) == self._pairs_set(p2)

    def test_compact_folds_index_deltas(self, spark, tmp_path):
        idx = MinhashIndex(
            spark, str(tmp_path / "idx"), k=2, num_hashes=16, bands=4, buckets=4
        )
        idx.update(self._seed(spark, 10), "text", "doc_id")
        idx.update(docs_df(spark, [("m1", BASE_TEXT + " tonight")]),
                   "text", "doc_id", mode="mor")
        assert idx.sig_store.delta_bucket_ids()
        before = self._sig_set(idx)
        probe = docs_df(spark, [("m1", BASE_TEXT + " tonight")])
        pairs_before = self._pairs_set(idx.incremental_pairs(probe, threshold=0.4))
        idx.sig_store.compact()
        idx.post_store.compact()
        assert not idx.sig_store.delta_bucket_ids()
        assert not idx.post_store.delta_bucket_ids()
        assert self._sig_set(idx) == before
        assert self._pairs_set(
            idx.incremental_pairs(probe, threshold=0.4)
        ) == pairs_before

    def test_auto_mode_cow_bulk_mor_churn(self, spark, tmp_path):
        idx = MinhashIndex(
            spark, str(tmp_path / "idx"), k=2, num_hashes=16, bands=4, buckets=2
        )
        m0, _ = idx.ingest(self._seed(spark, 40), "text", "doc_id",
                           compute_pairs=False)  # auto: fresh store → cow
        assert m0["mode"] == "cow"
        m1, _ = idx.ingest(
            docs_df(spark, [("t", BASE_TEXT + " churn")]),
            "text", "doc_id", compute_pairs=False,
        )  # auto: 1 of 40 rows → mor
        assert m1["mode"] == "mor"
        m2, _ = idx.ingest(self._seed(spark, 40), "text", "doc_id",
                           compute_pairs=False)  # auto: 40 of ~41 → cow
        assert m2["mode"] == "cow"

    def test_rebucket_folds_deltas_and_seq_survives(self, spark, tmp_path):
        idx = MinhashIndex(
            spark, str(tmp_path / "idx"), k=2, num_hashes=16, bands=4, buckets=2
        )
        idx.update(docs_df(spark, [("a", BASE_TEXT), ("b", OTHER_TEXT)]),
                   "text", "doc_id")
        idx.update(docs_df(spark, [("c", BASE_TEXT + " tonight")]),
                   "text", "doc_id", mode="mor")
        seq_before = idx.sig_store._next_seq
        assert idx.sig_store.delta_bucket_ids()
        idx.sig_store.rebucket(4)
        idx.post_store.rebucket(4)
        assert not idx.sig_store.delta_bucket_ids()
        idx2 = MinhashIndex.open(spark, str(tmp_path / "idx"))
        assert idx2.sig_store.buckets == 4
        # counter survives the rebucket (a reset would let old base rows
        # outrank fresh deltas)
        assert idx2.sig_store._next_seq >= seq_before
        assert {r["id"] for r in idx2.signatures().collect()} == {"a", "b", "c"}
        got = self._pairs_set(
            idx2.incremental_pairs(
                docs_df(spark, [("c", BASE_TEXT + " tonight")]), threshold=0.4
            )
        )
        assert ("a", "c") in got


class TestCliRound4:
    def test_merge_mode_and_posting_skew_verbs(self, spark, tmp_path, capsys):
        """CLI surface for the round-4 features: --merge-mode reaches
        the engine, and posting-skew reports an index's hot keys."""
        import json as _json

        from rfb_cnpj_etl_spark import cli

        state, man = str(tmp_path / "state"), str(tmp_path / "m.jsonl")
        logdir = str(tmp_path / "log")
        idxdir = str(tmp_path / "mh")
        log_df(spark, [row("r", f"p{i}", BASE_TEXT + f" v{i}", i)
                       for i in range(30)]).write.parquet(logdir)
        rc = cli.main([
            "replay", "--state", state, "--manifest", man,
            "--log", logdir, "--minhash-index", idxdir,
            "--merge-mode", "cow",
        ])
        assert rc == 0
        # churn with forced MOR: two updated keys
        log2 = str(tmp_path / "log2")
        log_df(spark, [row("r", "p1", OTHER_TEXT, 100),
                       row("r", "p2", OTHER_TEXT + " x", 101)]
               ).write.parquet(log2)
        rc = cli.main([
            "replay", "--state", state, "--manifest", man,
            "--log", log2, "--merge-mode", "mor",
        ])
        assert rc == 0
        from rfb_cnpj_etl_spark.plans.checkpoint import Manifest

        modes = [e.get("mode") for e in Manifest(man).entries() if "mode" in e]
        assert modes[-1] == "mor", modes
        capsys.readouterr()
        rc = cli.main(["posting-skew", "--minhash-index", idxdir, "--top", "5"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["hot_keys"] and all(
            k["n_ids"] >= 1 for k in out["hot_keys"]
        )


class TestMorFuzz:
    def test_random_splits_and_modes_converge(self, spark, tmp_path):
        """Seeded fuzz over the replay plan: random window sizes and a
        random cow/mor/auto mode per replay leg, with a resume (fresh
        engine) in the middle — every trajectory must land on the same
        LWW final state and a duplicate-free table."""
        import random

        from rfb_cnpj_etl_spark.engine import CdcEngine
        from rfb_cnpj_etl_spark.gen import (
            expected_final_state,
            synthesize_changelog,
        )

        log = synthesize_changelog(
            spark, 4000, n_repos=4, n_paths=150, delete_ratio=0.15,
            hot_repo_fraction=0.3,
        ).cache()
        exp = {
            (r["repo"], r["path"]): r["content"]
            for r in expected_final_state(log).collect()
        }
        for seed in (7, 23, 91):
            rng = random.Random(seed)
            state = str(tmp_path / f"s{seed}")
            man = str(tmp_path / f"m{seed}.jsonl")
            cuts = sorted(rng.sample(range(200, 3800), 3)) + [4000]
            lo = 0
            for leg, hi in enumerate(cuts):
                mode = rng.choice(["cow", "mor", "auto"])
                if leg == 0:
                    mode = "cow"  # a fresh store has nothing to delta
                eng = CdcEngine(spark, state, man, merge_mode=mode)
                eng.replay(
                    log.filter(F.col("lsn") < hi),
                    batch_size=rng.choice([500, 1500, 4000]),
                )
                lo = hi
            eng = CdcEngine(spark, state, man)  # resume handle
            got = {
                (r["repo"], r["path"]): r["content"]
                for r in eng.state.read().collect()
            }
            assert got == exp, f"seed {seed} diverged"
            assert eng.state.audit_key_uniqueness() == 0


class TestMorMaintenanceLoop:
    def test_delta_files_trigger_index_compaction(self, spark, tmp_path):
        """MOR appends one delta file per touched bucket per batch; the
        maintenance policy must see base+delta file counts and fold the
        deltas back via compaction — the designed GC for the delta
        path."""
        from rfb_cnpj_etl_spark.engine import CdcEngine, MaintenancePolicy

        eng = CdcEngine(spark, str(tmp_path / "state"), str(tmp_path / "m.jsonl"))
        idx = MinhashIndex(
            spark, str(tmp_path / "mh"), k=2, num_hashes=16, bands=4, buckets=2
        )
        seed = [(f"s{i}", BASE_TEXT + f" v{i}") for i in range(30)]
        idx.update(docs_df(spark, seed), "text", "doc_id")
        for j in range(4):  # 4 small MOR batches → ≥4 delta files/bucket
            m = idx.update(
                docs_df(spark, [(f"c{j}", OTHER_TEXT + f" {j}")]),
                "text", "doc_id", mode="mor",
            )
            assert m["mode"] == "mor"
        assert idx.sig_store.delta_bucket_ids()
        h = idx.sig_store.health()
        assert h["delta_files"] >= 4
        policy = MaintenancePolicy(max_files_per_bucket=3)
        offending = policy.offending_buckets(h)
        assert offending  # ≥1 bucket breached the threshold
        report = eng.maintain(policy, minhash_index=idx)
        sig_actions = [
            a for a in report["actions"]
            if a["action"] == "compact" and a["store"] == "index_sig"
        ]
        assert sig_actions
        # round-5 selective compaction: ONLY the breaching buckets are
        # rewritten (non-offending buckets may legitimately keep their
        # few deltas), and afterwards no bucket exceeds the threshold
        assert sig_actions[0]["bucket_ids"] == offending
        assert not set(idx.sig_store.delta_bucket_ids()) & set(offending)
        assert idx.sig_store.health()["max_files_per_bucket"] <= 3
        ids = {r["id"] for r in idx.signatures().collect()}
        assert {f"c{j}" for j in range(4)} <= ids and len(ids) == 34


class TestMorWithIndexInReplay:
    def test_churn_tail_mor_on_both_stores_with_resume(self, spark, tmp_path):
        """State table AND MinHash index take the delta path in the
        same churn window, and a crash-resume (fresh engine, same
        manifest) neither reapplies nor diverges."""
        from rfb_cnpj_etl_spark.engine import CdcEngine
        from rfb_cnpj_etl_spark.gen import (
            expected_final_state,
            synthesize_changelog,
        )
        from rfb_cnpj_etl_spark.plans.checkpoint import Manifest

        state, man = str(tmp_path / "state"), str(tmp_path / "m.jsonl")
        idx = MinhashIndex(
            spark, str(tmp_path / "mh"), k=2, num_hashes=16, bands=4, buckets=4
        )
        log = synthesize_changelog(
            spark, 5000, n_repos=5, n_paths=300, delete_ratio=0.1
        ).cache()
        eng = CdcEngine(spark, state, man)
        bulk = eng.replay(
            log.filter(F.col("lsn") < 4900), batch_size=5000, minhash_index=idx
        )
        assert bulk[0]["mode"] == "cow"
        bulk_idx_bytes = bulk[0]["index_bytes_written"]
        tail = eng.replay(log, batch_size=5000, minhash_index=idx)
        assert tail[0]["mode"] == "mor"
        # index went MOR too: the entry's write I/O is a sliver of bulk
        assert tail[0]["index_bytes_written"] < 0.2 * bulk_idx_bytes
        assert idx.sig_store.delta_bucket_ids()  # index deltas on disk
        n_entries = len(Manifest(man).entries())
        # resume: fresh engine + fresh index handle, re-offered log
        eng2 = CdcEngine(spark, state, man)
        idx2 = MinhashIndex.open(spark, str(tmp_path / "mh"))
        again = eng2.replay(log, batch_size=5000, minhash_index=idx2)
        assert all(e.get("skipped") for e in again) or not again
        assert len(Manifest(man).entries()) == n_entries
        assert eng2.verify_against(expected_final_state(log))["ok"]
        # the index folded view has exactly the live keys
        live = {
            r["repo"] + "\x1f" + r["path"]
            for r in expected_final_state(log).collect()
        }
        assert {r["id"] for r in idx2.signatures().collect()} == live


class TestStaleDeltaCrashWindow:
    def test_resurrected_stale_delta_loses_to_folded_base(self, spark, tmp_path):
        """COW clears the touched deltas AFTER the bucket swap; a crash
        between the two leaves already-folded delta rows on disk. The
        invariant that makes this safe: base rows persist their ingest
        seq, so a folded (hence older-or-equal seq) delta row can never
        outrank the rewritten base. Simulate the crash by saving the
        delta tree pre-COW and restoring it post-COW."""
        import shutil as _sh

        path = str(tmp_path / "idx")
        idx = MinhashIndex(spark, path, k=2, num_hashes=16, bands=4, buckets=2)
        idx.update(docs_df(spark, [("a", BASE_TEXT), ("b", OTHER_TEXT)]),
                   "text", "doc_id")
        # MOR update rewrites a's signature via a delta
        idx.update(docs_df(spark, [("a", OTHER_TEXT + " v2")]),
                   "text", "doc_id", mode="mor")
        saved = str(tmp_path / "saved_delta")
        _sh.copytree(idx.sig_store.delta_root, saved)
        # COW batch folds the delta into the base and clears it,
        # and updates a AGAIN (newer seq lands in the base rows)
        idx.update(docs_df(spark, [("a", BASE_TEXT + " v3")]),
                   "text", "doc_id", mode="cow")
        expected = {
            (r["id"], tuple(r["sig"])) for r in idx.signatures().collect()
        }
        # crash simulation: the already-folded (stale) delta reappears
        _sh.copytree(saved, idx.sig_store.delta_root, dirs_exist_ok=True)
        assert idx.sig_store.delta_bucket_ids()  # fold engages again
        got = {(r["id"], tuple(r["sig"])) for r in idx.signatures().collect()}
        assert got == expected  # stale v2 delta cannot beat the v3 base


class TestConnectedComponents:
    def _cc(self, spark, edges):
        from rfb_cnpj_etl_spark.operators.dedup import connected_components

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return {
            r["id"]: r["cluster_id"]
            for r in connected_components(df).collect()
        }

    def test_chain_converges_past_diameter(self, spark):
        # a 64-node path (diameter 63): pointer jumping must close it
        # in O(log n) rounds, far under the default max_iter
        got = self._cc(spark, [(i, i + 1) for i in range(63)])
        assert got == {i: 0 for i in range(64)}

    def test_disjoint_clusters_keep_own_minimum(self, spark):
        got = self._cc(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)])
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    def test_nonconvergence_raises_not_partial(self, spark):
        import pytest as _pt

        from rfb_cnpj_etl_spark.operators.dedup import connected_components

        df = spark.createDataFrame([(i, i + 1) for i in range(20)],
                                   "id_a long, id_b long")
        with _pt.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_iter=1).collect()


class TestTornTailFold:
    def test_fold_after_torn_tail_does_not_corrupt(self, tmp_path):
        """Review finding: a fold appending after a mid-append crash's
        torn (newline-less) final line glued JSON onto the fragment —
        one malformed MIDDLE line, failing every later load as
        corruption. The fold must truncate the fragment first (its
        entry's segment survives and is re-appended by the same fold)."""
        path = str(tmp_path / "m.jsonl")
        m = Manifest(path, compact_segments=4)
        for i in range(8):  # two folds → snapshot holds entries
            m.commit({"batch_id": f"b{i}", "lsn_lo": i, "lsn_hi": i,
                      "schema_version": 1})
        # simulate the mid-append crash: torn final line, and its entry
        # still present as a segment (fold deletes segments only after
        # the fsync'd append)
        import json as _json

        torn = {"batch_id": "b8", "lsn_lo": 8, "lsn_hi": 8,
                "schema_version": 1, "seq": 8, "committed_at": 0.0}
        seg = os.path.join(m.segs_dir, "seg-0000000008.json")
        with open(seg, "w") as f:
            _json.dump(torn, f)
        with open(path, "a") as f:
            f.write(_json.dumps(torn)[:25])  # torn, no newline
        # restart: torn tail tolerated, b8 recovered from its segment
        m2 = Manifest(path, compact_segments=4)
        assert m2.is_applied("b8") and m2.count() == 9
        # the next fold must not glue onto the fragment
        for i in range(9, 13):
            m2.commit({"batch_id": f"b{i}", "lsn_lo": i, "lsn_hi": i,
                       "schema_version": 1})
        m3 = Manifest(path, compact_segments=4)  # would raise pre-fix
        assert m3.count() == 13
        assert m3.high_watermark() == 12
        assert {f"b{i}" for i in range(13)} <= m3.applied_batch_ids()
