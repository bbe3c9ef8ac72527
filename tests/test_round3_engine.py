"""Round-3 engine features: near-dup detection wired into the replay
loop, health-driven maintenance, the segmented manifest, and the
rebucket layout-marker crash window (ADVICE r2)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from rfb_cnpj_etl_spark.engine import CdcEngine, MaintenancePolicy
from rfb_cnpj_etl_spark.operators.dedup import MinhashIndex
from rfb_cnpj_etl_spark.plans.checkpoint import Manifest

SEP = "\x1f"

BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "green turtles watch from the river bank in the warm afternoon sun"
)
OTHER_TEXT = (
    "completely unrelated spark catalyst optimizer notes about shuffle "
    "partitions broadcast joins and adaptive query execution internals"
)


def _log(spark, rows):
    """rows: (repo, path, content, lsn, op)"""
    return spark.createDataFrame(
        [(r, p, f"c{l}", "python", c, l, o) for (r, p, c, l, o) in rows],
        "repo string, path string, commit string, lang string, "
        "content string, lsn long, op string",
    )


def _engine(spark, tmp_path, name="eng", **kw):
    return CdcEngine(
        spark,
        str(tmp_path / name / "state"),
        str(tmp_path / name / "manifest.jsonl"),
        **kw,
    )


def _index(spark, tmp_path, name="eng"):
    return MinhashIndex(
        spark, str(tmp_path / name / "mh"), k=2, num_hashes=16, bands=4, buckets=16
    )


class TestIndexInReplay:
    def test_pairs_surface_in_the_batch_they_become_detectable(
        self, spark, tmp_path
    ):
        rows = [
            # window 0: two unrelated docs
            ("r1", "a", BASE_TEXT, 1, "upsert"),
            ("r1", "b", OTHER_TEXT, 2, "upsert"),
            # window 1: a near-dup of (r1, a)
            ("r2", "c", BASE_TEXT + " tonight", 11, "upsert"),
        ]
        eng = _engine(spark, tmp_path)
        idx = _index(spark, tmp_path)
        entries = eng.replay(
            _log(spark, rows),
            batch_size=10,
            minhash_index=idx,
            index_threshold=0.4,
        )
        assert len(entries) == 2
        assert entries[0]["near_dup_pairs"] == 0
        assert entries[1]["near_dup_pairs"] >= 1
        pairs = spark.read.parquet(entries[1]["pairs_path"]).collect()
        ids = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (f"r1{SEP}a", f"r2{SEP}c") in ids

    def test_delete_event_removes_doc_from_index(self, spark, tmp_path):
        rows = [
            ("r1", "a", BASE_TEXT, 1, "upsert"),
            ("r1", "b", OTHER_TEXT, 2, "upsert"),
            ("r1", "a", BASE_TEXT, 11, "delete"),
        ]
        eng = _engine(spark, tmp_path)
        idx = _index(spark, tmp_path)
        eng.replay(_log(spark, rows), batch_size=10, minhash_index=idx)
        ids = {r["id"] for r in idx.signatures().collect()}
        assert ids == {f"r1{SEP}b"}
        assert idx.post_store.read().filter(
            F.col("id") == f"r1{SEP}a"
        ).count() == 0

    def test_exactly_once_across_resume(self, spark, tmp_path):
        rows = [
            ("r1", "a", BASE_TEXT, 1, "upsert"),
            ("r1", "b", OTHER_TEXT, 2, "upsert"),
            ("r2", "c", BASE_TEXT + " tonight", 11, "upsert"),
            ("r3", "d", BASE_TEXT + " yesterday", 21, "upsert"),
        ]
        log = _log(spark, rows)
        eng = _engine(spark, tmp_path)
        idx = _index(spark, tmp_path)
        # apply only window 0+1, simulating a stop mid-replay
        eng.replay(
            log.filter("lsn < 20"), batch_size=10,
            minhash_index=idx, index_threshold=0.4,
        )
        hw = eng.manifest.high_watermark()
        assert hw == 11

        # resume with a FRESH engine+index on the same paths
        eng2 = _engine(spark, tmp_path)
        idx2 = _index(spark, tmp_path)
        entries = eng2.replay(
            log, batch_size=10, minhash_index=idx2, index_threshold=0.4
        )
        applied = [e for e in entries if not e.get("skipped")]
        assert len(applied) == 1  # only window 2
        assert applied[0]["near_dup_pairs"] >= 1
        # the earlier windows were NOT re-ingested: one signature per doc
        assert idx2.signatures().count() == 4
        sig_ids = sorted(r["id"] for r in idx2.signatures().collect())
        assert sig_ids == sorted(
            [f"r1{SEP}a", f"r1{SEP}b", f"r2{SEP}c", f"r3{SEP}d"]
        )

        # re-replaying the whole log is a pure no-op
        entries3 = eng2.replay(
            log, batch_size=10, minhash_index=idx2, index_threshold=0.4
        )
        assert all(e.get("skipped") for e in entries3) or entries3 == []
        assert idx2.signatures().count() == 4

    def test_crash_after_index_before_manifest_is_idempotent(
        self, spark, tmp_path
    ):
        rows = [
            ("r1", "a", BASE_TEXT, 1, "upsert"),
            ("r2", "c", BASE_TEXT + " tonight", 11, "upsert"),
        ]
        log = _log(spark, rows)
        eng = _engine(spark, tmp_path)
        idx = _index(spark, tmp_path)
        eng.replay(log.filter("lsn < 10"), batch_size=10, minhash_index=idx)

        # crash: manifest commit suppressed AFTER merge+index ran
        real_commit = eng.manifest.commit
        eng.manifest.commit = lambda e: (_ for _ in ()).throw(
            RuntimeError("crash before manifest")
        )
        with pytest.raises(RuntimeError):
            eng.replay(log, batch_size=10, minhash_index=idx, index_threshold=0.4)
        eng.manifest.commit = real_commit

        # recovery replays the batch; state, index and pairs converge
        eng2 = _engine(spark, tmp_path)
        idx2 = _index(spark, tmp_path)
        entries = eng2.replay(
            log, batch_size=10, minhash_index=idx2, index_threshold=0.4
        )
        applied = [e for e in entries if not e.get("skipped")]
        assert len(applied) == 1
        assert applied[0]["near_dup_pairs"] == 1
        assert idx2.signatures().count() == 2
        assert eng2.final_state().count() == 2


class TestMaintenance:
    def test_replay_auto_compacts_small_files(self, spark, tmp_path):
        # merge rewrites whole buckets, so fragmentation comes from the
        # writer splitting large buckets into many files
        # (spark.sql.files.maxRecordsPerFile — the real mechanism at
        # production bucket sizes); force it low to reproduce at test
        # scale
        rows = [
            ("r1", f"p{i}", f"{BASE_TEXT} {i}", i + 1, "upsert")
            for i in range(40)
        ]
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
        try:
            eng = _engine(spark, tmp_path, buckets=4)
            eng.replay(_log(spark, rows), batch_size=100)
            assert eng.state.health()["max_files_per_bucket"] > 3
        finally:
            spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
        policy = MaintenancePolicy(max_files_per_bucket=3, auto_compact=True)
        report = eng.maintain(policy)
        assert any(a["action"] == "compact" for a in report["actions"])
        assert eng.state.health()["max_files_per_bucket"] == 1
        assert report["manifest_entry"]["maintenance"][0]["action"] == "compact"
        # state unchanged by compaction
        assert eng.final_state().count() == 40
        assert eng.state.audit_key_uniqueness() == 0
        # a replay with the policy attached runs the same check inline
        more = [("r9", "z", OTHER_TEXT, 1000, "upsert")]
        entries = eng.replay(
            _log(spark, more), batch_size=100, maintenance=policy
        )
        assert eng.final_state().count() == 41
        assert all(
            e.get("maintenance") is None or e["maintenance"]
            for e in entries
        )

    def test_policy_recommends_rebucket_without_auto(self, spark, tmp_path):
        rows = [("r1", "a", BASE_TEXT, 1, "upsert")]
        eng = _engine(spark, tmp_path, buckets=2)
        eng.replay(_log(spark, rows), batch_size=10)
        policy = MaintenancePolicy(
            max_files_per_bucket=10_000,
            rebucket_above_bucket_bytes=1,  # everything is over this
            auto_rebucket=False,
        )
        report = eng.maintain(policy)
        assert report["actions"] == []
        assert any(
            r["action"] == "rebucket" for r in report["recommendations"]
        )
        assert eng.state.buckets == 2  # nothing rewritten

    def test_auto_rebucket_applies_and_records(self, spark, tmp_path):
        rows = [
            ("r1", f"p{i}", f"{BASE_TEXT} {i}", i + 1, "upsert")
            for i in range(20)
        ]
        eng = _engine(spark, tmp_path, buckets=2)
        eng.replay(_log(spark, rows), batch_size=100)
        policy = MaintenancePolicy(
            max_files_per_bucket=10_000,
            rebucket_above_bucket_bytes=1,
            auto_rebucket=True,
        )
        report = eng.maintain(policy)
        assert any(a["action"] == "rebucket" for a in report["actions"])
        assert eng.state.buckets == 4
        assert eng.final_state().count() == 20
        # a fresh engine resolves the new layout
        eng2 = _engine(spark, tmp_path)
        assert eng2.state.buckets == 4


class TestSegmentedManifest:
    def test_commit_is_o_entry_and_folds(self, tmp_path):
        m = Manifest(str(tmp_path / "m.jsonl"), compact_segments=100)
        t0 = time.time()
        for i in range(1050):
            m.commit({"batch_id": f"b{i}", "lsn_lo": i, "lsn_hi": i})
        elapsed = time.time() - t0
        # O(entry) commits: 1050 tiny file writes, never a growing-file
        # rewrite per commit (the r2 scheme rewrote ~550 entries/commit
        # on average here)
        assert elapsed < 30
        assert len(m._segment_files()) < 100  # folded at least once
        assert os.path.exists(str(tmp_path / "m.jsonl"))

        # a fresh reader sees everything, in order, exactly once
        m2 = Manifest(str(tmp_path / "m.jsonl"))
        assert len(m2.entries()) == 1050
        assert m2.high_watermark() == 1049
        assert m2.is_applied("b7") and not m2.is_applied("nope")
        seqs = [e["seq"] for e in m2.entries()]
        assert seqs == sorted(seqs)

    def test_duplicate_snapshot_and_segment_dedup(self, tmp_path):
        """Crash between snapshot fold and segment deletion leaves an
        entry in both places — the loader keeps one."""
        path = str(tmp_path / "m.jsonl")
        m = Manifest(path, compact_segments=10_000)
        e = m.commit({"batch_id": "dup", "lsn_lo": 5, "lsn_hi": 5})
        # simulate the fold having happened without the segment cleanup
        with open(path, "w", encoding="utf-8") as f:
            f.write(json.dumps(e) + "\n")
        assert len(m._segment_files()) == 1  # still there too
        m2 = Manifest(path)
        assert len(m2.entries()) == 1
        assert m2.high_watermark() == 5

    def test_partial_segment_write_ignored(self, tmp_path):
        path = str(tmp_path / "m.jsonl")
        m = Manifest(path)
        m.commit({"batch_id": "ok", "lsn_lo": 1, "lsn_hi": 1})
        # a crashed half-written segment never got renamed into place
        with open(os.path.join(m.segs_dir, "seg-0000000009.json.part"), "w") as f:
            f.write('{"batch_id": "torn"')
        m2 = Manifest(path)
        assert [e["batch_id"] for e in m2.entries()] == ["ok"]


class TestRebucketMarkerCrashWindow:
    def test_marker_rides_the_swap(self, spark, tmp_path, monkeypatch):
        """ADVICE r2 (medium): crash right AFTER the staging→live swap
        (before anything else the rebucket or its caller does) must
        still leave the new bucket count in the layout marker (it was
        staged with the data), so the next engine resolves the new B
        instead of mixing moduli via the stale manifest record."""
        from rfb_cnpj_etl_spark.operators import publish

        rows = [
            ("r1", f"p{i}", f"{BASE_TEXT} {i}", i + 1, "upsert")
            for i in range(10)
        ]
        eng = _engine(spark, tmp_path, buckets=2)
        eng.replay(_log(spark, rows), batch_size=100)

        st = eng.state
        swap = publish.replace_dir

        def crash_after_swap(target, write, meta):
            swap(target, write, meta)
            raise RuntimeError("crash right after the rebucket swap")

        monkeypatch.setattr(publish, "replace_dir", crash_after_swap)
        with pytest.raises(RuntimeError):
            st.rebucket(8)
        monkeypatch.undo()

        # the marker inside the swapped dir is the new layout
        assert type(st).layout_buckets(st.path) == 8
        # manifest never recorded the rebucket (the crash was before the
        # commit) — the next engine must trust the marker, not it
        eng2 = _engine(spark, tmp_path)
        assert eng2.state.buckets == 8
        assert eng2.final_state().count() == 10
        # and a merge under the recovered layout works
        eng2.replay(
            _log(spark, [("r9", "z", OTHER_TEXT, 100, "upsert")]),
            batch_size=1000,
        )
        assert eng2.final_state().count() == 11
        assert eng2.state.audit_key_uniqueness() == 0


class TestProbeHybridFetch:
    def test_streamed_fallback_matches_collect_path(self, spark, tmp_path):
        """Force the window-probe past its driver-collect bound: the
        streamed per-partition fetch must produce the same batches and
        final state as the bounded-collect fast path."""
        from rfb_cnpj_etl_spark.gen import (
            expected_final_state,
            synthesize_changelog,
        )

        log = synthesize_changelog(spark, 2000, n_repos=5, n_paths=30).cache()
        a = _engine(spark, tmp_path, "collect")
        ea = a.replay(log, batch_size=200)  # 10 windows, small → collect

        b = _engine(spark, tmp_path, "streamed")
        b.PROBE_COLLECT_MAX = 1  # every probe exceeds the bound
        eb = b.replay(log, batch_size=200)

        assert [e["batch_id"] for e in ea] == [e["batch_id"] for e in eb]
        assert a.verify_against(expected_final_state(log))["ok"]
        assert b.verify_against(expected_final_state(log))["ok"]
