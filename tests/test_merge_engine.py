"""StateTable MERGE + CdcEngine replay: the idempotency / exactly-once /
schema-evolution invariants (SURVEY §5 graft test plan items 3–5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rfb_cnpj_etl_spark.engine import CdcEngine
from rfb_cnpj_etl_spark.gen import expected_final_state, synthesize_changelog
from rfb_cnpj_etl_spark.operators.merge import StateTable

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


class TestStateTableMerge:
    def test_insert_update_delete(self, spark, tmp_table_dir):
        st = StateTable(spark, tmp_table_dir, buckets=4)
        st.merge(log_df(spark, [row("r", "a", "v1", 1), row("r", "b", "w1", 2)]))
        assert state_dict(st) == {("r", "a"): ("v1", 1), ("r", "b"): ("w1", 2)}
        # update a, delete b, insert c
        st.merge(
            log_df(
                spark,
                [row("r", "a", "v2", 3), row("r", "b", None, 4, "delete"),
                 row("r", "c", "x1", 5)],
            )
        )
        assert state_dict(st) == {("r", "a"): ("v2", 3), ("r", "c"): ("x1", 5)}

    def test_delete_of_missing_key_is_noop(self, spark, tmp_table_dir):
        st = StateTable(spark, tmp_table_dir, buckets=4)
        st.merge(log_df(spark, [row("r", "a", "v1", 1)]))
        st.merge(log_df(spark, [row("r", "zz", None, 2, "delete")]))
        assert state_dict(st) == {("r", "a"): ("v1", 1)}

    def test_delete_empties_whole_bucket(self, spark, tmp_table_dir):
        # regression for the staging-swap: a bucket whose every key is
        # deleted must physically disappear (dynamic overwrite can't do
        # this — the swap logic must).
        st = StateTable(spark, tmp_table_dir, buckets=1)
        st.merge(log_df(spark, [row("r", "a", "v1", 1)]))
        st.merge(log_df(spark, [row("r", "a", None, 2, "delete")]))
        assert not st.exists() or st.read().count() == 0

    def test_reapply_same_batch_idempotent(self, spark, tmp_table_dir):
        st = StateTable(spark, tmp_table_dir, buckets=4)
        batch = log_df(spark, [row("r", "a", "v1", 1), row("r", "b", None, 2, "delete")])
        st.merge(batch)
        before = state_dict(st)
        st.merge(batch)  # re-delivery
        assert state_dict(st) == before

    def test_old_batch_cannot_regress_state(self, spark, tmp_table_dir):
        # LWW: replaying an OLD lsn after a newer one must not win
        st = StateTable(spark, tmp_table_dir, buckets=4)
        st.merge(log_df(spark, [row("r", "a", "new", 10)]))
        st.merge(log_df(spark, [row("r", "a", "old", 1)]))
        assert state_dict(st) == {("r", "a"): ("new", 10)}

    def test_untouched_buckets_not_rewritten(self, spark, tmp_table_dir):
        import os

        st = StateTable(spark, tmp_table_dir, buckets=32)
        st.merge(log_df(spark, [row("r", f"p{i}", "v", i) for i in range(64)]))
        mtimes = {}
        for d in os.listdir(tmp_table_dir):
            if d.startswith("bucket="):
                mtimes[d] = os.path.getmtime(f"{tmp_table_dir}/{d}")
        import time

        time.sleep(1.1)
        metrics = st.merge(log_df(spark, [row("r", "p0", "v2", 1000)]))
        touched = {f"bucket={b}" for b in metrics["touched_buckets"]}
        assert len(touched) == 1
        for d, mt in mtimes.items():
            if d not in touched:
                assert os.path.getmtime(f"{tmp_table_dir}/{d}") == mt, d

    def test_content_sha_column(self, spark, tmp_table_dir):
        import hashlib

        st = StateTable(spark, tmp_table_dir, buckets=2)
        st.merge(log_df(spark, [row("r", "a", "payload", 1)]))
        got = st.read().collect()[0]["content_sha256"]
        assert got == hashlib.sha256(b"payload").hexdigest()


class TestEngineReplay:
    def _paths(self, tmp_path):
        return str(tmp_path / "state"), str(tmp_path / "manifest.jsonl")

    def test_full_replay_matches_oracle(self, spark, tmp_path):
        state, man = self._paths(tmp_path)
        log = synthesize_changelog(spark, 3000, n_repos=5, n_paths=40).cache()
        eng = CdcEngine(spark, state, man)
        eng.replay(log, batch_size=1000)
        res = eng.verify_against(expected_final_state(log))
        assert res["ok"], res

    def test_resume_from_checkpoint(self, spark, tmp_path):
        state, man = self._paths(tmp_path)
        log = synthesize_changelog(spark, 2000, n_repos=5, n_paths=30).cache()
        eng = CdcEngine(spark, state, man)
        eng.replay(log.filter(F.col("lsn") < 800), batch_size=400)
        # "crash" → new engine, full log: must resume at lsn 800
        eng2 = CdcEngine(spark, state, man)
        entries = eng2.replay(log, batch_size=700)
        assert all(e["lsn_lo"] >= 800 for e in entries)
        assert eng2.verify_against(expected_final_state(log))["ok"]

    def test_redelivery_is_noop(self, spark, tmp_path):
        state, man = self._paths(tmp_path)
        log = synthesize_changelog(spark, 1000, n_repos=4, n_paths=20).cache()
        eng = CdcEngine(spark, state, man)
        eng.replay(log, batch_size=500)
        assert eng.replay(log, batch_size=500) == []

    def test_crash_after_data_before_manifest(self, spark, tmp_path):
        # SURVEY §5.4(d): data swap landed, manifest write lost → the
        # batch is re-applied on recovery and must converge (LWW no-op).
        state, man = self._paths(tmp_path)
        log = synthesize_changelog(spark, 600, n_repos=3, n_paths=15).cache()
        eng = CdcEngine(spark, state, man)
        eng.replay(log.filter(F.col("lsn") < 300), batch_size=300)
        # simulate: apply batch data directly, bypassing the manifest
        batch2 = log.filter(F.col("lsn") >= 300)
        eng.state.merge(batch2)
        snapshot = {
            (r["repo"], r["path"]): r["content_sha256"]
            for r in eng.state.read().collect()
        }
        # recovery: engine still thinks watermark < 300 → re-applies
        entries = eng.replay(log, batch_size=300)
        assert entries, "recovery should re-apply the unmanifested batch"
        after = {
            (r["repo"], r["path"]): r["content_sha256"]
            for r in eng.state.read().collect()
        }
        assert after == snapshot
        assert eng.verify_against(expected_final_state(log))["ok"]

    def test_schema_evolution_mid_replay(self, spark, tmp_path):
        state, man = self._paths(tmp_path)
        log = synthesize_changelog(
            spark, 1000, n_repos=4, n_paths=20, evolve_at=500
        ).cache()
        eng = CdcEngine(spark, state, man)
        eng.replay(log.filter(F.col("lsn") < 500).drop("branch"), batch_size=500)
        assert "branch" not in eng.final_state().columns
        entries = eng.replay(log, batch_size=500)
        assert any(e.get("added_columns") == ["branch"] for e in entries)
        fs = eng.final_state()
        assert "branch" in fs.columns
        # rows whose winner predates the evolution have NULL branch
        pre = fs.filter((F.col("lsn") < 500) & F.col("branch").isNotNull()).count()
        post_null = fs.filter((F.col("lsn") >= 500) & F.col("branch").isNull()).count()
        assert pre == 0 and post_null == 0
        assert eng.verify_against(expected_final_state(log))["ok"]

    def test_hot_key_skew_replay(self, spark, tmp_path):
        # SURVEY §5.6: one hot repo = 50% of events; the hash-agg LWW
        # collapses the hot key map-side
        state, man = self._paths(tmp_path)
        log = synthesize_changelog(
            spark, 4000, n_repos=8, n_paths=30, hot_repo_fraction=0.5
        ).cache()
        eng = CdcEngine(spark, state, man)
        eng.replay(log, batch_size=2000)
        assert eng.verify_against(expected_final_state(log))["ok"]
        assert eng.state.audit_key_uniqueness() == 0

    def test_manifest_metrics_present(self, spark, tmp_path):
        state, man = self._paths(tmp_path)
        log = synthesize_changelog(spark, 500, n_repos=3, n_paths=10)
        eng = CdcEngine(spark, state, man)
        entries = eng.replay(log, batch_size=500)
        e = entries[0]
        assert e["rows"] > 0
        assert e["bucket_rows"] and sum(e["bucket_rows"].values()) >= e["rows"]
        assert e["lsn_lo"] == 0 and e["lsn_hi"] == 499
        assert "columns" in e and "schema_version" in e


class TestWindowAlignment:
    """LSN windows are aligned on absolute LSN; the manifest records the
    REAL lsn span so a partially-filled tail window neither advances the
    watermark past unseen events nor collides with the applied batch_id."""

    def test_late_events_in_same_window_apply(self, spark, tmp_path):
        from rfb_cnpj_etl_spark.gen import expected_final_state, synthesize_changelog

        state, man = str(tmp_path / "s"), str(tmp_path / "m.jsonl")
        log = synthesize_changelog(spark, 1000)
        eng = CdcEngine(spark, state, man)
        # first delivery: only lsn < 700 has arrived; window size 500 →
        # window 1 ([500,999]) is partially filled (500..699)
        eng.replay(log.filter("lsn < 700"), batch_size=500)
        assert eng.manifest.high_watermark() == 699
        # the tail arrives; same window 1 must apply its remainder
        eng.replay(log, batch_size=500)
        assert eng.manifest.high_watermark() == 999
        assert eng.verify_against(expected_final_state(log))["ok"]
