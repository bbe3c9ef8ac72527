"""Change-feed preimages + incremental view maintenance.

The feed's ``feed_preimages=True`` mode publishes the replaced row for
every update/delete (Delta CDF's ``update_preimage`` analog);
``IncrementalAggregate`` maintains a materialized GROUP BY from those
rows alone — O(churn) per refresh, never a state scan.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from rfb_cnpj_etl_spark.engine import CdcEngine
from rfb_cnpj_etl_spark.gen import expected_final_state, synthesize_changelog
from rfb_cnpj_etl_spark.operators.ivm import IncrementalAggregate

LOG_SCHEMA = (
    "repo string, path string, commit string, lang string, content string,"
    " lsn long, op string"
)


def row(repo, path, content, lsn, op="upsert", lang="python"):
    return (repo, path, f"c{lsn}", lang, content, lsn, op)


def log_df(spark, rows):
    return spark.createDataFrame(rows, LOG_SCHEMA)


def paths(tmp_path):
    return (
        str(tmp_path / "state"),
        str(tmp_path / "m.jsonl"),
        str(tmp_path / "changes"),
        str(tmp_path / "ivm"),
    )


def feed_rows(eng):
    return {
        (r["repo"], r["path"], r["change_type"], r["lsn"]): r
        for r in eng.change_feed().collect()
    }


class TestFeedPreimages:
    def test_update_and_delete_carry_old_rows(self, spark, tmp_path):
        state, man, changes, _ = paths(tmp_path)
        eng = CdcEngine(
            spark, state, man, normalize=None, changes_dir=changes,
            feed_preimages=True,
        )
        eng.replay(log_df(spark, [row("r", "a", "v1", 0),
                                  row("r", "b", "v2", 1)]), batch_size=10)
        eng.replay(log_df(spark, [row("r", "a", "v9", 10),
                                  row("r", "b", "", 11, op="delete")]),
                   batch_size=10)
        rows = feed_rows(eng)
        # preimage rows carry the OLD row: its content, its lsn, no prev
        up = rows[("r", "a", "update_preimage", 0)]
        assert up["content"] == "v1" and up["prev_lsn"] is None
        dp = rows[("r", "b", "delete_preimage", 1)]
        assert dp["content"] == "v2" and dp["prev_lsn"] is None
        # postimage rows unchanged from the default feed contract
        assert rows[("r", "a", "update", 10)]["prev_lsn"] == 0
        assert ("r", "b", "delete", 11) in rows
        # inserts have no preimage twin
        assert not any(k[2].endswith("_preimage") and k[1] == "a" and k[3] != 0
                       for k in rows)

    def test_insert_only_batch_has_no_preimages(self, spark, tmp_path):
        state, man, changes, _ = paths(tmp_path)
        eng = CdcEngine(
            spark, state, man, normalize=None, changes_dir=changes,
            feed_preimages=True,
        )
        eng.replay(log_df(spark, [row("r", "a", "v1", 0)]), batch_size=10)
        assert all(not k[2].endswith("_preimage") for k in feed_rows(eng))

    def test_default_off_feed_is_byte_identical(self, spark, tmp_path):
        """feed_preimages defaults False → the published feed matches
        the pre-existing contract exactly (no new change_type values)."""
        state, man, changes, _ = paths(tmp_path)
        eng = CdcEngine(spark, state, man, normalize=None,
                        changes_dir=changes)
        log = synthesize_changelog(spark, 800, n_repos=4, n_paths=20).cache()
        eng.replay(log, batch_size=200)
        types = {r["change_type"] for r in
                 eng.change_feed().select("change_type").distinct().collect()}
        assert types <= {"insert", "update", "delete"}

    def test_state_as_of_ignores_preimages(self, spark, tmp_path):
        """Time travel over a preimage-carrying feed equals the LWW of
        the truncated log — preimage rows must not perturb the fold."""
        state, man, changes, _ = paths(tmp_path)
        eng = CdcEngine(
            spark, state, man, normalize=None, changes_dir=changes,
            feed_preimages=True,
        )
        log = synthesize_changelog(spark, 1200, n_repos=5, n_paths=25).cache()
        entries = eng.replay(log, batch_size=300)
        mid = entries[1]["batch_id"]
        snap = eng.state_as_of(mid)
        expect = expected_final_state(log.filter(F.col("lsn") < 600))
        got = {(r["repo"], r["path"]): r["lsn"]
               for r in snap.select("repo", "path", "lsn").collect()}
        want = {(r["repo"], r["path"]): r["lsn"]
                for r in expect.select("repo", "path", "lsn").collect()}
        assert got == want

    def test_mor_batches_publish_preimages_too(self, spark, tmp_path):
        """The preimage diff reads through the MOR fold (read_buckets),
        so a delta-append batch still publishes correct old rows."""
        state, man, changes, _ = paths(tmp_path)
        eng = CdcEngine(
            spark, state, man, normalize=None, changes_dir=changes,
            feed_preimages=True,
        )
        log = synthesize_changelog(
            spark, 2000, n_repos=5, n_paths=400
        ).cache()
        eng.replay(log.filter(F.col("lsn") < 1900), batch_size=2000)
        tail = eng.replay(log, batch_size=100)
        mor_ids = [e["batch_id"] for e in tail if e.get("mode") == "mor"]
        assert mor_ids
        # every update row in the MOR batches has a preimage twin
        # (preimage rows carry the OLD lsn, so select by batch dir)
        feed = eng.change_feed().filter(F.col("batch").isin(mor_ids))
        n_up = feed.filter(F.col("change_type") == "update").count()
        n_pre = feed.filter(
            F.col("change_type") == "update_preimage").count()
        assert n_up == n_pre and n_up > 0

    def test_evolution_null_fills_preimage_rows(self, spark, tmp_path):
        state, man, changes, _ = paths(tmp_path)
        eng = CdcEngine(
            spark, state, man, normalize=None, changes_dir=changes,
            feed_preimages=True,
        )
        eng.replay(log_df(spark, [row("r", "a", "v1", 0)]), batch_size=10)
        evolved = spark.createDataFrame(
            [("r", "a", "c9", "python", "v2", 9, "upsert", "main")],
            LOG_SCHEMA + ", branch string",
        )
        eng.replay(evolved, batch_size=10)
        rows = feed_rows(eng)
        pre = rows[("r", "a", "update_preimage", 0)]
        assert pre["branch"] is None  # old row predates the column
        assert rows[("r", "a", "update", 9)]["branch"] == "main"

    def test_crash_duplicated_delta_yields_one_preimage_per_key(
        self, spark, tmp_path
    ):
        """A delta re-appended by a crash-replay stores the same (key,
        lsn) rows twice under a second ``d-*`` name; the pre-image fold
        keeps one row per key, so each replaced key gets exactly one
        preimage and the aggregate subtracts its old row once."""
        state, man, changes, ivm = paths(tmp_path)
        eng = CdcEngine(
            spark, state, man, buckets=4, normalize=None,
            changes_dir=changes, feed_preimages=True, merge_mode="mor",
        )
        agg = IncrementalAggregate(spark, ivm, ["repo"], {"chars": "length(content)"})
        log = [row("r", f"p{i}", f"v{i}", i) for i in range(20)]
        log += [row("r", f"p{i}", f"w{i}" * 3, 100 + i) for i in range(6)]
        eng.replay(log_df(spark, log), batch_size=100, aggregates=[agg])
        for root, _dirs, files in os.walk(eng.state.delta_root):
            for name in files:
                if name.startswith("d-") and name.endswith(".parquet"):
                    shutil.copy(
                        os.path.join(root, name),
                        os.path.join(root, "d-" + "0" * 12 + name[14:]),
                    )
        log += [row("r", f"p{i}", f"x{i}", 200 + i) for i in range(3)]
        log += [row("r", f"p{i}", None, 200 + i, "delete") for i in range(3, 6)]
        (entry,) = eng.replay(log_df(spark, log), batch_size=100, aggregates=[agg])
        assert entry["mode"] == "mor" and entry["change_rows"] == 12
        feed = spark.read.parquet(os.path.join(changes, f"batch={entry['batch_id']}"))
        pre = sorted(
            (r["path"], r["change_type"], r["lsn"])
            for r in feed.filter(F.col("change_type").endswith("_preimage")).collect()
        )
        assert pre == [
            (f"p{i}", f"{'update' if i < 3 else 'delete'}_preimage", 100 + i)
            for i in range(6)
        ]
        assert agg.verify_against_state(eng)["ok"]


class TestIncrementalAggregate:
    SUMS = {"content_chars": "length(content)"}

    def _engine(self, spark, tmp_path):
        state, man, changes, _ = paths(tmp_path)
        return CdcEngine(
            spark, state, man, normalize=None, changes_dir=changes,
            feed_preimages=True,
        )

    def test_matches_full_recompute_across_churn(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        log = synthesize_changelog(
            spark, 3000, n_repos=6, n_paths=40, delete_ratio=0.15
        ).cache()
        # advance after EVERY window — each refresh folds one batch dir
        for cut in (1000, 2000, 3000):
            eng.replay(log.filter(F.col("lsn") < cut), batch_size=1000)
            agg.advance(eng)
            assert agg.verify_against_state(eng)["ok"]

    def test_read_uses_recorded_schema(self, spark, tmp_path):
        """The meta records the aggregate's schema, so read() submits no
        inference job and yields the inferred schema; a meta without
        the field (written before it existed) still reads, and the next
        refresh records it. seed() records it too."""
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        log = synthesize_changelog(spark, 600, n_repos=4, n_paths=20).cache()
        eng.replay(log.filter(F.col("lsn") < 300), batch_size=300)
        agg.advance(eng)
        assert spark_jobs(spark, lambda: agg.read().schema) == 0
        assert agg.read().schema == spark.read.parquet(agg.agg_dir).schema
        before = sorted(map(tuple, agg.read().collect()))
        meta_path = os.path.join(agg.agg_dir, agg.META)
        meta = agg._meta()
        del meta["schema"]
        with open(meta_path, "w") as f:
            json.dump(meta, f)
        assert sorted(map(tuple, agg.read().collect())) == before
        eng.replay(log, batch_size=300)
        agg.advance(eng)
        assert "schema" in agg._meta()
        assert agg.verify_against_state(eng)["ok"]
        agg.seed(eng)
        assert agg.read().schema == spark.read.parquet(agg.agg_dir).schema
        assert agg.verify_against_state(eng)["ok"]
        log.unpersist()

    def test_group_retires_to_zero_and_returns(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        eng.replay(log_df(spark, [row("solo", "a", "xyz", 0)]), batch_size=5)
        agg.advance(eng)
        assert {r["repo"]: r["n"] for r in agg.read().collect()} == {"solo": 1}
        eng.replay(log_df(spark, [row("solo", "a", "", 7, op="delete")]),
                   batch_size=5)
        agg.advance(eng)
        assert agg.read().count() == 0  # n==0 groups dropped
        eng.replay(log_df(spark, [row("solo", "a", "back", 9)]), batch_size=5)
        agg.advance(eng)
        got = agg.read().collect()[0]
        assert got["n"] == 1 and got["content_chars"] == 4

    def test_advance_is_idempotent_and_incremental(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        log = synthesize_changelog(spark, 1000, n_repos=4, n_paths=20).cache()
        eng.replay(log, batch_size=250)
        r1 = agg.advance(eng)
        assert r1["applied"] == 4
        assert agg.advance(eng) == {"applied": 0}  # nothing new → no job
        # a fresh handle on the same path sees the applied set
        agg2 = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        assert agg2.advance(eng) == {"applied": 0}
        assert agg2.verify_against_state(eng)["ok"]

    def test_crash_between_write_and_swap_recovers(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        path = str(tmp_path / "ivm")
        agg = IncrementalAggregate(spark, path, ["repo"], self.SUMS)
        eng.replay(log_df(spark, [row("r", "a", "v1", 0)]), batch_size=5)
        agg.advance(eng)
        # crash mid-swap: live dir renamed aside, staging never moved in
        os.replace(agg.agg_dir, f"{agg.agg_dir}.old")
        agg2 = IncrementalAggregate(spark, path, ["repo"], self.SUMS)
        assert agg2.read().count() == 1  # _recover healed the window
        # torn staging from a crash mid-write is discarded on refresh
        os.makedirs(f"{agg.agg_dir}.staging", exist_ok=True)
        eng.replay(log_df(spark, [row("r", "b", "v2", 5)]), batch_size=5)
        agg2.advance(eng)
        assert agg2.verify_against_state(eng)["ok"]

    def test_guard_refuses_preimage_less_feed(self, spark, tmp_path):
        state, man, changes, _ = paths(tmp_path)
        eng = CdcEngine(spark, state, man, normalize=None,
                        changes_dir=changes)  # preimages OFF
        eng.replay(log_df(spark, [row("r", "a", "v1", 0)]), batch_size=5)
        eng.replay(log_df(spark, [row("r", "a", "v2", 6)]), batch_size=5)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        with pytest.raises(ValueError, match="update_preimage"):
            agg.advance(eng)

    def test_spec_mismatch_refuses(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        path = str(tmp_path / "ivm")
        agg = IncrementalAggregate(spark, path, ["repo"], self.SUMS)
        eng.replay(log_df(spark, [row("r", "a", "v1", 0)]), batch_size=5)
        agg.advance(eng)
        with pytest.raises(ValueError, match="spec"):
            IncrementalAggregate(spark, path, ["lang"], self.SUMS)

    def test_multi_column_groups_and_sums(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark,
            str(tmp_path / "ivm"),
            ["repo", "lang"],
            {"content_chars": "length(content)",
             "commit_chars": "length(commit)"},
        )
        log = synthesize_changelog(spark, 1500, n_repos=5, n_paths=30).cache()
        eng.replay(log, batch_size=500)
        agg.advance(eng)
        assert agg.verify_against_state(eng)["ok"]

    def test_refresh_reads_only_churn_not_state(self, spark, tmp_path):
        """The O(churn) claim, structurally: advance() must not scan the
        state table — remove it after replay and refresh anyway."""
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        log = synthesize_changelog(spark, 1000, n_repos=4, n_paths=20).cache()
        eng.replay(log, batch_size=250)
        want = {
            (r["repo"],): (r["n"], r["content_chars"])
            for r in agg._contributions(
                eng.final_state().withColumn("change_type", F.lit("insert"))
            ).collect()
        }
        shutil.rmtree(str(tmp_path / "state"))  # state gone; feed remains
        agg.advance(eng)
        got = {
            (r["repo"],): (r["n"], r["content_chars"])
            for r in agg.read().collect()
        }
        assert got == want

    def test_cli_aggregate_verb(self, spark, tmp_path, capsys):
        from rfb_cnpj_etl_spark import cli

        state, man, changes, ivm = paths(tmp_path)
        logdir = str(tmp_path / "log")
        synthesize_changelog(spark, 600, n_repos=3, n_paths=15).write.parquet(
            logdir
        )
        assert cli.main(
            ["replay", "--state", state, "--manifest", man, "--log", logdir,
             "--changes-dir", changes, "--feed-preimages",
             "--batch-size", "200"]
        ) == 0
        capsys.readouterr()
        assert cli.main(
            ["aggregate", "--state", state, "--manifest", man,
             "--changes-dir", changes, "--ivm-path", ivm,
             "--group", "repo", "--sum", "content_chars=length(content)",
             "--verify"]
        ) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["applied"] == 3 and out["groups"] == 3
        assert out["matches_full_recompute"] is True
        # second run: nothing new
        assert cli.main(
            ["aggregate", "--state", state, "--manifest", man,
             "--changes-dir", changes, "--ivm-path", ivm,
             "--group", "repo", "--sum", "content_chars=length(content)"]
        ) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["applied"] == 0

    def test_cli_aggregate_bootstrap_recovers_retention_gap(
        self, spark, tmp_path, capsys
    ):
        """`aggregate --bootstrap` = the CLI path of the documented
        seed() recovery: a pruned unapplied feed dir fails the plain
        verb, the bootstrap run rebuilds from state and goes green."""
        from rfb_cnpj_etl_spark import cli

        state, man, changes, ivm = paths(tmp_path)
        logdir = str(tmp_path / "log")
        synthesize_changelog(spark, 600, n_repos=3, n_paths=15).write.parquet(
            logdir
        )
        assert cli.main(
            ["replay", "--state", state, "--manifest", man, "--log", logdir,
             "--changes-dir", changes, "--feed-preimages",
             "--batch-size", "200"]
        ) == 0
        # prune one committed dir before any aggregate applied it
        batch_dirs = sorted(
            d for d in os.listdir(changes) if d.startswith("batch=")
        )
        shutil.rmtree(os.path.join(changes, batch_dirs[0]))
        argv = ["aggregate", "--state", state, "--manifest", man,
                "--changes-dir", changes, "--ivm-path", ivm,
                "--group", "repo", "--sum",
                "content_chars=length(content)", "--verify"]
        with pytest.raises(ValueError, match="pruned"):
            cli.main(argv)
        capsys.readouterr()
        assert cli.main(argv + ["--bootstrap"]) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["bootstrapped"] is True
        assert out["applied"] == 0  # seed marked every committed batch
        assert out["matches_full_recompute"] is True

    def test_pruned_unapplied_dir_fails_loud(self, spark, tmp_path):
        """Feed retention removing a dir the aggregate never applied
        must raise, not silently diverge."""
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        log = synthesize_changelog(spark, 900, n_repos=4, n_paths=20).cache()
        entries = eng.replay(log, batch_size=300)
        agg.advance(eng)
        eng.replay(
            log_df(spark, [row("r", "late", "x", 950)]), batch_size=300
        )
        # prune the just-published dir before the aggregate saw it
        last = [e for e in eng.manifest.entries() if "change_rows" in e][-1]
        shutil.rmtree(
            os.path.join(str(tmp_path / "changes"), f"batch={last['batch_id']}")
        )
        with pytest.raises(ValueError, match="pruned"):
            agg.advance(eng)
        # seed() is the documented recovery: full rebuild, then green
        agg.seed(eng)
        assert agg.verify_against_state(eng)["ok"]
        assert agg.advance(eng) == {"applied": 0}
        assert entries  # engine really committed batches

    def test_seed_bootstraps_mid_life_feed(self, spark, tmp_path):
        """A table whose early history predates changes_dir: advance
        alone cannot reconstruct it; seed() + advance can."""
        state, man, changes, ivm = paths(tmp_path)
        pre = CdcEngine(spark, state, man, normalize=None)  # no feed yet
        log = synthesize_changelog(spark, 1200, n_repos=4, n_paths=25).cache()
        pre.replay(log.filter(F.col("lsn") < 600), batch_size=300)
        eng = CdcEngine(
            spark, state, man, normalize=None, changes_dir=changes,
            feed_preimages=True,
        )
        agg = IncrementalAggregate(spark, ivm, ["repo"], self.SUMS)
        agg.seed(eng)  # captures the pre-feed history
        assert agg.verify_against_state(eng)["ok"]
        eng.replay(log, batch_size=300)  # feed-published tail
        agg.advance(eng)
        assert agg.verify_against_state(eng)["ok"]

    def test_replay_advances_registered_aggregates(self, spark, tmp_path):
        """aggregates=[...] rides the ingest loop: fresh after every
        window, and ordered before maintenance retention."""
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        log = synthesize_changelog(spark, 1000, n_repos=4, n_paths=20).cache()
        entries = eng.replay(log, batch_size=250, aggregates=[agg])
        assert len(entries) == 4
        assert all(agg.is_applied(e["batch_id"]) for e in entries)
        assert agg.verify_against_state(eng)["ok"]
        # idempotent second replay: no new batches, no divergence
        eng.replay(log, batch_size=250, aggregates=[agg])
        assert agg.verify_against_state(eng)["ok"]

    def test_batch_missing_column_preimage_keeps_old_value(
        self, spark, tmp_path
    ):
        """A later batch that OMITS a known column NULL-fills it in the
        state (LWW replaces whole rows) — the preimage row must still
        carry the retired non-NULL value or the aggregate silently
        keeps the stale contribution."""
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"],
            {"branch_chars": "length(branch)"},
        )
        evolved = spark.createDataFrame(
            [("r", "a", "c0", "python", "v1", 0, "upsert", "main")],
            LOG_SCHEMA + ", branch string",
        )
        eng.replay(evolved, batch_size=5)
        agg.advance(eng)
        assert agg.read().collect()[0]["branch_chars"] == 4
        # update WITHOUT the branch column: state NULL-fills it
        eng.replay(log_df(spark, [row("r", "a", "v2", 9)]), batch_size=5)
        agg.advance(eng)
        got = agg.read().collect()[0]
        assert got["branch_chars"] == 0  # -4 preimage cancelled the +4
        assert agg.verify_against_state(eng)["ok"]

    def test_advance_ignores_uncommitted_feed_dir(self, spark, tmp_path):
        """A published-but-unmerged dir (feed-publish-then-crash) is
        not in the state yet — advance must skip it until the manifest
        commits the batch."""
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        eng.replay(log_df(spark, [row("r", "a", "v1", 0)]), batch_size=5)
        # forge the crash window: a fully-published feed dir whose
        # batch never reached the manifest
        real = os.path.join(
            str(tmp_path / "changes"),
            os.listdir(str(tmp_path / "changes"))[0],
        )
        shutil.copytree(real, os.path.join(
            str(tmp_path / "changes"), "batch=lsn_900_999"))
        agg.advance(eng)
        assert not agg.is_applied("lsn_900_999")
        assert agg.verify_against_state(eng)["ok"]

    def test_applied_record_stays_bounded(self, spark, tmp_path):
        """LSN-window ids fold into a watermark — the meta's explicit
        list must not grow with replay history."""
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        log = synthesize_changelog(spark, 800, n_repos=3, n_paths=15).cache()
        entries = eng.replay(log, batch_size=100, aggregates=[agg])
        assert len(entries) == 8
        meta = agg._meta()
        assert meta["applied"] == []  # all folded
        assert meta["applied_lsn_hw"] == 799
        assert all(agg.is_applied(e["batch_id"]) for e in entries)
        assert not agg.is_applied("lsn_800_899")

    def test_streaming_epochs_advance_aggregate(self, spark, tmp_path):
        """The streaming pipeline advances registered aggregates per
        epoch; stream_epoch ids fold into their own watermark so the
        applied record stays bounded over stream lifetime."""
        from rfb_cnpj_etl_spark.streaming.pipeline import (
            StreamingCdcPipeline,
        )
        from tests.test_streaming import write_log_files

        log = synthesize_changelog(spark, 900, n_repos=4, n_paths=30).cache()
        src = str(tmp_path / "src")
        write_log_files(spark, log, src, n_files=3)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        pipe = StreamingCdcPipeline(
            spark, src,
            str(tmp_path / "state"), str(tmp_path / "m.jsonl"),
            str(tmp_path / "ckpt"),
            buckets=8, max_files_per_trigger=1,
            changes_dir=str(tmp_path / "changes"),
            feed_preimages=True,
            aggregates=[agg],
        )
        pipe.run_until_drained()
        assert agg.verify_against_state(pipe.engine)["ok"]
        meta = agg._meta()
        assert meta["applied"] == []  # epochs folded into the watermark
        assert meta["applied_epoch_hw"] >= 0

    def test_direct_refresh_does_not_leapfrog_earlier_batches(
        self, spark, tmp_path
    ):
        """refresh() of a non-oldest batch keeps its id exact instead of
        raising the watermark — earlier committed batches must remain
        visible as unapplied to a later advance()."""
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        log = synthesize_changelog(spark, 600, n_repos=3, n_paths=15).cache()
        entries = eng.replay(log, batch_size=200)
        assert len(entries) == 3
        last = entries[-1]["batch_id"]
        feed = spark.read.parquet(
            os.path.join(str(tmp_path / "changes"), f"batch={last}")
        )
        agg.refresh(feed, [last])  # direct call, newest batch only
        assert agg.is_applied(last)
        assert not agg.is_applied(entries[0]["batch_id"])
        agg.advance(eng)  # folds the two earlier batches
        assert agg.verify_against_state(eng)["ok"]
        assert agg._meta()["applied"] == []  # advance folded everything

    def test_advance_never_folds_inherited_exact_ids(
        self, spark, tmp_path
    ):
        """An out-of-band LSN-shaped id applied via direct refresh must
        stay exact across advance() — folding it would raise the
        watermark past engine windows that commit later below it, and
        every one of them would be silently skipped forever."""
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        # zero-contribution feed (bare 'delete' rows carry no sign):
        # only the id bookkeeping is under test
        noop = spark.createDataFrame(
            [("r0", "x", "delete")],
            "repo string, content string, change_type string",
        )
        oob = "lsn_900000_999999"
        agg.refresh(noop, [oob], guard=False)
        log = synthesize_changelog(spark, 600, n_repos=3, n_paths=15).cache()
        eng.replay(log, batch_size=200)
        agg.advance(eng)
        meta = agg._meta()
        assert meta["applied"] == [oob]  # exact, not folded
        assert meta["applied_lsn_hw"] < 900000
        # later windows commit below the out-of-band id; they must fold
        late = log_df(
            spark,
            [row("r0", f"p{i}", f"late{i}", 700 + i) for i in range(5)],
        )
        eng.replay(late, batch_size=200)
        agg.advance(eng)
        assert agg.verify_against_state(eng)["ok"]
        assert agg._meta()["applied"] == [oob]

    def test_advance_recovers_mid_swap_crash_on_same_instance(
        self, spark, tmp_path
    ):
        """advance() heals a crashed swap before reading the meta: a
        live dir renamed aside but not replaced must not read as
        'nothing applied' (which turns an already-applied pruned batch
        into a spurious retention-gap error on a same-instance retry)."""
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        log = synthesize_changelog(spark, 600, n_repos=3, n_paths=15).cache()
        entries = eng.replay(log, batch_size=200)
        agg.advance(eng)
        # retention prunes an APPLIED batch dir — legal workflow
        shutil.rmtree(
            os.path.join(
                str(tmp_path / "changes"),
                f"batch={entries[0]['batch_id']}",
            )
        )
        # crash window: live dir renamed aside, replacement never landed
        os.replace(agg.agg_dir, f"{agg.agg_dir}.old")
        assert agg.advance(eng) == {"applied": 0}  # healed, no 'pruned'
        assert agg.verify_against_state(eng)["ok"]

    def test_stream_restart_catches_up_missed_advance(
        self, spark, tmp_path
    ):
        """Crash window: an epoch's manifest commit landed but its
        advance never ran. On restart the redelivered epoch returns
        early on is_applied — start()'s catch-up must fold it."""
        from rfb_cnpj_etl_spark.streaming.pipeline import (
            StreamingCdcPipeline,
        )
        from tests.test_streaming import write_log_files

        log = synthesize_changelog(spark, 600, n_repos=3, n_paths=15).cache()
        src = str(tmp_path / "src")
        write_log_files(spark, log, src, n_files=2)
        args = (
            spark, src, str(tmp_path / "state"), str(tmp_path / "m.jsonl"),
            str(tmp_path / "ckpt"),
        )
        kw = dict(
            buckets=8, changes_dir=str(tmp_path / "changes"),
            feed_preimages=True,
        )
        # first run WITHOUT the aggregate = every epoch's advance
        # "crashed" after its manifest commit
        StreamingCdcPipeline(*args, **kw).run_until_drained()
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"], self.SUMS
        )
        pipe = StreamingCdcPipeline(*args, **kw, aggregates=[agg])
        pipe.run_until_drained()  # no new data — only the catch-up runs
        assert agg.verify_against_state(pipe.engine)["ok"]
        assert agg._meta()["applied_epoch_hw"] >= 0

    def test_evolved_measure_null_fills(self, spark, tmp_path):
        """A sum over a column added mid-history: old feed dirs NULL-fill
        (sum skips NULLs), so the aggregate still matches recompute."""
        eng = self._engine(spark, tmp_path)
        agg = IncrementalAggregate(
            spark, str(tmp_path / "ivm"), ["repo"],
            {"branch_chars": "length(branch)"},
        )
        eng.replay(log_df(spark, [row("r", "a", "v1", 0)]), batch_size=5)
        evolved = spark.createDataFrame(
            [("r", "b", "c9", "python", "v2", 9, "upsert", "main")],
            LOG_SCHEMA + ", branch string",
        )
        eng.replay(evolved, batch_size=5)
        agg.advance(eng)
        got = agg.read().collect()[0]
        assert got["n"] == 2 and got["branch_chars"] == 4
