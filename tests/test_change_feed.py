"""CDC-out change feed (the Delta Change-Data-Feed / Iceberg
changelog-read analog): per-batch net row-level changes published
atomically BEFORE the state mutation, exactly-once under the engine's
crash model, classification value-checked against hand-built diffs and
(at the driver gate) a DuckDB window-diff oracle.

Reference anchor: the reference emits no downstream feed — its sink is
terminal SQLite/Postgres (db/sqlite_builder.py). The graft's lake
framing makes the state table a source for the NEXT pipeline, which is
what a 100 TB training-data flow needs (stage N's state is stage N+1's
changelog).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from rfb_cnpj_etl_spark.engine import CdcEngine, MaintenancePolicy
from rfb_cnpj_etl_spark.operators.merge import StateTable

LOG_SCHEMA = (
    "repo string, path string, commit string, lang string, content string,"
    " lsn long, op string"
)


def log_df(spark, rows):
    return spark.createDataFrame(rows, LOG_SCHEMA)


def row(repo, path, content, lsn, op="upsert"):
    return (repo, path, f"c{lsn}", "python", content, lsn, op)


def feed_tuples(df):
    return sorted(
        (r["repo"], r["path"], r["change_type"], r["lsn"], r["prev_lsn"])
        for r in df.collect()
    )


class TestChangeClassification:
    def test_insert_update_delete_and_noops(self, spark, tmp_path):
        state = str(tmp_path / "state")
        changes = str(tmp_path / "changes")
        t = StateTable(spark, state, ["repo", "path"], buckets=4)

        b1 = log_df(spark, [row("r1", "a", "v1", 1), row("r1", "b", "v1", 2)])
        m1 = t.merge(b1, changes_out=f"{changes}/batch=b1")
        assert m1["change_rows"] == 2

        b2 = log_df(
            spark,
            [
                row("r1", "a", "v2", 11),            # update
                row("r1", "b", None, 12, "delete"),  # delete
                row("r2", "c", "v1", 13),            # insert
                row("r9", "z", None, 14, "delete"),  # delete-on-absent: no row
                row("r1", "a", "v0", 3),             # loses LWW to lsn 11
            ],
        )
        m2 = t.merge(b2, changes_out=f"{changes}/batch=b2")
        assert m2["change_rows"] == 3

        import pyspark

        feed = spark.read.option("basePath", changes).parquet(
            f"{changes}/batch=b1", f"{changes}/batch=b2"
        )
        assert feed_tuples(feed) == [
            ("r1", "a", "insert", 1, None),
            ("r1", "a", "update", 11, 1),
            ("r1", "b", "delete", 12, 2),
            ("r1", "b", "insert", 2, None),
            ("r2", "c", "insert", 13, None),
        ]
        # after-image payload rides the feed rows
        up = feed.filter(
            (F.col("change_type") == "update") & (F.col("repo") == "r1")
        ).collect()[0]
        assert up["content"] == "v2" and up["commit"] == "c11"

    def test_stale_batch_emits_nothing(self, spark, tmp_path):
        state = str(tmp_path / "state")
        changes = str(tmp_path / "changes")
        t = StateTable(spark, state, ["repo", "path"], buckets=4)
        t.merge(log_df(spark, [row("r1", "a", "v2", 10)]))
        # redelivered older event: outranked by the stored row
        m = t.merge(
            log_df(spark, [row("r1", "a", "v1", 5)]),
            changes_out=f"{changes}/batch=stale",
        )
        assert m["change_rows"] == 0
        assert t.read().count() == 1

    def test_equal_lsn_delete_outranks_stored_upsert(self, spark, tmp_path):
        state = str(tmp_path / "state")
        changes = str(tmp_path / "changes")
        t = StateTable(spark, state, ["repo", "path"], buckets=4)
        t.merge(log_df(spark, [row("r1", "a", "v1", 7)]))
        m = t.merge(
            log_df(spark, [row("r1", "a", None, 7, "delete")]),
            changes_out=f"{changes}/batch=tie",
        )
        # the LWW tie-break (delete priority) must classify as delete
        assert m["change_rows"] == 1
        feed = spark.read.parquet(f"{changes}/batch=tie")
        assert feed.collect()[0]["change_type"] == "delete"


class TestChangeFeedModes:
    def test_cow_and_mor_publish_identical_feeds(self, spark, tmp_path):
        seed = log_df(spark, [row("r", f"p{i}", f"v{i}", i + 1) for i in range(40)])
        churn = log_df(
            spark,
            [
                row("r", "p3", "v3b", 100),
                row("r", "p7", None, 101, "delete"),
                row("r", "pnew", "vn", 102),
            ],
        )
        feeds = {}
        for mode in ("cow", "mor"):
            root = tmp_path / mode
            t = StateTable(spark, str(root / "state"), ["repo", "path"], buckets=4)
            t.merge(seed, mode="cow")
            m = t.merge(
                churn, mode=mode, changes_out=str(root / "changes/batch=x")
            )
            assert m["mode"] == mode and m["change_rows"] == 3
            feeds[mode] = feed_tuples(
                spark.read.parquet(str(root / "changes/batch=x"))
            )
        assert feeds["cow"] == feeds["mor"]

    def test_pre_image_scan_is_column_pruned(self, spark, tmp_path):
        """The before-image fold must not read content columns — at
        100 TB the feed diff costs a narrow key+lsn scan, not a second
        full-content pass (max_by full-row payload would block
        Catalyst's pruning, so _pre_image prunes before the fold)."""
        t = StateTable(spark, str(tmp_path / "state"), ["repo", "path"], buckets=4)
        t.merge(log_df(spark, [row("r", f"p{i}", f"v{i}", i + 1) for i in range(20)]))
        # leave MOR deltas in place so the fold branch is the one audited
        t.merge(log_df(spark, [row("r", "p1", "v1b", 50)]), mode="mor")
        pre = t._pre_image(list(range(4)), "lsn")
        plan = pre._jdf.queryExecution().executedPlan().toString()
        assert "content" not in plan, plan


class TestChangeFeedExactlyOnce:
    def test_published_feed_survives_reapply_after_state_mutation(
        self, spark, tmp_path
    ):
        """Crash window: feed published + state swapped, manifest commit
        lost. The re-applied batch now diffs to an EMPTY set against the
        post-image — the publish-then-reuse contract must keep the
        original (correct) feed instead of overwriting it."""
        state = str(tmp_path / "state")
        out = str(tmp_path / "changes/batch=b2")
        t = StateTable(spark, state, ["repo", "path"], buckets=4)
        t.merge(log_df(spark, [row("r1", "a", "v1", 1)]))
        batch = log_df(
            spark,
            [row("r1", "a", "v2", 10), row("r1", "b", None, 11, "delete")],
        )
        m = t.merge(batch, changes_out=out)
        assert m["change_rows"] == 1  # update only (delete-on-absent)
        first = feed_tuples(spark.read.parquet(out))
        # manifest-driven redo: same batch, same changes_out, state now
        # already holds the batch
        m2 = t.merge(batch, changes_out=out)
        assert m2.get("change_feed_reused") is True
        assert m2["change_rows"] == 1  # count reread from the sidecar
        assert feed_tuples(spark.read.parquet(out)) == first
        assert t.read().count() == 1

    def test_torn_staging_invisible_to_feed_consumers(
        self, spark, tmp_path
    ):
        """A torn staging dir (crash mid feed write) must never be read
        as published data — fresh staging is dot-hidden, and consumers
        defensively skip the legacy `batch=<id>.staging` name too."""
        eng = CdcEngine(
            spark,
            str(tmp_path / "state"),
            str(tmp_path / "m.jsonl"),
            normalize=None,
            changes_dir=str(tmp_path / "changes"),
        )
        eng.replay(log_df(spark, [row("r1", "a", "v1", 1)]), batch_size=10)
        for torn in ("batch=zz.staging", ".batch=zz.staging"):
            d = os.path.join(eng.changes_dir, torn)
            os.makedirs(d)
            with open(os.path.join(d, "part-0.parquet"), "w") as f:
                f.write("torn write")
        # consumers: batch listing, pruning, the streaming tail
        assert feed_tuples(eng.change_feed()) == [
            ("r1", "a", "insert", 1, None)
        ]
        assert eng._prune_change_feed(retention=5) == 0
        from rfb_cnpj_etl_spark.streaming.pipeline import change_feed_stream

        q = (
            change_feed_stream(spark, eng.changes_dir, as_changelog=False)
            .writeStream.format("memory")
            .queryName("torn_feed_tail")
            .option("checkpointLocation", str(tmp_path / "tail_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert feed_tuples(spark.table("torn_feed_tail")) == [
            ("r1", "a", "insert", 1, None)
        ]

    def test_wrong_touched_set_unpublishes_its_feed(self, spark, tmp_path):
        """The touched-set guard fires AFTER the feed publish: the feed
        was diffed against a pre-image missing the unprobed buckets, so
        the aborted merge must unpublish it — a later correct re-drive
        would otherwise reuse the poisoned feed via exactly-once."""
        from rfb_cnpj_etl_spark.operators.merge import (
            TouchedSetMismatchError,
        )

        state = str(tmp_path / "state")
        out = str(tmp_path / "changes/batch=b1")
        t = StateTable(spark, state, ["repo", "path"], buckets=8)
        batch = log_df(spark, [row("r", f"p{i}", "v", i) for i in range(32)])
        real = t.touched_buckets(batch)
        wrong = [b for b in range(8) if b not in real] or [real[0]]
        with pytest.raises(TouchedSetMismatchError):
            t.merge(batch, touched=wrong[:1], changes_out=out)
        assert not os.path.isdir(out)  # poisoned feed unpublished
        assert not t.exists()  # and the state never mutated
        m = t.merge(batch, changes_out=out)  # correct re-drive
        assert m["change_rows"] == 32
        assert spark.read.parquet(out).count() == 32

    def test_feed_left_by_crash_before_mismatch_raise_is_recomputed(
        self, spark, tmp_path, monkeypatch
    ):
        """A crash between the feed publish and the touched-set raise
        leaves the poisoned feed published: the merge with the wrong
        set never got to unpublish it. The re-drive with the right set
        must recompute it, not reuse it."""
        state = str(tmp_path / "state")
        out = str(tmp_path / "changes/batch=b2")
        t = StateTable(spark, state, ["repo", "path"], buckets=8)
        t.merge(log_df(spark, [row("r", f"p{i}", "v1", i) for i in range(32)]))
        batch = log_df(
            spark, [row("r", f"p{i}", "v2", 100 + i) for i in range(32)]
        )
        real = t.touched_buckets(batch)

        class Crash(BaseException):
            pass

        def crash(*_args, **_kwargs):
            raise Crash

        monkeypatch.setattr(StateTable, "_merge_cow", crash)
        monkeypatch.setattr(StateTable, "_merge_mor", crash)
        with pytest.raises(Crash):
            t.merge(batch, touched=real[:1], changes_out=out)
        assert os.path.isdir(out)  # the poisoned feed survived
        monkeypatch.undo()

        m = t.merge(batch, touched=real, changes_out=out)
        assert "change_feed_reused" not in m
        assert m["change_rows"] == 32
        assert feed_tuples(spark.read.parquet(out)) == sorted(
            ("r", f"p{i}", "update", 100 + i, i) for i in range(32)
        )

    def test_torn_staging_is_recomputed(self, spark, tmp_path):
        state = str(tmp_path / "state")
        out = str(tmp_path / "changes/batch=b1")
        t = StateTable(spark, state, ["repo", "path"], buckets=4)
        # a crashed previous attempt left a torn staging dir
        os.makedirs(out + ".staging")
        with open(out + ".staging/part-zzz.parquet", "w") as f:
            f.write("torn")
        m = t.merge(log_df(spark, [row("r1", "a", "v1", 1)]), changes_out=out)
        assert m["change_rows"] == 1
        assert not os.path.isdir(out + ".staging")
        assert feed_tuples(spark.read.parquet(out)) == [
            ("r1", "a", "insert", 1, None)
        ]


class TestEngineChangeFeed:
    def test_replay_publishes_per_batch_and_reads_back(self, spark, tmp_path):
        work = tmp_path
        log = log_df(
            spark,
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(30)]
            + [
                row("r", "p5", "v5b", 41),
                row("r", "p6", None, 42, "delete"),
                row("r", "pX", "vx", 43),
            ],
        )
        eng = CdcEngine(
            spark,
            str(work / "state"),
            str(work / "m.jsonl"),
            normalize=None,
            changes_dir=str(work / "changes"),
        )
        entries = eng.replay(log, batch_size=40)
        assert [e["change_rows"] for e in entries] == [30, 3]
        feed = eng.change_feed()
        assert feed.count() == 33
        # the partition column names the producing batch
        assert set(
            r["batch"] for r in feed.select("batch").distinct().collect()
        ) == {e["batch_id"] for e in entries}
        by_type = {
            r["change_type"]: r["n"]
            for r in feed.groupBy("change_type").agg(F.count("*").alias("n")).collect()
        }
        assert by_type == {"insert": 31, "update": 1, "delete": 1}
        # resume-with-nothing-new republishes nothing
        assert eng.replay(log, batch_size=40) == []
        assert eng.change_feed().count() == 33

    def test_feed_is_chainable_as_downstream_changelog(self, spark, tmp_path):
        """CDC-out closes the loop: stage N's change feed replayed into
        stage N+1 yields the same final state (upsert/delete ops map
        straight through; lsn stays the global order)."""
        log = log_df(
            spark,
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(25)]
            + [row("r", "p3", "v3b", 31), row("r", "p4", None, 32, "delete")],
        )
        up = CdcEngine(
            spark,
            str(tmp_path / "s1"),
            str(tmp_path / "m1.jsonl"),
            normalize=None,
            changes_dir=str(tmp_path / "c1"),
        )
        up.replay(log, batch_size=10)
        downstream_log = up.change_feed().select(
            "repo",
            "path",
            "commit",
            "lang",
            "content",
            "lsn",
            F.when(F.col("change_type") == "delete", "delete")
            .otherwise("upsert")
            .alias("op"),
        )
        down = CdcEngine(
            spark, str(tmp_path / "s2"), str(tmp_path / "m2.jsonl"), normalize=None
        )
        down.replay(downstream_log, batch_size=1000)
        a = {
            (r["repo"], r["path"], r["content_sha256"])
            for r in up.final_state().select(
                "repo", "path", "content_sha256"
            ).collect()
        }
        b = {
            (r["repo"], r["path"], r["content_sha256"])
            for r in down.final_state().select(
                "repo", "path", "content_sha256"
            ).collect()
        }
        assert a == b and len(a) == 24

    def test_maintain_prunes_old_feed_dirs_opt_in(self, spark, tmp_path):
        log = log_df(spark, [row("r", f"p{i}", f"v{i}", i + 1) for i in range(12)])
        eng = CdcEngine(
            spark,
            str(tmp_path / "state"),
            str(tmp_path / "m.jsonl"),
            normalize=None,
            changes_dir=str(tmp_path / "changes"),
        )
        # absolute-LSN windows: lsn 1..12 at width 3 → 5 windows
        eng.replay(log, batch_size=3)
        assert len(os.listdir(tmp_path / "changes")) == 5
        # default policy keeps everything (the feed is a deliverable)
        eng.maintain(MaintenancePolicy(max_files_per_bucket=10_000))
        assert len(os.listdir(tmp_path / "changes")) == 5
        rep = eng.maintain(
            MaintenancePolicy(
                max_files_per_bucket=10_000, changes_retention_batches=2
            )
        )
        assert {"store": "change_feed", "action": "prune",
                "removed_batch_dirs": 3} in rep["actions"]
        assert len(os.listdir(tmp_path / "changes")) == 2

    def test_cli_replay_and_changes_roundtrip(self, spark, tmp_path, capsys):
        import json

        from rfb_cnpj_etl_spark import cli

        state, man = str(tmp_path / "state"), str(tmp_path / "m.jsonl")
        changes = str(tmp_path / "changes")
        logdir = str(tmp_path / "log")
        log_df(
            spark,
            [row("r", f"p{i}", f"v{i}", i + 1) for i in range(10)]
            + [row("r", "p2", None, 20, "delete")],
        ).write.parquet(logdir)
        rc = cli.main(
            [
                "replay", "--state", state, "--manifest", man,
                "--log", logdir, "--changes-dir", changes,
            ]
        )
        assert rc == 0
        capsys.readouterr()
        rc = cli.main(
            ["changes", "--state", state, "--manifest", man,
             "--changes-dir", changes]
        )
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # single window: p2's upsert+delete nets to nothing (the feed
        # reports NET per-batch changes, not raw events)
        assert out["rows"] == 9
        assert out["by_change_type"] == {"insert": 9}
        assert out["lsn_lo"] == 1 and out["lsn_hi"] == 10

    def test_change_feed_requires_configuration(self, spark, tmp_path):
        eng = CdcEngine(
            spark, str(tmp_path / "state"), str(tmp_path / "m.jsonl"),
            normalize=None,
        )
        with pytest.raises(ValueError, match="changes_dir"):
            eng.change_feed()
