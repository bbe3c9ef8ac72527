"""Round-5 items (VERDICT r4 "Next round" list + ADVICE):

* crashed-COW journal recovery clears the folded delta buckets (ADVICE
  medium: a stale MOR UPSERT delta must not resurrect an id the crashed
  COW batch deleted);
* selective per-bucket compaction (compact only the offending buckets —
  the last O(table) cost on the steady-state path);
* within-bucket sort order for parquet min/max data skipping;
* posting-skew surfaced by maintenance with a max_fanout recommendation;
* CLI posting_skew no longer silently creates an index (ADVICE).

The index's touched-only delta-cap check, the rebucket marker's
estimates and the compaction reseed are now rules of the one store
write path; their tests live with it (tests/test_merge_engine.py,
tests/test_minhash_index.py).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rfb_cnpj_etl_spark.operators.dedup import MinhashIndex
from rfb_cnpj_etl_spark.operators.merge import StateTable

BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "green turtles watch from the river bank in the warm afternoon sun"
)
OTHER_TEXT = (
    "completely unrelated spark catalyst optimizer notes about shuffle "
    "partitions broadcast joins and adaptive query execution internals"
)

LOG_SCHEMA = (
    "repo string, path string, commit string, lang string, content string,"
    " lsn long, op string"
)


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def log_df(spark, rows):
    return spark.createDataFrame(rows, LOG_SCHEMA)


def row(repo, path, content, lsn, op="upsert"):
    return (repo, path, f"c{lsn}", "python", content, lsn, op)


def seed_rows(n):
    return [row("r", f"p{i}", f"v{i}", i) for i in range(n)]


class TestJournalRecoveryClearsDeltas:
    """ADVICE (medium): _recover_journal redid a crashed COW swap but
    left the touched delta buckets in place. A stale MOR UPSERT delta
    for an id the crashed COW batch DELETED has no base row to outrank
    it — the deleted doc (and its postings) resurrected on fold."""

    def test_cow_delete_crash_does_not_resurrect_mor_upsert(
        self, spark, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "idx")
        idx = MinhashIndex(spark, path, k=2, num_hashes=16, bands=4, buckets=2)
        idx.update(docs_df(spark, [("a", BASE_TEXT), ("b", OTHER_TEXT)]),
                   "text", "doc_id")  # cow seed
        # MOR upsert of a → sig/post deltas hold UPSERT rows for a
        idx.update(docs_df(spark, [("a", BASE_TEXT + " v2")]),
                   "text", "doc_id", mode="mor")
        assert idx.sig_store.delta_bucket_ids()
        # COW batch DELETES a; crash after both swaps but before the
        # delta clear + journal removal (the normal path's last steps)
        boom = RuntimeError("simulated crash before delta clear")

        def crash(_bucket_ids):
            raise boom

        monkeypatch.setattr(idx.sig_store, "clear_delta_buckets", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            idx.update(
                docs_df(spark, []), "text", "doc_id",
                deleted_ids=spark.createDataFrame([("a",)], "doc_id string"),
                mode="cow",
            )
        monkeypatch.undo()
        assert os.path.exists(idx._journal_path())
        assert idx.sig_store.delta_bucket_ids()  # stale delta on disk
        # reopen → journal recovery must clear the folded deltas too
        idx2 = MinhashIndex(spark, path, k=2, num_hashes=16, bands=4, buckets=2)
        assert not os.path.exists(idx2._journal_path())
        assert not idx2.sig_store.delta_bucket_ids()
        assert not idx2.post_store.delta_bucket_ids()
        assert {r["id"] for r in idx2.signatures().collect()} == {"b"}
        # a's postings are gone as well: its old text pairs with nothing
        pairs = idx2.incremental_pairs(
            docs_df(spark, [("probe", BASE_TEXT)]), threshold=0.4
        )
        assert pairs.count() == 0
        # and a later compact does not fold a resurrection into the base
        idx2.sig_store.compact()
        idx2.post_store.compact()
        assert {r["id"] for r in idx2.signatures().collect()} == {"b"}


# ---------------------------------------------------------------------------
# Selective per-bucket compaction (VERDICT r4 item 1)
# ---------------------------------------------------------------------------


class TestSelectiveCompaction:
    def _listing(self, root, b):
        d = f"{root}/bucket={b}"
        return sorted(os.listdir(d)) if os.path.isdir(d) else []

    def test_compact_rewrites_only_offending_buckets(
        self, spark, tmp_table_dir
    ):
        """One hot bucket breaching the file-count threshold must not
        trigger an O(table) rewrite: compact(bucket_ids=...) rewrites
        exactly those buckets' bytes and leaves every other bucket's
        files untouched."""
        st = StateTable(spark, tmp_table_dir, buckets=8)
        st.merge(log_df(spark, seed_rows(80)))  # COW seed, every bucket
        for j in range(10):  # churn ONE key → deltas pile in one bucket
            st.merge(
                log_df(spark, [row("r", "p0", f"hot{j}", 1000 + j)]),
                mode="mor",
            )
        hot = st.touched_buckets(log_df(spark, [row("r", "p0", "x", 0)]))
        assert len(hot) == 1
        cold = [b for b in range(8) if b != hot[0]]
        before = {b: self._listing(tmp_table_dir, b) for b in cold}
        res = st.compact(bucket_ids=hot)
        assert res["bucket_ids"] == hot
        assert res["compacted_buckets"] == 1
        # cold buckets: byte-for-byte same file sets (never rewritten)
        assert {b: self._listing(tmp_table_dir, b) for b in cold} == before
        # hot bucket: deltas folded, single base file
        assert st.delta_file_counts().get(hot[0], 0) == 0
        assert len(self._listing(tmp_table_dir, hot[0])) >= 1
        # contents correct after the fold
        got = {
            (r["repo"], r["path"]): (r["content"], r["lsn"])
            for r in st.read().collect()
        }
        assert got[("r", "p0")] == ("hot9", 1009)
        assert len(got) == 80
        # row estimate reseeded for the compacted bucket only
        from rfb_cnpj_etl_spark.operators.store import parquet_footer_rows

        assert st._row_est[hot[0]] == parquet_footer_rows(
            f"{tmp_table_dir}/bucket={hot[0]}"
        )

    def test_maintenance_policy_passes_offending_buckets(
        self, spark, tmp_path
    ):
        """End-to-end: a replay followed by maintain() compacts only
        the buckets whose base+delta file count breached the policy
        threshold."""
        from rfb_cnpj_etl_spark.engine import CdcEngine, MaintenancePolicy

        state = str(tmp_path / "state")
        eng = CdcEngine(spark, state, str(tmp_path / "m.jsonl"))
        eng.replay(log_df(spark, seed_rows(200)), batch_size=1000)
        # 10 single-key churn windows ride MOR into one bucket
        churn = [row("r", "p0", f"hot{j}", 1000 + j) for j in range(10)]
        eng.replay(log_df(spark, churn), batch_size=1)
        h = eng.state.health()
        policy = MaintenancePolicy(max_files_per_bucket=4)
        offending = policy.offending_buckets(h)
        assert offending and len(offending) < eng.state.buckets
        report = eng.maintain(policy)
        acts = [a for a in report["actions"] if a["action"] == "compact"]
        assert acts and acts[0]["bucket_ids"] == offending
        assert eng.state.health()["max_files_per_bucket"] <= 4


# ---------------------------------------------------------------------------
# Within-bucket sort order → parquet row-group data skipping (VERDICT item 3)
# ---------------------------------------------------------------------------


class TestSortWithinBuckets:
    LANGS = ["c", "go", "java", "py", "rs"]

    def _rows(self, n):
        pad = "pad " * 24
        return [
            ("r", f"p{i}", f"c{i}", self.LANGS[i % 5], f"v{i} {pad}", i,
             "upsert")
            for i in range(n)
        ]

    def _lang_rowgroup_stats(self, root):
        """[(file, [(min, max), ...row groups]), ...] for the lang col."""
        import glob

        import pyarrow.parquet as pq

        out = []
        for f in sorted(glob.glob(f"{root}/bucket=*/*.parquet")):
            pf = pq.ParquetFile(f)
            md = pf.metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            li = names.index("lang")
            rgs = []
            for g in range(md.num_row_groups):
                s = md.row_group(g).column(li).statistics
                rgs.append((s.min, s.max))
            out.append((f, rgs))
        return out

    def test_sorted_compact_makes_rowgroup_stats_selective(
        self, spark, tmp_table_dir
    ):
        st = StateTable(spark, tmp_table_dir, buckets=2)
        st.merge(log_df(spark, self._rows(4000)))
        # shrink row groups so the toy table exercises multi-row-group
        # files (production files hold many row groups at the default
        # 128 MB block size)
        hconf = spark._jsc.hadoopConfiguration()
        old = hconf.get("parquet.block.size")
        hconf.set("parquet.block.size", str(16 * 1024))
        try:
            st.compact(sort_within_buckets=["lang"])
        finally:
            if old is None:
                hconf.unset("parquet.block.size")
            else:
                hconf.set("parquet.block.size", old)
        stats = self._lang_rowgroup_stats(tmp_table_dir)
        total_rg = sum(len(rgs) for _f, rgs in stats)
        assert total_rg >= 6, stats  # multi-row-group files materialized
        skippable = 0
        for _f, rgs in stats:
            # sorted within the file: row-group minima non-decreasing
            mins = [mn for mn, _mx in rgs]
            assert mins == sorted(mins), (_f, rgs)
            skippable += sum(1 for mn, mx in rgs if not (mn <= "py" <= mx))
        # the point of the sort: a non-key predicate (lang='py') can
        # skip row groups via min/max stats — most groups hold a single
        # lang value after the sort
        assert skippable > 0.4 * total_rg, (skippable, total_rg)
        # correctness preserved through the sorted rewrite
        assert st.read().filter(F.col("lang") == "py").count() == 800
        assert st.read().count() == 4000
        assert st.audit_key_uniqueness() == 0


# ---------------------------------------------------------------------------
# posting_skew consumed by maintenance (VERDICT item 5) + CLI guard (ADVICE)
# ---------------------------------------------------------------------------


class TestPostingSkewMaintenance:
    def test_viral_cluster_yields_cap_fanout_recommendation(
        self, spark, tmp_path
    ):
        from rfb_cnpj_etl_spark.engine import CdcEngine, MaintenancePolicy

        eng = CdcEngine(spark, str(tmp_path / "state"), str(tmp_path / "m.jsonl"))
        idx = MinhashIndex(
            spark, str(tmp_path / "mh"), k=2, num_hashes=16, bands=4, buckets=4
        )
        cluster = [(f"d{i}", BASE_TEXT) for i in range(12)] + [
            ("z", OTHER_TEXT)
        ]
        idx.update(docs_df(spark, cluster), "text", "doc_id")
        policy = MaintenancePolicy(max_posting_list=5)
        report = eng.maintain(policy, minhash_index=idx)
        recs = [
            r for r in report["recommendations"]
            if r["action"] == "cap_fanout"
        ]
        assert recs
        assert recs[0]["recommended_max_fanout"] == 5
        assert recs[0]["hot_keys"][0]["n_ids"] == 12  # the planted cluster
        # threshold not breached → no recommendation (and default None
        # skips the agg entirely)
        ok = eng.maintain(
            MaintenancePolicy(max_posting_list=50), minhash_index=idx
        )
        assert not [
            r for r in ok["recommendations"] if r["action"] == "cap_fanout"
        ]

    def test_posting_skew_on_empty_index_is_typed_empty(self, spark, tmp_path):
        idx = MinhashIndex(
            spark, str(tmp_path / "mh"), k=2, num_hashes=16, bands=4, buckets=4
        )
        df = idx.posting_skew()
        assert df.count() == 0
        assert df.columns == ["band", "bkey", "n_ids"]

    def test_cli_posting_skew_refuses_missing_index(self, tmp_path, capsys):
        from rfb_cnpj_etl_spark import cli

        target = str(tmp_path / "not_an_index")
        rc = cli.main(["posting-skew", "--minhash-index", target])
        assert rc == 2
        err = capsys.readouterr().err
        assert "no MinHash index" in err
        # the diagnostic verb must not have CREATED an index at the path
        assert not os.path.exists(target)


# ---------------------------------------------------------------------------
# cdc_mor_replay driver-pin size guard (VERDICT item 6)
# ---------------------------------------------------------------------------


class TestMorReplaySizeGuard:
    def test_large_state_returns_scan_not_collect(self, spark, monkeypatch):
        """Above the row bound the proof query materializes to parquet
        and returns a scan instead of pinning the state on the driver —
        same rows either way."""
        from rfb_cnpj_etl_spark.plans import queries as Q

        sf = "/root/testdata/sf0.001"
        expected = {
            (r["repo"], r["path"], r["content_sha256"])
            for r in Q.cdc_final_state(spark, sf).collect()
        }
        monkeypatch.setattr(Q, "MOR_REPLAY_COLLECT_MAX", 1)
        out = Q.cdc_mor_replay(spark, sf)
        got = {
            (r["repo"], r["path"], r["content_sha256"])
            for r in out.collect()
        }
        assert got == expected
        # it really is a parquet scan (not a driver-pinned localRelation)
        assert "mor_replay_out_" in out.inputFiles()[0]


# ---------------------------------------------------------------------------
# Pointer commit protocol (VERDICT r4 stretch 7): the object-store
# translation implemented — immutable token-named files + one atomic
# live-map commit, no directory renames on the data path.
# ---------------------------------------------------------------------------


def state_of(st):
    return {
        (r["repo"], r["path"]): (r["content"], r["lsn"])
        for r in st.read().collect()
    }


class TestPointerProtocol:
    def test_pointer_equals_rename_through_lifecycle(self, spark, tmp_path):
        """Same batch history through COW, MOR, compact and rebucket
        under both protocols → identical state; a pointer store reopens
        as pointer without the flag (the marker is the ground truth)."""
        results = {}
        for proto in ("rename", "pointer"):
            st = StateTable(
                spark, str(tmp_path / proto), buckets=4,
                commit_protocol=proto,
            )
            st.merge(log_df(spark, seed_rows(40)))  # cow seed
            st.merge(
                log_df(spark, [row("r", "p1", "u1", 100),
                               row("r", "p2", None, 101, op="delete")]),
                mode="mor",
            )
            st.compact()
            st.merge(log_df(spark, [row("r", "p3", "u3", 102)]))
            st.rebucket(8)
            st.merge(log_df(spark, [row("r", "p4", "u4", 103)]))
            results[proto] = state_of(st)
            assert st.audit_key_uniqueness() == 0
        assert results["pointer"] == results["rename"]
        st2 = StateTable(spark, str(tmp_path / "pointer"), buckets=8)
        assert st2.commit_protocol == "pointer"
        assert state_of(st2) == results["rename"]
        # every committed file is immutable-named and referenced by the
        # live map — nothing else on disk
        for b, files in st2._live.items():
            d = f"{st2.path}/bucket={b}"
            on_disk = {e for e in os.listdir(d) if e.endswith(".parquet")}
            assert on_disk == set(files)

    def test_pointer_crash_before_marker_rolls_back(
        self, spark, tmp_table_dir
    ):
        """Crash after the file copies but before the one atomic marker
        commit: reads still see the old live map; recovery GCs the
        orphaned copies; the re-driven batch converges (the manifest's
        exactly-once contract, unchanged)."""
        st = StateTable(
            spark, tmp_table_dir, buckets=4, commit_protocol="pointer"
        )
        st.merge(log_df(spark, seed_rows(20)))
        before = state_of(st)

        def crash(*a, **k):
            raise RuntimeError("crash before pointer commit")

        st._write_meta = crash
        with pytest.raises(RuntimeError, match="crash before pointer"):
            st.merge(log_df(spark, [row("r", "p0", "new", 500)]))
        # half-copied token files are on disk but unreferenced
        st2 = StateTable(
            spark, tmp_table_dir, buckets=4, commit_protocol="pointer"
        )
        assert state_of(st2) == before  # rolled back, old state intact
        for b, files in st2._live.items():
            d = f"{st2.path}/bucket={b}"
            on_disk = {e for e in os.listdir(d) if e.endswith(".parquet")}
            assert on_disk == set(files)  # orphans GC'd
        st2.merge(log_df(spark, [row("r", "p0", "new", 500)]))
        assert state_of(st2)[("r", "p0")] == ("new", 500)

    def test_pointer_crash_after_marker_finishes_gc(
        self, spark, tmp_table_dir
    ):
        """Crash after the marker commit but before the replaced-file
        GC: the new state is already committed; recovery merely removes
        the superseded files."""
        st = StateTable(
            spark, tmp_table_dir, buckets=4, commit_protocol="pointer"
        )
        st.merge(log_df(spark, seed_rows(20)))
        # plant a superseded-looking orphan next to a committed bucket
        b = next(iter(st._live))
        d = f"{st.path}/bucket={b}"
        orphan = os.path.join(d, "c-deadbeef-stale.parquet")
        with open(orphan, "wb") as f:
            f.write(b"not parquet")
        st2 = StateTable(
            spark, tmp_table_dir, buckets=4, commit_protocol="pointer"
        )
        assert not os.path.exists(orphan)
        assert state_of(st2) == state_of(st)

    def test_pointer_refuses_markerless_foreign_data(self, spark, tmp_path):
        """Pointer mode on a marker-less dir holding bucket data must
        fail loudly, never GC foreign files under an empty live map."""
        root = str(tmp_path / "foreign")
        os.makedirs(f"{root}/bucket=0")
        with open(f"{root}/bucket=0/part-000.parquet", "wb") as f:
            f.write(b"x")
        with pytest.raises(ValueError, match="no layout marker"):
            StateTable(spark, root, buckets=4, commit_protocol="pointer")
        assert os.path.exists(f"{root}/bucket=0/part-000.parquet")

    def test_cli_optimize_sorted(self, spark, tmp_path, capsys):
        import json as _json

        from rfb_cnpj_etl_spark import cli

        state, man = str(tmp_path / "state"), str(tmp_path / "m.jsonl")
        logdir = str(tmp_path / "log")
        log_df(spark, seed_rows(30)).write.parquet(logdir)
        assert cli.main(["replay", "--state", state, "--manifest", man,
                         "--log", logdir]) == 0
        capsys.readouterr()
        rc = cli.main(["optimize", "--state", state, "--manifest", man,
                       "--sort-within-buckets", "lang"])
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["compacted_buckets"] == len(out["bucket_ids"]) > 0

    def test_cli_replay_on_pointer(self, spark, tmp_path, capsys):
        from rfb_cnpj_etl_spark import cli

        state, man = str(tmp_path / "state"), str(tmp_path / "m.jsonl")
        logdir = str(tmp_path / "log")
        log_df(spark, seed_rows(20)).write.parquet(logdir)
        rc = cli.main([
            "replay", "--state", state, "--manifest", man, "--log", logdir,
            "--commit-protocol", "pointer",
        ])
        assert rc == 0
        st = StateTable(spark, state)
        assert st.commit_protocol == "pointer"
        assert st.read().count() == 20

    def test_engine_replay_resume_on_pointer_protocol(self, spark, tmp_path):
        """Full engine contract on the pointer protocol: replay,
        re-delivery no-op, resume, sha256 differential."""
        from rfb_cnpj_etl_spark.engine import CdcEngine
        from rfb_cnpj_etl_spark.gen import (
            expected_final_state,
            synthesize_changelog,
        )

        state, man = str(tmp_path / "state"), str(tmp_path / "m.jsonl")
        log = synthesize_changelog(
            spark, 3000, n_repos=5, n_paths=200, delete_ratio=0.1
        ).cache()
        eng = CdcEngine(spark, state, man, commit_protocol="pointer")
        entries = eng.replay(log, batch_size=1000)
        assert entries
        again = CdcEngine(spark, state, man).replay(log, batch_size=1000)
        assert all(e.get("skipped") for e in again) or not again
        eng2 = CdcEngine(spark, state, man)
        assert eng2.state.commit_protocol == "pointer"
        assert eng2.verify_against(expected_final_state(log))["ok"]


class TestPointerFuzz:
    def test_random_splits_and_modes_converge_on_pointer(
        self, spark, tmp_path
    ):
        """TestMorFuzz's trajectory fuzz re-run on the pointer protocol:
        random window sizes and a random cow/mor/auto mode per replay
        leg with a mid-trajectory resume — every trajectory lands on
        the same LWW final state through token-file commits instead of
        directory renames."""
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
        for seed in (13, 57):
            rng = random.Random(seed)
            state = str(tmp_path / f"s{seed}")
            man = str(tmp_path / f"m{seed}.jsonl")
            cuts = sorted(rng.sample(range(200, 3800), 3)) + [4000]
            for leg, hi in enumerate(cuts):
                mode = "cow" if leg == 0 else rng.choice(
                    ["cow", "mor", "auto"]
                )
                eng = CdcEngine(
                    spark, state, man, merge_mode=mode,
                    commit_protocol="pointer",
                )
                assert eng.state.commit_protocol == "pointer"
                eng.replay(
                    log.filter(F.col("lsn") < hi),
                    batch_size=rng.choice([500, 1500, 4000]),
                )
            eng = CdcEngine(spark, state, man)  # resume handle, no flag
            assert eng.state.commit_protocol == "pointer"
            got = {
                (r["repo"], r["path"]): r["content"]
                for r in eng.state.read().collect()
            }
            assert got == exp, f"seed {seed} diverged"
            assert eng.state.audit_key_uniqueness() == 0
            # on-disk files ≡ committed live map, bucket for bucket
            for b, files in eng.state._live.items():
                d = f"{eng.state.path}/bucket={b}"
                assert {
                    e for e in os.listdir(d) if e.endswith(".parquet")
                } == set(files)


# ---------------------------------------------------------------------------
# Manifest applied-id folding (VERDICT r4 stretch 8): the exact id set
# stays bounded — evicted LSN-window ids fold into a watermark summary
# that answers is_applied exactly under the replay loop's in-order
# single-writer commits.
# ---------------------------------------------------------------------------


class TestManifestIdFolding:
    def _commit_windows(self, m, n, width=10):
        for i in range(n):
            m.commit(
                {
                    "batch_id": f"lsn_{i * width}_{i * width + width - 1}",
                    "lsn_lo": i * width,
                    "lsn_hi": i * width + width - 1,
                }
            )

    def test_lsn_ids_fold_exactly(self, tmp_path):
        from rfb_cnpj_etl_spark.plans.checkpoint import Manifest

        m = Manifest(str(tmp_path / "m.jsonl"), compact_segments=8,
                     tail_entries=4)
        self._commit_windows(m, 50)
        assert len(m._ids) <= 4  # bounded, not O(batches)
        assert m.count() == 50
        # folded windows still answer applied — exactly
        assert m.is_applied("lsn_0_9")
        assert m.is_applied("lsn_200_209")
        # any whole window under the folded watermark holds only
        # already-absorbed events (replay's own > watermark rule)
        assert m.is_applied("lsn_3_7")
        # tail windows answer from the exact set
        assert m.is_applied("lsn_490_499")
        # future windows are not applied
        assert not m.is_applied("lsn_500_509")
        assert not m.is_applied("lsn_495_503")  # reaches past the hw
        # a reloaded manifest gives the same answers
        m2 = Manifest(str(tmp_path / "m.jsonl"), compact_segments=8,
                      tail_entries=4)
        assert m2.count() == 50
        assert len(m2._ids) <= 4
        assert m2.is_applied("lsn_0_9")
        assert not m2.is_applied("lsn_500_509")
        # commit() dedups a folded id without inflating the count
        m2.commit({"batch_id": "lsn_0_9", "lsn_lo": 0, "lsn_hi": 9})
        assert m2.count() == 50

    def test_non_lsn_ids_stay_exact_forever(self, tmp_path):
        from rfb_cnpj_etl_spark.plans.checkpoint import Manifest

        m = Manifest(str(tmp_path / "m.jsonl"), compact_segments=8,
                     tail_entries=4)
        m.commit({"batch_id": "rebucket_0_to_64", "lsn_lo": 0, "lsn_hi": 0,
                  "buckets": 64})
        self._commit_windows(m, 30)
        # evicted from the tail long ago, but non-LSN → still exact
        assert m.is_applied("rebucket_0_to_64")
        assert not m.is_applied("rebucket_1_to_128")
        m2 = Manifest(str(tmp_path / "m.jsonl"), compact_segments=8,
                      tail_entries=4)
        assert m2.is_applied("rebucket_0_to_64")
        assert m2.current_buckets() == 64
