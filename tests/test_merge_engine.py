"""StateTable MERGE + CdcEngine replay: the idempotency / exactly-once /
schema-evolution invariants (SURVEY §5 graft test plan items 3–5), and
the one COW/MOR write policy of BucketedParquetStore, run on both store
kinds (the state table and the MinHash index's signature store)."""

from __future__ import annotations

import ast
import json
import os
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from conftest import BASE_TEXT, docs_df, log_df, row, spark_jobs, state_dict

from rfb_cnpj_etl_spark.engine import CdcEngine, MaintenancePolicy
from rfb_cnpj_etl_spark.gen import expected_final_state, synthesize_changelog
from rfb_cnpj_etl_spark.operators.dedup import MinhashIndex
from rfb_cnpj_etl_spark.operators.merge import StateTable
from rfb_cnpj_etl_spark.operators import store as store_mod
from rfb_cnpj_etl_spark.operators.store import parquet_footer_rows


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


# ---------------------------------------------------------------------------
# The store's write policy, one test per rule on both store kinds
# ---------------------------------------------------------------------------


class _Kind:
    """One store kind behind a common face: ``store`` (the
    BucketedParquetStore under test), ``write(ids, op, mode)`` and
    ``reopen()``. Keys are ``p<i>`` rows (state) or ``d<i>`` docs
    (index), each id in its own key."""

    def __init__(self, spark, path, kind, buckets):
        self.spark, self.path, self.kind = spark, path, kind
        self.buckets = buckets
        self.lsn = 1000
        self.store = self.reopen()

    def reopen(self):
        if self.kind == "state":
            buckets = StateTable.layout_buckets(self.path) or self.buckets
            self.table = StateTable(self.spark, self.path, buckets=buckets)
            return self.table
        self.index = MinhashIndex(
            self.spark, self.path, k=2, num_hashes=16, bands=4,
            buckets=self.buckets,
        )
        return self.index.sig_store

    def write(self, ids, op="upsert", mode="auto", batch_rows=None) -> str:
        """Apply one batch; returns the mode it ran in."""
        ids = list(ids)
        if self.kind == "state":
            self.lsn += len(ids)
            rows = [
                row("r", f"p{i}", None if op == "delete" else f"v{i}",
                    self.lsn + n, op)
                for n, i in enumerate(ids)
            ]
            return self.table.merge(
                log_df(self.spark, rows), mode=mode, batch_rows=batch_rows
            )["mode"]
        docs = [] if op == "delete" else [
            (f"d{i}", BASE_TEXT + f" v{i}") for i in ids
        ]
        deleted = None
        if op == "delete":
            deleted = self.spark.createDataFrame(
                [(f"d{i}",) for i in ids], "doc_id string"
            )
        m, _ = self.index.ingest(
            docs_df(self.spark, docs), "text", "doc_id", deleted_ids=deleted,
            compute_pairs=False, mode=mode, batch_rows=batch_rows,
        )
        return m["mode"]

    def keys(self) -> set:
        if self.kind == "state":
            return {p for _r, p in state_dict(self.table)}
        return {r["id"] for r in self.index.signatures().collect()}


@pytest.fixture(params=["state", "index_sig"])
def kind(request, spark, tmp_path):
    return lambda buckets: _Kind(
        spark, str(tmp_path / request.param), request.param, buckets
    )


def _est_total(store) -> int:
    return sum(store._row_est.values())


class TestEmptyCompact:
    def test_compact_on_fully_tombstoned_table(self, kind):
        """Compaction reseeds the estimates from the folded base: MOR
        appends only ever grow them (tombstones count), so after
        delete-heavy churn a compaction deflates them to the live rows,
        and a fresh handle reads the same. A compaction that empties
        the store outright (every key tombstoned) must succeed — a
        re-read of the emptied base cannot infer a schema — and record
        a known 0 for every bucket."""
        k = kind(4)
        assert k.write(range(20)) == "cow"
        assert _est_total(k.store) == 20
        assert k.write(range(10), op="delete", mode="mor") == "mor"
        assert _est_total(k.store) == 30
        k.store.compact()
        assert _est_total(k.store) == 10
        k.store = k.reopen()
        assert _est_total(k.store) == 10

        assert k.write(range(10, 20), op="delete", mode="mor") == "mor"
        assert k.store.delta_bucket_ids()
        res = k.store.compact()
        assert res["compacted_buckets"] > 0
        assert not k.store.exists()  # every bucket emptied out
        assert k.store._row_est == {b: 0 for b in range(4)}
        assert not k.store.delta_bucket_ids()
        # the store keeps working: a fresh batch COWs in normally
        assert k.write(["new"]) == "cow"
        assert k.keys() == {"pnew" if k.kind == "state" else "dnew"}


class TestRebucketMarkerFresh:
    def test_marker_carries_new_layout_counts(self, kind):
        """A rebucket stages the new layout's per-bucket row counts in
        the marker that rides the directory swap, so there is no window
        in which a reopen reads old-keyed estimates: the swapped marker
        holds exactly the new buckets' footer counts (0 for a bucket the
        hash left empty), a reopened store reads the same, and auto mode
        goes on choosing MOR for small churn under the new layout."""
        k = kind(2)
        k.write(range(80))
        k.write(range(5), op="delete", mode="mor")  # inflates to 85
        k.store.rebucket(4)
        path = k.store.path
        with open(os.path.join(path, k.store.META_FILE)) as f:
            meta = json.load(f)
        want = {
            b: parquet_footer_rows(f"{path}/bucket={b}")
            if os.path.isdir(f"{path}/bucket={b}") else 0
            for b in range(4)
        }
        assert meta["buckets"] == 4
        assert meta["row_est"] == {str(b): n for b, n in want.items()}
        assert sum(want.values()) == 75
        assert k.store._row_est == want
        k.store = k.reopen()
        assert k.store._row_est == want
        assert k.write([7], batch_rows=1) == "mor"


class TestRecordedSchema:
    """Stores read against the schema their layout marker records."""

    def _stores(self, k):
        if k.kind == "state":
            return [k.store]
        return [k.index.sig_store, k.index.post_store]

    @staticmethod
    def _inferred(spark, root):
        return spark.read.option("basePath", root).parquet(root)

    def test_reads_submit_no_job_and_match_inference(self, kind, spark):
        """read()/read_buckets() build their plans without a Spark job,
        and on a store no evolution touched they yield exactly the
        schema the inferring reads gave: column order, nullability and
        the partition column's type."""
        k = kind(4)
        k.write(range(40))
        k.write(range(5), mode="mor")
        k.write(range(3), op="delete", mode="mor")
        for st in self._stores(k):
            assert st.delta_bucket_ids()
            assert spark_jobs(spark, lambda st=st: st.read().schema) == 0
            assert spark_jobs(spark, lambda st=st: st.read_buckets([0, 1]).schema) == 0
            folded = st._fold_delta(
                self._inferred(spark, st.path), self._inferred(spark, st.delta_root)
            )
            assert st.read().schema == folded.schema
            st.compact()
            assert st.read().schema == self._inferred(spark, st.path).schema
            assert dict(st.read().dtypes)["bucket"] == "int"

    def test_marker_without_schema_reads_the_same(self, kind):
        """A marker written before the field existed infers the schema
        once (every file's footer), reads the same rows, and records
        the schema at the next write."""
        k = kind(4)
        k.write(range(40))
        k.write(range(5), mode="mor")
        before = sorted(map(tuple, k.store.read().collect()))
        marker = os.path.join(k.store.path, k.store.META_FILE)
        with open(marker) as f:
            meta = json.load(f)
        del meta["schema"]
        with open(marker, "w") as f:
            json.dump(meta, f)
        k.store = k.reopen()
        assert k.store._schema is None
        assert sorted(map(tuple, k.store.read().collect())) == before
        assert k.write([7], mode="mor") == "mor"
        with open(marker) as f:
            assert "schema" in json.load(f)

    @pytest.mark.parametrize("then", ["cow", "compact"])
    def test_delta_spanning_add_column_keeps_it(
        self, spark, tmp_path, monkeypatch, then
    ):
        """One delta bucket holds a file from before and one from after
        an add-column evolution; the pre-evolution file sorts first.
        The added ``branch`` column and its values survive the folded
        read, a folding COW window and a compaction."""
        tokens = iter(range(1, 10_000))  # file tokens sort by write order
        monkeypatch.setattr(
            store_mod.uuid, "uuid4", lambda: uuid.UUID(int=next(tokens) << 100)
        )
        log = synthesize_changelog(
            spark, 800, n_repos=4, n_paths=30, delete_ratio=0.2,
            hot_repo_fraction=0.3, evolve_at=400, seed=7,
        ).cache()
        eng = CdcEngine(
            spark, str(tmp_path / "state"), str(tmp_path / "m.jsonl"), buckets=1
        )
        eng.replay(log.filter("lsn < 200").drop("branch"), batch_size=200)
        eng.merge_mode = "mor"
        eng.replay(log.filter("lsn < 400").drop("branch"), batch_size=200)
        entries = eng.replay(log.filter("lsn < 600"), batch_size=200)
        assert [e["mode"] for e in entries] == ["mor"]
        assert len(os.listdir(f"{eng.state.delta_root}/bucket=0")) == 2

        def check(hi):
            state = eng.final_state()
            assert "branch" in state.columns
            cols = ["repo", "path", "lsn", "branch"]
            want = expected_final_state(log.filter(F.col("lsn") < hi))
            assert sorted(map(tuple, state.select(*cols).collect())) == sorted(
                map(tuple, want.select(*cols).collect())
            )
            assert state.filter("lsn >= 400 AND branch IS NULL").count() == 0
            assert state.filter("lsn >= 400").count() > 0
            assert eng.verify_against(want)["ok"]

        check(600)
        if then == "cow":
            eng.merge_mode = "cow"
            assert [e["mode"] for e in eng.replay(log, batch_size=200)] == ["cow"]
            check(800)
        else:
            res = eng.maintain(MaintenancePolicy(max_files_per_bucket=1))
            assert any(a.get("store") == "state" for a in res["actions"]), res
            assert not eng.state.delta_bucket_ids()
            check(600)
        log.unpersist()


class TestOneWritePolicy:
    """Structure guards, no Spark: the COW/MOR policy has one home, and
    the cdcbench tracer's per-store spans (which wrap four store methods
    on BucketedParquetStore only) see every store's writes."""

    PKG = Path(__file__).resolve().parent.parent / "rfb_cnpj_etl_spark"

    def _classes(self):
        for path in sorted(self.PKG.rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, ast.ClassDef):
                    yield node

    def test_mor_constants_defined_only_on_the_base_store(self):
        owners = set()
        for cls in self._classes():
            for stmt in cls.body:
                targets = (
                    stmt.targets if isinstance(stmt, ast.Assign)
                    else [stmt.target] if isinstance(stmt, ast.AnnAssign)
                    else []
                )
                owners |= {
                    (cls.name, t.id)
                    for t in targets
                    if isinstance(t, ast.Name)
                    and t.id in ("MOR_ROW_RATIO", "DELTA_FILES_CAP")
                }
        assert owners == {
            ("BucketedParquetStore", "MOR_ROW_RATIO"),
            ("BucketedParquetStore", "DELTA_FILES_CAP"),
        }

    def test_no_store_subclass_overrides_a_traced_method(self):
        from cdcbench.tracing import STORE_METHODS

        classes = list(self._classes())
        subclasses = {"BucketedParquetStore"}
        grew = True
        while grew:
            before = len(subclasses)
            subclasses |= {
                c.name
                for c in classes
                if any(
                    getattr(b, "id", getattr(b, "attr", None)) in subclasses
                    for b in c.bases
                )
            }
            grew = len(subclasses) > before
        assert {"StateTable", "_LwwIndexStore"} <= subclasses
        overrides = {
            (c.name, f.name)
            for c in classes
            if c.name in subclasses - {"BucketedParquetStore"}
            for f in c.body
            if isinstance(f, ast.FunctionDef) and f.name in STORE_METHODS
        }
        assert overrides == set()
