"""Bucketed incremental MinHash index (round-3 rebuild).

Verifies the three properties the round-2 verdict demanded:

1. per-batch I/O scales with the BATCH, not the corpus (touched-bucket
   rewrite, pruned posting reads);
2. incremental pairs are IDENTICAL to a full LSH recompute restricted to
   pairs touching the new docs — including after content updates and
   deletes (stale postings removed exactly);
3. a crash anywhere in the two-store swap is recovered from the journal
   at the next construction (the round-2 ADVICE hole — a crash mid-
   rename silently dropping the whole index — is structurally gone).
"""

from __future__ import annotations

import random

import pytest

from conftest import BASE_TEXT, OTHER_TEXT, docs_df, spark_jobs

from rfb_cnpj_etl_spark.operators.dedup import MinhashIndex, minhash_lsh_pairs
from rfb_cnpj_etl_spark.operators.store import (
    BucketedParquetStore,
    TouchedSetMismatchError,
)

PARAMS = dict(k=2, num_hashes=16, bands=4, hash_family="xxhash64")
THRESHOLD = 0.4


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus_rows(n, seed=11):
    """Deterministic unrelated documents."""
    rng = random.Random(seed)
    vocab = [f"tok{i}" for i in range(500)]
    return [
        (i, " ".join(rng.choice(vocab) for _ in range(30))) for i in range(n)
    ]


def _near_dup(row, doc_id):
    """A near-duplicate of ``row`` under a new id (drop last 3 words)."""
    return (doc_id, " ".join(row[1].split()[:-3]))


def _full_pairs_touching(spark, all_rows, new_ids):
    full = minhash_lsh_pairs(
        _docs(spark, all_rows),
        "text",
        "doc_id",
        threshold=THRESHOLD,
        cache=False,
        **PARAMS,
    )
    return {
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 6))
        for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }


def _inc_pairs(df) -> set:
    return {
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 6)) for r in df.collect()
    }


class TestBatchScaledIO:
    def test_update_touches_batch_not_corpus(self, spark, tmp_path):
        idx = MinhashIndex(spark, str(tmp_path / "idx"), buckets=64, **PARAMS)
        base = _corpus_rows(1500)
        m0 = idx.update(_docs(spark, base))
        total_sig = idx.sig_store.health()["bytes"]
        total_post = idx.post_store.health()["bytes"]
        assert m0["sig_touched_buckets"] == 64  # bulk load touches all

        # a 4-doc batch against the 1500-doc corpus
        batch = [(2000 + i, t) for i, (_, t) in enumerate(_corpus_rows(4, seed=99))]
        m1 = idx.update(_docs(spark, batch))
        # id-bucket side: ≤ 4 of 64 buckets rewritten
        assert m1["sig_touched_buckets"] <= 4
        # posting side: ≤ 4 docs × 4 bands (old side empty: fresh ids)
        assert m1["post_touched_buckets"] <= 16
        # bytes written scale with the touched slice, not the corpus
        assert m1["sig_bytes_written"] < 0.25 * total_sig
        assert m1["post_bytes_written"] < 0.5 * total_post

    def test_pair_probe_reads_pruned_buckets(self, spark, tmp_path):
        idx = MinhashIndex(spark, str(tmp_path / "idx"), buckets=64, **PARAMS)
        idx.update(_docs(spark, _corpus_rows(800)))
        batch = [(9000, _corpus_rows(1, seed=5)[0][1])]
        idx.update(_docs(spark, batch))
        banded = idx._banded(
            idx._sigs_of(_docs(spark, batch), "text", "doc_id")
        )
        touched = idx._distinct_buckets(
            banded.select("band", "bkey"), idx._post_bucket()
        )
        # 1 doc × 4 bands hits at most 4 of 64 posting partitions
        assert len(touched) <= 4


class TestIncrementalExactness:
    def test_pairs_match_full_recompute(self, spark, tmp_path):
        idx = MinhashIndex(spark, str(tmp_path / "idx"), buckets=16, **PARAMS)
        base = _corpus_rows(200)
        idx.update(_docs(spark, base))

        batch = [
            _near_dup(base[3], 1003),
            _near_dup(base[7], 1007),
            (1100, _corpus_rows(1, seed=77)[0][1]),
        ]
        # new×new planted pair too
        batch.append(_near_dup(batch[0], 1200))
        metrics, pairs = idx.ingest(
            _docs(spark, batch), threshold=THRESHOLD
        )
        got = _inc_pairs(pairs)
        new_ids = {i for i, _ in batch}
        want = _full_pairs_touching(spark, base + batch, new_ids)
        assert got == want
        assert any(a == 3 or b == 3 for a, b, _ in got)  # old×new found

    def test_content_update_removes_stale_postings(self, spark, tmp_path):
        idx = MinhashIndex(spark, str(tmp_path / "idx"), buckets=16, **PARAMS)
        base = _corpus_rows(100)
        a_dup = _near_dup(base[0], 500)  # 500 ≈ doc 0
        idx.update(_docs(spark, base + [a_dup]))

        # doc 500 is rewritten to unrelated content
        rewrite = [(500, _corpus_rows(1, seed=123)[0][1])]
        idx.update(_docs(spark, rewrite))
        # postings for id 500 exist exactly once per band, all fresh
        posts = idx.post_store.read().filter("id = 500").collect()
        assert len(posts) == PARAMS["bands"]
        # a probe that was a near-dup of the OLD content no longer pairs
        # with 500, and the incremental result matches a full recompute
        # over the CURRENT corpus
        probe = [_near_dup(base[0], 900)]
        idx.update(_docs(spark, probe))
        got = _inc_pairs(idx.incremental_pairs(_docs(spark, probe), threshold=THRESHOLD))
        cur_rows = base + [rewrite[0]] + probe
        want = _full_pairs_touching(spark, cur_rows, {900})
        assert got == want
        assert not any(500 in (a, b) for a, b, _ in got)

    def test_delete_removes_doc_everywhere(self, spark, tmp_path):
        idx = MinhashIndex(spark, str(tmp_path / "idx"), buckets=16, **PARAMS)
        base = _corpus_rows(60)
        dup = _near_dup(base[5], 700)
        idx.update(_docs(spark, base + [dup]))
        assert idx.signatures().count() == 61

        deleted = spark.createDataFrame([(700,)], "doc_id long")
        idx.update(_docs(spark, []).limit(0), deleted_ids=deleted)
        assert idx.signatures().count() == 60
        assert idx.post_store.read().filter("id = 700").count() == 0
        # a new near-dup of doc 5 pairs with 5 but never with deleted 700
        probe = [_near_dup(base[5], 800)]
        idx.update(_docs(spark, probe))
        got = _inc_pairs(idx.incremental_pairs(_docs(spark, probe), threshold=THRESHOLD))
        assert any({a, b} == {5, 800} for a, b, _ in got)
        assert not any(700 in (a, b) for a, b, _ in got)


class TestCrashRecovery:
    def _twin_state(self, spark, tmp_path, name, batches):
        idx = MinhashIndex(spark, str(tmp_path / name), buckets=16, **PARAMS)
        for docs, deleted in batches:
            idx.update(docs, deleted_ids=deleted)
        sig = {(r["id"], tuple(r["sig"])) for r in idx.signatures().collect()}
        post = {
            (r["band"], r["bkey"], r["id"])
            for r in idx.post_store.read().collect()
        }
        return sig, post

    @pytest.mark.parametrize("protocol", ["rename", "pointer"])
    @pytest.mark.parametrize("fail_store", ["sig", "post"])
    def test_crash_between_swaps_redone_from_journal(
        self, spark, tmp_path, fail_store, protocol
    ):
        idx = MinhashIndex(
            spark, str(tmp_path / "idx"), buckets=16,
            commit_protocol=protocol, **PARAMS,
        )
        b1 = _docs(spark, _corpus_rows(80))
        idx.update(b1)

        b2_rows = [_near_dup(_corpus_rows(80)[2], 300), (301, "totally new words")]
        b2 = _docs(spark, b2_rows)
        # crash BEFORE this store's commit runs. ingest commits sig
        # first, then post — so fail_store="sig" crashes with NEITHER
        # store committed (journal present, both stagings intact) and
        # fail_store="post" crashes with sig committed but post torn
        # (the cross-store inconsistency ADVICE r2 flagged).
        store = idx.sig_store if fail_store == "sig" else idx.post_store

        def boom(staging, touched, staged=None, token=None):
            raise RuntimeError("simulated crash mid-swap")

        store.commit_staged = boom
        with pytest.raises(RuntimeError):
            idx.update(b2)

        # a fresh construction replays the journal and converges
        # (protocol comes back from the stores' own layout markers)
        recovered = MinhashIndex(spark, str(tmp_path / "idx"), buckets=16, **PARAMS)
        assert recovered.sig_store.commit_protocol == protocol
        sig = {
            (r["id"], tuple(r["sig"])) for r in recovered.signatures().collect()
        }
        post = {
            (r["band"], r["bkey"], r["id"])
            for r in recovered.post_store.read().collect()
        }
        want_sig, want_post = self._twin_state(
            spark,
            tmp_path,
            "twin",
            [(b1, None), (b2, None)],
        )
        assert sig == want_sig
        assert post == want_post
        import os

        assert not os.path.exists(recovered._journal_path())

    def test_rerun_after_crash_before_journal_is_clean(self, spark, tmp_path):
        """Crash during staging (journal never written): stagings are
        garbage, the next ingest wipes and redoes them."""
        idx = MinhashIndex(spark, str(tmp_path / "idx"), buckets=16, **PARAMS)
        idx.update(_docs(spark, _corpus_rows(50)))
        # leave a poisoned staging dir behind
        import os

        staging = f"{idx.sig_store.path}.staging"
        os.makedirs(f"{staging}/bucket=0", exist_ok=True)
        with open(f"{staging}/bucket=0/garbage.parquet", "w") as f:
            f.write("not parquet")
        batch = _docs(spark, [(600, "fresh words here")])
        idx.update(batch)
        assert idx.signatures().filter("id = 600").count() == 1


class TestParamsMarker:
    def test_reopen_with_different_params_fails_loudly(self, spark, tmp_path):
        idx = MinhashIndex(spark, str(tmp_path / "idx"), buckets=16, **PARAMS)
        idx.update(_docs(spark, _corpus_rows(5)))
        # same params → fine
        MinhashIndex(spark, str(tmp_path / "idx"), buckets=16, **PARAMS)
        bad = dict(PARAMS, num_hashes=32, bands=8)
        with pytest.raises(ValueError, match="not comparable"):
            MinhashIndex(spark, str(tmp_path / "idx"), buckets=16, **bad)


class TestIndexTouchedSetGuard:
    def test_cow_ingest_outside_touched_raises_typed(
        self, spark, tmp_path, monkeypatch
    ):
        """A COW ingest whose staged sig buckets fall outside the
        touched set (the bucket probe dropped one) raises the store's
        typed guard before the swap journal is written: both stores
        read exactly as before and no staging dir is left."""
        import os

        idx = MinhashIndex(spark, str(tmp_path / "idx"), buckets=8, **PARAMS)
        idx.update(_docs(spark, _corpus_rows(60)))

        def contents(store):
            return sorted(map(tuple, store.read().collect()))

        before = contents(idx.sig_store), contents(idx.post_store)
        probe = MinhashIndex._snapshot
        calls = []

        def drop_one_sig_bucket(self, *args):
            snapshot, touched_sig, new_post = probe(self, *args)
            calls.append(touched_sig)
            return snapshot, touched_sig[1:], new_post

        monkeypatch.setattr(MinhashIndex, "_snapshot", drop_one_sig_bucket)
        batch = _docs(spark, [(i, f"changed text {i} words") for i in range(20)])
        with pytest.raises(TouchedSetMismatchError, match="outside the precomputed"):
            idx.ingest(batch, compute_pairs=False, mode="cow")
        assert len(calls[0]) > 1  # the batch spans the dropped bucket and more
        assert not os.path.exists(idx._journal_path())
        assert (contents(idx.sig_store), contents(idx.post_store)) == before
        left = [
            name
            for _root, dirs, _files in os.walk(tmp_path)
            for name in dirs
            if name.endswith(".staging")
        ]
        assert left == []


class TestIngestJobBudget:
    #: Spark jobs of one warm ingest below (upserts, deletes and the
    #: pair probe): one snapshot write that observes its touched
    #: buckets, one old-key probe, two stage writes and the pairs
    #: write, each with its shuffle and broadcast stages. Schema
    #: inference on every store read and three bucket collects made it
    #: 27 (COW) and 28 (MOR). From the second MOR ingest on, the stored
    #: signatures it reads hold deltas, so that read folds them: the
    #: fold's exchange adds one stage job to each of the two jobs that
    #: read it (the old-key probe and the posting delta write).
    BUDGET = {"cow": 12, "mor": 15, "mor_folded": 17}

    def test_warm_ingest_stays_within_budget(self, spark, tmp_path, monkeypatch):
        """A warm forced-COW and forced-MOR ingest each stay within the
        job budget, find the same pairs, and the pair probe reuses the
        new-key posting buckets the snapshot write observed instead of
        collecting them again. Further MOR ingests into the same
        buckets stay flat: more delta files cost no more jobs."""
        idx = MinhashIndex(spark, str(tmp_path / "idx"), buckets=8, **PARAMS)
        base = _corpus_rows(200)
        idx.ingest(_docs(spark, base), pairs_out=str(tmp_path / "p0"))
        probe = MinhashIndex._distinct_buckets
        pairs_for = MinhashIndex._pairs_for
        in_pairs_for, probes_there = [], []

        def counting_probe(df, bucket_col):
            probes_there.extend(in_pairs_for)
            return probe(df, bucket_col)

        def flagged_pairs_for(self, *args, **kwargs):
            in_pairs_for.append(True)
            try:
                return pairs_for(self, *args, **kwargs)
            finally:
                in_pairs_for.pop()

        monkeypatch.setattr(
            MinhashIndex, "_distinct_buckets", staticmethod(counting_probe)
        )
        monkeypatch.setattr(MinhashIndex, "_pairs_for", flagged_pairs_for)
        deleted = spark.createDataFrame([(1,), (2,)], "doc_id long")
        counts = []
        for n, mode in enumerate(["cow", "mor", "mor", "mor"], 1):
            batch = [_near_dup(base[10 + n], 10 + n), _near_dup(base[3], 500 + n)]
            got = {}

            def ingest():
                got["m"], _ = idx.ingest(
                    _docs(spark, batch), deleted_ids=deleted, mode=mode,
                    batch_rows=4, threshold=THRESHOLD,
                    pairs_out=str(tmp_path / f"p{n}"),
                )

            jobs = spark_jobs(spark, ingest)
            assert got["m"]["mode"] == mode
            assert got["m"]["pairs"] >= 1
            budget = self.BUDGET["mor_folded" if n > 2 else mode]
            assert jobs <= budget, (n, mode, jobs)
            counts.append(jobs)
        assert counts[2] == counts[3], counts
        assert probes_there == []


class TestIndexCapTouchedOnly:
    def _sig_bucket_of(self, idx, doc):
        sigs = idx._sigs_of(docs_df(idx.spark, [doc]), "text", "doc_id")
        return idx._distinct_buckets(sigs.select("id"), idx._sig_bucket())

    def _post_buckets_of(self, idx, doc):
        nb = idx._banded(idx._sigs_of(docs_df(idx.spark, [doc]), "text", "doc_id"))
        return set(
            idx._distinct_buckets(nb.select("band", "bkey"), idx._post_bucket())
        )

    def test_untouched_capped_bucket_does_not_disable_mor(
        self, spark, tmp_path, monkeypatch
    ):
        """One capped bucket that later batches never touch must not
        force them onto COW (the store's cap check is touched-only;
        forced COW rewrites only touched buckets, so it could never
        clear the capped one — a global check would disable MOR
        permanently)."""
        monkeypatch.setattr(BucketedParquetStore, "DELTA_FILES_CAP", 2)
        idx = MinhashIndex(
            spark, str(tmp_path / "idx"), k=2, num_hashes=16, bands=4,
            buckets=64,
        )
        seed = [(f"s{i}", BASE_TEXT + f" v{i} {i * 13}") for i in range(600)]
        idx.update(docs_df(spark, seed), "text", "doc_id")  # cow
        hot_doc = ("hot", OTHER_TEXT + " hotdoc")
        for j in range(2):  # cap the hot doc's buckets with MOR deltas
            m = idx.update(
                docs_df(spark, [("hot", OTHER_TEXT + f" hotdoc v{j}")]),
                "text", "doc_id", mode="mor",
            )
            assert m["mode"] == "mor"
        hot_sig = set(self._sig_bucket_of(idx, hot_doc))
        capped_sig = {
            b
            for b, v in idx.sig_store.delta_file_counts().items()
            if v >= BucketedParquetStore.DELTA_FILES_CAP
        }
        assert capped_sig  # the hot doc's sig bucket hit the cap
        hot_post = {
            b
            for b, v in idx.post_store.delta_file_counts().items()
            if v >= 1
        }
        # find a cold doc whose sig AND post buckets avoid the hot ones
        # (and whose sig bucket has enough rows for the MOR ratio test)
        cold = None
        for i in range(40):
            cand = (f"y{i}", BASE_TEXT + f" cold candidate {i * 31}")
            sb = set(self._sig_bucket_of(idx, cand))
            if sb & hot_sig:
                continue
            if any(idx.sig_store._row_est.get(b, 0) < 4 for b in sb):
                continue
            if self._post_buckets_of(idx, cand) & hot_post:
                continue
            cold = cand
            break
        assert cold is not None, "no disjoint candidate found (layout luck)"
        m, _ = idx.ingest(
            docs_df(spark, [cold]), "text", "doc_id", compute_pairs=False,
            mode="auto",
        )
        assert m["mode"] == "mor"  # a global cap check would pick cow
        # a batch that DOES touch the capped bucket still forces the
        # folding COW, which clears it
        m2, _ = idx.ingest(
            docs_df(spark, [("hot", OTHER_TEXT + " hotdoc v9")]),
            "text", "doc_id", compute_pairs=False, mode="auto",
        )
        assert m2["mode"] == "cow"
        assert not {
            b
            for b, v in idx.sig_store.delta_file_counts().items()
            if b in capped_sig and v > 0
        }
