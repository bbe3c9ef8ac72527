"""Group apply: the consecutive merge-on-read windows one ``replay`` call
finds are applied as one plan — one LWW pass, one classification, one
feed write, one delta append, one index ingest — while each window keeps
its feed dir, pairs dir, manifest entry and ``state_as_of`` point.

The reference is the same log replayed one window per ``replay`` call.
A grouped replay must equal it in every feed dir, every manifest
``change_rows``, the state, the aggregate and every window's
``state_as_of``, and with a MinHash index in every pairs dir, each
entry's ``near_dup_pairs`` and the index stores; so must a grouped
replay crashed at each point of the group's commit and then re-driven.
A per-call job budget pins what a warm window costs."""

from __future__ import annotations

import os

import pytest
from conftest import feed_rows, log_df, oracle_feed, oracle_pairs, row, spark_jobs
from pyspark.sql import functions as F

from rfb_cnpj_etl_spark.engine import CdcEngine, MaintenancePolicy
from rfb_cnpj_etl_spark.gen import synthesize_changelog
from rfb_cnpj_etl_spark.operators import dedup, publish
from rfb_cnpj_etl_spark.operators.dedup import MinhashIndex
from rfb_cnpj_etl_spark.operators.ivm import IncrementalAggregate
from rfb_cnpj_etl_spark.operators.merge import FeedWindow, StateTable
from rfb_cnpj_etl_spark.operators.store import TouchedSetMismatchError
from rfb_cnpj_etl_spark.plans.checkpoint import Manifest

#: the copy-on-write seed window holds lsn < SEED, without ``branch``;
#: then windows of WINDOW events up to END, ``branch`` values from EVOLVE
SEED, WINDOW, END, EVOLVE = 600, 100, 1200, 950
FEEDS = ("preimages", "keys", "off")


@pytest.fixture(scope="module")
def log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("group") / "log")
    synthesize_changelog(
        spark, END, n_repos=4, n_paths=30, delete_ratio=0.2,
        hot_repo_fraction=0.3, evolve_at=EVOLVE, seed=11,
    ).write.parquet(path)
    return spark.read.parquet(path)


def _open(spark, root, feed):
    eng = CdcEngine(
        spark,
        os.path.join(root, "state"),
        os.path.join(root, "m.jsonl"),
        buckets=4,
        normalize=None,
        changes_dir=None if feed == "off" else os.path.join(root, "feed"),
        feed_preimages=feed == "preimages",
    )
    eng.merge_mode = "mor"
    aggs = []
    if feed == "preimages":
        aggs.append(
            IncrementalAggregate(
                spark, os.path.join(root, "agg"), ["repo"], {"chars": "length(content)"}
            )
        )
    return eng, aggs


def _seeded(spark, log, root, feed):
    eng, aggs = _open(spark, root, feed)
    eng.merge_mode = "cow"
    eng.replay(log.filter(F.col("lsn") < SEED).drop("branch"), batch_size=SEED, aggregates=aggs)
    eng.merge_mode = "mor"
    return eng, aggs


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(repr(r[c]) for c in cols) for r in df.collect()), cols


def _snapshot(spark, eng, aggs) -> dict:
    """Everything a window leaves behind, comparable across runs."""
    state = lambda df: _rows(df.select("repo", "path", "lsn", "content_sha256"))  # noqa: E731
    out = {
        "state": state(eng.final_state()),
        "entries": [
            (
                e["batch_id"], e["lsn_lo"], e["lsn_hi"], e["mode"], e.get("change_rows"),
                e["touched_buckets"], e["added_columns"], e["schema_version"],
            )
            for e in eng._merge_entries()
        ],
    }
    if eng.changes_dir:
        dirs = publish.published(eng.changes_dir, "batch")
        out["feeds"] = {b: _rows(spark.read.parquet(d)) for b, d in dirs.items()}
        out["files"] = {
            b: sum(f.endswith(".parquet") for f in os.listdir(d)) for b, d in dirs.items()
        }
        out["as_of"] = {e[0]: state(eng.state_as_of(e[0])) for e in out["entries"]}
    if aggs:
        out["agg"] = _rows(aggs[0].read())
    return out


def _count_calls(monkeypatch, cls, name):
    """Record the positional args of every call to ``cls.name``."""
    calls = []
    orig = getattr(cls, name)

    def spy(self, *args, **kwargs):
        calls.append(args)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, name, spy)
    return calls


def _reference(spark, log, root, feed):
    """The per-window reference: one window per replay call."""
    eng, aggs = _seeded(spark, log, root, feed)
    for hi in range(SEED + WINDOW, END + 1, WINDOW):
        (entry,) = eng.replay(log.filter(F.col("lsn") < hi), batch_size=WINDOW, aggregates=aggs)
    return _snapshot(spark, eng, aggs)


@pytest.fixture(scope="module")
def reference_roots(tmp_path_factory):
    return {feed: str(tmp_path_factory.mktemp(f"ref_{feed}")) for feed in FEEDS}


@pytest.fixture(scope="module")
def reference(spark, log, reference_roots):
    return {feed: _reference(spark, log, reference_roots[feed], feed) for feed in FEEDS}


class TestGroupEquivalence:
    def test_log_covers_the_group_cases(self, log):
        """The replayed windows hold a key in every window, a delete
        then a reinsert of one key in later windows, and the first
        ``branch`` value mid-group; and the grouped call is the first
        whose log carries the column (the seed drops it)."""
        rows = [r for r in log.collect() if r["lsn"] >= SEED]
        windows = {}
        for r in rows:
            windows.setdefault((r["repo"], r["path"]), []).append((r["lsn"] // WINDOW, r["op"]))
        n = (END - SEED) // WINDOW
        assert any(len({w for w, _ in evs}) == n for evs in windows.values())
        assert any(
            any(
                op == "delete" and any(w2 > w and op2 == "upsert" for w2, op2 in evs)
                for w, op in evs
            )
            for evs in windows.values()
        )
        first = min(r["lsn"] for r in rows if r["branch"] is not None)
        assert SEED + WINDOW <= first < END - WINDOW

    @pytest.mark.parametrize("feed", ["preimages", "keys"])
    def test_reference_feeds_equal_the_oracle(
        self, spark, log, reference, reference_roots, feed
    ):
        """The per-window reference runs the group's classification (as a
        group of one), so equal feeds alone prove little: every reference
        feed dir must also be the oracle's row diff at consecutive
        ``lsn_hi``, the merge-on-read windows against state deltas."""
        prev_hi = None
        for batch_id, _lo, hi, _mode, change_rows, *_ in reference[feed]["entries"]:
            d = os.path.join(reference_roots[feed], "feed", f"batch={batch_id}")
            rows = feed_rows(spark.read.parquet(d))
            assert len(rows) == len(set(rows)) == change_rows
            assert set(rows) == oracle_feed(log, prev_hi, hi, feed == "preimages"), batch_id
            prev_hi = hi

    @pytest.mark.parametrize("feed", FEEDS)
    def test_grouped_replay_equals_per_window(
        self, spark, log, tmp_path, monkeypatch, reference, feed
    ):
        eng, aggs = _seeded(spark, log, str(tmp_path), feed)
        calls = _count_calls(monkeypatch, CdcEngine, "apply_batch")
        entries = eng.replay(log, batch_size=WINDOW, aggregates=aggs)
        monkeypatch.undo()
        # one apply_batch call (one plan) holding all six windows
        assert [len(args) - 1 for args in calls] == [(END - SEED) // WINDOW]
        assert [e["mode"] for e in entries] == ["mor"] * len(calls[0][1:])
        got = _snapshot(spark, eng, aggs)
        assert got == reference[feed]
        # the group's write metrics ride its last entry only
        assert [("rows" in e) for e in entries] == [False] * 5 + [True]
        if feed != "off":
            assert set(got["files"].values()) == {1}
            assert sum(e["change_rows"] for e in entries) > 0


class Crash(BaseException):
    """An injected crash: no ``except Exception`` on the path sees it."""


def _crash_on(monkeypatch, cls, name, after: int = 0):
    """Raise :class:`Crash` at call ``after + 1`` of ``cls.name``."""
    orig = getattr(cls, name)
    seen = []

    def crash(self, *args, **kwargs):
        if len(seen) == after:
            raise Crash
        seen.append(1)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, name, crash)


class TestGroupCrash:
    """Feeds publish before the state mutates and windows commit in
    order, so a crash at any point re-drives the uncommitted windows
    one by one, each reusing its published feed."""

    @pytest.mark.parametrize(
        "point,committed",
        [
            ("feeds_published", 0),  # every feed dir published, state untouched
            ("appended", 0),  # state holds the group, no window committed
            ("committed", 2),  # two of six windows committed
        ],
    )
    def test_crash_recovers_to_the_uncrashed_replay(
        self, spark, log, tmp_path, monkeypatch, reference, point, committed
    ):
        root = str(tmp_path)
        eng, aggs = _seeded(spark, log, root, "preimages")
        if point == "feeds_published":
            _crash_on(monkeypatch, StateTable, "_merge_mor")
        else:
            _crash_on(monkeypatch, Manifest, "commit", after=committed)
        with pytest.raises(Crash):
            eng.replay(log, batch_size=WINDOW, aggregates=aggs)
        monkeypatch.undo()
        n = (END - SEED) // WINDOW
        assert len(publish.published(eng.changes_dir, "batch")) == 1 + n
        assert len(eng._merge_entries()) == 1 + committed

        eng, aggs = _open(spark, root, "preimages")  # a restarted process
        calls = _count_calls(monkeypatch, CdcEngine, "apply_batch")
        entries = eng.replay(log, batch_size=WINDOW, aggregates=aggs)
        monkeypatch.undo()
        # the re-drive goes window by window, reusing each published feed
        assert [len(args) - 1 for args in calls] == [1] * (n - committed)
        assert all(e.get("change_feed_reused") for e in entries)
        assert _snapshot(spark, eng, aggs) == reference["preimages"]
        assert aggs[0].verify_against_state(eng)["ok"]

    def test_retention_keeps_uncommitted_feed_dirs(
        self, spark, log, tmp_path, monkeypatch, reference
    ):
        """A crash after a group's append leaves its feed dirs published
        but uncommitted, and the state already holds their changes:
        retention must not prune them, or the re-drive would recompute
        an empty feed against the mutated state."""
        root = str(tmp_path)
        eng, _aggs = _seeded(spark, log, root, "keys")
        hi = SEED + 2 * WINDOW
        _crash_on(monkeypatch, Manifest, "commit")
        with pytest.raises(Crash):
            eng.replay(log.filter(F.col("lsn") < hi), batch_size=WINDOW)
        monkeypatch.undo()
        seed_id = eng._merge_entries()[0]["batch_id"]
        planted = sorted(set(publish.published(eng.changes_dir, "batch")) - {seed_id})
        assert len(planted) == 2

        rep = eng.maintain(
            MaintenancePolicy(max_files_per_bucket=10_000, changes_retention_batches=0)
        )
        assert {"store": "change_feed", "action": "prune", "removed_batch_dirs": 1} in rep[
            "actions"
        ]
        assert sorted(publish.published(eng.changes_dir, "batch")) == planted

        entries = eng.replay(log.filter(F.col("lsn") < hi), batch_size=WINDOW)
        assert [e["batch_id"] for e in entries] == planted
        feeds = {
            b: _rows(spark.read.parquet(d))
            for b, d in publish.published(eng.changes_dir, "batch").items()
        }
        assert feeds == {b: reference["keys"]["feeds"][b] for b in planted}
        want = {e[0]: e[4] for e in reference["keys"]["entries"]}
        assert all(e["change_rows"] == want[e["batch_id"]] > 0 for e in entries)


def test_touched_set_mismatch_unpublishes_every_group_feed(spark, tmp_path):
    """The touched-set guard fires after a group's feeds publish: the
    grouped merge must unpublish all of them, the state unchanged."""
    t = StateTable(spark, str(tmp_path / "state"), ["repo", "path"], buckets=8)
    t.merge(log_df(spark, [row("r", f"p{i}", "v1", i) for i in range(32)]))
    before = sorted(t.read().collect())
    batch = log_df(spark, [row("r", f"p{i}", "v2", 100 + i) for i in range(32)])
    real = t.touched_buckets(batch)
    windows = [
        FeedWindow(str(tmp_path / f"changes/batch=w{i}"), hi, real[:1])
        for i, hi in enumerate((115, 131))
    ]
    with pytest.raises(TouchedSetMismatchError):
        t.merge(batch, touched=real[:1], changes_out=windows)
    assert not any(os.path.isdir(w.out_dir) for w in windows)
    assert sorted(t.read().collect()) == before


# -- engines with a MinHash index -------------------------------------------

#: the index log: a copy-on-write seed below ISEED, then IWINDOWS windows
#: of WINDOW events, one group; a near-copy's original is one of the
#: NEAR_SPAN events before it, so often in an earlier window of the group
ISEED, IWINDOWS, NEAR_SPAN, THRESHOLD = 400, 4, 150, 0.5
IEND = ISEED + IWINDOWS * WINDOW
#: index variants: pair cap, and whether the index rides the seed window
#: (the group ingests merge-on-read) or starts at the group (copy-on-write
#: into an empty index, as the benchmark's rounds do)
INDEXES = {"exact": (None, True), "capped": (2, False)}


@pytest.fixture(scope="module")
def ilog(spark, tmp_path_factory):
    """Near-copy content: a third of the upserts copy an earlier event's
    body and change only its last word."""
    path = str(tmp_path_factory.mktemp("igroup") / "log")
    lsn = F.col("lsn")

    def h(salt):
        return F.abs(F.xxhash64(lsn, F.lit(salt)))

    near = ((h(1) % 3) == 0) & (lsn >= NEAR_SPAN)
    body = F.when(near, lsn - 1 - h(2) % NEAR_SPAN).otherwise(lsn).cast("string")
    words = [F.substring(F.md5(F.concat_ws(":", body, F.lit(j))), 1, 6) for j in range(12)]
    synthesize_changelog(
        spark, IEND, n_repos=4, n_paths=50, delete_ratio=0.2, hot_repo_fraction=0.3, seed=23,
    ).withColumn(
        "content", F.concat_ws(" ", *words, F.concat(F.lit("v"), lsn.cast("string")))
    ).write.parquet(path)
    return spark.read.parquet(path)


def _open_index(spark, root):
    eng = CdcEngine(
        spark, os.path.join(root, "state"), os.path.join(root, "m.jsonl"),
        buckets=4, normalize=None,
    )
    eng.merge_mode = "mor"
    idx = MinhashIndex(
        spark, os.path.join(root, "idx"), k=3, num_hashes=16, bands=4, buckets=4,
        hash_family="xxhash64",
    )
    return eng, idx


def _iseeded(spark, ilog, root, variant):
    eng, idx = _open_index(spark, root)
    eng.merge_mode = "cow"
    eng.replay(
        ilog.filter(F.col("lsn") < ISEED), batch_size=ISEED,
        minhash_index=idx if INDEXES[variant][1] else None,
    )
    eng.merge_mode = "mor"
    return eng, idx


def _ireplay(eng, idx, ilog, variant, hi=IEND):
    return eng.replay(
        ilog.filter(F.col("lsn") < hi), batch_size=WINDOW, minhash_index=idx,
        index_threshold=THRESHOLD, index_max_fanout=INDEXES[variant][0],
    )


def _pairs_dirs(idx) -> dict[str, str]:
    return publish.published(os.path.join(idx.path, "pairs"), "batch")


def _isnapshot(spark, eng, idx) -> dict:
    """Everything an index window leaves behind, comparable across runs."""
    return {
        "state": _rows(eng.final_state().select("repo", "path", "lsn", "content_sha256")),
        "entries": [
            (
                e["batch_id"], e["lsn_lo"], e["lsn_hi"], e["mode"], e["touched_buckets"],
                e.get("near_dup_pairs"),
            )
            for e in eng._merge_entries()
        ],
        "pairs": {b: _rows(spark.read.parquet(d)) for b, d in _pairs_dirs(idx).items()},
        "sigs": _rows(idx.signatures()),
        "post": _rows(idx.post_store.read().select("band", "bkey", "id", "sig")),
    }


@pytest.fixture(scope="module")
def iref_roots(tmp_path_factory):
    return {v: str(tmp_path_factory.mktemp(f"iref_{v}")) for v in INDEXES}


@pytest.fixture(scope="module")
def ireference(spark, ilog, iref_roots):
    """Per variant: the log replayed one window per call."""
    out = {}
    for variant, root in iref_roots.items():
        eng, idx = _iseeded(spark, ilog, root, variant)
        for hi in range(ISEED + WINDOW, IEND + 1, WINDOW):
            (entry,) = _ireplay(eng, idx, ilog, variant, hi)
        out[variant] = _isnapshot(spark, eng, idx)
    return out


def _ref_pairs(spark, iref_roots, batch_id):
    """The exact reference's pairs of one window, as collected rows."""
    return spark.read.parquet(
        os.path.join(iref_roots["exact"], "idx", "pairs", f"batch={batch_id}")
    ).collect()


def _window_of(lsn: int) -> int:
    """The group window (0-based) an lsn falls in; −1 before the group."""
    return (lsn - ISEED) // WINDOW if lsn >= ISEED else -1


class TestIndexGroup:
    def test_log_covers_the_index_group_cases(self, spark, ilog, ireference, iref_roots):
        """The group holds a key in every window, a delete then a
        reinsert, a near-copy paired with an original written in an
        earlier window of the group, and a paired doc that a later
        window of the group updates or deletes."""
        events: dict = {}
        for r in ilog.filter(F.col("lsn") >= ISEED).collect():
            events.setdefault(
                f"{r['repo']}{CdcEngine._ID_SEP}{r['path']}", []
            ).append((r["lsn"], r["op"]))
        assert any(len({_window_of(lsn) for lsn, _ in evs}) == IWINDOWS for evs in events.values())
        assert any(
            any(
                op == "delete" and any(l2 > lsn and o2 == "upsert" for l2, o2 in evs)
                for lsn, op in evs
            )
            for evs in events.values()
        )
        ref = ireference["exact"]
        ids = [e[0] for e in ref["entries"][1:]]
        earlier_original = later_change = False
        for j, batch_id in enumerate(ids):
            hi = ISEED + (j + 1) * WINDOW - 1
            last = {}
            for doc, evs in events.items():
                for lsn, _op in evs:
                    if lsn <= hi:
                        last[doc] = max(last.get(doc, -1), lsn)
            for row_ in _ref_pairs(spark, iref_roots, batch_id):
                a, b = row_["id_a"], row_["id_b"]
                wins = sorted(_window_of(last.get(d, -1)) for d in (a, b))
                earlier_original |= 0 <= wins[0] < j == wins[1]
                later_change |= any(
                    _window_of(lsn) > j for d in (a, b) for lsn, _ in events.get(d, [])
                )
        assert earlier_original and later_change
        assert sum(e[5] for e in ref["entries"][1:]) > 0

    def test_reference_pairs_equal_the_oracle(
        self, spark, ilog, ireference, iref_roots, tmp_path
    ):
        """Every per-window reference pairs dir is the oracle's pairs at
        that window (without a cap): a group that equals the reference
        equals the oracle too."""
        _eng, idx = _open_index(spark, str(tmp_path))
        ref = ireference["exact"]
        prev_hi = None
        for batch_id, _lo, hi, *_ in ref["entries"]:
            got = {
                (r["id_a"], r["id_b"], r["est_jaccard"])
                for r in _ref_pairs(spark, iref_roots, batch_id)
            }
            assert got == oracle_pairs(spark, ilog, prev_hi, hi, idx, THRESHOLD), batch_id
            prev_hi = hi

    @pytest.mark.parametrize("variant", list(INDEXES))
    def test_grouped_replay_equals_per_window(
        self, spark, ilog, tmp_path, monkeypatch, ireference, variant
    ):
        eng, idx = _iseeded(spark, ilog, str(tmp_path), variant)
        calls = _count_calls(monkeypatch, CdcEngine, "apply_batch")
        entries = _ireplay(eng, idx, ilog, variant)
        monkeypatch.undo()
        # one apply_batch call (one plan, one index ingest) for the group
        assert [len(args) - 1 for args in calls] == [IWINDOWS]
        assert [e["mode"] for e in entries] == ["mor"] * IWINDOWS
        assert _isnapshot(spark, eng, idx) == ireference[variant]
        # each window names its own pairs dir; the index write metrics
        # ride the group's last entry only
        assert [os.path.basename(e["pairs_path"]) for e in entries] == [
            f"batch={e['batch_id']}" for e in entries
        ]
        assert [("index_bytes_written" in e) for e in entries] == [False] * 3 + [True]


class TestIndexGroupCrash:
    """Pairs publish before the index mutates and windows commit in
    order, so a crash at any point re-drives the uncommitted windows one
    by one, each reusing its published pairs dir: no pairs write."""

    @pytest.mark.parametrize(
        "point,committed",
        [
            ("pairs_published", 0),  # every pairs dir published, index untouched
            ("ingested", 0),  # the index holds the group, no window committed
            ("committed", 2),  # two of four windows committed
        ],
    )
    def test_crash_recovers_to_the_uncrashed_replay(
        self, spark, ilog, tmp_path, monkeypatch, ireference, point, committed
    ):
        root = str(tmp_path)
        eng, idx = _iseeded(spark, ilog, root, "exact")
        if point == "pairs_published":
            _crash_on(monkeypatch, MinhashIndex, "_ingest_mor")
        else:
            _crash_on(monkeypatch, Manifest, "commit", after=committed)
        with pytest.raises(Crash):
            _ireplay(eng, idx, ilog, "exact")
        monkeypatch.undo()
        assert len(_pairs_dirs(idx)) == 1 + IWINDOWS
        assert len(eng._merge_entries()) == 1 + committed

        eng, idx = _open_index(spark, root)  # a restarted process
        calls = _count_calls(monkeypatch, CdcEngine, "apply_batch")
        writes: list = []
        monkeypatch.setattr(dedup, "_write_pairs", lambda *args: writes.append(args))
        entries = _ireplay(eng, idx, ilog, "exact")
        monkeypatch.undo()
        # window by window, each reusing its published pairs dir
        assert [len(args) - 1 for args in calls] == [1] * (IWINDOWS - committed)
        assert writes == []
        assert all(e.get("pairs_reused") for e in entries)
        assert _isnapshot(spark, eng, idx) == ireference["exact"]

    def test_pairs_dir_without_sidecar_is_recomputed(self, spark, ilog, tmp_path, ireference):
        """A pairs dir without its count sidecar was never published (an
        older engine wrote its pairs straight into place, where a crash
        can tear them), so the window recomputes it."""
        eng, idx = _iseeded(spark, ilog, str(tmp_path), "exact")
        ref = ireference["exact"]
        torn = CdcEngine._pairs_dir(idx, ref["entries"][1][0])
        spark.createDataFrame(
            [("a", "b", 1.0)], "id_a string, id_b string, est_jaccard double"
        ).write.parquet(torn)
        entries = _ireplay(eng, idx, ilog, "exact")
        assert not entries[0].get("pairs_reused")
        assert _isnapshot(spark, eng, idx) == ref

    def test_retention_keeps_uncommitted_pairs_dirs(
        self, spark, ilog, tmp_path, monkeypatch, ireference
    ):
        """A crash after a group's ingest leaves its pairs dirs published
        but uncommitted, and the index already holds the group: they are
        the only correct copy of their windows' pairs, so retention must
        not prune them, and the re-drive reuses them."""
        root = str(tmp_path)
        eng, idx = _iseeded(spark, ilog, root, "exact")
        hi = ISEED + 2 * WINDOW
        _crash_on(monkeypatch, Manifest, "commit")
        with pytest.raises(Crash):
            _ireplay(eng, idx, ilog, "exact", hi)
        monkeypatch.undo()
        seed_id = eng._merge_entries()[0]["batch_id"]
        planted = sorted(set(_pairs_dirs(idx)) - {seed_id})
        assert len(planted) == 2

        rep = eng.maintain(
            MaintenancePolicy(max_files_per_bucket=10_000, pairs_retention_batches=0),
            minhash_index=idx,
        )
        assert {"store": "index_pairs", "action": "prune", "removed_batch_dirs": 1} in rep[
            "actions"
        ]
        assert sorted(_pairs_dirs(idx)) == planted

        entries = _ireplay(eng, idx, ilog, "exact", hi)
        assert [e["batch_id"] for e in entries] == planted
        assert all(e.get("pairs_reused") for e in entries)
        ref = ireference["exact"]
        assert {b: _rows(spark.read.parquet(d)) for b, d in _pairs_dirs(idx).items()} == {
            b: ref["pairs"][b] for b in planted
        }
        want = {e[0]: e[5] for e in ref["entries"]}
        assert [e["near_dup_pairs"] for e in entries] == [want[b] for b in planted]


class TestWindowJobBudget:
    """Spark jobs of one warm merge-on-read ``replay`` call, in the two
    set-ups the benchmark runs: the feed with preimages and one
    aggregate advance, and the feed off with a MinHash index. Before
    group apply and the single feed semi-join, these set-ups (on a
    6,000-event log with 200-event windows) took 16 (feed, one window),
    30 (feed, two windows) and 23 (index, one window) jobs; before index
    groups, two index windows took 44."""

    BUDGET = {"feed": 14, "index": 23}
    #: what a second window may add to a call
    SECOND_WINDOW = 3

    def _engine(self, spark, tmp_path, log, feed):
        root = str(tmp_path / feed)
        eng = CdcEngine(
            spark,
            f"{root}/state",
            f"{root}/m.jsonl",
            buckets=4,
            changes_dir=f"{root}/feed" if feed == "feed" else None,
            feed_preimages=feed == "feed",
        )
        aggs, index = [], None
        if feed == "feed":
            aggs = [IncrementalAggregate(spark, f"{root}/agg", ["repo"], {"chars": "length(content)"})]
        else:
            index = MinhashIndex(
                spark, f"{root}/idx", buckets=4, k=2, num_hashes=16, bands=4,
                hash_family="xxhash64",
            )
        eng.replay(log.filter("lsn < 2000"), batch_size=2000, aggregates=aggs, minhash_index=index)

        def replay(hi):
            out = []
            jobs = spark_jobs(
                spark,
                lambda: out.extend(
                    eng.replay(
                        log.filter(F.col("lsn") < hi), batch_size=100,
                        aggregates=aggs, minhash_index=index,
                    )
                ),
            )
            assert [e["mode"] for e in out] == ["mor"] * ((hi - 2000) // 100 - len(seen))
            seen.extend(out)
            replay.jobs.append(jobs)
            return jobs

        seen: list = []
        replay.jobs = []
        replay(2100)  # warm-up
        return replay

    def test_warm_replay_calls_stay_within_budget(self, spark, tmp_path):
        path = str(tmp_path / "log")
        synthesize_changelog(
            spark, 2400, n_repos=50, n_paths=400, delete_ratio=0.1,
            hot_repo_fraction=0.1, seed=5,
        ).write.parquet(path)
        log = spark.read.parquet(path)
        replay = self._engine(spark, tmp_path, log, "feed")
        one = replay(2200)
        two = replay(2400)
        assert one <= self.BUDGET["feed"], one
        assert two <= one + self.SECOND_WINDOW, (one, two)
        replay = self._engine(spark, tmp_path, log, "index")
        assert replay(2200) <= self.BUDGET["index"]
        one, two = replay.jobs[-1], replay(2400)
        assert two <= one + self.SECOND_WINDOW, (one, two)
