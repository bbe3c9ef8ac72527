from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from rfb_cnpj_etl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path / "state")


# -- shared helpers (import with ``from conftest import ...``) -------------

LOG_SCHEMA = (
    "repo string, path string, commit string, lang string, content string,"
    " lsn long, op string"
)

BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "green turtles watch from the river bank in the warm afternoon sun"
)
OTHER_TEXT = (
    "completely unrelated spark catalyst optimizer notes about shuffle "
    "partitions broadcast joins and adaptive query execution internals"
)


def log_df(spark, rows):
    """A changelog frame of :func:`row` tuples."""
    return spark.createDataFrame(rows, LOG_SCHEMA)


def row(repo, path, content, lsn, op="upsert"):
    return (repo, path, f"c{lsn}", "python", content, lsn, op)


def seed_rows(n):
    """n keys spread across every bucket (uniform churn shape)."""
    return [row("r", f"p{i}", f"v{i}", i) for i in range(n)]


def state_dict(st):
    """``{(repo, path): (content, lsn)}`` of a state table."""
    return {
        (r["repo"], r["path"]): (r["content"], r["lsn"])
        for r in st.read().collect()
    }


def docs_df(spark, rows):
    """A MinHash index batch of ``(doc_id, text)`` tuples."""
    return spark.createDataFrame(rows, "doc_id string, text string")


def spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` submits: counted through a job group, after
    the listener bus has delivered every job event."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def feed_rows(df):
    """A change feed frame's rows as ``(repo, path, change_type, lsn,
    content, branch, prev_lsn)`` tuples; ``branch`` is None where the
    frame lacks the column."""
    return [
        (
            r["repo"], r["path"], r["change_type"], r["lsn"],
            r["content"], r.asDict().get("branch"), r["prev_lsn"],
        )
        for r in df.collect()
    ]


def oracle_feed(log, prev_hi, hi, preimages=True):
    """The feed of the window ``(prev_hi, hi]`` of a synthesized ``log``,
    from the oracle alone: the row diff of ``expected_final_state`` at
    ``prev_hi`` (None: the empty state) and at ``hi``, as a set of
    :func:`feed_rows` tuples. A delete carries the key's last event in
    the window; with ``preimages`` each update and delete also yields
    the row it replaced."""
    from pyspark.sql import functions as F

    from rfb_cnpj_etl_spark.gen import expected_final_state

    def state_at(upto):
        if upto is None:
            return {}
        return {
            (r["repo"], r["path"]): (r["lsn"], r["content"], r["branch"])
            for r in expected_final_state(log.filter(F.col("lsn") <= upto)).collect()
        }

    prev, cur = state_at(prev_hi), state_at(hi)
    window = log.filter(F.col("lsn") <= hi)
    if prev_hi is not None:
        window = window.filter(F.col("lsn") > prev_hi)
    last = {
        (r["repo"], r["path"]): (r["lsn"], r["content"], r["branch"])
        for r in sorted(window.collect(), key=lambda r: r["lsn"])
    }
    expected = set()
    for key in prev.keys() | cur.keys():
        if key not in prev:
            expected.add((*key, "insert", *cur[key], None))
            continue
        (old_lsn, *old_row) = prev[key]
        if key in cur and cur[key][0] == old_lsn:
            continue
        kind, new = ("update", cur[key]) if key in cur else ("delete", last[key])
        expected.add((*key, kind, *new, old_lsn))
        if preimages:
            expected.add((*key, f"{kind}_preimage", old_lsn, *old_row, None))
    return expected


def oracle_pairs(spark, log, prev_hi, hi, index, threshold):
    """The near-dup pairs of the window ``(prev_hi, hi]`` of a
    synthesized ``log`` that a ``MinhashIndex`` shaped like ``index``
    must report, from the oracle alone: the MinHash signatures
    (:func:`minhash_signatures`, the index's parameters) of every doc
    live in ``expected_final_state`` at ``hi``, and every pair of them
    at or above ``threshold`` that touches a doc the window last wrote
    (its upsert winners), as ``(id_a, id_b, est_jaccard)`` with
    ``id_a < id_b``. Doc ids join the keys as the engine does.

    Restricted to pairs that share a band (all lanes of one band equal):
    LSH candidate generation only ever meets those, so a pair above the
    threshold that agrees on no whole band is one the index cannot
    report."""
    from pyspark.sql import functions as F

    from rfb_cnpj_etl_spark.engine import CdcEngine
    from rfb_cnpj_etl_spark.gen import expected_final_state
    from rfb_cnpj_etl_spark.operators.dedup import minhash_signatures

    state = expected_final_state(log.filter(F.col("lsn") <= hi))
    docs = state.select(
        F.concat_ws(CdcEngine._ID_SEP, "repo", "path").alias("doc_id"),
        F.col("content").alias("text"),
        (F.col("lsn") > (-1 if prev_hi is None else prev_hi)).alias("new"),
    )
    new = {r["doc_id"] for r in docs.filter("new").collect()}
    sigs = {
        r["id"]: list(r["sig"])
        for r in minhash_signatures(
            docs, "text", "doc_id", index.k, index.num_hashes, index.hash_family
        ).collect()
    }
    rows = index.num_hashes // index.bands
    bands = [slice(i * rows, (i + 1) * rows) for i in range(index.bands)]
    out = set()
    for a in new:
        sig_a = sigs[a]
        for b, sig_b in sigs.items():
            if a == b or (b in new and b < a):
                continue
            if not any(sig_a[s] == sig_b[s] for s in bands):
                continue
            est = sum(x == y for x, y in zip(sig_a, sig_b)) / index.num_hashes
            if est >= threshold:
                out.add((min(a, b), max(a, b), est))
    return out
