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
