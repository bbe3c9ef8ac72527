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
