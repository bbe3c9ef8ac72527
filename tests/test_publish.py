"""The publish/recover protocol (operators/publish.py), crashed for real.

A child process drives ``publish_once`` or ``replace_dir`` and dies by
``os._exit`` at a named point — no ``finally`` or ``except`` runs, as in
a killed process. The parent then checks, at every point, that
``published()`` never lists a torn dir, and that ``recover()`` leaves
exactly the old or the new version of the target, never neither. Every
artifact that publishes through the module (feed batches, checkpoints,
the IVM aggregate, rebucketed stores) inherits this.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from rfb_cnpj_etl_spark.operators import publish

ROOT = str(Path(__file__).resolve().parent.parent)
META = "_meta.json"

CHILD = """
import os, sys
from rfb_cnpj_etl_spark.operators import publish

op, point, target = sys.argv[1:]
real_write_json, real_replace, real_rename = (
    publish.write_json, os.replace, os.rename
)

def write(staging):
    os.makedirs(staging)
    with open(os.path.join(staging, "part-0"), "w") as f:
        f.write("new")
    if point == "after_staging_write":
        os._exit(3)
    return {"v": "new"}

def write_json(path, payload):
    real_write_json(path, payload)
    if point == "after_meta_write":
        os._exit(3)

def replace(src, dst):
    real_replace(src, dst)
    if point == "between_renames" and dst == target + ".old":
        os._exit(3)
    if point == "after_rename_in" and dst == target:
        os._exit(3)

def rename(src, dst):
    real_rename(src, dst)
    if point == "after_rename_in":
        os._exit(3)

publish.write_json, os.replace, os.rename = write_json, replace, rename
getattr(publish, op)(target, write, "_meta.json")
"""

# (operation, crash point, version recover() must leave: "old", "new",
# or None for "nothing published")
CASES = [
    ("publish_once", "after_staging_write", None),
    ("publish_once", "after_meta_write", None),
    ("publish_once", "after_rename_in", "new"),
    ("replace_dir", "after_staging_write", "old"),
    ("replace_dir", "after_meta_write", "old"),
    ("replace_dir", "between_renames", "old"),
    ("replace_dir", "after_rename_in", "new"),
]


def _version(d: str) -> str:
    """The complete version a dir holds; fails on a torn one."""
    with open(os.path.join(d, "part-0")) as f:
        data = f.read()
    with open(os.path.join(d, META)) as f:
        assert json.load(f) == {"v": data}
    return data


@pytest.mark.parametrize("op,point,expect", CASES)
def test_recover_after_crash_leaves_old_or_new(tmp_path, op, point, expect):
    root = str(tmp_path)
    target = os.path.join(root, "batch=1")
    if op == "replace_dir":
        os.makedirs(target)
        with open(os.path.join(target, "part-0"), "w") as f:
            f.write("old")
        publish.write_json(os.path.join(target, META), {"v": "old"})
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, op, point, target],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": ROOT},
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 3, proc.stderr  # died at the crash point

    # before any healing: every listed dir is complete
    for d in publish.published(root, "batch").values():
        assert _version(d) in ("old", "new")

    publish.recover(target)
    listed = publish.published(root, "batch")
    if expect is None:
        assert listed == {}
        assert os.listdir(root) == []
    else:
        assert listed == {"1": target}
        assert _version(target) == expect
        assert os.listdir(root) == ["batch=1"]  # no staging, no trash


def test_recover_drops_torn_staging_under_both_names(tmp_path):
    root = str(tmp_path)
    target = os.path.join(root, "batch=1")
    for torn in (".batch=1.staging", "batch=1.staging"):
        os.makedirs(os.path.join(root, torn))
    assert publish.published(root, "batch") == {}
    publish.recover_root(root)
    assert os.listdir(root) == []
    # a later publish of the same target starts clean
    res = publish.publish_once(target, lambda s: os.makedirs(s) or {}, META)
    assert res == {"reused": False}
    again = publish.publish_once(target, lambda s: 1 / 0, META)
    assert again == {"reused": True}  # never calls write


def test_failed_write_leaves_no_staging(tmp_path):
    target = str(tmp_path / "agg")

    def write(staging):
        os.makedirs(staging)
        raise ValueError("guard")

    with pytest.raises(ValueError, match="guard"):
        publish.replace_dir(target, write, META)
    assert os.listdir(tmp_path) == []
