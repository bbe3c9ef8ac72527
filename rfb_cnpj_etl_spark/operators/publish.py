"""Stage → atomic publish → heal: the one crash-safety protocol behind
every directory and JSON marker the engine writes.

It is the reference's ``.part`` + ``os.replace`` idiom
(``cnpj_downloader.py:67,116,169``) lifted to directories:

* a JSON marker is written to ``<file>.part`` and renamed over the
  target (:func:`write_json`);
* a directory is written into the dot-hidden staging dir
  ``.<name>.staging`` next to its target, together with a JSON meta
  sidecar, and only then renamed into place — once for a write-once
  artifact (:func:`publish_once`: checkpoints; or :func:`publish_each`
  for one or several that one write produces: the feed batches of every
  merge, one per window), or as a rename-aside swap through
  ``<name>.old`` for one that is rewritten (:func:`replace_dir`: the
  IVM aggregate, a rebucketed store).

So a reader never sees a partly written directory: staging is hidden
from ``name=*`` globs and listings, and :func:`published` lists only
committed ``prefix=*`` dirs. A swap never has a moment with neither the
old nor the new dir: the live dir is renamed aside before the new one
moves in, and the trash goes last. What a crash leaves behind is
healed by :func:`restore`, which puts back ``<name>.old`` when the
target is missing and else drops it, and by :func:`recover`, which
also drops torn staging — including the visible ``<name>.staging``
older versions staged under.

Needed from the filesystem: atomic rename, recursive delete, listing.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable


def write_json(path: str, payload) -> None:
    """Write ``payload`` as JSON to ``path`` atomically."""
    tmp = path + ".part"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def read_json(path: str):
    """The JSON at ``path``, or None when there is no such file."""
    try:
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _staging(target: str) -> str:
    parent, name = os.path.split(target)
    return os.path.join(parent, f".{name}.staging")


def _stage(target: str, write: Callable[[str], dict], meta: str) -> dict:
    """Run ``write(staging)``, which returns the meta payload, and store
    that payload as the ``meta`` sidecar inside staging. A raising
    ``write`` leaves no staging behind."""
    staging = _staging(target)
    shutil.rmtree(staging, ignore_errors=True)
    try:
        payload = write(staging)
        write_json(os.path.join(staging, meta), payload)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return payload


def _reused(target: str, meta: str) -> dict:
    """The stored meta of a published ``target``, with ``reused=True``."""
    return {**(read_json(os.path.join(target, meta)) or {}), "reused": True}


def publish_once(target: str, write: Callable[[str], dict], meta: str) -> dict:
    """Publish a write-once directory: stage it, then one atomic rename.

    When ``target`` is already published nothing is written, and the
    stored meta comes back with ``reused=True`` — so a re-driven batch
    keeps the artifact its first attempt committed. Otherwise the
    result is ``write``'s payload with ``reused=False``."""
    if os.path.isdir(target):
        return _reused(target, meta)
    recover(target)
    payload = _stage(target, write, meta)
    os.rename(_staging(target), target)
    return {**payload, "reused": False}


def publish_each(
    targets: list[str],
    write: Callable[[str], list[tuple[str, dict]]],
    meta: str,
) -> list[dict]:
    """Publish write-once directories that ONE write produces.

    ``write(staging)`` writes into a staging dir and returns, per target
    in order, the dir holding its files (missing: no files) and its meta
    payload. One target is :func:`publish_once`'d, staged in place: its
    files must be the staging dir itself. Several share a staging dir
    (hidden ``.group.staging`` next to them), and each is then published
    as :func:`publish_once` publishes it — its own staging and sidecar,
    one atomic rename — in order, so a crash leaves a published prefix.
    The shared staging is dropped on the way out, and before the write
    in case a crash left it. When every target is published already,
    nothing is written. Returns :func:`publish_once`'s result per
    target."""
    if len(targets) == 1:
        return [publish_once(targets[0], lambda staging: write(staging)[0][1], meta)]
    if all(os.path.isdir(t) for t in targets):
        return [_reused(t, meta) for t in targets]
    shared = os.path.join(os.path.dirname(targets[0]), ".group.staging")
    shutil.rmtree(shared, ignore_errors=True)
    try:
        out = []
        for target, (part, payload) in zip(targets, write(shared)):

            def move(staging: str, part=part, payload=payload) -> dict:
                if os.path.isdir(part):
                    os.replace(part, staging)
                else:
                    os.makedirs(staging)
                return payload

            out.append(publish_once(target, move, meta))
        return out
    finally:
        shutil.rmtree(shared, ignore_errors=True)


def replace_dir(target: str, write: Callable[[str], dict], meta: str) -> dict:
    """Stage a new version of ``target`` and swap it in; returns
    ``write``'s payload."""
    payload = _stage(target, write, meta)
    swap_in(_staging(target), target)
    return payload


def swap_in(src: str, target: str) -> None:
    """Replace ``target`` with the directory ``src``, renaming the live
    dir aside to ``<target>.old`` first and deleting it last. An absent
    ``src`` empties ``target`` out."""
    trash = f"{target}.old"
    shutil.rmtree(trash, ignore_errors=True)
    if os.path.isdir(target):
        os.replace(target, trash)
    if os.path.isdir(src):
        os.replace(src, target)
    shutil.rmtree(trash, ignore_errors=True)


def restore(target: str) -> None:
    """Heal a swap of ``target``: restore ``<target>.old`` when the
    target is missing (the swap died between its renames), else drop
    it (the swap died before deleting its trash)."""
    old = f"{target}.old"
    if os.path.isdir(old):
        if os.path.isdir(target):
            shutil.rmtree(old)
        else:
            os.replace(old, target)


def recover(target: str) -> None:
    """Heal ``target`` after a crash: :func:`restore` it, and drop torn
    staging under the hidden and the legacy visible name."""
    restore(target)
    for torn in (_staging(target), f"{target}.staging"):
        shutil.rmtree(torn, ignore_errors=True)


def recover_root(root: str) -> None:
    """:func:`recover` every target under ``root`` that left a visible
    ``<name>.old`` or ``<name>.staging`` behind. Hidden staging alone is
    left to the next publish of its target: no reader sees it, and a
    publish in flight may own it."""
    if not os.path.isdir(root):
        return
    for name in os.listdir(root):
        for suffix in (".old", ".staging"):
            if name.endswith(suffix) and not name.startswith("."):
                recover(os.path.join(root, name[: -len(suffix)]))


def published(root: str, prefix: str) -> dict[str, str]:
    """Committed ``prefix=<id>`` dirs under ``root`` as ``{id: path}``,
    in name order — never staging or a swap's trash."""
    if not os.path.isdir(root):
        return {}
    head = f"{prefix}="
    return {
        name[len(head):]: os.path.join(root, name)
        for name in sorted(os.listdir(root))
        if name.startswith(head) and not name.endswith((".staging", ".old"))
    }
