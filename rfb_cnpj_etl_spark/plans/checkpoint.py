"""Checkpoint manifest — the engine's exactly-once commit log.

The reference gets atomicity from one giant SQLite transaction
(``db/sqlite_loader.py:39,84``) and resumability from ``.part`` temp
files + ``os.replace`` (``cnpj_downloader.py:67,116,169``); its Postgres
path commits per batch with NO dedup on retry — the exactly-once gap
SURVEY S8 calls out. The engine closes that gap:

* every applied micro-batch appends a manifest entry
  ``{batch_id, lsn_lo, lsn_hi, touched_buckets, bucket_rows, rows,
  schema_version, columns}``;
* the entry is committed as its own atomic segment file (write temp +
  ``os.replace`` into ``{path}.segs/``, operators/publish.py) —
  O(entry) per commit, not O(manifest): round 2 rewrote the whole
  JSONL file per commit and re-read it per ``is_applied`` probe, an
  O(n²) driver cost across a long replay;
* segments are folded into the JSONL snapshot every
  ``compact_segments`` commits by APPENDING them (O(segments) per fold,
  O(n) total over the manifest's lifetime — round 3 rewrote the whole
  snapshot per fold, an O(n²/256) tail). The fold's commit point is the
  flushed append; deleting the folded segments afterwards is cleanup (a
  crash in between leaves duplicates that load dedups by batch_id, and
  a crash mid-append leaves a torn FINAL line whose entry still lives in
  its segment file — the loader tolerates exactly that torn tail);
* on restart, ``high_watermark()`` gives the last applied LSN; events at
  or below it are skipped (idempotent replay), and a crash after the
  data swap but before the manifest commit merely re-applies a batch
  that LWW-by-LSN turns into a no-op.

Driver memory is bounded: aggregates (count, high watermark, schema
version, current buckets) are tracked incrementally and only a tail of
``tail_entries`` full entries stays in memory — ``entries()`` streams
the snapshot from disk in the rare case a caller wants history beyond
the tail. The applied-id set is bounded too: the engine's replay ids
are LSN windows (``lsn_<lo>_<hi>``), committed in increasing LSN order
by a single writer, so an id evicted from the exact in-memory set folds
losslessly into a watermark summary — any whole window at or below the
folded watermark contains only events the state already absorbed
(exactly the rule ``replay`` itself applies when it filters the
changelog above ``high_watermark()``). Non-LSN ids (maintenance,
rebucket — which embed the manifest count and are never reissued; or a
standalone caller's own ids) are kept exact for the manifest's life:
they are rare by construction, and an exotic caller replaying an
ancient custom id past the tail degrades to at-least-once, which the
LWW merge makes idempotent. The files are tiny JSON on the driver — at
cluster scale they live on the object store next to the table (same
pattern, ``fs.rename`` as the commit), or become the Iceberg snapshot
log when the runtime is present.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import deque

from ..operators.publish import write_json


class Manifest:
    """Append-only manifest: JSONL snapshot + atomic per-commit segment
    files, folded together periodically by appending. Single-writer;
    readers may re-open concurrently (a fresh instance reloads from
    disk)."""

    def __init__(
        self,
        path: str,
        compact_segments: int = 256,
        tail_entries: int = 65536,
    ) -> None:
        self.path = path
        self.segs_dir = f"{path}.segs"
        self.compact_segments = compact_segments
        self.tail_entries = tail_entries
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        #: bounded in-memory tail (newest entries); full history stays on
        #: disk and is streamed on demand by entries().
        self._tail: deque[dict] = deque(maxlen=tail_entries)
        self._ids: set[str] = set()
        #: highest lsn_hi among LSN-window ids evicted from the exact
        #: set — the lossless summary in-order commits allow (module
        #: docstring); -1 = nothing folded.
        self._folded_hw = -1
        self._count = 0
        self._hw = -1
        self._schema_version = 0
        self._buckets: int | None = None
        self._load()

    # -- load ------------------------------------------------------------

    def _segment_files(self) -> list[str]:
        if not os.path.isdir(self.segs_dir):
            return []
        return sorted(
            f
            for f in os.listdir(self.segs_dir)
            if f.startswith("seg-") and f.endswith(".json")
        )

    def _iter_disk(self):
        """Stream every persisted entry (snapshot lines then segments) in
        commit order, tolerating only a torn FINAL snapshot line (the
        append-fold crash window — that entry still lives in its segment
        file). A torn middle line is real corruption and raises. One-line
        lookahead keeps this a true stream: peak memory is one line, not
        the whole snapshot (the tail_entries bound would otherwise cap
        retained dicts but not load-time memory)."""
        if os.path.exists(self.path):
            with open(self.path, encoding="utf-8") as f:
                prev: str | None = None
                for ln in f:
                    if not ln.strip():
                        continue
                    if prev is not None:
                        yield json.loads(prev)  # middle line: raise on error
                    prev = ln
                if prev is not None:
                    try:
                        yield json.loads(prev)
                    except json.JSONDecodeError:
                        pass  # torn append tail; recovered from its segment
        for name in self._segment_files():
            with open(os.path.join(self.segs_dir, name), encoding="utf-8") as f:
                yield json.load(f)

    #: the replay loop's window-batch id shape (engine.py flush())
    _LSN_ID = re.compile(r"^lsn_(-?\d+)_(-?\d+)$")

    def _track(self, e: dict) -> None:
        """Fold one entry into the incremental aggregates + tail. An
        LSN-window id evicted from the tail leaves the exact set and
        folds into the watermark summary (exact answers either way —
        see the module docstring); non-LSN ids stay exact."""
        if len(self._tail) == self._tail.maxlen:
            ev = self._tail[0]  # evicted by the append below
            m = self._LSN_ID.match(ev["batch_id"])
            if m:
                self._ids.discard(ev["batch_id"])
                self._folded_hw = max(self._folded_hw, int(m.group(2)))
        self._ids.add(e["batch_id"])
        self._count += 1
        self._tail.append(e)
        self._hw = max(self._hw, int(e.get("lsn_hi", -1)))
        self._schema_version = max(
            self._schema_version, int(e.get("schema_version", 0))
        )
        if e.get("buckets") is not None:
            self._buckets = int(e["buckets"])

    def _load(self) -> None:
        for e in self._iter_disk():
            # a crash between snapshot fold and segment deletion leaves an
            # entry in BOTH — first occurrence wins (identical content).
            # is_applied (not raw set membership) so a duplicate whose id
            # already folded past the tail still dedups.
            if self.is_applied(e["batch_id"]):
                continue
            self._track(e)

    # -- read ------------------------------------------------------------

    def count(self) -> int:
        """Total committed entries (O(1), unlike len(entries()))."""
        return self._count

    def entries(self) -> list[dict]:
        """Full entry history in commit order. Served from memory while
        the manifest is within the tail bound; beyond it, streamed back
        off disk (dedup by batch_id, same as load)."""
        if len(self._tail) == self._count:
            return list(self._tail)
        seen: set[str] = set()
        out: list[dict] = []
        for e in self._iter_disk():
            if e["batch_id"] in seen:
                continue
            seen.add(e["batch_id"])
            out.append(e)
        return out

    def high_watermark(self) -> int:
        """Highest applied LSN; -1 when nothing applied yet."""
        return self._hw

    def applied_batch_ids(self) -> set[str]:
        """Exact applied ids currently held in memory (every non-LSN id
        ever committed + the LSN windows within the tail bound — folded
        LSN windows answer through :meth:`is_applied` instead)."""
        return set(self._ids)

    def schema_version(self) -> int:
        return self._schema_version

    def current_buckets(self) -> int | None:
        """Bucket count of the table's current layout (last entry that
        recorded one — merge and rebucket entries both do). None when the
        manifest predates bucket recording or is empty."""
        return self._buckets

    # -- write -----------------------------------------------------------

    def commit(self, entry: dict) -> dict:
        """Atomically append one entry: O(entry) — a single segment file
        renamed into place (:func:`write_json`)."""
        if self.is_applied(entry["batch_id"]):
            return entry  # already committed → no-op (exactly-once)
        entry = {**entry, "committed_at": time.time(), "seq": self._count}
        os.makedirs(self.segs_dir, exist_ok=True)
        write_json(
            os.path.join(self.segs_dir, f"seg-{entry['seq']:010d}.json"), entry
        )
        self._track(entry)
        if len(self._segment_files()) >= self.compact_segments:
            self._fold_segments()
        return entry

    def _fold_segments(self) -> None:
        """Fold segments into the snapshot by APPENDING their entries —
        O(segments) I/O per fold, never O(total manifest). Commit point =
        the flushed+fsynced append; deleting the folded segments
        afterwards is cleanup (a crash in between leaves harmless
        duplicates, deduped at load; a crash mid-append leaves a torn
        final line recovered from its still-present segment)."""
        segs = self._segment_files()
        if not segs:
            return
        # A previous fold may have crashed mid-append, leaving a torn
        # (newline-less) final line. Appending straight after it would
        # glue this fold's first entry onto the fragment — a malformed
        # line that is then NOT final and fails every future load as
        # corruption. Truncate the fragment first: its entry's segment
        # file is guaranteed still present (segments are only deleted
        # after a successful flush+fsync), so this very fold rewrites it.
        self._trim_torn_tail()
        with open(self.path, "a", encoding="utf-8") as f:
            for name in segs:
                with open(
                    os.path.join(self.segs_dir, name), encoding="utf-8"
                ) as seg:
                    f.write(seg.read().strip() + "\n")
            f.flush()
            os.fsync(f.fileno())
        for name in segs:
            try:
                os.remove(os.path.join(self.segs_dir, name))
            except FileNotFoundError:
                pass

    def _trim_torn_tail(self) -> None:
        """Truncate a newline-less final fragment off the snapshot (the
        mid-append crash leftover) back to the last complete line."""
        if not os.path.exists(self.path):
            return
        with open(self.path, "rb+") as f:
            f.seek(0, os.SEEK_END)
            size = f.tell()
            if size == 0:
                return
            f.seek(size - 1)
            if f.read(1) == b"\n":
                return
            pos = size
            chunk = 1 << 16
            while pos > 0:
                start = max(0, pos - chunk)
                f.seek(start)
                data = f.read(pos - start)
                nl = data.rfind(b"\n")
                if nl != -1:
                    f.truncate(start + nl + 1)
                    return
                pos = start
            f.truncate(0)

    def is_applied(self, batch_id: str) -> bool:
        """Exactly-once membership: the exact in-memory set, else — for
        an LSN-window id — the folded-watermark rule: in-order
        single-writer commits mean every event at or below the folded
        watermark is already in the state, so any whole window under it
        is applied (the same rule replay's ``> high_watermark`` filter
        applies to individual events)."""
        if batch_id in self._ids:
            return True
        m = self._LSN_ID.match(batch_id)
        return bool(m) and int(m.group(2)) <= self._folded_hw
