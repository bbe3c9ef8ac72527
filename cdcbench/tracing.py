"""Spans around the engine's public methods, recorded from outside it.

The benchmark never edits engine code: :class:`Tracer` replaces a
method on its class with a wrapper that opens a span (name, start, end,
parent) around the original call and restores the original on
:meth:`Tracer.unwrap_all`. Spans stay in memory until the run ends.

Spark jobs and stages are attributed to the innermost span that was open
at their submission time, read from the session's own UI REST API
(``/api/v1/applications/<id>/jobs`` and ``/stages``) once the run is
over. No job group and no ``statusTracker()`` count is used: job groups
belong to the engine, and the status tracker forgets all but the newest
jobs. The UI reports submission times truncated to the millisecond, so a
span matches a job from the millisecond its start falls in through the
millisecond its end falls in; where two spans match, the innermost wins.
"""

from __future__ import annotations

import functools
import json
import math
import time
import urllib.request
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    #: the metrics dict the wrapped call returned (``StateTable.merge``
    #: returns one, ``MinhashIndex.ingest`` returns ``(metrics, pairs)``);
    #: None otherwise
    result: dict | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def _result_dict(out) -> dict | None:
    if isinstance(out, dict):
        return out
    if isinstance(out, tuple) and out and isinstance(out[0], dict):
        return out[0]
    return None


class Tracer:
    """Span recorder. Single-threaded: the replay loop runs on the
    driver's main thread, so the open-span stack needs no lock."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._patched: list[tuple[type, str, Callable]] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), parent=self._open[-1] if self._open else None)
        self._open.append(len(self.spans))
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def wrap(self, cls: type, method: str, name: str | Callable[[object], str]) -> None:
        orig = cls.__dict__[method]
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            with tracer.span(name(obj) if callable(name) else name) as s:
                out = orig(obj, *args, **kwargs)
                s.result = _result_dict(out)
                return out

        setattr(cls, method, wrapper)
        self._patched.append((cls, method, orig))

    def unwrap_all(self) -> None:
        for cls, method, orig in reversed(self._patched):
            setattr(cls, method, orig)
        self._patched = []

    # -- derived views ------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its child spans cover
        (children of one span never overlap: the loop is sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return [s.dur - c for s, c in zip(self.spans, child)]

    def windows(self) -> list[tuple[list[int], float]]:
        """One entry per applied window: (root span indices, wall). The
        roots are the ``apply_batch`` span and the aggregate advances the
        replay loop ran right after it; the wall is their summed time."""
        out: list[tuple[list[int], float]] = []
        for i, s in enumerate(self.spans):
            if s.parent is not None and self.spans[s.parent].name != "engine.replay":
                continue
            if s.name == "engine.apply_batch":
                out.append(([i], s.dur))
            elif s.name == "ivm.advance" and out:
                roots, wall = out[-1]
                out[-1] = (roots + [i], wall + s.dur)
        return out

    def subtree(self, root: int) -> list[int]:
        """Indices of ``root`` and every span nested under it (spans are
        appended in start order, so descendants follow their root)."""
        members = {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i].start > self.spans[root].end:
                break
            if self.spans[i].parent in members:
                members.add(i)
        return sorted(members)

    def innermost(self, t: float) -> int | None:
        """The deepest span open at time ``t``, a UI timestamp truncated
        to the millisecond: span bounds are widened to whole
        milliseconds before they are compared with it."""
        best = None
        for i, s in enumerate(self.spans):
            if math.floor(s.start * 1000) / 1000 <= t <= math.ceil(s.end * 1000) / 1000:
                best = i  # later-starting containing spans are nested deeper
        return best

    def window_cover_share(self) -> float:
        """Span time over wall time inside the replay loop, pooled over
        windows. A window's wall is measured apart from the spans it
        checks: from its ``apply_batch`` start to the next window's
        start, or to the end of its ``replay`` call for the last one.
        The covered time is the summed self time of every span in the
        window's subtrees. Below 1.0 by the share of loop time no span
        covers (window iteration, aggregate catch-up bookkeeping)."""
        selfs = self.self_times()
        covered = wall = 0.0
        windows = self.windows()
        for k, (roots, _) in enumerate(windows):
            start = self.spans[roots[0]].start
            replay = self.spans[roots[0]].parent
            nxt = windows[k + 1][0][0] if k + 1 < len(windows) else None
            if nxt is not None and self.spans[nxt].parent == replay:
                end = self.spans[nxt].start
            else:
                end = self.spans[replay].end if replay is not None else self.spans[roots[-1]].end
            covered += sum(selfs[m] for r in roots for m in self.subtree(r))
            wall += end - start
        return covered / wall if wall else 0.0


def window_clock(tracer: Tracer) -> None:
    """The minimum an untraced round needs: per-window walls. Two spans
    per window, a few microseconds against windows of seconds."""
    from rfb_cnpj_etl_spark.engine import CdcEngine
    from rfb_cnpj_etl_spark.operators.ivm import IncrementalAggregate

    tracer.wrap(CdcEngine, "apply_batch", "engine.apply_batch")
    tracer.wrap(IncrementalAggregate, "advance", "ivm.advance")


def store_role(store) -> str:
    """Store spans are keyed by what the store holds, from its path:
    ``state`` (the CDC state table) or the MinHash index's ``sig`` and
    ``post`` stores."""
    leaf = store.path.rstrip("/").rsplit("/", 1)[-1]
    return {"sig": "index_sig", "post": "index_post"}.get(leaf, "state")


STORE_METHODS = ("stage_write", "commit_staged", "append_delta", "clear_delta_buckets")
STORE_ROLES = ("state", "index_sig", "index_post")


def full_trace(tracer: Tracer) -> None:
    """Spans on every public method the per-layer metrics split by. The
    post-replay reads (``final_state``, ``state_as_of`` and the index's
    ``signatures``) only build a plan; the caller opens an
    ``engine.read`` span around the read and the sink that runs it."""
    from rfb_cnpj_etl_spark.engine import CdcEngine
    from rfb_cnpj_etl_spark.operators.dedup import MinhashIndex
    from rfb_cnpj_etl_spark.operators.merge import StateTable
    from rfb_cnpj_etl_spark.operators.store import BucketedParquetStore
    from rfb_cnpj_etl_spark.plans.checkpoint import Manifest

    window_clock(tracer)
    tracer.wrap(CdcEngine, "replay", "engine.replay")
    tracer.wrap(StateTable, "merge", "merge.merge")
    for method in STORE_METHODS:
        tracer.wrap(
            BucketedParquetStore,
            method,
            functools.partial(lambda m, st: f"store.{store_role(st)}.{m}", method),
        )
    tracer.wrap(Manifest, "commit", "checkpoint.commit")
    tracer.wrap(MinhashIndex, "ingest", "index.ingest")


# -- Spark UI REST --------------------------------------------------------


def _epoch(ts: str) -> float:
    """Spark UI timestamps look like ``2026-01-31T12:00:00.123GMT``."""
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    """Reads finished jobs and stages of the running application from
    its UI on the loopback interface."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, what: str) -> list[dict]:
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 30.0) -> None:
        """Wait for the listener bus to report every submitted job as
        finished, so the lists below are complete."""
        deadline = time.time() + timeout
        last = -1
        while time.time() < deadline:
            jobs = self._get("jobs")
            if len(jobs) == last and all(j["status"] != "RUNNING" for j in jobs):
                return
            last = len(jobs)
            time.sleep(0.3)
        raise TimeoutError("Spark UI still reports running jobs")

    def jobs(self) -> list[dict]:
        return [
            {"t": _epoch(j["submissionTime"]), "tasks": j["numCompletedTasks"]}
            for j in self._get("jobs")
            if "submissionTime" in j
        ]

    def stages(self) -> list[dict]:
        return [
            {
                "t": _epoch(s["submissionTime"]),
                "tasks": s["numCompleteTasks"],
                "input_records": s["inputRecords"],
                "shuffle_write_bytes": s["shuffleWriteBytes"],
                "run_s": s["executorRunTime"] / 1000.0,
            }
            for s in self._get("stages")
            if "submissionTime" in s and s["status"] == "COMPLETE"
        ]


# -- per-layer metrics ------------------------------------------------------

#: every per-layer metric and its unit
LAYER_UNITS = {
    "engine.replay.self_s": "s",
    "engine.replay.jobs": "count",
    "engine.apply_batch.self_s": "s",
    "engine.read.jobs": "count",
    "engine.read.input_records": "count",
    "merge.merge.self_s": "s",
    "merge.merge.jobs": "count",
    "merge.mor_windows": "count",
    "merge.cow_windows": "count",
    "merge.bytes_written": "bytes",
    "merge.change_rows": "count",
    **{
        f"store.{role}.{m}": unit
        for role in STORE_ROLES
        for m, unit in (
            ("stage_write_s", "s"),
            ("stage_write_jobs", "count"),
            ("commit_s", "s"),
            ("delta_files", "count"),
        )
    },
    "checkpoint.commit_s": "s",
    "checkpoint.commits": "count",
    "ivm.advance_s": "s",
    "ivm.advance_jobs": "count",
    "ivm.input_records": "count",
    "index.ingest.self_s": "s",
    "index.ingest.jobs": "count",
    "index.pairs": "count",
    "spark.jobs_per_window": "count",
    "spark.tasks_per_window": "count",
    "spark.input_records_per_event": "ratio",
    "spark.shuffle_write_bytes_per_event": "bytes",
    "spark.executor_busy_share": "ratio",
    "trace.overhead_cpu_s": "s",
    "trace.window_cover_share": "ratio",
}


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_metrics(
    tracer: Tracer,
    jobs: list[dict],
    stages: list[dict],
    events: int,
    cores: int,
    delta_files: dict[str, float],
    overhead_cpu_s: float,
) -> dict[str, float]:
    """Fold the traced phase's spans, jobs and stages into the per-layer
    metrics. Times and counts are per applied window, except the
    engine.read ones (per read) and the spark.* ratios."""
    spans = tracer.spans
    selfs = tracer.self_times()
    nw = len(tracer.windows())
    job_at = [tracer.innermost(j["t"]) for j in jobs]
    stage_at = [tracer.innermost(s["t"]) for s in stages]

    def named(pred: Callable[[str], bool]) -> list[int]:
        return [i for i, s in enumerate(spans) if pred(s.name)]

    def self_s(name: str) -> float:
        return sum(selfs[i] for i in named(lambda n: n == name))

    def dur_s(*names: str) -> float:
        return sum(spans[i].dur for i in named(lambda n: n in names))

    def inner_jobs(name: str) -> int:
        return sum(1 for i in job_at if i is not None and spans[i].name == name)

    def within(roots: list[int]) -> set[int]:
        return {m for r in roots for m in tracer.subtree(r)}

    def jobs_in(members: set[int]) -> int:
        return sum(1 for i in job_at if i in members)

    def stages_in(members: set[int], key: str) -> float:
        return sum(s[key] for s, i in zip(stages, stage_at) if i in members)

    replays = within(named(lambda n: n == "engine.replay"))
    reads = named(lambda n: n == "engine.read")
    read_members = within(reads)
    advances = within(named(lambda n: n == "ivm.advance"))
    merges = [spans[i].result or {} for i in named(lambda n: n == "merge.merge")]
    ingests = [spans[i].result or {} for i in named(lambda n: n == "index.ingest")]
    replay_wall = dur_s("engine.replay")

    out = {
        "engine.replay.self_s": _per(self_s("engine.replay"), nw),
        "engine.replay.jobs": _per(inner_jobs("engine.replay"), nw),
        "engine.apply_batch.self_s": _per(self_s("engine.apply_batch"), nw),
        "engine.read.jobs": _per(jobs_in(read_members), len(reads)),
        "engine.read.input_records": _per(stages_in(read_members, "input_records"), len(reads)),
        "merge.merge.self_s": _per(self_s("merge.merge"), nw),
        "merge.merge.jobs": _per(inner_jobs("merge.merge"), nw),
        "merge.mor_windows": sum(1 for m in merges if m.get("mode") == "mor"),
        "merge.cow_windows": sum(1 for m in merges if m.get("mode") == "cow"),
        "merge.bytes_written": _per(sum(m.get("bytes_written", 0) for m in merges), nw),
        "merge.change_rows": _per(sum(m.get("change_rows") or 0 for m in merges), nw),
    }
    for role in STORE_ROLES:
        p = f"store.{role}"
        out[f"{p}.stage_write_s"] = _per(dur_s(f"{p}.stage_write"), nw)
        out[f"{p}.stage_write_jobs"] = _per(inner_jobs(f"{p}.stage_write"), nw)
        out[f"{p}.commit_s"] = _per(
            dur_s(f"{p}.commit_staged", f"{p}.append_delta", f"{p}.clear_delta_buckets"), nw
        )
        out[f"{p}.delta_files"] = delta_files.get(role, 0)
    out.update(
        {
            "checkpoint.commit_s": _per(dur_s("checkpoint.commit"), nw),
            "checkpoint.commits": _per(len(named(lambda n: n == "checkpoint.commit")), nw),
            "ivm.advance_s": _per(dur_s("ivm.advance"), nw),
            "ivm.advance_jobs": _per(jobs_in(advances), nw),
            "ivm.input_records": _per(stages_in(advances, "input_records"), nw),
            "index.ingest.self_s": _per(self_s("index.ingest"), nw),
            "index.ingest.jobs": _per(inner_jobs("index.ingest"), nw),
            "index.pairs": _per(sum(m.get("pairs", 0) for m in ingests), nw),
            "spark.jobs_per_window": _per(jobs_in(replays), nw),
            "spark.tasks_per_window": _per(stages_in(replays, "tasks"), nw),
            "spark.input_records_per_event": _per(stages_in(replays, "input_records"), events),
            "spark.shuffle_write_bytes_per_event": _per(
                stages_in(replays, "shuffle_write_bytes"), events
            ),
            "spark.executor_busy_share": _per(stages_in(replays, "run_s"), cores * replay_wall)
            if replay_wall
            else 0.0,
            "trace.overhead_cpu_s": overhead_cpu_s,
            "trace.window_cover_share": tracer.window_cover_share(),
        }
    )
    return out
