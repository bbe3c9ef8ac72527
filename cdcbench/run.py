"""CDC ingest benchmark: one workload, one run, one JSON result line.

Run from the root of a checkout::

    python3 cdcbench/run.py --workload churn_cdc --seed 1 --seconds 5 --trace 0

Set-up starts a ``local[nproc]`` session, generates the workload's log
from ``--seed``, builds its warm state and runs one untimed warm-up
round. The run then repeats rounds (see ``workloads.py``) until
``--seconds`` have passed, gates the result on untimed correctness
checks, and prints the metrics as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``attempted`` counts windows plus gates and ``failed`` the windows that
did not commit plus the gates that failed, so ``failed / attempted`` is
the run's error rate.

``--trace 0`` runs with the Spark UI off and reports the end-to-end
metrics. Times are CPU seconds of the driver and the JVM (see
:class:`CpuClock`): on a shared host their run-to-run spread is a
fraction of that of wall times.

* ``setup_s``: set-up, from session start to the end of the warm-up,
  JIT compilation included.
* ``events_per_cpu_s``: events applied per CPU second of the timed
  ``replay`` calls, aggregate advances and index ingests included;
  median over rounds.
* ``read_cpu_s``: the post-replay read written to a noop sink; mean
  over a run's timed reads, so that collections spread evenly.
* ``disk_mb``: bytes under the live area after the last round.
* ``peak_rss_mb``: peak resident size of the driver plus the JVM.

A line before the result carries context: the same timings as wall
times (events per second, the median window wall, the window-wall tail
-- the highest of p99, p95, p90, p75 and p50 with at least ten windows
beyond it, else the maximum -- and the read), sample counts, the gates,
the set-up phases and a host CPU-supply probe taken before and after.

``--trace 1`` turns the UI on, alternates untraced and traced rounds,
where spans wrap the engine's public methods (``tracing.py``), and
reports the per-layer metrics, including the tracing overhead in CPU
seconds per window.

Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

from tracing import LAYER_UNITS, SparkRest, Tracer, full_trace, layer_metrics, window_clock

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
DRIVER_MEM = "1g"
#: reads of the warm-up round, which runs the code of a measured round
#: so that the JIT compiles it before anything is timed
WARMUP_READS = 3
#: candidate tail percentiles; the tail is the highest one with at least
#: ten windows beyond it
TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def host_supply_mb_s(threads: int, seconds: float = 0.25) -> float:
    """sha256 MB/s over ``threads`` threads (hashlib releases the GIL):
    the CPU the host delivers right now. Context, not a metric."""
    buf = b"\x00" * (1 << 20)
    counts = [0] * threads
    deadline = time.perf_counter() + seconds

    def spin(i: int) -> None:
        while time.perf_counter() < deadline:
            hashlib.sha256(buf).digest()
            counts[i] += 1

    workers = [threading.Thread(target=spin, args=(i,)) for i in range(threads)]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    return sum(counts) / seconds


def tail(walls: list[float]) -> tuple[int, float]:
    """(percentile, value): the highest candidate percentile with at
    least ten windows beyond it; the maximum when there are too few."""
    ordered = sorted(walls)
    for p in TAIL_PERCENTILES:
        k = int(len(ordered) * p / 100)
        if len(ordered) - k - 1 >= 10:
            return p, ordered[k]
    return 100, ordered[-1]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def start_session(cores: int, traced: bool):
    from rfb_cnpj_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # The heap is sized and touched up front, so the JVM's resident size
        # does not follow the collector's growth decisions and peak_rss_mb
        # moves with the driver and off-heap memory. A run is too short for
        # the optimizing compiler to finish: with it, reads got a third
        # cheaper within a run, as its code arrived. The quick compiler
        # alone settles within the warm-up; its code cache is raised to the
        # tiered size, since Spark's generated code overflows its default
        # and compilation then stops mid-run. The serial collector has no
        # worker threads to spin while the host preempts one of them.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
        "-XX:-UseDynamicNumberOfCompilerThreads -XX:TieredStopAtLevel=1 "
        "-XX:ReservedCodeCacheSize=240m -XX:+UseSerialGC",
    }
    if traced:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000",
                "spark.sql.ui.retainedExecutions": "100",
            }
        )
    return get_spark("cdcbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (Spark's Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_session(spark) -> None:
    """Stop the session, end the JVM and its Python workers, and wait
    until each has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when the driver's pipe closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class CpuClock:
    """CPU seconds used so far by the driver process and the JVM. Unlike
    wall time, CPU time does not count the time the host gives to other
    tenants, so it stays steady on a shared machine."""

    def __init__(self, jvm_pid: int) -> None:
        self.pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _stat(path: str) -> tuple[str, int]:
        with open(path) as f:
            head, tail = f.read().rsplit(")", 1)
        fields = tail.split()
        return head.split("(", 1)[1], int(fields[11]) + int(fields[12])

    def _driver(self) -> float:
        own = resource.getrusage(resource.RUSAGE_SELF)
        return own.ru_utime + own.ru_stime

    def total(self) -> float:
        """Every thread: set-up counts the JIT's compilation as its own
        work."""
        return self._stat(f"/proc/{self.pid}/stat")[1] / self.tick + self._driver()

    def app(self) -> float:
        """Every thread but the JIT compiler's, which works in the
        background on code a round runs for the first time and would land
        its time on whatever is measured then. The JVM keeps its compiler
        threads (see ``start_session``), so their time can be taken off
        the process total."""
        _, ticks = self._stat(f"/proc/{self.pid}/stat")
        tasks = f"/proc/{self.pid}/task"
        for tid in os.listdir(tasks):
            try:
                name, t = self._stat(f"{tasks}/{tid}/stat")
            except FileNotFoundError:
                continue  # the thread ended
            if "CompilerThre" in name:
                ticks -= t
        return ticks / self.tick + self._driver()


@dataclass
class Round:
    traced: bool
    wall: float
    cpu: float
    #: per-window walls (apply_batch plus that window's aggregate advances)
    windows: list[float]
    reads: list[float]
    read_cpus: list[float]


class Run:
    """Rounds of one workload, their timings and their failures. Rounds
    record window walls with ``clock``, a tracer holding only the two
    spans that need, or with ``traced``, which spans every layer."""

    def __init__(self, wl, cpu: CpuClock, traced: Tracer | None) -> None:
        self.wl = wl
        self.cpu = cpu
        self.clock = Tracer()
        window_clock(self.clock)
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.rounds: list[Round] = []
        self.last = None  # (engine, aggregates, index, entries) of the last measured round

    def round(self, warmup: bool = False, traced: bool = False) -> bool:
        """Restore, replay and read once; False when the round failed.
        The warm-up round replays ``wl.warmup_windows``, reads
        WARMUP_READS times and records nothing. A measured round reads
        once untimed, since the first read of a round's files is slower,
        then ``wl.reads`` times."""
        wl = self.wl
        windows = wl.warmup_windows if warmup else wl.windows
        wl.restore()
        eng, aggs, index = wl.open()
        tracer = self.traced if traced else self.clock
        first_span = len(tracer.spans)
        if traced:
            self.clock.unwrap_all()
            full_trace(tracer)
        if not warmup:
            self.attempted += windows
        try:
            c0, t0 = self.cpu.app(), time.perf_counter()
            entries = wl.replay(eng, aggs, index, windows)
            wall, cpu = time.perf_counter() - t0, self.cpu.app() - c0
            if len(entries) != windows:
                raise RuntimeError(f"{len(entries)} of {windows} windows committed")
            reads, read_cpus = [], []
            for i in range(WARMUP_READS if warmup else 1 + wl.reads):
                # the read methods only plan; the span covers the sink's jobs
                c0, t0 = self.cpu.app(), time.perf_counter()
                with tracer.span("engine.read"):
                    wl.read(eng, index, entries).write.format("noop").mode("overwrite").save()
                if i:
                    reads.append(time.perf_counter() - t0)
                    read_cpus.append(self.cpu.app() - c0)
        except Exception:
            traceback.print_exc()
            if not warmup:
                self.failed += windows
            return False
        finally:
            if traced:
                tracer.unwrap_all()
                window_clock(self.clock)
        if not warmup:
            walls = [w for roots, w in tracer.windows() if roots[0] >= first_span]
            self.rounds.append(Round(traced, wall, cpu, walls, reads, read_cpus))
            self.last = (eng, aggs, index, entries)
        return True

    def gate(self, plant_corruption: bool) -> dict[str, bool]:
        eng, aggs, _index, entries = self.last
        if plant_corruption:
            self.wl.plant_corruption()
        try:
            gates = self.wl.gates(eng, aggs, entries)
        except Exception:
            traceback.print_exc()
            gates = {"gates": False}
        self.attempted += len(gates)
        self.failed += sum(1 for ok in gates.values() if not ok)
        return gates


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke test's input sizes")
    ap.add_argument("--plant-corruption", action="store_true",
                    help="delete a state file before the gates (smoke test)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "rfb_cnpj_etl_spark")):
        print(f"no rfb_cnpj_etl_spark package under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, spark-submit's launcher too, keeps its files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM

    import workloads

    cores = os.cpu_count() or 1
    supply = [host_supply_mb_s(cores)]

    t0 = time.perf_counter()
    spark = start_session(cores, traced=bool(args.trace))
    jvm_pid = spark.sparkContext._gateway.proc.pid
    cpu = CpuClock(jvm_pid)
    session = (time.perf_counter() - t0, cpu.total())
    try:
        wl = workloads.Workload(
            args.workload, spark, os.path.join(WORK, args.workload), args.size, args.seed
        )
        c0, t0 = cpu.total(), time.perf_counter()
        wl.generate()
        wl.seed_state()
        seed = (time.perf_counter() - t0, cpu.total() - c0)
        run = Run(wl, cpu, Tracer() if args.trace else None)
        c0, t0 = cpu.total(), time.perf_counter()
        if not run.round(warmup=True):
            raise RuntimeError("warm-up round failed")
        warmup = (time.perf_counter() - t0, cpu.total() - c0)
        setup_s, setup_cpu_s = (sum(x) for x in zip(session, seed, warmup))

        t_measure = time.perf_counter()
        k = 0
        # a traced run alternates untraced and traced rounds as U T T U
        # (a warming JVM biases neither side) and makes four at least
        while time.perf_counter() - t_measure < args.seconds or (args.trace and k < 4):
            run.round(traced=bool(args.trace) and k % 4 in (1, 2))
            k += 1
        plain = [r for r in run.rounds if not r.traced]
        if not plain or (args.trace and len(plain) == len(run.rounds)):
            raise RuntimeError("no measured round succeeded")
        disk_mb = workloads.dir_bytes(wl.live) / 1e6
        eng, _aggs, index, _entries = run.last
        delta_files = wl.delta_files(eng, index)
        gates = run.gate(args.plant_corruption)
        peak_rss_mb = vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

        windows = [w for r in plain for w in r.windows]
        tail_p, tail_s = tail(windows)
        e2e = {
            "setup_s": setup_cpu_s,
            "events_per_cpu_s": statistics.median(wl.events / r.cpu for r in plain),
            "read_cpu_s": statistics.fmean(x for r in plain for x in r.read_cpus),
            "disk_mb": disk_mb,
            "peak_rss_mb": peak_rss_mb,
        }
        walls = {
            "setup_s": setup_s,
            "events_per_s": statistics.median(wl.events / r.wall for r in plain),
            "window_p50_s": statistics.median(windows),
            "window_tail": {"percentile": tail_p, "value_s": tail_s},
            "read_s": statistics.median(x for r in plain for x in r.reads),
        }
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "rounds": len(plain),
            "windows": len(windows),
            "replay_walls_s": [r.wall for r in plain],
            "read_cpus_s": [x for r in plain for x in r.read_cpus],
            "walls": walls,
            "error_rate": run.failed / run.attempted,
            "gates": gates,
            "setup_wall_cpu_s": {"session": session, "gen_and_seed": seed, "warmup": warmup},
        }
        if args.trace:
            rest = SparkRest(spark)
            rest.settle()
            traced = [r for r in run.rounds if r.traced]
            # CPU per window, traced minus untraced, over the U T T U
            # rounds: their means cancel a linear warm-up trend. It can
            # read below zero; the span bookkeeping itself is microseconds.
            overhead_cpu_s = (
                statistics.fmean(r.cpu for r in traced) - statistics.fmean(r.cpu for r in plain)
            ) / wl.windows
            metrics = layer_metrics(
                run.traced, rest.jobs(), rest.stages(), wl.events * len(traced), cores,
                delta_files, overhead_cpu_s,
            )
            out = {name: {"value": v, "unit": LAYER_UNITS[name]} for name, v in metrics.items()}
        else:
            out = {name: {"value": v, "unit": E2E_UNITS[name]} for name, v in e2e.items()}
    finally:
        stop_session(spark)
    supply.append(host_supply_mb_s(cores))
    context["host_supply_mb_s"] = supply
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": out,
            }
        )
    )
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


E2E_UNITS = {
    "setup_s": "s",
    "events_per_cpu_s": "events/cpu-s",
    "read_cpu_s": "s",
    "disk_mb": "MB",
    "peak_rss_mb": "MB",
}


if __name__ == "__main__":
    sys.exit(main())
