"""Run scaffolding shared by the workloads: the scratch directory, the
Spark session's start and stop, op timing and the result line.

A run is one process with one client thread and one SparkSession. The
client issues its next op only after the previous one returns (a
closed loop). All scratch data lives in ``.perfbench_work/`` at the
checkout root and is removed when the run ends.

Ops are timed twice: wall seconds, and CPU seconds of this process,
the JVM and the JVM's child processes. The metrics, set-up included,
use CPU seconds: on a shared virtual machine the hypervisor steals a
share of the CPUs that changes from minute to minute, and stolen time
counts in wall time but not in CPU time.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
SETUP_REPS = 3  # input generation repeats; setup_s takes their median


def checkout_ready() -> str | None:
    """Why the engine cannot run from this checkout, or None."""
    for need in ("bench.py", "tms_etl_spark/__init__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return f"missing {need} next to the benchmark"
    return None


def scratch_dir(workload: str) -> str:
    """Create the run's scratch directory and point every temp-file
    user (Python's tempfile, the JVM, Spark's local dirs) into it."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None  # re-read TMPDIR
    return work


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


@dataclass
class Op:
    kind: str  # "write" (persists data) or "read"
    name: str
    seconds: float  # wall
    cpu_s: float
    rows: int  # input rows the op consumed, for rows_per_cpu_s
    ok: bool


@dataclass
class Run:
    """Timing state of one benchmark process."""

    seed: int
    seconds: float
    work: str
    spark: object = None
    jvm: "CpuClock | None" = None
    tracer: object = None
    ops: list[Op] = field(default_factory=list)
    passes: list[tuple[float, float, bool]] = field(default_factory=list)  # (wall s, cpu s, traced)
    wrong: int = 0  # ops whose output failed a check
    errors: list[str] = field(default_factory=list)
    setup: dict[str, float] = field(default_factory=dict)  # CPU seconds per set-up step

    def op(self, kind: str, name: str, fn: Callable[[], object], rows: int = 0):
        """Time one op. An op that raises is recorded as failed and the
        pass goes on; its result is None."""
        c0 = self.jvm.seconds()
        t0 = time.perf_counter()
        try:
            out = fn()
            ok = True
        except Exception:
            out, ok = None, False
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
        wall = time.perf_counter() - t0
        self.ops.append(Op(kind, name, wall, self.jvm.seconds() - c0, rows, ok))
        return out

    def check(self, what: str, good: bool, n_ops: int = 1) -> None:
        """Record the outcome of a correctness check covering ``n_ops``."""
        if not good:
            self.wrong += n_ops
            self.errors.append(f"check failed: {what}")

    def timed_passes(self, run_pass: Callable[[int], None], prepare: Callable[[int], None]) -> None:
        """Run whole passes until ``seconds`` have gone by (at least
        one); ``prepare(i)`` runs untimed before pass ``i``. With a
        tracer, passes alternate untraced and traced, starting and
        ending untraced (at least three), so the traced figures and
        the tracer's overhead come from one process."""
        t_end = time.perf_counter() + self.seconds
        i = 0
        while True:
            prepare(i)
            traced = self.tracer is not None and i % 2 == 1
            if self.tracer is not None:
                self.tracer.enabled = traced
            c0 = self.jvm.seconds()
            t0 = time.perf_counter()
            run_pass(i)
            self.passes.append((time.perf_counter() - t0, self.jvm.seconds() - c0, traced))
            i += 1
            if time.perf_counter() >= t_end and (self.tracer is None or (i >= 3 and i % 2 == 1)):
                break
        if self.tracer is not None:
            self.tracer.enabled = False

    def end_to_end(self, table_bytes: int) -> dict[str, tuple[float, str]]:
        # means, not medians: a pass holds a few ops of each of several
        # kinds, and the median of such a mix jumps between kinds
        writes = [o.cpu_s for o in self.ops if o.kind == "write"]
        reads = [o.cpu_s for o in self.ops if o.kind == "read"]
        rows = sum(o.rows for o in self.ops)
        op_cpu = sum(o.cpu_s for o in self.ops if o.rows)
        return {
            "setup_s": (sum(self.setup.values()), "s"),
            "run_cpu_s": (sum(o.cpu_s for o in self.ops) / len(self.passes), "s"),
            "write_cpu_s": (statistics.mean(writes), "s"),
            "read_cpu_s": (statistics.mean(reads), "s"),
            "rows_per_cpu_s": (rows / op_cpu, "rows/s"),
            "table_disk_mb": (table_bytes / 2**20, "MB"),
        }

    def timed_setup(self, label: str, fn: Callable[[], object], reps: int = 1):
        """Take a set-up step's CPU seconds; with ``reps`` > 1 the step
        runs that many times and its median counts toward setup_s."""
        times, out = [], None
        for _ in range(reps):
            c0 = self.jvm.seconds()
            out = fn()
            times.append(self.jvm.seconds() - c0)
        self.setup[label] = statistics.median(times)
        return out

    def attempted(self) -> int:
        return len(self.ops)

    def failed(self) -> int:
        return min(len(self.ops), sum(not o.ok for o in self.ops) + self.wrong)


class CpuClock:
    """CPU seconds used so far by this process (exact) plus the JVM
    and its child processes, Python workers included (clock ticks
    from ``/proc``). The JVM's share includes its JIT compiler and
    garbage collector threads: Spark generates code for every query
    it runs, so compiling is a steady part of an op's cost."""

    def __init__(self, jvm_pid: int):
        self.pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def seconds(self) -> float:
        ticks = sum(_stat_ticks(p) for p in [self.pid, *_descendants(self.pid)])
        return time.process_time() + ticks / self.tick


def _stat_ticks(pid: int) -> int:
    """utime + stime of a process and its reaped children; 0 once it
    has exited."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:15])
    except (OSError, ValueError):
        return 0


def noop(df) -> None:
    """Materialise ``df`` fully without collecting or writing it."""
    df.write.format("noop").mode("overwrite").save()


def table_hash(df) -> tuple[int, object]:
    """Order-insensitive (row count, sum of row hashes) of ``df``."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return int(row[0]), row[1]


def start_spark():
    from tms_etl_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "warehouse"),
        },
    )


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM and wait for it and every process
    it started (Python workers) to exit."""
    import signal
    import subprocess

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
