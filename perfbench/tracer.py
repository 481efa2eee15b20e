"""Outside-in tracer: spans around the engine's layer functions,
installed from the benchmark's side without touching the package.

`Tracer.patch` replaces a function on its module and on every other
loaded engine module that bound it by ``from … import`` at import
time, so nested calls are caught whichever way the caller reached the
function. A call made while ``enabled`` opens a span; spans nest and
carry their parent's id. Each span runs under its own Spark job group,
so every job belongs to the innermost open span. When a span closes,
its jobs' times and its stages' task metrics are read from the JVM's
``AppStatusStore`` (this works with ``spark.ui.enabled=false``). py4j
sends are counted by wrapping the gateway client; the tracer's own
sends are not counted. Spans stay in memory until `dump`.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import sys
import time
from collections.abc import Iterator
from dataclasses import asdict, dataclass, field

STAGE_MEASURES = ("tasks", "exec_cpu_s", "input_mb", "output_mb", "shuffle_mb")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float  # epoch seconds
    t1: float = 0.0
    wall_s: float = 0.0
    self_s: float = 0.0
    tracer_s: float = 0.0  # the tracer's own time inside this span
    py4j_calls: int = 0
    job_ids: list[int] = field(default_factory=list)  # own jobs only
    busy: list[tuple[float, float]] = field(default_factory=list)  # own job intervals
    stages: dict[str, float] = field(default_factory=dict)  # own stage totals
    extra: dict[str, float] = field(default_factory=dict)


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._next_id = 0
        self._py4j = 0
        self._quiet_depth = 0
        self._patches: list[tuple[object, str, object]] = []
        self._mapper = None
        self._live_files: dict[tuple[str, int], int] = {}
        self._seen_stages: set[int] = set()
        if spark is not None:
            self._count_py4j(spark.sparkContext._gateway._gateway_client)

    # ---------------------------------------------------------------- py4j
    def _count_py4j(self, client) -> None:
        send = client.send_command

        def counted(*args, **kwargs):
            if not self._quiet_depth:
                self._py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted

    @contextlib.contextmanager
    def quiet(self) -> Iterator[None]:
        """py4j sends made inside are the tracer's own and not counted."""
        self._quiet_depth += 1
        try:
            yield
        finally:
            self._quiet_depth -= 1

    # ------------------------------------------------------------ patching
    def patch(self, layer: str, module, names: list[str], extras=None) -> None:
        """Wrap ``module.<name>`` for each name, everywhere it is bound.
        ``extras(tracer, span, bound_args, result, before)`` may add
        measures when a span closes; ``before`` is what
        ``extras(…, None, None)`` returned at span entry."""
        for name in names:
            fn = getattr(module, name)
            wrapper = self._wrap(f"{layer}.{name}", fn, extras)
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "") or ""
                if not (mname.startswith("tms_etl_spark") or mname == "bench"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapper)
                        self._patches.append((mod, attr, fn))

    def unpatch(self) -> None:
        for mod, attr, fn in reversed(self._patches):
            setattr(mod, attr, fn)
        self._patches.clear()

    def _wrap(self, name: str, fn, extras):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            bound = sig.bind_partial(*args, **kwargs).arguments
            before = None
            if extras:
                with self.bookkeeping():
                    before = extras(self, None, bound, None, None)
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if extras:
                with self.bookkeeping():
                    self._set_group(None)  # jobs of the tracer's own reads belong to no span
                    extras(self, sp, bound, out, before)
                    self._set_group(self._open[-1] if self._open else None)
            return out

        traced.__wrapped_by_tracer__ = fn
        return traced

    # --------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        """Open a span; a no-op record when tracing is off."""
        if not self.enabled:
            yield Span(-1, None, name, time.time())
            return
        parent = self._open[-1] if self._open else None
        sp = Span(self._next_id, parent.id if parent else None, name, time.time())
        self._next_id += 1
        self._open.append(sp)
        with self.bookkeeping():
            self._set_group(sp)
        p0 = self._py4j
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            sp.py4j_calls = self._py4j - p0
            self._open.pop()
            with self.bookkeeping():
                self._set_group(parent)
                self._collect(sp)
            self.spans.append(sp)

    @contextlib.contextmanager
    def bookkeeping(self) -> Iterator[None]:
        """The tracer's own work: its py4j sends are not counted and its
        time is taken out of every open span's wall time."""
        t0 = time.time()
        with self.quiet():
            yield
        dt = time.time() - t0
        for sp in self._open:
            sp.tracer_s += dt

    def _set_group(self, sp: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(f"perfbench-span-{sp.id}", sp.name)

    def _collect(self, sp: Span) -> None:
        """Read the span's jobs and their stages from the status store.
        A stage counts once, for the job that ran it; later jobs that
        reuse its shuffle output list it too."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        if self._mapper is None:
            jvm = self.spark._jvm
            scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala)
        stage_ids: set[int] = set()
        for jid in sc.statusTracker().getJobIdsForGroup(f"perfbench-span-{sp.id}"):
            job = json.loads(self._mapper.writeValueAsString(store.job(jid)))
            sp.job_ids.append(jid)
            if job.get("submissionTime") and job.get("completionTime"):
                sp.busy.append((job["submissionTime"] / 1e3, job["completionTime"] / 1e3))
            stage_ids.update(job.get("stageIds") or [])
        totals = dict.fromkeys(STAGE_MEASURES, 0.0)
        for sid in sorted(stage_ids - self._seen_stages):
            st = json.loads(self._mapper.writeValueAsString(store.lastStageAttempt(sid)))
            if st.get("status") != "COMPLETE":
                continue
            self._seen_stages.add(sid)
            totals["tasks"] += st.get("numCompleteTasks", 0)
            totals["exec_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            totals["input_mb"] += st.get("inputBytes", 0) / 2**20
            totals["output_mb"] += st.get("outputBytes", 0) / 2**20
            totals["shuffle_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
        sp.stages = totals

    # ---------------------------------------------------------- aggregation
    def finish(self) -> None:
        """Fill wall/self time; call once every span has closed. One
        client thread runs the spans, so children never overlap and
        self time is wall time minus the children's wall time."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        for sp in self.spans:
            sp.wall_s = sp.t1 - sp.t0 - sp.tracer_s
        for sp in self.spans:
            sp.self_s = sp.wall_s - sum(c.wall_s for c in children.get(sp.id, []))
        self._children = children

    def _subtree(self, sp: Span) -> Iterator[Span]:
        yield sp
        for c in self._children.get(sp.id, []):
            yield from self._subtree(c)

    def totals(self, n_passes: int) -> dict[str, dict[str, float]]:
        """Per function name, each measure summed over its spans and
        divided by ``n_passes``. Jobs, busy time and bytes are
        inclusive of child spans (the time the caller waited on);
        ``self_s`` is exclusive."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            tree = list(self._subtree(sp))
            busy = _union([iv for s in tree for iv in s.busy], sp.t0, sp.t1)
            agg = out.setdefault(sp.name, {"calls": 0.0})
            vals = {
                "calls": 1,
                "wall_s": sp.wall_s,
                "self_s": sp.self_s,
                "jobs": sum(len(s.job_ids) for s in tree),
                "busy_s": busy,
                "gap_s": sp.wall_s - busy,
                "py4j_calls": sp.py4j_calls,
            }
            for k in STAGE_MEASURES:
                vals[k] = sum(s.stages.get(k, 0.0) for s in tree)
            vals.update(sp.extra)
            for k, v in vals.items():
                agg[k] = agg.get(k, 0.0) + v
        for agg in out.values():
            calls = agg["calls"]
            for k in list(agg):
                if k == "prune_ratio":
                    agg[k] = agg[k] / calls  # a ratio averages per call
                else:
                    agg[k] = agg[k] / n_passes
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")

    # ---------------------------------------------------- table inspection
    def live_files(self, table_dir: str, read_version, current_version) -> int:
        """Data files of the table's current version (cached per
        version); ``read_version``/``current_version`` are the
        unwrapped engine functions."""
        v = current_version(self.spark, table_dir)
        key = (table_dir, v)
        if key not in self._live_files:
            self._live_files[key] = len(data_files(read_version(self.spark, table_dir).inputFiles()))
        return self._live_files[key]


def data_files(paths) -> list[str]:
    """The table data files among a scan's input files (tombstone and
    index sidecars excluded)."""
    return [p for p in paths if "/data/" in p]


def count_data_files(table_dir: str) -> int:
    n = 0
    for _, _, files in os.walk(os.path.join(table_dir, "data")):
        n += sum(f.endswith(".parquet") for f in files)
    return n
