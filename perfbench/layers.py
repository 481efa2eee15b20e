"""The engine layers the traced run measures, and the per-layer
metrics it reports (``<layer>.<function>.<measure>``)."""

from __future__ import annotations

from tracer import Tracer, count_data_files, data_files

CORE = ("wall_s", "self_s", "jobs", "busy_s", "gap_s", "py4j_calls")

# function -> measures reported for it, in BENCHMARK.json order
MEASURES: dict[str, tuple[str, ...]] = {
    "tms.import_daily_versioned": CORE + ("input_mb", "shuffle_mb"),
    "tms.efficiency_by_loom_month": CORE,
    "versioned.write_version": CORE + ("output_mb", "files_added"),
    "versioned.merge_version": CORE + ("shuffle_mb", "output_mb", "files_added"),
    "versioned.delete_where": CORE + ("files_added",),
    "versioned.update_where": CORE + ("files_added",),
    "versioned.optimize_version": CORE + ("output_mb",),
    "versioned.read_version_where": CORE + ("files_read", "prune_ratio"),
    "versioned.read_version_cdf": CORE,
    "sqldml.sql_dml": CORE,
    "bloomindex.build_bloom_index": CORE,
    "bloomindex.read_version_point": CORE + ("files_read", "prune_ratio"),
    "versioned.read_version": ("calls", "wall_s", "py4j_calls"),
    "versioned.current_version": ("calls", "wall_s", "py4j_calls"),
    "catalog.build": ("wall_s", "jobs", "gap_s", "py4j_calls"),
    "catalog.action": ("wall_s", "jobs", "tasks", "busy_s", "gap_s", "exec_cpu_s", "shuffle_mb", "input_mb"),
}
SESSION_METRIC = "session.get_spark.wall_s"
OVERHEAD_METRIC = "trace.overhead_s"

UNITS = {
    "wall_s": "s", "self_s": "s", "busy_s": "s", "gap_s": "s", "exec_cpu_s": "s",
    "jobs": "count", "tasks": "count", "calls": "count", "py4j_calls": "count",
    "files_added": "count", "files_read": "count",
    "input_mb": "MB", "output_mb": "MB", "shuffle_mb": "MB", "prune_ratio": "ratio",
}


def metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    out = [(SESSION_METRIC, "s")]
    for fn, measures in MEASURES.items():
        out += [(f"{fn}.{m}", UNITS[m]) for m in measures]
    out.append((OVERHEAD_METRIC, "s"))
    return out


def _files_added(tracer, span, bound, result, before):
    tdir = bound.get("table_dir")
    if tdir is None:
        return None
    if span is None:
        return count_data_files(tdir)
    span.extra["files_added"] = count_data_files(tdir) - before


def _files_read(read_version, current_version):
    def extras(tracer, span, bound, result, before):
        if span is None or result is None:
            return None
        read = len(data_files(result.inputFiles()))
        live = tracer.live_files(bound["table_dir"], read_version, current_version)
        span.extra["files_read"] = read
        span.extra["prune_ratio"] = read / live if live else 1.0

    return extras


def install(tracer: Tracer) -> None:
    """Patch every traced function of the engine (catalog spans are
    opened by the analytics workload around a query's build and
    action)."""
    from tms_etl_spark import catalog
    from tms_etl_spark.operators import bloomindex, sqldml, versioned
    from tms_etl_spark.tms import pipeline, queries

    catalog.load_all()  # bind-time imports in catalog modules get patched too
    reads = _files_read(versioned.read_version, versioned.current_version)
    tracer.patch("tms", pipeline, ["import_daily_versioned"])
    tracer.patch("tms", queries, ["efficiency_by_loom_month"])
    tracer.patch("versioned", versioned, ["write_version", "merge_version", "delete_where", "update_where"], _files_added)
    tracer.patch("versioned", versioned, ["read_version_where"], reads)
    tracer.patch("versioned", versioned, ["optimize_version", "read_version_cdf", "read_version", "current_version"])
    tracer.patch("sqldml", sqldml, ["sql_dml"])
    tracer.patch("bloomindex", bloomindex, ["build_bloom_index"])
    tracer.patch("bloomindex", bloomindex, ["read_version_point"], reads)


def report(tracer: Tracer, n_passes: int, session_s: float, overhead_s: float) -> dict[str, tuple[float, str]]:
    """Every per-layer metric; a function the workload never called
    reports 0."""
    tracer.finish()
    totals = tracer.totals(n_passes)
    out = {SESSION_METRIC: (session_s, "s")}
    for fn, measures in MEASURES.items():
        agg = totals.get(fn, {})
        for m in measures:
            out[f"{fn}.{m}"] = (float(agg.get(m, 0.0)), UNITS[m])
    out[OVERHEAD_METRIC] = (overhead_s, "s")
    return out
