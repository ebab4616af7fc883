"""Metric catalogue and the arithmetic that turns spans into metrics.

``END_TO_END`` and ``PER_LAYER`` are the names and units the runner may
print; ``BENCHMARK.json`` lists the same names (a test holds the two
together). ``MOVES`` records, for every per-layer metric, the
end-to-end metric and workload it is expected to move.

Every workload prints every metric of its mode. A per-layer metric of
a layer the workload does not call reads 0.
"""

from __future__ import annotations

import statistics

from perfbench.trace import SparkWork, StatusReader, covered, self_times, span_jobs

END_TO_END = {
    "setup_s": "s",
    "total_s": "s",
    "fit_p50_s": "s",
    "point_iters_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.read_cache_s": "s",
    "kmeans.iter_mean_s": "s",
    "kmeans.jobs_per_iter": "count",
    "kmeans.stages_per_iter": "count",
    "kmeans.tasks_per_iter": "count",
    "kmeans.driver_share": "ratio",
    "kmeans.executor_run_s_per_iter": "s",
    "kmeans.executor_cpu_s_per_iter": "s",
    "kmeans.gc_s_per_iter": "s",
    "kmeans.core_busy_share": "ratio",
    "kmeans.shuffle_write_bytes_per_iter": "bytes",
    "assign.scan_s": "s",
    "assign.rows_per_s": "1/s",
    "aggregate.update_s": "s",
    "aggregate.jobs": "count",
    "aggregate.stages": "count",
    "silhouette.s": "s",
    "silhouette.pairs_per_s": "1/s",
    "silhouette.tasks": "count",
    "silhouette.executor_run_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.tasks": "count",
    "kmeans_nd.iter_mean_s": "s",
    "kmeans_nd.jobs_per_iter": "count",
    "kmeans_nd.executor_run_s_per_iter": "s",
    "kmeans_nd.driver_share": "ratio",
    "dedup.s": "s",
    "dedup.docs_per_s": "1/s",
    "dedup.candidates": "count",
    "dedup.verified": "count",
    "dedup.verify_yield": "ratio",
    "dedup.shuffle_read_bytes": "bytes",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.stages": "count",
    "groups.jobs": "count",
    "groups.rounds_s": "s",
    "trace.overhead_s": "s",
}

F, S, C = "lloyd3d_floor", "lloyd3d_scan", "curation_nd"
ALL = (F, S, C)
MOVES = {
    "session.start_s": ("setup_s", ALL),
    "sources.read_cache_s": ("setup_s", ALL),
    "kmeans.iter_mean_s": ("fit_p50_s", (F,)),
    "kmeans.jobs_per_iter": ("fit_p50_s", (F,)),
    "kmeans.stages_per_iter": ("fit_p50_s", (F,)),
    "kmeans.tasks_per_iter": ("fit_p50_s", (F,)),
    "kmeans.driver_share": ("fit_p50_s", (F,)),
    "kmeans.executor_run_s_per_iter": ("point_iters_per_s", (S,)),
    "kmeans.executor_cpu_s_per_iter": ("point_iters_per_s", (S,)),
    "kmeans.gc_s_per_iter": ("point_iters_per_s", (S,)),
    "kmeans.core_busy_share": ("point_iters_per_s", (S,)),
    "kmeans.shuffle_write_bytes_per_iter": ("point_iters_per_s", (S,)),
    "assign.scan_s": ("point_iters_per_s", (S,)),
    "assign.rows_per_s": ("point_iters_per_s", (S,)),
    "aggregate.update_s": ("fit_p50_s", (F,)),
    "aggregate.jobs": ("fit_p50_s", (F,)),
    "aggregate.stages": ("fit_p50_s", (F,)),
    "silhouette.s": ("total_s", (F,)),
    "silhouette.pairs_per_s": ("total_s", (F,)),
    "silhouette.tasks": ("total_s", (F,)),
    "silhouette.executor_run_s": ("total_s", (F,)),
    "sinks.write_s": ("total_s", (S,)),
    "sinks.bytes_written": ("total_s", (S,)),
    "sinks.files_written": ("total_s", (S,)),
    "sinks.tasks": ("total_s", (S,)),
    "kmeans_nd.iter_mean_s": ("point_iters_per_s", (C,)),
    "kmeans_nd.jobs_per_iter": ("point_iters_per_s", (C,)),
    "kmeans_nd.executor_run_s_per_iter": ("point_iters_per_s", (C,)),
    "kmeans_nd.driver_share": ("point_iters_per_s", (C,)),
    "dedup.s": ("total_s", (C,)),
    "dedup.docs_per_s": ("total_s", (C,)),
    "dedup.candidates": ("total_s", (C,)),
    "dedup.verified": ("total_s", (C,)),
    "dedup.verify_yield": ("total_s", (C,)),
    "dedup.shuffle_read_bytes": ("total_s", (C,)),
    "dedup.shuffle_write_bytes": ("total_s", (C,)),
    "dedup.stages": ("total_s", (C,)),
    "groups.jobs": ("total_s", (C,)),
    "groups.rounds_s": ("total_s", (C,)),
    "trace.overhead_s": ("total_s", ALL),
}

FIT_SPANS = ("fit", "fit_nd")


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(tracer, passes: list[tuple[bool, float]], setups: list[float], rss_mb: float) -> dict:
    """Medians over the passes and fit calls of an untraced run."""
    fits = [s for s in tracer.spans if s.name in FIT_SPANS]
    vals = {
        "setup_s": statistics.median(setups),
        "total_s": statistics.median(d for _, d in passes),
        "fit_p50_s": statistics.median(s.dur for s in fits),
        "point_iters_per_s": statistics.median(
            s.attrs["rows"] * s.attrs["iters"] / s.dur for s in fits
        ),
        "peak_rss_mb": rss_mb,
    }
    return {k: _metric(v, END_TO_END[k]) for k, v in vals.items()}


def _pass_of(spans, span) -> int | None:
    p = span.parent
    while p is not None and spans[p].name != "pass":
        p = spans[p].parent
    return p


def _is_traced(spans, i: int) -> bool:
    p = _pass_of(spans, spans[i])
    return p is None or spans[p].attrs["traced"]


_SUMMED = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "output_bytes",
)


def _phase(reader: StatusReader, spans, ix: list[int]) -> tuple[SparkWork, float]:
    """Spark work summed over spans ``ix``, and the part of their wall
    time during which at least one of their own jobs was running."""
    total = SparkWork()
    busy = 0.0
    for i in ix:
        w = reader.work(span_jobs(spans, i))
        for f in _SUMMED:
            setattr(total, f, getattr(total, f) + getattr(w, f))
        hi = spans[i].attrs["wall_end"]
        busy += covered(w.job_intervals, hi - spans[i].dur, hi)
    return total, busy


def per_layer(spark, tracer, passes, starts, reads, cpus: int, workload: str) -> dict:
    reader = StatusReader(spark)
    spans = tracer.spans

    def idxs(name: str) -> list[int]:
        return [i for i, s in enumerate(spans) if s.name == name and _is_traced(spans, i)]

    def dur(ix: list[int]) -> float:
        return sum(spans[i].dur for i in ix)

    v: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    v["session.start_s"] = statistics.median(starts)
    v["sources.read_cache_s"] = statistics.median(reads)

    for name, prefix in (("fit", "kmeans"), ("fit_nd", "kmeans_nd")):
        ix = idxs(name)
        if not ix:
            continue
        iters = sum(spans[i].attrs["iters"] for i in ix)
        w, busy = _phase(reader, spans, ix)
        wall = dur(ix)
        v[f"{prefix}.iter_mean_s"] = wall / iters
        v[f"{prefix}.jobs_per_iter"] = w.jobs / iters
        v[f"{prefix}.executor_run_s_per_iter"] = w.executor_run_s / iters
        v[f"{prefix}.driver_share"] = 1.0 - busy / wall
        if prefix == "kmeans":
            v["kmeans.stages_per_iter"] = w.stages / iters
            v["kmeans.tasks_per_iter"] = w.tasks / iters
            v["kmeans.executor_cpu_s_per_iter"] = w.executor_cpu_s / iters
            v["kmeans.gc_s_per_iter"] = w.gc_s / iters
            v["kmeans.core_busy_share"] = w.executor_run_s / (wall * cpus)
            v["kmeans.shuffle_write_bytes_per_iter"] = w.shuffle_write_bytes / iters

    if ix := idxs("assign"):
        v["assign.scan_s"] = dur(ix)
        v["assign.rows_per_s"] = spans[ix[0]].attrs["rows"] / dur(ix)
    if ix := idxs("aggregate"):
        w, _ = _phase(reader, spans, ix)
        v["aggregate.update_s"] = dur(ix)
        v["aggregate.jobs"] = w.jobs
        v["aggregate.stages"] = w.stages
    if ix := idxs("silhouette"):
        w, _ = _phase(reader, spans, ix)
        v["silhouette.s"] = dur(ix) / len(ix)
        v["silhouette.pairs_per_s"] = sum(spans[i].attrs["pairs"] for i in ix) / dur(ix)
        v["silhouette.tasks"] = w.tasks / len(ix)
        v["silhouette.executor_run_s"] = w.executor_run_s / len(ix)
    if ix := idxs("label_write"):
        w, _ = _phase(reader, spans, ix)
        v["sinks.write_s"] = dur(ix) / len(ix)
        v["sinks.bytes_written"] = w.output_bytes / len(ix)
        v["sinks.files_written"] = sum(spans[i].attrs["files"] for i in ix) / len(ix)
        v["sinks.tasks"] = w.tasks / len(ix)
    if ix := idxs("dedup"):
        w, _ = _phase(reader, spans, ix)
        v["dedup.s"] = dur(ix) / len(ix)
        v["dedup.docs_per_s"] = sum(spans[i].attrs["docs"] for i in ix) / dur(ix)
        v["dedup.shuffle_read_bytes"] = w.shuffle_read_bytes / len(ix)
        v["dedup.shuffle_write_bytes"] = w.shuffle_write_bytes / len(ix)
        v["dedup.stages"] = w.stages / len(ix)
    if ix := idxs("dedup_probe"):
        a = spans[ix[0]].attrs
        v["dedup.candidates"] = a["candidates"]
        v["dedup.verified"] = a["verified"]
        v["dedup.verify_yield"] = a["verified"] / a["candidates"] if a["candidates"] else 0.0
    if ix := idxs("groups"):
        w, _ = _phase(reader, spans, ix)
        v["groups.jobs"] = w.jobs / len(ix)
        v["groups.rounds_s"] = dur(ix) / len(ix)

    plain = [d for t, d in passes if not t]
    traced = [d for t, d in passes if t]
    v["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)

    print(report(reader, tracer, workload, cpus))
    return {k: _metric(x, PER_LAYER[k]) for k, x in v.items()}


def report(reader: StatusReader, tracer, workload: str, cpus: int) -> str:
    """Phases of the traced passes ranked by job-floor share (the part of
    a phase's wall time with none of its Spark jobs running)."""
    spans = tracer.spans
    selfs = self_times(spans)
    by_name: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        if s.name != "pass" and _is_traced(spans, i):
            by_name.setdefault(s.name, []).append(i)
    rows = []
    for name, ix in by_name.items():
        w, busy = _phase(reader, spans, ix)
        wall = sum(spans[i].dur for i in ix)
        rows.append((1 - busy / wall, name, len(ix), wall, sum(selfs[i] for i in ix), w))
    lines = [
        f"layer report for {workload} (traced spans; driver_share = wall with no job running / wall)",
        f"{'phase':<14}{'calls':>6}{'wall_s':>9}{'self_s':>9}{'driver_share':>14}{'core_busy':>11}{'jobs':>6}",
    ]
    for share, name, n, wall, self_s, w in sorted(rows, key=lambda r: -r[0]):
        lines.append(
            f"{name:<14}{n:>6}{wall:>9.3f}{self_s:>9.3f}{share:>14.3f}"
            f"{w.executor_run_s / (wall * cpus):>11.3f}{w.jobs:>6}"
        )
    return "\n".join(lines)
