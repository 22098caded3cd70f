"""Metric definitions, summary statistics and the per-layer split.

``END_TO_END`` and ``PER_LAYER`` mirror ``BENCHMARK.json``; a test
keeps the two in step.  Every value is computed per pass and reported
as the median over the run's passes.
"""

from __future__ import annotations

import re
import statistics

from perfbench.trace import Span, Tracer, clipped, union_s

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")
SLOTS = 4  # local[4]: the executor slots a job union could fill

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "etl_s": "s",
}

# ROADMAP item-2 plans the workloads run; their wall, driver gap and
# job count are reported one by one.
TRACKED_PLANS = ("corpus_mixing", "gold_fact_lineitem")

PER_LAYER = {
    "session.start_s": "s",
    "session.cold_start_s": "s",
    "session.warmup_s": "s",
    "memory.peak_rss_mb": "MB",
    "catalog.scan_s": "s",
    "plans.build_s": "s",
    "plans.execute_s": "s",
    "query.p50_s": "s",
    "query.samples": "count",
    "spark.driver_gap_s": "s",
    "spark.job_union_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.py_s": "s",
    "executor.gc_s": "s",
    "executor.slot_util": "ratio",
    "shuffle.write_mb": "MB",
    "shuffle.spill_mb": "MB",
    "pipeline.medallion.bronze_s": "s",
    "pipeline.medallion.silver_s": "s",
    "pipeline.medallion.gold_s": "s",
    "pipeline.corpus.bronze_s": "s",
    "pipeline.corpus.silver_filter_s": "s",
    "pipeline.corpus.silver_dedup_s": "s",
    "pipeline.corpus.gold_s": "s",
    "storage.input_mb": "MB",
    "storage.written_mb": "MB",
    "storage.write_amp": "ratio",
    "streaming.increment_s": "s",
    "streaming.batch_ms": "ms",
    "streaming.batches": "count",
    **{
        f"plan.{p}.{m}": u
        for p in TRACKED_PLANS
        for m, u in (("wall_s", "s"), ("driver_gap_s", "s"), ("jobs", "count"))
    },
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail_percentile(n: int) -> float | None:
    """The highest of p90/p99/p99.9 with at least ten of ``n`` samples
    above its nearest rank, or None when only the median qualifies."""
    best = None
    for per_mille in (900, 990, 999):
        rank = -(-n * per_mille // 1000)  # ceil
        if n - rank >= 10:
            best = per_mille / 10
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def gap_and_union(span: Span, jobs) -> tuple[float, float]:
    """(driver-side gap, job-union time) of one span: the gap is the
    span's wall minus the union of its jobs' run intervals."""
    u = union_s(clipped([(j.start, j.end) for j in jobs], span.start, span.end))
    return span.wall_s - u, u


def pass_layers(tracer: Tracer, roots: list[Span], progress: list[dict],
                input_mb: float) -> dict[str, float]:
    """The per-layer split of one traced pass, whose operations are the
    ``roots`` spans (plans and pipeline stages)."""
    out = {k: 0.0 for k in PER_LAYER}
    pipeline_jobs = []
    for root in roots:
        jobs = tracer.jobs_under(root)
        gap, union = gap_and_union(root, jobs)
        out["spark.driver_gap_s"] += gap
        out["spark.job_union_s"] += union
        out["spark.jobs"] += len(jobs)
        for j in jobs:
            out["spark.stages"] += j.stages
            out["spark.tasks"] += j.tasks
            out["spark.failed_tasks"] += j.failed_tasks
            out["executor.run_s"] += j.run_s
            out["executor.cpu_s"] += j.cpu_s
            out["executor.gc_s"] += j.gc_s
            out["shuffle.write_mb"] += j.shuffle_write_b / 1e6
            out["shuffle.spill_mb"] += j.spill_b / 1e6
        if root.name.startswith("plan."):
            plan = root.name[len("plan."):]
            out["query.samples"] += 1
            for child in tracer.subtree(root)[1:]:
                if child.name in ("build", "execute"):
                    out[f"plans.{child.name}_s"] += child.wall_s
            if plan in TRACKED_PLANS:
                out[f"plan.{plan}.wall_s"] = root.wall_s
                out[f"plan.{plan}.driver_gap_s"] = gap
                out[f"plan.{plan}.jobs"] = len(jobs)
        else:
            out[f"{root.name}_s"] = root.wall_s
            pipeline_jobs += jobs
    out["executor.py_s"] = out["executor.run_s"] - out["executor.cpu_s"]
    if out["spark.job_union_s"]:
        out["executor.slot_util"] = out["executor.run_s"] / (SLOTS * out["spark.job_union_s"])
    out["storage.input_mb"] = input_mb
    out["storage.written_mb"] = sum(j.output_b for j in pipeline_jobs) / 1e6
    if input_mb:
        out["storage.write_amp"] = out["storage.written_mb"] / input_mb
    batches = [p["durationMs"]["triggerExecution"] for p in progress]
    out["streaming.batches"] = len(batches)
    out["streaming.batch_ms"] = median(batches)
    plans = [r.wall_s for r in roots if r.name.startswith("plan.")]
    out["query.p50_s"] = median(plans)
    out["trace.wall_s"] = sum(r.wall_s for r in roots)
    return out
