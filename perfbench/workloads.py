"""Metric catalogue, the per-run result record, and workload dispatch.

Every workload reports every end-to-end metric under one generic name;
``ALIASES`` in each workload module gives the name the metric has for
that workload (``latency_p50_s`` is a statement's latency in
``interactive_sql`` and a landing file's ingest lag in ``stream_ingest``).
Traced runs report every per-layer metric; a layer the workload never
enters reads 0.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

from perfbench import harness

# Names, units and "better" of every metric live in BENCHMARK.json; this
# module only adds, for each per-layer metric, the end-to-end metric and
# workload it should move.
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
E2E = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

MOVES = {
    "session.get_spark_s": "setup_s, all",
    "manager.load_s": "setup_s, interactive_sql",
    "functions.index_build_s": "none (offline, index_build_s in the report), interactive_sql",
    "manager.sql2ddf_p50_s": "latency_p50_s, interactive_sql",
    "manager.fetch_p50_s": "latency_p50_s, interactive_sql",
    "sql.parse_p50_s": "latency_p50_s, interactive_sql",
    "ddf.facade_p50_s": "latency_p50_s, interactive_sql",
    "operators.relational_p50_s": "latency_p50_s, interactive_sql",
    "operators.stats_p50_s": "throughput_per_s, interactive_sql",
    "functions.ann_search_p50_s": "throughput_per_s, interactive_sql",
    "sources.read_jsonl_s": "none (job_s in the traced report), stream_ingest",
    "functions.near_dup_s": "none (job_s in the traced report), stream_ingest",
    "ml.kmeans_s": "none (job_s in the traced report), stream_ingest",
    "functions.decontaminate_s": "none (job_s in the traced report), stream_ingest",
    "functions.shard_write_s": "none (job_s in the traced report), stream_ingest",
    "storage.release_s": "none (job_s in the traced report), stream_ingest",
    "storage.blocks_released": "none (traced report), stream_ingest",
    "spark.jobs_per_op": "latency_p50_s, interactive_sql; job_s (traced report), stream_ingest",
    "spark.tasks_per_op": "latency_p50_s, interactive_sql; job_s (traced report), stream_ingest",
    "spark.failed_tasks": "latency_p50_s, interactive_sql; job_s (traced report), stream_ingest",
    "streaming.trigger_p50_s": "latency_p50_s and throughput_per_s, stream_ingest",
    "streaming.add_batch_p50_s": "latency_p50_s and throughput_per_s, stream_ingest",
    "streaming.planning_p50_s": "latency_p50_s, stream_ingest",
    "streaming.wal_p50_s": "latency_p50_s, stream_ingest",
    "streaming.state_rows": "peak_rss_mb, stream_ingest",
    "streaming.backlog_files_max": "throughput_per_s, stream_ingest",
    "streaming.tmp_bytes_left": "none (leak record), all",
    "bench.generator_late_s": "none (generator health), stream_ingest",
    "bench.tracing_overhead": "none (traced/untraced op time), all",
    "bench.span_coverage": "none (layer self time / untraced op time), all",
}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    samples: dict[str, object] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    aliases: dict[str, str] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def e2e_metrics(self) -> dict:
        return {n: {"value": float(self.e2e[n]), "unit": u} for n, u in E2E.items()}

    def layer_metrics(self) -> dict:
        return {
            n: {"value": float(self.layer.get(n, 0.0)), "unit": u}
            for n, u in LAYER.items()
        }

    def report(self) -> dict:
        named = {self.aliases.get(n, n): self.e2e.get(n) for n in E2E}
        named["error_rate"] = self.failed / self.attempted if self.attempted else 1.0
        return {
            "metrics": named,
            "samples": self.samples,
            "failures": self.failures[:20],
        }


def latency_metrics(res: Result, samples: list[float], key: str) -> None:
    """The median of ``samples`` into ``res``; the report gets the sample
    count and the highest percentile that count supports (ten samples
    beyond it), or the maximum when even the median lacks that. With no
    sample (every op failed) the latency reads NaN and the run still
    reports its failures."""
    res.samples[key] = len(samples)
    if not samples:
        res.e2e["latency_p50_s"] = math.nan
        return
    res.e2e["latency_p50_s"] = harness.percentile(samples, 50)
    tail = harness.supported_tail(len(samples))
    res.samples[f"{key}_tail"] = (
        {f"p{tail:g}_s": harness.percentile(samples, tail)} if tail else {"max_s": max(samples)})


def run(name: str, ctx) -> Result:
    if name == "interactive_sql":
        from perfbench import interactive as mod
    else:
        from perfbench import stream as mod
    res = mod.run(ctx)
    res.aliases = mod.ALIASES
    if ctx.get_spark_s:
        res.layer["session.get_spark_s"] = harness.median(ctx.get_spark_s)
    return res


def layer_report(ctx, res: Result, untraced: list[float], traced: list[float],
                 jobs, span_metrics: list[tuple[str, str]]) -> None:
    """Per-layer metrics of a traced run: median self time per span
    name, Spark job/task counts per op, the tracing overhead (mean traced
    op time over mean untraced op time) and how much of the untraced op
    time the layer spans account for."""
    spans = ctx.tracer.spans
    self_t = harness.self_times(spans)
    by_name: dict[str, list[float]] = {}
    for s, t in zip(spans, self_t):
        by_name.setdefault(s.name, []).append(t)
    for span, metric in span_metrics:
        if by_name.get(span):
            res.layer[metric] = harness.median(by_name[span])
    if jobs is not None and jobs.jobs:
        res.layer["spark.jobs_per_op"] = sum(jobs.jobs) / len(jobs.jobs)
        res.layer["spark.tasks_per_op"] = sum(jobs.tasks) / len(jobs.tasks)
        res.layer["spark.failed_tasks"] = float(jobs.failed_tasks)
    if not (untraced and traced):
        return
    mean_untraced = sum(untraced) / len(untraced)
    res.layer["bench.tracing_overhead"] = (sum(traced) / len(traced)) / mean_untraced
    roots = [i for i, s in enumerate(spans) if s.name == "bench.op"]
    inside = sum((spans[i].end - spans[i].start) - self_t[i] for i in roots)
    res.layer["bench.span_coverage"] = (inside / len(roots)) / mean_untraced
