"""Per-layer metrics from one traced job's spans.

Every workload reports every metric below; a layer its workload does
not exercise reads 0. Times are span self times (children excluded),
summed over the job; counts come from the Spark jobs attributed to the
layer's spans. Across the traced jobs of a run each metric is the
median.
"""

from __future__ import annotations

import os
import statistics

from .trace import layer_totals

# name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "config.load_s": ("s", "lower"),
    "sources.scan_s": ("s", "lower"),
    "sources.tags_s": ("s", "lower"),
    "sources.list_jobs": ("count", "lower"),
    "sources.scan_tasks": ("count", "lower"),
    "sources.files": ("count", "lower"),
    "sources.bytes_in": ("bytes", "lower"),
    "dsl.compile_s": ("s", "lower"),
    "dsl.native_fields": ("count", "higher"),
    "dsl.lookup_fields": ("count", "higher"),
    "dsl.fallback_fields": ("count", "lower"),
    "derive.apply_s": ("s", "lower"),
    "pipeline.transform_s": ("s", "lower"),
    "pipeline.run_batch_s": ("s", "lower"),
    "pipeline.spark_jobs": ("count", "lower"),
    "pipeline.cached_bytes": ("bytes", "lower"),
    "writers.write_fact_s": ("s", "lower"),
    "writers.files_written": ("count", "lower"),
    "writers.bytes_written": ("bytes", "lower"),
    "rollup.build_ladder_s": ("s", "lower"),
    "rollup.shuffle_bytes": ("bytes", "lower"),
    "reconcile.compare_s": ("s", "lower"),
    "reconcile.spark_jobs": ("count", "lower"),
    "reconcile.rescan_factor": ("ratio", "lower"),
    "reconcile.defects_found": ("count", "lower"),
    "report.build_s": ("s", "lower"),
    "report.cases": ("count", "higher"),
    "streaming.batches": ("count", "lower"),
    "streaming.batch_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.rows_per_batch": ("count", "higher"),
    "streaming.spark_jobs": ("count", "lower"),
    "llm_ops.exact_s": ("s", "lower"),
    "llm_ops.shingle_s": ("s", "lower"),
    "llm_ops.candidates_s": ("s", "lower"),
    "llm_ops.verify_s": ("s", "lower"),
    "llm_ops.components_s": ("s", "lower"),
    "llm_ops.candidate_pairs": ("count", "lower"),
    "llm_ops.verified_pairs": ("count", "higher"),
    "llm_ops.verify_yield": ("ratio", "higher"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "trace.job_s": ("s", "lower"),
    "trace.layer_self_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.fusion_gap_s": ("s", "higher"),
}

# layer spans whose self time counts as layer work (the rest is glue)
_TIMED = {
    "config.load": "config.load_s",
    "sources.scan": "sources.scan_s",
    "sources.tags": "sources.tags_s",
    "dsl.compile": "dsl.compile_s",
    "derive.apply": "derive.apply_s",
    "pipeline.transform": "pipeline.transform_s",
    "pipeline.run_batch": "pipeline.run_batch_s",
    "writers.write_fact": "writers.write_fact_s",
    "rollup.build_ladder": "rollup.build_ladder_s",
    "reconcile.compare": "reconcile.compare_s",
    "report.build": "report.build_s",
    "streaming.run": None,
    "llm_ops.exact": "llm_ops.exact_s",
    "llm_ops.near": None,
    "llm_ops.shingle": "llm_ops.shingle_s",
    "llm_ops.candidates": "llm_ops.candidates_s",
    "llm_ops.verify": "llm_ops.verify_s",
    "llm_ops.components": "llm_ops.components_s",
}


def _attrs(spans: list[dict], name: str, key: str) -> list:
    return [s["attrs"][key] for s in spans if s["name"] == name and key in s["attrs"]]


def job_metrics(tracer, result: dict, job_s: float) -> dict:
    """One traced job -> {metric: value} (before the median)."""
    spans = tracer.spans
    tot = layer_totals(spans, tracer.run_id)

    def g(layer: str, key: str) -> float:
        return tot.get(layer, {}).get(key, 0)

    m = dict.fromkeys(PER_LAYER, 0.0)
    layer_self = 0.0
    for span_name, metric in _TIMED.items():
        layer_self += g(span_name, "self_s")
        if metric:
            m[metric] = g(span_name, "self_s")
    m["trace.job_s"] = job_s
    m["trace.layer_self_s"] = layer_self

    m["sources.list_jobs"] = g("sources.scan", "call_jobs") + g("sources.tags", "call_jobs")
    m["sources.scan_tasks"] = g("sources.scan", "tasks")
    m["sources.files"] = max(_attrs(spans, "sources.scan", "files"), default=0)
    m["sources.bytes_in"] = g("sources.scan", "input_bytes")

    n_transform = max(1, g("pipeline.transform", "calls"))
    for tiers in _attrs(spans, "derive.apply", "tiers"):
        for tier in tiers.values():
            key = {1: "dsl.native_fields", 2: "dsl.lookup_fields",
                   3: "dsl.fallback_fields"}[tier]
            m[key] += 1 / n_transform
    m["pipeline.spark_jobs"] = g("pipeline.transform", "jobs") + g("pipeline.run_batch", "jobs")
    m["pipeline.cached_bytes"] = sum(_attrs(spans, "pipeline.transform", "cached_bytes"))

    m["writers.bytes_written"] = g("writers.write_fact", "output_bytes")
    if g("writers.write_fact", "calls"):
        m["writers.files_written"] = _count_files(result["fact_root"])
    m["rollup.shuffle_bytes"] = g("rollup.build_ladder", "shuffle_write_bytes")

    calls = g("reconcile.compare", "calls")
    if calls:
        m["reconcile.spark_jobs"] = g("reconcile.compare", "jobs") / calls
        actual_bytes = sum(_attrs(spans, "report.build", "actual_bytes"))
        if actual_bytes:
            m["reconcile.rescan_factor"] = g("reconcile.compare", "input_bytes") / actual_bytes
        m["reconcile.defects_found"] = sum(
            len(r.missing_oracle_records) + len(r.missing_raw_data_records)
            + len(r.diffs) + len(r.missing_columns) + len(r.missing_in_conf)
            for r in result["reports"]
        )
    m["report.cases"] = sum(_attrs(spans, "report.build", "cases"))

    batches = result.get("batches") or []
    if batches:
        m["streaming.batches"] = len(batches)
        m["streaming.batch_s"] = statistics.median(b["trigger_s"] for b in batches)
        m["streaming.add_batch_s"] = statistics.median(b["add_batch_s"] for b in batches)
        m["streaming.rows_per_batch"] = statistics.median(b["rows"] for b in batches)
        m["streaming.spark_jobs"] = g("streaming.run", "jobs")

    m["llm_ops.candidate_pairs"] = sum(_attrs(spans, "llm_ops.candidates", "rows"))
    m["llm_ops.verified_pairs"] = sum(_attrs(spans, "llm_ops.verify", "rows"))
    if m["llm_ops.candidate_pairs"]:
        m["llm_ops.verify_yield"] = m["llm_ops.verified_pairs"] / m["llm_ops.candidate_pairs"]

    all_spans = [s for s in spans if s["run"] == tracer.run_id]
    m["spark.executor_run_s"] = sum(s["spark"]["executor_run_ms"] for s in all_spans) / 1000
    m["spark.gc_s"] = sum(s["spark"]["gc_ms"] for s in all_spans) / 1000
    m["spark.spill_bytes"] = sum(s["spark"]["spill_bytes"] for s in all_spans)
    return m


def _count_files(path: str) -> int:
    return sum(
        1 for _, _, names in os.walk(path) for f in names
        if not f.startswith((".", "_"))
    )


def per_layer(traced: list[dict], session_start_s: float, job_s: list[float]) -> dict:
    """Median over the traced jobs, plus the session start and the
    tracing overhead against the untraced jobs of the same run."""
    out = {}
    for name, (unit, _) in PER_LAYER.items():
        vals = [t[name] for t in traced]
        out[name] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit}
    out["session.start_s"]["value"] = session_start_s
    if traced and job_s:
        untraced = statistics.median(job_s)
        out["trace.overhead_s"]["value"] = out["trace.job_s"]["value"] - untraced
        # untraced job time the layer self times do not account for:
        # negative when materializing at boundaries costs more than the
        # fused plan (what stage fusion hides)
        out["trace.fusion_gap_s"]["value"] = untraced - out["trace.layer_self_s"]["value"]
    return out
