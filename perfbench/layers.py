"""Per-layer metrics of a traced run, folded from its spans.

Every value is a per-op mean over the traced ops (a fixed op list for a
given seed), so count metrics repeat exactly from run to run. Layers are
named after the engine's modules; ``self.<span>_s`` is a span's duration
minus the part its child spans cover (see ``spans.self_times``).
"""

from __future__ import annotations

from collections import defaultdict

from spans import STAGE_COUNTERS, Tracer, self_times, union_seconds

SPAN_NAMES = ("op", "pipeline.silver", "pipeline.gold", "pipeline.check",
              "streaming.land", "streaming.drain", "streaming.trigger",
              "plans.build", "operators.build", "streaming.build",
              "exec.action", "catalyst.analysis", "catalyst.optimization",
              "catalyst.planning")
BUILD_PACKAGES = ("plans", "operators", "streaming")
TRIGGER_MS = ("trigger_ms", "add_batch_ms", "query_planning_ms",
              "wal_commit_ms", "commit_offsets_ms", "state_commit_ms")

LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s", "session.prep_s": "s",
    "pipeline.silver_s": "s", "pipeline.gold_s": "s", "pipeline.check_s": "s",
    "sources.input_bytes": "bytes", "sources.input_records": "count",
    "sources.output_bytes": "bytes", "sources.write_amp": "ratio",
    "streaming.drain_s": "s", "streaming.batches": "count",
    "streaming.start_s": "s",
    **{f"streaming.{k}": "ms" for k in TRIGGER_MS},
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
    **{f"{p}.build_s": "s" for p in BUILD_PACKAGES},
    **{f"{p}.build_jobs": "count" for p in BUILD_PACKAGES},
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.execute_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.slot_util": "ratio",
    "exec.input_records": "count", "exec.shuffle_write_records": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.fetch_wait_s": "s", "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    **{f"self.{n}_s": "s" for n in SPAN_NAMES},
    "trace.spans": "count", "trace.overhead_ops_per_min": "ops/min",
    "failed_ratio": "ratio", "peak_rss_mb": "MiB",
}


def layer_metrics(tracer: Tracer, traced: list, setup: dict,
                  host: dict) -> dict:
    n = len(traced)
    spans = [s for s in tracer.spans if s.op >= 0]
    selfs = self_times(spans)
    m: dict[str, float] = defaultdict(float)
    m["session.start_s"] = setup["session.start_s"]
    m["session.prep_s"] = setup["session.prep_s"]
    intervals: dict[int, list] = {}
    for s in spans:
        m[f"self.{s.name}_s"] += selfs[s.id] / n
        c = s.counters
        if s.name in ("pipeline.silver", "pipeline.gold", "pipeline.check",
                      "streaming.drain"):
            m[f"{s.name}_s"] += s.duration / n
        if s.name.endswith(".build"):
            m[f"{s.name}_s"] += s.duration / n
            m[f"{s.name}_jobs"] += c.get("jobs", 0) / n
        if s.name.startswith("catalyst."):
            m[f"{s.name}_ms"] += s.duration * 1e3 / n
        if s.name == "streaming.trigger":
            m["streaming.batches"] += 1 / n
            for k in TRIGGER_MS:
                m[f"streaming.{k}"] += c[k] / n
        if "jobs" in c:
            for k in ("jobs", "stages", "tasks", *STAGE_COUNTERS):
                m[f"exec.{k}"] += c[k] / n
            intervals.setdefault(s.op, []).extend(c["job_intervals"])
    m["trace.spans"] = len(spans) / n
    for op_spans in _by_op(spans).values():
        drain = [s for s in op_spans if s.name == "streaming.drain"]
        triggers = [s for s in op_spans if s.name == "streaming.trigger"]
        if drain:
            m["streaming.start_s"] += (sum(s.duration for s in drain)
                                       - sum(s.duration for s in triggers)) / n
        if triggers:
            last = max(triggers, key=lambda s: s.start).counters
            m["streaming.state_rows"] += last["state_rows"] / n
            m["streaming.state_mem_bytes"] += last["state_mem_bytes"] / n
    m["exec.execute_s"] = sum(union_seconds(v) for v in intervals.values()) / n
    busy = sum(r.latency for r in traced)
    m["exec.slot_util"] = m["exec.task_run_s"] * n / (busy * host["cores"])
    m["sources.input_bytes"] = m["exec.input_bytes"]
    m["sources.input_records"] = m["exec.input_records"]
    m["sources.output_bytes"] = m["exec.output_bytes"]
    bronze = sum(r.bronze_bytes for r in traced)
    m["sources.write_amp"] = (m["exec.output_bytes"] * n / bronze
                              if bronze else 0.0)
    return {k: m[k] for k in LAYER_UNITS}


def _by_op(spans):
    out: dict[int, list] = {}
    for s in spans:
        out.setdefault(s.op, []).append(s)
    return out
