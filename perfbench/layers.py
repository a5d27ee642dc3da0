"""Per-layer metrics of a traced run, from the benchmark's spans and
Spark's event log.

Layers are named by engine module. Span-timed metrics are medians over
the timed ops of the run; ``spark.*`` metrics are attributed per op by
job group and reported per timed op (sums over the timed ops divided
by their number), except the two ratios, which divide the sums. A
layer the workload never calls reports 0.
"""

from __future__ import annotations

import json
import os

from run import median
from spans import attribute, read_eventlog

#: Every per-layer metric with its unit, in BENCHMARK.json order.
PER_LAYER = {
    "session.start_s": "s",
    "pipeline.run_silver_ms": "ms",
    "pipeline.run_gold_ms": "ms",
    "pipeline.serve_ms": "ms",
    "sources.write_ms": "ms",
    "sources.read_serving_ms": "ms",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "operators.curation.curate_ms": "ms",
    "operators.retrieval.build_ms": "ms",
    "operators.retrieval.exec_ms": "ms",
    "operators.retrieval.eager_jobs": "count",
    "operators.similarity.build_ms": "ms",
    "operators.similarity.exec_ms": "ms",
    "operators.similarity.eager_jobs": "count",
    "operators.retrieval.append_ms": "ms",
    "operators.retrieval.compact_s": "s",
    "operators.retrieval.compact_bytes_rewritten": "bytes",
    "operators.similarity.append_ms": "ms",
    "operators.similarity.compact_s": "s",
    "operators.similarity.compact_bytes_rewritten": "bytes",
    "streaming.run_ms": "ms",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.overhead_ms": "ms",
    "caching.release_ms": "ms",
    "caching.persisted_after_op": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.python_stages": "count",
    "spark.python_task_run_s": "s",
    "spark.input_bytes": "bytes",
    "spark.records_read_per_result": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_only_ms": "ms",
    "spark.core_util": "ratio",
    "spark.unattributed_task_s": "s",
}

#: Top-level ops that are not timed workload ops.
UNTIMED = {"setup", "check", "warmup"}

_SUMMED = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
           "python_stages", "python_task_run_s", "input_bytes",
           "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
           "driver_only_ms")


def per_layer(run, res: dict) -> dict:
    """Stop the session (which flushes the event log), attribute it and
    return every per-layer metric as ``{name: {"value", "unit"}}``.
    The per-op breakdown is written beside the spans."""
    tr = run.tracer
    log_dir = run.path("eventlog")
    run.spark.stop()
    att = attribute(tr.spans, *read_eventlog(log_dir), run.cores)
    timed = {k: v for k, v in att["ops"].items() if v["kind"] not in UNTIMED}
    timed_ids = set(timed)

    def span_ms(name: str) -> float:
        return median([s.ms for s in tr.named(name) if s.op in timed_ids])

    def eager(layer: str) -> float:
        ids = {s.op for s in tr.named(f"{layer}.build") if s.op in timed_ids}
        return median([timed[i]["eager_jobs"] for i in ids])

    def of_kind(*kinds: str) -> list[dict]:
        return [v for v in timed.values() if v["kind"] in kinds]

    def compacted(kind: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in tr.ops(f"{kind}_compact"))

    runs = {s.op: s.ms for s in tr.named("streaming.run") if s.op in timed_ids}
    appends = [v for k, v in timed.items() if k in runs]
    top = [s for s in tr.spans if s.parent is None and s.op in timed_ids]
    writes = [s.attrs for s in top if "files_written" in s.attrs]
    releases = tr.named("caching.release")
    n = max(len(timed), 1)
    tot = {k: sum(v[k] for v in timed.values()) for k in _SUMMED}
    wall = sum(v["wall_s"] for v in timed.values())
    rows = sum(s.attrs.get("rows", 0) for s in top)
    vals = {
        "session.start_s": tr.named("session.start")[0].ms / 1000.0,
        "pipeline.run_silver_ms": span_ms("pipeline.run_silver"),
        "pipeline.run_gold_ms": span_ms("pipeline.run_gold"),
        "pipeline.serve_ms": span_ms("pipeline.serve"),
        "sources.write_ms": span_ms("sources.write"),
        "sources.read_serving_ms": span_ms("sources.read_serving"),
        "sources.files_written": median([a["files_written"] for a in writes]),
        "sources.bytes_written": median([a["bytes_written"] for a in writes]),
        "operators.curation.curate_ms": span_ms("operators.curation.curate"),
        "operators.retrieval.build_ms": span_ms("operators.retrieval.build"),
        "operators.retrieval.exec_ms": span_ms("operators.retrieval.exec"),
        "operators.retrieval.eager_jobs": eager("operators.retrieval"),
        "operators.similarity.build_ms": span_ms("operators.similarity.build"),
        "operators.similarity.exec_ms": span_ms("operators.similarity.exec"),
        "operators.similarity.eager_jobs": eager("operators.similarity"),
        "operators.retrieval.append_ms": median(
            [v["add_batch_ms"] for v in of_kind("docs_append")]),
        "operators.retrieval.compact_s": span_ms("operators.retrieval.compact") / 1000.0,
        "operators.retrieval.compact_bytes_rewritten": compacted(
            "docs", "compact_bytes_rewritten"),
        "operators.similarity.append_ms": median(
            [v["add_batch_ms"] for v in of_kind("vecs_append")]),
        "operators.similarity.compact_s": span_ms("operators.similarity.compact") / 1000.0,
        "operators.similarity.compact_bytes_rewritten": compacted(
            "vecs", "compact_bytes_rewritten"),
        "streaming.run_ms": median(list(runs.values())),
        "streaming.batches": median([v["stream_batches"] for v in appends]),
        "streaming.add_batch_ms": median([v["add_batch_ms"] for v in appends]),
        "streaming.overhead_ms": median(
            [runs[k] - v["add_batch_ms"] for k, v in timed.items() if k in runs]),
        "caching.release_ms": median([s.ms for s in releases]),
        "caching.persisted_after_op": max(
            (s.attrs["persisted_after_op"] for s in releases), default=0),
        **{f"spark.{k}": tot[k] / n for k in _SUMMED},
        "spark.records_read_per_result": (
            sum(v["records_read"] for v in timed.values()) / rows if rows else 0.0),
        "spark.core_util": (tot["task_run_s"] / (wall * run.cores)
                            if wall else 0.0),
        "spark.unattributed_task_s": att["unattributed_task_s"],
    }
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results",
                       f"ops-{run.workload}-{run.seed}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({**att, "end_to_end": res}, f, indent=1)
    run.extra["unattributed_task_s_after_setup"] = (
        att["unattributed_task_s_after_setup"], "s")
    return {k: {"value": float(vals[k]), "unit": u} for k, u in PER_LAYER.items()}
