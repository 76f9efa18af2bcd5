"""Per-layer summary of one traced run.

Every layer time is a sum of span self times (a span's duration minus
the part its child spans cover). In the result line a layer's time is a
share of the traced operations' wall time, in %, because most layers are
not called at all by one of the workloads; the absolute seconds are in the
``*-layers.json`` file beside the spans.

Which end-to-end metric each layer should move, and where:

- ``session``: ``setup_s``, both workloads.
- ``paged``, ``etl``, ``etl.hwm``, ``sinks``, ``reports``: ``latency_p50_s``
  and ``throughput_per_s`` on etl_sync; ``sinks.bytes_written`` also moves
  the printed ``target_bytes_per_row``. Predicted 0 on curation.
- ``io``, ``ops``, ``spark.plan``: ``latency_p50_s`` on curation (and on
  analytics_queries, whose ``noop`` writes plan inside the action span, so
  ``spark.plan`` is 0 there).
- ``materialize``, ``streaming``, ``spark.shuffle_write_bytes``:
  ``throughput_per_s`` on curation. Predicted 0 on etl_sync and
  analytics_queries.
- ``host``: control values, expected to move nothing.
"""

from __future__ import annotations

import statistics

from spans import Span, Tracer

# layer key → metric prefix for the time share and job counts
LAYERS = {
    "io": "io.load",
    "paged": "paged.read",
    "etl": "etl.sync_self",
    "etl.hwm": "etl.hwm",
    "sinks": "sinks.upsert",
    "reports": "reports.update",
    "ops": "ops.build_self",
    "materialize": "materialize.time",
    "spark.plan": "spark.plan",
    "spark.action": "spark.action",
}


def summarize(tracer: Tracer, results, cpus: int) -> tuple[dict, dict]:
    """Return (result-line metrics, detail file) for one traced run;
    both map name → (value, unit)."""
    ops = [s for s in tracer.spans if s.layer == "op"]
    # every span opened inside an operation (set-up and checks have trace 0)
    spans = [s for s in tracer.spans if s.layer != "op" and s.trace]
    op_wall = sum(s.end - s.start for s in ops) or 1.0
    by_layer: dict[str, list[Span]] = {}
    for s in spans:
        by_layer.setdefault(s.layer, []).append(s)

    line: dict = {}
    detail: dict = {}
    for layer, prefix in LAYERS.items():
        ss = by_layer.get(layer, [])
        self_s = sum(tracer.self_time(s) for s in ss)
        line[f"{prefix}_pct"] = (100.0 * self_s / op_wall, "%")
        detail[f"{prefix}_s"] = (self_s, "s")
        detail[f"{prefix}_calls"] = (len(ss), "count")
        detail[f"{prefix}_jobs"] = (sum(s.jobs for s in ss), "count")

    def count(layer, key):
        return sum(s.counts.get(key, 0) or 0 for s in by_layer.get(layer, []))

    syncs = by_layer.get("etl", [])
    # sync's children are high_water_mark and upsert_append
    sync_jobs = sum(s.jobs for y in ("etl", "etl.hwm", "sinks") for s in by_layer.get(y, []))
    offered = sum(r.units for r in results if r.op.kind == "increment" and not r.error)
    upserts = by_layer.get("sinks", [])
    line.update({
        "io.load_calls": (len(by_layer.get("io", [])), "count"),
        "io.load_jobs": (sum(s.jobs for s in by_layer.get("io", [])), "count"),
        "paged.rows_read": (count("paged", "rows_read"), "count"),
        "etl.syncs": (len(syncs), "count"),
        "etl.jobs_per_sync": (sync_jobs / len(syncs) if syncs else 0.0, "count"),
        "sinks.upsert_jobs": (sum(s.jobs for s in upserts), "count"),
        "sinks.files_written": (count("sinks", "files_written"), "count"),
        "sinks.bytes_written": (count("sinks", "bytes_written"), "B"),
        "sinks.buckets_touched": (count("sinks", "buckets_touched"), "count"),
        "sinks.fresh_frac": (count("sinks", "appended") / offered if offered else 0.0, "1"),
        "reports.update_jobs": (sum(s.jobs for s in by_layer.get("reports", [])), "count"),
        "reports.days_rewritten": (count("reports", "days_rewritten"), "count"),
        "ops.build_jobs": (sum(s.jobs for s in by_layer.get("ops", [])), "count"),
        "materialize.calls": (len(by_layer.get("materialize", [])), "count"),
        "materialize.jobs": (sum(s.jobs for s in by_layer.get("materialize", [])), "count"),
    })

    progress = tracer.progress
    triggers = len(progress)
    trigger_s = sum(p["trigger_ms"] for p in progress) / 1000.0
    line.update({
        "streaming.triggers": (triggers, "count"),
        "streaming.trigger_pct": (100.0 * trigger_s / op_wall, "%"),
        "streaming.input_rows": (sum(p["input_rows"] for p in progress), "count"),
        "streaming.empty_trigger_frac": (
            sum(p["input_rows"] == 0 for p in progress) / triggers if triggers else 0.0, "1"),
    })
    detail["streaming.trigger_s"] = (trigger_s, "s")

    counted = spans + ops + list(tracer.stream_runs.values())
    task_s = sum(s.task_s for s in counted)
    line.update({
        "spark.jobs": (sum(s.jobs for s in counted), "count"),
        "spark.stages": (sum(s.stages for s in counted), "count"),
        "spark.tasks": (sum(s.tasks for s in counted), "count"),
        "spark.task_busy_s": (task_s, "s"),
        "spark.gc_s": (sum(s.gc_s for s in counted), "s"),
        "spark.shuffle_write_bytes": (sum(s.shuffle_write_bytes for s in counted), "B"),
        "spark.input_bytes": (sum(s.input_bytes for s in counted), "B"),
        "spark.busy_frac": (task_s / (op_wall * cpus), "1"),
    })
    lat = [s.end - s.start for s in ops]
    line["trace.latency_p50_s"] = (statistics.median(lat), "s")
    detail["trace.operations"] = (len(ops), "count")
    detail["trace.op_wall_s"] = (op_wall, "s")
    for o in ops:
        detail[f"op.{o.trace}.{o.name}_s"] = (o.end - o.start, "s")
    return line, detail
