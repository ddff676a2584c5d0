"""Per-layer metrics of a traced run, from its spans and Spark counters.

Layers are the package modules (session, catalog, sources, operators,
plans). Unless a name says otherwise, a time or call count is per
workload operation (per ETL pass, per question), averaged over the
traced operations, so runs that fit a different number of operations
compare directly. Spark counters of a span include its child spans.
"""

from __future__ import annotations

import statistics

from perfbench.trace import SPARK_COUNTERS

#: Spans whose Spark counters are reported.
SPARK_SPANS = (
    "sources.full_refresh", "sources.incremental", "catalog.zone_write.silver_mapping",
    "catalog.zone_write.silver.transformed", "catalog.zone_write.silver.agg",
    "catalog.zone_write.golden", "operators.validate", "plans.query.collect",
)

#: ``(metric, span, unit)``: time per operation spent in ``span``.
SPAN_TIMES = (
    ("catalog.register_views_ms", "catalog.register_views", "ms"),
    ("catalog.load_table_s", "catalog.load_table", "s"),
    ("catalog.zone_write_s.silver_mapping", "catalog.zone_write.silver_mapping", "s"),
    ("catalog.zone_write_s.silver", "catalog.zone_write.silver.", "s"),
    ("catalog.zone_write_s.golden", "catalog.zone_write.golden", "s"),
    ("sources.full_refresh_s", "sources.full_refresh", "s"),
    ("sources.incremental_s", "sources.incremental", "s"),
    ("sources.watermark_probe_s", "sources.watermark_probe", "s"),
    ("operators.merge_tables_s", "operators.merge_tables", "s"),
    ("operators.quarantine_s", "operators.quarantine", "s"),
    ("operators.validate_s", "operators.validate", "s"),
    ("plans.text_to_sql.process_query_ms", "plans.text_to_sql.process_query", "ms"),
    ("plans.text_to_sql.generate_ms", "plans.text_to_sql.generate", "ms"),
    ("plans.text_to_sql.render_schema_ms", "plans.text_to_sql.render_schema", "ms"),
    ("plans.query.execute_query_ms", "plans.query.execute_query", "ms"),
    ("plans.query.collect_ms", "plans.query.collect", "ms"),
)

#: ``(metric, span)``: calls per operation.
SPAN_CALLS = (
    ("catalog.register_views_calls", "catalog.register_views"),
    ("catalog.load_table_calls", "catalog.load_table"),
)

JOBSPEC_STAGES = ("extract", "map", "validate", "transform", "aggregate")


def jobspec_stage(span) -> str | None:
    """The ``run_pipeline`` stage a direct child span of it belongs to."""
    if span.name in ("catalog.load_table", "sources.full_refresh", "sources.incremental"):
        return "extract"
    if span.name == "operators.merge_tables":
        return "map"
    if span.name == "catalog.zone_write.silver_mapping":
        quarantine = str(span.attrs.get("table", "")).startswith("quarantine_")
        return "validate" if quarantine else "map"
    if span.name in ("operators.quarantine", "operators.validate"):
        return "validate"
    return {"catalog.zone_write.silver.transformed": "transform",
            "catalog.zone_write.silver.agg": "aggregate"}.get(span.name)


def per_layer(tracer, ops: list[dict], wl, counters: tuple[dict, dict]) -> dict:
    """``{metric: (value, unit)}`` for the traced operations of a run."""
    traced = [o for o in ops if o["traced"]]
    n = max(1, len(traced))
    by_id = {s.id: s for s in tracer.spans}
    kids = tracer.children()

    def root(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s.id

    roots = {o["span"] for o in traced}
    spans = [s for s in tracer.spans if root(s) in roots]

    def named(prefix: str) -> list:
        exact = not prefix.endswith(".")
        return [s for s in spans if (s.name == prefix if exact else s.name.startswith(prefix))]

    m: dict[str, tuple[float, str]] = {}
    setups = [s.dur for s in tracer.spans if s.name == "session.get_spark"]
    m["session.get_spark_s"] = (statistics.median(setups) if setups else 0.0, "s")
    for metric, span, unit in SPAN_TIMES:
        t = sum(s.dur for s in named(span)) / n
        m[metric] = (t * 1000 if unit == "ms" else t, unit)
    for metric, span in SPAN_CALLS:
        m[metric] = (len(named(span)) / n, "count")
    for zone, b in wl.zone_bytes().items():
        m[f"catalog.zone_bytes.{zone}"] = (float(b), "bytes")
    m["sources.delta_rows"] = (wl.delta_rows(), "rows")

    pipelines = named("plans.jobspec.run_pipeline")
    stage_t = dict.fromkeys(JOBSPEC_STAGES, 0.0)
    for p in pipelines:
        for c in kids.get(p.id, []):
            stage = jobspec_stage(c)
            if stage:
                stage_t[stage] += c.dur
    for stage, t in stage_t.items():
        m[f"plans.jobspec.stage_s.{stage}"] = (t / max(1, len(pipelines)), "s")
    m["plans.text_to_sql.refusals"] = (
        sum(1 for s in named("plans.text_to_sql.process_query") if s.attrs.get("refused")) / n,
        "count")

    by_group, ungrouped = counters

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x.id, []))
        return out

    for span_name in SPARK_SPANS + wl.spark_spans:
        acc = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for s in named(span_name):
            for x in subtree(s):
                for k, v in by_group.get(f"span-{x.id}", {}).items():
                    acc[k] += v
        for k in SPARK_COUNTERS:
            unit = "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count"
            m[f"{span_name}.spark.{k}"] = (acc[k] / n, unit)
    m["trace.spark.ungrouped_jobs"] = (ungrouped.get("jobs", 0.0), "count")

    m.update(wl.layer_metrics({o["i"] for o in traced},
                              lambda name: sum(s.dur for s in named(name)) / n))

    op_secs = sum(o["secs"] for o in traced)
    unattributed = sum(tracer.self_time(by_id[o["span"]], kids) for o in traced)
    m["trace.ops"] = (float(len(traced)), "count")
    m["trace.unattributed_s"] = (unattributed / n, "s")
    m["trace.unattributed_frac"] = (unattributed / op_secs if op_secs else 0.0, "ratio")
    # traced minus untraced measured operations of the same run
    measured = [o for o in ops if o["phase"] == "measured"]

    def overhead(value) -> tuple[float, float]:
        on = [value(o) for o in measured if o["traced"]]
        off = [value(o) for o in measured if not o["traced"]]
        if not (on and off):
            return 0.0, 0.0
        return statistics.median(on) - statistics.median(off), statistics.median(off)

    wall, base = overhead(lambda o: o["secs"])
    m["trace.overhead_op_p50_ms"] = (wall * 1000, "ms")
    m["trace.overhead_frac"] = (wall / base if base else 0.0, "ratio")
    cpu, _ = overhead(lambda o: o["cpu_s"] - o["jit_s"])
    m["trace.overhead_cpu_ex_jit_ms"] = (cpu * 1000, "ms")
    return m
