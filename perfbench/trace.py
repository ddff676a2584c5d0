"""Span tracing around the program's public entry points.

Used only by the traced run (``--trace 1``). ``Tracer.install`` swaps
each named public function or method for a wrapper that records a span
(name, start, end, parent, run id) and tags the Spark jobs launched
inside it with a job group named after the span. ``Tracer.uninstall``
puts the originals back. Spans stay in memory; ``Tracer.dump`` writes
them out when the run ends.

Engine counters come from the driver's live application status store
(the data behind Spark's status tracker): every job carries the job
group of the innermost span open when it was launched, so its stages'
task metrics are summed into that span.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: Engine counters read back per span.
SPARK_COUNTERS = ("jobs", "tasks", "failed_tasks", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "executor_run_s", "jvm_gc_s")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _zone_write_name(zone, df, table, *a, **k) -> str:
    if zone.name == "silver":
        return f"catalog.zone_write.silver.{table.split('_', 1)[0]}"
    return f"catalog.zone_write.{zone.name}"


#: (module, attribute, span name or name function). A function imported
#: by name into another module is patched in that module too, so the
#: program's internal calls go through the wrapper.
TARGETS = [
    ("etl_zero_spark.session", "get_spark", "session.get_spark"),
    ("etl_zero_spark.catalog", "register_views", "catalog.register_views"),
    ("etl_zero_spark.plans.query", "register_views", "catalog.register_views"),
    ("etl_zero_spark.plans.text_to_sql", "register_views", "catalog.register_views"),
    ("etl_zero_spark.catalog", "load_table", "catalog.load_table"),
    ("etl_zero_spark.plans.jobspec", "load_table", "catalog.load_table"),
    ("etl_zero_spark.catalog", "Zone.write", _zone_write_name),
    ("etl_zero_spark.sources.incremental", "IncrementalLoader.full_refresh",
     "sources.full_refresh"),
    ("etl_zero_spark.sources.incremental", "IncrementalLoader.incremental",
     "sources.incremental"),
    ("etl_zero_spark.sources.incremental", "watermark_probe", "sources.watermark_probe"),
    ("etl_zero_spark.operators.mapper", "DatasetMapper.merge_tables",
     "operators.merge_tables"),
    ("etl_zero_spark.operators.validate", "quarantine", "operators.quarantine"),
    ("etl_zero_spark.operators.validate", "validate", "operators.validate"),
    ("etl_zero_spark.plans.jobspec", "run_pipeline", "plans.jobspec.run_pipeline"),
    ("etl_zero_spark.plans.text_to_sql", "process_query", "plans.text_to_sql.process_query"),
    ("etl_zero_spark.plans.text_to_sql", "render_schema", "plans.text_to_sql.render_schema"),
    ("etl_zero_spark.plans.text_to_sql", "RuleBasedGenerator.__call__",
     "plans.text_to_sql.generate"),
    ("etl_zero_spark.plans.query", "open_query_surface", "plans.query.open_query_surface"),
    ("etl_zero_spark.plans.query", "execute_query", "plans.query.execute_query"),
    ("etl_zero_spark.plans.query", "save_as_golden", "plans.query.save_as_golden"),
    ("etl_zero_spark.plans.corpus_pipeline", "prepare_corpus",
     "plans.corpus_pipeline.prepare_corpus"),
]


class Tracer:
    """In-memory span recorder for one run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.active = True
        self._stack: list[Span] = []
        self._next = 0
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _tag(self, span: Span | None) -> None:
        sc = self._sc()
        if sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"span-{span.id}", span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, parent.id if parent else None, self.run_id,
                 time.perf_counter(), attrs=attrs)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(parent)
            self.spans.append(s)

    # -- wrappers ------------------------------------------------------
    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span_name = name(*args, **kwargs) if callable(name) else name
            attrs = {}
            if span_name.startswith("catalog.zone_write"):
                attrs["table"] = args[2] if len(args) > 2 else kwargs.get("table")
            with tracer.span(span_name, **attrs) as s:
                out = fn(*args, **kwargs)
                if span_name == "plans.text_to_sql.process_query" and out is None:
                    s.attrs["refused"] = True
                return out

        wrapper.__wrapped_by_tracer__ = True
        return wrapper

    def install(self) -> None:
        for mod_name, attr, name in TARGETS:
            mod = importlib.import_module(mod_name)
            owner, _, leaf = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            fn = holder.__dict__[leaf] if owner else getattr(mod, leaf)
            if getattr(fn, "__wrapped_by_tracer__", False):
                continue
            self._saved.append((holder, leaf, fn))
            setattr(holder, leaf, self._wrap(fn, name))

    def uninstall(self) -> None:
        while self._saved:
            holder, leaf, fn = self._saved.pop()
            setattr(holder, leaf, fn)

    # -- analysis ------------------------------------------------------
    def children(self) -> dict[int | None, list[Span]]:
        kids: dict[int | None, list[Span]] = defaultdict(list)
        for s in self.spans:
            kids[s.parent].append(s)
        return kids

    def self_time(self, span: Span, kids: dict) -> float:
        """Duration minus the part of it covered by its child spans."""
        covered, edge = 0.0, span.start
        for c in sorted(kids.get(span.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return span.dur - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")


def spark_counters_by_group(sc) -> tuple[dict[str, dict[str, float]], dict[str, float]]:
    """Sum task metrics of every job in the live status store by job
    group. Returns ``({group: counters}, counters_of_jobs_without_group)``.
    A stage listed by several jobs (a reused shuffle) counts once, for
    the first job that ran it."""
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — best effort: counters may lag by a few events
        time.sleep(1.0)
    store = jsc.statusStore()
    stages: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    gw = sc._gateway
    seq = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                          gw.jvm.java.util.ArrayList())
    for i in range(seq.size()):
        st = seq.apply(i)
        c = stages[st.stageId()]
        c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        c["failed_tasks"] += st.numFailedTasks()
        c["shuffle_read_bytes"] += st.shuffleReadBytes()
        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
        c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["executor_run_s"] += st.executorRunTime() / 1000.0
        c["jvm_gc_s"] += st.jvmGcTime() / 1000.0
    jobs = store.jobsList(None)
    rows = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        group = j.jobGroup().get() if j.jobGroup().isDefined() else None
        ids = j.stageIds()
        rows.append((j.jobId(), group, [ids.apply(k) for k in range(ids.size())]))
    by_group: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    none: dict[str, float] = defaultdict(float)
    seen: set[int] = set()
    for _, group, stage_ids in sorted(rows):
        target = by_group[group] if group else none
        target["jobs"] += 1
        for sid in stage_ids:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for k, v in stages[sid].items():
                target[k] += v
    return by_group, none
