"""The three workloads, driven only through the program's public entry
points, the way its three kinds of user do.

Each workload writes its seeded inputs in ``prepare`` (untimed), runs
one timed operation per ``op`` call and checks outputs in ``check_op``
and ``check_end`` (both untimed). An operation is:

* ``etl_nightly`` — one ``run_pipeline`` pass: the first is the full
  load, every later one an incremental cycle over the next delta;
* ``query_page`` — one question, answered and collected (and sometimes
  saved to the golden zone);
* ``corpus_prep`` — one ``prepare_corpus`` pass over the whole corpus,
  collected.
"""

from __future__ import annotations

import os
import statistics
from dataclasses import asdict

# entry points are looked up on their modules at call time, so the
# traced run's wrappers are the ones called
from etl_zero_spark import catalog
from etl_zero_spark.plans import corpus_pipeline, jobspec, query, text_to_sql
from perfbench import checks, inputs


class Workload:
    name = ""
    #: ops before the measured window: the cold first op, then warm-up
    #: ops until the per-op cost stops falling
    warmup_ops = 1
    #: extra spans whose Spark counters the traced run reports
    spark_spans: tuple[str, ...] = ()

    def __init__(self, run_dir: str, seed: int):
        self.run_dir = run_dir
        self.seed = seed
        self.input_dir = os.path.join(run_dir, "inputs")
        self.warehouse_root = os.path.join(run_dir, "warehouse")

    def prepare(self) -> dict:
        """Write the seeded inputs; return the stated sizes and rates."""
        raise NotImplementedError

    def op(self, spark, i: int, tracer) -> float:
        """Run operation ``i``; return the number of items it processed."""
        raise NotImplementedError

    def check_op(self, i: int) -> list[str]:
        return []

    def check_end(self) -> dict[int, list[str]]:
        """Checks that need the whole run; problems keyed by op index."""
        return {}

    def delta_rows(self) -> float:
        """Mean rows an incremental extraction appended per cycle."""
        return 0.0

    def layer_metrics(self, traced: set[int], span_secs) -> dict:
        """Workload-only per-layer metrics of the traced ops ``traced``;
        ``span_secs(name)`` is the time per op spent in spans ``name``."""
        return {}

    def zone_bytes(self) -> dict[str, int]:
        return {z: checks.dir_bytes(os.path.join(self.warehouse_root, z))
                for z in ("raw", "silver_mapping", "silver", "golden")}


# --------------------------------------------------------------------------

#: Dimension tables the ETL spec re-extracts whole every cycle.
FULL_REFRESH = ("nation",)
#: Every table the ETL spec extracts.
EXTRACTED = FULL_REFRESH + tuple(inputs.INCREMENTAL_KEYS)


class EtlNightly(Workload):
    name = "etl_nightly"
    warmup_ops = 2  # the full load and one cycle
    sizes = inputs.EtlSizes()

    def spec(self) -> dict:
        ext = {t: {"mode": "full"} for t in FULL_REFRESH}
        ext.update({t: {"mode": "incremental", "key": k}
                    for t, k in inputs.INCREMENTAL_KEYS.items()})
        return {
            "extraction": ext,
            "mapping": True,
            "expectations": {"lineitem_orders_merged": [
                {"check": "not_null", "col": "l_orderkey"},
                {"check": "in_range", "col": "l_quantity_lineitem", "lo": 1, "hi": 50},
                {"check": "in_set", "col": "o_orderstatus_orders", "allowed": inputs.STATUSES},
            ]},
            "transformations": ["trim_whitespace", "remove_duplicates"],
            "aggregation": {
                "lineitem_orders_merged": {
                    "group_by": ["l_returnflag_lineitem", "l_linestatus_lineitem"],
                    "aggregations": {
                        "l_quantity_lineitem": ["sum", "count"],
                        "l_extendedprice_lineitem": ["sum", "mean"],
                        "o_totalprice_orders": ["max"],
                    },
                },
                "customer_nation_merged": {
                    "group_by": ["n_name_nation"],
                    "aggregations": {"c_acctbal_customer": ["sum", "max", "count"]},
                },
            },
        }

    def prepare(self) -> dict:
        self.cycles = inputs.write_etl_sources(
            self.seed, self.sizes, os.path.join(self.input_dir, "etl"))
        self.warehouse = catalog.Warehouse(self.warehouse_root, fks=catalog.FIXTURE_FKS)
        self.results: dict[int, object] = {}
        self.raw_rows: list[int] = []
        return {**asdict(self.sizes),
                "source_rows_per_cycle": [sum(c["raw_rows"][t] for t in EXTRACTED)
                                          for c in self.cycles]}

    def _cycle(self, i: int) -> dict:
        return self.cycles[min(i, len(self.cycles) - 1)]

    def op(self, spark, i, tracer):
        self.results[i] = jobspec.run_pipeline(
            spark, self.spec(), self._cycle(i)["source_dir"], self.warehouse)
        prev = self._cycle(i - 1)["raw_rows"] if i else {}
        cur = self._cycle(i)["raw_rows"]
        # rows landed in the raw zone: full-refresh tables are rewritten
        # whole, incremental tables append their delta
        return float(sum(cur[t] for t in FULL_REFRESH)
                     + sum(cur[t] - prev.get(t, 0) for t in inputs.INCREMENTAL_KEYS))

    def delta_rows(self):
        d = [b - a for a, b in zip(self.raw_rows, self.raw_rows[1:])]
        return float(statistics.mean(d)) if d else 0.0

    def check_op(self, i):
        expected = {t: self._cycle(i)["raw_rows"][t] for t in EXTRACTED}
        problems = checks.check_raw_counts(self.warehouse_root, expected)
        self.raw_rows.append(sum(checks.zone_rows(os.path.join(self.warehouse_root, "raw", t))
                                 for t in inputs.INCREMENTAL_KEYS))
        want = "initial-full-load" if i == 0 else "appended-delta"
        res = self.results.pop(i)
        for t in inputs.INCREMENTAL_KEYS:
            if res.extracted.get(t) != want:
                problems.append(f"extract {t}: {res.extracted.get(t)!r}, expected {want!r}")
        if sorted(res.aggregated) != sorted(f"agg_{t}" for t in self.spec()["aggregation"]):
            problems.append(f"aggregated {res.aggregated}")
        problems += checks.check_aggregates(self.warehouse_root, self.spec()["aggregation"])
        return problems


# --------------------------------------------------------------------------

class QueryPage(Workload):
    name = "query_page"
    warmup_ops = 12  # the cold question and 11 more
    sizes = inputs.QuerySizes()

    def prepare(self) -> dict:
        self.source_dir = os.path.join(self.input_dir, "query")
        inputs.write_star(inputs.star_schema(self.seed, self.sizes.star), self.source_dir)
        self.draws = inputs.draw_queries(self.seed, self.sizes)
        self.golden = catalog.Warehouse(self.warehouse_root).golden
        self.results: dict[str, dict] = {}
        #: golden table -> (op index, rows it must hold)
        self.saved: dict[str, tuple[int, int]] = {}
        self.op_of: dict[str, list[int]] = {}
        return {**asdict(self.sizes), "pool_size": len(inputs.query_pool())}

    def op(self, spark, i, tracer):
        d = self.draws[i]
        if d["kind"] == "nl":
            df = text_to_sql.process_query(spark, self.source_dir, d["text"])
            if df is None:
                raise RuntimeError(f"question refused: {d['text']!r}")
        else:
            query.open_query_surface(spark, self.source_dir)
            df = query.execute_query(spark, d["text"])
        with tracer.span("plans.query.collect"):
            rows = [tuple(r) for r in df.collect()]
        if d["save"]:
            name = f"golden_{i:05d}"
            query.save_as_golden(df, self.golden, name=name)
            self.saved[name] = (i, len(rows))
        r = self.results.setdefault(d["text"], {"oracle": d["oracle"], "rows": rows,
                                                "repeats": []})
        if r["rows"] is not rows:
            r["repeats"].append(rows)
        self.op_of.setdefault(d["text"], []).append(i)
        return 1.0

    def check_end(self):
        oracle = checks.QueryOracle(self.source_dir, inputs.STAR_TABLES)
        try:
            out: dict[int, list[str]] = {}
            for text, r in self.results.items():
                for p in checks.check_query_results(oracle, {text: r}):
                    for i in self.op_of[text]:
                        out.setdefault(i, []).append(p)
        finally:
            oracle.close()
        golden_dir = os.path.join(self.warehouse_root, "golden")
        for name, (i, n) in self.saved.items():
            for p in checks.check_golden(golden_dir, {name: n}):
                out.setdefault(i, []).append(p)
        return out


# --------------------------------------------------------------------------

class CorpusPrep(Workload):
    name = "corpus_prep"
    sizes = inputs.CorpusSizes()
    spark_spans = ("plans.corpus_pipeline.prepare_corpus", "plans.corpus_pipeline.collect")
    stages = ("input", "pii_scrub", "exact_dedup", "near_dedup", "decontaminate")

    def prepare(self) -> dict:
        self.corpus_dir = os.path.join(self.input_dir, "corpus")
        self.truth = inputs.write_corpus(self.seed, self.sizes, self.corpus_dir)
        self.ids: dict[int, list[int]] = {}
        #: per op: (surviving rows per stage, seconds per stage)
        self.stage_log: dict[int, tuple[dict, dict]] = {}
        return {**asdict(self.sizes),
                "planted_exact_groups": len(self.truth["exact_groups"]),
                "planted_near_pairs": len(self.truth["near_pairs"]),
                "planted_eval_docs": len(self.truth["contaminated"])}

    def op(self, spark, i, tracer):
        # spread=False, as the program's own corpus plan loads its input
        docs = catalog.load_table(spark, self.corpus_dir, "documents", spread=False).select(
            "doc_id", "source", "text")
        evals = catalog.load_table(spark, self.corpus_dir, "eval", spread=False)
        # quality gate off: the synthetic text fails Gopher wholesale
        res = corpus_pipeline.prepare_corpus(docs, quality=False, test_set=evals)
        with tracer.span("plans.corpus_pipeline.collect"):
            ids = [r[0] for r in res.df.select("doc_id").collect()]
        res.unpersist()
        self.ids[i] = ids
        self.stage_log[i] = (dict(res.stats), dict(res.stage_secs))
        return float(self.sizes.docs)

    def check_op(self, i):
        return checks.check_corpus(self.stage_log[i][0], self.ids.pop(i), self.truth)

    def layer_metrics(self, traced, span_secs):
        log = [v for k, v in self.stage_log.items() if k in traced]
        m = {"plans.corpus_pipeline.prepare_corpus_s":
             (span_secs("plans.corpus_pipeline.prepare_corpus"), "s")}
        for st in self.stages:
            v = [secs[st] for _, secs in log if st in secs]
            m[f"operators.corpus.stage_s.{st}"] = (statistics.mean(v) if v else 0.0, "s")
        # kept_frac: the stage's useful outcome, rows kept per row in
        for prev, st in zip(self.stages, self.stages[1:]):
            v = [stats[st] / stats[prev] for stats, _ in log if stats.get(prev)]
            m[f"operators.corpus.kept_frac.{st}"] = (statistics.mean(v) if v else 0.0, "ratio")
        return m


WORKLOADS = {w.name: w for w in (EtlNightly, QueryPage, CorpusPrep)}
