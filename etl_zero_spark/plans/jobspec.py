"""JSON job-spec pipeline interpreter — the scheduler analog.

The reference drives its 3-stage DAG (extract -> map -> transform[+agg])
from JSON config files (extraction.json, mapping_status.json,
selected_transformations.json, selected_aggregation_parameters.json;
written front_end.py:323-516, read scheduler.py:37-146) with fail-stop
sequencing (run_etl_pipeline, scheduler.py:185-209) and one-shot or
every-N-minutes scheduling (scheduler.py:211-269).

This module interprets the same logical spec over the Spark zone model:
every stage builds lazy DataFrames and materializes only at zone
boundaries — the reference's per-stage pull-everything-to-the-driver
round trip (SURVEY §3.1) does not exist here.

A pass launches Spark jobs only for its zone writes and for the schema
of each source table it scans. The incremental watermark comes from
the raw tables' parquet footers (sources/incremental.py), and every
zone table the pass wrote itself is read back with the schema it was
written with (``Zone.read(..., schema=)``), so no read re-infers it.
The quarantine gate counts its rows with ``DataFrame.observe`` on the
clean and quarantine writes, and the aggregates read the
``transformed_*`` tables back instead of re-running the transforms.

Spec shape (one JSON object instead of five files):

    {
      "extraction": {"<table>": {"mode": "full"|"incremental",
                                  "key": "<col>"}, ...},
      "mapping": true|false,
      "transformations": ["trim_whitespace", ...],   # P10 order
      "aggregation": {"<table>": {"group_by": [...],
                                   "aggregations": {col: [fns]}}},
      "schedule": {"mode": "once"} | {"mode": "every", "minutes": N}
    }
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Any

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from etl_zero_spark.catalog import Warehouse, load_table
from etl_zero_spark.operators.aggregate import aggregate_all_tables
from etl_zero_spark.operators.cleaning import transform_all_tables
from etl_zero_spark.operators.mapper import DatasetMapper
from etl_zero_spark.sources.incremental import IncrementalLoader, schedule_etl_job


@dataclass
class PipelineResult:
    """Status summary, playing transformation_status.json's role
    (scheduler.py:174-175) without being a state machine."""

    extracted: dict[str, str] = field(default_factory=dict)
    mapped: list[str] = field(default_factory=list)
    validated: dict[str, Any] = field(default_factory=dict)
    transformed: list[str] = field(default_factory=list)
    aggregated: list[str] = field(default_factory=list)

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=2)


def run_pipeline(
    spark: SparkSession,
    spec: dict[str, Any],
    source_dir: str,
    warehouse: Warehouse,
) -> PipelineResult:
    """One fail-stop pass of extract -> map -> transform -> aggregate
    (run_etl_pipeline, scheduler.py:185-209)."""
    result = PipelineResult()

    # -- stage 1: extract (data_extraction.py:110-144) ------------------
    extraction = spec.get("extraction", {})
    sources = {t: load_table(spark, source_dir, t) for t in extraction}
    loader = IncrementalLoader(os.path.join(warehouse.root, warehouse.raw.name))
    result.extracted = schedule_etl_job(spark, loader, sources, extraction)

    # -- stage 2: map (scheduler.py:51-111) -----------------------------
    raw_tables = {
        t: warehouse.raw.read(spark, t, sources[t].schema if t in sources else None)
        for t in warehouse.raw.list_tables()
    }
    if spec.get("mapping", False):
        merged = DatasetMapper(raw_tables, warehouse.fks).merge_tables()
    else:
        merged = raw_tables  # straight copy (scheduler.py:71-103)

    # -- stage 2.5: validate / quarantine (engine extension — the
    # reference lets violating rows flow silently; a declared
    # "expectations" block gates them BEFORE the zone write) ------------
    #   "expectations": {"<table>": [
    #       {"check": "not_null"|"in_range"|"in_set"|"matches", ...}]}
    # The row counts are observed on the two writes themselves
    # (DataFrame.observe), so the gate adds no Spark job.
    observed: dict[str, tuple[Observation, int]] = {}
    exp_spec = spec.get("expectations", {})
    if exp_spec:
        from etl_zero_spark.operators import validate as V

        builders = {
            "not_null": lambda c: V.not_null(c["col"]),
            "in_range": lambda c: V.in_range(
                c["col"], c.get("lo"), c.get("hi")
            ),
            "in_set": lambda c: V.in_set(c["col"], c["allowed"]),
            "matches": lambda c: V.matches(c["col"], c["pattern"]),
        }
        for table, checks in exp_spec.items():
            if table not in merged:
                continue
            exps = [builders[c["check"]](c) for c in checks]
            clean, bad = V.quarantine(merged[table], exps)
            n_bad = Observation()
            warehouse.silver_mapping.write(
                bad.observe(n_bad, F.count(F.lit(1)).alias("rows")), f"quarantine_{table}"
            )
            n_clean = Observation()
            merged[table] = clean.observe(n_clean, F.count(F.lit(1)).alias("rows"))
            observed[table] = (n_clean, n_bad.get["rows"])

    for name, df in merged.items():
        warehouse.silver_mapping.write(df, name)
        result.mapped.append(name)
    for table, (n_clean, quarantined) in observed.items():
        result.validated[table] = {
            "clean_rows": n_clean.get["rows"],
            "quarantined_rows": quarantined,
            # quarantine's split predicate is never NULL, so no row
            # that violates a check reaches the clean write
            "passed": True,
        }

    # -- stage 3: transform + aggregate (scheduler.py:113-183) ----------
    staged = {
        t: warehouse.silver_mapping.read(
            spark, t, merged[t].schema if t in merged else None
        )
        for t in warehouse.silver_mapping.list_tables()
        if not t.startswith("quarantine_")
    }
    transforms = spec.get("transformations", [])
    transformed = transform_all_tables(staged, transforms) if transforms else staged
    for name, df in transformed.items():
        warehouse.silver.write(df, f"transformed_{name}")  # prefix per
        result.transformed.append(f"transformed_{name}")  # transformations_code.py:206-213

    agg_params = spec.get("aggregation", {})
    if agg_params:
        # aggregate what was just written, not the transform plan again
        written = {
            name: warehouse.silver.read(spark, f"transformed_{name}", df.schema)
            for name, df in transformed.items()
            if name in agg_params
        }
        aggregated = aggregate_all_tables(written, agg_params)
        for name, df in aggregated.items():
            warehouse.silver.write(df, f"agg_{name}")  # scheduler.py:156-171
            result.aggregated.append(f"agg_{name}")

    return result


def next_run_delay(
    spec_schedule: dict[str, Any], now: datetime, target: datetime | None = None
) -> timedelta:
    """Pure scheduling arithmetic (testable without sleeping): one-shot
    runs wait until the target timestamp (scheduler.py:236-250);
    recurring runs fire every N minutes (scheduler.py:252-264)."""
    mode = spec_schedule.get("mode", "once")
    if mode == "once":
        if target is None or target <= now:
            return timedelta(0)
        return target - now
    return timedelta(minutes=spec_schedule.get("minutes", 5))


def run_scheduled(
    run: Any,
    schedule: dict[str, Any],
    *,
    clock: Any,
    sleep: Any,
    target: datetime | None = None,
    max_runs: int | None = None,
) -> int:
    """The scheduler run-loop (scheduler.py:211-269) with an injectable
    clock and sleeper so it tests without real sleeping.

    * ``mode: "once"`` — sleep until ``target`` (scheduler.py:236-250's
      sleep-until), execute once, return 1.
    * ``mode: "every"`` — execute every N minutes like
      ``schedule.every(N).minutes`` (scheduler.py:252-264): the first
      run happens one interval after start, then the loop re-arms.
      ``max_runs`` bounds the loop (None = run forever, the reference's
      busy loop).

    ``run`` is any zero-arg callable — typically
    ``lambda: run_pipeline(spark, spec, src, wh)``. Returns the number
    of completed runs. Only scheduling lives here: the data path is
    entirely inside ``run`` and stays lazy/distributed.
    """
    mode = schedule.get("mode", "once")
    if mode == "once":
        delay = next_run_delay(schedule, clock(), target)
        if delay > timedelta(0):
            sleep(delay.total_seconds())
        run()
        return 1
    runs = 0
    while max_runs is None or runs < max_runs:
        sleep(next_run_delay(schedule, clock()).total_seconds())
        run()
        runs += 1
    return runs


def load_spec(path: str) -> dict[str, Any]:
    with open(path) as fh:
        return json.load(fh)
