#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_warm_sec, "unit": "sec",
 "queries": {...warm...}, "queries_cold": {...}, "sf": ...}

Each query is executed to completion with .count() (full pipeline, no
driver-side result serialization): the first (cold) run carries plan
compilation + codegen + python-worker spin-up; the min of the warm
reps that follow (3, or 5 when the cold run exceeded 5s — long jobs
need more reps to reach steady state, VERDICT r12 #5) is the
steady-state cost a scheduler-driven pipeline pays — min, not mean,
because local[32] scheduler noise is strictly additive. Both are
recorded; the headline value is the warm total, which is what
round-over-round comparisons should use (the round-1 bench recorded a
single contended cold run and overstated q1/j5 by ~5x — see
VERDICT.md). A corpus-wide warm-up runs first so JVM startup isn't
attributed to the first query.

CONTENTION SELF-DEFENSE (VERDICT r12 #1 — the r12 artifact shipped
three phantom regressions from a run that overlapped other host work,
and the tell was sitting in its own numbers): a steady-state minimum
can never exceed its own cold run, and warm reps of the same plan
should not spread 2x. Each query is therefore stamped
``contended: true`` when ``min(warm reps) > cold*1.05+0.05`` or
``max(reps)/min(reps) > 2``; after the main loop EVERY query
re-times unconditionally (an episode that is steady across a query's
whole window leaves warm<cold and evades the flags; a cheap-row-only
gate would read the contaminated number it is gating on) and keeps
the min across both passes. Queries still flagged after the re-time
ship WITH the flag, and rows the retime repaired >1.3x are listed in
``retimed_improved``, so a judge/driver can discount or trust rows
without re-running. Per-rep arrays for every query land in
BENCH_LOCAL.json.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

HEADLINE = [
    # reference-parity core
    "q1_pricing_summary",
    # R13 fold: j1_j6 + j7_j8 run as one declared slot (rename rule:
    # the folded workload is a different query, no cross-round ratio)
    "j1_j8_join_family",
    "j5_revenue_by_nation",
    # R10 fold: a1_a2 + a3 run as one declared slot (rename rule: the
    # folded workload is a different query, so no cross-round ratio)
    "a1_a3_aggregate_family",
    "o3_top_k",
    "cd_acd_count_distinct",
    # R13: A6 quantiles declared via the freed slot (VERDICT r12 #4)
    "qa1_quantiles",
    # R11 fold: w2's running sum joined the window-family slot (rename
    # rule: the folded workload is a different query, no cross-round
    # ratio for the new name)
    "w1_w4_window_family",
    # R12 fold: e1_e2 + e3 run as one declared slot (rename rule: the
    # folded workload is a different query, no cross-round ratio; the
    # unchanged e3 workload keeps its timing as x_e3_sessionize)
    "e1_e3_events_family",
    # R12: pivot/unpivot declared via the freed slot (VERDICT r11 #5)
    "pv1_pivot_unpivot",
    "aj1_asof_join",
    "rj1_range_join",
    # north-star: dedup / similarity / text
    "dd2_ngram_jaccard_pairs",
    "dd3_minhash_lsh_pairs",
    "dd4_simhash_pairs",
    "dd5_embedding_neardup",
    # R14 fold: dd6 keep-min + dd7 transitive run as one declared slot
    # (rename rule: the folded workload is a different query, no
    # cross-round ratio for the new name)
    "dd6_dd7_dedup_family",
    "dd8_neardup_lsh",
    "sim1_cosine_topk",
    "sim2_sim3_lsh_topk",
    "sim4_ivf_topk",
    "tx1_tx4_text_profile",
    # table-management tier (R4)
    "scd1_type2_merge",
    "ts1_gap_fill",
    "snap1_time_travel_read",
    # daily-ingest dedup regime (R5)
    "dd9_incremental_neardup",
    # R6 corpus tier, declared in R7 (VERDICT r6 #1/#2)
    "dd12_span_dedup",
    "sdd1_semantic_dedup",
    # R8: corpus mixing + BM25 retrieval (VERDICT r7 #1 + payload)
    "mix1_corpus_mix",
    "ret1_hybrid_topk",
    # R9: the composed pipeline's declared (audit-heavy) row — its
    # production path stays benched as x_corpus_pipeline
    "pipe1_prepare_corpus",
    # R11: eval-set decontamination declared (VERDICT r10 #2)
    "ct1_decontamination",
    # R14: ANALYZE column stats declared via the dd6/dd7-freed slot
    "stats1_analyze",
]

#: Cross-round ratio pairing for UNCHANGED workloads that changed
#: name (ADVICE r10 #1: a pure rename severs the warm-ratio silently;
#: the rename rule only exempts RESIZED/FOLDED workloads). Maps
#: current name -> the name the same workload carried last round.
RENAMED_UNCHANGED = {
    # r12: the e1+e3 fold moved e3's DECLARED slot into
    # e1_e3_events_family, but the e3 workload itself (same function,
    # same inputs, code untouched) keeps benching as x_e3_sessionize —
    # it is a drift-panel member and its ratio continuity matters.
    "x_e3_sessionize": "e3_sessionize_batch",
}


def _extras(spark, sf_dir: str) -> dict:
    """R4-tier hot paths a training-data pipeline actually runs at
    scale (VERDICT r4 #7) — not declared queries, so they bench as
    callables that fully execute and return a row count. BPE merges
    load from the persisted artifact after the first (cold) run, so
    warm timings measure APPLY, the per-run cost."""
    from pyspark.sql import functions as F

    from etl_zero_spark.catalog import load_table
    from etl_zero_spark.functions.artifacts import corpus_key
    from etl_zero_spark.operators import bpe, quality, validate
    from etl_zero_spark.plans.corpus_pipeline import prepare_corpus

    def x_bpe_tokenize() -> int:
        docs = load_table(spark, sf_dir, "documents")
        merges = bpe.cached_bpe_merges(
            docs,
            corpus_key(os.path.join(sf_dir, "documents.parquet")),
            n_merges=200,
        )
        return bpe.bpe_tokenize(docs, merges).count()

    def x_gopher_gate() -> int:
        return quality.gopher_filter(load_table(spark, sf_dir, "documents")).count()

    def x_validate_single_scan() -> int:
        li = load_table(spark, sf_dir, "lineitem")
        report = validate.validate(
            li,
            [
                validate.not_null("l_orderkey"),
                validate.not_null("l_shipdate"),
                validate.in_range("l_quantity", 0, 100),
                validate.in_range("l_discount", 0.0, 0.5),
                validate.in_set("l_returnflag", ["A", "N", "R"]),
            ],
        )
        return report.n_rows

    def x_e3_sessionize() -> int:
        # R12: the e1+e3 fold moved e3's declared slot into
        # e1_e3_events_family; this keeps the UNCHANGED e3 workload's
        # standalone timing alive (same function, same inputs) —
        # it is a drift-panel member, and the panel needs same-workload
        # ratio continuity (RENAMED_UNCHANGED bridges the r11 name).
        from etl_zero_spark.plans.events_queries import e3_sessionize_batch

        return e3_sessionize_batch(spark, sf_dir).count()

    def x_corpus_pipeline() -> int:
        # quality=False: the synthetic fixture text fails the published
        # Gopher thresholds wholesale, and a gate that zeroes the corpus
        # would make every later stage a no-op — the gate itself is
        # benchmarked as x_gopher_gate. Fork inputs persist (and are
        # released after the count) so the single action computes each
        # stage once. spread=False: same rationale as pipe1 — the
        # pipeline's work is shuffle-structured, and the spread only
        # multiplied cached partitions (R14).
        docs = load_table(spark, sf_dir, "documents", spread=False)
        res = prepare_corpus(
            docs,
            quality=False,
            near_dedup_threshold=0.5,
            pack_budget=2048,
            collect_stats=False,
        )
        n = res.df.count()
        res.unpersist()
        return n

    # Production-path ANN/dedup timings. The DECLARED dd3/dd8/sim2-4
    # queries bundle the exact twin + oracle-pinned audit booleans (the
    # R5 checked-row conversion), so their headline numbers measure
    # exact+approx+audit together; these two isolate what a production
    # caller actually runs per invocation — the approximate path alone,
    # with learned artifacts loaded, search-only.
    def x_dd3_lsh_only() -> int:
        from etl_zero_spark.operators import dedup as dd

        return dd.minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"), threshold=0.3
        ).count()

    def x_sim4_search_only() -> int:
        from etl_zero_spark.operators import ivf
        from etl_zero_spark.plans.northstar import _ivf_centroids_cached

        emb = load_table(spark, sf_dir, "embeddings")
        cents = _ivf_centroids_cached(emb, sf_dir)
        q = emb.where(F.col("vec_id") < 20)
        return ivf.ivf_topk(q, emb, k=5, centroids=cents, nprobe=8).count()

    # R6 (VERDICT r5 #1): production-path rows for the remaining
    # audit-converted queries — each declared dd4/dd8/dd9/sim2_sim3
    # deliberately runs 2-4x verification work (exact twin + oracle
    # booleans), so a regression in the path users actually run could
    # hide inside audit noise. These isolate that path.
    def x_dd8_lsh_only() -> int:
        from etl_zero_spark.operators import similarity

        emb = load_table(spark, sf_dir, "embeddings")
        return similarity.lsh_neardup_pairs(
            emb, threshold=0.4, n_planes=3, n_tables=12
        ).count()

    def x_sim2_sim3_real() -> int:
        # one tier (distributed — the 100 TB path), real 6x6 geometry
        from etl_zero_spark.operators import similarity

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.where(F.col("vec_id") < 20)
        return similarity.lsh_partitioned_topk(
            q, emb, k=5, n_planes=6, n_tables=6
        ).count()

    def x_dd4_single_corpus() -> int:
        from etl_zero_spark.operators import dedup as dd

        return dd.simhash_pairs(
            load_table(spark, sf_dir, "documents"), max_hamming=3
        ).count()

    # dd9 probe-only: the index is built + persisted ONCE (first/cold
    # call pays it, like x_bpe_tokenize's train); warm timings measure
    # the probe alone — the per-delta cost the daily-ingest regime
    # actually pays (the declared dd9 re-runs build + exact oracle +
    # audits every invocation by design).
    dd9_state: dict = {}

    def x_dd9_probe_only() -> int:
        from etl_zero_spark.operators import dedup as dd

        if "idx" not in dd9_state:
            docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
            idx = dd.build_minhash_index(docs)
            idx.bands.persist().count()
            idx.shingles.persist().count()
            dd9_state["idx"] = idx
            dd9_state["docs"] = docs
        delta = dd9_state["docs"].where(F.col("doc_id") < 100).select(
            (F.col("doc_id") + 100_000).alias("doc_id"), "text"
        )
        return dd.incremental_minhash_pairs(
            delta, dd9_state["idx"], threshold=0.3
        ).count()

    # R6 operator tier: semantic dedup / LM perplexity / DSIR /
    # chunking at sf0.1. LM model and IVF centroids build once (cold
    # pays it, warm measures the per-run path — the bpe/dd9 pattern).
    r6_state: dict = {}

    def x_semdedup_pairs() -> int:
        from etl_zero_spark.operators import similarity
        from etl_zero_spark.plans.northstar import _ivf_centroids_cached

        emb = load_table(spark, sf_dir, "embeddings")
        cents = _ivf_centroids_cached(emb, sf_dir)
        return similarity.semantic_dedup_pairs(emb, cents, threshold=0.4).count()

    def x_lm_perplexity_buckets() -> int:
        from etl_zero_spark.operators import lm

        docs = load_table(spark, sf_dir, "documents")
        if "lm" not in r6_state:
            r6_state["lm"] = lm.train_ngram_lm(docs.where(F.col("doc_id") % 5 == 0))
        return lm.ccnet_buckets(
            lm.score_perplexity(docs, r6_state["lm"])
        ).where(F.col("ppl_bucket") == "head").count()

    def x_dsir_select() -> int:
        from etl_zero_spark.operators import corpus as corp

        docs = load_table(spark, sf_dir, "documents")
        if "dsir_lr" not in r6_state:
            # weight estimation is once-per-(raw, target) corpus work,
            # persisted via functions/artifacts (VERDICT r6 #3 — the
            # ngram-LM/BPE pattern): the first-ever run pays the two
            # corpus count aggregations, every later PROCESS loads the
            # B-row table from disk; the r6_state dict is just the L1.
            # Warm runs measure the per-invocation path: score + draw.
            src0 = docs.first().source
            target = docs.where(F.col("source") == src0)
            r6_state["dsir_lr"] = corp.cached_dsir_logratio(
                docs, target,
                corpus_key(os.path.join(sf_dir, "documents.parquet"),
                           target=f"source={src0}"),
            )
        return corp.dsir_resample(
            corp.dsir_scores(docs, r6_state["dsir_lr"]), 1000, seed=1
        ).count()

    def x_span_dedup() -> int:
        # production path (VERDICT r6 #7): remove_duplicate_spans on
        # the RAW corpus at the published k=50 regime — the declared
        # dd12 row runs a planted-passage corpus at k=8 for oracle
        # coverage; this row tracks the real operating point's warm
        # cost round-over-round.
        from etl_zero_spark.operators.dedup import remove_duplicate_spans

        # the length predicate forces the rewritten text column to
        # materialize — a bare count() lets Catalyst prune the whole
        # token-filter rebuild (the scale probe hit the same trap;
        # review r7 caught it here)
        return (
            remove_duplicate_spans(load_table(spark, sf_dir, "documents"), k=50)
            .where(F.coalesce(F.length("text"), F.lit(0)) >= 0)
            .count()
        )

    def x_quality_classifier() -> int:
        # R7: the GPT-3 CommonCrawl filter. Train amortizes through
        # the persisted PipelineModel (cold pays L-BFGS, warm loads +
        # scores — the bpe/lm pattern); the filter's where(keep)
        # forces the full transform per row.
        from etl_zero_spark.operators import classifier as qc

        # spread=False (R15, VERDICT r14 #2): the transform is one JVM
        # pipeline pass over a sub-second scan; the spread's exchange
        # taxed it 0.72 -> 0.91s in r14 (A/B: 0.76s off vs 0.86s on)
        docs = load_table(spark, sf_dir, "documents", spread=False)
        if "qc" not in r6_state:
            r6_state["qc"] = qc.cached_quality_classifier(
                docs.where(F.col("doc_id") % 5 == 0),
                docs.where(F.col("doc_id") % 5 == 1),
                corpus_key(os.path.join(sf_dir, "documents.parquet"),
                           pos="mod5=0", neg="mod5=1"),
            )
        return qc.classifier_filter(docs, r6_state["qc"]).count()

    def x_line_dedup() -> int:
        # R7: boilerplate line removal (the C4 rule). The corpus texts
        # are single-line, so restructure every 5 words into a line
        # first — with the small synthetic vocabulary those 5-word
        # lines repeat across documents heavily, a boilerplate-dense
        # worst case for the dup table. Length predicate forces the
        # rebuilt text to materialize (the x_span_dedup trap).
        from etl_zero_spark.operators.dedup import remove_duplicate_lines

        # spread=False (R15, VERDICT r14 #2): the heavy work here is
        # post-shuffle (line explode -> dup groupBy -> reassembly
        # groupBy, consuming the input 3x), the same shape pipe1/mix1
        # were opted out for; the spread taxed it 0.88 -> 1.26s in r14
        # (interleaved A/B: 1.11s off vs 1.55s on)
        docs = load_table(spark, sf_dir, "documents", spread=False).withColumn(
            "text",
            F.regexp_replace(
                F.col("text"), r"((?:\w+ ){4}\w+) ", "$1\n"
            ),
        )
        return (
            remove_duplicate_lines(docs, min_docs=2)
            .where(F.coalesce(F.length("text"), F.lit(0)) >= 0)
            .count()
        )

    def x_corpus_report() -> int:
        # R7: the one-pass datasheet — a dict, not a DataFrame, so the
        # scalar agg + two bounded dimension groupBys are the work.
        from etl_zero_spark.operators.report import corpus_report

        rep = corpus_report(
            load_table(spark, sf_dir, "documents"),
            source_col="source", lang_col="lang",
        )
        return rep["n_docs"]

    def x_chunk_documents() -> int:
        from etl_zero_spark.operators.text import chunk_documents

        return chunk_documents(
            load_table(spark, sf_dir, "documents"), chunk_tokens=64, stride=48
        ).count()

    def x_bm25_topk() -> int:
        # R8: lexical retrieval production path — 3 probe queries
        # against the corpus-built posting table per invocation.
        from etl_zero_spark.operators import retrieval

        docs = load_table(spark, sf_dir, "documents")
        q = spark.createDataFrame(
            [(0, "hash join strategy"), (1, "window agg stream"),
             (2, "slow scan filter")],
            "query_id bigint, query_text string",
        )
        return retrieval.bm25_topk(docs, q, top_k=10).count()

    def x_split_harden() -> int:
        # R9: leakage-safe holdout carve production path — hash-split
        # the corpus, then drop train near-twins of heldout docs (the
        # MinHash boundary scan). Ledger off: the single consumer
        # action below is the honest per-invocation cost.
        from etl_zero_spark.operators import corpus as corp

        docs = load_table(spark, sf_dir, "documents")
        split = corp.split_corpus(
            docs, {"train": 0.96, "val": 0.02, "test": 0.02}
        )
        out, _ = corp.harden_split(split, collect_stats=False)
        return out.count()

    def calib_fixed_hash_agg_18b() -> int:
        # Host-drift calibration (VERDICT r7 ask #2): a FIXED,
        # code-stable workload touching no repo operator — range ->
        # xxhash64 -> one global agg, pure whole-stage codegen, no IO.
        # The SIZE is part of the query NAME — resizing the workload
        # must rename the query, or cross-round ratios would silently
        # mix two different workloads and read as phantom drift (2nd
        # R8 review). The original 6B sibling (~1s warm) drifted ±20%
        # between same-code runs (R9) and was RETIRED in r12 per its
        # own two-rounds-of-18B-history condition (VERDICT r11 #3);
        # this ~1.8s workload amortizes scheduler jitter and now has
        # r10/r11 history. first() (not count()) forces the
        # aggregation: a count over a global agg is provably 1 row
        # and Catalyst elides the sum.
        row = (
            spark.range(18_000_000_000)
            .select(F.xxhash64("id").alias("h"))
            .agg(F.sum("h").alias("s"))
            .first()
        )
        return int(row.s is not None)

    return {
        "calib_hash_agg_18b": calib_fixed_hash_agg_18b,
        "x_bpe_tokenize": x_bpe_tokenize,
        "x_gopher_gate": x_gopher_gate,
        "x_validate_single_scan": x_validate_single_scan,
        "x_e3_sessionize": x_e3_sessionize,
        "x_corpus_pipeline": x_corpus_pipeline,
        "x_dd3_lsh_only": x_dd3_lsh_only,
        "x_sim4_search_only": x_sim4_search_only,
        "x_dd8_lsh_only": x_dd8_lsh_only,
        "x_sim2_sim3_real": x_sim2_sim3_real,
        "x_dd4_single_corpus": x_dd4_single_corpus,
        "x_dd9_probe_only": x_dd9_probe_only,
        "x_semdedup_pairs": x_semdedup_pairs,
        "x_lm_perplexity_buckets": x_lm_perplexity_buckets,
        "x_dsir_select": x_dsir_select,
        "x_span_dedup": x_span_dedup,
        "x_quality_classifier": x_quality_classifier,
        "x_line_dedup": x_line_dedup,
        "x_corpus_report": x_corpus_report,
        "x_chunk_documents": x_chunk_documents,
        "x_bm25_topk": x_bm25_topk,
        "x_split_harden": x_split_harden,
    }


def _scale_probe_skip(cores: int, env) -> str | None:
    """Why the scale probe is skipped on this run, or None to run it.

    ``SPARK_GRAFT_SCALE_PROBE=0`` disables it. Below 16 cores it is
    skipped by default: its budget and per-op costs are sized for a
    32-core host, and at 8 cores the r14 companion bench timed out
    (rc=124) inside the probe, producing no scaling evidence at all. An
    explicit opt-in — ``SPARK_GRAFT_SCALE_PROBE=1`` or any
    ``SPARK_GRAFT_PROBE_BUDGET`` — runs it on any host."""
    flag = env.get("SPARK_GRAFT_SCALE_PROBE")
    if flag == "0":
        return "disabled by SPARK_GRAFT_SCALE_PROBE=0"
    if cores >= 16 or flag == "1" or "SPARK_GRAFT_PROBE_BUDGET" in env:
        return None
    return (
        f"low-core run ({cores} cores < 16): probe costs are sized for "
        "32 cores; the r14 8-core companion bench timed out mid-probe "
        "(BENCH_r14_c8 rc=124); set SPARK_GRAFT_SCALE_PROBE=1 or "
        "SPARK_GRAFT_PROBE_BUDGET to run it anyway"
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None

    from etl_zero_spark.plans.all_queries import QUERIES
    from etl_zero_spark.session import get_spark

    spark = get_spark(app_name="etl-zero-spark-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up (not timed): fact-table scan + the Python worker pool —
    # local[N] lazily forks N pyspark workers on the first Arrow stage,
    # which is environment startup cost, not operator cost.
    from etl_zero_spark.catalog import load_table

    load_table(spark, sf_dir, "lineitem").limit(10).count()

    def _noop(it):
        yield from it

    spark.range(int(cpus) * 4).repartition(int(cpus)).mapInPandas(
        _noop, "id long"
    ).count()

    # Per-query failure isolation (R3 lesson: one broken query raised out
    # of main() and the whole round shipped with no bench artifact at
    # all). A failing query records {"err": ...} in `errors` and the rest
    # keep timing; the headline total sums the queries that ran.
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    warm_reps: dict[str, list[float]] = {}
    contended_first: list[str] = []
    contended: list[str] = []
    errors: dict[str, str] = {}
    runs = [(name, None) for name in HEADLINE] + [
        (name, fn) for name, fn in _extras(spark, sf_dir).items()
    ]
    run_of: dict = {}

    def _reps_for(cold_s: float) -> int:
        # >5s-cold jobs were still descending at rep 3 (VERDICT r12 #5:
        # dd9's min-of-3 was not steady-state) — give them 5 reps.
        return 5 if cold_s > 5.0 else 3

    def _is_contended(cold_s: float, reps: list[float]) -> bool:
        # A steady-state MIN above its own cold run is impossible on a
        # quiet host; a 2x spread across reps of one compiled plan means
        # something else was competing for cores (VERDICT r12 #1). The
        # 5%+50ms margin absorbs scheduler jitter on queries whose cold
        # run was already warm-shaped (shared scans hot from earlier
        # queries) — the r12 phantom signatures were 1.4-1.8x over
        # cold, nowhere near the margin.
        return (
            min(reps) > cold_s * 1.05 + 0.05
            or max(reps) / min(reps) > 2.0
        )

    for name, extra_fn in runs:
        run = extra_fn if extra_fn is not None else (
            lambda spec=QUERIES[name]: spec.fn(spark, sf_dir).count()
        )
        run_of[name] = run
        try:
            t0 = time.perf_counter()
            run()
            cold[name] = round(time.perf_counter() - t0, 3)
            reps = []
            for _ in range(_reps_for(cold[name])):
                t1 = time.perf_counter()
                run()
                reps.append(time.perf_counter() - t1)
            warm[name] = round(min(reps), 3)
            warm_reps[name] = [round(r, 3) for r in reps]
            flag = _is_contended(cold[name], reps)
            if flag:
                contended_first.append(name)
            print(
                f"# {name}: cold {cold[name]}s / warm {warm[name]}s"
                + (" CONTENDED" if flag else ""),
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001 — the artifact must exist
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name][:120]}", file=sys.stderr)

    # Re-time pass (VERDICT r12 #1b): the two-run screen, mechanized.
    # Every query flagged in the first pass re-runs its warm reps once,
    # at the END of the loop — transient host contention has moved on by
    # then; a query that is genuinely this slow reproduces. The final
    # number is the min across both passes (a minimum estimator only
    # improves with more samples); queries still flagged by the RETIME
    # reps ship carrying the flag.
    #
    # EVERY row re-times UNCONDITIONALLY: a contention episode that is
    # STEADY across a query's whole cold+warm window leaves warm<cold
    # and a flat spread — invisible to the per-query flags (observed
    # r13: a multi-minute episode early in the loop put aj1 at 3.46s
    # flat with cold 4.1s; its end-of-loop reading was 0.36s). A
    # warm<=2s gate was tried first, but the gate itself reads the
    # CONTAMINATED first-pass number — the rows an episode pushes over
    # the cutoff are exactly the ones that need the retime (review
    # catch). Re-timing everything costs one extra warm pass (~3x the
    # warm total, a few minutes against the ~35-minute run) and makes
    # the min-of-both-passes estimator uniformly two-window. Rows that
    # improve >1.3x on retime are listed in `retimed_improved` — an
    # artifact-level contention tell even when no flag survives.
    retime_set = list(dict.fromkeys(contended_first + list(warm)))
    retimed_improved: dict[str, float] = {}
    for name in retime_set:
        run = run_of[name]
        try:
            reps = []
            for _ in range(_reps_for(cold[name])):
                t1 = time.perf_counter()
                run()
                reps.append(time.perf_counter() - t1)
            warm_reps[name] += [round(r, 3) for r in reps]
            new_warm = round(min(warm[name], min(reps)), 3)
            if warm[name] > new_warm * 1.3:
                retimed_improved[name] = round(warm[name] / new_warm, 2)
            warm[name] = new_warm
            if name in contended_first and _is_contended(cold[name], reps):
                contended.append(name)
            print(
                f"# retime {name}: warm {warm[name]}s"
                + (" STILL-CONTENDED" if name in contended else ""),
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001 — keep the first-pass number
            if name in contended_first:
                contended.append(name)
            print(f"# retime {name}: ERROR {exc}", file=sys.stderr)

    # Scale rehearsal (sf1-equivalent: 6M lineitem / 100k docs / 100k
    # vectors, generated deterministically into a temp dir): single cold
    # runs of the dedup/ANN tier validating the auto-geometry claims at
    # 20-50x fixture scale. Isolated — any failure records an err entry;
    # see _scale_probe_skip for when it is skipped.
    scale_probe: dict = {}
    skip = _scale_probe_skip(spark.sparkContext.defaultParallelism, os.environ)
    if skip:
        scale_probe = {"skipped": skip}
    else:
        try:
            sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
            from tools import scale_probe as sp

            sp.generate(spark)
            scale_probe = sp.run_probe(spark)
        except Exception as exc:  # noqa: BLE001 — never kill the artifact
            scale_probe = {"err": f"{type(exc).__name__}: {exc}"[:300]}

    # Round-over-round: warm per-query ratio vs the last committed
    # bench document (VERDICT r3 #2 asked for the delta). Newest
    # PARSED BENCH_r*.json wins, and its round number is stamped as
    # baseline_round (VERDICT r7 ask #2 — r7's final artifact silently
    # anchored to an earlier same-round run). When the newest round's
    # tail didn't parse (r6's stdout line outgrew the driver's
    # 2000-char tail — fixed below by keeping the line slim), prefer
    # the GIT-COMMITTED BENCH_LOCAL.json (HEAD's copy is the previous
    # round's final bench even after a same-round run overwrote the
    # working tree — ADVICE r7 #5) and only then the working-tree
    # copy, with the baseline identity spelled out in the label.
    prev_name, prev_warm, prev_round = None, {}, None
    here = os.path.dirname(os.path.abspath(__file__))

    def _queries_of(doc):
        inner = doc.get("parsed") if isinstance(doc.get("parsed"), dict) else doc
        q = inner.get("queries") if isinstance(inner, dict) else None
        return q if isinstance(q, dict) and q else None

    def _warm_of(path: str):
        try:
            with open(path) as fh:
                doc = json.load(fh)
        except Exception:  # noqa: BLE001 — absent/corrupt artifacts skip
            return None
        return _queries_of(doc)

    def _warm_of_git_head():
        import subprocess

        try:
            out = subprocess.run(
                ["git", "-C", here, "show", "HEAD:BENCH_LOCAL.json"],
                capture_output=True, text=True, timeout=30,
            )
            if out.returncode != 0:
                return None
            return _queries_of(json.loads(out.stdout))
        except Exception:  # noqa: BLE001 — no git/corrupt -> next fallback
            return None

    rounds = sorted(
        (c for c in os.listdir(here)
         if c.startswith("BENCH_r") and c.endswith(".json")),
        reverse=True,
    )
    for i, cand in enumerate(rounds):
        q = _warm_of(os.path.join(here, cand))
        if q:
            prev_name, prev_warm = cand, q
            m = re.search(r"BENCH_r0*(\d+)", cand)
            prev_round = int(m.group(1)) if m else None
            break
        if i == 0:
            q = _warm_of_git_head()
            if q:
                prev_name = f"git HEAD:BENCH_LOCAL.json ({cand} tail unparsed)"
                prev_warm = q
                break
            q = _warm_of(os.path.join(here, "BENCH_LOCAL.json"))
            if q:
                prev_name = (
                    f"working-tree BENCH_LOCAL.json ({cand} tail unparsed, "
                    "git HEAD unreadable)"
                )
                prev_warm = q
                break
    # a renamed-but-unchanged workload pairs with its old key when the
    # baseline predates the rename (ADVICE r10 #1 — the rename rule
    # exempts only RESIZED/FOLDED workloads from ratio continuity)
    def _prev_of(q: str):
        v = prev_warm.get(q)
        if v is None and q in RENAMED_UNCHANGED:
            v = prev_warm.get(RENAMED_UNCHANGED[q])
        return v

    delta = {
        q: round(warm[q] / _prev_of(q), 2)
        for q in warm
        if isinstance(_prev_of(q), (int, float)) and _prev_of(q) > 0
    }
    # Host-drift estimate, computed ONCE (R10 advice: the previous
    # per-site `or delta[...]` fallback raised KeyError if the ratio
    # was present-but-falsy). The 6B workload retired in r12 (VERDICT
    # r11 #3); the 18B row is the single-workload CODE-FREE anchor —
    # since R13 the five-query panel is the primary normalizer
    # (VERDICT r12 #2: panel/18B agreed within ±0.2 two rounds
    # running) and the 18B row rides alongside to catch a panel
    # member's code change masquerading as host drift.
    drift_src = (
        "calib_hash_agg_18b" if delta.get("calib_hash_agg_18b") else None
    )
    drift_est = delta[drift_src] if drift_src else None
    # R11 (VERDICT r10 #5): a MULTI-QUERY drift panel alongside the
    # single-workload calibration — the calib's warm reading swings
    # enough between same-code runs (r10 notes: q1 0.41<->0.61s while
    # calib moved differently) that one workload is a noisy divisor.
    # The panel is the median warm-ratio of five stable MID-WEIGHT
    # queries (0.3-3s warm: above scheduler noise, below the
    # co-scheduling-sensitive tail). CAVEAT: panel members are repo
    # code — a round that CHANGES one must drop it here or its code
    # delta reads as host drift (the calib rows stay alongside for
    # exactly that reason; drift_normalized prefers the panel but the
    # raw ratios always ship).
    # (r12: the e3 member rides as x_e3_sessionize after the e1+e3
    # fold — same workload, same code, name bridged in
    # RENAMED_UNCHANGED, so its cross-round ratio stays valid.)
    # (r14: dd7_dedup_transitive left the panel — its slot folded with
    # dd6 into dd6_dd7_dedup_family, a DIFFERENT workload; replaced by
    # dd5_embedding_neardup, 0.53s warm in r13, code untouched.)
    _PANEL = (
        "dd5_embedding_neardup",
        "x_e3_sessionize",
        "scd1_type2_merge",
        "dd2_ngram_jaccard_pairs",
        "snap1_time_travel_read",
    )
    panel_ratios = [delta[q] for q in _PANEL if delta.get(q)]
    drift_panel = (
        round(statistics.median(panel_ratios), 3)
        if len(panel_ratios) >= 3
        else None
    )
    drift_norm = drift_panel or drift_est

    total = round(sum(warm.values()), 3)
    doc = {
        # Schema v3 (R5+): 'value'/'queries' are WARM min-of-3 timings
        # over HEADLINE declared queries PLUS the x_* pipeline extras
        # (BPE apply / gopher gate / validate / corpus pipeline).
        # The FULL document (incl. cold timings + scale probe) is also
        # written to BENCH_LOCAL.json so the committed artifact never
        # depends on how much stdout the driver's tail preserves (the
        # r4 artifact's tail truncated mid-dict -> parsed: null).
        "bench_schema_version": 3,
        "metric": (
            f"headline-query warm wall time ({len(warm)}/{len(runs)} ran; "
            "detail in BENCH_LOCAL.json)"
        ),
        "value": total,
        "unit": "sec",
        "queries": warm,
        "queries_cold": cold,
        # Per-rep arrays + contention stamps (VERDICT r12 #1): a row
        # whose min-of-reps exceeded its own cold run, or whose reps
        # spread >2x, was timed on a contended host. Flagged rows were
        # automatically re-timed once at the end of the loop;
        # `contended` lists the rows STILL flagged by the retime reps —
        # discount those without re-running.
        "queries_warm_reps": warm_reps,
        "contended_first_pass": contended_first,
        "contended": contended,
        # rows whose unconditional end-of-loop retime improved them
        # >1.3x: the first-pass window was contended even though no
        # per-query flag fired (steady episodes leave warm<cold)
        "retimed_improved": retimed_improved,
        "total_cold": round(sum(cold.values()), 3),
        "errors": errors,
        "n_ok": len(warm),
        "n_err": len(errors),
        "sf": sf,
        "sf_scale_probe": scale_probe,
        "warm_ratio_vs_prev": {
            "baseline": prev_name,
            "baseline_round": prev_round,
            # the calibration query touches no repo operator, so its
            # ratio is a pure host-speed estimate: divide any other
            # query's ratio by it to read the drift-normalized delta.
            # drift_src records WHICH calibration workload produced it.
            # R13 (VERDICT r12 #2): the PANEL is the primary drift
            # normalizer — its promotion condition (agreement with the
            # 18B calib within ±0.2) held two rounds running (r11:
            # 0.76/0.76, r12: 0.85/0.84). The 18B row stays alongside
            # as the code-free anchor: it touches no repo operator, so
            # panel-vs-18B disagreement >0.2 means a panel member's
            # CODE changed and the panel must drop it that round.
            "host_drift_estimate": drift_est,
            "host_drift_source": drift_src,
            # The five-member mid-weight panel (median warm-ratio;
            # requires >= 3 members with ratios). PRIMARY since R13.
            "host_drift_panel": drift_panel,
            "host_drift_panel_members": list(_PANEL),
            "ratios": delta,
            # VERDICT r8 ask #3: the same ratios with host drift
            # divided out — screen THESE for regressions; raw ratios
            # stay alongside for transparency. Null estimate (first
            # round with a calib baseline) leaves this empty.
            "drift_normalized_by": (
                "panel" if drift_panel else ("calib" if drift_est else None)
            ),
            "ratios_drift_normalized": (
                {
                    q: round(r / drift_norm, 2)
                    for q, r in delta.items()
                    if not q.startswith("calib_hash_agg")
                }
                if drift_norm
                else {}
            ),
        },
    }
    with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as fh:
        json.dump(doc, fh, indent=1)
    # The stdout line MUST fit the driver's 2000-char stdout tail or
    # BENCH_r{N}.json records parsed:null (r6 outgrew it): warm
    # timings at 2dp + error NAMES only; ratios, cold timings and the
    # scale probe live in the committed BENCH_LOCAL.json.
    slim = {
        "bench_schema_version": doc["bench_schema_version"],
        "metric": doc["metric"],
        "value": doc["value"],
        "unit": "sec",
        "queries": {q: round(s, 2) for q, s in warm.items()},
        "n_ok": len(warm),
        "n_err": len(errors),
        "sf": sf,
        # R10 (VERDICT r9 #1): the driver records only this stdout
        # line into BENCH_r{N}.json, so the drift estimate must ride
        # it — the full ratio blocks stay in BENCH_LOCAL.json
        "host_drift_estimate": drift_est,
        "host_drift_source": drift_src,
        "host_drift_panel": drift_panel,
        "detail_file": "BENCH_LOCAL.json",
    }
    if contended:
        # rows still flagged after the automatic re-time (VERDICT r12
        # #1): warm>cold or >2x rep spread — discount these rows
        slim["contended"] = sorted(contended)
    if len(retimed_improved) >= 3:
        # three or more rows repaired >1.3x by the retime pass = the
        # main loop had a contention episode; the FINAL numbers are
        # already the repaired ones, this is provenance
        slim["retime_repaired"] = len(retimed_improved)
    if errors:
        slim["error_queries"] = sorted(errors)
    line = json.dumps(slim, separators=(",", ":"))
    if len(line) > 1900:  # last resort: drop per-query detail, keep totals
        slim["queries"] = {}
        slim["queries_note"] = "line exceeded driver tail; see BENCH_LOCAL.json"
        line = json.dumps(slim, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
