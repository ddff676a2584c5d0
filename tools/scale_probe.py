#!/usr/bin/env python
"""Scale rehearsal (VERDICT r3 #9): validate the auto-geometry and
candidate-bounding claims of the dedup/ANN tier with DATA, not
argument, at an sf1-equivalent corpus the driver fixtures don't ship:

* lineitem  ~6M rows  (sf1's TPC-H cardinality — scan/agg probe)
* documents 100k rows (20x the sf0.1 corpus, planted near-dup pairs)
* embeddings 100k x 64 (50x sf0.1, 10 clusters, planted near-dups)

Generation is Spark-side (mapInPandas, seeded per partition id — a
pure function of (seed, partition), so the corpus is deterministic at
any parallelism) into a regenerable temp dir; nothing under
/root/testdata is touched. Per-op failure isolation; results land in
BENCH_r{N}.json under "sf_scale_probe" via bench.py.

Timing discipline (VERDICT r6 #4 — probe variance burned two rounds on
false regression hunts: r5's gopher_100k 10.8s and r6's dd2_t05
24.9-39.2s same-code spreads, both co-scheduling noise): PURE probes
whose first run exceeds ``REP_THRESHOLD_S`` re-run up to ``MAX_REPS``
total (budget permitting) and report ``sec`` = MEDIAN with the full
``sec_reps`` list and ``reps`` count alongside — round-over-round
deltas should compare medians. Stateful/write-side probes (snapshot
ops, z-order, bucketed writes, streaming state, index builds) stay
single-run, marked ``reps: 1``. One-time discontinuity: r7 medians sit
below earlier rounds' single cold readings wherever JIT/page-cache
warmth matters — compare r7+ against r7, not r6.

Standalone: python tools/scale_probe.py [--regen]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBE_DIR = os.path.join(
    os.environ.get("TMPDIR", "/tmp"), "etlzero_scale_probe_v2"
)
N_DOCS = 100_000
N_VECS = 100_000
N_LINEITEM = 6_000_000
N_EVENTS = 10_000_000
DIM = 64
SEED = 42

#: Median-of-N policy (VERDICT r6 #4). Probes listed here are PURE —
#: read-only over the generated corpus or rebuilt-from-scratch per
#: call — so re-running them measures the same work; everything else
#: (snapshot commits, z-order/bucketed writes, streaming state, index
#: builds with persist side effects, artifact train-then-load splits)
#: stays single-run because a second run would measure a DIFFERENT
#: path or mutate probe state.
_PURE_PROBES = frozenset({
    "scan_agg_6m", "packing_b2048", "contamination_n5",
    "dd3_t05", "dd8_t09", "sim3_k10",
    "e3_sessionize_10m", "aj1_asof_10m", "rj1_range_10m",
    "gopher_100k", "semdedup_100k_t09", "span_dedup_100k_k25",
    "line_dedup_100k",
    # corpus_pipeline_1m left the pure set in R11: its rep budget
    # funds the 2M linearity midpoint (VERDICT r10 #3) — the band now
    # comes from three same-mode single-rep points, not reps of one
    "span_dedup_100k_verify", "report_1m",
    "lm_ppl_100k", "dsir_100k_top10k", "drift_1m_distinct_cat",
    "report_100k",
    "shuffle_100k", "scd2_merge_1m",
    "funnel_10m", "funnel_hotuser_1m_capped", "cohorts_10m",
    "dd2_t05",
})
REP_THRESHOLD_S = 2.0
MAX_REPS = 3

#: The fixture documents' vocabulary regime: word salad from a small
#: vocab -> heavy shingle collisions, the adversarial case for the
#: inverted-index joins (a natural-language corpus is EASIER).
_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "order data column join small line customer query big the a stream "
    "window sort group filter rollup bucket shard probe build cache page "
    "index plan stage task shuffle codegen arrow vector branch"
).split()


def _write(df, path):
    df.write.mode("overwrite").parquet(path)


def _salad_documents(spark, n_docs: int, parts: int):
    """The word-salad documents generator, shared by the 100k probe
    corpus and the 1M pipeline-composition corpus (VERDICT r7 #3):
    Zipf lengths over the small adversarial vocabulary, every 10th doc
    a ~8%-word-swap near-dup of its predecessor."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    per_part = n_docs // parts

    def gen_docs(batches):
        for pdf in batches:
            for pid in pdf["p"]:
                rng = np.random.RandomState(SEED * 1009 + int(pid))
                base = pid * per_part
                texts, ids = [], []
                for i in range(per_part):
                    doc_id = base + i
                    n_words = 20 + int(rng.zipf(1.6) % 120)
                    words = [
                        _VOCAB[j] for j in rng.randint(0, len(_VOCAB), n_words)
                    ]
                    if i % 10 == 1 and texts:
                        # near-dup of the PREVIOUS doc: ~8% word swaps
                        words = texts[-1].split()
                        k = max(len(words) // 12, 1)
                        for pos in rng.randint(0, len(words), k):
                            words[pos] = _VOCAB[rng.randint(0, len(_VOCAB))]
                    texts.append(" ".join(words))
                    ids.append(doc_id)
                yield pd.DataFrame(
                    {
                        "doc_id": np.array(ids, dtype="int64"),
                        "text": texts,
                        "lang": [("en", "de", "es", "fr", "und")[i % 5] for i in ids],
                        "source": [f"src_{i % 20}" for i in ids],
                        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
                    }
                )

    return spark.range(0, parts, 1, parts).select(
        F.col("id").cast("int").alias("p")
    ).mapInPandas(
        gen_docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    )


#: 1M-doc corpus for the pipeline-composition probe — its own cache
#: dir (regenerating the 100k corpus must not invalidate it).
PROBE_1M_DIR = os.path.join(
    os.environ.get("TMPDIR", "/tmp"), "etlzero_scale_probe_1m"
)
N_DOCS_1M = 1_000_000

#: 4M-doc corpus (R10, VERDICT r9 #4): the second point of the
#: pipeline-linearity claim — 1M docs is two orders below the design
#: point's per-executor share, so the claim needs a 4x row.
PROBE_4M_DIR = os.path.join(
    os.environ.get("TMPDIR", "/tmp"), "etlzero_scale_probe_4m"
)
N_DOCS_4M = 4_000_000

#: 2M-doc corpus (R11, VERDICT r10 #3): the report-excluded MIDPOINT
#: of the pipeline-linearity band — r10's 4M point was one rep against
#: a bimodal 1M band, so the linearity sentence needs a same-mode
#: (report-excluded, single-rep) middle point. Budget comes from the
#: 1M row dropping to one rep this round.
PROBE_2M_DIR = os.path.join(
    os.environ.get("TMPDIR", "/tmp"), "etlzero_scale_probe_2m"
)
N_DOCS_2M = 2_000_000

#: 8M-doc corpus (R14, VERDICT r13 #5): the band's 1m->4m s/M-docs
#: drifts upward ~35%; one 8M point tells whether that is fixed-cost
#: amortization noise or the start of a knee.
PROBE_8M_DIR = os.path.join(
    os.environ.get("TMPDIR", "/tmp"), "etlzero_scale_probe_8m"
)
N_DOCS_8M = 8_000_000


def _generate_docs_only(spark, out_dir: str, n_docs: int, parts: int) -> str:
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    t0 = time.perf_counter()
    _write(
        _salad_documents(spark, n_docs, parts),
        os.path.join(out_dir, "documents.parquet"),
    )
    with open(marker, "w") as fh:
        fh.write(f"generated in {time.perf_counter() - t0:.1f}s\n")
    return out_dir


def generate_1m(spark, out_dir: str = PROBE_1M_DIR, parts: int = 32) -> str:
    """Documents-only 1M corpus (VERDICT r7 #3); idempotent."""
    return _generate_docs_only(spark, out_dir, N_DOCS_1M, parts)


def generate_2m(spark, out_dir: str = PROBE_2M_DIR, parts: int = 32) -> str:
    """Documents-only 2M corpus (R11); idempotent."""
    return _generate_docs_only(spark, out_dir, N_DOCS_2M, parts)


def generate_4m(spark, out_dir: str = PROBE_4M_DIR, parts: int = 32) -> str:
    """Documents-only 4M corpus (R10); idempotent."""
    return _generate_docs_only(spark, out_dir, N_DOCS_4M, parts)


def generate_8m(spark, out_dir: str = PROBE_8M_DIR, parts: int = 64) -> str:
    """Documents-only 8M corpus (R14); idempotent. 64 generation
    partitions keep the per-task row count at the 4M run's level."""
    return _generate_docs_only(spark, out_dir, N_DOCS_8M, parts)


def generate(spark, out_dir: str = PROBE_DIR, parts: int = 32) -> str:
    """Deterministic sf1-equivalent corpus; idempotent (skips when the
    marker file exists)."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    t0 = time.perf_counter()

    # -- lineitem: 6M rows, q1-compatible schema, pure Column exprs ----
    n = N_LINEITEM
    li = (
        spark.range(0, n, 1, parts)
        .select(
            (F.floor(F.col("id") / 4) + 1).alias("l_orderkey"),
            (F.xxhash64("id", F.lit(1)) % 200_000).alias("l_partkey"),
            (F.xxhash64("id", F.lit(2)) % 10_000).alias("l_suppkey"),
            (F.col("id") % 4 + 1).cast("int").alias("l_linenumber"),
            (F.abs(F.xxhash64("id", F.lit(3))) % 50 + 1).cast("double").alias("l_quantity"),
            (F.abs(F.xxhash64("id", F.lit(4))) % 100_000 / 1.0).alias("l_extendedprice"),
            ((F.abs(F.xxhash64("id", F.lit(5))) % 11) / 100.0).alias("l_discount"),
            ((F.abs(F.xxhash64("id", F.lit(6))) % 9) / 100.0).alias("l_tax"),
            F.element_at(
                F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                (F.abs(F.xxhash64("id", F.lit(7))) % 3 + 1).cast("int"),
            ).alias("l_returnflag"),
            F.element_at(
                F.array(F.lit("O"), F.lit("F")),
                (F.abs(F.xxhash64("id", F.lit(8))) % 2 + 1).cast("int"),
            ).alias("l_linestatus"),
            F.timestamp_seconds(
                F.lit(694224000) + F.abs(F.xxhash64("id", F.lit(9))) % 220_000_000
            ).alias("l_shipdate"),
        )
    )
    _write(li, os.path.join(out_dir, "lineitem.parquet"))

    # -- events: 10M rows, 100k users over 30 days (streaming/state
    # probes; same schema as the driver fixture) ----------------------
    ev = spark.range(0, N_EVENTS, 1, parts).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.abs(F.xxhash64("id", F.lit(20))) % (30 * 86400)
        ).alias("ts"),
        (F.abs(F.xxhash64("id", F.lit(21))) % 100_000).alias("user_id"),
        F.element_at(
            F.array(F.lit("click"), F.lit("view"), F.lit("purchase")),
            (F.abs(F.xxhash64("id", F.lit(22))) % 3 + 1).cast("int"),
        ).alias("event_type"),
        ((F.abs(F.xxhash64("id", F.lit(23))) % 10_000) / 100.0).alias("value"),
        F.when(
            F.col("id") % 5 != 0,
            F.concat(
                F.lit('{"k": '), (F.col("id") % 97).cast("string"), F.lit("}")
            ),
        ).alias("props"),
    )
    _write(ev, os.path.join(out_dir, "events.parquet"))

    # -- documents: word salad + planted near-dups ---------------------
    _write(
        _salad_documents(spark, N_DOCS, parts),
        os.path.join(out_dir, "documents.parquet"),
    )

    # -- embeddings: 10 clusters + planted near-dups -------------------
    vec_per_part = N_VECS // parts

    def gen_vecs(batches):
        for pdf in batches:
            for pid in pdf["p"]:
                rng = np.random.RandomState(SEED * 2003 + int(pid))
                # center scale 1.2 -> within-cluster cosine ~0.6 (clusterable
                # but NOT near-dup); planted pairs sit at ~0.999
                centers = np.random.RandomState(SEED).randn(10, DIM) * 1.2
                base = pid * vec_per_part
                ids = np.arange(base, base + vec_per_part, dtype="int64")
                labels = (ids % 10).astype("int32")
                vecs = centers[labels] + rng.randn(vec_per_part, DIM)
                # near-dup pairs: every 10th vector hugs its predecessor
                for i in range(1, vec_per_part):
                    if ids[i] % 10 == 1:
                        vecs[i] = vecs[i - 1] + rng.randn(DIM) * 0.01
                yield pd.DataFrame(
                    {
                        "vec_id": ids,
                        "embedding": [v.astype("float32") for v in vecs],
                        "label": labels,
                    }
                )

    vecs = spark.range(0, parts, 1, parts).select(
        F.col("id").cast("int").alias("p")
    ).mapInPandas(gen_vecs, "vec_id long, embedding array<float>, label int")
    _write(vecs, os.path.join(out_dir, "embeddings.parquet"))

    with open(marker, "w") as fh:
        fh.write(f"generated in {time.perf_counter() - t0:.1f}s\n")
    return out_dir



def _band_point_1m(row: dict) -> float | None:
    """The 1M row's like-for-like band point: its sec MINUS the
    in-probe report_sec (the 2m/4m/8m rows exclude the report), or
    None when the row did not complete. One copy (R14 review) so the
    like-for-like rule cannot desynchronize between the 4m and 8m
    band blocks."""
    if isinstance(row.get("sec"), (int, float)):
        return round(row["sec"] - row.get("report_sec", 0), 2)
    return None


#: Input size of each corpus-pipeline rung, in millions of documents.
_CORPUS_RUNGS = {"corpus_pipeline_1m": 1, "corpus_pipeline_2m": 2,
                 "corpus_pipeline_4m": 4, "corpus_pipeline_8m": 8}


def preflight_estimate(name: str, done: dict) -> float | None:
    """Seconds probe ``name`` is expected to take, from the results of
    the probes completed so far (``done``: name -> result dict, in run
    order); None before any has completed.

    The worst of the last completed probe, the running median and 10 s
    (the probe list is roughly cost-ordered, so the recent past bounds
    the near future). A corpus-pipeline rung above 1M doubles its
    input, so the recent past underestimates it: its estimate is at
    least the last completed rung scaled by the input-size ratio (2x
    from the rung just below). The 1M rung's in-probe corpus report
    (``report_sec``) is left out of that scaling, because the larger
    rungs do not run it."""
    done = {n: r for n, r in done.items()
            if isinstance(r, dict) and isinstance(r.get("sec"), (int, float))}
    if not done:
        return None
    secs = [r["sec"] for r in done.values()]
    est = max(secs[-1], statistics.median(secs), 10.0)
    rungs = [(n, r["sec"] - r.get("report_sec", 0))
             for n, r in done.items() if n in _CORPUS_RUNGS]
    if _CORPUS_RUNGS.get(name, 1) > 1 and rungs:
        last, sec = rungs[-1]
        est = max(est, sec * _CORPUS_RUNGS[name] / _CORPUS_RUNGS[last])
    return est


def run_probe(spark, probe_dir: str = PROBE_DIR, budget_s: float | None = None) -> dict:
    """One cold run per op; failures record an err string, never raise.

    ``budget_s`` (default env SPARK_GRAFT_PROBE_BUDGET or 300): ops
    still pending when the budget is spent record ``skipped`` instead
    of running — the bench artifact's existence outranks probe
    completeness (the r3 lesson: a bench that dies emits nothing)."""
    if budget_s is None:
        # R10: +300s over the r9 default for the corpus_pipeline_4m
        # linearity row (its own cost gate skips it when the window
        # is already spent). R11: +100s nets the 2M midpoint +
        # split_harden_1m against the 1M row dropping to one rep.
        # R12: +150s for contamination_1m (its exact tier is a
        # deliberate ~107s blowup measurement). R14: +1250s for the
        # corpus_pipeline_8m linearity point (VERDICT r13 #5 — ~8x the
        # 1M row's pipeline-only time; its own cost gate skips it when
        # the window is already spent, as the 4M row was in r13).
        # R15 (VERDICT r14 #1): the 3100s default is sized for the
        # 32-core driver host; a lower-core companion run executes
        # every op proportionally slower, so an unscaled budget blows
        # any driver window (r14's 8-core bench died rc=124 mid-probe).
        # An explicit SPARK_GRAFT_PROBE_BUDGET is honored verbatim.
        env = os.environ.get("SPARK_GRAFT_PROBE_BUDGET")
        if env is not None:
            budget_s = float(env)
        else:
            cores = spark.sparkContext.defaultParallelism
            budget_s = 3100.0 * min(1.0, cores / 32.0)
    t_start = time.perf_counter()
    from pyspark.sql import functions as F

    from etl_zero_spark.catalog import load_table
    from etl_zero_spark.operators import corpus, dedup, ivf, similarity
    from etl_zero_spark.plans.all_queries import QUERIES

    docs = load_table(spark, probe_dir, "documents")
    emb = load_table(spark, probe_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 100)

    def dd2():
        # t=0.5: prefix filter + stop-shingle cap active — the regime
        # the r3 verdict flagged; this measures the FIXED path at 20x.
        # This slot runs LAST after a ~20-min bench and was the most
        # co-scheduling-sensitive probe (r6 measured 24.9-39.2s spreads
        # with zero code change) — since r7 it reports a median-of-3
        # like every pure probe; read `reps`/`sec_reps` in the JSON.
        return dedup.ngram_jaccard_pairs(docs, threshold=0.5)

    def dd3():
        return dedup.minhash_lsh_pairs(docs, threshold=0.5)

    def dd8():
        # real near-dup regime (0.9): candidates ~= planted pairs.
        return similarity.lsh_neardup_pairs(emb, threshold=0.9)

    def sim3():
        return similarity.lsh_partitioned_topk(queries_df, emb, k=10)

    sim4_train_sec: list[float] = []
    sim4_cents: list = []

    def sim4():
        # Index build amortizes through the SAME persisted-artifact path
        # production uses (functions/artifacts.cached_artifact keyed on
        # corpus+geometry): the first probe run pays the k-means pass,
        # every later run digest-verifies and loads — train_sec in the
        # artifact records what THIS run actually paid, and search_sec
        # is the headline either way.
        from etl_zero_spark.functions.artifacts import cached_artifact

        t = time.perf_counter()
        cents = cached_artifact(
            "ivf_centroids",
            {"corpus": probe_dir, "nlist": 128, "seed": ivf.IVF_SEED,
             "max_iter": 4, "vec_col": "embedding"},
            lambda: ivf.train_ivf_centroids(emb, 128, max_iter=4),
        )
        sim4_train_sec.append(round(time.perf_counter() - t, 2))
        sim4_cents.append(cents)  # sim5_pq reuses the coarse quantizer
        return ivf.ivf_topk(queries_df, emb, k=10, centroids=cents, nprobe=16)

    pq_train_sec: list[float] = []

    def sim5_pq():
        # IVF-PQ at 100k x 64: codebook train (bounded sample, persisted
        # like sim4's quantizer, timed separately) + ADC search with
        # exact refine — the compressed-domain tier at 32x fewer
        # bytes/vec
        from etl_zero_spark.functions.artifacts import cached_artifact
        from etl_zero_spark.operators import pq as pqm

        t = time.perf_counter()
        books = cached_artifact(
            "pq_codebooks",
            {"corpus": probe_dir, "m": 8, "sample_rows": 16_384,
             "max_iter": 8, "vec_col": "embedding"},
            lambda: pqm.train_pq(emb, m=8, sample_rows=16_384, max_iter=8),
        )
        cents = (
            sim4_cents[0]
            if sim4_cents  # the SAME coarse quantizer sim4 trained/loaded
            else ivf.train_ivf_centroids(emb, 128, max_iter=4)
        )
        pq_train_sec.append(round(time.perf_counter() - t, 2))
        return pqm.ivf_pq_topk(
            queries_df, emb, k=10, codebooks=books, centroids=cents, nprobe=16
        )

    dd9_build_sec: list[float] = []
    dd9_index_frames: list = []  # persisted index halves, released after the probe

    def dd9_incremental():
        # The daily-ingest regime (R5 evidence for the O(delta) claim):
        # index the 100k corpus ONCE (build_sec — in production this is
        # yesterday's persisted index), then pair a 1k delta against it
        # — delta-vs-corpus + delta-vs-delta, never corpus-vs-corpus.
        # probe_sec is the recurring daily cost; compare it against
        # dd3_t05's full self-pairing above.
        idx = dedup.build_minhash_index(docs)
        t = time.perf_counter()
        idx.bands.persist().count()
        idx.shingles.persist().count()
        dd9_index_frames.extend([idx.bands, idx.shingles])
        dd9_build_sec.append(round(time.perf_counter() - t, 2))
        delta = docs.where(F.col("doc_id") < 1_000).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
        return dedup.incremental_minhash_pairs(delta, idx, threshold=0.5)

    def funnel_hotuser_1m():
        # One user with 1M distinct-timestamp events (the bot shape
        # from the r4 hot-key note): the capped path bounds the fold's
        # working set through a spillable window instead of a 1M-element
        # in-memory array.
        from etl_zero_spark.operators.funnel import funnel_users

        ev = (
            spark.range(1_000_000)
            .select(
                F.lit(7).alias("user_id"),
                F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id")).alias("ts"),
                F.when(F.col("id") % 3 == 0, F.lit("view"))
                .when(F.col("id") % 3 == 1, F.lit("click"))
                .otherwise(F.lit("purchase"))
                .alias("event_type"),
            )
        )
        return funnel_users(
            ev, ["view", "click", "purchase"], max_events_per_user=100_000
        )

    def scan_agg_6m():
        return QUERIES["q1_pricing_summary"].fn(spark, probe_dir)

    def contamination():
        # 50k/50k split; n=5 on the 40-word vocab is adversarial
        # (massive gram collisions) — the stop-gram cap is the test.
        tr = docs.where(F.col("doc_id") < N_DOCS // 2)
        te = docs.where(F.col("doc_id") >= N_DOCS // 2)
        return corpus.cross_corpus_contamination(
            tr, te, n=5, min_shared=3, max_gram_df=100
        )

    def packing():
        return corpus.pack_sequences(docs, budget=2048).groupBy(
            "pack_key"
        ).agg(F.sum("n_tokens").alias("t"))

    def sessionize_10m():
        # window-heavy: 10M rows shuffled+sorted per user (100k users)
        from etl_zero_spark.plans.events_queries import e3_sessionize_batch

        return e3_sessionize_batch(spark, probe_dir)

    def asof_10m():
        # custom join family at 10M events: union + one window pass
        return QUERIES["aj1_asof_join"].fn(spark, probe_dir)

    def range_10m():
        # bucketized point-in-interval join at 10M events
        return QUERIES["rj1_range_join"].fn(spark, probe_dir)

    def stream_tumbling_10m():
        # Structured Streaming one-shot with a real state store over
        # 10M events (30*24 windows x 3 types of state).
        from etl_zero_spark.streaming import events as sev

        stream = sev.read_events_stream(spark, probe_dir)
        return sev.run_available_now(
            sev.tumbling_agg(stream), "probe_st1_10m"
        )

    def bucketed_join_6m():
        # The write-side join lever at 6M rows: lineitem bucketed on
        # l_orderkey joins a derived orders-side WITHOUT shuffling the
        # fact (write cost paid once, here inside this probe). The
        # exchange count is verified, not assumed.
        from etl_zero_spark.catalog import Zone

        li = load_table(spark, probe_dir, "lineitem")
        zone = Zone(os.path.join(probe_dir, "zone"), "probe")
        name = zone.write_bucketed(li, "lineitem", "l_orderkey", 64)
        fact = spark.table(name)
        orders_side = (
            fact.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
        )
        joined = fact.join(orders_side, "l_orderkey").where(
            F.col("n_items") >= 4
        )
        import re as _re

        plan = joined._jdf.queryExecution().executedPlan().toString()
        n_ex = len(_re.findall(r"\bExchange\b", plan))
        if n_ex > 0:
            raise AssertionError(
                f"bucketed join shuffled ({n_ex} exchanges)\n{plan}"
            )
        return joined

    snap_detail: dict = {}

    def snapshot_6m():
        # The transactional tier at 6M rows: range-clustered commit,
        # stats-pruned copy-on-write upsert (should rewrite a handful
        # of the 48 files), then a retention delete (most covered files
        # dropped metadata-only). Per-op secs + the manifest operation
        # strings (which carry the file accounting) ride the result.
        import shutil
        import tempfile

        from etl_zero_spark.sources.snapshots import SnapshotTable

        li = load_table(spark, probe_dir, "lineitem")
        root = tempfile.mkdtemp(prefix="etlzero_snap_probe_")
        try:
            tbl = SnapshotTable(os.path.join(root, "li"))
            t = time.perf_counter()
            tbl.commit(
                li.repartitionByRange(48, "l_orderkey").sortWithinPartitions(
                    "l_orderkey"
                )
            )
            snap_detail["commit_sec"] = round(time.perf_counter() - t, 2)
            ups = (
                li.where(F.col("l_orderkey").between(700_000, 700_400))
                .dropDuplicates(["l_orderkey"])
                .withColumn("l_quantity", F.lit(999.0))
            )
            t = time.perf_counter()
            v = tbl.upsert(spark, ups, key="l_orderkey")
            snap_detail["upsert_sec"] = round(time.perf_counter() - t, 2)
            snap_detail["upsert_op"] = tbl.manifest(v)["operation"]
            t = time.perf_counter()
            v = tbl.delete_where(spark, "l_orderkey", None, 150_000)
            snap_detail["delete_sec"] = round(time.perf_counter() - t, 2)
            snap_detail["delete_op"] = tbl.manifest(v)["operation"]
            return (
                tbl.read(spark)
                .agg(F.count(F.lit(1)).alias("rows_after"))
                .localCheckpoint()
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def funnel_10m():
        # MATCH_RECOGNIZE-lite over 10M events / 100k users: one
        # collect_list shuffle + k nested folds — the per-user-array
        # working-set claim at real volume
        from etl_zero_spark.operators.funnel import funnel_users

        ev = load_table(spark, probe_dir, "events")
        return funnel_users(ev, ["view", "click", "purchase"])

    def cohorts_10m():
        from etl_zero_spark.operators.cohorts import cohort_retention

        ev = load_table(spark, probe_dir, "events")
        return cohort_retention(ev, "1 day")

    def scd2_1m():
        # SCD2 merge at 1M keys + 200k-row update wave: the whole
        # linearize/dedupe/chain pipeline in its single by-key exchange
        import datetime as dt

        from etl_zero_spark.sources import scd

        dim_src = spark.range(0, 1_000_000, 1, 32).select(
            F.col("id").alias("k"),
            (F.xxhash64("id", F.lit(7)) % 100).cast("string").alias("attr"),
        )
        dim = scd.scd2_init(dim_src, dt.datetime(2020, 1, 1))
        ups = (
            dim_src.where(F.col("k") % 5 == 0)
            .withColumn("attr", F.concat(F.col("attr"), F.lit("x")))
            .withColumn("ts", F.lit(dt.datetime(2020, 6, 1)))
        )
        return scd.scd2_merge(dim, ups, key="k", tracked=["attr"])

    matview_full_sec: list[float] = []

    def matview_6m():
        # The O(delta + view) claim with data: snapshot-commit the 6M
        # fact, FULL-build the view, append a 1% delta, then time the
        # INCREMENTAL refresh (both secs reported). Honest read: at
        # 6M rows x 6 groups the full build is itself seconds, so the
        # incremental path's fixed overhead (delta read + state merge +
        # snapshot commit, ~4-5s) can exceed it — the claim this probe
        # pins is that the incremental cost does NOT grow with base
        # history (it is delta+view+constant), which is what matters
        # when the base is 100 TB and the full build is hours.
        import shutil
        import tempfile

        from etl_zero_spark.operators.matview import MaterializedAgg
        from etl_zero_spark.sources.snapshots import SnapshotTable

        li = load_table(spark, probe_dir, "lineitem")
        root = tempfile.mkdtemp(prefix="etlzero_mv_probe_")
        try:
            base = SnapshotTable(os.path.join(root, "base"))
            state = SnapshotTable(os.path.join(root, "mv"))
            base.commit(li)
            mv = MaterializedAgg(
                base,
                state,
                keys=["l_returnflag", "l_linestatus"],
                aggs={"l_quantity": ["sum", "count", "avg"],
                      "l_extendedprice": ["min", "max"]},
            )
            t = time.perf_counter()
            mv.refresh(spark)  # full build over 6M
            matview_full_sec.append(round(time.perf_counter() - t, 2))
            base.commit(li.where(F.col("l_orderkey") % 100 == 0), mode="append")
            t = time.perf_counter()
            r = mv.refresh(spark)
            assert r["mode"] == "incremental", r
            inc = round(time.perf_counter() - t, 2)
            matview_full_sec.append(inc)
            return mv.read(spark).localCheckpoint()
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def gopher_100k():
        # the full repetition+quality battery (one projection + the
        # greedy-scan UDF) over the adversarial 100k salad corpus.
        # R6 re-measure (VERDICT r5 #2): the r5 artifact's 10.79s (vs
        # r4's 6.63s, same plan) was co-scheduling noise from running
        # cold after the full bench — three isolated consecutive runs
        # on an idle local[32] gave 12.69s cold-process, then 6.43s /
        # 6.38s warm (2026-08-14). No regression; no fix needed.
        from etl_zero_spark.operators.quality import gopher_filter

        return gopher_filter(docs).where("keep")

    def shuffle_100k():
        # deterministic training-order shuffle: one range exchange
        return corpus.shuffle_corpus(docs, seed=1)

    def span_dedup_100k():
        # R6: exact substring dedup (Lee et al.) at 100k docs — the
        # positional k-gram index is ~one row per token (explode +
        # per-gram window + island merge + codegen token filter). The
        # salad corpus's planted near-dups share long exact runs, so
        # real spans are found and cut. The probe FILTERS on the output
        # text's length: the harness times fn().count(), and both a
        # bare count (unique-keyed join + unused column eliminated) and
        # a count over a global aggregate (provably 1 row) let Catalyst
        # skip the entire operator — observed 0.3-0.4s "empty plan"
        # timings vs ~2.5s real warm cost. The length predicate forces
        # the cleaned text to materialize per row.
        return dedup.remove_duplicate_spans(docs, k=25).where(
            F.coalesce(F.length("text"), F.lit(0)) >= 0
        )

    def line_dedup_100k():
        # R7: boilerplate line removal at 100k docs. Single-line probe
        # texts restructure into 5-word lines first; the small salad
        # vocabulary makes those lines repeat across documents heavily
        # — a boilerplate-dense worst case (most lines end up in the
        # dup table, so the join back is as wide as it gets). Length
        # filter forces the rebuilt text (the span_dedup_100k trap).
        lined = docs.withColumn(
            "text",
            F.regexp_replace(F.col("text"), r"((?:\w+ ){4}\w+) ", "$1\n"),
        )
        return dedup.remove_duplicate_lines(lined, min_docs=2).where(
            F.coalesce(F.length("text"), F.lit(0)) >= 0
        )

    def span_dedup_100k_verify():
        # R8 (VERDICT r7 #4): the verify_exact mode — occurrences key
        # on (hash, gram TEXT) instead of the 64-bit hash alone, the
        # zero-false-cuts setting the module recommends at web scale.
        # Same probe shape as span_dedup_100k_k25; the delta between
        # the two rows is the measured cost of carrying the gram
        # strings through the explode + window (the "one wider
        # shuffle" the docstring previously only guessed at).
        return dedup.remove_duplicate_spans(
            docs, k=25, verify_exact=True
        ).where(F.coalesce(F.length("text"), F.lit(0)) >= 0)

    pipeline_1m_detail: dict = {}

    def report_1m():
        # R9 (VERDICT r8 #2): corpus_report at 1M docs STANDALONE —
        # the r8 number (37.0s at 924k) ran co-scheduled right after
        # the 155s pipeline probe, so cache/memory pressure could not
        # be separated from an algorithmic knee. Median-of-3 in
        # isolation is the honest scaling read against report_100k.
        from etl_zero_spark.operators.report import corpus_report

        d1m = load_table(spark, PROBE_1M_DIR, "documents")
        rep = corpus_report(d1m, source_col="source", lang_col="lang")
        assert rep["n_docs"] == 1_000_000, rep["n_docs"]
        return spark.createDataFrame(
            [("n_docs", float(rep["n_docs"])),
             ("total_words", float(rep["total_words"]))],
            "metric string, value double",
        )

    bm25_build_sec: list = []
    bm25_index_frames: list = []
    bm25_maint: dict = {}

    def bm25_1m():
        # R9 (VERDICT r8 #7): the BM25 index-only contract MEASURED,
        # not argued (retrieval.py:47-56) — build postings + corpus
        # stats over 1M salad docs once (build_sec: one explode + one
        # groupBy + a 2-scalar agg; production persists this bucketed
        # by term), then answer 8 probe queries purely off the index
        # (search_sec = sec - build_sec, the dd9 split). The salad
        # vocabulary is adversarial: ~45 distinct terms over ~150M
        # token rows means every query term has a ~3M-row posting
        # list — the worst case for the broadcast-scoring join.
        from etl_zero_spark.operators import retrieval

        d1m = load_table(spark, PROBE_1M_DIR, "documents")
        try:
            t = time.perf_counter()
            # register each frame BEFORE its materializing count: if
            # st.count() (or post.count()) raises, the already-persisted
            # postings frame must be in the cleanup list or it survives
            # into the 1M pipeline probe (R10 advice)
            post = retrieval.bm25_postings(d1m).persist()
            bm25_index_frames.append(post)
            post.count()
            st = retrieval.corpus_stats(d1m).persist()
            bm25_index_frames.append(st)
            st.count()
            bm25_build_sec.append(round(time.perf_counter() - t, 2))
            # R10 (VERDICT r9 #6): the O(delta) maintenance contract
            # at 1M-index scale. extend = the delta's own postings +
            # the 2-scalar stats merge (production APPENDS those rows;
            # counting extend_postings' union would rescan the whole
            # index and report an O(index) number as the incremental
            # cost — the daily_ingest_100k rule). remove IS O(index)
            # by nature (one anti-join over the posting table) and is
            # timed as exactly that. Both run once, first call only
            # (reps would re-time a warm cache); their cost is inside
            # this probe's sec — search_sec subtracts them.
            if not bm25_maint:
                delta = d1m.where(F.col("doc_id") < 1_000).select(
                    (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                    "text",
                )
                t = time.perf_counter()
                retrieval.bm25_postings(delta).count()
                retrieval.merge_stats(
                    st, retrieval.corpus_stats(delta)
                ).collect()
                bm25_maint["extend_sec"] = round(time.perf_counter() - t, 2)
                t = time.perf_counter()
                gone = d1m.select("doc_id").where(F.col("doc_id") < 1_000)
                retrieval.remove_postings(post, gone).count()
                bm25_maint["remove_sec"] = round(time.perf_counter() - t, 2)
            queries = spark.createDataFrame(
                [
                    (i, f"{_VOCAB[i]} {_VOCAB[i + 7]} {_VOCAB[i + 13]}")
                    for i in range(8)
                ],
                "query_id bigint, query_text string",
            )
            return retrieval.bm25_topk(
                None, queries, top_k=10, postings=post, stats=st
            )
        except BaseException:
            # the success path unpersists post-loop (after the harness
            # counts the returned frame); a failure here must not park
            # ~150M persisted posting rows in front of the 1M pipeline
            # probe (the documented dd9 starvation shape, R9 review)
            for frame in bm25_index_frames:
                frame.unpersist()
            raise

    daily_detail: dict = {}

    def daily_ingest_100k():
        # R9 (VERDICT r8 #6): the operational daily-ingest rehearsal —
        # every piece is tested alone; this times the COMPOSITION a
        # production cluster runs per day-delta, end to end. Setup
        # (the cost of already having history, reported separately):
        # snapshot-commit the 100k corpus, build + persist the MinHash
        # index and the BM25 postings/stats, full-build a per-source
        # matview. Then ONE 1k day-delta flows through:
        #   sink_sec     exactly-once streaming snapshot ingest
        #   neardup_sec  incremental near-dup probe vs the index (d9)
        #   index_sec    extend_postings + merge_stats (O(delta))
        #   matview_sec  incremental per-source refresh
        # total_sec is the recurring daily cost at this scale.
        import shutil
        import tempfile

        from etl_zero_spark.operators import retrieval
        from etl_zero_spark.operators.matview import MaterializedAgg
        from etl_zero_spark.sources.snapshots import (
            SnapshotTable,
            snapshot_sink,
        )

        root = tempfile.mkdtemp(prefix="etlzero_daily_probe_")
        frames = []
        try:
            t = time.perf_counter()
            base = SnapshotTable(os.path.join(root, "docs"))
            base.commit(docs)
            idx = dedup.build_minhash_index(docs)
            idx.bands.persist().count()
            idx.shingles.persist().count()
            post = retrieval.bm25_postings(docs).persist()
            post.count()
            st = retrieval.corpus_stats(docs).persist()
            st.count()
            frames += [idx.bands, idx.shingles, post, st]
            mv = MaterializedAgg(
                base,
                SnapshotTable(os.path.join(root, "mv")),
                keys=["source"],
                aggs={"n_chars": ["sum", "count"]},
            )
            mv.refresh(spark)
            daily_detail["setup_sec"] = round(time.perf_counter() - t, 2)

            delta = docs.where(F.col("doc_id") < 1_000).select(
                (F.col("doc_id") + 20_000_000).alias("doc_id"),
                "text", "lang", "source", "n_chars",
            ).persist()
            delta.count()
            frames.append(delta)
            delta_src = os.path.join(root, "delta_src")
            delta.coalesce(4).write.parquet(delta_src)

            t = time.perf_counter()
            stream = spark.readStream.schema(delta.schema).parquet(
                delta_src
            )
            q = snapshot_sink(
                stream, base, "probe_daily_sink",
                os.path.join(root, "ck"),
            )
            q.awaitTermination()
            daily_detail["sink_sec"] = round(time.perf_counter() - t, 2)

            t = time.perf_counter()
            pairs = dedup.incremental_minhash_pairs(
                delta, idx, threshold=0.5
            )
            daily_detail["neardup_pairs"] = pairs.count()
            daily_detail["neardup_sec"] = round(
                time.perf_counter() - t, 2
            )

            t = time.perf_counter()
            # production APPENDS the delta's posting rows to the
            # persisted table and merges stats — time exactly that
            # (counting extend_postings' union would rescan the whole
            # corpus-sized left side and report an O(corpus) number
            # as the incremental cost, R9 review)
            retrieval.bm25_postings(delta).count()
            retrieval.merge_stats(
                st, retrieval.corpus_stats(delta)
            ).collect()
            daily_detail["index_sec"] = round(time.perf_counter() - t, 2)

            t = time.perf_counter()
            r = mv.refresh(spark)
            assert r["mode"] == "incremental", r
            daily_detail["matview_sec"] = round(
                time.perf_counter() - t, 2
            )
            daily_detail["total_sec"] = round(
                daily_detail["sink_sec"] + daily_detail["neardup_sec"]
                + daily_detail["index_sec"] + daily_detail["matview_sec"],
                2,
            )
            assert base.rows() == N_DOCS + 1_000, base.rows()
            return mv.read(spark).localCheckpoint()
        finally:
            for f in frames:
                f.unpersist()
            shutil.rmtree(root, ignore_errors=True)

    def corpus_pipeline_1m():
        # R8 (VERDICT r7 #3): the multi-stage prepare_corpus
        # COMPOSITION at 1M docs — per-stage probes all run at 100k,
        # but stage interactions (the classifier gate feeding dedup,
        # persist/unpersist fork boundaries, stats materialization)
        # only compose here. Stages: classifier gate -> line dedup ->
        # exact dedup -> MinHash near-dedup -> span dedup -> shuffle
        # -> packing, with collect_stats=True so the probe records the
        # per-stage survivor ledger (the ask's done-criterion).
        # The learned gate trains positive on a corpus slice and
        # negative on the same slice CHARACTER-reversed (F.reverse on a
        # string flips chars, which mangles every token — a disjoint
        # vocabulary, so the bag-of-words classifier separates cleanly
        # and corpus docs score high; token-order reversal would keep
        # the same token features and separate nothing) — a negative
        # register drawn from the corpus itself would score everything
        # ~0.5 and the x^-9 tail would gut the corpus, probing an
        # empty pipeline. corpus_report then summarizes the
        # release output (the ask's second half), timed separately.
        from etl_zero_spark.functions.artifacts import corpus_key
        from etl_zero_spark.operators import classifier as qc
        from etl_zero_spark.operators.report import corpus_report
        from etl_zero_spark.plans.corpus_pipeline import prepare_corpus

        d1m = load_table(spark, PROBE_1M_DIR, "documents")
        pos = d1m.where(F.col("doc_id") % 100 == 0).select("doc_id", "text")
        neg = pos.select(
            "doc_id", F.reverse(F.col("text")).alias("text")
        )
        model = qc.cached_quality_classifier(
            pos, neg,
            corpus_key(
                os.path.join(PROBE_1M_DIR, "documents.parquet"),
                pos="mod100", neg="mod100-reversed",
            ),
            max_iter=10,
        )
        res = prepare_corpus(
            d1m,
            quality=False,  # salad text fails published Gopher wholesale
            classifier_model=model,
            line_dedup_min_docs=2,
            near_dedup_threshold=0.5,
            substring_dedup_k=25,
            pack_budget=2048,
            collect_stats=True,
        )
        n = res.df.count()
        t_rep = time.perf_counter()
        rep = corpus_report(res.df, source_col="source", lang_col="lang")
        pipeline_1m_detail.update(
            {
                "stage_survivors": dict(res.stats),
                "stage_secs": dict(res.stage_secs),
                "report_sec": round(time.perf_counter() - t_rep, 2),
                "report_n_docs": rep["n_docs"],
                "report_dup_fraction": rep["exact_dup_fraction"],
            }
        )
        res.unpersist()
        return spark.createDataFrame([(n,)], "rows long")

    pipeline_4m_detail: dict = {}

    def corpus_pipeline_4m():
        # R10 (VERDICT r9 #4): the composed pipeline at 4M docs — the
        # second point of the linearity claim (1M is two orders below
        # the design point's per-executor share). Identical stage
        # shape and thresholds to corpus_pipeline_1m; the in-probe
        # corpus_report is EXCLUDED here (report scaling has its own
        # report_1m row), so compare this row's sec against the 1M
        # row's sec MINUS its report_sec. Single run by design: one
        # rep is ~7x the rep threshold and the budget gate below
        # guards the tail of the probe window.
        from etl_zero_spark.functions.artifacts import corpus_key
        from etl_zero_spark.operators import classifier as qc
        from etl_zero_spark.plans.corpus_pipeline import prepare_corpus

        d4m = load_table(spark, PROBE_4M_DIR, "documents")
        pos = d4m.where(F.col("doc_id") % 100 == 0).select("doc_id", "text")
        neg = pos.select("doc_id", F.reverse(F.col("text")).alias("text"))
        model = qc.cached_quality_classifier(
            pos, neg,
            corpus_key(
                os.path.join(PROBE_4M_DIR, "documents.parquet"),
                pos="mod100", neg="mod100-reversed",
            ),
            max_iter=10,
        )
        # 4x the rows needs 4x the shuffle granularity: at the bench
        # session's 32 partitions the span-dedup gram explode puts
        # ~600MB on every one of 32 concurrent tasks and the 24g
        # local-JVM heap dies ("size shuffle partitions so partitions
        # fit executor memory at the target SF" — this probe IS that
        # sizing rule in action). Restored before returning; the
        # heavy work all executes inside this window (prepare_corpus
        # materializes its stages under collect_stats).
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "128")
        try:
            res = prepare_corpus(
                d4m,
                quality=False,
                classifier_model=model,
                line_dedup_min_docs=2,
                near_dedup_threshold=0.5,
                substring_dedup_k=25,
                pack_budget=2048,
                collect_stats=True,
            )
            n = res.df.count()
            pipeline_4m_detail["stage_survivors"] = dict(res.stats)
            pipeline_4m_detail["stage_secs"] = dict(res.stage_secs)
            res.unpersist()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        return spark.createDataFrame([(n,)], "rows long")

    split_harden_detail: dict = {}
    split_harden_frames: list = []

    def split_harden_1m():
        # R11 (VERDICT r10 #6): the split/harden leakage scan at
        # corpus scale — x_split_harden runs at sf0.1 (~15k docs); the
        # tier's pitch is leakage scanning at 1M. The bm25_1m pattern:
        # index the HELDOUT side once (index_sec — holdouts are
        # percents, so the index is the small side by construction:
        # ~20k docs of 1M at 0.98/0.01/0.01), then probe the ~980k
        # train side through the O(train x bands) incremental path
        # (probe_sec = sec - index_sec) and return the condemned train
        # ids (rows = the drop count). delta_vs_index_only — the r10
        # ADVICE close — is what makes the probe O(train x bands): the
        # train-vs-train block is cut BEFORE candidate rescoring, and
        # this row measures that claim instead of arguing it.
        from etl_zero_spark.operators import corpus as corp

        d1m = load_table(spark, PROBE_1M_DIR, "documents")
        sp = corp.split_corpus(
            d1m, {"train": 0.98, "val": 0.01, "test": 0.01}
        )
        held = sp.where(F.col("split").isin("val", "test")).select(
            "doc_id", "text"
        )
        train = sp.where(~F.col("split").isin("val", "test")).select(
            "doc_id", "text"
        )
        try:
            t = time.perf_counter()
            # the two split counts ride the index window (one codegen
            # scan each); index_sec is therefore "everything before
            # the train probe can start"
            split_harden_detail["n_heldout"] = held.count()
            split_harden_detail["n_train"] = train.count()
            idx = dedup.build_minhash_index(held)
            idx.bands.persist().count()
            idx.shingles.persist().count()
            split_harden_frames.extend([idx.bands, idx.shingles])
            split_harden_detail["index_sec"] = round(
                time.perf_counter() - t, 2
            )
            pairs = dedup.incremental_minhash_pairs(
                train, idx, threshold=0.5, delta_vs_index_only=True
            )
            # the condemned train side of each crossing pair (the ids
            # harden_split would drop) — distinct, heldout never
            # touched. Counted IN HERE so the heavy probe job runs
            # inside this try: a failure at the runner's fn().count()
            # would skip the success-path unpersist and park the
            # persisted index in front of the pipeline probes (review
            # catch — the documented dd2_t05 starvation shape).
            sides = pairs.select(F.col("a_id").alias("doc_id")).unionByName(
                pairs.select(F.col("b_id").alias("doc_id"))
            )
            n_dropped = (
                sides.join(held.select("doc_id"), "doc_id", "left_anti")
                .dropDuplicates()
                .count()
            )
            split_harden_detail["dropped_train_docs"] = n_dropped
            return spark.createDataFrame([(n_dropped,)], "rows long")
        finally:
            for frame in split_harden_frames:
                frame.unpersist()

    contamination_1m_detail: dict = {}

    def contamination_1m():
        # R12 (VERDICT r11 #6): eval-set decontamination at corpus
        # scale — the declared ct1 row runs 100k x 100k via
        # contamination_n5; the tier's pitch is the GPT-3-appendix
        # scan over a full corpus. 10k test docs (the eval set) vs the
        # ~990k remaining train docs at n=8. The raw salad corpus
        # shares no cross-split 8-grams (near-dups are
        # predecessor-adjacent, so both sides of a chain land in the
        # same split), so the probe PLANTS the two contamination modes
        # the cap exists to separate, column-side (no rewrite of the
        # cached corpus):
        #   * BOILERPLATE: one fixed 10-word passage on every 10th
        #     train doc (gram df ~99k) and every 7th test doc — the
        #     ct1 fixture's densities; template noise whose exact
        #     fan-out is ~141M pairs. The cap (max_gram_df=20)
        #     provably drops it. A per-doc unique token separates the
        #     passage from the document so text-tail/boiler junction
        #     grams are doc-unique — on this 40-word vocab, junction
        #     grams whose 3+ leading tail words coincide slip under
        #     the cap and added ~1.4k tail-collision pairs before the
        #     separator (measured; leak junction grams need a K match
        #     so they can only re-find pairs already counted).
        #   * GENUINE leakage: a 10-word passage keyed by doc_id %
        #     4999 on every 101st train / 20th test doc — per-gram
        #     train df ~2, far under the cap, so the capped tier must
        #     still find these 981 true pairs (the exact CRT count:
        #     500 planted test docs x ~1.96 same-key train docs, and a
        #     K-join cross-check in the r12 notes measured 981).
        # Both tiers timed inside one probe: EXACT (max_gram_df=None —
        # every gram joins) vs CAPPED (the hot-gram broadcast
        # anti-join bounding worst-case fan-out at |test_grams| x
        # cap), so the cap's claim carries measured exact_sec /
        # capped_sec / pair counts instead of an argument.
        from etl_zero_spark.operators import corpus as corp

        d1m = load_table(spark, PROBE_1M_DIR, "documents")
        did = F.col("doc_id")
        leak = F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"leak{j}_"), (did % 4999).cast("string"))
                for j in range(10)
            ],
        )
        boiler = " quick brown foxes jump over lazy dogs every single night"

        def plant(df, leak_mod, leak_res, boiler_mod, boiler_res):
            return df.select(
                "doc_id",
                F.concat(
                    F.col("text"),
                    F.when(
                        did % leak_mod == leak_res,
                        F.concat(F.lit(" "), leak),
                    ).otherwise(F.lit("")),
                    F.when(
                        did % boiler_mod == boiler_res,
                        F.concat(
                            F.lit(" uniq"), did.cast("string"),
                            F.lit(boiler),
                        ),
                    ).otherwise(F.lit("")),
                ).alias("text"),
            )

        test = plant(d1m.where(did < 10_000), 20, 3, 7, 1)
        train = plant(d1m.where(did >= 10_000), 101, 5, 10, 0)
        contamination_1m_detail["n_test"] = test.count()
        contamination_1m_detail["n_train"] = train.count()
        t = time.perf_counter()
        n_exact = corp.cross_corpus_contamination(
            train, test, n=8, min_shared=1, max_gram_df=None
        ).count()
        contamination_1m_detail["exact_sec"] = round(
            time.perf_counter() - t, 2
        )
        contamination_1m_detail["exact_pairs"] = n_exact
        t = time.perf_counter()
        n_capped = corp.cross_corpus_contamination(
            train, test, n=8, min_shared=1, max_gram_df=20
        ).count()
        contamination_1m_detail["capped_sec"] = round(
            time.perf_counter() - t, 2
        )
        contamination_1m_detail["capped_pairs"] = n_capped
        return spark.createDataFrame([(n_capped,)], "rows long")

    pipeline_2m_detail: dict = {}

    def corpus_pipeline_2m():
        # R11 (VERDICT r10 #3): the report-excluded MIDPOINT of the
        # pipeline-linearity band. Identical stage shape and
        # thresholds to corpus_pipeline_1m/4m; report excluded like
        # the 4M row, so all three points compare like-for-like
        # (subtract report_sec from the 1M row). 64 shuffle
        # partitions: the same rows-per-partition sizing rule the 4M
        # row pins at 128.
        from etl_zero_spark.functions.artifacts import corpus_key
        from etl_zero_spark.operators import classifier as qc
        from etl_zero_spark.plans.corpus_pipeline import prepare_corpus

        d2m = load_table(spark, PROBE_2M_DIR, "documents")
        pos = d2m.where(F.col("doc_id") % 100 == 0).select("doc_id", "text")
        neg = pos.select("doc_id", F.reverse(F.col("text")).alias("text"))
        model = qc.cached_quality_classifier(
            pos, neg,
            corpus_key(
                os.path.join(PROBE_2M_DIR, "documents.parquet"),
                pos="mod100", neg="mod100-reversed",
            ),
            max_iter=10,
        )
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        try:
            res = prepare_corpus(
                d2m,
                quality=False,
                classifier_model=model,
                line_dedup_min_docs=2,
                near_dedup_threshold=0.5,
                substring_dedup_k=25,
                pack_budget=2048,
                collect_stats=True,
            )
            n = res.df.count()
            pipeline_2m_detail["stage_survivors"] = dict(res.stats)
            pipeline_2m_detail["stage_secs"] = dict(res.stage_secs)
            res.unpersist()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        return spark.createDataFrame([(n,)], "rows long")

    pipeline_8m_detail: dict = {}

    def corpus_pipeline_8m():
        # R14 (VERDICT r13 #5): the band's fourth point. Identical
        # stage shape and thresholds to the 1m/2m/4m rows, report
        # excluded; 256 shuffle partitions extend the same
        # rows-per-partition sizing rule (the 4M row pins 128).
        from etl_zero_spark.functions.artifacts import corpus_key
        from etl_zero_spark.operators import classifier as qc
        from etl_zero_spark.plans.corpus_pipeline import prepare_corpus

        d8m = load_table(spark, PROBE_8M_DIR, "documents")
        pos = d8m.where(F.col("doc_id") % 100 == 0).select("doc_id", "text")
        neg = pos.select("doc_id", F.reverse(F.col("text")).alias("text"))
        model = qc.cached_quality_classifier(
            pos, neg,
            corpus_key(
                os.path.join(PROBE_8M_DIR, "documents.parquet"),
                pos="mod100", neg="mod100-reversed",
            ),
            max_iter=10,
        )
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        try:
            res = prepare_corpus(
                d8m,
                quality=False,
                classifier_model=model,
                line_dedup_min_docs=2,
                near_dedup_threshold=0.5,
                substring_dedup_k=25,
                pack_budget=2048,
                collect_stats=True,
            )
            n = res.df.count()
            pipeline_8m_detail["stage_survivors"] = dict(res.stats)
            pipeline_8m_detail["stage_secs"] = dict(res.stage_secs)
            res.unpersist()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        return spark.createDataFrame([(n,)], "rows long")

    def lm_ppl_100k():
        # R6: CCNet-style quality signal at 100k docs — train the
        # pruned bigram LM on a 20k-doc reference slice (two groupBy
        # aggs), score the full corpus with one Arrow-UDF pass, tercile
        # cuts per language from one percentile_approx sketch.
        from etl_zero_spark.operators import lm as lmod

        model = lmod.train_ngram_lm(docs.where(F.col("doc_id") < 20_000))
        return lmod.ccnet_buckets(lmod.score_perplexity(docs, model)).where(
            F.col("ppl_bucket") == "head"
        )

    def dsir_100k():
        # R6: DSIR importance resampling at 100k — target = one source
        # shard, weights over 10k hashed-n-gram buckets (B-row
        # broadcast), deterministic Gumbel top-10k draw.
        from etl_zero_spark.operators import corpus as corp

        target = docs.where(F.col("source") == "src_0")
        lr = corp.dsir_bucket_logratio(docs, target)
        scored = corp.dsir_scores(docs, lr)
        return corp.dsir_resample(scored, 10_000, seed=1)

    def semdedup_100k():
        # R6: SemDeDup at 100k x 64 — cluster-local near-dup pairs
        # reusing sim4's persisted IVF centroids as the k-means
        # clustering (the operator's designed amortization: one trained
        # index serves both ANN search and semantic dedup). Work is
        # sum-per-cluster GEMM with sub-block caps, never n^2/2.
        from etl_zero_spark.functions.artifacts import cached_artifact
        from etl_zero_spark.operators import similarity as sim

        cents = cached_artifact(
            "ivf_centroids",
            {"corpus": probe_dir, "nlist": 128, "seed": ivf.IVF_SEED,
             "max_iter": 4, "vec_col": "embedding"},
            lambda: ivf.train_ivf_centroids(emb, 128, max_iter=4),
        )
        return sim.semantic_dedup_pairs(emb, cents, threshold=0.9)

    def classifier_100k():
        # R7: GPT-3-style quality LR at 100k docs — train on a 40k
        # split (HashingTF + L-BFGS over treeAggregate passes, capped
        # iters), score + Pareto-filter the full corpus. Single-run
        # (the model persists via the params-keyed store: a rep would
        # measure load+score, a different path).
        from etl_zero_spark.functions.artifacts import corpus_key
        from etl_zero_spark.operators import classifier as qc

        model = qc.cached_quality_classifier(
            docs.where(F.col("doc_id") % 5 == 0),
            docs.where(F.col("doc_id") % 5 == 1),
            corpus_key(os.path.join(probe_dir, "documents.parquet"),
                       pos="mod5=0", neg="mod5=1"),
            max_iter=10,
        )
        return qc.classifier_filter(docs, model)

    def report_100k():
        # R7: datasheet at 100k — one scalar agg pass + two bounded
        # dimension groupBys; returns a 2-row frame so the harness
        # counts something real.
        from etl_zero_spark.operators.report import corpus_report

        rep = corpus_report(docs, source_col="source", lang_col="lang")
        assert rep["n_docs"] == N_DOCS
        return spark.createDataFrame(
            [("n_docs", float(rep["n_docs"])),
             ("total_words", float(rep["total_words"]))],
            "metric string, value double",
        )

    def drift_1m_distinct():
        # R6 (VERDICT r5 #8): drift_report on a ~1M-distinct
        # categorical. The categorical path is top-N + '(other)'
        # bounded (drift.py:103) — the collected category list is
        # capped at top_categories regardless of cardinality, so the
        # only corpus-wide work is the baseline's groupBy/count topN
        # (TakeOrderedAndProject) plus two bounded fraction scans.
        # 2M rows, ~1M distinct values per side, plus a numeric column
        # through the sketch-binned path.
        from etl_zero_spark.operators.drift import drift_report

        n = 2_000_000
        base = spark.range(n).select(
            F.concat(F.lit("u"), F.xxhash64("id") % 1_000_000).alias("cat"),
            (F.col("id") % 97).cast("double").alias("x"),
        )
        cur = spark.range(n).select(
            F.concat(F.lit("u"), F.xxhash64(F.col("id") + 7) % 900_000).alias(
                "cat"
            ),
            ((F.col("id") + 13) % 97).cast("double").alias("x"),
        )
        rep = drift_report(base, cur, columns=["cat", "x"])
        assert {r["column"] for r in rep} == {"cat", "x"}
        return spark.createDataFrame(
            [(r["column"], float(r["psi"])) for r in rep],
            "column string, psi double",
        )

    def pivot_6m():
        # R12: the pv1-declared reshape tier at 6M rows — pivot_values
        # discovery (bounded top-N, one aggregation), pivot_table over
        # (returnflag x linestatus x 2 aggs), unpivot back long. The
        # wide frame is 3 rows; the cost IS the 6M-row hash aggregate,
        # which is exactly what a 100 TB pivot pays per partition.
        from etl_zero_spark.operators.reshape import (
            pivot_table, pivot_values, unpivot,
        )

        li = load_table(spark, probe_dir, "lineitem")
        vals = pivot_values(li, "l_linestatus", max_values=10)
        wide = pivot_table(
            li,
            keys="l_returnflag",
            pivot_col="l_linestatus",
            values=vals,
            agg={"l_quantity": "sum", "l_extendedprice": "avg"},
        )
        measures = [c for c in wide.columns if c != "l_returnflag"]
        return unpivot(
            wide, keys="l_returnflag", value_cols=measures,
            var_name="measure", value_name="value",
        )

    def zorder_6m():
        # Z-order layout at 6M rows: quantile-sketch pass + range-
        # shuffled write, then the pruning claim is ASSERTED from the
        # parquet footers (a 1/64-of-domain predicate on each clustered
        # column must skip files), and the read-back row count proves
        # the rewrite lossless.
        from etl_zero_spark.catalog import Zone
        from etl_zero_spark.operators import layout

        li = load_table(spark, probe_dir, "lineitem")
        zone = Zone(os.path.join(probe_dir, "zone"), "probe")
        layout.write_zordered(
            zone, li, "li_z", ["l_partkey", "l_suppkey"], bits=5, n_files=32
        )
        path = zone.path("li_z")
        # generated keys are xxhash64 % N -> domain (-N, N)
        for col, width in [("l_partkey", 400_000), ("l_suppkey", 20_000)]:
            st = layout.file_prune_stats(path, col, 0, width // 64)
            if st["file_keep_fraction"] > 0.6:
                raise AssertionError(
                    f"z-order failed to prune on {col}: {st}"
                )
        return zone.read(spark, "li_z")

    out: dict = {
        "corpus": {
            "n_docs": N_DOCS,
            "n_vecs": N_VECS,
            "n_lineitem": N_LINEITEM,
            "dim": DIM,
        }
    }
    # Cheap/stable ops first; dd2 (highest wall-time variance on this
    # adversarial corpus) LAST so a budget stop costs the least data.
    for name, fn in [
        ("scan_agg_6m", scan_agg_6m),
        ("packing_b2048", packing),
        ("contamination_n5", contamination),
        ("dd3_t05", dd3),
        ("dd8_t09", dd8),
        ("sim3_k10", sim3),
        ("sim4_nprobe16", sim4),
        ("sim5_pq_nprobe16", sim5_pq),
        ("e3_sessionize_10m", sessionize_10m),
        ("aj1_asof_10m", asof_10m),
        ("rj1_range_10m", range_10m),
        ("st1_stream_tumbling_10m", stream_tumbling_10m),
        ("gopher_100k", gopher_100k),
        ("semdedup_100k_t09", semdedup_100k),
        ("span_dedup_100k_k25", span_dedup_100k),
        ("span_dedup_100k_verify", span_dedup_100k_verify),
        ("line_dedup_100k", line_dedup_100k),
        ("lm_ppl_100k", lm_ppl_100k),
        ("dsir_100k_top10k", dsir_100k),
        ("classifier_100k", classifier_100k),
        ("report_100k", report_100k),
        ("drift_1m_distinct_cat", drift_1m_distinct),
        ("shuffle_100k", shuffle_100k),
        ("pivot_6m", pivot_6m),
        ("zorder_6m", zorder_6m),
        ("bucketed_join_6m", bucketed_join_6m),
        ("scd2_merge_1m", scd2_1m),
        ("matview_refresh_6m", matview_6m),
        ("funnel_10m", funnel_10m),
        ("funnel_hotuser_1m_capped", funnel_hotuser_1m),
        ("cohorts_10m", cohorts_10m),
        ("snapshot_ops_6m", snapshot_6m),
        ("dd9_incremental_1k_delta", dd9_incremental),
        ("daily_ingest_100k", daily_ingest_100k),
        ("dd2_t05", dd2),
        ("report_1m", report_1m),
        ("bm25_1m", bm25_1m),
        ("split_harden_1m", split_harden_1m),
        ("contamination_1m", contamination_1m),
        # LAST and budget-gated: the composed pipelines are the most
        # expensive probes; a budget stop here costs one row, not the
        # whole per-operator tier above. 4M runs after 2M after 1M so
        # a stop keeps the smaller linearity points.
        ("corpus_pipeline_1m", corpus_pipeline_1m),
        ("corpus_pipeline_2m", corpus_pipeline_2m),
        ("corpus_pipeline_4m", corpus_pipeline_4m),
        ("corpus_pipeline_8m", corpus_pipeline_8m),
    ]:
        elapsed = time.perf_counter() - t_start
        if elapsed > budget_s:
            out[name] = {"skipped": f"probe budget {budget_s}s spent"}
            print(f"# probe {name}: {out[name]}", file=sys.stderr)
            continue
        # R15 per-op preflight (VERDICT r14 #1): the budget used to be
        # checked only BETWEEN ops, so one op launched with seconds of
        # budget left could overshoot the driver's whole window. Gate
        # each launch on a conservative next-op estimate and record an
        # honest skip instead of overshooting.
        est = preflight_estimate(name, out)
        if est is not None and elapsed + est > budget_s:
            out[name] = {
                "skipped": (
                    f"preflight: ~{est:.0f}s estimated, "
                    f"{budget_s - elapsed:.0f}s of budget left"
                )
            }
            print(f"# probe {name}: {out[name]}", file=sys.stderr)
            continue
        if name == "corpus_pipeline_8m":
            # R14 disk preflight: the 8M run's in-flight shuffle plus
            # retained stage caches need ~110+ GB of scratch — both
            # r14 attempts on a 78GB-free host died mid-shuffle with
            # "No space left on device" (eager cache release did not
            # save it; the binding constraint is disk, not memory).
            # Record the honest skip instead of wedging the bench.
            import shutil as _sh

            free_gb = _sh.disk_usage(
                os.environ.get("TMPDIR", "/tmp")
            ).free / 1e9
            if free_gb < 110:
                out[name] = {
                    "skipped": (
                        f"disk-bound: needs ~110 GB scratch for the "
                        f"8M shuffle tier, {free_gb:.0f} GB free "
                        f"(two r14 attempts aborted mid-shuffle)"
                    )
                }
                print(f"# probe {name}: {out[name]}", file=sys.stderr)
                continue
        generate_rung = {
            "corpus_pipeline_2m": generate_2m,
            "corpus_pipeline_4m": generate_4m,
            "corpus_pipeline_8m": generate_8m,
        }.get(name)
        if generate_rung is not None:
            generate_rung(spark)
        if name in (
            "report_1m", "bm25_1m", "split_harden_1m",
            "contamination_1m", "corpus_pipeline_1m"
        ):
            # the 1M corpus generates lazily HERE — only once a 1M
            # probe is actually going to run (a small-budget smoke run
            # must not pay the generation and then skip the probe, R8
            # review) — and outside the timed window (marker-cached)
            generate_1m(spark)
        t0 = time.perf_counter()
        try:
            rows = fn().count()
            first = round(time.perf_counter() - t0, 2)
            reps = [first]
            # Median-of-N for pure probes (VERDICT r6 #4): re-run while
            # the probe is slow enough for scheduler noise to matter,
            # the probe has no write/state side effects, and the budget
            # can absorb another rep of the same magnitude.
            while (
                name in _PURE_PROBES
                and first > REP_THRESHOLD_S
                and len(reps) < MAX_REPS
                and time.perf_counter() - t_start + reps[-1] <= budget_s
            ):
                t1 = time.perf_counter()
                fn().count()
                reps.append(round(time.perf_counter() - t1, 2))
            out[name] = {
                "sec": round(statistics.median(reps), 2),
                "rows": rows,
                "reps": len(reps),
            }
            if len(reps) > 1:
                out[name]["sec_reps"] = reps
            if name == "dd9_incremental_1k_delta" and dd9_build_sec:
                out[name]["build_sec"] = dd9_build_sec[0]
                out[name]["probe_sec"] = round(
                    out[name]["sec"] - dd9_build_sec[0], 2
                )
                # release the persisted index: leaving ~350MB of
                # storage resident starves execution memory for the
                # shuffle-heavy probes that follow (observed 5x on
                # dd2_t05 before this unpersist)
                for frame in dd9_index_frames:
                    frame.unpersist()
            if name == "sim4_nprobe16" and sim4_train_sec:
                out[name]["train_sec"] = sim4_train_sec[0]
                out[name]["search_sec"] = round(
                    out[name]["sec"] - sim4_train_sec[0], 2
                )
            if name == "sim5_pq_nprobe16" and pq_train_sec:
                out[name]["train_sec"] = pq_train_sec[0]
                out[name]["search_sec"] = round(
                    out[name]["sec"] - pq_train_sec[0], 2
                )
            if name == "matview_refresh_6m" and len(matview_full_sec) == 2:
                out[name]["full_build_sec"] = matview_full_sec[0]
                out[name]["incremental_sec"] = matview_full_sec[1]
            if name == "snapshot_ops_6m" and snap_detail:
                out[name].update(snap_detail)
            if name == "bm25_1m" and bm25_build_sec:
                out[name]["build_sec"] = bm25_build_sec[0]
                out[name].update(bm25_maint)  # extend/remove at 1M (R10)
                out[name]["search_sec"] = round(
                    out[name]["sec"] - bm25_build_sec[0]
                    - bm25_maint.get("extend_sec", 0)
                    - bm25_maint.get("remove_sec", 0),
                    2,
                )
                for frame in bm25_index_frames:
                    frame.unpersist()
            if name == "daily_ingest_100k" and daily_detail:
                out[name].update(daily_detail)
            if name == "split_harden_1m" and split_harden_detail:
                out[name].update(split_harden_detail)
                if "index_sec" in split_harden_detail:
                    out[name]["probe_sec"] = round(
                        out[name]["sec"] - split_harden_detail["index_sec"], 2
                    )
            if name == "contamination_1m" and contamination_1m_detail:
                out[name].update(contamination_1m_detail)
            if name == "corpus_pipeline_1m" and pipeline_1m_detail:
                out[name].update(pipeline_1m_detail)
                out[name]["rows"] = pipeline_1m_detail.get(
                    "report_n_docs", rows
                )
            if name == "corpus_pipeline_2m" and pipeline_2m_detail:
                out[name].update(pipeline_2m_detail)
                out[name]["rows"] = pipeline_2m_detail.get(
                    "stage_survivors", {}
                ).get("packed", rows)
                out[name]["sec_per_mdocs"] = round(out[name]["sec"] / 2.0, 2)
            if name == "corpus_pipeline_4m" and pipeline_4m_detail:
                out[name].update(pipeline_4m_detail)
                # the fn returns a 1-row count frame; report the real
                # surviving-document count like the 1M row does (R10
                # review: rows:1 next to rows:~1M misleads exactly the
                # 4x comparison this row exists for)
                out[name]["rows"] = pipeline_4m_detail.get(
                    "stage_survivors", {}
                ).get("packed", rows)
                # sec/M-docs unconditionally (it depends only on this
                # row — review catch: keying it on the 1M row turned a
                # completed 4M probe into a KeyError err row whenever
                # the 1M row had failed); the 1M comparison point only
                # when that row exists (1M's sec includes its in-probe
                # report; subtract for like-for-like)
                out[name]["sec_per_mdocs"] = round(out[name]["sec"] / 4.0, 2)
                p1 = out.get("corpus_pipeline_1m", {})
                if isinstance(p1.get("sec"), (int, float)):
                    out[name]["sec_per_mdocs_1m_row"] = round(
                        p1["sec"] - p1.get("report_sec", 0), 2
                    )
                # R11 (VERDICT r10 #3): the linearity BAND — all
                # same-mode (report-excluded, single-rep) per-M-docs
                # points in one place, so the claim reads off a band,
                # not a point-vs-bimodal-median comparison
                band = {}
                bp1 = _band_point_1m(p1)
                if bp1 is not None:
                    band["1m"] = bp1
                p2 = out.get("corpus_pipeline_2m", {})
                if isinstance(p2.get("sec_per_mdocs"), (int, float)):
                    band["2m"] = p2["sec_per_mdocs"]
                band["4m"] = out[name]["sec_per_mdocs"]
                out[name]["sec_per_mdocs_band"] = band
            if name == "corpus_pipeline_8m" and pipeline_8m_detail:
                out[name].update(pipeline_8m_detail)
                out[name]["rows"] = pipeline_8m_detail.get(
                    "stage_survivors", {}
                ).get("packed", rows)
                out[name]["sec_per_mdocs"] = round(out[name]["sec"] / 8.0, 2)
                # the full four-point band on the newest row (R14):
                # each smaller point copied when its row completed
                band8 = {}
                bp1 = _band_point_1m(out.get("corpus_pipeline_1m", {}))
                if bp1 is not None:
                    band8["1m"] = bp1
                for key, nm in (
                    ("2m", "corpus_pipeline_2m"),
                    ("4m", "corpus_pipeline_4m"),
                ):
                    pn = out.get(nm, {})
                    if isinstance(pn.get("sec_per_mdocs"), (int, float)):
                        band8[key] = pn["sec_per_mdocs"]
                band8["8m"] = out[name]["sec_per_mdocs"]
                out[name]["sec_per_mdocs_band"] = band8
        except Exception as exc:  # noqa: BLE001 — probe must not kill bench
            out[name] = {"err": f"{type(exc).__name__}: {exc}"[:300]}
        print(f"# probe {name}: {out[name]}", file=sys.stderr)
    return out


def main() -> None:
    import json
    import shutil

    from etl_zero_spark.session import get_spark

    if "--regen" in sys.argv:
        shutil.rmtree(PROBE_DIR, ignore_errors=True)
    spark = get_spark(app_name="etlzero-scale-probe", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark)
    print(json.dumps(run_probe(spark), indent=2))


if __name__ == "__main__":
    main()
