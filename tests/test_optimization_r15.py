"""R15 optimization-round seams: the _fanin reliable-checkpoint knob,
catalog byte parsing / table sizing, the leakage_pairs broadcast gate,
and result-identity of the restructured similarity/dedup fast paths.
"""

import os

import pytest
from pyspark.sql import functions as F

from etl_zero_spark.catalog import _parse_byte_conf, _table_bytes, load_table


def test_parse_byte_conf_suffixes():
    assert _parse_byte_conf("134217728", 1) == 134217728
    assert _parse_byte_conf("134217728b", 1) == 134217728
    assert _parse_byte_conf("128m", 1) == 128 * 1024 * 1024
    assert _parse_byte_conf("64MB", 1) == 64 * 1024 * 1024
    assert _parse_byte_conf("1g", 1) == 1024**3
    assert _parse_byte_conf("512k", 1) == 512 * 1024
    assert _parse_byte_conf("garbage", 7) == 7
    assert _parse_byte_conf("", 7) == 7
    # every JavaUtils.byteStringAs unit, bare and with a trailing 'b'
    for i, unit in enumerate("kmgtp", start=1):
        for suffix in (unit, unit + "b", unit.upper() + "B"):
            assert _parse_byte_conf(f"3{suffix}", 7) == 3 * 1024**i, suffix


def test_table_bytes_parquet_only_and_nested(tmp_path):
    d = tmp_path / "tbl.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 100)
    (d / "_SUCCESS").write_bytes(b"")
    (d / "part-0.parquet.crc").write_bytes(b"y" * 50)
    assert _table_bytes(str(d)) == 100
    # a partitioned (nested) layout is size-unknown, not ~0 bytes
    (d / "lang=en").mkdir()
    assert _table_bytes(str(d)) is None


def test_fanin_reliable_checkpoint(spark, tmp_path):
    from etl_zero_spark.plans.northstar import _fanin

    ckpt_dir = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt_dir))

    def n_ckpt_files():
        return sum(1 for p in ckpt_dir.rglob("*") if p.is_file())

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = _fanin(df, reliable=True)
    n_after_reliable = n_ckpt_files()
    assert n_after_reliable > 0  # blocks landed in the reliable store
    assert sorted(r.v for r in out.collect()) == sorted(
        r.v for r in df.collect()
    )
    # default stays the executor-local checkpoint: no new store files
    out_local = _fanin(df)
    assert sorted(r.v for r in out_local.collect()) == sorted(
        r.v for r in df.collect()
    )
    assert n_ckpt_files() == n_after_reliable
    # env opt-in flips the default to the reliable store
    os.environ["SPARK_GRAFT_RELIABLE_FANIN"] = "1"
    try:
        out_env = _fanin(df)
        assert n_ckpt_files() > n_after_reliable
        assert out_env.count() == 100
    finally:
        del os.environ["SPARK_GRAFT_RELIABLE_FANIN"]


def test_leakage_pairs_broadcast_gate_result_identity(spark, sf_dir):
    from etl_zero_spark.operators.corpus import (
        _plan_size_estimate,
        leakage_pairs,
        split_corpus,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.where(F.col("doc_id") % 11 == 2).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    full = split_corpus(
        docs.unionByName(twins), {"train": 0.8, "val": 0.2}, seed=3
    )
    train = full.where(F.col("split") == "train")
    held = full.where(F.col("split") == "val")
    est = _plan_size_estimate(held)
    assert est is None or est > 0
    rows = {}
    for mode in (True, False, None):
        got = leakage_pairs(
            train, held, threshold=0.5, broadcast_index=mode
        ).collect()
        rows[mode] = sorted((r.a_id, r.b_id) for r in got)
    assert rows[True] == rows[False] == rows[None]
    assert rows[True]  # planted twins must actually leak


def test_leakage_pairs_shingles_df_identity(spark, sf_dir):
    from etl_zero_spark.operators import dedup
    from etl_zero_spark.operators.corpus import leakage_pairs, split_corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    full = split_corpus(docs, {"train": 0.9, "val": 0.1}, seed=5)
    train = full.where(F.col("split") == "train")
    held = full.where(F.col("split") == "val")

    def sh(side):
        return side.select(
            F.col("doc_id").alias("id"),
            dedup.shingles_expr(F.col("text"), 3).alias("shingles"),
        )

    base = leakage_pairs(train, held, threshold=0.5)
    via = leakage_pairs(
        train, held, threshold=0.5,
        train_shingles_df=sh(train), heldout_shingles_df=sh(held),
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, via.collect())
    )


def test_lsh_partitioned_topk_degenerate_matches_udf_path(spark, sf_dir):
    """The n_planes=0 literal-bucket bypass must be bit-identical to the
    general UDF path at the same geometry (both are the exact top-k)."""
    from etl_zero_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    fast = similarity.lsh_partitioned_topk(q, emb, k=5, n_planes=0, n_tables=1)
    exact = similarity.brute_force_topk(q, emb, k=5)
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_lsh_bucketed_topk_collected_and_partitions_identity(spark, sf_dir):
    from etl_zero_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    base = similarity.lsh_bucketed_topk(q, emb, k=5)
    mat = similarity.collect_normalized_matrix(emb)
    tuned = similarity.lsh_bucketed_topk(
        q, emb, k=5, collected=mat, query_partitions=2
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, tuned.collect())
    )


def test_ngram_jaccard_pairs_shingles_df_identity(spark, sf_dir):
    from etl_zero_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = dedup.ngram_jaccard_pairs(
        docs, threshold=0.3, stop_shingles=[], prefix_filter=False
    )
    sh = docs.select(
        F.col("doc_id").alias("id"),
        dedup.shingles_expr(F.col("text"), 3).alias("shingles"),
    )
    via = dedup.ngram_jaccard_pairs(
        docs, threshold=0.3, stop_shingles=[], prefix_filter=False,
        shingles_df=sh,
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, via.collect())
    )


def test_build_minhash_index_shingles_df_identity(spark, sf_dir):
    from etl_zero_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = docs.select(
        F.col("doc_id").alias("id"),
        dedup.shingles_expr(F.col("text"), 3).alias("shingles"),
    )
    base = dedup.build_minhash_index(docs)
    via = dedup.build_minhash_index(docs, shingles_df=sh)
    assert sorted(map(tuple, base.bands.collect())) == sorted(
        map(tuple, via.bands.collect())
    )
