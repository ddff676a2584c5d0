"""The benchmark's inputs are a function of the seed alone: the same seed
writes byte-identical files, another seed writes different ones.

    python3 -m pytest perfbench/tests -q
"""

import dataclasses
import hashlib
import os

from perfbench import inputs

SMALL_STAR = dataclasses.replace(inputs.StarSizes(), customers=60, suppliers=10,
                                 parts=50, orders=400)
SMALL_ETL = dataclasses.replace(inputs.EtlSizes(), star=SMALL_STAR, deltas=3)
SMALL_CORPUS = dataclasses.replace(inputs.CorpusSizes(), docs=300, eval_docs=20,
                                   contaminated=5)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(seed: int, root: str) -> dict[str, str]:
    inputs.write_etl_sources(seed, SMALL_ETL, os.path.join(root, "etl"))
    inputs.write_star(inputs.star_schema(seed, SMALL_STAR), os.path.join(root, "query"))
    inputs.write_corpus(seed, SMALL_CORPUS, os.path.join(root, "corpus"))
    return _digest(root)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    c = _write_all(8, str(tmp_path / "c"))
    assert a == b
    assert a.keys() == c.keys()
    # every seeded table differs (region and nation are fixed dimensions)
    changed = {k for k in a if a[k] != c[k]}
    assert {k for k in a if not k.endswith(("region.parquet", "nation.parquet"))} <= changed


def test_query_draws_follow_the_seed():
    sizes = dataclasses.replace(inputs.QuerySizes(), max_draws=300)
    a = inputs.draw_queries(3, sizes)
    assert a == inputs.draw_queries(3, sizes)
    assert a != inputs.draw_queries(4, sizes)
    repeats = sum(d["repeat"] for d in a) / len(a)
    assert abs(repeats - sizes.repeat_share) < 0.1
    nl = sum(d["kind"] == "nl" for d in a if not d["repeat"]) / sum(not d["repeat"] for d in a)
    assert abs(nl - sizes.nl_share) < 0.1


def test_etl_cycles_grow_by_key_range(tmp_path):
    cycles = inputs.write_etl_sources(1, SMALL_ETL, str(tmp_path))
    assert len(cycles) == SMALL_ETL.deltas + 1
    for prev, cur in zip(cycles, cycles[1:]):
        for t in inputs.INCREMENTAL_KEYS:
            assert cur["raw_rows"][t] > prev["raw_rows"][t]
        for t in ("region", "nation", "supplier", "part"):
            assert cur["raw_rows"][t] == prev["raw_rows"][t]


def test_corpus_truth_is_consistent():
    docs, evals, truth = inputs.corpus(5, SMALL_CORPUS)
    ids = docs.column("doc_id").to_pylist()
    assert len(ids) == len(set(ids)) == SMALL_CORPUS.docs
    text = dict(zip(ids, docs.column("text").to_pylist()))
    for group in truth["exact_groups"]:
        assert len(group) >= 2 and len({text[i] for i in group}) == 1
    eval_texts = set(evals.column("text").to_pylist())
    assert len(truth["contaminated"]) == SMALL_CORPUS.contaminated
    assert all(text[i] in eval_texts for i in truth["contaminated"])
