"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed and its stated sizes:
the same seed gives byte-identical parquet files, another seed gives
different ones. The program under test only ever sees the files these
functions write.

* ``star_schema`` — a TPC-H-like star schema (the repo's fixture
  layout: region, nation, customer, supplier, part, orders, lineitem)
  with stated shares of padded strings, null cells, duplicate rows and
  out-of-range quantities. ``write_etl_sources`` splits it into a base
  plus key-range deltas and writes one cumulative source directory per
  ETL cycle.
* ``query_pool`` / ``draw_queries`` — the query page's fixed pool of
  natural-language and SQL templates with their parameters, and the
  seeded draw with a stated share of exact repeats.
* ``corpus`` — a synthetic document corpus with planted exact-duplicate
  groups, near-duplicates and copies of a held-out eval sample.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["red", "blue", "small", "large", "steel", "brass", "ring", "widget", "bolt", "gear"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUSES = ["F", "O"]
EPOCH_US = 694224000 * 1_000_000  # 1992-01-01T00:00:00
DAY_US = 86400 * 1_000_000


@dataclass(frozen=True)
class StarSizes:
    """Row counts and dirt shares of one generated star schema."""

    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    orders: int = 15000
    max_lines_per_order: int = 7
    pad_share: float = 0.05  # string cells wrapped in spaces
    null_share: float = 0.02  # non-key cells set to null
    dup_share: float = 0.01  # rows repeated verbatim
    bad_quantity_share: float = 0.005  # l_quantity outside [1, 50]


@dataclass(frozen=True)
class EtlSizes:
    star: StarSizes = StarSizes()
    base_share: float = 0.4  # share of customer/order keys in the full load
    deltas: int = 12  # key-range deltas, one per incremental cycle


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _dirty(rng: np.random.Generator, table: pa.Table, sizes: StarSizes,
           keys: tuple[str, ...]) -> pa.Table:
    """Pad a share of string cells, null a share of non-key cells and
    repeat a share of rows; keys stay intact so key ranges still split."""
    n = table.num_rows
    cols = []
    for name in table.column_names:
        col = table.column(name).combine_chunks()
        if name not in keys:
            if pa.types.is_string(col.type) and sizes.pad_share > 0:
                pad = rng.random(n) < sizes.pad_share
                vals = col.to_pylist()
                col = pa.array([f"  {v} " if p and v is not None else v
                                for v, p in zip(vals, pad)], type=col.type)
            if sizes.null_share > 0:
                mask = rng.random(n) < sizes.null_share
                col = pc.if_else(pa.array(mask), pa.nulls(n, col.type), col)
        cols.append(col)
    out = pa.table(cols, names=table.column_names)
    if sizes.dup_share > 0 and n:
        dups = np.flatnonzero(rng.random(n) < sizes.dup_share)
        if len(dups):
            # each duplicate sits right after its original, so it stays in
            # the original's key range
            order = np.sort(np.concatenate([np.arange(n), dups]), kind="stable")
            out = out.take(pa.array(order))
    return out


def star_schema(seed: int, sizes: StarSizes) -> dict[str, pa.Table]:
    """One seeded star schema, keys dense from 0 and sorted ascending."""
    rng = np.random.default_rng([seed, 1])
    s = sizes
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(s.customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.customers), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, s.customers)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(s.suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.suppliers), 2),
    })
    w = rng.integers(0, len(PART_WORDS), (s.parts, 2))
    part = pa.table({
        "p_partkey": pa.array(np.arange(s.parts), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, s.parts)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), s.parts)],
        "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
        "p_retailprice": np.round(900 + rng.uniform(0, 1100, s.parts), 2),
    })
    # distinct totalprices (permutation spacing 3.17 > jitter) so a
    # top-N by price has no ties at its boundary
    price = 1000.0 + rng.permutation(s.orders) * 3.17 + rng.integers(0, 300, s.orders) / 100
    # an order only references customers that exist by the same
    # key-range split point, so every delta is FK-consistent
    custkey = rng.random(s.orders) * (np.arange(s.orders) + 1) / s.orders * s.customers
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(s.orders), pa.int64()),
        "o_custkey": pa.array(custkey.astype("int64"), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, s.orders)],
        "o_totalprice": np.round(price, 2),
        "o_orderdate": _ts(EPOCH_US + rng.integers(0, 7 * 365, s.orders) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, s.orders)],
    })
    lines = rng.integers(1, s.max_lines_per_order + 1, s.orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(s.orders), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype("float64")
    bad = rng.random(n_li) < s.bad_quantity_share
    qty[bad] = rng.choice([-5.0, 0.0, 75.0, 999.0], int(bad.sum()))
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s.parts, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s.suppliers, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [RETURN_FLAGS[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [LINE_STATUSES[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(
            EPOCH_US + (rng.integers(0, 7 * 365, n_li) + rng.integers(1, 122, n_li)) * DAY_US),
    })
    tables = dict(region=region, nation=nation, customer=customer,
                  supplier=supplier, part=part, orders=orders, lineitem=lineitem)
    keys = {
        "region": ("r_regionkey",), "nation": ("n_nationkey", "n_regionkey"),
        "customer": ("c_custkey", "c_nationkey"), "supplier": ("s_suppkey", "s_nationkey"),
        "part": ("p_partkey",), "orders": ("o_orderkey", "o_custkey"),
        "lineitem": ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"),
    }
    for name in ("customer", "supplier", "part", "orders", "lineitem"):
        tables[name] = _dirty(rng, tables[name], s, keys[name])
    return tables


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_star(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))


#: Incremental tables of the ETL spec and their watermark keys.
INCREMENTAL_KEYS = {"customer": "c_custkey", "orders": "o_orderkey", "lineitem": "l_orderkey"}


def split_points(sizes: EtlSizes) -> dict[str, list[int]]:
    """Per incremental table, the exclusive key bound of the base and of
    every cumulative delta (last bound = all keys)."""
    s = sizes.star
    out = {}
    for table, n in (("customer", s.customers), ("orders", s.orders), ("lineitem", s.orders)):
        base = int(n * sizes.base_share)
        step = (n - base) / sizes.deltas
        out[table] = [base + round(step * i) for i in range(sizes.deltas + 1)]
    return out


def write_etl_sources(seed: int, sizes: EtlSizes, out_dir: str) -> list[dict]:
    """Write ``cycle_0`` (the base) .. ``cycle_<deltas>`` (base plus the
    first N deltas) as cumulative source directories, the way an
    upstream database grows between nightly runs. Returns, per cycle,
    the source directory and the expected raw-zone row count of every
    extracted table after that cycle."""
    tables = star_schema(seed, sizes.star)
    bounds = split_points(sizes)
    cycles = []
    for c in range(sizes.deltas + 1):
        cdir = os.path.join(out_dir, f"cycle_{c}")
        os.makedirs(cdir, exist_ok=True)
        expected = {}
        for name, t in tables.items():
            if name in INCREMENTAL_KEYS:
                key = t.column(INCREMENTAL_KEYS[name]).to_numpy()
                t = t.filter(pa.array(key < bounds[name][c]))
            _write(t, os.path.join(cdir, f"{name}.parquet"))
            expected[name] = t.num_rows
        cycles.append({"source_dir": cdir, "raw_rows": expected})
    return cycles


# --------------------------------------------------------------------------
# query page
# --------------------------------------------------------------------------

#: Natural-language templates: (template, parameter name, values, the
#: oracle SQL the answer must match). Each question is one the default
#: rule-based generator answers; the oracle is written independently.
NL_TEMPLATES = [
    ("count orders where orderstatus is {v}", STATUSES,
     "SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = '{v}'"),
    ("average totalprice of orders per {v}", ["orderstatus", "orderpriority"],
     "SELECT o_{v}, AVG(o_totalprice) FROM orders GROUP BY o_{v}"),
    ("top {v} orders by totalprice", [3, 5, 10],
     "SELECT * FROM orders ORDER BY o_totalprice DESC LIMIT {v}"),
    ("max acctbal of customer per {v}", ["mktsegment", "nationkey"],
     "SELECT c_{v}, MAX(c_acctbal) FROM customer GROUP BY c_{v}"),
    ("sum of quantity of lineitem per {v}", ["returnflag", "linestatus"],
     "SELECT l_{v}, SUM(l_quantity) FROM lineitem GROUP BY l_{v}"),
    ("count lineitem where quantity is greater than {v}", [10, 25, 45],
     "SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity > {v}"),
    ("average totalprice of orders per mktsegment", [""],
     "SELECT c_mktsegment, AVG(o_totalprice) FROM orders JOIN customer "
     "ON o_custkey = c_custkey GROUP BY c_mktsegment"),
    ("count customers where mktsegment is {v}", SEGMENTS,
     "SELECT COUNT(*) AS n FROM customer WHERE c_mktsegment = '{v}'"),
]

#: SQL templates: (sql, parameter name, values). Dialect-neutral, so the
#: same text runs on Spark and on the DuckDB oracle.
SQL_TEMPLATES = [
    ("SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue "
     "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
     "JOIN customer ON o_custkey = c_custkey "
     "JOIN nation ON c_nationkey = n_nationkey "
     "WHERE o_orderdate >= DATE '{v}-01-01' AND o_orderdate < DATE '{v}-12-31' "
     "GROUP BY n_name", [1993, 1994, 1995, 1996, 1997]),
    ("SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
     "SUM(l_extendedprice) AS sum_price, AVG(l_discount) AS avg_disc, COUNT(*) AS n "
     "FROM lineitem WHERE l_shipdate <= DATE '{v}-06-30' "
     "GROUP BY l_returnflag, l_linestatus", [1994, 1996, 1998]),
    ("SELECT c_custkey, c_name, SUM(o_totalprice) AS spend FROM customer "
     "JOIN orders ON o_custkey = c_custkey GROUP BY c_custkey, c_name "
     "ORDER BY spend DESC, c_custkey LIMIT {v}", [5, 10, 20]),
    ("SELECT p_brand, COUNT(*) AS n, AVG(p_retailprice) AS avg_price FROM part "
     "WHERE p_size BETWEEN {v} AND {v} + 9 GROUP BY p_brand", [1, 11, 21, 31, 41]),
    ("SELECT EXTRACT(MONTH FROM o_orderdate) AS m, COUNT(*) AS n FROM orders "
     "WHERE o_orderpriority = '{v}' AND o_orderdate >= DATE '1995-01-01' "
     "AND o_orderdate < DATE '1996-01-01' GROUP BY EXTRACT(MONTH FROM o_orderdate)",
     PRIORITIES),
]


@dataclass(frozen=True)
class QuerySizes:
    star: StarSizes = StarSizes(pad_share=0.0, null_share=0.0, dup_share=0.0,
                                bad_quantity_share=0.0)
    nl_share: float = 0.5  # draws that are natural-language questions
    round_size: int = 10  # draws per round of the stratified template mix
    repeat_share: float = 0.3  # draws that repeat an earlier draw exactly
    save_share: float = 0.1  # results also saved to the golden zone
    max_draws: int = 2000  # the closed loop stops earlier, at the time limit


def query_pool() -> list[dict]:
    """Every distinct query of the pool, in a fixed order."""
    pool = []
    for tpl, values, oracle in NL_TEMPLATES:
        for v in values:
            pool.append({"kind": "nl", "template": tpl, "text": tpl.format(v=v),
                         "oracle": oracle.format(v=v)})
    for tpl, values in SQL_TEMPLATES:
        for v in values:
            sql = tpl.format(v=v)
            pool.append({"kind": "sql", "template": tpl, "text": sql, "oracle": sql})
    return pool


def draw_queries(seed: int, sizes: QuerySizes) -> list[dict]:
    """The seeded sequence of query-page operations, in rounds of
    ``round_size`` draws: ``nl_share`` of them natural-language
    templates (a seeded sample), the rest SQL templates, shuffled, each
    with seeded parameters. With ``repeat_share`` a draw instead repeats
    an earlier draw of the same kind exactly. Rounds keep the mix of a
    short run at the stated shares."""
    rng = np.random.default_rng([seed, 2])
    templates: dict[str, dict[str, list[dict]]] = {"nl": {}, "sql": {}}
    for q in query_pool():
        templates[q["kind"]].setdefault(q["template"], []).append(q)
    n_nl = round(sizes.round_size * sizes.nl_share)
    draws: list[dict] = []
    earlier: dict[str, list[dict]] = {"nl": [], "sql": []}
    while len(draws) < sizes.max_draws:
        slots = []
        for kind, n in (("nl", n_nl), ("sql", sizes.round_size - n_nl)):
            names = sorted(templates[kind])
            slots += [(kind, templates[kind][names[j]])
                      for j in rng.permutation(len(names))[:n]]
        for j in rng.permutation(len(slots)):
            kind, params = slots[j]
            if earlier[kind] and rng.random() < sizes.repeat_share:
                q, repeat = earlier[kind][int(rng.integers(0, len(earlier[kind])))], True
            else:
                q, repeat = params[int(rng.integers(0, len(params)))], False
            save = bool(rng.random() < sizes.save_share)
            d = {"kind": kind, "text": q["text"], "oracle": q["oracle"],
                 "repeat": repeat, "save": save}
            earlier[kind].append(d)
            draws.append(d)
    return draws[:sizes.max_draws]


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class CorpusSizes:
    docs: int = 4000  # rows of the generated documents table
    vocab: int = 5000
    min_words: int = 20
    max_words: int = 80
    exact_dup_share: float = 0.05  # docs that copy another doc verbatim
    near_dup_share: float = 0.05  # docs that copy another with a few words changed
    eval_docs: int = 100  # held-out eval sample used for decontamination
    contaminated: int = 20  # eval docs also planted in the corpus


def _doc_text(rng: np.random.Generator, sizes: CorpusSizes, words: list[str],
              probs: np.ndarray) -> list[str]:
    n = int(rng.integers(sizes.min_words, sizes.max_words + 1))
    return [words[r] for r in rng.choice(sizes.vocab, size=n, p=probs)]


def corpus(seed: int, sizes: CorpusSizes) -> tuple[pa.Table, pa.Table, dict]:
    """The documents table, the eval sample and the planted ground truth
    (exact-dup groups, near-dup pairs and contaminated doc ids)."""
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = []
    seen = set()
    while len(words) < sizes.vocab:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(3, 10)))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    # a flattened Zipf head (p ~ 1/(rank + 20)): common words repeat, but
    # unrelated docs share almost no 3-word shingles or 8-grams, so only
    # planted copies pair up in near-dedup and decontamination
    probs = 1.0 / (np.arange(sizes.vocab) + 20.0)
    probs /= probs.sum()
    n = sizes.docs
    n_exact = int(n * sizes.exact_dup_share)
    n_near = int(n * sizes.near_dup_share)
    n_fresh = n - n_exact - n_near - sizes.contaminated
    texts = [_doc_text(rng, sizes, words, probs) for _ in range(n_fresh)]
    evals = [_doc_text(rng, sizes, words, probs) for _ in range(sizes.eval_docs)]
    # plant exact copies of distinct originals (groups of 2-3 docs)
    # originals and near-dup sources are disjoint, so a near copy never
    # pairs with a member of an exact-dup group
    picks = rng.permutation(n_fresh)
    near_src = picks[:n_near]
    originals = rng.choice(picks[n_near:n_near + n_exact], size=n_exact, replace=True)
    planted = []
    for o in originals:
        planted.append(("exact", int(o), list(texts[o])))
    for o in near_src:
        t = list(texts[o])
        for j in rng.choice(len(t), size=max(1, len(t) // 40), replace=False):
            t[j] = words[int(rng.integers(0, sizes.vocab))]
        planted.append(("near", int(o), t))
    for e in rng.choice(sizes.eval_docs, size=sizes.contaminated, replace=False):
        planted.append(("eval", int(e), list(evals[e])))
    all_texts = [("fresh", i, t) for i, t in enumerate(texts)] + planted
    order = rng.permutation(len(all_texts))
    doc_ids = rng.permutation(np.arange(n) * 7 + 3)  # sparse, shuffled ids
    id_of_fresh: dict[int, int] = {}
    rows_text, groups, near_pairs, contaminated = [], {}, [], []
    for pos, idx in enumerate(order):
        kind, src, t = all_texts[idx]
        rows_text.append(" ".join(t))
        if kind == "fresh":
            id_of_fresh[src] = int(doc_ids[pos])
    for pos, idx in enumerate(order):
        kind, src, _ = all_texts[idx]
        did = int(doc_ids[pos])
        if kind == "exact":
            groups.setdefault(id_of_fresh[src], []).append(did)
        elif kind == "near":
            near_pairs.append((id_of_fresh[src], did))
        elif kind == "eval":
            contaminated.append(did)
    exact_groups = sorted(sorted([k] + v) for k, v in groups.items())
    docs = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": rows_text,
        "lang": ["en"] * n,
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in rows_text], pa.int64()),
    })
    eval_tbl = pa.table({
        "doc_id": pa.array(np.arange(sizes.eval_docs) + 10_000_000, pa.int64()),
        "text": [" ".join(t) for t in evals],
    })
    truth = {"exact_groups": exact_groups, "near_pairs": sorted(near_pairs),
             "contaminated": sorted(contaminated)}
    return docs, eval_tbl, truth


def write_corpus(seed: int, sizes: CorpusSizes, out_dir: str) -> dict:
    docs, evals, truth = corpus(seed, sizes)
    os.makedirs(out_dir, exist_ok=True)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(evals, os.path.join(out_dir, "eval.parquet"))
    return truth
