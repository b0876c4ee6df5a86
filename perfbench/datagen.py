"""Seeded input generator for the benchmark.

Every input the engine sees is made here from ``--seed``: the TPC-H-ish
star tables plus ``events`` (same schemas and parquet encoding as the
repository's fixtures, see FIXTURES.md), the ``migrate`` change sets and
doomed keys, the planted-duplicate ``curate`` corpus with its query
vectors, and the ``tpch`` query order.  Same seed, same bytes.  Files are
written only under the directory the caller passes (the benchmark's own
work space inside the checkout).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour"],
    "zh": ["de5", "shi4", "bu4", "le5", "zai4", "you3", "he2", "ren2"],
}
_LANGS = list(_LANG_STOPWORDS)
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The eight star/events tables at scale ``sf`` (sf0.01 ≈ 60k lineitem
    rows, the fixture ratios).  Primary keys are unique, including the
    composite ``(l_orderkey, l_linenumber)``."""
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 20)
    n_evt = max(int(1_000_000 * sf), 20)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })

    # lineitem: 1..7 lines per order, line numbers 1..k (unique composite PK)
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_ln = (np.arange(len(l_ok)) - starts + 1).astype(np.int32)
    n_li = len(l_ok)
    o_date = _EPOCH_1995 + rng.integers(0, 2403, n_ord) * _DAY_US  # to 2001-07-31
    l_part = rng.integers(0, n_part, n_li)
    l_qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_price = _money(l_qty * retail[l_part])
    l_disc = rng.integers(0, 11, n_li) / 100.0
    l_tax = rng.integers(0, 9, n_li) / 100.0
    ship = o_date[l_ok] + rng.integers(1, 122, n_li) * _DAY_US
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_part.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(l_ln, pa.int32()),
        "l_quantity": l_qty,
        "l_extendedprice": l_price,
        "l_discount": l_disc,
        "l_tax": l_tax,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship),
    })
    total = _money(np.bincount(l_ok, weights=l_price * (1 + l_tax) * (1 - l_disc), minlength=n_ord))
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": total,
        "o_orderdate": _ts(o_date),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    evt_us = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    events = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(evt_us),
        "user_id": rng.integers(0, 150, n_evt).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": _money(rng.exponential(40.0, n_evt) + 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write ``{out_dir}/{name}.parquet`` (snappy, one row group — the
    fixture encoding).  Returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total


# -- migrate: change sets and doomed keys ------------------------------------


@dataclass
class ChangeSet:
    """A re-sync source (``changed``) for one table and the exact change
    counts it carries relative to the original table."""

    changed: pa.Table
    inserts: int
    updates: int
    deletes: int


def change_set(
    rng: np.random.Generator, table: pa.Table, key: str, mutate_col: str, share: float,
) -> ChangeSet:
    """Seeded inserts/updates/deletes on ``share`` of the rows each.  Updates
    append ``*`` to the string column ``mutate_col``, a value it never held;
    inserts copy existing rows under fresh keys (``key`` shifted past its
    maximum)."""
    n = table.num_rows
    k = max(int(n * share), 1)
    picks = rng.permutation(n)
    upd, dele, ins = picks[:k], picks[k:2 * k], picks[2 * k:3 * k]
    keep = np.ones(n, dtype=bool)
    keep[dele] = False
    col = table.column(mutate_col).to_pylist()
    for i in upd:
        col[i] = f"{col[i]}*"
    base = table.set_column(table.schema.get_field_index(mutate_col), mutate_col,
                            pa.array(col, table.schema.field(mutate_col).type))
    new_rows = table.take(pa.array(np.sort(ins)))
    shift = int(pc.max(table.column(key)).as_py()) + 1
    new_rows = new_rows.set_column(
        new_rows.schema.get_field_index(key), key,
        pc.add(new_rows.column(key), pa.scalar(shift, table.schema.field(key).type)),
    )
    changed = pa.concat_tables([base.filter(pa.array(keep)), new_rows])
    return ChangeSet(changed, inserts=k, updates=k, deletes=k)


def doomed_keys(rng: np.random.Generator, lineitem: pa.Table, n: int) -> pa.Table:
    """``n`` distinct lineitem primary keys to delete."""
    idx = np.sort(rng.choice(lineitem.num_rows, size=n, replace=False))
    return lineitem.select(["l_orderkey", "l_linenumber"]).take(pa.array(idx))


# -- curate: planted-duplicate documents and query vectors -------------------


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words = set()
    while len(words) < size:
        n = int(rng.integers(2, 4))
        words.add("".join(cons[rng.integers(0, 18)] + vows[rng.integers(0, 5)] for _ in range(n)))
    return sorted(words)


@dataclass
class Corpus:
    """Documents with planted duplicates.  ``exact_of`` / ``near_of`` map a
    planted duplicate's id to the id of the base document it copies."""

    documents: pa.Table
    exact_of: dict[int, int]
    near_of: dict[int, int]


def documents(
    rng: np.random.Generator, n_base: int, exact_share: float = 0.1,
    near_share: float = 0.1, junk_share: float = 0.05, eval_docs: int = 8,
) -> Corpus:
    """Base documents of 40..120 words (language stopwords mixed in), then
    planted exact duplicates (case changes only, so the normalized content
    is identical), near duplicates (one word substituted, 3-gram Jaccard
    ≈ 0.9), short punctuation-heavy junk the quality filter drops, and a
    few ``source='eval'`` documents the decontamination step removes."""
    vocab = _vocab(rng, 400)
    texts, langs, sources = [], [], []
    for _ in range(n_base):
        lang = _LANGS[int(rng.integers(0, 5))]
        n = int(rng.integers(40, 121))
        words = [vocab[j] for j in rng.integers(0, len(vocab), n)]
        stops = _LANG_STOPWORDS[lang]
        for pos in rng.integers(0, n, n // 6):
            words[pos] = stops[int(rng.integers(0, len(stops)))]
        texts.append(" ".join(words))
        langs.append(lang)
        sources.append(f"src{int(rng.integers(0, 20))}")
    exact_of, near_of = {}, {}
    base_ids = rng.permutation(n_base)
    n_exact, n_near = int(n_base * exact_share), int(n_base * near_share)
    for b in base_ids[:n_exact]:
        words = texts[b].split(" ")
        pos = rng.integers(0, len(words), 3)
        for p in pos:
            words[p] = words[p].upper()
        exact_of[len(texts)] = int(b)
        texts.append(" ".join(words))
        langs.append(langs[b])
        sources.append(sources[b])
    for b in base_ids[n_exact:n_exact + n_near]:
        words = texts[b].split(" ")
        p = int(rng.integers(3, len(words) - 3))
        words[p] = vocab[int(rng.integers(0, len(vocab)))] + "x"
        near_of[len(texts)] = int(b)
        texts.append(" ".join(words))
        langs.append(langs[b])
        sources.append(sources[b])
    for _ in range(int(n_base * junk_share)):
        n = int(rng.integers(3, 10))
        texts.append(" ".join(vocab[j] + "!?;" for j in rng.integers(0, len(vocab), n)))
        langs.append("en")
        sources.append("scrape")
    for _ in range(eval_docs):
        n = int(rng.integers(40, 80))
        texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), n)))
        langs.append("en")
        sources.append("eval")
    ids = np.arange(len(texts), dtype=np.int64)
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return Corpus(table, exact_of, near_of)


def embeddings(
    rng: np.random.Generator, n: int, n_queries: int, dim: int = 64, clusters: int = 24,
) -> tuple[pa.Table, pa.Table]:
    """Clustered unit-ish float32 vectors (so IVF lists are meaningful) and a
    query batch drawn near the same centres, ids disjoint from the corpus."""
    centres = rng.normal(0, 1, (clusters, dim))

    def draw(m: int) -> np.ndarray:
        lab = rng.integers(0, clusters, m)
        v = centres[lab] + rng.normal(0, 0.6, (m, dim))
        return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32), lab

    vec, lab = draw(n)
    qvec, qlab = draw(n_queries)
    corpus = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32()),
    })
    queries = pa.table({
        "vec_id": np.arange(n, n + n_queries, dtype=np.int64) + 1_000_000,
        "embedding": pa.array(list(qvec), pa.list_(pa.float32())),
        "label": pa.array(qlab, pa.int32()),
    })
    return corpus, queries


def query_order(rng: np.random.Generator, names: list[str], passes: int) -> list[list[str]]:
    """One seeded permutation of ``names`` per pass."""
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(passes)]
