"""Seeded input generator for the benchmark workloads.

Produces the ten tables the engine's queries read (the TPC-H-ish star
schema, ``events``, ``documents`` and ``embeddings``) with the column
names, types and value domains of the engine's reference test data.
The seed is the only source of randomness: the same ``(seed, sizes)``
gives byte-identical tables. The program under test only ever sees the
written parquet files.

Two input properties are set on purpose:

- ``dup_share``: a fixed share of documents and embeddings is re-appended
  under new ids as perturbed near-duplicates (one word changed or
  appended; small vector noise). Dedup cost depends on this share.
- ``make_tables`` writes fact-table rows in a seeded random order, so no
  query can lean on the generator's id order.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "shiny", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "valve", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table "
    "the value vector window fast"
).split()
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
EMB_DIM = 64
EMB_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated dataset. ``sf`` scales the relational
    tables (sf=1 ~ 6M lineitem rows); documents and embeddings are given
    explicitly because their cost grows faster than linearly in some
    operators."""

    sf: float = 0.1
    documents: int = 5_000
    embeddings: int = 2_000

    def n(self, per_sf1: int) -> int:
        return max(1, int(round(per_sf1 * self.sf)))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def _perturb_text(rng: np.random.Generator, text: str) -> str:
    words = text.split()
    if rng.random() < 0.5:
        return text + " dup"
    words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(words)


def _unit(v: np.ndarray) -> np.ndarray:
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` unit vectors around ``EMB_LABELS`` seeded centres, with labels."""
    centres = rng.standard_normal((EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n).astype(np.int32)
    vecs = centres[labels] * 0.35 + rng.standard_normal((n, EMB_DIM))
    return _unit(vecs), labels


def documents_table(rng: np.random.Generator, n: int, dup_share: float = 0.0) -> pa.Table:
    """``n`` documents of random words, plus ``dup_share * n`` perturbed
    near-duplicates of seeded picks appended under new ids."""
    texts = _texts(rng, n)
    for src in rng.choice(n, int(round(n * dup_share)), replace=False):
        texts.append(_perturb_text(rng, texts[src]))
    n_all = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n_all), type=pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_all, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_all)],
        "n_chars": pa.array([len(x) for x in texts], type=pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int, dup_share: float = 0.0) -> pa.Table:
    """``n`` labelled unit vectors, plus ``dup_share * n`` noisy copies of
    seeded picks appended under new ids."""
    vecs, labels = embeddings(rng, n)
    n_dup = int(round(n * dup_share))
    if n_dup:
        src = rng.choice(n, n_dup, replace=False)
        noisy = vecs[src] + 0.01 * rng.standard_normal((n_dup, EMB_DIM))
        vecs = np.vstack([vecs, _unit(noisy)])
        labels = np.concatenate([labels, labels[src]])
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs)), type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, type=pa.int32()),
    })


def make_tables(seed: int, sizes: Sizes, dup_share: float) -> dict[str, pa.Table]:
    """All ten tables for one seed, as Arrow tables, fact rows in seeded
    order."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = sizes.n(150_000), sizes.n(10_000), sizes.n(200_000)
    n_ord, n_li, n_ev = sizes.n(1_500_000), sizes.n(6_000_000), sizes.n(1_000_000)
    n_users = sizes.n(15_000)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, type=pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, n_li) * _DAY_US),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": _ts(_EPOCH_2024_US + ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), type=pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    t["documents"] = documents_table(rng, sizes.documents, dup_share)
    t["embeddings"] = embeddings_table(rng, sizes.embeddings, dup_share)

    for name in ("lineitem", "orders", "events", "documents", "embeddings"):
        t[name] = t[name].take(rng.permutation(t[name].num_rows))
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write each table as ``<out_dir>/<name>.parquet``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tab in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        total += os.path.getsize(path)
    return total
