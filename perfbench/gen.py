"""Seeded input generator for the benchmark.

Writes the ten analytics tables the registered queries read
(``documents``, ``embeddings``, ``events`` and the TPC-H-shaped
relational set) with the same column names and parquet physical types as
the stock sf* testdata. Every value comes from one ``numpy`` generator
seeded by ``--seed``, so the same seed and scale give byte-identical
files and another seed gives other rows under the same schema.

Files are written with many row groups (``N_ROW_GROUPS`` per table):
a single-row-group parquet file cannot be split, so every scan would
run on one core however many the session has.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row groups per table, so scans split across the session's cores.
N_ROW_GROUPS = 16

#: The stock corpus vocabulary: word-salad documents over these words.
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
ORDER_STATUS = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DIM = 64
DAY_US = 86_400_000_000
#: 1995-01-01 and 2024-01-01 as µs since the epoch.
EPOCH_1995_US = 788_918_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


@dataclass(frozen=True)
class Scale:
    """Row counts and duplicate planting for one generated corpus."""

    docs: int = 5_000
    vectors: int = 2_000
    events: int = 100_000
    orders: int = 150_000
    lineitem: int = 600_000
    customers: int = 15_000
    parts: int = 20_000
    suppliers: int = 1_000
    #: fraction of docs that are another doc's text plus " dup"
    near_dup_frac: float = 0.05
    #: fraction of docs (among those with a vector) that copy another
    #: doc's text AND its embedding exactly
    exact_dup_frac: float = 0.003
    #: extra vocabulary of distinct rare words mixed into the text, so
    #: chunk-level repetition filters keep part of each document
    rare_words: int = 0
    rare_frac: float = 0.0
    #: tables to write; the others are skipped
    tables: tuple[str, ...] = TABLES


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    rg = max(1, -(-table.num_rows // N_ROW_GROUPS))
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=rg
    )


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _letters(i: int) -> str:
    """A distinct all-letter word per id: digits would make the cleaning
    stage drop the chunk as numeric."""
    out = "x"
    while True:
        i, r = divmod(int(i), 26)
        out += chr(97 + r)
        if not i:
            return out


def _texts(rng: np.random.Generator, sc: Scale) -> list[str]:
    n = sc.docs
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS, dtype=object)
    flat = words[rng.integers(0, len(words), int(lengths.sum()))]
    if sc.rare_words:
        rare = rng.random(len(flat)) < sc.rare_frac
        ids = rng.integers(0, sc.rare_words, int(rare.sum()))
        flat[rare] = [_letters(i) for i in ids]
    ends = np.cumsum(lengths)
    texts = [" ".join(flat[e - k:e]) for e, k in zip(ends, lengths)]
    # near duplicates: another doc's text with one extra word
    near = rng.choice(n, int(n * sc.near_dup_frac), replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def _exact_dups(rng: np.random.Generator, sc: Scale) -> np.ndarray:
    """(copy, source) doc-id pairs among the docs that have a vector;
    each copy takes its source's text and embedding verbatim."""
    pool = min(sc.docs, sc.vectors)
    k = int(sc.docs * sc.exact_dup_frac)
    ids = rng.choice(pool, 2 * k, replace=False)
    return ids.reshape(2, k).T


def documents_and_embeddings(rng: np.random.Generator, sc: Scale):
    texts = _texts(rng, sc)
    # embeddings: 10 weak clusters on the unit sphere, float32
    centers = rng.standard_normal((10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, sc.vectors).astype(np.int32)
    vecs = rng.standard_normal((sc.vectors, DIM)) + 0.6 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    for copy, src in _exact_dups(rng, sc):
        texts[copy] = texts[src]
        vecs[copy] = vecs[src]
        labels[copy] = labels[src]
    docs = pa.table({
        "doc_id": pa.array(np.arange(sc.docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(
            [LANGS[i] for i in rng.integers(0, len(LANGS), sc.docs)],
            pa.string(),
        ),
        "source": pa.array(
            [f"src{i}" for i in rng.integers(0, 20, sc.docs)], pa.string()
        ),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = pa.table({
        "vec_id": pa.array(np.arange(sc.vectors), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (sc.vectors + 1) * DIM, DIM, np.int32)),
            pa.array(vecs.reshape(-1)),
        ),
        "label": pa.array(labels, pa.int32()),
    })
    return docs, emb


def events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n)], pa.string()
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
        ),
    })


def relational(rng: np.random.Generator, sc: Scale) -> dict[str, pa.Table]:
    def pick(values, n):
        return pa.array([values[i] for i in rng.integers(0, len(values), n)],
                        pa.string())

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
    }
    nc, ns, npt, no, nl = (sc.customers, sc.suppliers, sc.parts, sc.orders,
                           sc.lineitem)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pick(SEGMENTS, nc),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npt), pa.int64()),
        "p_name": pick(names, npt),
        "p_brand": pa.array(
            [f"Brand#{i}" for i in rng.integers(1, 26, npt)], pa.string()
        ),
        "p_type": pick(PART_TYPES, npt),
        "p_size": pa.array(rng.integers(1, 51, npt), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npt) % 1000) / 10.0, 1)
        ),
    })
    order_day = rng.integers(0, 2404, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pick(ORDER_STATUS, no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(EPOCH_1995_US + order_day * DAY_US),
        "o_orderpriority": pick(PRIORITIES, no),
    })
    okey = rng.integers(0, no, nl)
    ship_day = order_day[okey] + rng.integers(1, 122, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npt, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pick(("N", "R", "A"), nl),
        "l_linestatus": pick(("F", "O"), nl),
        "l_shipdate": _ts(EPOCH_1995_US + ship_day * DAY_US),
    })
    return out


def generate(out_dir: str, seed: int, sc: Scale) -> dict[str, int]:
    """Write ``sc.tables`` under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    # one independent stream per table family, so adding a table or
    # changing one family's size leaves the others' rows unchanged
    docs_rng, ev_rng, rel_rng = (
        np.random.default_rng(s)
        for s in np.random.SeedSequence(seed).spawn(3)
    )
    tables: dict[str, pa.Table] = {}
    if {"documents", "embeddings"} & set(sc.tables):
        tables["documents"], tables["embeddings"] = (
            documents_and_embeddings(docs_rng, sc)
        )
    if "events" in sc.tables:
        tables["events"] = events(ev_rng, sc.events)
    if {"region", "nation", "customer", "supplier", "part", "orders",
            "lineitem"} & set(sc.tables):
        tables.update(relational(rel_rng, sc))
    rows = {}
    for name in sc.tables:
        _write(tables[name], out_dir, name)
        rows[name] = tables[name].num_rows
    return rows
