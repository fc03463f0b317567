"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from a seed: corpora
(``documents.parquet``), versions of the full table set, and question
batches. The word frequencies, document lengths and language mix
come from ``profile.json`` (see ``derive_profile.py``). The program only
ever receives the paths and question lists this module returns.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_HERE = os.path.dirname(os.path.abspath(__file__))

#: Words no generated document contains: questions mix a few of them in,
#: so some question words never match (keyword path) and hash to
#: buckets no document uses (vector path).
OOV_WORDS = ("premium", "grace", "clause", "policy", "hospital", "waiting")
#: Share of documents that are near-duplicates of an earlier document
#: (an earlier text plus the marker word), as in the reference corpus.
DUP_SHARE = 0.05
DUP_WORD = "dup"


class Profile:
    """Sampling distributions read from ``profile.json``."""

    def __init__(self, path: str = os.path.join(_HERE, "profile.json")):
        with open(path) as f:
            raw = json.load(f)
        words = {w: c for w, c in raw["word_counts"].items() if w != DUP_WORD}
        self.words = np.array(sorted(words))
        p = np.array([words[w] for w in self.words], dtype=float)
        self.word_p = p / p.sum()
        lengths = sorted((int(k), v) for k, v in raw["length_hist"].items())
        self.lengths = np.array([k for k, _ in lengths])
        p = np.array([v for _, v in lengths], dtype=float)
        self.length_p = p / p.sum()
        langs = sorted(raw["lang_counts"].items())
        self.langs = np.array([k for k, _ in langs])
        p = np.array([v for _, v in langs], dtype=float)
        self.lang_p = p / p.sum()


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream...) so adding a draw to
    one input never shifts another."""
    return np.random.default_rng([seed, *stream])


def documents(prof: Profile, rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """``n`` documents with ids ``first_id..first_id+n-1`` in the
    reference ``documents`` schema."""
    lens = rng.choice(prof.lengths, size=n, p=prof.length_p)
    flat = rng.choice(prof.words, size=int(lens.sum()), p=prof.word_p)
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(flat[pos : pos + k]))
        pos += k
    dup = rng.random(n) < DUP_SHARE
    for i in np.flatnonzero(dup):
        if i > 0:
            texts[i] = f"{texts[int(rng.integers(0, i))]} {DUP_WORD}"
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(prof.langs, size=n, p=prof.lang_p), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def questions(prof: Profile, rng: np.random.Generator, n: int, first_id: int = 0) -> list[tuple[int, str]]:
    """``n`` questions of 3-9 words; about one word in eight is outside
    the corpus vocabulary."""
    out = []
    for qid in range(first_id, first_id + n):
        k = int(rng.integers(3, 10))
        ws = [
            str(rng.choice(OOV_WORDS)) if rng.random() < 0.125 else str(rng.choice(prof.words, p=prof.word_p))
            for _ in range(k)
        ]
        out.append((qid, " ".join(ws)))
    return out


def write_table(table: pa.Table, sf_dir: str, name: str) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path


def corpus_dir(prof: Profile, seed: int, stream: int, n_docs: int, sf_dir: str) -> str:
    """Land one corpus version (``documents.parquet`` only) at ``sf_dir``."""
    write_table(documents(prof, rng_for(seed, stream), n_docs), sf_dir, "documents")
    return sf_dir


# ------------------------------------------------------------ full table set

#: Row counts per unit of scale, the reference tables' sf0.1 counts
#: divided by 0.1. Documents are sized separately.
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "embeddings": 20_000,
}
_MIN_ROWS = {"supplier": 10, "embeddings": 500}
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DIM = 64
_LABELS = 10


def _days(rng, n, start: dt.datetime, span_days: int) -> pa.Array:
    offs = rng.integers(0, span_days, size=n)
    base = np.datetime64(start, "us")
    return pa.array(base + offs.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def tables(prof: Profile, seed: int, version: int, scale: float, n_docs: int) -> dict[str, pa.Table]:
    """The ten tables the registered queries read, with the reference's
    schemas and value domains: ``n_docs`` documents, the other tables at
    ``scale`` (1.0 = the reference's sf1 row counts). Each ``version``
    is an independent draw."""
    n = {t: max(_MIN_ROWS.get(t, 1), int(c * scale)) for t, c in _ROWS.items()}
    n["documents"] = n_docs
    r = lambda k: rng_for(seed, version, 100 + k)  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    g = r(1)
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
            "c_nationkey": pa.array(g.integers(0, 25, k), pa.int32()),
            "c_acctbal": pa.array(_money(g, k, -999.99, 9999.99)),
            "c_mktsegment": pa.array(g.choice(_SEGMENTS, k)),
        }
    )
    g = r(2)
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
            "s_nationkey": pa.array(g.integers(0, 25, k), pa.int32()),
            "s_acctbal": pa.array(_money(g, k, -999.99, 9999.99)),
        }
    )
    g = r(3)
    k = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": pa.array([f"{g.choice(_PART_ADJ)} {g.choice(_PART_NOUN)}" for _ in range(k)]),
            "p_brand": pa.array([f"Brand#{b}" for b in g.integers(1, 26, k)]),
            "p_type": pa.array(g.choice(_PART_TYPES, k)),
            "p_size": pa.array(g.integers(1, 51, k), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) * 0.1, 2)),
        }
    )
    g = r(4)
    k = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(g.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": pa.array(g.choice(("F", "O", "P"), k)),
            "o_totalprice": pa.array(_money(g, k, 1000.0, 500000.0)),
            "o_orderdate": _days(g, k, dt.datetime(1995, 1, 1), 2405),
            "o_orderpriority": pa.array(g.choice(_PRIORITIES, k)),
        }
    )
    g = r(5)
    k = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(g.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(g.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(g.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(g.integers(1, 8, k), pa.int32()),
            "l_quantity": pa.array(g.integers(1, 51, k).astype(float)),
            "l_extendedprice": pa.array(_money(g, k, 900.0, 105000.0)),
            "l_discount": pa.array(g.integers(0, 11, k) / 100.0),
            "l_tax": pa.array(g.integers(0, 9, k) / 100.0),
            "l_returnflag": pa.array(g.choice(("A", "N", "R"), k)),
            "l_linestatus": pa.array(g.choice(("F", "O"), k)),
            "l_shipdate": _days(g, k, dt.datetime(1995, 1, 2), 2499),
        }
    )
    g = r(6)
    k = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(g.integers(0, span_us, k)) + np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(g.integers(0, max(10, k * 15 // 1000), k), pa.int64()),
            "event_type": pa.array(g.choice(_EVENT_TYPES, k)),
            "value": pa.array(np.round(g.exponential(50.0, k), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in g.integers(0, 100, k)]),
        }
    )
    out["documents"] = documents(prof, r(7), n["documents"])
    g = r(8)
    k = n["embeddings"]
    centers = g.normal(size=(_LABELS, _DIM))
    labels = g.integers(0, _LABELS, k)
    vecs = centers[labels] + 0.6 * g.normal(size=(k, _DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def dataset_dir(prof: Profile, seed: int, version: int, scale: float, n_docs: int, sf_dir: str) -> str:
    """Land one version of the full table set at ``sf_dir``."""
    for name, table in tables(prof, seed, version, scale, n_docs).items():
        write_table(table, sf_dir, name)
    return sf_dir
