"""Seeded input generators. The same seed always yields byte-identical
inputs; the program under test only ever sees the files written here.

Tables follow the schemas of the engine's star-schema test data
(region/nation/supplier/customer/part/orders/lineitem, documents,
embeddings, events) at a size that keeps one benchmark run short.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = _dt.datetime(2024, 1, 1)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]

TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 400,
    "customer": 4000,
    "part": 4000,
    "orders": 40000,
    "lineitem": 160000,
}
N_DOCS = 1500
N_VECS = 1200
VEC_DIM = 32


def _ts(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    us = rng.integers(0, days * 86_400_000_000, n)
    base = np.datetime64(EPOCH, "us")
    return pa.array(base + us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int) -> dict[str, pa.Table]:
    """region, nation, supplier, customer, part, orders, lineitem."""
    rng = np.random.default_rng([seed, 1])
    n = TABLE_ROWS
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
    }
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(1, ns + 1),
        "s_name": [f"Supplier#{i:06d}" for i in range(1, ns + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999, 9999),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(1, nc + 1),
        "c_name": [f"Customer#{i:06d}" for i in range(1, nc + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999, 9999),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(1, npart + 1),
        "p_name": [f"part {i}" for i in range(1, npart + 1)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, npart)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"])[
            rng.integers(0, 5, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": _money(rng, npart, 900, 2000),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(1, no + 1),
        "o_custkey": rng.integers(1, nc + 1, no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 800, 500_000),
        "o_orderdate": _ts(rng, no, 365 * 3),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(1, no + 1, nl),
        "l_partkey": rng.integers(1, npart + 1, nl),
        "l_suppkey": rng.integers(1, ns + 1, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(rng, nl, 365 * 3),
    })
    return out


def _vocab(rng: np.random.Generator, size: int = 2500) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = "".join(letters[rng.integers(0, 26, rng.integers(3, 9))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def documents(seed: int, n: int = N_DOCS) -> pa.Table:
    """Lower-case space-joined word documents. About one in six is a
    near-copy of an earlier document (a few words substituted) and one
    in forty an exact copy, so near-dup clustering and decontamination
    against the ``doc_id % 41 == 0`` held-out set both have work."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()
    texts: list[str] = []
    originals: list[int] = []  # copies are only ever made of these
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.025:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif i > 10 and r < 0.17:
            words = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            originals.append(i)
            texts.append(" ".join(np.array(vocab)[rng.choice(len(vocab), k, p=zipf)]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, n: int = N_VECS, dim: int = VEC_DIM) -> pa.Table:
    """Unit-ish vectors around 24 cluster centres; one in eight is a
    tiny perturbation of an earlier vector (a semantic duplicate)."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(0, 1, (24, dim))
    labels = rng.integers(0, 24, n)
    vecs = centres[labels] + rng.normal(0, 0.6, (n, dim))
    originals = list(range(8))
    for i in range(8, n):
        if rng.random() >= 0.125:
            originals.append(i)
        else:
            j = originals[int(rng.integers(0, len(originals)))]
            vecs[i] = vecs[j] + rng.normal(0, 0.01, dim)
            labels[i] = labels[j]
    vecs = np.round(vecs / np.linalg.norm(vecs, axis=1, keepdims=True), 5).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_parquet_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def write_jsonl_shards(tbl: pa.Table, out_dir: str, n_shards: int) -> None:
    """Round-robin split of ``tbl`` into ``n_shards`` JSONL files."""
    os.makedirs(out_dir, exist_ok=True)
    rows = tbl.to_pylist()
    for s in range(n_shards):
        with open(os.path.join(out_dir, f"shard-{s:03d}.jsonl"), "w") as fh:
            for row in rows[s::n_shards]:
                fh.write(json.dumps(row, separators=(",", ":")) + "\n")


# ------------------------------------------------------------------ events
FILE_EVENT_SPAN_S = 60  # event time one landing file covers
MAX_DISORDER_S = 45  # how far an event may trail its file's window start


class EventSource:
    """Deterministic event batches for landing file ``i``.

    File ``i`` covers event time [i·60 s, (i+1)·60 s) shifted back by up
    to 45 s (out of order, but never behind a 2-minute watermark), and
    about 5% of its rows repeat an event of the previous file verbatim
    (duplicates the stream must drop)."""

    def __init__(self, seed: int):
        self.seed = seed
        self.next_id = 0
        self.prev: pa.Table | None = None

    def batch(self, i: int, n: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 4, i])
        n_dup = n // 20 if self.prev is not None and self.prev.num_rows else 0
        n_new = n - n_dup
        ids = np.arange(self.next_id, self.next_id + n_new, dtype=np.int64)
        self.next_id += n_new
        start_us = i * FILE_EVENT_SPAN_S * 1_000_000
        offs = rng.integers(-MAX_DISORDER_S * 1_000_000, FILE_EVENT_SPAN_S * 1_000_000, n_new)
        ts = np.datetime64(EPOCH, "us") + np.maximum(start_us + offs, 0).astype("timedelta64[us]")
        new = pa.table({
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, n_new),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_new)],
            "value": np.round(rng.uniform(0, 200, n_new), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_new)],
        })
        if n_dup:
            take = rng.integers(0, self.prev.num_rows, n_dup)
            new = pa.concat_tables([new, self.prev.take(pa.array(take))])
        self.prev = new.slice(0, n_new)
        return new
