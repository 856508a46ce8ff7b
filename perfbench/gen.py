"""Seeded input generator for the benchmark.

Writes the engine's ten input tables (the TPC-H-shaped star schema, the
``events`` stream and the ``documents`` / ``embeddings`` corpus) as one
parquet file each, with the value domains of the engine's reference test
data. The same ``(seed, scale, copies)`` always gives byte-identical
files.

``copies > 1`` replicates the generated base with the key-offset scheme of
``scripts/scale_probe.py``: fact tables repeat with their surrogate keys
shifted by ``copy * OFFSET``, dimension tables stay single-copy, and every
document word of copy ``i > 0`` gets the suffix ``x{i}`` so copies share no
shingles.

The ingest stream (``doc_batches``) is generated here too, from the same
vocabulary, with a fixed share of near-duplicates of earlier documents.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DUP_SHARE = 0.05  # share of documents that near-duplicate an earlier one
EMB_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_ADJ = np.array(["blue", "cold", "hot", "large", "old", "red", "small", "shiny"])
PART_NOUN = np.array(["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

_DAY_US = 86_400 * 1_000_000
_ORDER_DAY0 = dt.datetime(1995, 1, 1)
_EVENT_T0 = dt.datetime(2024, 1, 1)


def _us(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, first: dt.datetime, span: int) -> pa.Array:
    us = _us(first) + rng.integers(0, span, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of 10-100 words; exactly ``DUP_SHARE`` of them copy
    an earlier original and append one word. Near-duplicates therefore
    exist at a fixed rate whatever the seed, and never chain (a copy of a
    copy), so the clusters' shape does not vary with the seed either."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    dups = set(rng.choice(np.arange(1, n), round(n * DUP_SHARE), replace=False).tolist())
    out: list[str] = []
    originals: list[int] = []
    pos = 0
    for i in range(n):
        if i in dups:
            out.append(out[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            out.append(" ".join(VOCAB[w] for w in words[pos : pos + lens[i]]))
        pos += lens[i]
    return out


def documents_table(rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
    text = _texts(rng, n)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": text,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def base_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """One copy of every input table, with row counts proportional to
    ``scale`` (1.0 = the TPC-H SF1 row counts)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 100)
    n_supp = max(int(10_000 * scale), 20)
    n_part = max(int(200_000 * scale), 200)
    n_ord = max(int(1_500_000 * scale), 1000)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * scale), 1000)
    n_doc = max(int(50_000 * scale), 200)
    n_vec = max(int(20_000 * scale), 200)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": pc.binary_join_element_wise(
                rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part), " "
            ),
            "p_brand": pc.binary_join_element_wise(
                "Brand#", rng.integers(1, 26, n_part).astype(str), ""
            ),
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, _ORDER_DAY0, 2404),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_line),
            "l_shipdate": _days(rng, n_line, _ORDER_DAY0 + dt.timedelta(days=1), 2499),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _us(_EVENT_T0)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(n_cust // 10, 10), n_ev, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents_table(rng, 0, n_doc)
    emb = rng.standard_normal((n_vec, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                emb.ravel(), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec, dtype=np.int32),
        }
    )
    return t


def replicate(
    base: dict[str, pa.Table],
    copies: int,
    fact_keys: dict[str, list[str]],
    offset: int,
) -> dict[str, pa.Table]:
    """``copies``-fold replica of ``base`` under the key-offset scheme of
    ``scripts/scale_probe.py`` (its ``FACT_KEYS`` and ``OFFSET`` are
    passed in, so the two never disagree)."""
    out = dict(base)
    for name, keys in fact_keys.items():
        parts = []
        for i in range(copies):
            c = base[name]
            for k in keys:
                idx = c.schema.get_field_index(k)
                c = c.set_column(idx, k, pc.add(c[k], i * offset))
            if name == "documents" and i > 0:
                text = pc.replace_substring_regex(
                    c["text"], r"(\S+)", rf"\1x{i}"
                )
                c = c.set_column(c.schema.get_field_index("text"), "text", text)
                c = c.set_column(
                    c.schema.get_field_index("n_chars"),
                    "n_chars",
                    pc.utf8_length(text).cast(pa.int64()),
                )
            parts.append(c)
        out[name] = pa.concat_tables(parts)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def doc_batches(
    seed: int, n_batches: int, batch_docs: int, first_id: int
) -> list[pa.Table]:
    """The ingest stream: ``n_batches`` micro-batches of new documents
    with consecutive ids from ``first_id``. Near-duplicates may point at
    any earlier document of the stream, so some land in a later batch
    than their original."""
    rng = np.random.default_rng(seed + 7919)
    docs = documents_table(rng, first_id, n_batches * batch_docs)
    return [
        docs.slice(i * batch_docs, batch_docs).select(["doc_id", "text"])
        for i in range(n_batches)
    ]
