"""Seeded input generators for the benchmark.

Every table the workloads read is generated here from ``--seed``; the
engine only ever sees these files. The star schema, events, documents
and embeddings follow the value ranges, types and cardinalities of the
engine's synthetic test tables (TPC-H-like columns, one parquet file per
table), so the registry oracles apply unchanged. Row counts scale with
``sf`` the same way (lineitem = 6,000,000 x sf).

The long-document corpus keeps the properties the engine's own
long-document stress lane documents: letters-only tokens (the dedup
tokenizer is ``[a-z]+``), a quadratic position term so two distinct
document seeds share no shingles, consecutive near-duplicate pairs that
differ in 2% of positions, and 10% period-7 repetitive documents. Unlike
that lane, ``lang`` and ``source`` vary, so the DSIR (``lang = 'en'``
target) and NB (``src0``-``src3`` curated) weights are not degenerate.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: str, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "D")
    stamps = (base + offsets.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(stamps, type=pa.timestamp("us"))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema plus events, documents and embeddings at ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.char.add(
        np.char.add(np.asarray(_PART_ADJ)[rng.integers(0, 8, n_part)], " "),
        np.asarray(_PART_NOUN)[rng.integers(0, 8, n_part)],
    )
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names.astype(object)),
        "p_brand": pa.array(
            np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object)
        ),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_line)),
    })
    gaps = rng.exponential(30 * 86_400 / n_ev, n_ev)
    ts_us = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _short_documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vec)
    return t


def _short_documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(_WORDS)
    texts = []
    for _ in range(n):
        words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]
        text = " ".join(words)
        if rng.random() < 0.05:
            text += " dup"
        texts.append(text)
    return _documents(rng, texts)


def _documents(rng: np.random.Generator, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.02, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def _letters(values: np.ndarray) -> np.ndarray:
    """Non-negative ints -> 'w' + decimal digits mapped 0-9 -> a-j."""
    digits = values.astype(str)
    return np.char.add("w", np.char.translate(digits, str.maketrans("0123456789", "abcdefghij")))


def longdoc_documents(seed: int, n_docs: int, n_tokens: int) -> pa.Table:
    """Long-document corpus: docs 2k and 2k+1 share a document seed and
    differ where position % 50 == 0 (~2% of tokens); every tenth doc is
    a period-7 repetitive cycle. Token values are quadratic in position,
    so distinct document seeds share no shingles."""
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(n_docs, dtype=np.int64)[:, None]
    pos = np.arange(1, n_tokens + 1, dtype=np.int64)[None, :]
    doc_seed = (seed % 100_003) * 1_000_003 + ids // 2
    val = np.mod(
        doc_seed * 7919 + pos * 104729 + 37 * pos * pos
        + np.where(pos % 50 == 0, ids % 2, 0),
        499,
    )
    val = np.where(ids % 10 == 0, pos % 7, val)
    texts = [" ".join(row) for row in _letters(val)]
    return _documents(rng, texts)


def analyst_mart(tables: dict[str, pa.Table]) -> pa.Table:
    """Revenue per customer: orders joined to customer, grouped by
    (customer, nation), with the latest order date as its watermark."""
    joined = tables["orders"].join(
        tables["customer"].select(["c_custkey", "c_nationkey"]),
        keys="o_custkey", right_keys="c_custkey",
    )
    agg = joined.group_by(["o_custkey", "c_nationkey"], use_threads=False).aggregate([
        ("o_totalprice", "sum"), ("o_totalprice", "count"), ("o_orderdate", "max"),
    ])
    return pa.table({
        "c_custkey": agg["o_custkey"],
        "c_nationkey": agg["c_nationkey"],
        "revenue": agg["o_totalprice_sum"],
        "n_orders": agg["o_totalprice_count"],
        "updated_at": agg["o_orderdate_max"],
    }).sort_by("c_custkey")


def analyst_batch(seed: int, step: int, keys: np.ndarray, next_key: int,
                  watermark: dt.datetime, size: int) -> pa.Table:
    """One upsert batch for the analyst mart: half changed existing keys,
    half new keys, every row stamped after the current watermark so the
    incremental filter keeps all of them."""
    rng = np.random.default_rng([seed, 3, step])
    n_old = size // 2
    old = rng.choice(keys, n_old, replace=False)
    new = np.arange(next_key, next_key + size - n_old, dtype=np.int64)
    key = np.concatenate([old, new])
    stamp = np.datetime64(watermark, "us") + np.arange(1, size + 1).astype("timedelta64[s]")
    return pa.table({
        "c_custkey": pa.array(key),
        "c_nationkey": pa.array(rng.integers(0, 25, size).astype(np.int32)),
        "revenue": _money(rng, 100.0, 900_000.0, size),
        "n_orders": pa.array(rng.integers(1, 40, size)),
        "updated_at": pa.array(stamp, type=pa.timestamp("us")),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write one ``<name>.parquet`` file per table; returns bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes
