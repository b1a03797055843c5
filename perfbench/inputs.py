"""Benchmark inputs, made outside the program under test.

The program sees only parquet files. ``base_dir`` writes the star
schema, ``events``, ``documents`` and ``embeddings`` at scale factor
0.1 from a fixed data seed (numpy), with the column types and value
ranges of the sf-directories the repository's tests read.
``x10_dir`` stages a ten-fold copy of the two fact tables with DuckDB,
offsetting the order keys of each copy so joins keep their selectivity;
the dimension tables stay as they are (symlinks into the base dir).

Both directories are keyed by a digest of their source, so a changed
generator or a changed base never reuses a stale staging.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1
GEN_VERSION = "gen-v1"
X10_COPIES = 10
ORDERKEY_OFFSET = 10_000_000_000

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _days(start: str, n_days: int, rng, size) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _money(rng, lo, hi, size) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", 2499, rng, n_li),
    })
    start = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.array(WORDS)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n_doc)
    ]
    # a few exact duplicates of earlier documents, as real corpora have
    for dst in rng.choice(np.arange(n_doc // 10, n_doc), 8, replace=False):
        texts[dst] = texts[int(rng.integers(0, dst))]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def _digest(paths: list[str], salt: str) -> str:
    h = hashlib.sha256(salt.encode())
    for p in paths:
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _publish(tmp: str, final: str) -> None:
    if os.path.isdir(final):
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, final)


def base_dir(work: str) -> tuple[str, str]:
    """The sf0.1 input directory and its data digest (made once)."""
    key = hashlib.sha256(f"{GEN_VERSION}:{SF}:{DATA_SEED}".encode()).hexdigest()[:12]
    final = os.path.join(work, f"base-{key}")
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        os.makedirs(tmp)
        for name, tab in _tables(SF, DATA_SEED).items():
            pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"))
        _publish(tmp, final)
    paths = [os.path.join(final, f"{t}.parquet") for t in TABLES]
    return final, _digest(paths, GEN_VERSION)


def x10_dir(work: str, base: str, base_digest: str) -> tuple[str, str]:
    """Ten fact copies with order-key offsets, staged by DuckDB."""
    import duckdb

    key = hashlib.sha256(f"{base_digest}:x{X10_COPIES}:v1".encode()).hexdigest()[:12]
    final = os.path.join(work, f"x10-{key}")
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        os.makedirs(tmp)
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        con.execute("SET enable_progress_bar = false")
        cols = {"lineitem": "l_orderkey", "orders": "o_orderkey"}
        for t, kcol in cols.items():
            src = os.path.join(base, f"{t}.parquet")
            legs = " UNION ALL ".join(
                f"SELECT * REPLACE ({kcol} + {i * ORDERKEY_OFFSET} AS {kcol}) "
                f"FROM read_parquet('{src}')"
                for i in range(X10_COPIES)
            )
            con.execute(
                f"COPY ({legs}) TO '{os.path.join(tmp, t + '.parquet')}' "
                "(FORMAT PARQUET)"
            )
        con.close()
        for t in TABLES:
            if t not in cols:
                os.symlink(
                    os.path.join(os.path.abspath(base), f"{t}.parquet"),
                    os.path.join(tmp, f"{t}.parquet"),
                )
        _publish(tmp, final)
    return final, hashlib.sha256(f"{base_digest}:{key}".encode()).hexdigest()[:16]
