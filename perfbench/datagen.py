"""Seeded input generation for the benchmark.

Everything the program reads is made here from integers: the star-schema
tables (same schemas as FIXTURES.md), the per-run key-consistent
subsample, and the delimited-text batches the ingest workload COPYs.
The same seed always gives byte-identical parquet files.

Row counts follow the TPC-H-shaped fixtures of FIXTURES.md at scale
factor ``sf`` (sf 0.1: 600 k lineitem, 100 k events, 5 k documents).
The benchmark makes its inputs rather than reading a fixture directory
so that a checkout of the repository is all it needs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42  # the base tables; the run seed only salts the subsample
KEEP = 0.9      # share of entity keys the subsample keeps

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PWORDS1 = ["large", "hot", "blue", "red", "green", "small", "dim", "shiny"]
PWORDS2 = ["ring", "bolt", "case", "disk", "gear", "plate", "rod", "tube"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def unit_hash(seed: int, keys: np.ndarray) -> np.ndarray:
    """Uniform [0, 1) per key, salted by seed (splitmix64 finalizer)."""
    with np.errstate(over="ignore"):
        x = keys.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _text(rng, n_words: int, vocab: list[str]) -> str:
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n_words))


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The full star schema at scale factor ``sf``, from BASE_SEED."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    # the fixtures keep at least 500 documents and vectors at small sf
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
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
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PWORDS1, n_part),
                                             _pick(rng, PWORDS2, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    odate = _EPOCH_1995 + rng.integers(0, 2405, n_ord) * _US_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    # lines per order: 1 + Binomial(6, 0.5), four on average as in the
    # fixtures
    nl = 1 + rng.binomial(6, 0.5, n_ord)
    lk = np.repeat(ok, nl)
    n_li = len(lk)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nl]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(np.repeat(odate, nl)
                          + rng.integers(1, 96, n_li) * _US_PER_DAY),
    })
    t["events"] = events_rows(rng, 0, n_ev, n_users)

    # documents: 10..100 words; every 10th doc is a near-copy of an
    # earlier one (a few words replaced) so the dedup family has work
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(10, 101)), VOCAB))
    dk = np.arange(n_doc, dtype=np.int64)
    t["documents"] = pa.table({
        "doc_id": dk,
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in dk],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    # embeddings: 64-d unit vectors; every 10th is a perturbed copy of
    # an earlier one so near-duplicate search finds pairs
    g = rng.standard_normal((n_vec, 64))
    for i in range(10, n_vec, 10):
        g[i] = g[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(64)
    g = (g / np.linalg.norm(g, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(g), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def events_rows(rng, first_id: int, n: int, n_users: int) -> pa.Table:
    """``n`` events with ids from ``first_id``: 30 days of January 2024,
    five uniform types, exponential values in whole cents (never below
    0.01), and a small JSON props object, NULL for one row in 50."""
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n))
    cents = np.maximum(1, np.round(rng.exponential(5000.0, n))).astype(np.int64)
    props = [None if k < 0 else f'{{"k": {k}}}'
             for k in np.where(rng.random(n) < 0.02, -1,
                               rng.integers(0, 100, n))]
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": cents / 100.0,
        "props": pa.array(props, pa.string()),
    }, schema=EVENTS_SCHEMA)


# entity key of each table the subsample filters on; other tables are
# dimensions and are kept whole, so every join still finds its rows
_SUBSAMPLE_KEY = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def subsample(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Keep ~KEEP of each entity's keys, chosen by hash(seed, key) — the
    same orders survive in orders and lineitem."""
    out = {}
    for name, tbl in tables.items():
        key = _SUBSAMPLE_KEY.get(name)
        if key is None:
            out[name] = tbl
            continue
        keys = tbl.column(key).to_numpy()
        out[name] = tbl.filter(pa.array(unit_hash(seed, keys) < KEEP))
    return out


def write_tables(tables: dict[str, pa.Table], data_dir: str,
                 check_dir: str) -> None:
    """Write one parquet file per table under ``data_dir``. ``events``
    is a directory table there (the streaming source reads it in place);
    ``check_dir`` links every table as a single file, the layout the
    DuckDB oracle reads."""
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(check_dir, exist_ok=True)
    for name, tbl in tables.items():
        path = os.path.join(data_dir, f"{name}.parquet")
        if name == "events":
            os.makedirs(path, exist_ok=True)
            path = os.path.join(path, "part-00000.parquet")
        pq.write_table(tbl, path)
        os.symlink(os.path.abspath(path),
                   os.path.join(check_dir, f"{name}.parquet"))


def copy_text(tbl: pa.Table) -> str:
    """Render rows in COPY's text dialect: ',' delimiter, \\N for NULL."""
    cols = []
    for name in tbl.column_names:
        vals = tbl.column(name).to_pylist()
        if name == "ts":
            cols.append([v.strftime("%Y-%m-%d %H:%M:%S.%f") for v in vals])
        elif name == "value":
            cols.append([f"{v:.2f}" for v in vals])
        else:
            cols.append(["\\N" if v is None else str(v) for v in vals])
    return "".join(",".join(r) + "\n" for r in zip(*cols))
