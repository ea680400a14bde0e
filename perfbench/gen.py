"""Seeded input generation for the benchmark workloads.

Everything the program reads in the `pipeline_etl` workload is written
here from the workload seed, with the schema of the engine's driver
tables (`sources/tables.TABLES`): a TPC-H-style star (region ..
lineitem), an `events` stream, a `documents` corpus and 64-d
`embeddings`. The same seed writes the same
bytes; another seed writes other values with the same row counts and
value domains, so a run's work does not depend on the seed.

Documents and embeddings carry planted duplicates, following the recipe
of `scripts/gen_scale10x_fixtures.py`: of every document, 2% are a
verbatim copy of an earlier one, 8% are a copy with ~5% of the tokens
replaced (at least one), and 90% are fresh draws. Of every embedding,
20% are an earlier same-label vector plus N(0, 0.05) noise. The planted
(source, copy) document pairs are returned so the benchmark can score
recall.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# rows per unit of scale (scale 1.0 == TPC-H sf1 row counts)
ROWS_PER_SCALE = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "hot", "cold", "new", "small", "large", "blue", "old"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget",
             "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMB_DIM = 64
N_LABELS = 10

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> np.ndarray:
    """n whole-day timestamps (µs) uniform in [lo, hi]."""
    span = (hi - lo).days
    return _micros(lo) + rng.integers(0, span + 1, n) * 86_400_000_000


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), pa.int64()).cast(
        pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def relational(rng: np.random.Generator, scale: float):
    """The star schema and events; returns (tables, row counts)."""
    n = {t: max(1, int(r * scale)) for t, r in ROWS_PER_SCALE.items()}
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    k = np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, len(k)).astype("int32"),
        "c_acctbal": _money(rng, len(k), -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, len(k))]})
    k = np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, len(k)).astype("int32"),
        "s_acctbal": _money(rng, len(k), -999.99, 9999.99)})
    k = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": k,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, len(k)), rng.integers(0, 8, len(k)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(k))],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, len(k))],
        "p_size": rng.integers(1, 51, len(k)).astype("int32"),
        "p_retailprice": np.round(900 + (k % 1000) / 10.0, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, no, dt.datetime(1995, 1, 1),
                                 dt.datetime(2001, 8, 1))),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_days(rng, nl, dt.datetime(1995, 1, 2),
                                dt.datetime(2001, 11, 4)))})
    ne = n["events"]
    start = _micros(dt.datetime(2024, 1, 1))
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, ne * 15 // 1000), ne),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, ne)]})
    return out, n


def documents(rng: np.random.Generator, n: int):
    """Corpus with planted exact and near duplicates.

    Returns (table, planted) where planted is a list of
    (source doc_id, copy doc_id) pairs, source < copy."""
    vocab = np.array(VOCAB)
    kind = rng.choice(3, size=n, p=[0.02, 0.08, 0.90])
    lens = rng.integers(10, 101, n)
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    for i in range(n):
        if i and kind[i] < 2:
            src = int(rng.integers(0, i))
            toks = texts[src].split()
            if kind[i] == 1:
                k = max(1, len(toks) // 20)
                for j in rng.choice(len(toks), size=k, replace=False):
                    toks[j] = str(vocab[rng.integers(0, len(vocab))])
            planted.append((src, i))
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lens[i])]))
    table = pa.table({
        "doc_id": np.arange(n),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, size=n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    return table, planted


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors; 20% are noisy copies of an earlier same-label one."""
    vecs = rng.normal(0.0, 1.0, (n, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n).astype("int32")
    for i in range(1, n):
        if rng.random() < 0.2:
            src = int(rng.integers(0, i))
            vecs[i] = vecs[src] / np.linalg.norm(vecs[src]) \
                + rng.normal(0.0, 0.05, EMB_DIM)
            labels[i] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": labels})


def generate(out_dir: str, seed: int, scale: float) -> dict:
    """Write every driver table under `out_dir` as `<table>.parquet`.

    Returns a manifest: per-table rows and bytes, plus the planted
    duplicate document pairs."""
    rng = np.random.default_rng(seed)
    tables, n = relational(rng, scale)
    tables["documents"], planted_docs = documents(rng, n["documents"])
    tables["embeddings"] = embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "scale": scale, "tables": {},
                "planted_docs": planted_docs}
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        manifest["tables"][name] = {"rows": tables[name].num_rows,
                                    "bytes": os.path.getsize(path)}
    return manifest
