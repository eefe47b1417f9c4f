"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed writes the
same bytes, another seed the same sizes with different content. Inputs go
under the benchmark's work directory, never next to the package's own
test data.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# kmeans_lloyd: Gaussian blobs (the reference benchmark's make_blobs input)
BLOB_N = 20_000
BLOB_DIM = 64
BLOB_CENTRES = 8

# pipeline: TPC-H-ish star schema plus documents, events and embeddings,
# at the size of the package's smallest test tier
N_CUSTOMER = 150
N_SUPPLIER = 10
N_PART = 200
N_ORDERS = 1_500
N_EVENTS = 1_000
N_DOCS = 500
N_EMB = 500
EMB_DIM = 64  # the registry's fixed-centroid queries assume this arity


def _write(table: pa.Table, path: str) -> None:
    # one row group, no statistics timestamps: byte-identical per seed
    pq.write_table(table, path, compression="snappy")


def blobs(seed: int, n: int = BLOB_N, dim: int = BLOB_DIM,
          centres: int = BLOB_CENTRES) -> np.ndarray:
    """n points around `centres` well-separated Gaussian centres."""
    rng = np.random.default_rng([seed, 1])
    c = rng.normal(0.0, 10.0, (centres, dim))
    return c[rng.integers(0, centres, n)] + rng.normal(0.0, 1.0, (n, dim))


def write_blobs(x: np.ndarray, parquet_path: str, text_path: str) -> None:
    """The points as parquet (id, embedding array<double>) and as the
    reference's ``<x1, x2, ...>`` text, one point per line, in id order."""
    n, dim = x.shape
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(x.ravel()),
    )
    _write(pa.table({"id": np.arange(n, dtype=np.int64), "embedding": emb}),
           parquet_path)
    # Arrow formats each double in its shortest round-trip form, so the
    # text parses back to exactly these values
    strs = pc.cast(pa.array(x.ravel()), pa.string())
    rows = pc.binary_join(pa.ListArray.from_arrays(emb.offsets, strs), ", ")
    with open(text_path, "w") as fh:
        fh.write("".join(f"<{r}>\n" for r in rows.to_pylist()))


# ---------------------------------------------------------------------------
# pipeline tables
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "the a data spark table scan join sort hash merge window stream batch "
    "row column key value order part line customer filter group agg query "
    "vector big small fast slow dup"
).split()
_ADJ = ["cold", "small", "big", "red", "blue", "shiny"]
_NOUN = ["widget", "gadget", "bolt", "gear", "valve"]


def _epoch_us(year: int) -> int:
    return int(dt.datetime(year, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), type=pa.timestamp("us"))


def write_tables(seed: int, out_dir: str) -> None:
    """The ten tables the registry queries read, as one parquet each."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)

    def w(name: str, cols: dict) -> None:
        _write(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    w("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    w("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    w("customer", {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMER).tolist(),
    })
    w("supplier", {
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2),
    })
    w("part", {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], N_PART).tolist(),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(N_PART) * 0.1, 2),
    })
    day_us = 86_400 * 1_000_000
    odate = _epoch_us(1995) + rng.integers(0, 2_400, N_ORDERS) * day_us
    w("orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, N_ORDERS), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS).tolist(),
    })
    lines = 1 + np.arange(N_ORDERS) % 7  # fixed size across seeds
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    w("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, N_PART, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n_li).astype(np.int64),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2_100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
        "l_shipdate": _ts(np.repeat(odate, lines)
                          + rng.integers(1, 122, n_li) * day_us),
    })
    ts = _epoch_us(2024) + np.sort(rng.integers(0, 2 * day_us, N_EVENTS))
    w("events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, 50, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, N_EVENTS).tolist(),
        "value": np.round(rng.gamma(2.0, 50.0, N_EVENTS), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
    })
    w("documents", _documents(rng))
    c = rng.normal(0.0, 0.2, (8, EMB_DIM))
    label = rng.integers(0, 8, N_EMB)
    emb = (c[label] + rng.normal(0.0, 0.05, (N_EMB, EMB_DIM))).astype(np.float32)
    w("embeddings", {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, N_EMB * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
            pa.array(emb.ravel()),
        ),
        "label": pa.array(label, pa.int32()),
    })


def _documents(rng: np.random.Generator) -> dict:
    """Random word documents with a tenth exact copies and a tenth
    near-copies (one word replaced), so dedup queries find groups."""
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.1:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.2:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(20, 120)))))
    return {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "es", "de", "fr"], N_DOCS).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 5, N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
