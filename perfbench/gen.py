"""Seeded inputs for every workload.

Everything the benchmark feeds the engine is a pure function of the seed:

- ``tpch``: the sf0.1-shaped TPC-H-ish star schema (same table names,
  column names, types and row counts as the repository's sf0.1 fixtures:
  lineitem 600k rows, orders 150k, customer 15k, part 20k, supplier 1k,
  nation 25, region 5);
- ``corpus``: ``documents`` (20,000 rows) and ``embeddings`` (8,000 rows),
  4 copies of a 5,000/2,000-row base, scaled with the salting rules of
  ``scripts_dev_make_sf1.py``: copy 0 is the base, later copies salt every
  token at position j with (j + copy) % 3 == 0 by appending a letter picked
  by a hash of (token, copy), and perturb each embedding dimension by a
  hash-noise in [-0.1, 0.1).  Within-copy near-duplicate structure is kept,
  cross-copy similarity collapses;
- ingest blocks: ``ingest_block(seed, i)`` returns block i of the writer's
  8192-row ``(a UInt64, b UInt64)`` stream.

Inputs are written once per seed under the work directory and reused; the
time spent here is never part of a measurement.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 15_000, 1_000, 20_000, 150_000
BASE_DOCS, BASE_VECS, COPIES, DIM = 5_000, 2_000, 4, 64
BLOCK_ROWS = 8192

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [f"NATION_{i:02d}" for i in range(25)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "en", "zh", "es", "fr", "de"]

EPOCH_1992 = np.datetime64("1992-01-01", "D")
ORDER_DAYS = (np.datetime64("1998-08-02", "D") - EPOCH_1992).astype(int)
CUTOFF = np.datetime64("1995-06-17", "D")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH_1992 + days).astype("datetime64[us]"), pa.timestamp("us"))


def _tpch(rng: np.random.Generator) -> dict[str, pa.Table]:
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": NATIONS,
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    ck = np.arange(1, N_CUSTOMER + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
    })
    sk = np.arange(1, N_SUPPLIER + 1, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
    })
    pk = np.arange(1, N_PART + 1, dtype=np.int64)
    price = np.round(900 + (pk % 20001) / 10 + 100 * (pk % 1000) / 1000, 2)
    part = pa.table({
        "p_partkey": pk,
        "p_name": [f"part {k}" for k in pk],
        "p_brand": [f"Brand#{1 + k % 5}{1 + k % 7 % 5}" for k in pk],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])[
            rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
        "p_retailprice": price,
    })
    ok = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    odays = rng.integers(0, ORDER_DAYS - 121, N_ORDERS)
    nlines = rng.integers(1, 8, N_ORDERS)
    l_ok = np.repeat(ok, nlines)
    n = len(l_ok)
    l_ln = (np.arange(n) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1).astype(np.int32)
    l_pk = rng.integers(1, N_PART + 1, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ext = np.round(qty * price[l_pk - 1], 2)
    disc = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    sdays = np.repeat(odays, nlines) + rng.integers(1, 122, n)
    shipped = EPOCH_1992 + sdays
    late = shipped > CUTOFF
    rflag = np.where(late, "N", np.where(rng.integers(0, 2, n) == 0, "R", "A"))
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_pk.astype(np.int64),
        "l_suppkey": rng.integers(1, N_SUPPLIER + 1, n).astype(np.int64),
        "l_linenumber": pa.array(l_ln),
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": rflag,
        "l_linestatus": np.where(late, "O", "F"),
        "l_shipdate": _ts(sdays),
    })
    # order total = sum of its lines' charged prices (TPC-H definition)
    charged = ext * (1 - disc) * (1 + tax)
    totals = np.round(np.bincount(l_ok, weights=charged, minlength=N_ORDERS + 1)[1:], 2)
    last_ship = np.maximum.reduceat(sdays, np.cumsum(nlines) - nlines)
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, N_CUSTOMER + 1, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.where(EPOCH_1992 + last_ship <= CUTOFF, "F", "O"),
        "o_totalprice": totals,
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def _salt(word: str, copy: int) -> str:
    return word + chr(97 + zlib.crc32(f"{word}\x00{copy}".encode()) % 26)


def _corpus(rng: np.random.Generator) -> dict[str, pa.Table]:
    vocab = np.array(VOCAB)
    base: list[list[str]] = []
    for i in range(BASE_DOCS):
        r = rng.random()
        if i >= 50 and r < 0.03:  # exact duplicate of an earlier document
            base.append(list(base[rng.integers(0, i)]))
        elif i >= 50 and r < 0.15:  # near duplicate: ~5% of tokens replaced
            words = list(base[rng.integers(0, i)])
            for j in np.nonzero(rng.random(len(words)) < 0.05)[0]:
                words[j] = str(vocab[rng.integers(0, len(vocab))])
            base.append(words)
        else:
            base.append(list(vocab[rng.integers(0, len(vocab), rng.integers(8, 96))]))
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), BASE_DOCS)]
    ids, texts, lang, source = [], [], [], []
    for c in range(COPIES):
        for i, words in enumerate(base):
            if c:
                words = [_salt(w, c) if (j + c) % 3 == 0 and w else w
                         for j, w in enumerate(words)]
            ids.append(c * BASE_DOCS + i)
            texts.append(" ".join(words))
            lang.append(langs[i])
            source.append(f"src{i % 20}")
    documents = pa.table({
        "doc_id": np.array(ids, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": source,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    centers = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, BASE_VECS)
    v = 0.35 * centers[labels] + rng.normal(size=(BASE_VECS, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    vecs = [v]
    for c in range(1, COPIES):
        vecs.append(v + rng.uniform(-0.1, 0.1, size=v.shape))
    emb = np.concatenate(vecs).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(COPIES * BASE_VECS, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(np.tile(labels, COPIES).astype(np.int32)),
    })
    return {"documents": documents, "embeddings": embeddings}


def ensure_inputs(root: str, seed: int, kind: str) -> str:
    """Write the ``kind`` ('tpch' or 'corpus') tables for ``seed`` under
    ``root`` once; return the directory of ``<table>.parquet`` files."""
    out = os.path.join(root, f"{kind}-seed{seed}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    salt = {"tpch": 1, "corpus": 2}[kind]
    rng = np.random.default_rng([seed, salt])
    tables = _tpch(rng) if kind == "tpch" else _corpus(rng)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    with open(done, "w") as f:
        json.dump(sizes, f, sort_keys=True)
    return out


def input_sizes(d: str) -> dict:
    with open(os.path.join(d, "_DONE")) as f:
        return json.load(f)


def ingest_block(seed: int, i: int, stream: int = 3) -> tuple[list[int], list[int]]:
    """Block i of the writer's stream: ``a`` is a seeded permutation of the
    block's own id range (so every ``a`` is distinct and the table's final
    count and sum are known), ``b`` is seeded noise.  Warm-up blocks come
    from another ``stream``."""
    rng = np.random.default_rng([seed, stream, i])
    a = i * BLOCK_ROWS + rng.permutation(BLOCK_ROWS)
    b = rng.integers(0, 1 << 40, BLOCK_ROWS)
    return a.tolist(), b.tolist()


def block_partition_counts(a: list[int]) -> np.ndarray:
    """Rows per ``rem(a, 100)`` partition of one block."""
    return np.bincount(np.asarray(a) % 100, minlength=100)

