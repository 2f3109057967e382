"""Seeded benchmark inputs.

Every table has the schema of the engine's sf parquet fixtures (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings; one parquet file each, events.ts as TIMESTAMP(NANOS)), so the
registered queries and their DuckDB oracles run on them unchanged.

The tables are synthesized here rather than copied, so a run needs nothing
outside the checkout. A fixed base is drawn once per scale; each ``--seed``
then derives its variant from that base:

- warehouse tables: dims stay fixed; facts are key-shifted and reordered;
- LLM tables: documents and embeddings are replicated, every replica with
  a token salt and a seeded doc_id / vec_id shift (replica 0 keeps
  its ids, so the vec_id < 8 ANN query set and the PQ codebook stay fixed).

Same seed -> same bytes; inputs are cached per (scale, seed).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 20240101
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join shuffle index plan cache state topic sink source page log"
).split()
LANGS = ["en"] * 9 + ["zh", "de", "fr", "es"] * 2 + ["en"]
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in micros
DAY_US = 86_400_000_000


def _rng(*parts: int) -> np.random.Generator:
    return np.random.default_rng([BASE_SEED, *parts])


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def _dims(sf: float) -> dict[str, pa.Table]:
    r = _rng(1)
    n_c, n_s, n_p = (max(m, int(k * sf)) for m, k in
                     ((150, 150_000), (20, 10_000), (400, 200_000)))
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    adj = np.array(["small", "large", "red", "blue", "hot", "old", "new", "cold"])
    noun = np.array(["ring", "bolt", "gear", "widget", "gizmo", "nut"])
    ptypes = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
    ck, sk, pk = np.arange(n_c), np.arange(n_s), np.arange(n_p)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": regions,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_c), 2),
            "c_mktsegment": segs[r.integers(0, 5, n_c)],
        }),
        "supplier": pa.table({
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_s), 2),
        }),
        "part": pa.table({
            "p_partkey": pk,
            "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_p)], " "),
                                  noun[r.integers(0, 6, n_p)]),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n_p).astype(str)),
            "p_type": ptypes[r.integers(0, 6, n_p)],
            "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
        }),
    }


def _facts(sf: float, dims: dict[str, pa.Table]) -> dict[str, pa.Table]:
    r = _rng(2)
    n_c, n_s, n_p = (dims[t].num_rows for t in ("customer", "supplier", "part"))
    n_o = max(1500, int(1_500_000 * sf))
    n_l = 4 * n_o
    n_e = max(1000, int(1_000_000 * sf))
    n_u = max(30, int(15_000 * sf))
    day0 = np.datetime64("1995-01-01", "D")
    odate = day0 + r.integers(0, 2404, n_o)  # through 2001-08-01
    l_ok = r.integers(0, n_o, n_l)
    qty = r.integers(1, 51, n_l).astype(float)
    gaps = r.exponential(30 * DAY_US / n_e, n_e).astype(np.int64)
    ts_us = EPOCH_2024_US + np.cumsum(gaps)
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    return {
        "orders": pa.table({
            "o_orderkey": np.arange(n_o),
            "o_custkey": r.integers(0, n_c, n_o),
            "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_o)],
            "o_totalprice": np.round(r.uniform(1000, 500_000, n_o), 2),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[r.integers(0, 5, n_o)],
        }),
        "lineitem": pa.table({
            "l_orderkey": l_ok,
            "l_partkey": r.integers(0, n_p, n_l),
            "l_suppkey": r.integers(0, n_s, n_l),
            "l_linenumber": pa.array(r.integers(1, 8, n_l), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(18, 2100, n_l), 2),
            "l_discount": r.integers(0, 11, n_l) / 100.0,
            "l_tax": r.integers(0, 9, n_l) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_l)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_l)],
            "l_shipdate": pa.array(
                (odate[l_ok] + r.integers(1, 122, n_l)).astype("datetime64[us]")
            ),
        }),
        "events": pa.table({
            "event_id": np.arange(n_e),
            "ts": pa.array((ts_us * 1000).astype("datetime64[ns]")),
            "user_id": r.integers(0, n_u, n_e),
            "event_type": etypes[r.integers(0, 5, n_e)],
            "value": np.round(r.gamma(2.0, 50.0, n_e) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_e)],
        }),
    }


def _corpus(n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Documents with planted exact and near duplicates; clustered unit
    embeddings with planted near-duplicate vectors."""
    r = _rng(3)
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        roll = r.random()
        if i > 10 and roll < 0.03:  # exact duplicate
            texts.append(texts[r.integers(0, i)])
            continue
        if i > 10 and roll < 0.20:  # near duplicate: a few words replaced
            toks = texts[r.integers(0, i)].split(" ")
            for j in r.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = words[r.integers(0, len(words))]
            texts.append(" ".join(toks))
            continue
        texts.append(" ".join(words[r.integers(0, len(words), r.integers(8, 100))]))
    docs = pa.table({
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })
    cent = r.normal(size=(10, 64))
    labels = r.integers(0, 10, n_vecs)
    vecs = cent[labels] + r.normal(scale=0.8, size=(n_vecs, 64))
    near = r.random(n_vecs) < 0.05
    src = r.integers(0, n_vecs, n_vecs)
    vecs[near] = vecs[src[near]] + r.normal(scale=0.01, size=(near.sum(), 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n_vecs),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def base_tables(sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    dims = _dims(sf)
    return {**dims, **_facts(sf, dims), **_corpus(n_docs, n_vecs)}


def _permute(t: pa.Table, r: np.random.Generator) -> pa.Table:
    return t.take(pa.array(r.permutation(t.num_rows)))


def _shift(t: pa.Table, col: str, by: int) -> pa.Table:
    i = t.schema.get_field_index(col)
    return t.set_column(i, col, pc.add(t.column(col), by))


def wh_variant(base: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Dims fixed; order keys and event ids shifted, fact rows reordered."""
    r = np.random.default_rng([BASE_SEED, 7, seed])
    okey = int(r.integers(1, 1 << 20)) * 1_000
    out = dict(base)
    out["orders"] = _permute(_shift(base["orders"], "o_orderkey", okey), r)
    out["lineitem"] = _permute(_shift(base["lineitem"], "l_orderkey", okey), r)
    out["events"] = _permute(
        _shift(base["events"], "event_id", int(r.integers(1, 1 << 20)) * 1_000), r
    )
    return out


def llm_variant(
    base: dict[str, pa.Table], seed: int, replicas: int
) -> dict[str, pa.Table]:
    """Replicate documents and embeddings; every replica's tokens carry
    the replica's salt, replicas >= 1 shift doc_id / vec_id by a seeded
    offset, and the seed reorders the rows.

    The salt does not depend on the seed: it moves every MinHash value, and
    so the sizes of the LSH band buckets, and with a per-seed salt the
    MinHash build's work varied by up to 1.5x between seeds."""
    r = np.random.default_rng([BASE_SEED, 8, seed])
    off = int(r.integers(0, 1_000)) * 291  # keeps doc_id % 3 and % 97 classes
    docs, emb = base["documents"], base["embeddings"]
    d_parts, e_parts = [], []
    for i in range(replicas):
        salt = f"x{i}"
        texts = [t.replace(" ", f" {salt}") for t in docs.column("text").to_pylist()]
        shift = 0 if i == 0 else i * 10_000_000 + off
        d_parts.append(pa.table({
            "doc_id": pc.add(docs.column("doc_id"), shift),
            "text": texts,
            "lang": docs.column("lang"),
            "source": docs.column("source"),
            "n_chars": np.array([len(t) for t in texts], np.int64),
        }))
        e_parts.append(_shift(emb, "vec_id", shift))
    out = dict(base)
    out["documents"] = _permute(pa.concat_tables(d_parts), r)
    out["embeddings"] = _permute(pa.concat_tables(e_parts), r)
    return out


def materialize(cache_root: str, seed: int, sf: float, n_docs: int,
                n_vecs: int, replicas: int) -> str:
    """Write (or reuse) the seed's tables; returns the table directory."""
    out = os.path.join(
        cache_root, f"sf{sf:g}-d{n_docs}-v{n_vecs}-r{replicas}-seed{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    base = base_tables(sf, n_docs, n_vecs)
    tables = llm_variant(wh_variant(base, seed), seed, replicas)
    for name in TABLES:
        _write(tables[name], os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "_DONE"), "w") as f:
        json.dump({"seed": seed, "sf": sf, "docs": n_docs, "vecs": n_vecs,
                   "replicas": replicas}, f)
    return out
