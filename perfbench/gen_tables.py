"""Seeded generators for the registry's parquet tables.

``write_sf_tables`` writes the TPC-H-shaped star schema plus ``events``,
``documents`` and ``embeddings`` in the layout ``tables.load`` reads (one
single-row-group parquet file per table), with the schemas, row counts,
key ranges and value domains of the repository's sf-scaled test tables
(TESTDATA.md): at sf0.1, 600k lineitem rows, 100k events from 1,500 users
over 30 days with ``{"k": n}`` props, 5,000 documents over a 30-word
vocabulary and 2,000 64-d embeddings. The benchmark generates them rather
than reading those tables because it runs in a bare checkout, which
holds only what git tracks.

``write_corpus`` writes the curation corpus: a base ``documents`` /
``embeddings`` pair replicated with the construction of
``scripts/make_scale_data.py`` — each replica renames a seed-chosen subset
of the vocabulary through a bijection (within-replica token-set Jaccard is
unchanged, cross-replica Jaccard collapses) and rotates every vector by the
replica index (norms and within-replica cosines are unchanged).

Every value comes from ``numpy.random.default_rng(seed)``; the same seed
gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]
EMB_DIM = 64
N_LABELS = 10

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the sf test tables: scan parallelism
    # then comes from tables.ensure_parallelism, as it does there
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, n_days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _labels(prefix: str, ids: np.ndarray, width: int) -> list[str]:
    return [f"{prefix}{i:0{width}d}" for i in ids.tolist()]


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Docs of 10-99 tokens over a 30-word vocabulary; ~5% are a copy of
    an earlier doc plus a ``dup`` token and ~0.2% exact copies, so every
    dedup operator has true positives."""
    lengths = rng.integers(10, 100, n)
    tokens = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(vocab[tokens[bounds[i]:bounds[i + 1]]]) for i in range(n)]
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ten label centres; ~3% are near-copies of an
    earlier vector (cosine > 0.99) for the near-duplicate operators."""
    labels = rng.integers(0, N_LABELS, n)
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    vecs = centres[labels] * 0.35 + rng.normal(0.0, 1.0, (n, EMB_DIM))
    near = np.flatnonzero(rng.random(n) < 0.03)
    near = near[near > 0]
    src = rng.integers(0, near)
    vecs[near] = vecs[src] + rng.normal(0.0, 0.02, (len(near), EMB_DIM))
    labels[near] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1) * EMB_DIM, pa.int32()), flat
        ),
        "label": pa.array(labels, pa.int32()),
    })


def write_sf_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables at scale factor ``sf``; returns row
    counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(100, int(15_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust)
    tables["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": pa.array(_labels("Customer#", ck, 9)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp)
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": pa.array(_labels("Supplier#", sk, 9)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj.tolist(), noun.tolist())]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, 2500, n_line),
    })
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * _US_PER_DAY, n_evt))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(np.round(rng.gamma(2.0, 40.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt).tolist()]),
    })
    tables["documents"] = documents_table(rng, n_docs)
    tables["embeddings"] = embeddings_table(rng, n_vecs)
    for name, table in tables.items():
        _write(table, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


def write_corpus(
    out_dir: str, seed: int, base_docs: int, base_vecs: int, replicas: int
) -> dict[str, int]:
    """Write ``documents`` and ``embeddings`` as ``replicas`` renamed /
    rotated copies of a seeded base corpus; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    docs = documents_table(rng, base_docs)
    vecs = embeddings_table(rng, base_vecs)
    texts = docs.column("text").to_pylist()
    base_emb = vecs.column("embedding").to_numpy(zero_copy_only=False)
    base_emb = np.stack(base_emb) if len(base_emb) else np.zeros((0, EMB_DIM))
    doc_parts, vec_parts = [], []
    for rep in range(replicas):
        # seed-salted bijection on token space: a renamed token never
        # collides with an original one or with another replica's
        words = VOCAB + ["dup"]
        renamed = rng.random(len(words)) < 2 / 3
        mapping = {
            w: (f"{w}r{rep}s{seed % 997}" if rep and renamed[i] else w)
            for i, w in enumerate(words)
        }
        rep_texts = [" ".join(mapping[w] for w in t.split(" ")) for t in texts]
        doc_parts.append(docs.set_column(
            1, "text", pa.array(rep_texts, pa.string())
        ).set_column(
            0, "doc_id", pa.array(np.arange(base_docs) + rep * base_docs, pa.int64())
        ).set_column(
            4, "n_chars", pa.array([len(t) for t in rep_texts], pa.int64())
        ))
        rotated = np.roll(base_emb, rep, axis=1).astype(np.float32)
        vec_parts.append(pa.table({
            "vec_id": pa.array(np.arange(base_vecs) + rep * base_vecs, pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(base_vecs + 1) * EMB_DIM, pa.int32()),
                pa.array(rotated.ravel(), pa.float32()),
            ),
            "label": vecs.column("label"),
        }))
    out = {
        "documents": pa.concat_tables(doc_parts),
        "embeddings": pa.concat_tables(vec_parts),
    }
    for name, table in out.items():
        _write(table, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in out.items()}
