"""Seeded input generation for the benchmark.

Two kinds of input:

* the *base* dataset: a TPC-H-shaped star schema (region, nation,
  customer, supplier, part, orders, lineitem) plus documents and their
  embeddings, in the parquet layout ``loaders.tpch_graph`` reads.  It
  depends only on ``BASE_SEED`` and is written once per checkout, then
  reused, so every workload and seed runs against the same graph.
* the per-run *corpus*: documents with a seeded share of gate-failing,
  exact-duplicate and near-duplicate rows, and embeddings with seeded
  near-duplicate vectors.  The generator returns the ground truth the
  curation checks compare against.

Only numpy and pyarrow are used, so the inputs can be made before Spark
starts.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20140901
BASE_VERSION = "base-v2"

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDER = 65_000
# lineitem = 260k rows -> CONTAINS + SUPPLIED_BY = 520k edges, just above the
# algorithms' 500k-edge driver fast-path guard
LINES_PER_ORDER = 4
N_DOCUMENT = 3_000
N_EMBEDDING = 2_000
DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = [
    f"{a}{b}"
    for a in ("spark", "graph", "node", "edge", "query", "plan", "scan", "join",
              "sort", "hash", "batch", "stream", "table", "row", "column", "key")
    for b in ("", "s", "er", "ing", "ed", "ly", "al", "ion", "ous", "ive", "ant",
              "ent", "ism")
]
DAY_US = 86_400 * 1_000_000
EPOCH_1992_US = 694_224_000 * 1_000_000  # 1992-01-01T00:00:00Z


def _write(path: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), path)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_1992_US + days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def base_dir(root: str) -> str:
    """Write the base dataset under ``root`` once; return its directory."""
    out = os.path.join(root, BASE_VERSION)
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _write_base(np.random.default_rng(BASE_SEED), tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    try:
        os.rename(tmp, out)  # out only ever appears complete
    except OSError:  # another run finished writing the same data first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _write_base(rng: np.random.Generator, d: str) -> None:
    p = lambda name: os.path.join(d, f"{name}.parquet")  # noqa: E731
    _write(p("region"), {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": [f"REGION{i}" for i in range(5)],
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ck = np.arange(1, N_CUSTOMER + 1)
    _write(p("customer"), {
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    sk = np.arange(1, N_SUPPLIER + 1)
    _write(p("supplier"), {
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
    })
    pk = np.arange(1, N_PART + 1)
    _write(p("part"), {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [" ".join(_words(rng, 3)) for _ in pk],
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (N_PART, 2))],
        "p_type": [f"TYPE{i}" for i in rng.integers(0, 30, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + pk / 10 % 200 + (pk % 1000), 2),
    })
    ok = np.arange(1, N_ORDER + 1)
    # two thirds of customers place orders, as in TPC-H
    placers = ck[ck % 3 != 0]
    odays = rng.integers(0, 2400, N_ORDER)
    _write(p("orders"), {
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.choice(placers, N_ORDER), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDER)],
        "o_totalprice": np.round(rng.gamma(2.0, 75_000.0, N_ORDER) + 900, 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDER)],
    })
    n_li = N_ORDER * LINES_PER_ORDER
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(p("lineitem"), {
        "l_orderkey": pa.array(np.repeat(ok, LINES_PER_ORDER), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, N_PART + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, N_SUPPLIER + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, LINES_PER_ORDER + 1), N_ORDER), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odays, LINES_PER_ORDER) + rng.integers(1, 122, n_li)),
    })
    texts = [" ".join(_words(rng, int(n))) for n in rng.integers(30, 90, N_DOCUMENT)]
    _write(p("documents"), {
        "doc_id": pa.array(np.arange(N_DOCUMENT), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, N_DOCUMENT)],
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCUMENT)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((N_EMBEDDING, DIM)).astype(np.float32)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(N_EMBEDDING), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDING), pa.int32()),
    })


@dataclass
class Corpus:
    """A generated curation input and its ground truth."""

    docs_path: str
    embs_path: str
    n_docs: int
    n_vecs: int
    gate_kept: set      # doc ids that pass the hygiene gate
    exact_kept: set     # the lowest id of each distinct text among them
    survivors: set      # doc ids left after exact + near dedup
    vec_src: dict       # injected near-duplicate vector id -> its source


def corpus(seed: int, out_dir: str, n_base: int = 1_000, n_vec: int = 800) -> Corpus:
    """Documents with seeded gate failures, exact and near duplicates.

    Base documents are random word sequences, so no two of them are
    near duplicates; every injected duplicate gets an id above the
    base range, which makes its original the survivor of its cluster.
    """
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    base = [_words(rng, int(n)) for n in rng.integers(40, 90, n_base)]
    fail = set(rng.choice(n_base, n_base // 20, replace=False).tolist())
    for i in fail:
        # alternate the two gate rules: too short, or one repeated bigram
        base[i] = base[i][:12] if i % 2 else base[i][:2] * 20
    ok_ids = [i for i in range(n_base) if i not in fail]
    texts = [" ".join(w) for w in base]
    ids = list(range(n_base))
    n_exact, n_near = n_base // 10, n_base // 10
    for src in rng.choice(ok_ids, n_exact).tolist():
        ids.append(len(ids))
        texts.append(texts[src])
    for src in rng.choice(ok_ids, n_near).tolist():
        w = list(base[src])
        w[int(rng.integers(0, len(w)))] = "zzz"  # one token edit: Jaccard >= 0.9
        ids.append(len(ids))
        texts.append(" ".join(w))
    docs_path = os.path.join(out_dir, "corpus.parquet")
    _write(docs_path, {
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, len(ids))],
    })
    vec = rng.standard_normal((n_vec, DIM)).astype(np.float32)
    n_dup = n_vec // 10
    src = rng.choice(n_vec, n_dup, replace=False)
    noise = 0.01 * rng.standard_normal((n_dup, DIM)).astype(np.float32)
    allv = np.concatenate([vec, vec[src] + noise])
    embs_path = os.path.join(out_dir, "vectors.parquet")
    _write(embs_path, {
        "vec_id": pa.array(np.arange(len(allv)), pa.int64()),
        "embedding": pa.array(list(allv), pa.list_(pa.float32())),
    })
    gate_kept = {i for i in ids if i not in fail}
    first: dict[str, int] = {}
    for i in sorted(gate_kept):
        first.setdefault(texts[i], i)
    return Corpus(
        docs_path, embs_path, len(ids), len(allv),
        gate_kept=gate_kept,
        exact_kept=set(first.values()),
        survivors=set(ok_ids),
        vec_src=dict(zip(range(n_vec, len(allv)), src.tolist())),
    )
