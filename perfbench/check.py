"""Independent references for every benchmark operation.

Nothing here calls the engine: Cypher reads are answered from a model
of the graph built with DuckDB (the KNOWS ring is derived with the
engine's published ``KNOWS_CTES`` text) and updated by replaying the
stream's writes; k-NN is a numpy brute-force cosine top-10; the graph
algorithms are numpy re-implementations of their documented fixpoints;
curation is checked against the generator's injected ground truth.
"""

from __future__ import annotations

import os
from collections import deque

import duckdb
import numpy as np
import pyarrow.parquet as pq

from ops import CUSTOMER_BASE, DOCUMENT_BASE, FOF_HOPS

NATION_BASE = 2_000_000_000
SUPPLIER_BASE = 4_000_000_000
PART_BASE = 5_000_000_000
ORDER_BASE = 6_000_000_000


def _r(x):
    return round(float(x), 6) if isinstance(x, float) else x


def rows_of(rows) -> list[tuple]:
    """Engine rows as plain tuples with floats rounded to 6 places."""
    return [tuple(_r(v) for v in r) for r in rows]


class CypherModel:
    """The client's own model of the graph: base customers, the KNOWS
    ring plus merged edges, created nodes, and the Document vectors."""

    def __init__(self, base: str, knows_ctes: str):
        self.base = base
        self.con = duckdb.connect()
        for t in ("customer", "orders"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base}/{t}.parquet')"
            )
        self.cust = {
            CUSTOMER_BASE + k: [n, b, s]
            for k, n, b, s in self.con.execute(
                "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer"
            ).fetchall()
        }
        self.adj: dict[int, set] = {}
        ring = self.con.execute(f"WITH {knows_ctes} SELECT src, dst FROM knows").fetchall()
        for a, b in ring:
            self._link(a, b)
        self.n_knows = len(ring)
        self.created: dict[str, list] = {}
        t = pq.read_table(os.path.join(base, "embeddings.parquet")).to_pydict()
        self.emb_ids = np.asarray(t["vec_id"], dtype=np.int64) + DOCUMENT_BASE
        self.emb = np.asarray(t["embedding"], dtype=np.float64)
        self._agg: dict[float, list] = {}

    def _link(self, a: int, b: int) -> bool:
        if b in self.adj.get(a, ()):
            return False
        self.adj.setdefault(a, set()).add(b)
        self.adj.setdefault(b, set()).add(a)
        return True

    def apply(self, op) -> None:
        p = op.params
        if op.kind == "set":
            self.cust[p["me"]][1] = p["bal"]
        elif op.kind == "create":
            self.created[p["name"]] = [p["bal"], p["seg"]]
        elif op.kind == "merge":
            self.n_knows += self._link(p["a"], p["b"])
        elif op.kind == "delete":
            self.created.pop(p["name"])

    def expect(self, op) -> list[tuple]:
        p = op.params
        k = op.kind
        if k == "point":
            return [tuple(self.cust[p["me"]])]
        if k == "ryw":
            c = self.created.get(p["name"])
            return [tuple(c)] if c else []
        if k == "hop":
            return [(f,) for f in sorted(self.adj.get(p["me"], ()))]
        if k == "agg":
            t = p["t"]
            if t not in self._agg:
                self._agg[t] = rows_of(self.con.execute(
                    "SELECT c_name AS name, count(*) AS n_orders, "
                    "round(sum(o_totalprice), 2) AS total_spent "
                    "FROM customer JOIN orders ON o_custkey = c_custkey "
                    f"WHERE o_totalprice > {t} GROUP BY c_name "
                    "ORDER BY total_spent DESC, name LIMIT 10"
                ).fetchall())
            return self._agg[t]
        if k == "fof":
            depth = self._bfs(p["me"], FOF_HOPS)
            hits = sorted(
                (self.cust[f][0], f) for f in depth
                if f != p["me"] and self.cust[f][2] == "BUILDING"
            )[:20]
            return [(f, n, _r(self.cust[f][1])) for n, f in hits]
        if k == "knn":
            q = np.asarray(p["q"], dtype=np.float64)
            sims = self.emb @ q / (np.linalg.norm(self.emb, axis=1) * np.linalg.norm(q))
            top = np.lexsort((self.emb_ids, -sims))[:10]
            return [(int(self.emb_ids[i]), round(float(sims[i]), 5)) for i in top]
        raise ValueError(k)

    def _bfs(self, src: int, max_depth: int) -> dict:
        depth = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            if depth[u] == max_depth:
                continue
            for v in self.adj.get(u, ()):
                if v not in depth:
                    depth[v] = depth[u] + 1
                    q.append(v)
        return depth


def normalize(op, rows) -> list[tuple]:
    """Engine output of one read in the shape ``CypherModel.expect`` uses."""
    if op.kind == "knn":
        return [(int(r["node"]["id"]), round(float(r["score"]), 5)) for r in rows]
    return rows_of(rows)


def same(op, got: list[tuple], want: list[tuple]) -> bool:
    if op.kind != "knn":
        return got == want
    return [g[0] for g in got] == [w[0] for w in want] and np.allclose(
        [g[1] for g in got], [w[1] for w in want], atol=2e-5
    )


# ---------------------------------------------------------------- analytics


def edge_arrays(base: str) -> dict:
    """(src, dst, weight) numpy arrays of the two benchmark edge sets, as
    ``loaders.tpch_graph`` projects them."""
    col = lambda t, *c: [  # noqa: E731
        np.asarray(x) for x in pq.read_table(os.path.join(base, f"{t}.parquet"), columns=list(c))
        .to_pydict().values()
    ]
    lo, lp, ls, lq = col("lineitem", "l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    ok, oc = col("orders", "o_orderkey", "o_custkey")
    ck, cn = col("customer", "c_custkey", "c_nationkey")
    sk, sn = col("supplier", "s_suppkey", "s_nationkey")
    large = (
        np.concatenate([lo + ORDER_BASE, lp + PART_BASE]),
        np.concatenate([lp + PART_BASE, ls + SUPPLIER_BASE]),
        np.concatenate([lq, lq]).astype(np.float64),
    )
    src = np.concatenate([oc + CUSTOMER_BASE, ck + CUSTOMER_BASE, sk + SUPPLIER_BASE])
    dst = np.concatenate([ok + ORDER_BASE, cn + NATION_BASE, sn + NATION_BASE])
    small = (src, dst, np.ones(len(src)))
    return {"large": large, "small": small}


def _index(src, dst):
    vid = np.unique(np.concatenate([src, dst]))
    return vid, np.searchsorted(vid, src), np.searchsorted(vid, dst)


def ref_pagerank(src, dst, iterations, damping=0.85):
    vid, si, di = _index(src, dst)
    n = len(vid)
    deg = np.bincount(si, minlength=n).astype(np.float64)
    sink = deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        spread = np.bincount(di, weights=rank[si] / deg[si], minlength=n)
        rank = (1 - damping) / n + damping * (rank[sink].sum() / n + spread)
    return dict(zip(vid.tolist(), rank.tolist()))


def ref_wcc(src, dst):
    vid, si, di = _index(src, dst)
    comp = np.arange(len(vid))
    while True:
        nxt = comp.copy()
        np.minimum.at(nxt, di, comp[si])
        np.minimum.at(nxt, si, comp[di])
        nxt = nxt[nxt]  # pointer jump
        if np.array_equal(nxt, comp):
            return dict(zip(vid.tolist(), vid[comp].tolist()))
        comp = nxt


def ref_cdlp(src, dst, iterations):
    """Synchronous label propagation over the undirected neighbour
    multiset: the most frequent label wins, ties to the smallest."""
    vid, si, di = _index(src, dst)
    n = len(vid)
    who = np.concatenate([di, si])
    nbr = np.concatenate([si, di])
    lab = np.arange(n)
    for _ in range(iterations):
        pair, cnt = np.unique(who * n + lab[nbr], return_counts=True)
        v, label = pair // n, pair % n
        order = np.lexsort((label, -cnt, v))
        v, label = v[order], label[order]
        head = np.r_[True, v[1:] != v[:-1]]
        lab = lab.copy()
        lab[v[head]] = label[head]
    return dict(zip(vid.tolist(), vid[lab].tolist()))


def ref_sssp(src, dst, w, source, unit=False):
    """Undirected shortest distances from ``source`` (hop counts when
    ``unit``) by vectorized Bellman-Ford."""
    vid, si, di = _index(src, dst)
    s = int(np.searchsorted(vid, source))
    w = np.ones(len(si)) if unit else np.asarray(w, dtype=np.float64)
    a, b, ww = np.concatenate([si, di]), np.concatenate([di, si]), np.concatenate([w, w])
    dist = np.full(len(vid), np.inf)
    dist[s] = 0.0
    while True:
        nxt = dist.copy()
        np.minimum.at(nxt, b, dist[a] + ww)
        if np.array_equal(nxt, dist):
            break
        dist = nxt
    hit = np.isfinite(dist)
    return dict(zip(vid[hit].tolist(), dist[hit].tolist()))


def check_algorithm(algo: str, pdf, arrays, source, iterations: dict) -> bool:
    src, dst, w = arrays
    got_ids = pdf["id"].to_numpy()
    if algo == "pagerank":
        ref = ref_pagerank(src, dst, iterations["pagerank"])
        return len(ref) == len(pdf) and np.allclose(
            pdf["rank"].to_numpy(), [ref[i] for i in got_ids], rtol=1e-6, atol=1e-12
        )
    if algo in ("wcc", "cdlp"):
        ref = ref_wcc(src, dst) if algo == "wcc" else ref_cdlp(src, dst, iterations["cdlp"])
        col = "component" if algo == "wcc" else "label"
        return len(ref) == len(pdf) and all(
            ref[i] == c for i, c in zip(got_ids.tolist(), pdf[col].tolist())
        )
    ref = ref_sssp(src, dst, w, source, unit=algo == "bfs")
    col = "depth" if algo == "bfs" else "dist"
    return len(ref) == len(pdf) and np.allclose(
        pdf[col].to_numpy(dtype=np.float64), [ref[i] for i in got_ids], rtol=1e-9
    )
