"""Algorithm correctness on hand-computed fixtures (the reference's
unit-test style: small graphs with exact expected outputs, cf. its
crates/samyama-graph-algorithms test modules and Graphalytics
validation)."""

from __future__ import annotations

import importlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from samyama_graph_spark.algorithms import (
    bfs,
    cdlp,
    lcc,
    pagerank,
    shortest_path_length,
    sssp,
    triangle_count,
    wcc,
)
from samyama_graph_spark.operators import var_length_expand


@pytest.fixture(scope="module")
def tri_graph(spark):
    # triangle 1-2-3 plus a tail 3-4, plus isolated pair 5-6
    return spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)], "src long, dst long"
    )


@pytest.fixture(scope="module")
def chain(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )


def test_triangle_count(spark, tri_graph):
    assert triangle_count(tri_graph) == 1


def test_lcc(spark, tri_graph):
    got = {r["id"]: r["lcc"] for r in lcc(tri_graph).collect()}
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == pytest.approx(1.0 / 3.0)
    assert got[4] == 0.0
    assert got[5] == 0.0


def test_lcc_directed_vs_python_reference(spark):
    """Differential test for directed LCC (reference lcc.rs:42): a
    seeded random directed graph, checked against a literal
    ordered-neighbor-pair implementation of the reference kernel."""
    import random

    rng = random.Random(7)
    n = 40
    edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(220)}
    edges = {(u, v) for u, v in edges if u != v}

    nbrs: dict[int, set[int]] = {i: set() for i in range(n)}
    for u, v in edges:
        nbrs[u].add(v)
        nbrs[v].add(u)
    expect = {}
    for v in range(n):
        d = len(nbrs[v])
        if d < 2:
            if d > 0:
                expect[v] = 0.0
            continue
        td = sum(
            1
            for u in nbrs[v]
            for w in nbrs[v]
            if u != w and (u, w) in edges
        )
        expect[v] = td / (d * (d - 1))

    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {r["id"]: r["lcc"] for r in lcc(df, directed=True).collect()}
    assert set(got) == set(expect)
    for v, e in expect.items():
        assert got[v] == pytest.approx(e), f"vertex {v}"


def test_lcc_directed_double_edges(spark):
    """A reciprocal pair inside a triangle counts twice in the
    numerator: 1->2->3->1 plus 2->1 gives vertex 3 both ordered pairs
    (1,2) and (2,1), so lcc(3) = 2/(2*1) = 1, while vertices 1 and 2
    see only one direction between their neighbors: 1/(2*1)."""
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1)], "src long, dst long"
    )
    got = {r["id"]: r["lcc"] for r in lcc(df, directed=True).collect()}
    assert got[3] == pytest.approx(1.0)
    assert got[1] == pytest.approx(0.5)
    assert got[2] == pytest.approx(0.5)


def test_wcc(spark, tri_graph):
    got = {r["id"]: r["component"] for r in wcc(tri_graph).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}


def test_bfs_depths(spark, chain):
    got = {r["id"]: r["depth"] for r in bfs(chain, 1).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_undirected(spark, chain):
    got = {r["id"]: r["depth"] for r in bfs(chain, 3, directed=False).collect()}
    assert got == {3: 0, 2: 1, 4: 1, 1: 2}


def test_sssp(spark):
    # 1->2 (1.0), 2->3 (1.0), 1->3 (5.0): shortest 1->3 is 2.0 via 2
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 5.0)], "src long, dst long, weight double"
    )
    got = {r["id"]: r["dist"] for r in sssp(e, 1).collect()}
    assert got == {1: 0.0, 2: 1.0, 3: 2.0}


def test_shortest_path_length(spark, chain):
    assert shortest_path_length(chain, 1, 4) == 3
    assert shortest_path_length(chain, 4, 1) is None
    assert shortest_path_length(chain, 4, 1, directed=False) == 3


def test_pagerank_vs_numpy(spark, tri_graph):
    """Independent oracle: dense power iteration in numpy with the same
    semantics (uniform init, dangling redistribution)."""
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)]
    ids = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out_deg = {v: 0 for v in ids}
    for s, _ in edges:
        out_deg[s] += 1
    r = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(10):
        nxt = np.zeros(n)
        dangling = sum(r[idx[v]] for v in ids if out_deg[v] == 0)
        for s, t in edges:
            nxt[idx[t]] += r[idx[s]] / out_deg[s]
        r = (1 - d) / n + d * nxt + d * dangling / n
    expected = {v: r[idx[v]] for v in ids}

    got = {row["id"]: row["rank"] for row in pagerank(tri_graph, 10).collect()}
    assert set(got) == set(expected)
    for v in ids:
        assert got[v] == pytest.approx(expected[v], rel=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-6)


def test_cdlp_two_cliques(spark):
    # two triangles bridged by one edge: labels converge to clique minima
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    got = {r["id"]: r["label"] for r in cdlp(e, 10).collect()}
    assert got[1] == got[2] == 1
    assert got[5] == got[6]


def test_var_length_expand(spark, chain):
    starts = spark.createDataFrame([(1,), (2,)], "id long")
    got = {
        (r["start"], r["node"]): r["hops"]
        for r in var_length_expand(starts, chain, 1, 2).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 2, (2, 3): 1, (2, 4): 2}


def test_scc(spark):
    from samyama_graph_spark.algorithms import scc

    # cycle 1-2-3-1, chain 3->4, cycle 5<->6
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (5, 6), (6, 5)], "src long, dst long"
    )
    got = {r["id"]: r["component"] for r in scc(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_scc_dag(spark):
    from samyama_graph_spark.algorithms import scc

    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    got = {r["id"]: r["component"] for r in scc(e).collect()}
    assert got == {1: 1, 2: 2, 3: 3}  # every vertex its own SCC


def test_shortest_path_cypher(spark):
    from samyama_graph_spark.cypher import CypherEngine
    from samyama_graph_spark.graph import PropertyGraph

    persons = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], "id long, name string"
    )
    knows = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    eng = CypherEngine(PropertyGraph(spark, {"Person": persons}, {"KNOWS": knows}))
    got = eng.query(
        "MATCH p = shortestPath((a:Person {name:'A'})-[:KNOWS*]->(b:Person {name:'C'})) "
        "RETURN length(p) AS hops"
    ).collect()
    assert got[0]["hops"] == 2


def test_mst(spark):
    from samyama_graph_spark.algorithms.mst import mst, mst_total_weight

    # square 1-2-3-4 with diagonal: MST = three cheapest non-cyclic edges
    e = spark.createDataFrame(
        [
            (1, 2, 1.0), (2, 3, 2.0), (3, 4, 1.0), (4, 1, 5.0), (1, 3, 4.0),
            (5, 6, 0.5),  # separate component
        ],
        "src long, dst long, weight double",
    )
    got = {(r["src"], r["dst"]): r["weight"] for r in mst(e).collect()}
    assert got == {(1, 2): 1.0, (2, 3): 2.0, (3, 4): 1.0, (5, 6): 0.5}
    assert mst_total_weight(e) == 4.5


def test_max_flow(spark):
    from samyama_graph_spark.algorithms.flow import max_flow

    # classic: s=1, t=4; two paths with capacities
    e = spark.createDataFrame(
        [
            (1, 2, 10.0), (1, 3, 5.0), (2, 3, 15.0), (2, 4, 5.0), (3, 4, 10.0),
        ],
        "src long, dst long, capacity double",
    )
    assert max_flow(e, 1, 4) == 15.0


# ------------------------------------------------------------------- PCA


def _numpy_pca(x, k, center=True, scale=False):
    """Reference PCA (pca.rs semantics) via numpy, svd_flip signs."""
    x = np.asarray(x, dtype=np.float64)
    n, d = x.shape
    mean = x.mean(axis=0) if center else np.zeros(d)
    xc = x - mean
    std = np.sqrt((xc * xc).sum(axis=0) / (max(n, 2) - 1)) if scale else np.ones(d)
    safe = np.where(std > 0, std, 1.0)
    xc = xc / safe
    cov = xc.T @ xc / (n - 1 if n > 1 else 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    evals = evals[order]
    proj = xc @ comps.T
    return comps, evals, proj, float(np.trace(cov))


def test_pca_matches_numpy(spark, sf_dir):
    from samyama_graph_spark.algorithms import pca_fit, pca_transform
    from samyama_graph_spark.loaders import load_tables

    embs = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    rows = embs.select("vec_id", "embedding").orderBy("vec_id").collect()
    x = [[float(v) for v in r["embedding"]] for r in rows]

    model = pca_fit(embs, "embedding", n_components=3)
    comps, evals, proj, total = _numpy_pca(x, 3)

    w = np.array(model.components)
    # orthonormal rows
    assert np.allclose(w @ w.T, np.eye(3), atol=1e-8)
    # same eigenvalues / components / ratio as the numpy reference
    assert np.allclose(model.explained_variance, evals, rtol=1e-8)
    assert np.allclose(w, comps, atol=1e-6)
    assert np.allclose(
        model.explained_variance_ratio, evals / total, rtol=1e-8
    )
    assert model.n_samples == len(x) and model.n_features == len(x[0])

    # distributed projection equals the numpy projection, row-aligned
    out = pca_transform(embs, "embedding", model).orderBy("vec_id").collect()
    got = np.array([r["pc"] for r in out])
    assert np.allclose(got, proj, atol=1e-8)


def test_pca_scale_option(spark, sf_dir):
    from samyama_graph_spark.algorithms import pca_fit
    from samyama_graph_spark.loaders import load_tables

    embs = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    rows = embs.select("embedding").collect()
    x = [[float(v) for v in r["embedding"]] for r in rows]

    model = pca_fit(embs, "embedding", n_components=2, scale=True)
    comps, evals, _, _ = _numpy_pca(x, 2, scale=True)
    assert np.allclose(model.explained_variance, evals, rtol=1e-7)
    assert np.allclose(np.array(model.components), comps, atol=1e-6)
    # scaled covariance is a correlation matrix: eigenvalues sum to <= d
    assert sum(model.explained_variance_ratio) <= 1.0 + 1e-9


def test_cdlp_reciprocal_multiset(spark):
    # reference cdlp.rs:84-120 counts successors + predecessors as a
    # MULTISET: the reciprocal 2<->3 pair makes label 3 twice as
    # frequent as label 1 at vertex 2 (set semantics would tie-break
    # to 1 instead)
    e = spark.createDataFrame(
        [(2, 3), (3, 2), (1, 2)], "src long, dst long"
    )
    got = {r["id"]: r["label"] for r in cdlp(e, 1).collect()}
    assert got == {1: 2, 2: 3, 3: 2}


def test_iteration_scope_cleans_up_on_exception(spark):
    """An exception inside a fixed-point loop must not leak the
    persisted loop frames (resident-session hygiene)."""
    from pyspark.sql import functions as F

    from samyama_graph_spark.algorithms.util import (
        iteration_scope,
        partitioned,
    )

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    e = spark.range(100).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    try:
        with iteration_scope(spark, 4):
            pe = partitioned(e, "src")
            pe.count()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before
    # and the session confs were restored
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def _random_digraph(
    spark, path, seed, n=40, m=120, self_loops=True, weights=False
):
    """Random edge list written to and read back from parquet: scan
    frames carry real size estimates, so the driver fast paths engage
    (an in-memory frame is sized at the default estimate and never
    does)."""
    import random

    rng = random.Random(seed)
    rows = []
    for _ in range(m):
        s, d = rng.randrange(n), rng.randrange(n)
        if not self_loops and s == d:
            continue
        if weights:
            rows.append((s, d, float(rng.randrange(1, 50))))
        else:
            rows.append((s, d))
    schema = "src long, dst long" + (", weight double" if weights else "")
    return _parquet(spark, path / f"g{seed}", rows, schema)


def _parquet(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).write.parquet(str(path))
    return spark.read.parquet(str(path))


def _spy(monkeypatch, module, name):
    """Wrap ``module.name`` and return the list its calls append to."""
    calls = []
    real = getattr(module, name)

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(module, name, spy)
    return calls


def _distributed(monkeypatch):
    """Force the superstep loops past their driver fast paths."""
    import samyama_graph_spark.algorithms.util as U

    monkeypatch.setattr(U, "DRIVER_EDGE_GUARD", 0)


def test_wcc_driver_and_distributed_paths_agree(spark, tmp_path, monkeypatch):
    """The guarded union-find fast path and the distributed min-id loop
    must return IDENTICAL components — including self-loop-only
    vertices and duplicate edges (the review-found divergence class)."""
    from samyama_graph_spark.algorithms import components, wcc

    ran = _spy(monkeypatch, components, "driver_union_find")
    for seed in (1, 2, 3):
        edges = _random_digraph(spark, tmp_path, seed)
        ran.clear()
        fast = sorted(map(tuple, wcc(edges).collect()))
        assert ran
        with monkeypatch.context() as m:
            _distributed(m)
            dist = sorted(map(tuple, wcc(edges).collect()))
        assert fast == dist, f"seed {seed}"


def test_scc_driver_and_distributed_paths_agree(spark, tmp_path, monkeypatch):
    from samyama_graph_spark.algorithms.scc import scc

    S = importlib.import_module("samyama_graph_spark.algorithms.scc")

    ran = _spy(monkeypatch, S, "_tarjan_components")
    for seed in (4, 5):
        edges = _random_digraph(spark, tmp_path, seed)
        ran.clear()
        fast = sorted(map(tuple, scc(edges).collect()))
        assert ran
        with monkeypatch.context() as m:
            _distributed(m)
            dist = sorted(map(tuple, scc(edges).collect()))
        assert fast == dist, f"seed {seed}"


def test_mst_driver_and_distributed_paths_agree(spark, tmp_path, monkeypatch):
    """Borůvka's per-component min-(weight,src,dst) pick rule is shared
    by both paths, so the chosen forests must be identical even under
    duplicate weights."""
    from samyama_graph_spark.algorithms.mst import mst

    M = importlib.import_module("samyama_graph_spark.algorithms.mst")

    ran = _spy(monkeypatch, M, "_boruvka_driver")
    for seed in (6, 7):
        edges = _random_digraph(spark, tmp_path, seed, weights=True)
        ran.clear()
        fast = sorted(map(tuple, mst(edges).collect()))
        assert ran
        with monkeypatch.context() as m:
            _distributed(m)
            dist = sorted(map(tuple, mst(edges).collect()))
        assert fast == dist, f"seed {seed}"


def test_bfs_matches_python_reference(spark, tmp_path, monkeypatch):
    """Distributed frontier BFS == driver-side BFS on random digraphs
    (depths AND deterministic min-parents)."""
    import collections

    from samyama_graph_spark.algorithms import bfs

    _distributed(monkeypatch)
    for seed in (11, 12):
        edges = _random_digraph(spark, tmp_path, seed, n=60, m=200)
        rows = [(r["src"], r["dst"]) for r in edges.collect()]
        adj = collections.defaultdict(list)
        for s, d in rows:
            adj[s].append(d)
        depth = {0: 0}
        parent = {0: None}
        frontier = [0]
        d = 0
        while frontier:
            d += 1
            nxt = {}
            for u in frontier:
                for v in adj[u]:
                    if v not in depth:
                        if v not in nxt or u < nxt[v]:
                            nxt[v] = u
            for v, p in nxt.items():
                depth[v] = d
                parent[v] = p
            frontier = sorted(nxt)
        got = {
            r["id"]: (r["depth"], r["parent"])
            for r in bfs(edges, 0, max_depth=30, parents=True).collect()
        }
        want = {v: (depth[v], parent[v]) for v in depth}
        assert got == want, f"seed {seed}"


def test_sssp_matches_python_dijkstra(spark, tmp_path, monkeypatch):
    """Distributed frontier Bellman-Ford == driver Dijkstra on random
    non-negative integer weights (sums exact in doubles)."""
    import heapq

    from samyama_graph_spark.algorithms import sssp

    _distributed(monkeypatch)
    for seed in (13, 14):
        edges = _random_digraph(
            spark, tmp_path, seed, n=50, m=180, weights=True
        )
        rows = [(r["src"], r["dst"], r["weight"]) for r in edges.collect()]
        adj = {}
        for s, d, w in rows:
            adj.setdefault(s, []).append((d, w))
        dist = {0: 0.0}
        pq = [(0.0, 0)]
        while pq:
            du, u = heapq.heappop(pq)
            if du > dist.get(u, float("inf")):
                continue
            for v, w in adj.get(u, ()):
                nd = du + w
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        got = {
            r["id"]: r["dist"]
            for r in sssp(edges, 0, max_rounds=60).collect()
        }
        assert got == dist, f"seed {seed}"


def test_bfs_sssp_driver_and_distributed_paths_agree(
    spark, tmp_path, monkeypatch
):
    """bfs/sssp pick a driver fast path under DRIVER_EDGE_GUARD (the
    reference's own pathfinding solvers are sequential,
    pathfinding.rs:19/:91); forcing the guard to 0 must route the SAME
    inputs through the distributed frontier loops with identical
    results — depths, dists, and deterministic parents.  Non-finite
    weights are dropped on both paths."""
    import samyama_graph_spark.algorithms.paths as P

    ran_b = _spy(monkeypatch, P, "_bfs_driver")
    ran_s = _spy(monkeypatch, P, "_sssp_driver")
    nan_edges = _parquet(
        spark, tmp_path / "nan", [(0, 1, float("nan")), (1, 2, 1.0)],
        "src long, dst long, weight double",
    )
    for edges, size in (
        (_random_digraph(spark, tmp_path, 21, n=60, m=200, weights=True), 10),
        (nan_edges, 0),
    ):
        ran_b.clear()
        ran_s.clear()
        fast_b = {
            r["id"]: (r["depth"], r["parent"])
            for r in P.bfs(edges, 0, max_depth=30, parents=True).collect()
        }
        fast_s = {
            r["id"]: (r["dist"], r["parent"])
            for r in P.sssp(edges, 0, max_rounds=60, parents=True).collect()
        }
        assert ran_b and ran_s
        with monkeypatch.context() as m:
            _distributed(m)
            slow_b = {
                r["id"]: (r["depth"], r["parent"])
                for r in P.bfs(edges, 0, max_depth=30, parents=True).collect()
            }
            slow_s = {
                r["id"]: (r["dist"], r["parent"])
                for r in P.sssp(
                    edges, 0, max_rounds=60, parents=True
                ).collect()
            }
        assert fast_b == slow_b and len(fast_b) > size
        assert fast_s == slow_s and len(fast_s) > size
    assert fast_s == {0: (0.0, None)}


def test_superstep_job_budget(spark, monkeypatch):
    """Spark jobs per call on the distributed path — launched inside the
    call, then by collecting its result — stay at or under the counts
    measured before the loops shared one superstep kernel.  The edges
    are an in-memory frame, whose default size estimate keeps every
    join a shuffle join, so the counts do not hinge on broadcast
    choices."""
    import random

    from samyama_graph_spark import algorithms as A

    rng = random.Random(21)
    rows = []
    for _ in range(200):
        s, d = rng.randrange(60), rng.randrange(60)
        rows.append((s, d, float(rng.randrange(1, 50))))
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    _distributed(monkeypatch)
    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    budget = [
        ("pagerank", lambda: A.pagerank(edges, iterations=4), 6, 1),
        ("wcc", lambda: A.wcc(edges), 3, 1),
        ("cdlp", lambda: A.cdlp(edges, iterations=3), 4, 1),
        ("bfs", lambda: A.bfs(edges, 0, max_depth=30), 7, 1),
        ("sssp", lambda: A.sssp(edges, 0, max_rounds=60), 9, 1),
        ("scc", lambda: A.scc(edges), 17, 1),
    ]
    for name, call, fn_jobs, collect_jobs in budget:
        a = last_job()
        df = call()
        b = last_job()
        df.collect()
        c = last_job()
        assert b - a <= fn_jobs and c - b <= collect_jobs, (name, b - a, c - b)
    a = last_job()
    A.bfs(edges, 0, max_depth=2).collect()
    assert last_job() - a <= 3


def test_bfs_sssp_driver_ids_above_2_53(spark, tmp_path, monkeypatch):
    """Vertex ids above 2^53 survive the driver fast path intact:
    parents ride as int64 with a -1 sentinel, never through float64
    (r8 advice — NaN-in-double silently corrupted huge ids)."""
    import samyama_graph_spark.algorithms.paths as P

    ran_b = _spy(monkeypatch, P, "_bfs_driver")
    ran_s = _spy(monkeypatch, P, "_sssp_driver")
    big = 2**60 + 12345  # not representable in float64
    edges = _parquet(
        spark, tmp_path / "big", [(1, big, 1.0), (big, 7, 2.0)],
        "src long, dst long, weight double",
    )
    b = {r["id"]: r["parent"] for r in
         P.bfs(edges, 1, max_depth=5, parents=True).collect()}
    assert b == {1: None, big: 1, 7: big}
    s = {r["id"]: (r["dist"], r["parent"]) for r in
         P.sssp(edges, 1, max_rounds=5, parents=True).collect()}
    assert s == {1: (0.0, None), big: (1.0, 1), 7: (3.0, big)}
    assert ran_b and ran_s


def test_pagerank_driver_and_distributed_paths_agree(
    spark, tmp_path, monkeypatch
):
    """The numpy power-iteration fast path under DRIVER_EDGE_GUARD must
    match the distributed one-job-per-iteration loop to well past the
    gate's 6-decimal rounding — including dangling-mass handling
    (sinks) and duplicate/parallel edges."""
    from samyama_graph_spark.algorithms import pagerank

    PR = importlib.import_module("samyama_graph_spark.algorithms.pagerank")

    ran = _spy(monkeypatch, PR, "_pagerank_driver")
    for seed in (5, 6):
        edges = _random_digraph(spark, tmp_path, seed, n=50, m=160)
        ran.clear()
        fast = {
            r["id"]: r["rank"]
            for r in pagerank(edges, iterations=4).collect()
        }
        assert ran
        with monkeypatch.context() as m:
            _distributed(m)
            slow = {
                r["id"]: r["rank"]
                for r in pagerank(edges, iterations=4).collect()
            }
        assert fast.keys() == slow.keys() and len(fast) > 20
        for k in fast:
            assert abs(fast[k] - slow[k]) < 1e-12, (seed, k)
        assert abs(sum(fast.values()) - 1.0) < 1e-9


def test_pagerank_driver_vertices_superset(spark, tmp_path, monkeypatch):
    """Isolated vertices passed via ``vertices`` get base-rank rows on
    the fast path, same as the distributed loop."""
    from samyama_graph_spark.algorithms import pagerank

    PR = importlib.import_module("samyama_graph_spark.algorithms.pagerank")

    ran = _spy(monkeypatch, PR, "_pagerank_driver")
    edges = _parquet(
        spark, tmp_path / "e", [(1, 2), (2, 1)], "src long, dst long"
    )
    verts = _parquet(spark, tmp_path / "v", [(1,), (2,), (9,)], "id long")
    fast = {
        r["id"]: r["rank"]
        for r in pagerank(edges, iterations=3, vertices=verts).collect()
    }
    assert ran
    with monkeypatch.context() as m:
        _distributed(m)
        slow = {
            r["id"]: r["rank"]
            for r in pagerank(edges, iterations=3, vertices=verts).collect()
        }
    assert set(fast) == {1, 2, 9}
    for k in fast:
        assert abs(fast[k] - slow[k]) < 1e-12


def test_cdlp_driver_and_distributed_paths_agree(spark, tmp_path, monkeypatch):
    """The numpy lexsort fast path must reproduce the distributed CDLP
    labels exactly — same smallest-among-most-frequent rule over the
    in+out neighbor multiset, reciprocal edges counted twice."""
    import samyama_graph_spark.algorithms.components as C
    from samyama_graph_spark.algorithms import cdlp

    ran = _spy(monkeypatch, C, "_cdlp_driver")
    for seed in (7, 8):
        edges = _random_digraph(spark, tmp_path, seed, n=50, m=160)
        for iters in (1, 3):
            ran.clear()
            fast = {
                r["id"]: r["label"]
                for r in cdlp(edges, iterations=iters).collect()
            }
            assert ran
            with monkeypatch.context() as m:
                _distributed(m)
                slow = {
                    r["id"]: r["label"]
                    for r in cdlp(edges, iterations=iters).collect()
                }
            assert fast == slow and len(fast) > 20, (seed, iters)


def test_triangle_stats_driver_and_distributed_agree(
    spark, tmp_path, monkeypatch
):
    """The vectorized wedge-closing fast path must match the
    distributed closure join — degrees and per-vertex triangle counts
    — on random graphs with duplicate/reversed edges and self-loops."""
    from samyama_graph_spark.algorithms import topology
    from samyama_graph_spark.algorithms.topology import triangle_stats

    ran = _spy(monkeypatch, topology, "_triangle_stats_driver")
    for seed in (3, 4):
        edges = _random_digraph(spark, tmp_path, seed, n=40, m=200)
        ran.clear()
        fast = {
            r["id"]: (r["deg"], r["triangles"])
            for r in triangle_stats(edges).collect()
        }
        assert ran
        with monkeypatch.context() as m:
            _distributed(m)
            slow = {
                r["id"]: (r["deg"], r["triangles"])
                for r in triangle_stats(edges).collect()
            }
        assert fast == slow and len(fast) > 20, seed
        assert any(t > 0 for _, t in fast.values())


def test_closure_edges_releases_own_pins(spark):
    """Direct callers of the documented-public closure_edges must not
    accumulate cache blocks across calls: each call releases the
    previous call's pins (r10 advice — pins used to free only via the
    triangle_stats / lcc_directed entry points), and the LIVE call's
    pins must be genuinely cached (the r11 race dropped the new entry
    with the dying one when the release was async).

    Asserted on the SET of new persistent-RDD ids plus the live pins'
    storage levels — the former global block-count equality was racy:
    the ContextCleaner may asynchronously reclaim OTHER tests'
    lineage-truncation blocks between baseline and check (observed as
    a spurious off-by-two in full-suite runs only)."""
    from samyama_graph_spark import lifecycle
    from samyama_graph_spark.algorithms import topology

    def rdd_ids() -> set:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    _deg, tris = topology.closure_edges(edges)
    tris.count()
    base_ids = rdd_ids()
    for _ in range(3):
        _deg, tris = topology.closure_edges(edges)
        tris.count()
    # no accumulation: the 3 calls left at most one generation of pins
    new_ids = rdd_ids() - base_ids
    assert len(new_ids) <= 3, sorted(new_ids)
    # the per-session registry holds only the live call's pins...
    pins = lifecycle._held(spark).pins.get(topology._CLOSURE, [])
    assert len(pins) == 3
    # ...and each is actually cached: a pin whose CacheManager entry
    # was dropped (the r11 async-release race) reports StorageLevel
    # NONE here and would silently recompute for every consumer
    for f in pins:
        lvl = f.storageLevel
        assert lvl.useMemory or lvl.useDisk, lvl
