"""Path algorithms: BFS, weighted SSSP, shortest path length.

Reference semantics: crates/samyama-graph-algorithms/src/pathfinding.rs
(BFS :19, Dijkstra :91) and the shortestPath operator
(src/query/executor/operator.rs:7527).  Dijkstra's priority queue is
inherently sequential; the distributed equivalent is frontier-based
Bellman-Ford relaxation — same fixpoint, O(shortest-path-hops) rounds.
BFS is the same relaxation with unit weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samyama_graph_spark import lifecycle
from samyama_graph_spark.algorithms.util import superstep, symmetrize

# BFS/SSSP settle driver-side under an ELEVATED guard: their fast paths
# are vectorized numpy (int64/float64 arrays, ~16-24 B per edge), not
# Python-object adjacency, so the driver-memory bound that caps the
# other algorithms at DRIVER_EDGE_GUARD sits ~8x higher here.
_VEC_GUARD_MULT = 8


def _csr(src, dst, n):
    """(sorted dst array, indptr) CSR view of an edge index list."""
    import numpy as np

    order = np.argsort(src, kind="stable")
    ss, dd = src[order], dst[order]
    indptr = np.searchsorted(ss, np.arange(n + 1))
    return dd, indptr, order


def _gather(indptr, frontier):
    """Flat neighbor-range gather: for each frontier vertex f, the
    index range indptr[f]..indptr[f+1], concatenated; returns
    (edge indices, per-edge frontier vertex)."""
    import numpy as np

    starts, ends = indptr[frontier], indptr[frontier + 1]
    counts = ends - starts
    total = int(counts.sum())
    if total == 0:
        return None, None
    offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
    idx = np.repeat(starts - offs, counts) + np.arange(total)
    par = np.repeat(frontier, counts)
    return idx, par


def _vec_graph(pdf, directed: bool, source: int, weighted: bool):
    """Collected edge frame -> (vid, CSR arrays) with the source id
    appended to the vertex set (an absent source still yields its own
    one-row result, like the dict paths did)."""
    import numpy as np

    src = pdf.iloc[:, 0].to_numpy(dtype=np.int64, copy=False)
    dst = pdf.iloc[:, 1].to_numpy(dtype=np.int64, copy=False)
    w = (
        pdf.iloc[:, 2].to_numpy(dtype=np.float64, copy=False)
        if weighted
        else None
    )
    if not directed:
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
        if w is not None:
            w = np.concatenate([w, w])
    vid = np.unique(np.concatenate([src, dst, [np.int64(source)]]))
    n = int(vid.size)
    si = np.searchsorted(vid, src)
    di = np.searchsorted(vid, dst)
    dd, indptr, order = _csr(si, di, n)
    ww = w[order] if w is not None else None
    return vid, n, dd, indptr, ww


def _bfs_driver(spark, pdf, source, max_depth, directed):
    """Vectorized multi-level BFS: one masked gather + lexsort per
    level; min-parent determinism matches the distributed loop's
    min(parent) aggregate (vid is sorted, so min index == min id)."""
    import numpy as np
    import pandas as pd

    vid, n, dd, indptr, _ = _vec_graph(pdf, directed, source, weighted=False)
    s_idx = int(np.searchsorted(vid, source))
    depth = np.full(n, -1, dtype=np.int64)
    parent = np.full(n, -1, dtype=np.int64)
    depth[s_idx] = 0
    frontier = np.array([s_idx], dtype=np.int64)
    for d in range(1, max_depth + 1):
        idx, par = _gather(indptr, frontier)
        if idx is None:
            break
        neigh = dd[idx]
        mask = depth[neigh] < 0
        neigh, par = neigh[mask], par[mask]
        if neigh.size == 0:
            break
        o2 = np.lexsort((par, neigh))
        nn, pp = neigh[o2], par[o2]
        first = np.ones(nn.size, dtype=bool)
        first[1:] = nn[1:] != nn[:-1]
        nn, pp = nn[first], pp[first]
        depth[nn] = d
        parent[nn] = pp
        frontier = nn
    vis = depth >= 0
    # parent rides as int64 with a -1 "no parent" sentinel and is
    # nulled JVM-side (nullif) — never through float64/NaN, which
    # would silently corrupt vertex ids above 2^53
    par_l = np.where(parent[vis] >= 0, vid[parent[vis]], np.int64(-1))
    out = pd.DataFrame(
        {"id": vid[vis], "depth": depth[vis], "parent": par_l}
    )
    return spark.createDataFrame(
        out, "id long, depth int, parent long"
    ).select(
        "id",
        "depth",
        F.nullif(F.col("parent"), F.lit(-1)).alias("parent"),
    )


def _sssp_driver(spark, pdf, source, max_rounds, directed):
    """Vectorized frontier Bellman-Ford: per round one gather + one
    (dist, parent) struct-min lexsort; strict-improvement rule and
    tie-break identical to the distributed loop and the previous
    dict-based path."""
    import numpy as np
    import pandas as pd

    vid, n, dd, indptr, ww = _vec_graph(pdf, directed, source, weighted=True)
    s_idx = int(np.searchsorted(vid, source))
    dist = np.full(n, np.inf)
    parent = np.full(n, -1, dtype=np.int64)
    dist[s_idx] = 0.0
    frontier = np.array([s_idx], dtype=np.int64)
    for _ in range(max_rounds):
        idx, par = _gather(indptr, frontier)
        if idx is None:
            break
        cand_v = dd[idx]
        cand_d = dist[par] + ww[idx]
        # min (d, p) per v: lexsort keys are least-significant first
        o2 = np.lexsort((par, cand_d, cand_v))
        vv, dc, pp = cand_v[o2], cand_d[o2], par[o2]
        first = np.ones(vv.size, dtype=bool)
        first[1:] = vv[1:] != vv[:-1]
        vv, dc, pp = vv[first], dc[first], pp[first]
        imp = dc < dist[vv]
        vv, dc, pp = vv[imp], dc[imp], pp[imp]
        if vv.size == 0:
            break
        dist[vv] = dc
        parent[vv] = pp
        frontier = vv
    vis = np.isfinite(dist)
    # int64 -1 sentinel + JVM-side nullif, as in _bfs_driver (ids
    # above 2^53 survive intact)
    par_l = np.where(parent[vis] >= 0, vid[parent[vis]], np.int64(-1))
    out = pd.DataFrame(
        {"id": vid[vis], "dist": dist[vis], "parent": par_l}
    )
    return spark.createDataFrame(
        out, "id long, dist double, parent long"
    ).select(
        "id",
        "dist",
        F.nullif(F.col("parent"), F.lit(-1)).alias("parent"),
    )


def _relax(col: str):
    """Frontier Bellman-Ford superstep over ``(id, <col>, parent,
    chg)``: each vertex takes the least ``(cost, parent)`` candidate its
    changed in-neighbors offer and stays active only on a strict
    improvement; unreached vertices join the state as they are
    reached."""

    def step(joined: DataFrame, state: DataFrame) -> DataFrame:
        cand = (
            joined.select(
                F.col("dst").alias("id"),
                # least cost, parent as the deterministic tie-break
                F.struct(
                    (F.col(col) + F.col("w")).alias("d"),
                    F.col("src").alias("p"),
                ).alias("dp"),
            )
            .groupBy("id")
            .agg(F.min("dp").alias("dp"))
        )
        better = F.col("dp").isNotNull() & (
            F.col(col).isNull() | (F.col("dp.d") < F.col(col))
        )
        return state.join(cand, "id", "full_outer").select(
            "id",
            F.when(better, F.col("dp.d")).otherwise(F.col(col)).alias(col),
            F.when(better, F.col("dp.p"))
            .otherwise(F.col("parent"))
            .alias("parent"),
            better.alias("chg"),
        )

    return step


def _shortest_paths(name, edges, view, source, col, rounds, driver, directed):
    """Run :func:`_relax` from ``source`` over the ``(src, dst, w)``
    edge ``view``; ``edges`` is what the driver fast path reads."""
    spark = edges.sparkSession
    source = int(source)
    return superstep(
        name,
        edges,
        lambda e: spark.createDataFrame(
            [(source, 0.0, None, True)],
            f"id long, {col} double, parent long, chg boolean",
        ),
        _relax(col),
        rounds=rounds,
        driver=lambda pdf: driver(spark, pdf, source, rounds, directed),
        guard_mult=_VEC_GUARD_MULT,
        view=view,
        active="chg",
    )


def bfs(
    edges: DataFrame,
    source: int,
    max_depth: int = 30,
    directed: bool = True,
    parents: bool = False,
) -> DataFrame:
    """Unweighted BFS from one source: ``(id, depth)`` for reachable ids
    (plus a deterministic min-``parent`` column when ``parents=True``).

    The distributed path relaxes unit weights: a vertex is improved
    exactly once, in the round of its first reach, with the least
    parent among the previous level — the reference's visited-set BFS
    (operator.rs:3003).  Small graphs settle the same levels on the
    driver, like the reference's sequential BFS (pathfinding.rs:19).
    """

    def view(e):
        e = e if directed else symmetrize(e)
        return e.withColumn("w", F.lit(1.0))

    out = _shortest_paths(
        "bfs", edges.select("src", "dst"), view, source, "depth", max_depth,
        _bfs_driver, directed,
    ).select("id", F.col("depth").cast("int").alias("depth"), "parent")
    return out if parents else out.select("id", "depth")


def sssp(
    edges: DataFrame,
    source: int,
    weight_col: str = "weight",
    max_rounds: int = 50,
    directed: bool = True,
    parents: bool = False,
) -> DataFrame:
    """Weighted single-source shortest paths: ``(id, dist)`` (plus the
    predecessor on a min-cost path as ``parent`` when ``parents=True``).

    Frontier Bellman-Ford: only vertices whose distance improved last
    round propagate relaxations.  Converges to Dijkstra's fixpoint for
    non-negative weights.  Edges whose weight is null, NaN or infinite
    are dropped.  Small graphs run the same relaxation on the driver
    (the reference's Dijkstra is sequential, pathfinding.rs:91), with
    the same (dist, parent) tie-break and strict-improvement rule.
    """
    w = F.col(weight_col).cast("double")
    # abs(w) < inf is false for NaN and +-inf and null for null
    weighted = edges.select("src", "dst", w.alias("w")).filter(
        F.abs("w") < F.lit(float("inf"))
    )

    def view(e):
        if directed:
            return e
        return e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )

    out = _shortest_paths(
        "sssp", weighted, view, source, "dist", max_rounds, _sssp_driver,
        directed,
    ).select("id", "dist", "parent")
    return out if parents else out.select("id", "dist")


def shortest_path_length(
    edges: DataFrame,
    source: int,
    target: int,
    max_depth: int = 30,
    directed: bool = True,
) -> int | None:
    """Hop count of the shortest path source->target (None if unreachable).
    Cypher: MATCH p = shortestPath((a)-[*]->(b)) RETURN length(p)."""
    reached = bfs(edges, source, max_depth=max_depth, directed=directed)
    row = reached.filter(F.col("id") == target).select("depth").first()
    return None if row is None else int(row[0])


def shortest_path_with_cost(
    edges: DataFrame,
    source: int,
    target: int,
    weight_col: str | None = None,
    max_rounds: int = 30,
    directed: bool = True,
) -> tuple[list[int], float] | None:
    """One shortest path source->target as ``([node ids], cost)``, or
    None if unreachable — the record shape of ``CALL algo.shortestPath``
    / ``algo.weightedPath`` (operator.rs:6381-6432, :6577-6620: YIELD
    path, cost).  Unweighted cost = hop count; weighted = sum of weights
    (Dijkstra fixpoint).

    The frontier search is fully distributed; only the O(path length)
    backward walk over the cached parents table runs point lookups.
    """
    if weight_col is None:
        state = bfs(
            edges, source, max_depth=max_rounds, directed=directed, parents=True
        ).select("id", F.col("depth").cast("double").alias("cost"), "parent")
    else:
        state = sssp(
            edges, source, weight_col,
            max_rounds=max_rounds, directed=directed, parents=True,
        ).select("id", F.col("dist").alias("cost"), "parent")
    with lifecycle.scope(state.sparkSession):
        state = lifecycle.pin(state, eager=False)
        row = state.filter(F.col("id") == target).first()
        if row is None:
            return None
        cost = float(row["cost"])
        path = [target]
        cur = row["parent"]
        while cur is not None:
            path.append(int(cur))
            if cur == source:
                break
            nxt = state.filter(F.col("id") == cur).first()
            cur = None if nxt is None else nxt["parent"]
        return path[::-1], cost
