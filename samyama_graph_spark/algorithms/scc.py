"""Strongly connected components.

Reference: community.rs:96 (Tarjan-style sequential SCC).  The
distributed formulation is iterative forward-backward coloring: let
fwd(v) = min id among vertices that can REACH v (min-label propagation
along edge direction) and bwd(v) = min id among vertices v can reach
(propagation along reversed edges).  Vertices with fwd(v) == bwd(v) == m
form exactly the SCC containing m (m reaches v and v reaches m);
settled vertices are removed and the process repeats on the remainder.
Each phase is a WCC-style min-propagation loop, so the total work is
O(settle_rounds * diameter) shuffles — fine for graphs whose SCC
structure collapses quickly, documented as the scale trade-off
(Tarjan is inherently sequential; this is the standard distributed
compromise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samyama_graph_spark.algorithms import util
from samyama_graph_spark.algorithms.components import min_label_step
from samyama_graph_spark.algorithms.util import (
    checkpoint,
    edges_pdf_if_small,
    iteration_scope,
    superstep,
    vertices_from_edges,
)


def _tarjan_components(edge_rows) -> dict:
    """Iterative Tarjan over a collected edge list: {vertex: min id of
    its SCC}.  Runs driver-side under the size guard — the reference's
    own execution model (community.rs:96 is sequential Tarjan).  SCC
    membership is unique, so this is exactly the distributed result."""
    adj: dict = {}
    verts: set = set()
    for s, d in edge_rows:
        adj.setdefault(s, []).append(d)
        verts.add(s)
        verts.add(d)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp: dict = {}
    counter = 0
    for root in verts:
        if root in index:
            continue
        # explicit DFS stack of (vertex, iterator position)
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            nbrs = adj.get(v, ())
            recursed = False
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recursed = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recursed:
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp[w] = m
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    return comp


def _reach_labels(
    e: DataFrame, verts: DataFrame, max_rounds: int
) -> DataFrame:
    """``(id, f, b)``: the min id that reaches v / that v reaches.

    The edges and their reverses form one graph whose vertices are
    ``(direction, id)`` pairs, so forward and backward min-label
    propagation (WCC's step, directed) share each round's join and
    action.  The fixpoint test runs every 3 rounds."""

    def vid(d: int, c: str):
        return F.struct(F.lit(d).alias("d"), F.col(c).alias("v"))

    both = e.select(vid(0, "src").alias("src"), vid(0, "dst").alias("dst"))
    both = both.unionByName(
        e.select(vid(1, "dst").alias("src"), vid(1, "src").alias("dst"))
    )

    def start(_):
        return verts.select(
            vid(0, "id").alias("id"), F.col("id").alias("label")
        ).unionByName(
            verts.select(vid(1, "id").alias("id"), F.col("id").alias("label"))
        ).withColumn("chg", F.lit(True))

    labels = superstep(
        "scc", both, start, min_label_step,
        rounds=max_rounds, active="chg", halt_every=3,
    )

    def side(d: int, name: str) -> DataFrame:
        return labels.filter(F.col("id.d") == d).select(
            F.col("id.v").alias("id"), F.col("label").alias(name)
        )

    return side(0, "f").join(side(1, "b"), "id")


def scc(
    edges: DataFrame, max_outer: int = 20, max_inner: int = 50
) -> DataFrame:
    """``(id, component)`` where component is the minimum vertex id of
    the strongly connected component.

    Under ``util.DRIVER_EDGE_GUARD`` edges (read at call time; one
    bounded Arrow probe) the fixpoint runs as sequential
    Tarjan on the driver — exactly the reference's execution model
    (community.rs:96) and orders of magnitude fewer scheduled jobs than
    the settle loop on a small graph.  Above the guard, distributed
    forward-backward coloring.
    """
    spark = edges.sparkSession
    if util.DRIVER_EDGE_GUARD > 0:
        pdf = edges_pdf_if_small(
            edges.select("src", "dst"), util.DRIVER_EDGE_GUARD
        )
        if pdf is not None:
            # Python scalars: createDataFrame rejects numpy ones
            comp = _tarjan_components(pdf.itertuples(index=False, name=None))
            if not comp:
                return spark.createDataFrame([], "id long, component long")
            return spark.createDataFrame(
                sorted(comp.items()), "id long, component long"
            )
    with iteration_scope(spark, edges):
        e_all = checkpoint(edges.select("src", "dst").distinct(), eager=False)
        remaining = checkpoint(vertices_from_edges(edges), eager=False)
        result: DataFrame | None = None

        for _ in range(max_outer):
            ids = remaining.select("id")
            e = (
                e_all.join(ids, e_all["src"] == ids["id"], "left_semi")
                .join(ids, F.col("dst") == ids["id"], "left_semi")
            )
            # ONE probe job doubles as the termination test AND the
            # singleton fast path: remaining empty => e empty => done; e
            # empty with vertices left => every leftover is its own SCC
            # (the common tail after the big components peel), settled
            # in bulk without another propagation loop.
            if e.limit(1).count() == 0:
                singles = remaining.select(
                    "id", F.col("id").alias("component")
                )
                result = (
                    singles if result is None else result.unionByName(singles)
                )
                break
            fb = _reach_labels(e, remaining, max_inner)
            settled = (
                fb.filter(F.col("f") == F.col("b"))
                .select("id", F.col("f").alias("component"))
            )
            settled = checkpoint(settled, eager=False)
            result = settled if result is None else result.unionByName(settled)
            remaining = checkpoint(
                remaining.join(settled.select("id"), "id", "left_anti"),
                eager=False,
            )
    if result is None:
        result = spark.createDataFrame([], "id long, component long")
    return result
