"""Minimum spanning tree (forest) via Borůvka rounds.

Reference: crates/samyama-graph-algorithms/src/mst.rs:41 implements
Prim — inherently sequential (one frontier, one priority queue).  The
distributed equivalent is Borůvka: every component simultaneously
selects its minimum-weight outgoing edge, selected edges merge
components, repeat — O(log V) rounds, each a join + min_by aggregation.
Deterministic tie-breaking orders edges by (weight, src, dst).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samyama_graph_spark.algorithms import util
from samyama_graph_spark.algorithms.util import (
    checkpoint,
    driver_union_find,
    edges_pdf_if_small,
    iteration_scope,
    partitioned,
    vertices_from_edges,
)
from samyama_graph_spark.algorithms.components import wcc


def _boruvka_driver(rows) -> list[tuple[int, int, float]]:
    """Borůvka on a collected canonical edge list — the SAME pick rule
    as the distributed rounds (per-component min (weight, src, dst)),
    so both paths return identical forests even under weight ties."""
    comp = {}
    for s, d, _ in rows:
        comp[s] = s
        comp[d] = d

    def find(x):
        root = x
        while comp[root] != root:
            root = comp[root]
        while comp[x] != x:
            comp[x], x = root, comp[x]
        return root

    chosen: list[tuple[int, int, float]] = []
    while True:
        best: dict = {}
        for s, d, w in rows:
            cs, cd = find(s), find(d)
            if cs == cd:
                continue
            k = (w, s, d)
            if cs not in best or k < best[cs]:
                best[cs] = k
            if cd not in best or k < best[cd]:
                best[cd] = k
        if not best:
            break
        for w, s, d in set(best.values()):
            cs, cd = find(s), find(d)
            if cs != cd:
                chosen.append((s, d, w))
            if cd < cs:
                cs, cd = cd, cs
            comp[cd] = cs
    return chosen


def mst(
    edges: DataFrame,
    weight_col: str = "weight",
    max_rounds: int = 30,
) -> DataFrame:
    """Minimum spanning forest edges: ``(src, dst, weight)``.

    Treats the graph as undirected; edges are canonicalized src<dst.

    Under ``util.DRIVER_EDGE_GUARD`` edges (read at call time) the
    Borůvka rounds run on the driver (the reference's Prim, mst.rs:41,
    is sequential anyway); above it,
    distributed rounds with per-component min-edge aggregation and
    guarded union-find contraction of the component graph.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.col(weight_col).cast("double").alias("weight"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
    )
    spark = edges.sparkSession
    guard = util.DRIVER_EDGE_GUARD
    if guard > 0:
        pdf = edges_pdf_if_small(e, guard)
        if pdf is not None:
            # Python scalars: createDataFrame rejects numpy ones
            chosen_rows = _boruvka_driver(
                list(pdf.itertuples(index=False, name=None))
            )
            if not chosen_rows:
                return spark.createDataFrame(
                    [], "src long, dst long, weight double"
                )
            return spark.createDataFrame(
                sorted(chosen_rows), "src long, dst long, weight double"
            )
    chosen: DataFrame | None = None
    with iteration_scope(spark, e):
        e = partitioned(e, "src")
        comp = checkpoint(
            vertices_from_edges(e).select("id", F.col("id").alias("comp")),
            eager=False,
        )

        for _ in range(max_rounds):
            cs = comp.withColumnRenamed("id", "src").withColumnRenamed(
                "comp", "c_src"
            )
            cd = comp.withColumnRenamed("id", "dst").withColumnRenamed(
                "comp", "c_dst"
            )
            cross = (
                e.join(cs.hint("shuffle_hash"), "src")
                .join(cd.hint("shuffle_hash"), "dst")
                .filter(F.col("c_src") != F.col("c_dst"))
            )
            # each component's minimum outgoing edge, deterministic
            # tie-break
            key = F.struct(
                F.col("weight"), F.col("src"), F.col("dst")
            ).alias("k")
            picks = (
                cross.select(F.col("c_src").alias("comp"), key)
                .unionByName(cross.select(F.col("c_dst").alias("comp"), key))
                .groupBy("comp")
                .agg(F.min("k").alias("k"))
                .select("k.weight", "k.src", "k.dst")
                .select("src", "dst", "weight")
                .distinct()
            )
            # ONE job per round here: the count materializes the lazy
            # checkpoint (pinning this round's picks + the prior
            # round's lazily-checkpointed comp in its lineage) AND
            # doubles as the termination test — no separate
            # cross.limit(1) probe job
            picks = checkpoint(picks, eager=False)
            n_picks = picks.count()
            if n_picks == 0:
                break
            # a picked edge joins two components that merge this round,
            # so it can never be re-picked (its endpoints share a
            # component from now on): the accumulator needs no dedup
            # and, being a union of already-checkpointed frames, no
            # checkpoint either
            chosen = picks if chosen is None else chosen.unionByName(picks)
            # contract: components connected by chosen edges merge.
            # The component graph has exactly n_picks edges (already
            # counted — no probe job): under the guard its components
            # are settled by driver union-find; above it, distributed
            # WCC with batched convergence checks.
            comp_edges = (
                picks.join(cs.hint("shuffle_hash"), "src")
                .join(cd.hint("shuffle_hash"), "dst")
                .select(
                    F.col("c_src").alias("src"), F.col("c_dst").alias("dst")
                )
            )
            if 0 < n_picks <= guard:
                pair_rows = comp_edges.collect()
                comp_map = driver_union_find(
                    (r[0], r[1]) for r in pair_rows
                )
                merged = spark.createDataFrame(
                    sorted(comp_map.items()), "id long, component long"
                )
                merged = F.broadcast(merged)
            else:
                merged = wcc(comp_edges, check_interval=3)
            comp = checkpoint(
                comp.join(
                    merged.withColumnRenamed("id", "comp").withColumnRenamed(
                        "component", "new_comp"
                    ),
                    "comp",
                    "left",
                ).select("id", F.coalesce("new_comp", "comp").alias("comp")),
                eager=False,
            )
    if chosen is None:
        return spark.createDataFrame([], "src long, dst long, weight double")
    return chosen


def mst_total_weight(edges: DataFrame, weight_col: str = "weight") -> float:
    t = mst(edges, weight_col).agg(F.sum("weight")).first()[0]
    return float(t or 0.0)
