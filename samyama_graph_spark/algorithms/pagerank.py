"""PageRank as a vertex program.

Semantics follow the reference implementation
(crates/samyama-graph-algorithms/src/pagerank.rs:35; configurable
iterations + damping) and LDBC Graphalytics: fixed iteration count,
uniform init 1/N, dangling-node mass redistributed uniformly each
iteration.  The dangling mass follows from the rank-sum invariant
(sum(msg) = S - dangling, S tracked as a driver scalar), so each
superstep's one action is the message sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samyama_graph_spark.algorithms import util
from samyama_graph_spark.algorithms.util import (
    edges_pdf_if_small,
    partitioned,
    superstep,
    vertices_from_edges,
)


def _pagerank_driver(spark, pdf, iterations, damping, vertex_ids):
    """Vectorized power iteration over a collected edge list — same
    fixpoint as the distributed loop (uniform init 1/N, dangling mass
    redistributed uniformly), mirroring the reference's own sequential
    solver (pagerank.rs:35).  O(E) numpy per iteration via bincount."""
    import numpy as np
    import pandas as pd

    src = pdf.iloc[:, 0].to_numpy(dtype=np.int64, copy=False)
    dst = pdf.iloc[:, 1].to_numpy(dtype=np.int64, copy=False)
    parts = [src, dst]
    if vertex_ids is not None:
        parts.append(np.asarray(vertex_ids, dtype=np.int64))
    vid = np.unique(np.concatenate(parts))
    n = int(vid.size)
    if n == 0:
        return spark.createDataFrame([], "id long, rank double")
    si = np.searchsorted(vid, src)
    di = np.searchsorted(vid, dst)
    out_deg = np.bincount(si, minlength=n)
    dangling = out_deg == 0
    safe_deg = np.where(dangling, 1, out_deg).astype(np.float64)
    d = float(damping)
    rank = np.full(n, 1.0 / n, dtype=np.float64)
    for _ in range(iterations):
        contrib = rank / safe_deg
        msg = np.bincount(di, weights=contrib[si], minlength=n)
        dang = float(rank[dangling].sum())
        rank = (1.0 - d) / n + d * dang / n + d * msg
    # eager checkpoint: the public contract (and the distributed path)
    # returns a MATERIALIZED frame, so multi-action callers (count +
    # top-k) read stored blocks instead of re-serializing the local
    # relation once per action
    return spark.createDataFrame(
        pd.DataFrame({"id": vid, "rank": rank}),
        schema="id long, rank double",
    ).localCheckpoint()


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(id, rank)``; ranks sum to ~1.

    ``vertices`` may be passed to include isolated vertices; it must be
    a superset of the edge endpoints (the rank-sum bookkeeping assumes
    every edge source holds a rank).  Small graphs run the numpy power
    iteration on the driver (the reference's own solver is sequential);
    both paths return the same ranks.
    """
    spark = edges.sparkSession
    deg, n = None, 1
    s_total = 1.0  # exact rank sum, tracked on the driver

    def driver(pdf):
        if vertices is None:
            return _pagerank_driver(spark, pdf, iterations, damping, None)
        vpdf = edges_pdf_if_small(
            vertices.select("id"), util.DRIVER_EDGE_GUARD
        )
        if vpdf is None:
            return None
        return _pagerank_driver(
            spark, pdf, iterations, damping, vpdf["id"].to_numpy()
        )

    def start(e):
        nonlocal deg, n
        v = vertices if vertices is not None else vertices_from_edges(e)
        out_deg = e.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_deg")
        )
        # (id, out_deg) with 0 for sinks, joined by every round's update;
        # counting it materializes it and the edge frame in one job
        deg = partitioned(
            v.select("id")
            .join(out_deg, "id", "left")
            .fillna(0, subset=["out_deg"]),
            "id",
        )
        n = max(deg.count(), 1)
        return deg.withColumn("rank", F.lit(1.0 / n))

    def step(joined, ranks):
        return (
            joined.select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("msg"))
        )

    def advance(contrib, total_msg):
        nonlocal s_total
        # each source's rank splits across its out-edges and sums back,
        # so sum(msg) = S - dangling mass
        dang = s_total - total_msg
        base = (1.0 - damping) / n + damping * dang / n
        s_total = (1.0 - damping) + damping * dang + damping * total_msg
        return deg.join(
            contrib.hint("shuffle_hash"), "id", "left"
        ).select(
            "id",
            "out_deg",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("msg"), F.lit(0.0))
            ).alias("rank"),
        )

    return superstep(
        "pagerank",
        edges.select("src", "dst"),
        start,
        step,
        rounds=iterations,
        driver=driver,
        total="msg",
        advance=advance,
    ).select("id", "rank")
