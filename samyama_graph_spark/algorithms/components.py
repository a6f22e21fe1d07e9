"""Connected components (WCC) and community detection (CDLP).

Reference semantics: crates/samyama-graph-algorithms/src/community.rs:58
(WCC) and cdlp.rs:38 (synchronous label propagation, LDBC Graphalytics
CDLP: label := smallest among the most frequent neighbor labels, fixed
iteration count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samyama_graph_spark.algorithms.util import (
    driver_union_find,
    superstep,
    symmetrize,
    vertices_from_edges,
)


def min_label_step(joined: DataFrame, state: DataFrame) -> DataFrame:
    """Min-label propagation superstep over ``(id, label, chg)``: each
    vertex takes the least label its changed in-neighbors sent, and
    stays active (``chg``) only if that lowered its label."""
    cand = joined.groupBy(F.col("dst").alias("id")).agg(
        F.min("label").alias("nbr_min")
    )
    return state.join(cand.hint("shuffle_hash"), "id", "left").select(
        "id",
        F.least("label", "nbr_min").alias("label"),  # least skips nulls
        F.coalesce(F.col("nbr_min") < F.col("label"), F.lit(False)).alias(
            "chg"
        ),
    )


def _wcc_driver(spark, pdf):
    """Components by union-find over a collected edge list."""
    import pandas as pd

    comp_map = driver_union_find(
        zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist())
    )
    if not comp_map:
        return spark.createDataFrame([], "id long, label long")
    # pandas frame -> Arrow-serialized transfer; a plain list of tuples
    # pickles row-by-row (measured ~1 s at 165k vertices vs ~0.1 s)
    out = pd.DataFrame(sorted(comp_map.items()), columns=["id", "label"])
    return spark.createDataFrame(out, schema="id long, label long")


def wcc(
    edges: DataFrame,
    max_iterations: int = 50,
    check_interval: int = 2,
) -> DataFrame:
    """Weakly connected components: ``(id, component)`` where component
    is the minimum vertex id in the component.

    Min-id propagation over the undirected edge set until fixpoint —
    O(diameter) rounds.  The fixpoint test runs every ``check_interval``
    rounds: the fixpoint is reached exactly when the last round changed
    nothing, so batching the checks cuts the job count by that factor.
    Small graphs are settled by union-find on the driver (the
    reference's own WCC is sequential, community.rs:58); components are
    unique, so both paths return identical output.
    """
    spark = edges.sparkSession
    # vertices come from the RAW edge list: symmetrize drops self-loops,
    # and a vertex whose only edges are self-loops is still its own
    # singleton component.  distinct=False: min is idempotent, so
    # duplicate edges cannot change the fixpoint.
    comp = superstep(
        "wcc",
        edges.select("src", "dst"),
        lambda e: vertices_from_edges(edges).select(
            "id", F.col("id").alias("label"), F.lit(True).alias("chg")
        ),
        min_label_step,
        rounds=max_iterations,
        driver=lambda pdf: _wcc_driver(spark, pdf),
        view=lambda e: symmetrize(e, distinct=False),
        active="chg",
        halt_every=check_interval,
    )
    return comp.select("id", F.col("label").alias("component"))


def _cdlp_driver(spark, pdf, iterations):
    """Vectorized synchronous label propagation over a collected edge
    list — the same smallest-among-most-frequent rule as the
    distributed loop, O(E log E) numpy per round (one lexsort over the
    neighbor-label multiset).  Mirrors the reference's sequential
    solver (cdlp.rs:84-120)."""
    import numpy as np
    import pandas as pd

    src = pdf.iloc[:, 0].to_numpy(dtype=np.int64, copy=False)
    dst = pdf.iloc[:, 1].to_numpy(dtype=np.int64, copy=False)
    vid = np.unique(np.concatenate([src, dst]))
    n = int(vid.size)
    if n == 0:
        return spark.createDataFrame([], "id long, label long")
    si = np.searchsorted(vid, src)
    di = np.searchsorted(vid, dst)
    # neighbor multiset both directions: vertex recv[k] sees the label
    # of nbr[k]; a reciprocal edge pair contributes twice, exactly like
    # the reference's successors()/predecessors() double loop
    recv = np.concatenate([di, si])
    nbr = np.concatenate([si, di])
    lab = np.arange(n, dtype=np.int64)  # label index == vertex index
    for _ in range(iterations):
        # count (vertex, neighbor-label) occurrences via a composite
        # key; labels are always original vertex ids, and vid is sorted
        # ascending, so min over label INDEX == min over label VALUE
        key = recv * np.int64(n) + lab[nbr]
        uk, cnt = np.unique(key, return_counts=True)
        kv = uk // n
        kl = uk % n
        # per vertex: max count, ties -> smallest label
        order = np.lexsort((kl, -cnt, kv))
        kvs = kv[order]
        first = np.ones(kvs.size, dtype=bool)
        first[1:] = kvs[1:] != kvs[:-1]
        new_lab = lab.copy()
        new_lab[kvs[first]] = kl[order][first]
        lab = new_lab
    return spark.createDataFrame(
        pd.DataFrame({"id": vid, "label": vid[lab]}),
        schema="id long, label long",
    )


def cdlp(edges: DataFrame, iterations: int = 10) -> DataFrame:
    """Community detection by synchronous label propagation.

    LDBC/Graphalytics CDLP rule (reference cdlp.rs:84-120): each round
    every vertex adopts the smallest label among the most frequent
    labels of its neighbor MULTISET — successors plus predecessors,
    no dedup, so a reciprocal edge pair contributes the neighbor's
    label twice, exactly like the reference's successors()/
    predecessors() double loop.  Returns ``(id, label)``.  Small graphs
    run the same rule on the driver.
    """
    spark = edges.sparkSession

    def step(joined, labels):
        counts = joined.groupBy(F.col("dst").alias("vid"), "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # smallest among the most-frequent labels == min of (-cnt,
        # label): a partial-aggregating hash agg instead of a
        # partition-sort window
        best = (
            counts.groupBy(F.col("vid").alias("id"))
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"),
                        F.col("label").alias("l"),
                    )
                ).alias("m")
            )
            .select("id", F.col("m.l").alias("new_label"))
        )
        return labels.join(best.hint("shuffle_hash"), "id", "left").select(
            "id",
            F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
        )

    return superstep(
        "cdlp",
        edges.select("src", "dst"),
        lambda e: vertices_from_edges(e).select(
            "id", F.col("id").alias("label")
        ),
        step,
        rounds=iterations,
        driver=lambda pdf: _cdlp_driver(spark, pdf, iterations),
        view=lambda e: e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ),
    )
