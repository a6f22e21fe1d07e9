"""Triangle counting and local clustering coefficient.

Reference semantics: crates/samyama-graph-algorithms/src/topology.rs:14
(triangle count) and lcc.rs:29/:42 (LCC over the undirected closure).

Implementation is the degree-oriented wedge-closing join — the
standard distributed triangle algorithm: orient each undirected edge
from lower-(degree,id) to higher, then a triangle is a wedge
(a->b, a->c) closed by (b->c).  Orientation bounds each vertex's
out-degree by O(sqrt(m)), so the wedge self-join never explodes on
skewed degree distributions — the scale-critical trick.

Shuffle budget per closure build: ONE shuffle to canonicalize (skipped
when the input is already canonical), ONE for degrees (tiny output),
ONE to build adjacency lists.  Orientation and the closure join itself
are map-side: degrees and adjacency are vertex-count-sized frames that
AQE broadcast-joins when small and shuffle-joins past the threshold,
so the plan stays valid at cluster scale.

Cached frames are force-materialized (count()) before multi-leg
consumers run — Spark's lazily-filled cache would otherwise recompute
the upstream pipeline once per leg (measured 90s -> ~20s for LCC at
sf0.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samyama_graph_spark import lifecycle
from samyama_graph_spark.algorithms import util
from samyama_graph_spark.algorithms.util import edges_pdf_if_small, symmetrize


# closing-edge sets up to this many rows broadcast as the triangle
# probe (~40 B/row hash relation: 16M rows ~ 640 MB executor-side);
# beyond it the closure falls back to the wedge shuffle join
_CLOSING_BCAST_GUARD = 16_000_000

# pin owners: _CLOSURE for pins created inside closure_edges, _OUTER
# for entry-point pins (lcc_directed's ecnt/tris).  Entry points release
# both at their start; the split lets closure_edges release its own
# previous pins (it is documented-public, so a direct caller must not
# accumulate cache blocks) without dropping an enclosing entry point's
# live pins.
_CLOSURE, _OUTER = "topology.closure", "topology.outer"


def closure_edges(
    edges: DataFrame, canonical: bool = False
) -> tuple[DataFrame, DataFrame]:
    """(undirected degrees, triangle rows).

    Degree-oriented WEDGE JOIN with flat rows: orient every canonical
    pair low-(deg, id) -> high (out-degrees bounded O(sqrt m), the
    same property the reference gets from sorted CSR segments,
    store.rs:294-340), self-join the oriented edges on the apex to
    enumerate each wedge exactly once (ordered by the SAME orientation
    key, so the closing edge — if the triangle exists — is an oriented
    edge), then close with one equi-join against the oriented edge
    set.  Row volume is O(sum C(d+, 2)) wedges of flat (a, b, c)
    longs, all inside whole-stage codegen.

    The previous formulation carried sorted adjacency ARRAYS onto
    every edge row (collect_list + two joins + array_intersect): row
    count O(m) but bytes O(m·sqrt m) with a per-row array allocation —
    measured 95 s with GCLocker retry warnings on the 12M-pair
    co-order graph, vs the same wedge volume enumerated by the numpy
    driver kernel in ~5 s.  Flat wedge rows remove the allocation and
    the array bytes; skewed apexes are AQE's problem, not the GC's.

    Returns ``(deg, tris)``: ``deg`` = (id, deg) undirected degrees,
    ``tris`` = one row (a, b, c) per triangle, where a is the wedge
    apex and (b, c) the closing oriented edge.

    ``canonical=True`` asserts the input is already a distinct
    src<dst edge set, skipping the canonicalization shuffle.
    """
    lifecycle.release(edges.sparkSession, _CLOSURE)
    if canonical:
        pairs = edges.select("src", "dst")
    else:
        pairs = symmetrize(edges).filter(F.col("src") < F.col("dst"))
    pairs = lifecycle.pin(pairs, _CLOSURE)
    # undirected degree = appearances on either side of canonical pairs
    deg = lifecycle.pin(
        pairs.select(F.col("src").alias("id"))
        .unionAll(pairs.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg")),
        _CLOSURE,
    )
    # orientation is a map-side flip against the (vertex-sized) degree
    # frame — no edge shuffle.  The head's degree rides along: wedge
    # ordering must use the ORIENTATION key (deg, id), not the raw id,
    # or the closing pair would not be an oriented edge.
    sd = deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "sdeg")
    dd = deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "ddeg")
    fwd = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    oriented = lifecycle.pin(
        pairs.join(sd, "src")
        .join(dd, "dst")
        .select(
            F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
            F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
            F.when(fwd, F.col("ddeg")).otherwise(F.col("sdeg")).alias("hdeg"),
        ),
        _CLOSURE,
    )
    e1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("hdeg").alias("bd")
    )
    e2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("hdeg").alias("cd")
    )
    wedges = e1.join(e2, "a").filter(
        (F.col("bd") < F.col("cd"))
        | ((F.col("bd") == F.col("cd")) & (F.col("b") < F.col("c")))
    )
    # The closing probe is the whole ballgame: the wedge set is
    # O(sum C(d+, 2)) rows (411M on the 12M-pair co-order graph, of
    # which only ~5% close).  A shuffle join would MATERIALIZE and
    # shuffle every wedge (measured 205 s); broadcasting the closing
    # edge set instead keeps the apex self-join's in-partition
    # expansion, the wedge filter, and the hash probe fused in one
    # streaming pass — wedges flow through the probe and only
    # triangles ever hit a shuffle (wedge expansion alone: 6.6 s of
    # the total).  Tier rule: broadcast while the edge set is
    # hash-table-sized, beyond that fall back to the shuffle join —
    # the same regime split as every broadcast join at 100 TB.
    #
    # Probe key: ONE rebased packed long when the id span allows —
    # Spark builds a LongHashedRelation (primitive open-addressing
    # probe) for single-long keys vs an UnsafeHashedRelation for the
    # 2-column key, measured ~3x faster on the 411M-probe graph (the
    # probe dominated: 33 s of a 39 s closure).  ANSI mode is on, so
    # the span guard is what keeps the multiply exact.
    if oriented.count() <= _CLOSING_BCAST_GUARD:  # cached: pin counted it
        b0 = oriented.agg(
            F.min("src"), F.max("src"), F.min("dst"), F.max("dst")
        ).first()
        if b0[0] is None:  # empty edge set (e.g. all self-loops)
            return deg, oriented.select(
                F.col("src").alias("a"),
                F.col("src").alias("b"),
                F.col("dst").alias("c"),
            ).limit(0)
        mn = min(b0[0], b0[2])
        span = max(b0[1], b0[3]) - mn + 1
        if span < (1 << 31):
            key = (F.col("b") - mn) * span + (F.col("c") - mn)
            ckey = (F.col("src") - mn) * span + (F.col("dst") - mn)
            closing = F.broadcast(oriented.select(ckey.alias("__ck")))
            tris = (
                wedges.withColumn("__ck", key)
                .join(closing, "__ck")
                .select("a", "b", "c")
            )
            return deg, tris
        closing = F.broadcast(
            oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
        )
    else:
        closing = oriented.select(
            F.col("src").alias("b"), F.col("dst").alias("c")
        )
    tris = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    return deg, tris


def _per_vertex_triangles(tris: DataFrame) -> DataFrame:
    """``(id, triangles)`` from triangle rows: every triangle counts
    once for each of its three vertices."""
    ids = tris.select(F.explode(F.array("a", "b", "c")).alias("id"))
    return ids.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))


def _triangle_stats_driver(spark, pdf):
    """Vectorized per-vertex (deg, triangles) from a collected edge
    list: degree-orient, enumerate wedges grouped by out-degree (each
    distinct block size vectorizes to one triu_indices gather), close
    them with a sorted-key membership probe — the numpy mirror of the
    distributed closure join, same orientation, same counts."""
    import numpy as np
    import pandas as pd

    a = pdf.iloc[:, 0].to_numpy(dtype=np.int64, copy=False)
    b = pdf.iloc[:, 1].to_numpy(dtype=np.int64, copy=False)
    # canonicalize: undirected distinct pairs u < v, self-loops dropped
    u = np.minimum(a, b)
    v = np.maximum(a, b)
    keep = u != v
    u, v = u[keep], v[keep]
    vid = np.unique(np.concatenate([u, v]))
    n = int(vid.size)
    if n == 0:
        return spark.createDataFrame(
            [], "id long, deg long, triangles long"
        )
    ui = np.searchsorted(vid, u)
    wi = np.searchsorted(vid, v)
    pair_key = np.unique(ui * np.int64(n) + wi)
    ui, wi = pair_key // n, pair_key % n
    deg = np.bincount(ui, minlength=n) + np.bincount(wi, minlength=n)
    # orient low-(deg, id) -> high: out-degrees bounded O(sqrt m)
    ka = deg[ui] * np.int64(n) + ui
    kb = deg[wi] * np.int64(n) + wi
    fwd = ka < kb
    osrc = np.where(fwd, ui, wi)
    odst = np.where(fwd, wi, ui)
    order = np.lexsort((odst, osrc))
    osrc, odst = osrc[order], odst[order]
    indptr = np.searchsorted(osrc, np.arange(n + 1))
    okeys = osrc * np.int64(n) + odst  # sorted ascending by build
    counts = indptr[1:] - indptr[:-1]
    tri = np.zeros(n, dtype=np.int64)
    for c in np.unique(counts):
        if c < 2:
            continue
        blocks = np.where(counts == c)[0]
        gather = indptr[blocks][:, None] + np.arange(c)[None, :]
        NM = odst[gather]  # (len(blocks), c) out-neighbor matrix
        iu, ju = np.triu_indices(int(c), 1)
        A = NM[:, iu].ravel()
        B = NM[:, ju].ravel()
        apex = np.repeat(blocks, iu.size)
        # closing edge carries the same orientation
        kA = deg[A] * np.int64(n) + A
        kB = deg[B] * np.int64(n) + B
        lo = np.where(kA < kB, A, B)
        hi = np.where(kA < kB, B, A)
        q = lo * np.int64(n) + hi
        pos = np.searchsorted(okeys, q)
        hit = (pos < okeys.size) & (okeys[np.minimum(pos, okeys.size - 1)] == q)
        for arr in (apex[hit], A[hit], B[hit]):
            tri += np.bincount(arr, minlength=n)
    out = pd.DataFrame({"id": vid, "deg": deg, "triangles": tri})
    return spark.createDataFrame(out, "id long, deg long, triangles long")


def triangle_stats(edges: DataFrame, canonical: bool = False) -> DataFrame:
    """Per-vertex ``(id, deg, triangles)`` over the undirected closure
    — the one frame LCC, per-vertex triangle counts, and the global
    total (sum/3) all derive from.

    Driver fast path (same guard as the other algorithms): below
    ``util.DRIVER_EDGE_GUARD`` pairs (read at call time) the
    degree-oriented wedge closing runs as vectorized numpy on the
    driver; the distributed closure join is the ≥guard path, same
    orientation and counts."""
    lifecycle.release(edges.sparkSession, _CLOSURE)
    lifecycle.release(edges.sparkSession, _OUTER)
    pdf = edges_pdf_if_small(
        edges.select("src", "dst"), util.DRIVER_EDGE_GUARD
    )
    if pdf is not None:
        return _triangle_stats_driver(edges.sparkSession, pdf)
    deg, tris = closure_edges(edges, canonical)
    per_vertex = _per_vertex_triangles(tris)
    return (
        deg.join(per_vertex, "id", "left")
        .fillna(0, subset=["triangles"])
        .select("id", "deg", "triangles")
    )


def triangle_count_per_vertex(edges: DataFrame) -> DataFrame:
    """``(id, triangles)`` — number of triangles through each vertex."""
    return triangle_stats(edges).select("id", "triangles")


def triangle_count(edges: DataFrame, canonical: bool = False) -> int:
    """Total triangle count of the undirected graph: every triangle
    touches exactly three vertices, so sum(per-vertex)/3.  Routes
    through :func:`triangle_stats` (driver fast path under the guard)."""
    total = (
        triangle_stats(edges, canonical).agg(F.sum("triangles")).first()[0]
    )
    return int(total or 0) // 3


def lcc(
    edges: DataFrame, canonical: bool = False, directed: bool = False
) -> DataFrame:
    """Local clustering coefficient per vertex: ``(id, lcc)``.

    Undirected (default): lcc(v) = triangles(v) / (deg(v)*(deg(v)-1)/2)
    over the undirected closure; 0 when deg < 2 (reference lcc.rs:29).

    ``directed=True`` switches to the reference's directed mode
    (lcc.rs:42, shaders/lcc.wgsl directed branch): the neighborhood is
    still the undirected distinct-neighbor set, but the numerator
    counts ORDERED pairs (u, w) of neighbors joined by a directed
    u->w edge, and the denominator is d*(d-1).

    Degrees come from the SAME pinned canonical-pairs frame the
    triangle pipeline builds, so the expensive input projection (e.g.
    a co-order self-join) is evaluated exactly once.  Small graphs
    take :func:`triangle_stats`' vectorized driver path.
    """
    if directed:
        return lcc_directed(edges)
    stats = triangle_stats(edges, canonical)
    return stats.select(
        "id",
        F.when(
            F.col("deg") >= 2,
            F.col("triangles") / (F.col("deg") * (F.col("deg") - 1) / 2.0),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def lcc_directed(edges: DataFrame) -> DataFrame:
    """Directed local clustering coefficient: ``(id, lcc)``.

    Reference semantics (lcc.rs:42 / lcc.wgsl directed branch):
    N(v) = distinct undirected neighbors (self-loops dropped);
    lcc(v) = #{(u,w) : u,w ∈ N(v), u≠w, u→w ∈ E} / (d·(d−1)), 0 when
    d < 2.

    The reference enumerates all neighbor pairs per node (O(Σd²)
    adjacency-set probes).  Here the numerator is reassembled from
    triangles instead: a directed edge u→w lies inside N(v) exactly
    when {v,u,w} is a triangle of the undirected closure, so each
    triangle {a,b,c} contributes ec(b,c) to a, ec(a,c) to b and
    ec(a,b) to c, where ec is the directed multiplicity (1 or 2) of
    the undirected pair.  Total work stays O(edges + triangle legs) —
    no per-node neighbor array ever materializes, which is what makes
    the plan survive hub vertices at 100 TB.
    """
    lifecycle.release(edges.sparkSession, _CLOSURE)
    lifecycle.release(edges.sparkSession, _OUTER)
    dedges = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    # directed multiplicity per undirected pair (1 or 2)
    ecnt = lifecycle.pin(
        dedges.distinct()
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("ec")),
        _OUTER,
    )
    deg, tris = closure_edges(
        ecnt.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        canonical=True,
    )
    # pinned: the three role projections below each consume tris
    tris = lifecycle.pin(tris, _OUTER)
    legs = (
        tris.select(
            F.col("a").alias("id"), F.col("b").alias("p"), F.col("c").alias("q")
        )
        .unionByName(
            tris.select(
                F.col("b").alias("id"),
                F.col("a").alias("p"),
                F.col("c").alias("q"),
            )
        )
        .unionByName(
            tris.select(
                F.col("c").alias("id"),
                F.col("a").alias("p"),
                F.col("b").alias("q"),
            )
        )
        .select("id", F.least("p", "q").alias("a"), F.greatest("p", "q").alias("b"))
    )
    td = legs.join(ecnt, ["a", "b"]).groupBy("id").agg(F.sum("ec").alias("tdir"))
    return (
        deg.join(td, "id", "left")
        .fillna(0, subset=["tdir"])
        .select(
            "id",
            F.when(
                F.col("deg") >= 2,
                F.col("tdir") / (F.col("deg") * (F.col("deg") - F.lit(1.0))),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )
