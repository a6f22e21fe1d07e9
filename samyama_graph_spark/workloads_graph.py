"""Graph-algorithm and traversal workloads with DuckDB oracles.

Iterative algorithms are oracle-checked by *unrolling* the iteration
into chained CTEs (PageRank) or exploiting the TPC-H graph's layered
DAG structure (BFS / SSSP) — the oracle is plain ANSI SQL, so the
driver's DuckDB gate fully validates numeric results, not just row
counts.

Global-id arithmetic in the SQL mirrors loaders.ID_BASE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from samyama_graph_spark import lifecycle
from samyama_graph_spark.algorithms import pagerank, sssp, wcc
from samyama_graph_spark.loaders import ID_BASE, load_tables, tpch_graph
from samyama_graph_spark.operators import var_length_expand
from samyama_graph_spark.workloads import query

_C = ID_BASE["Customer"]
_N = ID_BASE["Nation"]
_R = ID_BASE["Region"]
_S = ID_BASE["Supplier"]
_P = ID_BASE["Part"]
_O = ID_BASE["Order"]

# Shared SQL fragment: the PLACED ∪ IN_NATION ∪ IN_REGION edge list.
_EDGES_SQL = f"""
    SELECT o_custkey + {_C} AS src, o_orderkey + {_O} AS dst FROM orders
    UNION ALL SELECT c_custkey + {_C}, c_nationkey + {_N} FROM customer
    UNION ALL SELECT s_suppkey + {_S}, s_nationkey + {_N} FROM supplier
    UNION ALL SELECT n_nationkey + {_N}, n_regionkey + {_R} FROM nation
"""


def _rank_edges(g) -> DataFrame:
    placed = g.edge_df("PLACED").select("src", "dst")
    in_nation = g.edge_df("IN_NATION").select("src", "dst")
    in_region = g.edge_df("IN_REGION").select("src", "dst")
    return placed.unionByName(in_nation).unionByName(in_region)


# --------------------------------------------------------------------------
# Var-length expand (reference: VarLengthExpandOperator operator.rs:3003)
# --------------------------------------------------------------------------


@query(
    "var_length_reachability",
    f"""
    SELECT n_name AS name FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey = 1
    UNION
    SELECT r_name AS name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE c_custkey = 1
    """,
)
def var_length_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH (c:Customer)-[*1..2]->(x) WHERE id(c)=$c RETURN DISTINCT x.name
    over the IN_NATION/IN_REGION hierarchy."""
    g = tpch_graph(spark, sf_dir)
    edges = g.edge_df("IN_NATION").select("src", "dst").unionByName(
        g.edge_df("IN_REGION").select("src", "dst")
    )
    starts = spark.createDataFrame([(ID_BASE["Customer"] + 1,)], "id long")
    reached = var_length_expand(starts, edges, 1, 2)
    names = g.node_df("Nation").select("id", "name").unionByName(
        g.node_df("Region").select("id", "name")
    )
    return (
        reached.join(names, reached["node"] == names["id"]).select("name").distinct()
    )


@query(
    "bfs_layers",
    f"""
    WITH d1 AS (
        SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_custkey = 1
    ), d2 AS (
        SELECT DISTINCT l_partkey AS k FROM lineitem
        WHERE l_orderkey IN (SELECT k FROM d1)
    ), d3 AS (
        SELECT DISTINCT l_suppkey AS k FROM lineitem
        WHERE l_partkey IN (SELECT k FROM d2)
    )
    SELECT 0 AS depth, 1 AS n
    UNION ALL SELECT 1, count(*) FROM d1
    UNION ALL SELECT 2, count(*) FROM d2
    UNION ALL SELECT 3, count(*) FROM d3
    """,
)
def bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop BFS frontier sizes from one customer through
    PLACED -> CONTAINS -> SUPPLIED_BY (a layered DAG, so first-reach
    depth == layer, making the SQL oracle exact)."""
    from samyama_graph_spark.algorithms import bfs

    g = tpch_graph(spark, sf_dir)
    edges = (
        g.edge_df("PLACED")
        .select("src", "dst")
        .unionByName(g.edge_df("CONTAINS").select("src", "dst"))
        .unionByName(g.edge_df("SUPPLIED_BY").select("src", "dst"))
    )
    reached = bfs(edges, ID_BASE["Customer"] + 1, max_depth=3)
    return (
        reached.groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("depth").cast("int").alias("depth"), F.col("n").cast("long"))
    )


# --------------------------------------------------------------------------
# WCC (reference: community.rs:58) — star components over PLACED
# --------------------------------------------------------------------------


@query(
    "wcc_placed_components",
    f"""
    SELECT o_custkey + {_C} AS component, count(*) + 1 AS n
    FROM orders GROUP BY o_custkey
    """,
)
def wcc_placed_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the customer–order bipartite graph:
    each component is one customer star; component id = min vertex id
    (the customer, since the Customer id range is below Order's)."""
    g = tpch_graph(spark, sf_dir)
    comp = wcc(g.edge_df("PLACED").select("src", "dst"))
    return comp.groupBy("component").agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# PageRank (reference: pagerank.rs:35) — oracle = unrolled CTE chain
# --------------------------------------------------------------------------

_PR_ITERS = 5
_PR_DAMPING = 0.85


def _pagerank_oracle_sql(iters: int = _PR_ITERS, d: float = _PR_DAMPING) -> str:
    ctes = [
        f"edges AS ({_EDGES_SQL})",
        "verts AS (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "nn AS (SELECT count(*) AS n FROM verts)",
        "deg AS (SELECT v.id, COALESCE(dd.cnt, 0) AS out_deg FROM verts v "
        "LEFT JOIN (SELECT src AS id, count(*) AS cnt FROM edges GROUP BY src) dd "
        "ON v.id = dd.id)",
        "pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM verts)",
    ]
    for k in range(1, iters + 1):
        p = f"pr{k - 1}"
        ctes.append(
            f"""pr{k} AS (
    SELECT g.id,
        {1.0 - d} / (SELECT n FROM nn)
        + {d} * (SELECT COALESCE(sum(p.rank), 0) FROM {p} p
                 JOIN deg dg ON p.id = dg.id WHERE dg.out_deg = 0)
              / (SELECT n FROM nn)
        + {d} * COALESCE(m.msg, 0) AS rank
    FROM deg g LEFT JOIN (
        SELECT e.dst AS id, sum(p.rank / dg.out_deg) AS msg
        FROM edges e JOIN {p} p ON e.src = p.id JOIN deg dg ON dg.id = e.src
        GROUP BY e.dst) m ON m.id = g.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT id, round(rank * (SELECT n FROM nn), 6) AS rank_scaled
    FROM pr{iters} ORDER BY rank_scaled DESC, id LIMIT 20"""
    )


@query("pagerank_top20", _pagerank_oracle_sql())
def pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL algo.pageRank: 5 iterations, d=0.85, over
    PLACED ∪ IN_NATION ∪ IN_REGION; rank scaled by N (so values are
    O(1) and rounding to 6 decimals is meaningful)."""
    g = tpch_graph(spark, sf_dir)
    edges = _rank_edges(g)
    # pagerank returns an eagerly-materialized checkpoint — the count
    # reads the stored blocks (no extra cache layer needed)
    ranks = pagerank(edges, iterations=_PR_ITERS, damping=_PR_DAMPING)
    n = ranks.count()
    return (
        ranks.select(
            "id", F.round(F.col("rank") * F.lit(float(n)), 6).alias("rank_scaled")
        )
        .orderBy(F.desc("rank_scaled"), F.asc("id"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# SSSP (reference: pathfinding.rs:91 Dijkstra) — layered DAG oracle
# --------------------------------------------------------------------------


@query(
    "sssp_weighted",
    f"""
    WITH d1 AS (
        SELECT o_orderkey + {_O} AS id, 1.0 AS dist
        FROM orders WHERE o_custkey = 1
    ), d2 AS (
        SELECT l_partkey + {_P} AS id, min(d1.dist + l_quantity) AS dist
        FROM lineitem JOIN d1 ON l_orderkey + {_O} = d1.id
        GROUP BY l_partkey
    ), d3 AS (
        SELECT l_suppkey + {_S} AS id, min(d2.dist + l_quantity) AS dist
        FROM lineitem JOIN d2 ON l_partkey + {_P} = d2.id
        GROUP BY l_suppkey
    )
    SELECT id, dist FROM (
        SELECT {_C} + 1 AS id, 0.0 AS dist
        UNION ALL SELECT id, dist FROM d1
        UNION ALL SELECT id, dist FROM d2
        UNION ALL SELECT id, dist FROM d3
    )
    """,
)
def sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL algo.weightedPath (Dijkstra fixpoint via frontier
    Bellman-Ford): distances from customer 1 over PLACED (w=1),
    CONTAINS (w=quantity), SUPPLIED_BY (w=quantity).  Weights are
    small integers stored as doubles, so distances are exact and the
    hash comparison is safe without rounding."""
    g = tpch_graph(spark, sf_dir)
    edges = (
        g.edge_df("PLACED")
        .select("src", "dst", F.lit(1.0).alias("weight"))
        .unionByName(
            g.edge_df("CONTAINS").select(
                "src", "dst", F.col("quantity").alias("weight")
            )
        )
        .unionByName(
            g.edge_df("SUPPLIED_BY").select(
                "src", "dst", F.col("quantity").alias("weight")
            )
        )
    )
    return sssp(edges, ID_BASE["Customer"] + 1, max_rounds=8)


# --------------------------------------------------------------------------
# Triangle count (reference: topology.rs:14) over the co-order part graph
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# CDLP (reference: cdlp.rs:38) — oracle = unrolled mode-with-tie-break CTEs
# --------------------------------------------------------------------------

_CDLP_ITERS = 3


def _cdlp_oracle_sql(iters: int = _CDLP_ITERS) -> str:
    ctes = [
        f"edges AS ({_EDGES_SQL})",
        # neighbor MULTISET: successors + predecessors, no dedup
        # (reference cdlp.rs:84-120 double loop)
        "und AS (SELECT src, dst FROM edges UNION ALL "
        "SELECT dst AS src, src AS dst FROM edges)",
        "verts AS (SELECT DISTINCT src AS id FROM und)",
        "lab0 AS (SELECT id, id AS label FROM verts)",
    ]
    for k in range(1, iters + 1):
        p = f"lab{k - 1}"
        ctes.append(
            f"""cnt{k} AS (
    SELECT u.dst AS vid, l.label, count(*) AS c
    FROM und u JOIN {p} l ON u.src = l.id GROUP BY u.dst, l.label
), mx{k} AS (SELECT vid, max(c) AS mc FROM cnt{k} GROUP BY vid),
best{k} AS (
    SELECT c.vid, min(c.label) AS nl
    FROM cnt{k} c JOIN mx{k} m ON c.vid = m.vid AND c.c = m.mc
    GROUP BY c.vid
), lab{k} AS (
    SELECT l.id, COALESCE(b.nl, l.label) AS label
    FROM {p} l LEFT JOIN best{k} b ON b.vid = l.id
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\n    SELECT id AS nodeId, label FROM lab{iters}"
    )


@query("cdlp_communities", _cdlp_oracle_sql())
def cdlp_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL algo.cdlp: 3 synchronous rounds of label propagation
    (smallest-among-most-frequent rule) over the in+out neighbor
    multiset of PLACED ∪ IN_NATION ∪ IN_REGION."""
    from samyama_graph_spark.algorithms import cdlp

    g = tpch_graph(spark, sf_dir)
    labels = cdlp(_rank_edges(g), iterations=_CDLP_ITERS)
    return labels.select(F.col("id").alias("nodeId"), F.col("label"))


# --------------------------------------------------------------------------
# LCC (reference: lcc.rs:29) over the co-order part graph
# --------------------------------------------------------------------------

def coorder_pairs(
    li: DataFrame,
    order_col: str,
    part_col: str,
    min_support: int = 1,
) -> DataFrame:
    """(src, dst) co-occurrence part pairs (src < dst) appearing in at
    least ``min_support`` shared orders.

    Built via per-order combination arrays: ONE shuffle (groupBy order)
    + the support count, instead of a fact-table self-join that
    shuffles twice.  Per-order part lists are tiny (order size is
    bounded), so the quadratic expansion is local.  Shared by the
    lcc/triangle-count closure (min_support=1) and the
    frequently-co-ordered graph behind the WCOJ entries
    (min_support=2, workloads_cypher._coorder_engine) — one derivation
    to keep in lockstep with the DuckDB oracle CTEs."""
    return (
        li.groupBy(F.col(order_col).alias("__o"))
        .agg(F.sort_array(F.collect_set(part_col)).alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS src, y AS dst))))"
                )
            ).alias("p")
        )
        .groupBy("p.src", "p.dst")
        .agg(F.count(F.lit(1)).alias("__support"))
        .filter(F.col("__support") >= min_support)
        .select("src", "dst")
    )


# memo owner prefix of _coorder_stats, keyed (COORDER_STATS, sf_dir)
COORDER_STATS = "workloads_graph.coorder_stats"


def _coorder_stats(spark: SparkSession, sf_dir: str):
    """Per-vertex co-order (id, deg, triangles), computed ONCE per
    (session, sf_dir) and RELIABLY checkpointed so the lcc and
    triangle-count workloads all reuse it — the heavy pair-generation
    pipeline runs a single time even when a bench harness unpersists
    cached blocks between queries (reliable checkpoint files survive;
    only cache() blocks are swept).  triangle_stats routes small pair
    sets through its vectorized driver path."""
    return lifecycle.memo(
        spark, (COORDER_STATS, sf_dir), lambda: _build_coorder_stats(spark, sf_dir)
    )


def _build_coorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from samyama_graph_spark.algorithms.topology import triangle_stats
    from samyama_graph_spark.session import ensure_checkpoint_dir

    g = tpch_graph(spark, sf_dir)
    li = g.edge_df("CONTAINS").select(
        F.col("src").alias("order_id"), F.col("dst").alias("part_id")
    )
    pairs = coorder_pairs(li, "order_id", "part_id")
    ensure_checkpoint_dir(spark)
    return triangle_stats(pairs, canonical=True).checkpoint()


@query(
    "lcc_coorder",
    """
    WITH pe AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tris AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM pe e1 JOIN pe e2 ON e1.v = e2.u
        JOIN pe e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tv AS (SELECT id, count(*) AS t FROM (
        SELECT a AS id FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
    ) GROUP BY id),
    deg AS (SELECT id, count(*) AS d FROM (
        SELECT u AS id FROM pe UNION ALL SELECT v FROM pe
    ) GROUP BY id)
    SELECT deg.id AS id,
           round(CASE WHEN d >= 2 THEN COALESCE(t, 0) * 2.0 / (d * (d - 1))
                      ELSE 0 END, 6) AS lcc
    FROM deg LEFT JOIN tv ON tv.id = deg.id
    """,
)
def lcc_coorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL algo.lcc on the part co-purchase graph: per-vertex triangle
    count over wedge capacity.  Shares the checkpointed stats frame
    with triangle_count_coorder (one heavy pipeline for both)."""
    stats = _coorder_stats(spark, sf_dir)
    # de-globalize part ids for the oracle (raw l_partkey domain)
    return stats.select(
        (F.col("id") - ID_BASE["Part"]).alias("id"),
        F.round(
            F.when(
                F.col("deg") >= 2,
                F.col("triangles")
                / (F.col("deg") * (F.col("deg") - 1) / 2.0),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("lcc"),
    )


@query(
    "lcc_triangle_coorder",
    """
    WITH pe AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tris AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM pe e1 JOIN pe e2 ON e1.v = e2.u
        JOIN pe e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tv AS (SELECT id, count(*) AS t FROM (
        SELECT a AS id FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
    ) GROUP BY id),
    deg AS (SELECT id, count(*) AS d FROM (
        SELECT u AS id FROM pe UNION ALL SELECT v FROM pe
    ) GROUP BY id)
    SELECT deg.id AS id,
           round(CASE WHEN d >= 2 THEN COALESCE(t, 0) * 2.0 / (d * (d - 1))
                      ELSE 0 END, 6) AS lcc,
           COALESCE(t, 0) AS tri
    FROM deg LEFT JOIN tv ON tv.id = deg.id
    """,
)
def lcc_triangle_coorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL algo.lcc + algo.triangleCount in one gate row (reference
    lcc.rs:29, topology.rs:14) over the part co-purchase graph:
    per-vertex triangle counts AND clustering coefficients from ONE
    checkpointed degree-oriented closure (the global triangle total is
    sum(tri)/3).  The separate lcc_coorder / triangle_count_coorder
    REGISTRY twins stay pytest/bench-checked."""
    stats = _coorder_stats(spark, sf_dir)
    return stats.select(
        (F.col("id") - ID_BASE["Part"]).alias("id"),
        F.round(
            F.when(
                F.col("deg") >= 2,
                F.col("triangles")
                / (F.col("deg") * (F.col("deg") - 1) / 2.0),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("lcc"),
        F.col("triangles").cast("long").alias("tri"),
    )


@query(
    "lcc_directed_chords",
    """
    WITH base AS (
        SELECT c_custkey AS ck,
               LEAD(c_custkey, 1) OVER w AS n1,
               LEAD(c_custkey, 2) OVER w AS n2
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey)
    ),
    edd AS (
        SELECT DISTINCT src, dst FROM (
            SELECT ck AS src, n1 AS dst FROM base WHERE n1 IS NOT NULL
            UNION ALL
            SELECT ck, n2 FROM base WHERE n2 IS NOT NULL
            UNION ALL
            SELECT n1, ck FROM base WHERE n1 IS NOT NULL AND ck % 3 = 0
        ) WHERE src <> dst
    ),
    und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edd
    ),
    nbr AS (SELECT a AS id, b AS n FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT id, count(*) AS d FROM nbr GROUP BY id),
    num AS (
        SELECT n1.id, count(*) AS td
        FROM nbr n1
        JOIN nbr n2 ON n2.id = n1.id AND n1.n <> n2.n
        JOIN edd e ON e.src = n1.n AND e.dst = n2.n
        GROUP BY n1.id
    )
    SELECT deg.id AS id,
           round(CASE WHEN d >= 2
                      THEN CAST(COALESCE(td, 0) AS DOUBLE) / (d * (d - 1))
                      ELSE 0 END, 6) AS lcc
    FROM deg LEFT JOIN num ON num.id = deg.id
    """,
)
def lcc_directed_chords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL algo.lcc directed mode (reference lcc.rs:42 / lcc.wgsl
    directed branch) over a deterministic directed test graph: each
    nation's customers in key order form a chain with +1 and +2 chords
    (triangles on every consecutive triple) plus a back-edge on every
    third customer (pairs with BOTH directions, so the d·(d−1)
    denominator and ordered-pair numerator both matter).  The oracle
    probes ordered neighbor pairs directly — an independent derivation
    from the triangle-reassembly plan in lcc_directed."""
    from pyspark.sql import Window

    from samyama_graph_spark.algorithms.topology import lcc

    cust = load_tables(spark, sf_dir, ["customer"])["customer"]
    w = Window.partitionBy("c_nationkey").orderBy("ck")
    base = (
        cust.select("c_nationkey", F.col("c_custkey").alias("ck"))
        .withColumn("n1", F.lead("ck", 1).over(w))
        .withColumn("n2", F.lead("ck", 2).over(w))
    )
    edges = (
        base.filter(F.col("n1").isNotNull())
        .select(F.col("ck").alias("src"), F.col("n1").alias("dst"))
        .unionByName(
            base.filter(F.col("n2").isNotNull()).select(
                F.col("ck").alias("src"), F.col("n2").alias("dst")
            )
        )
        .unionByName(
            base.filter(F.col("n1").isNotNull() & (F.col("ck") % 3 == 0)).select(
                F.col("n1").alias("src"), F.col("ck").alias("dst")
            )
        )
    )
    out = lcc(edges, directed=True)
    return out.select("id", F.round("lcc", 6).alias("lcc"))


@query(
    "triangle_count_coorder",
    """
    WITH pe AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT count(*) AS triangles
    FROM pe e1 JOIN pe e2 ON e1.v = e2.u JOIN pe e3
      ON e2.v = e3.v AND e3.u = e1.u
    """,
)
def triangle_count_coorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL algo.triangleCount on the part co-purchase graph (parts
    appearing in the same order).  The engine uses degree-oriented
    wedge closing over the SAME checkpointed stats frame lcc_coorder
    uses (every triangle touches three vertices, so total = sum/3);
    the oracle counts ordered triangles u<v<w directly."""
    stats = _coorder_stats(spark, sf_dir)
    total = stats.agg(F.sum("triangles")).first()[0]
    n = int(total or 0) // 3
    return spark.createDataFrame([(n,)], "triangles long")


# --------------------------------------------------------------------------
# algo.or.solve (reference: operator.rs:6617-6766 + samyama-optimization)
# --------------------------------------------------------------------------


@query(
    "or_solve_convex",
    # CAST: a bare 0.0 literal is DECIMAL in DuckDB, which value-hash
    # normalizers may stringify differently from a DOUBLE
    "SELECT CAST(0.0 AS DOUBLE) AS fitness, 'Jaya' AS algorithm, "
    "60 AS iterations",
)
def or_solve_convex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL algo.or.solve on a convex instance with a hash-checkable
    analytic optimum: minimize sum(x) over the 25 Nation nodes with
    x in [0, 1] and no coupling constraint — every variable's optimum
    sits at the lower bound, and bound clamping makes the seeded
    solver land on EXACTLY 0.0 (verified for d<=25 at 60 iterations),
    so the stochastic search is value-checked against the closed form
    instead of rows-only.  The constrained stochastic instance
    (or_solve_budget) stays in the full registry for pytest."""
    from samyama_graph_spark.cypher import CypherEngine

    g = tpch_graph(spark, sf_dir)
    eng = CypherEngine(g)
    return eng.query(
        "CALL algo.or.solve({algorithm: 'Jaya', label: 'Nation', "
        "property: 'or_x', min: 0.0, max: 1.0, population_size: 30, "
        "max_iterations: 60, seed: 42}) "
        "YIELD fitness, algorithm, iterations"
    )


@query(
    "or_solve_portfolio",
    "SELECT * FROM (VALUES"
    " ('BMR', CAST(0.0 AS DOUBLE)), ('BWR', CAST(0.0 AS DOUBLE)),"
    " ('BMWR', CAST(0.0 AS DOUBLE)), ('EHR-Jaya', CAST(0.0 AS DOUBLE)),"
    " ('GOTLBO', CAST(0.0 AS DOUBLE)), ('GSA', CAST(0.0 AS DOUBLE)),"
    " ('ITLBO', CAST(0.0 AS DOUBLE)), ('Jaya', CAST(0.0 AS DOUBLE)),"
    " ('PSO', CAST(0.0 AS DOUBLE)), ('QO-Rao', CAST(0.0 AS DOUBLE)),"
    " ('QOJaya', CAST(0.0 AS DOUBLE)), ('SAPHR', CAST(0.0 AS DOUBLE))"
    ") AS t(algorithm, fitness) ORDER BY algorithm",
)
def or_solve_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extended or.solve algorithm surface end-to-end: one
    CALL algo.or.solve per solver family member (reference dispatch
    operator.rs:6729-6744 + the Rao-family extensions its bench runs,
    benches/rao_family_benchmark.rs) on the convex bound-clamped
    instance whose optimum is exactly 0.0 (see or_solve_convex), so
    every algorithm's stochastic search is value-checked against the
    same closed form.  Only the members that provably clamp to the
    exact optimum at this budget participate; the slow-converging
    swarm members (Bat, Cuckoo, Firefly, FPA, ABC, HS, DE) are
    covered by tests/test_optimize.py tolerance tests instead."""
    from functools import reduce

    from samyama_graph_spark.cypher import CypherEngine

    g = tpch_graph(spark, sf_dir)
    eng = CypherEngine(g)
    algos = [
        "BMR", "BWR", "BMWR", "EHR-Jaya", "GOTLBO", "GSA", "ITLBO",
        "Jaya", "PSO", "QO-Rao", "QOJaya", "SAPHR",
    ]
    outs = [
        eng.query(
            "CALL algo.or.solve({algorithm: $a, label: 'Nation', "
            "property: 'or_x', min: 0.0, max: 1.0, population_size: 30, "
            "max_iterations: 60, seed: 42}) YIELD fitness, algorithm",
            {"a": a},
        ).select("algorithm", "fitness")
        for a in algos
    ]
    return reduce(lambda x, y: x.unionByName(y), outs).orderBy("algorithm")


@query("or_solve_budget", None)  # stochastic metaheuristic: rows-only check
def or_solve_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL algo.or.solve: Jaya allocation over Part nodes — minimize
    sum(alloc * part.retailprice) s.t. sum(alloc) >= 50, alloc in [0, 1].
    Seeded, so deterministic per run; no SQL oracle (iterative rng
    population search).  Returns the summary record plus the best
    allocation's checksum so result rows are schema-stable."""
    from samyama_graph_spark.cypher import CypherEngine

    g = tpch_graph(spark, sf_dir)
    eng = CypherEngine(g)
    return eng.query(
        "CALL algo.or.solve({algorithm: 'Jaya', label: 'Part', "
        "property: 'or_alloc', cost_property: 'retailprice', "
        "min: 0.0, max: 1.0, min_total: 50.0, population_size: 30, "
        "max_iterations: 60, seed: 42}) "
        "YIELD fitness, algorithm, iterations"
    )


# --------------------------------------------------------------------------
# RDF + SPARQL BGP (reference: src/rdf/store.rs:66-250; executes what
# src/sparql/executor.rs:33-54 stubs)
# --------------------------------------------------------------------------


@query(
    "rdf_sparql_bgp",
    """
    SELECT 'http://ex.org/c' || c_custkey AS c,
           'http://ex.org/r' || r_regionkey AS r
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    """,
)
def rdf_sparql_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL basic-graph-pattern SELECT over a triple projection of
    customer->nation->region: two joined patterns + a literal filter.
    Each pattern is a filtered scan of the triple frame; the shared
    variables become equi-joins (the relational mapping of BGPs)."""
    from samyama_graph_spark.rdf import RdfStore

    ex = "http://ex.org/"
    t = load_tables(spark, sf_dir, ["customer", "nation", "region"])
    cust, nat, reg = t["customer"], t["nation"], t["region"]
    t1 = cust.select(
        F.concat(F.lit(f"{ex}c"), F.col("c_custkey")).alias("s"),
        F.lit(f"{ex}inNation").alias("p"),
        F.concat(F.lit(f"{ex}n"), F.col("c_nationkey")).alias("o"),
        F.lit("iri").alias("o_kind"),
    )
    t2 = nat.select(
        F.concat(F.lit(f"{ex}n"), F.col("n_nationkey")).alias("s"),
        F.lit(f"{ex}inRegion").alias("p"),
        F.concat(F.lit(f"{ex}r"), F.col("n_regionkey")).alias("o"),
        F.lit("iri").alias("o_kind"),
    )
    t3 = reg.select(
        F.concat(F.lit(f"{ex}r"), F.col("r_regionkey")).alias("s"),
        F.lit(f"{ex}name").alias("p"),
        F.col("r_name").alias("o"),
        F.lit("literal").alias("o_kind"),
    )
    triples = (
        t1.unionByName(t2)
        .unionByName(t3)
        .withColumn("o_datatype", F.lit(None).cast("string"))
        .withColumn("o_lang", F.lit(None).cast("string"))
        .withColumn("g", F.lit(None).cast("string"))
    )
    store = RdfStore(spark, triples)
    return store.sparql(
        f"""
        PREFIX ex: <{ex}>
        SELECT ?c ?r WHERE {{
            ?c ex:inNation ?n .
            ?n ex:inRegion ?r .
            ?r ex:name "ASIA" .
        }}
        """
    )


@query(
    "rdf_sparql_modifiers",
    """
    SELECT c_name AS n,
           CASE WHEN c_mktsegment = 'BUILDING'
                THEN c_mktsegment END AS seg
    FROM customer
    WHERE c_acctbal > 5000
      AND c_name NOT LIKE 'Customer#000000001%'
    ORDER BY n
    LIMIT 25 OFFSET 5
    """,
)
def rdf_sparql_modifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL solution modifiers over a customer triple projection —
    FILTER (numeric comparison + negated strstarts), OPTIONAL
    left-join (segment triples exist only for BUILDING customers, so
    unmatched rows bind NULL), ORDER BY, OFFSET and LIMIT.  Exceeds
    the reference, whose SPARQL executor is a stub
    (sparql/executor.rs:33-54)."""
    from samyama_graph_spark.rdf import RdfStore

    ex = "http://ex.org/"
    cust = load_tables(spark, sf_dir, ["customer"])["customer"]
    subj = F.concat(F.lit(f"{ex}c"), F.col("c_custkey")).alias("s")
    names = cust.select(
        subj, F.lit(f"{ex}name").alias("p"), F.col("c_name").alias("o"),
        F.lit("literal").alias("o_kind"),
    )
    bals = cust.select(
        subj, F.lit(f"{ex}acctbal").alias("p"),
        F.col("c_acctbal").cast("string").alias("o"),
        F.lit("literal").alias("o_kind"),
    )
    segs = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        subj, F.lit(f"{ex}segment").alias("p"),
        F.col("c_mktsegment").alias("o"),
        F.lit("literal").alias("o_kind"),
    )
    triples = (
        names.unionByName(bals)
        .unionByName(segs)
        .withColumn("o_datatype", F.lit(None).cast("string"))
        .withColumn("o_lang", F.lit(None).cast("string"))
        .withColumn("g", F.lit(None).cast("string"))
    )
    store = RdfStore(spark, triples)
    return store.sparql(
        f"""
        PREFIX ex: <{ex}>
        SELECT ?n ?seg WHERE {{
            ?c ex:name ?n .
            ?c ex:acctbal ?b .
            OPTIONAL {{ ?c ex:segment ?seg . }}
            FILTER(?b > 5000 && !strstarts(?n, "Customer#000000001"))
        }}
        ORDER BY ?n
        LIMIT 25 OFFSET 5
        """
    )


@query(
    "rdf_sparql_aggregates",
    """
    WITH t AS (
        SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
        WHERE o_totalprice > 100000
        UNION ALL
        SELECT 'F:' || o_orderstatus, o_totalprice FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice > 100000
    )
    SELECT g, count(*)::BIGINT AS n, round(sum(v), 2) AS total,
           max(v) AS hi
    FROM t GROUP BY g ORDER BY g
    """,
)
def rdf_sparql_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION groups + GROUP BY aggregates over an orders triple
    projection: two branches (priority grouping, F-status grouping)
    each FILTERed numerically, concatenated by UNION, then
    COUNT/SUM/MAX per group.  Exceeds the reference, whose SPARQL
    executor is a stub (sparql/executor.rs:33-54)."""
    from samyama_graph_spark.rdf import RdfStore

    ex = "http://ex.org/"
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    subj = F.concat(F.lit(f"{ex}o"), F.col("o_orderkey")).alias("s")
    prio = orders.select(
        subj, F.lit(f"{ex}group").alias("p"),
        F.col("o_orderpriority").alias("o"),
        F.lit("literal").alias("o_kind"),
    )
    stat = orders.filter(F.col("o_orderstatus") == "F").select(
        subj, F.lit(f"{ex}group2").alias("p"),
        F.concat(F.lit("F:"), F.col("o_orderstatus")).alias("o"),
        F.lit("literal").alias("o_kind"),
    )
    price = orders.select(
        subj, F.lit(f"{ex}price").alias("p"),
        F.col("o_totalprice").cast("string").alias("o"),
        F.lit("literal").alias("o_kind"),
    )
    triples = (
        prio.unionByName(stat)
        .unionByName(price)
        .withColumn("o_datatype", F.lit(None).cast("string"))
        .withColumn("o_lang", F.lit(None).cast("string"))
        .withColumn("g", F.lit(None).cast("string"))
    )
    store = RdfStore(spark, triples)
    out = store.sparql(
        f"""
        PREFIX ex: <{ex}>
        SELECT ?g (COUNT(?o) AS ?n) (SUM(?v) AS ?total) (MAX(?v) AS ?hi)
        WHERE {{
            {{ ?o ex:group ?g . ?o ex:price ?v . FILTER(?v > 100000) }}
            UNION
            {{ ?o ex:group2 ?g . ?o ex:price ?v . FILTER(?v > 100000) }}
        }} GROUP BY ?g ORDER BY ?g
        """
    )
    return out.select(
        "g", "n", F.round("total", 2).alias("total"),
        F.col("hi").cast("double").alias("hi"),
    )


@query(
    "rdf_sparql_term_meta",
    """
    SELECT 'http://ex.org/c' || c_custkey AS c,
           CASE WHEN c_custkey % 3 = 0 THEN 'en' ELSE '' END AS lg,
           CASE WHEN c_custkey % 3 = 0
                THEN 'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString'
                ELSE 'http://www.w3.org/2001/XMLSchema#string' END AS dt,
           (c_custkey % 2 = 0) AS is_iri,
           (c_custkey % 2 <> 0) AS is_blank
    FROM customer
    """,
)
def rdf_sparql_term_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL term-metadata builtins LANG / DATATYPE / isIRI / isBLANK
    / isLITERAL over a customer triple projection whose name literals
    are lang-tagged for every third customer and whose ref objects
    alternate IRI / blank node.  Object-position bindings carry the
    store's o_kind/o_datatype/o_lang as hidden metadata columns
    (rdf.py:_simple_leg), so each builtin is an exact column
    projection — no lexical guessing.  Exceeds the reference, whose
    SPARQL executor is a stub (sparql/executor.rs:33-54)."""
    from samyama_graph_spark.rdf import RdfStore

    ex = "http://ex.org/"
    cust = load_tables(spark, sf_dir, ["customer"])["customer"]
    subj = F.concat(F.lit(f"{ex}c"), F.col("c_custkey")).alias("s")
    names = cust.select(
        subj, F.lit(f"{ex}name").alias("p"), F.col("c_name").alias("o"),
        F.lit("literal").alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit("en")).alias("o_lang"),
    )
    refs = cust.select(
        subj, F.lit(f"{ex}ref").alias("p"),
        F.when(
            F.col("c_custkey") % 2 == 0,
            F.concat(F.lit(f"{ex}n"), F.col("c_nationkey")),
        ).otherwise(F.concat(F.lit("_:b"), F.col("c_custkey"))).alias("o"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit("iri"))
        .otherwise(F.lit("blank")).alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )
    triples = names.unionByName(refs).withColumn(
        "g", F.lit(None).cast("string")
    )
    store = RdfStore(spark, triples)
    return store.sparql(
        f"""
        PREFIX ex: <{ex}>
        SELECT ?c (LANG(?n) AS ?lg) (DATATYPE(?n) AS ?dt)
               (isIRI(?x) AS ?is_iri) (isBLANK(?x) AS ?is_blank)
        WHERE {{
            ?c ex:name ?n .
            ?c ex:ref ?x .
            FILTER(isLITERAL(?n) && !isLITERAL(?x))
        }}
        """
    )


@query(
    "rdf_sparql_paths",
    """
    WITH RECURSIVE e AS (
        SELECT n_nationkey AS s, nxt AS o FROM (
            SELECT n_nationkey,
                   lead(n_nationkey) OVER (
                       PARTITION BY n_regionkey ORDER BY n_nationkey
                   ) AS nxt
            FROM nation
        ) WHERE nxt IS NOT NULL
    ), cl AS (
        SELECT s, o FROM e
        UNION
        SELECT cl.s, e.o FROM cl JOIN e ON cl.o = e.s
    )
    SELECT na.n_name AS an, nb.n_name AS bn
    FROM cl
    JOIN nation na ON na.n_nationkey = cl.s
    JOIN nation nb ON nb.n_nationkey = cl.o
    """,
)
def rdf_sparql_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 property paths over a nation-successor triple
    projection: ``ex:next+`` transitive closure composed in a sequence
    with a name lookup (``ex:next+/ex:name``).  Exceeds the reference
    (sparql/executor.rs:33-54 is a stub); the oracle is DuckDB's
    recursive CTE over the same successor edges.  The successor
    relation is 20 pairs at every shipped scale factor, far under
    ``util.DRIVER_EDGE_GUARD``, so the closure settles on the driver in
    ``rdf._closure_pairs_vec``; the superstep reach loop
    (rdf.py:_path_closure) runs only above that guard."""
    from pyspark.sql import Window

    from samyama_graph_spark.rdf import RdfStore

    ex = "http://ex.org/"
    nat = load_tables(spark, sf_dir, ["nation"])["nation"]
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    nxt = (
        nat.withColumn("nxt", F.lead("n_nationkey").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            F.concat(F.lit(f"{ex}n"), F.col("n_nationkey")).alias("s"),
            F.lit(f"{ex}next").alias("p"),
            F.concat(F.lit(f"{ex}n"), F.col("nxt")).alias("o"),
            F.lit("iri").alias("o_kind"),
        )
    )
    names = nat.select(
        F.concat(F.lit(f"{ex}n"), F.col("n_nationkey")).alias("s"),
        F.lit(f"{ex}name").alias("p"),
        F.col("n_name").alias("o"),
        F.lit("literal").alias("o_kind"),
    )
    triples = (
        nxt.unionByName(names)
        .withColumn("o_datatype", F.lit(None).cast("string"))
        .withColumn("o_lang", F.lit(None).cast("string"))
        .withColumn("g", F.lit(None).cast("string"))
    )
    store = RdfStore(spark, triples)
    return store.sparql(
        f"""
        PREFIX ex: <{ex}>
        SELECT ?an ?bn WHERE {{
            ?a ex:next+/ex:name ?bn .
            ?a ex:name ?an .
        }}
        """
    )


def _cn_store(spark: SparkSession, sf_dir: str):
    """Customer->nation triple projection shared by the CONSTRUCT and
    ASK registry entries."""
    from samyama_graph_spark.rdf import RdfStore

    ex = "http://ex.org/"
    t = load_tables(spark, sf_dir, ["customer", "nation"])
    cust, nat = t["customer"], t["nation"]
    t1 = cust.select(
        F.concat(F.lit(f"{ex}c"), F.col("c_custkey")).alias("s"),
        F.lit(f"{ex}inNation").alias("p"),
        F.concat(F.lit(f"{ex}n"), F.col("c_nationkey")).alias("o"),
        F.lit("iri").alias("o_kind"),
    )
    t2 = nat.select(
        F.concat(F.lit(f"{ex}n"), F.col("n_nationkey")).alias("s"),
        F.lit(f"{ex}name").alias("p"),
        F.col("n_name").alias("o"),
        F.lit("literal").alias("o_kind"),
    )
    triples = (
        t1.unionByName(t2)
        .withColumn("o_datatype", F.lit(None).cast("string"))
        .withColumn("o_lang", F.lit(None).cast("string"))
        .withColumn("g", F.lit(None).cast("string"))
    )
    return RdfStore(spark, triples), ex


@query(
    "rdf_sparql_construct",
    """
    SELECT 'http://ex.org/c' || c_custkey AS s,
           'http://ex.org/locatedIn' AS p,
           n_name AS o
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    UNION
    SELECT DISTINCT 'http://ex.org/c' || c_custkey,
           'http://ex.org/kind', 'customer'
    FROM customer
    """,
)
def rdf_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT over the customer->nation projection: a
    two-triple template (variable rewrite + constant type triple)
    instantiated per solution, distinct (s, p, o) output.  Exceeds the
    reference (sparql/executor.rs:33-54 is a stub)."""
    store, ex = _cn_store(spark, sf_dir)
    return store.sparql(
        f"""
        PREFIX ex: <{ex}>
        CONSTRUCT {{
            ?c ex:locatedIn ?nm .
            ?c ex:kind "customer" .
        }}
        WHERE {{ ?c ex:inNation ?n . ?n ex:name ?nm . }}
        """
    )


@query(
    "rdf_sparql_ask",
    """
    SELECT EXISTS (
        SELECT 1 FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE n_name = 'JAPAN'
    ) AS a,
    NOT EXISTS (
        SELECT 1 FROM nation WHERE n_name = 'ATLANTIS'
    ) AS b
    """,
)
def rdf_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK (one early-terminating probe each): a satisfiable
    two-pattern group and an unsatisfiable literal filter, both as
    one row (a, b)."""
    store, ex = _cn_store(spark, sf_dir)
    a = store.ask(
        f'PREFIX ex: <{ex}> ASK {{ ?c ex:inNation ?n . ?n ex:name "JAPAN" . }}'
    )
    b = not store.ask(
        f'PREFIX ex: <{ex}> ASK {{ ?n ex:name "ATLANTIS" . }}'
    )
    return spark.createDataFrame([(a, b)], "a boolean, b boolean")


# --------------------------------------------------------------------------
# SCC (reference: community.rs:96) — nation rings + supplier tails
# --------------------------------------------------------------------------


@query(
    "scc_nation_rings",
    f"""
    SELECT n_nationkey + {_N} AS id,
           min(n_nationkey) OVER (PARTITION BY n_regionkey) + {_N} AS component
    FROM nation
    UNION ALL
    SELECT s_suppkey + {_S} AS id, s_suppkey + {_S} AS component FROM supplier
    """,
)
def scc_nation_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL algo.scc (reference community.rs:96 runs sequential Tarjan;
    here forward-backward min-label coloring): nations of each region
    are wired into a directed ring (one SCC per region) and suppliers
    point into their nation (singleton SCCs, settled in the second
    outer round after the rings are peeled)."""
    from pyspark.sql import Window

    from samyama_graph_spark.algorithms.scc import scc

    nat = load_tables(spark, sf_dir, ["nation"])["nation"]
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ring = nat.select(
        (F.col("n_nationkey") + F.lit(_N)).alias("src"),
        (
            F.coalesce(F.lead("n_nationkey").over(w),
                       F.first("n_nationkey").over(wf))
            + F.lit(_N)
        ).alias("dst"),
    )
    g = tpch_graph(spark, sf_dir)
    sup = g.edge_df("IN_NATION").filter(
        F.col("src") >= ID_BASE["Supplier"]
    ).select("src", "dst")
    return scc(ring.unionByName(sup))


# --------------------------------------------------------------------------
# MST (reference: mst.rs:41 Prim; here Boruvka) — weighted nation rings
# + supplier bridges
# --------------------------------------------------------------------------


@query(
    "mst_nation_rings",
    f"""
    WITH r AS (
        SELECT n_regionkey AS reg, n_nationkey AS k,
               coalesce(
                   lead(n_nationkey) OVER w,
                   first_value(n_nationkey) OVER (
                       PARTITION BY n_regionkey ORDER BY n_nationkey
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING)
               ) AS nk
        FROM nation
        WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_nationkey)
    ),
    ring AS (
        SELECT DISTINCT reg, least(k, nk) AS a, greatest(k, nk) AS b
        FROM r WHERE k <> nk
    ),
    ranked AS (
        SELECT reg, a, b, (a * 1000 + b)::DOUBLE AS weight,
               row_number() OVER (
                   PARTITION BY reg ORDER BY (a * 1000 + b) DESC) AS rn,
               count(*) OVER (PARTITION BY reg) AS cnt
        FROM ring
    )
    SELECT a + {_N} AS src, b + {_N} AS dst, weight
    FROM ranked WHERE rn > 1 OR cnt < 3
    UNION ALL
    SELECT least(s_suppkey + {_S}, s_nationkey + {_N}) AS src,
           greatest(s_suppkey + {_S}, s_nationkey + {_N}) AS dst,
           (100000 + s_suppkey)::DOUBLE AS weight
    FROM supplier
    """,
)
def mst_nation_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL algo.mst: minimum spanning forest of weighted nation rings
    (unique canonical-pair weights, so the MSF of each ring is the ring
    minus its heaviest edge) plus supplier->nation bridges (bridges are
    always in the MSF).  Boruvka rounds: each component picks its
    cheapest outgoing edge, components contract via WCC."""
    from pyspark.sql import Window

    from samyama_graph_spark.algorithms.mst import mst

    nat = load_tables(spark, sf_dir, ["nation"])["nation"]
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ring = (
        nat.select(
            F.col("n_nationkey").alias("k"),
            F.coalesce(
                F.lead("n_nationkey").over(w), F.first("n_nationkey").over(wf)
            ).alias("nk"),
        )
        .filter(F.col("k") != F.col("nk"))
        .select(
            (F.least("k", "nk") + F.lit(_N)).alias("src"),
            (F.greatest("k", "nk") + F.lit(_N)).alias("dst"),
            (
                (F.least("k", "nk") * 1000 + F.greatest("k", "nk"))
                .cast("double")
            ).alias("weight"),
        )
    )
    sup = load_tables(spark, sf_dir, ["supplier"])["supplier"].select(
        F.least(
            F.col("s_suppkey") + F.lit(_S), F.col("s_nationkey") + F.lit(_N)
        ).alias("src"),
        F.greatest(
            F.col("s_suppkey") + F.lit(_S), F.col("s_nationkey") + F.lit(_N)
        ).alias("dst"),
        (F.lit(100000) + F.col("s_suppkey")).cast("double").alias("weight"),
    )
    return mst(ring.unionByName(sup))


# --------------------------------------------------------------------------
# Max flow (reference: flow.rs:16 Edmonds-Karp, driver-side like the
# reference's single-threaded solver) — 3-layer source/region/nation/sink
# --------------------------------------------------------------------------


@query(
    "max_flow_layered",
    "SELECT sum(least(n_nationkey + 1, 7))::DOUBLE AS flow FROM nation",
)
def max_flow_layered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL algo.maxFlow on a layered network: source(-1) -> regions
    (cap 100) -> their nations (cap nationkey+1) -> sink(-2) (cap 7).
    Region capacity never binds, so the exact flow is
    sum(min(nationkey+1, 7)) — the oracle.  Capacity aggregation is
    distributed; only the augmenting-path loop runs driver-side."""
    from samyama_graph_spark.algorithms.flow import max_flow

    nat = load_tables(spark, sf_dir, ["nation"])["nation"]
    src_edges = nat.select(F.lit(-1).cast("long").alias("src"),
                           (F.col("n_regionkey") + F.lit(_R)).alias("dst"),
                           F.lit(100.0).alias("capacity")).distinct()
    mid_edges = nat.select(
        (F.col("n_regionkey") + F.lit(_R)).alias("src"),
        (F.col("n_nationkey") + F.lit(_N)).alias("dst"),
        (F.col("n_nationkey") + 1).cast("double").alias("capacity"),
    )
    sink_edges = nat.select(
        (F.col("n_nationkey") + F.lit(_N)).alias("src"),
        F.lit(-2).cast("long").alias("dst"),
        F.lit(7.0).alias("capacity"),
    )
    edges = src_edges.unionByName(mid_edges).unionByName(sink_edges)
    flow = max_flow(edges, -1, -2, "capacity")
    return spark.createDataFrame([(float(flow),)], "flow double")
