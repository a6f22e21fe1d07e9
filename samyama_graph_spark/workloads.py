"""Driver-facing query registry: named queries + DuckDB oracle SQL.

Each entry re-expresses one operator family from SURVEY.md §2 (the
reference's physical-operator inventory, src/query/executor/operator.rs)
as an idiomatic Spark DataFrame plan, paired with ANSI SQL that DuckDB
can run over the same raw parquet views for the driver's correctness
gate.

Conventions (driver contract):
- every callable takes (spark, sf_dir) and returns a DataFrame;
- every computed column is aliased identically in the Spark plan and
  the oracle SQL (the driver hashes values after sorting columns by
  name);
- float aggregates are rounded to a fixed number of decimals on BOTH
  sides so double-summation-order differences between engines cannot
  flip the value hash;
- any LIMIT is preceded by a total deterministic ORDER BY.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from samyama_graph_spark.loaders import ID_BASE, load_tables, tpch_graph


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


# --------------------------------------------------------------------------
# Scans / point lookups / counts
# (reference: NodeScanOperator operator.rs:1981, NodeByIdOperator :8135,
#  LabelCountOperator :2164, EdgeTypeCountOperator :2225)
# --------------------------------------------------------------------------


@query(
    "node_scan_filter",
    """
    SELECT c_name AS name, c_acctbal AS acctbal
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000
    """,
)
def node_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label scan + predicate; the filter pushes down to the parquet scan."""
    g = tpch_graph(spark, sf_dir)
    return (
        g.node_df("Customer")
        .filter((F.col("mktsegment") == "BUILDING") & (F.col("acctbal") > 1000))
        .select("name", "acctbal")
    )


@query(
    "node_by_id",
    "SELECT c_name AS name, c_acctbal AS acctbal FROM customer WHERE c_custkey = 42",
)
def node_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup by global node id (min/max row-group pruning)."""
    g = tpch_graph(spark, sf_dir)
    return (
        g.node_df("Customer")
        .filter(F.col("id") == ID_BASE["Customer"] + 42)
        .select("name", "acctbal")
    )


@query("label_count", "SELECT count(*) AS n FROM customer")
def label_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return g.node_df("Customer").agg(F.count(F.lit(1)).alias("n"))


@query(
    "label_edge_counts",
    """
    SELECT 'label' AS kind, 'Region' AS name, count(*) AS n FROM region
    UNION ALL SELECT 'label', 'Nation', count(*) FROM nation
    UNION ALL SELECT 'label', 'Customer', count(*) FROM customer
    UNION ALL SELECT 'label', 'Supplier', count(*) FROM supplier
    UNION ALL SELECT 'label', 'Part', count(*) FROM part
    UNION ALL SELECT 'label', 'Order', count(*) FROM orders
    UNION ALL SELECT 'label', 'Document', count(*) FROM documents
    UNION ALL SELECT 'edge', 'PLACED', count(*) FROM orders
    UNION ALL SELECT 'edge', 'CONTAINS', count(*) FROM lineitem
    UNION ALL SELECT 'edge', 'SUPPLIED_BY', count(*) FROM lineitem
    UNION ALL SELECT 'edge', 'IN_NATION',
        (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
    UNION ALL SELECT 'edge', 'IN_REGION', count(*) FROM nation
    """,
)
def label_edge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LabelCountOperator + EdgeTypeCountOperator in one gate row
    (reference operator.rs:2164, :2225): per-label node counts and
    per-type edge counts — both metadata aggregates the reference
    answers from catalog counters, here one count per label/type frame
    (each collapses to a parquet-footer-count scan)."""
    g = tpch_graph(spark, sf_dir)
    parts = [
        df.agg(
            F.lit("label").alias("kind"),
            F.lit(lbl).alias("name"),
            F.count(F.lit(1)).alias("n"),
        )
        for lbl, df in g.nodes.items()
    ] + [
        df.agg(
            F.lit("edge").alias("kind"),
            F.lit(t).alias("name"),
            F.count(F.lit(1)).alias("n"),
        )
        for t, df in g.edges.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "edge_type_count",
    """
    SELECT 'PLACED' AS type, count(*) AS n FROM orders
    UNION ALL SELECT 'CONTAINS' AS type, count(*) AS n FROM lineitem
    UNION ALL SELECT 'SUPPLIED_BY' AS type, count(*) AS n FROM lineitem
    UNION ALL SELECT 'IN_NATION' AS type,
           (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier) AS n
    UNION ALL SELECT 'IN_REGION' AS type, count(*) AS n FROM nation
    """,
)
def edge_type_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH ()-[r]->() RETURN type(r), count(r) — per-type metadata counts."""
    g = tpch_graph(spark, sf_dir)
    parts = [
        df.agg(F.lit(t).alias("type"), F.count(F.lit(1)).alias("n"))
        for t, df in g.edges.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# --------------------------------------------------------------------------
# Expand (graph join) + aggregate + sort + limit — the flagship chain
# (reference: ExpandOperator operator.rs:2744, AggregateOperator :3683,
#  SortOperator :4353, LimitOperator :4281)
# --------------------------------------------------------------------------


@query(
    "flagship_top_customers",
    """
    SELECT c_name AS name, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_spent
    FROM customer JOIN orders ON o_custkey = c_custkey
    WHERE o_totalprice > 50000
    GROUP BY c_name
    ORDER BY total_spent DESC, name
    LIMIT 10
    """,
)
def flagship_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE o.totalprice > 50000
    RETURN c.name, count(o), sum(o.totalprice) ORDER BY 3 DESC LIMIT 10.

    Scan -> Expand -> Filter -> Aggregate -> Sort -> Limit, the exact
    operator chain of the reference planner (planner.rs:1047-1230).
    Customer side is dimension-sized -> broadcast join; the sort+limit
    compiles to TakeOrderedAndProject (no full sort).
    """
    g = tpch_graph(spark, sf_dir)
    c = g.node_df("Customer")
    placed = g.edge_df("PLACED")
    o = g.node_df("Order").filter(F.col("totalprice") > 50000)
    return (
        o.join(placed, o["id"] == placed["dst"])
        .join(F.broadcast(c), placed["src"] == c["id"])
        .groupBy(c["name"].alias("name"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("totalprice"), 2).alias("total_spent"),
        )
        .orderBy(F.desc("total_spent"), F.asc("name"))
        .limit(10)
    )


@query(
    "two_hop_revenue",
    """
    SELECT c_name AS name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_name
    ORDER BY revenue DESC, name
    LIMIT 20
    """,
)
def two_hop_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop expansion Customer-[:PLACED]->Order-[:CONTAINS]->Part with
    revenue aggregation; joins chain on the shared order id."""
    g = tpch_graph(spark, sf_dir)
    c = g.node_df("Customer")
    placed = g.edge_df("PLACED")
    contains = g.edge_df("CONTAINS")
    return (
        contains.join(placed, contains["src"] == placed["dst"])
        .join(F.broadcast(c), placed["src"] == c["id"])
        .groupBy(c["name"].alias("name"))
        .agg(
            F.round(
                F.sum(F.col("extendedprice") * (1 - F.col("discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("name"))
        .limit(20)
    )


@query(
    "pricing_summary",
    """
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape over the CONTAINS edge properties — hash
    aggregation with partial (map-side) combine, the Spark-native
    version of the reference's AggregateOperator (operator.rs:3683)."""
    g = tpch_graph(spark, sf_dir)
    li = g.edge_df("CONTAINS").filter(
        F.col("shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return li.groupBy(
        F.col("returnflag"), F.col("linestatus")
    ).agg(
        F.round(F.sum("quantity"), 2).alias("sum_qty"),
        F.round(F.sum("extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("extendedprice") * (1 - F.col("discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("quantity"), 4).alias("avg_qty"),
        F.round(F.avg("extendedprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --------------------------------------------------------------------------
# OPTIONAL MATCH / EXISTS / NOT EXISTS
# (reference: LeftOuterJoinOperator operator.rs:5008, semi-join rewrite
#  semi_join_detector.rs:74, EXISTS{} subquery -> anti/semi join)
# --------------------------------------------------------------------------


@query(
    "optional_match_order_counts",
    """
    SELECT c_name AS name, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_name
    """,
)
def optional_match_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL MATCH (c)-[:PLACED]->(o) RETURN c.name, count(o) —
    customers without orders appear with 0."""
    g = tpch_graph(spark, sf_dir)
    c = g.node_df("Customer")
    placed = g.edge_df("PLACED")
    return (
        c.join(placed, c["id"] == placed["src"], "left_outer")
        .groupBy(c["name"].alias("name"))
        .agg(F.count(placed["dst"]).alias("n_orders"))
    )


@query(
    "exists_semi_join",
    """
    SELECT c_name AS name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def exists_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE EXISTS {(c)-[:PLACED]->(o) WHERE o.totalprice > 300000}
    compiles to a left-semi join (never duplicates the left side)."""
    g = tpch_graph(spark, sf_dir)
    c = g.node_df("Customer")
    big = (
        g.node_df("Order")
        .filter(F.col("totalprice") > 300000)
        .join(g.edge_df("PLACED"), F.col("id") == F.col("dst"))
        .select("src")
    )
    return c.join(big, c["id"] == big["src"], "left_semi").select("name")


@query(
    "not_exists_anti_join",
    """
    SELECT c_name AS name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def not_exists_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE NOT EXISTS {...} -> left-anti join."""
    g = tpch_graph(spark, sf_dir)
    c = g.node_df("Customer")
    placed = g.edge_df("PLACED").select("src")
    return c.join(placed, c["id"] == placed["src"], "left_anti").select("name")


# --------------------------------------------------------------------------
# DISTINCT / UNION / UNWIND / SKIP-LIMIT
# (reference: WithBarrierOperator operator.rs:7715, UnwindOperator :7229,
#  SkipOperator :6960; UNION parsed but unimplemented in the reference —
#  we implement it properly)
# --------------------------------------------------------------------------


@query(
    "distinct_segments",
    "SELECT DISTINCT c_mktsegment AS mktsegment FROM customer",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return g.node_df("Customer").select(
        F.col("mktsegment").alias("mktsegment")
    ).distinct()


@query(
    "union_distinct",
    """
    SELECT c_name AS name FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT c_name AS name FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    c = g.node_df("Customer")
    a = c.filter(F.col("acctbal") > 9000).select("name")
    b = c.filter(F.col("mktsegment") == "BUILDING").select("name")
    return a.union(b).distinct()


@query(
    "unwind_words",
    """
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
    GROUP BY word
    """,
)
def unwind_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNWIND split(p.type,' ') AS word RETURN word, count(*) — explode."""
    g = tpch_graph(spark, sf_dir)
    return (
        g.node_df("Part")
        .select(F.explode(F.split(F.col("type"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "order_skip_limit",
    """
    SELECT c_name AS name, c_acctbal AS acctbal
    FROM customer ORDER BY c_acctbal DESC, c_name LIMIT 5 OFFSET 5
    """,
)
def order_skip_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return (
        g.node_df("Customer")
        .select("name", "acctbal")
        .orderBy(F.desc("acctbal"), F.asc("name"))
        .offset(5)
        .limit(5)
    )


# --------------------------------------------------------------------------
# Aggregate long tail: stddev / percentiles / collect
# (reference: AggregateType operator.rs:3399-3412)
# --------------------------------------------------------------------------


@query(
    "agg_stats",
    """
    SELECT o_orderpriority AS priority,
           count(*) AS n,
           round(avg(o_totalprice), 4) AS avg_price,
           round(stddev_samp(o_totalprice), 4) AS sd_price,
           round(stddev_pop(o_totalprice), 4) AS sdp_price,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4)
               AS median_price,
           round(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4)
               AS median_disc,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stDev/stDevP/percentileCont/percentileDisc/min/max/avg/count —
    the reference's full AggregateType list (operator.rs:3399-3412)."""
    g = tpch_graph(spark, sf_dir)
    o = g.node_df("Order")
    return o.groupBy(F.col("orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("totalprice"), 4).alias("avg_price"),
        F.round(F.stddev_samp("totalprice"), 4).alias("sd_price"),
        F.round(F.stddev_pop("totalprice"), 4).alias("sdp_price"),
        F.round(F.percentile("totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY totalprice)"), 4
        ).alias("median_disc"),
        F.round(F.min("totalprice"), 2).alias("min_price"),
        F.round(F.max("totalprice"), 2).alias("max_price"),
    )


@query(
    "count_distinct_semijoin",
    """
    SELECT n_name AS nation, count(DISTINCT o_custkey) AS n_buyers
    FROM nation
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    GROUP BY n_name
    """,
)
def count_distinct_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ADR-017 pain shape — MATCH (n)<-[:IN_NATION]-(c)
    -[:PLACED]->(o) RETURN n.name, count(DISTINCT c) — expressed as the
    natural Spark plan (Catalyst expands distinct-agg in two stages)."""
    g = tpch_graph(spark, sf_dir)
    n = g.node_df("Nation")
    in_nation = g.edge_df("IN_NATION")
    placed = g.edge_df("PLACED")
    return (
        placed.join(in_nation, placed["src"] == in_nation["src"])
        .join(F.broadcast(n), in_nation["dst"] == n["id"])
        .groupBy(n["name"].alias("nation"))
        .agg(F.countDistinct(placed["src"]).alias("n_buyers"))
    )


# --------------------------------------------------------------------------
# Events: temporal bucketing (window-shaped agg on the events table)
# --------------------------------------------------------------------------


@query(
    "events_hourly",
    """
    SELECT event_type, date_trunc('hour', ts) AS hour,
           count(*) AS n, round(sum(value), 4) AS total
    FROM events GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form); the streaming form is
    samyama_graph_spark.streaming with withWatermark + window()."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    return e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))


@query(
    "events_json_extract",
    """
    SELECT event_type, round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property access (map/JSON properties in the
    reference's PropertyMap) via get_json_object."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.round(
                F.avg(F.get_json_object(F.col("props"), "$.k").cast("double")), 4
            ).alias("avg_k")
        )
    )


def load_all_workloads() -> dict[str, QuerySpec]:
    """Import every workload module (each registers into REGISTRY)."""
    import samyama_graph_spark.workloads_cypher  # noqa: F401
    import samyama_graph_spark.workloads_datapipe  # noqa: F401
    import samyama_graph_spark.workloads_graph  # noqa: F401
    import samyama_graph_spark.workloads_finbench  # noqa: F401
    import samyama_graph_spark.workloads_ldbc  # noqa: F401
    import samyama_graph_spark.workloads_streaming  # noqa: F401

    return REGISTRY


# ---------------------------------------------------------------------------
# Gate view: the driver's correctness gate checks exactly the FIRST 50
# keys of __spark_entry__.queries().  GATE_ORDER is the curated 50-entry
# window — one row per SURVEY.md §2 operator family and per
# datapipe/streaming operator, duplicates merged.  Everything NOT listed
# here stays in REGISTRY (pytest parity tests + bench still run it);
# only the driver-facing view is restricted.  Membership and order are
# frozen: the driver compares each run's window with its last record,
# and a row that leaves it reads as a dropped query.
# ---------------------------------------------------------------------------

GATE_ORDER: list[str] = [
    "node_scan_filter",
    "label_edge_counts",
    "cypher_flagship",
    "cypher_two_hop_agg",
    "ldbc_bi1_posting_summary",
    "order_skip_limit",
    "agg_stats",
    "cypher_var_length",
    "cypher_shortest_paths",
    "cypher_call_subquery",
    "cypher_wcoj_triangle",
    "cypher_write_pipeline",
    "ldbc_ic1_transitive_name",
    "ldbc_ic10_recommendation",
    "ldbc_bi4_popular_moderators",
    "dedup_exact",
    "minhash_lsh_dedup",
    "ngram_jaccard_block",
    "simhash_dedup",
    "substring_span_dedup",
    "embedding_kmeans",
    "semdedup_verdicts",
    "knn_ivf_top10",
    "dedup_lines_corpuswide",
    "gopher_quality_rules",
    "source_quota_sample",
    "text_metrics",
    "text_fingerprints",
    "dsir_weights",
    "quality_quantile_buckets",
    "corpus_pipeline_e2e",
    "sequence_packing",
    "events_asof_join",
    "multimodal_png_stats",
    "pca_2d_closed_form",
    "bfs_layers",
    "wcc_placed_components",
    "pagerank_top20",
    "sssp_weighted",
    "cdlp_communities",
    "lcc_triangle_coorder",
    "scc_nation_rings",
    "mst_nation_rings",
    "max_flow_layered",
    "or_solve_portfolio",
    "rdf_sparql_paths",
    "rdf_sparql_construct",
    "streaming_windows",
    "streaming_stateful_totals",
    "streaming_dedup",
]

# Bench-only additions: rows rotated OUT of the 50-entry gate window
# whose timings must never disappear from the bench line (the perf
# record is additions-only — a key that vanishes reads as a dropped
# query).  Correctness for these stays pytest-oracled in REGISTRY.
BENCH_EXTRAS: list[str] = [
    # its DF-API twin knn_ivf_top10 is the ANN family's gate row
    "cypher_knn",
]


def gate_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    load_all_workloads()
    # explicit raises (not assert): the gate window must stay validated
    # even under python -O
    missing = [n for n in GATE_ORDER if n not in REGISTRY]
    if missing:
        raise ValueError(f"GATE_ORDER names not registered: {missing}")
    if len(GATE_ORDER) != len(set(GATE_ORDER)) or len(GATE_ORDER) > 50:
        raise ValueError(
            f"GATE_ORDER must be <=50 unique names, got {len(GATE_ORDER)}"
        )
    return {name: REGISTRY[name].fn for name in GATE_ORDER}


def gate_oracles() -> dict[str, str]:
    load_all_workloads()
    return {
        name: REGISTRY[name].oracle
        for name in GATE_ORDER
        if REGISTRY[name].oracle
    }


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    load_all_workloads()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    load_all_workloads()
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle
    }
