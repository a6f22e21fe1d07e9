"""Cypher-front-end workloads: the same oracle-checked semantics as the
DataFrame-API entries, but driven through the full
parse -> compile -> Catalyst stack, so the driver's gate validates the
Cypher engine end-to-end at sf=0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from samyama_graph_spark import lifecycle
from samyama_graph_spark.cypher import CypherEngine
from samyama_graph_spark.graph import PropertyGraph
from samyama_graph_spark.loaders import ID_BASE, load_tables, tpch_graph
from samyama_graph_spark.workloads import query


def _engine(spark: SparkSession, sf_dir: str) -> CypherEngine:
    return lifecycle.memo(
        spark,
        ("workloads_cypher.engine", sf_dir),
        lambda: CypherEngine(tpch_graph(spark, sf_dir)),
    )


@query(
    "cypher_flagship",
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
def cypher_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).query(
        """
        MATCH (c:Customer)-[:PLACED]->(o:Order)
        WHERE o.totalprice > 50000
        RETURN c.name AS name, count(o) AS n_orders,
               round(sum(o.totalprice), 2) AS total_spent
        ORDER BY total_spent DESC, name
        LIMIT 10
        """
    )


@query(
    "cypher_optional_match",
    """
    SELECT c_name AS name, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_name
    """,
)
def cypher_optional_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).query(
        """
        MATCH (c:Customer)
        OPTIONAL MATCH (c)-[:PLACED]->(o:Order)
        RETURN c.name AS name, count(o.id) AS n_orders
        """
    )


@query(
    "cypher_exists",
    """
    SELECT c_name AS name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def cypher_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).query(
        """
        MATCH (c:Customer)
        WHERE EXISTS { (c)-[:PLACED]->(o:Order) WHERE o.totalprice > 300000 }
        RETURN c.name AS name
        """
    )


@query(
    "cypher_not_exists",
    """
    SELECT c_name AS name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def cypher_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).query(
        "MATCH (c:Customer) WHERE NOT EXISTS { (c)-[:PLACED]->(:Order) } "
        "RETURN c.name AS name"
    )


@query(
    "cypher_var_length",
    """
    SELECT c_name AS name, n_name AS dest, 1 AS n_rels,
           'IN_NATION' AS rel_types
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey <= 100
    UNION ALL
    SELECT c_name AS name, r_name AS dest, 2 AS n_rels,
           'IN_NATION,IN_REGION' AS rel_types
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE c_custkey <= 100
    """,
)
def cypher_var_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VarLengthExpand with BOTH target binding and edge-variable
    binding (-[rs:T*1..2]->): destinations plus the traversed
    relationship-type list per row (reference operator.rs:3003
    path-materialization flag).  Each customer has exactly one 1-hop
    (nation) and one 2-hop (region) route."""
    out = _engine(spark, sf_dir).query(
        """
        MATCH (c:Customer)-[rs:IN_NATION|IN_REGION*1..2]->(x)
        WHERE id(c) <= $cmax
        RETURN c.name AS name, x.name AS dest, size(rs) AS n_rels, rs
        """,
        {"cmax": ID_BASE["Customer"] + 100},
    )
    return out.select(
        "name",
        "dest",
        F.col("n_rels").cast("int").alias("n_rels"),
        F.array_join(F.transform("rs", lambda r: r["type"]), ",").alias(
            "rel_types"
        ),
    )


@query(
    "cypher_two_hop_agg",
    """
    SELECT n_name AS nation, count(DISTINCT o_custkey) AS n_buyers
    FROM nation
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    GROUP BY n_name
    """,
)
def cypher_two_hop_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).query(
        """
        MATCH (n:Nation)<-[:IN_NATION]-(c:Customer)-[:PLACED]->(o:Order)
        RETURN n.name AS nation, count(DISTINCT c.id) AS n_buyers
        """
    )


@query(
    "cypher_with_unwind",
    """
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
    GROUP BY word
    """,
)
def cypher_with_unwind(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).query(
        """
        MATCH (p:Part)
        UNWIND split(p.type, ' ') AS word
        RETURN word, count(*) AS n
        """
    )


@query(
    "cypher_union",
    """
    SELECT c_name AS name FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT c_name AS name FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def cypher_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).query(
        """
        MATCH (c:Customer) WHERE c.acctbal > 9000 RETURN c.name AS name
        UNION
        MATCH (c:Customer) WHERE c.mktsegment = 'BUILDING' RETURN c.name AS name
        """
    )


@query(
    "cypher_case_projection",
    """
    SELECT o_orderkey + 6000000000 AS oid,
           CASE WHEN o_totalprice >= 200000 THEN 'large'
                WHEN o_totalprice >= 100000 THEN 'medium'
                ELSE 'small' END AS bucket
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def cypher_case_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).query(
        """
        MATCH (o:Order) WHERE o.orderpriority = '1-URGENT'
        RETURN id(o) AS oid,
               CASE WHEN o.totalprice >= 200000 THEN 'large'
                    WHEN o.totalprice >= 100000 THEN 'medium'
                    ELSE 'small' END AS bucket
        """
    )


@query(
    "cypher_knn_procedure",
    f"""
    WITH qe AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qv,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings WHERE vec_id = 0),
    ee AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    s AS (SELECT vec_id, sum(v * qv) AS dp, sum(v * v) AS nv, sum(qv * qv) AS nq
          FROM ee JOIN qe USING (i) GROUP BY vec_id)
    SELECT vec_id + {ID_BASE["Document"]} AS nodeId,
           round(dp / (sqrt(nv) * sqrt(nq)), 6) AS score
    FROM s ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id LIMIT 10
    """,
)
def cypher_knn_procedure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL db.index.vector.queryNodes('Document','embedding',$q,10) —
    the reference's vector-search procedure (planner.rs:1231-1277)
    through the Cypher CALL path."""
    embs = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    qv = [float(x) for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = _engine(spark, sf_dir).query(
        "CALL db.index.vector.queryNodes('Document', 'embedding', $q, 10)",
        {"q": qv},
    )
    return out.select("nodeId", F.round("score", 6).alias("score"))


@query(
    "cypher_call_subquery",
    """
    WITH per_cust AS (
        SELECT c_custkey, c_name,
               count(o_orderkey) AS n_orders,
               coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT'
                                 THEN 1 ELSE 0 END), 0)::BIGINT AS n_urgent
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
    )
    SELECT c_name AS name, n_orders, n_urgent
    FROM per_cust
    WHERE n_orders >= 8
    ORDER BY n_urgent DESC, name
    LIMIT 20
    """,
)
def cypher_call_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL { WITH .. } correlated subquery (reference parses at
    ast.rs:86-87 but cannot execute; implemented here): per-customer
    order stats computed per DISTINCT binding and joined back, with
    empty groups filled per aggregate semantics (count -> 0)."""
    return _engine(spark, sf_dir).query(
        """
        MATCH (c:Customer)
        CALL {
          WITH c
          MATCH (c)-[:PLACED]->(o:Order)
          RETURN count(o) AS n_orders,
                 sum(CASE WHEN o.orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                   AS n_urgent
        }
        WITH c, n_orders, n_urgent WHERE n_orders >= 8
        RETURN c.name AS name, n_orders, n_urgent
        ORDER BY n_urgent DESC, name
        LIMIT 20
        """
    )


@query(
    "cypher_pattern_comprehension",
    """
    SELECT n_name AS nation,
           coalesce(array_to_string(
               list_sort(list(s_name ORDER BY s_name)
                         FILTER (s_name IS NOT NULL)), ','), '') AS suppliers
    FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY nation
    """,
)
def cypher_pattern_comprehension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern comprehension (reference eval_pattern_comprehension
    operator.rs:2417): per-nation collected supplier names, empty list
    when the nation has none.  The projection string-joins the sorted
    list (driver-side canonicalizer hashes scalars, not lists)."""
    out = _engine(spark, sf_dir).query(
        """
        MATCH (n:Nation)
        RETURN n.name AS nation,
               [(s:Supplier)-[:IN_NATION]->(n) | s.name] AS suppliers
        ORDER BY nation
        """
    )
    return out.select(
        "nation",
        F.array_join(F.sort_array("suppliers"), ",").alias("suppliers"),
    )


@query(
    "cypher_shortest_path_nodes",
    f"""
    SELECT c_name AS name, 2 AS len,
           (c_custkey + {ID_BASE["Customer"]}) || ','
           || (c_nationkey + {ID_BASE["Nation"]}) || ','
           || (n_regionkey + {ID_BASE["Region"]}) AS path_nodes,
           'IN_NATION,IN_REGION' AS path_types
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey <= 200
    """,
)
def cypher_shortest_path_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shortestPath with FULL path materialization — nodes(p) and
    relationships(p) on the found path (reference path tracking
    operator.rs:3003, Value::Path record.rs:86-89).  The customer ->
    nation -> region path is unique, so the oracle reconstructs it
    arithmetically."""
    out = _engine(spark, sf_dir).query(
        """
        MATCH p = shortestPath((c:Customer)-[:IN_NATION|IN_REGION*..3]->(r:Region))
        WHERE id(c) <= $cmax
        RETURN c.name AS name, length(p) AS len,
               nodes(p) AS ns, relationships(p) AS rels
        """,
        {"cmax": ID_BASE["Customer"] + 200},
    )
    return out.select(
        "name",
        "len",
        F.array_join(F.transform("ns", lambda x: x.cast("string")), ",").alias(
            "path_nodes"
        ),
        F.array_join(F.transform("rels", lambda r: r["type"]), ",").alias(
            "path_types"
        ),
    )


@query(
    "cypher_all_shortest_paths",
    """
    SELECT c_name AS name, p_name AS part, count(*) AS n_paths
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN part ON p_partkey = l_partkey
    WHERE c_custkey <= 25
    GROUP BY c_name, p_name
    """,
)
def cypher_all_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """allShortestPaths TRUE multiplicity (operator.rs:7527): each
    minimal-hop route customer->order->part is a separate row, so a
    part contained in k of the customer's orders yields k paths.  The
    oracle counts (order, lineitem) routes directly."""
    out = _engine(spark, sf_dir).query(
        """
        MATCH p = allShortestPaths((c:Customer)-[:PLACED|CONTAINS*..2]->(pt:Part))
        WHERE id(c) <= $cmax
        RETURN c.name AS name, pt.name AS part, count(*) AS n_paths
        """,
        {"cmax": ID_BASE["Customer"] + 25},
    )
    return out


@query(
    "cypher_var_length_rels",
    """
    SELECT c_name AS name, 1 AS n_rels, 'IN_NATION' AS rel_types
    FROM customer WHERE c_custkey <= 100
    UNION ALL
    SELECT c_name AS name, 2 AS n_rels, 'IN_NATION,IN_REGION' AS rel_types
    FROM customer WHERE c_custkey <= 100
    """,
)
def cypher_var_length_rels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-variable binding on a var-length pattern (-[rs:T*1..2]->):
    rs is the LIST of traversed relationships (reference
    operator.rs:3003 path-materialization flag).  Every customer has
    exactly one 1-hop (nation) and one 2-hop (region) traversal."""
    out = _engine(spark, sf_dir).query(
        """
        MATCH (c:Customer)-[rs:IN_NATION|IN_REGION*1..2]->(x)
        WHERE id(c) <= $cmax
        RETURN c.name AS name, size(rs) AS n_rels, rs
        """,
        {"cmax": ID_BASE["Customer"] + 100},
    )
    return out.select(
        "name",
        F.col("n_rels").cast("int").alias("n_rels"),
        F.array_join(F.transform("rs", lambda r: r["type"]), ",").alias(
            "rel_types"
        ),
    )


@query(
    "cypher_write_pipeline",
    """
    SELECT 4::BIGINT AS n_people, 100::BIGINT AS total_age,
           2::BIGINT AS n_knows, 3::BIGINT AS total_bonus
    """,
)
def cypher_write_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end write path (reference write operators
    operator.rs:5157-7425, fixture style tests/advanced_cypher.rs:17-40):
    CREATE nodes + edge patterns, MATCH..CREATE, MERGE ON CREATE SET /
    ON MATCH SET, MERGE edge idempotence, DETACH DELETE — then a
    MERGE ON CREATE SET /
    ON MATCH SET, MERGE edge idempotence, DETACH DELETE, REMOVE, and
    FOREACH|SET — then a deterministic aggregate over the final session
    graph.  Oracle = the analytically-known final state: 4 people,
    total age 100 (Carol's REMOVEd age excluded), 2 KNOWS edges (MERGE
    must not duplicate Bob->Carol; Zed and his incident LIKES edge
    gone), bonus 3 (FOREACH last write wins)."""
    from samyama_graph_spark.graph import PropertyGraph

    eng = CypherEngine(PropertyGraph(spark, {}, {}))
    for stmt in [
        "CREATE (n:Person {name: 'Alice', age: 30})",
        "CREATE (a:Person {name: 'Bob', age: 25})"
        "-[:KNOWS {since: 2020}]->(b:Person {name: 'Carol', age: 33})",
        "MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'}) "
        "CREATE (a)-[:KNOWS {since: 2021}]->(b)",
        "MERGE (n:Person {name: 'Dana'}) ON CREATE SET n.age = 44",
        "MERGE (n:Person {name: 'Alice'}) ON MATCH SET n.age = 31",
        # idempotent: Bob->Carol already exists, MERGE must not duplicate
        "MATCH (b:Person {name: 'Bob'}), (c:Person {name: 'Carol'}) "
        "MERGE (b)-[:KNOWS]->(c)",
        "CREATE (z:Person {name: 'Zed', age: 99})",
        "MATCH (d:Person {name: 'Dana'}), (z:Person {name: 'Zed'}) "
        "CREATE (d)-[:LIKES]->(z)",
        "MATCH (z:Person {name: 'Zed'}) DETACH DELETE z",
        # REMOVE drops Carol's age (33): total_age = 31 + 25 + 44 = 100
        "MATCH (p:Person {name: 'Carol'}) REMOVE p.age",
        # FOREACH applies SET per list element; last write wins -> 3
        "MATCH (p:Person {name: 'Dana'}) "
        "FOREACH (i IN [1, 2, 3] | SET p.bonus = i)",
    ]:
        eng.query(stmt)
    return eng.query(
        """
        MATCH (p:Person)
        WITH count(*) AS n_people, sum(p.age) AS total_age,
             sum(p.bonus) AS total_bonus
        MATCH ()-[k:KNOWS]->()
        RETURN n_people, total_age, count(*) AS n_knows, total_bonus
        """
    )


@query(
    "cypher_knn_l2",
    f"""
    WITH qe AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qv,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings WHERE vec_id = 7),
    ee AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    s AS (SELECT vec_id, sum((v - qv) * (v - qv)) AS d2
          FROM ee JOIN qe USING (i) GROUP BY vec_id)
    SELECT vec_id + {ID_BASE["Document"]} AS nodeId,
           round(sqrt(d2), 6) AS score
    FROM s ORDER BY sqrt(d2), vec_id LIMIT 10
    """,
)
def cypher_knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE VECTOR INDEX ... OPTIONS {similarity: 'l2'} then
    db.index.vector.queryNodes: the procedure must honor the INDEX's
    metric (reference vector/index.rs:71-77; parse_metric
    http/vector.rs:44-48), returning nearest-by-euclidean-distance
    ascending rather than the cosine default."""
    embs = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    qv = [float(x) for x in embs.filter(F.col("vec_id") == 7).first()["embedding"]]
    # fresh engine: the L2 index must not leak into the shared session
    # other workloads use (their cosine default would flip to l2)
    eng = CypherEngine(tpch_graph(spark, sf_dir))
    eng.query(
        "CREATE VECTOR INDEX docL2 FOR (d:Document) ON (d.embedding) "
        "OPTIONS {dimensions: 64, similarity: 'l2'}"
    )
    out = eng.query(
        "CALL db.index.vector.queryNodes('Document', 'embedding', $q, 10)",
        {"q": qv},
    )
    return out.select("nodeId", F.round("score", 6).alias("score"))


@query(
    "cypher_knn",
    f"""
    WITH qc AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qv,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings WHERE vec_id = 0),
    q2 AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS qv,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE vec_id = 7),
    ee AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
    sc AS (SELECT vec_id, sum(v * qv) AS dp, sum(v * v) AS nv,
                  sum(qv * qv) AS nq
           FROM ee JOIN qc USING (i) GROUP BY vec_id),
    s2 AS (SELECT vec_id, sum((v - qv) * (v - qv)) AS d2
           FROM ee JOIN q2 USING (i) GROUP BY vec_id)
    SELECT * FROM (
        SELECT 'cosine' AS metric, vec_id + {ID_BASE["Document"]} AS nodeId,
               round(dp / (sqrt(nv) * sqrt(nq)), 6) AS score
        FROM sc ORDER BY dp / (sqrt(nv) * sqrt(nq)) DESC, vec_id LIMIT 10)
    UNION ALL
    SELECT * FROM (
        SELECT 'l2' AS metric, vec_id + {ID_BASE["Document"]} AS nodeId,
               round(sqrt(d2), 6) AS score
        FROM s2 ORDER BY sqrt(d2), vec_id LIMIT 10)
    """,
)
def cypher_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """db.index.vector.queryNodes under BOTH index metrics in one gate
    row (reference vector/index.rs:71-77, parse_metric
    http/vector.rs:44-48): cosine top-10 through the shared session's
    default index, then L2 top-10 through a fresh engine whose
    CREATE VECTOR INDEX declares similarity 'l2' — the procedure must
    honor the declared metric (descending similarity vs ascending
    distance)."""
    # both query vectors in ONE scan (they are query parameters — the
    # sole driver-side values this entry moves), memoized per session
    # like the engines: repeat calls skip even that probe job
    def query_vectors() -> dict[int, list[float]]:
        embs = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
        return {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in embs.filter(F.col("vec_id").isin(0, 7)).collect()
        }

    qvecs = lifecycle.memo(spark, ("workloads_cypher.knn_qvecs", sf_dir), query_vectors)
    qc, q2 = qvecs[0], qvecs[7]
    cos = _engine(spark, sf_dir).query(
        "CALL db.index.vector.queryNodes('Document', 'embedding', $q, 10)",
        {"q": qc},
    )
    # separate engine: the L2 index must not leak into the shared
    # session's catalog.  Memoized like _engine — the graph is the
    # cached tpch_graph and the DDL is idempotent, so repeat calls
    # reuse the engine's AST cache instead of re-creating catalog +
    # index + recompiling both statements per call.
    def l2_engine() -> CypherEngine:
        eng = CypherEngine(tpch_graph(spark, sf_dir))
        eng.query(
            "CREATE VECTOR INDEX docL2g FOR (d:Document) ON (d.embedding) "
            "OPTIONS {dimensions: 64, similarity: 'l2'}"
        )
        return eng

    eng = lifecycle.memo(spark, ("workloads_cypher.l2_engine", sf_dir), l2_engine)
    l2 = eng.query(
        "CALL db.index.vector.queryNodes('Document', 'embedding', $q, 10)",
        {"q": q2},
    )
    return cos.select(
        F.lit("cosine").alias("metric"), "nodeId",
        F.round("score", 6).alias("score"),
    ).unionAll(
        l2.select(
            F.lit("l2").alias("metric"), "nodeId",
            F.round("score", 6).alias("score"),
        )
    )


@query(
    "cypher_introspection",
    """
    SELECT 'label' AS kind, label AS a, '' AS b, '' AS c FROM (
        SELECT 'Customer' AS label UNION ALL SELECT 'Document'
        UNION ALL SELECT 'Nation' UNION ALL SELECT 'Order'
        UNION ALL SELECT 'Part' UNION ALL SELECT 'Region'
        UNION ALL SELECT 'Supplier')
    UNION ALL
    SELECT 'schema', src_label, type, dst_label FROM (VALUES
        ('Order', 'CONTAINS', 'Part'),
        ('Nation', 'IN_REGION', 'Region'),
        ('Customer', 'PLACED', 'Order'),
        ('Part', 'SUPPLIED_BY', 'Supplier'),
        ('Customer', 'IN_NATION', 'Nation'),
        ('Supplier', 'IN_NATION', 'Nation')
    ) AS t(src_label, type, dst_label)
    """,
)
def cypher_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW LABELS + CALL db.schema.visualization in one gate row
    (reference ShowLabelsOperator operator.rs:5654,
    SchemaVisualizationOperator operator.rs:5785): the catalog's label
    set and the distinct (src_label, type, dst_label) triples of the
    projected graph, tagged by kind."""
    eng = _engine(spark, sf_dir)
    labels = eng.query("SHOW LABELS").select(
        F.lit("label").alias("kind"), F.col("label").alias("a"),
        F.lit("").alias("b"), F.lit("").alias("c"),
    )
    schema = eng.query(
        "CALL db.schema.visualization() YIELD src_label, type, dst_label"
    ).select(
        F.lit("schema").alias("kind"), F.col("src_label").alias("a"),
        F.col("type").alias("b"), F.col("dst_label").alias("c"),
    )
    return labels.unionAll(schema)


@query(
    "cypher_show_introspection",
    """
    SELECT 'Customer' AS label UNION ALL SELECT 'Document'
    UNION ALL SELECT 'Nation' UNION ALL SELECT 'Order'
    UNION ALL SELECT 'Part' UNION ALL SELECT 'Region'
    UNION ALL SELECT 'Supplier'
    """,
)
def cypher_show_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW LABELS through the DDL short-circuit (reference
    ShowLabelsOperator operator.rs:5654): the TPC-H projection's label
    set is fixed, so the oracle lists it verbatim."""
    return _engine(spark, sf_dir).query("SHOW LABELS")


@query(
    "cypher_schema_visualization",
    """
    SELECT * FROM (VALUES
        ('Order', 'CONTAINS', 'Part'),
        ('Nation', 'IN_REGION', 'Region'),
        ('Customer', 'PLACED', 'Order'),
        ('Part', 'SUPPLIED_BY', 'Supplier'),
        ('Customer', 'IN_NATION', 'Nation'),
        ('Supplier', 'IN_NATION', 'Nation')
    ) AS t(src_label, type, dst_label)
    """,
)
def cypher_schema_visualization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL db.schema.visualization (reference
    SchemaVisualizationOperator operator.rs:5785): distinct
    (src_label, type, dst_label) triples of the projected graph."""
    return _engine(spark, sf_dir).query(
        "CALL db.schema.visualization() YIELD src_label, type, dst_label"
    )


@query(
    "cypher_ic2_recent_orders",
    """
    SELECT p.c_name AS peer, o.o_orderkey + 6000000000 AS oid,
           CAST(o.o_orderdate AS VARCHAR) AS odate
    FROM customer me
    JOIN customer p ON p.c_nationkey = me.c_nationkey
    JOIN orders o ON o.o_custkey = p.c_custkey
    WHERE me.c_custkey = 1 AND o.o_orderdate < DATE '1996-01-01'
    ORDER BY o.o_orderdate DESC, oid
    LIMIT 20
    """,
)
def cypher_ic2_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LDBC SNB IC2 shape (reference benches/ldbc_benchmark.rs:1-80:
    friend's recent messages): same-nation peers' orders before a date,
    newest first, top 20 — expand out + expand in + date predicate +
    multi-key DESC/ASC sort + limit, the canonical interactive-read
    operator chain (planner.rs:1047-1230)."""
    out = _engine(spark, sf_dir).query(
        """
        MATCH (me:Customer)-[:IN_NATION]->(:Nation)<-[:IN_NATION]-(p:Customer),
              (p)-[:PLACED]->(o:Order)
        WHERE id(me) = $me AND o.orderdate < date('1996-01-01')
        RETURN p.name AS peer, id(o) AS oid,
               toString(o.orderdate) AS odate
        ORDER BY o.orderdate DESC, oid
        LIMIT 20
        """,
        {"me": ID_BASE["Customer"] + 1},
    )
    return out


@query(
    "cypher_bi_priority_months",
    """
    SELECT o_orderpriority AS prio,
           substring(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY prio, month
    HAVING count(*) >= 20
    ORDER BY n DESC, prio, month
    LIMIT 25
    """,
)
def cypher_bi_priority_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LDBC SNB BI shape (benches/ldbc_bi_benchmark.rs): full-scan
    grouped aggregation with a post-aggregation WITH ... WHERE filter
    (HAVING), string projection of a date, and a top-k over the
    aggregate — WithBarrierOperator + AggregateOperator end-to-end
    (operator.rs:7715, :3683)."""
    return _engine(spark, sf_dir).query(
        """
        MATCH (o:Order)
        WITH o.orderpriority AS prio,
             substring(toString(o.orderdate), 0, 7) AS month,
             count(*) AS n, round(sum(o.totalprice), 2) AS revenue
        WHERE n >= 20
        RETURN prio, month, n, revenue
        ORDER BY n DESC, prio, month
        LIMIT 25
        """
    )


@query(
    "cypher_shortest_paths",
    f"""
    SELECT 'sp' AS kind, c_name AS name,
           (c_custkey + {ID_BASE["Customer"]}) || ','
           || (c_nationkey + {ID_BASE["Nation"]}) || ','
           || (n_regionkey + {ID_BASE["Region"]})
           || '|IN_NATION,IN_REGION' AS detail,
           CAST(2 AS BIGINT) AS n
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey <= 200
    UNION ALL
    SELECT 'asp' AS kind, c_name AS name, p_name AS detail,
           count(*) AS n
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN part ON p_partkey = l_partkey
    WHERE c_custkey <= 25
    GROUP BY c_name, p_name
    """,
)
def cypher_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ShortestPathOperator both ways in one gate row (reference
    operator.rs:7527): shortestPath with FULL path materialization
    (nodes(p)/relationships(p)/length(p)) and allShortestPaths with
    TRUE path multiplicity.  The standalone entries remain
    REGISTRY/pytest-checked."""
    eng = _engine(spark, sf_dir)
    sp = eng.query(
        """
        MATCH p = shortestPath((c:Customer)-[:IN_NATION|IN_REGION*..3]->(r:Region))
        WHERE id(c) <= $cmax
        RETURN c.name AS name, length(p) AS len,
               nodes(p) AS ns, relationships(p) AS rels
        """,
        {"cmax": ID_BASE["Customer"] + 200},
    ).select(
        F.lit("sp").alias("kind"),
        "name",
        F.concat(
            F.array_join(F.transform("ns", lambda x: x.cast("string")), ","),
            F.lit("|"),
            F.array_join(F.transform("rels", lambda r: r["type"]), ","),
        ).alias("detail"),
        F.col("len").cast("long").alias("n"),
    )
    asp = eng.query(
        """
        MATCH p = allShortestPaths((c:Customer)-[:PLACED|CONTAINS*..2]->(pt:Part))
        WHERE id(c) <= $cmax
        RETURN c.name AS name, pt.name AS part, count(*) AS n_paths
        """,
        {"cmax": ID_BASE["Customer"] + 25},
    ).select(
        F.lit("asp").alias("kind"),
        "name",
        F.col("part").alias("detail"),
        F.col("n_paths").cast("long").alias("n"),
    )
    return sp.unionByName(asp)


# --------------------------------------------------------------------------
# Worst-case-optimal triangle join over the co-order part graph
# --------------------------------------------------------------------------

# memo owner prefix of _coorder_engine, keyed (COORDER_ENGINE, sf_dir)
COORDER_ENGINE = "workloads_cypher.coorder_engine"


def _coorder_engine(spark: SparkSession, sf_dir: str) -> CypherEngine:
    """Cypher engine over the frequently-co-ordered part graph: Part
    nodes (id = partkey) and a CO edge per ordered pair (u < v) of
    parts sharing at least TWO orders — the market-basket association
    graph.  Triangle patterns here route through the WCOJ rewrite
    (compiler._try_wcoj_triangle, leapfrog.rs:265); the >=2 support
    threshold is the standard association-mining noise cut and keeps
    the edge set proportional to genuinely-correlated pairs rather
    than one-off co-occurrences."""

    def build() -> CypherEngine:
        from samyama_graph_spark.workloads_graph import coorder_pairs

        t = load_tables(spark, sf_dir)
        parts = t["part"].select(
            F.col("p_partkey").alias("id"),
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("name"),
            F.col("p_brand").alias("brand"),
        )
        pairs = coorder_pairs(
            t["lineitem"], "l_orderkey", "l_partkey", min_support=2
        )
        # reliable checkpoint: the triangle pattern scans CO once per
        # pattern edge (three subtrees), and the heavy pair-generation
        # pipeline must not replay per scan — same rationale as
        # workloads_graph._coorder_closure (checkpoint files survive a
        # bench harness that unpersists cache blocks between queries)
        from samyama_graph_spark.session import ensure_checkpoint_dir

        ensure_checkpoint_dir(spark)
        pairs = pairs.checkpoint()
        return CypherEngine(PropertyGraph(spark, {"Part": parts}, {"CO": pairs}))

    return lifecycle.memo(spark, (COORDER_ENGINE, sf_dir), build)


# oracle twin of _coorder_engine's CO derivation (keep in lockstep!):
# per-order DISTINCT part pairs (u < v) with support >= 2 orders
COORDER_PAIRS_CTE = """
    e AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT e1.l_partkey AS u, e2.l_partkey AS v
      FROM e e1
      JOIN e e2
        ON e1.l_orderkey = e2.l_orderkey AND e1.l_partkey < e2.l_partkey
      GROUP BY u, v
      HAVING count(*) >= 2
    )
"""


@query(
    "cypher_wcoj_triangle",
    f"""
    WITH {COORDER_PAIRS_CTE}
    SELECT p1.u AS pk, CAST(count(*) AS BIGINT) AS tris
    FROM pairs p1
    JOIN pairs p2 ON p2.u = p1.v
    JOIN pairs p3 ON p3.u = p1.u AND p3.v = p2.v
    GROUP BY p1.u
    ORDER BY tris DESC, pk
    LIMIT 20
    """,
)
def cypher_wcoj_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration through the full Cypher stack, compiled to
    the worst-case-optimal intersection join (operators/wcoj.py): the
    single-path cycle below hits compiler._try_wcoj_triangle, so no
    wedge (open two-path) is ever shuffled — intermediates are bounded
    by |distinct CO pairs| + |triangles|, the LFTJ guarantee
    (leapfrog.rs:265) in Catalyst terms."""
    eng = _coorder_engine(spark, sf_dir)
    out = eng.query(
        """
        MATCH (a:Part)-[:CO]->(b:Part)-[:CO]->(c:Part)<-[:CO]-(a)
        RETURN a.partkey AS pk, count(*) AS tris
        ORDER BY tris DESC, pk
        LIMIT 20
        """
    )
    assert any("worst-case-optimal" in s for s in eng.last_plan_trace)
    return out
