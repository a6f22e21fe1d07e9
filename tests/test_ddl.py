"""DDL / introspection: CREATE/DROP/SHOW INDEX, constraints, SHOW
metadata (reference: DDL operators operator.rs:5248-5785)."""

from __future__ import annotations

import pytest

from samyama_graph_spark.cypher import CypherEngine
from samyama_graph_spark.graph import PropertyGraph


@pytest.fixture()
def engine(spark):
    persons = spark.createDataFrame(
        [(1, "Alice", 30), (2, "Bob", 25), (3, "Bob", 40)],
        "id long, name string, age long",
    )
    knows = spark.createDataFrame([(1, 2, 2020)], "src long, dst long, since long")
    return CypherEngine(PropertyGraph(spark, {"Person": persons}, {"KNOWS": knows}))


def test_index_roundtrip(engine):
    r = engine.query("CREATE INDEX ON :Person(age)").collect()
    assert r[0]["status"] == "CREATED"
    engine.query("CREATE VECTOR INDEX ON :Person(embedding)")
    idx = engine.query("SHOW INDEXES").collect()
    kinds = {r["name"]: r["kind"] for r in idx}
    assert kinds == {"idx_person_age": "range", "idx_person_embedding": "vector"}
    engine.query("DROP INDEX idx_person_age")
    assert len(engine.query("SHOW INDEXES").collect()) == 1


def test_constraint_and_validation(engine):
    engine.query("CREATE CONSTRAINT ON :Person(name)")
    rows = engine.query("SHOW CONSTRAINTS").collect()
    assert rows[0]["kind"] == "unique"
    violations = engine.catalog.validate_constraint(engine.graph, "c_person_name")
    got = violations.collect()
    assert len(got) == 1 and got[0]["name"] == "Bob" and got[0]["n"] == 2


def test_show_metadata(engine):
    assert [r[0] for r in engine.query("SHOW LABELS").collect()] == ["Person"]
    assert [r[0] for r in engine.query("SHOW RELATIONSHIP TYPES").collect()] == [
        "KNOWS"
    ]
    keys = [r[0] for r in engine.query("SHOW PROPERTY KEYS").collect()]
    assert "age" in keys and "since" in keys


def test_explain_and_profile(engine):
    plan = engine.query(
        "EXPLAIN MATCH (p:Person)-[:KNOWS]->(q:Person) WHERE p.age > 28 "
        "RETURN p.name AS name"
    ).collect()
    text = "\n".join(r["plan"] for r in plan)
    assert "Scan" in text  # physical plan rendered
    # planner diagnostics: candidate anchors + costs (reference
    # planner.rs:73 EXPLAIN candidate reporting)
    assert "Planner Candidates" in text and "anchor" in text
    prof = engine.query(
        "PROFILE MATCH (p:Person) RETURN count(*) AS n"
    ).collect()[0]
    assert prof["rows"] == 1 and prof["elapsed_ms"] > 0


def test_explain_ddl_reports_without_applying(engine):
    plan = [
        r["plan"] for r in engine.query("EXPLAIN CREATE INDEX ON :Person(age)")
        .collect()
    ]
    assert plan == ["== DDL (not applied) ==", "CREATE INDEX ON :Person(age)"]
    assert engine.catalog.indexes == {}


def test_analyze_prewarms_planner_stats(spark):
    """ANALYZE reports per-label counts and per-edge-type degree stats
    and memoizes them (no recount on re-access)."""
    from pyspark.sql import functions as F

    from samyama_graph_spark.cypher.engine import CypherEngine
    from samyama_graph_spark.graph import PropertyGraph

    n = spark.range(0, 30)
    e = spark.range(0, 90).select(
        (F.col("id") % 30).alias("src"), ((F.col("id") * 7) % 30).alias("dst")
    )
    eng = CypherEngine(PropertyGraph(spark, {"N": n}, {"T": e}))
    rows = {r["entity"]: r for r in eng.query("ANALYZE").collect()}
    assert rows[":N"]["count_or_out_deg"] == 30.0
    assert rows["[:T]"]["kind"] == "edge_type"
    assert rows["[:T]"]["count_or_out_deg"] > 0
    # the typeless aggregates the compiler's untyped-hop costing uses
    # are pre-warmed too
    assert rows["(any)"]["count_or_out_deg"] == 30.0
    assert "\x00ALL" in eng.graph.__dict__["_deg_cache"]
    # memoized: the cache keys are present (value equality alone would
    # pass even if memoization silently broke and recounted)
    assert eng.graph.__dict__["_count_cache"]["N"] == 30
    assert eng.graph.edge_degree_est("T", "out") == rows["[:T]"][
        "count_or_out_deg"
    ]
    # ANALYZE is a REFRESH: a stale carried-over cache is recomputed
    eng.graph.__dict__["_count_cache"]["N"] = 1
    rows2 = {r["entity"]: r for r in eng.query("ANALYZE").collect()}
    assert rows2[":N"]["count_or_out_deg"] == 30.0


def test_vector_index_layout_routes_querynodes(spark, sf_dir, tmp_path):
    """CREATE VECTOR INDEX + build_vector_index_layout must change the
    queryNodes PLAN: the probe reads the cell-partitioned layout with
    partition pruning, and with nprobe = nlist returns exactly the
    brute-force top-k (superset probe => exact)."""
    from samyama_graph_spark.loaders import tpch_graph

    eng = CypherEngine(tpch_graph(spark, sf_dir))
    eng.query(
        "CREATE VECTOR INDEX doc_emb FOR (d:Document) ON (d.embedding) "
        "OPTIONS {similarity: 'cosine'}"
    )
    qv = [
        float(x)
        for x in eng.graph.node_df("Document")
        .orderBy("id")
        .first()["embedding"]
    ]
    call = "CALL db.index.vector.queryNodes('Document', 'embedding', $q, 5)"
    base = [
        (r["nodeId"], round(r["score"], 9))
        for r in eng.query(call, {"q": qv}).collect()
    ]

    eng.catalog.build_vector_index_layout(
        eng.graph, "doc_emb", str(tmp_path / "doc_ivf"), nlist=8, nprobe=8
    )
    routed_df = eng.query(call, {"q": qv})
    routed = [(r["nodeId"], round(r["score"], 9)) for r in routed_df.collect()]
    assert routed == base
    plan = routed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__ivf_cell" in plan


def test_ivf_meta_mismatch_raises(spark, sf_dir, tmp_path):
    """An at-rest IVF layout records its parameters; probing it with
    different centroids or metric must raise, not silently return
    wrong candidates."""
    from samyama_graph_spark.datapipe.similarity import (
        ivf_write_partitioned,
        knn_ivf_partitioned,
    )
    from samyama_graph_spark.loaders import load_tables

    embs = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    cents = [
        [float(x) for x in r["embedding"]]
        for r in embs.orderBy("vec_id").limit(4).collect()
    ]
    path = str(tmp_path / "ivf_meta")
    ivf_write_partitioned(embs, "embedding", cents, path)
    qv = cents[0]
    # matching parameters (or centroids=None -> from meta) work
    assert knn_ivf_partitioned(
        spark, path, "embedding", "vec_id", qv, None, 3
    ).count() == 3
    with pytest.raises(ValueError, match="built with"):
        knn_ivf_partitioned(
            spark, path, "embedding", "vec_id", qv, cents[:3], 3
        )
    with pytest.raises(ValueError, match="built with"):
        knn_ivf_partitioned(
            spark, path, "embedding", "vec_id", qv, cents, 3, metric="l2"
        )


def test_minhash_index_meta_mismatch_raises(spark, sf_dir, tmp_path):
    """The persisted minhash index validates (k, num_hashes, bands)
    against its _meta record on read."""
    from samyama_graph_spark.datapipe.dedup import (
        minhash_index,
        minhash_index_read,
        minhash_index_write,
    )
    from samyama_graph_spark.loaders import load_tables

    docs = (
        load_tables(spark, sf_dir, ["documents"])["documents"].limit(50)
    )
    path = str(tmp_path / "mh_idx")
    minhash_index_write(docs, "text", "doc_id", path, k=3, num_hashes=8, bands=4)
    buckets, shingles = minhash_index_read(
        spark, path, k=3, num_hashes=8, bands=4
    )
    direct_buckets, direct_sh = minhash_index(docs, "text", "doc_id", 3, 8, 4)
    assert buckets.count() == direct_buckets.count()
    assert shingles.count() == direct_sh.count()
    with pytest.raises(ValueError, match="built with"):
        minhash_index_read(spark, path, k=5, num_hashes=8, bands=4)
    with pytest.raises(ValueError, match="built with"):
        minhash_index_read(spark, path, k=3, num_hashes=8, bands=2)


def test_write_invalidates_vector_layout(spark, sf_dir, tmp_path):
    """A write statement must drop the at-rest IVF routing: the layout
    is a parquet snapshot, so queryNodes falls back to brute-force
    (which sees the new node) instead of silently serving stale
    results."""
    from samyama_graph_spark.loaders import tpch_graph

    eng = CypherEngine(tpch_graph(spark, sf_dir))
    eng.query(
        "CREATE VECTOR INDEX doc_emb2 FOR (d:Document) ON (d.embedding)"
    )
    eng.catalog.build_vector_index_layout(
        eng.graph, "doc_emb2", str(tmp_path / "doc_ivf2"), nlist=4, nprobe=4
    )
    assert "layout_path" in eng.catalog.indexes["doc_emb2"].options
    eng.query("CREATE (x:Document {text: 'fresh'})")
    assert "layout_path" not in eng.catalog.indexes["doc_emb2"].options
