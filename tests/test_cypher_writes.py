"""Write-clause tests: CREATE / MERGE / SET / REMOVE / DELETE build and
mutate a session graph (modeled on the reference's CREATE-driven test
fixtures, tests/advanced_cypher.rs:17-40)."""

from __future__ import annotations

import pytest

from samyama_graph_spark.cypher import CypherEngine
from samyama_graph_spark.graph import PropertyGraph


@pytest.fixture()
def engine(spark):
    persons = spark.createDataFrame(
        [(1, "Alice", 30), (2, "Bob", 25)], "id long, name string, age long"
    )
    knows = spark.createDataFrame([(1, 2, 2020)], "src long, dst long, since long")
    return CypherEngine(PropertyGraph(spark, {"Person": persons}, {"KNOWS": knows}))


def names(engine):
    return sorted(
        r[0]
        for r in engine.query("MATCH (p:Person) RETURN p.name AS n").collect()
    )


def test_create_node(engine):
    engine.query("CREATE (n:Person {name: 'Carol', age: 33})")
    assert names(engine) == ["Alice", "Bob", "Carol"]
    got = engine.query(
        "MATCH (p:Person {name:'Carol'}) RETURN p.age AS age"
    ).collect()
    assert got[0]["age"] == 33


def test_create_path_literal(engine):
    engine.query(
        "CREATE (a:Person {name:'X', age: 1})-[:KNOWS {since: 2024}]->"
        "(b:Person {name:'Y', age: 2})"
    )
    got = engine.query(
        "MATCH (a:Person {name:'X'})-[k:KNOWS]->(b) "
        "RETURN b.name AS b, k.since AS s"
    ).collect()
    assert [(r["b"], r["s"]) for r in got] == [("Y", 2024)]


def test_match_create_edge(engine):
    engine.query(
        "MATCH (a:Person {name:'Bob'}), (b:Person {name:'Alice'}) "
        "CREATE (a)-[:KNOWS {since: 2023}]->(b)"
    )
    got = engine.query(
        "MATCH (:Person {name:'Bob'})-[k:KNOWS]->(p) RETURN p.name AS n, k.since AS s"
    ).collect()
    assert [(r["n"], r["s"]) for r in got] == [("Alice", 2023)]


def test_merge_existing_and_new(engine):
    engine.query("MERGE (n:Person {name: 'Alice'})")
    assert names(engine) == ["Alice", "Bob"]  # no duplicate
    engine.query(
        "MERGE (n:Person {name: 'Dana'}) ON CREATE SET n.age = 44"
    )
    assert names(engine) == ["Alice", "Bob", "Dana"]
    got = engine.query(
        "MATCH (p:Person {name:'Dana'}) RETURN p.age AS age"
    ).collect()
    assert got[0]["age"] == 44


def test_merge_on_match(engine):
    engine.query(
        "MERGE (n:Person {name: 'Alice'}) ON MATCH SET n.age = 31"
    )
    got = engine.query("MATCH (p:Person {name:'Alice'}) RETURN p.age AS a").collect()
    assert got[0]["a"] == 31


def test_merge_edge(engine):
    engine.query(
        "MATCH (a:Person {name:'Alice'}), (b:Person {name:'Bob'}) "
        "MERGE (a)-[:KNOWS]->(b)"
    )
    n = engine.query(
        "MATCH (:Person)-[k:KNOWS]->(:Person) RETURN count(*) AS n"
    ).collect()[0]["n"]
    assert n == 1  # edge already existed; MERGE didn't duplicate


def test_set_property(engine):
    engine.query("MATCH (p:Person {name:'Bob'}) SET p.age = 26, p.city = 'SF'")
    got = engine.query(
        "MATCH (p:Person {name:'Bob'}) RETURN p.age AS a, p.city AS c"
    ).collect()
    assert (got[0]["a"], got[0]["c"]) == (26, "SF")
    # others untouched
    got = engine.query(
        "MATCH (p:Person {name:'Alice'}) RETURN p.age AS a"
    ).collect()
    assert got[0]["a"] == 30


def test_remove_property(engine):
    engine.query("MATCH (p:Person {name:'Bob'}) REMOVE p.age")
    got = engine.query("MATCH (p:Person {name:'Bob'}) RETURN p.age AS a").collect()
    assert got[0]["a"] is None


def test_detach_delete(engine):
    engine.query("MATCH (p:Person {name:'Alice'}) DETACH DELETE p")
    assert names(engine) == ["Bob"]
    n = engine.query("MATCH ()-[k:KNOWS]->() RETURN count(*) AS n").collect()[0]["n"]
    assert n == 0  # incident edge removed


def test_write_summary_counters(engine):
    s = engine.query("CREATE (n:Person {name: 'Zed', age: 9})").collect()[0]
    assert s["nodes_created"] == 1


def test_foreach_set(engine):
    engine.query(
        "MATCH (p:Person) FOREACH (x IN [1] | SET p.flag = x)"
    )
    got = engine.query("MATCH (p:Person) RETURN p.name AS n, p.flag AS f").collect()
    assert all(r["f"] == 1 for r in got) and len(got) == 2


def test_remove_label(spark):
    persons = spark.createDataFrame(
        [(1, "Alice", 30), (2, "Bob", 25)], "id long, name string, age long"
    )
    admins = spark.createDataFrame([(1, "all")], "id long, scope string")
    eng = CypherEngine(
        PropertyGraph(spark, {"Person": persons, "Admin": admins}, {})
    )
    assert eng.query("MATCH (a:Admin) RETURN count(a) AS n").first()["n"] == 1
    eng.query("MATCH (p:Person {name:'Alice'}) REMOVE p:Admin")
    assert eng.query("MATCH (a:Admin) RETURN count(a) AS n").first()["n"] == 0
    # the Person row survives label removal
    assert (
        eng.query("MATCH (p:Person) RETURN count(p) AS n").first()["n"] == 2
    )
    # removing an absent label is a no-op
    eng.query("MATCH (p:Person) REMOVE p:Ghost")


def test_match_create_per_row_nodes(engine):
    """Per-row node creation (CreateNodesAndEdgesOperator,
    operator.rs:5950): one new node + edge per MATCH row."""
    engine.query(
        "MATCH (p:Person) CREATE (p)-[:HAS]->(s:Shadow {of: p.name})"
    )
    rows = engine.query(
        "MATCH (p:Person)-[:HAS]->(s:Shadow) "
        "RETURN p.name AS n, s.of AS o"
    ).collect()
    assert sorted((r["n"], r["o"]) for r in rows) == [
        ("Alice", "Alice"), ("Bob", "Bob")
    ]
    ids = [r[0] for r in engine.query(
        "MATCH (s:Shadow) RETURN id(s) AS i").collect()]
    assert len(ids) == len(set(ids)) == 2


def test_per_row_create_ids_contiguous_across_partitions(spark):
    """Per-partition reserved id ranges must still mint contiguous,
    unique ids when the MATCH frame spans many partitions (the
    replaced global-window implementation guaranteed this on a single
    task; the distributed one must match it)."""
    people = spark.range(0, 500, numPartitions=7)
    eng = CypherEngine(PropertyGraph(spark, {"P": people}, {}))
    eng.query("MATCH (p:P) CREATE (t:Tag {of: p.id})")
    ids = sorted(
        r["i"] for r in eng.query("MATCH (t:Tag) RETURN id(t) AS i").collect()
    )
    assert len(ids) == 500
    assert ids == list(range(ids[0], ids[0] + 500))  # contiguous + unique


def test_engine_graph_swap_invalidates_id_watermark(spark):
    """Replacing engine.graph with a foreign graph must drop the id
    watermark: newly minted ids may not collide with the new graph's
    existing ids."""
    a = spark.createDataFrame([(1, "x")], "id long, name string")
    eng = CypherEngine(PropertyGraph(spark, {"P": a}, {}))
    eng.query("CREATE (n:P {name: 'y'})")  # establishes a watermark
    big = spark.createDataFrame(
        [(i, f"n{i}") for i in range(1, 51)], "id long, name string"
    )
    eng.graph = PropertyGraph(spark, {"P": big}, {})  # foreign swap
    eng.query("CREATE (n:P {name: 'z'})")
    ids = [r["i"] for r in eng.query("MATCH (p:P) RETURN id(p) AS i").collect()]
    assert len(ids) == len(set(ids)) == 51  # no collision


def test_detach_delete_scoped_by_endpoint_label(spark):
    """DETACH DELETE must scrub only edge types whose declared
    endpoint labels admit the deleted node's label: node ids collide
    across labels when a session CREATE supplies its own `id` prop
    (FinBench fixtures give Person/Company/Account the same id), and
    an unscoped by-id scrub would drop OTHER labels' same-id edges."""
    eng = CypherEngine(PropertyGraph(spark, {}, {}))
    for stmt in [
        "CREATE (a:Account {id: 7})",
        "CREATE (p:Person {id: 7})",
        "CREATE (c:Company {id: 7})",
        "CREATE (b:Account {id: 1})",
        # same-id endpoints on three different edge types
        "MATCH (p:Person {id: 7}), (a:Account {id: 7}) "
        "CREATE (p)-[:OWN]->(a)",
        "MATCH (p:Person {id: 7}), (c:Company {id: 7}) "
        "CREATE (p)-[:INVEST]->(c)",
        "MATCH (a:Account {id: 7}), (b:Account {id: 1}) "
        "CREATE (a)-[:TRANSFER]->(b)",
        "MATCH (a:Account {id: 7}) DETACH DELETE a",
    ]:
        eng.query(stmt)
    # Account 7 and its incident edges (OWN dst, TRANSFER src) are gone
    assert eng.query(
        "MATCH ()-[o:OWN]->() RETURN count(*) AS n"
    ).first()["n"] == 0
    assert eng.query(
        "MATCH ()-[t:TRANSFER]->() RETURN count(*) AS n"
    ).first()["n"] == 0
    # Person 7 -> Company 7 INVEST is between OTHER labels: must survive
    assert eng.query(
        "MATCH ()-[i:INVEST]->() RETURN count(*) AS n"
    ).first()["n"] == 1
    assert eng.query(
        "MATCH (p:Person) RETURN count(*) AS n"
    ).first()["n"] == 1


def test_detach_delete_multi_pair_edge_type(spark):
    """A MULTI-pair edge type (OWN fed by both (Person,Account) and
    (Company,Account)) carries per-row endpoint-label provenance, so
    deleting Person id=N scrubs exactly Person-sourced OWN rows — the
    Company-sourced OWN edge with the SAME colliding src id survives,
    and the Person-sourced one does not."""
    eng = CypherEngine(PropertyGraph(spark, {}, {}))
    for stmt in [
        "CREATE (p:Person {id: 999001})",
        "CREATE (c:Company {id: 999001})",
        "CREATE (a:Account {id: 999001})",
        "CREATE (b:Account {id: 5})",
        "MATCH (p:Person {id: 999001}), (a:Account {id: 999001}) "
        "CREATE (p)-[:OWN {who: 'person'}]->(a)",
        "MATCH (c:Company {id: 999001}), (b:Account {id: 5}) "
        "CREATE (c)-[:OWN {who: 'company'}]->(b)",
        "MATCH (p:Person {id: 999001}) DETACH DELETE p",
    ]:
        eng.query(stmt)
    got = eng.query(
        "MATCH ()-[o:OWN]->() RETURN o.who AS who"
    ).collect()
    assert [r["who"] for r in got] == ["company"]
    # provenance columns never leak into the query surface
    keys = {
        r["propertyKey"]
        for r in eng.query("CALL db.propertyKeys()").collect()
    }
    assert not any(k.startswith("__") for k in keys)
    props = eng.query(
        "MATCH ()-[o:OWN]->() RETURN properties(o) AS p"
    ).first()["p"]
    assert "__src_label" not in str(props)


def test_unwind_bulk_merge_node(spark):
    """UNWIND $rows AS r MERGE (n:L {k: r.k}) — the bulk-upsert
    ingestion idiom: one merge per distinct computed tuple, idempotent
    on re-run, ON CREATE/ON MATCH branches applied set-wise."""
    from samyama_graph_spark.cypher.engine import CypherEngine
    from samyama_graph_spark.graph import PropertyGraph

    eng = CypherEngine(PropertyGraph(spark, {}, {}))
    eng.query(
        "UNWIND $rows AS r MERGE (n:City {name: r.name}) "
        "ON CREATE SET n.fresh = true",
        {"rows": [{"name": "oslo"}, {"name": "lima"}, {"name": "oslo"}]},
    )
    count = "MATCH (n:City) RETURN count(*) AS c"
    assert eng.query(count).first()["c"] == 2  # duplicates merged
    # re-running the same rows plus one new city creates exactly one
    eng.query(
        "UNWIND $rows AS r MERGE (n:City {name: r.name}) "
        "ON CREATE SET n.fresh = false ON MATCH SET n.seen = 1",
        {"rows": [{"name": "oslo"}, {"name": "pune"}]},
    )
    got = {
        (r["name"], r["fresh"], r["seen"])
        for r in eng.query(
            "MATCH (n:City) RETURN n.name AS name, n.fresh AS fresh, "
            "n.seen AS seen"
        ).collect()
    }
    assert got == {
        ("oslo", True, 1), ("lima", True, None), ("pune", False, None),
    }
    # ids minted across bulk merges stay unique
    ids = [
        r["i"] for r in eng.query(
            "MATCH (n:City) RETURN id(n) AS i"
        ).collect()
    ]
    assert len(ids) == len(set(ids)) == 3
    # computed-value MERGE without incoming rows is a clear error
    import pytest as _pytest

    from samyama_graph_spark.cypher.expressions import CompileError

    with _pytest.raises(CompileError, match="bound rows"):
        eng.query("MERGE (n:City {name: x.name})")


def test_unwind_bulk_merge_multi_key_and_nulls(spark):
    """Multi-key bulk MERGE uses null-safe key equality: a NULL-keyed
    tuple merges idempotently instead of duplicating per run."""
    from samyama_graph_spark.cypher.engine import CypherEngine
    from samyama_graph_spark.graph import PropertyGraph

    eng = CypherEngine(PropertyGraph(spark, {}, {}))
    rows = [
        {"a": "x", "b": 1}, {"a": "x", "b": 2}, {"a": None, "b": 1},
    ]
    for _ in range(2):  # second run must be a complete no-op
        eng.query(
            "UNWIND $rows AS r MERGE (n:Pair {a: r.a, b: r.b})",
            {"rows": rows},
        )
    assert (
        eng.query("MATCH (n:Pair) RETURN count(*) AS c").first()["c"] == 3
    )


def test_staged_literal_creates_fold_and_flush(spark):
    """Consecutive all-literal CREATE statements stage instead of
    producing one graph version each: a run of N statements is ONE
    batched append per label at the next graph access.  Semantics are
    identical to the eager path — ids mint in statement order, the
    per-statement summary counters match, and the first read sees all
    staged rows; a computed-property CREATE falls back to the eager
    executor (after flushing)."""
    from samyama_graph_spark.cypher.engine import CypherEngine
    from samyama_graph_spark.graph import PropertyGraph

    eng = CypherEngine(PropertyGraph(spark, {}, {}))
    s1 = eng.query("CREATE (a:P {name: 'a'})").collect()[0]
    assert (s1.nodes_created, s1.edges_created) == (1, 0)
    s2 = eng.query(
        "CREATE (b:P {name: 'b'})-[:R {w: 2}]->(c:Q {name: 'c'})"
    ).collect()[0]
    assert (s2.nodes_created, s2.edges_created) == (2, 1)
    assert eng._staged is not None  # nothing flushed yet
    eng.query("CREATE (d:P {name: 'd', tags: ['x', 'y']})")
    # parameters resolve at stage time like the eager path
    eng.query("CREATE (e:P {name: $nm})", {"nm": "it's"})
    got = {
        r["name"]: r["id"]
        for r in eng.query("MATCH (p:P) RETURN p.name AS name, id(p) AS id")
        .collect()
    }
    assert eng._staged is None  # the read flushed
    assert sorted(got) == ["a", "b", "d", "it's"]
    assert got["a"] < got["b"] < got["d"] < got["it's"]  # statement order
    edge = eng.query(
        "MATCH (x:P)-[r:R]->(y:Q) "
        "RETURN x.name AS xn, y.name AS yn, r.w AS w"
    ).collect()
    assert [(e.xn, e.yn, e.w) for e in edge] == [("b", "c", 2)]
    lst = eng.query(
        "MATCH (p:P {name: 'd'}) RETURN p.tags AS tags"
    ).first()["tags"]
    assert list(lst) == ["x", "y"]


# ----------------------------------------------------- literal write keys


def _last_job(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ids = sc.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def _table_rows(g: PropertyGraph) -> dict:
    """Every node and edge table as (schema, sorted rows)."""
    out = {}
    for kind, tables in (("n", g.nodes), ("e", g.edges)):
        for name, df in tables.items():
            out[(kind, name)] = (
                df.schema.simpleString(),
                sorted((tuple(r) for r in df.collect()), key=repr),
            )
    return out


def test_compaction_after_literal_writes_runs_no_job(spark, tmp_path):
    """SET, MERGE and DETACH DELETE write literal deltas over the
    previous table version: no table plan joins against a MATCH frame,
    so compaction has no broadcast to pre-build and launches no job.
    The tables are parquet scans: building a broadcast of a scan runs a
    job, where one of an in-memory local relation would not."""
    spark.createDataFrame(
        [(1, "Alice", 30), (2, "Bob", 25)], "id long, name string, age long"
    ).write.parquet(str(tmp_path / "person"))
    spark.createDataFrame(
        [(1, 2, 2020)], "src long, dst long, since long"
    ).write.parquet(str(tmp_path / "knows"))
    engine = CypherEngine(PropertyGraph(
        spark,
        {"Person": spark.read.parquet(str(tmp_path / "person"))},
        {"KNOWS": spark.read.parquet(str(tmp_path / "knows"))},
    ))
    engine.query("MATCH (p:Person {name:'Bob'}) SET p.age = 26")
    engine.query(
        "MATCH (a:Person {name:'Bob'}), (b:Person {name:'Alice'}) "
        "MERGE (a)-[:KNOWS]->(b)"
    )
    engine.query("MATCH (p:Person {name:'Alice'}) DETACH DELETE p")
    g = engine.graph
    for df in [*g.nodes.values(), *g.edges.values()]:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan, plan
    j0 = _last_job(spark)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    engine.graph = g.compacted()
    assert _last_job(spark) == j0
    # compaction plans its checkpoints with AQE off, then restores it
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert names(engine) == ["Bob"]
    assert engine.query(
        "MATCH (p:Person {name:'Bob'}) RETURN p.age AS a"
    ).first()["a"] == 26
    assert engine.query(
        "MATCH ()-[k:KNOWS]->() RETURN count(*) AS n"
    ).first()["n"] == 0


_KEY_PATH_SCRIPT = [
    "MATCH (p:Person) WHERE p.age > 20 SET p.age = p.age + 1",
    "MATCH (p:Person {name:'Bob'}) SET p.city = 'SF', p.score = 1.5",
    "MATCH (p:Person {name:'Nobody'}) SET p.ghost = 'x'",
    "MATCH (p:Person {name:'Carl'}) SET p.age = null",
    "MATCH (p:Person {name:'Bob'}) REMOVE p.city",
    "MATCH (p:Person) FOREACH (x IN [1, 2, 3] | SET p.flag = x)",
    "MATCH (a:Person {name:'Bob'}), (b:Person) WHERE b.name <> 'Bob' "
    "MERGE (a)-[:KNOWS {since: 2024}]->(b)",
    "MERGE (n:Person {name: 'Alice'}) ON MATCH SET n.seen = true",
    "MERGE (n:Person {name: 'Dora'}) ON MATCH SET n.seen = true",
    "MATCH (p:Person {name:'Carl'}) REMOVE p:Admin",
    "MATCH (p:Person {name:'Alice'}) DETACH DELETE p",
]


def _key_path_engine(spark):
    persons = spark.createDataFrame(
        [(1, "Alice", 30), (2, "Bob", 25), (3, "Carl", 19)],
        "id long, name string, age long",
    )
    admins = spark.createDataFrame([(3, "all")], "id long, scope string")
    knows = spark.createDataFrame(
        [(1, 2, 2020), (2, 3, 2021)], "src long, dst long, since long"
    )
    return CypherEngine(PropertyGraph(
        spark, {"Person": persons, "Admin": admins}, {"KNOWS": knows}
    ))


def test_literal_and_frame_key_paths_agree(spark, monkeypatch):
    """Both sides of LITERAL_KEYS_MAX leave identical node and edge
    rows, schemas and summary counters."""
    from samyama_graph_spark import lifecycle

    results = {}
    full = lifecycle.LITERAL_KEYS_MAX
    for cap in (full, 0):
        monkeypatch.setattr(lifecycle, "LITERAL_KEYS_MAX", cap)
        eng = _key_path_engine(spark)
        plan = eng.explain(_KEY_PATH_SCRIPT[0])
        assert ("literal, 2 keys" if cap else "frame (> 0 keys)") in plan
        summaries = [
            tuple(eng.query(q).first()) for q in _KEY_PATH_SCRIPT
        ]
        results[cap] = (summaries, _table_rows(eng.graph))

    def unminted(result):
        # a minted id may differ: the frame path's MERGE ... ON MATCH
        # mints an id before it knows the node exists, and wastes it
        summaries, tables = result
        schema, rows = tables[("n", "Person")]
        rows = [(None if r[0] > 3 else r[0], *r[1:]) for r in rows]
        return summaries, {**tables, ("n", "Person"): (schema, rows)}

    assert unminted(results[0]) == unminted(results[full])
    summaries, tables = results[0]
    assert summaries[-1][3] == 1  # nodes_deleted
    people = {r[1]: r for r in tables[("n", "Person")][1]}
    assert sorted(people) == ["Bob", "Carl", "Dora"]
    assert tables[("n", "Admin")][1] == []


def test_literal_path_null_set_remove_and_provenance_scrub(spark):
    """Literal-path semantics: SET to NULL and REMOVE overwrite (key
    membership is the touched test, not the value), and DETACH DELETE
    on a multi-pair edge type scrubs NULL-provenance rows by id but
    spares same-id rows stamped with another label."""
    from pyspark.sql import functions as F

    from samyama_graph_spark.graph import EdgeMeta

    people = spark.createDataFrame(
        [(1, "p", 5, "x")], "id long, name string, age long, tag string"
    )
    accts = spark.createDataFrame([(3, "a"), (4, "b")], "id long, name string")
    own = spark.createDataFrame([(1, 3)], "src long, dst long")
    g = PropertyGraph(
        spark,
        {"Person": people, "Account": accts},
        {"OWN": own},
        {"OWN": EdgeMeta(pairs=(("Company", "Account"), ("Person", "Account")))},
    )
    eng = CypherEngine(g)
    eng.query("MATCH (p:Person {name:'p'}) SET p.age = null")
    eng.query("MATCH (p:Person {name:'p'}) REMOVE p.tag")
    row = eng.query(
        "MATCH (p:Person) RETURN p.age AS age, p.tag AS tag"
    ).first()
    assert (row["age"], row["tag"]) == (None, None)
    # a Company whose user id collides with Person 1 owns Account 4
    eng.query("CREATE (c:Company {id: 1})")
    eng.query(
        "MATCH (c:Company {id: 1}), (a:Account {name: 'b'}) "
        "CREATE (c)-[:OWN]->(a)"
    )
    stmt = "MATCH (p:Person {name:'p'}) DETACH DELETE p"
    assert "DELETE: literal, 1 keys" in eng.explain(stmt)
    eng.query(stmt)
    own = eng.graph.edges["OWN"]
    assert sorted(
        (r["src"], r["dst"], r["__src_label"])
        for r in own.select("src", "dst", F.col("__src_label")).collect()
    ) == [(1, 4, "Company")]
    assert eng.query("MATCH (p:Person) RETURN count(*) AS n").first()["n"] == 0


def test_explain_write_plans_without_applying(engine):
    """EXPLAIN of a write reports its key path and leaves the session
    graph, id watermark and staged CREATEs untouched."""
    count = "MATCH (p:Person) RETURN count(p) AS n"
    plan = "\n".join(
        r["plan"]
        for r in engine.query("EXPLAIN CREATE (:Person {name: 'b'})").collect()
    )
    assert "== node table Person ==" in plan
    assert engine.query(count).first()["n"] == 2
    text = engine.explain("MATCH (p:Person {name:'Bob'}) SET p.age = 99")
    assert "SET: literal, 1 keys" in text and "Join" not in text
    assert engine.query(
        "MATCH (p:Person {name:'Bob'}) RETURN p.age AS a"
    ).first()["a"] == 25


def test_next_free_id_reads_all_labels_in_one_job(spark):
    from samyama_graph_spark.cypher.writes import next_free_id

    tables = [
        spark.range(0, 40, numPartitions=3),
        spark.range(100, 107, numPartitions=2),
        spark.createDataFrame([], "id long"),
    ]
    j0 = _last_job(spark)
    assert next_free_id(tables) == 107
    assert _last_job(spark) == j0 + 1
    assert next_free_id([]) == 1
    assert next_free_id(tables[2:]) == 1
