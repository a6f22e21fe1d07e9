"""Var-length traversal.  Point-anchored: the driver frontier kernel
(``traversal.frontier_expand``) against the multi-source plan
(``var_length_expand``), its LITERAL_KEYS_MAX bound on both sides, the
EXPLAIN line naming the choice, its job budget, and the pinned LDBC
KNOWS ring under block loss and a second session.  Deep: the superstep
loops of ``var_length_expand`` and ``var_length_paths`` against the
unrolled plans, and their job budget."""

from __future__ import annotations

import pytest

from samyama_graph_spark import lifecycle
from samyama_graph_spark.cypher import CypherEngine
from samyama_graph_spark.graph import PropertyGraph
from samyama_graph_spark.operators import traversal

_FOF = (
    "MATCH (p:Customer)-[:KNOWS*1..2]-(f:Customer) "
    "WHERE id(p) = $me AND id(f) <> $me AND f.mktsegment = 'BUILDING' "
    "RETURN DISTINCT id(f) AS fid, f.name AS name, f.acctbal AS acctbal "
    "ORDER BY name, fid LIMIT 20"
)
_MERGE = (
    "MATCH (a:Customer), (b:Customer) WHERE id(a) = $a AND id(b) = $b "
    "MERGE (a)-[:KNOWS]->(b)"
)


def _parquet(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).write.parquet(str(path))
    return spark.read.parquet(str(path))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _last_job(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


@pytest.fixture(scope="module")
def messy_edges(spark, tmp_path_factory):
    """Random digraph with self-loops, duplicate edges and NULL
    endpoints, read from parquet."""
    import random

    rng = random.Random(11)
    rows = [(rng.randrange(14), rng.randrange(14)) for _ in range(34)]
    rows += [(3, 3), (0, 0), (2, 5), (2, 5), (5, 2), (0, None), (None, 1)]
    return _parquet(
        spark, tmp_path_factory.mktemp("messy") / "e", rows,
        "src long, dst long",
    )


@pytest.mark.parametrize("direction", ["out", "in", "both"])
def test_frontier_matches_multi_source_plan(spark, messy_edges, direction):
    """Same (start, node, hops) rows as var_length_expand for min_hops
    0..2 and max_hops 1..4, from several seeds (one absent from the
    graph), and every call stays on the driver."""
    seeds = [0, 2, 7, 99]
    starts = spark.createDataFrame([(s,) for s in seeds], "id long")
    for max_hops in range(1, 5):
        # min_hops only filters first-reach depths: one reference run
        ref = _rows(
            traversal.var_length_expand(
                starts, messy_edges, 0, max_hops, direction=direction
            )
        )
        for min_hops in range(0, min(max_hops, 2) + 1):
            want = [r for r in ref if r[2] >= min_hops]
            got, note = traversal.frontier_expand(
                seeds, messy_edges, min_hops, max_hops, direction
            )
            assert got is not None, note
            assert note.startswith("driver frontier, 4 point seeds")
            assert _rows(got) == want, (min_hops, max_hops)


def test_frontier_bound_both_sides(spark, tmp_path, monkeypatch):
    """Each LITERAL_KEYS_MAX bound (seeds, edges shipped per hop,
    reached rows) keeps the BFS on the driver at exactly the bound and
    falls back one past it; the fallback's multi-source plan returns
    the same rows."""
    # seed 0: hop 1 ships 3 rows ((0, 1) twice) and reaches 3 nodes;
    # hop 2 ships 2 rows and reaches 5
    edges = _parquet(
        spark, tmp_path / "tree",
        [(0, 1), (0, 1), (0, 2), (1, 3), (2, 4)],
        "src long, dst long",
    )

    def run(cap, seeds, max_hops):
        monkeypatch.setattr(lifecycle, "LITERAL_KEYS_MAX", cap)
        got, note = traversal.frontier_expand(seeds, edges, 1, max_hops)
        starts = spark.createDataFrame([(s,) for s in seeds], "id long")
        want = _rows(traversal.var_length_expand(starts, edges, 1, max_hops))
        if got is not None:
            assert _rows(got) == want
        return got is not None, note

    assert run(3, [0], 1) == (
        True, "driver frontier, 1 point seed, 1 hop, 3 edges shipped"
    )
    assert run(2, [0], 1) == (
        False, "multi-source plan, hop 1 edges > LITERAL_KEYS_MAX (2)"
    )
    assert run(5, [0], 2) == (
        True, "driver frontier, 1 point seed, 2 hops, 5 edges shipped"
    )
    assert run(4, [0], 2) == (
        False,
        "multi-source plan, 5 reached after hop 2 > LITERAL_KEYS_MAX (4)",
    )
    assert run(2, [5, 6], 1) == (
        True, "driver frontier, 2 point seeds, 1 hop, 0 edges shipped"
    )
    assert run(1, [5, 6], 1) == (
        False, "multi-source plan, 2 seeds > LITERAL_KEYS_MAX (1)"
    )


def test_point_anchored_explain_names_the_choice(spark, tmp_path, monkeypatch):
    """EXPLAIN of a point-anchored var-length read names the driver
    frontier, or the bound that sent it to the multi-source plan; both
    give the same rows, and a range anchor keeps the lazy plan."""
    nodes = _parquet(
        spark, tmp_path / "p", [(i, f"n{i}") for i in range(12)],
        "id long, name string",
    )
    edges = _parquet(
        spark, tmp_path / "e", [(i, (i + 1) % 12) for i in range(12)],
        "src long, dst long",
    )
    eng = CypherEngine(PropertyGraph(spark, {"P": nodes}, {"E": edges}))
    q = (
        "MATCH (a:P)-[:E*1..2]-(b:P) WHERE id(a) = $s "
        "RETURN b.name AS n ORDER BY n"
    )
    ran = []
    kernel = traversal.frontier_expand
    monkeypatch.setattr(
        traversal, "frontier_expand",
        lambda *a, **kw: ran.append(kernel(*a, **kw)) or ran[-1],
    )
    plan = eng.explain(q, {"s": 0})
    assert (
        "var-length E: driver frontier, 1 point seed, 2 hops, 6 edges shipped"
        in plan
    )
    driver = [tuple(r) for r in eng.query(q, {"s": 0}).collect()]
    assert ran and ran[-1][0] is not None
    assert driver == [("n1",), ("n10",), ("n11",), ("n2",)]

    monkeypatch.setattr(lifecycle, "LITERAL_KEYS_MAX", 1)
    plan = eng.explain(q, {"s": 0})
    assert (
        "var-length E: multi-source plan, hop 1 edges > LITERAL_KEYS_MAX (1)"
        in plan
    )
    fresh = CypherEngine(eng.graph)  # no cached driver-path plan
    assert [tuple(r) for r in fresh.query(q, {"s": 0}).collect()] == driver
    assert ran[-1][0] is None

    ran.clear()
    eng.query(
        "MATCH (a:P)-[:E*1..2]-(b:P) WHERE id(a) < 1 RETURN b.name AS n"
    ).collect()
    assert ran == []


def test_point_anchored_fof_after_merge_job_budget(spark, sf_dir):
    """The benchmark's KNOWS*1..2 read after a MERGE on the LDBC ring:
    build plus collect runs at most 7 jobs (two bounded hop collects
    over the pinned ring, then the join back)."""
    from samyama_graph_spark.workloads_ldbc import ldbc_graph

    me, other = 3_000_000_001, 3_000_000_077
    eng = CypherEngine(ldbc_graph(spark, sf_dir))
    eng.query(_MERGE, {"a": me, "b": other})
    eng.graph.label_count_est("Customer")  # the planner's one-time stat
    j0 = _last_job(spark)
    rows = eng.query(_FOF, {"me": me}).collect()
    jobs = _last_job(spark) - j0
    assert rows
    assert jobs <= 7, jobs


def test_knows_pin_survives_block_loss_and_is_per_session(spark, sf_dir):
    """The lazily pinned KNOWS ring: after clear_plan_caches() and an
    unpersist of every persistent RDD (the bench cleanup), IC1 and a
    MERGE followed by the KNOWS*1..2 read return the same rows; a
    second session holds its own pin."""
    from samyama_graph_spark.cypher.engine import clear_plan_caches
    from samyama_graph_spark.workloads import REGISTRY
    from samyama_graph_spark.workloads_ldbc import ldbc_graph

    me, other = 3_000_000_001, 3_000_000_077
    ic1 = REGISTRY["ldbc_ic1_transitive_name"].fn

    def merge_then_fof():
        eng = CypherEngine(ldbc_graph(spark, sf_dir))
        eng.query(_MERGE, {"a": me, "b": other})
        return eng.query(_FOF, {"me": me}).collect()

    owner = ("workloads_ldbc.knows", sf_dir)
    before = (ic1(spark, sf_dir).collect(), merge_then_fof())
    (pinned,) = lifecycle._held(spark).pins[owner]
    assert pinned is ldbc_graph(spark, sf_dir).edges["KNOWS"]
    assert pinned.is_cached

    clear_plan_caches()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    assert (ic1(spark, sf_dir).collect(), merge_then_fof()) == before

    other_session = spark.newSession()
    g2 = ldbc_graph(other_session, sf_dir)
    (pinned2,) = lifecycle._held(other_session).pins[owner]
    assert pinned2 is g2.edges["KNOWS"] and pinned2 is not pinned
    assert lifecycle._held(spark).pins[owner] == [pinned]


def _reach_rows(df):
    """Rows as ``(start, node, hops, ...path columns)`` tuples, sorted."""
    cols = ["start", "node", "hops"]
    cols += [c for c in ("path_nodes", "path_rels") if c in df.columns]
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("direction", ["out", "in", "both"])
def test_superstep_loops_match_unrolled_plans(
    spark, messy_edges, monkeypatch, direction
):
    """With ``_UNROLL_MAX`` at 0 every traversal runs as a superstep
    loop: var_length_expand and var_length_paths (both all_shortest
    modes) return the unrolled plans' rows, and var_length_expand
    frontier_expand's, over min_hops 0..2 and max_hops 1..4.  Each loop
    runs one Spark job per hop, up to the first hop that reaches
    nothing new, and one to collect: the counts of the hand-written
    loops it replaced."""
    seeds = [0, 2, 7, 99]
    starts = spark.createDataFrame([(s,) for s in seeds], "id long")
    calls = {
        "expand": lambda lo, hi: traversal.var_length_expand(
            starts, messy_edges, lo, hi, direction=direction
        ),
        "path": lambda lo, hi: traversal.var_length_paths(
            starts, messy_edges, lo, hi, direction=direction
        ),
        "all_shortest": lambda lo, hi: traversal.var_length_paths(
            starts, messy_edges, lo, hi, direction=direction,
            all_shortest=True,
        ),
    }
    # first-reach rows do not depend on the bounds, which only filter
    # them: one unrolled *0..4 run is the reference for every bound
    ref = {k: _reach_rows(f(0, 4)) for k, f in calls.items()}
    depth = max(r[2] for r in ref["expand"])
    monkeypatch.setattr(traversal, "_UNROLL_MAX", 0)
    # min_hops is the same final filter on every path: each value is
    # taken once rather than crossed with every max_hops
    for min_hops, max_hops in ((0, 1), (1, 2), (2, 3), (0, 4)):
        want = {
            k: [r for r in rows if min_hops <= r[2] <= max_hops]
            for k, rows in ref.items()
        }
        for kind, call in calls.items():
            a = _last_job(spark)
            df = call(min_hops, max_hops)
            b = _last_job(spark)
            got = _reach_rows(df)
            c = _last_job(spark)
            assert got == want[kind], (kind, min_hops, max_hops)
            assert (b - a, c - b) == (min(max_hops, depth + 1), 1), (
                kind, min_hops, max_hops,
            )
        front, note = traversal.frontier_expand(
            seeds, messy_edges, min_hops, max_hops, direction
        )
        assert front is not None, note
        assert _reach_rows(front) == want["expand"], (min_hops, max_hops)


def test_deep_traversal_job_budget_and_trace(spark, messy_edges):
    """Past ``_UNROLL_MAX`` both traversals run on the superstep loop:
    one job per hop up to the first that reaches nothing new (out
    reaches depth 4, both depth 3), one to collect, and PLAN_TRACE
    records both loops."""
    from samyama_graph_spark.algorithms import util

    for name in ("var_length_expand", "var_length_paths"):
        util.PLAN_TRACE.pop(name, None)
    starts = spark.createDataFrame([(0,), (2,), (7,), (99,)], "id long")
    for direction, jobs in (("out", 5), ("both", 4)):
        for call in (
            lambda: traversal.var_length_expand(
                starts, messy_edges, 1, 6, direction=direction
            ),
            lambda: traversal.var_length_paths(
                starts, messy_edges, 1, 6, direction=direction
            ),
            lambda: traversal.var_length_paths(
                starts, messy_edges, 1, 6, direction=direction,
                all_shortest=True,
            ),
        ):
            a = _last_job(spark)
            df = call()
            b = _last_job(spark)
            df.collect()
            c = _last_job(spark)
            assert (b - a, c - b) == (jobs, 1), direction
    assert "ShuffledHashJoin" in util.PLAN_TRACE["var_length_expand"]
    assert "ShuffledHashJoin" in util.PLAN_TRACE["var_length_paths"]


def test_deep_reach_keeps_partition_count_flat(spark, tmp_path):
    """Each hop's union with the reached state is coalesced to the
    loop's shuffle partitions, so a 20-hop reach returns no more
    partitions than the loop's shuffles use, not one batch per hop."""
    from samyama_graph_spark.algorithms import util

    edges = _parquet(
        spark, tmp_path / "chain", [(i, i + 1) for i in range(20)],
        "src long, dst long",
    )
    starts = spark.createDataFrame([(0,)], "id long")
    with util.iteration_scope(spark, edges):
        loop_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    got = traversal.var_length_expand(starts, edges, 1, 25)
    assert _rows(got) == [(0, i, i) for i in range(1, 21)]
    assert got.rdd.getNumPartitions() <= loop_n
