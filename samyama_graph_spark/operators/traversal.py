"""Graph traversal operators: expand, var-length expand, shortest path.

Reference semantics: ExpandOperator (operator.rs:2744) — 1-hop
neighbor expansion with direction/type/label filters;
VarLengthExpandOperator (operator.rs:3003) — BFS over ``*min..max``
with a visited set (distinct reached nodes per start, first-reached
depth); ShortestPathOperator (operator.rs:7527) — BFS between bound
endpoints, here :func:`var_length_paths` from ``*0..max``.

All are multi-source: the whole frontier advances in one join per
hop, so K hops = K shuffles regardless of how many start nodes —
this is what makes traversal viable at cluster scale (per-start BFS
loops would be K*starts jobs).  Up to ``_UNROLL_MAX`` hops the hops
are unrolled into one lazy plan.  Deeper or unbounded traversals
(``*..6``, ``*``, every ``shortestPath``) are a vertex program on
``algorithms.util.superstep``, :func:`reach`: the state is keyed by
the reached node ``id`` and carries its ``start`` and ``hops``; each
superstep adds the first-reached rows, flagged ``chg``, costs one job,
and the loop halts at the first hop that reaches nothing new.  SPARQL's
``+``/``*`` closures (``rdf._path_closure``) run on the same loop,
seeded with their base pairs.

The exception is a point-anchored traversal, whose start ids are plan
constants (``id(p) = $me``): :func:`frontier_expand` runs its BFS on
the driver, one bounded edge collect per hop, while the frontier stays
small — the reference's NodeById seek followed by its per-start
visited-set BFS.  K hops are then K small jobs and no shuffle; past
``lifecycle.LITERAL_KEYS_MAX`` it hands back to the multi-source plan.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samyama_graph_spark import lifecycle
from samyama_graph_spark.algorithms.util import (
    checkpoint,
    superstep,
    symmetrize,
)


def _directed_view(edges: DataFrame, direction: str) -> DataFrame:
    """Edge list as (src -> dst) in traversal direction."""
    if direction == "out":
        return edges.select("src", "dst")
    if direction == "in":
        return edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    if direction == "both":
        return symmetrize(edges)
    raise ValueError(f"direction must be out/in/both, got {direction!r}")


def expand(
    bound: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    direction: str = "out",
    target_alias: str = "nbr_id",
) -> DataFrame:
    """1-hop expansion: join bound rows to their neighbors.

    Keeps all bound columns and appends ``target_alias``; one edge row
    per output row (bag semantics, like MATCH).
    """
    e = _directed_view(edges, direction)
    return bound.join(e, bound[id_col] == e["src"]).select(
        *bound.columns, F.col("dst").alias(target_alias)
    )


def var_length_expand(
    starts: DataFrame,
    edges: DataFrame,
    min_hops: int,
    max_hops: int,
    id_col: str = "id",
    direction: str = "out",
    broadcast_edges: bool = False,
) -> DataFrame:
    """BFS ``*min..max`` from every start: ``(start, node, hops)``.

    ``starts`` is a one-column DataFrame of start ids.  Visited-set
    semantics per start (a node is reported once, at its first-reached
    depth), matching the reference's VarLengthExpand BFS.  The visited
    set is keyed (start, node) so concurrent BFS trees don't interfere.
    Edges with a NULL endpoint lead nowhere.
    """
    if min_hops < 0 or max_hops < min_hops:
        raise ValueError("need 0 <= min_hops <= max_hops")
    if max_hops <= _UNROLL_MAX:
        # bounded short patterns (*1..2, *..3 — the common Cypher
        # shapes): unroll the hops into ONE lazy plan with no per-depth
        # count/checkpoint jobs.  Per-depth visited anti-joins are
        # replaced by a single min-hops aggregation at the end: the
        # walk frontier at depth k (distinct nodes at walk distance k)
        # may revisit earlier nodes, but min(hops) over all depths IS
        # the BFS first-reach depth, and one aggregation costs one
        # exchange where K anti-joins cost K (at sf0.1 this halved the
        # AQE job count of the *1..2 gate entry).  Early-exit checks
        # only save work when the frontier can empty before a LARGE
        # bound; at depth <= 4 they cost a scheduled job per hop.
        # broadcast_edges (caller-judged against the broadcast budget)
        # pins the edge side resident: every hop becomes a streamed
        # BroadcastHashJoin, so the whole unrolled BFS is ONE stage
        # pipeline and the min-hops aggregation is the only exchange.
        e = _directed_view(edges, direction).dropna()
        if broadcast_edges:
            e = F.broadcast(e)
        frontier = starts.select(
            F.col(id_col).alias("start"), F.col(id_col).alias("node")
        ).distinct()
        levels = [frontier.withColumn("hops", F.lit(0))]
        for depth in range(1, max_hops + 1):
            frontier = (
                e.join(frontier, e["src"] == frontier["node"])
                .select("start", F.col("dst").alias("node"))
                .distinct()
            )
            levels.append(frontier.withColumn("hops", F.lit(depth)))
        out = levels[0]
        for lv in levels[1:]:
            out = out.unionByName(lv)
        out = out.groupBy("start", "node").agg(F.min("hops").alias("hops"))
        return out.filter(F.col("hops") >= min_hops)
    seeds = starts.select(
        F.col(id_col).alias("start"), F.col(id_col).alias("id")
    ).distinct()
    reached = reach(
        "var_length_expand",
        seeds,
        edges,
        rounds=max_hops,
        view=lambda e: _directed_view(e, direction).dropna(),
    )
    return reached.select("start", F.col("id").alias("node"), "hops").filter(
        F.col("hops") >= min_hops
    )


def _hop(joined: DataFrame) -> DataFrame:
    """Reach rows one hop on: each ``(start, id, hops)`` row joined to
    an edge it leaves, moved to the edge's ``dst``."""
    return joined.select(
        "start", F.col("dst").alias("id"), (F.col("hops") + 1).alias("hops")
    ).distinct()


def reach(
    name: str,
    seeds: DataFrame,
    edges: DataFrame,
    *,
    rounds: int,
    view: Callable[[DataFrame], DataFrame] | None = None,
    extend: Callable[[DataFrame], DataFrame] = _hop,
    driver: Callable[..., DataFrame | None] | None = None,
) -> DataFrame:
    """Visited-set BFS from the ``(start, id)`` rows of ``seeds`` as a
    :func:`~samyama_graph_spark.algorithms.util.superstep` vertex
    program: the ``(start, id, hops, ..., chg)`` state of every reached
    pair, each at its first-reached hop (the seeds at hop 0).

    Each superstep ``extend`` turns the edges leaving the last hop's
    rows into candidate rows; the ones whose ``(start, id)`` is not yet
    reached join the state flagged ``chg``.  The loop halts at the
    first hop that reaches nothing new, or after ``rounds``.  ``view``
    and ``driver`` are superstep's; the last round's plan is recorded
    in ``PLAN_TRACE[name]``."""
    return superstep(
        name, edges, lambda e: _seed_state(seeds), _reach_step(extend),
        rounds=rounds, driver=driver, view=view, active="chg",
    )


def _seed_state(seeds: DataFrame) -> DataFrame:
    """A reach loop's first superstep state: every seed at hop 0, and
    sending.  Lazily checkpointed, so the seeds are computed once, by
    the first round's count."""
    return checkpoint(
        seeds.withColumn("hops", F.lit(0)).withColumn("chg", F.lit(True)),
        eager=False,
    )


def _reach_step(extend: Callable[[DataFrame], DataFrame]):
    """The reach superstep: the state's rows with ``chg`` cleared plus
    ``extend``'s candidates not yet in it, flagged ``chg``.  The union
    is coalesced, with no shuffle, to the loop's shuffle partitions:
    each hop's new rows would otherwise add that many partitions to
    the checkpointed state, and as many tasks to every later hop."""

    def step(joined: DataFrame, state: DataFrame) -> DataFrame:
        new = extend(joined).join(
            state.select("start", "id").hint("shuffle_hash"),
            ["start", "id"],
            "left_anti",
        )
        n = int(state.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        return (
            state.withColumn("chg", F.lit(False))
            .unionByName(new.withColumn("chg", F.lit(True)))
            .coalesce(n)
        )

    return step


# frontier_expand's per-hop edge filter: the rows leaving the frontier
# in traversal direction.  NULL endpoints were dropped before it, and
# ``both`` drops self-loops as symmetrize does.
_TOUCH = {
    "out": "src IN ({ids})",
    "in": "dst IN ({ids})",
    "both": "(src IN ({ids}) OR dst IN ({ids})) AND src <> dst",
}


def frontier_expand(
    seeds: Iterable[int],
    edges: DataFrame,
    min_hops: int,
    max_hops: int,
    direction: str = "out",
) -> tuple[DataFrame | None, str]:
    """Driver-side BFS ``*min..max`` from known start ids: the rows
    :func:`var_length_expand` returns for the same starts, as a VALUES
    relation, and a one-line account of the choice for EXPLAIN.

    Each hop is one bounded collect of the edges that touch the
    frontier (:func:`lifecycle.collect_bounded`); the BFS itself runs
    in Python.  The seeds, the edges shipped per hop and the reached
    ``(start, node)`` set are each bounded by
    ``lifecycle.LITERAL_KEYS_MAX``: past any of them this returns
    ``(None, reason)`` and the caller runs the distributed plan.
    """
    if min_hops < 0 or max_hops < min_hops:
        raise ValueError("need 0 <= min_hops <= max_hops")
    if direction not in _TOUCH:
        raise ValueError(f"direction must be out/in/both, got {direction!r}")
    cap = lifecycle.LITERAL_KEYS_MAX
    seeds = sorted(set(seeds))
    if len(seeds) > cap:
        return None, (
            f"multi-source plan, {len(seeds)} seeds > LITERAL_KEYS_MAX ({cap})"
        )
    reached = {s: {s: 0} for s in seeds}
    frontier = {s: {s} for s in seeds}
    hops = shipped = 0
    for depth in range(1, max_hops + 1):
        nodes = set().union(*frontier.values())
        if not nodes:
            break
        ids = ", ".join(str(v) for v in sorted(nodes))
        got = lifecycle.collect_bounded(
            edges.select("src", "dst")
            .dropna()
            .filter(_TOUCH[direction].format(ids=ids)),
            ["src", "dst"],
        )
        if got is None:
            return None, (
                f"multi-source plan, hop {depth} edges > "
                f"LITERAL_KEYS_MAX ({cap})"
            )
        hops += 1
        shipped += len(got)
        adj: dict[int, set[int]] = {}
        for src, dst in got:
            if direction != "in":
                adj.setdefault(src, set()).add(dst)
            if direction != "out":
                adj.setdefault(dst, set()).add(src)
        for s, front in frontier.items():
            seen = reached[s]
            front = {v for u in front for v in adj.get(u, ()) if v not in seen}
            seen.update(dict.fromkeys(front, depth))
            frontier[s] = front
        n = sum(len(seen) for seen in reached.values())
        if n > cap:
            return None, (
                f"multi-source plan, {n} reached after hop {depth} > "
                f"LITERAL_KEYS_MAX ({cap})"
            )
    rows = [
        f"({s}L, {v}L, {h})"
        for s in seeds
        for v, h in sorted(reached[s].items())
        if h >= min_hops
    ]
    out = edges.sparkSession.sql(
        f"SELECT * FROM VALUES {', '.join(rows) or '(0L, 0L, 0)'} "
        "AS t(start, node, hops)"
    )
    note = (
        f"driver frontier, {len(seeds)} point seed{'s' * (len(seeds) != 1)}, "
        f"{hops} hop{'s' * (hops != 1)}, {shipped} edges shipped"
    )
    return (out if rows else out.limit(0)), note


_REL_ARRAY_T = "array<struct<src:bigint,dst:bigint,type:string>>"

# Bounded var-length patterns up to this depth compile to one fully
# lazy unrolled plan (no per-hop count/checkpoint jobs); deeper or
# unbounded traversals run as a superstep loop that halts early.
# Identical frontier subplans are computed once per action via
# ReuseExchange.
_UNROLL_MAX = 4


def _typed_view(edges: DataFrame, direction: str) -> DataFrame:
    """Edge list as traversal steps ``(src, dst)`` carrying the
    underlying edge identity ``(esrc, edst, etype)`` in STORED
    orientation, so materialized relationship structs are
    direction-faithful.  Edges with a NULL endpoint lead nowhere."""
    cols = edges.columns
    t = F.col("type") if "type" in cols else F.lit(None).cast("string")
    base = edges.select(
        F.col("src").cast("long").alias("esrc"),
        F.col("dst").cast("long").alias("edst"),
        t.alias("etype"),
    ).dropna(subset=["esrc", "edst"])
    fwd = base.select(
        F.col("esrc").alias("src"), F.col("edst").alias("dst"),
        "esrc", "edst", "etype",
    )
    if direction == "out":
        return fwd
    rev = base.select(
        F.col("edst").alias("src"), F.col("esrc").alias("dst"),
        "esrc", "edst", "etype",
    )
    if direction == "in":
        return rev
    if direction == "both":
        return fwd.unionByName(rev).filter(F.col("src") != F.col("dst"))
    raise ValueError(f"direction must be out/in/both, got {direction!r}")


def var_length_paths(
    starts: DataFrame,
    edges: DataFrame,
    min_hops: int,
    max_hops: int,
    id_col: str = "id",
    direction: str = "out",
    all_shortest: bool = False,
    broadcast_edges: bool = False,
) -> DataFrame:
    """Materialized BFS-tree paths: one row PER PATH with
    ``(start, node, hops, path_nodes: array<long>,
    path_rels: array<struct<src,dst,type>>)``.

    Node-uniqueness per start (each node appears at its first-reached
    depth only) — the reference's visited-set BFS with the path-
    tracking flag on (operator.rs:3003).  ``all_shortest=False`` keeps
    ONE deterministic path per (start, node): the lexicographically
    smallest node sequence, then relationship sequence.
    ``all_shortest=True`` keeps EVERY minimal-hop path — the
    multiplicity allShortestPaths needs (operator.rs:7527); sound
    because every prefix of a shortest path is itself a shortest path,
    so extending exactly the first-reach frontier enumerates all of
    them.

    Scale: each hop is one join + one anti-join on (start, node);
    path arrays ride along as payload (bounded by max_hops).  The
    all-shortest variant's fan-out is the true path multiplicity —
    inherent to the semantics, not an implementation artifact.
    """
    if min_hops < 0 or max_hops < min_hops:
        raise ValueError("need 0 <= min_hops <= max_hops")
    base = (
        starts.select(F.col(id_col).cast("long").alias("start"))
        .distinct()
        .select(
            "start",
            F.col("start").alias("id"),
            F.array(F.col("start")).alias("path_nodes"),
            F.array().cast(_REL_ARRAY_T).alias("path_rels"),
        )
    )
    if max_hops > _UNROLL_MAX:
        # frontier-pruned BFS: the state holds the BFS tree (or every
        # shortest path), never the simple paths the unrolled plan
        # enumerates
        out = reach(
            "var_length_paths",
            base,
            edges,
            rounds=max_hops,
            view=lambda e: _typed_view(e, direction),
            extend=(
                _extend
                if all_shortest
                else lambda j: _first_reach(_extend(j), False)
            ),
        )
    else:
        # one lazy plan via SIMPLE-PATH ENUMERATION: each depth extends
        # the previous depth's paths, rejecting node revisits with an
        # array_contains filter (no visited anti-join), and ONE final
        # resolution pass restores the visited-set/all-shortest
        # semantics: every intermediate node of a minimal-hop path sits
        # at its own BFS depth (subpaths of shortest paths are
        # shortest), so keeping only min-hops rows per (start, node)
        # yields exactly the BFS first-reach paths — all of them in
        # all_shortest mode, the lexicographically smallest otherwise.
        # K joins + 1 aggregation replaces K joins + K anti-joins + K
        # min_by aggregations; at sf0.1 the gate entry's AQE job count
        # dropped ~2x.  The enumeration frames hold simple paths rather
        # than the (smaller) BFS tree, which is why this shape is gated
        # to depth <= _UNROLL_MAX.  broadcast_edges (caller-judged
        # against the broadcast budget) pins the edge side resident so
        # every enumeration hop is a streamed BroadcastHashJoin — the
        # whole bounded BFS collapses into one stage pipeline with the
        # first-reach resolution as its only exchange.
        e = _typed_view(edges, direction)
        if broadcast_edges:
            e = F.broadcast(e)
        frontier = base.withColumn("hops", F.lit(0))
        out = frontier
        for _ in range(max_hops):
            frontier = _extend(
                e.join(frontier, e["src"] == frontier["id"]).filter(
                    ~F.array_contains("path_nodes", F.col("dst"))
                )
            )
            out = out.unionByName(frontier)
        out = _first_reach(out, all_shortest)
    return out.select(
        "start", F.col("id").alias("node"), "path_nodes", "path_rels", "hops"
    ).filter(F.col("hops") >= min_hops)


def _extend(joined: DataFrame) -> DataFrame:
    """Path rows one hop on: each ``(start, id, path_nodes, path_rels,
    hops)`` row joined to an edge step it leaves, extended by it."""
    return joined.select(
        "start",
        F.col("dst").alias("id"),
        F.concat("path_nodes", F.array(F.col("dst"))).alias("path_nodes"),
        F.concat(
            "path_rels",
            F.array(
                F.struct(
                    F.col("esrc").alias("src"),
                    F.col("edst").alias("dst"),
                    F.col("etype").alias("type"),
                )
            ),
        ).alias("path_rels"),
        (F.col("hops") + 1).alias("hops"),
    )


def _first_reach(paths: DataFrame, all_shortest: bool) -> DataFrame:
    """Keep only the minimal-hop rows per (start, id), in one exchange:
    all of them, or the one with the smallest node sequence (then the
    smallest relationship sequence, as parallel edges give one node
    sequence several).  Applied to enumerated simple paths, every such
    row is a genuine BFS-tree path because subpaths of shortest paths
    are shortest."""
    if all_shortest:
        from pyspark.sql import Window

        w = Window.partitionBy("start", "id")
        return (
            paths.withColumn("__minh", F.min("hops").over(w))
            .filter(F.col("hops") == F.col("__minh"))
            .drop("__minh")
        )
    return (
        paths.groupBy("start", "id")
        .agg(F.min(F.struct("hops", "path_nodes", "path_rels")).alias("pp"))
        .select("start", "id", "pp.path_nodes", "pp.path_rels", "pp.hops")
    )
