"""Shared helpers for iterative DataFrame algorithms."""

from __future__ import annotations

import contextlib
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from samyama_graph_spark import lifecycle

# Physical-plan strings of the last iteration of each algorithm's loop,
# keyed by algorithm name.  The loops materialize their results
# internally (the returned frame is a checkpoint scan), so plan-shape
# regression tests read the per-iteration plan from here instead.
PLAN_TRACE: dict[str, str] = {}


def trace_plan(name: str, df: DataFrame) -> None:
    """Record ``df``'s physical plan under ``name`` (planning only — no
    execution is triggered)."""
    PLAN_TRACE[name] = df._jdf.queryExecution().executedPlan().toString()


# Driver-side fast-path guard (edges).  Mirrors flow.MAX_COLLECT_EDGES:
# the reference runs Tarjan/Prim sequentially anyway (community.rs:96,
# mst.rs:41), so below this size we collect the edge list and settle the
# fixpoint on the driver in microseconds instead of scheduling dozens of
# convergence-round jobs.  Above it, the distributed loops run.
DRIVER_EDGE_GUARD = 500_000


def loop_partitions(df: DataFrame, floor: int = 8) -> int:
    """Shuffle-partition count for a fixed-point loop over ``df``.

    AQE normally right-sizes post-shuffle partitions at runtime, but it
    is disabled inside ``iteration_scope`` (see below) — so size the
    loop's shuffles up front from Catalyst's SIZE ESTIMATE (optimized
    plan ``stats().sizeInBytes``, ~one partition per 128 MB), clamped
    to [floor, spark.sql.shuffle.partitions].  On a 100 TB input the
    estimate is huge so this returns the configured ceiling; on a small
    graph it stops every per-round stage from launching 10× more tasks
    than there are rows to justify (task launch ~5-10 ms is the binding
    floor of an iterative round, measured).

    Statistics only — no job and no ``.rdd``: materializing the RDD of
    an adaptive plan EXECUTES its upstream shuffle stages just to read
    a partition count, and with AQE off a shuffle-topped plan would
    always report the conf ceiling (both failure modes were observed).
    """
    conf_n = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return min(floor, conf_n)
    est = max(1, size // (128 << 20))
    return max(min(floor, conf_n), min(est, conf_n))


@contextlib.contextmanager
def iteration_scope(
    spark: SparkSession, partitions: int | DataFrame | None = None
) -> Iterator[None]:
    """Disable AQE (and optionally pin shuffle partitions) for the
    duration of a fixed-point loop: the loop's :func:`lifecycle.scope`,
    which also releases every :func:`partitioned` frame on exit.

    Inside an iterative algorithm the physical layout is pinned by hand
    (partitioned persisted frames + shuffle_hash hints), so adaptive
    re-planning has nothing left to decide — but its stage-by-stage
    materialization submits every shuffle stage as a separate scheduled
    job, tripling the per-iteration job floor (measured 6 jobs/iter vs 1
    on PageRank).  ``partitions`` (from :func:`loop_partitions`) keeps
    EVERY shuffle in the loop on the same modulus, so persisted-frame
    co-partitioning is never broken by a mismatched groupBy.  Scope is
    the session: callers run loops serially.
    """
    with lifecycle.scope(spark, {"spark.sql.adaptive.enabled": "false"}):
        if isinstance(partitions, DataFrame):
            partitions = loop_partitions(partitions)
        with lifecycle.scope(
            spark, {"spark.sql.shuffle.partitions": partitions}
        ):
            yield


def partitioned(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition on the loop join key and pin it to the
    enclosing :func:`iteration_scope`.

    Every per-iteration join against the returned frame is then
    exchange-free on this side (hash(key, shuffle.partitions) satisfies
    the join's distribution requirement), and the blocks are read from
    executor storage instead of re-running the source scan.  The scope
    releases it on exit, so the loop's result must be materialized
    inside the scope.  The pin is lazy: the first round's job fills it.

    NOTE: ``localCheckpoint`` would NOT work here — it rewraps the data
    as a ``Scan ExistingRDD`` whose partitioning Catalyst forgets, so
    the co-location is silently lost and every iteration re-shuffles.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return lifecycle.pin(df.repartition(n, *keys), eager=False)


def edges_pdf_if_small(df: DataFrame, guard: int):
    """The frame as a pandas DataFrame when it holds at most ``guard``
    rows, else None.  A large TRUSTWORTHY size estimate (scan-shaped
    plan) skips the probe with no job at all; everything else takes one
    bounded Arrow ``toPandas`` — never py4j Row objects (their heap
    churn measurably degrades the rest of a session).  The probe in
    front of every driver fast path."""
    big_est = estimated_rows(df) > guard // 4
    trusted = cardinality_estimate_trustworthy(df)
    if big_est and trusted:
        return None
    # Untrustworthy (join-derived) big estimates go STRAIGHT to the
    # bounded Arrow collect — no count-probe.  Both paths early-
    # terminate via the limit when the frame is genuinely over guard,
    # so the probe's only saving was the guard-sized Arrow batch
    # (~16 B/row on edge frames, a few MB) while its cost was a FULL
    # second execution of the upstream pipeline whenever the frame was
    # actually small — the common case (e.g. the dup-pair closure ran
    # its whole minhash candidate pipeline twice).
    if trusted:
        # trustworthy small estimate: the real count is bounded ~4x the
        # estimate for typical parquet, but dictionary/RLE-heavy edge
        # lists can compress far past that, so an UNBOUNDED toPandas
        # here could materialize an arbitrarily large frame before the
        # post-hoc len() check.  Guard with an exact count FIRST (a
        # cheap parallel no-column scan on scan-shaped plans — one
        # long to the driver, zero row transfer), then a PLAIN
        # toPandas: limit().toPandas() is not used on this branch
        # because CollectLimit's incremental partition scan measured
        # 1.5-4x slower than the parallel Arrow collect for the same
        # rows (even with an 8x-widened limit).
        if df.count() > guard:
            return None
        pdf = df.toPandas()
    else:
        pdf = df.limit(guard + 1).toPandas()
    return None if len(pdf) > guard else pdf


def superstep(
    name: str,
    edges: DataFrame,
    start: Callable[[DataFrame], DataFrame],
    step: Callable[[DataFrame, DataFrame], DataFrame],
    *,
    rounds: int,
    driver: Callable[..., DataFrame | None] | None = None,
    guard_mult: int = 1,
    view: Callable[[DataFrame], DataFrame] | None = None,
    active: str | None = None,
    halt_every: int = 1,
    total: str | None = None,
    advance: Callable[[DataFrame, float], DataFrame] | None = None,
) -> DataFrame:
    """Run one vertex program: a driver fast path, else a superstep loop.

    Driver path: when ``edges`` holds at most ``DRIVER_EDGE_GUARD *
    guard_mult`` rows (read at call time), ``driver(pdf)`` gets them as
    a pandas frame and its result is returned; it may decline with None.

    Loop: inside one :func:`iteration_scope`, ``e`` is ``view(edges)``
    persisted hash(src) and ``state = start(e)`` is the vertex state,
    keyed by ``id``.  Each round joins ``e`` with the sending vertices
    (``state``, or its rows flagged ``active``) shuffle-hash on
    ``e.src = id``, and ``step(joined, state)`` builds the round's
    output, which is lazily checkpointed and materialized by the round's
    one action:

    - ``total``: the output's ``sum(total)``, handed to ``advance``;
    - ``active``: the count of flagged rows, run every ``halt_every``
      rounds and on the last; the loop halts when it is 0;
    - otherwise a row count, for a fixed number of ``rounds``.

    The next state is ``advance(out, value)``, or the output itself.
    A state from ``advance`` is lazy over the loop's persisted frames,
    so it is checkpointed before they are released.  The last round's
    plan is recorded in ``PLAN_TRACE[name]``.
    """
    guard = DRIVER_EDGE_GUARD * guard_mult
    if driver is not None and guard > 0:
        pdf = edges_pdf_if_small(edges, guard)
        if pdf is not None:
            out = driver(pdf)
            if out is not None:
                return out
    with iteration_scope(edges.sparkSession, edges):
        e = partitioned(view(edges) if view else edges, "src")
        state = start(e)
        planned = None
        for r in range(1, rounds + 1):
            sending = state.filter(active) if active else state
            joined = e.join(
                sending.hint("shuffle_hash"), e["src"] == sending["id"]
            )
            planned = step(joined, state)
            out = checkpoint(planned, eager=False)
            value = None
            if total:
                value = float(
                    out.agg(F.coalesce(F.sum(total), F.lit(0.0))).first()[0]
                )
            elif not active:
                out.count()
            elif r % max(halt_every, 1) == 0 or r == rounds:
                value = out.filter(active).count()
            state = advance(out, value) if advance else out
            if active and value == 0:
                break
        if planned is not None:
            trace_plan(name, planned)
        if advance:
            state = checkpoint(state)
    return state


def cardinality_estimate_trustworthy(df: DataFrame) -> bool:
    """True when the optimized plan contains no join/aggregate — for
    scan/union/project/filter plans Catalyst's sizeInBytes tracks the
    input volume and never explodes the way join estimates do."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    return "Join" not in plan and "Aggregate" not in plan


def estimated_rows(df: DataFrame) -> int:
    """Catalyst size-estimate in row units (sizeInBytes / 8*ncols) —
    statistics only, no job, no ``.rdd``.  0 when unknown."""
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return 0
    return size // max(1, 8 * len(df.columns))


def driver_union_find(pairs) -> dict:
    """Min-id union-find over an iterable of (a, b) pairs: returns
    {vertex: min id of its component} for every vertex seen.  Union by
    min root keeps the invariant root == min(component)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def vertices_from_edges(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing as src or dst."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def symmetrize(edges: DataFrame, distinct: bool = True) -> DataFrame:
    """Undirected view: both directions, self-loops dropped, distinct.

    Mirrors the reference algorithms' undirected mode
    (crates/samyama-graph-algorithms; direction config per algorithm).

    ``distinct=False`` skips the dedup shuffle — pass it when the input
    is already a distinct canonical (src < dst) edge set, where the
    two directions cannot collide.
    """
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    out = fwd.unionAll(rev).filter(F.col("src") != F.col("dst"))
    return out.distinct() if distinct else out


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate lineage between iterations.

    localCheckpoint materializes to executor storage without needing a
    checkpoint dir; on a cluster with flaky executors prefer
    ``sparkContext.setCheckpointDir`` + ``df.checkpoint()``.
    """
    return df.localCheckpoint(eager=eager)
