"""Seeded operation streams and the percentile helpers (no Spark here).

A stream is a list of :class:`Op`; the same seed always yields the same
list.  ``cypher_stream`` is the read/write client stream; ``batch_plan``
is the analytics and curation pass.  Everything here is pure so the
tests can run it without a Spark session.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

CUSTOMER_BASE = 3_000_000_000  # loaders.ID_BASE["Customer"]
DOCUMENT_BASE = 7_000_000_000  # loaders.ID_BASE["Document"]

POINT = "MATCH (p:Customer) WHERE id(p) = $me " \
        "RETURN p.name AS name, p.acctbal AS acctbal, p.mktsegment AS segment"
RYW = "MATCH (c:Customer {name: $name}) " \
      "RETURN c.acctbal AS acctbal, c.mktsegment AS segment"
HOP = "MATCH (p:Customer)-[:KNOWS]-(f:Customer) WHERE id(p) = $me " \
      "RETURN id(f) AS fid ORDER BY fid"
AGG = "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE o.totalprice > $t " \
      "RETURN c.name AS name, count(o) AS n_orders, " \
      "round(sum(o.totalprice), 2) AS total_spent " \
      "ORDER BY total_spent DESC, name LIMIT 10"
FOF = "MATCH (p:Customer)-[:KNOWS*1..2]-(f:Customer) " \
      "WHERE id(p) = $me AND id(f) <> $me AND f.mktsegment = 'BUILDING' " \
      "RETURN DISTINCT id(f) AS fid, f.name AS name, f.acctbal AS acctbal " \
      "ORDER BY name, fid LIMIT 20"
KNN = "CALL db.index.vector.queryNodes('Document', 'embedding', $q, 10)"
SET = "MATCH (p:Customer) WHERE id(p) = $me SET p.acctbal = $bal"
CREATE = "CREATE (c:Customer {name: $name, acctbal: $bal, mktsegment: $seg})"
MERGE = "MATCH (a:Customer), (b:Customer) WHERE id(a) = $a AND id(b) = $b " \
        "MERGE (a)-[:KNOWS]->(b)"
DELETE = "MATCH (c:Customer {name: $name}) DETACH DELETE c"

TEXT = {
    "point": POINT, "ryw": RYW, "hop": HOP, "agg": AGG, "fof": FOF,
    "knn": KNN, "set": SET, "create": CREATE, "merge": MERGE, "delete": DELETE,
}
# One block of the client stream: writes and reads alternate, every
# kind appears, and the 8th write triggers the engine's every-8-writes
# compaction.  The order is fixed so that each read sits at the same
# depth of un-compacted write deltas in every run; the seed decides the
# parameters.
BLOCK_KINDS = (
    "create", "point", "set", "point", "merge", "hop", "delete", "fof",
    "create", "ryw", "set", "agg", "set", "point", "delete", "knn",
)
WRITE_KINDS = frozenset(("set", "create", "merge", "delete"))
# The kinds whose first call costs far more than later ones (plan code
# generation); the warm-up runs one of each.  The other kinds' first
# call is within run-to-run noise of their later calls.
WARM_KINDS = ("create", "merge", "hop")
BLOCK = len(BLOCK_KINDS)
# op class -> the latency group it reports under
GROUP = {
    "point": "point_read", "ryw": "point_read", "hop": "point_read",
    "agg": "aggregate", "fof": "traversal",
    "knn": "knn", "set": "write", "create": "write", "merge": "write",
    "delete": "write",
}
THRESHOLDS = (50_000.0, 100_000.0, 150_000.0, 200_000.0, 250_000.0, 300_000.0)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
FOF_HOPS = 2  # KNOWS*1..2 in FOF
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


@dataclass(frozen=True)
class Op:
    kind: str
    params: dict = field(default_factory=dict, hash=False, compare=True)

    @property
    def text(self) -> str:
        return TEXT[self.kind]


def rng_for(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream): stream 0 is the timed
    stream, stream 1 the warm-up, so the two never share parameters."""
    return np.random.default_rng([int(seed), int(stream)])


def zipf_picker(rng: np.random.Generator, n: int, s: float = 1.0):
    """Draw customer keys 1..n with P(rank r) ~ 1/r^s over a seeded
    permutation, so a few keys repeat often and most appear once."""
    w = 1.0 / np.arange(1, n + 1) ** s
    cdf = np.cumsum(w / w.sum())
    perm = rng.permutation(n) + 1

    def pick() -> int:
        return int(perm[min(int(np.searchsorted(cdf, rng.random())), n - 1)])

    return pick


def cypher_stream(
    seed: int,
    stream: int,
    n_blocks: int,
    n_customers: int,
    embeddings: np.ndarray,
) -> list[Op]:
    """Closed-loop client stream: ``n_blocks`` repeats of BLOCK_KINDS
    (8 writes, 8 reads) with seeded parameters.  ``embeddings`` are the
    Document vectors k-NN queries perturb.
    """
    rng = rng_for(seed, stream)
    zipf = zipf_picker(rng, n_customers)
    tag = f"bench-{seed}-{stream}"
    alive: list[str] = []
    created: list[str] = []
    last_merge: list[int] = []
    return [
        Op(kind, _params(kind, rng, zipf, tag, alive, created, last_merge,
                         n_customers, embeddings))
        for _ in range(n_blocks)
        for kind in BLOCK_KINDS
    ]


def _params(kind, rng, zipf, tag, alive, created, last_merge,
            n_customers, embeddings) -> dict:
    cid = lambda: CUSTOMER_BASE + zipf()  # noqa: E731
    if kind in ("point", "fof"):
        return {"me": cid()}
    if kind == "hop":
        return {"me": last_merge.pop() if last_merge else cid()}
    if kind == "ryw":
        if created:
            return {"name": created[-1]}
        return {"name": f"{tag}-none"}
    if kind == "agg":
        return {"t": THRESHOLDS[int(rng.integers(len(THRESHOLDS)))]}
    if kind == "knn":
        row = embeddings[int(rng.integers(len(embeddings)))]
        q = row + 0.05 * rng.standard_normal(row.shape)
        return {"q": [round(float(x), 6) for x in q]}
    if kind == "set":
        return {"me": cid(), "bal": round(float(rng.uniform(-999, 9999)), 2)}
    if kind == "create":
        name = f"{tag}-{len(created)}"
        created.append(name)
        alive.append(name)
        return {
            "name": name,
            "bal": round(float(rng.uniform(-999, 9999)), 2),
            "seg": SEGMENTS[int(rng.integers(len(SEGMENTS)))],
        }
    if kind == "merge":
        a, b = sorted(int(x) for x in rng.choice(n_customers, 2, replace=False) + 1)
        a, b = CUSTOMER_BASE + a, CUSTOMER_BASE + b
        last_merge.append(a)
        return {"a": a, "b": b}
    if kind == "delete":
        return {"name": alive.pop(0)}
    raise ValueError(kind)


ALGORITHMS = ("pagerank", "wcc", "cdlp", "bfs", "sssp")
# On the large edge set only PageRank's superstep loop runs: each large
# call costs seconds, and the run budget has room for one.
LARGE_ALGORITHMS = ("pagerank",)
STAGES = ("corpus_filter", "exact_dedup", "minhash_lsh_pairs", "apply_dedup",
          "assign_split", "semdedup")


def batch_plan(seed: int, stream: int, sources: list) -> list[Op]:
    """One analytics-and-curation pass: LARGE_ALGORITHMS on the large
    edge set, all five algorithms on the small one (BFS/SSSP from a
    seeded source among ``sources``), then the curation stages in
    pipeline order."""
    rng = rng_for(seed, stream)
    src = int(sources[int(rng.integers(len(sources)))])
    ops = [Op(algo, {"edges": "large"}) for algo in LARGE_ALGORITHMS]
    for algo in ALGORITHMS:
        p = {"edges": "small"}
        if algo in ("bfs", "sssp"):
            p["source"] = src
        ops.append(Op(algo, p))
    ops.extend(Op(stage, {}) for stage in STAGES)
    return ops


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def geomean(values) -> float:
    """Geometric mean of positive samples (0.0 for none): every op
    weighs the same in relative terms, whatever its absolute cost."""
    xs = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in xs) / len(xs)) if xs else 0.0


def tail_percentile(values, min_beyond: int = 10):
    """The highest of PERCENTILES that leaves at least ``min_beyond``
    samples above it, as ``(q, value)``; None when even the median
    does not."""
    n = len(values)
    for q in reversed(PERCENTILES):
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= min_beyond:
            return q, percentile(values, q)
    return None
