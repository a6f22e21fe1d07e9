"""Multi-tenant graph routing — the Spark-native analogue of the
reference's per-tenant store router (src/sharding/router.rs:20-62,
which maps tenant id -> the node owning that tenant's store and
routes requests there).

On Spark there is no per-tenant process to route to; the isolating
unit is the CATALOG NAMESPACE.  Each tenant owns a table prefix under
a shared warehouse root (``{root}/{tenant}/nodes_{Label}.parquet`` /
``edges_{Type}.parquet``) and gets its own :class:`PropertyGraph` +
:class:`CypherEngine` pair.  Isolation falls out of the engine's
copy-on-write write path: a Cypher CREATE/SET/DELETE rebinds only that
tenant's engine to a new immutable graph — no shared mutable state
exists for a neighbor to observe.  On a lakehouse deployment the same
layout maps 1:1 onto catalog databases (``USE tenant_x``) with ACLs
enforcing what this in-process router enforces by construction.

Scale posture: tenant routing is pure metadata (a dict lookup — the
reference's shard_map HashMap, router.rs:24); per-tenant data stays
partitioned parquet read lazily on first access, so a router fronting
thousands of tenants holds no data on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from samyama_graph_spark.graph import PropertyGraph
from samyama_graph_spark.loaders import read_parquet


class TenantNotFound(KeyError):
    """Unknown tenant id — the router's ``route() -> None`` case
    (router.rs:50-59) surfaced as an exception."""


class TenantCatalog:
    """Routes tenant ids to isolated per-tenant engines.

    ``root`` (optional) is the shared warehouse directory; tenants
    created with ``persist=True`` write their tables under
    ``{root}/{tenant}/`` and are discoverable by a fresh catalog over
    the same root (the durable shard map).  Without a root the catalog
    is purely in-memory — the reference router's dynamically updated
    map (router.rs:38-42).
    """

    def __init__(self, spark: SparkSession, root: str | None = None):
        self.spark = spark
        self.root = root
        self._engines: dict[str, "CypherEngine"] = {}  # noqa: F821
        self._known: set[str] = set()
        if root and os.path.isdir(root):
            # durable shard map: every subdir holding at least one
            # nodes_*.parquet is a tenant
            for d in sorted(os.listdir(root)):
                p = os.path.join(root, d)
                if os.path.isdir(p) and any(
                    f.startswith("nodes_") for f in os.listdir(p)
                ):
                    self._known.add(d)

    # ------------------------------------------------------------ routes
    def list_tenants(self) -> list[str]:
        """All known tenant ids (router.rs get_all_routes)."""
        return sorted(self._known | set(self._engines))

    def has_tenant(self, tenant_id: str) -> bool:
        return tenant_id in self._known or tenant_id in self._engines

    # ------------------------------------------------------------ admin
    def create_tenant(
        self, tenant_id: str, graph: PropertyGraph | None = None,
        persist: bool = False,
    ) -> "CypherEngine":  # noqa: F821
        """Register a tenant (router.rs update_route) with an optional
        initial graph; ``persist=True`` writes the graph's tables under
        the tenant's prefix immediately."""
        if "/" in tenant_id or tenant_id in ("", ".", ".."):
            raise ValueError(f"bad tenant id {tenant_id!r}")
        if self.has_tenant(tenant_id):
            raise ValueError(f"tenant {tenant_id!r} already exists")
        if graph is None:
            graph = PropertyGraph(self.spark, {}, {})
        eng = self._bind(tenant_id, graph)
        if persist:
            self.save(tenant_id)
        self._known.add(tenant_id)
        return eng

    def drop_tenant(self, tenant_id: str, delete_data: bool = False) -> None:
        """Remove a route (router.rs remove_route); ``delete_data``
        also removes the tenant's table prefix."""
        if not self.has_tenant(tenant_id):
            raise TenantNotFound(tenant_id)
        self._engines.pop(tenant_id, None)
        self._known.discard(tenant_id)
        if delete_data and self.root:
            import shutil

            p = os.path.join(self.root, tenant_id)
            if os.path.isdir(p):
                shutil.rmtree(p)

    # ------------------------------------------------------------ route
    def engine(self, tenant_id: str) -> "CypherEngine":  # noqa: F821
        """The tenant's engine (router.rs route) — loaded from its
        table prefix on first access, memoized after."""
        eng = self._engines.get(tenant_id)
        if eng is not None:
            return eng
        if tenant_id not in self._known or not self.root:
            raise TenantNotFound(tenant_id)
        return self._bind(tenant_id, self._load(tenant_id))

    def graph(self, tenant_id: str) -> PropertyGraph:
        return self.engine(tenant_id).graph

    def query(self, tenant_id: str, text: str, params=None):
        """Route one Cypher query to its tenant — the request path the
        reference's proxy forwards per tenant (sharding/proxy.rs)."""
        return self.engine(tenant_id).query(text, params)

    # ------------------------------------------------------------ storage
    def save(self, tenant_id: str) -> None:
        """Persist the tenant's CURRENT graph under its prefix
        (distributed parquet write per table — the 100 TB path).

        The write is STAGED: each table lands in a hidden sibling
        directory first and only replaces the target after the whole
        write succeeds.  A direct ``mode('overwrite')`` to the live
        paths would race the graph's own lineage when the tenant was
        loaded from this prefix (Spark either refuses to overwrite a
        path it is reading from or — when the cycle goes undetected —
        deletes source files mid-read).  After the swap the tenant's
        engine is rebound to fresh scans of the new files, so no live
        frame keeps a plan over deleted paths; the new graph identity
        also invalidates the engine's compiled-plan cache."""
        if not self.root:
            raise ValueError("TenantCatalog has no warehouse root")
        import shutil
        import uuid

        eng = self.engine(tenant_id)
        g = eng.graph
        base = os.path.join(self.root, tenant_id)
        staging = os.path.join(base, f".staging-{uuid.uuid4().hex[:8]}")
        os.makedirs(staging, exist_ok=True)
        try:
            tables = [
                (f"nodes_{label}.parquet", df)
                for label, df in g.nodes.items()
            ] + [
                (f"edges_{etype}.parquet", df)
                for etype, df in g.edges.items()
            ]
            for name, df in tables:
                df.write.mode("overwrite").parquet(
                    os.path.join(staging, name)
                )
            # old files are fully consumed (the staged write above read
            # them); clear stale tables so a label dropped in-session
            # does not resurrect on the next load, then swap
            for f in os.listdir(base):
                if f.startswith(("nodes_", "edges_")):
                    shutil.rmtree(os.path.join(base, f), ignore_errors=True)
            for name, _ in tables:
                os.replace(
                    os.path.join(staging, name), os.path.join(base, name)
                )
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        fresh = self._load(tenant_id)
        # declared endpoint metadata survives the round-trip; at-rest
        # reverse layouts (edges_rev) referenced the replaced files and
        # are rebuilt on demand
        fresh.edge_meta = dict(g.edge_meta)
        eng.graph = fresh

    def _load(self, tenant_id: str) -> PropertyGraph:
        base = os.path.join(self.root, tenant_id)
        nodes: dict = {}
        edges: dict = {}
        for f in sorted(os.listdir(base)):
            path = os.path.join(base, f)
            name = f.removesuffix(".parquet")
            if name.startswith("nodes_"):
                nodes[name.removeprefix("nodes_")] = read_parquet(self.spark, path)[0]
            elif name.startswith("edges_"):
                edges[name.removeprefix("edges_")] = read_parquet(self.spark, path)[0]
        return PropertyGraph(self.spark, nodes, edges)

    def _bind(self, tenant_id: str, graph: PropertyGraph):
        from samyama_graph_spark.cypher.engine import CypherEngine

        eng = CypherEngine(graph)
        self._engines[tenant_id] = eng
        return eng

    # ------------------------------------------------------------ views
    def register_views(self, tenant_id: str) -> None:
        """Expose the tenant's tables as ``{tenant}_{label}_nodes`` /
        ``{tenant}_{type}_edges`` temp views — the ``USE tenant``
        namespace spelled as a prefix (local sessions have one shared
        temp-view namespace; a lakehouse catalog would use databases)."""
        self.engine(tenant_id).graph.register_views(f"{tenant_id}_")
