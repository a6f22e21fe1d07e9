"""PropertyGraph: the engine's data layer.

The reference engine stores nodes in a versioned arena with a label
index, edges as decomposed endpoint/type/property arrays, and a frozen
CSR adjacency (reference: src/graph/store.rs:294-340, :504-536).  In
Spark all of that collapses into columnar DataFrames:

- one **node DataFrame per label** (``id: long`` + typed property
  columns) — the per-label split *is* the label index: a label scan
  becomes a single-table parquet scan with column pruning, and
  Catalyst statistics stay per-label (like the reference's catalog
  triple stats, src/graph/catalog.rs:63-140);
- one **edge DataFrame per edge type** (``src: long, dst: long`` +
  property columns) — the per-type split *is* the edge-type index;
  "CSR adjacency sorted by source" becomes a shuffle/sort on ``src``
  that Catalyst performs for a sort-merge join, or a broadcast when
  the side is dimension-sized.

Node ids are globally unique across labels (loaders offset per-table
key ranges), so edges can reference any node without a label tag.

Multi-label nodes (reference: src/graph/node.rs:107-121) are modelled
by listing the same id under several label tables; the unified view
aggregates labels back into an ``array<string>`` column.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from samyama_graph_spark import lifecycle

# Reserved column names (GraphFrames conventions).
ID = "id"
SRC = "src"
DST = "dst"


def local_string_frame(
    spark: SparkSession, rows: list[tuple], cols: list[str]
) -> DataFrame:
    """Tiny driver-side string frame as a VALUES LocalRelation.

    Catalog/introspection answers (SHOW LABELS, db.schema.visualization,
    SHOW INDEXES, ...) are driver-known lists; building them with
    spark.createDataFrame yields an RDD-backed plan whose collect()
    schedules a real job (~0.4 s floor per action on a warm local
    session), while a SQL VALUES LocalRelation collects without any
    job — the Spark analogue of the reference answering SHOW from its
    in-memory catalog (catalog.rs:63-140)."""
    if not rows:
        return spark.createDataFrame(
            [], ", ".join(f"{c} string" for c in cols)
        )

    def q(v) -> str:
        if v is None:
            return "CAST(NULL AS STRING)"
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"

    values = ", ".join(
        "(" + ", ".join(q(v) for v in r) + ")" for r in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({', '.join(cols)})")


@dataclass
class EdgeMeta:
    """Planner metadata for one edge type: endpoint labels + stats.

    ``pairs`` statically declares the (src_label, dst_label)
    combinations of a multi-source edge type (e.g. IN_NATION fed by
    both Customer and Supplier), so schema introspection never needs a
    data scan to resolve it."""

    src_label: str | None = None
    dst_label: str | None = None
    pairs: tuple[tuple[str, str], ...] | None = None


@dataclass
class PropertyGraph:
    """A property graph as per-label node tables + per-type edge tables.

    ``nodes[label]`` must contain an ``id`` column (long, globally
    unique).  ``edges[edge_type]`` must contain ``src`` and ``dst``
    columns referencing node ids; any other columns are edge
    properties.
    """

    spark: SparkSession
    nodes: dict[str, DataFrame]
    edges: dict[str, DataFrame]
    edge_meta: dict[str, EdgeMeta] = field(default_factory=dict)
    # Optional second physical copy of an edge type laid out for
    # REVERSE traversal (bucketed/sorted by dst — layout.py's
    # ``edges_by_dst`` table): same rows and schema as ``edges[t]``,
    # different clustering.  The planner picks it for <-[:T]- hops so
    # the expansion join is exchange-free on the edge side in both
    # directions — the Spark analogue of the reference's paired
    # out/in CSR adjacency (store.rs:504-536).
    edges_rev: dict[str, DataFrame] = field(default_factory=dict)

    # ---------------------------------------------------------------- labels
    def labels(self) -> list[str]:
        """SHOW LABELS (reference: operator.rs ShowLabelsOperator)."""
        return sorted(self.nodes)

    def edge_types(self) -> list[str]:
        """SHOW RELATIONSHIP TYPES (reference: ShowRelationshipTypesOperator)."""
        return sorted(self.edges)

    def property_keys(self) -> list[str]:
        """SHOW PROPERTY KEYS: union of all non-reserved columns."""
        keys: set[str] = set()
        for df in self.nodes.values():
            keys.update(c for c in df.columns if c != ID)
        for df in self.edges.values():
            keys.update(
                c for c in df.columns
                if c not in (SRC, DST) and not c.startswith("__")
            )
        return sorted(keys)

    def schema_visualization(self) -> DataFrame:
        """db.schema.visualization: distinct (src_label, type, dst_label).

        Edge types whose endpoint label is not statically declared
        (e.g. a type fed by several labels) are resolved from the DATA:
        endpoint ids join a label-lookup frame and the distinct label
        pairs actually present are emitted — the reference scans real
        connectivity the same way (SchemaVisualizationOperator,
        operator.rs:5785)."""
        declared = []
        unresolved = []
        for t, m in sorted(self.edge_meta.items()):
            if m.pairs:
                declared.extend((s, t, d) for s, d in m.pairs)
            elif m.src_label is not None and m.dst_label is not None:
                declared.append((m.src_label, t, m.dst_label))
            else:
                unresolved.append(t)
        out = local_string_frame(
            self.spark, declared, ["src_label", "type", "dst_label"]
        )
        if unresolved and self.nodes:
            lookup = None
            for label, df in self.nodes.items():
                part = df.select(
                    F.col(ID).alias("__lid"), F.lit(label).alias("__label")
                )
                lookup = part if lookup is None else lookup.unionByName(part)
            for t in unresolved:
                e = self.edges[t].select(SRC, DST)
                pairs = (
                    e.join(
                        lookup.withColumnRenamed("__label", "src_label"),
                        e[SRC] == F.col("__lid"),
                    )
                    .drop("__lid")
                    .join(
                        lookup.withColumnRenamed("__label", "dst_label"),
                        F.col(DST) == F.col("__lid"),
                    )
                    .select(
                        "src_label", F.lit(t).alias("type"), "dst_label"
                    )
                    .distinct()
                )
                out = out.unionByName(pairs)
        return out

    def compacted(
        self,
        partitions: int = 8,
        touched: "set[tuple[str, str]] | None" = None,
    ) -> "PropertyGraph":
        """Collapse accumulated write deltas: coalesce each table and
        truncate lineage with a lazy localCheckpoint (materialized by
        the next action).  Interactive write sessions call this every
        few statements; bulk loads never need it.

        It runs no Spark job when the touched tables' plans hold no
        exchange or broadcast: turning a plan into the checkpoint's RDD
        starts every broadcast build in it on the spot (one job each),
        AQE or not.  Literal-path write deltas (unions of VALUES rows,
        and Filter / Project over the previous version,
        cypher/writes.py) hold neither; a frame-path delta holds a join
        against its MATCH frame, whose broadcasts run here.

        ``touched`` (keys ``("n", label)`` / ``("e", edge_type)``)
        restricts checkpointing to the tables writes actually changed
        since the last compaction — untouched tables keep their frame
        identity, so their existing checkpoints/caches carry over and
        no materialization job is spent on them."""

        def c(kind: str, name: str, df: DataFrame) -> DataFrame:
            if touched is not None and (kind, name) not in touched:
                return df
            # unconditional coalesce: it never INCREASES partition
            # count, so no width probe is needed — and probing via
            # df.rdd.getNumPartitions() would force AQE to execute the
            # delta chain's shuffle stages right here
            return df.coalesce(partitions).localCheckpoint(eager=False)

        # AQE OFF while the checkpoints are planned: under AQE,
        # localCheckpoint's plan->RDD conversion EXECUTES every shuffle
        # stage of the delta chain on the spot; with a static plan the
        # shuffles defer to the next action.  Broadcasts do not: their
        # builds start at conversion either way (see the docstring).
        with lifecycle.scope(
            self.spark, {"spark.sql.adaptive.enabled": "false"}
        ):
            return PropertyGraph(
                self.spark,
                {k: c("n", k, v) for k, v in self.nodes.items()},
                {k: c("e", k, v) for k, v in self.edges.items()},
                dict(self.edge_meta),
                # the reverse-adjacency copies are bucketed table
                # reads, not delta chains — carry them as-is (dropping
                # them would silently re-shuffle every reverse hop
                # after compaction)
                dict(self.edges_rev),
            )._carry_stats_from(self)

    # ---------------------------------------------------------------- scans
    def node_df(self, label: str | None = None) -> DataFrame:
        """Node scan.  With a label: one table (partition-pruned scan).

        Without: the unified view — union of all label tables on the
        common-column superset with per-row ``labels`` arrays (the
        reference's full NodeScan, operator.rs:1981).
        """
        if label is not None:
            if label not in self.nodes:
                raise KeyError(f"unknown label {label!r}; have {self.labels()}")
            return self.nodes[label]
        return self.unified_nodes()

    def edge_df(self, edge_type: str | None = None) -> DataFrame:
        """Edge scan by type, or the unified all-types view."""
        if edge_type is not None:
            if edge_type not in self.edges:
                raise KeyError(
                    f"unknown edge type {edge_type!r}; have {self.edge_types()}"
                )
            return self.edges[edge_type]
        return self.unified_edges()

    def unified_nodes(self) -> DataFrame:
        """All nodes: ``id, labels: array<string>, <all property columns>``.

        Built with ``unionByName(allowMissingColumns=True)`` so each
        label contributes its typed columns and others are NULL, then
        grouped by id to merge multi-label rows.  Properties of the
        same name across labels must be union-compatible.
        """
        parts = []
        for label, df in self.nodes.items():
            parts.append(df.withColumn("_label", F.lit(label)))
        if not parts:
            return self.spark.createDataFrame([], "id long, labels array<string>")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        prop_cols = [c for c in out.columns if c not in (ID, "_label")]
        agg = [F.collect_set("_label").alias("labels")] + [
            F.first(c, ignorenulls=True).alias(c) for c in prop_cols
        ]
        return out.groupBy(ID).agg(*agg)

    def unified_edges(self) -> DataFrame:
        """All edges: ``src, dst, type, <property columns>``."""
        parts = []
        for etype, df in self.edges.items():
            parts.append(df.withColumn("type", F.lit(etype)))
        if not parts:
            return self.spark.createDataFrame(
                [], "src long, dst long, type string"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # ------------------------------------------------------------ degrees
    def degrees(
        self, edge_type: str | None = None, direction: str = "out"
    ) -> DataFrame:
        """Degree per node id: ``id, degree``.

        The reference answers degree-shaped aggregations with a
        dedicated adjacency-count operator (ADR-017,
        operator.rs:3985); in Spark the natural plan — a partial-agg
        groupBy on the edge table, no node join — is already that
        fast path.
        """
        e = self.edge_df(edge_type)
        if direction == "out":
            key = SRC
        elif direction == "in":
            key = DST
        elif direction == "both":
            both = e.select(F.col(SRC).alias(ID)).unionAll(
                e.select(F.col(DST).alias(ID))
            )
            return both.groupBy(ID).agg(F.count(F.lit(1)).alias("degree"))
        else:
            raise ValueError(f"direction must be out/in/both, got {direction!r}")
        return e.groupBy(F.col(key).alias(ID)).agg(F.count(F.lit(1)).alias("degree"))

    # ------------------------------------------------------------- counts
    def count_nodes(self, label: str | None = None) -> int:
        """O(metadata) node count — parquet row-group stats make
        ``count()`` on a bare scan a metadata operation (the
        reference's LabelCountOperator, operator.rs:2164)."""
        if label is not None:
            return self.nodes[label].count()
        return sum(df.count() for df in self.nodes.values())

    def count_edges(self, edge_type: str | None = None) -> int:
        if edge_type is not None:
            return self.edges[edge_type].count()
        return sum(df.count() for df in self.edges.values())

    # ----------------------------------------------------- planner stats
    def label_count_est(self, label: str | None = None) -> int:
        """Memoized per-label cardinality ESTIMATE for the pattern
        planner (the reference keeps equivalent triple stats in its
        catalog, src/graph/catalog.rs:63-140).  Graphs built from
        loaded tables (``loaders.tpch_graph``) start with the counts of
        their row-preserving labels taken from the parquet footers;
        any other first use per (graph, label) runs one metadata-count
        job.  ``compacted()`` carries the cache forward, so interactive
        write sessions don't re-count per statement — planner
        estimates tolerate that slight staleness."""
        cache = self.__dict__.setdefault("_count_cache", {})
        key = label if label is not None else "\x00ALL"
        if key not in cache:
            if label is None:
                cache[key] = sum(self.label_count_est(l) for l in self.nodes)
            elif label in self.nodes:
                cache[key] = self.nodes[label].count()
            else:
                cache[key] = 0
        return cache[key]

    def edge_count_est(self, edge_type: str | None = None) -> int:
        """Memoized per-type edge cardinality ESTIMATE for the pattern
        planner (same catalog role as label_count_est; the reference
        keeps per-predicate triple counts, src/graph/catalog.rs:63-140).
        One metadata-count job per (graph, type), carried forward by
        ``compacted()`` like the node cache."""
        cache = self.__dict__.setdefault("_ecount_cache", {})
        key = edge_type if edge_type is not None else "\x00ALL"
        if key not in cache:
            if edge_type is None:
                cache[key] = sum(self.edge_count_est(t) for t in self.edges)
            elif edge_type in self.edges:
                cache[key] = self.edges[edge_type].count()
            else:
                cache[key] = 0
        return cache[key]

    def edge_degree_est(
        self, edge_type: str | None, direction: str = "out"
    ) -> float:
        """Memoized average out-/in-degree ESTIMATE per edge type for
        the pattern planner — the reference's catalog keeps the same
        per-predicate degree statistics (src/graph/catalog.rs:63-140)
        and its cost model multiplies them along the candidate plan
        (cost_model.rs:20-60).  One job per (type): count +
        approx_count_distinct on both endpoints (HLL, no exact
        distinct shuffle).  ``direction='out'`` returns edges per
        distinct src; ``'in'`` edges per distinct dst."""
        cache = self.__dict__.setdefault("_deg_cache", {})
        key = edge_type if edge_type is not None else "\x00ALL"
        if key not in cache:
            try:
                e = self.edge_df(edge_type)
            except KeyError:
                e = None
            if e is None:
                cache[key] = (1.0, 1.0)
            else:
                row = e.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.approx_count_distinct(SRC).alias("ns"),
                    F.approx_count_distinct(DST).alias("nd"),
                ).first()
                n, ns, nd = row["n"], row["ns"], row["nd"]
                cache[key] = (
                    n / max(ns, 1) if n else 1.0,
                    n / max(nd, 1) if n else 1.0,
                )
        out_deg, in_deg = cache[key]
        return out_deg if direction == "out" else in_deg

    def _carry_stats_from(
        self, other: "PropertyGraph", edge_counts: bool = True
    ) -> "PropertyGraph":
        """Copy another graph's stats cache (id-preserving derivations:
        compaction, write deltas, a graph that adds edge types over the
        same node tables).

        ``edge_counts=False`` for derivations that may CHANGE edge
        cardinalities (write deltas): node/degree estimates only steer
        join ordering and tolerate staleness, but ``edge_count_est``
        gates the WCOJ broadcast (a memory-safety decision) — a stale
        low estimate after bulk CREATEs could authorize broadcasting a
        multi-GB adjacency side."""
        # _nodesrc_cache entries validate by frame identity at lookup
        # (compiler._node_source), so carrying them is always safe:
        # untouched labels keep their hit, written labels self-miss
        attrs = ["_count_cache", "_deg_cache", "_nodesrc_cache"]
        if edge_counts:
            attrs.append("_ecount_cache")
        for attr in attrs:
            prior = other.__dict__.get(attr)
            if prior:
                self.__dict__[attr] = dict(prior)
        if set(self.edges) != set(other.edges):
            # the all-types totals cover the other graph's edge types
            for attr in ("_deg_cache", "_ecount_cache"):
                self.__dict__.get(attr, {}).pop("\x00ALL", None)
        return self

    # ------------------------------------------------------------ register
    def register_views(self, prefix: str = "") -> None:
        """Register every table as a temp view for spark.sql access."""
        for label, df in self.nodes.items():
            df.createOrReplaceTempView(f"{prefix}{label.lower()}_nodes")
        for etype, df in self.edges.items():
            df.createOrReplaceTempView(f"{prefix}{etype.lower()}_edges")
