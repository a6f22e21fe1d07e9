"""Write-clause execution: CREATE / MERGE / SET / REMOVE / DELETE.

Reference semantics: CreateNode/CreateEdge/MatchCreateEdge/Merge/
Delete/SetProperty/RemoveProperty operators (operator.rs:5157-7425).
On immutable DataFrames these become copy-on-write graph versions: a
write produces a NEW PropertyGraph whose tables are the old ones plus
union/join/anti-join deltas — the session (CypherEngine) swaps its
graph pointer, so subsequent queries see the mutation (the reference's
MutQueryExecutor equivalent, executor/mod.rs:311-366).

Write keys.  SET / REMOVE / DELETE and MERGE-edge first resolve the
statement's matched key set (node ids, or (src, dst) pairs) on the
driver in one bounded job.  Up to ``lifecycle.LITERAL_KEYS_MAX`` keys
the delta is written as literals over the table's previous version
only: a ``NOT id IN (...)`` Filter or a ``CASE WHEN id IN (...)``
Project, so a table's plan grows by one node per write and never
re-embeds the MATCH frame.  Larger key sets keep the join-based frame
delta, whose plan holds the previous version twice (the table and the
MATCH over it).

Scale note: CREATE deltas are unions of literal rows, never collected;
new-id assignment reads one scalar per session (``next_free_id``).
``PropertyGraph.compacted`` truncates the chain every few writes, and
it runs no Spark job only while every delta is exchange- and
broadcast-free (literal-path deltas are; frame-path ones are not).
"""

from __future__ import annotations

import functools
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from samyama_graph_spark import lifecycle
from samyama_graph_spark.cypher import ast as A
from samyama_graph_spark.cypher.compiler import Compiler, State
from samyama_graph_spark.cypher.expressions import (
    CompileError,
    Scope,
    VarInfo,
    compile_expr,
)
from samyama_graph_spark.graph import EdgeMeta, PropertyGraph

WRITE_CLAUSES = (
    A.CreateClause, A.MergeClause, A.SetClause, A.RemoveClause, A.DeleteClause,
    A.ForeachClause,
)


def has_write_clause(sq: A.SingleQuery) -> bool:
    return any(isinstance(c, WRITE_CLAUSES) for c in sq.clauses)


class WriteExecutor:
    def __init__(
        self,
        graph: PropertyGraph,
        params: dict[str, Any] | None = None,
        id_hint: int | None = None,
    ):
        self.g = graph
        self.params = params or {}
        # next-free-id watermark: the session engine threads it across
        # statements so only the FIRST write scans max(id) per table
        # (one job per label otherwise, every statement)
        self.id_hint = id_hint
        self.nodes = dict(graph.nodes)
        self.edges = dict(graph.edges)
        self.edge_meta = dict(graph.edge_meta)
        # node bindings available to RETURN-after-write
        self._created_binds: dict[str, tuple[str, int]] = {}
        self._merge_binds: dict[str, tuple[str, dict]] = {}
        self.counters = {"nodes_created": 0, "edges_created": 0,
                        "properties_set": 0, "nodes_deleted": 0}
        # statically-unknown delta sizes (frame-bound CREATE / DELETE):
        # counted LAZILY in the summary frame instead of one eager
        # count() job per statement — a 12-statement interactive
        # pipeline otherwise pays the job floor 5-6 extra times, and
        # the summary is often never collected at all
        self._pending_counts: list[tuple[str, DataFrame]] = []
        # per-label node-count deltas with STATICALLY known sizes
        # (literal CREATEs): folded into the carried planner stats so
        # an interactive write session never runs a count job just to
        # anchor the next statement's MATCH.  None = unknown delta
        # (frame-bound CREATE/MERGE/DELETE) — the carried value goes
        # stale, which the planner tolerates by design.
        self._node_delta: dict[str, int | None] = {}
        # which delta each write-key site used ("literal, n keys" or
        # "frame"), in statement order: EXPLAIN prints it
        self.key_paths: list[str] = []

    # ------------------------------------------------------------- entry
    def execute(self, sq: A.SingleQuery) -> tuple[PropertyGraph, DataFrame]:
        compiler = Compiler(self._current_graph(), self.params)
        st = State(None, Scope({}, self.params, graph=compiler.g))
        for clause in sq.clauses:
            # reads must see writes from earlier clauses of this query
            compiler.g = self._current_graph()
            if isinstance(clause, A.MatchClause):
                if clause.optional:
                    compiler._optional_match(st, clause)
                else:
                    compiler._match(st, clause)
            elif isinstance(clause, A.UnwindClause):
                compiler._unwind(st, clause)
            elif isinstance(clause, A.WithClause):
                compiler._project(
                    st, clause.items, clause.distinct, clause.where,
                    clause.order_by, clause.skip, clause.limit, final=False,
                )
            elif isinstance(clause, A.CreateClause):
                for path in clause.paths:
                    self._create_path(st, path)
            elif isinstance(clause, A.MergeClause):
                self._merge(st, clause)
            elif isinstance(clause, A.SetClause):
                self._set(st, clause.items)
            elif isinstance(clause, A.RemoveClause):
                self._remove(st, clause.items)
            elif isinstance(clause, A.DeleteClause):
                self._delete(st, clause)
            elif isinstance(clause, A.ForeachClause):
                self._foreach(st, clause)
            else:
                raise CompileError(f"unsupported clause {type(clause).__name__}")
        g2 = self._current_graph()
        if sq.ret is not None:
            return g2, self._returning(g2, st, sq.ret)
        summary = _literal_row(self.g.spark, dict(self.counters))
        for key, df in self._pending_counts:
            c = df.agg(F.count(F.lit(1)).alias("__c"))
            summary = (
                summary.crossJoin(c)
                .withColumn(key, F.col(key) + F.col("__c"))
                .drop("__c")
            )
        return g2, summary

    def _returning(
        self, g2: PropertyGraph, st: State, ret: A.ReturnClause
    ) -> DataFrame:
        """CREATE/MERGE ... RETURN (reference: writes flow through the
        same projection pipeline, planner.rs:1047-1096).  Bindings come
        from the MATCH frame when present; otherwise from the node vars
        recorded by literal CREATE / MERGE, re-read from the post-write
        graph so ON CREATE SET / new properties are visible."""
        compiler = Compiler(g2, self.params)
        if st.frame is None:
            st = State(None, Scope({}, self.params, graph=g2))
            for var, (label, nid) in self._created_binds.items():
                src = compiler._node_source(label, var).filter(
                    F.col(f"{var}.id") == F.lit(nid)
                )
                st.frame = src if st.frame is None else st.frame.crossJoin(src)
                st.scope.vars[var] = VarInfo("node", var, label)
            for var, (label, props) in self._merge_binds.items():
                src = compiler._node_source(label, var)
                for k, v in props.items():
                    src = src.filter(F.col(f"{var}.{k}") == F.lit(v))
                st.frame = src if st.frame is None else st.frame.crossJoin(src)
                st.scope.vars[var] = VarInfo("node", var, label)
            if st.frame is None:
                raise CompileError(
                    "RETURN after write references no bound variables"
                )
            compiler._refresh_dtypes(st)
        else:
            st.scope.graph = g2
        return compiler._project(
            st, ret.items, ret.distinct, None,
            ret.order_by, ret.skip, ret.limit, final=True,
        )

    def _current_graph(self) -> PropertyGraph:
        # carry the planner stats cache across the write delta —
        # estimates tolerate the slight staleness, and without it every
        # post-write MATCH would re-run label-count jobs per statement
        g = PropertyGraph(
            self.g.spark, self.nodes, self.edges, self.edge_meta
        )._carry_stats_from(self.g, edge_counts=False)
        cache = g.__dict__.setdefault("_count_cache", {})
        for label, d in self._node_delta.items():
            if d is None:
                continue  # unknown delta: stale carried value tolerated
            if label in cache:
                cache[label] += d
            elif label not in self.g.nodes:
                # label born in this session from literal CREATEs only:
                # the delta IS the exact count — seed it so the planner
                # never counts a union-of-literal-rows chain
                cache[label] = d
        cache.pop("\x00ALL", None)  # recomputed from per-label on demand
        return g

    # -------------------------------------------------------------- utils
    def _next_id_base(self) -> int:
        if self.id_hint is None:
            self.id_hint = next_free_id(self.nodes.values())
        return self.id_hint

    def _resolve_keys(
        self, site: str, rows: DataFrame, key: list[str], order: tuple = ()
    ) -> dict[tuple, dict[str, str]] | None:
        """The write's matched key set, read on the driver in ONE
        bounded job (``lifecycle.collect_bounded``).

        Returns key tuple -> the first row in ``key, *order`` order as
        column -> typed SQL literal, skipping keys with a NULL part
        (they match no row).  Returns None when ``rows`` holds more
        than ``lifecycle.LITERAL_KEYS_MAX`` rows or a column type has
        no literal form: the caller then keeps the frame delta."""
        dtypes = {f.name: f.dataType for f in rows.schema.fields}
        bad = [c for c, t in dtypes.items() if not _has_literal_form(t)]
        if bad:
            self.key_paths.append(f"{site}: frame (no literal form: {bad[0]})")
            return None
        got = lifecycle.collect_bounded(rows, [*key, *order])
        if got is None:
            self.key_paths.append(
                f"{site}: frame (> {lifecycle.LITERAL_KEYS_MAX} keys)"
            )
            return None
        first: dict[tuple, dict[str, str]] = {}
        for r in got:
            k = tuple(r[c] for c in key)
            if None not in k and k not in first:
                first[k] = {
                    c: _typed_literal(r[c], t) for c, t in dtypes.items()
                }
        self.key_paths.append(f"{site}: literal, {len(first)} keys")
        return first

    def _literal_props(self, props: dict[str, A.Expr], scope: Scope) -> dict[str, Any]:
        out = {}
        for k, v in props.items():
            try:
                out[k] = _static_value(v, self.params)
            except CompileError:
                out[k] = None  # computed per-row later
        return out

    # ------------------------------------------------------------- create
    def _create_path(self, st: State, path: A.PatternPath) -> None:
        """CREATE a path pattern.

        Literal-only (no frame): one new row per node / edge.  With a
        bound frame: per-frame-row creation for new nodes, edge rows
        between bound endpoints (MatchCreateEdge, operator.rs:6070).
        """
        scope = st.scope
        spark = self.g.spark
        node_ids: dict[int, str] = {}  # position -> id column expr name

        if st.frame is None:
            # pure literal CREATE: assign consecutive ids
            base = self._next_id_base()
            bound_ids: dict[str, int] = {}
            for i, np in enumerate(path.nodes):
                var = np.var
                if var and var in scope.vars:
                    raise CompileError(
                        f"CREATE of bound variable {var} without a frame"
                    )
                label = np.labels[0] if np.labels else None
                if label is None:
                    raise CompileError("CREATE node requires a label")
                props = {
                    k: _static_value(v, self.params)
                    for k, v in np.properties.items()
                }
                nid = base
                base += 1
                row = _literal_row(spark, {"id": nid, **props})
                self._append_nodes(label, row, n=1)
                if var:
                    bound_ids[var] = nid
                    self._created_binds[var] = (label, nid)
                node_ids[i] = nid  # type: ignore[assignment]
            self.id_hint = base
            for i, ep in enumerate(path.edges):
                et = ep.types[0] if ep.types else None
                if et is None:
                    raise CompileError("CREATE edge requires a type")
                src_i, dst_i = (i, i + 1) if ep.direction != "in" else (i + 1, i)
                props = {
                    k: _static_value(v, self.params)
                    for k, v in ep.properties.items()
                }
                row = _literal_row(
                    spark,
                    {"src": node_ids[src_i], "dst": node_ids[dst_i], **props},
                )
                self._append_edges(
                    et,
                    row,
                    n=1,
                    src_label=path.nodes[src_i].labels[0],
                    dst_label=path.nodes[dst_i].labels[0],
                )
            return

        # frame-bound CREATE: edges between bound nodes, plus per-row
        # creation of unbound pattern nodes (CreateNodesAndEdgesOperator,
        # operator.rs:5950): MATCH (c) CREATE (c)-[:R]->(x:L {p: c.q})
        # makes one x per frame row
        frame = st.frame
        pos_var: dict[int, str] = {}
        for i, np in enumerate(path.nodes):
            var = np.var
            if var is not None and var in scope.vars:
                pos_var[i] = var
                continue
            label = np.labels[0] if np.labels else None
            if label is None:
                raise CompileError("CREATE node requires a label")
            var = var or f"__new_{i}"
            pos_var[i] = var
            base = self._next_id_base()
            # contiguous ids from per-partition reserved ranges:
            # monotonically_increasing_id packs (partition << 33) |
            # row-index-within-partition, so the low bits are already a
            # dense per-partition sequence.  A tiny aggregate over
            # #partitions rows yields cumulative offsets — no global
            # window (which would collapse the whole frame into a
            # single task, an OOM/serial bottleneck at bulk-ingest
            # scale).  The mid column is pinned by a localCheckpoint
            # BEFORE the offset read so ids stay stable across reuses.
            frame = frame.withColumn(
                "__mid", F.monotonically_increasing_id()
            ).localCheckpoint(eager=False)
            pid = F.shiftright(F.col("__mid"), 33)
            part_rows = (
                frame.groupBy(pid.alias("__pid"))
                .agg(F.count(F.lit(1)).alias("__n"))
                .collect()  # one job: materializes the checkpoint too
            )
            acc = 0
            offsets: dict[int, int] = {}
            for r in sorted(part_rows, key=lambda r: r["__pid"]):
                offsets[r["__pid"]] = acc
                acc += r["__n"]
            if offsets:
                off_map = F.create_map(
                    *[
                        F.lit(v)
                        for k_off in sorted(offsets.items())
                        for v in k_off
                    ]
                )
                idc = (
                    F.lit(base)
                    + off_map[pid]
                    + F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
                ).cast("long")
            else:  # empty frame: no ids to mint, keep the expression typed
                idc = F.lit(base).cast("long")
            prop_cols = [
                compile_expr(v, scope).alias(k)
                for k, v in np.properties.items()
            ]
            frame = frame.withColumn(
                var, F.struct(idc.alias("id"), *prop_cols)
            ).drop("__mid")
            new_rows = frame.select(
                F.col(f"{var}.id").alias("id"),
                *[F.col(f"{var}.{k}").alias(k) for k in np.properties],
            )
            self._append_nodes(label, new_rows, n=acc)
            self.id_hint = base + acc
            scope.vars[var] = VarInfo("node", var, label)
            st.frame = frame
        for i, ep in enumerate(path.edges):
            et = ep.types[0] if ep.types else None
            if et is None:
                raise CompileError("CREATE edge requires a type")
            lvar = pos_var[i]
            rvar = pos_var[i + 1]
            src, dst = (lvar, rvar) if ep.direction != "in" else (rvar, lvar)
            cols = [
                F.col(f"{src}.id").alias("src"),
                F.col(f"{dst}.id").alias("dst"),
            ]
            for k, v in ep.properties.items():
                cols.append(compile_expr(v, scope).alias(k))
            self._append_edges(
                et,
                frame.select(*cols),
                src_label=scope.vars[src].label,
                dst_label=scope.vars[dst].label,
            )

    def _append_nodes(
        self, label: str, rows: DataFrame, n: int | None = None
    ) -> None:
        if label in self.nodes:
            self.nodes[label] = self.nodes[label].unionByName(
                rows, allowMissingColumns=True
            )
        else:
            self.nodes[label] = rows
        # n is passed when the delta size is statically known (literal
        # CREATE); otherwise the count defers into the lazy summary
        if n is not None:
            self.counters["nodes_created"] += n
            if self._node_delta.get(label, 0) is not None:
                self._node_delta[label] = self._node_delta.get(label, 0) + n
        else:
            self._pending_counts.append(("nodes_created", rows))
            self._node_delta[label] = None

    def _append_edges(
        self,
        etype: str,
        rows: DataFrame,
        n: int | None = None,
        src_label: str | None = None,
        dst_label: str | None = None,
    ) -> None:
        pair_known = src_label is not None and dst_label is not None
        if etype in self.edges:
            edf = self.edges[etype]
            m = self.edge_meta.get(etype)
            if m is not None and (
                m.pairs is not None or m.src_label or m.dst_label
            ):
                # keep the endpoint-label declaration truthful: node ids
                # are only unique per label for session-created nodes
                # (the user's `id` prop wins over the minted one), so
                # DETACH DELETE scopes its edge scrub by these labels.
                if m.pairs is not None:
                    known = set(m.pairs)
                elif m.src_label is not None and m.dst_label is not None:
                    known = {(m.src_label, m.dst_label)}
                else:
                    known = None  # partially known: can't enumerate
                if not pair_known or known is None:
                    self.edge_meta[etype] = EdgeMeta()  # widen: unconstrained
                else:
                    known.add((src_label, dst_label))
                    if len(known) == 1:
                        s, d = next(iter(known))
                        self.edge_meta[etype] = EdgeMeta(s, d)
                    else:
                        self.edge_meta[etype] = EdgeMeta(
                            pairs=tuple(sorted(known))
                        )
                        # Multi-pair type: ids alone can no longer tell
                        # which label an endpoint came from (the DETACH
                        # DELETE collision scenario), so stamp per-row
                        # provenance.  "__"-prefixed columns are hidden
                        # from the query surface (_edge_source,
                        # property_keys).  Backfill the pre-union rows
                        # from the old single-pair declaration when
                        # possible; rows whose provenance is unknowable
                        # stay NULL and scrub conservatively by id.
                        if "__src_label" not in edf.columns:
                            if m.pairs is None:  # was single-pair: exact
                                edf = edf.withColumn(
                                    "__src_label", F.lit(m.src_label)
                                ).withColumn("__dst_label", F.lit(m.dst_label))
                        rows = rows.withColumn(
                            "__src_label", F.lit(src_label)
                        ).withColumn("__dst_label", F.lit(dst_label))
            self.edges[etype] = edf.unionByName(
                rows, allowMissingColumns=True
            )
        else:
            self.edges[etype] = rows
            self.edge_meta[etype] = (
                EdgeMeta(src_label, dst_label) if pair_known else EdgeMeta()
            )
        if n is not None:
            self.counters["edges_created"] += n
        else:
            self._pending_counts.append(("edges_created", rows))

    def _endpoint_label_sets(
        self, etype: str
    ) -> tuple[set[str] | None, set[str] | None]:
        """(possible src labels, possible dst labels) of an edge type,
        None on a side that is not statically known (=> any label)."""
        m = self.edge_meta.get(etype)
        if m is None:
            return None, None
        if m.pairs is not None:
            return {s for s, _ in m.pairs}, {d for _, d in m.pairs}
        return (
            {m.src_label} if m.src_label is not None else None,
            {m.dst_label} if m.dst_label is not None else None,
        )

    # -------------------------------------------------------------- merge
    def _merge(self, st: State, clause: A.MergeClause) -> None:
        path = clause.path
        if len(path.nodes) == 1 and not path.edges:
            self._merge_node(st, path.nodes[0], clause)
            return
        if st.frame is not None and len(path.nodes) == 2 and len(path.edges) == 1:
            self._merge_edge(st, path, clause)
            return
        raise CompileError("MERGE supports single nodes or bound-endpoint edges")

    def _merge_node(self, st: State, np: A.NodePattern, clause: A.MergeClause) -> None:
        label = np.labels[0] if np.labels else None
        if label is None:
            raise CompileError("MERGE node requires a label")
        if not all(
            isinstance(v, (A.Literal, A.Parameter))
            for v in np.properties.values()
        ):
            # property values computed from incoming rows (UNWIND $rows
            # AS r MERGE (n:L {k: r.k}) — the bulk-upsert idiom)
            if st.frame is None:
                raise CompileError(
                    "MERGE with computed properties needs bound rows "
                    "(UNWIND/MATCH/WITH before MERGE)"
                )
            self._merge_node_from_frame(st, np, clause, label)
            return
        scope = st.scope
        props = {
            k: (v.value if isinstance(v, A.Literal) else self.params[v.name])
            for k, v in np.properties.items()
        }
        if np.var:
            self._merge_binds[np.var] = (label, props)
        existing = self.nodes.get(label)
        match_df = None
        if existing is not None:
            cond = None
            for k, v in props.items():
                c = F.col(k) == F.lit(v)
                cond = c if cond is None else (cond & c)
            match_df = existing.filter(cond) if cond is not None else existing
        # LAZY merge — no existence-check job per statement (an
        # interactive fixture build is otherwise one blocking driver
        # round-trip per MERGE):
        #   the ON CREATE literal row survives an anti-join against
        #   the first match, so exactly one branch is live at execution
        #   time.  The minted id is wasted when the node existed — ids
        #   are internal and gaps are fine (same as a rolled-back
        #   sequence).  Created-count defers to the lazy summary.
        # ON MATCH SET resolves the matched ids (one job) to write its
        # literal delta, which also settles which branch is live.
        matched = None
        if match_df is not None and clause.on_match:
            matched = self._apply_set_to_ids(
                label, match_df.select("id"), clause.on_match, scope
            )
            if matched:
                return
        nid = self._next_id_base()
        self.id_hint = nid + 1
        all_props = dict(props)
        for item in clause.on_create:
            v = item.value
            all_props[item.target.key] = (
                v.value if isinstance(v, A.Literal) else self.params[v.name]
            )
        row = _literal_row(self.g.spark, {"id": nid, **all_props})
        lazy = match_df is not None and matched is None
        if lazy:
            row = row.join(
                F.broadcast(
                    match_df.limit(1).select(F.lit(1).alias("__m"))
                ),
                F.lit(True),
                "left_anti",
            )
        self._append_nodes(label, row, n=None if lazy else 1)

    def _merge_node_from_frame(
        self, st: State, np: A.NodePattern, clause: A.MergeClause,
        label: str,
    ) -> None:
        """Set-based MERGE driven by the incoming rows — the bulk
        ingestion idiom (UNWIND $rows AS r MERGE (n:L {k: r.k})); the
        reference's per-record volcano MergeOperator supports this
        implicitly (operator.rs:7304).  Semantics: one merge per
        DISTINCT computed property tuple (null-safe equality, so
        re-running the same rows is idempotent even with NULL keys);
        missing tuples are created once, matched tuples receive ON
        MATCH SET.  ON CREATE / ON MATCH SET values must be static
        (literal or parameter), and the merged variable is not
        bindable by later clauses.

        Scale shape: the match/anti-join is a distributed equi-join on
        the key tuple; the blocking reads are counting the missing
        set (the id watermark must advance by the real delta) and, with
        ON MATCH SET, resolving the matched ids.  Id minting is a
        row_number over that missing DELTA only — fine while deltas are
        bounded; a full-corpus initial load should use CREATE (no
        window) instead."""
        import operator as _op

        from pyspark.sql import Window

        if not np.properties:
            raise CompileError(
                "MERGE with computed properties needs a property map"
            )
        scope = st.scope
        keys = list(np.properties)
        want = st.frame.select(
            *[
                compile_expr(v, scope).alias(k)
                for k, v in np.properties.items()
            ]
        ).distinct()
        existing = self.nodes.get(label)
        missing = want
        if existing is not None and all(k in existing.columns for k in keys):
            w = want.alias("w")
            ex = existing.select(*keys).distinct().alias("e")
            cond = functools.reduce(
                _op.and_,
                [
                    F.col(f"w.{k}").eqNullSafe(F.col(f"e.{k}"))
                    for k in keys
                ],
            )
            missing = w.join(ex, cond, "left_anti")
            if clause.on_match:
                e2 = existing.alias("e")
                cond2 = functools.reduce(
                    _op.and_,
                    [
                        F.col(f"e.{k}").eqNullSafe(F.col(f"w.{k}"))
                        for k in keys
                    ],
                )
                matched = e2.join(w, cond2, "left_semi").select("id")
                self._apply_set_to_ids(label, matched, clause.on_match, scope)
        cnt = missing.count()
        if cnt == 0:
            return
        base = self._next_id_base()
        self.id_hint = base + cnt
        order = Window.orderBy(*[F.col(k).asc_nulls_last() for k in keys])
        rows = missing.withColumn(
            "id", (F.row_number().over(order) + F.lit(base - 1)).cast("long")
        )
        for item in clause.on_create:
            rows = rows.withColumn(
                item.target.key, F.lit(_static_value(item.value, self.params))
            )
        self._append_nodes(
            label,
            rows.select("id", *[c for c in rows.columns if c != "id"]),
            n=cnt,
        )

    def _merge_edge(self, st: State, path: A.PatternPath, clause: A.MergeClause) -> None:
        ep = path.edges[0]
        et = ep.types[0] if ep.types else None
        if et is None:
            raise CompileError("MERGE edge requires a type")
        lvar, rvar = path.nodes[0].var, path.nodes[1].var
        if lvar not in st.scope.vars or rvar not in st.scope.vars:
            raise CompileError("MERGE edge endpoints must be bound")
        src, dst = (lvar, rvar) if ep.direction != "in" else (rvar, lvar)
        labels = dict(
            src_label=st.scope.vars[src].label,
            dst_label=st.scope.vars[dst].label,
        )
        props = {
            k: (v.value if isinstance(v, A.Literal) else self.params[v.name])
            for k, v in ep.properties.items()
        }
        want = st.frame.select(
            F.col(f"{src}.id").alias("src"), F.col(f"{dst}.id").alias("dst")
        ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        existing = self.edges.get(et)
        keyed = self._resolve_keys("MERGE", want, ["src", "dst"])
        if keyed is not None:
            # one existence probe against the edge table, then the
            # missing pairs as one VALUES relation: the edge table's
            # plan gains a Union of literals, not a join against the
            # MATCH frame
            if keyed and existing is not None:
                pairs = ", ".join(
                    f"({k['src']}, {k['dst']})" for k in keyed.values()
                )
                for r in (
                    existing.select("src", "dst")
                    .filter(f"(`src`, `dst`) IN ({pairs})")
                    .collect()
                ):
                    keyed.pop((r["src"], r["dst"]), None)
            if keyed:
                rows = [{"src": s, "dst": d, **props} for s, d in keyed]
                self._append_edges(
                    et,
                    _literal_rows(self.g.spark, ["src", "dst", *props], rows),
                    n=len(keyed),
                    **labels,
                )
            return
        want = want.distinct()
        missing = (
            want if existing is None
            else want.join(existing.select("src", "dst"), ["src", "dst"], "left_anti")
        )
        out = missing.select(F.col("src"), F.col("dst"))
        for k, v in props.items():
            out = out.withColumn(k, F.lit(v))
        self._append_edges(et, out, **labels)

    # ---------------------------------------------------------- set/remove
    def _set(self, st: State, items: list[A.SetItem]) -> None:
        if st.frame is None:
            raise CompileError("SET requires a preceding MATCH")
        by_var: dict[str, list[A.SetItem]] = {}
        for it in items:
            subj = it.target.subject
            if not isinstance(subj, A.Variable):
                raise CompileError("SET target must be var.prop")
            by_var.setdefault(subj.name, []).append(it)
        for var, var_items in by_var.items():
            info = st.scope.vars.get(var)
            if info is None or info.kind != "node" or info.label is None:
                raise CompileError(f"SET target {var} must be a labeled node")
            valnames = [f"__new_{it.target.key}" for it in var_items]
            mapping = dict(zip((it.target.key for it in var_items), valnames))
            sel = [
                F.col(f"{var}.id").alias("id"),
                *[
                    compile_expr(it.value, st.scope).alias(n)
                    for it, n in zip(var_items, valnames)
                ],
            ]
            # several update rows per id (FOREACH): the highest list
            # position wins — sequential-iteration semantics
            foreach = "__foreach_pos" in st.frame.columns
            rows = st.frame.select(*sel, *(["__foreach_pos"] if foreach else []))
            keyed = self._resolve_keys(
                "SET", rows, ["id"],
                (F.col("__foreach_pos").desc(),) if foreach else (),
            )
            if keyed is not None:
                self._apply_literal_updates(info.label, keyed, mapping, rows)
                continue
            if foreach:
                updates = (
                    rows
                    .groupBy("id")
                    .agg(
                        F.max_by(
                            F.struct(*valnames), F.col("__foreach_pos")
                        ).alias("__vals")
                    )
                    .select("id", *[F.col(f"__vals.{n}").alias(n)
                                    for n in valnames])
                )
            else:
                updates = rows.dropDuplicates(["id"])
            self._apply_updates(info.label, updates, mapping)

    def _apply_set_to_ids(self, label, ids, items, scope):
        updates = ids.select("id")
        mapping = {}
        for it in items:
            v = it.value
            val = v.value if isinstance(v, A.Literal) else self.params[v.name]
            updates = updates.withColumn(f"__new_{it.target.key}", F.lit(val))
            mapping[it.target.key] = f"__new_{it.target.key}"
        keyed = self._resolve_keys("SET", updates, ["id"])
        if keyed is not None:
            self._apply_literal_updates(label, keyed, mapping, updates)
        else:
            self._apply_updates(label, updates.dropDuplicates(["id"]), mapping)
        return keyed

    def _apply_literal_updates(
        self, label: str, keyed: dict[tuple, dict[str, str]],
        mapping: dict[str, str], rows: DataFrame,
    ) -> None:
        """The literal form of :meth:`_apply_updates`: ``CASE WHEN id
        IN (keys) THEN <value> ELSE col END`` per set property, where
        the value is one literal, or ``map(key, value, ...)[id]`` when
        the keys carry different values.  Membership in the key set is
        the ``__touched`` test, so SET to NULL and REMOVE overwrite."""
        tbl = self.nodes[label]
        cols = {}
        if keyed:
            ids = ", ".join(k["id"] for k in keyed.values())
            for prop, vcol in mapping.items():
                lits = [k[vcol] for k in keyed.values()]
                val = lits[0] if len(set(lits)) == 1 else (
                    "map(" + ", ".join(
                        f"{k['id']}, {k[vcol]}" for k in keyed.values()
                    ) + ")[`id`]"
                )
                old = _q(prop) if prop in tbl.columns else "NULL"
                cols[prop] = F.expr(
                    f"CASE WHEN `id` IN ({ids}) THEN {val} ELSE {old} END"
                )
        else:  # nothing matched: only the schema change, as the join does
            dtypes = {f.name: f.dataType for f in rows.schema.fields}
            cols = {
                prop: F.expr(_typed_literal(None, dtypes[vcol]))
                for prop, vcol in mapping.items() if prop not in tbl.columns
            }
        if cols:
            self.nodes[label] = tbl.select(
                *[cols[c].alias(c) if c in cols else F.col(c)
                  for c in tbl.columns],
                *[e.alias(p) for p, e in cols.items() if p not in tbl.columns],
            )
        self.counters["properties_set"] += len(mapping)

    def _apply_updates(self, label: str, updates: DataFrame,
                       mapping: dict[str, str]) -> None:
        # __touched distinguishes "row updated to NULL" (REMOVE) from
        # "row not in the update set" — coalesce alone can't.
        tbl = self.nodes[label]
        joined = tbl.join(updates.withColumn("__touched", F.lit(True)), "id", "left")
        cols = []
        for c in tbl.columns:
            if c in mapping:
                cols.append(
                    F.when(F.col("__touched"), F.col(mapping[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            else:
                cols.append(F.col(c))
        for key, newcol in mapping.items():
            if key not in tbl.columns:
                cols.append(F.col(newcol).alias(key))
        self.nodes[label] = joined.select(*cols)
        self.counters["properties_set"] += len(mapping)

    def _remove(self, st: State, items: list[Any]) -> None:
        props = [p for p in items if not isinstance(p, A.RemoveLabelItem)]
        if props:
            self._set(st, [A.SetItem(p, A.Literal(None)) for p in props])
        for it in items:
            if not isinstance(it, A.RemoveLabelItem):
                continue
            # REMOVE n:Label — in the per-label-table model, removing a
            # label is an anti-join delete of the matched ids from that
            # label's table (node rows under other labels are untouched).
            # The reference parses this (ast.rs:521) but its planner
            # drops it; executed properly here.
            info = st.scope.vars.get(it.var)
            if info is None:
                raise CompileError(f"unknown variable {it.var}")
            if it.label not in self.nodes:
                continue  # removing an absent label is a no-op
            ids = st.frame.select(F.col(f"{info.column}.id").alias("id"))
            tbl = self.nodes[it.label]
            keyed = self._resolve_keys("REMOVE", ids, ["id"])
            if keyed is not None:
                if keyed:
                    self.nodes[it.label] = tbl.filter(_not_in("id", keyed))
                continue
            ids = ids.select(F.col("id").alias("__rm")).distinct()
            self.nodes[it.label] = tbl.join(
                ids, tbl["id"] == ids["__rm"], "left_anti"
            )

    # ------------------------------------------------------------- foreach
    def _foreach(self, st: State, clause: A.ForeachClause) -> None:
        """FOREACH (x IN list | SET ...): explode the list per frame
        row, apply the SET items with x bound (ForeachOperator,
        operator.rs:7425).  CREATE inside FOREACH lands with per-row
        node creation."""
        if st.frame is None:
            raise CompileError("FOREACH requires a preceding MATCH/WITH")
        src = compile_expr(clause.source, st.scope)
        # posexplode: the element ORDER drives last-write-wins when
        # several SETs touch the same node (sequential FOREACH
        # semantics, ForeachOperator operator.rs:7425).  A stale
        # __foreach_pos from an enclosing context would make the
        # position reference ambiguous — drop it first (the exploded
        # frame is local to this clause, so nothing downstream needs it).
        base_frame = st.frame
        if "__foreach_pos" in base_frame.columns:
            base_frame = base_frame.drop("__foreach_pos")
        exploded = State(
            base_frame.select(
                "*", F.posexplode(src).alias("__foreach_pos", clause.var)
            ),
            Scope(dict(st.scope.vars), st.scope.params),
        )
        exploded.scope.vars[clause.var] = VarInfo("value", clause.var)
        for upd in clause.updates:
            self._set(exploded, upd.items)

    # -------------------------------------------------------------- delete
    def _delete(self, st: State, clause: A.DeleteClause) -> None:
        if st.frame is None:
            raise CompileError("DELETE requires a preceding MATCH")
        for var in clause.vars:
            info = st.scope.vars.get(var)
            if info is None:
                raise CompileError(f"unknown variable {var}")
            if info.kind == "node":
                if info.label is None:
                    raise CompileError("DELETE of unlabeled nodes unsupported")
                ids = st.frame.select(F.col(f"{var}.id").alias("id"))
                keyed = self._resolve_keys("DELETE", ids, ["id"])
                if keyed is not None:
                    self._delete_literal(info.label, keyed, clause.detach)
                    continue
                ids = ids.distinct()
                self.nodes[info.label] = self.nodes[info.label].join(
                    ids, "id", "left_anti"
                )
                self._pending_counts.append(("nodes_deleted", ids))
                self._node_delta[info.label] = None  # size unknown: stale ok
                if clause.detach:
                    # scrub only edge types whose declared endpoint
                    # labels admit the deleted label: ids are unique
                    # per label (a session CREATE with a user `id`
                    # prop can collide across labels), so an unscoped
                    # scrub would also drop edges of same-id nodes of
                    # OTHER labels.  Multi-pair types carry per-row
                    # hidden __src_label/__dst_label provenance
                    # (_append_edges), so a mixed-label side scrubs
                    # exactly its own label's rows; NULL provenance
                    # (pre-existing rows of declared-multi-pair base
                    # graphs, whose minted ids are globally unique)
                    # scrubs conservatively by id.  Unknown labels
                    # scrub conservatively.
                    for et, edf in list(self.edges.items()):
                        srcs, dsts = self._endpoint_label_sets(et)
                        out = edf
                        if srcs is None or info.label in srcs:
                            cond = out["src"] == ids["id"]
                            if "__src_label" in out.columns:
                                cond = cond & (
                                    out["__src_label"].isNull()
                                    | (out["__src_label"] == F.lit(info.label))
                                )
                            out = out.join(ids, cond, "left_anti")
                        if dsts is None or info.label in dsts:
                            cond = out["dst"] == ids["id"]
                            if "__dst_label" in out.columns:
                                cond = cond & (
                                    out["__dst_label"].isNull()
                                    | (out["__dst_label"] == F.lit(info.label))
                                )
                            out = out.join(ids, cond, "left_anti")
                        if out is not edf:
                            self.edges[et] = out
            elif info.kind == "edge":
                raise CompileError(
                    "DELETE of edge variables lands with edge identity support"
                )

    def _delete_literal(
        self, label: str, keyed: dict[tuple, dict[str, str]], detach: bool
    ) -> None:
        """The literal form of the DELETE anti-joins: a null-safe ``NOT
        id IN (keys)`` Filter on the node table and, for DETACH, one on
        each edge type the frame path would scrub, with the same
        endpoint-label scoping and ``__src_label``/``__dst_label``
        provenance conditions."""
        self.counters["nodes_deleted"] += len(keyed)
        d = self._node_delta.get(label, 0)
        if d is not None:
            self._node_delta[label] = d - len(keyed)
        if not keyed:
            return
        self.nodes[label] = self.nodes[label].filter(_not_in("id", keyed))
        if not detach:
            return
        ids = ", ".join(k["id"] for k in keyed.values())
        for et, edf in list(self.edges.items()):
            hits = []
            for side, admits in zip(("src", "dst"), self._endpoint_label_sets(et)):
                if admits is not None and label not in admits:
                    continue
                hit = f"{_q(side)} IN ({ids})"
                prov = f"__{side}_label"
                if prov in edf.columns:
                    hit += (
                        f" AND ({_q(prov)} IS NULL"
                        f" OR {_q(prov)} = {_sql_literal(label)})"
                    )
                hits.append(f"({hit})")
            if hits:
                self.edges[et] = edf.filter(
                    f"NOT coalesce({' OR '.join(hits)}, false)"
                )


def next_free_id(tables) -> int:
    """The next free node id: 1 + the largest ``id`` over every node
    table, read in ONE job — a top-1 over the union of the id columns,
    which runs per partition with a driver-side merge and no exchange.
    The engine and the write executor both seed their watermark here."""
    ids = [df.select(F.col("id").cast("long").alias("id")) for df in tables]
    if not ids:
        return 1
    top = (
        functools.reduce(DataFrame.unionAll, ids)
        .orderBy(F.col("id").desc_nulls_last())
        .limit(1)
        .collect()
    )
    return int(top[0]["id"]) + 1 if top and top[0]["id"] is not None else 1


def _q(name: str) -> str:
    """Backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _not_in(col: str, keyed: dict[tuple, dict[str, str]]) -> str:
    """Null-safe keep-predicate: a NULL ``col`` survives, as it does a
    left-anti join."""
    ids = ", ".join(k[col] for k in keyed.values())
    return f"NOT coalesce({_q(col)} IN ({ids}), false)"


_LITERAL_TYPES = (
    T.NullType, T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
    T.LongType, T.FloatType, T.DoubleType, T.StringType,
)


def _has_literal_form(dtype: T.DataType) -> bool:
    """Whether :func:`_typed_literal` can write values of ``dtype``."""
    if isinstance(dtype, T.ArrayType):
        return _has_literal_form(dtype.elementType)
    return isinstance(dtype, _LITERAL_TYPES)


def _typed_literal(v: Any, dtype: T.DataType) -> str:
    """SQL text for a collected value that evaluates back to the same
    value AND Spark type, so a literal delta coerces exactly as the
    frame delta it replaces."""
    if isinstance(dtype, T.NullType):
        return "NULL"
    t = dtype.simpleString()
    if v is None:
        return f"CAST(NULL AS {t})"
    if isinstance(dtype, T.ArrayType):
        items = ", ".join(_typed_literal(x, dtype.elementType) for x in v)
        return f"CAST(array({items}) AS {t})"
    if isinstance(dtype, (T.BooleanType, T.LongType, T.DoubleType, T.StringType)):
        return _sql_literal(v)
    return f"CAST({_sql_literal(v)} AS {t})"


def _static_value(e: A.Expr, params: dict[str, Any]) -> Any:
    """Driver-side value of a literal-ish property expression in
    CREATE/MERGE maps (literals, parameters, lists, maps, negation)."""
    if isinstance(e, A.Literal):
        return e.value
    if isinstance(e, A.Parameter):
        return params[e.name]
    if isinstance(e, A.ListLiteral):
        return [_static_value(x, params) for x in e.items]
    if isinstance(e, A.MapLiteral):
        return {k: _static_value(v, params) for k, v in e.entries.items()}
    if isinstance(e, A.UnaryOp) and e.op == "NEG":
        return -_static_value(e.operand, params)
    raise CompileError(
        f"unsupported property expression {type(e).__name__} in CREATE"
    )


def _sql_literal(v: Any) -> str:
    """SQL source text for a driver-side literal value — lets a whole
    literal row (or a VALUES batch of them) reach the JVM in ONE
    ``spark.sql`` round trip instead of 3 py4j calls per column."""
    if v is None:
        return "CAST(NULL AS STRING)"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        # repr round-trips doubles exactly; NaN/inf via typed cast
        if v != v or v in (float("inf"), float("-inf")):
            return f"CAST('{v}' AS DOUBLE)"
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{esc}'"
    if isinstance(v, list):
        if not v:
            return "array()"
        return f"array({', '.join(_sql_literal(x) for x in v)})"
    raise CompileError(f"unsupported literal value {type(v).__name__}")


def _literal_row(spark, cols: dict[str, Any]) -> DataFrame:
    """One-row, one-partition, PURE-JVM literal frame.

    ``createDataFrame([python_tuple])`` backs the frame with a pickled
    Python RDD — every downstream stage that rescans it (joins, unions,
    broadcasts) spins up Python workers, costing seconds per statement
    on the write path.  A ``VALUES`` row is a Catalyst LocalRelation:
    zero Python involvement, one driver round trip for the whole row,
    and collecting it (a write's summary) runs no Spark job — a bare
    ``SELECT <literals>`` scans a parallelized one-row RDD instead,
    one job per collect.
    """
    return _literal_rows(spark, list(cols), [cols])


def _literal_rows(spark, columns: list[str], rows: list[dict]) -> DataFrame:
    """Multi-row literal frame in ONE ``spark.sql`` round trip:
    ``SELECT * FROM VALUES (...), (...) AS t(c1, c2)``.  The batch
    form of :func:`_literal_row` — one LocalRelation for a whole run
    of staged CREATE statements instead of one union layer each.
    Rows may carry different key subsets; a missing value becomes a
    NULL typed from the column's first present value (VALUES must
    agree on a type per position under ANSI coercion)."""
    ctype = {
        c: next(
            (_sql_type(r[c]) for r in rows if r.get(c) is not None),
            "string",
        )
        for c in columns
    }

    def cell(r: dict, c: str) -> str:
        v = r.get(c)
        if v is None:
            return f"CAST(NULL AS {ctype[c]})"
        return _sql_literal(v)

    vals = ", ".join(
        "(" + ", ".join(cell(r, c) for c in columns) + ")" for r in rows
    )
    names = ", ".join(f"`{c}`" for c in columns)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t({names})")


def _sql_type(v: Any) -> str:
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "long"
    if isinstance(v, float):
        return "double"
    if isinstance(v, list):
        inner = _sql_type(v[0]) if v else "string"
        return f"array<{inner}>"
    return "string"
