"""Pattern/clause compiler: AST -> DataFrame plan.

Division of labor (SURVEY.md §3-4): this compiler decides pattern
join order and clause chaining — everything the reference does in
planner.rs (Scan -> Expand -> Filter -> Aggregate -> Sort -> Limit
assembly, planner.rs:1047-1230; ExpandInto insertion,
logical_optimizer.rs:117; semi-join rewrite for EXISTS) — and emits a
declarative DataFrame expression.  Catalyst then owns predicate
pushdown, column pruning, join strategy, and limit pushdown.

Representation: every Cypher variable is one top-level struct column
(nodes: id + properties + _labels; edges: src/dst + properties +
_type), so projection/filter expressions are plain struct-field
accesses and Catalyst's column pruning trims unused fields.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from samyama_graph_spark.cypher import ast as A
from samyama_graph_spark.cypher.expressions import (
    CompileError,
    Scope,
    VarInfo,
    _children as _expr_children,
    collect_aggregates,
    compile_expr,
    expr_name,
    is_aggregate,
)
from samyama_graph_spark.cypher.functions import AGGREGATES, aggregate_fn
from samyama_graph_spark.graph import PropertyGraph


def _expr_var_names(e: A.Expr) -> set[str]:
    """All variable names an expression references (transitively)."""
    out: set[str] = set()
    if isinstance(e, A.Variable):
        out.add(e.name)
    for c in _expr_children(e):
        out |= _expr_var_names(c)
    return out


def _point_lookup(c: A.Expr) -> tuple[A.FunctionCall, A.Expr] | None:
    """``(id_call, value)`` of an ``id(v) = <expr>`` conjunct (either
    order, ``elementId`` too) whose other side is variable-free, else
    None: ``id(a) = a.partner_id`` is a row filter, not a lookup."""
    if isinstance(c, A.BinaryOp) and c.op == "=":
        for side, other in ((c.left, c.right), (c.right, c.left)):
            if (
                isinstance(side, A.FunctionCall)
                and side.name.lower() in ("id", "elementid")
                and not _expr_var_names(other)
            ):
                return side, other
    return None


@dataclass
class State:
    frame: DataFrame | None
    scope: Scope
    anon: int = 0
    # correlated CALL {}: outer-binding columns that must survive every
    # projection and act as implicit grouping keys for aggregates
    carry: list[str] = field(default_factory=list)
    # WHERE conjuncts not yet applied: pushed below expansions as soon
    # as all their variables are bound (reference predicate pushdown,
    # logical_optimizer.rs:24-80)
    pending_where: list = field(default_factory=list)

    def fresh(self, prefix: str) -> str:
        self.anon += 1
        return f"__{prefix}_{self.anon}"


class Compiler:
    def __init__(
        self,
        graph: PropertyGraph,
        params: dict[str, Any] | None = None,
        catalog=None,
        wcoj: bool = True,
    ):
        self.g = graph
        self.params = params or {}
        self.catalog = catalog  # index metadata (vector metrics etc.)
        # worst-case-optimal triangle rewrite (leapfrog.rs:265); off ->
        # cyclic patterns compile to cost-ordered binary joins
        self.wcoj = wcoj
        # max estimated rows per broadcast-resident adjacency side; the
        # default keeps each broadcast under a few hundred MB (two
        # longs + struct overhead per entry)
        self.wcoj_broadcast_limit = 5_000_000
        # planner diagnostics consumed by EXPLAIN (the reference's
        # EXPLAIN reports candidate plans + costs, planner.rs:73,
        # executor/mod.rs:229-260)
        self.plan_trace: list[str] = []

    # ------------------------------------------------------------ entry
    def compile_query(self, q: A.Query) -> DataFrame:
        frames = [self.compile_single(p) for p in q.parts]
        out = frames[0]
        for i, f in enumerate(frames[1:]):
            out = out.unionByName(f)
            if not q.union_all[i]:
                out = out.distinct()
        return out

    def compile_single(self, sq: A.SingleQuery) -> DataFrame:
        return self._compile_single_st(State(None, Scope({}, self.params, graph=self.g)), sq)

    def _compile_single_st(self, st: State, sq: A.SingleQuery) -> DataFrame:
        for clause in sq.clauses:
            if isinstance(clause, A.MatchClause):
                if clause.optional:
                    self._optional_match(st, clause)
                else:
                    self._match(st, clause)
            elif isinstance(clause, A.UnwindClause):
                self._unwind(st, clause)
            elif isinstance(clause, A.WithClause):
                self._project(
                    st, clause.items, clause.distinct, clause.where,
                    clause.order_by, clause.skip, clause.limit, final=False,
                )
            elif isinstance(clause, A.CallClause):
                self._call(st, clause)
            elif isinstance(clause, A.CallSubqueryClause):
                self._call_subquery(st, clause)
            else:
                raise CompileError(f"unsupported clause {type(clause).__name__}")
        if sq.ret is None:
            if st.frame is None:
                raise CompileError("query produced no frame")
            return st.frame
        r = sq.ret
        if r.star:
            items = [
                A.ReturnItem(A.Variable(v), v)
                for v in sorted(st.scope.vars)
                if not v.startswith("__")
            ] + r.items
        else:
            items = r.items
        return self._project(
            st, items, r.distinct, None, r.order_by, r.skip, r.limit, final=True
        )

    # ---------------------------------------------------------- sources
    def _safe_edge_pairs(self, types: list[str]) -> DataFrame:
        """(src, dst) scan over the given edge types; unknown types
        contribute nothing (empty scan, not an error)."""
        parts = []
        for t in types:
            try:
                parts.append(self.g.edge_df(t).select("src", "dst"))
            except KeyError:
                pass
        if not parts:
            return self.g.spark.createDataFrame([], "src long, dst long")
        edges = parts[0]
        for p in parts[1:]:
            edges = edges.unionByName(p)
        return edges

    def _typed_edge_pairs(self, types: list[str]) -> DataFrame:
        """(src, dst, type) scan over the given edge types — the typed
        variant feeds path materialization, where relationship structs
        must carry their type."""
        parts = []
        for t in types:
            try:
                parts.append(
                    self.g.edge_df(t).select(
                        "src", "dst", F.lit(t).alias("type")
                    )
                )
            except KeyError:
                pass
        if not parts:
            return self.g.spark.createDataFrame(
                [], "src long, dst long, type string"
            )
        edges = parts[0]
        for p in parts[1:]:
            edges = edges.unionByName(p)
        return edges

    def _node_source(self, label: str | None, var: str) -> DataFrame:
        """One-struct-column DataFrame for a node variable.

        Memoized on the graph object, validated by the label table's
        frame identity (a write to the label swaps the frame and the
        entry self-invalidates; ``_carry_stats_from`` copies the cache
        across versions so untouched labels keep their hit).  The
        struct-packing select costs ~3 py4j round trips per column —
        ~40 ms per call on a wide table, paid once per (label, var)
        instead of once per statement in interactive write sessions."""
        if label is not None:
            cache = self.g.__dict__.setdefault("_nodesrc_cache", {})
            cur = self.g.nodes.get(label)
            hit = cache.get((label, var))
            if hit is not None and hit[0] is cur and cur is not None:
                return hit[1]
            df = cur
            if df is None:
                # unknown label matches nothing (reference label_index
                # miss -> empty scan, operator.rs:1981), not an error
                df = self.g.spark.createDataFrame([], "id long")
            fields = [F.col(c).alias(c) for c in df.columns]
            fields.append(F.array(F.lit(label)).alias("_labels"))
            out = df.select(F.struct(*fields).alias(var))
            if cur is not None:
                cache[(label, var)] = (cur, out)
            return out
        # the unified (label-less) source depends on EVERY table's
        # identity — not worth a composite validator; built per call
        df = self.g.unified_nodes()
        fields = [
            F.col(c).alias(c) for c in df.columns if c != "labels"
        ]
        fields.append(F.col("labels").alias("_labels"))
        return df.select(F.struct(*fields).alias(var))

    def _edge_source(self, types: list[str], var: str, direction: str) -> DataFrame:
        """One-struct-column edge DataFrame, pre-oriented src->dst in
        traversal direction ('both' = union of both orientations).

        Reverse hops prefer the by-dst physical copy when the graph
        carries one (``edges_rev``, layout.py): same rows, clustered on
        the key the join probes — exchange-free expansion both ways,
        like the reference's paired out/in adjacency (store.rs:504-536).
        """
        if types:
            parts = []
            for t in types:
                rev = self.g.edges_rev.get(t) if direction == "in" else None
                if rev is not None:
                    self.plan_trace.append(
                        f"edge {t}: reverse adjacency (by-dst copy)"
                    )
                    df = rev
                else:
                    try:
                        df = self.g.edge_df(t)
                    except KeyError:
                        # unknown edge type matches nothing (empty scan)
                        df = self.g.spark.createDataFrame(
                            [], "src long, dst long"
                        )
                parts.append(df.withColumn("_type", F.lit(t)))
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p, allowMissingColumns=True)
        else:
            df = self.g.unified_edges().withColumnRenamed("type", "_type")
        # "__"-prefixed columns are engine-internal (e.g. the
        # __src_label/__dst_label DETACH-DELETE provenance on
        # multi-pair edge types, writes.py) — never query-visible.
        cols = [c for c in df.columns if not c.startswith("__")]
        fwd = F.struct(*[F.col(c).alias(c) for c in cols])
        if direction == "out":
            oriented = df.select(fwd.alias(var))
        elif direction == "in":
            swapped = F.struct(
                *[
                    F.col("dst").alias("src") if c == "src"
                    else F.col("src").alias("dst") if c == "dst"
                    else F.col(c).alias(c)
                    for c in cols
                ]
            )
            oriented = df.select(swapped.alias(var))
        else:  # both
            swapped = F.struct(
                *[
                    F.col("dst").alias("src") if c == "src"
                    else F.col("src").alias("dst") if c == "dst"
                    else F.col(c).alias(c)
                    for c in cols
                ]
            )
            oriented = df.select(fwd.alias(var)).unionByName(
                df.select(swapped.alias(var))
            )
        return oriented

    # ------------------------------------------------------------ types
    def _refresh_dtypes(self, st: State) -> None:
        """Copy the live frame's Catalyst-analyzed column types onto the
        scope's VarInfos, so the static typer (integer division, size on
        strings) sees what Spark sees."""
        if st.frame is None:
            return
        types = {f.name: f.dataType for f in st.frame.schema.fields}
        for info in st.scope.vars.values():
            if info.column in types:
                info.dtype = types[info.column]

    # ------------------------------------------------------------ match
    def _match(self, st: State, clause: A.MatchClause) -> None:
        """MATCH with predicate pushdown: WHERE conjuncts apply as soon
        as every variable they mention is bound — BELOW later pattern
        joins and, critically, below var-length / shortestPath BFS
        (``WHERE id(c) <= k`` prunes the start set before the traversal
        instead of filtering its output).  Subquery-bearing conjuncts
        (EXISTS{} etc.) keep their original post-pattern placement.
        Mirrors logical_optimizer.rs:24-80.
        """
        pushable: list[A.Expr] = []
        deferred: list[A.Expr] = []
        if clause.where is not None:
            for c in self._split_conjuncts(clause.where):
                subs: list[A.Expr] = []
                self._collect_subqueries(c, subs)
                (deferred if subs else pushable).append(c)
        st.pending_where = st.pending_where + pushable
        for path in self._order_paths(st, clause.paths):
            self._add_path(st, path)
            self._apply_ready_predicates(st)
        # anything still pending references vars this MATCH never bound
        # -> surface the compile error via the normal path
        leftover = st.pending_where + deferred
        st.pending_where = []
        for c in leftover:
            self._apply_where(st, c)

    def _apply_ready_predicates(self, st: State) -> None:
        """Filter by every pending WHERE conjunct whose variables are
        all bound in the current scope."""
        if not st.pending_where or st.frame is None:
            return
        ready, waiting = [], []
        for c in st.pending_where:
            vars_ = _expr_var_names(c)
            (ready if vars_ <= set(st.scope.vars) else waiting).append(c)
        st.pending_where = waiting
        if ready:
            self._refresh_dtypes(st)
            cond = None
            for c in ready:
                col = compile_expr(c, st.scope)
                cond = col if cond is None else (cond & col)
            st.frame = st.frame.filter(cond)

    def _bind_node(self, st: State, np: A.NodePattern) -> str:
        """Ensure the node pattern's variable is bound; returns var name."""
        var = np.var or st.fresh("n")
        if var in st.scope.vars:
            self._check_rebind(st, var, np)
            return var
        src = self._node_source(np.labels[0] if np.labels else None, var)
        st.frame = src if st.frame is None else st.frame.crossJoin(src)
        st.scope.vars[var] = VarInfo(
            "node", var, np.labels[0] if np.labels else None
        )
        self._inline_props(st, var, np.properties)
        if len(np.labels) > 1:
            for extra in np.labels[1:]:
                try:
                    ids = self.g.node_df(extra).select(F.col("id").alias("__xid"))
                except KeyError:
                    ids = self.g.spark.createDataFrame([], "__xid long")
                st.frame = st.frame.join(
                    ids, F.col(f"{var}.id") == F.col("__xid"), "left_semi"
                )
        return var

    def _check_rebind(self, st: State, var: str, np: A.NodePattern) -> None:
        if np.labels:
            info = st.scope.vars[var]
            if info.label and info.label not in np.labels:
                raise CompileError(
                    f"variable {var} re-labeled {info.label} -> {np.labels}"
                )
            # a re-occurrence may CARRY labels the first binding didn't
            # (e.g. MATCH (x)-[:E]->(y), (x:B) — or after cost-based
            # path reordering): enforce membership with a semi-join per
            # un-guaranteed label instead of silently dropping the
            # constraint.  Labels already enforced for this variable
            # are remembered so a third occurrence doesn't stack a
            # duplicate join.  (info.label stays as-bound: labels(x)
            # must keep reporting the node's REAL label set, not the
            # constraint.)
            checked = getattr(info, "checked_labels", None)
            if checked is None:
                checked = set()
                info.checked_labels = checked
            for lbl in np.labels:
                if lbl == info.label or lbl in checked:
                    continue
                checked.add(lbl)
                try:
                    ids = self.g.node_df(lbl).select(
                        F.col("id").alias("__xid")
                    )
                except KeyError:
                    ids = self.g.spark.createDataFrame([], "__xid long")
                st.frame = st.frame.join(
                    ids, F.col(f"{var}.id") == F.col("__xid"), "left_semi"
                )
        self._inline_props(st, var, np.properties)

    def _inline_props(self, st: State, var: str, props: dict[str, A.Expr]) -> None:
        for k, v in props.items():
            st.frame = st.frame.filter(
                F.col(f"{var}.{k}") == compile_expr(v, st.scope)
            )

    def _add_path(self, st: State, path: A.PatternPath) -> None:
        if path.shortest is not None:
            self._shortest_path(st, path)
            return
        if self._try_wcoj_triangle(st, path):
            return
        # anchor selection may split the chain at an interior node (two
        # segments sharing the anchor variable) — compile each in turn
        for seg in self._orient_path(st, path):
            self._compile_chain(st, seg)

    def _try_wcoj_triangle(self, st: State, path: A.PatternPath) -> bool:
        """Worst-case-optimal plan for single-path triangle patterns
        ``(a)-[:R]->(b)-[:S]->(c)-[:T]->(a)`` (any per-edge direction).

        The binary-join plan materializes and shuffles every wedge
        (open two-path) before the closing filter — the classic
        intermediate-result blowup WCOJ exists to avoid; the reference
        runs these through a LeapFrog TrieJoin (leapfrog.rs:265).  Here
        the closing intersection is computed with grouped adjacency
        arrays probed against a per-vertex hash map inside whole-stage
        codegen (operators/wcoj.py), so shuffled volume is bounded by
        distinct edge pairs + output.

        Applies only when the rewrite is provably equivalent to the
        binary plan it replaces AND enumeration is the right strategy —
        all three edges anonymous single-hop without inline properties,
        node variables distinct, not yet bound, and property-free (an
        inline property marks a selective anchor better served by the
        anchored binary expansion), no named path — and falls back
        silently otherwise.
        Exact multiset parity: multi-edge multiplicity is restored
        multiplicatively (cnt1*cnt2*cnt3 per binding), matching the
        one-row-per-edge-combination semantics of the join plan.
        """
        if not self.wcoj:
            return False
        if path.shortest is not None or path.path_var is not None:
            return False
        if len(path.edges) != 3:
            return False
        for ep in path.edges:
            if ep.min_hops is not None or ep.var is not None or ep.properties:
                return False
        a = path.nodes[0].var
        if a is None or path.nodes[3].var != a:
            return False
        closing = path.nodes[3]
        if closing.labels or closing.properties:
            return False
        names = [a, path.nodes[1].var, path.nodes[2].var]
        concrete = [n for n in names if n is not None]
        if len(set(concrete)) != len(concrete):
            return False
        if any(n in st.scope.vars for n in concrete):
            # a bound anchor makes the binary expansion cheap (and the
            # rebind/label-recheck machinery lives on that path)
            return False
        node_pats = list(path.nodes[:3])
        if any(len(np.labels) > 1 for np in node_pats):
            return False
        # inline properties signal a SELECTIVE anchor: the binary plan
        # filters that node's scan to a handful of rows before any
        # expansion, while the intersection route would enumerate every
        # triangle first and filter after — a point query paying
        # whole-graph cost.  Let the anchored binary plan have these.
        if any(np_.properties for np_ in node_pats):
            return False
        # the intersection plan keeps the adjacency index RESIDENT
        # (broadcast) — the LFTJ execution model.  triangle_intersection
        # is rotation-symmetric, so rotate the cycle to stream the
        # LARGEST edge and broadcast the other two; if either index
        # side still exceeds the budget, shipping arrays through a
        # shuffle join would move wedge-order bytes (worse than binary
        # joins; see operators/wcoj.py), so fall back to the
        # cost-ordered binary plan and let AQE pick join strategies.
        ests = []
        for ep in path.edges:
            if ep.types:
                est = sum(self.g.edge_count_est(t) for t in ep.types)
            else:
                est = self.g.edge_count_est(None)
            if ep.direction == "both":
                est *= 2
            ests.append(est)
        r = max(range(3), key=lambda i: ests[i])
        worst = max(ests[(r + 1) % 3], ests[(r + 2) % 3])
        if worst > self.wcoj_broadcast_limit:
            self.plan_trace.append(
                "triangle: intersection index side "
                f"~{worst} rows exceeds wcoj_broadcast_limit "
                f"{self.wcoj_broadcast_limit} -> binary joins"
            )
            return False
        order = [r, (r + 1) % 3, (r + 2) % 3]

        from samyama_graph_spark.operators import wcoj

        vars_ = [
            names[0],
            names[1] or st.fresh("n"),
            names[2] or st.fresh("n"),
        ]

        def _label_ids(np_: A.NodePattern) -> DataFrame | None:
            if not np_.labels:
                return None
            try:
                return self.g.node_df(np_.labels[0]).select(
                    F.col("id").alias("__lid")
                )
            except KeyError:
                return self.g.spark.createDataFrame([], "__lid long")

        idsets = [_label_ids(np_) for np_ in node_pats]
        pairs: list[DataFrame] = []
        for i, ep in enumerate(path.edges):
            esrc = self._edge_source(ep.types, "__w", ep.direction)
            p = wcoj.pair_counts(
                esrc.select(
                    F.col("__w.src").alias("src"), F.col("__w.dst").alias("dst")
                )
            )
            # label pruning BEFORE the adjacency aggregation: semi-join
            # each endpoint against its label's id set so the collected
            # arrays only hold vertices that can participate
            if idsets[i] is not None:
                p = p.join(idsets[i], F.col("u") == F.col("__lid"), "left_semi")
            j = (i + 1) % 3
            if idsets[j] is not None:
                p = p.join(idsets[j], F.col("v") == F.col("__lid"), "left_semi")
            pairs.append(p)

        tri = wcoj.expand_multiplicity(
            wcoj.triangle_intersection(
                pairs[order[0]], pairs[order[1]], pairs[order[2]]
            )
        )
        # triangle_intersection's (a, b, c) follow the ROTATED cycle:
        # its column k binds pattern node order[k]
        colmap = {order[k]: c for k, c in enumerate("abc")}
        tri = tri.select(
            *[F.col(colmap[j]).alias(f"__w{j}") for j in range(3)]
        )
        for j, (var, np_) in enumerate(zip(vars_, node_pats)):
            label = np_.labels[0] if np_.labels else None
            nsrc = self._node_source(label, var)
            tri = tri.join(nsrc, F.col(f"{var}.id") == F.col(f"__w{j}"))
        tri = tri.drop("__w0", "__w1", "__w2")
        st.frame = tri if st.frame is None else st.frame.crossJoin(tri)
        for var, np_ in zip(vars_, node_pats):
            st.scope.vars[var] = VarInfo(
                "node", var, np_.labels[0] if np_.labels else None
            )
        self.plan_trace.append(
            f"path {vars_[0]}-{vars_[1]}-{vars_[2]}-{vars_[0]}: "
            "worst-case-optimal intersection join (leapfrog.rs:265) — "
            "wedges never materialized"
        )
        return True

    def _compile_chain(self, st: State, path: A.PatternPath) -> None:
        node_vars: list[str] = []
        edge_vars: list[str] = []
        want_path = path.path_var is not None
        # per-segment array fragments for named-path assembly:
        # each entry yields (nodes-array-expr, rels-array-expr, hops-expr)
        node_arrs: list = []
        rel_arrs: list = []
        hop_exprs: list = []
        vl_temp_cols: list[str] = []
        left = self._bind_node(st, path.nodes[0])
        node_vars.append(left)
        if want_path:
            node_arrs.append(F.array(F.col(f"{left}.id")))
        for i, ep in enumerate(path.edges):
            right_np = path.nodes[i + 1]
            if ep.min_hops is not None:
                left, vlinfo = self._var_length_hop(
                    st, left, ep, right_np, want_path=want_path
                )
                node_vars.append(left)
                if want_path:
                    ncol, rcol, hcol = vlinfo
                    # the var segment's node list includes its start
                    # (already counted) — contribute elements 2..end
                    node_arrs.append(
                        F.slice(
                            F.col(ncol),
                            F.lit(2),
                            F.greatest(F.size(ncol) - 1, F.lit(0)),
                        )
                    )
                    rel_arrs.append(F.col(rcol))
                    hop_exprs.append(F.col(hcol))
                    vl_temp_cols += [ncol, rcol, hcol]
                continue
            evar = ep.var or st.fresh("e")
            if evar in st.scope.vars:
                raise CompileError(f"edge variable {evar} bound twice")
            esrc = self._edge_source(ep.types, evar, ep.direction)
            # Cycle-closing hop (ExpandInto ahead: the right endpoint is
            # already bound): under the broadcast budget, pin the edge
            # side as a resident hash table so the existence check is a
            # streamed BroadcastHashJoin — the k-cycle cousin of the
            # triangle WCOJ route (wedge-equivalents probe in place,
            # never reshuffled on the closing key).  A hint only; above
            # budget the join strategy stays AQE's call.
            if right_np.var is not None and right_np.var in st.scope.vars:
                # consult the estimate only on a CACHE HIT: unlike the
                # triangle rewrite (which needs the bound to be safe),
                # this is a pure hint, and computing a fresh count at
                # compile time would run a real job on layered
                # post-write graphs.  ANALYZE / any prior WCOJ compile
                # warms the cache; cold engines just leave AQE to it.
                cache = self.g.__dict__.get("_ecount_cache", {})
                keys = ep.types if ep.types else ["\x00ALL"]
                if all(k in cache for k in keys):
                    est = sum(cache[k] for k in keys)
                else:
                    est = None
                if est is not None and ep.direction == "both":
                    est *= 2
                if est is not None and est <= self.wcoj_broadcast_limit:
                    esrc = F.broadcast(esrc)
                    self.plan_trace.append(
                        f"edge {evar}: cycle-closing broadcast "
                        f"(~{est} rows resident) — closing existence "
                        "check streams, no reshuffle"
                    )
            st.frame = st.frame.join(
                esrc, F.col(f"{left}.id") == F.col(f"{evar}.src")
            )
            st.scope.vars[evar] = VarInfo(
                "edge", evar, ep.types[0] if len(ep.types) == 1 else None
            )
            self._inline_props(st, evar, ep.properties)
            rvar = right_np.var or st.fresh("n")
            if rvar in st.scope.vars:
                # ExpandInto: both endpoints bound -> existence predicate
                self._check_rebind(st, rvar, right_np)
                st.frame = st.frame.filter(
                    F.col(f"{evar}.dst") == F.col(f"{rvar}.id")
                )
            else:
                nsrc = self._node_source(
                    right_np.labels[0] if right_np.labels else None, rvar
                )
                st.frame = st.frame.join(
                    nsrc, F.col(f"{evar}.dst") == F.col(f"{rvar}.id")
                )
                st.scope.vars[rvar] = VarInfo(
                    "node", rvar, right_np.labels[0] if right_np.labels else None
                )
                self._inline_props(st, rvar, right_np.properties)
            edge_vars.append(evar)
            node_vars.append(rvar)
            if want_path:
                rel_arrs.append(
                    F.array(
                        F.struct(
                            F.col(f"{evar}.src").cast("long").alias("src"),
                            F.col(f"{evar}.dst").cast("long").alias("dst"),
                            F.col(f"{evar}._type").alias("type"),
                        )
                    )
                )
                node_arrs.append(F.array(F.col(f"{rvar}.id")))
            left = rvar
        if want_path:
            # named path: Value::Path {nodes, edges} (record.rs:86-89)
            # as a struct of id/edge arrays; var-length segments splice
            # their materialized BFS path in
            pvar = path.path_var
            n_fixed = len(edge_vars)
            hops = F.lit(n_fixed)
            for h in hop_exprs:
                hops = hops + h
            rels = (
                F.concat(*rel_arrs)
                if rel_arrs
                else F.array().cast(
                    "array<struct<src:bigint,dst:bigint,type:string>>"
                )
            )
            st.frame = st.frame.withColumn(
                pvar,
                F.struct(
                    F.concat(*node_arrs).alias("nodes"),
                    rels.alias("rels"),
                    hops.cast("int").alias("hops"),
                ),
            )
            if vl_temp_cols:
                st.frame = st.frame.drop(*vl_temp_cols)
            st.scope.vars[pvar] = VarInfo("path", pvar)

    # ------------------------------------------------- anchor selection
    def _order_paths(
        self, st: State, paths: list[A.PatternPath]
    ) -> list[A.PatternPath]:
        """Greedy path ordering inside one MATCH: start with the path
        whose cheapest endpoint has the lowest estimated cardinality,
        then repeatedly take the cheapest path CONNECTED to the
        already-bound variables (avoiding cartesian products), falling
        back to the cheapest remaining when none connects — the greedy
        BFS over the pattern graph that the reference's enumerator
        ranks exhaustively (plan_enumerator.rs:17-64).  Paths in one
        MATCH are conjunctive, so any order is semantically equal;
        inline properties that reference other variables pin the
        syntactic order (a later path may bind what an earlier inline
        map reads)."""
        if len(paths) < 2:
            return paths
        for p in paths:
            if p.shortest is not None:
                return paths
            for pat in [*p.nodes, *p.edges]:
                for v in pat.properties.values():
                    if _expr_var_names(v):
                        return paths

        def path_vars(p: A.PatternPath) -> set[str]:
            out = {n.var for n in p.nodes if n.var}
            out |= {e.var for e in p.edges if e.var}
            if p.path_var:
                out.add(p.path_var)
            return out

        def path_cost(p: A.PatternPath, bound: set[str]) -> float:
            """Expected work to expand the whole path from its cheaper
            endpoint: anchor scan cardinality TIMES the cumulative edge
            fan-out (_chain_work).  Edge selectivity matters for cyclic
            patterns: when several candidate paths connect to the bound
            set (both endpoints cost ~1), the most selective edge must
            lead so the smallest intermediate result comes first — the
            binary-join mitigation of the WCOJ gap (leapfrog.rs:265
            orders by the same per-level cardinality principle)."""
            has_var = any(
                ep.min_hops is not None for ep in p.edges
            )  # var-length segments are costed by their first hop only
            c0 = (
                1.0
                if (p.nodes[0].var is not None and p.nodes[0].var in bound)
                else self._anchor_cost(st, p.nodes[0])
            )
            c1 = (
                1.0
                if (p.nodes[-1].var is not None and p.nodes[-1].var in bound)
                else self._anchor_cost(st, p.nodes[-1])
            )
            if has_var or not p.edges:
                return min(c0, c1)
            fwd = self._chain_work(st, p, 0, c0)
            rev = self._chain_work(st, p, len(p.nodes) - 1, c1)
            return min(fwd, rev)

        remaining = list(paths)
        ordered: list[A.PatternPath] = []
        bound: set[str] = set(st.scope.vars)
        while remaining:
            connected = [
                p for p in remaining if bound and (path_vars(p) & bound)
            ]
            pool = connected or remaining
            nxt = min(pool, key=lambda p: path_cost(p, bound))
            remaining.remove(nxt)
            ordered.append(nxt)
            bound |= path_vars(nxt)
        if ordered != paths:
            self.plan_trace.append(
                "match paths reordered: "
                + " | ".join(
                    "-".join(n.var or "()" for n in p.nodes) for p in ordered
                )
            )
        return ordered

    def _orient_path(
        self, st: State, path: A.PatternPath
    ) -> list[A.PatternPath]:
        """Cardinality-based start-node (anchor) selection over EVERY
        pattern node.

        The compiler expands a pattern chain left-to-right, so the
        anchor node's scan bounds every intermediate result.  Each
        pattern node is costed as a start candidate, mirroring the
        reference's plan enumeration (plan_enumerator.rs:17-64 ranks up
        to 64 candidates starting from ANY pattern node with the
        multiplicative cost model of cost_model.rs:20-60 over catalog
        stats, catalog.rs:63-140).  Outcomes:

        - leftmost endpoint wins -> keep the chain as written;
        - rightmost endpoint wins (2x hysteresis) -> reverse the chain;
        - an INTERIOR node wins (2x hysteresis over both endpoints) ->
          split the chain at it into two segments that share the anchor
          variable: ``m <-...- a`` (reversed prefix) then ``m -...-> b``
          — e.g. ``(a:Big)-[:R1]->(m {k:v})-[:R2]->(b:Big)`` anchors at
          ``m``.  Conjunctive segments joined on the shared variable
          are exactly the original chain's semantics.

        Catalyst/AQE handle the relational re-ordering below this;
        anchor choice is the part that is OUR job (SURVEY §4).

        Bound endpoints win outright (expanding from an already-bound
        variable is free).  Re-orienting swaps the src/dst fields
        inside edge structs — safe only when no edge variable is
        user-visible and no named path is being materialized, so those
        paths keep their syntactic order.
        """
        def _pname(np: A.NodePattern) -> str:
            return np.var or (f":{np.labels[0]}" if np.labels else "()")

        desc = "-".join(_pname(n) for n in path.nodes)
        if not path.edges or path.path_var is not None:
            return [path]
        if any(ep.var is not None for ep in path.edges):
            self.plan_trace.append(
                f"path {desc}: syntactic order (edge variable pins "
                f"traversal orientation)"
            )
            return [path]
        # inline property VALUES that reference other variables pin the
        # binding order (e.g. (a)-[:R]->(b {k: a.q})) — keep it
        for pat in [*path.nodes, *path.edges]:
            for v in pat.properties.values():
                if _expr_var_names(v):
                    self.plan_trace.append(
                        f"path {desc}: syntactic order (inline property "
                        f"references another variable)"
                    )
                    return [path]
        first, last = path.nodes[0], path.nodes[-1]
        first_bound = first.var is not None and first.var in st.scope.vars
        last_bound = last.var is not None and last.var in st.scope.vars
        if first_bound:
            self.plan_trace.append(
                f"path {desc}: anchor {_pname(first)} (already bound)"
            )
            return [path]
        if last_bound:
            self.plan_trace.append(
                f"path {desc}: anchor {_pname(last)} (already bound) "
                f"-> reversed"
            )
            return [self._reversed_path(path)]
        # an interior node already bound by an earlier path/clause:
        # splitting there expands outward from bound rows for free
        for i in range(1, len(path.nodes) - 1):
            np_i = path.nodes[i]
            if np_i.var is not None and np_i.var in st.scope.vars:
                self.plan_trace.append(
                    f"path {desc}: anchor {_pname(np_i)} (already bound, "
                    f"interior) -> split"
                )
                return self._split_at(st, path, i)
        node_costs = [self._anchor_cost(st, np) for np in path.nodes]
        if len(path.nodes) == 2:
            # single hop: endpoint scan cost decides (degree stats add
            # nothing — both orders do the same one join)
            costs = node_costs
        else:
            # multi-hop: expected cumulative frontier cardinality
            # expanding outward from each candidate anchor — scan cost
            # times the per-hop avg-degree product, the reference's
            # multiplicative cost model over catalog degree stats
            # (cost_model.rs:20-60, catalog.rs:63-140)
            costs = [
                self._chain_work(st, path, i, node_costs[i])
                for i in range(len(path.nodes))
            ]
        cost_f, cost_l = costs[0], costs[-1]
        interior = range(1, len(path.nodes) - 1)
        best_i = min(interior, key=lambda i: costs[i], default=None)
        cand_desc = " ".join(
            f"{_pname(n)}={c:.1f}" for n, c in zip(path.nodes, costs)
        )
        # Hysteresis: only move the anchor on a clear win so near-ties
        # keep the user's syntactic order (stable plans, stable tests).
        # Interior splits demand 2x.  Endpoint reversal on multi-hop
        # chains uses 1.2x: the cumulative-work model's endpoint
        # asymmetry is structurally bounded below 2x (the final joined
        # frontier is identical from either end — only the intermediate
        # frontiers differ), so a 2x bar could never act on the degree
        # statistics at all.
        if best_i is not None and costs[best_i] < 0.5 * min(cost_f, cost_l):
            self.plan_trace.append(
                f"path {desc}: candidates {cand_desc} -> anchor "
                f"{_pname(path.nodes[best_i])} (interior split)"
            )
            return self._split_at(st, path, best_i)
        rev_bar = 0.5 if len(path.nodes) == 2 else 1.0 / 1.2
        reverse = cost_l < cost_f * rev_bar
        self.plan_trace.append(
            f"path {desc}: candidates {cand_desc} -> anchor "
            f"{_pname(path.nodes[-1]) if reverse else _pname(path.nodes[0])}"
            + (" (reversed)" if reverse else "")
        )
        if reverse:
            return [self._reversed_path(path)]
        return [path]

    def _edge_deg(self, ep: A.EdgePattern, forward: bool) -> float:
        """Average fan-out of traversing this edge pattern in pattern
        order (``forward=True``) or against it, from the graph's
        per-type degree stats (catalog.rs:63-140 analogue).  Var-length
        segments are costed as one hop (optimistic lower bound —
        enough to rank anchors).  'both' sums both orientations."""
        def one(direction: str) -> float:
            types = ep.types or [None]
            return sum(
                self.g.edge_degree_est(t, direction) for t in types
            ) / len(types)

        if ep.direction == "both":
            return one("out") + one("in")
        stored_fwd = ep.direction == "out"
        if not forward:
            stored_fwd = not stored_fwd
        return one("out" if stored_fwd else "in")

    def _chain_work(
        self, st: State, path: A.PatternPath, i: int, anchor_cost: float
    ) -> float:
        """Cumulative expected frontier size expanding the chain both
        ways from anchor node ``i`` (each side independently from the
        anchor's scan cardinality)."""
        work = running = anchor_cost
        for j in range(i - 1, -1, -1):  # prefix traversed in reverse
            running *= max(self._edge_deg(path.edges[j], forward=False), 0.1)
            work += running
        running = anchor_cost
        for j in range(i, len(path.edges)):  # suffix in pattern order
            running *= max(self._edge_deg(path.edges[j], forward=True), 0.1)
            work += running
        return work

    def _split_at(
        self, st: State, path: A.PatternPath, i: int
    ) -> list[A.PatternPath]:
        """Split the chain at interior node ``i`` into two segments
        anchored there.  An anonymous anchor gets a fresh internal
        variable so the segments join on it."""
        anchor = path.nodes[i]
        if anchor.var is None:
            anchor = A.NodePattern(
                st.fresh("n"), list(anchor.labels), dict(anchor.properties)
            )
        # m <-...- a: reversed prefix (anchor scan bounds it)
        prefix = self._reversed_path(
            A.PatternPath(
                [*path.nodes[:i], anchor], list(path.edges[:i]), None, None
            )
        )
        # m -...-> b: suffix re-binds the (now bound) anchor for free
        suffix = A.PatternPath(
            [anchor, *path.nodes[i + 1 :]], list(path.edges[i:]), None, None
        )
        return [prefix, suffix]

    def _anchor_cost(self, st: State, np: A.NodePattern) -> float:
        """Estimated post-filter cardinality of scanning this node
        pattern: label count x 0.1 per equality predicate x 0.5 per
        other single-variable predicate (selectivity constants in the
        spirit of cost_model.rs:20-60)."""
        n = self.g.label_count_est(np.labels[0] if np.labels else None)
        n_eq = len(np.properties)
        n_other = 0
        point = False
        if np.var is not None:
            for c in st.pending_where:
                if _expr_var_names(c) == {np.var}:
                    if isinstance(c, A.BinaryOp) and c.op == "=":
                        # id(v) = <constant> is a UNIQUE point lookup,
                        # not a generic 10%-selectivity equality
                        if _point_lookup(c) is not None:
                            point = True
                        else:
                            n_eq += 1
                    else:
                        n_other += 1
        if point:
            return 1.0 * (0.1**n_eq) * (0.5**n_other)
        return max(n, 1) * (0.1**n_eq) * (0.5**n_other)

    def _point_seeds(self, st: State, var: str) -> list[int] | None:
        """The integer constants (in the id column's long range) of the
        pending ``id(var) = <constant>`` conjuncts, or None without one:
        the start ids of a point-anchored traversal, known before any
        job runs."""
        seeds = []
        for c in st.pending_where:
            call, value = _point_lookup(c) or (None, None)
            if call != A.FunctionCall("id", [A.Variable(var)]):
                continue
            if isinstance(value, A.Literal):
                v = value.value
            elif isinstance(value, A.Parameter):
                v = self.params.get(value.name)
            else:
                continue
            if (
                isinstance(v, int)
                and not isinstance(v, bool)
                and -(2**63) <= v < 2**63
            ):
                seeds.append(v)
        return seeds or None

    @staticmethod
    def _reversed_path(path: A.PatternPath) -> A.PatternPath:
        flip = {"out": "in", "in": "out", "both": "both"}
        edges = [
            A.EdgePattern(
                ep.var,
                list(ep.types),
                flip[ep.direction],
                dict(ep.properties),
                ep.min_hops,
                ep.max_hops,
            )
            for ep in reversed(path.edges)
        ]
        return A.PatternPath(
            list(reversed(path.nodes)), edges, path.path_var, path.shortest
        )

    def _vl_broadcast_edges(self, ep: A.EdgePattern) -> bool:
        """Should a bounded var-length traversal pin its edge side as a
        broadcast-resident table (one BroadcastHashJoin per hop, one
        stage for the whole BFS)?  Judged against wcoj_broadcast_limit
        like the cycle-closing hint.  Estimates come from the memoized
        per-type edge counts; on a cache miss they are computed ONLY
        when the graph is a base (never-written) graph — post-write
        union-chain graphs would pay a real materialization job at
        compile time, so those stay cache-hit-only (ANALYZE warms
        them).  Deep/unbounded traversals use the iterative loop and
        ignore this."""
        from samyama_graph_spark.operators.traversal import _UNROLL_MAX

        max_hops = ep.max_hops if ep.max_hops is not None else 20
        if max_hops > _UNROLL_MAX:
            return False
        cache = self.g.__dict__.get("_ecount_cache", {})
        keys = ep.types if ep.types else ["\x00ALL"]
        if not all(k in cache for k in keys):
            if not self.g.__dict__.get("_stats_safe", False):
                return False
            for k in keys:
                self.g.edge_count_est(None if k == "\x00ALL" else k)
            cache = self.g.__dict__.get("_ecount_cache", {})
        est = sum(cache[k] for k in keys)
        if ep.direction == "both":
            est *= 2
        if est <= self.wcoj_broadcast_limit:
            self.plan_trace.append(
                f"var-length {'|'.join(ep.types) or '(any)'}: edge side "
                f"broadcast-resident (~{est} rows) — one stage, "
                "first-reach resolve is the only exchange"
            )
            return True
        return False

    def _shortest_path(self, st: State, path: A.PatternPath) -> None:
        """MATCH p = shortestPath((a)-[:T*]->(b)): bind both endpoints,
        run the path-materializing multi-source BFS, join full paths.
        The path variable binds to ``struct(nodes, rels, hops)`` so
        nodes(p)/relationships(p)/length(p) all work.  allShortestPaths
        keeps one row PER minimal-hop path (true multiplicity — the
        BFS enumerates every first-reach route, operator.rs:7527);
        shortestPath keeps the lexicographically-smallest one.

        Reference: ShortestPathOperator (operator.rs:7527), path
        tracking operator.rs:3003, Value::Path record.rs:86-89.
        """
        from samyama_graph_spark.operators.traversal import var_length_paths

        if len(path.nodes) != 2 or len(path.edges) != 1:
            raise CompileError("shortestPath needs exactly (a)-[...]-(b)")
        ep = path.edges[0]
        lvar = self._bind_node(st, path.nodes[0])
        rvar = self._bind_node(st, path.nodes[1])
        # prune endpoint sets BEFORE the BFS (pushdown below expansion)
        self._apply_ready_predicates(st)
        if ep.types:
            edges = self._typed_edge_pairs(ep.types)
        else:
            edges = self.g.unified_edges().select("src", "dst", "type")
        max_depth = ep.max_hops if ep.max_hops is not None else 20
        starts = st.frame.select(F.col(f"{lvar}.id").alias("id")).distinct()
        targets = st.frame.select(F.col(f"{rvar}.id").alias("id")).distinct()
        sp = var_length_paths(
            starts,
            edges,
            0,
            max_depth,
            direction=ep.direction,
            all_shortest=path.shortest == "allShortest",
            broadcast_edges=self._vl_broadcast_edges(ep),
        )
        # prune to bound targets before the join-back
        sp = sp.join(targets, sp["node"] == targets["id"], "left_semi")
        pvar = path.path_var or st.fresh("p")
        sp = sp.select(
            F.col("start").alias("__sp_s"),
            F.col("node").alias("__sp_t"),
            F.struct(
                F.col("path_nodes").alias("nodes"),
                F.col("path_rels").alias("rels"),
                F.col("hops").cast("int").alias("hops"),
            ).alias(pvar),
        )
        st.frame = st.frame.join(
            sp,
            (F.col(f"{lvar}.id") == F.col("__sp_s"))
            & (F.col(f"{rvar}.id") == F.col("__sp_t")),
        ).drop("__sp_s", "__sp_t")
        st.scope.vars[pvar] = VarInfo("path", pvar)

    def _var_length_hop(
        self,
        st: State,
        left: str,
        ep: A.EdgePattern,
        right_np: A.NodePattern,
        want_path: bool = False,
    ) -> tuple[str, tuple[str, str, str] | None]:
        """``-[:T*min..max]->`` via the multi-source BFS operator, or,
        when ``left`` is point-anchored (``id(left) = <int constant>``),
        no path or edge variable is materialized and ``max`` is at most
        ``_UNROLL_MAX``, via the driver frontier kernel while it stays
        within its bound.

        Returns ``(right_var, path_info)`` where path_info is
        ``(nodes_col, rels_col, hops_col)`` temp-column names when the
        caller asked for path materialization (named path), else None.
        Binding an edge variable (``-[rs:T*1..3]->``) materializes the
        traversed relationship LIST into that variable, matching the
        reference's path-tracking BFS (operator.rs:3003).
        """
        from samyama_graph_spark.operators.traversal import (
            _UNROLL_MAX,
            frontier_expand,
            var_length_expand,
            var_length_paths,
        )

        materialize = want_path or ep.var is not None
        max_hops = ep.max_hops if ep.max_hops is not None else 20
        seeds = (
            None if materialize or max_hops > _UNROLL_MAX
            else self._point_seeds(st, left)
        )
        # prune the start set BEFORE the BFS (pushdown below expansion)
        self._apply_ready_predicates(st)
        if ep.types:
            edges = (
                self._typed_edge_pairs(ep.types)
                if materialize
                else self._safe_edge_pairs(ep.types)
            )
        else:
            edges = self.g.unified_edges().select(
                *(["src", "dst", "type"] if materialize else ["src", "dst"])
            )
        starts = st.frame.select(F.col(f"{left}.id").alias("id")).distinct()
        path_info: tuple[str, str, str] | None = None
        reach = None
        if seeds is not None:
            # the join back onto the frame below drops seeds that do
            # not exist or fail their other predicates
            reach, note = frontier_expand(
                seeds, edges, ep.min_hops, max_hops, ep.direction
            )
            self.plan_trace.append(
                f"var-length {'|'.join(ep.types) or '(any)'}: {note}"
            )
        if materialize:
            ncol = st.fresh("__vln")
            rcol = st.fresh("__vlr")
            hcol = st.fresh("__vlh")
            reach = var_length_paths(
                starts, edges, ep.min_hops, max_hops, direction=ep.direction,
                broadcast_edges=self._vl_broadcast_edges(ep),
            ).select(
                F.col("start").alias("__vl_start"),
                F.col("node").alias("__vl_node"),
                F.col("path_nodes").alias(ncol),
                F.col("path_rels").alias(rcol),
                F.col("hops").alias(hcol),
            )
            if want_path:
                path_info = (ncol, rcol, hcol)
        else:
            if reach is None:
                reach = var_length_expand(
                    starts, edges, ep.min_hops, max_hops,
                    direction=ep.direction,
                    broadcast_edges=self._vl_broadcast_edges(ep),
                )
            reach = reach.withColumnRenamed(
                "start", "__vl_start"
            ).withColumnRenamed("node", "__vl_node")
        st.frame = st.frame.join(
            reach, F.col(f"{left}.id") == F.col("__vl_start")
        )
        rvar = right_np.var or st.fresh("n")
        if rvar in st.scope.vars:
            self._check_rebind(st, rvar, right_np)
            st.frame = st.frame.filter(
                F.col("__vl_node") == F.col(f"{rvar}.id")
            )
        else:
            nsrc = self._node_source(
                right_np.labels[0] if right_np.labels else None, rvar
            )
            st.frame = st.frame.join(
                nsrc, F.col("__vl_node") == F.col(f"{rvar}.id")
            )
            st.scope.vars[rvar] = VarInfo(
                "node", rvar, right_np.labels[0] if right_np.labels else None
            )
            self._inline_props(st, rvar, right_np.properties)
        if materialize:
            if ep.var is not None:
                if ep.var in st.scope.vars:
                    raise CompileError(f"edge variable {ep.var} bound twice")
                st.frame = st.frame.withColumn(ep.var, F.col(rcol))
                st.scope.vars[ep.var] = VarInfo("value", ep.var)
            drop = ["__vl_start", "__vl_node"]
            if not want_path:
                drop += [ncol, rcol, hcol]
            st.frame = st.frame.drop(*drop)
        else:
            st.frame = st.frame.drop("__vl_start", "__vl_node", "hops")
        return rvar, path_info

    # -------------------------------------------------- optional / where
    def _with_row_id(self, st: State) -> DataFrame:
        """Stable row identity for correlated left joins.

        monotonically_increasing_id is only safe if the frame isn't
        recomputed differently on the two sides of the self-join, so
        pin it with localCheckpoint.
        """
        base = st.frame.withColumn("__row_id", F.monotonically_increasing_id())
        return base.localCheckpoint(eager=False)

    def _optional_match(self, st: State, clause: A.MatchClause) -> None:
        if st.frame is None:
            # OPTIONAL MATCH as first clause == plain MATCH then pad —
            # treat as a plain match (reference behaves likewise for
            # the non-empty case)
            self._match(st, clause)
            return
        base = self._with_row_id(st)
        before_cols = set(base.columns)
        sub = State(
            base,
            Scope(dict(st.scope.vars), st.scope.params, graph=self.g),
            anon=st.anon,
        )
        for path in clause.paths:
            self._add_path(sub, path)
        if clause.where is not None:
            self._apply_where(sub, clause.where)
        # advance the parent counter past the sub's allocations: the
        # sub's anonymous vars flow back into the parent scope below,
        # so a later sibling clause minting the same __n_N/__e_N name
        # would silently unify with them (or raise 'bound twice')
        st.anon = sub.anon
        new_cols = [c for c in sub.frame.columns if c not in before_cols]
        right = sub.frame.select("__row_id", *new_cols)
        st.frame = base.join(right, "__row_id", "left").drop("__row_id")
        for v, info in sub.scope.vars.items():
            if v not in st.scope.vars:
                st.scope.vars[v] = info

    def _split_conjuncts(self, e: A.Expr) -> list[A.Expr]:
        if isinstance(e, A.BinaryOp) and e.op == "AND":
            return self._split_conjuncts(e.left) + self._split_conjuncts(e.right)
        return [e]

    # ------------------------------- subquery expressions (PC/EXISTS/COUNT)
    _SUBQ_TYPES = (A.PatternComprehension, A.ExistsSubquery, A.CountSubquery)

    def _collect_subqueries(self, e: A.Expr, out: list[A.Expr]) -> None:
        if isinstance(e, self._SUBQ_TYPES):
            out.append(e)
            return
        for c in _expr_children(e):
            self._collect_subqueries(c, out)

    def _materialize_subqueries(self, st: State, exprs: list[A.Expr]) -> list[str]:
        """Join-materialize every pattern comprehension / EXISTS{} /
        COUNT{} inside ``exprs`` as a hidden column on ``st.frame`` and
        register the expression substitution; returns the hidden column
        names added.

        SURVEY §2 mapping ("grouped collect over an expansion join"):
        expand the pattern from the DISTINCT bound anchors, filter,
        aggregate per binding (collect_list / count / match-flag), and
        left-join back with the type's empty fill ([] / 0 / false) —
        reference eval_pattern_comprehension operator.rs:2417,
        eval_exists_subquery, CountSubquery eval.  Top-level WHERE
        conjunct EXISTS keeps the cheaper semi/anti-join path in
        ``_apply_where``.
        """
        found: list[A.Expr] = []
        for e in exprs:
            if e is not None:
                self._collect_subqueries(e, found)
        added: list[str] = []
        for node in found:
            if id(node) in st.scope.agg_subs:
                continue
            if isinstance(node, A.PatternComprehension):
                paths, where = [node.path], node.where
            else:
                paths, where = node.pattern, node.where
            pat_vars = [
                np.var for p in paths for np in p.nodes if np.var
            ] + [ep.var for p in paths for ep in p.edges if ep.var]
            anchors = list(
                dict.fromkeys(v for v in pat_vars if v in st.scope.vars)
            )
            if not anchors or st.frame is None:
                raise CompileError(
                    "subquery expression must reference a bound variable"
                )
            cols = [st.scope.vars[v].column for v in anchors]
            bindings = st.frame.select(*[F.col(c) for c in cols]).distinct()
            sub = State(
                bindings,
                Scope({v: st.scope.vars[v] for v in anchors}, self.params, graph=self.g),
                anon=st.anon,
            )
            for p in paths:
                self._add_path(sub, p)
            if where is not None:
                self._apply_where(sub, where)
            st.anon = sub.anon
            tmp = st.fresh("pc")
            key_cols = [F.col(c) for c in cols]
            if isinstance(node, A.PatternComprehension):
                proj = compile_expr(node.projection, sub.scope)
                agg = sub.frame.groupBy(*key_cols).agg(
                    F.collect_list(proj).alias(tmp)
                )
                fill = F.coalesce(F.col(tmp), F.array())
            elif isinstance(node, A.CountSubquery):
                agg = sub.frame.groupBy(*key_cols).agg(
                    F.count(F.lit(1)).alias(tmp)
                )
                fill = F.coalesce(F.col(tmp), F.lit(0))
            else:  # ExistsSubquery in an expression position
                agg = (
                    sub.frame.select(*key_cols)
                    .distinct()
                    .withColumn(tmp, F.lit(True))
                )
                fill = F.coalesce(F.col(tmp), F.lit(False))
            st.frame = st.frame.join(agg, on=cols, how="left")
            st.scope.agg_subs[id(node)] = fill
            added.append(tmp)
        return added

    def _apply_where(self, st: State, where: A.Expr) -> None:
        self._refresh_dtypes(st)
        plain: list[A.Expr] = []
        for c in self._split_conjuncts(where):
            if isinstance(c, A.ExistsSubquery):
                self._exists_join(st, c, anti=False)
            elif (
                isinstance(c, A.UnaryOp)
                and c.op == "NOT"
                and isinstance(c.operand, A.ExistsSubquery)
            ):
                self._exists_join(st, c.operand, anti=True)
            else:
                plain.append(c)
        pc_cols = self._materialize_subqueries(st, plain)
        if plain:
            cond = None
            for c in plain:
                col = compile_expr(c, st.scope)
                cond = col if cond is None else (cond & col)
            st.frame = st.frame.filter(cond)
        if pc_cols:
            st.frame = st.frame.drop(*pc_cols)

    def _exists_join(self, st: State, ex: A.ExistsSubquery, anti: bool) -> None:
        """EXISTS{pattern} -> left-semi; NOT EXISTS -> left-anti
        (reference: semi_join_detector.rs / eval_exists_subquery)."""
        base = self._with_row_id(st)
        # seed the anonymous-name counter from the parent: the copied
        # scope still holds the outer pattern's __e_N/__n_N bindings
        sub = State(
            base,
            Scope(dict(st.scope.vars), st.scope.params, graph=self.g),
            anon=st.anon,
        )
        for path in ex.pattern:
            self._add_path(sub, path)
        if ex.where is not None:
            self._apply_where(sub, ex.where)
        st.anon = sub.anon
        keys = sub.frame.select("__row_id")
        how = "left_anti" if anti else "left_semi"
        st.frame = base.join(keys, "__row_id", how).drop("__row_id")

    # ------------------------------------------------------------ unwind
    def _unwind(self, st: State, clause: A.UnwindClause) -> None:
        if st.frame is None:
            spark = self.g.spark
            st.frame = spark.range(0, 1, 1, 1).select(F.lit(1).alias("__one"))
        col = compile_expr(clause.expr, st.scope)
        st.frame = st.frame.select("*", F.explode(col).alias(clause.alias))
        if "__one" in st.frame.columns:
            st.frame = st.frame.drop("__one")
        st.scope.vars[clause.alias] = VarInfo("value", clause.alias)
        self._refresh_dtypes(st)

    # ------------------------------------------------------------- call
    def _call(self, st: State, clause: A.CallClause) -> None:
        from samyama_graph_spark.cypher.procedures import run_procedure

        if st.frame is not None:
            raise CompileError("CALL after other clauses is unsupported")
        # procedure arguments are driver-side values: literals/params only
        lit_args = [self._driver_value(a) for a in clause.args]
        df = run_procedure(
            self.g, clause.procedure.lower(), lit_args, catalog=self.catalog
        )

        def _is_node_struct(col: str) -> bool:
            f = df.schema[col].dataType
            return hasattr(f, "names") and "_labels" in f.names

        if clause.yields:
            cols = []
            for n, a in clause.yields:
                if n not in df.columns and n == "nodeId" and "node" in df.columns:
                    # legacy YIELD nodeId (executor/mod.rs:2477-2500
                    # parse-level tests) — project the node's id
                    cols.append(F.col("node.id").alias(a or n))
                else:
                    cols.append(F.col(n).alias(a or n))
            names = [a or n for n, a in clause.yields]
            kinds = {
                (a or n): "node" if n in df.columns and _is_node_struct(n) else "value"
                for n, a in clause.yields
            }
            df = df.select(*cols)
            st.frame = df
            for c in names:
                st.scope.vars[c] = VarInfo(kinds[c], c)
        else:
            st.frame = df
            for c in df.columns:
                st.scope.vars[c] = VarInfo(
                    "node" if _is_node_struct(c) else "value", c
                )
        self._refresh_dtypes(st)

    def _driver_value(self, a: A.Expr):
        """Evaluate a CALL argument to a plain Python value
        (literals, lists, maps, parameters — recursively)."""
        if isinstance(a, A.Literal):
            return a.value
        if isinstance(a, A.Parameter):
            return self.params[a.name]
        if isinstance(a, A.ListLiteral):
            return [self._driver_value(x) for x in a.items]
        if isinstance(a, A.MapLiteral):
            return {k: self._driver_value(v) for k, v in a.entries.items()}
        if isinstance(a, A.UnaryOp) and a.op == "NEG":
            v = self._driver_value(a.operand)
            return -v
        raise CompileError("CALL arguments must be literals/parameters")

    def _call_subquery(self, st: State, clause: A.CallSubqueryClause) -> None:
        """CALL { ... }: uncorrelated -> crossJoin; correlated (leading
        ``WITH vars`` import) -> compile against the DISTINCT import
        bindings with the binding columns carried through every stage as
        implicit grouping keys, then equi-join back to the outer frame.
        Per-distinct-binding evaluation + join-back is row-for-row
        equivalent to the spec's per-row invocation because the subquery
        is deterministic in its imports — and it evaluates each distinct
        binding once, which is the scale win.
        """
        q = clause.query
        imports = self._subquery_imports(q)

        if imports is None:
            result = self.compile_query(q)
            collide = (
                set(result.columns) & set(st.frame.columns)
                if st.frame is not None
                else set()
            )
            if collide:
                raise CompileError(
                    f"CALL {{}} returns variables already in scope: {sorted(collide)}"
                )
            st.frame = (
                result if st.frame is None else st.frame.crossJoin(result)
            )
            for c in result.columns:
                st.scope.vars[c] = VarInfo("value", c)
            return

        if st.frame is None:
            raise CompileError("correlated CALL {} requires a preceding clause")
        for v in imports:
            if v not in st.scope.vars:
                raise CompileError(f"CALL {{}} imports unknown variable {v}")
        cols = [st.scope.vars[v].column for v in imports]
        bindings = st.frame.select(*[F.col(c) for c in cols]).distinct()
        sub_scope = Scope(
            {v: st.scope.vars[v] for v in imports}, self.params, graph=self.g
        )
        part = q.parts[0]
        inner_sq = A.SingleQuery(part.clauses[1:], part.ret)
        sub = State(bindings, sub_scope, anon=st.anon, carry=list(cols))
        result = self._compile_single_st(sub, inner_sq)
        st.anon = sub.anon

        ret_names = [c for c in result.columns if c not in cols]
        collide = set(ret_names) & set(st.frame.columns)
        if collide:
            raise CompileError(
                f"CALL {{}} returns variables already in scope: {sorted(collide)}"
            )
        # All-aggregate subquery RETURN: an empty group still yields one
        # row per spec (count/sum -> 0, collect -> [], else null), so
        # left-join and fill those
        fills: dict[str, F.Column] = {}
        if part.ret is not None and part.ret.items and all(
            is_aggregate(it.expr) for it in part.ret.items
        ):
            for it, name in zip(
                part.ret.items,
                [it.alias or expr_name(it.expr) for it in part.ret.items],
            ):
                e = it.expr
                if isinstance(e, A.FunctionCall) and not e.distinct:
                    if e.name in ("count", "sum"):
                        fills[name] = F.lit(0)
                    elif e.name == "collect":
                        fills[name] = F.array()
        how = "left" if fills else "inner"
        out = st.frame.join(result, on=cols, how=how)
        for name, fb in fills.items():
            out = out.withColumn(name, F.coalesce(F.col(name), fb))
        st.frame = out
        for n in ret_names:
            st.scope.vars[n] = VarInfo("value", n)

    @staticmethod
    def _subquery_imports(q: A.Query) -> list[str] | None:
        """Import list when the subquery's first clause is a plain
        ``WITH v1, v2`` of bare variables (the openCypher import form);
        None = uncorrelated."""
        if len(q.parts) != 1:
            return None
        cls = q.parts[0].clauses
        if not cls or not isinstance(cls[0], A.WithClause):
            return None
        w = cls[0]
        if (
            w.distinct
            or w.where is not None
            or w.order_by
            or w.skip is not None
            or w.limit is not None
        ):
            return None
        names = []
        for it in w.items:
            if not isinstance(it.expr, A.Variable) or (
                it.alias is not None and it.alias != it.expr.name
            ):
                return None
            names.append(it.expr.name)
        return names

    # ------------------------------------------------------- projection
    def _project(
        self,
        st: State,
        items: list[A.ReturnItem],
        distinct: bool,
        where: A.Expr | None,
        order_by: list[tuple[A.Expr, bool]],
        skip: A.Expr | None,
        limit: A.Expr | None,
        final: bool,
    ) -> DataFrame:
        if st.frame is None:
            # RETURN 1 — constant projection off a single row
            st.frame = self.g.spark.range(0, 1, 1, 1).select(F.lit(1).alias("__one"))
        self._refresh_dtypes(st)
        self._materialize_subqueries(
            st, [it.expr for it in items] + [oe for oe, _ in order_by]
        )
        names = [it.alias or expr_name(it.expr) for it in items]
        if len(set(names)) != len(names):
            raise CompileError(f"duplicate output names {names}")
        has_agg = any(is_aggregate(it.expr) for it in items)
        # correlated CALL {}: binding columns ride along hidden and key
        # every aggregation (per-binding subquery semantics)
        carry_extra = [c for c in st.carry if c not in names]
        if st.carry and (skip is not None or limit is not None):
            raise CompileError(
                "SKIP/LIMIT inside a correlated CALL {} subquery is unsupported"
            )

        # ORDER BY may reference (a) an output alias/item, or (b) an
        # expression over pre-projection variables: (b) is carried as
        # hidden sort columns through the projection.
        def classify_order():
            specs = []  # ("alias", name) | ("expr", A.Expr)
            for oe, asc in order_by:
                key = expr_name(oe)
                matched = None
                for n, it in zip(names, items):
                    if key == n or key == expr_name(it.expr):
                        matched = n
                        break
                specs.append((matched, oe, asc))
            return specs

        order_specs = classify_order()

        if has_agg:
            # Two-phase: aggregates evaluate in groupBy().agg() under
            # synthetic names; outer expressions then combine them.
            agg_nodes: list[A.FunctionCall] = []
            for it in items:
                collect_aggregates(it.expr, agg_nodes)
            for matched, oe, _ in order_specs:
                if matched is None:
                    collect_aggregates(oe, agg_nodes)
            key_items = [
                (n, it) for n, it in zip(names, items) if not is_aggregate(it.expr)
            ]
            key_cols = [
                compile_expr(it.expr, st.scope).alias(n) for n, it in key_items
            ]
            agg_cols = []
            subs: dict[int, F.Column] = {}
            for i, node in enumerate(agg_nodes):
                cname = f"__agg_{i}"
                agg_cols.append(
                    self._compile_one_agg(node, st.scope).alias(cname)
                )
                subs[id(node)] = F.col(cname)
            if not agg_cols:  # ORDER BY-only aggregates edge case
                agg_cols = [F.count(F.lit(1)).alias("__agg_dummy")]
            grouped = st.frame.groupBy(
                *key_cols, *[F.col(c) for c in carry_extra]
            ).agg(*agg_cols)

            post = Scope({}, st.scope.params, {}, subs, graph=self.g)
            for n, it in key_items:
                post.vars[n] = VarInfo("value", n)
            out_cols = []
            for n, it in zip(names, items):
                if is_aggregate(it.expr):
                    out_cols.append(compile_expr(it.expr, post).alias(n))
                else:
                    out_cols.append(F.col(f"`{n}`"))
            hidden = []
            for j, (matched, oe, _) in enumerate(order_specs):
                if matched is None:
                    hidden.append(compile_expr(oe, post).alias(f"__ord_{j}"))
            frame = grouped.select(
                *out_cols, *hidden, *[F.col(c) for c in carry_extra]
            )
        else:
            cols = [
                compile_expr(it.expr, st.scope).alias(n)
                for n, it in zip(names, items)
            ]
            hidden = []
            for j, (matched, oe, _) in enumerate(order_specs):
                if matched is None:
                    hidden.append(compile_expr(oe, st.scope).alias(f"__ord_{j}"))
            frame = st.frame.select(
                *cols, *hidden, *[F.col(c) for c in carry_extra]
            )

        new_scope = Scope({}, st.scope.params, graph=self.g)
        for n, it in zip(names, items):
            kind, label = "value", None
            if isinstance(it.expr, A.Variable):
                old = st.scope.vars.get(it.expr.name)
                if old is not None:
                    kind, label = old.kind, old.label
            new_scope.vars[n] = VarInfo(kind, n, label)

        if distinct:
            frame = frame.distinct()
        if where is not None:
            tmp = State(frame, new_scope, anon=st.anon)
            self._apply_where(tmp, where)
            st.anon = tmp.anon
            frame = tmp.frame

        if order_by:
            sort_cols = []
            for j, (matched, oe, asc) in enumerate(order_specs):
                col = F.col(f"`{matched}`") if matched else F.col(f"__ord_{j}")
                sort_cols.append(col.asc() if asc else col.desc())
            frame = frame.orderBy(*sort_cols)
        drop_cols = [c for c in frame.columns if c.startswith("__ord_") or c == "__agg_dummy"]
        if drop_cols:
            frame = frame.drop(*drop_cols)
        if skip is not None:
            frame = frame.offset(int(_lit_value(skip, st)))
        if limit is not None:
            frame = frame.limit(int(_lit_value(limit, st)))

        st.frame = frame
        st.scope = new_scope
        return frame

    def _compile_one_agg(self, e: A.FunctionCall, scope: Scope):
        if e.name == "count" and not e.args:
            return F.count(F.lit(1))
        arg = compile_expr(e.args[0], scope)
        extra = compile_expr(e.args[1], scope) if len(e.args) > 1 else None
        return aggregate_fn(e.name, arg, e.distinct, extra)


def _lit_value(e: A.Expr, st: State):
    if isinstance(e, A.Literal):
        return e.value
    if isinstance(e, A.Parameter):
        return st.scope.params[e.name]
    raise CompileError("SKIP/LIMIT must be literal or parameter")
