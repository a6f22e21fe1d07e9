"""CypherEngine: the user-facing query API.

``CypherEngine(graph).query("MATCH ...", params)`` returns a
DataFrame.  Parsed ASTs are memo-cached on normalized query text —
the Spark analogue of the reference's LRU AST cache
(src/query/mod.rs:131-190); Catalyst separately caches analyzed
plans.  ``explain()`` surfaces the physical plan (EXPLAIN/PROFILE,
executor/mod.rs:185-215).
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame

from samyama_graph_spark.cypher.compiler import Compiler
from samyama_graph_spark.cypher.parser import parse
from samyama_graph_spark.graph import PropertyGraph

_WS = re.compile(r"\s+")

# process-global parsed-AST cache shared by every engine instance
_GLOBAL_AST_CACHE: dict[str, Any] = {}

# live engines (weak): compiled-plan caches hold frames whose lineage
# may be truncated by localCheckpoint — code that blanket-unpersists
# executor storage (benchmark harness cleanup) must clear these caches
# FIRST or the cached plans become unrecomputable poison
import weakref

_LIVE_ENGINES: "weakref.WeakSet[CypherEngine]" = weakref.WeakSet()


def clear_plan_caches() -> None:
    """Drop every live engine's compiled-plan cache.  Call before
    unpersisting all RDDs/checkpoint blocks: cached plans may scan
    localCheckpoint storage that a blanket unpersist destroys (the
    lineage is truncated, so the frame cannot recompute)."""
    for eng in list(_LIVE_ENGINES):
        eng._plan_cache.clear()


_DDL_INDEX = re.compile(
    r"^\s*create\s+(vector\s+)?index\s+on\s*:\s*(\w+)\s*\(\s*([\w,\s]+?)\s*\)\s*$",
    re.IGNORECASE,
)
_DDL_CONSTRAINT = re.compile(
    r"^\s*create\s+constraint\s+on\s*:\s*(\w+)\s*\(\s*([\w,\s]+?)\s*\)\s*$",
    re.IGNORECASE,
)
_DDL_DROP = re.compile(r"^\s*drop\s+index\s+(\w+)\s*$", re.IGNORECASE)
_DDL_DROP_ON = re.compile(
    r"^\s*drop\s+index\s+on\s*:\s*(\w+)\s*\(\s*([\w,\s]+?)\s*\)\s*$",
    re.IGNORECASE,
)
# Neo4j-3.x constraint form the reference also accepts (ast.rs:134-166):
# CREATE CONSTRAINT ON (n:Person) ASSERT n.email IS UNIQUE
_DDL_CONSTRAINT_ASSERT = re.compile(
    r"^\s*create\s+constraint\s+on\s*\(\s*\w+\s*:\s*(\w+)\s*\)\s*"
    r"assert\s+\w+\.(\w+)\s+is\s+unique\s*$",
    re.IGNORECASE,
)
# Named vector index with OPTIONS:
# CREATE VECTOR INDEX idx FOR (n:Person) ON (n.embedding) OPTIONS {...}
_DDL_VECTOR_FOR = re.compile(
    r"^\s*create\s+vector\s+index\s+(\w+)?\s*for\s*\(\s*\w+\s*:\s*(\w+)\s*\)\s*"
    r"on\s*\(\s*\w+\.(\w+)\s*\)\s*(options\s*\{.*\})?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DDL_SHOW = re.compile(
    r"^\s*show\s+(indexes|constraints|labels|relationship\s+types|property\s+keys)\s*$",
    re.IGNORECASE,
)
_DDL_ANALYZE = re.compile(r"^\s*analyze(\s+graph)?\s*$", re.IGNORECASE)
_DDL_ALL = (
    _DDL_INDEX, _DDL_CONSTRAINT, _DDL_DROP, _DDL_DROP_ON,
    _DDL_CONSTRAINT_ASSERT, _DDL_VECTOR_FOR, _DDL_SHOW, _DDL_ANALYZE,
)


class CypherEngine:
    def __init__(self, graph: PropertyGraph, cache_size: int = 1024):
        from samyama_graph_spark.catalog import Catalog

        self.graph = graph
        self.catalog = Catalog(graph.spark)
        # AST cache is process-global (module dict): parsed ASTs are
        # immutable and graph-independent, so fresh engines over new
        # graph versions reuse them — the reference's LRU AST cache
        # (src/query/mod.rs:131-190) is likewise per-process
        self._ast_cache = _GLOBAL_AST_CACHE
        self._plan_cache: dict[Any, Any] = {}
        self._cache_size = cache_size
        _LIVE_ENGINES.add(self)

    @property
    def graph(self) -> PropertyGraph:
        # staged literal CREATEs (see _try_stage_literal_create) must
        # become visible to ANY graph access — reads, procedures,
        # direct callers — so the getter is the flush barrier
        if getattr(self, "_staged", None):
            self._flush_staged()
        return self._graph

    @graph.setter
    def graph(self, g: PropertyGraph) -> None:
        # an external swap while CREATEs are staged: apply them to the
        # graph they targeted first (the swap then discards that
        # version, same as it discards any other prior write)
        if getattr(self, "_staged", None) and getattr(
            self, "_graph", None
        ) is not g:
            self._flush_staged()
        # The id-allocation watermark is only valid for graphs produced
        # by this engine's own write path; a caller swapping in a
        # different graph must not inherit it (stale hints could mint
        # ids that collide with existing nodes).  The write path
        # re-establishes the hint right after assignment.
        if getattr(self, "_graph", None) is not g:
            self._id_hint = None
        self._graph = g

    # ------------------------------------------------- staged literal writes
    def _ensure_id_base(self) -> int:
        """Current next-free-id watermark, read (one job) only on the
        first write of a session."""
        from samyama_graph_spark.cypher.writes import next_free_id

        if getattr(self, "_id_hint", None) is None:
            self._id_hint = next_free_id(self._graph.nodes.values())
        return self._id_hint

    def _try_stage_literal_create(
        self, sq, params: dict[str, Any] | None
    ) -> DataFrame | None:
        """Stage an all-literal CREATE statement (no reads, no RETURN)
        instead of materializing a graph version for it.

        Consecutive literal CREATEs — the fixture-build and interactive-
        ingest hot path — fold into ONE multi-row LocalRelation per
        label/edge-type at the next graph access, so a run of N
        statements costs one graph version and one union layer instead
        of N of each (plus zero WriteExecutor/Catalyst work per
        statement now).  Ids are minted driver-side from the same
        watermark the write path uses; the returned summary frame is
        identical to the eager path's.  Returns None when the statement
        needs the full executor (bound vars, computed properties,
        RETURN), which also flushes anything already staged."""
        from samyama_graph_spark.cypher import ast as A
        from samyama_graph_spark.cypher.writes import (
            CompileError,
            _literal_row,
            _sql_literal,
            _static_value,
        )

        if sq.ret is not None or not sq.clauses:
            return None
        if not all(isinstance(c, A.CreateClause) for c in sq.clauses):
            return None
        p = params or {}
        # pass 1 — validate + build row specs WITHOUT touching engine
        # state, so a non-stageable statement (computed props, missing
        # label/type, unencodable value) falls back cleanly to the
        # eager path, which raises the canonical error
        specs: list[tuple[list[str], list[dict], list]] = []
        try:
            for clause in sq.clauses:
                for path in clause.paths:
                    labels = []
                    rows = []
                    for np in path.nodes:
                        label = np.labels[0] if np.labels else None
                        if label is None:
                            return None
                        props = {
                            k: _static_value(v, p)
                            for k, v in np.properties.items()
                        }
                        for v in props.values():
                            _sql_literal(v)  # must be SQL-encodable
                        labels.append(label)
                        rows.append(props)
                    erows = []
                    for i, ep in enumerate(path.edges):
                        et = ep.types[0] if ep.types else None
                        if et is None:
                            return None
                        props = {
                            k: _static_value(v, p)
                            for k, v in ep.properties.items()
                        }
                        for v in props.values():
                            _sql_literal(v)
                        erows.append((i, ep, et, props))
                    specs.append((labels, rows, erows))
        except (CompileError, KeyError):
            return None
        # pass 2 — mint ids and stage (no fallible steps left)
        staged_nodes: list[tuple[str, dict]] = []
        staged_edges: list[tuple[str, dict, str, str]] = []
        n_new = 0
        for labels, rows, erows in specs:
            base = self._ensure_id_base()
            ids = list(range(base, base + len(rows)))
            self._id_hint = base + len(rows)
            for label, props, nid in zip(labels, rows, ids):
                staged_nodes.append((label, {"id": nid, **props}))
            for i, ep, et, props in erows:
                si, di = (i, i + 1) if ep.direction != "in" else (i + 1, i)
                staged_edges.append((
                    et,
                    {"src": ids[si], "dst": ids[di], **props},
                    labels[si],
                    labels[di],
                ))
            n_new += len(rows)
        st = getattr(self, "_staged", None) or {"nodes": {}, "edges": []}
        for label, row in staged_nodes:
            st["nodes"].setdefault(label, []).append(row)
        st["edges"].extend(staged_edges)
        self._staged = st
        # at-rest vector layouts go stale the moment the write is
        # ACCEPTED (not just at flush): queryNodes must brute-force
        # against the post-write graph — same contract as the eager path
        for idx in self.catalog.indexes.values():
            if idx.kind == "vector":
                idx.options.pop("layout_path", None)
        return _literal_row(
            self._graph.spark,
            {
                "nodes_created": n_new,
                "edges_created": len(staged_edges),
                "properties_set": 0,
                "nodes_deleted": 0,
            },
        )

    def _flush_staged(self) -> None:
        """Apply every staged literal CREATE as ONE batched append per
        label/edge-type, producing a single new graph version (with the
        same touched-table, vector-index-invalidation, version-bump,
        and periodic-compaction bookkeeping as the eager write path)."""
        from samyama_graph_spark.cypher.writes import (
            WriteExecutor,
            _literal_rows,
        )

        st = self._staged
        self._staged = None
        spark = self._graph.spark
        wx = WriteExecutor(self._graph, {}, id_hint=self._id_hint)
        for label, rows in st["nodes"].items():
            cols = ["id"]
            for r in rows:
                cols.extend(k for k in r if k not in cols)
            wx._append_nodes(
                label, _literal_rows(spark, cols, rows), n=len(rows)
            )
        groups: dict[tuple[str, str, str], list[dict]] = {}
        for et, row, sl, dl in st["edges"]:
            groups.setdefault((et, sl, dl), []).append(row)
        for (et, sl, dl), rows in groups.items():
            cols = ["src", "dst"]
            for r in rows:
                cols.extend(k for k in r if k not in cols)
            wx._append_edges(
                et,
                _literal_rows(spark, cols, rows),
                n=len(rows),
                src_label=sl,
                dst_label=dl,
            )
        new_graph = wx._current_graph()
        touched = getattr(self, "_touched_tables", set())
        touched.update(("n", k) for k in st["nodes"])
        touched.update(("e", et) for et, *_ in st["edges"])
        self._touched_tables = touched
        self._graph = new_graph  # direct: the id watermark stays valid
        for idx in self.catalog.indexes.values():
            if idx.kind == "vector":
                idx.options.pop("layout_path", None)
        self.catalog.version += 1
        self._id_hint = wx.id_hint
        self._writes = getattr(self, "_writes", 0) + 1
        if self._writes % 8 == 0:
            self._graph = self._graph.compacted(touched=self._touched_tables)
            self._touched_tables = set()

    def _try_ddl(self, text: str) -> DataFrame | None:
        """DDL short-circuit before parsing (the reference planner does
        the same, planner.rs:293-378).  Index DDL is metadata on Spark
        — parquet stats/partition pruning replace B-trees (catalog.py).
        Raw ``_graph`` here: catalog DDL needs only the session, and the
        property getter would otherwise flush staged CREATEs on every
        statement; paths that DO read graph data (ANALYZE, procedures,
        SHOW label estimates) use ``self.graph`` below and flush."""
        spark = self._graph.spark
        m = _DDL_INDEX.match(text)
        if m:
            props = [p.strip() for p in m.group(3).split(",")]
            kind = "vector" if m.group(1) else ("composite" if len(props) > 1 else "range")
            idx = self.catalog.create_index(m.group(2), props, kind=kind)
            return spark.createDataFrame([(idx.name, "CREATED")], "name string, status string")
        m = _DDL_CONSTRAINT.match(text)
        if m:
            props = [p.strip() for p in m.group(2).split(",")]
            c = self.catalog.create_constraint(m.group(1), props)
            return spark.createDataFrame([(c.name, "CREATED")], "name string, status string")
        m = _DDL_CONSTRAINT_ASSERT.match(text)
        if m:
            c = self.catalog.create_constraint(m.group(1), [m.group(2)])
            return spark.createDataFrame(
                [(c.name, "CREATED")], "name string, status string"
            )
        m = _DDL_VECTOR_FOR.match(text)
        if m:
            # OPTIONS {dimensions: 384, similarity: 'cosine'} — the
            # reference records the metric on the index and searches
            # with it (vector/index.rs:71-77, parser.rs:2249)
            opts = m.group(4) or ""
            dim_m = re.search(r"dimensions?\s*:\s*(\d+)", opts, re.IGNORECASE)
            met_m = re.search(
                r"(?:similarity|metric)\s*:\s*'([\w]+)'", opts, re.IGNORECASE
            )
            idx = self.catalog.create_vector_index(
                m.group(2),
                m.group(3),
                dim=int(dim_m.group(1)) if dim_m else None,
                metric=(met_m.group(1).lower() if met_m else "cosine"),
                name=m.group(1),
            )
            return spark.createDataFrame(
                [(idx.name, "CREATED")], "name string, status string"
            )
        m = _DDL_DROP_ON.match(text)
        if m:
            label = m.group(1)
            props = sorted(p.strip() for p in m.group(2).split(","))
            names = [
                n
                for n, i in self.catalog.indexes.items()
                if i.label == label and sorted(i.properties) == props
            ]
            for n in names:
                self.catalog.drop_index(n)
            return spark.createDataFrame(
                [(label, "DROPPED" if names else "NOT_FOUND")],
                "name string, status string",
            )
        m = _DDL_DROP.match(text)
        if m:
            ok = self.catalog.drop_index(m.group(1))
            return spark.createDataFrame(
                [(m.group(1), "DROPPED" if ok else "NOT_FOUND")],
                "name string, status string",
            )
        if _DDL_ANALYZE.match(text):
            # REFRESH + report the planner statistics (the reference's
            # catalog refresh, catalog.rs:63-140): drop the memoized
            # caches first — they are carried across writes/compaction
            # by design (planner estimates tolerate staleness), so
            # ANALYZE is the one statement that recomputes them —
            # then recompute per-label counts, per-edge-type avg out/in
            # degrees, AND the typeless aggregates the compiler uses
            # for label-less/untyped pattern hops.
            self.graph.__dict__.pop("_count_cache", None)
            self.graph.__dict__.pop("_deg_cache", None)
            self.graph.__dict__.pop("_ecount_cache", None)
            # pre-warm the per-type edge counts too: they gate the WCOJ
            # broadcast route, so an ANALYZE'd session compiles cyclic
            # patterns without extra count jobs
            for t in self.graph.edges:
                self.graph.edge_count_est(t)
            self.graph.edge_count_est(None)
            rows = [
                (f":{lbl}", "label", float(self.graph.label_count_est(lbl)),
                 None)
                for lbl in sorted(self.graph.nodes)
            ] + [
                (f"[:{t}]", "edge_type",
                 self.graph.edge_degree_est(t, "out"),
                 self.graph.edge_degree_est(t, "in"))
                for t in sorted(self.graph.edges)
            ] + [
                ("(any)", "label", float(self.graph.label_count_est(None)),
                 None),
                ("[any]", "edge_type",
                 self.graph.edge_degree_est(None, "out"),
                 self.graph.edge_degree_est(None, "in")),
            ]
            return spark.createDataFrame(
                rows,
                "entity string, kind string, count_or_out_deg double, "
                "in_deg double",
            )
        m = _DDL_SHOW.match(text)
        if m:
            what = re.sub(r"\s+", " ", m.group(1).lower())
            if what == "indexes":
                return self.catalog.show_indexes()
            if what == "constraints":
                return self.catalog.show_constraints()
            from samyama_graph_spark.cypher.procedures import run_procedure

            proc = {
                "labels": "db.labels",
                "relationship types": "db.relationshiptypes",
                "property keys": "db.propertykeys",
            }[what]
            return run_procedure(self.graph, proc, [])
        return None

    def _parse_cached(self, text: str):
        key = _WS.sub(" ", text.strip())
        ast = self._ast_cache.get(key)
        if ast is None:
            ast = parse(text)
            if len(self._ast_cache) >= self._cache_size:
                self._ast_cache.pop(next(iter(self._ast_cache)))
            self._ast_cache[key] = ast
        return ast

    def query(self, text: str, params: dict[str, Any] | None = None) -> DataFrame:
        """Read query -> result DataFrame.  Queries containing write
        clauses are routed to the write executor; the summary counters
        DataFrame is returned and the session graph is swapped to the
        new version (MutQueryExecutor equivalent)."""
        from samyama_graph_spark.cypher.writes import WriteExecutor, has_write_clause

        # EXPLAIN / PROFILE prefixes (reference: executor/mod.rs:185-215)
        stripped = text.lstrip()
        upper = stripped.upper()
        if upper.startswith("EXPLAIN "):
            plan = self.explain(stripped[8:], params)
            return self.graph.spark.createDataFrame(
                [(line,) for line in plan.splitlines()], "plan string"
            )
        if upper.startswith("PROFILE "):
            import time as _time

            t0 = _time.perf_counter()
            inner = self.query(stripped[8:], params)
            n = inner.count()
            elapsed = _time.perf_counter() - t0
            return self.graph.spark.createDataFrame(
                [(n, round(elapsed * 1000, 3))], "rows long, elapsed_ms double"
            )
        ddl = self._try_ddl(text)
        if ddl is not None:
            return ddl
        ast = self._parse_cached(text)
        if len(ast.parts) == 1 and has_write_clause(ast.parts[0]):
            # all-literal CREATE: stage it (folds consecutive CREATE
            # statements into one batched graph version at the next
            # graph access) instead of paying a WriteExecutor pass and
            # a union layer per statement
            staged = self._try_stage_literal_create(ast.parts[0], params)
            if staged is not None:
                return staged
            wx = WriteExecutor(
                self.graph, params, id_hint=getattr(self, "_id_hint", None)
            )
            old_graph = self.graph
            new_graph, summary = wx.execute(ast.parts[0])
            # frame-identity diff -> which tables this statement
            # actually rewrote (feeds touched-only compaction below)
            touched = getattr(self, "_touched_tables", set())
            touched.update(
                ("n", k)
                for k, v in new_graph.nodes.items()
                if old_graph.nodes.get(k) is not v
            )
            touched.update(
                ("e", k)
                for k, v in new_graph.edges.items()
                if old_graph.edges.get(k) is not v
            )
            self._touched_tables = touched
            self.graph = new_graph
            # writes invalidate at-rest vector layouts: the parquet
            # snapshot no longer reflects the live graph, so queryNodes
            # must fall back to the brute-force scan (which sees the
            # new rows) until the layout is rebuilt — the reference
            # maintains its HNSW on insert (vector/index.rs), while
            # rebuilding a partitioned layout per statement is a batch
            # operation here
            for idx in self.catalog.indexes.values():
                if idx.kind == "vector":
                    idx.options.pop("layout_path", None)
            self.catalog.version += 1
            # carry the id watermark across statements: only the first
            # write of a session reads max(id) (next_free_id, one job)
            self._id_hint = wx.id_hint
            # Compact periodically: interactive CREATE/MERGE sessions
            # otherwise stack one union + a few partitions per write,
            # and plan depth / task counts grow without bound (a
            # 500-statement fixture build ends up with >100k tasks).
            # Lazy localCheckpoint truncates lineage at the next action;
            # compaction itself runs no job while the touched tables'
            # deltas are exchange- and broadcast-free (literal-path
            # writes), and pre-builds every broadcast of a frame-path
            # delta otherwise.  Every 8: A/B on the 12-statement write
            # pipeline showed 8 beats both 4 (one fewer checkpoint
            # round) and never (deep plans tax every subsequent
            # analysis).
            self._writes = getattr(self, "_writes", 0) + 1
            if self._writes % 8 == 0:
                self.graph = self.graph.compacted(
                    touched=self._touched_tables
                )
                self._touched_tables = set()
                # compaction preserves every id -> the watermark stays
                # valid (the setter cleared it for the general case)
                self._id_hint = wx.id_hint
            return summary
        # Compiled-plan cache (the reference LRU-caches ASTs,
        # src/query/mod.rs:131-190; repeated parameterized reads here
        # pay ~0.4 s of Catalyst analysis per compile, which dominates
        # point reads).  Entries key on (normalized text, frozen
        # params) and validate against graph identity + catalog
        # version, so any write (graph swap) or DDL (version bump)
        # misses; a cached DataFrame is an immutable plan — collecting
        # it re-executes against the same graph version.
        key = self._plan_key(text, params)
        epoch = getattr(self.graph, "_mutation_epoch", 0)
        if key is not None:
            hit = self._plan_cache.get(key)
            if (
                hit is not None
                and hit[0] is self.graph
                and hit[1] == (self.catalog.version, epoch)
            ):
                self.last_plan_trace = hit[3]
                return hit[2]
        comp = Compiler(self.graph, params, catalog=self.catalog)
        out = comp.compile_query(ast)
        # expose planner decisions for tests/diagnostics (EXPLAIN
        # surfaces the same trace inline)
        self.last_plan_trace = comp.plan_trace
        if key is not None:
            if len(self._plan_cache) >= self._cache_size:
                self._plan_cache.pop(next(iter(self._plan_cache)))
            self._plan_cache[key] = (
                self.graph, (self.catalog.version, epoch), out,
                comp.plan_trace,
            )
        return out

    def _plan_key(self, text: str, params: dict[str, Any] | None):
        """Hashable cache key for a read query, or None when the query
        must not be cached: effectful procedures (algo.or.solve writes
        a property back onto the live graph — a cached plan would skip
        the solve AND serve the pre-write frame) or any param value
        that resists freezing (skip caching, never mis-key)."""
        if "or.solve" in text:
            return None

        def freeze(v):
            if isinstance(v, (list, tuple)):
                return ("list", tuple(freeze(x) for x in v))
            if isinstance(v, dict):
                return (
                    "map", tuple(sorted((k, freeze(x)) for k, x in v.items()))
                )
            hash(v)  # raises for unhashable leaves
            # Python equality collapses 1 == 1.0 == True into one dict
            # key, but a plan compiled for {'a': 1} embeds an int
            # literal with different comparison/typing semantics than
            # the bool/double variants — key on the type as well
            return (type(v).__name__, v)

        try:
            pkey = (
                tuple(sorted((k, freeze(v)) for k, v in params.items()))
                if params
                else ()
            )
        except TypeError:
            return None
        return (_WS.sub(" ", text.strip()), pkey)

    def explain(self, text: str, params: dict[str, Any] | None = None) -> str:
        """EXPLAIN: planner candidate/cost diagnostics + the Catalyst
        physical plan (the reference's EXPLAIN likewise reports the
        candidate plans it ranked, planner.rs:73, executor/mod.rs:
        229-260).  Planning a point-anchored var-length read runs its
        driver frontier's bounded collects, one job per hop.  A write
        statement is planned, never applied: see
        :meth:`_explain_write`.  A DDL statement is named, not run."""
        from samyama_graph_spark.cypher.writes import has_write_clause

        if any(p.match(text) for p in _DDL_ALL):
            return f"== DDL (not applied) ==\n{_WS.sub(' ', text.strip())}"
        ast = self._parse_cached(text)
        if len(ast.parts) == 1 and has_write_clause(ast.parts[0]):
            return self._explain_write(ast.parts[0], params)
        comp = Compiler(self.graph, params, catalog=self.catalog)
        df = comp.compile_query(ast)
        header = ""
        if comp.plan_trace:
            header = (
                "== Planner Candidates ==\n"
                + "\n".join(comp.plan_trace)
                + "\n\n"
            )
        return header + _explain_string(df)

    def _explain_write(self, sq, params: dict[str, Any] | None) -> str:
        """Plan a write on a detached WriteExecutor: the session graph,
        id watermark and staged CREATEs are left as they were.  Reports
        which delta each write-key site chose (literal with its key
        count, or the join-based frame path — resolving the key set
        runs its one bounded read job) and the plan of every table the
        write would replace."""
        from samyama_graph_spark.cypher.writes import WriteExecutor

        g = self.graph
        wx = WriteExecutor(g, params, id_hint=getattr(self, "_id_hint", None))
        g2, _ = wx.execute(sq)
        out = ["== Write Key Paths ==", *(wx.key_paths or ["(no key set)"])]
        for kind, old, new in (
            ("node", g.nodes, g2.nodes), ("edge", g.edges, g2.edges)
        ):
            for name, df in new.items():
                if old.get(name) is not df:
                    out += ["", f"== {kind} table {name} ==", _explain_string(df)]
        return "\n".join(out)


def _explain_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
