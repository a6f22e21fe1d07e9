"""RDF triple layer: DataFrame-native store + N-Triples I/O + basic
SPARQL SELECT.

Reference surface: src/rdf/store.rs:66-250 (insert/remove/contains/
query-by-pattern/named graphs/subjects-predicates-objects over
SPO/POS/OSP hash indexes), src/rdf/types.rs (NamedNode / BlankNode /
Literal with datatype+language), src/rdf/namespace.rs:49-103 (prefix
registry expand/compact), src/rdf/serialization/ntriples.rs:17-77.
The reference's SPARQL engine is a stub (parser TODO at
src/sparql/parser.rs:20-35, executor unimplemented at
src/sparql/executor.rs:33-54); here basic-graph-pattern SELECT
actually executes — each triple pattern is a filtered scan and shared
variables become equi-joins, the textbook mapping of BGPs onto a
relational engine.

Scale shape: one (s, p, o, o_kind, o_datatype, o_lang, g) DataFrame;
the reference's SPO/POS/OSP permutation indexes collapse into
predicate/subject filters that Catalyst pushes into the parquet scan.
"""

from __future__ import annotations

import re
import sys
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_SCHEMA = (
    "s string, p string, o string, o_kind string, "
    "o_datatype string, o_lang string, g string"
)

IRI, BLANK, LITERAL = "iri", "blank", "literal"


@dataclass(frozen=True)
class Term:
    """One RDF term: an IRI, a blank node (``_:name``), or a literal
    with optional datatype / language tag."""

    value: str
    kind: str = IRI
    datatype: str | None = None
    lang: str | None = None

    def ntriples(self) -> str:
        if self.kind == IRI:
            return f"<{self.value}>"
        if self.kind == BLANK:
            return f"_:{self.value}"
        esc = (
            self.value.replace("\\", "\\\\")
            .replace('"', '\\"')
            .replace("\n", "\\n")
            .replace("\r", "\\r")
            .replace("\t", "\\t")
        )
        if self.lang:
            return f'"{esc}"@{self.lang}'
        if self.datatype:
            return f'"{esc}"^^<{self.datatype}>'
        return f'"{esc}"'


def iri(v: str) -> Term:
    return Term(v, IRI)


def blank(v: str) -> Term:
    return Term(v, BLANK)


def literal(v: str, datatype: str | None = None, lang: str | None = None) -> Term:
    return Term(v, LITERAL, datatype, lang)


# one N-Triples term: IRI | blank | literal(+lang/datatype)
_TERM_RE = re.compile(
    r"""\s*(?:
        <(?P<iri>[^>]*)>
      | _:(?P<blank>\S+)
      | "(?P<lit>(?:[^"\\]|\\.)*)"
        (?:@(?P<lang>[A-Za-z0-9-]+)|\^\^<(?P<dt>[^>]*)>)?
    )""",
    re.VERBOSE,
)

_UNESCAPE = {
    "\\\\": "\\", '\\"': '"', "\\n": "\n", "\\r": "\r", "\\t": "\t"
}


def _unescape(s: str) -> str:
    return re.sub(
        r"\\[\\\"nrt]", lambda m: _UNESCAPE[m.group(0)], s
    )


def _parse_term(text: str, pos: int) -> tuple[Term, int]:
    m = _TERM_RE.match(text, pos)
    if not m:
        raise ValueError(f"bad N-Triples term at: {text[pos:pos + 40]!r}")
    if m.group("iri") is not None:
        return Term(m.group("iri"), IRI), m.end()
    if m.group("blank") is not None:
        return Term(m.group("blank"), BLANK), m.end()
    return (
        Term(
            _unescape(m.group("lit")),
            LITERAL,
            m.group("dt"),
            m.group("lang"),
        ),
        m.end(),
    )


def parse_ntriples(text: str) -> list[tuple[Term, Term, Term]]:
    """Parse N-Triples lines (reference ntriples.rs:17-43)."""
    out = []
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        s, pos = _parse_term(line, 0)
        p, pos = _parse_term(line, pos)
        o, pos = _parse_term(line, pos)
        rest = line[pos:].strip()
        if rest not in (".", ""):
            raise ValueError(f"trailing content in N-Triples line: {raw!r}")
        out.append((s, p, o))
    return out


class NamespaceRegistry:
    """Prefix registry (reference namespace.rs:49-103) preloaded with
    the usual suspects."""

    _DEFAULTS = {
        "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
        "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
        "xsd": "http://www.w3.org/2001/XMLSchema#",
        "owl": "http://www.w3.org/2002/07/owl#",
        "foaf": "http://xmlns.com/foaf/0.1/",
    }

    def __init__(self) -> None:
        self.prefixes: dict[str, str] = dict(self._DEFAULTS)

    def add_prefix(self, prefix: str, iri_: str) -> None:
        self.prefixes[prefix] = iri_

    def expand(self, compact: str) -> str:
        if ":" not in compact:
            raise ValueError(f"not a prefixed name: {compact!r}")
        pfx, local = compact.split(":", 1)
        if pfx not in self.prefixes:
            raise ValueError(f"unknown prefix: {pfx!r}")
        return self.prefixes[pfx] + local

    def compact(self, iri_: str) -> str | None:
        best = None
        for pfx, ns in self.prefixes.items():
            if iri_.startswith(ns) and (
                best is None or len(ns) > len(self.prefixes[best])
            ):
                best = pfx
        if best is None:
            return None
        return f"{best}:{iri_[len(self.prefixes[best]):]}"


class RdfStore:
    """Triple/quad store over one DataFrame (reference store.rs:66-250).

    ``g`` is NULL for the default graph; ``insert_quad`` fills it.
    All operations are DataFrame transformations — ``query`` with a
    bound subject or predicate is a pushed-down filter, the Spark
    equivalent of the reference's SPO/POS/OSP permutation lookups.
    """

    def __init__(self, spark: SparkSession, df: DataFrame | None = None):
        self.spark = spark
        self.namespaces = NamespaceRegistry()
        self._df = df if df is not None else spark.createDataFrame([], _SCHEMA)

    # ------------------------------------------------------------- basics
    @property
    def df(self) -> DataFrame:
        return self._df

    def _rows(self, triples, graph: str | None):
        return [
            (
                s.value if s.kind != BLANK else f"_:{s.value}",
                p.value,
                o.value if o.kind != BLANK else f"_:{o.value}",
                o.kind,
                o.datatype,
                o.lang,
                graph,
            )
            for (s, p, o) in triples
        ]

    def insert(self, triples, graph: str | None = None) -> None:
        """Insert triples (idempotent, set semantics like the
        reference's HashSet store)."""
        if not triples:
            return
        new = self.spark.createDataFrame(self._rows(triples, graph), _SCHEMA)
        self._df = self._df.unionByName(new).dropDuplicates()

    def insert_ntriples(self, text: str, graph: str | None = None) -> None:
        self.insert(parse_ntriples(text), graph)

    def remove(self, triples, graph: str | None = None) -> None:
        if not triples:
            return
        gone = self.spark.createDataFrame(self._rows(triples, graph), _SCHEMA)
        self._df = self._df.join(
            gone,
            [
                self._df[c].eqNullSafe(gone[c])
                for c in ("s", "p", "o", "o_kind", "g")
            ],
            "left_anti",
        )

    def __len__(self) -> int:
        return self._df.count()

    def contains(self, s: Term, p: Term, o: Term) -> bool:
        return bool(self.query(s=s.value, p=p.value, o=o.value).head(1))

    def clear(self) -> None:
        self._df = self.spark.createDataFrame([], _SCHEMA)

    # ------------------------------------------------------------ queries
    def query(
        self,
        s: str | None = None,
        p: str | None = None,
        o: str | None = None,
        graph: str | None = None,
    ) -> DataFrame:
        """Triple-pattern match; None = wildcard (store.rs:176-183).
        Bound positions become pushdown-able filters."""
        df = self._df
        if s is not None:
            df = df.filter(F.col("s") == s)
        if p is not None:
            df = df.filter(F.col("p") == p)
        if o is not None:
            df = df.filter(F.col("o") == o)
        if graph is not None:
            df = df.filter(F.col("g") == graph)
        return df

    def get_graph(self, graph: str) -> DataFrame:
        return self._df.filter(F.col("g") == graph)

    def list_graphs(self) -> list[str]:
        return [
            r["g"]
            for r in self._df.select("g").distinct().collect()
            if r["g"] is not None
        ]

    def subjects(self) -> DataFrame:
        return self._df.select("s").distinct()

    def predicates(self) -> DataFrame:
        return self._df.select("p").distinct()

    def objects(self) -> DataFrame:
        return self._df.select("o").distinct()

    # -------------------------------------------------------------- I/O
    def ntriples_lines(self) -> DataFrame:
        """Default-graph triples serialized to N-Triples lines as ONE
        string column ``line`` — pure Catalyst expressions, so the
        serialization runs distributed (reference ntriples.rs:45-77
        serializes on one thread; here every partition formats its own
        rows and ``write_ntriples`` streams them straight to storage
        without touching the driver)."""
        esc = F.col("o")
        for a, b in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                     ("\r", "\\r"), ("\t", "\\t")):
            esc = F.replace(esc, F.lit(a), F.lit(b))
        s_term = F.when(
            F.col("s").startswith("_:"), F.col("s")
        ).otherwise(F.concat(F.lit("<"), F.col("s"), F.lit(">")))
        o_term = (
            F.when(F.col("o_kind") == IRI,
                   F.concat(F.lit("<"), F.col("o"), F.lit(">")))
            .when(F.col("o_kind") == BLANK, F.col("o"))
            .when(F.col("o_lang").isNotNull(),
                  F.concat(F.lit('"'), esc, F.lit('"@'), F.col("o_lang")))
            .when(F.col("o_datatype").isNotNull(),
                  F.concat(F.lit('"'), esc, F.lit('"^^<'),
                           F.col("o_datatype"), F.lit(">")))
            .otherwise(F.concat(F.lit('"'), esc, F.lit('"')))
        )
        return self._df.filter(F.col("g").isNull()).select(
            F.concat(
                s_term, F.lit(" <"), F.col("p"), F.lit("> "), o_term,
                F.lit(" ."),
            ).alias("line")
        )

    def write_ntriples(self, path: str) -> None:
        """Distributed N-Triples export: ``df.write.text`` of per-row
        serialized lines — the 100TB path (no driver collect)."""
        self.ntriples_lines().write.mode("overwrite").text(path)

    def to_ntriples(self) -> str:
        """Serialize the default graph to one string (test-scale
        convenience; serialization itself is distributed, only the
        final line gather hits the driver)."""
        return "\n".join(
            sorted(r["line"] for r in self.ntriples_lines().collect())
        )

    # ------------------------------------------------------------ SPARQL
    def sparql(self, query: str) -> DataFrame:
        """SELECT queries over basic graph patterns (executes what the
        reference only parses-as-TODO, sparql/executor.rs:33-54):
        PREFIX declarations, SELECT vars or * or aggregate expressions
        ``(COUNT|SUM|AVG|MIN|MAX(?v) AS ?alias)`` (COUNT(*) and
        COUNT/SUM DISTINCT too), WHERE { triple patterns, FILTER(...)
        expressions, OPTIONAL { ... } blocks } or a top-level
        ``{ G1 } UNION { G2 } ...`` of such groups, DISTINCT,
        GROUP BY, ORDER BY [ASC()/DESC()], LIMIT, OFFSET.

        Relational mapping: each pattern is a filtered scan of the
        triple frame; shared variables equi-join; OPTIONAL blocks
        left-join on their shared variables; UNION branches concatenate
        by name with absent variables unbound (NULL); FILTERs compile
        to column predicates (comparisons with numeric coercion against
        numeric literals, &&/||/!, regex/bound/contains/strstarts);
        aggregates compile to a groupBy over the binding frame
        (SUM/AVG coerce to double, MIN/MAX compare numerically when a
        binding casts, lexicographically otherwise).  ORDER BY may
        reference selected variables only and orders numerically
        whenever a binding casts to double (string fallback; mixed
        numeric/non-numeric bindings group numerics first in either
        direction).  OPTIONAL and UNION nest recursively (each
        OPTIONAL body is a full group, so FILTERs and further
        OPTIONAL/UNION inside it work; a nested FILTER may reference
        outer-group variables, in which case it becomes part of the
        left-join condition per the spec's LeftJoin(P1, P2, expr)
        algebra — a failing row keeps the outer binding unextended).

        Property paths (SPARQL 1.1 §9): the predicate position accepts
        ``^path`` inverse, ``p1/p2`` sequence, ``p1|p2`` alternative,
        ``p*``/``p+``/``p?`` closures, negated property sets ``!iri``
        / ``!(iri1|^iri2)``, and parentheses.  Sequences and
        alternatives keep bag semantics; closure forms yield distinct
        node pairs (the spec's evaluation rules), with zero-length
        paths matching every term in the graph plus any bound endpoint
        of the statement.  Closures settle on the driver when small,
        else on the superstep reach loop, one job per hop.  A
        statement using path operators must be '.'-separated from its
        neighbors.

        ``VALUES ?x { ... }`` / ``VALUES (?x ?y) { (..) (..) }``
        inline solution sets join the group on shared variables
        (UNDEF -> NULL).  ``BIND(expr AS ?v)`` extends bindings with
        + - * / arithmetic (operands coerced to double) and
        CONCAT/STR/UCASE/LCASE/STRLEN/COALESCE; BINDs apply after the
        group's patterns and OPTIONALs and before its FILTERs, so a
        FILTER can test a BIND-produced variable but a triple pattern
        cannot consume one.

        Named graphs: the dataset is queried as the UNION of all
        graphs by default (a common store configuration); ``GRAPH
        <iri> { ... }`` scopes its body to one named graph, ``GRAPH
        ?g { ... }`` iterates the (metadata-scale) graph catalog and
        binds ``?g`` per branch.  Un-named (default-graph) triples are
        never visible inside a GRAPH block.

        Subqueries: a ``{ SELECT ... }`` block evaluates bottom-up
        with its own modifiers/aggregates (inheriting the outer
        PREFIXes), projects its SELECT list, and joins the outer group
        on shared variables.

        ``MINUS { ... }`` removes bindings matching the block on the
        shared variables (kept whole when no variable is shared, per
        the spec); ``FILTER [NOT] EXISTS { ... }`` is a correlated
        semi/anti join on the shared variables (an uncorrelated EXISTS
        keeps every row iff the pattern has any solution).

        Query forms beyond SELECT: ``ASK`` returns a one-row
        ``(ask boolean)`` frame (see also :meth:`ask`); ``CONSTRUCT
        { template } WHERE { ... }`` (and the 1.1 ``CONSTRUCT WHERE
        { plain triples }`` shorthand) instantiates the template's
        plain triples per solution and returns a distinct ``(s, p,
        o)`` frame in the store's lexical form (solutions with an
        unbound template variable are skipped, per spec); ``DESCRIBE <iri>`` /
        ``DESCRIBE ?v WHERE { ... }`` returns every triple whose
        subject or object is (a binding of) the resource — a
        symmetric concise-bounded-description, computed as two
        semi-joins.  ``HAVING (...)`` filters groups after
        aggregation: conjunctions (&&) of ``AGG(?v) op number`` /
        ``?alias op number`` comparisons.  Non-aggregate SELECT
        expressions ``(expr AS ?alias)`` compile through the BIND
        grammar."""
        if _SPARQL_ASK_RE.match(query):
            return _sparql_ask(self, query)
        if _SPARQL_CONSTRUCT_WHERE_RE.match(query):
            return _sparql_construct(self, query, shorthand=True)
        if _SPARQL_CONSTRUCT_RE.match(query):
            return _sparql_construct(self, query)
        if _SPARQL_DESCRIBE_RE.match(query):
            return _sparql_describe(self, query)
        return _sparql_select(self, query)

    def ask(self, query: str) -> bool:
        """``ASK { ... }`` as a Python boolean."""
        return bool(_sparql_ask(self, query).first()["ask"])


_SPARQL_RE = re.compile(
    r"(?is)^\s*(?P<prefixes>(?:PREFIX\s+\S+\s+<[^>]*>\s*)*)"
    r"SELECT\s+(?P<distinct>DISTINCT\s+)?"
    r"(?P<vars>\*|(?:(?:\?\w+|\((?:[^()]|\([^()]*\))*\))\s*)+)"
    r"\s*WHERE\s*\{(?P<body>.*)\}\s*"
    r"(?:GROUP\s+BY\s+(?P<group>(?:\?\w+\s*)+))?"
    r"(?:HAVING\s*\((?P<having>(?:[^()]|\([^()]*\))*)\)\s*)?"
    r"(?:ORDER\s+BY\s+(?P<order>(?:(?:ASC|DESC)\s*\(\s*\?\w+\s*\)|\?\w+)"
    r"(?:\s+(?:(?:ASC|DESC)\s*\(\s*\?\w+\s*\)|\?\w+))*)\s*)?"
    r"(?:(?:LIMIT\s+(?P<limit>\d+)|OFFSET\s+(?P<offset>\d+))\s*){0,2}$"
)
_SPARQL_ASK_RE = re.compile(
    r"(?is)^\s*(?P<prefixes>(?:PREFIX\s+\S+\s+<[^>]*>\s*)*)"
    r"ASK\s*(?:WHERE\s*)?\{(?P<body>.*)\}\s*$"
)
_SPARQL_CONSTRUCT_RE = re.compile(
    r"(?is)^\s*(?P<prefixes>(?:PREFIX\s+\S+\s+<[^>]*>\s*)*)"
    r"CONSTRUCT\s*\{(?P<template>[^{}]*)\}\s*"
    r"WHERE\s*\{(?P<body>.*)\}\s*"
    r"(?:LIMIT\s+(?P<limit>\d+)\s*)?$"
)
# SPARQL 1.1 shorthand: CONSTRUCT WHERE { plain triples } — the
# pattern doubles as the template
_SPARQL_CONSTRUCT_WHERE_RE = re.compile(
    r"(?is)^\s*(?P<prefixes>(?:PREFIX\s+\S+\s+<[^>]*>\s*)*)"
    r"CONSTRUCT\s+WHERE\s*\{(?P<body>[^{}]*)\}\s*"
    r"(?:LIMIT\s+(?P<limit>\d+)\s*)?$"
)
_DESCRIBE_TERM = r"(?:\?\w+|<[^>]*>|[A-Za-z_][\w-]*:[\w.-]*[\w-])"
_SPARQL_DESCRIBE_RE = re.compile(
    r"(?is)^\s*(?P<prefixes>(?:PREFIX\s+\S+\s+<[^>]*>\s*)*)"
    r"DESCRIBE\s+(?P<what>" + _DESCRIBE_TERM
    + r"(?:\s+" + _DESCRIBE_TERM + r")*)\s*"
    r"(?:WHERE\s*\{(?P<body>.*)\}\s*)?$"
)
# one HAVING conjunct: an aggregate call or an alias/group variable,
# compared against a numeric literal
_HAVING_COND_RE = re.compile(
    r"(?is)^\s*(?:(?P<fn>COUNT|SUM|AVG|MIN|MAX)\s*\(\s*"
    r"(?P<distinct>DISTINCT\s+)?(?P<target>\*|\?\w+)\s*\)|\?(?P<var>\w+))"
    r"\s*(?P<op><=|>=|!=|=|<|>)\s*(?P<num>-?\d+(?:\.\d+)?)\s*$"
)
# (AGG(?v) AS ?alias) select expression; * only for COUNT
_SPARQL_AGG_RE = re.compile(
    r"(?is)^\(\s*(COUNT|SUM|AVG|MIN|MAX)\s*\(\s*(DISTINCT\s+)?"
    r"(\*|\?\w+)\s*\)\s+AS\s+\?(\w+)\s*\)$"
)
_PREFIX_RE = re.compile(r"(?i)PREFIX\s+(\w*):\s+<([^>]*)>")


def _sparql_term(tok: str, ns: NamespaceRegistry):
    """-> ('var', name) | ('value', string-as-stored)"""
    if tok.startswith("?"):
        return ("var", tok[1:])
    if tok.startswith("<") and tok.endswith(">"):
        return ("value", tok[1:-1])
    if tok.startswith('"'):
        m = re.match(r'"((?:[^"\\]|\\.)*)"', tok)
        if not m:
            raise ValueError(f"bad literal {tok!r}")
        return ("value", _unescape(m.group(1)))
    if tok.startswith("_:"):
        return ("value", tok)
    if tok == "a":
        return ("value", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
    return ("value", ns.expand(tok))


def _frame_meta(frame: DataFrame):
    """meta_col resolver for expressions over ``frame``: returns the
    hidden ``#var$attr`` metadata Column when the frame carries it,
    None otherwise (the builtins then fall back to lexical
    inference)."""
    cols = set(frame.columns)

    def meta_col(name: str, attr: str):
        c = _meta_col_name(name, attr)
        return F.col(f"`{c}`") if c in cols else None

    return meta_col


def _drop_colliding_meta(right: DataFrame, left: DataFrame) -> DataFrame:
    """Before a generic join, drop the right side's hidden metadata
    columns that the left side already carries — the join would
    otherwise produce ambiguous duplicate names (the ?binding columns
    themselves are handled by the join keys)."""
    dup = [
        c for c in right.columns
        if c in set(left.columns) and not c.startswith("?")
    ]
    return right.drop(*dup) if dup else right


def _compile_group(
    store: RdfStore, body: str, ns, counter,
    outer_vars: frozenset = frozenset(), deferred: list | None = None,
) -> DataFrame:
    """One group's pattern algebra, RECURSIVE: a union-of-groups body
    compiles each branch and concatenates by name; otherwise BGP
    joins, then OPTIONAL left joins (each OPTIONAL body is itself a
    full group, so OPTIONAL and UNION nest), then FILTER predicates —
    the result has one ``?var`` column per bound variable.

    A FILTER inside an OPTIONAL may reference OUTER variables (the
    spec's LeftJoin(P1, P2, expr) algebra): when ``deferred`` is given
    (the OPTIONAL compile path passes it), top-level filters whose
    variables are not all bound in this group but ARE covered by
    ``outer_vars`` are returned via ``deferred`` and become part of
    the caller's left-join condition instead of an inner filter."""
    unioned = _union_groups(body)
    if unioned is not None:
        frames = [_compile_group(store, g, ns, counter) for g in unioned]
        frame = frames[0]
        for f in frames[1:]:
            frame = frame.unionByName(f, allowMissingColumns=True)
        return frame
    (
        base_text, optionals, filters, binds, values, graphs,
        subqueries, minuses, exists_filters,
    ) = _split_blocks(body)
    frame = _bgp_frame(store, base_text, ns, counter)
    for sq in subqueries:
        # inner SELECT evaluates independently (its own modifiers and
        # aggregates apply first — the spec's bottom-up subquery rule),
        # projecting only its SELECT list; the result joins the outer
        # group on shared variables
        sf = _sparql_select(store, sq, ns)
        sf = sf.select(*[F.col(c).alias(f"?{c}") for c in sf.columns])
        if frame is None:
            frame = sf
            continue
        shared = [c for c in sf.columns if c in frame.columns]
        frame = frame.join(sf, shared) if shared else frame.crossJoin(sf)
    for gterm_text, gbody in graphs:
        gf = _graph_block_frame(store, gterm_text, gbody, ns, counter)
        if frame is None:
            frame = gf
            continue
        gf = _drop_colliding_meta(gf, frame)
        shared = [
            c for c in gf.columns
            if c in frame.columns and c.startswith("?")
        ]
        frame = frame.join(gf, shared) if shared else frame.crossJoin(gf)
    for vars_text, data_text in values:
        vf = _values_frame(store, vars_text, data_text, ns)
        if frame is None:
            frame = vf
            continue
        shared = [c for c in vf.columns if c in frame.columns]
        # VALUES joins the inline solution set on shared variables
        # (SPARQL join semantics); disjoint vars extend every binding
        frame = frame.join(vf, shared) if shared else frame.crossJoin(vf)
    if frame is None:
        raise ValueError("empty group pattern")
    for opt in optionals:
        opt_deferred: list[str] = []
        of = _compile_group(
            store, opt, ns, counter,
            outer_vars=frozenset(
                c for c in frame.columns if c.startswith("?")
            ),
            deferred=opt_deferred,
        )
        if of is None:
            continue
        of = _drop_colliding_meta(of, frame)
        shared = [
            c for c in of.columns
            if c in frame.columns and c.startswith("?")
        ]
        if opt_deferred:
            # LeftJoin(P1, P2, expr): the outer-referencing FILTER is
            # part of the JOIN CONDITION — a failing row keeps the
            # outer binding with NULL extension, it does not drop it
            # (which a post-join filter would wrongly do)
            import functools as _ft
            import operator as _op

            of_cols = set(of.columns)

            def _resolve(name, _L=frame, _R=of, _rc=of_cols):
                col = f"?{name}"
                return _R[col] if col in _rc else _L[col]

            cond = _ft.reduce(
                _op.and_,
                [frame[c] == of[c] for c in shared],
                F.lit(True),
            )

            def _resolve_meta(name, attr, _L=frame, _R=of, _rc=of_cols):
                col = _meta_col_name(name, attr)
                if col in _rc:
                    return _R[col]
                return _L[col] if col in set(_L.columns) else None

            for fexpr in opt_deferred:
                cond = cond & _sparql_filter(
                    fexpr, ns, var_col=_resolve, meta_col=_resolve_meta
                )
            keep_l = [frame[c].alias(c) for c in frame.columns]
            keep_r = [
                of[c].alias(c) for c in of.columns
                if c not in set(frame.columns)
            ]
            frame = frame.join(of, cond, "left").select(*keep_l, *keep_r)
            continue
        # OPTIONAL = left outer join on the shared variables (SPARQL's
        # left-join algebra); no shared vars -> every binding extends
        frame = (
            frame.join(of, shared, "left")
            if shared
            else frame.join(of, F.lit(True), "left")
        )
    for mbody in minuses:
        # MINUS: drop bindings matching the right side on the SHARED
        # variables; with no shared variables the left side is kept
        # whole (the spec's empty-domain-intersection rule)
        mf = _compile_group(store, mbody, ns, counter)
        shared = [
            c for c in mf.columns
            if c in frame.columns and c.startswith("?")
        ]
        if shared:
            frame = frame.join(mf.select(*shared), shared, "left_anti")
    for negated, ebody in exists_filters:
        # FILTER [NOT] EXISTS { P }: correlated semi/anti join on the
        # shared variables; uncorrelated EXISTS keeps every row iff
        # the pattern has any solution at all
        ef = _compile_group(store, ebody, ns, counter)
        shared = [
            c for c in ef.columns
            if c in frame.columns and c.startswith("?")
        ]
        how = "left_anti" if negated else "left_semi"
        if shared:
            frame = frame.join(ef.select(*shared), shared, how)
        else:
            frame = frame.join(ef.limit(1), F.lit(True), how)
    for bexpr in binds:
        var, col = _sparql_bind(bexpr, ns, meta_col=_frame_meta(frame))
        if f"?{var}" in frame.columns:
            raise ValueError(f"BIND target ?{var} is already bound")
        frame = frame.withColumn(f"?{var}", col)
    for fexpr in filters:
        if deferred is not None:
            need = set(re.findall(r"\?\w+", fexpr))
            have = {c for c in frame.columns if c.startswith("?")}
            if not need <= have and need <= (have | outer_vars):
                # references outer variables: becomes part of the
                # caller's left-join condition (LeftJoin expr)
                deferred.append(fexpr)
                continue
        frame = frame.filter(
            _sparql_filter(fexpr, ns, meta_col=_frame_meta(frame))
        )
    return frame


class _GraphScopedStore:
    """RdfStore view whose ``df`` is restricted to one named graph —
    lets a GRAPH block reuse the whole group compiler (BGP, paths,
    nested OPTIONAL/UNION, FILTER) unchanged."""

    def __init__(self, store: RdfStore, graph_iri: str):
        self.spark = store.spark
        self.df = store.df.filter(F.col("g") == graph_iri)
        self.list_graphs = store.list_graphs  # nested GRAPH ?var


def _graph_block_frame(
    store: RdfStore, gterm_text: str, gbody: str, ns, counter
) -> DataFrame:
    """``GRAPH <iri> { ... }`` scopes its body to that named graph;
    ``GRAPH ?g { ... }`` evaluates the body once per named graph and
    unions the branches with ``?g`` bound — graph catalogs are
    metadata-scale (the reference's RdfStore tracks them as a set,
    src/rdf/store.rs), so the one ``list_graphs`` job + per-graph
    branches stay small even when the triples do not.  The default
    (un-named) graph is never visible inside a GRAPH block; outside
    one, this engine queries the UNION of all graphs (a common store
    configuration, documented in :meth:`RdfStore.sparql`)."""
    if gterm_text.startswith("?"):
        gvar = gterm_text[1:]
        frames = []
        for g in store.list_graphs():
            f = _compile_group(
                _GraphScopedStore(store, g), gbody, ns, counter
            )
            frames.append(f.withColumn(f"?{gvar}", F.lit(g)))
        if not frames:
            raise ValueError("GRAPH ?var over a store with no named graphs")
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out
    _, iri_val = _sparql_term(gterm_text, ns)
    return _compile_group(
        _GraphScopedStore(store, iri_val), gbody, ns, counter
    )


def _values_frame(
    store: RdfStore, vars_text: str, data_text: str, ns: NamespaceRegistry
) -> DataFrame:
    """``VALUES ?x { ... }`` / ``VALUES (?x ?y) { (..) (..) }`` -> an
    inline solution frame with one ``?var`` string column per variable;
    UNDEF becomes NULL (the spec's unbound marker)."""
    names = re.findall(r"\?(\w+)", vars_text)
    tok_re = re.compile(
        r'<[^>]*>|"(?:[^"\\]|\\.)*"(?:@[\w-]+|\^\^<[^>]*>)?'
        r"|-?\d+\.\d+|-?\d+|[A-Za-z_][\w-]*:[\w.-]*[\w-]"
        r"|UNDEF|undef|[()]"
    )

    def term(tok: str):
        if tok.lower() == "undef":
            return None
        if re.fullmatch(r"-?\d+(\.\d+)?", tok):
            return tok  # numeric literal: stored lexical form
        return _sparql_term(tok, ns)[1]

    toks = tok_re.findall(data_text)
    rows: list[tuple] = []
    if vars_text.startswith("("):
        cur: list = []
        depth = 0
        for t in toks:
            if t == "(":
                depth, cur = depth + 1, []
            elif t == ")":
                depth = 0
                if len(cur) != len(names):
                    raise ValueError(
                        f"VALUES row arity {len(cur)} != {len(names)}"
                    )
                rows.append(tuple(cur))
            elif depth:
                cur.append(term(t))
            else:
                raise ValueError(f"VALUES data outside a row: {t!r}")
    else:
        rows = [(term(t),) for t in toks if t not in "()"]
    schema = ", ".join(f"`?{v}` string" for v in names)
    return store.spark.createDataFrame(rows, schema)


_EXPR_TOK = re.compile(
    r'(?P<ws>\s+)'
    r'|(?P<tok>\|\||&&|!=|<=|>=|!|=|<[^>\s]*>|<|>'
    r"|\(|\)|,|\*|/|\+|-"
    r"|\?\w+"
    r'|"(?:[^"\\]|\\.)*"'
    r"|\d+\.\d+|\d+"
    r"|[A-Za-z_][\w]*(?::[\w.-]*[\w-])?)"
    r"|(?P<bad>.)"
)


def _expr_tokens(body: str) -> list[str]:
    """Tokenize a SPARQL expression, RAISING on any character no
    token alternative matches (a findall-based scanner silently
    dropped stray characters, so e.g. ``5.`` misparsed as ``5`` and
    ``@``/``;`` vanished instead of erroring)."""
    toks: list[str] = []
    for m in _EXPR_TOK.finditer(body):
        if m.group("bad") is not None:
            raise ValueError(
                f"unexpected character {m.group('bad')!r} at offset "
                f"{m.start()} in expression {body!r}"
            )
        if m.group("tok") is not None:
            toks.append(m.group("tok"))
    return toks


# SPARQL 1.1 builtin library.  Value-shaped builtins run over the
# stored LEXICAL strings; the term-metadata builtins (LANG DATATYPE
# isIRI isURI isBLANK isLITERAL) read the hidden per-variable
# metadata columns that object-position bindings carry (see
# _simple_leg/_meta_col_name) and degrade to lexical-form inference
# where no metadata column exists (subject/predicate positions are
# IRI-or-blank by construction, so the inference is exact there).
_EXPR_STR_HUGE = 1 << 30  # SUBSTR with no length: to end of string

_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
_XSD_DOUBLE = "http://www.w3.org/2001/XMLSchema#double"
_XSD_BOOLEAN = "http://www.w3.org/2001/XMLSchema#boolean"
_RDF_LANGSTRING = (
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
)


def _meta_col_name(var: str, attr: str) -> str:
    """Hidden metadata column for a binding: ``#var$kind`` /
    ``#var$dt`` / ``#var$lang``.  The ``#`` prefix keeps them out of
    every ``?``-prefixed enumeration (SELECT *, join keys, UNION
    alignment) without special-casing."""
    return f"#{var}${attr}"


def _sparql_expr(body: str, ns: NamespaceRegistry, var_col=None,
                 meta_col=None):
    """Unified SPARQL expression compiler -> (Column, kind) with kind
    in {'num', 'str', 'bool', 'var'} — shared by FILTER, BIND, and
    non-aggregate SELECT expressions.

    Grammar (full SPARQL 1.1 operator precedence): ``||``, ``&&``,
    ``!``, comparisons (``= != < <= > >=``, ``[NOT] IN (...)``),
    additive/multiplicative arithmetic, unary minus, parentheses.
    Builtins: BOUND REGEX CONTAINS STRSTARTS STRENDS STRBEFORE
    STRAFTER STR STRLEN UCASE LCASE SUBSTR CONCAT REPLACE ABS CEIL
    FLOOR ROUND IF COALESCE isNUMERIC sameTerm, plus the
    term-metadata builtins LANG DATATYPE isIRI isURI isBLANK
    isLITERAL (exact via the hidden metadata columns object-position
    bindings carry; lexical-form inference — exact for subject/
    predicate positions — where a binding has none).

    Typing: a numeric literal / arithmetic / numeric builtin on either
    side of a comparison coerces both sides to double (SPARQL numeric
    comparison over our lexical string columns, try_cast so malformed
    bindings compare NULL-false rather than erroring); otherwise the
    comparison is on the stored string.  REGEX/REPLACE accept the
    ``"i"`` flag (prepended inline).  ``var_col`` (name -> Column)
    overrides variable resolution — the OPTIONAL left-join path routes
    outer variables to the outer frame through it.  ``meta_col``
    (name, attr in {'kind','dt','lang'}) -> Column-or-None resolves
    the hidden metadata columns; None (default) means no metadata is
    available and the term-metadata builtins fall back to inference."""
    if var_col is None:
        def var_col(name: str):
            return F.col(f"`?{name}`")

    if meta_col is None:
        def meta_col(name: str, attr: str):
            return None

    toks = _expr_tokens(body)
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def take(expect: str | None = None):
        t = peek()
        if t is None or (expect is not None and t != expect):
            raise ValueError(
                f"bad expression near {toks[pos[0]:]!r} in {body!r}"
            )
        pos[0] += 1
        return t

    def as_num(v):
        col, kind = v
        return col if kind == "num" else col.try_cast("double")

    def as_str(v):
        col, kind = v
        return col if kind in ("str", "var") else col.cast("string")

    def as_bool(v):
        col, kind = v
        if kind != "bool":
            raise ValueError(f"expected a boolean expression in {body!r}")
        return col

    def compare(lv, op, rv):
        if lv[1] == "num" or rv[1] == "num":
            lc, rc = as_num(lv), as_num(rv)
        else:
            lc, rc = as_str(lv), as_str(rv)
        return {
            "=": lc == rc, "!=": lc != rc, "<": lc < rc,
            "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc,
        }[op]

    def _term_meta(fn: str, name: str):
        """Term-metadata builtin over a bare ?var: exact through the
        binding's hidden metadata columns when the frame carries them
        (object position), per-row lexical inference otherwise —
        subject/predicate bindings are IRI-or-blank by construction
        (blanks store as ``_:``-prefixed lexical forms), so the
        inference is exact there.  A UNION can leave metadata NULL for
        rows bound in a metadata-less branch; the per-row isNotNull
        dispatch below keeps those rows on the inference path."""
        col = var_col(name)
        kind = meta_col(name, "kind")
        dt = meta_col(name, "dt")
        lang = meta_col(name, "lang")
        infer_blank = col.startswith("_:")
        infer_iri = F.when(col.isNotNull(), ~col.startswith("_:"))
        if fn == "isblank":
            c = (
                F.when(kind.isNotNull(), kind == F.lit(BLANK))
                .otherwise(infer_blank)
                if kind is not None
                else infer_blank
            )
            return (c, "bool")
        if fn in ("isiri", "isuri"):
            c = (
                F.when(kind.isNotNull(), kind == F.lit(IRI))
                .otherwise(infer_iri)
                if kind is not None
                else infer_iri
            )
            return (c, "bool")
        if fn == "isliteral":
            infer = F.when(col.isNotNull(), F.lit(False))
            c = (
                F.when(kind.isNotNull(), kind == F.lit(LITERAL))
                .otherwise(infer)
                if kind is not None
                else infer
            )
            return (c, "bool")
        if fn == "lang":
            # LANG on a non-literal is a SPARQL type error -> NULL
            # (false in a FILTER); plain literals yield ""
            c = (
                F.when(
                    kind == F.lit(LITERAL), F.coalesce(lang, F.lit(""))
                )
                if kind is not None
                else F.lit(None).cast("string")
            )
            return (c, "str")
        # datatype: plain literal -> xsd:string, lang-tagged ->
        # rdf:langString (SPARQL 1.1 17.4.2.7); non-literal -> NULL
        c = (
            F.when(
                kind == F.lit(LITERAL),
                F.coalesce(
                    dt,
                    F.when(lang.isNotNull(), F.lit(_RDF_LANGSTRING))
                    .otherwise(F.lit(_XSD_STRING)),
                ),
            )
            if kind is not None
            else F.lit(None).cast("string")
        )
        return (c, "str")

    def _term_meta_static(fn: str, v):
        """Term-metadata builtin over a non-variable expression: the
        compile-time kind decides (builtin results are literals); a
        'var'-kinded composite (e.g. COALESCE of vars) has no static
        answer and yields NULL."""
        col, kind = v
        if kind == "var":
            return (F.lit(None).cast("string"), "str") if fn in (
                "lang", "datatype"
            ) else (F.lit(None).cast("boolean"), "bool")
        if fn in ("isiri", "isuri", "isblank"):
            return (F.lit(False), "bool")
        if fn == "isliteral":
            return (F.lit(True), "bool")
        if fn == "lang":
            return (F.lit(""), "str")
        static_dt = {
            "str": _XSD_STRING, "num": _XSD_DOUBLE, "bool": _XSD_BOOLEAN
        }[kind]
        return (F.lit(static_dt), "str")

    def funcall(name: str):
        fn = name.lower()
        take("(")
        if fn in (
            "lang", "datatype", "isiri", "isuri", "isblank", "isliteral"
        ):
            # a bare ?var argument routes through the hidden metadata
            # columns; anything else is typed from its compiled kind
            if peek() is not None and peek().startswith("?"):
                save = pos[0]
                vtok = take()
                if peek() == ")":
                    take(")")
                    return _term_meta(fn, vtok[1:])
                pos[0] = save
            v = or_expr()
            take(")")
            return _term_meta_static(fn, v)
        args = []
        if peek() != ")":
            args.append(or_expr())
            while peek() == ",":
                take(",")
                args.append(or_expr())
        take(")")

        def arity(lo, hi=None):
            hi = lo if hi is None else hi
            if not (lo <= len(args) <= hi):
                raise ValueError(f"{name}() arity in {body!r}")

        def flagged_pattern(pat, flags):
            # "i" is the one widely-used SPARQL regex flag; inline it
            return F.when(
                flags.contains("i"), F.concat(F.lit("(?i)"), pat)
            ).otherwise(pat)

        if fn == "bound":
            arity(1)
            return (args[0][0].isNotNull(), "bool")
        if fn == "regex":
            arity(2, 3)
            pat = as_str(args[1])
            if len(args) == 3:
                pat = flagged_pattern(pat, as_str(args[2]))
            return (F.regexp_like(as_str(args[0]), pat), "bool")
        if fn in ("contains", "strstarts", "strends"):
            arity(2)
            a, b = as_str(args[0]), as_str(args[1])
            col = {
                "contains": a.contains(b),
                "strstarts": a.startswith(b),
                "strends": a.endswith(b),
            }[fn]
            return (col, "bool")
        if fn in ("strbefore", "strafter"):
            arity(2)
            a, b = as_str(args[0]), as_str(args[1])
            at = F.call_function("instr", a, b)
            if fn == "strbefore":
                col = F.when(at > 0, F.substring(a, F.lit(1), at - 1))
            else:
                col = F.when(
                    at > 0,
                    F.substring(
                        a, at + F.length(b), F.lit(_EXPR_STR_HUGE)
                    ),
                )
            return (col.otherwise(F.lit("")), "str")
        if fn == "str":
            arity(1)
            return (args[0][0].cast("string"), "str")
        if fn == "strlen":
            arity(1)
            return (F.length(as_str(args[0])).cast("double"), "num")
        if fn in ("ucase", "lcase"):
            arity(1)
            f = F.upper if fn == "ucase" else F.lower
            return (f(as_str(args[0])), "str")
        if fn == "substr":
            arity(2, 3)
            start = as_num(args[1]).cast("int")
            length = (
                as_num(args[2]).cast("int")
                if len(args) == 3
                else F.lit(_EXPR_STR_HUGE)
            )
            return (F.substring(as_str(args[0]), start, length), "str")
        if fn == "concat":
            arity(1, 64)
            return (F.concat(*[as_str(a) for a in args]), "str")
        if fn == "replace":
            arity(3, 4)
            pat = as_str(args[1])
            if len(args) == 4:
                pat = flagged_pattern(pat, as_str(args[3]))
            return (
                F.regexp_replace(as_str(args[0]), pat, as_str(args[2])),
                "str",
            )
        if fn in ("abs", "ceil", "floor", "round"):
            arity(1)
            f = {
                "abs": F.abs, "ceil": F.ceil,
                "floor": F.floor, "round": F.round,
            }[fn]
            return (f(as_num(args[0])).cast("double"), "num")
        if fn == "if":
            arity(3)
            return (
                F.when(as_bool(args[0]), args[1][0]).otherwise(args[2][0]),
                args[1][1],
            )
        if fn == "coalesce":
            arity(1, 64)
            return (F.coalesce(*[a[0] for a in args]), args[0][1])
        if fn == "isnumeric":
            arity(1)
            return (args[0][0].try_cast("double").isNotNull(), "bool")
        if fn == "sameterm":
            arity(2)
            return (as_str(args[0]) == as_str(args[1]), "bool")
        raise ValueError(f"unsupported function {name!r} in {body!r}")

    def primary():
        t = peek()
        if t == "(":
            take()
            e = or_expr()
            take(")")
            return e
        t = take()
        if t.startswith("?"):
            return (var_col(t[1:]), "var")
        if t.startswith('"'):
            return (F.lit(_unescape(t[1:-1])), "str")
        if t.startswith("<") and t.endswith(">"):
            return (F.lit(t[1:-1]), "str")
        if re.fullmatch(r"\d+(\.\d+)?", t):
            return (F.lit(float(t)), "num")
        if t.lower() in ("true", "false"):
            return (F.lit(t.lower() == "true"), "bool")
        if peek() == "(":
            return funcall(t)
        if ":" in t:
            return (F.lit(ns.expand(t)), "str")
        raise ValueError(f"bad operand {t!r} in {body!r}")

    def unary():
        if peek() == "-":
            take()
            v = unary()
            return (-as_num(v), "num")
        if peek() == "+":
            take()
            return (as_num(unary()), "num")
        return primary()

    def mul_expr():
        v = unary()
        while peek() in ("*", "/"):
            op = take()
            r = unary()
            col = as_num(v) * as_num(r) if op == "*" else as_num(v) / as_num(r)
            v = (col, "num")
        return v

    def add_expr():
        v = mul_expr()
        while peek() in ("+", "-"):
            op = take()
            r = mul_expr()
            col = as_num(v) + as_num(r) if op == "+" else as_num(v) - as_num(r)
            v = (col, "num")
        return v

    def rel_expr():
        v = add_expr()
        t = peek()
        if t in ("=", "!=", "<", "<=", ">", ">="):
            return (compare(v, take(), add_expr()), "bool")
        if t is not None and t.upper() in ("IN", "NOT"):
            neg = t.upper() == "NOT"
            take()
            if neg:
                if peek() is None or peek().upper() != "IN":
                    raise ValueError(f"NOT without IN in {body!r}")
                take()
            take("(")
            cond = None
            while True:
                e = compare(v, "=", add_expr())
                cond = e if cond is None else (cond | e)
                if peek() == ",":
                    take(",")
                    continue
                break
            take(")")
            return (~cond if neg else cond, "bool")
        return v

    def not_expr():
        if peek() == "!":
            take()
            return (~as_bool(not_expr()), "bool")
        return rel_expr()

    def and_expr():
        v = not_expr()
        while peek() == "&&":
            take()
            v = (as_bool(v) & as_bool(not_expr()), "bool")
        return v

    def or_expr():
        v = and_expr()
        while peek() == "||":
            take()
            v = (as_bool(v) | as_bool(and_expr()), "bool")
        return v

    out = or_expr()
    if pos[0] != len(toks):
        raise ValueError(f"trailing tokens {toks[pos[0]:]!r} in {body!r}")
    return out


def _sparql_filter(expr: str, ns: NamespaceRegistry, var_col=None,
                   meta_col=None):
    """FILTER expression -> Spark Column predicate (the boolean face
    of :func:`_sparql_expr`; see there for grammar + builtins).

    Non-boolean expressions take the SPARQL effective boolean value
    (spec 17.2.2): a string-shaped expression is true iff non-empty
    (NOT a cast — ``FILTER(?name)`` on "alice" is true), a numeric
    one iff non-zero and non-NaN; NULL (unbound / type error)
    evaluates false either way."""
    col, kind = _sparql_expr(expr, ns, var_col, meta_col)
    if kind == "bool":
        return col
    if kind == "num":
        return (col != 0) & ~F.isnan(col)
    # str / var: EBV of a (plain) literal is length > 0
    return F.length(col) > 0


def _sparql_bind(expr: str, ns: NamespaceRegistry,
                 meta_col=None) -> tuple[str, Column]:
    """``BIND(expr AS ?v)`` -> (var name, Column), via
    :func:`_sparql_expr` (full builtin library; numeric results are
    doubles, string builtins keep strings)."""
    m = re.match(r"(?is)^(.*)\s+AS\s+\?(\w+)\s*$", expr)
    if not m:
        raise ValueError(f"BIND must be 'expr AS ?var': {expr!r}")
    body, var = m.group(1), m.group(2)
    col, _kind = _sparql_expr(body, ns, meta_col=meta_col)
    return var, col


def _union_groups(body: str) -> "list[str] | None":
    """``{ G1 } UNION { G2 } [UNION { G3 } ...]`` at the top level of a
    WHERE body -> the group bodies; None when the body is not a
    union-of-groups."""
    groups: list[str] = []
    i, n = 0, len(body)
    while True:
        while i < n and body[i].isspace():
            i += 1
        if i >= n or body[i] != "{":
            return None
        j = _scan_balanced(body, i + 1, "{", "}")
        groups.append(body[i + 1:j - 1])
        i = j
        mu = re.match(r"(?is)\s*UNION\s*", body[i:])
        if mu:
            i += mu.end()
            continue
        break
    if i < n and body[i:].strip():
        return None  # trailing patterns after the groups: not a union
    return groups if len(groups) >= 2 else None


def _sparql_agg_column(fn: str, distinct: bool, target: str):
    """One SPARQL aggregate -> a Spark aggregate column over the
    stored-string binding.  SUM/AVG coerce to double; MIN/MAX compare
    numerically when the binding casts (string fallback via a
    composite struct key); COUNT(*) counts rows, COUNT(?v) non-null
    bindings."""
    if target == "*":
        if fn != "COUNT":
            raise ValueError(f"{fn}(*) is not valid SPARQL")
        return F.count(F.lit(1))
    col = F.col(f"`?{target}`")
    num = col.try_cast("double")
    if fn == "COUNT":
        return F.countDistinct(col) if distinct else F.count(col)
    if fn == "SUM":
        return F.sum_distinct(num) if distinct else F.sum(num)
    if fn == "AVG":
        return F.avg(num)  # AVG(DISTINCT) unsupported, caught below
    if fn == "MIN":
        return F.min(
            F.struct(
                F.coalesce(num, F.lit(float("inf"))).alias("k"),
                col.alias("s"),
            )
        )["s"]
    return F.max(
        F.struct(
            F.coalesce(num, F.lit(float("-inf"))).alias("k"),
            col.alias("s"),
        )
    )["s"]


def _sparql_select(
    store: RdfStore, query: str, parent_ns: NamespaceRegistry | None = None
) -> DataFrame:
    m = _SPARQL_RE.match(query)
    if not m:
        raise ValueError("unsupported SPARQL (BGP SELECT only)")
    ns = NamespaceRegistry()
    if parent_ns is not None:  # subqueries inherit outer PREFIXes
        ns.prefixes.update(parent_ns.prefixes)
    for pfx, iri_ in _PREFIX_RE.findall(m.group("prefixes") or ""):
        ns.add_prefix(pfx, iri_)

    counter = [0]
    # _compile_group recurses through UNION branches and nested
    # OPTIONAL groups (SPARQL UNION = concatenation of the branches'
    # solution multisets; variables absent from a branch are unbound)
    frame = _compile_group(store, m.group("body"), ns, counter)

    sel = m.group("vars").strip()
    group_vars = re.findall(r"\?(\w+)", m.group("group") or "")
    having = (m.groupdict().get("having") or "").strip()
    # select items: plain ?vars, (AGG(?v) AS ?alias) aggregates, and
    # (expr AS ?alias) non-aggregate expressions (BIND grammar)
    items: list[tuple] = []
    if sel != "*":
        for tok in re.findall(r"\((?:[^()]|\([^()]*\))*\)|\?\w+", sel):
            if tok.startswith("?"):
                items.append(("var", tok[1:]))
                continue
            am = _SPARQL_AGG_RE.match(tok)
            if am:
                fn, dist, target, alias = (
                    am.group(1).upper(), bool(am.group(2)),
                    am.group(3), am.group(4),
                )
                if dist and fn not in ("COUNT", "SUM"):
                    raise ValueError(f"{fn}(DISTINCT ...) not supported")
                items.append(("agg", fn, dist, target.lstrip("?"), alias))
                continue
            # non-aggregate select expression: reuse the BIND grammar
            try:
                var, col = _sparql_bind(
                    tok[1:-1].strip(), ns, meta_col=_frame_meta(frame)
                )
            except ValueError:
                raise ValueError(f"unsupported select expression {tok}")
            items.append(("expr", var, col))
    has_agg = any(it[0] == "agg" for it in items)
    # HAVING conjuncts -> (hidden agg columns, post-agg predicates)
    having_aggs: list = []
    having_preds: list = []
    if having:
        if not (has_agg or group_vars):
            raise ValueError("HAVING requires aggregation or GROUP BY")
        for i, cond in enumerate(re.split(r"&&", having)):
            hm = _HAVING_COND_RE.match(cond)
            if not hm:
                raise ValueError(f"unsupported HAVING condition {cond!r}")
            if hm.group("fn"):
                name = f"__hav{i}"
                having_aggs.append(
                    _sparql_agg_column(
                        hm.group("fn").upper(),
                        bool(hm.group("distinct")),
                        hm.group("target").lstrip("?"),
                    ).alias(name)
                )
                lhs = F.col(name).try_cast("double")
            else:
                lhs = F.col(hm.group("var")).try_cast("double")
            op, rhs = hm.group("op"), float(hm.group("num"))
            having_preds.append(
                {
                    "=": lhs == rhs, "!=": lhs != rhs,
                    "<": lhs < rhs, "<=": lhs <= rhs,
                    ">": lhs > rhs, ">=": lhs >= rhs,
                }[op]
            )
    if has_agg or group_vars:
        plain = [it[1] for it in items if it[0] == "var"]
        if any(it[0] == "expr" for it in items):
            raise ValueError(
                "select expressions with aggregation are not supported"
            )
        if set(plain) - set(group_vars):
            raise ValueError(
                "non-aggregated SELECT variables must appear in GROUP BY"
            )
        aggs = [
            _sparql_agg_column(it[1], it[2], it[3]).alias(it[4])
            for it in items
            if it[0] == "agg"
        ] + having_aggs
        gcols = [F.col(f"`?{g}`").alias(g) for g in group_vars]
        if not aggs:
            # projection-with-grouping (valid SPARQL: SELECT ?g ...
            # GROUP BY ?g with no aggregates) = the distinct group keys;
            # PySpark's agg() rejects an empty expression list
            frame = frame.select(*gcols).dropDuplicates()
        elif group_vars:
            frame = frame.groupBy(*gcols).agg(*aggs)
        else:
            frame = frame.agg(*aggs)
        for pred in having_preds:
            frame = frame.filter(pred)
        # project in SELECT order (drops any hidden HAVING aggregates)
        order_cols = [
            it[1] if it[0] == "var" else it[4] for it in items
        ]
        frame = frame.select(*order_cols)
    elif sel != "*":
        proj = []
        for it in items:
            if it[0] == "var":
                proj.append(F.col(f"`?{it[1]}`").alias(it[1]))
            else:  # expr
                proj.append(it[2].alias(it[1]))
        frame = frame.select(*proj)
    else:
        frame = frame.select(
            *[F.col(f"`{c}`").alias(c[1:]) for c in frame.columns if c.startswith("?")]
        )
    if m.group("distinct"):
        frame = frame.distinct()
    if m.group("order"):
        keys = []
        for om in re.finditer(
            r"(?i)(?:(ASC|DESC)\s*\(\s*\?(\w+)\s*\)|\?(\w+))",
            m.group("order"),
        ):
            direction, v = (om.group(1) or "ASC").upper(), (
                om.group(2) or om.group(3)
            )
            if v not in frame.columns:
                raise ValueError(
                    f"ORDER BY ?{v} must reference a selected variable"
                )
            # SPARQL numeric literals order numerically, not as their
            # stored lexical form ("33" > "9").  Composite sort key:
            # try_cast-to-double first (total order when every binding
            # is numeric; all-null when none is), stored string as the
            # tie-break/fallback.  Mixed bindings group numerics before
            # non-numerics in either direction (documented in sparql()).
            num = F.col(v).try_cast("double")
            if direction == "DESC":
                keys.extend([num.desc_nulls_last(), F.col(v).desc()])
            else:
                keys.extend([num.asc_nulls_last(), F.col(v).asc()])
        frame = frame.orderBy(*keys)
    if m.group("offset"):
        frame = frame.offset(int(m.group("offset")))
    if m.group("limit"):
        frame = frame.limit(int(m.group("limit")))
    return frame


def _verb_ns(prefixes: str) -> NamespaceRegistry:
    ns = NamespaceRegistry()
    for pfx, iri_ in _PREFIX_RE.findall(prefixes or ""):
        ns.add_prefix(pfx, iri_)
    return ns


def _sparql_ask(store: RdfStore, query: str) -> DataFrame:
    """ASK { P } -> one-row (ask boolean) frame: does the pattern have
    any solution?  One early-terminating head(1) probe."""
    m = _SPARQL_ASK_RE.match(query)
    ns = _verb_ns(m.group("prefixes"))
    if not m.group("body").strip():
        # empty group pattern = one empty solution (SPARQL algebra
        # unit): ASK {} is true, with no job at all
        got = True
    else:
        frame = _compile_group(store, m.group("body"), ns, [0])
        got = bool(frame.head(1))
    return store.spark.createDataFrame([(got,)], "ask boolean")


def _sparql_construct(
    store: RdfStore, query: str, shorthand: bool = False
) -> DataFrame:
    """CONSTRUCT { template } WHERE { P } -> distinct (s, p, o) frame.

    Each template triple becomes one projection of the solution frame
    (variables -> binding columns, constants -> literals); the
    projections union and solutions with an unbound template variable
    drop (the spec's instantiation rule).  LIMIT bounds the solution
    sequence before instantiation.  ``shorthand`` handles the SPARQL
    1.1 ``CONSTRUCT WHERE { plain triples }`` form, where the pattern
    doubles as the template."""
    if shorthand:
        m = _SPARQL_CONSTRUCT_WHERE_RE.match(query)
        template = m.group("body")
    else:
        m = _SPARQL_CONSTRUCT_RE.match(query)
        template = m.group("template")
    ns = _verb_ns(m.group("prefixes"))
    if not m.group("body").strip():
        # empty WHERE = one empty solution: instantiate the template
        # once (only all-constant template triples survive the
        # unbound-variable drop below)
        frame = store.spark.range(0, 1, 1, 1)
    else:
        frame = _compile_group(store, m.group("body"), ns, [0])
    if m.group("limit"):
        frame = frame.limit(int(m.group("limit")))
    out = None
    for stmt in _triple_statements(template):
        if len(stmt) % 3:
            raise ValueError(f"bad CONSTRUCT template statement {stmt!r}")
        for i in range(0, len(stmt), 3):
            cols = []
            for pos, tok in zip(("s", "p", "o"), stmt[i:i + 3]):
                kind, val = _sparql_term(tok, ns)
                if kind == "var":
                    # a template variable the WHERE never binds yields
                    # no triple (spec instantiation rule) — NULL here,
                    # dropped by the isNotNull filter below
                    col = (
                        F.col(f"`?{val}`")
                        if f"?{val}" in frame.columns
                        else F.lit(None).cast("string")
                    )
                else:
                    col = F.lit(val)
                cols.append(col.alias(pos))
            leg = frame.select(*cols)
            out = leg if out is None else out.unionByName(leg)
    if out is None:
        raise ValueError("empty CONSTRUCT template")
    return out.filter(
        F.col("s").isNotNull()
        & F.col("p").isNotNull()
        & F.col("o").isNotNull()
    ).distinct()


def _sparql_describe(store: RdfStore, query: str) -> DataFrame:
    """DESCRIBE <iri> / DESCRIBE ?v WHERE { P } -> distinct (s, p, o)
    triples whose subject or object is (a binding of) the resource —
    a symmetric concise-bounded-description.  The binding set stays a
    DataFrame: the subject and object legs are semi-joins (broadcast-
    able at metadata scale), never a driver collect."""
    m = _SPARQL_DESCRIBE_RE.match(query)
    ns = _verb_ns(m.group("prefixes"))
    whats = re.findall(_DESCRIBE_TERM, m.group("what"))
    var_whats = [w for w in whats if w.startswith("?")]
    consts = [
        _sparql_term(w, ns)[1] for w in whats if not w.startswith("?")
    ]
    frame = None
    if var_whats:
        if not m.group("body"):
            raise ValueError("DESCRIBE ?var requires a WHERE clause")
        frame = _compile_group(store, m.group("body"), ns, [0])
    vals = None
    for w in var_whats:
        col = f"?{w[1:]}"
        if col not in frame.columns:
            raise ValueError(f"DESCRIBE variable {w} is not bound")
        leg = frame.select(F.col(f"`{col}`").alias("val"))
        vals = leg if vals is None else vals.unionByName(leg)
    if consts:
        cdf = store.spark.createDataFrame(
            [(c,) for c in consts], "val string"
        )
        vals = cdf if vals is None else vals.unionByName(cdf)
    vals = vals.distinct()
    base = store.df.select("s", "p", "o")
    subj = base.join(vals, base["s"] == vals["val"], "left_semi")
    obj = base.join(vals, base["o"] == vals["val"], "left_semi")
    return subj.unionByName(obj).distinct()


def _scan_balanced(body: str, start: int, open_ch: str, close_ch: str) -> int:
    """Index one past the close that balances an already-open
    ``open_ch`` at depth 1, skipping string literals and IRIs
    atomically (a ``}`` or ``)`` inside ``"..."`` or ``<...>`` must not
    count).  Raises on exhaustion."""
    depth, k, n = 1, start, len(body)
    while k < n and depth:
        ch = body[k]
        if ch == '"':
            k += 1
            while k < n and (body[k] != '"' or body[k - 1] == "\\"):
                k += 1
        elif ch == "<":
            # only an IRI opener when a whitespace-free <...> follows;
            # otherwise it's the less-than operator inside a FILTER
            mi = re.match(r'<[^<>"\s{}|\\^`]*>', body[k:])
            if mi:
                k += mi.end() - 1
        elif ch == open_ch:
            depth += 1
        elif ch == close_ch:
            depth -= 1
        k += 1
    if depth:
        raise ValueError(f"unbalanced {open_ch}{close_ch} block")
    return k


def _split_blocks(body: str):
    """Split a WHERE body into (base pattern text, OPTIONAL block
    bodies, FILTER expressions, BIND expressions, VALUES blocks as
    (vars text, data text), GRAPH blocks as (graph term text, body),
    ``{ SELECT ... }`` subquery texts).  IRIs and string literals are
    skipped atomically so keywords inside them never match; OPTIONAL
    nesting is rejected by the brace scan ending at the first balanced
    close."""
    optionals: list[str] = []
    filters: list[str] = []
    binds: list[str] = []
    values: list[tuple[str, str]] = []
    graphs: list[tuple[str, str]] = []
    subqueries: list[str] = []
    minuses: list[str] = []
    exists_filters: list[tuple[bool, str]] = []
    out: list[str] = []
    i, n = 0, len(body)
    while i < n:
        ch = body[i]
        if ch == "<":  # IRI: atomic
            j = body.find(">", i)
            j = n if j < 0 else j + 1
            out.append(body[i:j])
            i = j
            continue
        if ch == '"':  # string literal: atomic, backslash-aware
            j = i + 1
            while j < n and (body[j] != '"' or body[j - 1] == "\\"):
                j += 1
            out.append(body[i:j + 1])
            i = j + 1
            continue
        mo = re.match(r"(?is)OPTIONAL\s*\{", body[i:])
        if mo:
            j = i + mo.end()
            k = _scan_balanced(body, j, "{", "}")
            optionals.append(body[j:k - 1])
            i = k
            continue
        mm = re.match(r"(?is)MINUS\s*\{", body[i:])
        if mm:
            j = i + mm.end()
            k = _scan_balanced(body, j, "{", "}")
            minuses.append(body[j:k - 1])
            i = k
            continue
        me = re.match(r"(?is)FILTER\s+(NOT\s+)?EXISTS\s*\{", body[i:])
        if me:
            j = i + me.end()
            k = _scan_balanced(body, j, "{", "}")
            exists_filters.append((bool(me.group(1)), body[j:k - 1]))
            i = k
            continue
        mf = re.match(r"(?is)FILTER\s*\(", body[i:])
        if mf:
            j = i + mf.end()
            k = _scan_balanced(body, j, "(", ")")
            filters.append(body[j:k - 1])
            i = k
            continue
        mb = re.match(r"(?is)BIND\s*\(", body[i:])
        if mb:
            j = i + mb.end()
            k = _scan_balanced(body, j, "(", ")")
            binds.append(body[j:k - 1])
            i = k
            continue
        mv = re.match(
            r"(?is)VALUES\s+(\?\w+|\((?:\s*\?\w+)+\s*\))\s*\{", body[i:]
        )
        if mv:
            j = i + mv.end()
            k = _scan_balanced(body, j, "{", "}")
            values.append((mv.group(1), body[j:k - 1]))
            i = k
            continue
        mg = re.match(
            r"(?is)GRAPH\s+(<[^>]*>|\?\w+|[A-Za-z_][\w-]*:[\w.-]*[\w-])"
            r"\s*\{",
            body[i:],
        )
        if mg:
            j = i + mg.end()
            k = _scan_balanced(body, j, "{", "}")
            graphs.append((mg.group(1), body[j:k - 1]))
            i = k
            continue
        ms = re.match(r"(?is)\{(?=\s*SELECT\b)", body[i:])
        if ms:
            j = i + ms.end()
            k = _scan_balanced(body, j, "{", "}")
            subqueries.append(body[j:k - 1])
            i = k
            continue
        out.append(ch)
        i += 1
    return (
        "".join(out), optionals, filters, binds, values, graphs,
        subqueries, minuses, exists_filters,
    )


_PATH_OPS = frozenset("/|^()*+?!")


def _triple_statements(text: str) -> list[list[str]]:
    """Tokenize pattern text into '.'-separated statements ('.' can't
    just split the string — it would cut IRIs like example.org apart).
    A lone '?' (not opening a variable) and the other path operator
    characters tokenize individually; the literal branch keeps
    ^^<datatype> atomic.  Shared by WHERE-body BGPs and CONSTRUCT
    templates."""
    tok_re = re.compile(
        r'<[^>]*>'
        r'|"(?:[^"\\]|\\.)*"(?:@[\w-]+|\^\^<[^>]*>)?'
        r"|\?\w+"
        r"|_:[\w-]+"
        r"|[A-Za-z_][\w-]*:[\w.-]*[\w-]"
        r"|\ba\b"
        r"|\."
        r"|[/|^()*+?!]"
    )
    statements: list[list[str]] = []
    cur: list[str] = []
    for tok in tok_re.findall(text):
        if tok == ".":
            if cur:
                statements.append(cur)
                cur = []
            continue
        cur.append(tok)
    if cur:
        statements.append(cur)
    return statements


def _bgp_frame(store: RdfStore, text: str, ns: NamespaceRegistry, counter):
    """Triple patterns -> one DataFrame with ``?var`` columns (None when
    the text holds no patterns).  Each pattern is a filtered scan;
    shared variables equi-join.  The predicate position accepts SPARQL
    1.1 property paths (``^`` inverse, ``/`` sequence, ``|``
    alternative, ``*``/``+``/``?`` closures, parentheses); a statement
    using path operators must be '.'-separated from its neighbors."""
    statements = _triple_statements(text)
    if not statements:
        return None

    frame = None
    for stmt in statements:
        has_path = any(t in _PATH_OPS for t in stmt)
        if not has_path:
            # plain triples; '.'-less runs of 3k tokens stay supported
            if len(stmt) % 3:
                raise ValueError(f"dangling tokens in WHERE clause: {stmt!r}")
            legs = [
                _simple_leg(
                    store,
                    tuple(_sparql_term(t, ns) for t in stmt[i:i + 3]),
                    counter,
                )
                for i in range(0, len(stmt), 3)
            ]
        elif len(stmt) >= 3:
            ts = _sparql_term(stmt[0], ns)
            to = _sparql_term(stmt[-1], ns)
            legs = [_path_leg(store, ts, stmt[1:-1], to, ns, counter)]
        else:
            raise ValueError(f"bad property-path pattern: {stmt!r}")
        for leg in legs:
            if frame is None:
                frame = leg
            else:
                # join on the ?binding columns only; a duplicate hidden
                # metadata column (same var in object position twice)
                # keeps the FIRST leg's copy — same-lexical bindings
                # join regardless of term metadata, matching the
                # lexical join semantics the oracles replay
                dup_meta = [
                    c for c in leg.columns
                    if c in frame.columns and not c.startswith("?")
                ]
                if dup_meta:
                    leg = leg.drop(*dup_meta)
                shared = [
                    c for c in leg.columns
                    if c in frame.columns and c.startswith("?")
                ]
                frame = (
                    frame.join(leg, shared) if shared else frame.crossJoin(leg)
                )
    return frame


def _simple_leg(store: RdfStore, pattern, counter) -> DataFrame:
    """One plain triple pattern -> a filtered scan with ?var columns.
    An object-position variable also carries the triple's term
    metadata (o_kind/o_datatype/o_lang) as hidden ``#var$...``
    columns — the exact source for the LANG/DATATYPE/isIRI/isBLANK/
    isLITERAL builtins.  Subject/predicate variables need none:
    their kind is decidable from the lexical form (``_:`` prefix)."""
    counter[0] += 1
    ts, tp, to = pattern
    leg = store.df
    cols = []
    for pos, (kind, val) in zip(("s", "p", "o"), (ts, tp, to)):
        if kind == "value":
            leg = leg.filter(F.col(pos) == val)
        else:
            cols.append(F.col(pos).alias(f"?{val}"))
            if pos == "o":
                cols.extend([
                    F.col("o_kind").alias(_meta_col_name(val, "kind")),
                    F.col("o_datatype").alias(_meta_col_name(val, "dt")),
                    F.col("o_lang").alias(_meta_col_name(val, "lang")),
                ])
    return (
        leg.select(*cols)
        if cols
        else leg.select(F.lit(1).alias(f"__m{counter[0]}"))
    )


def _parse_path(toks: list[str], ns: NamespaceRegistry):
    """Property-path token list -> AST.  Grammar (SPARQL 1.1 §9.1):
    alt := seq ('|' seq)* ; seq := step ('/' step)* ;
    step := '^' step | prim ('*'|'+'|'?')* ; prim := '(' alt ')' | iri.
    Variables and negated property sets are not path elements here."""
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def take():
        t = peek()
        pos[0] += 1
        return t

    def alt():
        parts = [seq()]
        while peek() == "|":
            take()
            parts.append(seq())
        return parts[0] if len(parts) == 1 else ("alt", parts)

    def seq():
        parts = [step()]
        while peek() == "/":
            take()
            parts.append(step())
        return parts[0] if len(parts) == 1 else ("seq", parts)

    def step():
        if peek() == "^":
            take()
            return ("inv", step())
        if peek() == "!":
            take()
            return negated()
        node = prim()
        while peek() in ("*", "+", "?"):
            node = ({"*": "star", "+": "plus", "?": "opt"}[take()], node)
        return node

    def negated():
        # negated property set (§9.1 PathNegatedPropertySet): !iri or
        # !(iri1|iri2|^iri3); forward and inverse members split into
        # separate relations per the spec's NPS evaluation
        fwd: list[str] = []
        rev: list[str] = []

        def member():
            inv = peek() == "^"
            if inv:
                take()
            t = take()
            if t is None or t in _PATH_OPS:
                raise ValueError(f"bad negated property set near {t!r}")
            kind, val = _sparql_term(t, ns)
            if kind != "value":
                raise ValueError(
                    "variables are not allowed inside property paths"
                )
            (rev if inv else fwd).append(val)

        if peek() == "(":
            take()
            member()
            while peek() == "|":
                take()
                member()
            if take() != ")":
                raise ValueError("unbalanced ( ) in negated property set")
        else:
            member()
        node = ("nps", fwd, rev)
        while peek() in ("*", "+", "?"):
            node = ({"*": "star", "+": "plus", "?": "opt"}[take()], node)
        return node

    def prim():
        t = take()
        if t == "(":
            node = alt()
            if take() != ")":
                raise ValueError("unbalanced ( ) in property path")
            return node
        if t is None or t in _PATH_OPS:
            raise ValueError(f"bad property path near {t!r}")
        kind, val = _sparql_term(t, ns)
        if kind != "value":
            raise ValueError("variables are not allowed inside property paths")
        return ("atom", val)

    node = alt()
    if peek() is not None:
        raise ValueError(f"trailing property-path tokens: {toks[pos[0]:]!r}")
    return node


def _path_leg(
    store: RdfStore, ts, path_toks: list[str], to, ns, counter
) -> DataFrame:
    """One ``subject path object`` statement -> a leg frame with ?var
    columns, like :func:`_simple_leg` but over the path's node-pair
    relation.  Zero-length paths (``*``/``?``) match every term in the
    graph plus any bound endpoint of this statement (SPARQL 1.1
    ZeroLengthPath)."""
    counter[0] += 1
    node = _parse_path(path_toks, ns)
    bound = [val for kind, val in (ts, to) if kind == "value"]

    def identity() -> DataFrame:
        nodes = store.df.select(F.col("s").alias("__ps")).union(
            store.df.select(F.col("o").alias("__ps"))
        )
        if bound:
            nodes = nodes.union(
                store.spark.createDataFrame(
                    [(b,) for b in bound], "__ps string"
                )
            )
        return nodes.distinct().select(
            "__ps", F.col("__ps").alias("__po")
        )

    leg = _path_rel(store, node, identity)
    # same-variable endpoints (?x path ?x) bind once, pairs with s = o
    if ts[0] == "var" and to[0] == "var" and ts[1] == to[1]:
        return leg.filter(F.col("__ps") == F.col("__po")).select(
            F.col("__ps").alias(f"?{ts[1]}")
        )
    cols = []
    for pos, (kind, val) in zip(("__ps", "__po"), (ts, to)):
        if kind == "value":
            leg = leg.filter(F.col(pos) == val)
        else:
            cols.append(F.col(pos).alias(f"?{val}"))
    return (
        leg.select(*cols)
        if cols
        else leg.select(F.lit(1).alias(f"__m{counter[0]}"))
    )


def _path_rel(store: RdfStore, node, identity) -> DataFrame:
    """Path AST -> its node-pair relation as a frame ``__ps, __po``.
    Bag semantics for atoms/inverse/sequence/alternative, distinct
    pairs for the closure forms — the SPARQL 1.1 evaluation rules.
    Sequences are equi-joins.  Closures are :func:`_path_closure`: a
    numpy closure on the driver when the base relation is small, else
    one superstep per hop of the longest shortest path."""
    kind = node[0]
    if kind == "atom":
        return store.df.filter(F.col("p") == node[1]).select(
            F.col("s").alias("__ps"), F.col("o").alias("__po")
        )
    if kind == "nps":
        # negated property set: forward triples whose predicate is
        # outside the forward member set, unioned with reversed
        # triples outside the inverse member set (§9.1 NPS evaluation)
        fwd, rev = node[1], node[2]
        parts = []
        if fwd or not rev:
            r = store.df
            if fwd:
                r = r.filter(~F.col("p").isin(fwd))
            parts.append(
                r.select(F.col("s").alias("__ps"), F.col("o").alias("__po"))
            )
        if rev:
            parts.append(
                store.df.filter(~F.col("p").isin(rev)).select(
                    F.col("o").alias("__ps"), F.col("s").alias("__po")
                )
            )
        out = parts[0]
        for p_ in parts[1:]:
            out = out.union(p_)
        return out
    if kind == "inv":
        r = _path_rel(store, node[1], identity)
        return r.select(
            F.col("__po").alias("__ps"), F.col("__ps").alias("__po")
        )
    if kind == "seq":
        out = _path_rel(store, node[1][0], identity)
        for child in node[1][1:]:
            r = _path_rel(store, child, identity)
            out = (
                out.withColumnRenamed("__po", "__mid")
                .join(r.withColumnRenamed("__ps", "__mid"), "__mid")
                .select("__ps", "__po")
            )
        return out
    if kind == "alt":
        out = _path_rel(store, node[1][0], identity)
        for child in node[1][1:]:
            out = out.union(_path_rel(store, child, identity))
        return out
    if kind == "opt":
        return _path_rel(store, node[1], identity).union(identity()).distinct()
    if kind == "plus":
        return _path_closure(_path_rel(store, node[1], identity))
    if kind == "star":
        return _path_closure(
            _path_rel(store, node[1], identity)
        ).union(identity()).distinct()
    raise ValueError(f"unsupported property path node {kind!r}")


def _closure_pairs_vec(src_idx, dst_idx, n: int, pair_budget: int):
    """Transitive closure over integer vertex indices as (root, node)
    pairs via SIMULTANEOUS multi-source BFS on a CSR view — per round
    one flat neighbor gather + one unique-key dedup, all numpy (the
    same kernel family as algorithms/paths._bfs_driver; no per-source
    Python loop).  Returns (roots, nodes) arrays, or None when the
    closure exceeds ``pair_budget`` pairs (dense reachability can be
    O(V^2) — the caller falls back to the distributed loop rather
    than materializing that on the driver)."""
    import numpy as np

    from samyama_graph_spark.algorithms.paths import _csr

    dd, indptr, _ = _csr(src_idx, dst_idx, n)
    # pair key = root * n + node (n < 2^31 here, so no int64 overflow)
    base_keys = np.unique(src_idx.astype(np.int64) * n + dst_idx)
    seen = base_keys
    frontier = base_keys
    while frontier.size:
        fr, fn = frontier // n, frontier % n
        starts, ends = indptr[fn], indptr[fn + 1]
        counts = ends - starts
        total = int(counts.sum())
        if total == 0:
            break
        offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
        idx = np.repeat(starts - offs, counts) + np.arange(total)
        keys = np.repeat(fr, counts) * n + dd[idx]
        keys = np.unique(keys)
        # drop pairs already known (sorted-merge membership test;
        # seen is non-empty inside the loop — it starts as base_keys)
        pos = np.minimum(np.searchsorted(seen, keys), seen.size - 1)
        fresh = keys[seen[pos] != keys]
        if fresh.size == 0:
            break
        if seen.size + fresh.size > pair_budget:
            return None
        seen = np.union1d(seen, fresh)
        frontier = fresh
    return seen // n, seen % n


def _path_closure(rel: DataFrame) -> DataFrame:
    """Transitive closure of the pair relation ``rel`` (``__ps, __po``)
    as distinct pairs: SPARQL's ``p+``.

    A reach loop (:func:`operators.traversal.reach`) on
    ``algorithms.util.superstep``, seeded with the distinct base pairs
    as ``start = __ps, id = __po``: each superstep extends the pairs
    reached at the last hop by one base edge, so ``(a, a)`` is reached
    exactly when a cycle leads back to ``a``.  The loop halts at the
    first hop that adds no pair, which a finite relation guarantees, so
    an n-link chain costs n jobs.  The result reads the last round's
    checkpoint, so a nested or sequenced closure reads it, not its
    lineage.

    Under ``util.DRIVER_EDGE_GUARD`` base pairs (read at call time)
    superstep's driver path collects them and :func:`_closure_pairs_vec`
    settles the closure in numpy, unless it exceeds 4 M pairs; the loop
    runs then.  Both yield the same pair set.  Pairs with a NULL end
    lead nowhere."""
    from samyama_graph_spark.operators.traversal import reach

    spark = rel.sparkSession
    base = rel.select("__ps", "__po").toDF("src", "dst").dropna()

    def driver(pdf):
        import pandas as pd

        if len(pdf) == 0:
            return spark.createDataFrame([], "start string, id string")
        # IRI/literal strings -> dense indices for the kernel
        idx, vid = pd.factorize(pd.concat([pdf["src"], pdf["dst"]]))
        m = len(pdf)
        got = _closure_pairs_vec(
            idx[:m], idx[m:], len(vid), pair_budget=4_000_000
        )
        if got is None:
            return None
        return spark.createDataFrame(
            pd.DataFrame({"start": vid[got[0]], "id": vid[got[1]]}),
            "start string, id string",
        )

    seeds = base.toDF("start", "id").distinct()
    reached = reach(
        "path_closure", seeds, base, rounds=sys.maxsize, driver=driver
    )
    return reached.select("start", "id").toDF("__ps", "__po")


