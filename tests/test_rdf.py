"""RDF triple store + N-Triples + SPARQL BGP tests (reference
src/rdf/store.rs:66-250, serialization/ntriples.rs, and the
SPARQL-executes-here upgrade over src/sparql/executor.rs:33-54)."""

from __future__ import annotations

import pytest

from samyama_graph_spark.rdf import (
    NamespaceRegistry,
    RdfStore,
    blank,
    iri,
    literal,
    parse_ntriples,
)

_EX = "http://example.org/"

_NT = f"""
# people
<{_EX}alice> <{_EX}knows> <{_EX}bob> .
<{_EX}bob> <{_EX}knows> <{_EX}carol> .
<{_EX}alice> <{_EX}name> "Alice" .
<{_EX}bob> <{_EX}name> "Bob"@en .
<{_EX}carol> <{_EX}age> "33"^^<http://www.w3.org/2001/XMLSchema#integer> .
_:b1 <{_EX}name> "Anon \\"quoted\\"" .
"""


@pytest.fixture()
def store(spark):
    st = RdfStore(spark)
    st.insert_ntriples(_NT)
    return st


def test_parse_ntriples_forms():
    triples = parse_ntriples(_NT)
    assert len(triples) == 6
    kinds = {(s.kind, o.kind) for s, _, o in triples}
    assert ("blank", "literal") in kinds
    langs = {o.lang for _, _, o in triples if o.lang}
    assert langs == {"en"}
    dts = {o.datatype for _, _, o in triples if o.datatype}
    assert dts == {"http://www.w3.org/2001/XMLSchema#integer"}
    # escaped quote round-trips
    assert any(o.value == 'Anon "quoted"' for _, _, o in triples)


def test_store_basics(spark, store):
    assert len(store) == 6
    assert store.contains(iri(f"{_EX}alice"), iri(f"{_EX}knows"), iri(f"{_EX}bob"))
    # idempotent insert (set semantics, store.rs HashSet)
    store.insert(parse_ntriples(f"<{_EX}alice> <{_EX}knows> <{_EX}bob> ."))
    assert len(store) == 6
    store.remove(parse_ntriples(f"<{_EX}alice> <{_EX}knows> <{_EX}bob> ."))
    assert len(store) == 5
    assert not store.contains(
        iri(f"{_EX}alice"), iri(f"{_EX}knows"), iri(f"{_EX}bob")
    )


def test_pattern_query(store):
    assert store.query(p=f"{_EX}knows").count() == 2
    assert store.query(s=f"{_EX}alice").count() == 2
    got = store.query(s=f"{_EX}bob", p=f"{_EX}name").collect()
    assert len(got) == 1 and got[0]["o"] == "Bob" and got[0]["o_lang"] == "en"
    assert store.subjects().count() == 4  # alice bob carol _:b1
    assert store.predicates().count() == 3


def test_named_graphs(spark):
    st = RdfStore(spark)
    st.insert_ntriples(f"<{_EX}x> <{_EX}p> <{_EX}y> .", graph=f"{_EX}g1")
    st.insert_ntriples(f"<{_EX}x> <{_EX}p> <{_EX}z> .", graph=f"{_EX}g2")
    st.insert_ntriples(f"<{_EX}x> <{_EX}p> <{_EX}w> .")
    assert sorted(st.list_graphs()) == [f"{_EX}g1", f"{_EX}g2"]
    assert st.get_graph(f"{_EX}g1").count() == 1
    # default graph only in serialization
    assert "w" in st.to_ntriples() and "g1" not in st.to_ntriples()


def test_ntriples_roundtrip(spark, store):
    out = store.to_ntriples()
    st2 = RdfStore(spark)
    st2.insert_ntriples(out)
    assert len(st2) == len(store)
    assert sorted(out.splitlines()) == sorted(st2.to_ntriples().splitlines())


def test_namespaces():
    ns = NamespaceRegistry()
    ns.add_prefix("ex", _EX)
    assert ns.expand("ex:alice") == f"{_EX}alice"
    assert ns.expand("rdf:type").endswith("#type")
    assert ns.compact(f"{_EX}alice") == "ex:alice"
    assert ns.compact("http://nowhere/else") is None
    with pytest.raises(ValueError):
        ns.expand("nope:thing")


def test_sparql_bgp_join(store):
    # friend-of-friend: two patterns joined on ?m
    got = store.sparql(
        f"""
        SELECT ?a ?c WHERE {{
            ?a <{_EX}knows> ?m .
            ?m <{_EX}knows> ?c .
        }}
        """
    ).collect()
    assert [(r["a"], r["c"]) for r in got] == [
        (f"{_EX}alice", f"{_EX}carol")
    ]


def test_sparql_prefix_literal_filter_limit(store):
    got = store.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT DISTINCT ?who WHERE {{
            ?who ex:name "Alice" .
        }} LIMIT 5
        """
    ).collect()
    assert [r["who"] for r in got] == [f"{_EX}alice"]


def test_sparql_star_and_bound_subject(store):
    got = store.sparql(
        f"SELECT * WHERE {{ <{_EX}alice> <{_EX}knows> ?x . }}"
    ).collect()
    assert [r["x"] for r in got] == [f"{_EX}bob"]


def test_sparql_filter_comparisons_and_builtins(spark):
    st = RdfStore(spark)
    st.insert_ntriples(
        f"""
<{_EX}a> <{_EX}age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
<{_EX}b> <{_EX}age> "25"^^<http://www.w3.org/2001/XMLSchema#integer> .
<{_EX}c> <{_EX}age> "40"^^<http://www.w3.org/2001/XMLSchema#integer> .
<{_EX}a> <{_EX}name> "Ada" .
<{_EX}b> <{_EX}name> "Bob" .
<{_EX}c> <{_EX}name> "Cleo" .
"""
    )
    # numeric comparison coerces the variable side to double
    got = st.sparql(
        f"""
        SELECT ?p WHERE {{
            ?p <{_EX}age> ?a .
            FILTER(?a >= 30)
        }} ORDER BY ?p
        """
    ).collect()
    assert [r["p"] for r in got] == [f"{_EX}a", f"{_EX}c"]
    # boolean combinators + regex + string equality
    got = st.sparql(
        f"""
        SELECT ?p WHERE {{
            ?p <{_EX}age> ?a . ?p <{_EX}name> ?n .
            FILTER((?a < 35 && regex(?n, "^A")) || ?n = "Cleo")
        }} ORDER BY ?p
        """
    ).collect()
    assert [r["p"] for r in got] == [f"{_EX}a", f"{_EX}c"]
    # negation + strstarts
    got = st.sparql(
        f"""
        SELECT ?p WHERE {{
            ?p <{_EX}name> ?n . FILTER(!strstarts(?n, "B"))
        }} ORDER BY ?p
        """
    ).collect()
    assert [r["p"] for r in got] == [f"{_EX}a", f"{_EX}c"]


def test_sparql_optional_left_join(spark):
    st = RdfStore(spark)
    st.insert_ntriples(
        f"""
<{_EX}a> <{_EX}name> "Ada" .
<{_EX}b> <{_EX}name> "Bob" .
<{_EX}a> <{_EX}email> "ada@x.org" .
"""
    )
    got = st.sparql(
        f"""
        SELECT ?n ?e WHERE {{
            ?p <{_EX}name> ?n .
            OPTIONAL {{ ?p <{_EX}email> ?e . }}
        }} ORDER BY ?n
        """
    ).collect()
    assert [(r["n"], r["e"]) for r in got] == [
        ("Ada", "ada@x.org"),
        ("Bob", None),  # unmatched OPTIONAL binds NULL, row survives
    ]
    # bound() distinguishes the two
    got = st.sparql(
        f"""
        SELECT ?n WHERE {{
            ?p <{_EX}name> ?n .
            OPTIONAL {{ ?p <{_EX}email> ?e . }}
            FILTER(!bound(?e))
        }}
        """
    ).collect()
    assert [r["n"] for r in got] == ["Bob"]


def test_sparql_order_limit_offset(spark):
    st = RdfStore(spark)
    st.insert_ntriples(
        "\n".join(
            f'<{_EX}p{i}> <{_EX}rank> "{i}"'
            f"^^<http://www.w3.org/2001/XMLSchema#integer> ."
            for i in range(6)
        )
    )
    got = st.sparql(
        f"""
        SELECT ?p ?r WHERE {{ ?p <{_EX}rank> ?r . }}
        ORDER BY DESC(?r) LIMIT 3 OFFSET 1
        """
    ).collect()
    assert [r["p"] for r in got] == [f"{_EX}p4", f"{_EX}p3", f"{_EX}p2"]
    # ORDER BY must reference a selected variable
    with pytest.raises(ValueError, match="selected variable"):
        st.sparql(
            f"SELECT ?p WHERE {{ ?p <{_EX}rank> ?r . }} ORDER BY ?z"
        )


def test_sparql_order_by_numeric_not_lexicographic(spark):
    # multi-digit values: "33" must sort after "9" numerically even
    # though it precedes it lexicographically
    st = RdfStore(spark)
    st.insert_ntriples(
        "\n".join(
            f'<{_EX}v{v}> <{_EX}rank> "{v}"'
            f"^^<http://www.w3.org/2001/XMLSchema#integer> ."
            for v in (2, 10, 9, 33)
        )
    )
    got = st.sparql(
        f"SELECT ?p ?r WHERE {{ ?p <{_EX}rank> ?r . }} ORDER BY DESC(?r)"
    ).collect()
    assert [r["r"] for r in got] == ["33", "10", "9", "2"]
    got = st.sparql(
        f"SELECT ?p ?r WHERE {{ ?p <{_EX}rank> ?r . }} ORDER BY ?r"
    ).collect()
    assert [r["r"] for r in got] == ["2", "9", "10", "33"]
    # non-numeric bindings still order lexicographically
    st2 = RdfStore(spark)
    st2.insert_ntriples(
        f'<{_EX}a> <{_EX}n> "pear" .\n<{_EX}b> <{_EX}n> "apple" .'
    )
    got = st2.sparql(
        f"SELECT ?n WHERE {{ ?p <{_EX}n> ?n . }} ORDER BY ?n"
    ).collect()
    assert [r["n"] for r in got] == ["apple", "pear"]


def test_sparql_brackets_inside_literals(spark):
    # ")" in a FILTER string argument and "}" inside an OPTIONAL's
    # literal must not confuse the depth scans
    st = RdfStore(spark)
    st.insert_ntriples(
        f"""
<{_EX}a> <{_EX}name> "f(x)" .
<{_EX}b> <{_EX}name> "plain" .
<{_EX}a> <{_EX}note> "curly }} here" .
<{_EX}a> <{_EX}tag> "t1" .
"""
    )
    got = st.sparql(
        f"""
        SELECT ?p WHERE {{
            ?p <{_EX}name> ?n . FILTER(contains(?n, "(x)"))
        }}
        """
    ).collect()
    assert [r["p"] for r in got] == [f"{_EX}a"]
    got = st.sparql(
        f"""
        SELECT ?n ?t WHERE {{
            ?p <{_EX}name> ?n .
            OPTIONAL {{ ?p <{_EX}note> "curly }} here" . ?p <{_EX}tag> ?t }}
        }} ORDER BY ?n
        """
    ).collect()
    assert [(r["n"], r["t"]) for r in got] == [
        ("f(x)", "t1"),
        ("plain", None),
    ]


def test_sparql_union_groups(spark):
    st = RdfStore(spark)
    st.insert_ntriples(
        f"""
<{_EX}a> <{_EX}cat> "x" .
<{_EX}b> <{_EX}dog> "y" .
<{_EX}c> <{_EX}cat> "z" .
"""
    )
    got = st.sparql(
        f"""
        SELECT ?s ?v WHERE {{
            {{ ?s <{_EX}cat> ?v . }} UNION {{ ?s <{_EX}dog> ?v . }}
        }} ORDER BY ?v
        """
    ).collect()
    assert [(r["s"].rsplit("/", 1)[-1], r["v"]) for r in got] == [
        ("a", "x"), ("b", "y"), ("c", "z"),
    ]
    # branch-local variables are unbound (NULL) in the other branch
    got = st.sparql(
        f"""
        SELECT ?s ?v ?w WHERE {{
            {{ ?s <{_EX}cat> ?v . }} UNION {{ ?s <{_EX}dog> ?w . }}
        }} ORDER BY ?s
        """
    ).collect()
    assert [(r["v"], r["w"]) for r in got] == [
        ("x", None), (None, "y"), ("z", None),
    ]


def test_sparql_aggregates_group_by(spark):
    st = RdfStore(spark)
    st.insert_ntriples(
        "\n".join(
            f'<{_EX}p{i}> <{_EX}team> "{t}" .\n'
            f'<{_EX}p{i}> <{_EX}score> "{s}"'
            f"^^<http://www.w3.org/2001/XMLSchema#integer> ."
            for i, (t, s) in enumerate(
                [("red", 10), ("red", 2), ("blue", 33), ("blue", 9), ("blue", 9)]
            )
        )
    )
    got = st.sparql(
        f"""
        SELECT ?t (COUNT(?p) AS ?n) (SUM(?s) AS ?total)
               (AVG(?s) AS ?mean) (MIN(?s) AS ?lo) (MAX(?s) AS ?hi)
        WHERE {{
            ?p <{_EX}team> ?t .
            ?p <{_EX}score> ?s .
        }} GROUP BY ?t ORDER BY ?t
        """
    ).collect()
    rows = [
        (r["t"], r["n"], r["total"], r["mean"], r["lo"], r["hi"])
        for r in got
    ]
    # MIN/MAX numeric: "9" < "33" numerically though not lexically
    assert rows == [
        ("blue", 3, 51.0, 17.0, "9", "33"),
        ("red", 2, 12.0, 6.0, "2", "10"),
    ]
    # global aggregation (no GROUP BY) + COUNT(*) + COUNT(DISTINCT)
    got = st.sparql(
        f"""
        SELECT (COUNT(*) AS ?rows) (COUNT(DISTINCT ?s) AS ?distinct)
        WHERE {{ ?p <{_EX}score> ?s . }}
        """
    ).collect()
    assert (got[0]["rows"], got[0]["distinct"]) == (5, 4)
    # MIN/MAX fall back to lexicographic for non-numeric bindings
    got = st.sparql(
        f"SELECT (MIN(?t) AS ?lo) (MAX(?t) AS ?hi) "
        f"WHERE {{ ?p <{_EX}team> ?t . }}"
    ).collect()
    assert (got[0]["lo"], got[0]["hi"]) == ("blue", "red")
    # non-aggregated select vars must be grouped
    with pytest.raises(ValueError, match="GROUP BY"):
        st.sparql(
            f"SELECT ?p (COUNT(?s) AS ?n) WHERE {{ ?p <{_EX}score> ?s . }}"
        )
    # projection-with-grouping (no aggregates in SELECT) = distinct keys
    got = st.sparql(
        f"SELECT ?t WHERE {{ ?p <{_EX}team> ?t . }} GROUP BY ?t ORDER BY ?t"
    ).collect()
    assert [r["t"] for r in got] == ["blue", "red"]


def test_sparql_nested_optional_and_union(spark):
    st = RdfStore(spark)
    st.insert_ntriples(
        f"""
<{_EX}a> <{_EX}name> "Ada" .
<{_EX}b> <{_EX}name> "Bob" .
<{_EX}c> <{_EX}name> "Cleo" .
<{_EX}a> <{_EX}email> "ada@x.org" .
<{_EX}b> <{_EX}email> "bob@x.org" .
<{_EX}mail_ada> <{_EX}of> "ada@x.org" .
<{_EX}mail_ada> <{_EX}verified> "yes" .
"""
    )
    # OPTIONAL nested inside OPTIONAL: email is optional; verification
    # of the email is optional within that
    got = st.sparql(
        f"""
        SELECT ?n ?e ?v WHERE {{
            ?p <{_EX}name> ?n .
            OPTIONAL {{
                ?p <{_EX}email> ?e .
                OPTIONAL {{ ?m <{_EX}of> ?e . ?m <{_EX}verified> ?v . }}
            }}
        }} ORDER BY ?n
        """
    ).collect()
    assert [(r["n"], r["e"], r["v"]) for r in got] == [
        ("Ada", "ada@x.org", "yes"),
        ("Bob", "bob@x.org", None),   # email bound, verification unbound
        ("Cleo", None, None),         # outer OPTIONAL unmatched
    ]
    # FILTER inside an OPTIONAL group (recursion makes it a full group)
    got = st.sparql(
        f"""
        SELECT ?n ?e WHERE {{
            ?p <{_EX}name> ?n .
            OPTIONAL {{ ?p <{_EX}email> ?e . FILTER(strstarts(?e, "ada")) }}
        }} ORDER BY ?n
        """
    ).collect()
    assert [(r["n"], r["e"]) for r in got] == [
        ("Ada", "ada@x.org"), ("Bob", None), ("Cleo", None),
    ]
    # UNION nested inside an OPTIONAL
    got = st.sparql(
        f"""
        SELECT ?n ?x WHERE {{
            ?p <{_EX}name> ?n .
            OPTIONAL {{
                {{ ?p <{_EX}email> ?x . }} UNION {{ ?p <{_EX}phone> ?x . }}
            }}
        }} ORDER BY ?n
        """
    ).collect()
    assert [(r["n"], r["x"]) for r in got] == [
        ("Ada", "ada@x.org"), ("Bob", "bob@x.org"), ("Cleo", None),
    ]


def _family_store(spark):
    """a ->parent-> b ->parent-> c ->parent-> d; knows edges a<->b;
    names on everyone."""
    from samyama_graph_spark.rdf import RdfStore

    st = RdfStore(spark)
    st.insert_ntriples(
        "\n".join(
            [
                f"<{_EX}a> <{_EX}parent> <{_EX}b> .",
                f"<{_EX}b> <{_EX}parent> <{_EX}c> .",
                f"<{_EX}c> <{_EX}parent> <{_EX}d> .",
                f"<{_EX}a> <{_EX}knows> <{_EX}b> .",
                f"<{_EX}b> <{_EX}knows> <{_EX}a> .",
            ]
            + [
                f'<{_EX}{x}> <{_EX}name> "{x.upper()}" .'
                for x in "abcd"
            ]
        )
    )
    return st


def test_sparql_path_sequence_and_inverse(spark):
    st = _family_store(spark)
    # grandparent: parent/parent
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?x ?y "
        f"WHERE {{ ?x ex:parent/ex:parent ?y . }} ORDER BY ?x"
    ).collect()
    assert [(r["x"], r["y"]) for r in got] == [
        (f"{_EX}a", f"{_EX}c"), (f"{_EX}b", f"{_EX}d"),
    ]
    # inverse: child of d
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?c "
        f"WHERE {{ <{_EX}d> ^ex:parent ?c . }}"
    ).collect()
    assert [r["c"] for r in got] == [f"{_EX}c"]
    # sequence ending in a name lookup, with parens
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?n "
        f"WHERE {{ <{_EX}a> (ex:parent/ex:name) ?n . }}"
    ).collect()
    assert [r["n"] for r in got] == ["B"]


def test_sparql_path_alternative_bag_semantics(spark):
    st = _family_store(spark)
    # a knows b AND a parent b: alternative keeps both rows (bag)
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?y "
        f"WHERE {{ <{_EX}a> (ex:parent|ex:knows) ?y . }}"
    ).collect()
    assert sorted(r["y"] for r in got) == [f"{_EX}b", f"{_EX}b"]


def test_sparql_path_closures(spark):
    st = _family_store(spark)
    # one-or-more: every proper ancestor of a (cycle-safe via knows)
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?y "
        f"WHERE {{ <{_EX}a> ex:parent+ ?y . }} ORDER BY ?y"
    ).collect()
    assert [r["y"] for r in got] == [f"{_EX}b", f"{_EX}c", f"{_EX}d"]
    # knows+ on the a<->b cycle terminates and includes self-reach
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?y "
        f"WHERE {{ <{_EX}a> ex:knows+ ?y . }} ORDER BY ?y"
    ).collect()
    assert [r["y"] for r in got] == [f"{_EX}a", f"{_EX}b"]
    # zero-or-more includes the bound subject itself
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?y "
        f"WHERE {{ <{_EX}b> ex:parent* ?y . }} ORDER BY ?y"
    ).collect()
    assert [r["y"] for r in got] == [f"{_EX}b", f"{_EX}c", f"{_EX}d"]
    # zero-or-one
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?y "
        f"WHERE {{ <{_EX}a> ex:parent? ?y . }} ORDER BY ?y"
    ).collect()
    assert [r["y"] for r in got] == [f"{_EX}a", f"{_EX}b"]
    # closure composed in a sequence: names of all ancestors
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?n "
        f"WHERE {{ <{_EX}a> ex:parent+/ex:name ?n . }} ORDER BY ?n"
    ).collect()
    assert [r["n"] for r in got] == ["B", "C", "D"]


def test_sparql_path_joins_filters_and_aggregates(spark):
    st = _family_store(spark)
    # path statement joins a plain statement on the shared variable
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?n WHERE {{
            ?x ex:parent+ <{_EX}d> .
            ?x ex:name ?n .
        }} ORDER BY ?n
        """
    ).collect()
    assert [r["n"] for r in got] == ["A", "B", "C"]
    # aggregate over a closure: ancestor count per subject
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?x (COUNT(?y) AS ?n)
        WHERE {{ ?x ex:parent+ ?y . }} GROUP BY ?x ORDER BY ?x
        """
    ).collect()
    assert [(r["x"], r["n"]) for r in got] == [
        (f"{_EX}a", 3), (f"{_EX}b", 2), (f"{_EX}c", 1),
    ]
    # same-variable endpoints: nodes on a knows-cycle
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?x "
        f"WHERE {{ ?x ex:knows+ ?x . }} ORDER BY ?x"
    ).collect()
    assert [r["x"] for r in got] == [f"{_EX}a", f"{_EX}b"]


def test_sparql_path_errors(spark):
    st = _family_store(spark)
    with pytest.raises(ValueError, match="variables"):
        st.sparql(f"SELECT ?y WHERE {{ <{_EX}a> ?p/<{_EX}name> ?y . }}")
    with pytest.raises(ValueError):
        st.sparql(f"SELECT ?y WHERE {{ <{_EX}a> (<{_EX}p> ?y . }}")


def test_sparql_values_inline_data(spark):
    st = _family_store(spark)
    # single-var VALUES restricts an existing binding
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?n WHERE {{
            VALUES ?x {{ <{_EX}a> <{_EX}c> }}
            ?x ex:name ?n .
        }} ORDER BY ?n
        """
    ).collect()
    assert [r["n"] for r in got] == ["A", "C"]
    # multi-var VALUES with UNDEF; disjoint var extends bindings
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?x ?tag WHERE {{
            VALUES (?x ?tag) {{ (<{_EX}a> "first") (<{_EX}b> UNDEF) }}
            ?x ex:parent ?y .
        }} ORDER BY ?x
        """
    ).collect()
    assert [(r["x"], r["tag"]) for r in got] == [
        (f"{_EX}a", "first"), (f"{_EX}b", None),
    ]
    # VALUES alone is a valid group
    got = st.sparql(
        f'SELECT ?v WHERE {{ VALUES ?v {{ "1" "2" }} }} ORDER BY ?v'
    ).collect()
    assert [r["v"] for r in got] == ["1", "2"]


def test_sparql_bind_expressions(spark):
    st = _family_store(spark)
    # string builtins + concat
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?loud WHERE {{
            <{_EX}a> ex:name ?n .
            BIND(CONCAT(UCASE(?n), "!") AS ?loud)
        }}
        """
    ).collect()
    assert [r["loud"] for r in got] == ["A!"]
    # arithmetic over a numeric-lexical binding, FILTER sees the BIND
    st2 = RdfStore(spark)
    st2.insert_ntriples(
        "\n".join(
            f'<{_EX}p{i}> <{_EX}score> "{s}" .'
            for i, s in enumerate([10, 20, 30])
        )
    )
    got = st2.sparql(
        f"""
        SELECT ?p ?double WHERE {{
            ?p <{_EX}score> ?s .
            BIND(?s * 2 + 1 AS ?double)
            FILTER(?double > 30)
        }} ORDER BY ?p
        """
    ).collect()
    assert [(r["p"], r["double"]) for r in got] == [
        (f"{_EX}p1", 41.0), (f"{_EX}p2", 61.0),
    ]
    # STRLEN / COALESCE with an OPTIONAL-unbound variable
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?n ?label WHERE {{
            ?x ex:name ?n .
            OPTIONAL {{ ?x ex:nickname ?nick . }}
            BIND(COALESCE(?nick, ?n) AS ?label)
        }} ORDER BY ?n
        """
    ).collect()
    assert [r["label"] for r in got] == ["A", "B", "C", "D"]
    # rebinding an existing variable is an error
    with pytest.raises(ValueError, match="already bound"):
        st.sparql(
            f"SELECT ?n WHERE {{ ?x <{_EX}name> ?n . BIND(?n AS ?n) }}"
        )


def test_sparql_graph_blocks(spark):
    st = RdfStore(spark)
    st.insert_ntriples(
        f'<{_EX}x> <{_EX}p> "default" .'
    )
    st.insert_ntriples(
        f'<{_EX}x> <{_EX}p> "in-g1" .\n<{_EX}y> <{_EX}p> "g1-only" .',
        graph=f"{_EX}g1",
    )
    st.insert_ntriples(
        f'<{_EX}x> <{_EX}p> "in-g2" .', graph=f"{_EX}g2"
    )
    # un-scoped BGP sees the union of all graphs
    got = st.sparql(
        f"SELECT ?o WHERE {{ <{_EX}x> <{_EX}p> ?o . }} ORDER BY ?o"
    ).collect()
    assert [r["o"] for r in got] == ["default", "in-g1", "in-g2"]
    # GRAPH <iri> scopes to one named graph (default triples invisible)
    got = st.sparql(
        f"SELECT ?o WHERE {{ GRAPH <{_EX}g1> {{ <{_EX}x> <{_EX}p> ?o . }} }}"
    ).collect()
    assert [r["o"] for r in got] == ["in-g1"]
    # GRAPH ?g binds the graph name per branch
    got = st.sparql(
        f"""
        SELECT ?g ?o WHERE {{
            GRAPH ?g {{ <{_EX}x> <{_EX}p> ?o . }}
        }} ORDER BY ?g
        """
    ).collect()
    assert [(r["g"], r["o"]) for r in got] == [
        (f"{_EX}g1", "in-g1"), (f"{_EX}g2", "in-g2"),
    ]
    # GRAPH joins surrounding patterns on shared variables
    st.insert_ntriples(f'<{_EX}x> <{_EX}name> "X" .')
    got = st.sparql(
        f"""
        SELECT ?n ?o WHERE {{
            ?s <{_EX}name> ?n .
            GRAPH <{_EX}g2> {{ ?s <{_EX}p> ?o . }}
        }}
        """
    ).collect()
    assert [(r["n"], r["o"]) for r in got] == [("X", "in-g2")]


def test_sparql_negated_property_set(spark):
    st = _family_store(spark)
    # everything reachable from a by a predicate OTHER than knows
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?y "
        f"WHERE {{ <{_EX}a> !ex:knows ?y . }} ORDER BY ?y"
    ).collect()
    assert [r["y"] for r in got] == ["A", f"{_EX}b"]  # name + parent
    # grouped form excludes several predicates at once
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?y "
        f"WHERE {{ <{_EX}a> !(ex:knows|ex:name) ?y . }}"
    ).collect()
    assert [r["y"] for r in got] == [f"{_EX}b"]
    # inverse member: arrive at b by anything but an inverse-parent
    # (i.e. exclude b<-parent-a when reversed); forward side unaffected
    got = st.sparql(
        f"PREFIX ex: <{_EX}> SELECT ?y "
        f"WHERE {{ <{_EX}b> !(ex:parent|ex:knows|ex:name|^ex:knows) ?y . }}"
        f" ORDER BY ?y"
    ).collect()
    assert [r["y"] for r in got] == [f"{_EX}a"]  # only ^parent remains


def test_sparql_subquery(spark):
    st = RdfStore(spark)
    st.insert_ntriples(
        "\n".join(
            f'<{_EX}p{i}> <{_EX}team> "{t}" .\n'
            f'<{_EX}p{i}> <{_EX}score> "{s}"'
            f"^^<http://www.w3.org/2001/XMLSchema#integer> ."
            for i, (t, s) in enumerate(
                [("red", 10), ("red", 2), ("blue", 33), ("blue", 9)]
            )
        )
    )
    # inner aggregate joins the outer pattern on ?t: per-team max,
    # then the member(s) achieving it
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?t ?p WHERE {{
            ?p ex:team ?t .
            ?p ex:score ?s .
            {{ SELECT ?t (MAX(?s2) AS ?hi) WHERE {{
                ?q ex:team ?t . ?q ex:score ?s2 .
            }} GROUP BY ?t }}
            FILTER(?s = ?hi)
        }} ORDER BY ?t
        """
    ).collect()
    assert [(r["t"], r["p"]) for r in got] == [
        ("blue", f"{_EX}p2"), ("red", f"{_EX}p0"),
    ]
    # inner LIMIT applies before the outer join (bottom-up evaluation)
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?p ?s WHERE {{
            ?p ex:score ?s .
            {{ SELECT ?p WHERE {{ ?p ex:team "red" . }} ORDER BY ?p LIMIT 1 }}
        }}
        """
    ).collect()
    assert [(r["p"], r["s"]) for r in got] == [(f"{_EX}p0", "10")]


def test_sparql_minus_and_filter_exists(spark):
    st = _family_store(spark)
    # MINUS removes subjects that know someone
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?x WHERE {{
            ?x ex:name ?n .
            MINUS {{ ?x ex:knows ?y . }}
        }} ORDER BY ?x
        """
    ).collect()
    assert [r["x"] for r in got] == [f"{_EX}c", f"{_EX}d"]
    # MINUS with no shared variables keeps the left side whole
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?x WHERE {{
            ?x ex:name ?n .
            MINUS {{ ?a ex:knows ?b . }}
        }}
        """
    ).collect()
    assert len(got) == 4
    # FILTER EXISTS / NOT EXISTS: correlated semi / anti join
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?n WHERE {{
            ?x ex:name ?n .
            FILTER EXISTS {{ ?x ex:parent ?p . }}
        }} ORDER BY ?n
        """
    ).collect()
    assert [r["n"] for r in got] == ["A", "B", "C"]
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?n WHERE {{
            ?x ex:name ?n .
            FILTER NOT EXISTS {{ ?x ex:parent ?p . }}
        }}
        """
    ).collect()
    assert [r["n"] for r in got] == ["D"]
    # uncorrelated EXISTS gates on any-solution
    got = st.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?n WHERE {{
            ?x ex:name ?n .
            FILTER NOT EXISTS {{ ?a ex:enemy ?b . }}
        }}
        """
    ).collect()
    assert len(got) == 4  # no enemy triples -> nothing filtered


def test_sparql_ask(spark, store):
    # bound pattern present / absent
    assert store.ask(f"ASK {{ <{_EX}alice> <{_EX}knows> <{_EX}bob> . }}")
    assert not store.ask(f"ASK {{ <{_EX}carol> <{_EX}knows> <{_EX}alice> . }}")
    # WHERE keyword optional; variables and FILTER work inside
    assert store.ask(
        f"ASK WHERE {{ ?x <{_EX}age> ?a . FILTER(?a > 30) }}"
    )
    assert not store.ask(
        f"ASK WHERE {{ ?x <{_EX}age> ?a . FILTER(?a > 40) }}"
    )
    # sparql() returns the one-row boolean frame form
    df = store.sparql(f"ASK {{ ?x <{_EX}knows> ?y . }}")
    assert df.columns == ["ask"] and df.first()["ask"] is True
    # spec algebra unit: the empty group pattern has exactly one
    # (empty) solution, so ASK {} is true (r8 advice fix)
    assert store.ask("ASK { }")
    assert store.ask("ASK WHERE {}")


def test_sparql_construct_empty_where(spark, store):
    """CONSTRUCT with an empty WHERE instantiates the template once:
    constant triples materialize, variable triples drop (r8 advice)."""
    got = store.sparql(
        f"CONSTRUCT {{ <{_EX}a> <{_EX}p> <{_EX}b> . ?x <{_EX}q> ?y . }} "
        "WHERE { }"
    ).collect()
    assert [(r["s"], r["p"], r["o"]) for r in got] == [
        (f"{_EX}a", f"{_EX}p", f"{_EX}b")
    ]


def test_sparql_construct(spark, store):
    # rewrite knows-edges under a new predicate, adding a type triple
    got = store.sparql(
        f"""
        PREFIX ex: <{_EX}>
        CONSTRUCT {{
            ?a ex:friendOf ?b .
            ?a ex:type "person" .
        }}
        WHERE {{ ?a ex:knows ?b . }}
        """
    ).collect()
    triples = {(r["s"], r["p"], r["o"]) for r in got}
    assert triples == {
        (f"{_EX}alice", f"{_EX}friendOf", f"{_EX}bob"),
        (f"{_EX}bob", f"{_EX}friendOf", f"{_EX}carol"),
        (f"{_EX}alice", f"{_EX}type", "person"),
        (f"{_EX}bob", f"{_EX}type", "person"),
    }
    # unbound OPTIONAL variable in the template -> that row drops
    got = store.sparql(
        f"""
        PREFIX ex: <{_EX}>
        CONSTRUCT {{ ?a ex:knowsName ?n . }}
        WHERE {{
            ?a ex:knows ?b .
            OPTIONAL {{ ?b ex:name ?n . }}
        }}
        """
    ).collect()
    triples = {(r["s"], r["p"], r["o"]) for r in got}
    # alice->bob has name "Bob"; bob->carol has no carol name triple
    assert triples == {(f"{_EX}alice", f"{_EX}knowsName", "Bob")}


def test_sparql_describe(spark, store):
    got = store.sparql(f"DESCRIBE <{_EX}bob>").collect()
    triples = {(r["s"], r["p"], r["o"]) for r in got}
    assert triples == {
        (f"{_EX}bob", f"{_EX}knows", f"{_EX}carol"),
        (f"{_EX}bob", f"{_EX}name", "Bob"),
        (f"{_EX}alice", f"{_EX}knows", f"{_EX}bob"),
    }
    # DESCRIBE ?v WHERE: every binding's description unions
    got = store.sparql(
        f"PREFIX ex: <{_EX}> DESCRIBE ?x WHERE {{ ?x ex:age ?a . }}"
    ).collect()
    triples = {(r["s"], r["p"], r["o"]) for r in got}
    assert triples == {
        (f"{_EX}carol", f"{_EX}age", "33"),
        (f"{_EX}bob", f"{_EX}knows", f"{_EX}carol"),
    }
    with pytest.raises(ValueError):
        store.sparql("DESCRIBE ?x")


def test_sparql_having(spark):
    st = RdfStore(spark)
    st.insert_ntriples(
        "\n".join(
            f'<{_EX}p{i}> <{_EX}team> "{t}" .\n'
            f'<{_EX}p{i}> <{_EX}score> "{s}"'
            f"^^<http://www.w3.org/2001/XMLSchema#integer> ."
            for i, (t, s) in enumerate(
                [("red", 10), ("red", 2), ("blue", 33), ("blue", 9), ("blue", 9)]
            )
        )
    )
    # HAVING over a hidden aggregate (not in SELECT)
    got = st.sparql(
        f"""
        SELECT ?t (SUM(?s) AS ?total)
        WHERE {{ ?p <{_EX}team> ?t . ?p <{_EX}score> ?s . }}
        GROUP BY ?t
        HAVING (COUNT(?p) > 2)
        """
    ).collect()
    assert [(r["t"], r["total"]) for r in got] == [("blue", 51.0)]
    # HAVING over a SELECT alias, && conjunction
    got = st.sparql(
        f"""
        SELECT ?t (COUNT(?p) AS ?n)
        WHERE {{ ?p <{_EX}team> ?t . ?p <{_EX}score> ?s . }}
        GROUP BY ?t
        HAVING (?n >= 2 && SUM(?s) <= 20)
        """
    ).collect()
    assert [(r["t"], r["n"]) for r in got] == [("red", 2)]
    # projection-with-grouping + HAVING (no aggregates in SELECT)
    got = st.sparql(
        f"""
        SELECT ?t
        WHERE {{ ?p <{_EX}team> ?t . ?p <{_EX}score> ?s . }}
        GROUP BY ?t
        HAVING (AVG(?s) < 10)
        """
    ).collect()
    assert [r["t"] for r in got] == ["red"]
    with pytest.raises(ValueError):
        st.sparql(
            f"SELECT ?t WHERE {{ ?p <{_EX}team> ?t . }} HAVING (?t > 1)"
        )


def test_sparql_select_expressions(spark, store):
    got = store.sparql(
        f"""
        PREFIX ex: <{_EX}>
        SELECT ?x (UCASE(?n) AS ?up) (STRLEN(?n) AS ?len)
        WHERE {{ ?x ex:name ?n . FILTER(STRSTARTS(?n, "B")) }}
        """
    ).collect()
    assert [(r["x"], r["up"], r["len"]) for r in got] == [
        (f"{_EX}bob", "BOB", 3.0)
    ]
    # arithmetic over a numeric binding
    got = store.sparql(
        f"""
        SELECT ?x (?a * 2 + 1 AS ?d)
        WHERE {{ ?x <{_EX}age> ?a . }}
        """
    ).collect()
    assert [(r["x"], r["d"]) for r in got] == [(f"{_EX}carol", 67.0)]


def _closure_rel(spark, tmp_path, pairs):
    """``pairs`` as a ``__ps, __po`` relation read from parquet, whose
    size estimate lets the closure's driver path take it."""
    path = str(tmp_path / "rel")
    spark.createDataFrame(pairs, "__ps string, __po string").write.parquet(
        path
    )
    return spark.read.parquet(path)


def _distributed(monkeypatch):
    """Send every closure to the superstep loop."""
    from samyama_graph_spark.algorithms import util

    monkeypatch.setattr(util, "DRIVER_EDGE_GUARD", 0)


def _spy_kernel(monkeypatch):
    """Count the calls of the closure's driver kernel."""
    from samyama_graph_spark import rdf

    calls = []
    real = rdf._closure_pairs_vec
    monkeypatch.setattr(
        rdf, "_closure_pairs_vec",
        lambda *a, **kw: calls.append(1) or real(*a, **kw),
    )
    return calls


def _last_job(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def test_path_closure_driver_and_distributed_agree(
    spark, tmp_path, monkeypatch
):
    """The guarded driver BFS closure and the distributed reach loop
    must produce the same distinct pair set — including cycles and
    self-loops."""
    import random

    from samyama_graph_spark.rdf import _path_closure

    rng = random.Random(13)
    pairs = sorted(
        {
            (f"n{rng.randrange(30)}", f"n{rng.randrange(30)}")
            for _ in range(60)
        }
    )
    rel = _closure_rel(spark, tmp_path, pairs)
    ran = _spy_kernel(monkeypatch)
    fast = {(r["__ps"], r["__po"]) for r in _path_closure(rel).collect()}
    assert ran
    _distributed(monkeypatch)
    slow = {(r["__ps"], r["__po"]) for r in _path_closure(rel).collect()}
    assert fast == slow and len(fast) > len(pairs)


def test_path_closure_loop_pins_nothing_nests_and_budget(
    spark, monkeypatch
):
    """On the superstep loop a closure leaves no lifecycle pin behind;
    ``p+/q+`` with both closures on the loop equals the driver answer;
    and an n-link chain's closure is exact in at most n + 2 jobs (one
    superstep per hop, one for the empty hop, one to collect), with
    the loop's plan in ``PLAN_TRACE["path_closure"]``."""
    from samyama_graph_spark import lifecycle
    from samyama_graph_spark.algorithms import util
    from samyama_graph_spark.rdf import _path_closure

    st = RdfStore(spark)
    st.insert_ntriples(
        "\n".join(
            [f"<{_EX}a{i}> <{_EX}p> <{_EX}a{i + 1}> ." for i in range(4)]
            + [f"<{_EX}a3> <{_EX}p> <{_EX}a1> ."]
            + [f"<{_EX}a{i}> <{_EX}q> <{_EX}b{i}> ." for i in range(5)]
            + [f"<{_EX}b{i}> <{_EX}q> <{_EX}b{i + 1}> ." for i in range(4)]
        )
    )
    q = f"SELECT ?x ?y WHERE {{ ?x <{_EX}p>+/<{_EX}q>+ ?y . }}"
    ran = _spy_kernel(monkeypatch)
    want = sorted(tuple(r) for r in st.sparql(q).collect())
    assert len(ran) == 2 and len(want) > 20
    _distributed(monkeypatch)
    held = lifecycle._held(spark).pins
    before = {k: len(v) for k, v in held.items()}
    got = sorted(tuple(r) for r in st.sparql(q).collect())
    assert got == want and len(ran) == 2
    assert {k: len(v) for k, v in held.items()} == before

    util.PLAN_TRACE.pop("path_closure", None)
    for n in (20, 25, 30):
        rel = spark.createDataFrame(
            [(f"c{i}", f"c{i + 1}") for i in range(n)],
            "__ps string, __po string",
        )
        a = _last_job(spark)
        got = {(r["__ps"], r["__po"]) for r in _path_closure(rel).collect()}
        jobs = _last_job(spark) - a
        assert got == {
            (f"c{i}", f"c{j}") for i in range(n) for j in range(i + 1, n + 1)
        }
        assert jobs <= n + 2, (n, jobs)
    assert "path_closure" in util.PLAN_TRACE


def test_path_closure_vec_kernel_and_budget_fallback(
    spark, tmp_path, monkeypatch
):
    """The vectorized multi-source-BFS closure kernel (r8 advice:
    replaced the dict BFS with the numpy CSR family): chain + cycle +
    self-loop exactness, and a tiny pair budget returns None so
    _path_closure falls back to the distributed loop."""
    import numpy as np

    from samyama_graph_spark.rdf import _closure_pairs_vec, _path_closure

    # 0->1->2->3 chain with a 3->1 back edge (cycle) and 0->0 self-loop
    src = np.array([0, 1, 2, 3, 0], dtype=np.int64)
    dst = np.array([1, 2, 3, 1, 0], dtype=np.int64)
    roots, nodes = _closure_pairs_vec(src, dst, 4, pair_budget=1_000)
    got = set(zip(roots.tolist(), nodes.tolist()))
    want = {(0, 0), (0, 1), (0, 2), (0, 3),
            (1, 1), (1, 2), (1, 3),
            (2, 1), (2, 2), (2, 3),
            (3, 1), (3, 2), (3, 3)}
    assert got == want
    assert _closure_pairs_vec(src, dst, 4, pair_budget=5) is None
    # end-to-end: a dense 20-clique closure exceeds a tiny budget only
    # in the kernel; _path_closure must still answer via the
    # distributed loop with identical pairs
    pairs = [(f"v{i}", f"v{j}") for i in range(12) for j in range(12)
             if i != j]
    rel = _closure_rel(spark, tmp_path, pairs)
    fast = {(r["__ps"], r["__po"]) for r in _path_closure(rel).collect()}
    _distributed(monkeypatch)
    slow = {(r["__ps"], r["__po"]) for r in _path_closure(rel).collect()}
    assert fast == slow and len(fast) == 144  # full clique incl. i->i


def test_sparql_construct_where_shorthand(spark, store):
    """SPARQL 1.1 CONSTRUCT WHERE { triples }: the pattern doubles as
    the template — equivalent to the explicit two-block form."""
    short = store.sparql(
        f"PREFIX ex: <{_EX}> CONSTRUCT WHERE {{ ?a ex:knows ?b . }}"
    ).collect()
    full = store.sparql(
        f"""
        PREFIX ex: <{_EX}>
        CONSTRUCT {{ ?a ex:knows ?b . }} WHERE {{ ?a ex:knows ?b . }}
        """
    ).collect()
    s1 = {(r["s"], r["p"], r["o"]) for r in short}
    s2 = {(r["s"], r["p"], r["o"]) for r in full}
    assert s1 == s2 == {
        (f"{_EX}alice", f"{_EX}knows", f"{_EX}bob"),
        (f"{_EX}bob", f"{_EX}knows", f"{_EX}carol"),
    }


def test_sparql_describe_resource_list(spark, store):
    """DESCRIBE accepts a resource list (vars and IRIs mixed): the
    union of each resource's description."""
    got = store.sparql(
        f"PREFIX ex: <{_EX}> DESCRIBE ?x <{_EX}alice> WHERE {{ ?x ex:age ?a . }}"
    ).collect()
    triples = {(r["s"], r["p"], r["o"]) for r in got}
    assert triples == {
        (f"{_EX}carol", f"{_EX}age", "33"),
        (f"{_EX}bob", f"{_EX}knows", f"{_EX}carol"),
        (f"{_EX}alice", f"{_EX}knows", f"{_EX}bob"),
        (f"{_EX}alice", f"{_EX}name", "Alice"),
    }


def test_sparql_optional_filter_outer_variable(spark):
    """A FILTER inside OPTIONAL referencing an OUTER variable is the
    spec's LeftJoin(P1, P2, expr) condition: rows failing it keep the
    outer binding with a NULL extension — they are NOT dropped (which
    a post-join filter would wrongly do).  W3C SPARQL 1.1 §6.2."""
    st = RdfStore(spark)
    st.insert_ntriples(f"""
<{_EX}a> <{_EX}age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
<{_EX}b> <{_EX}age> "50"^^<http://www.w3.org/2001/XMLSchema#integer> .
<{_EX}a> <{_EX}cap> "40"^^<http://www.w3.org/2001/XMLSchema#integer> .
<{_EX}b> <{_EX}cap> "40"^^<http://www.w3.org/2001/XMLSchema#integer> .
""")
    got = {
        (r["x"], r["c"])
        for r in st.sparql(
            f"""
            SELECT ?x ?c WHERE {{
                ?x <{_EX}age> ?a .
                OPTIONAL {{ ?x <{_EX}cap> ?c . FILTER(?a < 40) }}
            }}
            """
        ).collect()
    }
    # a (age 30 < 40): extended with its cap; b (age 50): kept, NULL cap
    assert got == {(f"{_EX}a", "40"), (f"{_EX}b", None)}
    # inner-only filters keep the old path: cap > 99 matches nothing,
    # both rows survive unextended
    got2 = {
        (r["x"], r["c"])
        for r in st.sparql(
            f"""
            SELECT ?x ?c WHERE {{
                ?x <{_EX}age> ?a .
                OPTIONAL {{ ?x <{_EX}cap> ?c . FILTER(?c > 99) }}
            }}
            """
        ).collect()
    }
    assert got2 == {(f"{_EX}a", None), (f"{_EX}b", None)}


def test_sparql_expression_builtin_library(spark):
    """The round-10 unified expression compiler: arithmetic in
    comparisons, IN / NOT IN, IF/COALESCE, and the string builtin
    library (SUBSTR/STRLEN/REPLACE/STRBEFORE/STRAFTER/STRENDS/
    UCASE/CONCAT), shared by FILTER and BIND."""
    st = RdfStore(spark)
    st.insert_ntriples(
        f"""
<{_EX}a> <{_EX}age> "30" .
<{_EX}b> <{_EX}age> "25" .
<{_EX}c> <{_EX}age> "40" .
<{_EX}a> <{_EX}name> "Ada Lovelace" .
<{_EX}b> <{_EX}name> "Bob" .
<{_EX}c> <{_EX}name> "Cleo" .
"""
    )
    # arithmetic on both comparison sides (30*2-10 = 50 >= 50 passes)
    got = st.sparql(
        f"""
        SELECT ?p WHERE {{
            ?p <{_EX}age> ?a . FILTER(?a * 2 - 10 >= 50)
        }} ORDER BY ?p
        """
    ).collect()
    assert [r["p"] for r in got] == [f"{_EX}a", f"{_EX}c"]
    # IN / NOT IN lists
    got = st.sparql(
        f"""
        SELECT ?p WHERE {{
            ?p <{_EX}name> ?n . FILTER(?n IN ("Bob", "Cleo"))
        }} ORDER BY ?p
        """
    ).collect()
    assert [r["p"] for r in got] == [f"{_EX}b", f"{_EX}c"]
    got = st.sparql(
        f"""
        SELECT ?p WHERE {{
            ?p <{_EX}name> ?n . FILTER(?n NOT IN ("Bob", "Cleo"))
        }} ORDER BY ?p
        """
    ).collect()
    assert [r["p"] for r in got] == [f"{_EX}a"]
    # string builtins as FILTER predicates
    got = st.sparql(
        f"""
        SELECT ?p WHERE {{
            ?p <{_EX}name> ?n .
            FILTER(strends(?n, "e") && strlen(?n) > 4)
        }}
        """
    ).collect()
    assert [r["p"] for r in got] == [f"{_EX}a"]
    # substr is 1-based per spec; ucase/concat/replace compose
    got = st.sparql(
        f"""
        SELECT ?v WHERE {{
            ?p <{_EX}name> ?n . FILTER(?n = "Ada Lovelace")
            BIND(CONCAT(UCASE(SUBSTR(?n, 1, 3)), "-",
                        REPLACE(?n, "[aeo]", "_")) AS ?v)
        }}
        """
    ).collect()
    assert [r["v"] for r in got] == ["ADA-Ad_ L_v_l_c_"]
    # strbefore / strafter (empty string when no match, per spec)
    got = st.sparql(
        f"""
        SELECT ?b ?f ?m WHERE {{
            ?p <{_EX}name> ?n . FILTER(contains(?n, " "))
            BIND(STRBEFORE(?n, " ") AS ?b)
            BIND(STRAFTER(?n, " ") AS ?f)
            BIND(STRBEFORE(?n, "zzz") AS ?m)
        }}
        """
    ).collect()
    assert [(r["b"], r["f"], r["m"]) for r in got] == [
        ("Ada", "Lovelace", "")
    ]
    # IF / COALESCE / isNumeric; regex "i" flag
    got = st.sparql(
        f"""
        SELECT ?p ?k WHERE {{
            ?p <{_EX}age> ?a .
            BIND(IF(?a >= 30, "old", "young") AS ?k)
            FILTER(isNumeric(?a) && regex(?k, "OLD", "i"))
        }} ORDER BY ?p
        """
    ).collect()
    assert [(r["p"], r["k"]) for r in got] == [
        (f"{_EX}a", "old"), (f"{_EX}c", "old"),
    ]
    # numeric builtins: abs/floor/round in a comparison
    got = st.sparql(
        f"""
        SELECT ?p WHERE {{
            ?p <{_EX}age> ?a . FILTER(FLOOR(?a / 7) = 5 || ABS(?a - 26) <= 1)
        }} ORDER BY ?p
        """
    ).collect()
    assert [r["p"] for r in got] == [f"{_EX}b", f"{_EX}c"]


def test_sparql_term_metadata_builtins(spark, store):
    """LANG / DATATYPE / isIRI / isURI / isBLANK / isLITERAL: exact
    through the hidden metadata columns for object-position bindings,
    lexical inference (exact by construction) for subject-position
    bindings.  The fixture store has IRI, blank, plain-literal,
    lang-tagged, and typed-literal terms."""
    xsd_s = "http://www.w3.org/2001/XMLSchema#string"
    xsd_i = "http://www.w3.org/2001/XMLSchema#integer"
    lang_s = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    # object-position metadata: every name/age object is a literal
    got = store.sparql(
        f"""
        SELECT ?s ?lg ?dt WHERE {{
            ?s <{_EX}name> ?n .
            BIND(LANG(?n) AS ?lg) BIND(DATATYPE(?n) AS ?dt)
            FILTER(isLITERAL(?n))
        }} ORDER BY ?s
        """
    ).collect()
    by_s = {r["s"]: (r["lg"], r["dt"]) for r in got}
    assert by_s[f"{_EX}alice"] == ("", xsd_s)      # plain literal
    assert by_s[f"{_EX}bob"] == ("en", lang_s)     # lang-tagged
    assert len(by_s) == 3                           # incl. blank subject
    # typed literal datatype
    got = store.sparql(
        f"""
        SELECT ?dt WHERE {{
            <{_EX}carol> <{_EX}age> ?a . BIND(DATATYPE(?a) AS ?dt)
        }}
        """
    ).collect()
    assert [r["dt"] for r in got] == [xsd_i]
    # IRI objects vs literal objects; isURI alias
    got = store.sparql(
        f"""
        SELECT ?s ?o WHERE {{
            ?s <{_EX}knows> ?o . FILTER(isIRI(?o) && isURI(?o))
        }} ORDER BY ?s
        """
    ).collect()
    assert len(got) == 2
    # subject-position inference: the blank-node subject
    got = store.sparql(
        f"""
        SELECT ?s WHERE {{
            ?s <{_EX}name> ?n . FILTER(isBLANK(?s))
        }}
        """
    ).collect()
    assert [r["s"] for r in got] == ["_:b1"]
    got = store.sparql(
        f"""
        SELECT ?s WHERE {{
            ?s <{_EX}name> ?n . FILTER(isIRI(?s))
        }} ORDER BY ?s
        """
    ).collect()
    assert [r["s"] for r in got] == [f"{_EX}alice", f"{_EX}bob"]
    # LANG on a non-literal is a type error -> NULL -> filter-false
    got = store.sparql(
        f"""
        SELECT ?s WHERE {{
            ?s <{_EX}knows> ?o . FILTER(LANG(?o) = "")
        }}
        """
    ).collect()
    assert got == []
    # static (non-variable) arguments
    got = store.sparql(
        f"""
        SELECT ?v WHERE {{
            <{_EX}alice> <{_EX}name> ?n .
            BIND(IF(isLITERAL("x") && !isIRI("x")
                    && LANG("x") = "" && DATATYPE("x") = "{xsd_s}",
                    "ok", "bad") AS ?v)
        }}
        """
    ).collect()
    assert [r["v"] for r in got] == ["ok"]


def test_sparql_effective_boolean_value(spark, store):
    """SPARQL 17.2.2 EBV for bare (non-boolean) FILTER expressions:
    a non-empty string is TRUE (the old try_cast('boolean') made
    'Alice' -> NULL -> false), the empty string false, numerics by
    non-zero."""
    got = store.sparql(
        f"""
        SELECT ?s WHERE {{ ?s <{_EX}name> ?n . FILTER(?n) }} ORDER BY ?s
        """
    ).collect()
    assert len(got) == 3  # every name literal is non-empty
    got = store.sparql(
        f"""
        SELECT ?s WHERE {{
            ?s <{_EX}name> ?n . FILTER(SUBSTR(?n, 1, 0))
        }}
        """
    ).collect()
    assert got == []  # empty string -> false
    # numeric EBV: ?a - 33 is 0 for carol -> false
    got = store.sparql(
        f"""
        SELECT ?s WHERE {{ ?s <{_EX}age> ?a . FILTER(?a - 33) }}
        """
    ).collect()
    assert got == []


def test_sparql_expression_tokenizer_rejects_garbage(spark, store):
    """The expression scanner must RAISE on characters no token
    matches instead of silently dropping them (findall used to parse
    '5.' as '5' and vanish '@' / ';')."""
    for bad in ("?a > 5. ", "?n = \"x\"@en", "?a ; ?b"):
        with pytest.raises(ValueError, match="unexpected character"):
            store.sparql(
                f"SELECT ?s WHERE {{ ?s <{_EX}age> ?a . "
                f"?s <{_EX}name> ?n . FILTER({bad}) }}"
            )
