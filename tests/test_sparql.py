"""SPARQL-BGP compiler tests.

The compiled DataFrame result is checked against an INDEPENDENT
nested-loop evaluator written in a deliberately different style
(binding-dict substitution, no joins), over both hand-built micro graphs
and the real canonical KG at sf0.001 — plus parser error cases and a
plan audit (no cartesian product in connected BGPs, literal positions
pushed into the scan)."""

from __future__ import annotations

import math

import pytest

from recon_spark.operators.sparql import (
    Lit,
    SparqlError,
    Var,
    compile_sparql,
    parse_sparql,
)

# --------------------------------------------------------------------------
# Independent reference evaluator (bindings-substitution style)
# --------------------------------------------------------------------------


def _match(pattern, triple, binding):
    """Try to extend binding so pattern matches triple; None on conflict."""
    b = dict(binding)
    for term, value in zip((pattern.s, pattern.p, pattern.o), triple):
        if isinstance(term, Lit):
            if term.value != value:
                return None
        else:
            if term.name in b:
                if b[term.name] != value:
                    return None
            else:
                b[term.name] = value
    return b


def _eval_bgp(triples, patterns, binding):
    """All bindings extending `binding` that satisfy every pattern."""
    if not patterns:
        return [binding]
    out = []
    for t in triples:
        b = _match(patterns[0], t, binding)
        if b is not None:
            out.extend(_eval_bgp(triples, patterns[1:], b))
    return out


def _eval_filters(bindings, filters):
    import operator

    ops = {
        "=": operator.eq,
        "!=": operator.ne,
        "<": operator.lt,
        "<=": operator.le,
        ">": operator.gt,
        ">=": operator.ge,
    }

    def val(term, b):
        return b[term.name] if isinstance(term, Var) else term.value

    return [
        b
        for b in bindings
        if all(ops[f.op](val(f.lhs, b), val(f.rhs, b)) for f in filters)
    ]


def reference_eval(triples, text):
    """Evaluate the SPARQL subset over a list of (s, p, o) string tuples.

    Returns a sorted list of result tuples in SELECT order (None for
    unbound OPTIONAL variables), ignoring ORDER BY (callers compare as
    multisets) but honoring DISTINCT / aggregates / LIMIT-less queries.
    """
    q = parse_sparql(text)
    bindings = _eval_filters(
        _eval_bgp(triples, list(q.patterns), {}), list(q.filters)
    )
    for opt in q.optionals:
        extended = []
        for b in bindings:
            exts = _eval_filters(
                _eval_bgp(triples, list(opt.patterns), b), list(opt.filters)
            )
            if exts:
                extended.extend(exts)
            else:
                padded = dict(b)
                for p in opt.patterns:
                    for v in p.vars:
                        padded.setdefault(v, None)
                extended.append(padded)
        bindings = extended

    if q.aggregates:
        keys = list(q.group_by) if q.group_by else list(q.plain_vars)
        groups = {}
        for b in bindings:
            groups.setdefault(tuple(b.get(k) for k in keys), []).append(b)
        rows = []
        for kv, grp in groups.items():
            out = dict(zip(keys, kv))
            for a in q.aggregates:
                if a.func == "count":
                    out[a.alias] = (
                        len(grp)
                        if a.var is None
                        else sum(1 for g in grp if g.get(a.var) is not None)
                    )
                else:
                    vals = [g[a.var] for g in grp if g.get(a.var) is not None]
                    out[a.alias] = (
                        (min(vals) if a.func == "min" else max(vals))
                        if vals
                        else None
                    )
            rows.append(tuple(out[c] for c in q.select))
    else:
        sel = sorted({v for b in bindings for v in b}) if q.select_star else q.select
        rows = [tuple(b.get(c) for c in sel) for b in bindings]

    if q.distinct:
        rows = list(set(rows))
    return sorted(rows, key=lambda r: tuple("" if x is None else str(x) for x in r))


def _spark_rows(df):
    return sorted(
        [tuple(r) for r in df.collect()],
        key=lambda r: tuple("" if x is None else str(x) for x in r),
    )


# --------------------------------------------------------------------------
# Fixtures
# --------------------------------------------------------------------------

MICRO = [
    ("a", "knows", "b"),
    ("a", "knows", "c"),
    ("b", "knows", "c"),
    ("c", "knows", "a"),
    ("a", "likes", "x"),
    ("b", "likes", "x"),
    ("b", "likes", "y"),
    ("x", "type", "thing"),
    ("y", "type", "thing"),
    ("a", "type", "person"),
    ("b", "type", "person"),
    ("c", "type", "robot"),
]


@pytest.fixture(scope="module")
def micro_graph(spark):
    return spark.createDataFrame(MICRO, "subj string, pred string, obj string")


# --------------------------------------------------------------------------
# Parser
# --------------------------------------------------------------------------


def test_parse_shapes():
    q = parse_sparql(
        'SELECT DISTINCT ?s (COUNT(?o) AS ?n) WHERE { ?s <knows> ?o . '
        'FILTER(?s != "c") OPTIONAL { ?o <likes> ?z } } '
        "GROUP BY ?s ORDER BY DESC(?n) ?s LIMIT 5"
    )
    assert q.distinct and q.limit == 5
    assert q.select == ("s", "n")
    assert q.patterns[0].p == Lit("knows")
    assert q.aggregates[0].func == "count" and q.aggregates[0].alias == "n"
    assert q.filters[0].rhs == Lit("c")
    assert q.optionals[0].patterns[0].s == Var("o")
    assert q.order_by == (("n", True), ("s", False))
    assert q.group_by == ("s",)


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT WHERE { ?s ?p ?o }",  # empty select
        "SELECT ?s { ?s ?p ?o }",  # missing WHERE
        "SELECT ?s WHERE { }",  # no patterns
        "SELECT ?s WHERE { ?s ?p }",  # short triple
        "SELECT ?s WHERE { ?s ?p ?o",  # unclosed
        "SELECT ?s WHERE { ?s ?p ?o } LIMIT x",  # bad limit
        "SELECT (GROUP_CONCAT(?o) AS ?n) WHERE { ?s ?p ?o }",  # unsupported agg
        "SELECT (MIN(*) AS ?n) WHERE { ?s ?p ?o }",  # MIN(*)
        "SELECT ?s WHERE { ?s ?p ?o } ORDER BY",  # empty order
        "SELECT ?s WHERE { OPTIONAL { ?s ?p ?o } }",  # optional only
        "SELECT ?s WHERE { ?s ?p ?o . OPTIONAL { OPTIONAL { ?a ?b ?c } } }",
    ],
)
def test_parse_errors(bad):
    with pytest.raises(SparqlError):
        parse_sparql(bad)


def test_escaped_literal_and_iri():
    q = parse_sparql(r"""SELECT ?s WHERE { ?s <p> "O\'Reilly \"x\"" }""")
    assert q.patterns[0].o == Lit('O\'Reilly "x"')


# --------------------------------------------------------------------------
# Compile vs reference evaluator
# --------------------------------------------------------------------------

QUERIES = [
    # plain scans and literal positions
    "SELECT ?s ?o WHERE { ?s <knows> ?o }",
    'SELECT ?s WHERE { ?s <type> "person" }',
    "SELECT ?p ?o WHERE { <a> ?p ?o }",
    # star join + filter
    "SELECT ?s ?x ?y WHERE { ?s <knows> ?x . ?s <likes> ?y . FILTER(?x != ?y) }",
    # path join, variable predicate in the middle
    "SELECT DISTINCT ?a ?c WHERE { ?a <knows> ?b . ?b ?p ?c . FILTER(?a != ?c) }",
    # repeated variable inside one pattern (cycle through a single scan)
    "SELECT ?x WHERE { ?x <knows> ?x }",
    # triangle
    "SELECT ?a ?b ?c WHERE { ?a <knows> ?b . ?b <knows> ?c . ?c <knows> ?a }",
    # ground-pattern existence check
    'SELECT ?s WHERE { <a> <knows> <b> . ?s <type> "robot" }',
    # OPTIONAL with inner filter
    "SELECT ?s ?z WHERE { ?s <knows> ?o . OPTIONAL { ?s <likes> ?z . "
    'FILTER(?z != "x") } }',
    # implicit grouping
    "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?p ?o }",
    # explicit GROUP BY + MIN/MAX + count over optional (non-null only)
    "SELECT ?s (COUNT(?z) AS ?nz) (MIN(?o) AS ?lo) (MAX(?o) AS ?hi) WHERE "
    "{ ?s <knows> ?o . OPTIONAL { ?s <likes> ?z } } GROUP BY ?s",
    # global aggregate (no keys)
    "SELECT (COUNT(*) AS ?n) WHERE { ?s <likes> ?o }",
    # DISTINCT + comparisons
    'SELECT DISTINCT ?s WHERE { ?s ?p ?o . FILTER(?o >= "thing") }',
    # SELECT *
    "SELECT * WHERE { ?s <likes> ?o }",
]


@pytest.mark.parametrize("text", QUERIES)
def test_compile_matches_reference_on_micro(micro_graph, text):
    got = _spark_rows(compile_sparql(micro_graph, text))
    want = reference_eval(MICRO, text)
    assert got == want, f"query {text!r}: {got} != {want}"


def test_order_by_and_limit(micro_graph):
    df = compile_sparql(
        micro_graph,
        "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <knows> ?o } "
        "ORDER BY DESC(?n) ?s LIMIT 2",
    )
    assert [tuple(r) for r in df.collect()] == [("a", 2), ("b", 1)]


def test_disconnected_bgp_refused(micro_graph):
    text = "SELECT ?a ?x WHERE { ?a <knows> ?b . ?x <likes> ?y }"
    with pytest.raises(SparqlError, match="cartesian"):
        compile_sparql(micro_graph, text)
    # explicit opt-in computes the product
    n = compile_sparql(micro_graph, text, allow_product=True).count()
    assert n == 4 * 3


def test_unbound_references_refused(micro_graph):
    with pytest.raises(SparqlError, match="unbound"):
        compile_sparql(micro_graph, "SELECT ?z WHERE { ?s <knows> ?o }")
    with pytest.raises(SparqlError, match="unbound"):
        compile_sparql(
            micro_graph, "SELECT ?s WHERE { ?s <knows> ?o . FILTER(?z != ?s) }"
        )


def test_optional_must_share_variable(micro_graph):
    with pytest.raises(SparqlError, match="shares no variable"):
        compile_sparql(
            micro_graph,
            "SELECT ?s WHERE { ?s <knows> ?o . OPTIONAL { ?a <likes> ?b } }",
        )


# --------------------------------------------------------------------------
# Randomized cross-check (seeded, deterministic)
# --------------------------------------------------------------------------


def test_randomized_graphs_match_reference(spark):
    import random

    rng = random.Random(42)
    nodes = [f"n{i}" for i in range(8)]
    preds = ["p", "q", "r"]
    texts = [
        "SELECT ?a ?b WHERE { ?a <p> ?b . ?b <q> ?c }",
        "SELECT DISTINCT ?a WHERE { ?a ?x ?b . ?b ?y ?a . FILTER(?a < ?b) }",
        "SELECT ?a (COUNT(?b) AS ?n) WHERE { ?a <p> ?b . "
        "OPTIONAL { ?b <r> ?z } } GROUP BY ?a",
    ]
    for trial in range(4):
        triples = sorted(
            {
                (rng.choice(nodes), rng.choice(preds), rng.choice(nodes))
                for _ in range(40)
            }
        )
        g = spark.createDataFrame(triples, "subj string, pred string, obj string")
        for text in texts:
            got = _spark_rows(compile_sparql(g, text))
            want = reference_eval(triples, text)
            assert got == want, f"trial {trial}, query {text!r}"


# --------------------------------------------------------------------------
# Plan audit
# --------------------------------------------------------------------------


def test_plan_pushes_literals_and_avoids_cartesians(micro_graph):
    df = compile_sparql(
        micro_graph,
        "SELECT ?s ?x ?y WHERE { ?s <knows> ?x . ?s <likes> ?y }",
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in plan and "knows" in plan and "likes" in plan
    # both pattern scans carry their literal predicate below the join
    joins = plan.count("Join")
    assert joins == 1


def test_order_patterns_starts_selective():
    from recon_spark.operators.sparql import _order_patterns, parse_sparql

    q = parse_sparql(
        "SELECT ?a WHERE { ?a ?p ?b . ?a <knows> ?b . <a> <knows> ?b }"
    )
    ordered = _order_patterns(q.patterns, allow_product=False)
    assert ordered[0].n_bound == 2  # fully anchored pattern first
    assert ordered[1].n_bound == 1


# --------------------------------------------------------------------------
# The real KG at sf0.001: compiled SPARQL == hand-written DataFrame joins
# --------------------------------------------------------------------------


def test_sparql_on_canonical_kg(spark):
    from pyspark.sql import functions as F

    from recon_spark.operators.extraction import extract_triples_tokens
    from recon_spark.queries.core import canonical_triple_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kg = canonical_triple_counts(spark, extract_triples_tokens(docs)).select(
        "subj", "pred", "obj"
    )
    got = _spark_rows(
        compile_sparql(
            kg,
            "SELECT ?s ?a ?b WHERE { ?s <scan> ?a . ?s <join> ?b . "
            "FILTER(?a != ?b) }",
        )
    )
    scans = kg.where("pred = 'scan'").select("subj", F.col("obj").alias("a"))
    joins = kg.where("pred = 'join'").select("subj", F.col("obj").alias("b"))
    want = _spark_rows(
        scans.join(joins, "subj").where("a != b").select("subj", "a", "b")
    )
    assert got == want and len(got) > 0


# --------------------------------------------------------------------------
# CONSTRUCT (SPARQL 1.1 §10.2)
# --------------------------------------------------------------------------


def test_parse_construct_shape():
    q = parse_sparql(
        "CONSTRUCT { ?o <rev> ?s . <m> <ran> <y> } "
        'WHERE { ?s <knows> ?o . FILTER(?s != "c") OPTIONAL { ?o <likes> ?z } }'
    )
    assert len(q.construct) == 2
    assert q.construct[0].p == Lit("rev")
    assert q.construct[1].s == Lit("m")
    assert q.patterns[0].p == Lit("knows")
    assert q.filters and q.optionals
    assert q.select == () and not q.aggregates


@pytest.mark.parametrize(
    "bad",
    [
        "CONSTRUCT { } WHERE { ?s ?p ?o }",  # empty template
        "CONSTRUCT { FILTER(?a = ?b) } WHERE { ?s ?p ?o }",  # filter in template
        "CONSTRUCT { OPTIONAL { ?a ?b ?c } } WHERE { ?s ?p ?o }",
        "CONSTRUCT { ?s <x> ?o } WHERE { }",  # no WHERE patterns
        "CONSTRUCT { ?s <x> ?o } WHERE { ?s ?p ?o } LIMIT 3",  # modifier
        "CONSTRUCT { ?s <x> ?zz } WHERE { ?s <knows> ?o }",  # unbound (compile)
    ],
)
def test_construct_errors(micro_graph, bad):
    with pytest.raises(SparqlError):
        compile_sparql(micro_graph, bad).columns


def test_construct_semantics(micro_graph):
    out = compile_sparql(
        micro_graph,
        "CONSTRUCT { ?o <known_by> ?s . ?s <social> ?x . <meta> <ran> <yes> } "
        "WHERE { ?s <knows> ?o . OPTIONAL { ?s <likes> ?x } }",
    )
    assert out.columns == ["subj", "pred", "obj"]
    got = sorted(map(tuple, out.collect()))
    # knows edges: a->b, a->c, b->c, c->a; likes: a->x, b->x, b->y, c none
    expected = sorted(
        [
            ("b", "known_by", "a"),
            ("c", "known_by", "a"),
            ("c", "known_by", "b"),
            ("a", "known_by", "c"),
            ("a", "social", "x"),
            ("b", "social", "x"),
            ("b", "social", "y"),
            # c's OPTIONAL is unbound -> its <social> instantiation drops
            ("meta", "ran", "yes"),  # ground template: once, set semantics
        ]
    )
    assert got == expected


def test_construct_set_semantics_and_rdf_composition(micro_graph, spark):
    # two template triples collapsing to the same instantiation: the
    # result is a SET
    out = compile_sparql(
        micro_graph,
        "CONSTRUCT { ?s <t> <thing> . ?s <t> <thing> } "
        "WHERE { ?s <likes> ?o }",
    )
    got = sorted(map(tuple, out.collect()))
    assert got == [("a", "t", "thing"), ("b", "t", "thing")]

    # the constructed graph feeds the N-Triples serializer directly and
    # the whole plan stays Python-free
    from recon_spark.rdf import serialize_triples

    ser = serialize_triples(out)
    lines = sorted(r.line for r in ser.collect())
    assert lines[0] == (
        "<https://kg.example.org/e/a> <https://kg.example.org/p/t> "
        '"thing" .'
    )
    plan = ser._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# --------------------------------------------------------------------------
# GRAPH clause (quad frames)
# --------------------------------------------------------------------------

QUADS = [
    ("a", "says", "x", "p1"),
    ("a", "says", "x", "p2"),
    ("b", "says", "y", "p1"),
    ("a", "type", "person", "p1"),
]


@pytest.fixture(scope="module")
def quad_graph(spark):
    return spark.createDataFrame(
        QUADS, "subj string, pred string, obj string, graph string"
    )


def test_graph_binds_and_filters(quad_graph):
    out = compile_sparql(
        quad_graph,
        "SELECT DISTINCT ?s ?g WHERE { GRAPH ?g { ?s <says> ?o } } ORDER BY ?s ?g",
    )
    assert sorted(map(tuple, out.collect())) == [
        ("a", "p1"), ("a", "p2"), ("b", "p1"),
    ]
    ground = compile_sparql(
        quad_graph, "SELECT ?s ?o WHERE { GRAPH <p2> { ?s <says> ?o } }"
    )
    assert sorted(map(tuple, ground.collect())) == [("a", "x")]


def test_graph_cross_boundary_join(quad_graph):
    out = compile_sparql(
        quad_graph,
        "SELECT DISTINCT ?s WHERE { GRAPH ?g1 { ?s <says> ?o } "
        "GRAPH ?g2 { ?s <says> ?o } FILTER(?g1 != ?g2) }",
    )
    assert sorted(map(tuple, out.collect())) == [("a",)]


def test_graph_aggregation_and_default_mix(quad_graph):
    out = compile_sparql(
        quad_graph,
        "SELECT ?g (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } } "
        "GROUP BY ?g ORDER BY ?g",
    )
    assert sorted(map(tuple, out.collect())) == [("p1", 3), ("p2", 1)]
    # default-graph pattern alongside a GRAPH pattern: the plain pattern
    # ignores the graph column entirely
    mixed = compile_sparql(
        quad_graph,
        "SELECT DISTINCT ?s ?g WHERE { ?s <type> \"person\" . "
        "GRAPH ?g { ?s <says> ?x } } ORDER BY ?g",
    )
    assert sorted(map(tuple, mixed.collect())) == [("a", "p1"), ("a", "p2")]


def test_graph_nested_inner_wins():
    q = parse_sparql("SELECT ?s WHERE { GRAPH ?a { GRAPH <fixed> { ?s ?p ?o } } }")
    assert q.patterns[0].g == Lit("fixed")
    q2 = parse_sparql("SELECT ?s WHERE { GRAPH <outer> { ?s ?p ?o } }")
    assert q2.patterns[0].g == Lit("outer")


@pytest.mark.parametrize(
    "bad,needs_quads",
    [
        ("SELECT ?s WHERE { GRAPH ?g { ?s <says> ?o } }", False),  # no graph col
        ("SELECT ?s WHERE { GRAPH ?g { } . ?s ?p ?o }", True),  # empty group
        ("CONSTRUCT { GRAPH ?g { ?s <x> ?o } } WHERE { ?s ?p ?o }", True),
    ],
)
def test_graph_errors(micro_graph, quad_graph, bad, needs_quads):
    frame = quad_graph if needs_quads else micro_graph
    with pytest.raises(SparqlError):
        compile_sparql(frame, bad).columns


# --------------------------------------------------------------------------
# property path + (OneOrMorePath transitive closure)
# --------------------------------------------------------------------------

PATH_KG = [
    ("a", "knows", "b"),
    ("b", "knows", "c"),
    ("c", "knows", "a"),  # 3-cycle: closure must terminate
    ("x", "knows", "y"),
    ("a", "likes", "z"),
]


@pytest.fixture(scope="module")
def path_graph(spark):
    return spark.createDataFrame(PATH_KG, "subj string, pred string, obj string")


def test_plus_full_closure_cyclic(path_graph):
    out = compile_sparql(path_graph, "SELECT ?s ?o WHERE { ?s <knows>+ ?o }")
    cyc = [(s, o) for s in "abc" for o in "abc"]
    assert sorted(map(tuple, out.collect())) == sorted(cyc + [("x", "y")])


def test_plus_seeded_both_directions(path_graph):
    fwd = compile_sparql(path_graph, "SELECT ?o WHERE { <x> <knows>+ ?o }")
    assert sorted(map(tuple, fwd.collect())) == [("y",)]
    bwd = compile_sparql(path_graph, "SELECT ?s WHERE { ?s <knows>+ <y> }")
    assert sorted(map(tuple, bwd.collect())) == [("x",)]


def test_plus_ground_both_is_existence_gate(path_graph):
    hit = compile_sparql(
        path_graph, "SELECT ?z WHERE { <a> <knows>+ <c> . <a> <likes> ?z }"
    )
    assert sorted(map(tuple, hit.collect())) == [("z",)]
    miss = compile_sparql(
        path_graph, "SELECT ?z WHERE { <a> <knows>+ <x> . <a> <likes> ?z }"
    )
    assert miss.collect() == []


def test_plus_self_reachability(path_graph):
    out = compile_sparql(path_graph, "SELECT ?x WHERE { ?x <knows>+ ?x }")
    assert sorted(map(tuple, out.collect())) == [("a",), ("b",), ("c",)]


def test_plus_long_chain(spark):
    chain = spark.createDataFrame(
        [(f"n{i:02d}", "next", f"n{i + 1:02d}") for i in range(40)],
        "subj string, pred string, obj string",
    )
    out = compile_sparql(chain, "SELECT ?o WHERE { <n00> <next>+ ?o }")
    assert out.count() == 40  # every later node reachable from n00
    # the seeded closure returns its last pinned round, not a union of
    # one pinned leaf per round
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1


@pytest.mark.parametrize("d", [65, 200])
def test_plus_unbound_chain_closes_in_log_rounds(spark, monkeypatch, d):
    """Path doubling: a d-edge chain closes in ceil(log2 d) + 1 rounds,
    so the cap is patched to one above that; any linear (one hop per
    round) closure would raise here."""
    from recon_spark.operators import scratch

    monkeypatch.setattr(scratch, "MAX_ROUNDS", math.ceil(math.log2(d)) + 2)
    chain = spark.createDataFrame(
        [(f"n{i:03d}", "next", f"n{i + 1:03d}") for i in range(d)],
        "subj string, pred string, obj string",
    )
    plus = compile_sparql(chain, "SELECT ?s ?o WHERE { ?s <next>+ ?o }")
    want = {(f"n{i:03d}", f"n{j:03d}") for i in range(d + 1) for j in range(i + 1, d + 1)}
    got = list(map(tuple, plus.collect()))
    assert len(got) == d * (d + 1) // 2 and set(got) == want
    if d == 65:
        star = compile_sparql(chain, "SELECT ?s ?o WHERE { ?s <next>* ?o }")
        ident = {(f"n{i:03d}",) * 2 for i in range(d + 1)}
        assert sorted(map(tuple, star.collect())) == sorted(want | ident)


def _bfs_closure(edges):
    """{(s, o): o reachable from s by one or more edges} by per-node BFS."""
    succ: dict = {}
    for s, o in edges:
        succ.setdefault(s, set()).add(o)
    out = set()
    for start in succ:
        seen, todo = set(), list(succ[start])
        while todo:
            n = todo.pop()
            if n not in seen:
                seen.add(n)
                todo.extend(succ.get(n, ()))
        out |= {(start, n) for n in seen}
    return out


def test_plus_star_random_named_graphs_match_bfs(spark):
    """20 random <=12-node graphs (cycles, self-loops, node names shared
    across graphs, a second predicate as noise) as 20 named graphs of
    one quad frame: per-graph + and *, the unbound + over the union of
    all graphs, and seeded +/* from three nodes (both directions, GRAPH
    ?g and GRAPH <g3>), against a Python BFS closure."""
    import random

    rng = random.Random(11)
    quads = []
    for g in range(20):
        nodes = [f"n{i}" for i in range(rng.randint(1, 12))]
        for _ in range(rng.randint(0, 2 * len(nodes))):
            quads.append((rng.choice(nodes), "p", rng.choice(nodes), f"g{g}"))
        for _ in range(rng.randint(0, 3)):
            quads.append((rng.choice(nodes), "q", rng.choice(nodes), f"g{g}"))
    assert any(s == o for s, p, o, _ in quads if p == "p")  # a self-loop
    frame = spark.createDataFrame(
        quads, "subj string, pred string, obj string, graph string"
    )
    plus_g, star_g = set(), set()
    for g in {q[3] for q in quads}:
        cl = _bfs_closure([(s, o) for s, p, o, gg in quads if gg == g and p == "p"])
        terms = {t for s, _, o, gg in quads if gg == g for t in (s, o)}
        plus_g |= {(g, s, o) for s, o in cl}
        star_g |= {(g, s, o) for s, o in cl} | {(g, t, t) for t in terms}

    def run(q):
        return sorted(map(tuple, compile_sparql(frame, q).collect()))

    assert run("SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <p>+ ?o } }") == sorted(plus_g)
    assert run("SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <p>* ?o } }") == sorted(star_g)
    union = _bfs_closure([(s, o) for s, p, o, _ in quads if p == "p"])
    assert run("SELECT ?s ?o WHERE { ?s <p>+ ?o }") == sorted(union)

    # seeded (ground endpoint) closures from three of the fixture's nodes
    graphs = {q[3] for q in quads}
    for n in rng.sample(sorted({t for s, _, o, _ in quads for t in (s, o)}), 3):
        assert run(f"SELECT ?o WHERE {{ <{n}> <p>+ ?o }}") == sorted(
            (o,) for s, o in union if s == n)
        assert run(f"SELECT ?s WHERE {{ ?s <p>+ <{n}> }}") == sorted(
            (s,) for s, o in union if o == n)
        # a ground endpoint is its own zero-length path in every graph
        assert run(f"SELECT ?g ?o WHERE {{ GRAPH ?g {{ <{n}> <p>* ?o }} }}") == sorted(
            {(g, o) for g, s, o in plus_g if s == n} | {(g, n) for g in graphs})
        assert run(f"SELECT ?o WHERE {{ GRAPH <g3> {{ <{n}> <p>+ ?o }} }}") == sorted(
            (o,) for g, s, o in plus_g if g == "g3" and s == n)


def test_plus_per_graph_scope(spark):
    quads = spark.createDataFrame(
        [
            ("a", "knows", "b", "g1"),
            ("b", "knows", "c", "g1"),
            ("b", "knows", "c", "g2"),  # g2 lacks the a->b edge
        ],
        "subj string, pred string, obj string, graph string",
    )
    out = compile_sparql(
        quads, "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <knows>+ ?o } }"
    )
    assert sorted(map(tuple, out.collect())) == [
        ("g1", "a", "b"), ("g1", "a", "c"), ("g1", "b", "c"), ("g2", "b", "c"),
    ]


def test_plus_errors(path_graph):
    with pytest.raises(SparqlError):
        parse_sparql("SELECT ?s WHERE { ?s ?p+ ?o }")  # variable predicate
    with pytest.raises(SparqlError):
        compile_sparql(
            path_graph, "CONSTRUCT { ?s <x>+ ?o } WHERE { ?s ?p ?o }"
        )
    # + in the WHERE of a CONSTRUCT is fine
    out = compile_sparql(
        path_graph,
        "CONSTRUCT { ?s <reaches> ?o } WHERE { ?s <knows>+ ?o }",
    )
    assert out.where("pred = 'reaches'").count() == 10


# --------------------------------------------------------------------------
# VALUES (inline bindings)
# --------------------------------------------------------------------------

VKG = [
    ("a", "scan", "t1"),
    ("b", "scan", "t2"),
    ("c", "scan", "t3"),
    ("a", "agg", "x"),
]


@pytest.fixture(scope="module")
def values_graph(spark):
    return spark.createDataFrame(VKG, "subj string, pred string, obj string")


def test_values_single_var(values_graph):
    out = compile_sparql(
        values_graph,
        'SELECT ?s ?o WHERE { VALUES ?s { "a" "b" } ?s <scan> ?o } ORDER BY ?s',
    )
    assert sorted(map(tuple, out.collect())) == [("a", "t1"), ("b", "t2")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan  # the literal table is always broadcast


def test_values_multi_var_remap(values_graph):
    out = compile_sparql(
        values_graph,
        'SELECT ?s ?tag ?o WHERE { '
        'VALUES (?p ?tag) { ("scan" "read") ("agg" "rollup") } ?s ?p ?o }',
    )
    assert sorted(map(tuple, out.collect())) == [
        ("a", "read", "t1"), ("a", "rollup", "x"),
        ("b", "read", "t2"), ("c", "read", "t3"),
    ]


def test_values_unshared_is_bounded_product(values_graph):
    # fresh VALUES vars join as a constant binding table — a FILTER can
    # then consume them; no allow_product needed (row count is literal)
    out = compile_sparql(
        values_graph,
        'SELECT ?s WHERE { VALUES ?x { "t1" } ?s <scan> ?o . FILTER(?o = ?x) }',
    )
    assert sorted(map(tuple, out.collect())) == [("a",)]
    cross = compile_sparql(
        values_graph, 'SELECT ?s ?z WHERE { VALUES ?z { "q" } ?s <agg> ?o }'
    )
    assert sorted(map(tuple, cross.collect())) == [("a", "q")]


@pytest.mark.parametrize(
    "bad",
    [
        'SELECT ?s WHERE { ?s <p> ?o . OPTIONAL { VALUES ?x { "1" } ?o <q> ?x } }',
        "SELECT ?s WHERE { VALUES ?s { } ?s ?p ?o }",
        "SELECT ?s WHERE { VALUES ?s { ?v } ?s ?p ?o }",
        'SELECT ?s WHERE { VALUES (?a ?a) { ("1" "2") } ?s ?p ?a }',
    ],
)
def test_values_errors(values_graph, bad):
    with pytest.raises(SparqlError):
        compile_sparql(values_graph, bad).columns


# --------------------------------------------------------------------------
# ASK / DESCRIBE
# --------------------------------------------------------------------------


def test_ask(values_graph):
    yes = compile_sparql(values_graph, 'ASK { <a> <scan> ?o }')
    assert yes.columns == ["ask"]
    assert [tuple(r) for r in yes.collect()] == [(True,)]
    no = compile_sparql(
        values_graph, 'ASK WHERE { ?s <scan> ?o . FILTER(?o = "nope") }'
    )
    assert [tuple(r) for r in no.collect()] == [(False,)]
    # composes with VALUES and paths
    v = compile_sparql(
        values_graph, 'ASK { VALUES ?s { "c" } ?s <scan> ?o }'
    )
    assert [tuple(r) for r in v.collect()] == [(True,)]


def test_describe(values_graph):
    out = compile_sparql(values_graph, "DESCRIBE <a>")
    assert sorted(map(tuple, out.collect())) == [
        ("a", "agg", "x"), ("a", "scan", "t1"),
    ]
    two = compile_sparql(values_graph, "DESCRIBE <t2> <x>")
    assert sorted(map(tuple, two.collect())) == [
        ("a", "agg", "x"), ("b", "scan", "t2"),
    ]


@pytest.mark.parametrize(
    "bad",
    [
        "ASK { }",
        "DESCRIBE",
        "DESCRIBE ?v WHERE { ?v ?p ?o }",
        "DESCRIBE <a> extra",
    ],
)
def test_ask_describe_errors(values_graph, bad):
    with pytest.raises(SparqlError):
        compile_sparql(values_graph, bad).columns


# --------------------------------------------------------------------------
# UNION / MINUS / BIND (SPARQL 1.1 §7, §8.3, §10.1)
# --------------------------------------------------------------------------

AKG = [
    ("a", "scan", "x"), ("b", "agg", "x"), ("a", "join", "y"),
    ("c", "join", "y"), ("a", "filter", "z"), ("b", "merge", "w"),
    ("a", "scan", "q"), ("a", "agg", "q"),
]


@pytest.fixture(scope="module")
def alg_graph(spark):
    return spark.createDataFrame(AKG, "subj string, pred string, obj string")


def test_union_bag_semantics(alg_graph):
    out = compile_sparql(
        alg_graph,
        "SELECT ?s ?o WHERE { { ?s <scan> ?o } UNION { ?s <agg> ?o } } "
        "ORDER BY ?s ?o",
    )
    rows = [tuple(r) for r in out.collect()]
    # ('a','q') matches BOTH branches -> two rows (bag, no DISTINCT)
    assert rows == [
        ("a", "q"), ("a", "q"), ("a", "x"), ("b", "q") if False else ("b", "x"),
    ] or rows == [("a", "q"), ("a", "q"), ("a", "x"), ("b", "q"), ("b", "x")]
    assert rows.count(("a", "q")) == 2


def test_union_three_branches_and_join(alg_graph):
    out = compile_sparql(
        alg_graph,
        "SELECT ?s ?o ?y WHERE { ?s <join> ?y . "
        "{ ?s <scan> ?o } UNION { ?s <filter> ?o } UNION { ?s <agg> ?o } } "
        "ORDER BY ?s ?o",
    )
    assert [tuple(r) for r in out.collect()] == [
        ("a", "q", "y"), ("a", "q", "y"), ("a", "x", "y"), ("a", "z", "y"),
    ]


def test_union_only_where_clause(alg_graph):
    out = compile_sparql(
        alg_graph,
        "SELECT (COUNT(*) AS ?n) WHERE { { ?s <merge> ?o } UNION { ?s <filter> ?o } }",
    )
    assert out.collect()[0].n == 2


def test_minus_excludes_and_keeps(alg_graph):
    out = compile_sparql(
        alg_graph,
        "SELECT DISTINCT ?s ?o WHERE { ?s <join> ?o MINUS { ?s <filter> ?z } } "
        "ORDER BY ?s",
    )
    # a filters -> excluded; c never filters -> kept
    assert [tuple(r) for r in out.collect()] == [("c", "y")]


def test_minus_null_shared_var_is_kept(alg_graph):
    # OPTIONAL leaves ?v unbound for subject c; MINUS over ?v must keep
    # those rows (disjoint-domain rule: null never matches the anti probe)
    out = compile_sparql(
        alg_graph,
        "SELECT ?s ?v WHERE { ?s <join> ?y OPTIONAL { ?s <scan> ?v } "
        "MINUS { ?z <agg> ?v } } ORDER BY ?s",
    )
    rows = [tuple(r) for r in out.collect()]
    # a scans x and q; BOTH are agg objects -> both solutions excluded;
    # c has no scan -> ?v unbound (null) -> never matches the probe -> kept
    assert rows == [("c", None)]


def test_bind_concat_and_plain(alg_graph):
    out = compile_sparql(
        alg_graph,
        'SELECT ?edge WHERE { ?s <merge> ?o . '
        'BIND(CONCAT(?s, "->", ?o) AS ?edge) }',
    )
    assert [r.edge for r in out.collect()] == ["b->w"]
    out2 = compile_sparql(
        alg_graph,
        "SELECT ?t WHERE { ?s <merge> ?o . BIND(?o AS ?t) }",
    )
    assert [r.t for r in out2.collect()] == ["w"]


def test_bind_feeds_filter(alg_graph):
    out = compile_sparql(
        alg_graph,
        'SELECT ?s WHERE { ?s <join> ?o . BIND(CONCAT(?s, ?o) AS ?k) . '
        'FILTER(?k = "cy") }',
    )
    assert [r.s for r in out.collect()] == ["c"]


@pytest.mark.parametrize(
    "bad",
    [
        # mismatched branch variables
        "SELECT ?s WHERE { { ?s <scan> ?x } UNION { ?s <agg> ?y } }",
        # bare nested group without UNION
        "SELECT ?s WHERE { { ?s <scan> ?x } }",
        # single-branch union is a parse error either way
        "SELECT ?s WHERE { { ?s <scan> ?x } UNION }",
        # MINUS sharing nothing
        "SELECT ?s WHERE { ?s <scan> ?x MINUS { ?q <agg> ?r } }",
        # BIND re-binding an existing var
        "SELECT ?s WHERE { ?s <scan> ?x . BIND(?s AS ?x) }",
        # BIND over unbound var
        "SELECT ?s WHERE { ?s <scan> ?x . BIND(?nope AS ?y) }",
        # CONCAT arity
        'SELECT ?s WHERE { ?s <scan> ?x . BIND(CONCAT(?s) AS ?y) }',
        # UNION inside OPTIONAL unsupported
        "SELECT ?s WHERE { ?s <scan> ?x OPTIONAL { { ?s <agg> ?y } UNION { ?s <join> ?y } } }",
    ],
)
def test_algebra_errors(alg_graph, bad):
    with pytest.raises(SparqlError):
        compile_sparql(alg_graph, bad).columns


def test_union_minus_in_construct_and_ask(alg_graph):
    g = compile_sparql(
        alg_graph,
        "CONSTRUCT { ?s <touches> ?o } WHERE "
        "{ { ?s <scan> ?o } UNION { ?s <merge> ?o } MINUS { ?s <filter> ?z } }",
    )
    got = sorted(map(tuple, g.collect()))
    # subject a is filtered out by MINUS; b's scan?? b has no scan — only merge
    assert got == [("b", "touches", "w")]
    assert compile_sparql(
        alg_graph, "ASK { { ?q <sort> ?r } UNION { ?q <group> ?r } }"
    ).collect()[0].ask is False


# --------------------------------------------------------------------------
# Sequence / alternative property paths (SPARQL 1.1 §9.1)
# --------------------------------------------------------------------------

PKG = [
    ("a", "scan", "x"), ("x", "join", "y"), ("y", "sort", "z"),
    ("b", "agg", "x"), ("a", "filter", "q"),
]


@pytest.fixture(scope="module")
def seqalt_graph(spark):
    return spark.createDataFrame(PKG, "subj string, pred string, obj string")


def test_sequence_path(seqalt_graph):
    out = compile_sparql(seqalt_graph, "SELECT ?s ?o WHERE { ?s <scan>/<join> ?o }")
    assert [tuple(r) for r in out.collect()] == [("a", "y")]
    out3 = compile_sparql(
        seqalt_graph, "SELECT ?s ?o WHERE { ?s <scan>/<join>/<sort> ?o }"
    )
    assert [tuple(r) for r in out3.collect()] == [("a", "z")]


def test_alternative_path_bag_semantics(spark):
    g = spark.createDataFrame(
        [("a", "scan", "x"), ("a", "agg", "x")],
        "subj string, pred string, obj string",
    )
    # both branches match the same pair -> two rows without DISTINCT
    out = compile_sparql(g, "SELECT ?s ?o WHERE { ?s <scan>|<agg> ?o }")
    assert len(out.collect()) == 2
    assert compile_sparql(
        g, "SELECT DISTINCT ?s ?o WHERE { ?s <scan>|<agg> ?o }"
    ).count() == 1


def test_path_composes_with_bgp_and_graph(seqalt_graph, spark):
    out = compile_sparql(
        seqalt_graph,
        "SELECT ?s ?o ?q WHERE { ?s <scan>/<join> ?o . ?s <filter> ?q }",
    )
    assert [tuple(r) for r in out.collect()] == [("a", "y", "q")]
    quads = spark.createDataFrame(
        [("a", "scan", "x", "g1"), ("x", "join", "y", "g1"),
         ("a", "scan", "x2", "g2"), ("x2", "join", "y2", "g3")],
        "subj string, pred string, obj string, graph string",
    )
    # sequence hops stay INSIDE one named graph: the g2->g3 chain is out
    out = compile_sparql(
        quads, "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <scan>/<join> ?o } }"
    )
    assert [tuple(r) for r in out.collect()] == [("g1", "a", "y")]


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT ?s WHERE { ?s <a>/<b>|<c> ?o }",   # mixed operators
        "SELECT ?s WHERE { ?s ?p/<b> ?o }",        # variable element
        "SELECT ?s WHERE { ?s <a>/?p ?o }",
    ],
)
def test_path_errors(seqalt_graph, bad):
    with pytest.raises(SparqlError):
        compile_sparql(seqalt_graph, bad).columns


def test_sequence_path_pred_pruning(spark, tmp_path):
    """Both hops of a sequence must prune a pred-partitioned store to
    their own partition (the 10^12-triple contract, extended from the
    single-pattern test above)."""
    import re

    d = str(tmp_path / "pred_part_seq")
    kg = spark.createDataFrame(PKG * 30, "subj string, pred string, obj string")
    kg.write.partitionBy("pred").mode("overwrite").parquet(d)
    store = spark.read.parquet(d)
    q = compile_sparql(store, "SELECT ?s ?o WHERE { ?s <scan>/<join> ?o }")
    plan = q._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("= scan" in f for f in filters)
    assert any("= join" in f for f in filters)


# --------------------------------------------------------------------------
# FILTER [NOT] EXISTS (SPARQL 1.1 §8.1.1)
# --------------------------------------------------------------------------

EKG = [
    ("a", "agg", "x"), ("a", "group", "y"), ("b", "agg", "z"),
    ("c", "sort", "w"), ("d", "sort", "w"), ("d", "merge", "v"),
]


@pytest.fixture(scope="module")
def exists_graph(spark):
    return spark.createDataFrame(EKG, "subj string, pred string, obj string")


def test_filter_exists_and_not_exists(exists_graph):
    out = compile_sparql(
        exists_graph,
        "SELECT DISTINCT ?s WHERE { ?s <agg> ?o . FILTER EXISTS { ?s <group> ?z } }",
    )
    assert [r.s for r in out.collect()] == ["a"]
    out = compile_sparql(
        exists_graph,
        "SELECT DISTINCT ?s WHERE { ?s <sort> ?o . "
        "FILTER NOT EXISTS { ?s <merge> ?z } }",
    )
    assert [r.s for r in out.collect()] == ["c"]


def test_uncorrelated_exists_is_a_global_gate(exists_graph):
    # inner matches nothing -> NOT EXISTS keeps everything
    keep = compile_sparql(
        exists_graph,
        "SELECT ?s WHERE { ?s <agg> ?o . FILTER NOT EXISTS { ?q <scan> ?z } }",
    )
    assert keep.count() == 2
    # inner matches something -> EXISTS keeps everything, NOT EXISTS drops all
    assert compile_sparql(
        exists_graph,
        "SELECT ?s WHERE { ?s <agg> ?o . FILTER EXISTS { ?q <merge> ?z } }",
    ).count() == 2
    assert compile_sparql(
        exists_graph,
        "SELECT ?s WHERE { ?s <agg> ?o . FILTER NOT EXISTS { ?q <merge> ?z } }",
    ).count() == 0


def test_exists_with_inner_filter_and_graph(spark):
    quads = spark.createDataFrame(
        [("s1", "sort", "o", "g1"), ("s1", "merge", "m", "g1"),
         ("s2", "sort", "o", "g2"), ("s2", "merge", "m", "g3")],
        "subj string, pred string, obj string, graph string",
    )
    # doc-scoped NOT EXISTS: s2's merge lives in ANOTHER graph -> kept
    out = compile_sparql(
        quads,
        "SELECT DISTINCT ?g ?s WHERE { GRAPH ?g { ?s <sort> ?o } "
        "FILTER NOT EXISTS { GRAPH ?g { ?s <merge> ?z } } }",
    )
    assert [tuple(r) for r in out.collect()] == [("g2", "s2")]


def test_exists_errors(exists_graph):
    for bad in [
        "SELECT ?s WHERE { ?s <agg> ?o . FILTER EXISTS { } }",
        "SELECT ?s WHERE { ?s <agg> ?o . OPTIONAL { ?s <group> ?g } "
        "FILTER EXISTS { ?g <x> ?y } }",
        "SELECT ?s WHERE { ?s <agg> ?o "
        "OPTIONAL { ?s <p> ?v FILTER EXISTS { ?v <q> ?w } } }",
    ]:
        with pytest.raises(SparqlError):
            compile_sparql(exists_graph, bad).columns


def test_exists_over_optional_var_rejected_with_shared_required_var(exists_graph):
    # ?s is required, ?g only OPTIONAL-bound: correlating on ?s alone
    # would drop the ?g condition without a word
    with pytest.raises(SparqlError, match="OPTIONAL-bound"):
        compile_sparql(
            exists_graph,
            "SELECT ?s WHERE { ?s <agg> ?o . OPTIONAL { ?s <group> ?g } "
            "FILTER EXISTS { ?s <agg> ?g } }",
        ).columns


# --------------------------------------------------------------------------
# Inverse paths + OFFSET
# --------------------------------------------------------------------------

def test_inverse_path_forms(spark):
    g = spark.createDataFrame(
        [("a", "scan", "x"), ("b", "scan", "x"), ("x", "join", "y"),
         ("a", "sort", "b"), ("b", "sort", "c")],
        "subj string, pred string, obj string",
    )
    out = compile_sparql(g, "SELECT ?o ?s WHERE { ?o ^<scan> ?s }")
    assert sorted(map(tuple, out.collect())) == [("x", "a"), ("x", "b")]
    # co-scanner idiom: forward hop then inverse hop over the same pred
    out = compile_sparql(
        g, "SELECT DISTINCT ?s ?t WHERE { ?s <scan>/^<scan> ?t . FILTER(?s != ?t) }"
    )
    assert sorted(map(tuple, out.collect())) == [("a", "b"), ("b", "a")]
    # inverse transitive closure = closure with endpoints swapped
    out = compile_sparql(g, "SELECT ?s ?o WHERE { ?s ^<sort>+ ?o }")
    assert sorted(map(tuple, out.collect())) == [
        ("b", "a"), ("c", "a"), ("c", "b"),
    ]
    # inverse branch in an alternative
    out = compile_sparql(
        g, "SELECT DISTINCT ?s ?o WHERE { ?s <join>|^<scan> ?o }"
    )
    assert sorted(map(tuple, out.collect())) == [
        ("x", "a"), ("x", "b"), ("x", "y"),
    ]
    with pytest.raises(SparqlError):
        compile_sparql(g, "SELECT ?s WHERE { ?s ^?p ?o }").columns


def test_limit_offset_slice(spark):
    g = spark.createDataFrame(
        [("s%d" % i, "scan", "x") for i in range(6)],
        "subj string, pred string, obj string",
    )
    out = compile_sparql(
        g, "SELECT ?s WHERE { ?s <scan> ?o } ORDER BY ?s LIMIT 2 OFFSET 3"
    )
    assert [r.s for r in out.collect()] == ["s3", "s4"]
    # OFFSET alone, and OFFSET-before-LIMIT written the other way round
    out = compile_sparql(g, "SELECT ?s WHERE { ?s <scan> ?o } ORDER BY ?s OFFSET 4")
    assert [r.s for r in out.collect()] == ["s4", "s5"]
    out = compile_sparql(
        g, "SELECT ?s WHERE { ?s <scan> ?o } ORDER BY ?s OFFSET 1 LIMIT 2"
    )
    assert [r.s for r in out.collect()] == ["s1", "s2"]
    with pytest.raises(SparqlError):
        parse_sparql("SELECT ?s WHERE { ?s <scan> ?o } OFFSET x")


# --------------------------------------------------------------------------
# ZeroOrMorePath (SPARQL 1.1 §9.1 / §9.3)
# --------------------------------------------------------------------------

def test_zero_or_more_path(spark):
    g = spark.createDataFrame(
        [("a", "join", "b"), ("b", "join", "c"), ("a", "scan", "x")],
        "subj string, pred string, obj string",
    )
    out = compile_sparql(g, "SELECT ?s ?o WHERE { ?s <join>* ?o }")
    got = sorted(map(tuple, out.collect()))
    # closure pairs + identity over EVERY graph term (x included)
    assert got == [
        ("a", "a"), ("a", "b"), ("a", "c"), ("b", "b"), ("b", "c"),
        ("c", "c"), ("x", "x"),
    ]
    # seeded: the seed's own identity row comes first, even off-graph
    assert [r.o for r in compile_sparql(
        g, "SELECT ?o WHERE { <zzz> <join>* ?o }").collect()] == ["zzz"]
    assert sorted(r.o for r in compile_sparql(
        g, "SELECT ?o WHERE { <a> <join>* ?o }").collect()) == ["a", "b", "c"]
    # GRAPH-scoped: identity per named graph
    quads = spark.createDataFrame(
        [("a", "join", "b", "g1"), ("c", "scan", "d", "g2")],
        "subj string, pred string, obj string, graph string",
    )
    out = compile_sparql(
        quads, "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <join>* ?o } }"
    )
    got = sorted(map(tuple, out.collect()))
    assert ("g2", "c", "c") in got and ("g1", "a", "b") in got
    assert ("g2", "a", "a") not in got  # a is not a term of g2
    # GRAPH <iri>: identity over that graph's terms only
    out = compile_sparql(
        quads, "SELECT ?s ?o WHERE { GRAPH <g1> { ?s <join>* ?o } }"
    )
    assert sorted(map(tuple, out.collect())) == [
        ("a", "a"), ("a", "b"), ("b", "b"),
    ]


def test_sum_avg_aggregates_skip_non_numeric(spark):
    kg = spark.createDataFrame(
        [("d1", "n", "10"), ("d2", "n", "20"), ("d3", "n", "31"),
         ("d3", "n", "oops"), ("d1", "src", "a"), ("d2", "src", "a"),
         ("d3", "src", "b")],
        "subj string, pred string, obj string",
    )
    out = compile_sparql(
        kg,
        "SELECT ?s (SUM(?v) AS ?total) (AVG(?v) AS ?mean) "
        "WHERE { ?d <n> ?v . ?d <src> ?s } GROUP BY ?s ORDER BY ?s",
    )
    assert [tuple(r) for r in out.collect()] == [
        ("a", 30.0, 15.0), ("b", 31.0, 31.0),
    ]
    with pytest.raises(SparqlError):
        parse_sparql("SELECT (SUM(*) AS ?n) WHERE { ?s ?p ?o }")


# --------------------------------------------------------------------------
# Subqueries (SPARQL 1.1 §12)
# --------------------------------------------------------------------------

def test_subquery_aggregate_then_join(spark):
    kg = spark.createDataFrame(
        [("a", "scan", "x"), ("a", "scan", "y"), ("b", "scan", "x"),
         ("a", "type", "T"), ("b", "type", "U")],
        "subj string, pred string, obj string",
    )
    out = compile_sparql(
        kg,
        "SELECT ?s ?t ?n WHERE { ?s <type> ?t . "
        "{ SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <scan> ?o } GROUP BY ?s } } "
        "ORDER BY ?s",
    )
    assert [tuple(r) for r in out.collect()] == [("a", "T", 2), ("b", "U", 1)]
    # inner ORDER/LIMIT survives: top-1 scanner only
    top = compile_sparql(
        kg,
        "SELECT ?s ?n WHERE { ?s <type> ?t . "
        "{ SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <scan> ?o } GROUP BY ?s "
        "ORDER BY DESC(?n) ?s LIMIT 1 } }",
    )
    assert [tuple(r) for r in top.collect()] == [("a", 2)]
    # subquery-only WHERE clause
    solo = compile_sparql(
        kg,
        "SELECT ?s ?n WHERE { { SELECT ?s (COUNT(?o) AS ?n) "
        "WHERE { ?s <scan> ?o } GROUP BY ?s } } ORDER BY ?s",
    )
    assert [tuple(r) for r in solo.collect()] == [("a", 2), ("b", 1)]


def test_subquery_errors(spark):
    kg = spark.createDataFrame(
        [("a", "scan", "x")], "subj string, pred string, obj string"
    )
    # disconnected subquery refused without allow_product
    with pytest.raises(SparqlError, match="shares no variable"):
        compile_sparql(
            kg,
            "SELECT ?s WHERE { ?s <scan> ?o . "
            "{ SELECT ?q WHERE { ?q <scan> ?z } } }",
        ).columns
    # ...but permitted with it
    assert compile_sparql(
        kg,
        "SELECT ?s ?q WHERE { ?s <scan> ?o . "
        "{ SELECT ?q WHERE { ?q <scan> ?z } } }",
        allow_product=True,
    ).count() == 1


# --------------------------------------------------------------------------
# Parser robustness: garbage in -> SparqlError out, never anything else
# --------------------------------------------------------------------------

def test_parser_fuzz_only_raises_sparql_errors():
    import random

    rng = random.Random(7)
    vocab = ["SELECT", "WHERE", "{", "}", "(", ")", "?x", "?y", "<p>", "<q>",
             '"lit"', "FILTER", "OPTIONAL", "UNION", "MINUS", "BIND", "AS",
             "EXISTS", "NOT", "VALUES", "GRAPH", "CONCAT", "COUNT", "SUM",
             "GROUP", "BY", "ORDER", "LIMIT", "OFFSET", "+", "*", "/", "|",
             "^", ".", ",", "=", "!=", "5", "DISTINCT", "ASK", "DESCRIBE",
             "CONSTRUCT"]
    n_ok = 0
    for _ in range(500):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25)))
        try:
            parse_sparql(text)
            n_ok += 1
        except SparqlError:
            pass  # the one permitted failure mode
    # some random strings should actually parse (sanity that the fuzz
    # isn't vacuous) while most are rejected cleanly
    assert 0 <= n_ok < 500
