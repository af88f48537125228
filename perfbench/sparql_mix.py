"""SPARQL templates of the ``kg_query`` workload and their DuckDB twins.

Shapes follow recon_spark/queries/graph.py. Each template has fixed
predicates (``P``/``Q``; some are entailed super-properties) and, for
the bound-subject paths, a subject ``E`` drawn from the seed; the
SPARQL text runs through ``compile_sparql`` and the SQL twin runs in
DuckDB over the same parquet, as views ``kg(subj, pred, obj)`` (the
entailed KG) and ``quads(subj, pred, obj, graph)`` (store rows with the
page url as graph).

Left out on purpose: cross-graph templates (``GRAPH ?g1 ... GRAPH ?g2
... FILTER(?g1 != ?g2)``). Their output is every pair of pages sharing a
fact, quadratic in the pages per fact (measured at 140 s per query on a
200k-page store), so one such query would be the whole run.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# fixed predicate slots per template; "reads", "combines", "summarizes"
# and "orders" exist only in the entailed KG
PREDS: dict[str, tuple[str, str]] = {
    "star": ("scan", "join"),
    "optional_agg": ("summarizes", "orders"),
    "union": ("reads", "combines"),
    "filter_exists": ("agg", "group"),
    "subquery": ("scan", "sort"),
    "seq_path": ("scan", "group"),
    "inverse_path": ("scan", "scan"),
    "alt_path": ("sort", "group"),
    "plus": ("join", "join"),
    "star_path": ("merge", "merge"),
    "plus_bound": ("combines", "combines"),
    "star_bound": ("reads", "reads"),
    "graph_minus": ("join", "filter"),
    "graph_not_exists": ("sort", "merge"),
}


def _closure_sql(pred: str) -> str:
    return f"""e AS (SELECT DISTINCT subj AS s, obj AS o FROM kg WHERE pred = '{pred}'),
r(s, o) AS (SELECT s, o FROM e UNION SELECT r.s, e.o FROM r JOIN e ON r.o = e.s)"""


# name -> (graph, sparql, sql, is_path); slots: {P} {Q} (PREDS) and {E}
TEMPLATES: dict[str, tuple[str, str, str, bool]] = {
    "star": (
        "kg",
        "SELECT ?s ?a ?b WHERE { ?s <{P}> ?a . ?s <{Q}> ?b . FILTER(?a != ?b) }",
        "SELECT a.subj, a.obj, b.obj FROM kg a JOIN kg b ON a.subj = b.subj "
        "WHERE a.pred = '{P}' AND b.pred = '{Q}' AND a.obj <> b.obj",
        False,
    ),
    "optional_agg": (
        "kg",
        "SELECT ?s (COUNT(?x) AS ?n) (MAX(?g) AS ?top) WHERE "
        "{ ?s <{P}> ?g . OPTIONAL { ?s <{Q}> ?x } } GROUP BY ?s",
        "SELECT g.subj, count(x.obj), max(g.obj) FROM "
        "(SELECT subj, obj FROM kg WHERE pred = '{P}') g LEFT JOIN "
        "(SELECT subj, obj FROM kg WHERE pred = '{Q}') x ON g.subj = x.subj "
        "GROUP BY g.subj",
        False,
    ),
    "union": (
        "kg",
        "SELECT ?s ?o WHERE { { ?s <{P}> ?o } UNION { ?s <{Q}> ?o } }",
        "SELECT subj, obj FROM kg WHERE pred = '{P}' "
        "UNION ALL SELECT subj, obj FROM kg WHERE pred = '{Q}'",
        False,
    ),
    "filter_exists": (
        "kg",
        "SELECT DISTINCT ?s WHERE { ?s <{P}> ?o . FILTER EXISTS { ?s <{Q}> ?z } }",
        "SELECT DISTINCT subj FROM kg k WHERE pred = '{P}' AND EXISTS "
        "(SELECT 1 FROM kg x WHERE x.subj = k.subj AND x.pred = '{Q}')",
        False,
    ),
    "subquery": (
        "kg",
        "SELECT DISTINCT ?s ?n WHERE { ?s <{Q}> ?z . "
        "{ SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <{P}> ?o } "
        "GROUP BY ?s ORDER BY DESC(?n) ?s LIMIT 3 } }",
        "WITH topk AS (SELECT subj AS s, count(*) AS n FROM kg WHERE pred = '{P}' "
        "GROUP BY 1 ORDER BY n DESC, s LIMIT 3) "
        "SELECT DISTINCT t.s, t.n FROM topk t WHERE EXISTS "
        "(SELECT 1 FROM kg k WHERE k.subj = t.s AND k.pred = '{Q}')",
        False,
    ),
    "seq_path": (
        "kg",
        "SELECT DISTINCT ?s ?o WHERE { ?s <{P}>/<{Q}> ?o }",
        "SELECT DISTINCT a.subj, b.obj FROM kg a JOIN kg b ON a.obj = b.subj "
        "WHERE a.pred = '{P}' AND b.pred = '{Q}'",
        False,
    ),
    "inverse_path": (
        "kg",
        "SELECT DISTINCT ?s ?t WHERE { ?s <{P}>/^<{P}> ?t . FILTER(?s != ?t) }",
        "SELECT DISTINCT a.subj, b.subj FROM kg a JOIN kg b ON a.obj = b.obj "
        "WHERE a.pred = '{P}' AND b.pred = '{P}' AND a.subj <> b.subj",
        False,
    ),
    "alt_path": (
        "kg",
        "SELECT DISTINCT ?s ?o WHERE { ?s <{P}>|<{Q}> ?o }",
        "SELECT DISTINCT subj, obj FROM kg WHERE pred IN ('{P}', '{Q}')",
        False,
    ),
    "plus": (
        "kg",
        "SELECT ?s ?o WHERE { ?s <{P}>+ ?o }",
        "WITH RECURSIVE " + _closure_sql("{P}") + " SELECT DISTINCT s, o FROM r",
        True,
    ),
    "star_path": (
        "kg",
        "SELECT DISTINCT ?s ?o WHERE { ?s <{P}>* ?o }",
        "WITH RECURSIVE " + _closure_sql("{P}") + ", terms AS "
        "(SELECT subj AS n FROM kg UNION SELECT obj FROM kg) "
        "SELECT s, o FROM r UNION SELECT n, n FROM terms",
        True,
    ),
    "plus_bound": (
        "kg",
        "SELECT ?o WHERE { <{E}> <{P}>+ ?o }",
        "WITH RECURSIVE " + _closure_sql("{P}") + " SELECT DISTINCT o FROM r "
        "WHERE s = '{E}'",
        True,
    ),
    "star_bound": (
        "kg",
        "SELECT ?o WHERE { <{E}> <{P}>* ?o }",
        "WITH RECURSIVE " + _closure_sql("{P}") + " SELECT o FROM r "
        "WHERE s = '{E}' UNION SELECT '{E}'",
        True,
    ),
    "graph_minus": (
        "quads",
        "SELECT DISTINCT ?g ?s WHERE { GRAPH ?g { ?s <{P}> ?o } "
        "MINUS { GRAPH ?g { ?s <{Q}> ?z } } }",
        "SELECT DISTINCT graph, subj FROM quads k WHERE pred = '{P}' AND NOT EXISTS "
        "(SELECT 1 FROM quads x WHERE x.graph = k.graph AND x.subj = k.subj "
        "AND x.pred = '{Q}')",
        False,
    ),
    "graph_not_exists": (
        "quads",
        "SELECT DISTINCT ?g ?s WHERE { GRAPH ?g { ?s <{P}> ?o } "
        "FILTER NOT EXISTS { GRAPH ?g { ?s <{Q}> ?z } } }",
        "SELECT DISTINCT graph, subj FROM quads k WHERE pred = '{P}' AND NOT EXISTS "
        "(SELECT 1 FROM quads x WHERE x.graph = k.graph AND x.subj = k.subj "
        "AND x.pred = '{Q}')",
        False,
    ),
}

PATH_TEMPLATES = tuple(n for n, t in TEMPLATES.items() if t[3])


@dataclass(frozen=True)
class Query:
    template: str
    graph: str  # "kg" or "quads"
    sparql: str
    sql: str


def _fill(text: str, slots: dict[str, str]) -> str:
    for k, v in slots.items():
        text = text.replace("{" + k + "}", v)
    return text


def draw_rounds(
    seed: int, n_rounds: int, subjects: list[tuple[str, int]]
) -> list[list[Query]]:
    """A seed-drawn closed-loop sequence of rounds. Each round is a
    shuffled pass over every template, so the template mix is the same
    for every seed and every run length. ``subjects`` are (subject,
    out-degree) pairs of the KG; bound subjects are drawn with
    probability proportional to degree (skewed toward hubs)."""
    rng = random.Random(seed)
    names = sorted(TEMPLATES)
    subj, weights = zip(*subjects)
    out: list[list[Query]] = []
    for _ in range(n_rounds):
        order = names[:]
        rng.shuffle(order)
        out.append([])
        for name in order:
            graph, sparql, sql, _is_path = TEMPLATES[name]
            p, q = PREDS[name]
            slots = {"P": p, "Q": q, "E": rng.choices(subj, weights)[0]}
            out[-1].append(Query(name, graph, _fill(sparql, slots), _fill(sql, slots)))
    return out
