"""RDFS entailment materialization + SHACL-lite shape validation over
the canonical triple table.

KG-construction pipelines do not stop at extracting (subj, pred, obj):
before materializing the graph they (a) close it under the ontology's
schema semantics so downstream SPARQL sees inferred facts without
per-query reasoning, and (b) gate it on shape constraints so malformed
entities never reach the published tables. This module implements both
as pure DataFrame plans.

Reference parity note: the reference has no reasoner — its closest
analog is the label-consistency machinery (recon/corrections.py
``fix_annotations`` rewrites labels through a correction dictionary;
recon/insights.py ``get_label_disparities`` flags entities whose
annotations disagree). RDFS entailment generalizes the former (rewrite
assertions through a schema dictionary, here with transitive closure)
and shape validation generalizes the latter (declarative per-entity
consistency predicates producing a violation report).

Scale design (10^12-triple A-Box, 10^4-row T-Box):

- The T-Box (ontology) is orders of magnitude smaller than the A-Box in
  every real KG (DBpedia: ~800 classes / 3k properties vs ~10^9
  triples). Its transitive closure is therefore computed DRIVER-side in
  Python (guarded by ``TBOX_MAX_ROWS``) and shipped to executors as
  broadcast dimension frames. Every rule application below is then a
  broadcast hash join on ``pred`` — map-side, no shuffle.
- The only shuffle in ``rdfs_entail`` is the final ``dropDuplicates``
  on (subj, pred, obj), which Spark executes with map-side partial
  aggregation; its width is the entailed graph, within a small constant
  factor (bounded by the property-hierarchy depth x assertion count) of
  the input.
- Shape validation is a handful of pred-pruned aggregations and
  left-anti joins over the entailed graph — each shape is one
  combinable agg or one semi/anti join keyed on the focus node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recon_spark.operators.scratch import iterate, pin_now

TYPE_PRED = "type"

# T-Box over the synthetic corpus' seven relation-operator predicates
# (scan/filter/join/merge/agg/group/sort). Local names only — the IRI
# layer (recon_spark/rdf.py) wraps them for interchange.
ONTOLOGY: tuple[tuple[str, str, str], ...] = (
    ("scan", "subPropertyOf", "reads"),
    ("filter", "subPropertyOf", "reads"),
    ("reads", "subPropertyOf", "accesses"),
    ("join", "subPropertyOf", "combines"),
    ("merge", "subPropertyOf", "combines"),
    ("combines", "subPropertyOf", "accesses"),
    ("agg", "subPropertyOf", "summarizes"),
    ("group", "subPropertyOf", "summarizes"),
    ("sort", "subPropertyOf", "orders"),
    ("reads", "domain", "Reader"),
    ("reads", "range", "Readable"),
    ("combines", "domain", "Combiner"),
    ("combines", "range", "Combinable"),
    ("summarizes", "domain", "Aggregator"),
    ("orders", "range", "Sortable"),
    ("accesses", "domain", "Operator"),
    ("accesses", "range", "Resource"),
    ("Reader", "subClassOf", "Operator"),
    ("Combiner", "subClassOf", "Operator"),
    ("Aggregator", "subClassOf", "Operator"),
    ("Operator", "subClassOf", "Thing"),
    ("Readable", "subClassOf", "Resource"),
    ("Combinable", "subClassOf", "Resource"),
    ("Sortable", "subClassOf", "Resource"),
    ("Resource", "subClassOf", "Thing"),
)

TBOX_MAX_ROWS = 100_000  # driver-side closure guard: T-Box is schema, not data


def _transitive_closure(pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Non-reflexive transitive closure of a tiny edge set (driver-side
    BFS per source node; the T-Box guard bounds the input)."""
    from collections import defaultdict

    succ: dict[str, set[str]] = defaultdict(set)
    for a, b in pairs:
        succ[a].add(b)
    out: set[tuple[str, str]] = set()
    for start in list(succ):
        seen: set[str] = set()
        frontier = list(succ[start])
        while frontier:
            node = frontier.pop()
            if node in seen:
                continue
            seen.add(node)
            frontier.extend(succ.get(node, ()))
        out.update((start, t) for t in seen)
    return sorted(out)


def tbox_closure(
    tbox: tuple[tuple[str, str, str], ...] = ONTOLOGY,
) -> dict[str, list[tuple[str, str]]]:
    """Split the T-Box into its four rule dimensions, with subPropertyOf
    and subClassOf transitively closed (rdfs5 / rdfs11)."""
    if len(tbox) > TBOX_MAX_ROWS:
        raise ValueError(
            f"T-Box has {len(tbox)} rows > {TBOX_MAX_ROWS}; driver-side "
            "closure assumes a schema-sized ontology"
        )
    by_pred: dict[str, list[tuple[str, str]]] = {
        "subPropertyOf": [],
        "subClassOf": [],
        "domain": [],
        "range": [],
    }
    for s, p, o in tbox:
        if p not in by_pred:
            raise ValueError(f"unsupported T-Box predicate: {p!r}")
        by_pred[p].append((s, o))
    return {
        "sp": _transitive_closure(by_pred["subPropertyOf"]),
        "sc": _transitive_closure(by_pred["subClassOf"]),
        "domain": sorted(set(by_pred["domain"])),
        "range": sorted(set(by_pred["range"])),
    }


def _dim(spark: SparkSession, pairs: list[tuple[str, str]], a: str, b: str) -> DataFrame:
    return spark.createDataFrame(pairs, f"{a} string, {b} string")


def rdfs_entail(
    spark: SparkSession,
    abox: DataFrame,
    tbox: tuple[tuple[str, str, str], ...] = ONTOLOGY,
    type_pred: str = TYPE_PRED,
    prededup: bool = True,
) -> DataFrame:
    """Materialize the RDFS closure of ``abox`` (subj, pred, obj) under
    ``tbox``: rdfs7 (subPropertyOf propagation, after rdfs5 closure),
    rdfs2/rdfs3 (domain/range typing over the propagated assertions),
    rdfs9 (type inheritance through the rdfs11-closed subClassOf).

    This rule order is a complete stratification for the
    property/class RDFS fragment: property closure feeds typing, typing
    feeds class closure, and no rule feeds back, unless the T-Box puts
    ``type_pred`` itself in the property schema (``_type_feedback``
    closes that case). Asserted type rows take part in rdfs9. Output
    is the distinct union of asserted + inferred triples; type
    assertions use the local name ``type`` for rdf:type
    (recon_spark.rdf handles IRI framing).
    """
    cl = tbox_closure(tbox)
    sp = F.broadcast(_dim(spark, cl["sp"], "p", "q"))
    dom = F.broadcast(_dim(spark, cl["domain"], "p", "cls"))
    rng = F.broadcast(_dim(spark, cl["range"], "p", "cls"))
    sc = F.broadcast(_dim(spark, cl["sc"], "cls", "sup"))

    base = abox.select("subj", "pred", "obj")
    # Raw extracted triples repeat the same fact across pages; closing
    # duplicates multiplies them through every rule before the final
    # distinct collapses them again. Dedup FIRST (map-side-combinable)
    # so the rule chain runs over the assertion set, not the assertion
    # bag — measured 125s -> collapse-proportional at 20M raw rows /
    # 2.1M facts (BENCH/BASELINE.md, "Round-5 final session"). Callers
    # whose input is already a distinct set (the canonical KG) pass
    # prededup=False to skip the extra exchange — at 10^12 stored
    # triples a no-op distinct is NOT free.
    if prededup:
        base = base.dropDuplicates(["subj", "pred", "obj"])
    # rdfs7: (s p o), p ⊑+ q  ⟹  (s q o) — broadcast join, map-side
    ext = base.unionByName(
        base.join(sp, base.pred == sp.p).select("subj", F.col("q").alias("pred"), "obj")
    )
    # type assertions (asserted, or rdfs7 from a sub-property of type)
    # plus rdfs2/rdfs3 over the extended assertions (domain/range of
    # inferred super-properties fire too, per the RDFS rule set)
    typ0 = (
        ext.where(ext.pred == type_pred)
        .select(F.col("subj").alias("node"), F.col("obj").alias("cls"))
        .unionByName(
            ext.join(dom, ext.pred == dom.p).select(
                F.col("subj").alias("node"), F.col("cls")
            )
        )
        .unionByName(
            ext.join(rng, ext.pred == rng.p).select(
                F.col("obj").alias("node"), F.col("cls")
            )
        )
    )
    # rdfs9: inherit types through the closed class hierarchy
    typ = typ0.unionByName(
        typ0.join(sc, typ0.cls == sc.cls).select("node", F.col("sup").alias("cls"))
    )
    typ, t_sup = _type_feedback(spark, typ, cl, type_pred)
    inferred = typ.select(
        F.col("node").alias("subj"), F.lit(type_pred).alias("pred"), F.col("cls").alias("obj")
    )
    if t_sup:
        # rdfs7 over the inferred type rows
        inferred = inferred.unionByName(
            typ.crossJoin(F.broadcast(_dim1(spark, t_sup, "pred"))).select(
                F.col("node").alias("subj"), "pred", F.col("cls").alias("obj")
            )
        )
    return ext.unionByName(inferred).dropDuplicates(["subj", "pred", "obj"])


def _dim1(spark: SparkSession, values: list[str], col: str) -> DataFrame:
    return spark.createDataFrame([(v,) for v in values], f"{col} string")


def _type_feedback(
    spark: SparkSession,
    typ: DataFrame,
    cl: dict[str, list[tuple[str, str]]],
    type_pred: str,
) -> tuple[DataFrame, list[str]]:
    """Close the (node, cls) type rows under the rules through which
    typing feeds back into the property rules: a T-Box that gives
    ``type_pred`` super-properties (rdfs7) or a domain/range, directly or
    through those super-properties (rdfs2/rdfs3). Returns the closed rows
    and the super-properties, whose rdfs7 rows the caller adds. Without
    such axioms (the usual case) ``typ`` comes back unchanged.

    With D (R) the subClassOf-closed domain (range) classes of type_pred
    and its super-properties, every typed node gains D and every class
    used as a type gains R. The least fixpoint has a closed form: once
    anything is typed, the classes of D and R are used as types too; if
    R is non-empty every class used as a type is itself typed (with R),
    so it gains D as well. D and R are closed under subClassOf, so
    rdfs9 adds nothing to the new rows."""
    t_sup = sorted({q for p, q in cl["sp"] if p == type_pred and q != type_pred})
    t_props = {type_pred, *t_sup}

    def closed(classes: set[str]) -> list[str]:
        return sorted(classes | {sup for c, sup in cl["sc"] if c in classes})

    t_dom = closed({c for p, c in cl["domain"] if p in t_props})
    t_rng = closed({c for p, c in cl["range"] if p in t_props})
    if not (t_dom or t_rng):
        return typ, t_sup
    added = F.broadcast(_dim1(spark, sorted({*t_dom, *t_rng}), "node"))
    used = typ.select(F.col("cls").alias("node")).unionByName(
        typ.select(F.lit(1).alias("any")).limit(1).crossJoin(added).select("node")
    )
    typed = typ.select("node").unionByName(used) if t_rng else typ.select("node")
    for nodes, classes in ((typed, t_dom), (used, t_rng)):
        if classes:
            typ = typ.unionByName(nodes.crossJoin(F.broadcast(_dim1(spark, classes, "cls"))))
    return typ, t_sup


# --------------------------------------------------------------------------
# SHACL-lite shape validation
# --------------------------------------------------------------------------

# Declarative shape set over the ENTAILED graph. Kinds:
#   min_count  — focus = subjects of target_pred; require >= min distinct
#                path edges (sh:property + sh:minCount)
#   max_count  — focus = subjects of target_pred; require <= max distinct
#                path objects (sh:maxCount)
#   class      — objects of target_pred must carry rdf:type cls (sh:class)
#   typed      — every non-type subject must have >= 1 rdf:type (a
#                nodeKind-style completeness gate)
SHAPES: tuple[dict, ...] = (
    {"shape": "CombinerReads", "kind": "min_count", "target_pred": "combines",
     "path": "reads", "min": 1},
    {"shape": "AccessFanoutCap", "kind": "max_count", "target_pred": "accesses",
     "path": "accesses", "max": 5},
    {"shape": "SummarizedIsResource", "kind": "class", "target_pred": "summarizes",
     "cls": "Resource"},
    {"shape": "SubjectTyped", "kind": "typed"},
)


def shape_violations(
    entailed: DataFrame,
    shapes: tuple[dict, ...] = SHAPES,
    type_pred: str = TYPE_PRED,
) -> DataFrame:
    """Validate the entailed graph against ``shapes``; returns one row
    per (focus, shape) violation with a human-readable detail string.

    Single-pass engine: the graph is projected into (node, role) rows
    twice (node as subject, node as object), grouped ONCE on node into
    a per-node constraint profile, and every shape's verdict is decided
    from that profile row — the violation structs explode out of one
    array column. The whole validation is therefore exactly ONE
    shuffle (the node-keyed agg) regardless of shape count, and the
    entailed input is referenced twice, never once per shape. (The
    first cut compiled each shape to its own agg/anti-join; over an
    inline closure plan that re-evaluated the closure up to 8x —
    measured 147s vs this engine at 20M triples; BENCH/BASELINE.md,
    "Round-5 final session".)
    """
    is_subj = F.col("is_subj") == 1
    aggs: list = []
    entries: list = []
    for i, sh in enumerate(shapes):
        name, kind = sh["shape"], sh["kind"]
        if kind == "min_count":
            assert sh["min"] == 1
            t, pcol = f"_t{i}", f"_p{i}"
            aggs += [
                F.max(F.when(is_subj & (F.col("pred") == sh["target_pred"]), 1)).alias(t),
                F.max(F.when(is_subj & (F.col("pred") == sh["path"]), 1)).alias(pcol),
            ]
            entries.append(
                F.when(
                    (F.col(t) == 1) & (F.coalesce(F.col(pcol), F.lit(0)) == 0),
                    F.struct(
                        F.lit(name).alias("shape"),
                        F.lit(f"{sh['path']}=0").alias("detail"),
                    ),
                )
            )
        elif kind == "max_count":
            c = f"_c{i}"
            aggs.append(
                F.countDistinct(
                    F.when(is_subj & (F.col("pred") == sh["path"]), F.col("other"))
                ).alias(c)
            )
            entries.append(
                F.when(
                    F.col(c) > sh["max"],
                    F.struct(
                        F.lit(name).alias("shape"),
                        F.concat(
                            F.lit(f"{sh['path']}="), F.col(c).cast("string")
                        ).alias("detail"),
                    ),
                )
            )
        elif kind == "class":
            t, cl = f"_o{i}", f"_cl{i}"
            aggs += [
                F.max(
                    F.when(~is_subj & (F.col("pred") == sh["target_pred"]), 1)
                ).alias(t),
                F.max(
                    F.when(
                        is_subj
                        & (F.col("pred") == type_pred)
                        & (F.col("other") == sh["cls"]),
                        1,
                    )
                ).alias(cl),
            ]
            entries.append(
                F.when(
                    (F.col(t) == 1) & (F.coalesce(F.col(cl), F.lit(0)) == 0),
                    F.struct(
                        F.lit(name).alias("shape"),
                        F.lit(f"missing type {sh['cls']}").alias("detail"),
                    ),
                )
            )
        elif kind == "typed":
            nt, ty = f"_nt{i}", f"_ty{i}"
            aggs += [
                F.max(F.when(is_subj & (F.col("pred") != type_pred), 1)).alias(nt),
                F.max(F.when(is_subj & (F.col("pred") == type_pred), 1)).alias(ty),
            ]
            entries.append(
                F.when(
                    (F.col(nt) == 1) & (F.coalesce(F.col(ty), F.lit(0)) == 0),
                    F.struct(
                        F.lit(name).alias("shape"), F.lit("untyped").alias("detail")
                    ),
                )
            )
        else:  # pragma: no cover
            raise ValueError(f"unknown shape kind {sh['kind']!r}")

    roles = entailed.select(
        F.col("subj").alias("node"), F.lit(1).alias("is_subj"), "pred",
        F.col("obj").alias("other"),
    ).unionByName(
        entailed.select(
            F.col("obj").alias("node"), F.lit(0).alias("is_subj"), "pred",
            F.col("subj").alias("other"),
        )
    )
    profile = roles.groupBy("node").agg(*aggs)
    return (
        profile.select(
            F.col("node").alias("focus"),
            F.explode(
                F.filter(F.array(*entries), lambda e: e.isNotNull())
            ).alias("v"),
        )
        .select("focus", F.col("v.shape").alias("shape"), F.col("v.detail").alias("detail"))
    )


# --------------------------------------------------------------------------
# SQL twins (DuckDB oracle fragments)
# --------------------------------------------------------------------------

def sql_ontology_values(
    tbox: tuple[tuple[str, str, str], ...] = ONTOLOGY,
) -> str:
    rows = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in tbox)
    return f"(VALUES {rows}) AS ont(s, p, o)"


def sql_entailed_cte(
    kg: str = "kg",
    type_pred: str = TYPE_PRED,
    suffix: str = "",
    tbox: tuple[tuple[str, str, str], ...] = ONTOLOGY,
) -> str:
    """CTE chain (requires WITH RECURSIVE) from a ``kg(subj, pred, obj)``
    CTE to ``ent{suffix}`` = the RDFS closure. The closures run in
    DuckDB's own recursive-CTE engine — an independent fixpoint
    implementation, not a replay of the driver-side Python closure.
    ``suffix`` namespaces the intermediate CTEs so two closures (base +
    delta) can share one WITH clause; the shared CTEs (sp/sc closures,
    ``type_pred`` with its super-properties, and the typing rules) are
    emitted only by the suffix-less instantiation. ``typ`` is a
    recursive fixpoint of rdfs9 and, for a T-Box that gives
    ``type_pred`` a domain or range, rdfs2/rdfs3 over the type rows."""
    x = suffix
    shared = "" if x else f"""ont AS (SELECT * FROM {sql_ontology_values(tbox)}),
sp AS (
  SELECT s, o FROM ont WHERE p = 'subPropertyOf'
  UNION
  SELECT sp.s, t.o FROM sp JOIN ont t ON t.p = 'subPropertyOf' AND sp.o = t.s
),
sc AS (
  SELECT s, o FROM ont WHERE p = 'subClassOf'
  UNION
  SELECT sc.s, t.o FROM sc JOIN ont t ON t.p = 'subClassOf' AND sc.o = t.s
),
type_props AS (
  SELECT '{type_pred}' AS p
  UNION
  SELECT o FROM sp WHERE s = '{type_pred}'
),
type_rules AS (
  SELECT 'sc' AS k, s, o FROM sc
  UNION ALL
  SELECT 'domain', NULL, d.o FROM ont d JOIN type_props t ON d.p = 'domain' AND d.s = t.p
  UNION ALL
  SELECT 'range', NULL, r.o FROM ont r JOIN type_props t ON r.p = 'range' AND r.s = t.p
),
"""
    return f"""{shared}ext{x} AS (
  SELECT subj, pred, obj FROM {kg}
  UNION ALL
  SELECT k.subj, sp.o AS pred, k.obj FROM {kg} k JOIN sp ON k.pred = sp.s
),
typ0{x} AS (
  SELECT subj AS node, obj AS cls FROM ext{x} WHERE pred = '{type_pred}'
  UNION ALL
  SELECT e.subj AS node, d.o AS cls FROM ext{x} e JOIN ont d ON d.p = 'domain' AND e.pred = d.s
  UNION ALL
  SELECT e.obj AS node, r.o AS cls FROM ext{x} e JOIN ont r ON r.p = 'range' AND e.pred = r.s
),
typ{x} AS (
  SELECT node, cls FROM typ0{x}
  UNION
  SELECT CASE WHEN r.k = 'range' THEN t.cls ELSE t.node END AS node, r.o AS cls
  FROM typ{x} t JOIN type_rules r ON r.k <> 'sc' OR t.cls = r.s
),
ent{x} AS (
  SELECT DISTINCT subj, pred, obj FROM (
    SELECT subj, pred, obj FROM ext{x}
    UNION ALL
    SELECT t.node AS subj, q.p AS pred, t.cls AS obj FROM typ{x} t CROSS JOIN type_props q
  )
)"""


def sql_shape_violations(type_pred: str = TYPE_PRED) -> str:
    """SELECT over an ``ent`` CTE producing (focus, shape, detail) —
    generated from the same SHAPES spec the Spark side compiles."""
    selects: list[str] = []
    for sh in SHAPES:
        if sh["kind"] == "min_count":
            selects.append(f"""
SELECT f.subj AS focus, '{sh["shape"]}' AS shape, '{sh["path"]}=0' AS detail
FROM (SELECT DISTINCT subj FROM ent WHERE pred = '{sh["target_pred"]}') f
WHERE NOT EXISTS (SELECT 1 FROM ent e WHERE e.subj = f.subj AND e.pred = '{sh["path"]}')""")
        elif sh["kind"] == "max_count":
            selects.append(f"""
SELECT subj AS focus, '{sh["shape"]}' AS shape,
       '{sh["path"]}=' || CAST(cnt AS VARCHAR) AS detail
FROM (SELECT subj, count(DISTINCT obj) AS cnt FROM ent
      WHERE pred = '{sh["path"]}' GROUP BY 1)
WHERE cnt > {sh["max"]}""")
        elif sh["kind"] == "class":
            selects.append(f"""
SELECT v.obj AS focus, '{sh["shape"]}' AS shape, 'missing type {sh["cls"]}' AS detail
FROM (SELECT DISTINCT obj FROM ent WHERE pred = '{sh["target_pred"]}') v
WHERE NOT EXISTS (SELECT 1 FROM ent t WHERE t.subj = v.obj
                  AND t.pred = '{type_pred}' AND t.obj = '{sh["cls"]}')""")
        elif sh["kind"] == "typed":
            selects.append(f"""
SELECT s.subj AS focus, '{sh["shape"]}' AS shape, 'untyped' AS detail
FROM (SELECT DISTINCT subj FROM ent WHERE pred != '{type_pred}') s
WHERE NOT EXISTS (SELECT 1 FROM ent t WHERE t.subj = s.subj AND t.pred = '{type_pred}')""")
    return "\nUNION ALL\n".join(selects)


def rdfs_entail_delta(
    spark: SparkSession,
    entailed: DataFrame,
    delta_abox: DataFrame,
    tbox: tuple[tuple[str, str, str], ...] = ONTOLOGY,
    type_pred: str = TYPE_PRED,
    prededup: bool = True,
) -> DataFrame:
    """Incremental entailment maintenance (semi-naive evaluation): the
    NEW inferences an A-Box delta adds to an already-entailed graph.

    The RDFS property/class fragment is linear in the assertions — no
    rule joins two A-Box triples — so the closure of (entailed ∪ Δ) is
    entailed ∪ closure(Δ): closing the delta alone and anti-joining
    against the existing graph is EXACT, not an approximation (the
    idempotence test re-proves this per build). At 10^12 stored triples
    and 10^7-row crawl batches this is the only viable shape — the
    delta pass touches O(|Δ|) rows plus one anti-join keyed on
    (subj, pred, obj) against the store, the same semi-join gate
    dedupe.py's incremental dedup uses.

    Returns only the new rows (asserted + inferred), ready to MERGE
    into the published table.
    """
    closed = rdfs_entail(spark, delta_abox, tbox, type_pred, prededup=prededup)
    return closed.join(entailed, ["subj", "pred", "obj"], "left_anti")


# --------------------------------------------------------------------------
# OWL-lite property semantics (inverseOf / Symmetric / Transitive)
# --------------------------------------------------------------------------

# OWL additions to the T-Box: join acquires an inverse, merge is
# declared symmetric (merging is mutual), sort transitive (ordering
# chains compose). The derived inverse predicate folds into the RDFS
# property hierarchy so the downstream closure types its users.
OWL_ONTOLOGY: tuple[tuple[str, str, str], ...] = ONTOLOGY + (
    ("join", "inverseOf", "joinedBy"),
    ("joinedBy", "subPropertyOf", "combines"),
    ("merge", "propertyType", "Symmetric"),
    ("sort", "propertyType", "Transitive"),
)


def split_owl_tbox(
    tbox: tuple[tuple[str, str, str], ...],
) -> tuple[dict, tuple[tuple[str, str, str], ...]]:
    """Partition a T-Box into the OWL property rules and the RDFS
    remainder, and REFUSE combinations that would need the full OWL-RL
    fixpoint: an OWL marker on a strict super-property of another
    property means rdfs7-derived assertions would have to feed back
    into edge derivation, which the stratified pipeline below does not
    iterate (by design — it keeps the oracle expressible and the plan
    bounded)."""
    owl = {"inv": [], "sym": [], "trans": []}
    rdfs_rows = []
    for s, p, o in tbox:
        if p == "inverseOf":
            owl["inv"].append((s, o))
        elif p == "propertyType":
            if o == "Symmetric":
                owl["sym"].append(s)
            elif o == "Transitive":
                owl["trans"].append(s)
            else:
                raise ValueError(f"unsupported propertyType {o!r}")
        else:
            rdfs_rows.append((s, p, o))
    marked = (
        {a for a, _ in owl["inv"]} | {b for _, b in owl["inv"]}
        | set(owl["sym"]) | set(owl["trans"])
    )
    sp_pairs = [(s, o) for s, p, o in rdfs_rows if p == "subPropertyOf"]
    supers = {b for _, b in _transitive_closure(sp_pairs)}
    bad = marked & supers
    if bad:
        raise ValueError(
            f"OWL markers on derived super-properties {sorted(bad)} need "
            "the full OWL-RL fixpoint; restructure the T-Box"
        )
    return owl, tuple(rdfs_rows)


def owl_extend(
    spark: SparkSession,
    abox: DataFrame,
    tbox: tuple[tuple[str, str, str], ...] = OWL_ONTOLOGY,
) -> DataFrame:
    """Close the A-Box under the OWL property rules to a FIXPOINT:
    prp-inv (both directions), prp-symp, and prp-trp. Each round
    self-joins the whole transitive-edge set, so round k holds every
    chain of up to 2^k edges (path doubling) and the round count grows
    with log2 of the longest transitive chain, not with graph size. The
    loop runs through scratch.iterate: each round is eagerly pinned and
    the fixpoint is reached when the pinned row count stops changing.
    Returns the extended distinct edge set.

    Scale: each round is |trans-pred edges| self-joined once (the
    naive-evaluation step; the distinct + stability check is the
    semi-naive gate), plus two map-side swaps. At 10^12 triples only
    the declared transitive predicates' partitions enter the join.
    """
    owl, _ = split_owl_tbox(tbox)
    inv_pairs = owl["inv"] + [(b, a) for a, b in owl["inv"]]
    inv = F.broadcast(_dim(spark, inv_pairs, "p", "q")) if inv_pairs else None
    sym = set(owl["sym"])
    trans = set(owl["trans"])

    def extend(state):
        edges, n = state
        pieces = [edges]
        if inv is not None:
            pieces.append(
                edges.join(inv, edges.pred == inv.p).select(
                    F.col("obj").alias("subj"),
                    F.col("q").alias("pred"),
                    F.col("subj").alias("obj"),
                )
            )
        if sym:
            pieces.append(
                edges.where(F.col("pred").isin(*sym)).select(
                    F.col("obj").alias("subj"), "pred", F.col("subj").alias("obj")
                )
            )
        if trans:
            t = edges.where(F.col("pred").isin(*trans))
            a, b = t.alias("a"), t.alias("b")
            pieces.append(
                a.join(
                    b,
                    (F.col("a.obj") == F.col("b.subj"))
                    & (F.col("a.pred") == F.col("b.pred")),
                ).select(
                    F.col("a.subj").alias("subj"),
                    F.col("a.pred").alias("pred"),
                    F.col("b.obj").alias("obj"),
                )
            )
        nxt = pieces[0]
        for p in pieces[1:]:
            nxt = nxt.unionByName(p)
        nxt, n2 = pin_now(nxt.dropDuplicates())
        return (nxt, n2), n2 == n

    start = pin_now(abox.select("subj", "pred", "obj").dropDuplicates())
    edges, _ = iterate(extend, start, "OWL property closure")
    return edges


def owl_entail(
    spark: SparkSession,
    abox: DataFrame,
    tbox: tuple[tuple[str, str, str], ...] = OWL_ONTOLOGY,
    type_pred: str = TYPE_PRED,
) -> DataFrame:
    """OWL-lite + RDFS materialization: close the A-Box under the OWL
    property rules (owl_extend, to fixpoint), then run the stratified
    RDFS chain over the extended edge set. The split_owl_tbox guard
    ensures this two-stage evaluation IS the combined fixpoint (the
    per-build idempotence test re-proves it on the fixture)."""
    _, rdfs_rows = split_owl_tbox(tbox)
    extended = owl_extend(spark, abox, tbox)
    return rdfs_entail(spark, extended, rdfs_rows, type_pred, prededup=False)


def sql_owl_extended_cte(kg: str = "kg") -> str:
    """DuckDB twin of owl_extend for the pinned OWL_ONTOLOGY: inverse +
    symmetric swaps, then WITH RECURSIVE closure of the transitive
    predicate over the swapped set, ending in ``owl_abox``. One
    stratified pass — equal to the Spark fixpoint exactly because the
    split_owl_tbox guard forbids feedback (and the idempotence test
    checks it)."""
    return f"""owl_base AS (
  SELECT subj, pred, obj FROM {kg}
  UNION
  SELECT obj, 'joinedBy', subj FROM {kg} WHERE pred = 'join'
  UNION
  SELECT obj, 'join', subj FROM {kg} WHERE pred = 'joinedBy'
  UNION
  SELECT obj, 'merge', subj FROM {kg} WHERE pred = 'merge'
),
sort_cl AS (
  SELECT subj, obj FROM owl_base WHERE pred = 'sort'
  UNION
  SELECT s.subj, e.obj FROM sort_cl s
  JOIN owl_base e ON e.pred = 'sort' AND s.obj = e.subj
),
owl_abox AS (
  SELECT subj, pred, obj FROM owl_base
  UNION
  SELECT subj, 'sort', obj FROM sort_cl
)"""


# --------------------------------------------------------------------------
# owl:sameAs canonicalization (OWL-RL eq-rep-s / eq-rep-o)
# --------------------------------------------------------------------------

def sameas_rewrite(kg: DataFrame, sameas: DataFrame) -> DataFrame:
    """Rewrite a triple table through owl:sameAs equivalence classes:
    every subject/object maps to its class representative (min id of
    the connected component over the sameAs pairs), duplicates
    produced by the collapse removed — the eq-rep-s/eq-rep-o rules of
    OWL-RL, evaluated eagerly the way production KGs do (materialize
    the canonical graph once instead of rewriting at query time).

    ``sameas`` is (a, b) pairs. Components run via
    operators/dedupe.py:connected_components (size-adaptive: driver
    union-find for dictionary-sized pair sets — the normal case, since
    sameAs links are entity-dictionary-scale — hash-min label
    propagation above it, one round per hop of a class's diameter and
    a ValueError past scratch.MAX_ROUNDS). The representative map is
    entity-sized, so both rewrite joins BROADCAST: the triple stream
    never shuffles for the rewrite; the only wide exchange is the final
    distinct.
    """
    from recon_spark.operators.dedupe import connected_components

    rep = F.broadcast(
        connected_components(sameas, "a", "b").select(
            F.col("id").alias("node"), F.col("component").alias("rep")
        )
    )
    return (
        kg.join(rep.withColumnRenamed("node", "subj").withColumnRenamed("rep", "s_rep"),
                "subj", "left")
        .join(rep.withColumnRenamed("node", "obj").withColumnRenamed("rep", "o_rep"),
              "obj", "left")
        .select(
            F.coalesce("s_rep", "subj").alias("subj"),
            "pred",
            F.coalesce("o_rep", "obj").alias("obj"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )
