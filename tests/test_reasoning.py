"""RDFS entailment + SHACL-lite shape validation: micro-KG unit
semantics (every rule and every shape fires at least once) plus full
Spark-vs-DuckDB oracle parity at the smoke scale factor."""

import pytest
from pyspark.sql import functions as F

from recon_spark.operators.reasoning import (
    ONTOLOGY,
    SHAPES,
    _transitive_closure,
    rdfs_entail,
    shape_violations,
    sql_entailed_cte,
    tbox_closure,
)
from recon_spark.queries.reasoning import ORACLES, QUERIES
from tests.conftest import SF_SMOKE, compare_query


def test_transitive_closure_chain_and_cycle():
    assert _transitive_closure([("a", "b"), ("b", "c")]) == [
        ("a", "b"), ("a", "c"), ("b", "c"),
    ]
    # cyclic-safe: closure of a 2-cycle includes both directions + self
    got = set(_transitive_closure([("x", "y"), ("y", "x")]))
    assert got == {("x", "y"), ("y", "x"), ("x", "x"), ("y", "y")}


def test_tbox_closure_guard():
    big = tuple(("a%d" % i, "subClassOf", "b") for i in range(100_001))
    with pytest.raises(ValueError, match="driver-side closure"):
        tbox_closure(big)
    with pytest.raises(ValueError, match="unsupported T-Box predicate"):
        tbox_closure((("a", "frobnicates", "b"),))


def _micro_abox(spark):
    # s1 scans o1 (-> reads -> accesses: Reader/Operator/Thing typing,
    #   o1 Readable/Resource/Thing)
    # s2 joins o2 and fans out over 6 extra objects (AccessFanoutCap)
    #   but never reads (CombinerReads)
    # s3 sorts o3: 'orders' has no domain, so s3 stays untyped
    #   (SubjectTyped) and o3 gets Sortable only
    # s4 aggs u: u is never an object of a ranged property ->
    #   SummarizedIsResource fires for u
    rows = [("s1", "scan", "o1"), ("s2", "join", "o2"), ("s3", "sort", "o3"),
            ("s4", "agg", "u")]
    rows += [("s2", "merge", f"f{i}") for i in range(6)]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_rdfs_rules_on_micro_kg(spark):
    ent = rdfs_entail(spark, _micro_abox(spark))
    triples = {(r.subj, r.pred, r.obj) for r in ent.collect()}
    # rdfs7 through the two-level property chain
    assert ("s1", "reads", "o1") in triples
    assert ("s1", "accesses", "o1") in triples
    # rdfs2 (domain) at every level of the chain
    assert ("s1", "type", "Reader") in triples
    assert ("s1", "type", "Operator") in triples
    # rdfs3 (range) + rdfs9 (subClassOf inheritance)
    assert ("o1", "type", "Readable") in triples
    assert ("o1", "type", "Resource") in triples
    assert ("o1", "type", "Thing") in triples
    # orders has range but no domain: s3 untyped, o3 typed Sortable
    assert ("o3", "type", "Sortable") in triples
    assert not any(s == "s3" and p == "type" for s, p, _ in triples)
    # asserted triples survive
    assert ("s2", "join", "o2") in triples


def test_rdfs9_fires_on_asserted_type(spark, ddb):
    """An asserted (x type Reader) inherits Reader's super-classes, in
    the Spark closure and in its DuckDB twin."""
    abox = [("x", "type", "Reader"), ("y", "scan", "z")]
    want = {("x", "type", "Operator"), ("x", "type", "Thing")}
    got = {
        (r.subj, r.pred, r.obj)
        for r in rdfs_entail(
            spark, spark.createDataFrame(abox, "subj string, pred string, obj string")
        ).collect()
    }
    assert want <= got
    sql_got = set(
        ddb.execute(
            "WITH RECURSIVE kg(subj, pred, obj) AS "
            "(VALUES ('x', 'type', 'Reader'), ('y', 'scan', 'z')), "
            f"{sql_entailed_cte('kg')} SELECT * FROM ent"
        ).fetchall()
    )
    assert sql_got == got


def test_every_shape_fires_on_micro_kg(spark):
    ent = rdfs_entail(spark, _micro_abox(spark))
    viol = {(r.focus, r.shape): r.detail for r in shape_violations(ent).collect()}
    assert viol[("s2", "CombinerReads")] == "reads=0"
    assert viol[("s2", "AccessFanoutCap")] == "accesses=7"
    assert viol[("u", "SummarizedIsResource")] == "missing type Resource"
    assert ("s3", "SubjectTyped") in viol
    # the well-formed subject violates nothing
    assert not any(f == "s1" for f, _ in viol)
    # shape set is the pinned four
    assert {s["shape"] for s in SHAPES} == {
        "CombinerReads", "AccessFanoutCap", "SummarizedIsResource", "SubjectTyped",
    }


def test_entailment_is_idempotent(spark):
    """Closure of the closure adds nothing (the stratification is
    complete for this fragment)."""
    once = rdfs_entail(spark, _micro_abox(spark))
    twice = rdfs_entail(spark, once)
    assert twice.count() == once.count()


def test_ontology_is_well_formed():
    preds = {p for _, p, _ in ONTOLOGY}
    assert preds == {"subPropertyOf", "subClassOf", "domain", "range"}
    cl = tbox_closure()
    # the closure actually deepened both hierarchies
    assert ("scan", "accesses") in cl["sp"]
    assert ("Reader", "Thing") in cl["sc"]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_reasoning_query_matches_oracle(spark, ddb, name):
    compare_query(spark, ddb, QUERIES[name], ORACLES[name], SF_SMOKE)


def test_delta_entailment_is_exact(spark):
    """closure(base) ∪ delta-new == closure(base ∪ delta) — the
    linearity property the incremental operator relies on."""
    from recon_spark.operators.reasoning import rdfs_entail_delta

    full_abox = _micro_abox(spark)
    base = full_abox.where(F.col("subj") != "s2")
    delta = full_abox.where(F.col("subj") == "s2")
    store = rdfs_entail(spark, base)
    new = rdfs_entail_delta(spark, store, delta)
    got = {(r.subj, r.pred, r.obj) for r in store.unionByName(new).collect()}
    want = {(r.subj, r.pred, r.obj) for r in rdfs_entail(spark, full_abox).collect()}
    assert got == want
    # and the delta holds ONLY new rows
    stored = {(r.subj, r.pred, r.obj) for r in store.collect()}
    assert not ({(r.subj, r.pred, r.obj) for r in new.collect()} & stored)
    assert new.count() > 0


# ---------------------------------------------------------------- OWL-lite

def _owl_abox(spark):
    rows = [
        ("a", "join", "b"),          # -> (b joinedBy a), joinedBy ⊑ combines
        ("c", "merge", "d"),         # symmetric -> (d merge c)
        ("p", "sort", "q"), ("q", "sort", "r"), ("r", "sort", "s0"),  # chain
        ("x", "sort", "y"), ("y", "sort", "x"),  # cycle: closure must converge
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_owl_property_rules_fire(spark):
    from recon_spark.operators.reasoning import owl_entail

    got = {(r.subj, r.pred, r.obj) for r in owl_entail(spark, _owl_abox(spark)).collect()}
    # prp-inv both directions + hierarchy typing through joinedBy
    assert ("b", "joinedBy", "a") in got
    assert ("b", "combines", "a") in got
    assert ("b", "type", "Combiner") in got
    # prp-symp
    assert ("d", "merge", "c") in got
    assert ("d", "combines", "c") in got
    # prp-trp: full chain closure incl. length-3
    assert ("p", "sort", "r") in got and ("p", "sort", "s0") in got
    # cycle closes with self-loops and terminates
    assert ("x", "sort", "x") in got and ("y", "sort", "y") in got


def test_owl_entail_is_idempotent(spark):
    from recon_spark.operators.reasoning import owl_entail

    once = owl_entail(spark, _owl_abox(spark))
    assert owl_entail(spark, once).count() == once.count()


def test_owl_guard_rejects_marked_super_property(spark):
    from recon_spark.operators.reasoning import OWL_ONTOLOGY, split_owl_tbox

    bad = OWL_ONTOLOGY + (("combines", "propertyType", "Transitive"),)
    with pytest.raises(ValueError, match="full OWL-RL fixpoint"):
        split_owl_tbox(bad)
    with pytest.raises(ValueError, match="unsupported propertyType"):
        split_owl_tbox((("p", "propertyType", "Reflexive"),))


def test_sameas_rewrite_collapses_classes(spark):
    from recon_spark.operators.reasoning import sameas_rewrite

    kg = spark.createDataFrame(
        [("a", "scan", "x"), ("b", "scan", "x"), ("c", "join", "a"),
         ("z", "sort", "w")],
        "subj string, pred string, obj string",
    )
    sameas = spark.createDataFrame([("a", "b"), ("b", "c2")], "a string, b string")
    got = sorted(map(tuple, sameas_rewrite(kg, sameas).collect()))
    # a, b, c2 collapse to representative 'a'; duplicate scan rows merge;
    # object positions rewrite too; untouched nodes pass through
    assert got == [
        ("a", "scan", "x"), ("c", "join", "a"), ("z", "sort", "w"),
    ]
    # plan: both rewrite joins broadcast, no sort-merge join
    plan = sameas_rewrite(kg, sameas)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------- property

def _naive_rdfs_fixpoint(abox, tbox):
    """Brute-force RDFS closure: apply ALL rules (rdfs2/3/5/7/9/11)
    repeatedly until nothing changes — no stratification, no rule
    ordering. The ground truth the stratified engine must equal."""
    triples = set(abox)
    schema = set(tbox)
    while True:
        new = set()
        sp = {(s, o) for s, p, o in schema if p == "subPropertyOf"}
        sc = {(s, o) for s, p, o in schema if p == "subClassOf"}
        dom = {(s, o) for s, p, o in schema if p == "domain"}
        rng = {(s, o) for s, p, o in schema if p == "range"}
        # rdfs5/11: transitivity of the schema relations themselves
        for a, b in list(sp):
            for c, d in list(sp):
                if b == c:
                    new.add((a, "subPropertyOf", d))
        for a, b in list(sc):
            for c, d in list(sc):
                if b == c:
                    new.add((a, "subClassOf", d))
        schema2 = schema | {t for t in new if t[1] in ("subPropertyOf", "subClassOf")}
        for s, p, o in list(triples):
            for a, b in sp:
                if p == a:
                    new.add((s, b, o))  # rdfs7
            for a, c in dom:
                if p == a:
                    new.add((s, "type", c))  # rdfs2
            for a, c in rng:
                if p == a:
                    new.add((o, "type", c))  # rdfs3
            if p == "type":
                for a, b in sc:
                    if o == a:
                        new.add((s, "type", b))  # rdfs9
        grown = (new - triples - {t for t in new if t[1] in ("subPropertyOf", "subClassOf")})
        if not grown and schema2 == schema:
            return triples
        triples |= grown
        schema = schema2


def test_stratified_engine_equals_naive_fixpoint_random(spark, ddb):
    """Randomized instances: the stratified broadcast engine must equal
    the order-free brute-force closure (catches any rule-ordering gap
    in the property/class fragment)."""
    import random

    rng = random.Random(42)
    # `type` is in the pool: asserted type rows (whose object is then a
    # class, so rdfs9 can fire) and type inside the property schema
    preds = ["p%d" % i for i in range(5)] + ["type"]
    classes = ["C%d" % i for i in range(4)]
    nodes = ["n%d" % i for i in range(6)]
    for trial in range(6):
        tbox = []
        for _ in range(rng.randint(1, 4)):
            tbox.append((rng.choice(preds), "subPropertyOf", rng.choice(preds)))
        for _ in range(rng.randint(1, 3)):
            tbox.append((rng.choice(classes), "subClassOf", rng.choice(classes)))
        for _ in range(rng.randint(0, 2)):
            tbox.append((rng.choice(preds), "domain", rng.choice(classes)))
        for _ in range(rng.randint(0, 2)):
            tbox.append((rng.choice(preds), "range", rng.choice(classes)))
        abox = []
        for _ in range(rng.randint(2, 8)):
            s, p = rng.choice(nodes), rng.choice(preds)
            abox.append((s, p, rng.choice(classes if p == "type" else nodes)))
        want = _naive_rdfs_fixpoint(set(abox), tuple(tbox))
        got = {
            (r.subj, r.pred, r.obj)
            for r in rdfs_entail(
                spark,
                spark.createDataFrame(abox, "subj string, pred string, obj string"),
                tuple(tbox),
            ).collect()
        }
        # the naive closure also re-derives the schema triples; the
        # engine closes only the A-Box — compare the A-Box-derived part
        want_abox = {t for t in want if t[1] not in
                     ("subPropertyOf", "subClassOf", "domain", "range")}
        assert got == want_abox, f"trial {trial}: tbox={tbox} abox={abox}"
        # DuckDB's recursive-CTE closure must agree too
        rows = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in abox)
        sql_got = set(
            ddb.execute(
                f"WITH RECURSIVE kg(subj, pred, obj) AS (VALUES {rows}), "
                f"{sql_entailed_cte('kg', tbox=tuple(tbox))} SELECT * FROM ent"
            ).fetchall()
        )
        assert sql_got == want_abox, f"trial {trial}: tbox={tbox} abox={abox}"
