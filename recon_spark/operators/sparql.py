"""SPARQL basic-graph-pattern compiler over the materialized KG.

The engine materializes (subj, pred, obj) triple tables
(queries/core.py:canonical_triple_counts — the graph-materialization shape
named in the project north star). This module adds the missing consumer
side: a small SPARQL subset compiled straight to DataFrame plans, so the
constructed KG can be *queried* with the lingua franca of triple stores
instead of hand-written joins. It is a compiler, not an interpreter —
every pattern becomes a Catalyst-visible filter/join, so predicate
pushdown, join reordering, and AQE broadcast decisions all apply to the
generated plan exactly as they would to hand-written DataFrame code.

Supported subset (enough for the classic BGP workloads — star joins,
path traversals, optional enrichment, grouped analytics):

    SELECT [DISTINCT] ?v ... | (COUNT(?v) AS ?alias) | *
    WHERE {
        ?s <pred> ?o .                 # triple patterns; any position may
        ?s ?p "literal" .              #   be a variable, <iri>, or "lit"
        ?s <pred>+ ?o . ?s <pred>* ?o  # One/ZeroOrMorePath closures
        ?s <a>/<b> ?o . ?s <a>|<b> ?o  # sequence / alternative paths
        ?s ^<p> ?o . ?s <a>/^<b> ?o    # inverse path (per element)
        FILTER(?a != ?b) .             # =  != <  <=  >  >= over terms
        OPTIONAL { ... }               # left join on shared variables
        GRAPH ?g { ... }               # provenance: binds/filters the
                                       #   quad frame's `graph` column
        VALUES ?v { "a" "b" }          # inline ground bindings ->
                                       #   broadcast join (multi-var:
                                       #   VALUES (?a ?b) { ("x" "y") })
        { ... } UNION { ... }          # alternation (branches must bind
                                       #   the same variables)
        MINUS { ... }                  # exclusion -> left-anti join
        FILTER [NOT] EXISTS { ... }    # correlated semi/anti join
        BIND(CONCAT(?a, "-") AS ?v)    # derived binding (CONCAT or a
    }                                  #   plain term)
    [GROUP BY ?v ...] [ORDER BY ...] [LIMIT n] [OFFSET m]

    CONSTRUCT { ?o <derived> ?s . ... }    # template: triple patterns only
    WHERE { ... }                          # same group grammar as SELECT

Aggregates: COUNT / MIN / MAX / SUM / AVG over a variable, COUNT(*)
(SUM/AVG cast the literal to double; non-numeric terms skip as NULL). With no GROUP BY
clause the non-aggregate projection variables group implicitly (SPARQL 1.1
§11.1 semantics). CONSTRUCT (§10.2) instantiates each template triple per
solution, drops instantiations left incomplete by unbound OPTIONAL
variables, and returns the resulting triple SET as a (subj, pred, obj)
DataFrame — the same shape canonical_triple_counts materializes, so the
output feeds recon_spark/rdf.py's N-Triples sink or a further SPARQL
query directly (KG -> derived KG -> export, all one Catalyst plan).

Scale/plan contract:
- Literal positions compile to `WHERE` predicates on the scan of the
  triple frame — at 10^12-triple scale over a partitioned store these are
  the partition-pruning predicates (pred is the natural partition key of
  an Iceberg triple table).
- Pattern join order is chosen greedily by selectivity (number of bound
  literal positions) under the constraint that each joined pattern shares
  ≥1 variable with the already-bound set — the classical bound-is-easier
  heuristic. A BGP whose join graph is disconnected would need a cartesian
  product; that is refused by default (`allow_product=True` opts in) so a
  mistyped variable cannot silently detonate at scale.
- No Python runs per row: the compiler emits only column expressions.

Reference anchor: the reference has no query language (its `Dataset.search`
/root/reference/recon/corrections.py-era substring scan is the closest
analog); this is a beyond-reference capability in the same spirit as the
as-of/interval joins in operators/joins.py.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recon_spark.operators.scratch import iterate, pin_now

__all__ = ["SparqlError", "parse_sparql", "compile_sparql"]


class SparqlError(ValueError):
    """Raised on syntax errors or unsupported constructs."""


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Var:
    name: str  # without the leading '?'


@dataclass(frozen=True)
class Lit:
    value: str


Term = Var | Lit


@dataclass(frozen=True)
class TriplePattern:
    s: Term
    p: Term
    o: Term
    # GRAPH clause: the 4th term binds/filters the quad table's graph
    # column; None = pattern over the default graph (graph col ignored)
    g: Term | None = None
    # property path `<p>+`: s and o connected by ONE OR MORE p-edges
    # (SPARQL 1.1 §9.1 OneOrMorePath, set semantics)
    plus: bool = False
    # `<p>*` (ZeroOrMorePath): the `+` closure UNION the zero-length
    # identity over the graph's terms (W3C semantics: every term is
    # connected to itself)
    star: bool = False
    # SequencePath `<a>/<b>/...`: (predicate, inverted) per hop in
    # order; p holds the first element (for selectivity counting).
    # `^` per element (InversePath, §9.1) flips that hop's direction.
    seq: tuple = ()
    # AlternativePath `<a>|<b>|...`: (predicate, inverted) branches
    alts: tuple = ()

    @property
    def terms(self) -> tuple[Term, ...]:
        return (self.s, self.p, self.o) + ((self.g,) if self.g else ())

    @property
    def vars(self) -> set[str]:
        return {t.name for t in self.terms if isinstance(t, Var)}

    @property
    def n_bound(self) -> int:
        return sum(isinstance(t, Lit) for t in self.terms)


@dataclass(frozen=True)
class Filter:
    op: str  # '=', '!=', '<', '<=', '>', '>='
    lhs: Term
    rhs: Term

    @property
    def vars(self) -> set[str]:
        return {t.name for t in (self.lhs, self.rhs) if isinstance(t, Var)}


@dataclass(frozen=True)
class OptionalGroup:
    patterns: tuple[TriplePattern, ...]
    filters: tuple[Filter, ...]


@dataclass(frozen=True)
class UnionGroup:
    """{ G1 } UNION { G2 } [UNION { G3 }...] — every branch must bind
    the SAME variable set (the supported subset: Spark's unionByName is
    exact there, and padding mismatched branches with NULL would need
    SPARQL's compatible-mapping join semantics downstream)."""

    branches: tuple[OptionalGroup, ...]  # reuse (patterns, filters) shape


@dataclass(frozen=True)
class MinusGroup:
    patterns: tuple[TriplePattern, ...]
    filters: tuple[Filter, ...]


@dataclass(frozen=True)
class ExistsClause:
    """FILTER [NOT] EXISTS { group } (SPARQL 1.1 §8.1.1), evaluated
    over the required part's solutions: semi/anti join on the shared
    variables, or a 0/1-row global gate when the groups are
    disconnected (substitution leaves no correlation)."""

    patterns: tuple[TriplePattern, ...]
    filters: tuple[Filter, ...]
    negated: bool


@dataclass(frozen=True)
class SubQuery:
    """{ SELECT ... } nested in WHERE (SPARQL 1.1 §12): evaluated
    bottom-up, then joined with the enclosing group on the shared
    PROJECTED variables."""

    query: "SparqlQuery"


@dataclass(frozen=True)
class Bind:
    """BIND(expr AS ?alias); expr is a term or CONCAT(term, ...)."""

    alias: str
    parts: tuple[Term, ...]  # len 1 = plain term, else CONCAT
    concat: bool

    @property
    def vars(self) -> set[str]:
        return {t.name for t in self.parts if isinstance(t, Var)}


@dataclass(frozen=True)
class ValuesClause:
    names: tuple[str, ...]
    rows: tuple[tuple[str, ...], ...]

    @property
    def vars(self) -> set[str]:
        return set(self.names)


@dataclass(frozen=True)
class Aggregate:
    func: str  # 'count' | 'min' | 'max' | 'sum' | 'avg'
    var: str | None  # None => COUNT(*)
    alias: str


@dataclass(frozen=True)
class SparqlQuery:
    select: tuple[str, ...]  # projection order: var or aggregate alias names
    plain_vars: tuple[str, ...]
    aggregates: tuple[Aggregate, ...]
    select_star: bool
    distinct: bool
    patterns: tuple[TriplePattern, ...]
    filters: tuple[Filter, ...]
    optionals: tuple[OptionalGroup, ...]
    group_by: tuple[str, ...]
    order_by: tuple[tuple[str, bool], ...]  # (var, descending)
    limit: int | None
    offset: int = 0
    # CONSTRUCT form: non-empty template => the query builds an RDF
    # graph (set of triples) instead of a solution table
    construct: tuple[TriplePattern, ...] = ()
    # inline solution bindings (VALUES clauses in the WHERE group)
    values: tuple[ValuesClause, ...] = ()
    # ASK form: true => compile to one boolean `ask` row
    ask: bool = False
    # DESCRIBE form: ground resources whose triples to return
    describe: tuple[str, ...] = ()
    # { } UNION { } alternation blocks in the WHERE group
    unions: tuple[UnionGroup, ...] = ()
    # MINUS { } exclusion groups (applied last)
    minuses: tuple[MinusGroup, ...] = ()
    # BIND(expr AS ?v) derived bindings (applied before FILTERs)
    binds: tuple[Bind, ...] = ()
    # FILTER [NOT] EXISTS { } clauses (applied with the FILTERs)
    exists: tuple[ExistsClause, ...] = ()
    # nested { SELECT ... } subqueries (joined on shared projected vars)
    subqueries: tuple[SubQuery, ...] = ()


# --------------------------------------------------------------------------
# Tokenizer + recursive-descent parser
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<var>\?[A-Za-z_]\w*)
      | (?P<iri><[^<>\s]*>)
      | (?P<str>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
      | (?P<num>-?\d+(?:\.\d+)?)
      | (?P<op>!=|<=|>=|=|<|>)
      | (?P<punct>[{}().,*+|/^])
      | (?P<word>[A-Za-z_]\w*)
    )""",
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                break
            raise SparqlError(f"lexical error at {text[pos:pos + 20]!r}")
        pos = m.end()
        kind = m.lastgroup
        assert kind is not None
        toks.append((kind, m.group(kind)))
    return toks


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0

    # -- token helpers ----------------------------------------------------
    def _peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self) -> tuple[str, str]:
        t = self._peek()
        if t is None:
            raise SparqlError("unexpected end of query")
        self.i += 1
        return t

    def _kw(self, word: str) -> bool:
        """Consume a case-insensitive keyword if present."""
        t = self._peek()
        if t and t[0] == "word" and t[1].upper() == word:
            self.i += 1
            return True
        return False

    def _expect_kw(self, word: str) -> None:
        if not self._kw(word):
            raise SparqlError(f"expected {word} at token {self._peek()}")

    def _expect_punct(self, ch: str) -> None:
        t = self._next()
        if t != ("punct", ch):
            raise SparqlError(f"expected {ch!r}, got {t}")

    def _term(self) -> Term:
        kind, val = self._next()
        if kind == "var":
            return Var(val[1:])
        if kind == "iri":
            return Lit(val[1:-1])
        if kind == "str":
            body = val[1:-1]
            return Lit(re.sub(r"\\(.)", r"\1", body))
        if kind == "num":
            return Lit(val)
        raise SparqlError(f"expected term, got {kind} {val!r}")

    # -- grammar ------------------------------------------------------------
    def parse(self) -> SparqlQuery:
        if self._kw("CONSTRUCT"):
            return self._construct()
        if self._kw("ASK"):
            return self._ask()
        if self._kw("DESCRIBE"):
            return self._describe()
        self._expect_kw("SELECT")
        distinct = self._kw("DISTINCT")

        select: list[str] = []
        plain_vars: list[str] = []
        aggregates: list[Aggregate] = []
        select_star = False
        while True:
            t = self._peek()
            if t is None:
                raise SparqlError("unexpected end in SELECT clause")
            if t == ("punct", "*"):
                self.i += 1
                select_star = True
                continue
            if t[0] == "var":
                self.i += 1
                select.append(t[1][1:])
                plain_vars.append(t[1][1:])
                continue
            if t == ("punct", "("):
                self.i += 1
                agg = self._aggregate()
                select.append(agg.alias)
                aggregates.append(agg)
                continue
            break
        if not select and not select_star:
            raise SparqlError("empty SELECT clause")

        self._expect_kw("WHERE")
        values: list[ValuesClause] = []
        unions: list[UnionGroup] = []
        minuses: list[MinusGroup] = []
        binds: list[Bind] = []
        exists: list[ExistsClause] = []
        subqueries: list[SubQuery] = []
        patterns, filters, optionals = self._group(
            allow_optional=True, values_sink=values, unions_sink=unions,
            minuses_sink=minuses, binds_sink=binds, exists_sink=exists,
            subqueries_sink=subqueries,
        )
        if not patterns and not unions and not subqueries:
            raise SparqlError("WHERE clause has no triple patterns")

        group_by: list[str] = []
        if self._kw("GROUP"):
            self._expect_kw("BY")
            while True:
                t = self._peek()
                if t and t[0] == "var":
                    self.i += 1
                    group_by.append(t[1][1:])
                else:
                    break
            if not group_by:
                raise SparqlError("empty GROUP BY clause")

        order_by: list[tuple[str, bool]] = []
        if self._kw("ORDER"):
            self._expect_kw("BY")
            while True:
                t = self._peek()
                if t and t[0] == "word" and t[1].upper() in ("ASC", "DESC"):
                    desc = t[1].upper() == "DESC"
                    self.i += 1
                    self._expect_punct("(")
                    v = self._term()
                    if not isinstance(v, Var):
                        raise SparqlError("ORDER BY needs a variable")
                    self._expect_punct(")")
                    order_by.append((v.name, desc))
                elif t and t[0] == "var":
                    self.i += 1
                    order_by.append((t[1][1:], False))
                else:
                    break
            if not order_by:
                raise SparqlError("empty ORDER BY clause")

        limit: int | None = None
        offset = 0
        for _ in range(2):
            if self._kw("LIMIT"):
                t = self._next()
                if (t[0] != "num" or not t[1].lstrip("-").isdigit()
                        or int(t[1]) < 0):
                    raise SparqlError(
                        f"LIMIT needs a non-negative integer, got {t[1]!r}"
                    )
                limit = int(t[1])
            elif self._kw("OFFSET"):
                t = self._next()
                if (t[0] != "num" or not t[1].lstrip("-").isdigit()
                        or int(t[1]) < 0):
                    raise SparqlError(
                        f"OFFSET needs a non-negative integer, got {t[1]!r}"
                    )
                offset = int(t[1])

        if self._peek() is not None:
            raise SparqlError(f"trailing tokens from {self._peek()}")

        return SparqlQuery(
            select=tuple(select),
            plain_vars=tuple(plain_vars),
            aggregates=tuple(aggregates),
            select_star=select_star,
            distinct=distinct,
            patterns=tuple(patterns),
            filters=tuple(filters),
            optionals=tuple(optionals),
            group_by=tuple(group_by),
            order_by=tuple(order_by),
            limit=limit,
            offset=offset,
            values=tuple(values),
            unions=tuple(unions),
            minuses=tuple(minuses),
            binds=tuple(binds),
            exists=tuple(exists),
            subqueries=tuple(subqueries),
        )

    def _ask(self) -> SparqlQuery:
        """ASK [WHERE] { group } — does at least one solution exist
        (SPARQL 1.1 §10.3)? Compiles to one boolean row named `ask`."""
        self._kw("WHERE")  # optional per the grammar
        values: list[ValuesClause] = []
        unions: list[UnionGroup] = []
        minuses: list[MinusGroup] = []
        binds: list[Bind] = []
        exists: list[ExistsClause] = []
        subqueries: list[SubQuery] = []
        patterns, filters, optionals = self._group(
            allow_optional=True, values_sink=values, unions_sink=unions,
            minuses_sink=minuses, binds_sink=binds, exists_sink=exists,
            subqueries_sink=subqueries,
        )
        if not patterns and not unions and not subqueries:
            raise SparqlError("ASK group has no triple patterns")
        if self._peek() is not None:
            raise SparqlError(f"trailing tokens from {self._peek()}")
        return SparqlQuery(
            select=(), plain_vars=(), aggregates=(), select_star=False,
            distinct=False, patterns=tuple(patterns), filters=tuple(filters),
            optionals=tuple(optionals), group_by=(), order_by=(), limit=None,
            values=tuple(values), ask=True, unions=tuple(unions),
            minuses=tuple(minuses), binds=tuple(binds),
            exists=tuple(exists), subqueries=tuple(subqueries),
        )

    def _describe(self) -> SparqlQuery:
        """DESCRIBE <iri> [<iri> ...] — every triple the resources
        participate in, as subject or object (the common concise-bound
        reading of SPARQL 1.1 §10.4, which leaves the description shape
        to the implementation). Variable DESCRIBE is not supported."""
        resources: list[str] = []
        while self._peek() and self._peek()[0] == "iri":
            resources.append(self._next()[1][1:-1])
        if not resources:
            raise SparqlError("DESCRIBE needs at least one ground <iri>")
        if self._peek() is not None:
            raise SparqlError(
                f"trailing tokens from {self._peek()} (DESCRIBE ?var "
                "WHERE {...} is not supported)"
            )
        return SparqlQuery(
            select=(), plain_vars=(), aggregates=(), select_star=False,
            distinct=False, patterns=(), filters=(), optionals=(),
            group_by=(), order_by=(), limit=None,
            describe=tuple(resources),
        )

    def _construct(self) -> SparqlQuery:
        """CONSTRUCT { template } WHERE { group } — SPARQL 1.1 §10.2:
        instantiate every template triple per solution, drop
        instantiations left incomplete by unbound (OPTIONAL) variables,
        and return the SET of resulting triples."""
        template, t_filters, t_optionals = self._group(allow_optional=False)
        if (t_filters or t_optionals
                or any(p.g is not None or p.plus for p in template)):
            raise SparqlError("CONSTRUCT template holds triple patterns only")
        if not template:
            raise SparqlError("empty CONSTRUCT template")
        self._expect_kw("WHERE")
        values: list[ValuesClause] = []
        unions: list[UnionGroup] = []
        minuses: list[MinusGroup] = []
        binds: list[Bind] = []
        exists: list[ExistsClause] = []
        subqueries: list[SubQuery] = []
        patterns, filters, optionals = self._group(
            allow_optional=True, values_sink=values, unions_sink=unions,
            minuses_sink=minuses, binds_sink=binds, exists_sink=exists,
            subqueries_sink=subqueries,
        )
        if not patterns and not unions and not subqueries:
            raise SparqlError("WHERE clause has no triple patterns")
        if self._peek() is not None:
            raise SparqlError(
                f"trailing tokens from {self._peek()} (solution modifiers "
                "are not supported on CONSTRUCT)"
            )
        return SparqlQuery(
            select=(),
            plain_vars=(),
            aggregates=(),
            select_star=False,
            distinct=False,
            patterns=tuple(patterns),
            filters=tuple(filters),
            optionals=tuple(optionals),
            group_by=(),
            order_by=(),
            limit=None,
            construct=tuple(template),
            values=tuple(values),
            unions=tuple(unions),
            minuses=tuple(minuses),
            binds=tuple(binds),
            exists=tuple(exists),
            subqueries=tuple(subqueries),
        )

    def _aggregate(self) -> Aggregate:
        t = self._next()
        if t[0] != "word" or t[1].upper() not in (
            "COUNT", "MIN", "MAX", "SUM", "AVG"
        ):
            raise SparqlError(f"unsupported aggregate {t[1]!r}")
        func = t[1].lower()
        self._expect_punct("(")
        var: str | None
        if self._peek() == ("punct", "*"):
            if func != "count":
                raise SparqlError(f"{func.upper()}(*) is not valid SPARQL")
            self.i += 1
            var = None
        else:
            v = self._term()
            if not isinstance(v, Var):
                raise SparqlError("aggregate argument must be a variable")
            var = v.name
        self._expect_punct(")")
        self._expect_kw("AS")
        a = self._term()
        if not isinstance(a, Var):
            raise SparqlError("aggregate alias must be a ?variable")
        self._expect_punct(")")
        return Aggregate(func=func, var=var, alias=a.name)

    def _values(self, values_sink: list[ValuesClause] | None) -> None:
        """VALUES ?v { "a" "b" } | VALUES (?a ?b) { ("x" "y") ... } —
        inline ground bindings, top-level WHERE only (UNDEF is not
        supported; use OPTIONAL for partial bindings)."""
        if values_sink is None:
            raise SparqlError(
                "VALUES is only supported at the top level of WHERE"
            )
        names: list[str] = []
        t = self._peek()
        if t == ("punct", "("):
            self.i += 1
            while self._peek() and self._peek()[0] == "var":
                names.append(self._next()[1][1:])
            self._expect_punct(")")
        elif t and t[0] == "var":
            names.append(self._next()[1][1:])
        if not names or len(set(names)) != len(names):
            raise SparqlError("VALUES needs distinct ?variables")
        self._expect_punct("{")
        rows: list[tuple[str, ...]] = []
        while True:
            t = self._peek()
            if t is None:
                raise SparqlError("unclosed VALUES block")
            if t == ("punct", "}"):
                self.i += 1
                break
            row: list[str] = []
            if len(names) > 1:
                self._expect_punct("(")
            for _ in names:
                v = self._term()
                if not isinstance(v, Lit):
                    raise SparqlError("VALUES rows must be ground terms")
                row.append(v.value)
            if len(names) > 1:
                self._expect_punct(")")
            rows.append(tuple(row))
        if not rows:
            raise SparqlError("empty VALUES block")
        values_sink.append(ValuesClause(tuple(names), tuple(rows)))

    def _bind(self, binds_sink: list[Bind] | None) -> None:
        """BIND(term AS ?v) | BIND(CONCAT(term, ...) AS ?v) — derived
        bindings (SPARQL 1.1 §10.1), top-level WHERE only. CONCAT is the
        one supported function: the IRI/key-minting idiom of CONSTRUCT
        pipelines."""
        if binds_sink is None:
            raise SparqlError("BIND is only supported at the top level of WHERE")
        self._expect_punct("(")
        concat = False
        parts: list[Term] = []
        t = self._peek()
        if t and t[0] == "word" and t[1].upper() == "CONCAT":
            concat = True
            self.i += 1
            self._expect_punct("(")
            while True:
                parts.append(self._term())
                nxt = self._next()
                if nxt == ("punct", ")"):
                    break
                if nxt != ("punct", ","):
                    raise SparqlError(f"expected ',' or ')' in CONCAT, got {nxt}")
            if len(parts) < 2:
                raise SparqlError("CONCAT needs at least two arguments")
        else:
            parts.append(self._term())
        self._expect_kw("AS")
        a = self._term()
        if not isinstance(a, Var):
            raise SparqlError("BIND alias must be a ?variable")
        self._expect_punct(")")
        binds_sink.append(Bind(alias=a.name, parts=tuple(parts), concat=concat))

    def _group(
        self,
        allow_optional: bool,
        values_sink: list[ValuesClause] | None = None,
        unions_sink: list[UnionGroup] | None = None,
        minuses_sink: list[MinusGroup] | None = None,
        binds_sink: list[Bind] | None = None,
        exists_sink: list[ExistsClause] | None = None,
        subqueries_sink: list[SubQuery] | None = None,
    ) -> tuple[list[TriplePattern], list[Filter], list[OptionalGroup]]:
        self._expect_punct("{")
        patterns: list[TriplePattern] = []
        filters: list[Filter] = []
        optionals: list[OptionalGroup] = []
        while True:
            t = self._peek()
            if t is None:
                raise SparqlError("unclosed group (missing '}')")
            if t == ("punct", "}"):
                self.i += 1
                break
            if t == ("punct", "{"):
                nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
                if nxt and nxt[0] == "word" and nxt[1].upper() == "SELECT":
                    # { SELECT ... } subquery (§12)
                    if subqueries_sink is None:
                        raise SparqlError(
                            "subqueries are only supported at the top "
                            "level of WHERE"
                        )
                    self.i += 1  # consume '{'
                    depth = 0
                    j = self.i
                    while j < len(self.toks):
                        tok = self.toks[j]
                        if tok == ("punct", "{"):
                            depth += 1
                        elif tok == ("punct", "}"):
                            if depth == 0:
                                break
                            depth -= 1
                        j += 1
                    if j >= len(self.toks):
                        raise SparqlError("unclosed subquery (missing '}')")
                    inner = _Parser("")
                    inner.toks = self.toks[self.i:j]
                    inner.i = 0
                    sub = inner.parse()
                    if sub.construct or sub.ask or sub.describe:
                        raise SparqlError("subqueries must be SELECT form")
                    subqueries_sink.append(SubQuery(sub))
                    self.i = j + 1  # consume through '}'
                    if self._peek() == ("punct", "."):
                        self.i += 1
                    continue
                # { G1 } UNION { G2 } [UNION { G3 } ...]
                if unions_sink is None:
                    raise SparqlError(
                        "UNION is only supported at the top level of WHERE"
                    )
                branches: list[OptionalGroup] = []
                while True:
                    ps, fs, os_ = self._group(allow_optional=False)
                    if os_:  # pragma: no cover — guarded by allow_optional
                        raise SparqlError("OPTIONAL inside UNION is not supported")
                    if not ps:
                        raise SparqlError("empty UNION branch")
                    branches.append(OptionalGroup(tuple(ps), tuple(fs)))
                    if not self._kw("UNION"):
                        break
                if len(branches) < 2:
                    raise SparqlError(
                        "bare nested group: only { } UNION { } alternation "
                        "is supported"
                    )
                unions_sink.append(UnionGroup(tuple(branches)))
                if self._peek() == ("punct", "."):
                    self.i += 1
                continue
            if t[0] == "word" and t[1].upper() == "MINUS":
                if minuses_sink is None:
                    raise SparqlError(
                        "MINUS is only supported at the top level of WHERE"
                    )
                self.i += 1
                ps, fs, os_ = self._group(allow_optional=False)
                if os_:  # pragma: no cover — guarded by allow_optional
                    raise SparqlError("OPTIONAL inside MINUS is not supported")
                if not ps:
                    raise SparqlError("empty MINUS group")
                minuses_sink.append(MinusGroup(tuple(ps), tuple(fs)))
                if self._peek() == ("punct", "."):
                    self.i += 1
                continue
            if t[0] == "word" and t[1].upper() == "BIND":
                self.i += 1
                self._bind(binds_sink)
                if self._peek() == ("punct", "."):
                    self.i += 1
                continue
            if t[0] == "word" and t[1].upper() == "FILTER":
                self.i += 1
                nt = self._peek()
                if nt and nt[0] == "word" and nt[1].upper() in ("EXISTS", "NOT"):
                    if exists_sink is None:
                        raise SparqlError(
                            "FILTER EXISTS is only supported at the top "
                            "level of WHERE"
                        )
                    negated = False
                    if nt[1].upper() == "NOT":
                        self.i += 1
                        negated = True
                    self._expect_kw("EXISTS")
                    ps, fs, os_ = self._group(allow_optional=False)
                    if os_:  # pragma: no cover — guarded by allow_optional
                        raise SparqlError(
                            "OPTIONAL inside EXISTS is not supported"
                        )
                    if not ps:
                        raise SparqlError("empty EXISTS group")
                    exists_sink.append(
                        ExistsClause(tuple(ps), tuple(fs), negated)
                    )
                    if self._peek() == ("punct", "."):
                        self.i += 1
                    continue
                self._expect_punct("(")
                lhs = self._term()
                op_t = self._next()
                if op_t[0] != "op":
                    raise SparqlError(f"expected comparison op, got {op_t}")
                rhs = self._term()
                self._expect_punct(")")
                filters.append(Filter(op=op_t[1], lhs=lhs, rhs=rhs))
            elif t[0] == "word" and t[1].upper() == "VALUES":
                self.i += 1
                self._values(values_sink)
            elif t[0] == "word" and t[1].upper() == "GRAPH":
                self.i += 1
                g = self._term()
                ps, fs, os_ = self._group(allow_optional=False)
                if os_:  # pragma: no cover — guarded by allow_optional
                    raise SparqlError("OPTIONAL inside GRAPH is not supported")
                if not ps:
                    raise SparqlError("empty GRAPH group")
                # inner GRAPH wins over an enclosing one (SPARQL 1.1 §13.3)
                patterns.extend(
                    TriplePattern(
                        p.s, p.p, p.o, p.g if p.g is not None else g,
                        p.plus, p.star, p.seq, p.alts,
                    )
                    for p in ps
                )
                filters.extend(fs)
            elif t[0] == "word" and t[1].upper() == "OPTIONAL":
                if not allow_optional:
                    raise SparqlError("nested OPTIONAL is not supported")
                self.i += 1
                ps, fs, os_ = self._group(allow_optional=False)
                if os_:  # pragma: no cover — guarded by allow_optional
                    raise SparqlError("nested OPTIONAL is not supported")
                if not ps:
                    raise SparqlError("empty OPTIONAL group")
                optionals.append(OptionalGroup(tuple(ps), tuple(fs)))
            else:
                s = self._term()
                inv0 = False
                if self._peek() == ("punct", "^"):
                    self.i += 1
                    inv0 = True
                p = self._term()
                if inv0 and not isinstance(p, Lit):
                    raise SparqlError("inverse path ^ needs a ground predicate")
                plus = False
                star = False
                seq: list = []
                alts: list = []
                if self._peek() in (("punct", "+"), ("punct", "*")):
                    star = self._next()[1] == "*"
                    plus = not star
                    if not isinstance(p, Lit):
                        raise SparqlError(
                            "property path +/* needs a ground predicate "
                            "(?p+ would close over the whole graph)"
                        )
                elif self._peek() in (("punct", "/"), ("punct", "|")):
                    op = self._next()[1]
                    if not isinstance(p, Lit):
                        raise SparqlError(
                            f"property path {op} needs ground predicates"
                        )
                    parts = [(p, inv0)]
                    while True:
                        inv = False
                        if self._peek() == ("punct", "^"):
                            self.i += 1
                            inv = True
                        nxt = self._term()
                        if not isinstance(nxt, Lit):
                            raise SparqlError(
                                f"property path {op} needs ground predicates"
                            )
                        parts.append((nxt, inv))
                        peek = self._peek()
                        if peek in (("punct", "/"), ("punct", "|")):
                            if peek[1] != op:
                                raise SparqlError(
                                    "mixed path operators need parentheses "
                                    "(unsupported); use separate patterns"
                                )
                            self.i += 1
                            continue
                        break
                    if op == "/":
                        seq = parts
                    else:
                        alts = parts
                    inv0 = False  # consumed into the first element
                o = self._term()
                if inv0:
                    # whole-element inverse (simple or `+` pattern):
                    # ^<p> is <p> with the endpoints swapped
                    s, o = o, s
                patterns.append(
                    TriplePattern(
                        s, p, o, plus=plus, star=star,
                        seq=tuple(seq), alts=tuple(alts),
                    )
                )
            # optional statement separator
            if self._peek() == ("punct", "."):
                self.i += 1
        return patterns, filters, optionals


def parse_sparql(text: str) -> SparqlQuery:
    """Parse the supported SPARQL subset into an AST (see module doc)."""
    return _Parser(text).parse()


# --------------------------------------------------------------------------
# Compiler
# --------------------------------------------------------------------------

_POSITIONS = ("subj", "pred", "obj")


def _bind_terms(df: DataFrame, terms: tuple, positions: tuple) -> DataFrame:
    """Bind pattern terms to frame columns: literal positions become
    scan predicates; a variable repeated inside one pattern becomes an
    intra-row equality; the output columns are the pattern's variables."""
    seen: dict[str, str] = {}  # var name -> first column bound to it
    out_cols: list = []
    for term, col in zip(terms, positions):
        if isinstance(term, Lit):
            df = df.where(F.col(col) == F.lit(term.value))
        elif term.name in seen:
            df = df.where(F.col(col) == F.col(seen[term.name]))
        else:
            seen[term.name] = col
            out_cols.append(F.col(col).alias(term.name))
    if not out_cols:
        # fully ground pattern: contributes only an existence check; keep a
        # single marker column so the cross join stays 0/1-row.
        return df.limit(1).select(F.lit(1).alias("__exists__"))
    return df.select(*out_cols)


def _require_graph_col(graph: DataFrame) -> None:
    if "graph" not in graph.columns:
        raise SparqlError(
            "GRAPH pattern requires a quad frame with a 'graph' column "
            f"(got columns {graph.columns})"
        )


def _pattern_frame(graph: DataFrame, pat: TriplePattern) -> DataFrame:
    """One triple pattern -> a frame whose columns are the pattern's
    variables (see _bind_terms). A GRAPH term additionally binds or
    filters the quad table's `graph` column; a `+` path compiles to an
    iterative transitive closure (_plus_frame)."""
    if pat.plus or pat.star:
        return _plus_frame(graph, pat)
    if pat.seq or pat.alts:
        return _path_frame(graph, pat)
    positions = _POSITIONS
    if pat.g is not None:
        _require_graph_col(graph)
        positions = _POSITIONS + ("graph",)
    return _bind_terms(graph, pat.terms, positions)


def _plus_frame(graph: DataFrame, pat: TriplePattern) -> DataFrame:
    """SPARQL 1.1 §9.1 OneOrMorePath (`?s <p>+ ?o`): the set of node
    pairs connected by one or more p-edges.

    Compiled as a driver-side fixpoint (scratch.iterate over eagerly
    pinned frames, one co-partitioned join per round; the loop runs
    ACTIONS at compile time, so unlike plain BGPs the returned plan is
    materialized-by-parts). Set semantics come from `distinct`, which
    also guarantees termination on cyclic graphs.

    One step for both cases: each round pins
    distinct(reached ∪ reached ⋈ right) and the loop stops when the
    pinned row count stops growing.
    - both endpoints unbound: the whole closure materializes (the
      caller's explicit choice, same contract as allow_product) by
      PATH DOUBLING — right is reached itself, so round k reaches every
      path of length ≤ 2^k and a path of d hops closes in
      ⌈log2 d⌉ + 1 rounds.
    - either endpoint ground: the closure is SEEDED — reached starts as
      the seed's out-edges and right is the edge set, so only pairs
      that start at the seed ever materialize (the 10^12-triple-safe
      mode). Each round adds one hop, so a path of depth d takes d + 1
      rounds and the round cap bounds the depth from the seed.
    Inside GRAPH ?g the closure runs per graph (graph joins the key);
    GRAPH <iri> prunes edges before the first round."""
    keys: list[str] = []
    if pat.g is not None:
        _require_graph_col(graph)
        if isinstance(pat.g, Lit):
            # scopes the edges AND the zero-length identity terms below
            graph = graph.where(F.col("graph") == F.lit(pat.g.value))
        else:
            keys = ["graph"]
    assert isinstance(pat.p, Lit)  # enforced by the parser
    edges = (
        graph.where(F.col("pred") == F.lit(pat.p.value))
        .select(
            F.col("subj").alias("src"),
            F.col("obj").alias("dst"),
            *[F.col(k) for k in keys],
        )
        .distinct()
    )

    # seed from a ground endpoint; reverse the edges to seed from the
    # object side (swapped back below)
    reverse = isinstance(pat.o, Lit) and not isinstance(pat.s, Lit)
    if reverse:
        edges = edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            *[F.col(k) for k in keys],
        )
    seed = (pat.o.value if reverse
            else pat.s.value if isinstance(pat.s, Lit) else None)
    edges, n_edges = pin_now(edges)

    def hop(left: DataFrame, right: DataFrame) -> DataFrame:
        # pairs (a, c) with a -> b in left and b -> c in right
        return (
            left.alias("l")
            .join(
                right.alias("r"),
                [F.col("l.dst") == F.col("r.src")]
                + [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys],
            )
            .select(
                F.col("l.src").alias("src"), F.col("r.dst").alias("dst"),
                *[F.col(f"l.{k}").alias(k) for k in keys],
            )
        )

    # unbound: path doubling (right = reached); seeded: one hop per
    # round from the seed's out-edges (right = edges)
    start = ((edges, n_edges) if seed is None
             else pin_now(edges.where(F.col("src") == F.lit(seed))))

    def grow(state):
        reached, n = state
        right = reached if seed is None else edges
        nxt, n2 = pin_now(reached.unionByName(hop(reached, right)).distinct())
        return (nxt, n2), n2 == n

    reached, _ = iterate(grow, start, f"<{pat.p.value}>+ closure")
    if reverse:
        reached = reached.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            *[F.col(k) for k in keys],
        )
    if pat.star:
        # zero-length paths: identity over the graph's terms (within
        # each named graph when GRAPH-scoped); a ground endpoint
        # contributes its own identity row even off-graph (§9.3)
        if seed is not None:
            ident = graph.sparkSession.range(1, numPartitions=1).select(
                F.lit(seed).alias("src"), F.lit(seed).alias("dst")
            )
            if keys:
                gcol = graph.select("graph").distinct()
                ident = ident.crossJoin(gcol)
        else:
            terms_u = graph.select(F.col("subj").alias("n"), *keys).unionByName(
                graph.select(F.col("obj").alias("n"), *keys)
            ).distinct()
            ident = terms_u.select(
                F.col("n").alias("src"), F.col("n").alias("dst"),
                *[F.col(k) for k in keys],
            )
        reached = reached.unionByName(ident).distinct()
    positions = ("src", "dst") + (("graph",) if keys else ())
    terms = (pat.s, pat.o) + ((pat.g,) if keys else ())
    return _bind_terms(reached, terms, positions)


def _path_frame(graph: DataFrame, pat: TriplePattern) -> DataFrame:
    """SPARQL 1.1 §9.1 SequencePath (`<a>/<b>`) and AlternativePath
    (`<a>|<b>`) with ground predicate elements.

    Sequence compiles to a chain of joins through anonymous hop
    columns — each hop is a pred-pruned scan, so over a
    pred-partitioned store only the named predicates' partitions are
    read, and Catalyst is free to reorder/broadcast the hop joins like
    any other join tree. Alternative compiles to a bag union of the
    branch scans (path alternatives are bag semantics, same as UNION).
    GRAPH scoping composes: every hop/branch binds or filters the quad
    frame's graph column, so a sequence stays INSIDE one named graph.
    """
    keys: list = []
    cols = []
    if pat.g is not None:
        _require_graph_col(graph)
        if isinstance(pat.g, Lit):
            graph = graph.where(F.col("graph") == F.lit(pat.g.value))
        else:
            keys = ["graph"]

    def hop(el) -> DataFrame:
        pred, inv = el
        a, b = ("obj", "subj") if inv else ("subj", "obj")
        return graph.where(F.col("pred") == F.lit(pred.value)).select(
            F.col(a).alias("src"), F.col(b).alias("dst"),
            *[F.col(k) for k in keys],
        )

    if pat.alts:
        acc = hop(pat.alts[0])
        for p in pat.alts[1:]:
            acc = acc.unionByName(hop(p))  # bag union per path semantics
    else:
        acc = hop(pat.seq[0])
        for i, p in enumerate(pat.seq[1:]):
            nxt = hop(p).withColumnRenamed("src", "_m").withColumnRenamed(
                "dst", "_d"
            )
            cond = [acc.dst == nxt._m] + [
                acc[k] == nxt[k] for k in keys
            ]
            acc = acc.join(nxt, cond).select(
                acc.src.alias("src"), nxt._d.alias("dst"),
                *[acc[k].alias(k) for k in keys],
            )
    positions = ("src", "dst") + (("graph",) if keys else ())
    terms = (pat.s, pat.o) + ((pat.g,) if keys else ())
    return _bind_terms(acc, terms, positions)


def _order_patterns(
    patterns: tuple[TriplePattern, ...], allow_product: bool
) -> list[TriplePattern]:
    """Greedy bound-is-easier ordering: start from the most-selective
    pattern, always extend through a shared variable."""
    remaining = list(patterns)
    ordered: list[TriplePattern] = []
    bound: set[str] = set()
    while remaining:
        # a fully-ground pattern is an existence gate (compiles to a 0/1-row
        # frame) and never creates a real product; likewise anything can
        # follow while no variables are bound yet.
        connected = [
            p
            for p in remaining
            if (p.vars & bound) or not ordered or not p.vars or not bound
        ]
        pool = connected if connected else remaining
        if not connected and ordered and not allow_product:
            raise SparqlError(
                "disconnected basic graph pattern requires a cartesian "
                "product (pass allow_product=True to permit it); unbound "
                f"patterns: {pool}"
            )
        best = max(pool, key=lambda p: (p.n_bound, -remaining.index(p)))
        remaining.remove(best)
        ordered.append(best)
        bound |= best.vars
    return ordered


def _filter_expr(flt: Filter):
    def col_of(t: Term):
        return F.col(t.name) if isinstance(t, Var) else F.lit(t.value)

    lhs, rhs = col_of(flt.lhs), col_of(flt.rhs)
    return {
        "=": lhs == rhs,
        "!=": lhs != rhs,
        "<": lhs < rhs,
        "<=": lhs <= rhs,
        ">": lhs > rhs,
        ">=": lhs >= rhs,
    }[flt.op]


def _join_patterns(
    graph: DataFrame, patterns: tuple[TriplePattern, ...], allow_product: bool
) -> tuple[DataFrame, set[str]]:
    ordered = _order_patterns(patterns, allow_product)
    acc: DataFrame | None = None
    bound: set[str] = set()
    for pat in ordered:
        pf = _pattern_frame(graph, pat)
        if acc is None:
            acc = pf
        else:
            shared = sorted(bound & pat.vars)
            acc = acc.join(pf, on=shared) if shared else acc.crossJoin(pf)
        if "__exists__" in acc.columns:  # ground-pattern gate: 0/1 rows
            acc = acc.drop("__exists__")
        bound |= pat.vars
    assert acc is not None
    return acc, bound


def _solutions(
    graph: DataFrame, q: SparqlQuery, allow_product: bool
) -> tuple[DataFrame, set[str]]:
    """The WHERE clause -> (solution frame, bound variables): required
    BGP joins, UNION alternations, VALUES, BINDs, FILTERs, OPTIONAL
    left joins, then MINUS exclusions. Shared by the SELECT and
    CONSTRUCT forms."""
    acc: DataFrame | None = None
    bound: set[str] = set()
    if q.patterns:
        acc, bound = _join_patterns(graph, q.patterns, allow_product)

    # UNION blocks: each branch compiles like a required BGP; branches
    # must bind identical variable sets (parser-level subset contract),
    # so the union is an exact column-aligned unionByName — bag
    # semantics per SPARQL 1.1 §7. The combined frame then joins the
    # accumulated solutions on the shared variables.
    for ug in q.unions:
        branch_frames: list[DataFrame] = []
        union_vars: set[str] | None = None
        for br in ug.branches:
            bf, bb = _join_patterns(graph, br.patterns, allow_product)
            for flt in br.filters:
                if flt.vars - bb:
                    raise SparqlError(
                        f"UNION FILTER references unbound variables "
                        f"{flt.vars - bb}"
                    )
                bf = bf.where(_filter_expr(flt))
            if union_vars is None:
                union_vars = bb
            elif bb != union_vars:
                raise SparqlError(
                    "UNION branches must bind the same variables "
                    f"(got {sorted(union_vars)} vs {sorted(bb)}); pad with "
                    "explicit patterns or split the query"
                )
            branch_frames.append(bf.select(*sorted(bb)))
        assert union_vars is not None
        uf = branch_frames[0]
        for bf in branch_frames[1:]:
            uf = uf.unionByName(bf)
        if acc is None:
            acc = uf
        else:
            shared = sorted(bound & union_vars)
            if not shared and not allow_product:
                raise SparqlError(
                    "UNION block shares no variable with the required part "
                    "(pass allow_product=True to permit the product)"
                )
            acc = acc.join(uf, on=shared) if shared else acc.crossJoin(uf)
        bound |= union_vars

    # { SELECT ... } subqueries (§12): evaluated bottom-up against the
    # same graph, then joined on the shared PROJECTED variables — the
    # aggregate-then-join idiom (per-group rollups feeding the outer
    # pattern). An unshared subquery is refused like a disconnected
    # BGP unless allow_product.
    for sub in q.subqueries:
        sf = _compile_query(graph, sub.query, allow_product)
        svars = set(sf.columns)
        if acc is None:
            acc = sf
        else:
            shared = sorted(bound & svars)
            if not shared and not allow_product:
                raise SparqlError(
                    "subquery shares no variable with the enclosing group "
                    "(pass allow_product=True to permit the product)"
                )
            acc = acc.join(sf, on=shared) if shared else acc.crossJoin(sf)
        bound |= svars
    assert acc is not None  # parser guarantees patterns/unions/subqueries

    # VALUES joins first (a FILTER may reference a VALUES-only var):
    # inline rows become a literal local frame, always broadcast — the
    # classic ground-entity lookup stays a map-side hash probe at any
    # graph size.
    for vc in q.values:
        vdf = graph.sparkSession.createDataFrame(
            list(vc.rows), ", ".join(f"{n} string" for n in vc.names)
        )
        shared = sorted(bound & vc.vars)
        # an unshared VALUES is a bounded literal binding table (its
        # row count is known at parse time), so unlike a disconnected
        # BGP the product can never detonate — always permitted.
        acc = (
            acc.join(F.broadcast(vdf), on=shared)
            if shared
            else acc.crossJoin(F.broadcast(vdf))
        )
        bound |= vc.vars

    # BINDs before FILTERs: a FILTER may reference a BIND-derived var.
    # Each BIND is a pure projection (withColumn) — zero plan cost.
    for b in q.binds:
        if b.alias in bound:
            raise SparqlError(f"BIND alias ?{b.alias} is already bound")
        missing = b.vars - bound
        if missing:
            raise SparqlError(f"BIND references unbound variables {missing}")
        cols = [
            F.col(t.name) if isinstance(t, Var) else F.lit(t.value)
            for t in b.parts
        ]
        acc = acc.withColumn(b.alias, F.concat(*cols) if b.concat else cols[0])
        bound.add(b.alias)

    for flt in q.filters:
        missing = flt.vars - bound
        if missing:
            raise SparqlError(f"FILTER references unbound variables {missing}")
        acc = acc.where(_filter_expr(flt))

    # FILTER [NOT] EXISTS: semi/anti join on the shared variables —
    # evaluated over the required bindings. Referencing a variable that
    # only OPTIONAL binds is rejected explicitly (null-substitution
    # semantics differ from a join), also when the EXISTS group shares
    # a required variable too: the join would silently correlate on the
    # required ones only, or degrade to the uncorrelated gate below.
    opt_only = {
        v for opt in q.optionals for p_ in opt.patterns for v in p_.vars
    } - bound
    for ex in q.exists:
        ef, eb = _join_patterns(graph, ex.patterns, allow_product)
        clash = eb & opt_only
        if clash:
            raise SparqlError(
                f"FILTER EXISTS over OPTIONAL-bound variables {sorted(clash)} "
                "is not supported (evaluate before OPTIONAL or restructure)"
            )
        for flt in ex.filters:
            if flt.vars - eb:
                raise SparqlError(
                    f"EXISTS FILTER references unbound variables "
                    f"{flt.vars - eb}"
                )
            ef = ef.where(_filter_expr(flt))
        shared = sorted(bound & eb)
        if shared:
            how = "left_anti" if ex.negated else "left_semi"
            acc = acc.join(ef.select(*shared).distinct(), on=shared, how=how)
        else:
            # no correlation: a global 0/1-row gate
            gate = ef.limit(1).select(F.lit(1).alias("__e__"))
            if ex.negated:
                acc = acc.withColumn("__e__", F.lit(1)).join(
                    F.broadcast(gate), on="__e__", how="left_anti"
                )
            else:
                acc = acc.join(F.broadcast(gate)).drop("__e__")

    for opt in q.optionals:
        opt_frame, opt_bound = _join_patterns(graph, opt.patterns, allow_product)
        for flt in opt.filters:
            if flt.vars - opt_bound:
                raise SparqlError(
                    f"OPTIONAL FILTER references unbound variables "
                    f"{flt.vars - opt_bound}"
                )
            opt_frame = opt_frame.where(_filter_expr(flt))
        shared = sorted(bound & opt_bound)
        if not shared:
            raise SparqlError(
                "OPTIONAL group shares no variable with the required part"
            )
        acc = acc.join(opt_frame, on=shared, how="left")
        bound |= opt_bound

    # MINUS last (SPARQL 1.1 §8.3): drop solutions compatible with any
    # exclusion-group solution on >= 1 shared variable — a left-anti
    # join on the shared variables (the exclusion side deduped first so
    # the anti probe stays a set). Rows whose shared vars are NULL
    # (OPTIONAL-unbound) never match, which is exactly the
    # disjoint-domain keep rule.
    for mg in q.minuses:
        mf, mb = _join_patterns(graph, mg.patterns, allow_product)
        for flt in mg.filters:
            if flt.vars - mb:
                raise SparqlError(
                    f"MINUS FILTER references unbound variables {flt.vars - mb}"
                )
            mf = mf.where(_filter_expr(flt))
        shared = sorted(bound & mb)
        if not shared:
            raise SparqlError(
                "MINUS group shares no variable with the required part "
                "(SPARQL would keep every solution — surely not intended)"
            )
        acc = acc.join(mf.select(*shared).distinct(), on=shared, how="left_anti")
    return acc, bound


def _instantiate_template(
    acc: DataFrame, bound: set[str], template: tuple[TriplePattern, ...]
) -> DataFrame:
    """CONSTRUCT instantiation: one projection of the solution frame
    per template triple, unioned, incomplete instantiations (null from
    OPTIONAL) dropped, set semantics via dropDuplicates. The union is
    map-side over the one shared solution plan — Spark caches nothing
    extra and the dedup is the only added shuffle."""
    unknown = {v for t in template for v in t.vars} - bound
    if unknown:
        raise SparqlError(f"CONSTRUCT template references unbound {unknown}")
    pieces = []
    for t in template:
        cols = [
            (F.col(term.name) if isinstance(term, Var) else F.lit(term.value)).alias(a)
            for term, a in zip((t.s, t.p, t.o), _POSITIONS)
        ]
        piece = acc.select(*cols)
        null_guards = [F.col(a).isNotNull() for term, a in
                       zip((t.s, t.p, t.o), _POSITIONS) if isinstance(term, Var)]
        for g in null_guards:
            piece = piece.where(g)
        pieces.append(piece)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates()


def compile_sparql(
    graph: DataFrame, text: str, allow_product: bool = False
) -> DataFrame:
    """Compile a SPARQL query to a DataFrame plan over ``graph``.

    ``graph`` must expose string columns (subj, pred, obj) — the
    materialized-KG shape of queries/core.py:canonical_triple_counts — plus
    a ``graph`` column (the quad shape rdf.py's read_ntriples parses
    from N-Quads) when the query uses GRAPH patterns.
    BGP bag semantics follow SPARQL 1.1: duplicates survive unless
    DISTINCT; FILTER comparisons are string comparisons (the KG stores
    surface forms / entity ids); OPTIONAL compiles to a left join on the
    shared variables; aggregates group implicitly by the non-aggregate
    projection unless GROUP BY is explicit.
    """
    return _compile_query(graph, parse_sparql(text), allow_product)


def _compile_query(
    graph: DataFrame, q: SparqlQuery, allow_product: bool = False
) -> DataFrame:
    if q.describe:
        res = list(q.describe)
        return (
            graph.select(*_POSITIONS)
            .where(F.col("subj").isin(res) | F.col("obj").isin(res))
            .dropDuplicates()
        )

    acc, bound = _solutions(graph, q, allow_product)

    if q.ask:
        return acc.agg((F.count(F.lit(1)) > 0).alias("ask"))

    if q.construct:
        return _instantiate_template(acc, bound, q.construct)

    select = list(q.select)
    if q.select_star:
        select = sorted(bound) + [a.alias for a in q.aggregates]

    if q.aggregates:
        keys = list(q.group_by) if q.group_by else [
            v for v in (sorted(bound) if q.select_star else q.plain_vars)
        ]
        for v in keys:
            if v not in bound:
                raise SparqlError(f"GROUP BY variable ?{v} is unbound")
        aggs = []
        for a in q.aggregates:
            if a.var is not None and a.var not in bound:
                raise SparqlError(f"aggregate over unbound variable ?{a.var}")
            if a.func == "count":
                e = F.count(F.lit(1)) if a.var is None else F.count(F.col(a.var))
            elif a.func == "min":
                e = F.min(F.col(a.var))
            elif a.func == "max":
                e = F.max(F.col(a.var))
            else:
                # SUM/AVG over RDF literals: numeric try_cast (ANSI
                # mode makes a plain cast THROW on 'abc'), non-numeric
                # terms become NULL and are skipped — the lenient
                # reading of SPARQL 1.1 §18.5's aggregate-error rule
                # most stores implement; round(6) pins float
                # determinism against summation order, the
                # entropy-query precedent
                agg = F.sum if a.func == "sum" else F.avg
                e = F.round(agg(F.col(a.var).try_cast("double")), 6)
            aggs.append(e.alias(a.alias))
        acc = acc.groupBy(*keys).agg(*aggs) if keys else acc.agg(*aggs)
    else:
        unknown = [v for v in select if v not in bound]
        if unknown:
            raise SparqlError(f"SELECT references unbound variables {unknown}")

    acc = acc.select(*select)

    if q.distinct:
        acc = acc.dropDuplicates()

    if q.order_by:
        for v, _ in q.order_by:
            if v not in select:
                raise SparqlError(f"ORDER BY variable ?{v} is not projected")
        acc = acc.orderBy(
            *[F.desc(v) if desc else F.asc(v) for v, desc in q.order_by]
        )

    if q.offset:
        acc = acc.offset(q.offset)

    if q.limit is not None:
        acc = acc.limit(q.limit)

    return acc
