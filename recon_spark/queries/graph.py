"""Graph-analytics + corpus-quality query registry: PageRank entity
salience and degree profile over the canonical triple graph, Gopher
repetition metrics, and PII redaction.

Oracle notes:
- ``entity_pagerank`` unrolls the fixed 5-iteration damped PageRank as
  chained CTEs (same technique as the trained k-means quantizer oracle
  in queries/extra.py): every stored rank is rounded to 6 decimals on
  both sides, so double summation-order differences (1e-17) cannot
  surface in the comparison.
- the damping constants are emitted with ``repr(float)`` so the SQL
  literal is the exact IEEE double the Spark side computes with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recon_spark.gazetteer import sql_alias_values
from recon_spark.operators.extraction import extract_triples_tokens
from recon_spark.operators.graph import DAMPING, PR_ITERATIONS, degree_stats, pagerank
from recon_spark.operators.linker import alias_df, to_entity, top_aliases
from recon_spark.operators.textstats import (
    PII_EMAIL,
    PII_IPV4,
    PII_PHONE,
    pii_redact,
    repetition_metrics,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


def _canonical_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) edges of the canonical KG: subj/obj of the
    ``_canonical_triples`` rows, the same derivation as the
    ``triples_canonical`` query."""
    return _canonical_triples(spark, sf_dir).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )


def _sql_canonical_edges() -> str:
    """DuckDB CTE chain ending in ``e`` = distinct canonical (src, dst)
    with self-loops dropped, plus ``nodes``/``nn``/``outd``."""
    from recon_spark.queries.core import _sql_triples_base

    return f"""{_sql_triples_base()},
best AS (
  SELECT alias, entity_id FROM (
    SELECT alias, entity_id,
           row_number() OVER (PARTITION BY alias ORDER BY score DESC, entity_id) AS rk
    FROM {sql_alias_values()}
  ) WHERE rk = 1
),
canon AS (
  SELECT coalesce(bs.entity_id, t.subj) AS src,
         coalesce(bo.entity_id, t.obj) AS dst
  FROM triples t
  LEFT JOIN best bs ON t.subj = bs.alias
  LEFT JOIN best bo ON t.obj = bo.alias
),
e AS (SELECT DISTINCT src, dst FROM canon WHERE src <> dst),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outd AS (SELECT src, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY 1)"""


# --------------------------------------------------------------------------
# entity_pagerank
# --------------------------------------------------------------------------

def q_entity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(_canonical_edges(spark, sf_dir))


def _sql_pagerank(edges_cte: str | None = None, node_alias: str = "entity") -> str:
    """PageRank iteration CTE chain over any prefix that defines
    ``e(src, dst)`` / ``nodes(node)`` / ``nn(n)`` / ``outd(src, od)``
    (default: the canonical entity edges; pipeline.py reuses it over
    the crawl host graph)."""
    one_minus_d = repr(1.0 - DAMPING)  # exact IEEE literal, matches Spark
    d = repr(DAMPING)
    # AS MATERIALIZED: each iteration references the previous one 2-3
    # times; DuckDB's default inlining makes the plan tree (and its
    # single-threaded optimizer pass) grow exponentially in the
    # iteration count when the edge derivation itself is a nontrivial
    # subtree (the crawl host graph's regex URL-normalization CTEs
    # hang for minutes at sf0.001 without this; with it the chain is
    # linear). Semantics are unchanged.
    parts = [
        f"""r0 AS MATERIALIZED (
  SELECT node, round(1.0 / (SELECT n FROM nn), 6) AS rank FROM nodes
)"""
    ]
    prev = "r0"
    for t in range(1, PR_ITERATIONS + 1):
        parts.append(f"""c{t} AS MATERIALIZED (
  SELECT e.dst, sum(r.rank / o.od) AS contrib
  FROM e JOIN {prev} r ON e.src = r.node JOIN outd o ON e.src = o.src
  GROUP BY 1
),
d{t} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), 0.0) AS dm FROM {prev} r
  WHERE NOT EXISTS (SELECT 1 FROM outd o WHERE o.src = r.node)
),
r{t} AS MATERIALIZED (
  SELECT n.node,
         round({one_minus_d} / (SELECT n FROM nn)
               + {d} * (coalesce(c.contrib, 0.0)
                        + (SELECT dm FROM d{t}) / (SELECT n FROM nn)), 6) AS rank
  FROM nodes n LEFT JOIN c{t} c ON n.node = c.dst
)""")
        prev = f"r{t}"
    return (
        f"WITH {edges_cte or _sql_canonical_edges()},\n"
        + ",\n".join(parts)
        + f"\nSELECT node AS {node_alias}, rank FROM {prev} "
        + f"ORDER BY rank DESC, {node_alias}"
    )


SQL_ENTITY_PAGERANK = _sql_pagerank()


# --------------------------------------------------------------------------
# entity_degrees
# --------------------------------------------------------------------------

def q_entity_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return degree_stats(_canonical_edges(spark, sf_dir))


SQL_ENTITY_DEGREES = f"""
WITH {_sql_canonical_edges()},
ends AS (SELECT src AS node FROM e UNION ALL SELECT dst FROM e),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM ends GROUP BY 1)
SELECT degree, CAST(count(*) AS BIGINT) AS n_entities
FROM deg GROUP BY 1 ORDER BY degree
"""


# --------------------------------------------------------------------------
# repetition_metrics
# --------------------------------------------------------------------------

def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_metrics(_docs(spark, sf_dir))


SQL_REPETITION_METRICS = """
WITH t AS (
  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS ws
  FROM documents
),
w AS (SELECT doc_id, len(ws) AS n_tokens, unnest(ws) AS w FROM t),
wc AS (SELECT doc_id, n_tokens, w, count(*) AS cnt FROM w GROUP BY 1, 2, 3),
wstats AS (
  SELECT doc_id, n_tokens,
         round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)
               / CAST(n_tokens AS DOUBLE), 6) AS dup_word_frac
  FROM wc GROUP BY doc_id, n_tokens
),
b AS (
  SELECT doc_id, n_chars,
         unnest(CASE WHEN len(ws) >= 2 THEN
                  list_transform(generate_series(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i + 1])
                ELSE [] END) AS bg
  FROM t
),
bc AS (SELECT doc_id, n_chars, bg, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
br AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg) AS rn
  FROM bc
),
bstats AS (
  SELECT doc_id,
         round(least(CAST(1.0 AS DOUBLE),
                     sum(CASE WHEN cnt > 1 THEN cnt * length(bg) ELSE 0 END)
                     / CAST(n_chars AS DOUBLE)), 6) AS dup_bigram_char_frac,
         max(CASE WHEN rn = 1 THEN bg END) AS top_bigram,
         max(CASE WHEN rn = 1 THEN
               round(cnt * length(bg) / CAST(n_chars AS DOUBLE), 6) END
             ) AS top_bigram_char_frac
  FROM br GROUP BY doc_id, n_chars
)
SELECT w.doc_id, w.n_tokens, w.dup_word_frac,
       coalesce(b.dup_bigram_char_frac, 0.0) AS dup_bigram_char_frac,
       coalesce(b.top_bigram, '') AS top_bigram,
       coalesce(b.top_bigram_char_frac, 0.0) AS top_bigram_char_frac
FROM wstats w LEFT JOIN bstats b ON w.doc_id = b.doc_id
ORDER BY w.doc_id
"""


# --------------------------------------------------------------------------
# pii_redact
# --------------------------------------------------------------------------
# The synthetic documents carry no PII by construction, so the query
# demonstrates the operator on deterministically synthesized PII: each
# doc gets an email / IPv4 / phone derived from (source, doc_id) by
# integer arithmetic, identically on both sides. The OPERATOR is the
# deliverable; the synthesis is just the fixture.

_PII_SUFFIX_SPARK = (
    "concat(text, ' contact ', source, '@example.com from 10.', "
    "CAST(doc_id % 256 AS STRING), '.0.', CAST((doc_id * 7) % 256 AS STRING), "
    "' tel 555-', lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-', "
    "lpad(CAST((doc_id * 3) % 10000 AS STRING), 4, '0'))"
)

_PII_SUFFIX_DUCK = (
    "text || ' contact ' || source || '@example.com from 10.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) || "
    "' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || "
    "lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')"
)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("pii_text", F.expr(_PII_SUFFIX_SPARK))
    out = pii_redact(docs, id_col="doc_id", text_col="pii_text")
    return out.select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_phones",
        F.md5("redacted").alias("redacted_md5"),
    ).orderBy("doc_id")


SQL_PII_REDACT = f"""
WITH p AS (SELECT doc_id, {_PII_SUFFIX_DUCK} AS pii_text FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(pii_text, '{PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(pii_text, '{PII_IPV4}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(pii_text, '{PII_PHONE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(pii_text,
             '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_IPV4}', '<IP>', 'g'),
             '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
FROM p ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# entity_cooccurrence — PMI-weighted co-mention edges
# --------------------------------------------------------------------------

def _canonical_entity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, entity) distinct pairs: every canonical entity (subj or
    obj of an extracted triple, mapped through the top-1 alias
    candidate) per document."""
    from recon_spark.operators.graph import cooccurrence_pmi  # noqa: F401

    t = extract_triples_tokens(_docs(spark, sf_dir))
    ment = t.select("doc_id", F.col("subj").alias("entity")).unionAll(
        t.select("doc_id", F.col("obj").alias("entity"))
    )
    return to_entity(ment, "entity", top_aliases(alias_df(spark))).distinct()


def _sql_canonical_mentions() -> str:
    """DuckDB CTE chain ending in ``ment`` = distinct canonical
    (doc_id, entity) mentions."""
    from recon_spark.queries.core import _sql_triples_base

    return f"""{_sql_triples_base()},
best AS (
  SELECT alias, entity_id FROM (
    SELECT alias, entity_id,
           row_number() OVER (PARTITION BY alias ORDER BY score DESC, entity_id) AS rk
    FROM {sql_alias_values()}
  ) WHERE rk = 1
),
ment AS (
  SELECT DISTINCT doc_id, entity FROM (
    SELECT t.doc_id, coalesce(b.entity_id, t.subj) AS entity
    FROM triples t LEFT JOIN best b ON t.subj = b.alias
    UNION ALL
    SELECT t.doc_id, coalesce(b.entity_id, t.obj) AS entity
    FROM triples t LEFT JOIN best b ON t.obj = b.alias
  )
)"""


_COOC_MIN_PAIRS = 2


def q_entity_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.graph import cooccurrence_pmi

    return cooccurrence_pmi(
        _canonical_entity_docs(spark, sf_dir), min_pairs=_COOC_MIN_PAIRS
    )


SQL_ENTITY_COOCCURRENCE = f"""
WITH {_sql_canonical_mentions()},
nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM ment),
marg AS (SELECT entity, count(*) AS c FROM ment GROUP BY 1),
pairs AS (
  SELECT m1.entity AS a, m2.entity AS b, CAST(count(*) AS BIGINT) AS pair_docs
  FROM ment m1 JOIN ment m2 ON m1.doc_id = m2.doc_id AND m1.entity < m2.entity
  GROUP BY 1, 2
)
SELECT p.a, p.b, p.pair_docs,
       round(ln((SELECT n FROM nd) * p.pair_docs / (ma.c * mb.c)), 6) AS pmi
FROM pairs p JOIN marg ma ON p.a = ma.entity JOIN marg mb ON p.b = mb.entity
WHERE p.pair_docs >= {_COOC_MIN_PAIRS}
ORDER BY p.pair_docs DESC, pmi DESC, p.a, p.b
"""


# --------------------------------------------------------------------------
# kg_two_hop — two-hop path counts (link-prediction primitive)
# --------------------------------------------------------------------------

def q_kg_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.graph import two_hop_paths

    return two_hop_paths(_canonical_edges(spark, sf_dir))


SQL_KG_TWO_HOP = f"""
WITH {_sql_canonical_edges()}
SELECT e1.src AS src, e2.dst AS dst, CAST(count(*) AS BIGINT) AS n_paths
FROM e e1 JOIN e e2 ON e1.dst = e2.src
WHERE e1.src <> e2.dst
GROUP BY 1, 2 ORDER BY n_paths DESC, src, dst
"""


# --------------------------------------------------------------------------
# facts_current — temporal latest-assertion view per (subj, pred)
# --------------------------------------------------------------------------

def q_facts_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.graph import current_facts

    t = extract_triples_tokens(_docs(spark, sf_dir)).withColumn(
        "ts",
        F.expr("timestamp'2020-01-01 00:00:00' + make_dt_interval(0, 0, 0, doc_id)"),
    )
    return current_facts(t)


def _sql_facts_current() -> str:
    from recon_spark.queries.core import _sql_triples_base

    return f"""
WITH {_sql_triples_base()},
ts_t AS (
  SELECT subj, pred, obj, pos,
         TIMESTAMP '2020-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS ts
  FROM triples
),
rk AS (
  SELECT subj, pred, obj, ts,
         row_number() OVER (PARTITION BY subj, pred
                            ORDER BY ts DESC, pos DESC, obj DESC) AS rn
  FROM ts_t
)
SELECT subj, pred, obj, ts AS valid_from FROM rk WHERE rn = 1
ORDER BY subj, pred
"""


SQL_FACTS_CURRENT = _sql_facts_current()


# --------------------------------------------------------------------------
# facts_history — SCD-2 validity intervals per (subj, pred)
# --------------------------------------------------------------------------

def q_facts_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver surface note: the operator leaves valid_to NULL for the
    open-ended current interval. The query emits valid_to as a FORMATTED
    STRING with a far-future sentinel for the open interval: a string
    avoids both engine-specific NULL-timestamp encodings (pandas NaT vs
    None) AND the pandas ns-datetime64 range limit (2262-04-11) that a
    9999-12-31 TIMESTAMP overflows when the driver harness converts
    results via toPandas (the r3 red row)."""
    from recon_spark.operators.graph import fact_history

    t = extract_triples_tokens(_docs(spark, sf_dir)).withColumn(
        "ts",
        F.expr("timestamp'2020-01-01 00:00:00' + make_dt_interval(0, 0, 0, doc_id)"),
    )
    return fact_history(t).withColumn(
        "valid_to",
        F.coalesce(
            F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ),
    )


def _sql_facts_history() -> str:
    from recon_spark.queries.core import _sql_triples_base

    return f"""
WITH {_sql_triples_base()},
ts_t AS (
  SELECT subj, pred, obj, pos,
         TIMESTAMP '2020-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS ts
  FROM triples
),
chg AS (
  SELECT subj, pred, obj, ts, pos,
         lag(obj) OVER (PARTITION BY subj, pred ORDER BY ts, pos, obj) AS prev
  FROM ts_t
),
kept AS (
  SELECT subj, pred, obj, ts, pos FROM chg WHERE prev IS NULL OR prev <> obj
)
SELECT subj, pred, obj, ts AS valid_from,
       coalesce(strftime(lead(ts) OVER (PARTITION BY subj, pred ORDER BY ts, pos, obj),
                         '%Y-%m-%d %H:%M:%S'),
                '9999-12-31 00:00:00') AS valid_to
FROM kept ORDER BY subj, pred, valid_from, obj
"""


# --------------------------------------------------------------------------
# kg_negative_samples — deterministic corrupted triples (TransE prep)
# --------------------------------------------------------------------------

def q_kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.graph import negative_samples

    return negative_samples(_canonical_triples(spark, sf_dir))


def _sql_kg_negative_samples() -> str:
    from recon_spark.operators.graph import NEG_PER_TRIPLE
    from recon_spark.queries.core import _sql_triples_base

    key = (
        "t.subj || '|' || t.pred || '|' || t.obj || '|' || CAST(j AS VARCHAR)"
    )
    return f"""
WITH {_sql_triples_base()},
best AS (
  SELECT alias, entity_id FROM (
    SELECT alias, entity_id,
           row_number() OVER (PARTITION BY alias ORDER BY score DESC, entity_id) AS rk
    FROM {sql_alias_values()}
  ) WHERE rk = 1
),
canon AS (
  SELECT coalesce(bs.entity_id, t.subj) AS subj, t.pred,
         coalesce(bo.entity_id, t.obj) AS obj
  FROM triples t
  LEFT JOIN best bs ON t.subj = bs.alias
  LEFT JOIN best bo ON t.obj = bo.alias
),
t AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM canon),
vocab AS MATERIALIZED (
  SELECT e, row_number() OVER (ORDER BY e) - 1 AS rk FROM (
    SELECT DISTINCT e FROM (
      SELECT subj AS e FROM t UNION ALL SELECT obj AS e FROM t
    )
  )
),
nv AS (SELECT count(*) AS n FROM vocab),
cand AS (
  SELECT t.subj, t.pred, t.obj, CAST(j AS INTEGER) AS neg_j,
         CASE WHEN j % 2 = 1 THEN 'obj' ELSE 'subj' END AS side,
         CAST(('0x' || substring(md5({key}), 1, 8)) AS BIGINT)
           % (SELECT n FROM nv) AS rk
  FROM t, LATERAL unnest(generate_series(1, {NEG_PER_TRIPLE})) AS s(j)
),
rep AS (
  SELECT CASE WHEN c.side = 'subj' THEN v.e ELSE c.subj END AS subj,
         c.pred,
         CASE WHEN c.side = 'obj' THEN v.e ELSE c.obj END AS obj,
         c.neg_j, c.side
  FROM cand c JOIN vocab v ON c.rk = v.rk
  WHERE ((c.side = 'subj' AND v.e <> c.subj)
      OR (c.side = 'obj' AND v.e <> c.obj))
    AND (CASE WHEN c.side = 'subj' THEN v.e ELSE c.subj END)
     <> (CASE WHEN c.side = 'obj' THEN v.e ELSE c.obj END)
)
SELECT r.subj, r.pred, r.obj, r.neg_j, r.side
FROM rep r
WHERE NOT EXISTS (
  SELECT 1 FROM t WHERE t.subj = r.subj AND t.pred = r.pred AND t.obj = r.obj
)
ORDER BY r.subj, r.pred, r.obj, r.neg_j
"""


# --------------------------------------------------------------------------
# boilerplate_ngrams — global repeated n-gram (boilerplate) detection
# --------------------------------------------------------------------------

_BP_N = 5
_BP_MIN_DF = 3
_BP_TOP = 20


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.textstats import boilerplate_ngrams

    return boilerplate_ngrams(
        _docs(spark, sf_dir), n=_BP_N, min_df=_BP_MIN_DF
    ).limit(_BP_TOP)


SQL_BOILERPLATE_NGRAMS = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= {_BP_N} THEN
                  list_transform(generate_series(1, len(ws) - {_BP_N - 1}),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                         || ws[i+3] || ' ' || ws[i+4])
                ELSE [] END) AS ng
  FROM t
),
dc AS (SELECT doc_id, ng, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
gl AS (SELECT ng AS ngram, CAST(count(*) AS BIGINT) AS df,
              CAST(sum(cnt) AS BIGINT) AS total
       FROM dc GROUP BY 1)
SELECT ngram, df, total FROM gl WHERE df >= {_BP_MIN_DF}
ORDER BY df DESC, total DESC, ngram LIMIT {_BP_TOP}
"""


# --------------------------------------------------------------------------
# fuzzy_aliases — edit-distance-1 surface pairs via symmetric-deletion
# blocking (alias-curation candidates; no all-pairs join)
# --------------------------------------------------------------------------

def q_fuzzy_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo'd variants are synthesized in-query (drop the final char of
    every token of length >= 4 — the corpus vocabulary has no natural
    edit-distance-1 pairs by construction, same precedent as
    pii_redact's synthesized PII); the operator then finds every pair
    within edit distance 1 through deletion-key blocking."""
    from recon_spark.operators.linker import fuzzy_surface_pairs

    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(F.split("text", " ")).alias("surface")).distinct()
    variants = toks.where(F.length("surface") >= 4).select(
        F.expr("substring(surface, 1, length(surface) - 1)").alias("surface")
    )
    vocab = toks.unionAll(variants).distinct()
    return fuzzy_surface_pairs(vocab)


SQL_FUZZY_ALIASES = """
WITH toks AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS s FROM documents),
var AS (SELECT DISTINCT substring(s, 1, length(s) - 1) AS s FROM toks WHERE length(s) >= 4),
vocab AS (SELECT s FROM toks UNION SELECT s FROM var)
SELECT a.s AS a, b.s AS b, CAST(levenshtein(a.s, b.s) AS INT) AS dist
FROM vocab a JOIN vocab b ON a.s < b.s
WHERE levenshtein(a.s, b.s) <= 1
ORDER BY a, b
"""


# --------------------------------------------------------------------------
# entity_resolution — fuzzy pairs -> connected components -> canonical ids
# --------------------------------------------------------------------------

def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive edit-distance-1 clusters over the same synthesized
    vocabulary as `fuzzy_aliases`, each surface resolved to its
    cluster's canonical id (lexicographic min reachable)."""
    from recon_spark.operators.linker import resolve_surfaces

    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(F.split("text", " ")).alias("surface")).distinct()
    variants = toks.where(F.length("surface") >= 4).select(
        F.expr("substring(surface, 1, length(surface) - 1)").alias("surface")
    )
    vocab = toks.unionAll(variants).distinct()
    return resolve_surfaces(vocab)


def _sql_entity_resolution() -> str:
    from recon_spark.queries.extra import _sql_components_cte

    return f"""
WITH RECURSIVE
toks AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS s FROM documents),
var AS (SELECT DISTINCT substring(s, 1, length(s) - 1) AS s FROM toks WHERE length(s) >= 4),
vocab AS (SELECT s FROM toks UNION SELECT s FROM var),
pairs AS (
  SELECT a.s AS id_a, b.s AS id_b FROM vocab a JOIN vocab b ON a.s < b.s
  WHERE levenshtein(a.s, b.s) <= 1
),
{_sql_components_cte()},
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY 1)
SELECT comp.id AS surface, comp.component AS canonical, sizes.cluster_size
FROM comp JOIN sizes USING (component)
ORDER BY canonical, surface
"""


# --------------------------------------------------------------------------
# kg_conflicts — functional-predicate conflict detection over canonical
# triples (the KG analog of label disparities)
# --------------------------------------------------------------------------

def _canonical_triples(
    spark: SparkSession, sf_dir: str, doc_filter: str | None = None
) -> DataFrame:
    """Ungrouped canonical (subj, pred, obj) rows — the same alias-
    mapped derivation as triples_canonical, before its rollup.
    ``doc_filter`` (SQL over documents columns) restricts the source
    corpus — the snapshot lever for kg_snapshot_diff."""
    docs = _docs(spark, sf_dir)
    if doc_filter is not None:
        docs = docs.where(doc_filter)
    best = top_aliases(alias_df(spark))
    t = to_entity(to_entity(extract_triples_tokens(docs), "subj", best), "obj", best)
    return t.select("subj", "pred", "obj")


def q_kg_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.graph import functional_conflicts

    return functional_conflicts(_canonical_triples(spark, sf_dir))


def _sql_kg_conflicts() -> str:
    from recon_spark.queries.core import _sql_triples_base

    return f"""
WITH {_sql_triples_base()},
best AS (
  SELECT alias, entity_id FROM (
    SELECT alias, entity_id,
           row_number() OVER (PARTITION BY alias ORDER BY score DESC, entity_id) AS rk
    FROM {sql_alias_values()}
  ) WHERE rk = 1
),
canon AS (
  SELECT coalesce(bs.entity_id, t.subj) AS subj, t.pred,
         coalesce(bo.entity_id, t.obj) AS obj
  FROM triples t
  LEFT JOIN best bs ON t.subj = bs.alias
  LEFT JOIN best bo ON t.obj = bo.alias
),
c AS (SELECT subj, pred, obj, count(*) AS cnt FROM canon GROUP BY 1, 2, 3),
g AS (SELECT subj, pred, CAST(count(*) AS BIGINT) AS n_objs,
             CAST(sum(cnt) AS BIGINT) AS support, max(cnt) AS mx
      FROM c GROUP BY 1, 2 HAVING count(*) > 1)
SELECT g.subj, g.pred, g.n_objs, g.support, min(c.obj) AS top_obj
FROM g JOIN c ON c.subj = g.subj AND c.pred = g.pred AND c.cnt = g.mx
GROUP BY g.subj, g.pred, g.n_objs, g.support
ORDER BY g.n_objs DESC, g.subj, g.pred
"""


# --------------------------------------------------------------------------
# kg_triangles — triangle census (degree-oriented wedge join)
# --------------------------------------------------------------------------

def q_kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.graph import triangle_stats

    return triangle_stats(_canonical_edges(spark, sf_dir))


def _sql_kg_triangles() -> str:
    """Independent oracle: brute-force u<v<w triple join — no
    degree-orientation, so the two derivations share nothing."""
    return f"""
WITH {_sql_canonical_edges()},
und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e),
degs AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY n
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM und e1
  JOIN und e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d) / 2 AS BIGINT) AS n_edges,
         CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
  FROM degs
)
SELECT st.n_nodes, st.n_edges, st.n_wedges, tri.n_triangles,
       round(3.0 * tri.n_triangles / st.n_wedges, 6) AS clustering
FROM st, tri
"""


# --------------------------------------------------------------------------
# kg_snapshot_diff — triple-set delta between two corpus snapshots
# --------------------------------------------------------------------------

def q_kg_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta of the canonical triple rollup when the corpus grows from
    the even-doc_id half to the full corpus: status counts for the
    incremental-rebuild gate (removed=0 here by construction — a
    grow-only corpus can only add or raise counts)."""
    from recon_spark.operators.graph import kg_diff

    def rollup(t: DataFrame) -> DataFrame:
        return t.groupBy("subj", "pred", "obj").agg(F.count(F.lit(1)).alias("n"))

    old = rollup(_canonical_triples(spark, sf_dir, doc_filter="doc_id % 2 = 0"))
    new = rollup(_canonical_triples(spark, sf_dir))
    return kg_diff(old, new)


def _sql_kg_snapshot_diff() -> str:
    from recon_spark.queries.core import _sql_triples_base

    return f"""
WITH {_sql_triples_base()},
best AS (
  SELECT alias, entity_id FROM (
    SELECT alias, entity_id,
           row_number() OVER (PARTITION BY alias ORDER BY score DESC, entity_id) AS rk
    FROM {sql_alias_values()}
  ) WHERE rk = 1
),
canon AS (
  SELECT t.doc_id, coalesce(bs.entity_id, t.subj) AS subj, t.pred,
         coalesce(bo.entity_id, t.obj) AS obj
  FROM triples t
  LEFT JOIN best bs ON t.subj = bs.alias
  LEFT JOIN best bo ON t.obj = bo.alias
),
old AS (SELECT subj, pred, obj, count(*) AS n FROM canon
        WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3),
new AS (SELECT subj, pred, obj, count(*) AS n FROM canon GROUP BY 1, 2, 3),
j AS (
  SELECT CASE WHEN o.n IS NULL THEN 'added'
              WHEN nw.n IS NULL THEN 'removed'
              WHEN o.n <> nw.n THEN 'count_changed'
              ELSE 'unchanged' END AS status
  FROM old o FULL OUTER JOIN new nw
    ON o.subj = nw.subj AND o.pred = nw.pred AND o.obj = nw.obj
)
SELECT status, CAST(count(*) AS BIGINT) AS n_triples
FROM j GROUP BY status ORDER BY status
"""


# --------------------------------------------------------------------------
# kg_merge_candidates — structural entity dedup via neighbor Jaccard
# --------------------------------------------------------------------------

_MERGE_THRESHOLD = 0.25


def q_kg_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.graph import neighbor_merge_candidates

    return neighbor_merge_candidates(
        _canonical_edges(spark, sf_dir), threshold=_MERGE_THRESHOLD
    )


def _sql_kg_merge_candidates() -> str:
    return f"""
WITH {_sql_canonical_edges()},
deg AS (SELECT src AS s, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
shared AS (
  SELECT a.src AS a, b.src AS b, CAST(count(*) AS BIGINT) AS shared
  FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
)
SELECT s.a, s.b, s.shared,
       round(CAST(s.shared AS DOUBLE) / (da.d + db.d - s.shared), 6) AS jaccard
FROM shared s
JOIN deg da ON da.s = s.a
JOIN deg db ON db.s = s.b
WHERE CAST(s.shared AS DOUBLE) / (da.d + db.d - s.shared) >= {_MERGE_THRESHOLD}
ORDER BY jaccard DESC, a, b
"""


# --------------------------------------------------------------------------
# kg_random_walks — deterministic DeepWalk corpus over the canonical KG
# --------------------------------------------------------------------------

def q_kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.graph import random_walks

    return random_walks(_canonical_edges(spark, sf_dir))


def _sql_kg_random_walks() -> str:
    from recon_spark.operators.graph import WALK_LEN, WALKS_PER_NODE

    hexd = "0123456789abcdef"
    wids = ", ".join(f"({w})" for w in range(WALKS_PER_NODE))
    parts = [
        f"""adj AS (SELECT src AS s, list(dst ORDER BY dst) AS nbrs FROM e GROUP BY 1),
w0 AS (
  SELECT s AS start, CAST(wid AS INTEGER) AS walk, CAST(0 AS INTEGER) AS step,
         s AS node
  FROM adj CROSS JOIN (VALUES {wids}) t(wid)
)"""
    ]
    for t in range(1, WALK_LEN + 1):
        key = f"w.node || '|' || CAST(w.walk AS VARCHAR) || '|' || '{t}'"
        idx = (
            f"((strpos('{hexd}', substring(md5({key}), 1, 1)) - 1) * 16"
            f" + strpos('{hexd}', substring(md5({key}), 2, 1)) - 1) % len(a.nbrs)"
        )
        parts.append(f"""w{t} AS (
  SELECT w.start, w.walk, CAST({t} AS INTEGER) AS step, a.nbrs[{idx} + 1] AS node
  FROM w{t - 1} w JOIN adj a ON w.node = a.s
)""")
    union = " UNION ALL ".join(
        f"SELECT * FROM w{t}" for t in range(WALK_LEN + 1)
    )
    return (
        f"WITH {_sql_canonical_edges()},\n"
        + ",\n".join(parts)
        + f"\nSELECT start, walk, step, node FROM ({union}) ORDER BY start, walk, step"
    )


# --------------------------------------------------------------------------
# kg_kcore — k-core nucleus of the canonical KG (iterative peeling)
# --------------------------------------------------------------------------

def q_kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.graph import kcore

    return kcore(_canonical_edges(spark, sf_dir))


def _sql_kg_kcore() -> str:
    from recon_spark.operators.graph import KCORE_ITERS, KCORE_K

    # MATERIALIZED: every u{t} is referenced twice (degree branch +
    # next round's join); inlined CTEs re-expand the whole chain
    # 2^iters times (measured 67s -> sub-second in DuckDB)
    parts = [
        """u0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst
)"""
    ]
    for t in range(1, KCORE_ITERS + 1):
        parts.append(f"""d{t} AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM u{t - 1} UNION ALL SELECT b FROM u{t - 1}
  ) GROUP BY 1
),
k{t} AS (SELECT node FROM d{t} WHERE d >= {KCORE_K}),
u{t} AS MATERIALIZED (
  SELECT u.a, u.b FROM u{t - 1} u
  JOIN k{t} ka ON u.a = ka.node JOIN k{t} kb ON u.b = kb.node
)""")
    return (
        f"WITH {_sql_canonical_edges()},\n"
        + ",\n".join(parts)
        + f"""
SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
  SELECT a AS node FROM u{KCORE_ITERS} UNION ALL SELECT b FROM u{KCORE_ITERS}
) GROUP BY 1 HAVING count(*) >= {KCORE_K}
ORDER BY degree DESC, node"""
    )


# --------------------------------------------------------------------------
# kg_predicate_stats — schema-level predicate profile
# --------------------------------------------------------------------------

def q_kg_predicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.graph import predicate_stats

    return predicate_stats(_canonical_triples(spark, sf_dir))


def _sql_kg_predicate_stats() -> str:
    from recon_spark.queries.core import _sql_triples_base

    return f"""
WITH {_sql_triples_base()},
best AS (
  SELECT alias, entity_id FROM (
    SELECT alias, entity_id,
           row_number() OVER (PARTITION BY alias ORDER BY score DESC, entity_id) AS rk
    FROM {sql_alias_values()}
  ) WHERE rk = 1
),
canon AS (
  SELECT coalesce(bs.entity_id, t.subj) AS subj, t.pred,
         coalesce(bo.entity_id, t.obj) AS obj
  FROM triples t
  LEFT JOIN best bs ON t.subj = bs.alias
  LEFT JOIN best bo ON t.obj = bo.alias
),
g AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n_triples,
         CAST(count(DISTINCT subj) AS BIGINT) AS n_subj,
         CAST(count(DISTINCT obj) AS BIGINT) AS n_obj,
         CAST(count(DISTINCT subj || chr(0) || obj) AS BIGINT) AS n_pairs
  FROM canon GROUP BY 1
)
SELECT pred, n_triples, n_subj, n_obj,
       round(CAST(n_subj AS DOUBLE) / n_pairs, 6) AS functionality,
       round(CAST(n_obj AS DOUBLE) / n_pairs, 6) AS inv_functionality
FROM g ORDER BY pred
"""


# --------------------------------------------------------------------------
# SPARQL layer over the materialized KG (operators/sparql.py): the same
# canonical triple table the engine materializes, queried with compiled
# SPARQL instead of hand-written joins. Each oracle is the hand-translated
# relational equivalent, so the comparison checks the COMPILER, not just
# the data.
# --------------------------------------------------------------------------

def _canonical_kg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.queries.core import canonical_triple_counts

    return canonical_triple_counts(
        spark, extract_triples_tokens(_docs(spark, sf_dir))
    ).select("subj", "pred", "obj")


def _sql_canonical_kg() -> str:
    """CTE chain ending in ``kg`` = distinct canonical (subj, pred, obj)."""
    from recon_spark.queries.core import _sql_triples_base

    return f"""{_sql_triples_base()},
best AS (
  SELECT alias, entity_id FROM (
    SELECT alias, entity_id,
           row_number() OVER (PARTITION BY alias ORDER BY score DESC, entity_id) AS rk
    FROM {sql_alias_values()}
  ) WHERE rk = 1
),
kg AS (
  SELECT DISTINCT coalesce(bs.entity_id, t.subj) AS subj, t.pred,
         coalesce(bo.entity_id, t.obj) AS obj
  FROM triples t
  LEFT JOIN best bs ON t.subj = bs.alias
  LEFT JOIN best bo ON t.obj = bo.alias
)"""


SPARQL_STAR = (
    "SELECT ?s ?probe ?sink WHERE { ?s <scan> ?probe . ?s <join> ?sink . "
    "FILTER(?probe != ?sink) } ORDER BY ?s ?probe ?sink"
)


def q_sparql_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic star-join BGP: entities that both scan and join, with the
    two object role fillers distinct. Exercises literal-predicate
    pushdown + shared-subject join in the compiled plan."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_STAR)


SQL_SPARQL_STAR = f"""
WITH {_sql_canonical_kg()}
SELECT a.subj AS s, a.obj AS probe, b.obj AS sink
FROM kg a JOIN kg b ON a.subj = b.subj
WHERE a.pred = 'scan' AND b.pred = 'join' AND a.obj <> b.obj
ORDER BY s, probe, sink
"""


SPARQL_PATH = (
    "SELECT DISTINCT ?a ?p ?c WHERE { ?a <merge> ?b . ?b ?p ?c . "
    "FILTER(?a != ?c) } ORDER BY ?a ?p ?c"
)


def q_sparql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop path traversal with a variable in predicate position and
    an acyclicity filter — the path-query shape of link prediction."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_PATH)


SQL_SPARQL_PATH = f"""
WITH {_sql_canonical_kg()}
SELECT DISTINCT a.subj AS a, b.pred AS p, b.obj AS c
FROM kg a JOIN kg b ON a.obj = b.subj
WHERE a.pred = 'merge' AND a.subj <> b.obj
ORDER BY a, p, c
"""


SPARQL_OPTIONAL_AGG = (
    "SELECT ?s (COUNT(?x) AS ?n_sorted) (MAX(?g) AS ?top_group) WHERE "
    "{ ?s <group> ?g . OPTIONAL { ?s <sort> ?x } } GROUP BY ?s ORDER BY ?s"
)


def q_sparql_optional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL enrichment + grouped aggregates: per grouping entity,
    how many sort edges exist (0 when the OPTIONAL finds none — COUNT
    over a possibly-null variable) and the max grouped object."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_OPTIONAL_AGG)


SQL_SPARQL_OPTIONAL_AGG = f"""
WITH {_sql_canonical_kg()}
SELECT g.subj AS s, count(s2.obj) AS n_sorted, max(g.obj) AS top_group
FROM (SELECT subj, obj FROM kg WHERE pred = 'group') g
LEFT JOIN (SELECT subj, obj FROM kg WHERE pred = 'sort') s2
       ON g.subj = s2.subj
GROUP BY 1 ORDER BY s
"""


SPARQL_CONSTRUCT = (
    "CONSTRUCT { ?o <scanned_by> ?s . ?s <touches> ?o . ?s <aggregates> ?z } "
    "WHERE { ?s <scan> ?o . OPTIONAL { ?s <agg> ?z } }"
)


def q_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRUCT (SPARQL 1.1 §10.2): derive a new graph from the
    canonical KG — inverse `scanned_by` edges, `touches` copies, and
    `aggregates` edges only where the OPTIONAL bound (incomplete
    instantiations drop per spec), set semantics. The output is the
    same (subj, pred, obj) shape the KG materializes, so it feeds the
    rdf.py N-Triples sink directly — KG -> derived KG -> export as one
    Catalyst plan."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_CONSTRUCT).orderBy(
        "subj", "pred", "obj"
    )


SQL_SPARQL_CONSTRUCT = f"""
WITH {_sql_canonical_kg()},
base AS (
  SELECT s.subj AS s, s.obj AS o, a.obj AS z
  FROM (SELECT subj, obj FROM kg WHERE pred = 'scan') s
  LEFT JOIN (SELECT subj, obj FROM kg WHERE pred = 'agg') a ON s.subj = a.subj
)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT o AS subj, 'scanned_by' AS pred, s AS obj FROM base
  UNION ALL SELECT s AS subj, 'touches' AS pred, o AS obj FROM base
  UNION ALL
  SELECT s AS subj, 'aggregates' AS pred, z AS obj FROM base WHERE z IS NOT NULL
) ORDER BY subj, pred, obj
"""


# --------------------------------------------------------------------------
# RDF interchange (recon_spark/rdf.py): N-Triples / N-Quads, the format
# Web Data Commons ships its Common-Crawl KG in. Three angles:
#   - rdf_ntriples_roundtrip — the canonical KG through the distributed
#     .nt sink and back; parse(serialize(kg)) == kg proves the format
#     leg lossless on real data (the loaders.py to_disk/from_disk
#     contract in KG-native form).
#   - rdf_nquads_provenance — per-page quads with the source URL as the
#     4th term (the WDC layout); the graph term survives the file trip.
#   - rdf_escape_gauntlet — adversarial strings (quotes, backslashes,
#     newlines, tabs, %, angle brackets, non-ASCII). The oracle never
#     runs the serializer: it constructs input AND expected line from
#     the same clean hex token, writing the escaped bytes out literally
#     (spec knowledge, not code replay) — any escape-order or
#     double-encode bug hash-fails.
# --------------------------------------------------------------------------

_RDF_STAGING: dict[tuple[str, str], str] = {}


def _stage_rdf(spark: SparkSession, sf_dir: str, kind: str, df: DataFrame) -> str:
    """Write `df.line` once per (sf_dir, kind) through the distributed
    text sink; later calls reuse the shards (same memoization pattern
    as the WARC staging in queries/pipeline.py)."""
    import atexit
    import os
    import shutil
    import tempfile

    from recon_spark.rdf import write_ntriples

    key = (os.path.abspath(sf_dir), kind)
    if key not in _RDF_STAGING:
        out = tempfile.mkdtemp(prefix=f"recon_rdf_{kind}_")
        atexit.register(shutil.rmtree, out, ignore_errors=True)
        write_ntriples(df, out)
        _RDF_STAGING[key] = out
    return _RDF_STAGING[key]


def q_rdf_ntriples_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical KG -> N-Triples shards -> parse -> local names. The
    result equals the canonical triple set iff serialize/write/read/
    parse is the identity; the whole chain is JVM-side (concat/replace
    escaping, one anchored regex) with Spark's text writer as the sink
    — map-only both directions, no Python, no shuffle until the final
    orderBy."""
    from recon_spark.queries.core import canonical_triple_counts
    from recon_spark.rdf import ENT, PRED, local_name, read_ntriples, serialize_triples

    kg = canonical_triple_counts(
        spark, extract_triples_tokens(_docs(spark, sf_dir))
    ).select("subj", "pred", "obj")
    out = _stage_rdf(spark, sf_dir, "nt", serialize_triples(kg))
    parsed = read_ntriples(spark, out)
    return parsed.select(
        local_name("subj", ENT).alias("subj"),
        local_name("pred", PRED).alias("pred"),
        F.col("obj_lit").alias("obj"),
    ).orderBy("subj", "pred", "obj")


SQL_RDF_NTRIPLES_ROUNDTRIP = f"""
WITH {_sql_canonical_kg()}
SELECT subj, pred, obj FROM kg ORDER BY subj, pred, obj
"""


def q_rdf_nquads_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page raw triples serialized as N-Quads with the page URL as
    the graph term (Web Data Commons' distribution layout), through the
    file sink and back, then rolled up per graph. Proves the 4th term
    carries provenance losslessly — the property a 10^12-page corpus
    relies on to trace any fact back to its crawl record."""
    from recon_spark.rdf import read_ntriples, serialize_triples

    t = extract_triples_tokens(_docs(spark, sf_dir)).withColumn(
        "url", F.concat(F.lit("https://ex.org/d/"), F.col("doc_id"))
    )
    out = _stage_rdf(spark, sf_dir, "nq", serialize_triples(t, graph="url"))
    parsed = read_ntriples(spark, out)
    return (
        parsed.groupBy(F.col("graph").alias("url"))
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subj").alias("n_subjects"),
            F.countDistinct("pred").alias("n_predicates"),
        )
        .orderBy("url")
    )


def _sql_rdf_nquads_provenance() -> str:
    from recon_spark.queries.core import _sql_triples_base

    # distinct-counting the raw tokens equals distinct-counting the
    # serialized IRIs: the namespace prefix is constant and the percent
    # encoding is injective.
    return f"""
WITH {_sql_triples_base()}
SELECT 'https://ex.org/d/' || CAST(doc_id AS VARCHAR) AS url,
       count(*) AS n_triples,
       count(DISTINCT subj) AS n_subjects,
       count(DISTINCT pred) AS n_predicates
FROM triples GROUP BY doc_id ORDER BY url
"""

_RDF_GAUNTLET_N = 300


def q_rdf_escape_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial serialization: subjects with spaces/%/quotes/angle
    brackets/backslash, literals with raw quote/backslash/newline/tab/
    non-ASCII, plus a lang-tagged and an xsd:long-typed literal — built
    around a clean hex token (md5 prefix) so the oracle can write the
    expected escaped bytes literally. Each line is then parsed straight
    back (no file trip — the file leg is the roundtrip query's job) and
    the decoded terms must equal the constructed inputs."""
    from recon_spark.rdf import (
        ENT,
        XSD_LONG,
        local_name,
        parse_rdf_lines,
        serialize_triples,
        term_iri,
        term_literal,
    )

    d = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < _RDF_GAUNTLET_N)
        .select(
            "doc_id", F.substring(F.md5(F.encode("text", "utf-8")), 1, 12).alias("tok")
        )
    )
    subj_in = F.concat(F.col("tok"), F.lit(' % "x" <s>\\'))
    obj_in = F.concat(
        F.lit('a"b\\c\nline2\t'), F.col("tok"), F.lit(" <t>&é…")
    )
    built = d.select(
        "doc_id",
        subj_in.alias("subj_in"),
        obj_in.alias("obj_in"),
        F.concat(
            term_iri(subj_in, ENT),
            F.lit(" <https://kg.example.org/p/says> "),
            term_literal(obj_in),
            F.lit(" ."),
        ).alias("line_lit"),
        F.concat(
            term_iri(F.col("tok"), ENT),
            F.lit(" <https://kg.example.org/p/count> "),
            term_literal(F.col("doc_id"), datatype=XSD_LONG),
            F.lit(" ."),
        ).alias("line_typed"),
        F.concat(
            term_iri(F.col("tok"), ENT),
            F.lit(" <https://kg.example.org/p/label> "),
            term_literal(F.concat(F.col("tok"), F.lit(" café")), lang="en"),
            F.lit(" ."),
        ).alias("line_lang"),
    )
    # parse the adversarial line straight back (non-value columns pass
    # through the parser, so no re-join is needed)
    parsed = parse_rdf_lines(
        built.withColumn("value", F.col("line_lit")), value="value"
    )
    return parsed.select(
        "doc_id",
        "line_lit",
        "line_typed",
        "line_lang",
        local_name("subj", ENT).alias("subj_back"),
        F.col("obj_lit").alias("obj_back"),
    ).orderBy("doc_id")


# The oracle constructs the SAME inputs from the same hex token, then
# writes the EXPECTED serialized bytes as plain SQL literals (DuckDB
# single-quoted strings are not escape-processed, so a backslash in the
# literal below is exactly one byte on disk): percent-encodes written
# out by hand, ECHARs as their two-character sequences. subj_back /
# obj_back are simply the constructed inputs — the Spark side must
# decode its own encoding back to them exactly.
SQL_RDF_ESCAPE_GAUNTLET = f"""
WITH d AS (
  SELECT doc_id, substr(md5(text), 1, 12) AS tok
  FROM documents WHERE doc_id < {_RDF_GAUNTLET_N}
)
SELECT doc_id,
       '<https://kg.example.org/e/' || tok || '%20%25%20%22x%22%20%3Cs%3E%5C'
         || '> <https://kg.example.org/p/says> "'
         || 'a\\"b\\\\c\\nline2\\t' || tok || ' <t>&é…' || '" .' AS line_lit,
       '<https://kg.example.org/e/' || tok
         || '> <https://kg.example.org/p/count> "' || CAST(doc_id AS VARCHAR)
         || '"^^<http://www.w3.org/2001/XMLSchema#long> .' AS line_typed,
       '<https://kg.example.org/e/' || tok
         || '> <https://kg.example.org/p/label> "' || tok
         || ' café"@en .' AS line_lang,
       tok || ' % "x" <s>\\' AS subj_back,
       'a"b\\c' || chr(10) || 'line2' || chr(9) || tok || ' <t>&é…' AS obj_back
FROM d ORDER BY doc_id
"""


SPARQL_VALUES = (
    'SELECT ?s ?tag ?o WHERE { '
    'VALUES (?p ?tag) { ("scan" "reads") ("agg" "rolls_up") } '
    "?s ?p ?o } ORDER BY ?s ?tag ?o"
)


def q_sparql_values_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES inline bindings: a two-column literal table (predicate ->
    human tag) broadcast-joined against the KG — the ground-entity
    lookup idiom ('here are my ids, fetch facts') that stays a map-side
    hash probe at any graph size."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_VALUES)


SQL_SPARQL_VALUES = f"""
WITH {_sql_canonical_kg()}
SELECT subj AS s,
       CASE pred WHEN 'scan' THEN 'reads' ELSE 'rolls_up' END AS tag,
       obj AS o
FROM kg WHERE pred IN ('scan', 'agg')
ORDER BY s, tag, o
"""


def q_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASK (SPARQL 1.1 §10.3): existence probes compiled to one boolean
    aggregate over the solution frame — here, 'does any entity both
    scan and agg?' (true on this corpus)."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(
        _canonical_kg(spark, sf_dir), "ASK { ?s <scan> ?o . ?s <agg> ?z }"
    )


SQL_SPARQL_ASK = f"""
WITH {_sql_canonical_kg()}
SELECT count(*) > 0 AS ask
FROM (SELECT subj FROM kg WHERE pred = 'scan') a
JOIN (SELECT subj FROM kg WHERE pred = 'agg') b USING (subj)
"""


def q_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE (SPARQL 1.1 §10.4, concise-bound reading): every triple
    two linked entities participate in, as subject or object — the
    entity-card export a KG browser issues."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(
        _canonical_kg(spark, sf_dir), "DESCRIBE <E_SPARK> <E_TABLE>"
    ).orderBy("subj", "pred", "obj")


SQL_SPARQL_DESCRIBE = f"""
WITH {_sql_canonical_kg()}
SELECT DISTINCT subj, pred, obj FROM kg
WHERE subj IN ('E_SPARK', 'E_TABLE') OR obj IN ('E_SPARK', 'E_TABLE')
ORDER BY subj, pred, obj
"""


SPARQL_PLUS = "SELECT ?s ?o WHERE { ?s <join>+ ?o } ORDER BY ?s ?o"


def q_sparql_path_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 property path `<join>+` over the canonical KG: all
    entity pairs connected by one or more join-edges (OneOrMorePath,
    set semantics; cyclic-safe). Both endpoints are unbound, so it
    compiles to the path-doubling distinct closure
    (operators/sparql.py:_plus_frame). The oracle is
    DuckDB's own WITH RECURSIVE engine — a genuinely independent
    fixpoint implementation."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_PLUS)


SQL_SPARQL_PATH_CLOSURE = f"""
WITH RECURSIVE {_sql_canonical_kg()},
e AS (SELECT subj AS s, obj AS o FROM kg WHERE pred = 'join'),
r AS (
  SELECT s, o FROM e
  UNION
  SELECT r.s, e.o FROM r JOIN e ON r.o = e.s
)
SELECT DISTINCT s, o FROM r ORDER BY s, o
"""


SPARQL_GRAPH_CORROBORATION = (
    "SELECT DISTINCT ?s ?o WHERE { GRAPH ?g1 { ?s <scan> ?o } "
    "GRAPH ?g2 { ?s <scan> ?o } FILTER(?g1 != ?g2) } ORDER BY ?s ?o"
)


def q_sparql_graph_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-aware SPARQL over the N-Quads corpus: scan-facts
    corroborated by at least two DIFFERENT source pages (GRAPH patterns
    bind the quad table's graph column; the FILTER crosses the graph
    boundary). The quad table is parsed straight from the staged
    N-Quads shards — the full WDC-style loop: per-page triples ->
    .nq files -> quad frame -> provenance query, everything JVM-side.
    At 10^12 quads this is two pred-pruned scans self-joined on
    (s, o) — the graph column never shuffles alone."""
    from recon_spark.operators.sparql import compile_sparql
    from recon_spark.rdf import ENT, PRED, local_name, read_ntriples, serialize_triples

    t = extract_triples_tokens(_docs(spark, sf_dir)).withColumn(
        "url", F.concat(F.lit("https://ex.org/d/"), F.col("doc_id"))
    )
    out = _stage_rdf(spark, sf_dir, "nq", serialize_triples(t, graph="url"))
    quads = (
        read_ntriples(spark, out)
        .select(
            local_name("subj", ENT).alias("subj"),
            local_name("pred", PRED).alias("pred"),
            F.col("obj_lit").alias("obj"),
            "graph",
        )
        .dropDuplicates()
    )
    return compile_sparql(quads, SPARQL_GRAPH_CORROBORATION)


def _sql_sparql_graph_provenance() -> str:
    from recon_spark.queries.core import _sql_triples_base

    return f"""
WITH {_sql_triples_base()},
q AS (SELECT DISTINCT doc_id, subj, obj FROM triples WHERE pred = 'scan')
SELECT DISTINCT a.subj AS s, a.obj AS o
FROM q a JOIN q b ON a.subj = b.subj AND a.obj = b.obj
                 AND a.doc_id != b.doc_id
ORDER BY s, o
"""


SPARQL_UNION = (
    "SELECT ?s ?o WHERE { { ?s <scan> ?o } UNION { ?s <agg> ?o } } "
    "ORDER BY ?s ?o"
)


def q_sparql_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 §7 alternation: entities reaching ?o by scanning OR
    aggregating — bag semantics (both branches matching produce two
    rows), compiled to a column-aligned unionByName of two pred-pruned
    pattern frames."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_UNION)


SQL_SPARQL_UNION = f"""
WITH {_sql_canonical_kg()}
SELECT subj AS s, obj AS o FROM kg WHERE pred = 'scan'
UNION ALL
SELECT subj AS s, obj AS o FROM kg WHERE pred = 'agg'
ORDER BY s, o
"""


SPARQL_MINUS = (
    "SELECT DISTINCT ?g ?s WHERE { GRAPH ?g { ?s <join> ?o } "
    "MINUS { GRAPH ?g { ?s <filter> ?z } } } ORDER BY ?g ?s"
)


def q_sparql_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 §8.3 exclusion composed with GRAPH provenance:
    (page, subject) pairs that join WITHOUT filtering in the SAME
    page-graph — MINUS compiled to a left-anti join on the shared
    (graph, subject) variables, the exclusion side deduped to a set
    probe. Doc-scoped on purpose: the canonical entity KG saturates to
    a near-complete graph at sf0.1 (bounded entity set), which made a
    whole-KG exclusion return zero rows at bench scale — per-page
    graphs keep the driver row non-trivial at every scale factor."""
    from recon_spark.operators.sparql import compile_sparql

    quads = extract_triples_tokens(_docs(spark, sf_dir)).select(
        "subj", "pred", "obj", F.col("doc_id").alias("graph")
    )
    return compile_sparql(quads, SPARQL_MINUS)


def _sql_sparql_minus() -> str:
    from recon_spark.queries.core import _sql_triples_base

    return f"""
WITH {_sql_triples_base()}
SELECT DISTINCT doc_id AS g, subj AS s FROM triples k
WHERE pred = 'join'
  AND NOT EXISTS (SELECT 1 FROM triples x WHERE x.doc_id = k.doc_id
                  AND x.subj = k.subj AND x.pred = 'filter')
ORDER BY g, s
"""


SQL_SPARQL_MINUS = _sql_sparql_minus()


SPARQL_BIND = (
    'SELECT DISTINCT ?edge WHERE { ?s <merge> ?o . '
    'BIND(CONCAT(?s, "->", ?o) AS ?edge) } ORDER BY ?edge'
)


def q_sparql_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 §10.1 BIND: mint a composite edge key with CONCAT —
    the IRI/key-minting idiom of CONSTRUCT pipelines, compiled to a
    pure projection (withColumn) on the solution frame."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_BIND)


SQL_SPARQL_BIND = f"""
WITH {_sql_canonical_kg()}
SELECT DISTINCT subj || '->' || obj AS edge FROM kg WHERE pred = 'merge'
ORDER BY edge
"""


SPARQL_SEQ_PATH = (
    "SELECT DISTINCT ?s ?o WHERE { ?s <scan>/<group> ?o } ORDER BY ?s ?o"
)


def q_sparql_seq_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 §9.1 SequencePath: entities whose scan target itself
    groups something — a two-hop typed traversal in ONE pattern,
    compiled to a chain of pred-pruned scans joined through anonymous
    hop columns (Catalyst reorders/broadcasts them like any join
    tree)."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_SEQ_PATH)


SQL_SPARQL_SEQ_PATH = f"""
WITH {_sql_canonical_kg()}
SELECT DISTINCT a.subj AS s, b.obj AS o
FROM kg a JOIN kg b ON a.obj = b.subj
WHERE a.pred = 'scan' AND b.pred = 'group'
ORDER BY s, o
"""


SPARQL_ALT_PATH = (
    "SELECT DISTINCT ?s ?o WHERE { ?s <sort>|<group> ?o } ORDER BY ?s ?o"
)


def q_sparql_alt_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 §9.1 AlternativePath: edges reachable by either
    predicate, as one pattern (bag union of the branch scans; DISTINCT
    here for a set result)."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_ALT_PATH)


SQL_SPARQL_ALT_PATH = f"""
WITH {_sql_canonical_kg()}
SELECT DISTINCT subj AS s, obj AS o FROM kg
WHERE pred IN ('sort', 'group')
ORDER BY s, o
"""


SPARQL_EXISTS = (
    "SELECT DISTINCT ?s WHERE { ?s <agg> ?o . "
    "FILTER EXISTS { ?s <group> ?z } } ORDER BY ?s"
)


def q_sparql_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 §8.1.1 FILTER EXISTS: aggregating entities that also
    group — compiled to a left-semi join on the shared variable (the
    probe side deduped)."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_EXISTS)


SQL_SPARQL_EXISTS = f"""
WITH {_sql_canonical_kg()}
SELECT DISTINCT subj AS s FROM kg k
WHERE pred = 'agg'
  AND EXISTS (SELECT 1 FROM kg x WHERE x.subj = k.subj AND x.pred = 'group')
ORDER BY s
"""


SPARQL_NOT_EXISTS = (
    "SELECT DISTINCT ?g ?s WHERE { GRAPH ?g { ?s <sort> ?o } "
    "FILTER NOT EXISTS { GRAPH ?g { ?s <merge> ?z } } } ORDER BY ?g ?s"
)


def q_sparql_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER NOT EXISTS composed with GRAPH provenance: (page,
    subject) pairs sorting without merging in the SAME page-graph —
    a left-anti join on (graph, subj); doc-scoped for the same
    saturation reason as sparql_minus."""
    from recon_spark.operators.sparql import compile_sparql

    quads = extract_triples_tokens(_docs(spark, sf_dir)).select(
        "subj", "pred", "obj", F.col("doc_id").alias("graph")
    )
    return compile_sparql(quads, SPARQL_NOT_EXISTS)


def _sql_sparql_not_exists() -> str:
    from recon_spark.queries.core import _sql_triples_base

    return f"""
WITH {_sql_triples_base()}
SELECT DISTINCT doc_id AS g, subj AS s FROM triples k
WHERE pred = 'sort'
  AND NOT EXISTS (SELECT 1 FROM triples x WHERE x.doc_id = k.doc_id
                  AND x.subj = k.subj AND x.pred = 'merge')
ORDER BY g, s
"""


SPARQL_INVERSE_PATH = (
    "SELECT DISTINCT ?s ?t WHERE { ?s <scan>/^<scan> ?t . FILTER(?s != ?t) } "
    "ORDER BY ?s ?t LIMIT 50 OFFSET 10"
)


def q_sparql_inverse_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 §9.1 InversePath inside a sequence: the co-scanner
    idiom `<scan>/^<scan>` (entities scanning a common target) — the
    inverse hop compiles to the same pred-pruned scan with its
    endpoints swapped, so the pair is one self-join on the shared
    object. Also exercises the LIMIT/OFFSET slice (§15.4-5, applied
    offset-first over the ordered solutions)."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_INVERSE_PATH)


SQL_SPARQL_INVERSE_PATH = f"""
WITH {_sql_canonical_kg()}
SELECT DISTINCT a.subj AS s, b.subj AS t
FROM kg a JOIN kg b ON a.obj = b.obj
WHERE a.pred = 'scan' AND b.pred = 'scan' AND a.subj != b.subj
ORDER BY s, t LIMIT 50 OFFSET 10
"""


SPARQL_ZERO_OR_MORE = (
    "SELECT DISTINCT ?s ?o WHERE { ?s <merge>* ?o } ORDER BY ?s ?o"
)


def q_sparql_zero_or_more(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 §9.1 ZeroOrMorePath: the `+` closure UNION the
    zero-length identity over the graph's terms (W3C §9.3 semantics —
    every term connects to itself, so scan-only entities appear as
    (x, x) rows alongside the merge-reachability pairs)."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_ZERO_OR_MORE)


SQL_SPARQL_ZERO_OR_MORE = f"""
WITH RECURSIVE {_sql_canonical_kg()},
e AS (SELECT subj AS s, obj AS o FROM kg WHERE pred = 'merge'),
r AS (
  SELECT s, o FROM e
  UNION
  SELECT r.s, e.o FROM r JOIN e ON r.o = e.s
),
terms AS (SELECT subj AS n FROM kg UNION SELECT obj FROM kg)
SELECT DISTINCT s, o FROM (
  SELECT s, o FROM r
  UNION ALL
  SELECT n AS s, n AS o FROM terms
) ORDER BY s, o
"""


SPARQL_SUM_AVG = (
    "SELECT ?s (COUNT(?v) AS ?n) (SUM(?v) AS ?total) (AVG(?v) AS ?mean) "
    "WHERE { ?d <n_chars> ?v . ?d <source> ?s } GROUP BY ?s ORDER BY ?s"
)


def q_sparql_sum_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM/AVG aggregates over numeric RDF literals: documents exposed
    as a literal-valued KG (doc --n_chars--> "1234", doc --source-->
    src) and rolled up per source entirely inside the SPARQL engine —
    the numeric try_cast skips non-numeric terms per the lenient
    §18.5 reading."""
    from recon_spark.operators.sparql import compile_sparql

    docs = _docs(spark, sf_dir)
    d = F.concat(F.lit("D"), F.col("doc_id").cast("string"))
    lit_kg = docs.select(
        d.alias("subj"), F.lit("n_chars").alias("pred"),
        F.col("n_chars").cast("string").alias("obj"),
    ).unionByName(
        docs.select(
            d.alias("subj"), F.lit("source").alias("pred"),
            F.col("source").alias("obj"),
        )
    )
    return compile_sparql(lit_kg, SPARQL_SUM_AVG)


SQL_SPARQL_SUM_AVG = """
SELECT source AS s, CAST(count(*) AS BIGINT) AS n,
       round(sum(CAST(n_chars AS DOUBLE)), 6) AS total,
       round(avg(CAST(n_chars AS DOUBLE)), 6) AS mean
FROM documents GROUP BY 1 ORDER BY s
"""


SPARQL_SUBQUERY = (
    "SELECT DISTINCT ?s ?n WHERE { ?s <sort> ?z . "
    "{ SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <scan> ?o } "
    "GROUP BY ?s ORDER BY DESC(?n) ?s LIMIT 3 } } ORDER BY ?s"
)


def q_sparql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 §12 subquery: the aggregate-then-join idiom — the
    top-3 scanners (per-group rollup with a deterministic ORDER BY
    DESC(?n) ?s LIMIT 3 inside the subquery) joined back to the outer
    pattern requiring they also sort. Evaluated bottom-up, joined on
    the shared projected variable."""
    from recon_spark.operators.sparql import compile_sparql

    return compile_sparql(_canonical_kg(spark, sf_dir), SPARQL_SUBQUERY)


SQL_SPARQL_SUBQUERY = f"""
WITH {_sql_canonical_kg()},
topk AS (
  SELECT subj AS s, CAST(count(*) AS BIGINT) AS n
  FROM kg WHERE pred = 'scan' GROUP BY 1
  ORDER BY n DESC, s LIMIT 3
)
SELECT DISTINCT t.s, t.n FROM topk t
WHERE EXISTS (SELECT 1 FROM kg k WHERE k.subj = t.s AND k.pred = 'sort')
ORDER BY s
"""


QUERIES = {
    "sparql_subquery": q_sparql_subquery,
    "sparql_sum_avg": q_sparql_sum_avg,
    "sparql_zero_or_more": q_sparql_zero_or_more,
    "sparql_inverse_path": q_sparql_inverse_path,
    "sparql_exists": q_sparql_exists,
    "sparql_not_exists": q_sparql_not_exists,
    "sparql_seq_path": q_sparql_seq_path,
    "sparql_alt_path": q_sparql_alt_path,
    "sparql_union": q_sparql_union,
    "sparql_minus": q_sparql_minus,
    "sparql_bind": q_sparql_bind,
    "sparql_construct": q_sparql_construct,
    "sparql_graph_provenance": q_sparql_graph_provenance,
    "sparql_path_closure": q_sparql_path_closure,
    "sparql_values_lookup": q_sparql_values_lookup,
    "sparql_ask": q_sparql_ask,
    "sparql_describe": q_sparql_describe,
    "rdf_ntriples_roundtrip": q_rdf_ntriples_roundtrip,
    "rdf_nquads_provenance": q_rdf_nquads_provenance,
    "rdf_escape_gauntlet": q_rdf_escape_gauntlet,
    "sparql_star": q_sparql_star,
    "sparql_path": q_sparql_path,
    "sparql_optional_agg": q_sparql_optional_agg,
    "entity_pagerank": q_entity_pagerank,
    "kg_random_walks": q_kg_random_walks,
    "kg_kcore": q_kg_kcore,
    "kg_predicate_stats": q_kg_predicate_stats,
    "facts_history": q_facts_history,
    "kg_negative_samples": q_kg_negative_samples,
    "entity_degrees": q_entity_degrees,
    "repetition_metrics": q_repetition_metrics,
    "pii_redact": q_pii_redact,
    "entity_cooccurrence": q_entity_cooccurrence,
    "kg_two_hop": q_kg_two_hop,
    "facts_current": q_facts_current,
    "boilerplate_ngrams": q_boilerplate_ngrams,
    "fuzzy_aliases": q_fuzzy_aliases,
    "entity_resolution": q_entity_resolution,
    "kg_conflicts": q_kg_conflicts,
    "kg_triangles": q_kg_triangles,
    "kg_snapshot_diff": q_kg_snapshot_diff,
    "kg_merge_candidates": q_kg_merge_candidates,
}

ORACLES = {
    "sparql_subquery": SQL_SPARQL_SUBQUERY,
    "sparql_sum_avg": SQL_SPARQL_SUM_AVG,
    "sparql_zero_or_more": SQL_SPARQL_ZERO_OR_MORE,
    "sparql_inverse_path": SQL_SPARQL_INVERSE_PATH,
    "sparql_exists": SQL_SPARQL_EXISTS,
    "sparql_not_exists": _sql_sparql_not_exists(),
    "sparql_seq_path": SQL_SPARQL_SEQ_PATH,
    "sparql_alt_path": SQL_SPARQL_ALT_PATH,
    "sparql_union": SQL_SPARQL_UNION,
    "sparql_minus": SQL_SPARQL_MINUS,
    "sparql_bind": SQL_SPARQL_BIND,
    "sparql_construct": SQL_SPARQL_CONSTRUCT,
    "sparql_graph_provenance": _sql_sparql_graph_provenance(),
    "sparql_path_closure": SQL_SPARQL_PATH_CLOSURE,
    "sparql_values_lookup": SQL_SPARQL_VALUES,
    "sparql_ask": SQL_SPARQL_ASK,
    "sparql_describe": SQL_SPARQL_DESCRIBE,
    "rdf_ntriples_roundtrip": SQL_RDF_NTRIPLES_ROUNDTRIP,
    "rdf_nquads_provenance": _sql_rdf_nquads_provenance(),
    "rdf_escape_gauntlet": SQL_RDF_ESCAPE_GAUNTLET,
    "sparql_star": SQL_SPARQL_STAR,
    "sparql_path": SQL_SPARQL_PATH,
    "sparql_optional_agg": SQL_SPARQL_OPTIONAL_AGG,
    "entity_pagerank": SQL_ENTITY_PAGERANK,
    "kg_random_walks": _sql_kg_random_walks(),
    "kg_kcore": _sql_kg_kcore(),
    "facts_history": _sql_facts_history(),
    "kg_negative_samples": _sql_kg_negative_samples(),
    "kg_predicate_stats": _sql_kg_predicate_stats(),
    "entity_degrees": SQL_ENTITY_DEGREES,
    "repetition_metrics": SQL_REPETITION_METRICS,
    "pii_redact": SQL_PII_REDACT,
    "entity_cooccurrence": SQL_ENTITY_COOCCURRENCE,
    "kg_two_hop": SQL_KG_TWO_HOP,
    "facts_current": SQL_FACTS_CURRENT,
    "boilerplate_ngrams": SQL_BOILERPLATE_NGRAMS,
    "fuzzy_aliases": SQL_FUZZY_ALIASES,
    "entity_resolution": _sql_entity_resolution(),
    "kg_conflicts": _sql_kg_conflicts(),
    "kg_triangles": _sql_kg_triangles(),
    "kg_snapshot_diff": _sql_kg_snapshot_diff(),
    "kg_merge_candidates": _sql_kg_merge_candidates(),
}
