"""Core query registry: the Recon capability surface over `documents`.

Each query has a Spark implementation (built from recon_spark.operators)
and a DuckDB oracle (ANSI SQL over the same parquet, with the gazetteer
rules generated from the same Python dicts). Column names and rounding
are aligned on both sides; integer aggregates in oracles are cast to
BIGINT (DuckDB sum() yields HUGEINT otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recon_spark.gazetteer import (
    DEFAULT_CORRECTIONS,
    GAZ_AMBIG,
    GAZ_FIXED,
    MODEL_AMBIG,
    MODEL_FIXED,
    MODEL_PATTERN,
    PREDICATES,
    sql_alias_values,
    sql_mentions_cte,
    sql_mentions_pos_cte,
)
from recon_spark.operators import insights as I
from recon_spark.operators import stats as S
from recon_spark.operators.corrections import fix_annotations, rename_labels, upcase_labels
from recon_spark.operators.extraction import (
    detect_mentions,
    detect_mentions_both,
    entity_unigrams,
    extract_triples_tokens,
    mentions_long,
)
from recon_spark.operators.linker import alias_df, link_mentions, to_entity, top_aliases


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # url/doc-id hash bucketing at the read boundary (the driver's parquet
    # is one file = one input split; extraction is per-row CPU-bound)
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


def _mentions(spark: SparkSession, sf_dir: str, which: str = "gold") -> DataFrame:
    from recon_spark.operators.extraction import detect_mentions_long

    return detect_mentions_long(_docs(spark, sf_dir), which=which)


# --------------------------------------------------------------------------
# Stats family
# --------------------------------------------------------------------------

def q_ner_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.ner_stats(detect_mentions(_docs(spark, sf_dir)))


SQL_NER_STATS = f"""
WITH {sql_mentions_cte()}
SELECT
  (SELECT count(*) FROM documents) AS n_examples,
  (SELECT count(*) FROM documents d
     WHERE NOT EXISTS (SELECT 1 FROM mentions m WHERE m.doc_id = d.doc_id))
    AS n_examples_no_entities,
  (SELECT count(*) FROM mentions) AS n_annotations
"""


def q_label_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.label_counts(_mentions(spark, sf_dir))


SQL_LABEL_COUNTS = f"""
WITH {sql_mentions_cte()}
SELECT label, count(*) AS n FROM mentions GROUP BY label ORDER BY n DESC, label
"""


def q_sorted_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = detect_mentions(_docs(spark, sf_dir))
    return S.sorted_type_counts(mentions_long(d), d)


SQL_SORTED_TYPE_COUNTS = f"""
WITH {sql_mentions_cte()}
SELECT label, count(*) AS n FROM mentions GROUP BY label
UNION ALL
SELECT 'NOT_LABELED' AS label,
       (SELECT count(*) FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM mentions m WHERE m.doc_id = d.doc_id)) AS n
ORDER BY label
"""


def q_entity_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.entity_coverage(_mentions(spark, sf_dir), salted=True)


SQL_ENTITY_COVERAGE = f"""
WITH {sql_mentions_cte()}
SELECT lower(surface) AS surface, label, count(*) AS count
FROM mentions GROUP BY 1, 2 ORDER BY count DESC, surface, label
"""


def q_entity_coverage_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.entity_coverage(_mentions(spark, sf_dir), salted=True).limit(10)


SQL_ENTITY_COVERAGE_TOP10 = SQL_ENTITY_COVERAGE + " LIMIT 10"


def q_label_balance_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.label_balance_entropy(_mentions(spark, sf_dir))


SQL_LABEL_BALANCE_ENTROPY = f"""
WITH {sql_mentions_cte()},
counts AS (SELECT label, CAST(count(*) AS DOUBLE) AS c FROM mentions GROUP BY label)
SELECT round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy FROM counts
"""


def q_entity_coverage_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.entity_coverage_entropy(_mentions(spark, sf_dir))


SQL_ENTITY_COVERAGE_ENTROPY = f"""
WITH {sql_mentions_cte()},
cov AS (SELECT lower(surface) AS surface, label, CAST(count(*) AS DOUBLE) AS c
        FROM mentions GROUP BY 1, 2)
SELECT round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy FROM cov
"""


def q_label_distribution_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS similarity of label distributions: lang='en' docs vs the rest
    (the Corpus train-vs-dev analog)."""
    docs = _docs(spark, sf_dir)
    dx = detect_mentions(docs.where(F.col("lang") == "en"))
    dy = detect_mentions(docs.where(F.col("lang") != "en"))
    return S.label_distribution_similarity(mentions_long(dx), dx, mentions_long(dy), dy)


def _sql_split_counts(filt: str, name: str) -> str:
    return f"""
{name}_docs AS (SELECT * FROM documents WHERE {filt}),
{name}_m AS (
    SELECT doc_id, surface, label FROM mentions
    WHERE doc_id IN (SELECT doc_id FROM {name}_docs)
),
{name}_counts AS (
    SELECT label, CAST(count(*) AS DOUBLE) AS c FROM {name}_m GROUP BY label
    UNION ALL
    SELECT 'NOT_LABELED', CAST((SELECT count(*) FROM {name}_docs d
      WHERE NOT EXISTS (SELECT 1 FROM {name}_m m WHERE m.doc_id = d.doc_id)) AS DOUBLE)
)"""


SQL_LABEL_DISTRIBUTION_SIMILARITY = f"""
WITH {sql_mentions_cte()},
{_sql_split_counts("lang = 'en'", 'x')},
{_sql_split_counts("lang <> 'en'", 'y')},
j AS (
  SELECT coalesce(x.c, 0) AS cx, coalesce(y.c, 0) AS cy
  FROM x_counts x FULL OUTER JOIN y_counts y ON x.label = y.label
),
t AS (SELECT sum(cx) AS tx, sum(cy) AS ty FROM j)
SELECT round(100.0 * (1.0 - sqrt(
    0.5 * sum(CASE WHEN cx > 0 THEN (cx/tx) * ln((cx/tx) / ((cx/tx + cy/ty)/2)) ELSE 0 END)
  + 0.5 * sum(CASE WHEN cy > 0 THEN (cy/ty) * ln((cy/ty) / ((cx/tx + cy/ty)/2)) ELSE 0 END)
)), 6) AS similarity
FROM j, t
"""


def q_entity_coverage_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    mx = mentions_long(detect_mentions(docs.where(F.col("lang") == "en")))
    my = mentions_long(detect_mentions(docs.where(F.col("lang") != "en")))
    return S.entity_coverage_similarity(mx, my)


SQL_ENTITY_COVERAGE_SIMILARITY = f"""
WITH {sql_mentions_cte()},
x_cov AS (SELECT DISTINCT lower(surface) AS surface, label FROM mentions
          WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')),
y_cov AS (SELECT lower(surface) AS surface, label, count(*) AS count FROM mentions
          WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang <> 'en')
          GROUP BY 1, 2),
j AS (SELECT y.count, (x.surface IS NOT NULL) AS in_x
      FROM y_cov y LEFT JOIN x_cov x USING (surface, label))
SELECT
  round(100.0 * sum(CASE WHEN in_x THEN 1.0 ELSE 0.0 END) / count(*), 6) AS entity,
  round(100.0 * sum(CASE WHEN in_x THEN count ELSE 0 END) / sum(count), 6)
    AS count_weighted
FROM j
"""


def q_outliers_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.detect_outliers(_docs(spark, sf_dir), "n_chars")


SQL_OUTLIERS_NCHARS = """
WITH q AS (
  SELECT floor(quantile_cont(n_chars, 0.25)
               - 1.5 * (quantile_cont(n_chars, 0.75) - quantile_cont(n_chars, 0.25))) AS lo,
         floor(quantile_cont(n_chars, 0.75)
               + 1.5 * (quantile_cont(n_chars, 0.75) - quantile_cont(n_chars, 0.25))) AS hi
  FROM documents
)
SELECT doc_id, n_chars AS value,
       CASE WHEN n_chars <= lo THEN 'low' ELSE 'high' END AS side
FROM documents, q
WHERE n_chars <= lo OR n_chars > hi
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Insights family
# --------------------------------------------------------------------------

def q_label_disparities(spark: SparkSession, sf_dir: str) -> DataFrame:
    return I.label_disparities(_mentions(spark, sf_dir), "PERSON", "ORG")


SQL_LABEL_DISPARITIES = f"""
WITH {sql_mentions_cte()}
SELECT surface FROM (
  SELECT DISTINCT lower(surface) AS surface FROM mentions WHERE label = 'PERSON'
  INTERSECT
  SELECT DISTINCT lower(surface) AS surface FROM mentions WHERE label = 'ORG'
) ORDER BY surface
"""


def q_top_label_disparities(spark: SparkSession, sf_dir: str) -> DataFrame:
    return I.top_label_disparities(_mentions(spark, sf_dir))


SQL_TOP_LABEL_DISPARITIES = f"""
WITH {sql_mentions_cte()},
pairs AS (SELECT DISTINCT lower(surface) AS surface, label FROM mentions)
SELECT a.label AS label1, b.label AS label2, count(*) AS count
FROM pairs a JOIN pairs b ON a.surface = b.surface AND a.label <> b.label
GROUP BY 1, 2 ORDER BY count DESC, label1, label2
"""


def q_annotation_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return I.annotation_labels(_mentions(spark, sf_dir))


SQL_ANNOTATION_LABELS = f"""
WITH {sql_mentions_cte()}
SELECT lower(surface) AS surface, label, count(*) AS count
FROM mentions GROUP BY 1, 2 ORDER BY surface, count DESC, label
"""


def q_most_common_label_corrections(spark: SparkSession, sf_dir: str) -> DataFrame:
    return I.most_common_label_corrections(_mentions(spark, sf_dir))


SQL_MOST_COMMON_LABEL_CORRECTIONS = f"""
WITH {sql_mentions_cte()},
counts AS (SELECT lower(surface) AS surface, label, count(*) AS count
           FROM mentions GROUP BY 1, 2),
ranked AS (
  SELECT surface, label, count,
         row_number() OVER (PARTITION BY surface ORDER BY count DESC, label) AS rk,
         count(*) OVER (PARTITION BY surface) AS n_labels
  FROM counts
)
SELECT surface AS annotation, label AS to_label, count AS support
FROM ranked WHERE rk = 1 AND n_labels > 1 ORDER BY annotation
"""


def q_prediction_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gold and pred arrays co-located on one row: zero-shuffle error
    # classification
    docs = _docs(spark, sf_dir)
    both = detect_mentions_both(docs)  # fused single Arrow pass
    return I.prediction_errors_colocated(both)


SQL_PREDICTION_ERRORS = f"""
WITH {sql_mentions_pos_cte(name='gold')},
{sql_mentions_pos_cte(name='pred', fixed=MODEL_FIXED, ambig=MODEL_AMBIG)},
j AS (
  SELECT coalesce(g.surface, p.surface) AS text,
         g.label AS gold_label, p.label AS pred_label
  FROM gold g FULL OUTER JOIN pred p
    ON g.doc_id = p.doc_id AND g.pos = p.pos AND g.nwords = p.nwords
)
SELECT text,
       coalesce(gold_label, 'NOT_LABELED') AS true_label,
       coalesce(pred_label, 'NOT_LABELED') AS pred_label,
       count(*) AS n
FROM j
WHERE gold_label IS NULL OR pred_label IS NULL OR gold_label <> pred_label
GROUP BY 1, 2, 3 ORDER BY n DESC, text, true_label, pred_label
"""


def q_hardest_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    both = detect_mentions_both(docs)  # fused single Arrow pass
    return I.hardest_examples_colocated(both)


SQL_HARDEST_EXAMPLES = f"""
WITH {sql_mentions_pos_cte(name='gold')},
{sql_mentions_pos_cte(name='pred', fixed=MODEL_FIXED, ambig=MODEL_AMBIG)},
j AS (
  SELECT coalesce(g.doc_id, p.doc_id) AS doc_id,
         g.label AS gold_label, p.label AS pred_label
  FROM gold g FULL OUTER JOIN pred p
    ON g.doc_id = p.doc_id AND g.pos = p.pos AND g.nwords = p.nwords
),
per_doc0 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN gold_label = pred_label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN pred_label IS NOT NULL
                        AND (gold_label IS NULL OR gold_label <> pred_label)
                   THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN gold_label IS NOT NULL
                        AND (pred_label IS NULL OR gold_label <> pred_label)
                   THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         max(CASE WHEN gold_label IS NOT NULL THEN 1 ELSE 0 END) AS has_gold,
         max(CASE WHEN pred_label IS NOT NULL THEN 1 ELSE 0 END) AS has_pred
  FROM j GROUP BY doc_id
),
per_doc AS (
  SELECT d.doc_id,
         coalesce(tp, 0) AS tp, coalesce(fp, 0) AS fp, coalesce(fn, 0) AS fn,
         coalesce(has_gold, 0) AS has_gold, coalesce(has_pred, 0) AS has_pred
  FROM documents d LEFT JOIN per_doc0 USING (doc_id)
),
scored AS (
  SELECT doc_id, CAST(fp + fn AS BIGINT) AS count,
         CASE WHEN has_gold = 1 AND has_pred = 1
              THEN CASE WHEN (2*tp + fp + fn) > 0
                        THEN 2.0 * tp / (2*tp + fp + fn) ELSE 0.0 END
              ELSE 1.0 END AS fscore
  FROM per_doc
),
g AS (SELECT max(count) AS max_count FROM scored),
adj AS (
  SELECT doc_id, count,
         fscore - count / (CASE WHEN max_count > 0 THEN max_count ELSE 1 END)
           AS raw_score
  FROM scored, g
),
rng AS (SELECT min(raw_score) AS lo, max(raw_score) AS hi FROM adj)
SELECT doc_id, count,
       round(CASE WHEN hi > lo THEN (raw_score - lo) / (hi - lo) ELSE 0.0 END, 6)
         AS score
FROM adj, rng ORDER BY score, count, doc_id
"""


# --------------------------------------------------------------------------
# Corrections family
# --------------------------------------------------------------------------

def q_fix_annotations_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = detect_mentions(_docs(spark, sf_dir))
    fixed = fix_annotations(d, DEFAULT_CORRECTIONS)
    return S.entity_coverage(mentions_long(fixed))


def _sql_corrections_transform() -> tuple[str, str]:
    """(WHERE predicate to drop, CASE label rewrite) mirroring
    fix_annotations over the long mentions relation."""
    drops = []
    case_parts = []
    for ann, froms, to in DEFAULT_CORRECTIONS:
        from_ok = (
            "TRUE"
            if "ANY" in froms
            else "label IN (" + ", ".join(f"'{f}'" for f in froms) + ")"
        )
        cond = f"(lower(surface) = '{ann.lower()}' AND {from_ok})"
        if to is None:
            drops.append(cond)
        else:
            case_parts.append(f"WHEN {cond} THEN '{to}'")
    where = "NOT (" + " OR ".join(drops) + ")" if drops else "TRUE"
    label = "CASE " + " ".join(case_parts) + " ELSE label END" if case_parts else "label"
    return where, label


_FIX_WHERE, _FIX_LABEL = _sql_corrections_transform()

SQL_FIX_ANNOTATIONS_COVERAGE = f"""
WITH {sql_mentions_cte()},
fixed AS (
  SELECT doc_id, surface, {_FIX_LABEL} AS label
  FROM mentions WHERE {_FIX_WHERE}
)
SELECT lower(surface) AS surface, label, count(*) AS count
FROM fixed GROUP BY 1, 2 ORDER BY count DESC, surface, label
"""


def q_upcase_rename_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = detect_mentions(_docs(spark, sf_dir))
    d = upcase_labels(d)  # labels already upper; proves idempotence
    d = rename_labels(d, {"DB": "DATABASE", "WORKLOAD": "QUERY_KIND"})
    return S.label_counts(mentions_long(d))


SQL_UPCASE_RENAME_COUNTS = f"""
WITH {sql_mentions_cte()}
SELECT CASE upper(label) WHEN 'DB' THEN 'DATABASE'
                         WHEN 'WORKLOAD' THEN 'QUERY_KIND'
                         ELSE upper(label) END AS label,
       count(*) AS n
FROM mentions GROUP BY 1 ORDER BY n DESC, label
"""


# --------------------------------------------------------------------------
# Linking + triples family
# --------------------------------------------------------------------------

def q_linked_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _mentions(spark, sf_dir)
    linked = link_mentions(m, alias_df(spark))
    return (
        linked.groupBy(F.coalesce("entity_id", F.lit("NIL")).alias("entity_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "entity_id")
    )


SQL_LINKED_ENTITIES = f"""
WITH {sql_mentions_cte()},
best AS (
  SELECT alias, entity_id FROM (
    SELECT alias, entity_id,
           row_number() OVER (PARTITION BY alias ORDER BY score DESC, entity_id) AS rk
    FROM {sql_alias_values()}
  ) WHERE rk = 1
)
SELECT coalesce(b.entity_id, 'NIL') AS entity_id, count(*) AS n
FROM mentions m LEFT JOIN best b ON m.surface = b.alias
GROUP BY 1 ORDER BY n DESC, entity_id
"""


def q_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_triples_tokens(_docs(spark, sf_dir)).orderBy("doc_id", "pos")


def _sql_triples_base() -> str:
    uni = ", ".join(f"'{s}'" for s in entity_unigrams())
    pr = ", ".join(f"'{s}'" for s in PREDICATES)
    return f"""
tt AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
tok3 AS (SELECT doc_id, unnest(words) AS w,
                unnest(generate_series(1, len(words))) AS pos FROM tt),
triples AS (
  SELECT a.doc_id, a.w AS subj, b.w AS pred, c.w AS obj,
         CAST(a.pos - 1 AS INT) AS pos
  FROM tok3 a
  JOIN tok3 b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN tok3 c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
  WHERE a.w IN ({uni}) AND b.w IN ({pr}) AND c.w IN ({uni})
)"""


SQL_TRIPLES = f"""
WITH {_sql_triples_base()}
SELECT doc_id, subj, pred, obj, pos FROM triples ORDER BY doc_id, pos
"""


def canonical_triple_counts(spark: SparkSession, t: DataFrame) -> DataFrame:
    """Canonicalize raw (subj, pred, obj) triples through the top-1
    alias candidate (operators.linker: broadcast joins; unlinkable
    surfaces keep their surface form) and aggregate to
    (subj, pred, obj, n) — the KG materialization shape. Shared by the
    direct-text and WARC-ingest paths."""
    best = top_aliases(alias_df(spark))
    return (
        to_entity(to_entity(t, "subj", best), "obj", best)
        .groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "subj", "pred", "obj")
    )


def q_triples_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triples with subj/obj canonicalized through the alias dictionary
    (unlinkable surfaces keep their surface form), aggregated to
    (subj, pred, obj, n) — the KG materialization shape."""
    return canonical_triple_counts(
        spark, extract_triples_tokens(_docs(spark, sf_dir))
    )


SQL_TRIPLES_CANONICAL = f"""
WITH {_sql_triples_base()},
best AS (
  SELECT alias, entity_id FROM (
    SELECT alias, entity_id,
           row_number() OVER (PARTITION BY alias ORDER BY score DESC, entity_id) AS rk
    FROM {sql_alias_values()}
  ) WHERE rk = 1
)
SELECT coalesce(bs.entity_id, t.subj) AS subj, t.pred,
       coalesce(bo.entity_id, t.obj) AS obj, count(*) AS n
FROM triples t
LEFT JOIN best bs ON t.subj = bs.alias
LEFT JOIN best bo ON t.obj = bo.alias
GROUP BY 1, 2, 3 ORDER BY n DESC, subj, pred, obj
"""


def q_recognizer_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.scorer import evaluate_recognizer

    both = detect_mentions_both(_docs(spark, sf_dir))  # fused single Arrow pass
    return evaluate_recognizer(both)


SQL_RECOGNIZER_SCORES = f"""
WITH {sql_mentions_pos_cte(name='gold')},
{sql_mentions_pos_cte(name='pred', fixed=MODEL_FIXED, ambig=MODEL_AMBIG)},
j AS (
  SELECT g.label AS gold_label, p.label AS pred_label
  FROM gold g FULL OUTER JOIN pred p
    ON g.doc_id = p.doc_id AND g.pos = p.pos AND g.nwords = p.nwords
),
tp AS (SELECT gold_label AS label, CAST(count(*) AS BIGINT) AS tp FROM j
       WHERE gold_label = pred_label GROUP BY 1),
fp AS (SELECT pred_label AS label, CAST(count(*) AS BIGINT) AS fp FROM j
       WHERE pred_label IS NOT NULL
         AND (gold_label IS NULL OR gold_label <> pred_label) GROUP BY 1),
fn AS (SELECT gold_label AS label, CAST(count(*) AS BIGINT) AS fn FROM j
       WHERE gold_label IS NOT NULL
         AND (pred_label IS NULL OR gold_label <> pred_label) GROUP BY 1),
per_label AS (
  SELECT coalesce(tp.label, fp.label, fn.label) AS label,
         coalesce(tp, 0) AS tp, coalesce(fp, 0) AS fp, coalesce(fn, 0) AS fn
  FROM tp FULL OUTER JOIN fp ON tp.label = fp.label
          FULL OUTER JOIN fn ON coalesce(tp.label, fp.label) = fn.label
),
combined AS (
  SELECT * FROM per_label
  UNION ALL
  SELECT '__ALL__', CAST(sum(tp) AS BIGINT), CAST(sum(fp) AS BIGINT),
         CAST(sum(fn) AS BIGINT) FROM per_label
)
SELECT label, tp, fp, fn,
  round(CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) ELSE 0.0 END, 6)
    AS precision,
  round(CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) ELSE 0.0 END, 6)
    AS recall,
  round(CASE WHEN 2*tp + fp + fn > 0
             THEN 2.0 * tp / CAST(2*tp + fp + fn AS DOUBLE) ELSE 0.0 END, 6) AS f1
FROM combined ORDER BY label
"""


QUERIES = {
    "ner_stats": q_ner_stats,
    "label_counts": q_label_counts,
    "sorted_type_counts": q_sorted_type_counts,
    "entity_coverage": q_entity_coverage,
    "entity_coverage_top10": q_entity_coverage_top10,
    "label_balance_entropy": q_label_balance_entropy,
    "entity_coverage_entropy": q_entity_coverage_entropy,
    "label_distribution_similarity": q_label_distribution_similarity,
    "entity_coverage_similarity": q_entity_coverage_similarity,
    "outliers_nchars": q_outliers_nchars,
    "label_disparities": q_label_disparities,
    "top_label_disparities": q_top_label_disparities,
    "annotation_labels": q_annotation_labels,
    "most_common_label_corrections": q_most_common_label_corrections,
    "prediction_errors": q_prediction_errors,
    "hardest_examples": q_hardest_examples,
    "fix_annotations_coverage": q_fix_annotations_coverage,
    "upcase_rename_counts": q_upcase_rename_counts,
    "linked_entities": q_linked_entities,
    "triples": q_triples,
    "triples_canonical": q_triples_canonical,
    "recognizer_scores": q_recognizer_scores,
}

ORACLES = {
    "recognizer_scores": SQL_RECOGNIZER_SCORES,
    "ner_stats": SQL_NER_STATS,
    "label_counts": SQL_LABEL_COUNTS,
    "sorted_type_counts": SQL_SORTED_TYPE_COUNTS,
    "entity_coverage": SQL_ENTITY_COVERAGE,
    "entity_coverage_top10": SQL_ENTITY_COVERAGE_TOP10,
    "label_balance_entropy": SQL_LABEL_BALANCE_ENTROPY,
    "entity_coverage_entropy": SQL_ENTITY_COVERAGE_ENTROPY,
    "label_distribution_similarity": SQL_LABEL_DISTRIBUTION_SIMILARITY,
    "entity_coverage_similarity": SQL_ENTITY_COVERAGE_SIMILARITY,
    "outliers_nchars": SQL_OUTLIERS_NCHARS,
    "label_disparities": SQL_LABEL_DISPARITIES,
    "top_label_disparities": SQL_TOP_LABEL_DISPARITIES,
    "annotation_labels": SQL_ANNOTATION_LABELS,
    "most_common_label_corrections": SQL_MOST_COMMON_LABEL_CORRECTIONS,
    "prediction_errors": SQL_PREDICTION_ERRORS,
    "hardest_examples": SQL_HARDEST_EXAMPLES,
    "fix_annotations_coverage": SQL_FIX_ANNOTATIONS_COVERAGE,
    "upcase_rename_counts": SQL_UPCASE_RENAME_COUNTS,
    "linked_entities": SQL_LINKED_ENTITIES,
    "triples": SQL_TRIPLES,
    "triples_canonical": SQL_TRIPLES_CANONICAL,
}
