"""N-gram language-model perplexity filtering (CCNet-style corpus
curation).

CCNet (Wenzek et al. 2020) ranks Common-Crawl documents by the
perplexity of a KenLM n-gram model trained on a clean reference corpus
(Wikipedia) and keeps the low-perplexity head. This module reproduces
that pipeline shape with a bigram stupid-backoff model (Brants et al.
2007, "Large Language Models in Machine Translation" — the scoring rule
Google used at web scale precisely because it needs no normalization
pass): S(w2|w1) = c(w1 w2)/c(w1) when the bigram was observed, else
ALPHA * P_add1(w2) where P_add1 is the add-one-smoothed unigram.

Reference parity note: the reference's closest analog is the
corpus-statistics family (recon/stats.py get_probs_from_counts +
entropy scoring) — probability tables derived from observed counts and
folded into a per-item score. The LM generalizes that from label
distributions to token sequences.

Scale design (10^12 docs):
- TRAINING is two combinable aggregations (unigram + bigram counts) —
  map-side partial aggregation does the heavy lifting; the reduce side
  is bounded by vocabulary, not corpus size (Heaps' law), and the
  min_count prune (CCNet prunes too) caps the model long before it
  threatens executor memory.
- SCORING ships the pruned model to workers as BROADCAST dimensions —
  the CCNet deployment shape (the KenLM binary rides in the workers'
  filesystem): the corpus-side bigram stream joins map-side, never
  shuffling document text; the only shuffle is the per-doc logprob sum,
  keyed on doc_id, combinable.
- Everything is JVM expressions (split/slice/arrays_zip/explode + two
  joins + one agg): no Python on the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ALPHA = 0.4  # stupid-backoff discount (Brants et al. 2007, §4)
TOKEN_SPLIT = "[^a-z0-9]+"
PPL_ROUND = 6


# Log-probabilities are summed as integer nano-nats: an integer sum is
# order-independent, so ppl is bit-equal across partitionings and
# between the Spark and DuckDB twins (the dsir_bucket_weights pattern).
SQL_PPL = (
    "round(exp(-CAST(sum(CAST(round(ln(s) * 1e9) AS BIGINT)) AS DOUBLE)"
    f" / 1e9 / count(*)), {PPL_ROUND})"
)


def _ppl(s: str):
    """exp(-mean(ln s)) over the group's non-null s, from the fixed-point
    log sum (the Spark side of SQL_PPL); NULL for a group with none."""
    logp = F.sum(F.round(F.log(s) * 1e9).cast("bigint")).cast("double")
    return F.when(
        F.count(s) > 0, F.round(F.exp(-logp / 1e9 / F.count(s)), PPL_ROUND)
    )


def tokens_col(text_col: str = "text"):
    """Lower-cased alphanumeric tokens as an array column (empty strings
    from leading/trailing separators filtered JVM-side)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT), lambda t: t != F.lit("")
    )


def doc_bigrams(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent token pair, JVM-side
    (slice + arrays_zip + explode)."""
    toks = docs.select("doc_id", tokens_col(text_col).alias("t"))
    return (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1).alias("w1"),
                    F.slice("t", 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


def train_bigram_lm(
    train_docs: DataFrame, text_col: str = "text", min_count: int = 1
) -> dict[str, DataFrame]:
    """Count tables for the stupid-backoff bigram model.

    Returns {'uni': (w, c1), 'bi': (w1, w2, c12), 'totals': (n_tokens,
    vocab)} — all counts from ``train_docs`` only. ``min_count`` prunes
    rare bigrams (model-size cap for the broadcast; unigrams are kept
    unpruned so the backoff stays a proper distribution over the
    training vocabulary).
    """
    uni = (
        train_docs.select(F.explode(tokens_col(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    bi = (
        doc_bigrams(train_docs, text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .where(F.col("c12") >= min_count)
    )
    totals = uni.agg(
        F.sum("c1").alias("n_tokens"), F.count("*").alias("vocab")
    )
    return {"uni": uni, "bi": bi, "totals": totals}


def score_perplexity(
    docs: DataFrame,
    model: dict[str, DataFrame],
    text_col: str = "text",
    alpha: float = ALPHA,
    broadcast_model: bool = True,
) -> DataFrame:
    """(doc_id, n_bigrams, ppl): per-document perplexity under the
    stupid-backoff bigram model; docs with fewer than 2 tokens get
    n_bigrams = 0 and NULL ppl.

    ppl = exp(-mean(ln S)) over the doc's adjacent pairs, with
    S = c12/c1 for observed bigrams, else alpha * (c2+1)/(N+V).
    ``broadcast_model=True`` is the production path (the model is a
    worker-resident artifact, CCNet-style); the flag exists so tests
    can exercise the shuffle-join plan too.
    """
    wrap = F.broadcast if broadcast_model else (lambda df: df)
    uni = model["uni"]
    bi = model["bi"]
    bg = doc_bigrams(docs, text_col)
    scored = (
        bg.join(wrap(bi), ["w1", "w2"], "left")
        .join(wrap(uni.select(F.col("w").alias("w1"), "c1")), "w1", "left")
        .join(
            wrap(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c2"))),
            "w2",
            "left",
        )
        .join(wrap(model["totals"]))  # 1-row dimension
        .select(
            "doc_id",
            F.when(
                F.col("c12").isNotNull(),
                F.col("c12").cast("double") / F.col("c1").cast("double"),
            )
            .otherwise(
                F.lit(alpha)
                * (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("n_tokens") + F.col("vocab")).cast("double")
            )
            .alias("s"),
        )
    )
    # docs too short to have a bigram must still appear in the report:
    # rather than re-joining them after the agg (a second doc_id-keyed
    # exchange at corpus scale), union one null-scored row per doc into
    # the SAME aggregation — count(s) ignores nulls, so short docs fall
    # out as n_bigrams = 0 / NULL ppl and the whole scoring pass has
    # exactly ONE shuffle (the per-doc agg).
    scored = scored.unionByName(
        docs.select("doc_id", F.lit(None).cast("double").alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("s").alias("n_bigrams"),
        _ppl("s").alias("ppl"),
    )


def sql_bigram_lm_ctes(
    train_where: str,
    alpha: float = ALPHA,
    min_count: int = 1,
    docs_table: str = "documents",
) -> str:
    """DuckDB twin: CTE chain ending in ``ppl(doc_id, n_bigrams, ppl)``.

    ``train_where`` selects the training split (e.g. a source
    predicate). Tokenization, counts, backoff, and rounding mirror the
    Spark expressions term for term; ``repr(alpha)`` pins the exact
    IEEE literal.
    """
    a = repr(float(alpha))
    return f"""toks AS (
  SELECT doc_id, {docs_table}.source,
         list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'), t -> t != '') AS t
  FROM {docs_table}
),
train_bg AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE {train_where})
),
uni_c AS (
  SELECT w, count(*) AS c1
  FROM (SELECT unnest(t) AS w FROM toks WHERE {train_where})
  GROUP BY 1
),
bi_c AS (
  SELECT w1, w2, count(*) AS c12 FROM train_bg GROUP BY 1, 2
  HAVING count(*) >= {min_count}
),
totals AS (SELECT sum(c1) AS n_tokens, count(*) AS vocab FROM uni_c),
doc_bg AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)
),
scored AS (
  SELECT doc_id,
         CASE WHEN bi_c.c12 IS NOT NULL
              THEN CAST(bi_c.c12 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
              ELSE {a} * CAST(coalesce(u2.c1, 0) + 1 AS DOUBLE)
                   / CAST(totals.n_tokens + totals.vocab AS DOUBLE)
         END AS s
  FROM doc_bg
  LEFT JOIN bi_c USING (w1, w2)
  LEFT JOIN uni_c u1 ON doc_bg.w1 = u1.w
  LEFT JOIN uni_c u2 ON doc_bg.w2 = u2.w
  CROSS JOIN totals
),
per_doc AS (
  SELECT doc_id, count(*) AS n_bigrams,
         {SQL_PPL} AS ppl
  FROM scored GROUP BY 1
),
ppl AS (
  SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams, p.ppl
  FROM {docs_table} d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
)"""


# --------------------------------------------------------------------------
# Trigram stupid backoff (the CCNet-scale model shape)
# --------------------------------------------------------------------------

def doc_trigrams(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w1, w2, w3) — one row per adjacent token triple."""
    toks = docs.select("doc_id", tokens_col(text_col).alias("t"))
    n = F.size("t")
    return (
        toks.where(n >= 3)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, n - 2).alias("w1"),
                    F.slice("t", 2, n - 2).alias("w2"),
                    F.slice("t", 3, n - 2).alias("w3"),
                )
            ).alias("tg"),
        )
        .select(
            "doc_id",
            F.col("tg.w1").alias("w1"),
            F.col("tg.w2").alias("w2"),
            F.col("tg.w3").alias("w3"),
        )
    )


def train_trigram_lm(
    train_docs: DataFrame, text_col: str = "text", min_count: int = 1
) -> dict[str, DataFrame]:
    """Bigram model tables plus 'tri': (w1, w2, w3, c123). The backoff
    ladder S(w3|w1 w2) -> alpha*S(w3|w2) -> alpha^2*P_add1(w3) needs
    every lower order, so the bigram tables ride along unpruned by the
    trigram min_count."""
    model = train_bigram_lm(train_docs, text_col, min_count=1)
    model["tri"] = (
        doc_trigrams(train_docs, text_col)
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("c123"))
        .where(F.col("c123") >= min_count)
    )
    return model


def score_perplexity_trigram(
    docs: DataFrame,
    model: dict[str, DataFrame],
    text_col: str = "text",
    alpha: float = ALPHA,
    broadcast_model: bool = True,
) -> DataFrame:
    """(doc_id, n_trigrams, ppl) under the chained stupid backoff:
    S = c123/c12 when the trigram was observed, else alpha * (c23/c2
    when the context bigram was, else alpha * (c3+1)/(N+V)). Same
    one-shuffle shape as the bigram scorer: every model probe is a
    broadcast join, short docs ride the same agg as null-scored rows.
    """
    wrap = F.broadcast if broadcast_model else (lambda df: df)
    uni, bi, tri = model["uni"], model["bi"], model["tri"]
    tg = doc_trigrams(docs, text_col)
    scored = (
        tg.join(wrap(tri), ["w1", "w2", "w3"], "left")
        .join(
            wrap(bi.select(F.col("w1"), F.col("w2"), F.col("c12").alias("c12_ctx"))),
            ["w1", "w2"],
            "left",
        )
        .join(
            wrap(
                bi.select(
                    F.col("w1").alias("w2"),
                    F.col("w2").alias("w3"),
                    F.col("c12").alias("c23"),
                )
            ),
            ["w2", "w3"],
            "left",
        )
        .join(wrap(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c2"))), "w2", "left")
        .join(wrap(uni.select(F.col("w").alias("w3"), F.col("c1").alias("c3"))), "w3", "left")
        .join(wrap(model["totals"]))
        .select(
            "doc_id",
            F.when(
                F.col("c123").isNotNull(),
                F.col("c123").cast("double") / F.col("c12_ctx").cast("double"),
            )
            .when(
                F.col("c23").isNotNull(),
                F.lit(alpha) * F.col("c23").cast("double") / F.col("c2").cast("double"),
            )
            .otherwise(
                F.lit(alpha) * F.lit(alpha)
                * (F.coalesce(F.col("c3"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("n_tokens") + F.col("vocab")).cast("double")
            )
            .alias("s"),
        )
    )
    scored = scored.unionByName(
        docs.select("doc_id", F.lit(None).cast("double").alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("s").alias("n_trigrams"),
        _ppl("s").alias("ppl"),
    )


def sql_trigram_lm_ctes(
    train_where: str,
    alpha: float = ALPHA,
    min_count: int = 1,
    docs_table: str = "documents",
) -> str:
    """DuckDB twin ending in ``ppl3(doc_id, n_trigrams, ppl)`` —
    extends the bigram CTE chain with the trigram table and the
    chained backoff CASE, term for term."""
    a = repr(float(alpha))
    base = sql_bigram_lm_ctes(train_where, alpha, 1, docs_table)
    return f"""{base},
tri_c AS (
  SELECT w1, w2, w3, count(*) AS c123
  FROM (SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
        FROM (SELECT t, unnest(range(1, len(t) - 1)) AS i FROM toks
              WHERE {train_where}))
  GROUP BY 1, 2, 3 HAVING count(*) >= {min_count}
),
doc_tg AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks)
),
scored3 AS (
  SELECT doc_id,
         CASE WHEN tri_c.c123 IS NOT NULL
              THEN CAST(tri_c.c123 AS DOUBLE) / CAST(bctx.c12 AS DOUBLE)
              WHEN b23.c12 IS NOT NULL
              THEN {a} * CAST(b23.c12 AS DOUBLE) / CAST(u2.c1 AS DOUBLE)
              ELSE {a} * {a} * CAST(coalesce(u3.c1, 0) + 1 AS DOUBLE)
                   / CAST(totals.n_tokens + totals.vocab AS DOUBLE)
         END AS s
  FROM doc_tg
  LEFT JOIN tri_c USING (w1, w2, w3)
  LEFT JOIN bi_c bctx ON doc_tg.w1 = bctx.w1 AND doc_tg.w2 = bctx.w2
  LEFT JOIN bi_c b23 ON doc_tg.w2 = b23.w1 AND doc_tg.w3 = b23.w2
  LEFT JOIN uni_c u2 ON doc_tg.w2 = u2.w
  LEFT JOIN uni_c u3 ON doc_tg.w3 = u3.w
  CROSS JOIN totals
),
per_doc3 AS (
  SELECT doc_id, count(*) AS n_trigrams,
         {SQL_PPL} AS ppl
  FROM scored3 GROUP BY 1
),
ppl3 AS (
  SELECT d.doc_id, coalesce(p.n_trigrams, 0) AS n_trigrams, p.ppl
  FROM {docs_table} d LEFT JOIN per_doc3 p ON d.doc_id = p.doc_id
)"""
