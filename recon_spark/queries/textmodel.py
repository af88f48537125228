"""Statistical text-model query registry: n-gram LM perplexity
filtering (CCNet-style) and BPE subword-vocabulary training.

Training split convention: sources src0..src9 are the "clean reference
corpus" (the Wikipedia stand-in), src10..src19 the raw crawl side —
a deterministic split so the model, the scores, and the gate are all
oracle-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recon_spark.operators.lm import (
    score_perplexity,
    sql_bigram_lm_ctes,
    train_bigram_lm,
)

TRAIN_SOURCE_RE = "^src[0-9]$"
_SQL_TRAIN_WHERE = "regexp_matches(source, '^src[0-9]$')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stupid-backoff bigram perplexity, model trained on
    the clean-source half, scored over the full corpus."""
    docs = _docs(spark, sf_dir)
    model = train_bigram_lm(docs.where(F.col("source").rlike(TRAIN_SOURCE_RE)))
    return score_perplexity(docs, model)


SQL_LM_PERPLEXITY = f"""
WITH {sql_bigram_lm_ctes(_SQL_TRAIN_WHERE)}
SELECT doc_id, n_bigrams, ppl FROM ppl
"""


def q_lm_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/tail gate as a per-source report: keep = ppl at or
    below the global exact median (the 'head' half). Output (source,
    n_docs, n_keep, avg_ppl)."""
    docs = _docs(spark, sf_dir)
    model = train_bigram_lm(docs.where(F.col("source").rlike(TRAIN_SOURCE_RE)))
    ppl = score_perplexity(docs, model)
    thr = ppl.agg(F.expr("percentile(ppl, 0.5)").alias("thr"))
    return (
        docs.select("doc_id", "source")
        .join(ppl, "doc_id")
        .join(F.broadcast(thr))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("ppl") <= F.col("thr"), 1).otherwise(0)
            ).alias("n_keep"),
            # mean of the 6-decimal ppl values from an integer micro
            # sum, so it does not depend on summation order
            F.when(
                F.count("ppl") > 0,
                F.round(
                    F.sum(F.round(F.col("ppl") * 1e6).cast("bigint")).cast("double")
                    / F.count("ppl")
                ) / 1e6,
            ).alias("avg_ppl"),
        )
    )


SQL_LM_QUALITY_GATE = f"""
WITH {sql_bigram_lm_ctes(_SQL_TRAIN_WHERE)},
thr AS (SELECT quantile_cont(ppl, 0.5) AS thr FROM ppl)
SELECT d.source, count(*) AS n_docs,
       sum(CASE WHEN p.ppl <= thr.thr THEN 1 ELSE 0 END) AS n_keep,
       round(CAST(sum(CAST(round(p.ppl * 1e6) AS BIGINT)) AS DOUBLE)
             / count(p.ppl)) / 1e6 AS avg_ppl
FROM documents d
JOIN ppl p ON d.doc_id = p.doc_id
CROSS JOIN thr
GROUP BY 1
"""


# --------------------------------------------------------------------------
# BPE training
# --------------------------------------------------------------------------

from recon_spark.operators.bpe import EOW, N_MERGES, bpe_train  # noqa: E402
from recon_spark.operators.lm import TOKEN_SPLIT  # noqa: E402


def sql_bpe_ctes(n_merges: int = N_MERGES, docs_table: str = "documents") -> str:
    """Unrolled BPE training as a DuckDB CTE chain (requires WITH
    RECURSIVE): per round, a pair-count agg, an ORDER BY ... LIMIT 1
    argmax, and a recursive-CTE state machine that applies the merge
    greedily left-to-right (pos/pending/out accumulator — the
    non-overlapping scan a regex replace cannot express for runs of
    identical symbols). Ends with ``words_{n}`` = the fully merged
    dictionary and ``m1..m{n}`` = the learned merges. A round whose
    ``m{r}`` is empty (no adjacent pairs left) carries the previous
    dictionary forward, as bpe_train stops early.

    Every per-round CTE is AS MATERIALIZED: each round references the
    previous one 2-3 times, and DuckDB's default inlining would copy
    the prior round's tree at every reference — exponential plan growth
    in the round count (the same blow-up _sql_pagerank documents)."""
    parts = [f"""wf AS MATERIALIZED (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT}'),
                              t -> t != '')) AS word
    FROM {docs_table}) GROUP BY 1
),
words_0 AS MATERIALIZED (
  SELECT word, freq, list_append(regexp_extract_all(word, '.'), '{EOW}') AS toks
  FROM wf
)"""]
    for r in range(1, n_merges + 1):
        prev = f"words_{r - 1}"
        parts.append(f"""p{r} AS MATERIALIZED (
  SELECT t[i] AS a, t[i+1] AS b, sum(freq) AS cnt
  FROM (SELECT freq, toks AS t, unnest(range(1, len(toks))) AS i FROM {prev})
  GROUP BY 1, 2
),
m{r} AS MATERIALIZED (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
s{r} AS (
  SELECT word, freq, toks, 0 AS pos, CAST(NULL AS VARCHAR) AS pending,
         CAST([] AS VARCHAR[]) AS out
  FROM {prev}
  UNION ALL
  SELECT word, freq, toks, pos + 1,
         CASE WHEN pending IS NULL THEN toks[pos+1]
              WHEN pending = m.a AND toks[pos+1] = m.b THEN NULL
              ELSE toks[pos+1] END,
         CASE WHEN pending IS NULL THEN out
              WHEN pending = m.a AND toks[pos+1] = m.b THEN list_append(out, m.a || m.b)
              ELSE list_append(out, pending) END
  FROM s{r}, m{r} m WHERE pos < len(toks)
),
words_{r} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN pending IS NULL THEN out ELSE list_append(out, pending) END AS toks
  FROM s{r} WHERE pos = len(toks)
  UNION ALL
  SELECT word, freq, toks FROM {prev} WHERE NOT EXISTS (SELECT 1 FROM m{r})
)""")
    return ",\n".join(parts)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table (rank, merge_left, merge_right,
    pair_count) — the vocabulary artifact a tokenizer trainer
    publishes."""
    merges, _ = bpe_train(_docs(spark, sf_dir))
    return spark.createDataFrame(
        merges,
        "rank int, merge_left string, merge_right string, pair_count bigint",
    )


SQL_BPE_MERGES = (
    "WITH RECURSIVE " + sql_bpe_ctes() + "\n" + "\nUNION ALL\n".join(
        f"SELECT {r} AS rank, a AS merge_left, b AS merge_right, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM m{r}"
        for r in range(1, N_MERGES + 1)
    )
)


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token histogram AFTER the learned merges: (token, count)
    with count weighted by word frequency — the subword vocabulary with
    its occurrence mass."""
    merges, words = bpe_train(_docs(spark, sf_dir))
    out = (
        words.select("freq", F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("count"))
    )
    return out


SQL_BPE_TOKEN_COUNTS = (
    "WITH RECURSIVE " + sql_bpe_ctes() + f"""
SELECT token, CAST(sum(freq) AS BIGINT) AS count
FROM (SELECT freq, unnest(toks) AS token FROM words_{N_MERGES})
GROUP BY 1
"""
)


def q_bpe_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword counts under the learned merges — the
    corpus-side ENCODE pass. The dictionary (word -> merged tokens) is
    the broadcast dimension and each document joins through its words:
    at 10^12 docs the text stream never re-runs the merge folds, it
    hash-probes the Heaps'-law-sized dictionary (the standard
    tokenizer-deployment shape: vocabulary ships to workers, documents
    stream through)."""
    from recon_spark.operators.bpe import bpe_train
    from recon_spark.operators.lm import tokens_col

    docs = _docs(spark, sf_dir)
    _, words = bpe_train(docs)
    dic = words.select("word", F.size("toks").alias("n_sub"))
    return (
        docs.select("doc_id", F.explode(tokens_col()).alias("word"))
        .join(F.broadcast(dic), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").alias("n_subwords"),
        )
    )


SQL_BPE_DOC_TOKENS = (
    "WITH RECURSIVE " + sql_bpe_ctes() + f""",
dic AS (SELECT word, len(toks) AS n_sub FROM words_{N_MERGES}),
dw AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
                 '{TOKEN_SPLIT}'), t -> t != '')) AS word
  FROM documents
)
SELECT doc_id, count(*) AS n_words, CAST(sum(n_sub) AS BIGINT) AS n_subwords
FROM dw JOIN dic USING (word)
GROUP BY 1
"""
)


def q_lm_perplexity_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff perplexity (the CCNet-scale model order)
    with the full backoff ladder trigram -> bigram -> add-one unigram;
    same clean-half training split and one-shuffle scoring shape as
    the bigram query."""
    from recon_spark.operators.lm import score_perplexity_trigram, train_trigram_lm

    docs = _docs(spark, sf_dir)
    model = train_trigram_lm(docs.where(F.col("source").rlike(TRAIN_SOURCE_RE)))
    return score_perplexity_trigram(docs, model)


def _sql_lm_perplexity_trigram() -> str:
    from recon_spark.operators.lm import sql_trigram_lm_ctes

    return f"""
WITH {sql_trigram_lm_ctes(_SQL_TRAIN_WHERE)}
SELECT doc_id, n_trigrams, ppl FROM ppl3
"""


QUERIES = {
    "lm_perplexity_trigram": q_lm_perplexity_trigram,
    "lm_perplexity": q_lm_perplexity,
    "lm_quality_gate": q_lm_quality_gate,
    "bpe_merges": q_bpe_merges,
    "bpe_token_counts": q_bpe_token_counts,
    "bpe_doc_tokens": q_bpe_doc_tokens,
}

ORACLES = {
    "lm_perplexity_trigram": _sql_lm_perplexity_trigram(),
    "lm_perplexity": SQL_LM_PERPLEXITY,
    "lm_quality_gate": SQL_LM_QUALITY_GATE,
    "bpe_merges": SQL_BPE_MERGES,
    "bpe_token_counts": SQL_BPE_TOKEN_COUNTS,
    "bpe_doc_tokens": SQL_BPE_DOC_TOKENS,
}
