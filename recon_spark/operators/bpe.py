"""Distributed BPE (byte-pair encoding) subword-vocabulary training.

Classic BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units"): start from the corpus' word-frequency
dictionary with words split into characters plus an end-of-word marker,
then repeatedly (a) count adjacent symbol pairs weighted by word
frequency, (b) merge the most frequent pair everywhere, greedily
left-to-right and non-overlapping within each word.

Scale design (10^12-doc corpus):
- The corpus collapses to its DISTINCT-word dictionary first — one
  combinable aggregation; by Heaps' law the dictionary is millions of
  rows where the corpus is trillions, and every later round touches
  only the dictionary. This is exactly how the reference BPE
  implementations scale (subword-nmt learns from a vocab dict, not the
  raw corpus).
- Each merge round is one map-side-combinable pair-count aggregation
  over the dictionary plus a 1-row argmax collect (the same
  driver-side pattern as the trained k-means quantizer in
  operators/similarity.py) and one JVM fold over the token arrays — no
  Python on any per-row path.
- The greedy merge application is a single ``F.aggregate`` fold with a
  (emitted-tokens, pending-token) struct accumulator: non-overlapping
  left-to-right semantics, bit-equal to the reference scan (see
  tests/test_textmodel.py's run-of-identical-symbols cases, where the
  naive regex-replace formulation is WRONG).
- Each round's dictionary is pinned with scratch.pin_now (an eager
  localCheckpoint), so round plans stay O(1) deep across any merge
  count.

The DuckDB oracle replays training with an independent engine: each
round's greedy application runs as a recursive-CTE state machine over
(pos, pending, out) — DuckDB's fixpoint evaluator, not a fold — and
each round's argmax as ORDER BY ... LIMIT 1 (queries/textmodel.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from recon_spark.operators.lm import tokens_col
from recon_spark.operators.scratch import pin_now

EOW = "</w>"
N_MERGES = 8


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, toks): the corpus word-frequency dictionary with
    each word pre-split into characters + the end-of-word marker."""
    return (
        docs.select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .withColumn(
            # zero-width split at every intra-word position: (?!^)(?!$)
            # excludes start AND end, so no trailing '' symbol (F.split
            # keeps trailing empties with its default limit of -1)
            "toks",
            F.concat(F.split("word", "(?!^)(?!$)"), F.array(F.lit(EOW))),
        )
    )


def pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, cnt): adjacent symbol-pair counts over the dictionary,
    weighted by word frequency — one combinable aggregation."""
    n = F.size("toks")
    return (
        words.where(n >= 2)
        .select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, n - 1).alias("a"),
                    F.slice("toks", 2, n - 1).alias("b"),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def merge_fold(toks: Column | str, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping application of one merge to
    a token array, as a pure-JVM ``F.aggregate`` fold.

    Accumulator = struct(out array, pending token): each element either
    becomes the new pending token, or — when (pending, element) is the
    merge pair — flushes the merged symbol and clears pending, which is
    what makes the scan non-overlapping (a freshly merged symbol can
    never be the left side of another merge in the same pass).
    """
    toks = F.col(toks) if isinstance(toks, str) else toks
    lit_l, lit_r = F.lit(left), F.lit(right)
    merged = F.lit(left + right)
    return F.aggregate(
        toks,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("pending"),
        ),
        lambda acc, t: F.when(
            acc.pending.isNull(), F.struct(acc.out.alias("out"), t.alias("pending"))
        )
        .when(
            (acc.pending == lit_l) & (t == lit_r),
            F.struct(
                F.concat(acc.out, F.array(merged)).alias("out"),
                F.lit(None).cast("string").alias("pending"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc.out, F.array(acc.pending)).alias("out"),
                t.alias("pending"),
            )
        ),
        lambda acc: F.when(acc.pending.isNull(), acc.out).otherwise(
            F.concat(acc.out, F.array(acc.pending))
        ),
    )


def bpe_train(
    docs: DataFrame, n_merges: int = N_MERGES, text_col: str = "text"
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges over the corpus dictionary.

    Returns (merges, final_words): merges as (rank, left, right,
    pair_count) in learning order with the deterministic (cnt DESC, a,
    b) tie-break, and the dictionary with all merges applied. Stops
    early if the dictionary runs out of adjacent pairs.
    """
    words, _ = pin_now(word_freqs(docs, text_col))
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = (
            pair_counts(words)
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0].a, best[0].b, int(best[0].cnt)
        merges.append((rank, a, b, cnt))
        words, _ = pin_now(words.withColumn("toks", merge_fold("toks", a, b)))
    return merges, words


def bpe_apply(toks: Column | str, merges: list[tuple[int, str, str, int]]) -> Column:
    """Apply a learned merge list (in rank order) to a token array —
    chained JVM folds, for encoding text outside the dictionary."""
    col = F.col(toks) if isinstance(toks, str) else toks
    for _, a, b, _ in merges:
        col = merge_fold(col, a, b)
    return col
