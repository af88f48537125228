"""Recognizer evaluation: per-label precision/recall/F1.

Reference: EntityRecognizer.evaluate (/root/reference/recon/recognizer.py:
45-81, 140-158) — spaCy PRF scoring of predicted vs gold span sets.
Semantics: a span counts as tp for label L iff (start, end, label) match
exactly; a matched-position wrong-label pair is fp for the predicted
label and fn for the gold label. This doubles as the triple P/R >= 0.95
harness shape (BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def evaluate_recognizer(
    df: DataFrame, gold_spans: str = "spans", pred_spans: str = "pred_spans"
) -> DataFrame:
    """(label, tp, fp, fn, precision, recall, f1) per label plus an
    __ALL__ micro-average row; PRF rounded to 6 decimals.

    Gold and predicted span arrays sit on the SAME row (as
    ``detect_mentions_both`` emits them), so scoring is one explode and
    one aggregation, no join. A span is a hit iff the other side of its
    row holds a span with the same (start, end, label): gold hits are tp,
    gold misses fn, pred misses fp. Spans are unique per (start, end) on
    each side, as maximal-munch spans are."""

    def tagged(spans: str, other: str, gold: str) -> str:
        return (
            f"transform({spans}, s -> named_struct('label', s.label, 'gold', {gold},"
            f" 'hit', exists({other}, o -> o.start = s.start AND o.end = s.end"
            " AND o.label = s.label)))"
        )

    m = df.select(
        F.explode(
            F.concat(
                F.expr(tagged(gold_spans, pred_spans, "true")),
                F.expr(tagged(pred_spans, gold_spans, "false")),
            )
        ).alias("m")
    ).select("m.*")
    per_label = m.groupBy("label").agg(
        F.count(F.when(F.col("gold") & F.col("hit"), 1)).alias("tp"),
        F.count(F.when(~F.col("gold") & ~F.col("hit"), 1)).alias("fp"),
        F.count(F.when(F.col("gold") & ~F.col("hit"), 1)).alias("fn"),
    )
    overall = per_label.agg(
        F.lit("__ALL__").alias("label"),
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
    )
    both = per_label.unionByName(overall)
    prec = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    rec = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
    ).otherwise(0.0)
    return both.select(
        "label",
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    ).orderBy("label")
