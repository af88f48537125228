"""Insight operators: disagreement detection, prediction errors, hardness.

Reference: /root/reference/recon/insights.py — get_ents_by_label (:19-44),
get_label_disparities (:47-71), top_label_disparities (:74-110),
top_prediction_errors (:113-236), get_hardest_examples (:239-290),
get_annotation_labels (:293-315).

Shapes: self-join / intersect for disparities; per-row span-array
matching for prediction errors and hardest examples (gold and pred
arrays on one row, as detect_mentions_both emits them), then a small
aggregate or a global min-max. All sort-descending outputs carry
deterministic tiebreakers (the reference relies on Python stable sort;
Spark sorts are not stable across partitions — SURVEY.md §7.3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from recon_spark.operators.scratch import scratch
from recon_spark.schema import NOT_LABELED


def ents_by_label(mentions: DataFrame, case_sensitive: bool = False) -> DataFrame:
    """label → distinct surfaces (+ example docs): the index behind the
    disparity operators."""
    surface = F.col("surface") if case_sensitive else F.lower(F.col("surface"))
    return (
        mentions.select("label", surface.alias("surface"), "doc_id")
        .groupBy("label", "surface")
        .agg(F.collect_set("doc_id").alias("doc_ids"))
    )


def label_disparities(
    mentions: DataFrame, label1: str, label2: str, case_sensitive: bool = False
) -> DataFrame:
    """Surfaces annotated as BOTH label1 and label2 somewhere in the data
    (entity-disagreement detection). Pure set intersection."""
    surface = F.col("surface") if case_sensitive else F.lower(F.col("surface"))
    m = mentions.select(surface.alias("surface"), "label")
    s1 = m.where(F.col("label") == label1).select("surface").distinct()
    s2 = m.where(F.col("label") == label2).select("surface").distinct()
    return s1.intersect(s2).orderBy("surface")


def top_label_disparities(
    mentions: DataFrame, case_sensitive: bool = False, dedupe: bool = False
) -> DataFrame:
    """All label pairs with >0 shared surfaces, with the shared-surface
    count, sorted desc. dedupe=True halves the symmetric matrix
    (label1 < label2)."""
    surface = F.col("surface") if case_sensitive else F.lower(F.col("surface"))
    pairs = mentions.select(surface.alias("surface"), "label").distinct()
    a = pairs.alias("a")
    b = pairs.alias("b")
    cond = (F.col("a.surface") == F.col("b.surface")) & (
        (F.col("a.label") < F.col("b.label"))
        if dedupe
        else (F.col("a.label") != F.col("b.label"))
    )
    return (
        a.join(b, cond)
        .groupBy(
            F.col("a.label").alias("label1"), F.col("b.label").alias("label2")
        )
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), "label1", "label2")
    )


def annotation_labels(mentions: DataFrame, case_sensitive: bool = False) -> DataFrame:
    """surface → per-label counts (long form): the input to
    most-common-label canonicalization."""
    surface = F.col("surface") if case_sensitive else F.lower(F.col("surface"))
    return (
        mentions.select(surface.alias("surface"), "label")
        .groupBy("surface", "label")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("surface", F.desc("count"), "label")
    )


def most_common_label_corrections(mentions: DataFrame) -> DataFrame:
    """Derive Recon-style corrections from label disagreements: for every
    surface annotated with >1 label, emit (annotation=surface,
    to_label=the most common label, ties broken by label asc). Feeding
    this into corrections.fix_annotations canonicalizes the dataset —
    the generalization of the reference's manual-correction workflow."""
    counts = annotation_labels(mentions)
    w = Window.partitionBy("surface").orderBy(F.desc("count"), "label")
    ranked = counts.withColumn("rk", F.row_number().over(w)).withColumn(
        "n_labels", F.count(F.lit(1)).over(Window.partitionBy("surface"))
    )
    return (
        ranked.where((F.col("rk") == 1) & (F.col("n_labels") > 1))
        .select(
            F.col("surface").alias("annotation"),
            F.col("label").alias("to_label"),
            F.col("count").alias("support"),
        )
        .orderBy("annotation")
    )


def prediction_errors_colocated(
    df: DataFrame,
    gold_spans: str = "spans",
    pred_spans: str = "pred_spans",
) -> DataFrame:
    """Classify model errors, with gold and pred span arrays on the same
    row, by matching spans on (start, end): same offsets + different
    label → label confusion; pred-only → false positive
    (true=NOT_LABELED); gold-only → false negative (pred=NOT_LABELED).
    Aggregated to (text, true_label, pred_label, n) sorted desc —
    reference top_prediction_errors semantics. The alignment is a
    per-row array comparison: zero explode, zero join, zero shuffle
    before the final small aggregate."""
    err_ddl = "ARRAY<STRUCT<text: STRING, true_label: STRING, pred_label: STRING>>"
    errs = f"""
    filter(concat(
      transform({gold_spans}, g -> CASE
        WHEN NOT exists({pred_spans}, p -> p.start = g.start AND p.end = g.end)
          THEN named_struct('text', g.text, 'true_label', g.label,
                            'pred_label', '{NOT_LABELED}')
        WHEN NOT (try_element_at(filter({pred_spans},
               p -> p.start = g.start AND p.end = g.end), 1).label <=> g.label)
          THEN named_struct('text', g.text, 'true_label', g.label,
                            'pred_label', try_element_at(filter({pred_spans},
                              p -> p.start = g.start AND p.end = g.end), 1).label)
        ELSE CAST(NULL AS STRUCT<text: STRING, true_label: STRING, pred_label: STRING>)
        END),
      transform(
        filter({pred_spans},
               p -> NOT exists({gold_spans}, g -> g.start = p.start AND g.end = p.end)),
        p -> named_struct('text', p.text, 'true_label', '{NOT_LABELED}',
                          'pred_label', p.label))
    ), e -> e IS NOT NULL)
    """
    return (
        df.select(F.explode(F.expr(f"CAST({errs} AS {err_ddl})")).alias("e"))
        .select("e.text", "e.true_label", "e.pred_label")
        .groupBy("text", "true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "text", "true_label", "pred_label")
    )


def hardest_examples_colocated(
    df: DataFrame,
    id_col: str = "doc_id",
    gold_spans: str = "spans",
    pred_spans: str = "pred_spans",
) -> DataFrame:
    """Per-document difficulty, with gold and pred span arrays on the
    same row: PRF fscore over exact (start, end, label) matches, score
    1.0 when either side has no spans, minus errors/max_errors, min-max
    normalized, sorted ascending (hardest first) with doc_id tiebreak —
    reference get_hardest_examples. tp/fp/fn come from per-row array
    predicates (no explode, no join); empty-span docs are rows already.

    The per-document score frame (doc_id, count, fscore) is pinned with
    operators.scratch.scratch(), and the returned plan reads that pin."""
    match = "p.start = g.start AND p.end = g.end AND p.label = g.label"
    per_doc = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"size(filter({gold_spans}, g -> exists({pred_spans}, p -> {match})))"
        ).alias("tp"),
        F.expr(
            f"size(filter({pred_spans}, p -> NOT exists({gold_spans}, g -> {match})))"
        ).alias("fp"),
        F.expr(
            f"size(filter({gold_spans}, g -> NOT exists({pred_spans}, p -> {match})))"
        ).alias("fn"),
        ((F.size(gold_spans) > 0) & (F.size(pred_spans) > 0)).alias("both"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    denom = 2 * tp + fp + fn
    # Extraction and the span-matching HOFs run ONCE per call: the first
    # scalar collect fills the pin; the second collect, the caller's
    # materialization and the orderBy's range-partition sampling job all
    # read the pinned blocks. A pin released before returning would let
    # the last two re-run the upstream Python kernel.
    scored = scratch(
        per_doc.select(
            "doc_id",
            (fp + fn).cast("long").alias("count"),
            F.when(
                F.col("both"),
                F.when(denom > 0, 2.0 * tp / denom).otherwise(0.0),
            )
            .otherwise(1.0)
            .alias("fscore"),
        )
    )
    max_count = scored.agg(F.max("count")).collect()[0][0] or 0
    raw_score = F.col("fscore") - F.col("count") / F.lit(
        max_count if max_count > 0 else 1
    )
    row = scored.agg(
        F.min(raw_score).alias("lo"), F.max(raw_score).alias("hi")
    ).collect()[0]
    lo, hi = row["lo"], row["hi"]
    if lo is None or hi is None or not hi > lo:
        score = F.lit(0.0)
    else:
        score = F.round((raw_score - F.lit(lo)) / F.lit(hi - lo), 6)
    return scored.select(
        "doc_id", "count", score.alias("score")
    ).orderBy("score", "count", "doc_id")
