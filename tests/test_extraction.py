"""Three-way equivalence of the mention-detection implementations:
mapInArrow (hot path) == pandas UDF == pure-JVM fold."""

from recon_spark.operators.extraction import (
    detect_mentions,
    detect_mentions_jvm,
    detect_mentions_pandas,
)
from tests.conftest import SF_SMOKE


def _spans(df):
    return {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in df.select("doc_id", "spans").collect()
    }


def test_three_way_equivalence(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    arrow = _spans(detect_mentions(docs))
    pandas_ = _spans(detect_mentions_pandas(docs))
    jvm = _spans(detect_mentions_jvm(docs))
    assert arrow == pandas_
    assert arrow == jvm


def test_model_variant_differs_from_gold(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    gold = _spans(detect_mentions(docs))
    model = _spans(detect_mentions(docs, which="model"))
    assert gold != model  # the degraded gazetteer must disagree somewhere
    # and the model must still satisfy the span-offset invariant
    from recon_spark.operators.validation import span_offsets_valid

    bad = (
        detect_mentions(docs, which="model")
        .where(~span_offsets_valid())
        .count()
    )
    assert bad == 0


def test_colocated_insights_match_join_operators(spark, monkeypatch):
    """Per-row (co-located) error classification and hardest scoring must
    equal the two-source full-outer-join operators, hardest rows in their
    returned orderBy(score, count, doc_id) order, on the detected spans
    and on degenerate inputs, in both scratch-pin modes."""
    from pyspark.sql import functions as F

    from recon_spark.operators import insights as I
    from recon_spark.operators.extraction import detect_mentions

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    both = detect_mentions(detect_mentions(docs), which="model", out_col="pred_spans")
    # every doc a perfect match: hi == lo, so every score is 0.0
    perfect = both.withColumn("pred_spans", F.col("spans"))
    # an empty gold or pred array takes the fscore = 1.0 branch
    one_side = both.select(
        "doc_id", "text",
        F.when(F.col("doc_id") % 3 == 0, F.expr("filter(spans, s -> false)"))
        .otherwise(F.col("spans")).alias("spans"),
        F.when(F.col("doc_id") % 3 == 1, F.expr("filter(pred_spans, s -> false)"))
        .otherwise(F.col("pred_spans")).alias("pred_spans"),
    )
    n_docs = docs.count()

    def check(case):
        gold = case.select("doc_id", "text", "spans")
        pred = case.select("doc_id", "pred_spans")
        a = sorted(map(tuple, I.prediction_errors(gold, pred).collect()))
        b = sorted(map(tuple, I.prediction_errors_colocated(case).collect()))
        assert a == b
        c = [tuple(r) for r in I.hardest_examples(docs, gold, pred).collect()]
        d = [tuple(r) for r in I.hardest_examples_colocated(case).collect()]
        assert c == d and len(d) == n_docs
        return d

    try:
        for mode in ("", "1"):  # default localCheckpoint pin, then persist
            monkeypatch.setenv("RECON_RELIABLE_SCRATCH", mode)
            assert len({r[2] for r in check(both)}) > 1
            assert {r[1:] for r in check(perfect)} == {(0, 0.0)}
            assert len({r[2] for r in check(one_side)}) > 1
    finally:
        spark.catalog.clearCache()  # the reliable-mode caller release


def test_hardest_examples_colocated_plan_reads_pin(spark, monkeypatch):
    """The returned plan reads the pinned score frame, not the Python
    extraction kernel: the caller's materialization and the orderBy's
    sampling job do not re-run mapInArrow."""
    from recon_spark.operators import insights as I
    from recon_spark.operators.extraction import detect_mentions_both

    monkeypatch.delenv("RECON_RELIABLE_SCRATCH", raising=False)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    both = detect_mentions_both(docs)

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "MapInArrow" in plan(both)
    assert "MapInArrow" not in plan(I.hardest_examples_colocated(both))


def test_detect_mentions_both_equals_chained(spark):
    from recon_spark.operators.extraction import detect_mentions, detect_mentions_both

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chained = detect_mentions(
        detect_mentions(docs), which="model", out_col="pred_spans"
    ).select("doc_id", "spans", "pred_spans")
    fused = detect_mentions_both(docs).select("doc_id", "spans", "pred_spans")
    a = {r["doc_id"]: (r["spans"], r["pred_spans"]) for r in chained.collect()}
    b = {r["doc_id"]: (r["spans"], r["pred_spans"]) for r in fused.collect()}
    assert a == b and len(a) > 0
