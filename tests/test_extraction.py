"""Mention detection: the Arrow kernel's entry points against the
independent token-loop scanner of tests/reference_impl.py, plus the
co-located insight/scoring operators built on the fused gold+model pass."""

from pyspark.sql import functions as F

from recon_spark.core.spans import tokenize_ws
from recon_spark.operators.extraction import (
    detect_mentions,
    detect_mentions_both,
    detect_mentions_long,
)
from recon_spark.pages import generate_pages
from tests.conftest import SF_SMOKE
from tests.reference_impl import ref_mentions


def _spans(df):
    return {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in df.select("doc_id", "spans").collect()
    }


def test_entry_points_match_reference_scanner(spark):
    """Gold spans of detect_mentions, the gold side of
    detect_mentions_both and detect_mentions_long all equal ref_mentions
    on generated pages, and token_start/token_end name the tokenize_ws
    tokens holding the span's first and last char. The pages end
    sentences in dotted tokens ("data."), so a scanner that does not
    stop a surface at its trailing period disagrees."""
    pages = generate_pages(spark, 200, seed=7).select(
        F.col("page_id").alias("doc_id"), "text"
    )
    texts = {r.doc_id: r.text for r in pages.collect()}
    ref = {d: ref_mentions(d, t) for d, t in texts.items()}
    dotted = [(d, e) for d, ms in ref.items() for *_, e in ms if texts[d][e:e + 1] == "."]
    assert len(dotted) > 100  # the fixture can tell the scanners apart

    want = {d: [(s, lab, a, b) for s, lab, a, b in ms] for d, ms in ref.items()}
    gold = {
        r.doc_id: r.spans
        for r in detect_mentions(pages).select("doc_id", "spans").collect()
    }
    fused = {
        r.doc_id: r.spans
        for r in detect_mentions_both(pages).select("doc_id", "spans").collect()
    }
    for got in (gold, fused):
        assert {
            d: [(s.text, s.label, s.start, s.end) for s in spans] for d, spans in got.items()
        } == want
    assert fused == gold
    long_rows = sorted(map(tuple, detect_mentions_long(pages).collect()))
    assert long_rows == sorted((d, s, lab) for d, ms in ref.items() for s, lab, _, _ in ms)

    for d, spans in gold.items():
        toks = tokenize_ws(texts[d])
        for s in spans:
            first = [t[3] for t in toks if t[1] == s.start]
            last = [t[3] for t in toks if t[1] <= s.end - 1 < t[2]]
            assert (s.token_start, s.token_end) == (first[0], last[0])
            assert (s.kb_id, s.source) == (None, "gazetteer")


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


def _span_tuples(spans):
    return [(s.text, s.start, s.end, s.label) for s in spans]


def test_colocated_insights_match_reference(spark):
    """Per-row error classification and hardest scoring equal the
    driver-side reference (tests/reference_impl), hardest rows in their
    returned orderBy(score, count, doc_id) order, on the detected spans
    and on degenerate inputs."""
    from recon_spark.operators import insights as I
    from tests.reference_impl import get_hardest_examples, top_prediction_errors

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    both = detect_mentions_both(docs)
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
        rows = [
            (r.doc_id, _span_tuples(r.spans), _span_tuples(r.pred_spans))
            for r in case.select("doc_id", "spans", "pred_spans").collect()
        ]
        errors = [tuple(r) for r in I.prediction_errors_colocated(case).collect()]
        assert errors == top_prediction_errors(rows)
        hardest = [tuple(r) for r in I.hardest_examples_colocated(case).collect()]
        assert hardest == get_hardest_examples(rows) and len(hardest) == n_docs
        return hardest

    assert len({r[2] for r in check(both)}) > 1
    assert {r[1:] for r in check(perfect)} == {(0, 0.0)}
    assert len({r[2] for r in check(one_side)}) > 1


def test_insights_hand_counted(spark):
    """Doc 1: one exact match, one same-offset label confusion, one
    pred-only span. Doc 2: both sides empty. Doc 3: gold only. Doc 4:
    a perfect match."""
    from recon_spark.operators import insights as I
    from recon_spark.schema import SPAN_DDL
    from tests.reference_impl import get_hardest_examples, top_prediction_errors

    def sp(text, start, label):
        return (text, start, start + len(text), label, None, None, None, "t")

    rows = [
        (1, [sp("x", 0, "A"), sp("y", 2, "B")], [sp("x", 0, "A"), sp("y", 2, "C"), sp("z", 4, "D")]),
        (2, [], []),
        (3, [sp("w", 0, "E")], []),
        (4, [sp("x", 0, "A")], [sp("x", 0, "A")]),
    ]
    df = spark.createDataFrame(rows, f"doc_id long, spans {SPAN_DDL}, pred_spans {SPAN_DDL}")
    errors = [
        ("w", "E", "NOT_LABELED", 1),
        ("y", "B", "C", 1),
        ("z", "NOT_LABELED", "D", 1),
    ]
    # max errors 3; raw = fscore - count/3: doc1 0.4 - 1, doc3 1 - 1/3,
    # docs 2 and 4 1.0; min-max over [-0.6, 1.0]
    hardest = [(1, 3, 0.0), (3, 1, 0.791667), (2, 0, 1.0), (4, 0, 1.0)]
    assert [tuple(r) for r in I.prediction_errors_colocated(df).collect()] == errors
    assert [tuple(r) for r in I.hardest_examples_colocated(df).collect()] == hardest
    ref_rows = [(d, [s[:4] for s in g], [s[:4] for s in p]) for d, g, p in rows]
    assert top_prediction_errors(ref_rows) == errors
    assert get_hardest_examples(ref_rows) == hardest


def test_hardest_examples_colocated_plan_reads_pin(spark):
    """The returned plan reads the pinned score frame, not the Python
    extraction kernel: the caller's materialization and the orderBy's
    sampling job do not re-run mapInArrow."""
    from recon_spark.operators import insights as I

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    both = detect_mentions_both(docs)

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "MapInArrow" in plan(both)
    assert "MapInArrow" not in plan(I.hardest_examples_colocated(both))


def test_detect_mentions_both_equals_chained(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chained = detect_mentions(
        detect_mentions(docs), which="model", out_col="pred_spans"
    ).select("doc_id", "spans", "pred_spans")
    fused = detect_mentions_both(docs).select("doc_id", "spans", "pred_spans")
    a = {r["doc_id"]: (r["spans"], r["pred_spans"]) for r in chained.collect()}
    b = {r["doc_id"]: (r["spans"], r["pred_spans"]) for r in fused.collect()}
    assert a == b and len(a) > 0


def test_recognizer_scores_hand_counted(spark):
    """evaluate_recognizer on hand-made rows: an exact match is tp, a
    same-offset wrong label is fn for the gold label and fp for the
    predicted one, unmatched spans are fn/fp, and rows with an empty side
    still count the other side."""
    from recon_spark.operators.scorer import evaluate_recognizer
    from recon_spark.schema import SPAN_DDL

    def sp(start, end, label):
        return ("w", start, end, label, None, None, None, "t")

    rows = [
        (1, [sp(0, 1, "A"), sp(2, 3, "B"), sp(4, 5, "B")], [sp(0, 1, "A"), sp(2, 3, "C")]),
        (2, [], [sp(0, 1, "A")]),
        (3, [sp(0, 1, "C")], []),
    ]
    df = spark.createDataFrame(rows, f"doc_id long, spans {SPAN_DDL}, pred_spans {SPAN_DDL}")
    got = {r.label: (r.tp, r.fp, r.fn, r.precision, r.recall) for r in evaluate_recognizer(df).collect()}
    assert got == {
        "A": (1, 1, 0, 0.5, 1.0),
        "B": (0, 0, 2, 0.0, 0.0),
        "C": (0, 1, 1, 0.0, 0.0),
        "__ALL__": (1, 2, 3, 0.333333, 0.25),
    }
