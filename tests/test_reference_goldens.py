"""The reference's own pytest goldens reproduced by the distributed
operators on the reference's own fixtures (the skills corpus,
/root/reference/examples/data/skills/{train,dev,test}.jsonl).

Golden sources:
- /root/reference/tests/test_stats.py:16-79  (ner stats, JS similarity
  86.44, coverage similarity 31.21/36.67, entropies 5.24/0.57, outliers)
- /root/reference/tests/test_insights.py:10-27 (disparity counts 8/4/2/1)
- /root/reference/tests/test_corrections.py:36-53 (SKILL/JOB_ROLE
  disparity surfaces; fix_annotations clears them)

The reference's "processed" corpus is add_tokens → upcase_labels →
filter_overlaps (/root/reference/tests/conftest.py:72-78); its
add_tokens drops nothing on this corpus (n_examples stays 106), so the
observable processing is upcase + overlap resolution, which is what we
apply here.
"""

import pytest

from pyspark.sql import functions as F

from recon_spark.io import read_jsonl
from recon_spark.operators import insights as I
from recon_spark.operators import stats as S
from recon_spark.operators.corrections import (
    corrections_from_dict,
    fix_annotations,
    upcase_labels,
)
from recon_spark.operators.extraction import mentions_long
from recon_spark.operators.validation import filter_overlaps

SKILLS = "/root/reference/examples/data/skills"


def _load(spark, split):
    df = read_jsonl(spark, f"{SKILLS}/{split}.jsonl")
    return df.withColumn("doc_id", F.monotonically_increasing_id())


def _processed(df):
    return filter_overlaps(upcase_labels(df))


@pytest.fixture(scope="module")
def corpus(spark):
    out = {}
    for split in ("train", "dev", "test"):
        raw = _load(spark, split).persist()
        out[split] = raw
        out[f"{split}_p"] = _processed(raw).persist()
    return out


def _label_counts(df):
    rows = S.label_counts(mentions_long(df)).collect()
    return {r["label"]: r["n"] for r in rows}


def test_ner_stats_raw_train(corpus):
    r = S.ner_stats(corpus["train"]).collect()[0]
    assert (r.n_examples, r.n_examples_no_entities, r.n_annotations) == (106, 29, 243)
    counts = _label_counts(corpus["train"])
    assert counts["SKILL"] == 197
    assert counts["PRODUCT"] == 33
    assert counts["JOB_ROLE"] == 10
    assert counts["skill"] == 2
    assert counts["product"] == 1


def test_ner_stats_processed_train(corpus):
    r = S.ner_stats(corpus["train_p"]).collect()[0]
    assert (r.n_examples, r.n_examples_no_entities, r.n_annotations) == (106, 29, 243)
    counts = _label_counts(corpus["train_p"])
    assert counts == {"SKILL": 199, "PRODUCT": 34, "JOB_ROLE": 10}


def test_label_distribution_similarity_golden(corpus):
    sim = S.label_distribution_similarity(
        mentions_long(corpus["train_p"]),
        corpus["train_p"],
        mentions_long(corpus["dev_p"]),
        corpus["dev_p"],
    ).collect()[0][0]
    assert round(sim, 2) == 86.44


def test_entity_coverage_similarity_golden(corpus):
    r = S.entity_coverage_similarity(
        mentions_long(corpus["train_p"]), mentions_long(corpus["dev_p"])
    ).collect()[0]
    assert round(r["entity"], 2) == 31.21
    assert round(r["count_weighted"], 2) == 36.67


def test_entropy_goldens(corpus):
    cov_e = S.entity_coverage_entropy(mentions_long(corpus["train_p"])).collect()[0][0]
    assert round(cov_e, 2) == 5.24
    bal_e = S.label_balance_entropy(mentions_long(corpus["train_p"])).collect()[0][0]
    assert round(bal_e, 2) == 0.57


def test_detect_outliers_golden(spark):
    seq = [-1, 10, 11, 12, 12, 13, 14, 15, 16, 16, 17, 99]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(seq)], "doc_id int, v int"
    )
    rows = S.detect_outliers(df, "v").collect()
    assert {(r["doc_id"], r["side"]) for r in rows} == {(0, "low"), (11, "high")}


def _all(corpus, suffix=""):
    cols = ["doc_id", "text", "spans"]
    return (
        corpus[f"train{suffix}"].select(cols)
        .unionByName(corpus[f"dev{suffix}"].select(cols))
        .unionByName(corpus[f"test{suffix}"].select(cols))
    )


def test_top_label_disparities_goldens(corpus, spark):
    # raw corpus.all: 8 directed pairs, 4 deduped (all with count 1 at top)
    m = mentions_long(_all(corpus))
    raw = I.top_label_disparities(m).collect()
    assert len(raw) == 8
    deduped = I.top_label_disparities(m, dedupe=True).collect()
    assert len(deduped) == 4
    assert deduped[0]["count"] == 1
    # processed corpus.all: 2 directed pairs, 1 deduped with count 2
    mp = mentions_long(_all(corpus, "_p"))
    proc = I.top_label_disparities(mp).collect()
    assert len(proc) == 2
    proc_d = I.top_label_disparities(mp, dedupe=True).collect()
    assert len(proc_d) == 1
    assert proc_d[0]["count"] == 2


def test_label_disparities_and_fix_annotations_golden(spark):
    # the reference's inline 4-example fixture
    # (/root/reference/tests/test_corrections.py:11-23), text+span offsets
    raw = [
        ("Have you used the new version of my model?", [(36, 41, "SKILL")]),
        (
            "I'd like to work as an actor or model if possible.",
            [(23, 28, "JOB_ROLE"), (32, 37, "JOB_ROLE")],
        ),
        (
            "We are looking for a Software Development Engineer who has solid "
            "coding skills, a strong machine learning background, and is "
            "passionate about developing new AI products.",
            [(21, 50, "SKILL"), (65, 71, "SKILL"), (89, 105, "SKILL"),
             (142, 152, "SKILL"), (157, 159, "SKILL")],
        ),
        (
            "Responsibilities As a SOFTWARE DEVELOPMENT ENGINEER II you will "
            "work / collaborate with other talented engineers to build "
            "features and technologies that will affect millions of your "
            "fellow developers in the community.",
            [(22, 51, "JOB_ROLE"), (71, 82, "SKILL"), (103, 112, "JOB_ROLE"),
             (135, 147, "SKILL"), (189, 199, "JOB_ROLE")],
        ),
    ]
    rows = [
        (
            i,
            text,
            [
                {"text": text[s:e], "start": s, "end": e, "label": lab,
                 "token_start": None, "token_end": None, "kb_id": None,
                 "source": None}
                for s, e, lab in spans
            ],
        )
        for i, (text, spans) in enumerate(raw)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, spans array<struct<text: string,"
        "start: int, end: int, label: string, token_start: int,"
        "token_end: int, kb_id: string, source: string>>",
    )
    m = mentions_long(df)
    surfaces = {
        r["surface"]
        for r in I.label_disparities(m, "SKILL", "JOB_ROLE").collect()
    }
    assert surfaces == {"model", "software development engineer"}
    fixed = fix_annotations(
        df,
        corrections_from_dict(
            {"software development engineer": "JOB_ROLE", "model": None}
        ),
    )
    after = {
        r["surface"]
        for r in I.label_disparities(
            mentions_long(fixed), "SKILL", "JOB_ROLE"
        ).collect()
    }
    assert after == set()


def _mk_spans_df(spark, text, spans):
    rows = [
        (
            0,
            text,
            [
                {"text": t, "start": s, "end": e, "label": lab,
                 "token_start": None, "token_end": None, "kb_id": None,
                 "source": None}
                for t, s, e, lab in spans
            ],
        )
    ]
    return spark.createDataFrame(
        rows,
        "doc_id long, text string, spans array<struct<text: string,"
        "start: int, end: int, label: string, token_start: int,"
        "token_end: int, kb_id: string, source: string>>",
    )


def test_strip_annotations_golden(spark):
    """Reference test_strip_annotations exact output
    (/root/reference/tests/test_corrections.py:56-79)."""
    from recon_spark.operators.corrections import strip_annotations

    df = _mk_spans_df(
        spark,
        "This is an - entity more text and entity.",
        [("- entity", 11, 19, "ENTITY"), ("entity.", 34, 41, "ENTITY")],
    )
    out = strip_annotations(df).collect()[0]["spans"]
    got = [(s["text"], s["start"], s["end"], s["label"]) for s in out]
    assert got == [("entity", 13, 19, "ENTITY"), ("entity", 34, 40, "ENTITY")]


def test_split_sentences_golden(spark):
    """Reference test_split_sentences span re-basing
    (/root/reference/tests/test_corrections.py:81-183). Our splitter
    consumes the '. ' delimiter (the reference's spaCy sents keep the
    period on the sentence) — sentence text differs by that trailing
    period, span offsets and counts are identical."""
    from recon_spark.operators.corrections import split_sentences

    df = _mk_spans_df(
        spark,
        "This is a first sentence with entity. This is an entity in the 2nd sentence.",
        [("entity", 30, 36, "ENTITY"), ("entity", 49, 55, "ENTITY")],
    )
    rows = split_sentences(df, delimiter=". ").orderBy("sent_id").collect()
    assert len(rows) == 2
    s0 = [(s["text"], s["start"], s["end"]) for s in rows[0]["spans"]]
    s1 = [(s["text"], s["start"], s["end"]) for s in rows[1]["spans"]]
    assert s0 == [("entity", 30, 36)]
    assert s1 == [("entity", 11, 17)]  # re-based to sentence 2's origin
    assert rows[1]["text"] == "This is an entity in the 2nd sentence."


def test_ent_label_sub_golden(spark):
    """Reference test_ent_label_substitution exact offsets
    (/root/reference/tests/test_augmentation.py:6-39): substitute every
    ENTITY span with 'new entity' (single candidate ⇒ deterministic),
    all downstream offsets re-based."""
    from recon_spark.operators.augmentation import ent_label_sub

    df = _mk_spans_df(
        spark,
        "This is a first sentence with entity. This is an entity in the 2nd sentence.",
        [("entity", 30, 36, "ENTITY"), ("entity", 49, 55, "ENTITY")],
    )
    rows = ent_label_sub(df, "ENTITY", ["new entity"], n_augs=1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["text"] == (
        "This is a first sentence with new entity. This is an new entity in "
        "the 2nd sentence."
    )
    got = [(s["text"], s["start"], s["end"], s["label"]) for s in r["spans"]]
    assert got == [
        ("new entity", 30, 40, "ENTITY"),
        ("new entity", 53, 63, "ENTITY"),
    ]


def test_recognizer_self_evaluation_is_perfect(spark):
    """Reference test_recognizer: evaluating a recognizer against its own
    annotations scores P/R/F = 1.0 on every label
    (/root/reference/tests/test_recognizer.py:10-40)."""
    from pyspark.sql import functions as F

    from recon_spark.operators.extraction import detect_mentions
    from recon_spark.operators.scorer import evaluate_recognizer

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    both = detect_mentions(docs).withColumn("pred_spans", F.col("spans"))
    rows = evaluate_recognizer(both).collect()
    assert len(rows) > 1  # per-label rows + __ALL__
    for r in rows:
        assert (r["precision"], r["recall"], r["f1"]) == (1.0, 1.0, 1.0), r
        assert r["fp"] == 0 and r["fn"] == 0
