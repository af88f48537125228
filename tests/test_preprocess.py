"""compute_once caching, prodigy-style merge, IOB tag reconstruction."""

from pyspark.sql import functions as F

from recon_spark.io import from_hf_dataset
from recon_spark.operators.preprocess import compute_once, merge_corrected


def test_compute_once_runs_fn_per_distinct_key(spark):
    df = spark.createDataFrame(
        [(i, "dup text" if i % 2 == 0 else f"text {i}") for i in range(10)],
        "id long, text string",
    )
    calls = spark.sparkContext.accumulator(0)

    def fn(d):
        @F.udf("int")
        def probe(t):
            calls.add(1)
            return len(t)

        return d.withColumn("n", probe("text"))

    out = compute_once(df, "text", fn, ["n"]).collect()
    assert len(out) == 10
    assert all(r["n"] == len(r["text"]) for r in out)
    assert calls.value == 6  # 5 distinct odd texts + 1 shared even text


def test_merge_corrected_prefers_correction(spark):
    df = spark.createDataFrame(
        [("a", "OLD1"), ("b", "OLD2"), ("c", "OLD3")], "text string, label string"
    )
    corr = spark.createDataFrame([("b", "NEW")], "text string, label string")
    out = {r["text"]: r["label"] for r in merge_corrected(df, corr).collect()}
    assert out == {"a": "OLD1", "b": "NEW", "c": "OLD3"}


def _hf_spans(spark, rows):
    """from_hf_dataset over (id, tokens, string IOB tags) rows:
    {id: (text, [(text, start, end, label, token_start, token_end)])}."""
    src = spark.createDataFrame(rows, "id long, tokens array<string>, ner_tags array<string>")
    return {
        r.id: (r.text, [(s.text, s.start, s.end, s.label, s.token_start, s.token_end) for s in r.spans])
        for r in from_hf_dataset(spark, src).collect()
    }


def test_iob_to_spans_reconstruction(spark):
    text = "apache spark beats plain mapreduce says the dev"
    tags = ["B-TECH", "I-TECH", "O", "O", "B-TECH", "O", "O", "B-ROLE"]
    got_text, spans = _hf_spans(spark, [(1, text.split(" "), tags)])[1]
    assert got_text == text
    assert [(s[0], s[3], s[4], s[5]) for s in spans] == [
        ("apache spark", "TECH", 0, 1),
        ("mapreduce", "TECH", 4, 4),
        ("dev", "ROLE", 7, 7),
    ]
    for s in spans:
        assert text[s[1] : s[2]] == s[0]


def test_iob_repair_orphan_i_tag(spark):
    # IOB2 repair: orphan I- starts a new span (reference re-derivation)
    _, spans = _hf_spans(spark, [(1, ["x", "spark", "y"], ["O", "I-TECH", "O"])])[1]
    assert [(s[1], s[2], s[3]) for s in spans] == [(2, 7, "TECH")]


def test_bpe_token_counts_on_punctuation(spark):
    """BPE-ish pre-tokenizer splits contractions, punctuation runs, and
    digit runs — cross-checked against DuckDB RE2 in the oracle suite;
    here the exact counts on punctuation-rich strings."""
    from recon_spark.operators.textstats import token_counts

    df = spark.createDataFrame(
        [(0, "don't stop! 123 abc-def"), (1, "hello world"), (2, "a'll b're c,d;e")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"]) for r in token_counts(df).collect()}
    assert rows == {0: (4, 8), 1: (2, 2), 2: (3, 9)}


def test_from_hf_dataset_roundtrip_arrow_table(spark):
    """HF-style (tokens, int ClassLabel tags) -> examples shape: text,
    char offsets, and spans reconstructed from the IOB tags
    (reference Dataset.from_hf_dataset, recon/dataset.py:494-526)."""
    import pyarrow as pa

    tbl = pa.table(
        {
            "id": [0, 1, 2],
            "tokens": [
                ["John", "Smith", "visited", "New", "York"],
                ["nothing", "here"],
                ["Acme", "Corp", "hired", "Jane"],  # B-ORG I-ORG O B-PER
            ],
            "ner_tags": [[1, 2, 0, 3, 4], [0, 0], [5, 6, 0, 1]],
        }
    )
    labels = ["O", "B-PER", "I-PER", "B-LOC", "I-LOC", "B-ORG", "I-ORG"]
    rows = {
        r.id: r
        for r in from_hf_dataset(spark, tbl, labels=labels).collect()
    }
    assert rows[0].text == "John Smith visited New York"
    assert [
        (s.text, s.start, s.end, s.label, s.token_start, s.token_end)
        for s in rows[0].spans
    ] == [
        ("John Smith", 0, 10, "PER", 0, 1),
        ("New York", 19, 27, "LOC", 3, 4),
    ]
    assert rows[1].spans == []
    assert [(s.text, s.label) for s in rows[2].spans] == [
        ("Acme Corp", "ORG"),
        ("Jane", "PER"),
    ]
    # token offsets: end - start == token length, ids sequential
    for r in rows.values():
        for i, t in enumerate(r.tokens):
            assert t.end - t.start == len(t.text) and t.id == i


def test_from_hf_dataset_string_tags_and_parquet_path(spark, tmp_path):
    src = spark.createDataFrame(
        [(0, ["a", "bb", "ccc"], ["B-X", "I-X", "O"])],
        "id long, tokens array<string>, ner_tags array<string>",
    )
    p = str(tmp_path / "hf.parquet")
    src.write.parquet(p)
    rows = from_hf_dataset(spark, p).collect()
    assert rows[0].text == "a bb ccc"
    assert [(s.text, s.start, s.end) for s in rows[0].spans] == [("a bb", 0, 4)]


def test_from_hf_dataset_edge_cases(spark):
    """IOB2 repair, orphan I-, back-to-back B-, a span open at the end,
    a malformed tag, an empty row and a null token, as expected rows."""
    got = _hf_spans(
        spark,
        [
            (0, ["John", "Smith", "visited", "New", "York"],
             ["B-PER", "I-PER", "O", "B-LOC", "I-LOC"]),
            (1, ["a"], ["O"]),
            (2, [], []),
            # I- with a new label starts fresh; I- after O too
            (3, ["x", "y", "z", "w"], ["B-A", "I-B", "O", "I-C"]),
            # back-to-back B-, trailing open span at sequence end
            (4, ["p", "q", "r"], ["B-A", "B-A", "I-A"]),
            # malformed tag treated as O
            (5, ["m", "n"], ["B-A", "WAT"]),
            # a null token becomes ''
            (6, ["a", None, "b"], ["B-X", "I-X", "I-X"]),
        ],
    )
    assert got == {
        0: ("John Smith visited New York",
            [("John Smith", 0, 10, "PER", 0, 1), ("New York", 19, 27, "LOC", 3, 4)]),
        1: ("a", []),
        2: ("", []),
        3: ("x y z w",
            [("x", 0, 1, "A", 0, 0), ("y", 2, 3, "B", 1, 1), ("w", 6, 7, "C", 3, 3)]),
        4: ("p q r", [("p", 0, 1, "A", 0, 0), ("q r", 2, 5, "A", 1, 2)]),
        5: ("m n", [("m", 0, 1, "A", 0, 0)]),
        6: ("a  b", [("a  b", 0, 4, "X", 0, 2)]),
    }
