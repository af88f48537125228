"""Golden tests for the pure-Python span kernels, mirroring the
reference's observable semantics (overlap cases shaped like
tests/test_validation.py:37-105; strip/substitute offset arithmetic of
tests/test_corrections.py and tests/test_augmentation.py)."""

from recon_spark.core.spans import (
    align_spans_to_tokens,
    filter_overlaps,
    split_sentences,
    strip_annotation,
    substitute_spans,
    tokenize_ws,
)


def sp(start, end, label="L", text=None):
    return {"text": text or "x" * (end - start), "start": start, "end": end, "label": label}


def keys(spans):
    return [(s["start"], s["end"]) for s in spans]


class TestFilterOverlaps:
    def test_empty(self):
        assert filter_overlaps([]) == []

    def test_no_overlap_passthrough(self):
        spans = [sp(0, 3), sp(5, 9), sp(12, 20)]
        assert keys(filter_overlaps(spans)) == [(0, 3), (5, 9), (12, 20)]

    def test_identical_spans_keeps_one(self):
        assert keys(filter_overlaps([sp(0, 5), sp(0, 5)])) == [(0, 5)]

    def test_contained_keeps_longest(self):
        assert keys(filter_overlaps([sp(0, 10), sp(2, 5)])) == [(0, 10)]

    def test_partial_overlap_keeps_longest(self):
        assert keys(filter_overlaps([sp(0, 6), sp(4, 12)])) == [(4, 12)]

    def test_chain_of_three_greedy(self):
        # chain 0-6, 5-8, 7-15: longest 7-15 kept, then 0-6 fits
        assert keys(filter_overlaps([sp(0, 6), sp(5, 8), sp(7, 15)])) == [(0, 6), (7, 15)]

    def test_equal_length_tie_keeps_first(self):
        assert keys(filter_overlaps([sp(0, 5), sp(3, 8)])) == [(0, 5)]

    def test_two_separate_chains(self):
        spans = [sp(0, 4), sp(2, 6), sp(10, 14), sp(13, 20)]
        # chain 1 ties on length -> stable keep-first; chain 2 keeps longest
        assert keys(filter_overlaps(spans)) == [(0, 4), (13, 20)]

    def test_touching_spans_not_overlapping(self):
        # [0,5) and [5,9) share no char -> both kept
        assert keys(filter_overlaps([sp(0, 5), sp(5, 9)])) == [(0, 5), (5, 9)]

    def test_long_span_swallows_chain(self):
        spans = [sp(0, 20), sp(1, 3), sp(4, 8), sp(9, 19)]
        assert keys(filter_overlaps(spans)) == [(0, 20)]

    def test_zero_length_span_does_not_cut_chain(self):
        # (2,2) overlaps nothing but starts inside (0,5): (3,8) still
        # joins the chain and loses to the equally long (0,5)
        spans = [sp(0, 5), sp(2, 2), sp(3, 8)]
        assert keys(filter_overlaps(spans)) == [(0, 5), (2, 2)]


class TestStripAnnotation:
    def test_strip_both_ends(self):
        text = "the span. rest"
        s = {"text": " span.", "start": 3, "end": 9, "label": "L"}
        out = strip_annotation(s)
        assert (out["text"], out["start"], out["end"]) == ("span", 4, 8)
        assert text[out["start"] : out["end"]] == out["text"]

    def test_no_strip_needed(self):
        s = {"text": "span", "start": 0, "end": 4, "label": "L"}
        assert strip_annotation(s) == s

    def test_all_strip_chars_drops(self):
        assert strip_annotation({"text": "..! ", "start": 0, "end": 4, "label": "L"}) is None


class TestSubstituteSpans:
    def test_offsets_rebased(self):
        text = "I love apples and bananas"
        spans = [sp(7, 13, "FRUIT", "apples"), sp(18, 25, "FRUIT", "bananas")]
        new_text, new_spans = substitute_spans(
            text, spans, {(7, 13): "kiwi", (18, 25): "dragonfruit"}
        )
        assert new_text == "I love kiwi and dragonfruit"
        for s in new_spans:
            assert new_text[s["start"] : s["end"]] == s["text"]
        assert new_spans[0]["text"] == "kiwi"
        assert new_spans[1]["text"] == "dragonfruit"

    def test_identity_when_no_replacements(self):
        text = "a b c"
        spans = [sp(2, 3, "X", "b")]
        new_text, new_spans = substitute_spans(text, spans, {})
        assert new_text == text and keys(new_spans) == [(2, 3)]


class TestSplitSentences:
    def test_offsets_relative_to_sentence(self):
        text = "spark joins tables. data flows fast"
        spans = [sp(0, 5, "TECH", "spark"), sp(20, 24, "DATA", "data")]
        parts = split_sentences(text, spans)
        assert [p[0] for p in parts] == ["spark joins tables", "data flows fast"]
        s0, s1 = parts[0][1], parts[1][1]
        assert keys(s0) == [(0, 5)] and keys(s1) == [(0, 4)]
        for sent, spl in parts:
            for s in spl:
                assert sent[s["start"] : s["end"]] == s["text"]

    def test_boundary_crossing_span_dropped(self):
        text = "ab cd. ef"
        spans = [{"text": "cd. ef", "start": 3, "end": 9, "label": "X"}]
        parts = split_sentences(text, spans)
        assert all(not p[1] for p in parts)


class TestTokenize:
    def test_offsets(self):
        toks = tokenize_ws("ab  c def")
        assert toks == [("ab", 0, 2, 0), ("c", 4, 5, 1), ("def", 6, 9, 2)]

    def test_alignment_gate(self):
        toks = tokenize_ws("spark joins tables")
        ok = align_spans_to_tokens([sp(0, 5, "T", "spark")], toks)
        assert ok and ok[0]["token_start"] == 0 and ok[0]["token_end"] == 0
        misaligned = align_spans_to_tokens([sp(1, 4, "T", "par")], toks)
        assert misaligned is None


SPAN_FIELDS = ("text", "start", "end", "label", "token_start", "token_end", "kb_id", "source")


def span_row(text, start, end, label="L", source=None):
    return (text, start, end, label, None, None, None, source)


def span_dicts(spans):
    return [s.asDict() for s in spans]


def random_span_rows(seed, n_rows):
    """Rows of (doc_id, text, spans) drawn to hit where two overlap or
    sentence-split implementations can differ: zero-length spans,
    identical offsets from two sources, arrays not sorted by start."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n_rows):
        words = [rng.choice(["ab", "c", "de", "f", "ghi"]) for _ in range(rng.randint(1, 12))]
        text = " ".join(words)
        n = len(text)
        spans = []
        for _ in range(rng.randint(0, 8)):
            a = rng.randint(0, n)
            b = rng.randint(a, min(n, a + 6))
            src = rng.choice(["gazetteer", "model"])
            spans.append(span_row(text[a:b], a, b, rng.choice("AB"), src))
            if rng.random() < 0.3:  # same offsets from the other source
                other = "model" if src == "gazetteer" else "gazetteer"
                spans.append(span_row(text[a:b], a, b, rng.choice("AB"), other))
        rng.shuffle(spans)
        rows.append((i, text, spans))
    return rows


def spans_frame(spark, rows):
    from recon_spark.schema import SPAN_DDL

    return spark.createDataFrame(rows, f"doc_id long, text string, spans {SPAN_DDL}")


def test_filter_overlaps_matches_python_kernel(spark):
    """The JVM fold equals core.spans.filter_overlaps: on the three
    divergence inputs (written out), on random rows with zero-length
    spans, duplicate offsets and unsorted arrays, and on the gold+model
    overlap workload."""
    from pyspark.sql import functions as F

    from recon_spark.operators.extraction import detect_mentions_both
    from recon_spark.operators import validation as V

    cases = {
        # identical offsets, model span first: array position breaks the tie
        1: [span_row("spark", 0, 5, "B", "model"), span_row("spark", 0, 5, "A", "gazetteer")],
        # a zero-length span inside the chain
        2: [span_row("spark", 0, 5), span_row("", 2, 2), span_row("ark j", 3, 8)],
        # not sorted by start; an empty span sharing a start with a kept one
        3: [span_row("joins", 6, 11), span_row("", 6, 6), span_row("spark", 0, 5)],
    }
    want = {
        1: [("spark", 0, 5, "B", "model")],
        2: [("spark", 0, 5, "L", None), ("", 2, 2, "L", None)],
        3: [("spark", 0, 5, "L", None), ("", 6, 6, "L", None), ("joins", 6, 11, "L", None)],
    }
    text = "spark joins tables"
    got = {
        r["doc_id"]: [(s.text, s.start, s.end, s.label, s.source) for s in r["spans"]]
        for r in V.filter_overlaps(spans_frame(spark, [(k, text, v) for k, v in cases.items()])).collect()
    }
    assert got == want
    for k, spans in cases.items():
        py = filter_overlaps([dict(zip(SPAN_FIELDS, s)) for s in spans])
        assert [(s["text"], s["start"], s["end"], s["label"], s["source"]) for s in py] == want[k]

    rand = spans_frame(spark, random_span_rows(7, 400))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merged = detect_mentions_both(docs).select(
        "doc_id", "text", F.expr("concat(spans, pred_spans)").alias("spans")
    )
    for df in (rand, merged):
        rows = df.collect()
        out = {r["doc_id"]: span_dicts(r["spans"]) for r in V.filter_overlaps(df).collect()}
        assert len(out) == len(rows) > 0
        for r in rows:
            assert out[r["doc_id"]] == filter_overlaps(span_dicts(r["spans"])), r["doc_id"]


def test_split_sentences_matches_python_kernel(spark):
    """The JVM fold equals core.spans.split_sentences, which sorts each
    sentence's spans by start: on an unsorted array (written out), on
    random rows and on detected mentions."""
    from recon_spark.operators import corrections as C
    from recon_spark.operators.extraction import detect_mentions

    text = "ab cd. ef gh"
    unsorted = [
        span_row("gh", 10, 12), span_row("ab", 0, 2), span_row("ef", 7, 9), span_row("cd", 3, 5)
    ]
    got = [
        (r["sent_id"], r["text"], [(s.text, s.start, s.end) for s in r["spans"]])
        for r in C.split_sentences(spans_frame(spark, [(1, text, unsorted)]))
        .orderBy("sent_id").collect()
    ]
    want = [
        (0, "ab cd", [("ab", 0, 2), ("cd", 3, 5)]),
        (1, "ef gh", [("ef", 0, 2), ("gh", 3, 5)]),
    ]
    assert got == want
    py = split_sentences(text, [dict(zip(SPAN_FIELDS, s)) for s in unsorted])
    assert [(k, t, [(s["text"], s["start"], s["end"]) for s in sp]) for k, (t, sp) in enumerate(py)] == want

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mentions = detect_mentions(docs).select("doc_id", "text", "spans")
    for df, delim in (
        (spans_frame(spark, random_span_rows(11, 300)), " "),
        (spans_frame(spark, random_span_rows(13, 300)), "c "),
        (mentions, " the "),
    ):
        rows = df.collect()
        out: dict = {}
        for r in C.split_sentences(df, delimiter=delim).collect():
            out.setdefault(r["doc_id"], {})[r["sent_id"]] = (r["text"], span_dicts(r["spans"]))
        assert len(out) == len(rows) > 0
        for r in rows:
            py = split_sentences(r["text"], span_dicts(r["spans"]), delim)
            assert out[r["doc_id"]] == dict(enumerate(py)), r["doc_id"]


def test_add_tokens_matches_python_kernel(spark):
    """add_tokens' token ids equal core.spans.tokenize_ws +
    align_spans_to_tokens (extraction's token ids): repeated, leading
    and trailing spaces make no tokens (written out), and random
    multi-space texts agree row for row."""
    import random

    from recon_spark.operators.extraction import detect_mentions
    from recon_spark.operators.validation import add_tokens

    cases = [
        (1, "a  b c", [span_row("b", 3, 4)]),
        (2, " a b", [span_row("a", 1, 2), span_row("b", 3, 4)]),
    ]
    got = {
        r["doc_id"]: (
            [tuple(t) for t in r["tokens"]],
            [(s.text, s.token_start, s.token_end) for s in r["spans"]],
        )
        for r in add_tokens(spans_frame(spark, cases)).collect()
    }
    want = {
        1: ([("a", 0, 1, 0), ("b", 3, 4, 1), ("c", 5, 6, 2)], [("b", 1, 1)]),
        2: ([("a", 1, 2, 0), ("b", 3, 4, 1)], [("a", 0, 0), ("b", 1, 1)]),
    }
    assert got == want
    for i, text, spans in cases:
        toks = tokenize_ws(text)
        aligned = align_spans_to_tokens([dict(zip(SPAN_FIELDS, s)) for s in spans], toks)
        assert (toks, [(s["text"], s["token_start"], s["token_end"]) for s in aligned]) == want[i]

    rng = random.Random(5)
    rows = []
    for i in range(300):
        text = "".join(rng.choice(["ab", "c", " ", "  ", "d e"]) for _ in range(rng.randint(0, 10)))
        spans = []
        for _ in range(rng.randint(0, 3)):  # whole words align, others drop the row
            a = rng.randint(0, len(text))
            b = rng.randint(a, len(text))
            spans.append(span_row(text[a:b], a, b))
        rows.append((i, text, spans))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mentions = detect_mentions(docs).select("doc_id", "text", "spans")
    for df in (spans_frame(spark, rows), mentions):
        src = {r["doc_id"]: r for r in df.collect()}
        out = {r["doc_id"]: r for r in add_tokens(df, drop_misaligned=False).collect()}
        kept = {r["doc_id"] for r in add_tokens(df).select("doc_id").collect()}
        assert set(out) == set(src)
        for i, r in src.items():
            toks = tokenize_ws(r["text"])
            aligned = align_spans_to_tokens(span_dicts(r["spans"]), toks)
            assert [tuple(t) for t in out[i]["tokens"]] == toks
            assert (i in kept) == (aligned is not None)
            if aligned is not None:
                assert span_dicts(out[i]["spans"]) == aligned
    assert kept == set(src)  # every detected mention aligns
