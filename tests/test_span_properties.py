"""Property-based tests (hypothesis) for the pure span kernels in
recon_spark/core/spans.py — beyond the reference's golden-only strategy
(SURVEY.md §5: the reference has no property tests).

Invariants checked on arbitrary inputs:
- filter_overlaps: output is non-overlapping, sorted by (start, end), a
  subset of the input, maximal (no rejected span fits), and idempotent —
  also with zero-length spans, identical offsets from two sources and
  arrays not sorted by start.
- strip_annotation: offset invariant preserved; idempotent; never
  lengthens the span.
- substitute_spans: every output span satisfies
  span.text == text[start:end]; non-substituted text is preserved.
- split_sentences: sentences re-join to the original text; every
  surviving span satisfies the offset invariant within its sentence;
  each sentence's spans are sorted by start, also for unsorted input.
"""

import string

from hypothesis import given, settings, strategies as st

from recon_spark.core.spans import (
    filter_overlaps,
    spans_overlap,
    split_sentences,
    strip_annotation,
    substitute_spans,
)


@st.composite
def span_lists(draw, max_len=120, max_spans=12):
    n = draw(st.integers(1, max_len))
    spans = []
    for _ in range(draw(st.integers(0, max_spans))):
        a = draw(st.integers(0, n))
        b = draw(st.integers(a, n))  # a == b: zero-length span
        span = {
            "text": "x" * (b - a), "start": a, "end": b,
            "label": draw(st.sampled_from("ABC")),
            "source": draw(st.sampled_from(["gazetteer", "model"])),
        }
        spans.append(span)
        if draw(st.booleans()):  # the same offsets from the other source
            other = "model" if span["source"] == "gazetteer" else "gazetteer"
            spans.append({**span, "source": other})
    return n, draw(st.permutations(spans))


def span_key(s):
    return (s["start"], s["end"], s["label"], s["source"])


@given(span_lists())
@settings(max_examples=300, deadline=None)
def test_filter_overlaps_properties(case):
    _n, spans = case
    out = filter_overlaps(spans)
    # non-overlapping and sorted
    for i in range(1, len(out)):
        assert (out[i - 1]["start"], out[i - 1]["end"]) <= (out[i]["start"], out[i]["end"])
    for i, a in enumerate(out):
        for b in out[i + 1 :]:
            assert not spans_overlap(a["start"], a["end"], b["start"], b["end"])
    # subset of input (by identity key)
    keys = {span_key(s) for s in spans}
    assert all(span_key(s) in keys for s in out)
    # maximal: every dropped span overlaps something kept
    kept = [(s["start"], s["end"]) for s in out]
    out_keys = {span_key(s) for s in out}
    for s in spans:
        if span_key(s) not in out_keys:
            assert any(spans_overlap(s["start"], s["end"], a, b) for a, b in kept)
    # idempotent
    assert filter_overlaps(out) == out


@given(
    st.text(alphabet=string.ascii_lowercase + ".!?-: ", min_size=1, max_size=40),
    st.integers(0, 30),
)
@settings(max_examples=300, deadline=None)
def test_strip_annotation_properties(surface, start):
    span = {"text": surface, "start": start, "end": start + len(surface), "label": "X"}
    out = strip_annotation(span)
    if out is None:  # stripped to nothing: all chars were strip chars
        assert all(c in ".!?-: " for c in surface)
        return
    # surface/offset invariant: out.text is the [start,end) slice of a
    # virtual text where `surface` sits at [span.start, span.end)
    assert out["text"] == surface[out["start"] - start : out["end"] - start]
    assert len(out["text"]) == out["end"] - out["start"] > 0
    assert out["start"] >= start and out["end"] <= span["end"]
    # idempotent
    again = strip_annotation(dict(out))
    assert again == out


@st.composite
def doc_with_spans(draw):
    words = draw(
        st.lists(st.text(alphabet="abcd", min_size=1, max_size=5), min_size=1, max_size=15)
    )
    text = " ".join(words)
    # non-overlapping word-aligned spans
    spans = []
    pos = 0
    for w in words:
        if draw(st.booleans()):
            spans.append({"text": w, "start": pos, "end": pos + len(w), "label": "X"})
        pos += len(w) + 1
    return text, draw(st.permutations(spans))


@given(doc_with_spans(), st.lists(st.text(alphabet="xyz", min_size=1, max_size=6), min_size=1, max_size=3))
@settings(max_examples=300, deadline=None)
def test_substitute_spans_properties(case, repls):
    text, spans = case
    repl = {
        (s["start"], s["end"]): repls[i % len(repls)]
        for i, s in enumerate(spans)
        if i % 2 == 0
    }
    new_text, new_spans = substitute_spans(text, spans, repl)
    assert len(new_spans) == len(spans)
    for s in new_spans:
        assert s["text"] == new_text[s["start"] : s["end"]]
    if not repl:
        assert new_text == text


@given(doc_with_spans(), st.sampled_from([" a ", "b", ". "]))
@settings(max_examples=300, deadline=None)
def test_split_sentences_properties(case, delim):
    text, spans = case
    parts = split_sentences(text, spans, delimiter=delim)
    # sentences re-join to the original text
    assert delim.join(p[0] for p in parts) == text
    # every surviving span satisfies the offset invariant in its sentence,
    # and each sentence's spans come sorted by start
    for sent, sent_spans in parts:
        for s in sent_spans:
            assert s["text"] == sent[s["start"] : s["end"]]
        starts = [s["start"] for s in sent_spans]
        assert starts == sorted(starts)
    # no span is duplicated across sentences
    total = sum(len(p[1]) for p in parts)
    assert total <= len(spans)
