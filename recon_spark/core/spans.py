"""Pure-Python span algorithms shared by driver-side oracles and executors.

They are the specs that the JVM span operators (operators/validation.py,
operators/corrections.py) and extraction's token ids are tested
against, and the per-row kernel of augmentation's Arrow operators
(substitute_spans). Plain functions over plain dicts: unit-testable
without Spark, no pydantic / object overhead inside UDF batches.

Semantics mirror the reference's observable behavior:
- overlap resolution: greedy keep-longest per overlapping chain
  (/root/reference/recon/validation.py:22-112, golden cases in
  /root/reference/tests/test_validation.py:37-105)
- strip_annotations: trim strip-chars from both ends, adjusting offsets
  (/root/reference/recon/corrections.py:142-176)
- substitute_spans: splice replacements, re-basing downstream offsets
  (/root/reference/recon/augmentation.py:22-76)

Spans are dicts {text,start,end,label,...}; offsets are Python char
offsets [start, end).
"""

from __future__ import annotations

from typing import Any

Span = dict[str, Any]


def spans_overlap(a_start: int, a_end: int, b_start: int, b_end: int) -> bool:
    return min(a_end, b_end) - max(a_start, b_start) > 0


def _select_longest_from_chain(chain: list[Span]) -> list[Span]:
    """Greedy: repeatedly keep the longest span that doesn't clash with an
    already-kept one. Ties broken by original chain order (stable sort),
    matching the reference's observable output on its golden cases."""
    by_len = sorted(chain, key=lambda s: s["end"] - s["start"], reverse=True)
    kept: list[Span] = []
    for cand in by_len:
        if not any(
            spans_overlap(cand["start"], cand["end"], k["start"], k["end"]) for k in kept
        ):
            kept.append(cand)
    return kept


def filter_overlaps(spans: list[Span]) -> list[Span]:
    """Resolve overlapping spans: keep-longest per overlapping chain,
    output sorted by (start, end). A span joins the chain when it starts
    inside the chain's extent, so a zero-length span inside it does not
    cut the chain in two."""
    if not spans:
        return []
    ordered = sorted(spans, key=lambda s: (s["start"], s["end"]))
    out: list[Span] = []
    chain: list[Span] = [ordered[0]]
    chain_end = ordered[0]["end"]
    for cur in ordered[1:]:
        if cur["start"] < chain_end:
            chain.append(cur)
            chain_end = max(chain_end, cur["end"])
        else:
            out.extend(_select_longest_from_chain(chain))
            chain = [cur]
            chain_end = cur["end"]
    out.extend(_select_longest_from_chain(chain))
    return sorted(out, key=lambda s: (s["start"], s["end"]))


DEFAULT_STRIP_CHARS = (".", "!", "?", "-", ":", " ")


def strip_annotation(span: Span, strip_chars=DEFAULT_STRIP_CHARS) -> Span | None:
    """Trim leading/trailing strip-chars from the span surface, moving
    start/end accordingly. Returns None if the span strips to nothing
    (the reference IndexErrors on that input; we drop the span — valid
    inputs behave identically)."""
    text, start, end = span["text"], span["start"], span["end"]
    i, j = 0, len(text)
    while i < j and text[i] in strip_chars:
        i += 1
    while j > i and text[j - 1] in strip_chars:
        j -= 1
    if i >= j:
        return None
    out = dict(span)
    out["text"] = text[i:j]
    out["start"] = start + i
    out["end"] = start + j
    return out


def substitute_spans(
    text: str, spans: list[Span], replacements: dict[tuple[int, int], str]
) -> tuple[str, list[Span]]:
    """Replace the surface of selected spans (keyed by (start,end)) with new
    text, shifting all downstream span offsets so every span still satisfies
    span.text == text[start:end]."""
    new_parts: list[str] = []
    new_spans: list[Span] = []
    cursor = 0  # position in old text
    offset = 0  # cumulative shift
    for span in sorted(spans, key=lambda s: (s["start"], s["end"])):
        key = (span["start"], span["end"])
        new_parts.append(text[cursor : span["start"]])
        surface = replacements.get(key, span["text"])
        out = dict(span)
        out["text"] = surface
        out["start"] = span["start"] + offset
        out["end"] = span["start"] + offset + len(surface)
        new_spans.append(out)
        new_parts.append(surface)
        offset += len(surface) - (span["end"] - span["start"])
        cursor = span["end"]
    new_parts.append(text[cursor:])
    return "".join(new_parts), new_spans


def split_sentences(
    text: str, spans: list[Span], delimiter: str = ". "
) -> list[tuple[str, list[Span]]]:
    """Split text into sentences on a delimiter, re-basing span offsets
    relative to each sentence start (reference analog:
    recon/corrections.py:179-233, which uses spaCy sents; our pages corpus
    uses deterministic '. ' sentence boundaries so the splitter is exact).
    Spans crossing a sentence boundary are dropped (the reference's
    char_span returns None for them)."""
    out: list[tuple[str, list[Span]]] = []
    base = 0
    raw = text.split(delimiter)
    for k, sent in enumerate(raw):
        sent_len = len(sent)
        sent_spans = []
        for s in spans:
            if s["start"] >= base and s["end"] <= base + sent_len:
                ns = dict(s)
                ns["start"] = s["start"] - base
                ns["end"] = s["end"] - base
                sent_spans.append(ns)
        out.append((sent, sorted(sent_spans, key=lambda s: s["start"])))
        base += sent_len + len(delimiter)
    return out


def tokenize_ws(text: str) -> list[tuple[str, int, int, int]]:
    """Whitespace tokenizer with char offsets: (text, start, end, id).
    Deterministic stand-in for the reference's spaCy tokenizer
    (recon/tokenization.py:7-49) on our space-separated corpora."""
    toks = []
    pos = 0
    tid = 0
    for part in text.split(" "):
        if part:
            toks.append((part, pos, pos + len(part), tid))
            tid += 1
        pos += len(part) + 1
    return toks


def align_spans_to_tokens(
    spans: list[Span], tokens: list[tuple[str, int, int, int]]
) -> list[Span] | None:
    """Attach token_start/token_end to each span; return None if any span
    does not align to token boundaries (the reference drops such examples:
    recon/tokenization.py:33-47)."""
    starts = {t[1]: t[3] for t in tokens}
    ends = {t[2]: t[3] for t in tokens}
    out = []
    for s in spans:
        ts = starts.get(s["start"])
        te = ends.get(s["end"])
        if ts is None or te is None:
            return None
        ns = dict(s)
        ns["token_start"] = ts
        ns["token_end"] = te
        out.append(ns)
    return out
