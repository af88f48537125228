"""Validation operators: tokenization, span-offset gate, overlap filtering.

Reference: /root/reference/recon/tokenization.py:7-49 (add_tokens: attach
tokens, align spans, DROP examples whose spans don't align),
/root/reference/recon/validation.py:22-112 (filter_overlaps: greedy
keep-longest per overlapping chain), /root/reference/recon/types.py:85-96
(span-offset invariant: span.text == text[start:end]).

All three are pure JVM higher-order functions: per-row, zero Python,
zero shuffle. add_tokens and filter_overlaps match the pure-Python
kernels in core/spans.py (tokenize_ws + align_spans_to_tokens,
filter_overlaps) on every input; tests/test_span_core.py checks them
against those kernels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from recon_spark.schema import SPAN_DDL

_TOKEN_DDL = "ARRAY<STRUCT<text: STRING, start: INT, end: INT, id: INT>>"


def add_tokens(
    df: DataFrame,
    text_col: str = "text",
    spans_col: str = "spans",
    tokens_col: str = "tokens",
    drop_misaligned: bool = True,
) -> DataFrame:
    """Whitespace-tokenize with char offsets (JVM aggregate fold), attach
    token_start/token_end to spans, and (like the reference) drop rows
    where any span does not align to token boundaries. The empty words
    that repeated, leading or trailing spaces leave are not tokens, so
    token ids equal core.spans.tokenize_ws (extraction's token_start /
    token_end)."""
    tok_expr = f"""
    aggregate(
      split({text_col}, ' '),
      named_struct('pos', 0, 'i', 0, 'ts', CAST(array() AS {_TOKEN_DDL})),
      (acc, w) -> named_struct(
        'pos', acc.pos + length(w) + 1,
        'i', acc.i + IF(length(w) > 0, 1, 0),
        'ts', IF(length(w) > 0, array_append(acc.ts, named_struct(
          'text', w, 'start', acc.pos, 'end', acc.pos + length(w), 'id', acc.i)),
          acc.ts)),
      acc -> acc.ts
    )
    """
    out = df.withColumn(tokens_col, F.expr(tok_expr))
    align_expr = f"""
    transform({spans_col}, s -> named_struct(
      'text', s.text, 'start', s.start, 'end', s.end, 'label', s.label,
      'token_start', try_element_at(filter({tokens_col}, t -> t.start = s.start), 1).id,
      'token_end', try_element_at(filter({tokens_col}, t -> t.end = s.end), 1).id,
      'kb_id', s.kb_id, 'source', s.source))
    """
    out = out.withColumn(spans_col, F.expr(align_expr))
    if drop_misaligned:
        out = out.where(
            F.expr(
                f"forall({spans_col}, s -> s.token_start IS NOT NULL AND s.token_end IS NOT NULL)"
            )
        )
    return out


def span_offsets_valid(text_col: str = "text", spans_col: str = "spans") -> Column:
    """Column predicate: every span satisfies
    span.text == substring(text, start+1, end-start) — the reference's
    pydantic span-text validator as a DataFrame assertion."""
    return F.expr(
        f"forall({spans_col}, s -> s.text = substring({text_col}, s.start + 1, s.end - s.start))"
    )


def validate_span_offsets(df: DataFrame, text_col: str = "text", spans_col: str = "spans") -> DataFrame:
    """Keep only rows passing the span-offset invariant (the ingest gate)."""
    return df.where(span_offsets_valid(text_col, spans_col))


def filter_overlaps(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Resolve overlapping spans per row: greedy keep-longest per
    overlapping chain, output sorted by (start, end). array_sort by
    (length DESC, start, end) then an aggregate() fold appending each
    span iff it clashes with nothing kept. Per-chain greedy equals this
    globally-ordered greedy because no span overlaps one in another
    chain. array_sort is stable, so full ties keep array order: the
    first of two identical spans wins, as in core.spans.filter_overlaps
    (golden cases from the reference's tests/test_validation.py in
    tests/test_span_core.py)."""
    cmp_priority = f"""
    array_sort({spans_col}, (l, r) -> CASE
      WHEN (l.end - l.start) > (r.end - r.start) THEN -1
      WHEN (l.end - l.start) < (r.end - r.start) THEN 1
      WHEN l.start < r.start THEN -1 WHEN l.start > r.start THEN 1
      WHEN l.end < r.end THEN -1 WHEN l.end > r.end THEN 1
      ELSE 0 END)
    """
    greedy = f"""
    aggregate(
      {cmp_priority},
      CAST(array() AS {SPAN_DDL}),
      (acc, x) -> CASE WHEN exists(acc,
            k -> least(k.end, x.end) - greatest(k.start, x.start) > 0)
          THEN acc ELSE array_append(acc, x) END)
    """
    by_start = f"""
    array_sort({greedy}, (l, r) -> CASE
      WHEN l.start < r.start THEN -1 WHEN l.start > r.start THEN 1
      WHEN l.end < r.end THEN -1 WHEN l.end > r.end THEN 1
      ELSE 0 END)
    """
    return df.withColumn(spans_col, F.expr(by_start))
