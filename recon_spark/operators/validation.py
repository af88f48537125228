"""Validation operators: tokenization, span-offset gate, overlap filtering.

Reference: /root/reference/recon/tokenization.py:7-49 (add_tokens: attach
tokens, align spans, DROP examples whose spans don't align),
/root/reference/recon/validation.py:22-112 (filter_overlaps: greedy
keep-longest per overlapping chain), /root/reference/recon/types.py:85-96
(span-offset invariant: span.text == text[start:end]).

add_tokens + the offset invariant are pure JVM. filter_overlaps ships
two implementations asserted bit-equal: an Arrow-vectorized pandas UDF
over the shared pure-Python kernel in core/spans.py (identical
semantics on driver and executors), and filter_overlaps_jvm — the same
greedy as an array_sort + aggregate fold, zero Python, used on the hot
path. Both are shuffle-free.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from recon_spark.core.spans import filter_overlaps as _filter_overlaps_py
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
    where any span does not align to token boundaries."""
    tok_expr = f"""
    aggregate(
      split({text_col}, ' '),
      named_struct('pos', 0, 'i', 0, 'ts', CAST(array() AS {_TOKEN_DDL})),
      (acc, w) -> named_struct(
        'pos', acc.pos + length(w) + 1,
        'i', acc.i + 1,
        'ts', array_append(acc.ts, named_struct(
          'text', w, 'start', acc.pos, 'end', acc.pos + length(w), 'id', acc.i))),
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


def add_tokens_arrow(
    df: DataFrame,
    text_col: str = "text",
    spans_col: str = "spans",
    tokens_col: str = "tokens",
    drop_misaligned: bool = True,
) -> DataFrame:
    """add_tokens as a mapInArrow pass building flat Arrow arrays —
    linear per row, vs the JVM fold whose array_append accumulator is
    quadratic in token count (1.8x at sf0.1's ~85-token docs; the gap
    widens with document length, so prefer this on long-document
    corpora and the all-JVM fold when plans must stay Python-free).
    Bit-equal to add_tokens (asserted in tests); same zero-shuffle
    shape. Uses the shared tokenize_ws/align kernel from core/spans."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from recon_spark.core.spans import align_spans_to_tokens, tokenize_ws
    from recon_spark.schema import SPAN_ARROW, TOKEN_ARROW, TOKEN_STRUCT

    drop_idx = [i for i, f in enumerate(df.schema.fields) if f.name == tokens_col]
    base_fields = [f for f in df.schema.fields if f.name != tokens_col]
    out_schema = T.StructType(base_fields + [T.StructField(tokens_col, T.ArrayType(TOKEN_STRUCT))])
    span_fields = ["text", "start", "end", "label", "token_start", "token_end", "kb_id", "source"]

    def _gen(batches):
        for batch in batches:
            texts = batch.column(text_col).to_pylist()
            spans_in = batch.column(spans_col).to_pylist()
            keep: list[int] = []
            toks_out: list = []
            spans_out: list = []
            for i, (t, spans) in enumerate(zip(texts, spans_in)):
                toks = tokenize_ws(t)
                aligned = align_spans_to_tokens(
                    [dict(s) for s in (spans or [])], toks
                )
                if aligned is None:
                    if drop_misaligned:
                        continue
                    aligned = [dict(s) for s in (spans or [])]
                keep.append(i)
                toks_out.append(
                    [{"text": w, "start": a, "end": b, "id": tid} for w, a, b, tid in toks]
                )
                spans_out.append([{f: s.get(f) for f in span_fields} for s in aligned])
            idx = pa.array(keep, pa.int32())
            cols = []
            names = []
            for f in base_fields:
                if f.name == spans_col:
                    cols.append(pa.array(spans_out, pa.list_(SPAN_ARROW)))
                else:
                    cols.append(batch.column(f.name).take(idx))
                names.append(f.name)
            cols.append(pa.array(toks_out, pa.list_(TOKEN_ARROW)))
            names.append(tokens_col)
            yield pa.RecordBatch.from_arrays(cols, names)

    return df.drop(tokens_col).mapInArrow(_gen, out_schema) if drop_idx else df.mapInArrow(_gen, out_schema)


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


def filter_overlaps_jvm(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Greedy keep-longest-per-overlapping-chain entirely in JVM:
    array_sort by (length DESC, start, end, source) then an aggregate()
    fold appending each span iff it clashes with nothing kept — the
    exact higher-order-function dual of the pandas kernel (asserted
    equal in tests/test_span_core.py). Per-chain greedy equals this
    globally-ordered greedy because chains are independent overlap
    components. Zero Python, zero shuffle; preferred on the hot path."""
    cmp_priority = f"""
    array_sort({spans_col}, (l, r) -> CASE
      WHEN (l.end - l.start) > (r.end - r.start) THEN -1
      WHEN (l.end - l.start) < (r.end - r.start) THEN 1
      WHEN l.start < r.start THEN -1 WHEN l.start > r.start THEN 1
      WHEN l.end < r.end THEN -1 WHEN l.end > r.end THEN 1
      WHEN l.source < r.source THEN -1 WHEN l.source > r.source THEN 1
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
    array_sort({greedy}, (l, r) ->
      CASE WHEN l.start < r.start THEN -1 WHEN l.start > r.start THEN 1 ELSE 0 END)
    """
    return df.withColumn(spans_col, F.expr(by_start))


def filter_overlaps(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Resolve overlapping spans per row: greedy keep-longest per
    overlapping chain (Arrow-batched; kernel shared with the driver-side
    oracle in core/spans.py, golden cases from the reference's
    tests/test_validation.py replicated in tests/test_span_core.py)."""

    @F.pandas_udf(SPAN_DDL)
    def _resolve(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for spans_series in batches:
            yield pd.Series(
                [
                    _filter_overlaps_py([dict(s) for s in spans] if spans is not None else [])
                    for spans in spans_series
                ],
                dtype=object,
            )

    return df.withColumn(spans_col, _resolve(F.col(spans_col)))
