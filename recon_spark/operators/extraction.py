"""Mention detection + SVO triple extraction (the recognizer analog).

Reference analog: ``EntityRecognizer.predict`` batch inference
(reference ``recon/recognizer.py:31-43, 111-138``).

Mention detection is one Arrow kernel, ``_scan_batch``. Per record batch
it builds each text's char->token map once, runs the regex of every
requested gazetteer side (``gold``: the annotation gazetteer, ``model``:
the degraded recognizer stand-in), looks up the labels and assembles the
span columns as flat Arrow arrays + list offsets (no per-span Python
dicts, no pandas boxing). Three ``mapInArrow`` entry points run it:

- ``detect_mentions`` — one side, appended as a span-array column;
- ``detect_mentions_both`` — gold and model in the same pass, sharing
  one Arrow transit and one token map per text;
- ``detect_mentions_long`` — one side as long-form (id, surface, label)
  rows, with no token map and no span structs.

The scan spec (gazetteer.py): maximal-munch left-to-right scan over
whitespace tokens, longest surface first. tests/test_extraction.py checks
the kernel against the token-loop scanner of tests/reference_impl.py; the
DuckDB oracles restate the spec in SQL.

Scale notes: extraction is embarrassingly parallel (per-row, no shuffle).
Upstream bucketing by url/doc-id hash keeps re-extraction deterministic and
co-located; nothing here widens the plan.
"""

from __future__ import annotations

import re
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recon_spark.gazetteer import (
    GAZ_AMBIG,
    GAZ_FIXED,
    MENTION_PATTERN,
    MODEL_AMBIG,
    MODEL_FIXED,
    MODEL_PATTERN,
    PREDICATES,
)
from recon_spark.schema import SPAN_ARROW, SPAN_STRUCT

# which -> (pattern, fixed labels, parity-dependent labels, span source)
_SIDES = {
    "gold": (MENTION_PATTERN, GAZ_FIXED, GAZ_AMBIG, "gazetteer"),
    "model": (MODEL_PATTERN, MODEL_FIXED, MODEL_AMBIG, "model"),
}
_NO_TOKENS: dict[int, int] = {}


def _scan_batch(batch, id_col, text_col, sides, spans=True) -> list:
    """Maximal-munch scan of one record batch for each of ``sides``
    (``(compiled regex, fixed, ambig, source)``), returning one
    ``list<struct>`` column per side, one list per row.

    With ``spans`` the struct is ``SPAN_ARROW``. Without, it is
    ``(surface, label)`` and no token map is built (long form)."""
    doc_ids = batch.column(id_col).to_pylist()
    texts = batch.column(text_col).to_pylist()
    pars = [int(d) % 2 for d in doc_ids]
    if spans:
        toks: list[dict[int, int]] = []
        for t in texts:  # char -> token map, shared by every side
            tok: dict[int, int] = {}
            pos = 0
            for tid, w in enumerate(t.split(" ")):
                tok[pos] = tid
                pos += len(w) + 1
            toks.append(tok)
    else:
        toks = [_NO_TOKENS] * len(texts)
    cols = []
    for rx, fixed, ambig, source in sides:
        offsets = [0]
        s_text: list = []
        s_start: list = []
        s_label: list = []
        s_ts: list = []
        for par, t, tok in zip(pars, texts, toks):
            for m in rx.finditer(t):
                surf = m.group(1)
                s_text.append(surf)
                lab = fixed.get(surf)
                s_label.append(lab if lab is not None else ambig[surf][par])
                if spans:
                    start = m.start(1)
                    s_start.append(start)
                    s_ts.append(tok.get(start, -1))
            offsets.append(len(s_text))
        text = pa.array(s_text, pa.string())
        label = pa.array(s_label, pa.string())
        if spans:
            start_a = pa.array(s_start, pa.int32())
            ts = pa.array(s_ts, pa.int32())
            n = len(text)
            struct_arr = pa.StructArray.from_arrays(
                [
                    text,
                    start_a,
                    pc.add(start_a, pc.utf8_length(text)),  # end
                    label,
                    ts,
                    pc.add(ts, pc.count_substring(text, " ")),  # token_end
                    pa.nulls(n, pa.string()),
                    pa.repeat(source, n),
                ],
                fields=list(SPAN_ARROW),
            )
        else:
            struct_arr = pa.StructArray.from_arrays([text, label], ["surface", "label"])
        cols.append(pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct_arr))
    return cols


def _compiled(*which: str) -> list[tuple]:
    return [(re.compile(p), f, a, s) for p, f, a, s in (_SIDES[w] for w in which)]


def _with_span_cols(df: DataFrame, *names: str) -> T.StructType:
    return T.StructType(
        df.schema.fields + [T.StructField(n, T.ArrayType(SPAN_STRUCT)) for n in names]
    )


def detect_mentions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    which: str = "gold",
    out_col: str = "spans",
) -> DataFrame:
    """Add a column of detected mentions (one ``mapInArrow`` pass); all
    input columns pass through untouched.

    which='gold' uses the annotation gazetteer; which='model' the
    degraded model gazetteer (the EntityRecognizer stand-in for the
    prediction-error / hardest-example harnesses).
    """

    def _extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sides = _compiled(which)
        for batch in batches:
            (spans,) = _scan_batch(batch, id_col, text_col, sides)
            yield batch.append_column(out_col, spans)

    return df.mapInArrow(_extract, _with_span_cols(df, out_col))


def detect_mentions_both(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gold_col: str = "spans",
    pred_col: str = "pred_spans",
) -> DataFrame:
    """Gold + model mention detection fused into ONE mapInArrow pass.

    The error-analysis queries (prediction_errors, hardest_examples,
    filter_overlaps) need both span sets per row; chaining two
    detect_mentions calls ships every text (and the first call's span
    column) through Arrow twice and tokenizes twice. Fusing shares the
    batch transit and the char->token map: measured ~1.7x on the dual
    path at sf0.1. Output asserted equal to the chained calls in
    tests/test_extraction.py."""

    def _extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sides = _compiled("gold", "model")
        for batch in batches:
            gold, pred = _scan_batch(batch, id_col, text_col, sides)
            yield batch.append_column(gold_col, gold).append_column(pred_col, pred)

    return df.mapInArrow(_extract, _with_span_cols(df, gold_col, pred_col))


def detect_mentions_long(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    which: str = "gold",
) -> DataFrame:
    """Mention detection emitting LONG FORM rows (doc_id, surface, label)
    directly from the Arrow kernel — for aggregation consumers this skips
    building + exploding the nested span structs in the JVM entirely
    (the Generate-over-struct copy was the memory-bandwidth hot spot).
    Row-count-changing mapInArrow; same scan as detect_mentions."""

    def _extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sides = _compiled(which)
        for batch in batches:
            (ms,) = _scan_batch(batch, id_col, text_col, sides, spans=False)
            ids = pc.take(batch.column(id_col), ms.value_parent_indices())
            flat = ms.values
            yield pa.RecordBatch.from_arrays(
                [ids.cast(pa.int64()), flat.field(0), flat.field(1)],
                [id_col, "surface", "label"],
            )

    return df.select(id_col, text_col).mapInArrow(
        _extract, f"{id_col} long, surface string, label string"
    )


def mentions_long(df_with_spans: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode spans → one row per mention (doc_id, surface, label).

    The span array is narrowed to a 2-field struct BEFORE the explode:
    generating 14M rows from 8-field nested structs is memory-bandwidth
    bound (measured 2x the CPU of the narrowed form at sf0.1 x100)."""
    return (
        df_with_spans.select(
            id_col,
            F.explode(
                F.expr("transform(spans, x -> struct(x.text AS surface, x.label AS label))")
            ).alias("s"),
        )
        .select(id_col, "s.surface", "s.label")
    )


def entity_unigrams() -> list[str]:
    return sorted(s for s in list(GAZ_FIXED) + list(GAZ_AMBIG) if " " not in s)


def extract_triples_tokens(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SVO triple extraction over raw tokens, pure JVM (no shuffle):
    consecutive (subj ∈ entities, pred ∈ predicates, obj ∈ entities)
    token windows. Returns (doc_id, subj, pred, obj, pos) long format.

    This is the demo/oracle-checkable form; the pages pipeline
    (recon_spark/triples.py) adds char-offset provenance and entity
    linking on top.
    """
    uni = entity_unigrams()
    uni_arr = "array(" + ", ".join(f"'{s}'" for s in uni) + ")"
    pred_arr = "array(" + ", ".join(f"'{s}'" for s in PREDICATES) + ")"
    w = "__w"
    expr = f"""
    filter(
      transform(
        CASE WHEN size({w}) >= 3 THEN sequence(1, size({w}) - 2)
             ELSE CAST(array() AS ARRAY<INT>) END,
        i -> named_struct(
               'subj', element_at({w}, i), 'pred', element_at({w}, i + 1),
               'obj', element_at({w}, i + 2), 'pos', i - 1)
      ),
      t -> array_contains({uni_arr}, t.subj)
           AND array_contains({pred_arr}, t.pred)
           AND array_contains({uni_arr}, t.obj)
    )
    """
    return (
        df.withColumn(w, F.split(F.col(text_col), " "))
        .select(id_col, F.explode(F.expr(expr)).alias("t"))
        .select(id_col, "t.subj", "t.pred", "t.obj", "t.pos")
    )
