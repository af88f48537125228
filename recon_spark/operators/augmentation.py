"""Augmentation operators: one-to-many example generators.

Reference: /root/reference/recon/augmentation.py — substitute_spans
(:22-76, exact offset re-basing), augment_example (:79-113, <= n_augs
variants deduped by content hash), ent_label_sub (:116-158),
kb_expansion (:161-191, alias-dictionary substitutions).

Determinism divergence (documented, SURVEY.md §7.3.6): the reference
draws from the global numpy RNG; a distributed engine must not. Every
choice here is keyed on content: variant v of a span at (start,end) in
doc d substitutes candidate ((d * KNUTH + start + v) % len(candidates)).
Same inputs -> same augmentations, on any cluster, any partitioning.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recon_spark.core.spans import substitute_spans
from recon_spark.operators.sample import KNUTH
from recon_spark.schema import SPAN_ARROW, SPAN_DDL

_SPAN_FIELDS = ["text", "start", "end", "label", "token_start", "token_end", "kb_id", "source"]

# mask_1d keying constants (shared with the DuckDB oracle in
# recon_spark/queries/extra.py)
MASK_MIX = 2_246_822_519
MASK_MOD = 1_000_000_007


def mask_positions(n: int, prob: float, seed: int) -> set[int]:
    """Pure kernel: the positions selected by the deterministic 1-d mask.

    Reference semantics (recon/augmentation.py:9-19): a 0/1 mask of
    ``length`` with exactly ceil(length*prob) ones, uniformly shuffled
    via the global numpy RNG. A distributed engine must not depend on
    global RNG state (SURVEY.md §7.3.6), so the shuffle is re-expressed
    as a keyed rank: position j gets key (seed*KNUTH + j*MASK_MIX) %
    MASK_MOD, and the ceil(n*prob) positions with the smallest (key, j)
    are the ones. Same inputs -> same mask, on any cluster, any
    partitioning."""
    import math

    if prob < 0 or prob > 1:
        raise ValueError(
            f"Prob of {prob} is not allowed. Allowed values between 0 and 1."
        )
    if n <= 0:
        return set()
    n_ones = math.ceil(n * prob)
    # seed is reduced mod MASK_MOD first so the product stays < 2^63 —
    # the JVM/DuckDB replicas compute in 64-bit integers and must never
    # wrap; Python % and Spark pmod both yield non-negative remainders,
    # so negative seeds agree across engines too.
    s = seed % MASK_MOD
    keyed = sorted(((s * KNUTH + j * MASK_MIX) % MASK_MOD, j) for j in range(n))
    return {j for _, j in keyed[:n_ones]}


def with_mask_1d(
    df: DataFrame,
    n_expr: str,
    prob: float,
    seed_expr: str = "doc_id",
    out_col: str = "mask",
) -> DataFrame:
    """mask_1d as a per-row JVM column: ARRAY<BOOLEAN> of length
    ``n_expr`` with exactly ceil(n*prob) ones at the positions
    ``mask_positions`` selects (asserted equal in tests). array_sort on
    (key, j) structs ranks in O(n log n) per row; no shuffle, no
    Python."""
    if prob < 0 or prob > 1:
        raise ValueError(
            f"Prob of {prob} is not allowed. Allowed values between 0 and 1."
        )
    key = (
        f"pmod(pmod(CAST({seed_expr} AS BIGINT), {MASK_MOD}L) * {KNUTH}L "
        f"+ CAST(j AS BIGINT) * {MASK_MIX}L, {MASK_MOD}L)"
    )
    ones = (
        f"transform(slice(array_sort(transform(sequence(0, {n_expr} - 1), "
        f"j -> named_struct('k', {key}, 'j', j))), 1, "
        f"CAST(ceil(({n_expr}) * {prob}D) AS INT)), s -> s.j)"
    )
    mask = f"transform(sequence(0, {n_expr} - 1), j -> array_contains(__mask_ones, j))"
    return (
        df.withColumn(
            "__mask_ones",
            F.expr(f"IF({n_expr} > 0, {ones}, CAST(array() AS ARRAY<INT>))"),
        )
        .withColumn(
            out_col,
            F.expr(f"IF({n_expr} > 0, {mask}, CAST(array() AS ARRAY<BOOLEAN>))"),
        )
        .drop("__mask_ones")
    )


def _augment_rows(
    doc_id: int,
    text: str,
    spans: list[dict],
    target_label: str,
    candidates: list[str],
    n_augs: int,
    sub_prob: float = 1.0,
) -> list[tuple[int, int, str, list[dict]]]:
    """Pure kernel: deterministic substitution variants of one example.
    sub_prob < 1 masks the target spans (ordered by start) with
    mask_1d semantics — exactly ceil(n*prob) of them substituted,
    selection seeded by (doc_id, variant) — mirroring the reference's
    mask over spans (recon/augmentation.py:97)."""
    out = []
    seen = {text}
    targets = sorted(
        (s for s in spans if s["label"] == target_label), key=lambda s: s["start"]
    )
    if not targets:
        return out
    for v in range(n_augs):
        if sub_prob >= 1.0:
            chosen = targets
        else:
            keep = mask_positions(len(targets), sub_prob, doc_id + v)
            chosen = [s for j, s in enumerate(targets) if j in keep]
        repl = {}
        for s in chosen:
            idx = (doc_id * KNUTH + s["start"] + v) % len(candidates)
            repl[(s["start"], s["end"])] = candidates[idx]
        new_text, new_spans = substitute_spans(text, spans, repl)
        if new_text not in seen:  # content-hash dedupe (augmentation.py:91-111)
            seen.add(new_text)
            out.append((doc_id, v, new_text, new_spans))
    return out


def ent_label_sub(
    df: DataFrame,
    target_label: str,
    candidates: list[str],
    n_augs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    spans_col: str = "spans",
    sub_prob: float = 1.0,
) -> DataFrame:
    """recon.augment.ent_label_sub.v1: emit up to n_augs deterministic
    variants per example, substituting a mask_1d-selected ceil(n*sub_prob)
    of the target_label spans (all of them at the default sub_prob=1.0)
    and re-basing all downstream offsets. One-to-many mapInArrow."""
    import pyarrow as pa

    out_ddl = (
        f"{id_col} long, variant int, {text_col} string, {spans_col} {SPAN_DDL}"
    )

    def _gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            ids = batch.column(id_col).to_pylist()
            texts = batch.column(text_col).to_pylist()
            spans_in = batch.column(spans_col).to_pylist()
            o_id, o_v, o_text, o_spans = [], [], [], []
            for rid, t, spans in zip(ids, texts, spans_in):
                for did, v, nt, ns in _augment_rows(
                    rid, t, spans or [], target_label, candidates, n_augs, sub_prob
                ):
                    o_id.append(did)
                    o_v.append(v)
                    o_text.append(nt)
                    o_spans.append([{f: s.get(f) for f in _SPAN_FIELDS} for s in ns])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_id, pa.int64()),
                    pa.array(o_v, pa.int32()),
                    pa.array(o_text, pa.string()),
                    pa.array(o_spans, pa.list_(SPAN_ARROW)),
                ],
                [id_col, "variant", text_col, spans_col],
            )

    return df.mapInArrow(_gen, out_ddl)


def kb_expansion(
    df: DataFrame,
    n_augs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    spans_col: str = "spans",
) -> DataFrame:
    """recon.augment.kb_expansion.v1: substitute spans with aliases of the
    entity they link to (alias dictionary from the gazetteer KB)."""
    from collections import defaultdict

    from recon_spark.gazetteer import ALIASES

    by_entity: dict[str, list[str]] = defaultdict(list)
    best: dict[str, tuple[float, str]] = {}
    for alias, eid, _n, score in ALIASES:
        by_entity[eid].append(alias)
        cur = best.get(alias)
        if cur is None or (score, eid) > (cur[0], cur[1]):
            best[alias] = (score, eid)
    # candidates per label don't apply here; substitute each span whose
    # surface links to an entity with >1 alias, using the sibling aliases
    import pyarrow as pa

    out_ddl = (
        f"{id_col} long, variant int, {text_col} string, {spans_col} {SPAN_DDL}"
    )

    def _gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            ids = batch.column(id_col).to_pylist()
            texts = batch.column(text_col).to_pylist()
            spans_in = batch.column(spans_col).to_pylist()
            o_id, o_v, o_text, o_spans = [], [], [], []
            for rid, t, spans in zip(ids, texts, spans_in):
                spans = spans or []
                seen = {t}
                for v in range(n_augs):
                    repl = {}
                    for s in spans:
                        link = best.get(s["text"].lower())
                        if link is None:
                            continue
                        sibs = [a for a in by_entity[link[1]] if a != s["text"].lower()]
                        if not sibs:
                            continue
                        idx = (rid * KNUTH + s["start"] + v) % len(sibs)
                        repl[(s["start"], s["end"])] = sibs[idx]
                    if not repl:
                        continue
                    nt, ns = substitute_spans(t, spans, repl)
                    if nt not in seen:
                        seen.add(nt)
                        o_id.append(rid)
                        o_v.append(v)
                        o_text.append(nt)
                        o_spans.append([{f: s.get(f) for f in _SPAN_FIELDS} for s in ns])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_id, pa.int64()),
                    pa.array(o_v, pa.int32()),
                    pa.array(o_text, pa.string()),
                    pa.array(o_spans, pa.list_(SPAN_ARROW)),
                ],
                [id_col, "variant", text_col, spans_col],
            )

    return df.mapInArrow(_gen, out_ddl)
