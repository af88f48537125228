"""Preprocessor utilities: compute-once caching for expensive UDFs.

Reference: SpacyPreProcessor's per-text doc cache
(/root/reference/recon/preprocess.py:68-97) — when many rows share the
same text (dedupe-heavy corpora, retried crawls), run the expensive
model once per DISTINCT text and join results back, instead of once per
row. The distributed form: distinct -> UDF -> broadcast-or-shuffle
rejoin, profitable whenever duplication factor x UDF cost exceeds the
join cost.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def compute_once(
    df: DataFrame,
    key_col: str,
    fn: Callable[[DataFrame], DataFrame],
    out_cols: list[str],
) -> DataFrame:
    """Apply ``fn`` (which adds ``out_cols`` to a DataFrame of distinct
    ``key_col`` values) once per distinct key, then join results back to
    every original row."""
    distinct = df.select(key_col).distinct()
    computed = fn(distinct).select(key_col, *out_cols)
    return df.join(computed, key_col, "left")


def merge_corrected(
    df: DataFrame, corrected: DataFrame, key_col: str = "text"
) -> DataFrame:
    """Replace rows with their human-corrected version keyed by text
    (recon.prodigy.merge_examples.v1,
    /root/reference/recon/prodigy/recipes.py:214-221): left join +
    coalesce, corrected wins."""
    shared = [c for c in corrected.columns if c != key_col and c in df.columns]
    ren = corrected.select(
        key_col, *[F.col(c).alias(f"__corr_{c}") for c in shared]
    )
    out = df.join(F.broadcast(ren), key_col, "left")
    for c in shared:
        out = out.withColumn(c, F.coalesce(F.col(f"__corr_{c}"), F.col(c))).drop(
            f"__corr_{c}"
        )
    return out
