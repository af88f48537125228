"""The distributed triple factory: pages -> (subj, pred, obj) tables.

The end-to-end KG-construction pipeline (BASELINE.json north_star):

  pages(url, warc_ts, html, text, lang)
    -> url-hash bucketing (explicit repartition; Iceberg bucket(url)
       transform in production)
    -> Arrow-vectorized mention detection (operators.extraction)
    -> span-offset validation gate (operators.validation)
    -> JVM SVO triple extraction: the one window rule
       (operators.extraction), projected to char-offset provenance below
    -> canonicalization: subj/obj replaced by their top-1 alias entity
       (operators.linker, broadcast)
    -> partitioned (subj, pred, obj) table, idempotent MERGE into a
       SnapshotStore (storage.py) with per-partition lineage + metrics

Checkpointed resume: the output merge is keyed on the triple's content
key, so re-running the job after a crash re-derives and inserts only
missing rows (0 added on a clean re-run) — the Iceberg MERGE INTO analog
of the reference's replay-pending-ops on load (recon/dataset.py:353-382).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from recon_spark.operators.extraction import _svo_windows, detect_mentions
from recon_spark.operators.linker import alias_df, to_entity, top_aliases
from recon_spark.operators.validation import validate_span_offsets
from recon_spark.storage import SnapshotStore


def extract_triples_spans(
    df: DataFrame, id_col: str = "page_id", text_col: str = "text", url_col: str = "url"
) -> DataFrame:
    """SVO triples with char-offset provenance: the rows of the one SVO
    window rule (operators.extraction) projected to (page_id, url, subj,
    pred, obj, subj_span, obj_span). Offsets are computed only for
    matched windows, from the subj token index ``pos``: tokens are
    single-space separated, so subj starts one past the length of the
    ``pos`` tokens before it joined by spaces (0 for the first token).
    Pure JVM, zero shuffle."""
    t = _svo_windows(df, id_col, text_col, url_col, "__w")
    before = F.array_join(F.slice("__w", F.lit(1), F.col("pos")), " ")
    t = t.withColumn(
        "__s", F.when(F.col("pos") == 0, 0).otherwise(F.length(before) + 1)
    ).withColumn("__o", F.col("__s") + F.length("subj") + F.length("pred") + 2)

    def span(start: str, word: str) -> Column:
        return F.struct(
            F.col(start).alias("start"), (F.col(start) + F.length(word)).alias("end")
        )

    return t.select(
        id_col,
        url_col,
        "subj",
        "pred",
        "obj",
        span("__s", "subj").alias("subj_span"),
        span("__o", "obj").alias("obj_span"),
    )


def canonicalize_triples(spark: SparkSession, triples: DataFrame) -> DataFrame:
    """Map subj/obj surfaces to canonical entity ids through the top-1
    alias candidate (operators.linker); unlinkable surfaces keep their
    form."""
    best = top_aliases(alias_df(spark))
    t = to_entity(to_entity(triples, "subj", best), "obj", best)
    return t.select("subj", "pred", "obj", "url", "subj_span", "obj_span")


def build_triples(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_parts: int = 16,
) -> dict:
    """Run the full pipeline and MERGE results into the triple store at
    out_dir. Returns metrics incl. per-partition counts and lineage.
    Idempotent: a second run over the same pages adds 0 rows."""
    bucketed = pages.repartition(n_parts, F.xxhash64("url"))  # url-hash bucketing
    with_mentions = detect_mentions(bucketed, id_col="page_id", text_col="text")
    validated = validate_span_offsets(with_mentions)  # the ingest gate
    raw = extract_triples_spans(validated)
    canon = canonicalize_triples(spark, raw)
    final = canon.withColumn(
        "part_id", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
    ).withColumn(
        "triple_key",
        F.md5(
            F.concat_ws(
                "|", "url", "subj", "pred", "obj", F.col("subj_span.start").cast("string")
            )
        ),
    ).withColumn("content_hash", F.xxhash64("subj", "pred", "obj"))

    store = SnapshotStore(spark, out_dir, key_col="triple_key", hash_col="content_hash")
    res = store.merge(final, op_name="recon_spark.build_triples.v1")

    out = store.read()
    per_part = {
        int(r["part_id"]): int(r["n"])
        for r in out.groupBy("part_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return {
        "snapshot_id": res.snapshot_id,
        "added": res.added,
        "removed": res.removed,
        "changed": res.changed,
        "total_triples": out.count(),
        "per_partition": per_part,
        "n_partitions": n_parts,
    }
