"""spark-submit entrypoint for the KG-construction pipeline.

Production launch (the BASELINE.json north_rule launch story):

    ZIP=$(python -c "from recon_spark.deploy import build_pyfiles_zip; \\
print(build_pyfiles_zip())")
    spark-submit --py-files "$ZIP" scripts/run_pipeline.py \\
        --pages /data/crawl/pages --out /data/kg/triples --parts 1024

Local / dev form (synthesizes the deterministic demo corpus):

    PYTHONPATH=. python -m recon_spark --n-pages 1000000 \\
        --out /tmp/kg --parts 256

Reads pages(url, warc_ts, html, text, lang), runs extraction →
validation → SVO triples → canonicalization → idempotent MERGE, and
prints one JSON metrics line (rows added, per-partition lineage).
"""

from __future__ import annotations

import argparse
import json
import sys


def stats_main(argv: list[str]) -> int:
    """`recon stats` analog (reference recon/cli/stats.py:13-64): per-split
    ner stats over the examples table plus the pairwise label-distribution
    JS similarities, as one JSON line. Splits come from the `source`
    column. Plan shape: ONE grouped job collects (split, label, count)
    incl. the NOT_LABELED bucket — that table is O(splits x labels)
    metadata, so the full pairwise JS matrix is computed on the driver
    (a loop of per-pair Spark jobs measured 190 jobs on a 20-split
    corpus; same numbers as the distributed
    label_distribution_similarity, asserted in tests)."""
    ap = argparse.ArgumentParser(prog="recon_spark stats")
    ap.add_argument("--docs", required=True, help="documents parquet path")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    import math

    from pyspark.sql import functions as F

    from recon_spark.operators.extraction import detect_mentions
    from recon_spark.operators.scratch import scratch
    from recon_spark.session import get_spark

    spark = get_spark(app_name="recon_spark_stats", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from recon_spark.deploy import ensure_pyfiles

        ensure_pyfiles(spark)
        docs = spark.read.parquet(args.docs)
        d = scratch(detect_mentions(docs))  # shared by both aggregates
        per_split = {
            r["source"]: {
                "n_examples": r["n_examples"],
                "n_examples_no_entities": r["n_examples_no_entities"],
                "n_annotations": r["n_annotations"],
            }
            for r in d.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_examples"),
                F.sum((F.size("spans") == 0).cast("long")).alias(
                    "n_examples_no_entities"
                ),
                F.sum(F.size("spans")).alias("n_annotations"),
            )
            .collect()
        }
        # (split, label, count) incl. NOT_LABELED — one grouped job
        label_counts = (
            d.select(
                "source",
                F.explode(
                    F.when(
                        F.size("spans") > 0, F.expr("transform(spans, s -> s.label)")
                    ).otherwise(F.array(F.lit("NOT_LABELED")))
                ).alias("label"),
            )
            .groupBy("source", "label")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        dist: dict[str, dict[str, float]] = {}
        for r in label_counts:
            dist.setdefault(r["source"], {})[r["label"]] = float(r["n"])

        def js_sim(ca: dict[str, float], cb: dict[str, float]) -> float:
            ta, tb = sum(ca.values()), sum(cb.values())
            labels = set(ca) | set(cb)
            js = 0.0
            for lab in labels:
                p = ca.get(lab, 0.0) / ta if ta else 0.0
                q = cb.get(lab, 0.0) / tb if tb else 0.0
                m = (p + q) / 2.0
                if p > 0:
                    js += 0.5 * p * math.log(p / m)
                if q > 0:
                    js += 0.5 * q * math.log(q / m)
            # mathematically js >= 0, but the signed terms can cancel to
            # ~-1e-17 in float for near-identical distributions
            return round(100.0 * (1.0 - math.sqrt(max(js, 0.0))), 6)

        splits = sorted(per_split)
        sims = {
            f"{a}/{b}": js_sim(dist.get(a, {}), dist.get(b, {}))
            for i, a in enumerate(splits)
            for b in splits[i + 1 :]
        }
        print(json.dumps({"splits": per_split, "label_distribution_similarity": sims}))
        return 0
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "stats":
        return stats_main(argv[1:])
    ap = argparse.ArgumentParser(prog="recon_spark")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="path to a pages parquet/table")
    src.add_argument("--n-pages", type=int, help="synthesize N demo pages")
    ap.add_argument("--out", required=True, help="triple store output dir")
    ap.add_argument("--parts", type=int, default=16, help="output partitions")
    ap.add_argument("--master", default=None, help="override spark master")
    ap.add_argument(
        "--export-nq",
        default=None,
        metavar="DIR",
        help="also export the materialized triples as gzipped N-Quads "
        "shards (graph term = source page url) — the Web Data Commons "
        "interchange layout",
    )
    ap.add_argument(
        "--entail",
        default=None,
        metavar="DIR",
        help="also materialize the RDFS closure of the stored triples "
        "(rules rdfs2/3/5/7/9/11 over the built-in T-Box) as a "
        "pred-partitioned parquet table — the partition layout ground "
        "SPARQL predicates prune against",
    )
    args = ap.parse_args(argv)

    from recon_spark.session import get_spark
    from recon_spark.triples import build_triples

    spark = get_spark(app_name="recon_spark_pipeline", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    try:
        from recon_spark.deploy import ensure_pyfiles

        ensure_pyfiles(spark)
        if args.pages:
            pages = spark.read.parquet(args.pages)
        else:
            from recon_spark.pages import generate_pages

            pages = generate_pages(spark, args.n_pages)
        metrics = build_triples(spark, pages, args.out, n_parts=args.parts)
        if args.export_nq:
            from recon_spark.rdf import serialize_triples, write_ntriples
            from recon_spark.storage import SnapshotStore

            store = SnapshotStore(
                spark, args.out, key_col="triple_key", hash_col="content_hash"
            )
            write_ntriples(
                serialize_triples(store.read(), graph="url", encode_graph=True),
                args.export_nq,
                compression="gzip",
            )
            metrics["export_nq"] = args.export_nq
        if args.entail:
            from recon_spark.operators.reasoning import rdfs_entail
            from recon_spark.storage import SnapshotStore

            store = SnapshotStore(
                spark, args.out, key_col="triple_key", hash_col="content_hash"
            )
            # store rows repeat facts across pages/spans -> prededup on
            ent = rdfs_entail(
                spark, store.read().select("subj", "pred", "obj")
            )
            ent.repartition("pred").write.partitionBy("pred").mode(
                "overwrite"
            ).parquet(args.entail)
            metrics["entail"] = args.entail
            metrics["entailed_rows"] = spark.read.parquet(args.entail).count()
        print(json.dumps(metrics, default=str))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
