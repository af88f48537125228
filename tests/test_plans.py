"""Physical-plan audits: assert the plans Catalyst produces are the ones
we'd want at 100 TB — filters pushed to the scan, dimension joins
broadcast, no Python in JVM-only paths, salted aggs two-stage."""

from pyspark.sql import functions as F

from recon_spark.operators.extraction import (
    extract_triples_tokens,
    mentions_long,
    detect_mentions,
)
from recon_spark.operators.linker import alias_df, link_mentions
from recon_spark.operators.stats import entity_coverage
from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def subtree(lines: list[str], i: int) -> list[str]:
    """The plan lines below node ``lines[i]`` (deeper tree indent)."""
    depth = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    below = []
    for line in lines[i + 1 :]:
        if len(line) - len(line.lstrip(" :+-")) <= depth:
            break
        below.append(line)
    return below


def with_literal_spans(docs):
    """A Python-free span column: each doc's first word as a span,
    plus one that starts mid-word (misaligned)."""
    span = (
        "named_struct('text', substring_index(text, ' ', 1), 'start', {s},"
        " 'end', length(substring_index(text, ' ', 1)), 'label', 'L',"
        " 'token_start', CAST(NULL AS INT), 'token_end', CAST(NULL AS INT),"
        " 'kb_id', CAST(NULL AS STRING), 'source', 'literal')"
    )
    return docs.withColumn(
        "spans", F.expr(f"array({span.format(s=0)}, {span.format(s=1)})")
    )


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").where(
        F.col("lang") == "en"
    ).select("doc_id", "n_chars")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: text (the wide column) must not be read
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_alias_join_is_broadcast(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    m = mentions_long(detect_mentions(docs))
    linked = link_mentions(m, alias_df(spark))
    assert "BroadcastHashJoin" in plan_of(linked)
    assert "SortMergeJoin" not in plan_of(linked)


def test_jvm_extraction_has_no_python_stage(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = plan_of(extract_triples_tokens(docs))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" not in plan  # wholly JVM: codegen-able project


def test_salted_coverage_is_two_stage(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    m = mentions_long(detect_mentions(docs))
    plan = plan_of(entity_coverage(m, salted=True))
    # two aggregation levels on distinct key sets: (surface,label,salt)
    # partials then (surface,label) finals -> >= 4 HashAggregate nodes,
    # salt visible as the pmod grouping expression
    assert plan.count("HashAggregate") >= 4
    assert "pmod(doc_id" in plan


def test_whole_stage_codegen_covers_triple_extraction(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = plan_of(extract_triples_tokens(docs))
    # executedPlan().toString() marks codegen stages with "*(n)"
    assert "*(1)" in plan


def test_lsh_signature_vectorized_no_shuffle_and_bit_equal(spark):
    """The Arrow kernel adds no shuffle, and its signature equals the
    spec computed with numpy on the collected vectors: bit j set iff
    vec @ plane_j > 0 in float64."""
    import numpy as np

    from recon_spark.operators.similarity import hyperplanes, with_lsh_signature

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    fast = with_lsh_signature(emb, dim=64, n_planes=16, vec_col="embedding")
    plan = plan_of(fast)
    assert "ArrowEvalPython" in plan  # vectorized numpy kernel
    assert "Exchange" not in plan  # still per-row: zero shuffle
    planes = np.asarray(hyperplanes(64, 16), dtype=np.float64)
    rows = fast.select("vec_id", "embedding", "lsh_sig").collect()
    for r in rows:
        bits = np.asarray(r["embedding"], dtype=np.float64) @ planes.T > 0
        assert r["lsh_sig"] == sum(1 << j for j in np.nonzero(bits)[0]), r["vec_id"]
    assert len({r["lsh_sig"] for r in rows}) > 1


def test_merge_corrected_join_is_broadcast(spark):
    from pyspark.sql import functions as F
    from recon_spark.operators.preprocess import merge_corrected

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corrected = (
        docs.where(F.col("doc_id") % 7 == 0).select("text").distinct()
        .withColumn("lang", F.lit("xx"))
    )
    plan = plan_of(merge_corrected(docs, corrected, key_col="text"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_add_tokens_is_jvm_only(spark):
    from recon_spark.operators.validation import add_tokens

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = plan_of(add_tokens(with_literal_spans(docs)))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # tokenize + align: per-row, zero shuffle


def test_filter_overlaps_adds_no_shuffle(spark):
    from pyspark.sql import functions as F
    from recon_spark.operators.extraction import detect_mentions
    from recon_spark.operators.validation import filter_overlaps

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    g = detect_mentions(docs)
    gp = detect_mentions(g, which="model", out_col="pred_spans")
    merged = gp.withColumn("spans", F.expr("concat(spans, pred_spans)")).select(
        "doc_id", "text", "spans"
    )
    plan = plan_of(filter_overlaps(merged))
    # extraction + per-row resolution: no Exchange anywhere in the plan
    assert "Exchange" not in plan


def test_filter_overlaps_jvm_has_no_python_stage(spark):
    from recon_spark.operators.validation import filter_overlaps

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = plan_of(filter_overlaps(with_literal_spans(docs)))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInArrow" not in plan and "Exchange" not in plan


def test_language_id_and_split_stats_are_jvm_single_shuffle(spark):
    from recon_spark.operators.textstats import language_id

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = plan_of(language_id(docs))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # per-row predicate: zero shuffle


def test_ivf_assignment_never_shuffles_centroids(spark):
    from recon_spark.operators.similarity import ivf_neardup_pairs

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    lines = plan_of(ivf_neardup_pairs(emb, threshold=0.45)).splitlines()
    # cell assignment is one Python stage holding the (small) centroid
    # set in its closure: nothing below it is an Exchange. The
    # within-cell self-join and the verify SHOULD shuffle on cent_id /
    # ids — cells are the parallelism unit at scale.
    stages = [i for i, line in enumerate(lines) if "MapInPandas _cells(" in line]
    assert stages
    for i in stages:
        below = subtree(lines, i)
        assert below and not any("Exchange" in line for line in below), "\n".join(below)


def test_exact_scan_never_broadcasts_vectors(spark):
    from recon_spark.operators.similarity import cosine_neardup_pairs

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    lines = plan_of(cosine_neardup_pairs(emb, threshold=0.45)).splitlines()
    # only the tile-pair table (ints) may be broadcast; the vectors
    # stream through the joins into the per-tile-pair kernel
    broadcasts = [i for i, line in enumerate(lines) if "BroadcastExchange" in line]
    assert broadcasts and "FlatMapGroupsInPandas" in "\n".join(lines)
    for i in broadcasts:
        assert not any("embedding#" in line for line in subtree(lines, i))


def test_fused_extraction_single_python_stage(spark):
    from recon_spark.operators.extraction import detect_mentions_both

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = plan_of(detect_mentions_both(docs))
    # ONE fused Arrow stage for gold+model — chaining two calls costs two
    assert plan.count("MapInArrow") == 1
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # per-row: zero shuffle


def test_prediction_errors_null_pred_label(spark):
    """Regression (ADVICE r1): a matched pred span with a NULL label must
    be reported as a mismatch, not silently dropped by `<>` semantics."""
    from recon_spark.operators.insights import prediction_errors_colocated

    df = spark.createDataFrame(
        [
            (
                1,
                [{"text": "spark", "start": 0, "end": 5, "label": "TECH",
                  "token_start": 0, "token_end": 0, "kb_id": None, "source": None}],
                [{"text": "spark", "start": 0, "end": 5, "label": None,
                  "token_start": 0, "token_end": 0, "kb_id": None, "source": None}],
            )
        ],
        "doc_id long, spans array<struct<text: string, start: int, end: int,"
        "label: string, token_start: int, token_end: int, kb_id: string,"
        "source: string>>, pred_spans array<struct<text: string, start: int,"
        "end: int, label: string, token_start: int, token_end: int,"
        "kb_id: string, source: string>>",
    )
    rows = prediction_errors_colocated(df).collect()
    assert len(rows) == 1
    assert rows[0]["true_label"] == "TECH" and rows[0]["pred_label"] is None


def test_bucketed_join_has_no_shuffle(spark):
    """Co-located bucketed join: both sides bucketed+sorted on doc_id
    with the same bucket count -> the join plan has NO Exchange (and no
    per-side Sort) — the pre-partitioning story the pipeline uses for
    its repeatedly-joined tables at scale."""
    from recon_spark.storage import write_bucketed

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    write_bucketed(docs.select("doc_id", "lang"), "t_bkt_a", "doc_id", n_buckets=8)
    write_bucketed(docs.select("doc_id", "n_chars"), "t_bkt_b", "doc_id", n_buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_bkt_a").join(spark.table("t_bkt_b"), "doc_id")
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket co-location: zero shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_aqe_splits_skewed_join(spark):
    """Runtime skew mitigation: a join where 98% of fact rows share one
    key must be re-planned by AQE into a skew-split SortMergeJoin
    (SortMergeJoin(skew=true) + 'AQEShuffleRead coalesced and skewed')
    — the backstop behind the pipeline's explicit salting for
    head-entity skew."""
    fact = spark.range(2_000_000).select(
        F.when(F.col("id") % 50 != 0, 0).otherwise(F.col("id")).alias("k"),
        F.concat(F.lit("x" * 64), F.col("id")).alias("pad"),
    )
    dim = spark.range(100_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1MB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = fact.join(dim, "k")
        qe = j._jdf.queryExecution()
        qe.executedPlan().execute().count()  # finalize THIS adaptive plan
        plan = qe.executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_language_id_ngram_is_jvm_only(spark):
    from recon_spark.operators.textstats import language_id_ngram

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = plan_of(language_id_ngram(docs))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # per-row substring counting: zero shuffle


def test_repetition_and_pii_are_jvm_only(spark):
    from recon_spark.operators.textstats import pii_redact, repetition_metrics

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for df in (repetition_metrics(docs), pii_redact(docs)):
        plan = plan_of(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # pii_redact is map-only: no exchange anywhere
    assert "Exchange" not in plan_of(pii_redact(docs))


def test_pagerank_iteration_is_single_new_shuffle(spark):
    """Each PageRank iteration adds exactly one aggregation over the
    reused contribution-edge frame; the rank join is broadcast-able and
    the dangling mass is a 1-row broadcast nested loop, so no iteration
    re-shuffles the edge set."""
    from recon_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], "src string, dst string"
    )
    plan = plan_of(pagerank(edges, iterations=2))
    assert "BatchEvalPython" not in plan
    # the materialized contribution frame appears as a checkpoint-RDD scan
    # (localCheckpoint — GC-released, unlike persist) or, under a plain
    # persist, InMemoryTableScan — either way the edge-side shuffle
    # happened once at materialization time, not per iteration
    assert "Scan ExistingRDD" in plan or "InMemoryTableScan" in plan


def test_kmeans_init_has_no_global_sort(spark):
    """R3: the IVF quantizer init must compile to a per-partition top-k
    (TakeOrderedAndProject), never a single-partition rank window — the
    one global sort the r2 design had in the family."""
    from recon_spark.operators.similarity import kmeans_init_frame

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    body = plan_of(kmeans_init_frame(emb, 32))
    assert "TakeOrderedAndProject" in body
    assert "Window" not in body
    assert "Exchange SinglePartition" not in body


def test_curation_funnel_warc_gates_evaluate_once(spark):
    """The funnel's survivor filter must NOT be alias-substituted and
    pushed into every DAG branch: without the groupBy(doc_id).first()
    barriers the full-PSL matcher (inlined into the 14-branch host
    CASE) reappears as a filter on five stages, each overflowing
    janino's 64KB method limit (whole-stage codegen falls back to the
    interpreter) and at scale recomputing the gate once per branch.
    Pin: the PSL InSet probes appear in exactly ONE place in the whole
    funnel plan — the blocklist gate's own projection."""
    from recon_spark.queries.pipeline import q_curation_funnel_warc

    df = q_curation_funnel_warc(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_inset = plan.count("INSET")
    assert n_inset > 0, "PSL matcher lost its InSet probes"
    from recon_spark.data.psl_snapshot import full_psl_rules
    from recon_spark.operators.webops import registered_domain

    ref = (
        registered_domain(
            spark.createDataFrame([("a.ne.jp",)], "host string"),
            psl=list(full_psl_rules()),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly TWO evaluation sites: the flags diamond has two consumers
    # (the cumulative-counts aggregate and the survivor branch feeding
    # triples), each replanning blk once — the unavoidable cost of an
    # uncached diamond, vs six-plus sites when pushdown duplicated the
    # matcher into every branch (the bug this test pins closed).
    assert n_inset == 2 * ref.count("INSET"), (
        f"PSL matcher duplicated across the funnel plan: {n_inset} INSET "
        f"probes vs {ref.count('INSET')} per evaluation site"
    )


def test_mined_alias_canonicalization_joins_are_broadcast(spark):
    """triples_mined_aliases: the mined dictionary is dictionary-sized,
    so BOTH canonicalization joins must broadcast — raw triples never
    shuffle for linking (the only wide exchange is the final rollup)."""
    from recon_spark.queries.pipeline import q_triples_mined_aliases

    plan = plan_of(q_triples_mined_aliases(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_sparql_literal_pred_prunes_partitions(spark, tmp_path):
    """The scale contract sparql.py's docstring claims: over a
    pred-partitioned triple store (the Iceberg partition-transform
    analog), a ground predicate in a SPARQL pattern must land in the
    scan's PartitionFilters — only that predicate's partition is read
    at 10^12-triple scale."""
    import re

    from recon_spark.operators.sparql import compile_sparql

    d = str(tmp_path / "pred_part")
    kg = spark.createDataFrame(
        [("a", "scan", "t1"), ("b", "join", "t2"), ("c", "agg", "x")] * 50,
        "subj string, pred string, obj string",
    )
    kg.write.partitionBy("pred").mode("overwrite").parquet(d)
    store = spark.read.parquet(d)
    q = compile_sparql(store, "SELECT ?s ?o WHERE { ?s <scan> ?o }")
    plan = q._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, "no PartitionFilters section in the scan"
    assert "= scan" in m.group(1), m.group(1)
    # a variable predicate must NOT invent a partition filter
    q2 = compile_sparql(store, "SELECT ?s ?p WHERE { ?s ?p ?o }")
    plan2 = q2._jdf.queryExecution().executedPlan().toString()
    m2 = re.search(r"PartitionFilters: \[([^\]]*)\]", plan2)
    assert m2 is None or "= " not in m2.group(1)


def test_rdfs_entailment_rule_joins_all_broadcast(spark):
    """Every T-Box rule application in rdfs_entail must be a broadcast
    hash join (the T-Box is schema-sized by contract); the only wide
    exchange is the final (subj, pred, obj) distinct."""
    from recon_spark.operators.reasoning import rdfs_entail

    abox = spark.createDataFrame(
        [("a", "scan", "b"), ("c", "join", "d")] * 20,
        "subj string, pred string, obj string",
    )
    plan = plan_of(rdfs_entail(spark, abox))
    assert plan.count("BroadcastHashJoin") >= 4  # sp, domain, range, sc
    assert "SortMergeJoin" not in plan


def test_lm_scoring_model_joins_are_broadcast(spark):
    """score_perplexity's production path ships the model to workers:
    all three model joins broadcast, document bigrams never shuffle
    (the one exchange is the per-doc logprob agg on doc_id)."""
    from recon_spark.operators.lm import score_perplexity, train_bigram_lm

    docs = spark.createDataFrame(
        [(i, "a b c a b") for i in range(50)], "doc_id long, text string"
    )
    model = train_bigram_lm(docs)
    plan = plan_of(score_perplexity(docs, model))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_bpe_merge_fold_is_exchange_free(spark):
    """Applying a merge to the dictionary is a pure map: no exchange in
    the fold's plan (pair counting and the argmax own the shuffles)."""
    from recon_spark.operators.bpe import merge_fold

    words = spark.createDataFrame(
        [(["l", "o", "w", "</w>"], 5)] * 10, "toks array<string>, freq long"
    )
    plan = plan_of(words.select(merge_fold("toks", "l", "o").alias("t"), "freq"))
    assert "Exchange" not in plan
