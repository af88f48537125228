"""Graph analytics over the materialized (subj, pred, obj) table:
PageRank-style entity salience and degree statistics.

The reference's insight layer ranks entities by raw mention counts
(recon/stats.py get_entity_coverage, recon/insights.py); a knowledge
graph built at Common-Crawl scale additionally needs *link-structure*
salience — which entities the graph itself points at — to prioritize
canonicalization review and linker-dictionary curation. PageRank over
the canonical edge set is the standard answer.

Scale design (1000-executor reading 100 TB of triples):
- the edge set is distinct (src, dst) pairs, pre-joined ONCE with
  out-degree and persisted: every iteration reuses the same shuffle
  partitioning on src (one hash exchange per iteration for the
  groupBy(dst), nothing else moves).
- ranks is |V| rows — orders of magnitude smaller than |E| — so the
  per-iteration rank join is broadcast-able; Spark's AQE picks the
  broadcast side at runtime from the measured size.
- dangling mass is a 1-row aggregate crossed back in (broadcast
  nested-loop of a single row), not a driver collect.
- iteration count is FIXED (default 5) and every stored rank is
  rounded to 6 decimals, so the computation is deterministic and
  bit-reproducible in ANSI SQL (same unrolled-CTE technique as the
  trained k-means quantizer in operators/similarity.py).

Iterations use DataFrame lineage, not checkpoints: 5 fixed iterations
keep the plan shallow. For deep iteration counts, pin each K rounds
with operators/scratch.py (whose ``iterate`` loop drives
dedupe.connected_components' label propagation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from recon_spark.operators.scratch import scratch

DAMPING = 0.85
PR_ITERATIONS = 5
PR_ROUND = 6


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = PR_ITERATIONS,
    damping: float = DAMPING,
) -> DataFrame:
    """PageRank over the directed graph of distinct (src, dst) edges
    (self-loops dropped). Returns (entity, rank) with rank rounded to
    6 decimals after every iteration — the rounding is part of the
    spec so the DuckDB oracle reproduces values exactly.

    rank_0 = round(1/N, 6)
    rank_{t+1}(u) = round((1-d)/N + d*(sum_in contrib + dangling/N), 6)

    where contrib(v->u) = rank_t(v)/out_deg(v) and dangling is the
    total rank on nodes with no out-edges (redistributed uniformly).
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # pinned: these frames are referenced every iteration in the
    # returned lazy plan
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(scratch)
    )
    n = nodes.count()  # single scalar action; |V| is a long, not data
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0)).select(
            F.col("node").alias("entity"), "rank"
        )
    outd = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("od"))
    # pre-join contribution weights once; every iteration reuses this frame
    contrib_e = e.join(outd, "src").transform(scratch)
    dangling_nodes = nodes.join(
        outd, nodes.node == outd.src, "left_anti"
    ).transform(scratch)

    ranks = nodes.withColumn("rank", F.lit(round(1.0 / n, PR_ROUND)))
    base = (1.0 - damping) / n
    # |V|-sized frames (ranks, contribs) are NOT broadcast: at a few
    # million nodes they compress under the autoBroadcast threshold but
    # the hash-relation build is GBs (measured OOM at 2M nodes), and at
    # KG scale |V| never fits. shuffle_hash keeps every per-iteration
    # join a co-partitioned hash join — one edge-frame exchange per
    # iteration, the canonical distributed-PageRank cost — while
    # avoiding sort-merge's per-iteration edge sort.
    for _ in range(iterations):
        contribs = (
            contrib_e.join(ranks.hint("shuffle_hash"), contrib_e.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("od")).alias("contrib"))
        )
        dm = dangling_nodes.join(ranks.hint("shuffle_hash"), "node").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        ranks = (
            nodes.join(contribs.hint("shuffle_hash"), nodes.node == contribs.dst, "left")
            .crossJoin(dm)  # 1-row broadcast, not a driver collect
            .select(
                "node",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("contrib", F.lit(0.0)) + F.col("dm") / F.lit(float(n))),
                    PR_ROUND,
                ).alias("rank"),
            )
        )
    return ranks.select(F.col("node").alias("entity"), "rank").orderBy(
        F.desc("rank"), "entity"
    )


def degree_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Degree histogram over the distinct-edge graph: for each total
    degree (in + out, self-loops dropped), how many entities have it.
    The KG-quality profile: a healthy extraction shows a long-tailed
    histogram; a bugged linker collapses everything into one hub.

    One explode-free union + two aggregations; both shuffles are on
    short keys with map-side partial aggregation."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    ends = e.select(F.col("src").alias("node")).unionAll(
        e.select(F.col("dst").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_entities"))
        .orderBy("degree")
    )


def cooccurrence_pmi(
    entity_docs: DataFrame,
    doc_col: str = "doc_id",
    entity_col: str = "entity",
    min_pairs: int = 2,
    round_to: int = PR_ROUND,
) -> DataFrame:
    """PMI-weighted entity co-occurrence edges: for every unordered pair
    of canonical entities appearing in the same document, pmi =
    round(ln(N * docs(a,b) / (docs(a) * docs(b))), 6) where N is the
    number of documents with at least one entity.

    This is the statistical-relation layer the reference's disparity
    detection (recon/insights.py:47-110 surfaces annotated with two
    labels) generalizes to: co-mention strength between *entities*
    rather than label conflicts per surface form.

    Scale design (100 TB corpus, 1000 executors):
    - pair generation is PER ROW, pure JVM: collect_set per doc, sorted,
      then an upper-triangle nested ``transform`` — no self-join, so the
      quadratic blowup is bounded per document, not per shuffle. A doc
      with m entities emits m*(m-1)/2 rows map-side; web pages have
      small m (gazetteer-bounded), so this stays linear in corpus size.
    - the pair aggregation shuffles short (a, b) string keys with full
      map-side combine; head pairs (stopword-like entities) collapse in
      the partial aggregate exactly like entity_coverage's salted path.
    - marginals are |V| rows (gazetteer-bounded vocabulary) — broadcast
      to both sides of the pair frame; no shuffle for the PMI join.
    - N is one scalar count action (a long on the driver, not data).
    """
    ment = (
        entity_docs.select(
            F.col(doc_col).alias("doc_id"), F.col(entity_col).alias("entity")
        )
        .distinct()
        .transform(scratch)
    )
    n_docs = ment.select("doc_id").distinct().count()
    if n_docs == 0:
        schema = "a string, b string, pair_docs bigint, pmi double"
        return entity_docs.sparkSession.createDataFrame([], schema)
    per_doc = ment.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("entity")).alias("es")
    )
    # upper-triangle pairs, per row, zero Python
    pairs_expr = """
    flatten(transform(es, (x, i) ->
      transform(slice(es, i + 2, size(es)), y ->
        named_struct('a', x, 'b', y))))
    """
    pair_counts = (
        per_doc.select(F.explode(F.expr(pairs_expr)).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("pair_docs"))
    )
    marg = ment.groupBy("entity").agg(F.count(F.lit(1)).alias("c"))
    out = (
        pair_counts.where(F.col("pair_docs") >= min_pairs)
        .join(F.broadcast(marg.withColumnRenamed("entity", "a").withColumnRenamed("c", "ca")), "a")
        .join(F.broadcast(marg.withColumnRenamed("entity", "b").withColumnRenamed("c", "cb")), "b")
        .select(
            "a",
            "b",
            "pair_docs",
            F.round(
                F.log(
                    F.lit(float(n_docs))
                    * F.col("pair_docs")
                    / (F.col("ca") * F.col("cb"))
                ),
                round_to,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pair_docs"), F.desc("pmi"), "a", "b")
    )
    return out


def two_hop_paths(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_fanout: int | None = None,
) -> DataFrame:
    """Two-hop path counts over the distinct canonical edge set:
    (src, dst, n_paths) where n_paths = number of intermediate nodes m
    with src -> m -> dst edges; self-loops and src == dst round trips
    excluded. The KG link-prediction primitive: high two-hop count with
    no direct edge is a candidate missing fact.

    Scale design: the self-join shuffles both edge copies on the
    MIDDLE node — hub entities are the skew risk, and a hub with
    out-degree d_out and in-degree d_in emits d_in * d_out paths.
    ``max_fanout`` bounds that quadratic term: each middle node keeps
    only its first ``max_fanout`` in- and out-neighbors (deterministic:
    ordered by neighbor id), turning the worst case into
    max_fanout^2 per hub. Pass None (default) for the exact
    oracle-checkable form; at 100-TB scale run with max_fanout ~1000
    plus AQE skew-join splitting as the backstop.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    e_out, e_in = e, e
    if max_fanout is not None:
        from pyspark.sql import Window

        e_out = (
            e.withColumn(
                "rk",
                F.row_number().over(Window.partitionBy("src").orderBy("dst")),
            )
            .where(F.col("rk") <= max_fanout)
            .drop("rk")
        )
        e_in = (
            e.withColumn(
                "rk",
                F.row_number().over(Window.partitionBy("dst").orderBy("src")),
            )
            .where(F.col("rk") <= max_fanout)
            .drop("rk")
        )
    a = e_in.select(F.col("src").alias("path_src"), F.col("dst").alias("mid"))
    b = e_out.select(F.col("src").alias("mid"), F.col("dst").alias("path_dst"))
    return (
        a.join(b, "mid")
        .where(F.col("path_src") != F.col("path_dst"))
        .groupBy(F.col("path_src").alias("src"), F.col("path_dst").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "src", "dst")
    )


def current_facts(
    triples: DataFrame,
    ts_col: str = "ts",
    pos_col: str = "pos",
) -> DataFrame:
    """Temporal KG materialization: the LATEST asserted object per
    (subj, pred) — ties broken by in-document position, then object —
    with the assertion timestamp carried as ``valid_from``.

    This is the "current state" view a consumer of the triple store
    reads; the full triples table remains the append-only history
    (the reference's analog: ExampleStore keeps every version, the
    Dataset view shows the latest, recon/store.py:39-47).

    Scale design: ONE aggregation with full map-side combine —
    ``max_by(struct(obj, ts), struct(ts, pos, obj))`` is a commutative
    partial-aggregatable max, so head (subj, pred) keys collapse in
    the partial aggregate; no window sort, no per-key row shuffle
    beyond one combined row per partition per key.
    """
    key = F.struct(F.col(ts_col), F.col(pos_col), F.col("obj"))
    picked = triples.groupBy("subj", "pred").agg(
        F.max_by(F.struct(F.col("obj"), F.col(ts_col).alias("vf")), key).alias("w")
    )
    return picked.select(
        "subj", "pred", F.col("w.obj").alias("obj"), F.col("w.vf").alias("valid_from")
    ).orderBy("subj", "pred")


def functional_conflicts(triples: DataFrame) -> DataFrame:
    """Functional-predicate conflict detection: (subj, pred) keys whose
    extracted triples disagree on the object — the KG-level analog of
    the reference's label-disparity insight (recon/insights.py:47-71:
    the same surface annotated with conflicting labels). A functional
    predicate should map each subject to ONE object; multiple distinct
    objects flag either extraction noise or a predicate that is not
    functional — both are curation queues.

    Per conflicting (subj, pred): n_objs (distinct objects), support
    (total triple count), and top_obj — the majority object, tie-broken
    to the lexicographically smallest, computed as a single
    ``min(struct(-cnt, obj))`` so the whole derivation is two map-side
    combinable aggregates on short keys (obj-level count, then the
    (subj, pred) rollup). No window sort, no join, no Python; the 10^12
    -page triple stream collapses at the first partial aggregate.
    """
    c = triples.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        c.groupBy("subj", "pred")
        .agg(
            F.count(F.lit(1)).alias("n_objs"),
            F.sum("cnt").alias("support"),
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("obj"))).alias("w"),
        )
        .where(F.col("n_objs") > 1)
        .select(
            "subj",
            "pred",
            "n_objs",
            "support",
            F.col("w.obj").alias("top_obj"),
        )
        .orderBy(F.desc("n_objs"), "subj", "pred")
    )


def triangle_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle census over the undirected canonical graph:
    one row (n_nodes, n_edges, n_wedges, n_triangles, clustering) —
    the KG-health profile that tells a curation team whether the
    extracted graph has real community structure or is extraction
    noise (noise graphs are wedge-rich and triangle-poor).

    Scale design — the degree-orientation trick: every undirected edge
    is oriented from its lower-(degree, id) endpoint to the higher, so
    each triangle is counted exactly once at its lowest-degree corner
    and the wedge join fans out from LOW-degree vertices only (a
    celebrity node with 10^6 neighbors generates no wedges from
    itself; the naive per-node wedge join would emit 10^12 rows for
    it). The closing-edge check is one more equi-join against the
    oriented edge set. Wedge totals come from the degree aggregate in
    closed form, not from materializing wedges.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n")).unionAll(e.select("v"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): lower endpoint -> higher endpoint
    ed = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lower_first, F.col("du")).otherwise(F.col("dv")).alias("da"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )
    # wedges from the low corner, canonicalized so the closing edge is
    # checked in its own oriented direction ((deg, id) order)
    o1 = oriented.select(F.col("a").alias("s"), F.col("b").alias("x"),
                         F.col("db").alias("dx"))
    o2 = oriented.select(F.col("a").alias("s"), F.col("b").alias("y"),
                         F.col("db").alias("dy"))
    wedges = o1.join(o2, "s").where(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("d") / F.lit(2)).cast("long").alias("n_edges"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("long").alias("n_wedges"),
    )
    return stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
        ).alias("clustering"),
    )


def kg_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot delta between two (subj, pred, obj, n) triple rollups:
    per-status counts for added / removed / count_changed / unchanged
    — the KG materialization analog of the reference's per-operation
    lineage counts (recon/types.py transformation tracking: examples
    added/removed/changed per apply_), computed with one full-outer
    join on the triple key. The CI gate for incremental rebuilds: a
    re-extract over an unchanged corpus must show added=removed=
    count_changed=0.
    """
    j = old.withColumnRenamed("n", "n_old").join(
        new.withColumnRenamed("n", "n_new"),
        ["subj", "pred", "obj"],
        "full_outer",
    )
    status = (
        F.when(F.col("n_old").isNull(), F.lit("added"))
        .when(F.col("n_new").isNull(), F.lit("removed"))
        .when(F.col("n_old") != F.col("n_new"), F.lit("count_changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_triples"))
        .orderBy("status")
    )


def neighbor_merge_candidates(
    edges: DataFrame,
    threshold: float = 0.25,
    src: str = "src",
    dst: str = "dst",
    max_posting: int | None = None,
) -> DataFrame:
    """Structural entity dedup: canonical entities whose OUT-neighbor
    sets overlap (Jaccard >= threshold) are merge candidates — two ids
    that the alias dictionary failed to unify but that the graph says
    are the same thing. The structural complement of resolve_surfaces
    (which only sees the surface string).

    Scale design: pairs come from an inverted index on the shared
    neighbor (one shuffle on dst, pair counts map-side combinable),
    never an all-pairs join. |A ∪ B| is closed-form from the two
    degrees, so no set materialization. A hub neighbor pointed at by
    k entities emits k^2/2 candidate rows — ``max_posting`` keeps the
    first max_posting sources per neighbor (deterministic, ordered by
    id) to bound that; default None is the exact oracle-checkable
    form, at crawl scale run with max_posting ~10^3 (hub neighbors
    like 'wikipedia.org' carry no merge signal anyway).
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .where(F.col("s") != F.col("t"))
        .distinct()
    )
    if max_posting is not None:
        from pyspark.sql import Window

        e = (
            e.withColumn(
                "rk", F.row_number().over(Window.partitionBy("t").orderBy("s"))
            )
            .where(F.col("rk") <= max_posting)
            .drop("rk")
        )
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = e.select(F.col("s").alias("a"), "t")
    b = e.select(F.col("s").alias("b"), "t")
    shared = (
        a.join(b, "t")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(deg.withColumnRenamed("s", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("s", "b").withColumnRenamed("d", "db"), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("da") + F.col("db") - F.col("shared")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "shared", "jaccard")
        .orderBy(F.desc("jaccard"), "a", "b")
    )


# --------------------------------------------------------------------------
# deterministic random walks (node2vec/DeepWalk corpus generation)
# --------------------------------------------------------------------------

WALK_LEN = 3
WALKS_PER_NODE = 2

# md5-hex draw shared with the DuckDB oracle: the first two hex chars of
# md5(node|walk|step) as an integer 0..255, reduced mod out-degree
_HEXDIGITS = "0123456789abcdef"


def _md5_draw(key_col, size_col):
    """Deterministic neighbor index in [0, size): two hex chars of the
    md5 draw -> 0..255 -> mod out-degree. Pure JVM string ops, exactly
    reproducible in any engine with md5 (the oracle replays it)."""
    h = F.md5(key_col)
    v = (
        (F.instr(F.lit(_HEXDIGITS), F.substring(h, 1, 1)) - 1) * 16
        + (F.instr(F.lit(_HEXDIGITS), F.substring(h, 2, 1)) - 1)
    )
    return F.pmod(v, size_col)


def random_walks(
    edges: DataFrame,
    walk_len: int = WALK_LEN,
    walks_per_node: int = WALKS_PER_NODE,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DeepWalk-style truncated random walks over the directed graph,
    fully deterministic: from every node with out-edges, start
    ``walks_per_node`` walks; at step t the walk at ``node`` moves to
    ``nbrs[md5_draw(node|walk|t) % out_deg]`` over the SORTED neighbor
    list. Walks stop early at a sink node. Returns
    (start, walk, step, node) — the token stream a skip-gram KG
    embedding trains on.

    The KG-embedding prep step recon has no analog for: after
    canonicalization (triples_canonical), entity embeddings for linker
    candidate scoring come from exactly this corpus.

    Scale shape: the adjacency (node -> sorted neighbor array) is built
    once with one shuffle and persisted; each of the ``walk_len`` steps
    is ONE hash join of the frontier (|V|*walks rows of 3 short
    columns) against it, reusing the adjacency's partitioning — no
    Python, no RNG state, no driver loops over data. Early-stopped
    walks leave the frontier, so join input shrinks monotonically.
    Determinism makes the walk corpus resumable and oracle-checkable:
    the draw is a function of (node, walk, step) only, not of
    execution order — the same property the content-addressed store
    relies on (recon/store.py:39-47).
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .where(F.col("s") != F.col("t"))
        .distinct()
    )
    # pinned: the adjacency is referenced walk_len times in the
    # returned plan
    adj = (
        e.groupBy("s")
        .agg(F.sort_array(F.collect_list("t")).alias("nbrs"))
        .transform(scratch)
    )
    frontier = adj.select(
        F.col("s").alias("start"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("walk"),
    ).select("start", "walk", F.lit(0).alias("step"), F.col("start").alias("node"))
    out = [frontier]
    for t in range(1, walk_len + 1):
        prev = out[-1]
        stepped = (
            prev.join(adj, prev.node == adj.s)
            .withColumn(
                "nxt",
                F.element_at(
                    "nbrs",
                    (
                        _md5_draw(
                            F.concat_ws(
                                "|",
                                F.col("node"),
                                F.col("walk").cast("string"),
                                F.lit(str(t)),
                            ),
                            F.size("nbrs"),
                        )
                        + 1
                    ).cast("int"),
                ),
            )
            .select("start", "walk", F.lit(t).alias("step"), F.col("nxt").alias("node"))
        )
        out.append(stepped)
    res = out[0]
    for part in out[1:]:
        res = res.unionByName(part)
    return res.orderBy("start", "walk", "step")


# --------------------------------------------------------------------------
# k-core decomposition (iterative degree pruning)
# --------------------------------------------------------------------------

KCORE_K = 2
KCORE_ITERS = 4


def kcore(
    edges: DataFrame,
    k: int = KCORE_K,
    iters: int = KCORE_ITERS,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Nodes surviving ``iters`` rounds of k-core pruning on the
    UNDIRECTED simple graph: each round drops every node with degree
    < k and the edges touching it. Returns (node, degree) with the
    degree in the surviving subgraph, ordered by (degree desc, node).

    The graph-quality gate for a crawled KG: the k-core is the densely
    corroborated nucleus; peeled nodes are entities held in the graph
    by fewer than k distinct relations — extraction-noise candidates,
    the structural analog of recon's low-count label disparities
    (recon/insights.py get_label_disparities).

    Fixed iteration count is part of the spec (the DuckDB oracle
    unrolls the same rounds; once the core stabilizes further rounds
    are no-ops, so both engines agree at any iters >= convergence).
    Scale shape per round: one map-side-combinable degree aggregation
    + two semi-joins of the edge list against the surviving node set —
    the node set shrinks monotonically and is broadcast-able long
    before the edge list is; AQE picks that up at runtime. For deep
    peeling (k-core numbers, not one fixed k), run the rounds to
    convergence through scratch.iterate, as
    dedupe.connected_components' label propagation does.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(scratch)
    )
    for _ in range(iters):
        ends = und.select(F.col("a").alias("node")).unionAll(
            und.select(F.col("b").alias("node"))
        )
        deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("node")
        # lazy localCheckpoint each round: the surviving edge set feeds
        # BOTH the next round's degree branch and its semi-joins — left
        # unbroken, the doubled lineage re-executes the upstream
        # extraction 2^iters times, and plain persist() still pays a
        # recursive broadcast-materialization job per semi-join (measured
        # 75s -> 2.6s on the sf0.01 canonical graph).
        und = (
            und.join(keep, und.a == keep.node, "left_semi")
            .join(keep, und.b == keep.node, "left_semi")
            .transform(scratch)
        )
    ends = und.select(F.col("a").alias("node")).unionAll(
        und.select(F.col("b").alias("node"))
    )
    return (
        ends.groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .where(F.col("degree") >= k)
        .orderBy(F.desc("degree"), "node")
    )


# --------------------------------------------------------------------------
# temporal fact history (SCD-2 validity intervals)
# --------------------------------------------------------------------------

def fact_history(
    triples: DataFrame,
    ts_col: str = "ts",
    pos_col: str = "pos",
) -> DataFrame:
    """Slowly-changing-dimension view of the triple stream: per
    (subj, pred), the sequence of DISTINCT consecutive objects with
    their validity windows — (subj, pred, obj, valid_from, valid_to),
    valid_to NULL for the currently-asserted object. ``current_facts``
    is exactly the valid_to-IS-NULL slice of this view.

    Ordering is total — (ts, pos, obj) — so re-assertions of the same
    object collapse into one interval and simultaneous conflicting
    assertions resolve deterministically.

    Scale shape: ONE shuffle on (subj, pred) serves both window passes
    (change-point lag + valid_to lead share the same partitioning);
    per-key groups are assertion counts per fact key — small and
    bounded by document count, not corpus size. Head keys (popular
    subjects) sort a few thousand rows, not millions; no join, no
    Python.
    """
    w = Window.partitionBy("subj", "pred").orderBy(ts_col, pos_col, "obj")
    changed = triples.withColumn(
        "__prev", F.lag("obj").over(w)
    ).where(F.col("__prev").isNull() | (F.col("__prev") != F.col("obj")))
    w2 = Window.partitionBy("subj", "pred").orderBy(ts_col, pos_col, "obj")
    return (
        changed.withColumn("valid_to", F.lead(ts_col).over(w2))
        .select(
            "subj",
            "pred",
            "obj",
            F.col(ts_col).alias("valid_from"),
            "valid_to",
        )
        .orderBy("subj", "pred", "valid_from", "obj")
    )


# --------------------------------------------------------------------------
# deterministic negative sampling for KG-embedding training
# --------------------------------------------------------------------------

NEG_PER_TRIPLE = 4


def negative_samples(
    triples: DataFrame,
    k: int = NEG_PER_TRIPLE,
) -> DataFrame:
    """TransE-style corrupted triples: for each true (subj, pred, obj)
    and j in 1..k, replace the head (j even) or tail (j odd) with an
    entity drawn deterministically from the ranked entity vocabulary
    by an md5 draw on (subj|pred|obj|j). Corruptions that reproduce
    the original entity or collide with ANY true triple are dropped
    (filtered negatives — the quality step naive samplers skip).
    Returns (subj, pred, obj, neg_j, side), ordered.

    Scale shape: the vocabulary is distinct entities ranked by a
    row_number — |V| rows, orders of magnitude smaller than |E|; the
    rank join is an int-key equi-join AQE will broadcast while the
    vocab fits (at 10^9 entities it degrades to one hash shuffle of
    8-byte keys). The false-negative filter is a left-anti join on the
    triple key. Every draw is a pure function of the triple, so
    regenerating the training set after a resume yields byte-identical
    negatives (the property recon's content-addressed store gives
    examples, recon/store.py:39-47).
    """
    t = (
        triples.select("subj", "pred", "obj")
        .distinct()
        .transform(scratch)
    )
    ents = (
        t.select(F.col("subj").alias("e"))
        .unionAll(t.select(F.col("obj").alias("e")))
        .distinct()
    )
    vocab = ents.select(
        F.col("e"),
        (F.row_number().over(Window.orderBy("e")) - 1).alias("rk"),
    ).transform(scratch)
    nv = vocab.count()
    if nv == 0:
        return t.sparkSession.createDataFrame(
            [], "subj string, pred string, obj string, neg_j int, side string"
        )
    key = F.concat_ws(
        "|", "subj", "pred", "obj", F.col("neg_j").cast("string")
    )
    draw = F.expr(
        f"CAST(conv(substring(md5(concat_ws('|', subj, pred, obj, "
        f"CAST(neg_j AS STRING))), 1, 8), 16, 10) AS BIGINT) % {nv}"
    )
    cand = (
        t.select(
            "subj",
            "pred",
            "obj",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("neg_j"),
        )
        .withColumn("side", F.when(F.col("neg_j") % 2 == 1, "obj").otherwise("subj"))
        .withColumn("rk", draw)
        .join(vocab, "rk")
        .withColumn(
            "new_subj",
            F.when(F.col("side") == "subj", F.col("e")).otherwise(F.col("subj")),
        )
        .withColumn(
            "new_obj",
            F.when(F.col("side") == "obj", F.col("e")).otherwise(F.col("obj")),
        )
        # corruption must actually change the triple, and must not
        # degenerate into a self-loop (subj == obj)
        .where(
            (
                ((F.col("side") == "subj") & (F.col("e") != F.col("subj")))
                | ((F.col("side") == "obj") & (F.col("e") != F.col("obj")))
            )
            & (F.col("new_subj") != F.col("new_obj"))
        )
        .select(
            F.col("new_subj").alias("subj"),
            "pred",
            F.col("new_obj").alias("obj"),
            "neg_j",
            "side",
        )
    )
    _ = key  # documented spec; the draw expr embeds the same key
    return cand.join(t, ["subj", "pred", "obj"], "left_anti").orderBy(
        "subj", "pred", "obj", "neg_j"
    )


# --------------------------------------------------------------------------
# predicate profile (schema-level KG statistics)
# --------------------------------------------------------------------------

def predicate_stats(triples: DataFrame) -> DataFrame:
    """Schema profile of the triple store, one row per predicate:
    triple count, distinct subjects/objects, and the functionality /
    inverse-functionality ratios (distinct subj / distinct (subj,obj)
    pairs and its converse — the PARIS/ontology-alignment statistics
    that tell a linker which predicates are identifying). A predicate
    with functionality ~1.0 maps each subject to one object — the
    keys kg_conflicts audits; low-functionality predicates are
    many-valued and safe to aggregate.

    One shuffle on pred with every aggregate map-side combinable
    (count + approx-free distinct counts computed as exact
    count_distinct — at KG scale swap to approx_count_distinct, the
    documented 2-arg form keeps the same plan shape). Ratios rounded
    to 6 decimals for cross-engine comparison.
    """
    return (
        triples.groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subj").alias("n_subj"),
            F.countDistinct("obj").alias("n_obj"),
            F.countDistinct("subj", "obj").alias("n_pairs"),
        )
        .select(
            "pred",
            "n_triples",
            "n_subj",
            "n_obj",
            F.round(F.col("n_subj") / F.col("n_pairs"), 6).alias("functionality"),
            F.round(F.col("n_obj") / F.col("n_pairs"), 6).alias("inv_functionality"),
        )
        .orderBy("pred")
    )
