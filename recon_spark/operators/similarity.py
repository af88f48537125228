"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, plus a random-hyperplane
LSH-bucketed variant as the scale path (candidates from shared sign
signatures, exact re-rank inside buckets).

Scale notes: brute force is O(Q·N·d) with the query side broadcast —
right answer when Q is small (dedupe against a blocklist, eval probes).
The LSH path bounds the candidate set per query; at 100 TB the bucketed
join shuffles only (signature, id) pairs, and signatures are computed
per-row with zero shuffle. The exact pair scan (cosine_neardup_pairs)
and the k-means assignment run as JVM higher-order aggregates over the
zipped arrays; top-k, LSH signatures and candidate verification run as
Arrow-batched numpy kernels.
"""

from __future__ import annotations

import random
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
_NORM = "sqrt(aggregate({a}, 0.0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"


def _round_half_away(x, ndigits: int = 6):
    """Round half away from zero, matching Spark's F.round and DuckDB's
    round for doubles — np.round rounds half to even, which disagrees on
    exact midpoints (e.g. 13/128 = 0.1015625 at 6 decimals)."""
    import numpy as np

    m = 10.0 ** ndigits
    return np.sign(x) * np.floor(np.abs(x) * m + 0.5) / m


def with_norm(df: DataFrame, vec_col: str = "embedding", out_col: str = "norm") -> DataFrame:
    return df.withColumn(out_col, F.expr(_NORM.format(a=vec_col)))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (self
    excluded): (query_id, neighbor_id, cos, rank), ranked by unrounded
    cosine with neighbor-id tiebreak, cosine rounded for output.

    Two-stage top-k: the query matrix is collected (Q x d — queries are
    few by contract) and broadcast; each Arrow batch computes a
    (batch x Q) einsum and emits only its LOCAL top-k rows per query; a
    final window ranks the union (Q * k * n_batches rows, tiny). Exact:
    global top-k of per-batch top-ks = top-k, with the same
    (cos DESC, neighbor_id) tie-break. ~5x an interpreted crossJoin +
    fold plan; the window input does not grow with N."""
    import heapq

    import numpy as np

    spark = vectors.sparkSession
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    b_q = spark.sparkContext.broadcast((q_ids, q_mat))

    def _gen(batches):
        ids, mat = b_q.value
        # per-query running top-k across this worker's batches
        heaps: list[list] = [[] for _ in ids]
        for pdf in batches:
            bids = pdf[id_col].to_numpy(dtype=np.int64)
            if not len(bids):
                continue
            bmat = np.array(list(pdf[vec_col]), dtype=np.float64)
            bmat = bmat / np.linalg.norm(bmat, axis=1, keepdims=True)
            sims = bmat @ mat.T  # (batch, Q)
            for qi in range(len(ids)):
                col = sims[:, qi]
                # lexsort keys are (last key primary): sort by -cos then
                # id — exact (cos DESC, neighbor_id ASC) pre-selection,
                # so equal-cosine ties keep the smallest ids (a value-only
                # argpartition could drop the tie-break winner)
                order = np.lexsort((bids, -col))[: k + 1]
                for j in order:
                    if bids[j] == ids[qi]:
                        continue
                    item = (col[j], -int(bids[j]))  # rank: cos desc, id asc
                    h = heaps[qi]
                    if len(h) < k:
                        heapq.heappush(h, item)
                    elif item > h[0]:
                        heapq.heapreplace(h, item)
        out_q, out_n, out_c = [], [], []
        for qi, h in enumerate(heaps):
            for cos, neg_id in h:
                out_q.append(int(ids[qi]))
                out_n.append(-neg_id)
                out_c.append(float(cos))
        yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cos": out_c})

    local = vectors.select(id_col, vec_col).mapInPandas(
        _gen, "query_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
        .orderBy("query_id", "rank")
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold, (id_a < id_b, cos rounded).
    Exact all-pairs (test-SF oracle baseline); use lsh_neardup_pairs at
    scale."""
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    dot = _DOT.format(a="va", b="vb")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.expr(f"{dot} / ({_NORM.format(a='va')} * {_NORM.format(a='vb')})"),
        )
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
        .orderBy("id_a", "id_b")
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def with_lsh_signature(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "lsh_sig",
) -> DataFrame:
    """Random-hyperplane sign signature as a BIGINT: bit j set iff
    dot(vec, plane_j) > 0 in float64. Arrow-vectorized numpy kernel (one
    (batch x dim) @ (dim x n_planes) matmul per Arrow batch); per-row,
    shuffle-free."""
    import numpy as np

    planes = hyperplanes(dim, n_planes, seed)

    @F.pandas_udf("long")
    def _sig(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        pl = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
        weights = (np.int64(1) << np.arange(pl.shape[1], dtype=np.int64))
        for vecs in batches:
            if len(vecs):
                mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
                sigs = ((mat @ pl) > 0) @ weights
            else:
                sigs = np.array([], dtype=np.int64)
            yield pd.Series(sigs, dtype="int64")

    return df.withColumn(out_col, _sig(F.col(vec_col)))


def with_cosine_vectorized(
    pairs: DataFrame,
    a_col: str = "va",
    b_col: str = "vb",
    out_col: str = "cos",
) -> DataFrame:
    """Cosine between two array columns — Arrow-vectorized numpy kernel
    (einsum over the stacked batch). float64 end to end, so values agree
    with the interpreted JVM fold / DuckDB ``list_dot_product`` to the
    last ulp of summation order (asserted equal after round(6) in
    tests). Use on verify hot paths: candidate sets are O(pairs), and
    an interpreted 64-element fold per pair was the slowest stage of
    lsh_neardup (465k candidates at sf0.1)."""
    import numpy as np

    @F.pandas_udf("double")
    def _cos(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for va, vb in batches:
            if len(va):
                A = np.stack([np.asarray(v, dtype=np.float64) for v in va])
                B = np.stack([np.asarray(v, dtype=np.float64) for v in vb])
                dots = np.einsum("ij,ij->i", A, B)
                out = dots / (
                    np.sqrt(np.einsum("ij,ij->i", A, A))
                    * np.sqrt(np.einsum("ij,ij->i", B, B))
                )
            else:
                out = np.array([], dtype=np.float64)
            yield pd.Series(out, dtype="float64")

    return pairs.withColumn(out_col, _cos(F.col(a_col), F.col(b_col)))


_BCAST_VERIFY_ROWS = 500_000  # ~256 MB of float64 at 64d — broadcastable


def _verify_pairs(
    cand: DataFrame,
    vectors: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine verify of deduped (id_a, id_b) candidates.

    Two shapes, picked by id type and vector-table size (one cheap
    count):
    - integral ids, small table (<= _BCAST_VERIFY_ROWS): broadcast the
      id->vector matrix to the python workers once and ship ONLY the id
      pairs through Arrow — 2 longs/pair instead of 2 d-dim float arrays
      (~60x fewer verify bytes at 64d; at sf0.1 the join shape moved
      ~475 MB of vectors for 465k candidates).
    - otherwise: per-pair vector joins + batched einsum — shuffles
      scale with candidates only, never all-pairs.
    Same float64 arithmetic either way (both checked against numpy in
    tests)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, LongType

    integral_ids = isinstance(vectors.schema[id_col].dataType, (IntegerType, LongType))
    # count only when the broadcast path is reachable — the join path
    # must not pay a scan-and-count job it cannot use
    if integral_ids and vectors.count() <= _BCAST_VERIFY_ROWS:
        rows = vectors.select(id_col, vec_col).collect()
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        mat = np.array([r[1] for r in rows], dtype=np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        b = cand.sparkSession.sparkContext.broadcast(
            ({int(i): k for k, i in enumerate(ids)}, mat, norms)
        )

        def _gen(batches):
            idx, m, nr = b.value
            for pdf in batches:
                ia = pdf["id_a"].to_numpy(dtype=np.int64)
                ib = pdf["id_b"].to_numpy(dtype=np.int64)
                if len(ia):
                    ka = np.array([idx[int(x)] for x in ia], dtype=np.int64)
                    kb = np.array([idx[int(x)] for x in ib], dtype=np.int64)
                    cos = np.einsum("ij,ij->i", m[ka], m[kb]) / (nr[ka] * nr[kb])
                    keep = cos >= threshold
                    out = pd.DataFrame(
                        {
                            "id_a": ia[keep],
                            "id_b": ib[keep],
                            "cos": _round_half_away(cos[keep]),
                        }
                    )
                else:
                    out = pd.DataFrame({"id_a": ia, "id_b": ib, "cos": ia.astype(float)})
                yield out

        return (
            cand.select("id_a", "id_b")
            .mapInPandas(_gen, "id_a long, id_b long, cos double")
            .orderBy("id_a", "id_b")
        )

    va = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    scored = with_cosine_vectorized(cand.join(va, "id_a").join(vb, "id_b"))
    return (
        scored.where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
        .orderBy("id_a", "id_b")
    )


def lsh_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 16,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate near-dup pairs: block on sign-LSH signature bands, then
    exact cosine verify within buckets. Recall grows with bands; verified
    against the exact pairs in tests."""
    sig = with_lsh_signature(vectors, dim, n_planes, vec_col=vec_col)
    rows_per_band = n_planes // n_bands
    # bucketed candidate generation on (band, piece, id) ONLY — carrying
    # the d-dim float arrays through the self-join + distinct multiplies
    # shuffle bytes by ~d and makes the dedupe compare arrays (measured
    # 4x slower at sf0.1). Vectors are re-attached to the deduped id
    # pairs afterwards.
    # (id, band, piece) is tiny (n_bands rows/doc of 3 ints). The two
    # self-join sides each run the signature kernel (no shared exchange),
    # but the kernel is sub-second and an explicit persist measured no
    # faster while pinning cache for the session's lifetime — callers
    # that loop should cache at their level instead.
    bands = sig.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), b -> named_struct('b', b, "
                f"'piece', (lsh_sig div CAST(pow(2, b * {rows_per_band}) AS BIGINT)) % {1 << rows_per_band}))"
            )
        ).alias("bp"),
    ).select("id", F.col("bp.b").alias("b"), F.col("bp.piece").alias("piece"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.piece") == F.col("b.piece"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_pairs(cand, vectors, threshold, id_col, vec_col)


# Trained-IVF defaults (shared with the DuckDB oracle generator in
# recon_spark/queries/extra.py — the oracle unrolls the same Lloyd's
# iterations as chained CTEs):
KMEANS_K = 32
KMEANS_ITERS = 3
KMEANS_ROUND = 6


def kmeans_init_frame(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The hash-strided init selection as a DataFrame (plan-auditable):
    the k vectors with the smallest (md5(cast(id as string)), id) keys.
    orderBy + limit compiles to TakeOrderedAndProject — a per-partition
    top-k merged on the driver — NOT a single-partition global sort /
    rank window; md5 is engine-portable so the DuckDB replica picks the
    identical k seeds."""
    return (
        vectors.select(
            F.md5(F.col(id_col).cast("string")).alias("__mk"),
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
        )
        .orderBy("__mk", "id")
        .limit(k)
    )


def scaled_k(n: int, k_floor: int = KMEANS_K) -> int:
    """IVF cell count: k = min(n, max(k_floor, isqrt(n))) — the standard
    sqrt(N) sizing (cells and cell population both ~sqrt(N)), floored so
    tiny tables keep enough cells for multi-probe to mean something."""
    import math

    return min(n, max(k_floor, math.isqrt(n)))


def kmeans_centroids(
    vectors: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 1_000_000,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd's k-means over a DataFrame of vectors.
    Returns [(cent_id, centroid)] with cent_id = 0..k_eff-1 where
    k_eff = scaled_k(n, k) — the passed k is a FLOOR; cell count grows
    as sqrt(N) (the standard IVF sizing).

    Spec (mirrored exactly by the oracle's unrolled-CTE replica):
    - init: the k_eff vectors with the smallest (md5(id), id) keys,
      cent_id = ascending rank among them. A deterministic
      pseudo-random draw with NO global sort anywhere: orderBy+limit is
      a per-partition top-k (TakeOrderedAndProject), and md5 is
      reproducible in any engine.
    - assignment: argmax cosine, ties broken by lower cent_id.
    - update: per-dimension mean of assigned vectors, rounded to
      KMEANS_ROUND decimals (rounding absorbs summation-order
      differences between engines, keeping iterations bit-comparable);
      a cell with no members keeps its previous centroid.

    Scale shape: each iteration is one broadcast join (k ~ sqrt(N)
    centroids) + one (cent_id, dim) aggregation — map-side combinable,
    shuffle volume k*d doubles. Centroids live on the driver between
    iterations (k*d floats). Past ``max_train_rows`` the quantizer
    trains on a deterministic hash-strided sample of about that size
    (the standard IVF practice — centroid quality saturates long before
    the full table; assignment still covers every vector). At the test
    SFs the table is below the bound, so the sample IS the table and
    the oracle replica is unaffected."""
    n = vectors.count()
    if n == 0:
        raise ValueError("kmeans_centroids: empty vector table")
    if n > max_train_rows:
        # hash-based sampling, NOT rank-based: a global row_number over
        # the full table is a single-partition sort at scale. Above the
        # bound there is no oracle replica to match, so the sample only
        # needs determinism, which xxhash64(id) gives per-row.
        every = -(-n // max_train_rows)
        vectors = vectors.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(every)) == 0
        )
        n = vectors.count()
        if n == 0:
            raise ValueError("kmeans_centroids: training sample is empty")
    k = scaled_k(n, k)
    init = (
        kmeans_init_frame(vectors, k, id_col, vec_col)
        .select("__mk", "id", "v")
        .collect()
    )
    cents: list[tuple[int, list[float]]] = [
        (i, [float(x) for x in r["v"]])
        for i, r in enumerate(sorted(init, key=lambda r: (r["__mk"], r["id"])))
    ]
    spark = vectors.sparkSession
    for _ in range(iters):
        cdf = spark.createDataFrame(
            [(cid, cv) for cid, cv in cents], "cent_id int, cv array<double>"
        )
        dot = _DOT.format(a="v", b="cv")
        sim = f"({dot}) / ({_NORM.format(a='v')} * {_NORM.format(a='cv')})"
        assigned = (
            vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
            .crossJoin(F.broadcast(cdf))
            .withColumn("__sim", F.expr(sim))
            .withColumn(
                "__rk",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(F.desc("__sim"), "cent_id")
                ),
            )
            .where(F.col("__rk") == 1)
            .select("cent_id", "v")
        )
        means = (
            assigned.select("cent_id", F.posexplode("v").alias("dim", "x"))
            .groupBy("cent_id", "dim")
            .agg(F.round(F.avg("x"), KMEANS_ROUND).alias("mu"))
            .collect()
        )
        by_cent: dict[int, dict[int, float]] = {}
        for r in means:
            by_cent.setdefault(r["cent_id"], {})[r["dim"]] = r["mu"]
        cents = [
            (
                cid,
                [mu for _, mu in sorted(by_cent[cid].items())]
                if cid in by_cent
                else old,  # empty cell keeps its previous centroid
            )
            for cid, old in cents
        ]
    return cents


def ivf_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.45,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with a trained coarse quantizer: deterministic Lloyd's
    k-means (kmeans_centroids), each vector assigned to its `nprobe`
    nearest cells (multi-probe: the standard IVF recall lever),
    candidate pairs sharing a cell, exact cosine verify on deduped id
    pairs. At scale the cell assignment is a broadcast join (centroid
    count ~ sqrt(N)) and the verify join shuffles only within-cell id
    pairs. Recall vs the exact pair set is asserted in tests and
    tabulated in BENCH/BASELINE.md."""
    cents = kmeans_centroids(vectors, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    spark = vectors.sparkSession
    cdf = spark.createDataFrame(cents, "cent_id int, cv array<double>")
    dot = _DOT.format(a=vec_col, b="cv")
    sim = f"({dot}) / ({_NORM.format(a=vec_col)} * {_NORM.format(a='cv')})"
    assigned = (
        vectors.crossJoin(F.broadcast(cdf))
        .withColumn("__sim", F.expr(sim))
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.desc("__sim"), "cent_id")
            ),
        )
        .where(F.col("__rk") <= nprobe)
        .select(F.col(id_col).alias("id"), "cent_id")
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    cand = (
        a.join(b, (F.col("a.cent_id") == F.col("b.cent_id")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_pairs(cand, vectors, threshold, id_col, vec_col)
