"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, plus a random-hyperplane
LSH-bucketed variant as the scale path (candidates from shared sign
signatures, exact re-rank inside buckets).

Scale notes: brute force is O(Q·N·d) with the query side broadcast —
right answer when Q is small (dedupe against a blocklist, eval probes).
The LSH path bounds the candidate set per query; at 100 TB the bucketed
join shuffles only (signature, id) pairs, and signatures are computed
per-row with zero shuffle.

Every cosine is decided by one numpy function, ``_cosines``, run inside
Arrow-batched kernels: the exact pair scan (one kernel per tile pair),
candidate verification, k-means/IVF cell assignment and top-k. It sums
the float64 products dimension by dimension, in order, and the squared
norms the same way, then divides: the IEEE sequence of a left fold over
the zipped arrays. So every path puts a pair on the same side of
``cos >= threshold``, and the IVF pairs are a subset of the exact pairs
by construction. A zero vector has no cosine (0/0 is NaN): it pairs
with nothing, and in a cell ranking it sorts last, as DuckDB's NULL does.
"""

from __future__ import annotations

import random
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, IntegralType, StructField, StructType

TILE = 256  # ids per tile of the exact all-pairs scan


def _cosines(A: np.ndarray, B: np.ndarray, ia: np.ndarray, ib: np.ndarray) -> np.ndarray:
    """cos(A[ia[p]], B[ib[p]]) for every p, in float64.

    Products are added into a 0.0 accumulator one dimension at a time,
    in order; each norm is the square root of its squares summed the
    same way; the result is dot / (|a| * |b|). NaN when either vector
    is zero."""
    At = np.ascontiguousarray(A.T)  # row k = dimension k
    Bt = np.ascontiguousarray(B.T)
    dot = np.zeros(len(ia))
    sa = np.zeros(A.shape[0])
    sb = np.zeros(B.shape[0])
    for k in range(A.shape[1]):
        a, b = At[k], Bt[k]
        dot += a[ia] * b[ib]
        sa += a * a
        sb += b * b
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot / (np.sqrt(sa)[ia] * np.sqrt(sb)[ib])


def _matrix(vecs: pd.Series) -> np.ndarray:
    """A non-empty Series of equal-length arrays as an (n, d) float64 matrix."""
    return np.array(list(vecs), dtype=np.float64)


def _rounded(pairs: DataFrame) -> DataFrame:
    return pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos")).orderBy(
        "id_a", "id_b"
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (self
    excluded): (query_id, neighbor_id, cos, rank), ranked by unrounded
    cosine with neighbor-id tiebreak, cosine rounded for output. A zero
    vector has no cosine, so it is nobody's neighbor and, as a query,
    has none.

    Two-stage top-k: the query matrix is collected (Q x d — queries are
    few by contract) and broadcast; each Arrow batch scores its
    (batch x Q) cosines with ``_cosines`` and emits only its LOCAL top-k
    rows per query; a final window ranks the union (Q * k * n_batches
    rows, tiny). Exact: global top-k of per-batch top-ks = top-k, with
    the same (cos DESC, neighbor_id) tie-break. The window input does
    not grow with N."""
    import heapq

    spark = vectors.sparkSession
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    b_q = spark.sparkContext.broadcast((q_ids, q_mat))

    def _gen(batches):
        ids, mat = b_q.value
        # per-query running top-k across this worker's batches
        heaps: list[list] = [[] for _ in ids]
        for pdf in batches:
            bids = pdf[id_col].to_numpy(dtype=np.int64)
            if not len(bids):
                continue
            ib, iq = np.divmod(np.arange(len(bids) * len(ids)), len(ids))
            sims = _cosines(_matrix(pdf[vec_col]), mat, ib, iq).reshape(len(bids), len(ids))
            for qi in range(len(ids)):
                col = sims[:, qi]
                # lexsort keys are (last key primary): sort by -cos then
                # id — exact (cos DESC, neighbor_id ASC) pre-selection,
                # so equal-cosine ties keep the smallest ids (a value-only
                # argpartition could drop the tie-break winner); NaN sorts
                # last and is skipped
                order = np.lexsort((bids, -col))[: k + 1]
                for j in order:
                    if bids[j] == ids[qi] or np.isnan(col[j]):
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
    Exact all-pairs (test-SF oracle baseline); use lsh_neardup_pairs or
    ivf_neardup_pairs at scale.

    Blocked scan over integral ids: tile = id div TILE, so tiles are id
    ranges and every id in tile ta is below every id in a later tile tb.
    The distinct tiles self-join into the tile pairs ta <= tb (T^2/2
    rows of two ints); each vector row joins the pairs it takes part in
    as the left or the right tile, and one Arrow kernel per tile pair
    scores its id_a < id_b pairs — each id pair lands in exactly one
    tile pair. Only the tile-pair table is broadcast: the vectors are
    never collected to the driver, and each is shuffled once per tile
    pair it is in (T times), the inherent cost of an all-pairs scan.
    Dense ids fill the tiles; sparse ids leave them small and make the
    kernel calls many."""
    if not isinstance(vectors.schema[id_col].dataType, IntegralType):
        raise TypeError(f"cosine_neardup_pairs: {id_col} must be an integral id column")
    t = vectors.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    ).withColumn("tile", F.expr(f"id div {TILE}"))
    keys = t.select("tile").distinct()
    pairs = F.broadcast(
        keys.select(F.col("tile").alias("ta")).join(
            keys.select(F.col("tile").alias("tb")), F.col("ta") <= F.col("tb")
        )
    )
    sides = t.join(pairs, F.col("tile") == F.col("ta")).withColumn("side", F.lit(0)).unionByName(
        t.join(pairs, F.col("tile") == F.col("tb")).withColumn("side", F.lit(1))
    )

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        left, right = pdf[pdf["side"] == 0], pdf[pdf["side"] == 1]
        ida = left["id"].to_numpy(dtype=np.int64)
        idb = right["id"].to_numpy(dtype=np.int64)
        ia, ib = np.nonzero(ida[:, None] < idb[None, :])
        cos = _cosines(_matrix(left["v"]), _matrix(right["v"]), ia, ib)
        keep = cos >= threshold
        return pd.DataFrame({"id_a": ida[ia[keep]], "id_b": idb[ib[keep]], "cos": cos[keep]})

    scored = sides.select("ta", "tb", "side", "id", "v").groupBy("ta", "tb").applyInPandas(
        _block, "id_a long, id_b long, cos double"
    )
    return _rounded(scored)


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


def _verify_pairs(
    cand: DataFrame,
    vectors: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine verify of deduped (id_a, id_b) candidates, any id
    type: each candidate joins its two vectors (shuffles scale with the
    candidates, never all-pairs) and an Arrow kernel scores every batch
    with ``_cosines``, keeping the pairs with cos >= threshold."""
    id_type = vectors.schema[id_col].dataType.simpleString()
    va = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))

    def _verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            p = np.arange(len(pdf))
            cos = _cosines(_matrix(pdf["va"]), _matrix(pdf["vb"]), p, p)
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[keep],
                    "id_b": pdf["id_b"].to_numpy()[keep],
                    "cos": cos[keep],
                }
            )

    scored = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", "va", "vb")
        .mapInPandas(_verify, f"id_a {id_type}, id_b {id_type}, cos double")
    )
    return _rounded(scored)


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


def _nearest_cells(
    df: DataFrame, vec_col: str, cents: list[tuple[int, list[float]]], n: int
) -> DataFrame:
    """``df`` plus a ``cent_id`` column: each row once for each of its
    ``n`` most similar centroids, ranked by (cosine DESC, cent_id) with
    ``_cosines``; a NaN cosine (zero vector or zero centroid) ranks
    last. ``cents`` is sorted by cent_id and travels in the kernel's
    closure (k ~ sqrt(N) centroids), so the vector rows are neither
    joined nor shuffled."""
    cent_ids = np.array([cid for cid, _ in cents], dtype=np.int32)
    C = np.array([cv for _, cv in cents], dtype=np.float64)

    def _cells(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ib, ic = np.divmod(np.arange(len(pdf) * len(C)), len(C))
            sim = _cosines(_matrix(pdf[vec_col]), C, ib, ic).reshape(len(pdf), len(C))
            # a stable sort keeps equal cosines in cent_id order
            top = np.argsort(-np.where(np.isnan(sim), -np.inf, sim), axis=1, kind="stable")[:, :n]
            rows = np.repeat(np.arange(len(pdf)), top.shape[1])
            yield pdf.iloc[rows].assign(cent_id=cent_ids[top.ravel()])

    schema = StructType(df.schema.fields + [StructField("cent_id", IntegerType())])
    return df.mapInPandas(_cells, schema)


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
    - assignment: argmax cosine, ties broken by lower cent_id; a zero
      vector (no cosine) goes to the lowest cent_id.
    - update: per-dimension mean of assigned vectors, rounded to
      KMEANS_ROUND decimals (rounding absorbs summation-order
      differences between engines, keeping iterations bit-comparable);
      a cell with no members keeps its previous centroid.

    Scale shape: each iteration is one shuffle-free assignment kernel
    (the k ~ sqrt(N) centroids ride in its closure) + one (cent_id, dim)
    aggregation — map-side combinable, shuffle volume k*d doubles.
    Centroids live on the driver between iterations (k*d floats). Past
    ``max_train_rows`` the quantizer trains on a deterministic
    hash-strided sample of about that size (the standard IVF practice —
    centroid quality saturates long before the full table; assignment
    still covers every vector). At the test SFs the table is below the
    bound, so the sample IS the table and the oracle replica is
    unaffected."""
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
    points = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    for _ in range(iters):
        means = (
            _nearest_cells(points, "v", cents, 1)
            .select("cent_id", F.posexplode("v").alias("dim", "x"))
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
    pairs. At scale the cell assignment is a shuffle-free kernel
    (centroid count ~ sqrt(N), held in its closure) and the verify join
    shuffles only within-cell id pairs. Recall vs the exact pair set is
    asserted in tests and tabulated in BENCH/BASELINE.md."""
    cents = kmeans_centroids(vectors, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    assigned = _nearest_cells(
        vectors.select(id_col, vec_col), vec_col, cents, nprobe
    ).select(F.col(id_col).alias("id"), "cent_id")
    a = assigned.alias("a")
    b = assigned.alias("b")
    cand = (
        a.join(b, (F.col("a.cent_id") == F.col("b.cent_id")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_pairs(cand, vectors, threshold, id_col, vec_col)
