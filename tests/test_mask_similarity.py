"""mask_1d (reference recon/augmentation.py:9-19) + similarity scale
paths: golden mask selection, Spark/kernel bit-equality, sub_prob span
masking, ANN recall vs the exact pair set, exact top-k vs numpy."""

import math

import pytest

from recon_spark.operators.augmentation import (
    MASK_MIX,
    MASK_MOD,
    _augment_rows,
    mask_positions,
    with_mask_1d,
)
from recon_spark.operators.sample import KNUTH
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_mask_1d_exact_ones_count():
    # reference invariant: exactly ceil(length * prob) ones
    for n, prob in [(10, 0.3), (10, 0.5), (7, 0.25), (1, 0.5), (5, 1.0), (8, 0.0), (0, 0.5)]:
        ps = mask_positions(n, prob, seed=13)
        expected = math.ceil(n * prob) if n > 0 else 0
        assert len(ps) == expected, (n, prob, ps)
        assert all(0 <= j < n for j in ps)


def test_mask_1d_golden_positions():
    # pinned against the keyed-rank spec: smallest (seed*KNUTH + j*MIX) % MOD
    n, prob, seed = 6, 0.5, 3
    keyed = sorted(
        (((seed % MASK_MOD) * KNUTH + j * MASK_MIX) % MASK_MOD, j) for j in range(n)
    )
    expected = {j for _, j in keyed[: math.ceil(n * prob)]}
    assert mask_positions(n, prob, seed) == expected
    # determinism: same inputs -> same mask
    assert mask_positions(n, prob, seed) == mask_positions(n, prob, seed)
    # different seed -> (almost surely) different selection for this golden
    assert mask_positions(n, prob, seed + 1) != expected


def test_mask_1d_prob_validation():
    with pytest.raises(ValueError):
        mask_positions(5, 1.5, 0)
    with pytest.raises(ValueError):
        mask_positions(5, -0.1, 0)


def test_with_mask_1d_matches_kernel(spark):
    # include negative and >2^33 seeds: the key reduces the seed mod
    # MASK_MOD before multiplying, so 64-bit engines never wrap and
    # pmod/% agree on the sign
    rows = [(i, 3 + (i * 7) % 9) for i in range(40)] + [
        (-17, 6),
        (-1, 5),
        (10_000_000_001, 7),
        (2**62 // 3, 8),
    ]
    df = spark.createDataFrame(rows, "doc_id long, n int")
    out = with_mask_1d(df, "n", 0.4, seed_expr="doc_id").collect()
    for r in out:
        got = {j for j, b in enumerate(r["mask"]) if b}
        assert got == mask_positions(r["n"], 0.4, r["doc_id"])
        assert len(r["mask"]) == r["n"]


def test_ent_label_sub_sub_prob_masks_targets():
    text = "t0 xxxxxxx t1 xxxxxxx t2 xxxxxxx t3 xxxxxxx"
    spans = [
        {"text": "t0", "start": 0, "end": 2, "label": "X"},
        {"text": "t1", "start": 11, "end": 13, "label": "X"},
        {"text": "t2", "start": 22, "end": 24, "label": "X"},
        {"text": "t3", "start": 33, "end": 35, "label": "X"},
    ]
    out = _augment_rows(5, text, spans, "X", ["AA", "BB"], n_augs=1, sub_prob=0.5)
    assert len(out) == 1
    _, _, new_text, _ = out[0]
    # exactly ceil(4 * 0.5) = 2 of the four targets substituted
    n_subbed = sum(new_text.count(c) for c in ("AA", "BB"))
    assert n_subbed == 2
    keep = mask_positions(4, 0.5, 5 + 0)
    for j in range(4):
        assert (f"t{j}" not in new_text) == (j in keep)


def sequential_cosines(mat):
    """All-pairs cosine matrix of the rows of ``mat`` in the engine's
    summation order, written out independently of its kernel: products
    and squares added into 0.0 one dimension at a time, in order, then
    dot / (|a| * |b|)."""
    import numpy as np

    n, d = mat.shape
    dot = np.zeros((n, n))
    sq = np.zeros(n)
    for k in range(d):
        col = mat[:, k]
        dot += np.outer(col, col)
        sq += col * col
    norms = np.sqrt(sq)
    return dot / np.outer(norms, norms)


def numpy_pairs(emb, threshold):
    """Exact all-pairs cosine >= threshold, computed with numpy on the
    collected vectors: {(id_a, id_b)} with id_a < id_b."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    a, b = np.nonzero(sequential_cosines(mat) >= threshold)
    return {(int(ids[i]), int(ids[j])) for i, j in zip(a, b) if ids[i] < ids[j]}


@pytest.fixture(scope="module")
def exact_pairs(spark):
    return numpy_pairs(spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet"), 0.45)


def test_ivf_trained_recall(spark, exact_pairs):
    from recon_spark.operators.similarity import ivf_neardup_pairs

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    got = {
        (r["id_a"], r["id_b"])
        for r in ivf_neardup_pairs(emb, threshold=0.45).collect()
    }
    assert got <= exact_pairs  # precision 1.0 by construction (exact verify)
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"IVF recall {recall} < 0.8 vs {len(exact_pairs)} exact pairs"


def test_lsh_recall_reported(spark, exact_pairs):
    from recon_spark.operators.similarity import lsh_neardup_pairs

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_neardup_pairs(emb, threshold=0.45, dim=64).collect()
    }
    assert got <= exact_pairs
    # sign-LSH recall is banded (BENCH/BASELINE.md): near-perfect in the
    # high-similarity regime it is designed for, weak in the 0.45-0.55
    # "not actually near-duplicates" band. Assert both properties.
    strong = numpy_pairs(emb, 0.55)
    if strong:
        strong_recall = len(got & strong) / len(strong)
        assert strong_recall >= 0.9, f"LSH strong-band recall {strong_recall}"
    recall = len(got & exact_pairs) / len(exact_pairs)
    assert recall >= 0.3, f"LSH overall recall {recall}"


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_lsh_neardup_verify_shapes_match_numpy(spark, id_type):
    """Long and string ids (unpadded, so string order is not numeric
    order) go through the same join-shaped verify. Both must return
    exactly the pairs that share a sign-LSH band and reach the
    threshold, each cos = round(numpy cosine, 6)."""
    import numpy as np
    from pyspark.sql import functions as F

    from recon_spark.operators.similarity import hyperplanes, lsh_neardup_pairs

    threshold = 0.45
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    rows = emb.collect()
    key = [r.vec_id for r in rows]
    if id_type == "string":  # unpadded, so string order != numeric order
        emb = emb.withColumn("vec_id", F.format_string("v%d", "vec_id"))
        key = [f"v{i}" for i in key]
    got = {
        (r.id_a, r.id_b): r.cos
        for r in lsh_neardup_pairs(emb, threshold=threshold, dim=64).collect()
    }

    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    sig = (mat @ np.asarray(hyperplanes(64, 16)).T > 0) @ (1 << np.arange(16))
    same_band = np.zeros((len(rows), len(rows)), dtype=bool)
    for b in range(4):
        piece = (sig >> (4 * b)) & 15
        same_band |= piece[:, None] == piece[None, :]
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    near = (mat @ mat.T) / np.outer(norms, norms) >= threshold - 1e-9
    want = {}
    for i, j in zip(*np.nonzero(same_band & near)):
        c = float(mat[i] @ mat[j] / (norms[i] * norms[j]))
        if key[i] < key[j] and c >= threshold:
            want[(key[i], key[j])] = round(c, 6)
    assert want and got == want


def test_connected_components_string_ids(spark):
    # ADVICE r1: the driver union-find fast path must honor non-long id
    # types the same way the distributed path does
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    from recon_spark.operators.dedupe import connected_components

    out = {(r["id"], r["component"]) for r in connected_components(pairs).collect()}
    assert out == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_cosine_topk_matches_numpy(spark):
    """cosine_topk equals a numpy brute force on the collected vectors:
    per query, the k best neighbors by (cos DESC, neighbor_id), self
    excluded, cos rounded to 6 places."""
    import numpy as np
    from pyspark.sql import functions as F

    from recon_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    got = [tuple(r) for r in cosine_topk(emb, queries, k=10).collect()]
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    cos = sequential_cosines(np.array([r[1] for r in rows], dtype=np.float64))
    want = []
    for qi in sorted(np.nonzero(ids % 50 == 0)[0], key=lambda i: ids[i]):
        sims = cos[qi]
        order = sorted((j for j in range(len(ids)) if j != qi), key=lambda j: (-sims[j], ids[j]))
        for rank, j in enumerate(order[:10], 1):
            want.append((int(ids[qi]), int(ids[j]), float(sims[j]), rank))
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1] and g[3] == w[3]
        assert abs(g[2] - w[2]) <= 5e-7 + 1e-12  # cos is rounded to 6 places


def test_kmeans_partitioning_independent(spark):
    """Lloyd's must produce identical centroids under any partitioning —
    the property the round-6 mean rounding buys (summation order differs
    per partitioning; rounded means must not). This is what keeps the
    Spark result bit-comparable with the single-threaded DuckDB oracle."""
    from recon_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    one = kmeans_centroids(emb.repartition(1))
    many = kmeans_centroids(emb.repartition(16))
    assert one == many and len(one) > 0


def test_kmeans_train_sample_bound(spark):
    from recon_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    full = kmeans_centroids(emb)
    # below the bound the sample IS the table
    assert kmeans_centroids(emb, max_train_rows=10_000_000) == full
    # above the bound: trains on a strided sample, still k valid centroids
    sampled = kmeans_centroids(emb, max_train_rows=50)
    # stride rounding can yield fewer than k centroids (ceil(n/stride));
    # the oracle replica uses the same formula, so this is spec, not drift
    assert 0 < len(sampled) <= len(full)
    assert all(len(cv) == len(full[0][1]) for _, cv in sampled)


def test_ent_label_sub_forwards_sub_prob(spark):
    """Regression: the DataFrame operator must forward sub_prob to the
    kernel (it was silently ignored once)."""
    from recon_spark.operators.augmentation import ent_label_sub

    text = "t0 xxxxxxx t1 xxxxxxx t2 xxxxxxx t3 xxxxxxx"
    spans = [
        {"text": f"t{j}", "start": j * 11, "end": j * 11 + 2, "label": "X",
         "token_start": 2 * j, "token_end": 2 * j, "kb_id": None, "source": None}
        for j in range(4)
    ]
    df = spark.createDataFrame(
        [(5, text, spans)],
        "doc_id long, text string, spans array<struct<text: string, start: int,"
        "end: int, label: string, token_start: int, token_end: int,"
        "kb_id: string, source: string>>",
    )
    out = ent_label_sub(df, "X", ["AA", "BB"], n_augs=1, sub_prob=0.5).collect()
    assert len(out) == 1
    n_subbed = sum(out[0]["text"].count(c) for c in ("AA", "BB"))
    expected = _augment_rows(5, text, spans, "X", ["AA", "BB"], 1, 0.5)
    assert n_subbed == 2 and out[0]["text"] == expected[0][2]


def test_cosine_topk_vectorized_tie_break(spark):
    """Many identical vectors (all pairwise cosine 1.0): the per-batch
    pre-selection must keep the smallest neighbor ids, exactly as the
    (cos DESC, neighbor_id ASC) window does."""
    from recon_spark.operators.similarity import cosine_topk

    rows = [(i, [1.0, 2.0, 3.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where("vec_id = 7")
    got = [tuple(r) for r in cosine_topk(df, q, k=5).collect()]
    assert got == [(7, j, 1.0, rank) for rank, j in enumerate([0, 1, 2, 3, 4], 1)]


EDGE_VECTORS = [
    (1, [3.0, 4.0]),
    (2, [1.0, 0.0]),  # cos(1, 2) = 3 / (5 * 1) = 0.6 exactly
    (3, [3.0, 4.0]),  # duplicate of 1
    (4, [-1.0, -2.0]),
    (5, [0.0, 0.0]),  # zero vector: no cosine with anything
    (6, [-3.0, -4.0]),
    (7, [0.5, -0.25]),
]


def test_cosine_edge_vectors_match_duckdb_twins(spark, tmp_path):
    """Hand-made vectors through the exact scan, the k-means quantizer
    and IVF (assignment + verify), against their DuckDB twins: duplicate
    vectors, a cosine exactly at the threshold, negative components and
    a zero vector. The zero vector pairs with nothing and, having no
    cosine with any centroid, is assigned where DuckDB puts a NULL
    similarity: last, so to the lowest cent_id."""
    import duckdb

    from recon_spark.operators.similarity import (
        KMEANS_ITERS,
        cosine_neardup_pairs,
        cosine_topk,
        ivf_neardup_pairs,
        kmeans_centroids,
    )
    from recon_spark.queries.extra import SQL_IVF_NEARDUP, _sql_ivf_parts
    from recon_spark.queries.pipeline import SQL_EMBEDDING_NEARDUP

    spark.createDataFrame(
        EDGE_VECTORS, "vec_id long, embedding array<float>"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    emb = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet/*.parquet'"
    )

    def at_06(sql):
        assert ">= 0.45" in sql
        return sql.replace(">= 0.45", ">= 0.6")

    exact = [tuple(r) for r in cosine_neardup_pairs(emb, threshold=0.6).collect()]
    assert exact == con.sql(at_06(SQL_EMBEDDING_NEARDUP)).fetchall()
    assert {(a, b) for a, b, _ in exact} == {(1, 2), (1, 3), (2, 3), (2, 7), (4, 6)}

    cents = kmeans_centroids(emb)
    twin = con.sql(
        "WITH " + ",\n".join(_sql_ivf_parts())
        + f"\nSELECT cent_id, cv FROM c{KMEANS_ITERS} ORDER BY cent_id"
    ).fetchall()
    assert cents == [(cid, list(cv)) for cid, cv in twin]

    ivf = [tuple(r) for r in ivf_neardup_pairs(emb, threshold=0.6).collect()]
    assert ivf == con.sql(at_06(SQL_IVF_NEARDUP)).fetchall() == exact
    con.close()

    top = cosine_topk(emb, emb, k=10).collect()
    assert all(5 not in (r.query_id, r.neighbor_id) for r in top)
    assert len(top) == 6 * 5


def test_one_cosine_summation_order_in_package():
    """Every cosine in the package goes through similarity._cosines: no
    other summation order (an interpreted zip_with fold, einsum, a
    normalize-first norm) appears under recon_spark/."""
    import pathlib

    from recon_spark.operators import similarity

    pkg = pathlib.Path(similarity.__file__).resolve().parents[1]
    offenders = [
        f"{path.relative_to(pkg)}:{lineno}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if any(bad in line for bad in ("zip_with(", "einsum(", "np.linalg.norm"))
    ]
    assert not offenders, "\n".join(offenders)


def test_ivf_pairs_are_a_subset_of_exact_pairs(spark):
    """With one summation order the IVF verify and the exact scan decide
    every pair the same way, so the ivf_neardup rows (cos included) are
    a subset of the embedding_neardup rows."""
    from recon_spark.queries.extra import q_ivf_neardup
    from recon_spark.queries.pipeline import q_embedding_neardup

    exact = {tuple(r) for r in q_embedding_neardup(spark, SF_ORACLE).collect()}
    ivf = {tuple(r) for r in q_ivf_neardup(spark, SF_ORACLE).collect()}
    assert ivf and ivf <= exact
