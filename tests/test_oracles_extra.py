"""Spark-vs-DuckDB parity for the extra query family (overlap
resolution, sentence splitting, strip round-trip, tokenization stats,
deterministic augmentation, dedup clustering, LSH ANN, search)."""

import pytest

from recon_spark.queries.extra import ORACLES, QUERIES
from tests.conftest import SF_SMOKE, compare_query


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_extra_query_matches_oracle(spark, ddb, name):
    compare_query(spark, ddb, QUERIES[name], ORACLES[name], SF_SMOKE)


def test_neardup_recall_with_no_exact_pairs(spark, tmp_path):
    """Six random 64-d vectors (pairwise cosine at most 0.19) leave the
    exact set empty: recall is 0.0 on both engines, not a division by
    zero."""
    import duckdb
    import numpy as np

    from recon_spark.queries.extra import SQL_NEARDUP_RECALL, q_neardup_recall

    vecs = np.random.default_rng(3).normal(size=(6, 64)).astype(np.float32)
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet/*.parquet'"
    )
    want = con.sql(SQL_NEARDUP_RECALL).fetchall()
    con.close()
    got = [tuple(r) for r in q_neardup_recall(spark, str(tmp_path)).collect()]
    assert got == want == [(0, 0, 0.0)]


def test_ivf_twins_on_narrow_vectors(spark, tmp_path):
    """Six one-hot 8-d vectors (two duplicate pairs): ivf_neardup and
    neardup_recall equal their DuckDB twins, whose k-means means span
    each vector's own width rather than a fixed 64 dims."""
    import duckdb

    from recon_spark.queries.extra import (
        SQL_IVF_NEARDUP,
        SQL_NEARDUP_RECALL,
        q_ivf_neardup,
        q_neardup_recall,
    )

    hot = [0, 1, 2, 0, 1, 7]
    rows = [(i, [float(j == h) for j in range(8)], 0) for i, h in enumerate(hot)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet/*.parquet'"
    )
    want_pairs = con.sql(SQL_IVF_NEARDUP).fetchall()
    want_recall = con.sql(SQL_NEARDUP_RECALL).fetchall()
    con.close()
    got_pairs = [tuple(r) for r in q_ivf_neardup(spark, str(tmp_path)).collect()]
    got_recall = [tuple(r) for r in q_neardup_recall(spark, str(tmp_path)).collect()]
    assert got_pairs == want_pairs == [(0, 3, 1.0), (1, 4, 1.0)]
    assert got_recall == want_recall == [(2, 2, 1.0)]
