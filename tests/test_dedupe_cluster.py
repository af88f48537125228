"""Connected-components dedup clustering vs a driver-side union-find."""

import pytest

from recon_spark.operators.dedupe import (
    connected_components,
    dedupe_corpus,
    jaccard_pairs,
    minhash_lsh_candidates,
)
from tests.conftest import SF_SMOKE


def union_find(pairs):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min element of each set
    return {x: find(x) for x in parent}


def test_components_match_union_find(spark):
    edges = [(1, 2), (2, 3), (10, 11), (30, 31), (31, 32), (3, 10)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    want = union_find(edges)
    assert got == want
    assert got[11] == 1  # chain 1-2-3-10-11 collapses to min id


def test_dedupe_corpus_on_planted_neardups(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pairs = jaccard_pairs(docs, threshold=0.5)
    pair_list = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    kept = dedupe_corpus(docs, pairs)
    uf = union_find(pair_list)
    losers = {x for x, root in uf.items() if root != x}
    assert kept.count() == docs.count() - len(losers)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert not (kept_ids & losers)


def test_lsh_candidates_cover_jaccard_pairs(spark):
    """MinHash-LSH recall check: every true near-dup pair (Jaccard >= .5)
    must appear among the LSH candidates on the planted corpus."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    true_pairs = {
        (r["id_a"], r["id_b"]) for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    cand = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs).collect()
    }
    assert true_pairs <= cand


def test_simhash_matches_python_spec(spark):
    from recon_spark.operators.dedupe import simhash32
    from tests.reference_impl import ref_simhash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    short = spark.createDataFrame([(9001, "one two")], "doc_id long, text string")
    both = docs.select("doc_id", "text").unionByName(short)
    texts = {r["doc_id"]: r["text"] for r in both.collect()}
    got = {r["id"]: r["simhash"] for r in simhash32(both).collect()}
    assert got == {i: ref_simhash(t) for i, t in texts.items()}
    assert got[9001] == 0 and len(set(got.values())) > 1


def test_connected_components_raises_past_max_iter(spark, monkeypatch):
    """A 12-node chain needs 11 label-propagation rounds: past an 8-round
    cap the distributed branch raises instead of returning partial
    labels, while the driver branch gives one component."""
    from recon_spark.operators import scratch

    monkeypatch.setattr(scratch, "MAX_ROUNDS", 8)
    chain = spark.createDataFrame([(i, i + 1) for i in range(11)], "id_a long, id_b long")
    got = connected_components(chain).collect()
    assert {r["component"] for r in got} == {0} and len(got) == 12
    with pytest.raises(
        ValueError,
        match="connected_components label propagation did not converge within 8 rounds",
    ):
        connected_components(chain, driver_threshold=0)


def test_connected_components_branches_agree_within_cap(spark):
    edges = [(i, i + 1) for i in range(12)] + [(40, 30), (30, 35), (50, 51)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    driver = sorted(map(tuple, connected_components(df).collect()))
    dist = sorted(map(tuple, connected_components(df, driver_threshold=0).collect()))
    assert driver == dist == sorted(union_find(edges).items())


def test_distributed_cc_pins_are_gc_released(spark):
    """The distributed branch pins every label round with an eager
    localCheckpoint; once its result is collected and dropped, the
    ContextCleaner releases every block (the registry sweep only runs
    the driver branch)."""
    import gc
    import time

    pairs = spark.createDataFrame(
        # > driver threshold would need thousands of rows; force the
        # distributed label-propagation path via the threshold param
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "id_a long, id_b long"
    )
    spark.catalog.clearCache()  # earlier tests' CacheManager pins
    got = sorted(map(tuple, connected_components(pairs, driver_threshold=0).collect()))
    assert got == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20)]
    # localCheckpoint blocks release via GC — poll like the registry
    # sweep does
    deadline = time.time() + 60
    stored = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    while stored and time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(2)
        stored = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(stored) == 0, [str(s) for s in stored]
