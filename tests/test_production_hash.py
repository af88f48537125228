"""Production token-hash mode (full-token md5-60bit) vs the toy wcode
spec: adversarial-vocabulary false-candidate recovery + engine parity.

The wcode spec (ascii(w[0])*100000 + ascii(w[1])*100 + len(w)) collides
for ANY word pair sharing (first two chars, length) — fine on the
synthetic test vocabulary it was pinned for, fatal on a real crawl:
colliding words make unrelated documents shingle-identical, so MinHash /
SimHash / Jaccard all report phantom near-duplicates. hash_mode=
"production" replaces the per-token code with a 60-bit md5 digest
(still engine-portable: Spark conv() == DuckDB 0x-cast, verified in
test_oracles_pipeline via the dedup_minhash_production /
simhash_production registry entries) and leaves every downstream
arithmetic identical.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from recon_spark.operators.dedupe import (
    P,
    _py_token_codes,
    _wcodes_expr,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signature,
    simhash32,
)
from tests.reference_impl import ref_minhash, ref_simhash

# every word in a column collides under wcode (same first 2 chars, same
# length) but is a different word — e.g. "running" vs "rulings"
_COLLIDER_COLUMNS = [
    ("running", "rulings"),
    ("station", "starved"),
    ("control", "consume"),
    ("billion", "bizarre"),
    ("quality", "quintet"),
    ("husband", "hundred"),
    ("mineral", "midwife"),
    ("failure", "fairway"),
]

DOC_A = " ".join(c[0] for c in _COLLIDER_COLUMNS)
DOC_B = " ".join(c[1] for c in _COLLIDER_COLUMNS)  # zero shared words


def _adversarial_corpus(spark):
    # docs 1/2: the adversarial pair (disjoint vocab, wcode-identical).
    # docs 3/4: a TRUE near-dup pair (one word changed out of 8).
    # doc 5: unrelated filler.
    base = ("alpha beta gamma delta epsilon zeta theta kappa iota omega "
            "sigma tau phi chi psi pi rho nu mu")
    true_a = base + " xi"
    true_b = base + " omicron"  # 1 of 20 words changed: shingle J = 17/18
    return spark.createDataFrame(
        [(1, DOC_A), (2, DOC_B), (3, true_a), (4, true_b),
         (5, "one two three four five six seven eight")],
        "doc_id long, text string",
    )


def test_wcode_collides_on_adversarial_vocab(spark):
    # sanity: the adversarial pair IS wcode-shingle-identical
    docs = _adversarial_corpus(spark)
    wc = docs.select(
        "doc_id", F.expr(_wcodes_expr("text", "wcode")).alias("wc")
    ).collect()
    by_id = {r.doc_id: list(r.wc) for r in wc}
    assert by_id[1] == by_id[2]
    # ...and production codes distinguish every column
    pc = docs.select(
        "doc_id", F.expr(_wcodes_expr("text", "production")).alias("wc")
    ).collect()
    by_id_p = {r.doc_id: list(r.wc) for r in pc}
    assert all(a != b for a, b in zip(by_id_p[1], by_id_p[2]))


def test_production_codes_match_python_replica(spark):
    docs = _adversarial_corpus(spark)
    got = {
        r.doc_id: list(r.wc)
        for r in docs.select(
            "doc_id", F.expr(_wcodes_expr("text", "production")).alias("wc")
        ).collect()
    }
    codes = _py_token_codes("production")
    for did, text in [(1, DOC_A), (2, DOC_B)]:
        assert got[did] == list(codes(text.split(" ")))
    # spot-check the spec by hand
    exp = int(hashlib.md5(b"running").hexdigest()[:15], 16) % P
    assert got[1][0] == exp


def test_candidate_precision_recovers_under_production_hash(spark):
    docs = _adversarial_corpus(spark)
    true_pair = (3, 4)

    wcode_cands = {
        (r.id_a, r.id_b) for r in minhash_lsh_candidates(docs).collect()
    }
    prod_cands = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, hash_mode="production").collect()
    }
    # wcode: the phantom pair (1,2) is a full-signature collision
    assert (1, 2) in wcode_cands and true_pair in wcode_cands
    # production: phantom gone, true near-dup retained
    assert (1, 2) not in prod_cands and true_pair in prod_cands

    def precision(cands):
        return len({true_pair} & cands) / len(cands) if cands else 0.0

    assert precision(prod_cands) > precision(wcode_cands)
    assert precision(prod_cands) == 1.0


def test_jaccard_estimates_recover_under_production_hash(spark):
    docs = _adversarial_corpus(spark)
    wcode_j = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.0).collect()
    }
    prod_j = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.0, hash_mode="production").collect()
    }
    # wcode reports the disjoint-vocab pair as EXACT duplicates
    assert wcode_j.get((1, 2)) == 1.0
    # production: no shared shingles at all -> pair absent
    assert (1, 2) not in prod_j
    # the true near-dup keeps a sane estimate in both modes
    assert prod_j.get((3, 4)) == wcode_j.get((3, 4))


def test_minhash_matches_python_spec_production(spark):
    docs = _adversarial_corpus(spark)
    texts = {r.doc_id: r.text for r in docs.collect()}
    got = {
        r.id: list(r.minhash)
        for r in minhash_signature(docs, hash_mode="production").collect()
    }
    want = {i: ref_minhash(t, "production") for i, t in texts.items()}
    assert got == {i: m for i, m in want.items() if m is not None} and got


def test_simhash_matches_python_spec_production(spark):
    docs = _adversarial_corpus(spark)
    texts = {r.doc_id: r.text for r in docs.collect()}
    got = {r.id: r.simhash for r in simhash32(docs, hash_mode="production").collect()}
    assert got == {i: ref_simhash(t, "production") for i, t in texts.items()}
    # the adversarial pair must NOT be simhash-identical in production mode
    assert got[1] != got[2]
