"""LM perplexity + BPE training: unit semantics against independent
pure-Python references (including the run-of-identical-symbols cases
where a regex-replace formulation of BPE merging is wrong), plus full
Spark-vs-DuckDB oracle parity at the smoke scale factor."""

import math

import duckdb
import pytest

from pyspark.sql import functions as F

from recon_spark.operators.bpe import (
    EOW,
    N_MERGES,
    bpe_apply,
    bpe_train,
    merge_fold,
    word_freqs,
)
from recon_spark.operators.lm import ALPHA, score_perplexity, train_bigram_lm
from recon_spark.queries.textmodel import ORACLES, QUERIES
from tests.conftest import SF_ORACLE, SF_SMOKE, compare_query, register_views


# ---------------------------------------------------------------- references

def _ref_merge(toks: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right non-overlapping pair merge (the subword-nmt
    scan, written as the index loop the paper describes)."""
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def _ref_bpe_train(word_freq: dict[str, int], n_merges: int):
    """Independent dictionary-BPE trainer (Sennrich et al. 2016 alg.1)."""
    words = {w: list(w) + [EOW] for w in word_freq}
    merges = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for w, toks in words.items():
            for x, y in zip(toks, toks[1:]):
                pairs[(x, y)] = pairs.get((x, y), 0) + word_freq[w]
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        words = {w: _ref_merge(t, a, b) for w, t in words.items()}
    return merges, words


# ---------------------------------------------------------------- merge fold

RUN_CASES = [
    # (tokens, pair, expected) — runs of identical symbols are where
    # consumed-boundary regex replacement diverges from the greedy scan
    (["l", "l", "l"], ("l", "l"), ["ll", "l"]),
    (["s", "s", "s", "s"], ("s", "s"), ["ss", "ss"]),
    (["s", "s", "s", "s", "s"], ("s", "s"), ["ss", "ss", "s"]),
    (["a", "b", "a", "b"], ("a", "b"), ["ab", "ab"]),
    (["a", "b", "b", "a"], ("b", "b"), ["a", "bb", "a"]),
    (["x"], ("x", "x"), ["x"]),
    (["a", "b"], ("c", "d"), ["a", "b"]),
    # the pair must match whole symbols, not substrings
    (["a", "a", "a"], ("a", "aa"), ["a", "a", "a"]),
]


@pytest.mark.parametrize("toks,pair,expected", RUN_CASES)
def test_merge_fold_matches_greedy_scan(spark, toks, pair, expected):
    assert _ref_merge(toks, *pair) == expected  # the reference agrees
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = df.select(merge_fold("toks", *pair).alias("m")).head().m
    assert got == expected


def test_bpe_train_matches_reference(spark):
    rows = [
        ("low low low low low lower lower newest newest newest "
         "newest newest newest widest widest widest",),
    ]
    docs = spark.createDataFrame([(0, rows[0][0])], "doc_id long, text string")
    merges, words = bpe_train(docs, n_merges=6)
    wf = {r.word: r.freq for r in word_freqs(docs).collect()}
    ref_merges, ref_words = _ref_bpe_train(wf, 6)
    assert [(a, b, c) for _, a, b, c in merges] == ref_merges
    got = {r.word: r.toks for r in words.collect()}
    assert got == ref_words
    # classic Sennrich example: 'newest' (freq 6) drives the first merges
    assert merges[0][1:3] in {("e", "s"), ("s", "t" + EOW), ("t", EOW)}


def test_bpe_apply_equals_training_output(spark):
    docs = spark.createDataFrame(
        [(0, "banana bandana banana mississippi mississippi")],
        "doc_id long, text string",
    )
    merges, words = bpe_train(docs, n_merges=5)
    fresh = word_freqs(docs).withColumn("toks", bpe_apply("toks", merges))
    a = {r.word: r.toks for r in words.collect()}
    b = {r.word: r.toks for r in fresh.collect()}
    assert a == b


def test_bpe_train_no_cached_blocks(spark):
    # other tests' fixtures may hold session caches; assert bpe_train
    # leaves NONE of its own once its result is dropped (the registry
    # sweep's hygiene invariant: its round pins are GC-released)
    import gc
    import time

    def stored():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = stored()
    docs = spark.createDataFrame([(0, "aa ab aa")], "doc_id long, text string")
    _, words = bpe_train(docs, n_merges=2)
    words.collect()
    del words
    deadline = time.time() + 60
    while stored() > before and time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(2)
    assert stored() <= before


def test_bpe_oracle_carries_dictionary_when_pairs_run_out(spark):
    """'ab ab b' has no adjacent pairs left after two merges: the DuckDB
    chain's later rounds must keep the merged dictionary (as bpe_train
    stops early), not cross-join an empty merge into an empty one."""
    from recon_spark.queries.textmodel import SQL_BPE_MERGES, SQL_BPE_TOKEN_COUNTS

    text = "ab ab b"
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    merges, words = bpe_train(docs)
    assert 0 < len(merges) < N_MERGES
    counts: dict[str, int] = {}
    for r in words.collect():
        for t in r.toks:
            counts[t] = counts.get(t, 0) + r.freq
    assert counts == {"ab" + EOW: 2, "b" + EOW: 1}
    with duckdb.connect() as con:  # own catalog: the shared one has views
        con.execute(f"CREATE TABLE documents AS SELECT 0::BIGINT AS doc_id, '{text}' AS text")
        assert dict(con.sql(SQL_BPE_TOKEN_COUNTS).fetchall()) == counts
        assert [tuple(r[1:]) for r in con.sql(SQL_BPE_MERGES).fetchall()] == [
            (a, b, c) for _, a, b, c in merges
        ]


# ---------------------------------------------------------------- LM

def _mkdocs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "src0") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )


def test_lm_scores_match_hand_computation(spark):
    train = _mkdocs(spark, ["a b a b", "a b c"])
    model = train_bigram_lm(train)
    # counts: uni a=3 b=3 c=1 (N=7, V=3); bi (a,b)=3 (b,a)=1 (b,c)=1
    score = {
        r.doc_id: (r.n_bigrams, r.ppl)
        for r in score_perplexity(_mkdocs(spark, ["a b", "b z", "x"]), model).collect()
    }
    assert score[0] == (1, round(1 / 1.0, 6))  # S(b|a)=3/3=1 -> ppl 1
    # (b,z): unseen bigram, z unseen unigram -> alpha*(0+1)/(7+3)
    s_bz = ALPHA * 1 / 10
    assert score[1] == (1, round(math.exp(-math.log(s_bz)), 6))
    assert score[2] == (0, None)  # single-token doc: no bigram, NULL ppl


def test_lm_clean_docs_score_below_garbage(spark):
    train = _mkdocs(spark, ["the cat sat on the mat"] * 3)
    model = train_bigram_lm(train)
    ppl = {
        r.doc_id: r.ppl
        for r in score_perplexity(
            _mkdocs(spark, ["the cat sat on the mat", "mat the on sat cat the"]), model
        ).collect()
    }
    assert ppl[0] < ppl[1]


# ---------------------------------------------------------------- oracles

@pytest.mark.parametrize("name", sorted(QUERIES))
def test_textmodel_query_matches_oracle(spark, ddb, name):
    compare_query(spark, ddb, QUERIES[name], ORACLES[name], SF_SMOKE)


def test_lm_quality_gate_exact_at_any_partitioning(spark, ddb, monkeypatch):
    """Log-probs and the per-source mean are integer fixed-point sums,
    so the gate's rows do not depend on the physical partitioning and
    equal the DuckDB twin exactly (no float tolerance). AQE coalescing
    is off inside the loop (else every shuffle collapses to one
    partition at this size), and the documents are re-split so partial
    aggregates see different rows too."""
    from recon_spark.queries import textmodel

    register_views(ddb, SF_ORACLE)
    want = sorted(ddb.sql(ORACLES["lm_quality_gate"]).fetchall())
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        for n, split in ((2, 7), (8, 1), (32, 16)):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            monkeypatch.setattr(
                textmodel, "_docs",
                lambda s, d: s.read.parquet(f"{d}/documents.parquet").repartition(split),
            )
            got = QUERIES["lm_quality_gate"](spark, SF_ORACLE).collect()
            assert sorted(map(tuple, got)) == want, (n, split)
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_trigram_backoff_ladder_hand_computed(spark):
    from recon_spark.operators.lm import score_perplexity_trigram, train_trigram_lm

    train = _mkdocs(spark, ["a b c a b c", "a b d"])
    model = train_trigram_lm(train)
    # counts: tri (a,b,c)=2 (b,c,a)=1 (c,a,b)=1 (a,b,d)=1
    #         bi (a,b)=3 (b,c)=2 (c,a)=1 (b,d)=1; uni a=3 b=3 c=2 d=1 N=9 V=4
    score = {
        r.doc_id: (r.n_trigrams, r.ppl)
        for r in score_perplexity_trigram(
            _mkdocs(spark, ["a b c", "x b c", "q q q", "a b"]), model
        ).collect()
    }
    assert score[0] == (1, round(math.exp(-math.log(2 / 3)), 6))  # tri hit
    # (x,b,c): tri miss, context (x,b) unseen -> backoff to (b,c)/b
    s1 = ALPHA * 2 / 3
    assert score[1] == (1, round(math.exp(-math.log(s1)), 6))
    # (q,q,q): everything unseen -> alpha^2 * (0+1)/(9+4)
    s2 = ALPHA * ALPHA * 1 / 13
    assert score[2] == (1, round(math.exp(-math.log(s2)), 6))
    assert score[3] == (0, None)  # two tokens: no trigram


def test_trigram_discriminates_better_than_bigram(spark):
    """Word-salad with plausible bigrams but impossible trigrams: the
    trigram model must separate it from the real text more sharply."""
    from recon_spark.operators.lm import (
        score_perplexity,
        score_perplexity_trigram,
        train_bigram_lm,
        train_trigram_lm,
    )

    train = _mkdocs(spark, ["the cat sat on the mat"] * 3 + ["the dog sat on a rug"] * 3)
    # every adjacent pair below occurs in training, but 'cat sat on a rug'
    # crosses sentences the trigram model never saw together with 'the cat'
    probe = _mkdocs(spark, ["the cat sat on the mat", "the cat sat on a rug"])
    b = {r.doc_id: r.ppl for r in score_perplexity(probe, train_bigram_lm(train)).collect()}
    t = {r.doc_id: r.ppl for r in
         score_perplexity_trigram(probe, train_trigram_lm(train)).collect()}
    assert t[1] / t[0] > b[1] / b[0]  # sharper separation
