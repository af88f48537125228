"""Deduplication operators for web-scale training-data pipelines.

Exact dedupe, shingle-Jaccard near-dup (inverted index), MinHash+LSH,
and SimHash — all with pure integer arithmetic hash functions (no engine
builtins) so the DuckDB oracle can reproduce every value bit-exactly.
Internal Spark-side bucketing may use xxhash64; nothing result-visible
does.

Hash spec (shared with oracles):
  wcode(w)   = ascii(w[0])*100000 + ascii(w[1])*100 + length(w)
               (injective on the 31-word corpus vocabulary)
  shingle(h3)= ((wc1*31 + wc2) % P * 31 + wc3) % P,  P = 1_000_000_007
  minhash_i  = min over shingles of (a_i*h + b_i) % P      (16 perms)
  g32(w)     = (wcode(w) * 2654435761) % 2^32               (simhash bits)

Two token-hash modes, selected by ``hash_mode``:
  "wcode"      — the toy spec above: engine-portable, oracle-pinned,
                 but injective ONLY on the synthetic test vocabulary.
                 On real text every word pair sharing (first 2 chars,
                 length) collides ("running"/"rulings"), inflating
                 candidate sets and corrupting Jaccard estimates.
  "production" — tcode(w) = int64(first 15 hex chars of md5(w)) % P:
                 a full-token 60-bit digest (collision probability
                 ~n^2/2^60), STILL engine-portable — Spark computes it
                 as conv(substring(md5(w),1,15),16,10) and DuckDB as
                 ('0x' || substring(md5(w),1,15))::BIGINT, bit-equal —
                 so production-mode queries keep full oracle parity.
                 All downstream arithmetic (shingle mix, minhash perms,
                 g32) is unchanged: tcode < P keeps every product
                 within int64 exactly like wcode.
Use "production" on real corpora; "wcode" remains the spec the original
golden queries pin.

Scale design:
- exact: groupBy(md5(text)) — map-side combine, one shuffle on a short key.
- jaccard: inverted index on shingle hash → pair-count join. At CC scale,
  cap postings per shingle (drop shingles appearing in > F docs — they
  contribute candidates quadratically but little information).
- minhash-LSH: per-row signature (no shuffle) → explode 4 bands →
  groupBy(band, sig) → pairs within buckets. Shuffle volume = 4 rows/doc.
- simhash: per-row 32-bit signature → block on 4 bytes → verify Hamming
  distance within blocks (pigeonhole: dist ≤ 3 ⇒ some byte equal... with
  4 blocks and 32 bits any pair with dist ≤ 7 shares a byte block only if
  one block is untouched; for dist ≤ 3 at least one of 4 blocks is intact).
"""

from __future__ import annotations

import random
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recon_spark.operators.scratch import iterate, pin_now, scratch

P = 1_000_000_007
N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS

_rng = random.Random(42)
PERM_A = [_rng.randrange(1, P) for _ in range(N_PERM)]
PERM_B = [_rng.randrange(0, P) for _ in range(N_PERM)]

WCODE_SQL = "(ascii({w}) * 100000 + ascii(substring({w}, 2, 1)) * 100 + length({w}))"
TCODE_SQL = (
    "(CAST(conv(substring(md5({w}), 1, 15), 16, 10) AS BIGINT) % " + str(P) + ")"
)
HASH_MODES = ("wcode", "production")


def _token_code_sql(hash_mode: str) -> str:
    if hash_mode not in HASH_MODES:
        raise ValueError(f"hash_mode must be one of {HASH_MODES}, got {hash_mode!r}")
    return TCODE_SQL if hash_mode == "production" else WCODE_SQL


def _wcodes_expr(text_col: str, hash_mode: str = "wcode") -> str:
    w = _token_code_sql(hash_mode).format(w="x")
    return f"transform(split({text_col}, ' '), x -> CAST({w} AS BIGINT))"


def _py_token_codes(hash_mode: str):
    """The numpy kernel's replica of _token_code_sql: ws -> int64 array.
    Asserted bit-equal to the JVM expression in tests."""
    import numpy as np

    if hash_mode not in HASH_MODES:
        raise ValueError(f"hash_mode must be one of {HASH_MODES}, got {hash_mode!r}")
    if hash_mode == "production":
        import hashlib

        def codes(ws):
            return np.fromiter(
                (
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16) % P
                    for w in ws
                ),
                dtype=np.int64,
                count=len(ws),
            )

    else:

        def codes(ws):
            return np.fromiter(
                (
                    (ord(w[0]) if w else 0) * 100000
                    + (ord(w[1]) if len(w) > 1 else 0) * 100
                    + len(w)
                    for w in ws
                ),
                dtype=np.int64,
                count=len(ws),
            )

    return codes


def _shingles_expr(wcodes: str) -> str:
    """3-shingle hashes from the wcode array (empty if < 3 tokens).
    ``wcodes`` MUST be a plain column reference: inlining the wcode
    transform here would re-evaluate the whole array per element_at
    (O(n^2) per row — measured 26s for 5k docs before the fix)."""
    return f"""
    CASE WHEN size({wcodes}) >= 3 THEN
      transform(sequence(1, size({wcodes}) - 2),
        i -> ((element_at({wcodes}, i) * 31 + element_at({wcodes}, i + 1)) % {P} * 31
              + element_at({wcodes}, i + 2)) % {P})
    ELSE CAST(array() AS ARRAY<BIGINT>) END
    """


def with_shingles(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "shingles",
    hash_mode: str = "wcode",
) -> DataFrame:
    # two-step Project: the optimizer keeps multi-use non-cheap aliases
    # un-inlined, so the wcode array is evaluated once per row
    return (
        df.withColumn("__wc", F.expr(_wcodes_expr(text_col, hash_mode)))
        .withColumn(out_col, F.expr(_shingles_expr("__wc")))
        .drop("__wc")
    )


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-text duplicate groups: (text_md5, n_dups, keep_id) for groups
    of size > 1; keep_id = min id (the canonical survivor)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_dups") > 1)
        .orderBy("text_md5")
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int | None = None,
    hash_mode: str = "wcode",
) -> DataFrame:
    """Shingle-set Jaccard near-duplicate pairs via inverted index:
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    max_postings drops shingles appearing in more than that many docs
    (candidate-pair blowup guard at scale; None = exact, used for the
    oracle-checked query at test SFs)."""
    sh = scratch(  # consumed by both sides of the pair join + sizes
        with_shingles(df, text_col, hash_mode=hash_mode).select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct("shingles")).alias("sh"),
        )
    )
    if max_postings is not None:
        heavy = sh.groupBy("sh").count().where(F.col("count") > max_postings).select("sh")
        sh = sh.join(heavy, "sh", "left_anti")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "wcode",
) -> DataFrame:
    """(id, minhash ARRAY<BIGINT>[16]) — Arrow-vectorized numpy kernel
    over the hash spec in the module docstring (the DuckDB oracle's
    integer arithmetic; int64-safe since all operands < 2^31 and
    products < 2^62). Per-row, shuffle-free; ~50x faster than 16
    interpreted higher-order passes."""
    import numpy as np

    a_perm = PERM_A
    b_perm = PERM_B
    p = P
    mode = hash_mode
    _token_code_sql(mode)  # validate eagerly, not inside the executor

    @F.pandas_udf("array<bigint>")
    def _minhash(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        A = np.asarray(a_perm, dtype=np.int64)[:, None]
        B = np.asarray(b_perm, dtype=np.int64)[:, None]
        codes = _py_token_codes(mode)

        def one(text: str):
            ws = text.split(" ")
            if len(ws) < 3:
                return None
            wc = codes(ws)
            h = ((wc[:-2] * 31 + wc[1:-1]) % p * 31 + wc[2:]) % p
            return list(np.min((A * h[None, :] + B) % p, axis=1))

        for texts in batches:
            yield pd.Series([one(t) for t in texts], dtype=object)

    return (
        df.select(F.col(id_col).alias("id"), _minhash(F.col(text_col)).alias("minhash"))
        .where(F.col("minhash").isNotNull())
    )


def band_signatures(sig: DataFrame) -> DataFrame:
    """Explode (id, minhash[16]) into (id, band, sig) LSH bucket keys —
    N_BANDS rows per doc, each key a concat of ROWS_PER_BAND hash
    values. Shared by the pairwise candidate join and the incremental
    new-vs-old filter."""
    return sig.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {N_BANDS - 1}), b -> named_struct("
                f"'band', b, 'sig', concat_ws('-', slice(minhash, b * {ROWS_PER_BAND} + 1, {ROWS_PER_BAND}))))"
            )
        ).alias("bs"),
    ).select("id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "wcode",
) -> DataFrame:
    """Candidate near-dup pairs from MinHash banding (4 bands × 4 rows):
    pairs sharing at least one band signature, (id_a, id_b) distinct."""
    # signatures are tiny (16 longs/doc); pin so the expensive
    # shingle+perm computation runs once, not once per join side
    sig = scratch(minhash_signature(df, id_col, text_col, hash_mode=hash_mode))
    bands = band_signatures(sig)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .orderBy("id_a", "id_b")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over near-dup pairs: (id, component) where
    component = min id reachable.

    Size-adaptive strategy (the broadcast-join-threshold pattern): when
    the edge set is small (≤ driver_threshold pairs — the common case,
    since near-dup candidates are a tiny fraction of the corpus even at
    CC scale), collect and union-find on the driver in one pass instead
    of paying per-round job overhead. Above the threshold: hash-min
    label propagation — each round every node adopts the smallest label
    among itself and its neighbors; converges in O(diameter) rounds
    (near-dup clusters are tiny, so 2-3 rounds). Each round is one
    checkpoint job (scratch.pin_now), which also counts the nodes whose
    label dropped; the loop stops on the first round where none did.
    Both paths produce identical labels (component = min reachable id):
    the rounds run through scratch.iterate, so a component whose
    diameter needs more than scratch.MAX_ROUNDS rounds raises ValueError
    instead of returning partial labels."""
    # single action: fetch threshold+1 rows; a full count would run the
    # (expensive) candidate-generation job twice
    from pyspark.sql.types import StructField, StructType

    id_type = pairs.schema[a_col].dataType  # both paths honor the input id type
    rows = pairs.select(a_col, b_col).limit(driver_threshold + 1).collect()
    if len(rows) <= driver_threshold:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = r[0], r[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp: dict = {}
        for n in parent:
            comp.setdefault(find(n), []).append(n)
        out = [
            (n, min(members))
            for members in comp.values()
            for n in members
        ]
        spark = pairs.sparkSession
        schema = StructType(
            [StructField("id", id_type), StructField("component", id_type)]
        )
        return spark.createDataFrame(sorted(out), schema).orderBy("id")
    edges = scratch(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
    )
    labels = scratch(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )

    def propagate(labels):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels, changed = pin_now(
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("changed"),
            ),
            F.sum(F.col("changed").cast("long")),
        )
        return new_labels.drop("changed"), not changed

    return iterate(
        propagate, labels, "connected_components label propagation"
    ).orderBy("id")


def dedupe_corpus(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the deduped corpus: group near-dup pairs into
    components, keep the min-id representative of each component, pass
    through all unpaired rows. The standard training-data dedup shape:
    candidates (MinHash-LSH) -> verify -> cluster -> keep one."""
    comps = connected_components(pairs)
    losers = comps.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def simhash32(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "wcode",
) -> DataFrame:
    """(id, simhash BIGINT): 32-bit SimHash over shingle multiset.
    Bit j is 1 iff sum over shingles of (2*bit_j(g32) - 1) > 0, where
    g32 = (h * 2654435761) % 2^32. Per-row, shuffle-free, pure JVM;
    bit-identical to the DuckDB oracle by construction."""
    sh = with_shingles(df, text_col, hash_mode=hash_mode).withColumn(
        "__g", F.expr("transform(shingles, h -> (h * 2654435761L) % 4294967296L)")
    )
    bits = " + ".join(
        f"(CASE WHEN aggregate(__g, 0L, (acc, v) -> acc + CASE WHEN (v div {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN {1 << j}L ELSE 0L END)"
        for j in range(32)
    )
    return sh.select(F.col(id_col).alias("id"), F.expr(f"({bits})").alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    max_dist: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "wcode",
) -> DataFrame:
    """(id_a, id_b, dist): pairs with SimHash Hamming distance <= max_dist,
    candidate-blocked on the four 8-bit pieces (exact for max_dist <= 3 by
    pigeonhole: at most 3 differing bits touch at most 3 of 4 pieces)."""
    sig = scratch(simhash32(df, id_col, text_col, hash_mode=hash_mode))
    pieces = sig.select(
        "id",
        "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), p -> named_struct("
                "'p', p, 'piece', (simhash div CAST(pow(256, p) AS BIGINT)) % 256))"
            )
        ).alias("pp"),
    ).select("id", "simhash", F.col("pp.p").alias("p"), F.col("pp.piece").alias("piece"))
    a = pieces.alias("a")
    b = pieces.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p"))
            & (F.col("a.piece") == F.col("b.piece"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.expr("sa ^ sb")).cast("int").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
        .orderBy("id_a", "id_b")
    )


def incremental_neardup(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "wcode",
) -> DataFrame:
    """Incremental ingest gate: flag each NEW document that is a
    MinHash-LSH near-duplicate of the EXISTING corpus. Returns
    (id, is_dup) for every new document with a signature (< 3 tokens
    have no shingles, same rule as the batch path), ordered by id.

    The production shape behind checkpointed resume: the old side's
    distinct (band, sig) index is materialized once per snapshot
    (append-only, tiny — N_BANDS short rows per ingested doc) and each
    arriving batch left-semi-joins its own band keys against it;
    accepted docs append their keys to the index. Within-batch dedup
    stays with the standard pairwise path (minhash_lsh_candidates).

    Scale design: the only shuffle is the semi-join on the short
    (band, sig) key; a small batch side broadcasts under AQE. No
    pairwise join ever touches the old corpus — the candidate
    explosion of re-running batch LSH over old ∪ new is avoided
    entirely, which is what makes re-ingestion O(batch), not
    O(corpus).
    """
    new_bands = band_signatures(
        minhash_signature(new_df, id_col, text_col, hash_mode=hash_mode)
    )
    old_index = (
        band_signatures(minhash_signature(old_df, id_col, text_col, hash_mode=hash_mode))
        .select("band", "sig")
        .distinct()
    )
    hits = (
        new_bands.join(old_index, ["band", "sig"], "left_semi")
        .select("id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        new_bands.select("id")
        .distinct()
        .join(hits, "id", "left")
        .select("id", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
        .orderBy("id")
    )


def segment_dedup(
    docs: DataFrame,
    delimiter: str = " the ",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Global keep-first segment-level dedup — the C4 "deduplicate at
    the level of individual lines" pass (RefinedWeb keeps the same
    shape). Documents are split on ``delimiter``; a segment survives
    only at its globally-first occurrence (smallest (doc_id, pos));
    every later occurrence — in other documents or later in the same
    one — is dropped and the document text is rebuilt from the
    surviving segments.

    Generalizes the reference's content-addressed example dedupe
    (recon/store.py:25-47, hash-keyed ExampleStore) from whole-example
    granularity to intra-document segments.

    Scale design: the first-occurrence owner per segment is a
    ``min(struct(doc_id, pos))`` aggregate — map-side combinable, so a
    boilerplate segment appearing in 10^9 documents collapses to one
    row per map task before the shuffle; a window row_number over
    segment would instead sort every occurrence of the hottest segment
    in one partition. Two further doc_id-keyed aggregates rebuild the
    per-document view; rebuild memory is bounded by single-document
    size. No Python anywhere.

    Returns (id, n_segs, n_kept, new_md5, new_len) per document:
    segment counts before/after, and md5 + length of the rebuilt text
    (empty string when every segment of the doc lost its race).
    """
    import re

    # F.split takes a REGEX but array_join rebuilds with the literal —
    # escape so both sides agree on delimiters like '|' or '. '
    segs = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(text_col, re.escape(delimiter))).alias("pos", "seg"),
    )
    firsts = (
        segs.groupBy("seg")
        .agg(F.min(F.struct("id", "pos")).alias("f"))
        .select(F.col("f.id").alias("id"), F.col("f.pos").alias("pos"), "seg")
    )
    kept = firsts.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            delimiter,
        ).alias("new_text"),
    )
    totals = segs.groupBy("id").agg(F.count(F.lit(1)).alias("n_segs"))
    return (
        totals.join(kept, "id", "left")
        .select(
            "id",
            "n_segs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.md5(F.coalesce("new_text", F.lit(""))).alias("new_md5"),
            F.length(F.coalesce("new_text", F.lit(""))).alias("new_len"),
        )
        .orderBy("id")
    )
