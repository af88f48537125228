"""Extra query registry: the remaining SURVEY.md §2 operators exposed
through the driver contract — overlap resolution, sentence splitting,
offset-adjusting strip, tokenization stats, deterministic augmentation,
dedup clustering (connected components), LSH-bucketed ANN, and substring
search.

Each query pairs a Spark implementation with a DuckDB oracle. The
non-trivial oracles:

- ``filter_overlaps``: the greedy keep-longest-per-overlapping-chain
  kernel (reference /root/reference/recon/validation.py:22-112) is
  re-expressed in DuckDB as a ``list_reduce`` fold over the per-doc span
  list sorted by (length DESC, start, end, source-rank) — per-chain
  greedy equals globally-ordered greedy because overlap chains are
  independent components.
- ``augment_label_sub``: the substitution index is
  ``(doc_id·KNUTH + span.start + variant) % |candidates|``
  (recon_spark/operators/augmentation.py), all integer arithmetic, so
  the oracle rebuilds each variant's text relationally from token units.
- ``dedup_cluster``: min-reachable-id connected components as a
  recursive CTE (the Spark side is hash-min label propagation —
  both converge to min id per component).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recon_spark.gazetteer import (
    MENTION_PATTERN,
    MODEL_AMBIG,
    MODEL_FIXED,
    sql_mentions_char_cte,
    sql_mentions_pos_cte,
)
from recon_spark.operators import stats as S
from recon_spark.operators.augmentation import ent_label_sub
from recon_spark.operators.corrections import search, split_sentences, strip_annotations
from recon_spark.operators.dedupe import connected_components, minhash_lsh_candidates
from recon_spark.operators.extraction import (
    detect_mentions,
    detect_mentions_both,
    mentions_long,
)
from recon_spark.operators.sample import KNUTH
from recon_spark.operators.similarity import lsh_neardup_pairs
from recon_spark.operators.validation import (
    add_tokens,
    filter_overlaps,
    validate_span_offsets,
)
from recon_spark.queries.core import SQL_ENTITY_COVERAGE, _docs


# --------------------------------------------------------------------------
# filter_overlaps — gold ∪ model spans, greedy keep-longest per chain
# --------------------------------------------------------------------------

def q_filter_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    gp = detect_mentions_both(docs)  # fused gold+model single Arrow pass
    merged = gp.withColumn("spans", F.expr("concat(spans, pred_spans)")).select(
        "doc_id", "text", "spans"
    )
    # concat puts gold before model: the fold's array-position tie-break
    # is the oracle's srk
    resolved = filter_overlaps(merged)
    return (
        resolved.select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.start").alias("start"),
            F.col("s.end").alias("end"),
            F.col("s.text").alias("text"),
            F.col("s.label").alias("label"),
            F.col("s.source").alias("source"),
        )
        .orderBy("doc_id", "start")
    )


SQL_FILTER_OVERLAPS = f"""
WITH {sql_mentions_char_cte(name='gold')},
{sql_mentions_char_cte(name='model', fixed=MODEL_FIXED, ambig=MODEL_AMBIG)},
allsp AS (
  SELECT doc_id, start, "end", surface, label, 'gazetteer' AS src, 0 AS srk FROM gold_char
  UNION ALL
  SELECT doc_id, start, "end", surface, label, 'model' AS src, 1 AS srk FROM model_char
),
lists AS (
  SELECT doc_id,
         list(struct_pack(s := start, e := "end", surface := surface,
                          label := label, src := src)
              ORDER BY ("end" - start) DESC, start, "end", srk) AS sp
  FROM allsp GROUP BY doc_id
),
kept AS (
  -- greedy fold: append the candidate iff it overlaps no already-kept
  -- span. Written as concat-with-filtered-increment (never returning
  -- the bare accumulator) because DuckDB 1.0's list_reduce mis-executes
  -- a CASE branch that passes `acc` through unchanged.
  SELECT doc_id,
         list_reduce(
           list_transform(sp, x -> [x]),
           (acc, x) -> list_concat(acc, list_filter(x,
               y -> len(list_filter(acc,
                   k -> least(struct_extract(k, 'e'), struct_extract(y, 'e'))
                        - greatest(struct_extract(k, 's'), struct_extract(y, 's')) > 0)) = 0))
         ) AS ks
  FROM lists
),
flat AS (SELECT doc_id, unnest(ks, recursive := true) FROM kept)
SELECT doc_id, s AS start, e AS "end", surface AS text, label, src AS source
FROM flat ORDER BY doc_id, start
"""


# --------------------------------------------------------------------------
# split_sentences — one-to-many with offset re-basing
# --------------------------------------------------------------------------

_SENT_DELIM = " the "


def q_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = detect_mentions(_docs(spark, sf_dir)).select("doc_id", "text", "spans")
    s = split_sentences(d, delimiter=_SENT_DELIM)
    # n_ok re-checks the span-offset invariant on the re-based spans; it
    # must equal n_spans (the oracle counts mentions per sentence).
    return s.select(
        "doc_id",
        "sent_id",
        F.col("text").alias("sent_text"),
        F.size("spans").alias("n_spans"),
        F.expr(
            "size(filter(spans, s -> s.text = substring(text, s.start + 1, s.end - s.start)))"
        ).alias("n_ok"),
    ).orderBy("doc_id", "sent_id")


SQL_SPLIT_SENTENCES = f"""
WITH sents AS (
  SELECT doc_id,
         unnest(string_split(text, '{_SENT_DELIM}')) AS sent_text,
         unnest(generate_series(1, len(string_split(text, '{_SENT_DELIM}')))) - 1 AS sent_id
  FROM documents
)
SELECT doc_id, CAST(sent_id AS INT) AS sent_id, sent_text,
       CAST(len(regexp_extract_all(sent_text, '{MENTION_PATTERN}')) AS INT) AS n_spans,
       CAST(len(regexp_extract_all(sent_text, '{MENTION_PATTERN}')) AS INT) AS n_ok
FROM sents ORDER BY doc_id, sent_id
"""


# --------------------------------------------------------------------------
# strip_annotations — metamorphic pad→strip round trip
# --------------------------------------------------------------------------

def q_strip_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pad every interior span by one char on each side (grabbing the
    adjacent spaces), strip_annotations trims them back, the offset
    invariant is re-validated, and the surface coverage must equal the
    untouched entity-coverage oracle — an exact end-to-end check of the
    offset arithmetic in recon_spark/operators/corrections.py
    (reference recon/corrections.py:142-176)."""
    d = detect_mentions(_docs(spark, sf_dir))
    pad = (
        "transform(spans, s -> IF(s.start > 0 AND s.end < length(text), "
        "named_struct("
        "'text', substring(text, s.start, s.end - s.start + 2), "
        "'start', CAST(s.start - 1 AS INT), 'end', CAST(s.end + 1 AS INT), "
        "'label', s.label, 'token_start', s.token_start, "
        "'token_end', s.token_end, 'kb_id', s.kb_id, 'source', s.source), s))"
    )
    padded = d.withColumn("spans", F.expr(pad))
    stripped = strip_annotations(padded)
    valid = validate_span_offsets(stripped)
    return S.entity_coverage(mentions_long(valid))


SQL_STRIP_ANNOTATIONS = SQL_ENTITY_COVERAGE


# --------------------------------------------------------------------------
# token_stats — add_tokens + alignment gate + per-lang rollup
# --------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = detect_mentions(_docs(spark, sf_dir))
    t = add_tokens(d)  # drops rows with misaligned spans (none on this corpus)
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("tokens")).alias("n_tokens"),
            F.sum(F.size("spans")).alias("n_spans"),
        )
        .orderBy("lang")
    )


SQL_TOKEN_STATS = f"""
WITH {sql_mentions_pos_cte()},
mcount AS (SELECT doc_id, count(*) AS c FROM mentions GROUP BY doc_id)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(string_split(d.text, ' '), w -> w <> ''))) AS BIGINT) AS n_tokens,
       CAST(sum(coalesce(m.c, 0)) AS BIGINT) AS n_spans
FROM documents d LEFT JOIN mcount m USING (doc_id)
GROUP BY d.lang ORDER BY d.lang
"""


# --------------------------------------------------------------------------
# augment_label_sub — deterministic one-to-many augmentation
# --------------------------------------------------------------------------

_AUG_LABEL = "TECH"  # surface 'spark' only; never part of a bigram
_AUG_CANDS = ["flink", "storm", "beam"]
_AUG_N = 2


def q_augment_label_sub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = detect_mentions(_docs(spark, sf_dir)).select("doc_id", "text", "spans")
    a = ent_label_sub(d, _AUG_LABEL, _AUG_CANDS, n_augs=_AUG_N)
    return a.select(
        "doc_id", "variant", "text", F.size("spans").alias("n_spans")
    ).orderBy("doc_id", "variant")


_CANDS_SQL = "[" + ", ".join(f"'{c}'" for c in _AUG_CANDS) + "]"

SQL_AUGMENT_LABEL_SUB = f"""
WITH {sql_mentions_char_cte()},
vs AS (SELECT unnest(generate_series(0, {_AUG_N - 1})) AS v),
units AS (
  SELECT m.doc_id, v.v, m.start AS ord,
         CASE WHEN m.label = '{_AUG_LABEL}'
              THEN {_CANDS_SQL}[CAST((m.doc_id * {KNUTH} + m.start + v.v)
                                     % {len(_AUG_CANDS)} AS INT) + 1]
              ELSE m.surface END AS unit
  FROM mentions_char m, vs v
  UNION ALL
  SELECT t.doc_id, v.v, t.cs AS ord, t.w AS unit
  FROM (SELECT tk.doc_id, tk.w, c.cs
        FROM mentions_tok tk JOIN mentions_cs c
          ON tk.doc_id = c.doc_id AND tk.pos = c.pos) t, vs v
  WHERE NOT EXISTS (SELECT 1 FROM mentions_char m
                    WHERE m.doc_id = t.doc_id
                      AND m.start <= t.cs AND t.cs < m."end")
),
rebuilt AS (
  SELECT doc_id, v, string_agg(unit, ' ' ORDER BY ord) AS text
  FROM units GROUP BY doc_id, v
),
mc AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans FROM mentions_char GROUP BY doc_id),
eligible AS (SELECT DISTINCT doc_id FROM mentions_char WHERE label = '{_AUG_LABEL}')
SELECT r.doc_id, CAST(r.v AS INT) AS variant, r.text, mc.n_spans
FROM rebuilt r
JOIN eligible USING (doc_id)
JOIN mc USING (doc_id)
JOIN documents d ON d.doc_id = r.doc_id
WHERE r.text <> d.text
QUALIFY row_number() OVER (PARTITION BY r.doc_id, r.text ORDER BY r.v) = 1
ORDER BY doc_id, variant
"""


# --------------------------------------------------------------------------
# kb_expansion — alias-sibling substitution (recon.augment.kb_expansion.v1)
# --------------------------------------------------------------------------

def q_kb_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """With the demo KB only E_STREAM has two aliases, so the expansion
    deterministically swaps 'stream' ↔ 'data stream'; variant 1 always
    reproduces variant 0's text and is content-deduped away."""
    from recon_spark.operators.augmentation import kb_expansion

    d = detect_mentions(_docs(spark, sf_dir)).select("doc_id", "text", "spans")
    a = kb_expansion(d, n_augs=2)
    return a.select(
        "doc_id", "variant", "text", F.size("spans").alias("n_spans")
    ).orderBy("doc_id", "variant")


SQL_KB_EXPANSION = f"""
WITH {sql_mentions_char_cte()},
units AS (
  SELECT m.doc_id, m.start AS ord,
         CASE m.surface WHEN 'stream' THEN 'data stream'
                        WHEN 'data stream' THEN 'stream'
                        ELSE m.surface END AS unit
  FROM mentions_char m
  UNION ALL
  SELECT t.doc_id, t.cs AS ord, t.w AS unit
  FROM (SELECT tk.doc_id, tk.w, c.cs
        FROM mentions_tok tk JOIN mentions_cs c
          ON tk.doc_id = c.doc_id AND tk.pos = c.pos) t
  WHERE NOT EXISTS (SELECT 1 FROM mentions_char m
                    WHERE m.doc_id = t.doc_id
                      AND m.start <= t.cs AND t.cs < m."end")
),
rebuilt AS (
  SELECT doc_id, string_agg(unit, ' ' ORDER BY ord) AS text
  FROM units GROUP BY doc_id
),
mc AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans FROM mentions_char GROUP BY doc_id),
eligible AS (SELECT DISTINCT doc_id FROM mentions_char
             WHERE surface IN ('stream', 'data stream'))
SELECT r.doc_id, CAST(0 AS INT) AS variant, r.text, mc.n_spans
FROM rebuilt r JOIN eligible USING (doc_id) JOIN mc USING (doc_id)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# merge_corrected — human-corrected rows win (prodigy merge analog)
# --------------------------------------------------------------------------

def q_merge_corrected(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.preprocess import merge_corrected

    docs = _docs(spark, sf_dir)
    corrected = (
        docs.where(F.col("doc_id") % 7 == 0)
        .select("text")
        .distinct()
        .withColumn("lang", F.lit("xx"))
    )
    merged = merge_corrected(docs, corrected, key_col="text")
    return (
        merged.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).orderBy("lang")
    )


SQL_MERGE_CORRECTED = """
SELECT CASE WHEN EXISTS (SELECT 1 FROM documents c
                         WHERE c.doc_id % 7 = 0 AND c.text = d.text)
            THEN 'xx' ELSE d.lang END AS lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents d GROUP BY 1 ORDER BY lang
"""


# --------------------------------------------------------------------------
# dedup_cluster — connected components over MinHash-LSH candidate pairs
# --------------------------------------------------------------------------

def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    return connected_components(minhash_lsh_candidates(_docs(spark, sf_dir)))


def _sql_minhash_pairs_cte() -> str:
    from recon_spark.queries.pipeline import SQL_SHINGLES, _sql_minhash

    return f"""{SQL_SHINGLES},
{_sql_minhash()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands_long a
  JOIN bands_long b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)"""


def _sql_components_cte() -> str:
    """Min-reachable-id connected components over a ``pairs`` CTE —
    ends in ``comp(id, component)``. Shared verbatim by the
    dedup_cluster and clean_corpus oracles so the recursion stays in
    lockstep with the Spark connected_components semantics."""
    return """edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"""


SQL_DEDUP_CLUSTER = f"""
WITH RECURSIVE {_sql_minhash_pairs_cte()},
{_sql_components_cte()}
SELECT id, component FROM comp ORDER BY id
"""


# --------------------------------------------------------------------------
# lsh_neardup — random-hyperplane LSH bands + exact cosine verify
# --------------------------------------------------------------------------

_LSH_DIM = 64
_LSH_PLANES = 16
_LSH_BANDS = 4
_LSH_THRESHOLD = 0.45


def q_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_neardup_pairs(
        emb,
        threshold=_LSH_THRESHOLD,
        dim=_LSH_DIM,
        n_planes=_LSH_PLANES,
        n_bands=_LSH_BANDS,
        id_col="vec_id",
    )


def _sql_lsh() -> str:
    from recon_spark.operators.similarity import hyperplanes

    planes = hyperplanes(_LSH_DIM, _LSH_PLANES, seed=42)
    bits = " + ".join(
        f"(CASE WHEN list_dot_product(e, [{', '.join(repr(x) for x in p)}]) > 0"
        f" THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j, p in enumerate(planes)
    )
    rows = _LSH_PLANES // _LSH_BANDS
    return f"""
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
sig AS (SELECT vec_id, e, {bits} AS s FROM v),
bands AS (
  SELECT vec_id, e, b,
         (s // CAST(pow(2, b * {rows}) AS BIGINT)) % {1 << rows} AS piece
  FROM sig, (SELECT unnest(generate_series(0, {_LSH_BANDS - 1})) AS b)
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.e AS ea, b.e AS eb
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.piece = b.piece AND a.vec_id < b.vec_id
)"""


SQL_LSH_NEARDUP = f"""
WITH {_sql_lsh()}
SELECT id_a, id_b,
       round(list_dot_product(ea, eb)
             / (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb))), 6)
         AS cos
FROM cand
WHERE list_dot_product(ea, eb)
      / (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb)))
      >= {_LSH_THRESHOLD}
ORDER BY id_a, id_b
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish-regex token counts per doc (the two token
    accounting modes a training-data pipeline reports)."""
    from recon_spark.operators.textstats import token_counts

    return token_counts(_docs(spark, sf_dir)).orderBy("doc_id")


def _sql_bpe() -> str:
    from recon_spark.operators.textstats import BPE_PATTERN

    return BPE_PATTERN.replace("'", "''")


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       CAST(len(list_filter(regexp_extract_all(text, '{{pat}}'),
                x -> NOT regexp_matches(x, '^[ 	
]+$'))) AS INT) AS n_bpe_tokens
FROM documents ORDER BY doc_id
""".replace("{pat}", _sql_bpe())


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-evidence language ID over every doc, rolled up to
    (lang_pred, n_docs) — the plumbing contract a fastText-style model
    would slot into."""
    from recon_spark.operators.textstats import language_id

    d = language_id(_docs(spark, sf_dir))
    return d.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n_docs")).orderBy("lang_pred")


def _sql_stopword_in() -> str:
    from recon_spark.gazetteer import STOPWORDS

    return ", ".join(f"'{s}'" for s in STOPWORDS)


SQL_LANGUAGE_ID = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
p AS (
  SELECT doc_id,
         CASE WHEN len(list_filter(ws, w -> w IN ({_sql_stopword_in()})))
                   / CAST(len(ws) AS DOUBLE) >= 0.01
              THEN 'en' ELSE 'und' END AS lang_pred
  FROM t
)
SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM p GROUP BY lang_pred ORDER BY lang_pred
"""


def q_language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram-profile language ID (Cavnar-Trenkle shape) over
    every doc, rolled up to (lang_pred, n_docs). Pure JVM substring
    counting; the embedded profiles are the model."""
    from recon_spark.operators.textstats import language_id_ngram

    d = language_id_ngram(_docs(spark, sf_dir))
    return d.groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n_docs")).orderBy("lang_pred")


def _sql_lang_ngram() -> str:
    from recon_spark.operators.textstats import sql_language_id_ngram

    return f"""
WITH p AS (SELECT doc_id, {sql_language_id_ngram()} AS lang_pred FROM documents)
SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM p GROUP BY lang_pred ORDER BY lang_pred
"""


SQL_LANGUAGE_ID_NGRAM = _sql_lang_ngram()


def q_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus.apply analog (reference recon/corpus.py:142-164): the same
    ner-stats aggregate over every split in ONE grouped job — the
    `source` column stands in for train/dev/test. One shuffle total
    instead of one job per split."""
    d = detect_mentions(_docs(spark, sf_dir))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_examples"),
            F.sum((F.size("spans") == 0).cast("long")).alias("n_examples_no_entities"),
            F.sum(F.size("spans")).alias("n_annotations"),
        )
        .orderBy("source")
    )


SQL_SPLIT_STATS = f"""
WITH {sql_mentions_pos_cte()},
mcount AS (SELECT doc_id, count(*) AS c FROM mentions GROUP BY doc_id)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_examples,
       CAST(sum(CASE WHEN coalesce(m.c, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_examples_no_entities,
       CAST(sum(coalesce(m.c, 0)) AS BIGINT) AS n_annotations
FROM documents d LEFT JOIN mcount m USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""


# --------------------------------------------------------------------------
# multimodal_features — opaque-binary decode (stub) → pooled features
# --------------------------------------------------------------------------

_MEDIA_N = 512


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table → metadata-only image filter →
    Arrow-batched fake-decode → 8-way mean pooling, flattened to
    (media_id, f_idx, feature). The decode stub is seeded by
    sha256(payload.hex()) so the oracle replicates the whole pipeline
    relationally."""
    from recon_spark.operators.multimodal import extract_image_features, generate_media

    media = generate_media(spark, _MEDIA_N)
    feats = extract_image_features(media, fake=True)
    return (
        feats.select(
            "media_id",
            F.posexplode("features").alias("f_idx", "f"),
        )
        .select("media_id", "f_idx", F.round("f", 6).alias("feature"))
        .orderBy("media_id", "f_idx")
    )


# image rows are media_id % 3 == 0; their fake decode dims collapse to
# w = h = media_id % 8 + 1 (generator: width = 32 + i % 64, and
# (32 + i % 64) % 8 == i % 8; same for height). np.array_split(px, 8)
# chunk j covers [j*(l//8) + min(j, l%8), +l//8 + (j < l%8)).
SQL_MULTIMODAL_FEATURES = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_N - 1})) AS media_id),
img AS (
  SELECT media_id, CAST(media_id % 8 + 1 AS BIGINT) AS w
  FROM ids WHERE media_id % 3 = 0
),
d AS (
  SELECT media_id, w * w AS l,
         sha256(repeat(sha256('42:' || media_id), 8 + media_id % 8)) AS dh
  FROM img
),
b AS (
  SELECT media_id, l,
         list_transform(generate_series(0, 31),
           k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM d
),
px AS (
  SELECT media_id, l,
         list_transform(generate_series(0, l - 1), j -> db[(j % 32) + 1]) AS p
  FROM b
),
f AS (
  SELECT media_id, fi AS f_idx,
         CAST(l // 8 + (CASE WHEN fi < l % 8 THEN 1 ELSE 0 END) AS BIGINT) AS sz,
         CAST(fi * (l // 8) + least(fi, l % 8) AS BIGINT) AS st,
         p
  FROM px, (SELECT unnest(generate_series(0, 7)) AS fi)
)
SELECT media_id, CAST(f_idx AS INT) AS f_idx,
       round(CASE WHEN sz > 0 THEN list_avg(p[st + 1 : st + sz]) ELSE 0.0 END, 6)
         AS feature
FROM f ORDER BY media_id, f_idx
"""


_MEDIA_DIGEST_CTE = f"""ids AS (SELECT unnest(generate_series(0, {_MEDIA_N - 1})) AS media_id),
dg AS (
  SELECT media_id,
         sha256(repeat(sha256('42:' || media_id), 8 + media_id % 8)) AS dh
  FROM ids
),
db_t AS (
  SELECT media_id,
         list_transform(generate_series(0, 31),
           k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg
)"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resize of every (fake-decoded) image to 4x4,
    flattened to (media_id, p_idx, pixel) — integer source-index
    arithmetic, so the oracle replays decode -> resize exactly."""
    from recon_spark.operators.multimodal import generate_media, resize_image

    media = generate_media(spark, _MEDIA_N)
    r = resize_image(media, target_w=4, target_h=4, fake=True)
    return (
        r.select("media_id", F.posexplode("pixels").alias("p_idx", "pixel"))
        .orderBy("media_id", "p_idx")
    )


# image rows: media_id % 3 == 0, fake dims w = h = media_id % 8 + 1;
# resized (x, y) reads source (x*w//4, y*w//4) -> byte (xs*w + ys) % 32
SQL_MULTIMODAL_RESIZE = f"""
WITH {{digest}},
img AS (SELECT media_id, media_id % 8 + 1 AS w, db FROM db_t WHERE media_id % 3 = 0),
grid AS (SELECT x, y FROM (SELECT unnest(generate_series(0, 3)) AS x),
                         (SELECT unnest(generate_series(0, 3)) AS y))
SELECT media_id, CAST(x * 4 + y AS INT) AS p_idx,
       CAST(db[(((x * w) // 4) * w + ((y * w) // 4)) % 32 + 1] AS INT) AS pixel
FROM img, grid ORDER BY media_id, p_idx
""".format(digest=_MEDIA_DIGEST_CTE)


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio windowed features over the strided fake decode: 1024
    samples (digest[j % 32] - 128), 4 windows of 256, mean absolute
    energy each, flattened to (media_id, w_idx, energy)."""
    from recon_spark.operators.multimodal import extract_audio_features, generate_media

    media = generate_media(spark, _MEDIA_N)
    a = extract_audio_features(media, fake=True, n_windows=4)
    return (
        a.select("media_id", F.posexplode("features").alias("w_idx", "f"))
        .select("media_id", "w_idx", F.round("f", 6).alias("energy"))
        .orderBy("media_id", "w_idx")
    )


# audio rows: media_id % 3 == 1; sample_rate*duration/1000 >= 1024 for
# every generated row, so the strided decode is always 1024 samples
SQL_MULTIMODAL_AUDIO = f"""
WITH {{digest}},
aud AS (SELECT media_id, db FROM db_t WHERE media_id % 3 = 1),
samp AS (
  SELECT media_id, j // 256 AS w_idx, abs(db[(j % 32) + 1] - 128) AS a
  FROM aud, (SELECT unnest(generate_series(0, 1023)) AS j)
)
SELECT media_id, CAST(w_idx AS INT) AS w_idx, round(avg(a), 6) AS energy
FROM samp GROUP BY media_id, w_idx ORDER BY media_id, w_idx
""".format(digest=_MEDIA_DIGEST_CTE)



def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: one row per (media_id, frame_ts_ms),
    pure JVM sequence over the metadata duration — the binary column is
    never touched (column pruning keeps payload bytes out of the scan)."""
    from recon_spark.operators.multimodal import generate_media, sample_frames

    media = generate_media(spark, _MEDIA_N)
    return sample_frames(media, every_ms=1000).orderBy("media_id", "frame_ts_ms")


SQL_MULTIMODAL_FRAMES = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_N - 1})) AS media_id),
vid AS (SELECT media_id, 2000 + media_id % 9000 AS duration_ms
        FROM ids WHERE media_id % 3 = 2)
SELECT media_id, CAST(unnest(generate_series(0, duration_ms, 1000)) AS INT) AS frame_ts_ms
FROM vid ORDER BY media_id, frame_ts_ms
"""


# --------------------------------------------------------------------------
# REAL stdlib decode (round 4): generate_media_real emits genuine
# BMP/PPM/WAV containers whose pixel/sample values are a pure function
# of sha256(f"42:{media_id}"), so the oracle recomputes the EXPECTED
# decode output relationally while Spark parses the actual container
# bytes — any header/stride/channel-order/endianness bug hash-fails.
# --------------------------------------------------------------------------

_MEDIA_REAL_N = 300


def q_multimodal_decode_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP/PPM decode over genuine container payloads: per image,
    the container-parsed dims (NOT the metadata — independence check)
    plus pixel-value stats. Arrow-batched mapInArrow; the metadata-only
    filter prunes WAV payload bytes out of the decode scan."""
    import pyarrow as pa

    from recon_spark.operators.multimodal import decode_bmp, decode_ppm, generate_media_real

    def _gen(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            cols = {k: [] for k in ("codec", "w", "h", "n_values", "px_sum", "px_min", "px_max")}
            for p in batch.column("payload").to_pylist():
                if p[:2] == b"BM":
                    codec, (w, h, px) = "bmp", decode_bmp(p)
                else:
                    codec, (w, h, px) = "ppm", decode_ppm(p)
                cols["codec"].append(codec)
                cols["w"].append(w)
                cols["h"].append(h)
                cols["n_values"].append(len(px))
                cols["px_sum"].append(sum(px))
                cols["px_min"].append(min(px))
                cols["px_max"].append(max(px))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(cols["codec"], pa.string()),
                    pa.array(cols["w"], pa.int32()),
                    pa.array(cols["h"], pa.int32()),
                    pa.array(cols["n_values"], pa.int32()),
                    pa.array(cols["px_sum"], pa.int64()),
                    pa.array(cols["px_min"], pa.int32()),
                    pa.array(cols["px_max"], pa.int32()),
                ],
                ["media_id", "codec", "w", "h", "n_values", "px_sum", "px_min", "px_max"],
            )

    media = generate_media_real(spark, _MEDIA_REAL_N)
    images = media.where(F.col("meta.media_type").startswith("image/"))
    return (
        images.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, codec string, w int, h int, n_values int, "
            "px_sum long, px_min int, px_max int",
        )
        .orderBy("media_id")
    )


SQL_MULTIMODAL_DECODE_IMAGE = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_REAL_N - 1})) AS media_id),
img AS (
  SELECT media_id, 2 + media_id % 5 AS w, 2 + media_id % 4 AS h
  FROM ids WHERE media_id % 3 <> 2
),
dg AS (SELECT media_id, w, h, sha256('42:' || media_id) AS dh FROM img),
db_t AS (
  SELECT media_id, w, h,
         list_transform(generate_series(0, 31),
           k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg
),
px AS (
  SELECT media_id, w, h,
         flatten(list_transform(generate_series(0, w * h - 1),
           i -> [db[i % 32 + 1], db[(i + 7) % 32 + 1], db[(i + 13) % 32 + 1]]))
           AS p
  FROM db_t
)
SELECT media_id,
       CASE WHEN media_id % 3 = 0 THEN 'bmp' ELSE 'ppm' END AS codec,
       CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(len(p) AS INT) AS n_values,
       CAST(list_aggregate(p, 'sum') AS BIGINT) AS px_sum,
       CAST(list_aggregate(p, 'min') AS INT) AS px_min,
       CAST(list_aggregate(p, 'max') AS INT) AS px_max
FROM px ORDER BY media_id
"""


def q_multimodal_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV/PCM16 decode via the stdlib wave module: per track, the
    container-parsed sample rate and count plus signed-sample stats
    (endianness/width bugs flip signs and hash-fail)."""
    import pyarrow as pa

    from recon_spark.operators.multimodal import decode_wav, generate_media_real

    def _gen(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            cols = {k: [] for k in ("sample_rate", "n_samples", "abs_sum", "first_s", "last_s")}
            for p in batch.column("payload").to_pylist():
                sr, samples = decode_wav(p)
                cols["sample_rate"].append(sr)
                cols["n_samples"].append(len(samples))
                cols["abs_sum"].append(sum(abs(s) for s in samples))
                cols["first_s"].append(samples[0])
                cols["last_s"].append(samples[-1])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(cols["sample_rate"], pa.int32()),
                    pa.array(cols["n_samples"], pa.int32()),
                    pa.array(cols["abs_sum"], pa.int64()),
                    pa.array(cols["first_s"], pa.int32()),
                    pa.array(cols["last_s"], pa.int32()),
                ],
                ["media_id", "sample_rate", "n_samples", "abs_sum", "first_s", "last_s"],
            )

    media = generate_media_real(spark, _MEDIA_REAL_N)
    audio = media.where(F.col("meta.media_type").startswith("audio/"))
    return (
        audio.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, sample_rate int, n_samples int, abs_sum long, "
            "first_s int, last_s int",
        )
        .orderBy("media_id")
    )


SQL_MULTIMODAL_DECODE_AUDIO = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_REAL_N - 1})) AS media_id),
aud AS (
  SELECT media_id, 40 + media_id % 32 AS ns
  FROM ids WHERE media_id % 3 = 2
),
dg AS (SELECT media_id, ns, sha256('42:' || media_id) AS dh FROM aud),
db_t AS (
  SELECT media_id, ns,
         list_transform(generate_series(0, 31),
           k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg
),
s AS (
  SELECT media_id, ns,
         list_transform(generate_series(0, ns - 1),
           j -> (db[j % 32 + 1] - 128) * 101) AS samples
  FROM db_t
)
SELECT media_id, CAST(8000 AS INT) AS sample_rate, CAST(ns AS INT) AS n_samples,
       CAST(list_aggregate(list_transform(samples, x -> abs(x)), 'sum')
            AS BIGINT) AS abs_sum,
       CAST(samples[1] AS INT) AS first_s,
       CAST(samples[ns] AS INT) AS last_s
FROM s ORDER BY media_id
"""


_MEDIA_G711_N = 200


def q_multimodal_decode_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real G.711 µ-law/A-law decode (round 5): genuine RIFF containers
    with format codes 7/6 — which the stdlib wave module REJECTS, so
    this exercises the manual RIFF walker plus the closed-form ITU-T
    segment expansion. The law is derived from the container's fmt
    code, not the metadata (independence check); per-track linear-
    sample stats hash-fail on any expansion/sign/segment bug."""
    import pyarrow as pa

    from recon_spark.operators.multimodal import decode_wav, generate_media_g711

    def _gen(batches):
        import struct as _struct

        from recon_spark.operators.multimodal import _riff_chunks

        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            cols = {k: [] for k in ("codec", "sample_rate", "n_samples",
                                    "abs_sum", "first_s", "last_s")}
            for p in batch.column("payload").to_pylist():
                # read the fmt code via the chunk walk (not a fixed
                # offset) so the check stays layout-independent
                code = next(_struct.unpack_from("<H", c, 0)[0]
                            for cid, c in _riff_chunks(bytes(p))
                            if cid == b"fmt ")
                sr, samples = decode_wav(bytes(p))
                cols["codec"].append({7: "ulaw", 6: "alaw"}[code])
                cols["sample_rate"].append(sr)
                cols["n_samples"].append(len(samples))
                cols["abs_sum"].append(sum(abs(s) for s in samples))
                cols["first_s"].append(samples[0])
                cols["last_s"].append(samples[-1])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(cols["codec"], pa.string()),
                    pa.array(cols["sample_rate"], pa.int32()),
                    pa.array(cols["n_samples"], pa.int32()),
                    pa.array(cols["abs_sum"], pa.int64()),
                    pa.array(cols["first_s"], pa.int32()),
                    pa.array(cols["last_s"], pa.int32()),
                ],
                ["media_id", "codec", "sample_rate", "n_samples", "abs_sum",
                 "first_s", "last_s"],
            )

    media = generate_media_g711(spark, _MEDIA_G711_N)
    return (
        media.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, codec string, sample_rate int, n_samples int, "
            "abs_sum long, first_s int, last_s int",
        )
        .orderBy("media_id")
    )


# the ITU-T G.711 segment expansion is closed-form arithmetic, so the
# oracle recomputes the linear samples relationally (validated against
# the Python tables for all 256 codes in tests/test_g711_codec.py)
_SQL_ULAW = (
    "CASE WHEN (255 - {b}) >= 128 "
    "THEN 132 - (((255 - {b}) % 16) * 8 + 132) * (1 << (((255 - {b}) // 16) % 8)) "
    "ELSE (((255 - {b}) % 16) * 8 + 132) * (1 << (((255 - {b}) // 16) % 8)) - 132 END"
)
_SQL_ALAW_MAG = (
    "CASE WHEN (xor({b}, 85) // 16) % 8 = 0 THEN (xor({b}, 85) % 16) * 16 + 8 "
    "WHEN (xor({b}, 85) // 16) % 8 = 1 THEN (xor({b}, 85) % 16) * 16 + 264 "
    "ELSE ((xor({b}, 85) % 16) * 16 + 264) * (1 << ((xor({b}, 85) // 16) % 8 - 1)) END"
)
_SQL_ALAW = (
    f"CASE WHEN xor({{b}}, 85) >= 128 THEN {_SQL_ALAW_MAG} "
    f"ELSE -({_SQL_ALAW_MAG}) END"
)

SQL_MULTIMODAL_DECODE_G711 = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_G711_N - 1})) AS media_id),
aud AS (SELECT media_id, 40 + media_id % 32 AS ns FROM ids),
dg AS (SELECT media_id, ns, sha256('42:' || media_id) AS dh FROM aud),
db_t AS (
  SELECT media_id, ns,
         list_transform(generate_series(0, 31),
           k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg
),
s AS (
  SELECT media_id, ns,
         list_transform(generate_series(0, ns - 1),
           j -> CASE WHEN media_id % 2 = 0
                THEN {_SQL_ULAW.format(b='db[(j + 11) % 32 + 1]')}
                ELSE {_SQL_ALAW.format(b='db[(j + 11) % 32 + 1]')}
                END) AS samples
  FROM db_t
)
SELECT media_id,
       CASE WHEN media_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS codec,
       CAST(8000 AS INT) AS sample_rate, CAST(ns AS INT) AS n_samples,
       CAST(list_aggregate(list_transform(samples, x -> abs(x)), 'sum')
            AS BIGINT) AS abs_sum,
       CAST(samples[1] AS INT) AS first_s,
       CAST(samples[ns] AS INT) AS last_s
FROM s ORDER BY media_id
"""


def _flac_family_stats_df(media, container: str):
    """Shared decode-stats kernel for the native-FLAC and Ogg-FLAC
    queries: both carry the SAME digest PCM losslessly, so one kernel
    (and one oracle) locks both containers — and the 0-sentinel /
    column-schema conventions live in exactly one place."""
    import pyarrow as pa

    def _gen(batches):
        if container == "flac":
            from recon_spark.operators.flac import decode_flac as _dec
            from recon_spark.operators.flac import (
                first_frame_channel_mode as _mode,
            )
        else:
            from recon_spark.operators.ogg import decode_ogg_flac as _dec
            from recon_spark.operators.ogg import (
                ogg_flac_first_frame_mode as _mode,
            )
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            cols = {k: [] for k in ("sr", "bps", "nch", "ns", "mode",
                                    "a0", "f0", "l0", "a1", "f1", "l1")}
            for p in batch.column("payload").to_pylist():
                sr, bps, chans = _dec(bytes(p))  # verifies CRCs + MD5
                cols["sr"].append(sr)
                cols["bps"].append(bps)
                cols["nch"].append(len(chans))
                cols["ns"].append(len(chans[0]))
                cols["mode"].append(_mode(bytes(p)))
                cols["a0"].append(sum(abs(s) for s in chans[0]))
                cols["f0"].append(chans[0][0])
                cols["l0"].append(chans[0][-1])
                if len(chans) == 2:
                    cols["a1"].append(sum(abs(s) for s in chans[1]))
                    cols["f1"].append(chans[1][0])
                    cols["l1"].append(chans[1][-1])
                else:
                    # 0 sentinels, not NULLs: nullable ints round-trip as
                    # NaN floats through pandas and break the value hash
                    cols["a1"].append(0)
                    cols["f1"].append(0)
                    cols["l1"].append(0)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(cols["sr"], pa.int32()),
                    pa.array(cols["bps"], pa.int32()),
                    pa.array(cols["nch"], pa.int32()),
                    pa.array(cols["ns"], pa.int32()),
                    pa.array(cols["mode"], pa.string()),
                    pa.array(cols["a0"], pa.int64()),
                    pa.array(cols["f0"], pa.int32()),
                    pa.array(cols["l0"], pa.int32()),
                    pa.array(cols["a1"], pa.int64()),
                    pa.array(cols["f1"], pa.int32()),
                    pa.array(cols["l1"], pa.int32()),
                ],
                ["media_id", "sample_rate", "bps", "n_channels", "n_samples",
                 "stereo_mode", "abs_sum_0", "first_0", "last_0",
                 "abs_sum_1", "first_1", "last_1"],
            )

    return (
        media.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, sample_rate int, bps int, n_channels int, "
            "n_samples int, stereo_mode string, abs_sum_0 long, first_0 int, "
            "last_0 int, abs_sum_1 long, first_1 int, last_1 int",
        )
        .orderBy("media_id")
    )


_MEDIA_FLAC_N = 200


def q_multimodal_decode_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real FLAC decode (round 5): genuine RFC 9639 containers covering
    CONSTANT/VERBATIM/FIXED/LPC subframes, both Rice methods + escape
    partitions, wasted bits, and all four channel modes (the stereo
    mode is container-parsed from the first frame header, not assumed
    — independence check vs the generator's policy). FLAC is lossless,
    so per-channel sample stats must invert the digest derivation
    bit-exactly; every frame CRC and the stream MD5 are verified on the
    way (a corrupt container would kill the row, not skew a stat)."""
    from recon_spark.operators.flac import generate_media_flac

    return _flac_family_stats_df(
        generate_media_flac(spark, _MEDIA_FLAC_N), "flac")


# FLAC is lossless, so the oracle recomputes the decoded PCM straight
# from the digest derivation in flac._track_spec (which the container
# generation AND this SQL both follow — a bitstream bug anywhere in
# subframe/residual/stereo decode breaks the sample stats).
_FLAC_CH_EXPR = """list_transform(generate_series(0, ns - 1), j -> CASE
    WHEN bps = 16 AND wasted THEN (db[(2 * j + {off}) % 32 + 1] - 128) * 4
    WHEN bps = 16 THEN db[(2 * j + {off}) % 32 + 1] * 256
                       + db[(2 * j + {off} + 13) % 32 + 1] - 32768
    WHEN wasted THEN ((db[(2 * j + {off}) % 32 + 1] % 32) - 16) * 4
    ELSE db[(2 * j + {off}) % 32 + 1] - 128 END)"""

SQL_MULTIMODAL_DECODE_FLAC = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_FLAC_N - 1})) AS media_id),
p AS (
  SELECT media_id, 40 + media_id % 32 AS ns,
         CASE WHEN media_id % 2 = 0 THEN 16 ELSE 8 END AS bps,
         CASE WHEN media_id % 3 = 0 THEN 1 ELSE 2 END AS nch,
         (media_id % 6 = 2) AS wasted,
         [8000, 16000, 22050, 44100][CAST(media_id % 4 AS INT) + 1] AS sr,
         ['independent', 'left_side', 'right_side', 'mid_side']
             [CAST(media_id % 4 AS INT) + 1] AS mode_policy
  FROM ids),
dg AS (SELECT *, sha256('42:' || media_id) AS dh FROM p),
db_t AS (
  SELECT *, list_transform(generate_series(0, 31),
      k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg),
ch AS (
  SELECT media_id, ns, bps, nch, sr, mode_policy,
         {_FLAC_CH_EXPR.format(off=0)} AS ch0,
         CASE WHEN nch = 1 THEN NULL
              WHEN media_id % 5 = 0 THEN list_transform(
                  generate_series(0, ns - 1), j -> CASE
                    WHEN bps = 16 THEN db[4] * 256 + db[18] - 32768
                    ELSE db[4] - 128 END)
              ELSE {_FLAC_CH_EXPR.format(off=5)} END AS ch1
  FROM db_t)
SELECT media_id, CAST(sr AS INT) AS sample_rate, CAST(bps AS INT) AS bps,
       CAST(nch AS INT) AS n_channels, CAST(ns AS INT) AS n_samples,
       CASE WHEN nch = 2 THEN mode_policy ELSE 'independent' END AS stereo_mode,
       CAST(list_aggregate(list_transform(ch0, x -> abs(x)), 'sum')
            AS BIGINT) AS abs_sum_0,
       CAST(ch0[1] AS INT) AS first_0, CAST(ch0[ns] AS INT) AS last_0,
       CAST(coalesce(list_aggregate(list_transform(ch1, x -> abs(x)), 'sum'),
                     0) AS BIGINT) AS abs_sum_1,
       CAST(coalesce(ch1[1], 0) AS INT) AS first_1,
       CAST(coalesce(ch1[ns], 0) AS INT) AS last_1
FROM ch ORDER BY media_id
"""


def q_multimodal_decode_ogg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg-FLAC decode (round 5): RFC 3533 page framing (per-page
    CRC-32, lacing reassembly across pages, continuation flags — the
    generator's 2..6 segment cap forces multi-page streams and packet
    spans) wrapped around the SAME digest-derived FLAC frames as
    multimodal_decode_flac, so the lossless contract — and therefore
    the ORACLE and the decode-stats kernel — are shared verbatim: a
    bug anywhere in the page walk, packet reassembly, or mapping
    unwrap breaks the sample stats."""
    from recon_spark.operators.ogg import generate_media_ogg

    return _flac_family_stats_df(
        generate_media_ogg(spark, _MEDIA_FLAC_N), "ogg")


_WARC_AUDIO_N = 200


def _stage_warc_media_audio(spark: SparkSession) -> str:
    """Stage once per session: a .warc.gz shard mixing html pages with
    five media classes (media_id % 5): genuine FLAC, Ogg-FLAC, MP3
    frame sequences, G.711 WAVs, and PNGs — the shard the probe-then-
    decode triage chain runs over."""
    import atexit
    import shutil
    import tempfile

    import pyarrow as pa

    from recon_spark.warc import write_warc_files

    key = "audio"
    if key not in _WARC_MEDIA_STAGING:
        out_dir = tempfile.mkdtemp(prefix="recon_warc_audio_")
        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)

        def _gen(batches):
            import hashlib

            from recon_spark.operators import multimodal as M
            from recon_spark.operators.flac import _track_spec, encode_flac
            from recon_spark.operators.ogg import encode_ogg_flac
            from recon_spark.operators.probe import encode_mp3_frames

            for batch in batches:
                ids = batch.column("id").to_pylist()
                urls, tss, payloads, ctypes = [], [], [], []
                for i in ids:
                    d = hashlib.sha256(f"42:{i}".encode()).digest()
                    cls = i % 5
                    if cls in (0, 1):
                        spec, chans = _track_spec(i, 42)
                        kw = dict(
                            block_size=16, stereo_mode=spec["stereo_mode"],
                            type_sel=spec["type_sel"],
                            partition_order=spec["partition_order"],
                            rice2=spec["rice2"],
                            force_escape=spec["force_escape"],
                        )
                        if cls == 0:
                            p, ct = encode_flac(
                                spec["sr"], spec["bps"], chans, **kw
                            ), "audio/flac"
                        else:
                            p, ct = encode_ogg_flac(
                                spec["sr"], spec["bps"], chans,
                                max_segs_per_page=2 + i % 5, **kw
                            ), "audio/ogg"
                    elif cls == 2:
                        p = encode_mp3_frames(3 + i % 6, 128, 44100,
                                              f"42:{i}".encode(),
                                              id3=i % 2 == 0)
                        ct = "audio/mpeg"
                    elif cls == 3:
                        p = M.encode_wav_g711(
                            8000, bytes(d[k % 32] for k in range(30 + i % 20)),
                            "ulaw" if i % 2 == 0 else "alaw")
                        ct = "audio/wav"
                    else:
                        w, h = 3 + i % 5, 2 + i % 4
                        p = M.encode_png(
                            w, h, [d[k % 32] for k in range(w * h * 3)],
                            color_type=2)
                        ct = "image/png"
                    urls.append(f"https://media.ex/m/{i}")
                    tss.append(_MEDIA_EPOCH + i)
                    payloads.append(p)
                    ctypes.append(ct)
                    urls.append(f"https://media.ex/page/{i}")
                    tss.append(_MEDIA_EPOCH + i)
                    payloads.append(
                        f"<html><body><p>page {i}</p></body></html>".encode())
                    ctypes.append("text/html")
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(urls, pa.string()),
                        pa.array(tss, pa.int64()),
                        pa.array(payloads, pa.binary()),
                        pa.array(ctypes, pa.string()),
                    ],
                    ["url", "warc_ts_s", "html", "content_type"],
                )

        docs = spark.range(_WARC_AUDIO_N).mapInArrow(
            _gen,
            "url string, warc_ts_s long, html binary, content_type string",
        ).repartition(8, "url")
        write_warc_files(docs, out_dir, ctype_col="content_type").count()
        _WARC_MEDIA_STAGING[key] = out_dir
    return _WARC_MEDIA_STAGING[key]


# triage predicate: decode only lossless audio short enough to afford
_TRIAGE_MAX_MS = 4


def q_warc_media_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-then-decode over raw crawl bytes (round 5) — the budget
    pattern the header probe exists for: read_warc over a mixed shard
    (html + FLAC + Ogg-FLAC + MP3 + G.711 WAV + PNG), prune html on
    Content-Type, PROBE every media record (headers only — MP3 gets
    duration without a codec, images get dims without pixel work),
    then spend decode compute ONLY on rows the triage predicate
    selects (lossless audio with probed duration under the cutoff
    here); decoded rows carry the exact PCM abs_sum, triaged-out rows
    ride through with probe stats alone. One map-only chain: scan ->
    record parse -> filter -> probe -> selective decode, no shuffle
    before the presentation sort. The oracle recomputes probe fields
    AND the selectively-decoded sums relationally, so both a probe bug
    and a wrongly-budgeted decode hash-fail."""
    import pyarrow as pa

    from recon_spark.operators.flac import decode_flac
    from recon_spark.operators.ogg import decode_ogg_flac
    from recon_spark.operators.probe import probe_media
    from recon_spark.warc import read_warc

    out_dir = _stage_warc_media_audio(spark)
    recs = read_warc(spark, out_dir).where(
        F.col("content_type") != "text/html"
    )

    def _gen(batches):
        keys = ("format", "variant", "sample_rate", "n_frames",
                "duration_ms", "decoded", "abs_sum")
        for batch in batches:
            urls = batch.column("url").to_pylist()
            cols = {k: [] for k in keys}
            for p in batch.column("html").to_pylist():
                p = bytes(p)
                r = probe_media(p)
                decode = (r["format"] in ("flac", "ogg")
                          and r["duration_ms"] < _TRIAGE_MAX_MS)
                if decode:
                    chans = (decode_flac(p) if r["format"] == "flac"
                             else decode_ogg_flac(p))[2]
                    abs_sum = sum(abs(s) for c in chans for s in c)
                else:
                    abs_sum = 0
                cols["format"].append(r["format"])
                cols["variant"].append(r["variant"])
                cols["sample_rate"].append(r["sample_rate"])
                cols["n_frames"].append(r["n_frames"])
                cols["duration_ms"].append(r["duration_ms"])
                cols["decoded"].append(1 if decode else 0)
                cols["abs_sum"].append(abs_sum)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(urls, pa.string()),
                    pa.array(cols["format"], pa.string()),
                    pa.array(cols["variant"], pa.string()),
                    pa.array(cols["sample_rate"], pa.int32()),
                    pa.array(cols["n_frames"], pa.int32()),
                    pa.array(cols["duration_ms"], pa.int32()),
                    pa.array(cols["decoded"], pa.int32()),
                    pa.array(cols["abs_sum"], pa.int64()),
                ],
                ["url", *keys],
            )

    return (
        recs.select("url", "html")
        .mapInArrow(
            _gen,
            "url string, format string, variant string, sample_rate int, "
            "n_frames int, duration_ms int, decoded int, abs_sum long",
        )
        .withColumn(
            "media_id",
            F.regexp_extract("url", r"/m/([0-9]+)$", 1).cast("long"),
        )
        .select("media_id", "format", "variant", "sample_rate", "n_frames",
                "duration_ms", "decoded", "abs_sum")
        .orderBy("media_id")
    )


SQL_WARC_MEDIA_TRIAGE = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_WARC_AUDIO_N - 1})) AS media_id),
p AS (
  SELECT media_id, media_id % 5 AS cls,
         40 + media_id % 32 AS fns,
         CASE WHEN media_id % 2 = 0 THEN 16 ELSE 8 END AS fbps,
         CASE WHEN media_id % 3 = 0 THEN 1 ELSE 2 END AS fnch,
         (media_id % 6 = 2) AS wasted,
         [8000, 16000, 22050, 44100][CAST(media_id % 4 AS INT) + 1] AS fsr
  FROM ids),
dg AS (SELECT *, sha256('42:' || media_id) AS dh FROM p),
db_t AS (
  SELECT *, list_transform(generate_series(0, 31),
      k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg),
probe AS (
  SELECT media_id, cls, fns, fbps, fnch, fsr, wasted, db,
    CASE cls WHEN 0 THEN 'flac' WHEN 1 THEN 'ogg' WHEN 2 THEN 'mp3'
             WHEN 3 THEN 'wav' ELSE 'png' END AS format,
    CASE cls WHEN 1 THEN 'flac' WHEN 2 THEN 'mpeg1l3'
             WHEN 3 THEN CASE WHEN media_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END
             ELSE '' END AS variant,
    CASE WHEN cls IN (0, 1) THEN fsr WHEN cls = 2 THEN 44100
         WHEN cls = 3 THEN 8000 ELSE 0 END AS sample_rate,
    CASE WHEN cls IN (0, 1) THEN fns WHEN cls = 2 THEN 3 + media_id % 6
         WHEN cls = 3 THEN 30 + media_id % 20 ELSE 1 END AS n_frames,
    CASE WHEN cls IN (0, 1) THEN fns * 1000 // fsr
         WHEN cls = 2 THEN (3 + media_id % 6) * 1152 * 1000 // 44100
         WHEN cls = 3 THEN (30 + media_id % 20) * 1000 // 8000
         ELSE 0 END AS duration_ms
  FROM db_t),
dec AS (
  SELECT *, CASE WHEN format IN ('flac', 'ogg')
                  AND duration_ms < {_TRIAGE_MAX_MS}
             THEN 1 ELSE 0 END AS decoded
  FROM probe),
pcm AS (
  SELECT media_id, decoded, format, variant, sample_rate, n_frames,
         duration_ms,
    CASE WHEN decoded = 0 THEN CAST(0 AS BIGINT) ELSE
      CAST(list_aggregate(list_transform(
        {_FLAC_CH_EXPR.format(off=0).replace('ns - 1', 'fns - 1').replace('bps = 16', 'fbps = 16')},
        x -> abs(x)), 'sum')
      + CASE WHEN fnch = 1 THEN 0
             WHEN media_id % 5 = 0 THEN fns * abs(
               CASE WHEN fbps = 16 THEN db[4] * 256 + db[18] - 32768
                    ELSE db[4] - 128 END)
             ELSE list_aggregate(list_transform(
               {_FLAC_CH_EXPR.format(off=5).replace('ns - 1', 'fns - 1').replace('bps = 16', 'fbps = 16')},
               x -> abs(x)), 'sum') END AS BIGINT)
    END AS abs_sum
  FROM dec)
SELECT media_id, format, variant, CAST(sample_rate AS INT) AS sample_rate,
       CAST(n_frames AS INT) AS n_frames,
       CAST(duration_ms AS INT) AS duration_ms,
       CAST(decoded AS INT) AS decoded, abs_sum
FROM pcm ORDER BY media_id
"""


def q_audio_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio curation gate (round 5) — the audio analog of the Gopher
    text gate: decoded FLAC PCM scored with integer-only metrics (peak,
    sum-of-squares, clipping count at the rail, silence count below a
    -36 dBFS-ish threshold, zero crossings) and passed through the
    exact integer-ratio rule (<2% clipped, <50% silent). The wasted-bit
    tracks (low-amplitude by construction) genuinely FAIL the silence
    rule and near-rail 8-bit samples genuinely trip the clipping rule,
    so both gate branches are exercised by the ordinary fixture set.
    All arithmetic is integer, so the oracle recomputes every metric
    and the verdict bit-exactly from the digest derivation."""
    import pyarrow as pa

    from recon_spark.operators.audioops import audio_gate, audio_metrics
    from recon_spark.operators.flac import decode_flac, generate_media_flac

    def _gen(batches):
        keys = ("n_samples", "peak", "sum_sq", "n_clip", "n_silent",
                "zcross", "passed")
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            cols = {k: [] for k in keys}
            for p in batch.column("payload").to_pylist():
                sr, bps, chans = decode_flac(bytes(p))
                m = audio_metrics(chans[0], bps)
                for k in keys[:-1]:
                    cols[k].append(m[k])
                cols["passed"].append(1 if audio_gate(m) else 0)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64())]
                + [pa.array(cols[k],
                            pa.int64() if k == "sum_sq" else pa.int32())
                   for k in keys],
                ["media_id", *keys],
            )

    media = generate_media_flac(spark, _MEDIA_FLAC_N)
    return (
        media.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, n_samples int, peak int, sum_sq long, "
            "n_clip int, n_silent int, zcross int, passed int",
        )
        .orderBy("media_id")
    )


SQL_AUDIO_QUALITY_GATE = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_FLAC_N - 1})) AS media_id),
p AS (
  SELECT media_id, 40 + media_id % 32 AS ns,
         CASE WHEN media_id % 2 = 0 THEN 16 ELSE 8 END AS bps,
         (media_id % 6 = 2) AS wasted
  FROM ids),
dg AS (SELECT *, sha256('42:' || media_id) AS dh FROM p),
db_t AS (
  SELECT *, list_transform(generate_series(0, 31),
      k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg),
ch AS (
  SELECT media_id, ns, bps,
         CASE WHEN bps = 16 THEN 32768 ELSE 128 END AS fs,
         {_FLAC_CH_EXPR.format(off=0)} AS ch0
  FROM db_t),
m AS (
  SELECT media_id, ns, fs, ch0,
    list_max(list_transform(ch0, x -> abs(x))) AS peak,
    CAST(list_aggregate(list_transform(ch0, x -> CAST(x AS BIGINT) * x),
                        'sum') AS BIGINT) AS sum_sq,
    len(list_filter(ch0, x -> abs(x) >= fs - 1)) AS n_clip,
    len(list_filter(ch0, x -> abs(x) < fs // 64)) AS n_silent,
    coalesce(list_aggregate(list_transform(generate_series(1, ns - 1),
        j -> CASE WHEN (ch0[j] < 0) <> (ch0[j + 1] < 0)
             THEN 1 ELSE 0 END), 'sum'), 0) AS zcross
  FROM ch)
SELECT media_id, CAST(ns AS INT) AS n_samples, CAST(peak AS INT) AS peak,
       sum_sq, CAST(n_clip AS INT) AS n_clip,
       CAST(n_silent AS INT) AS n_silent, CAST(zcross AS INT) AS zcross,
       CAST(CASE WHEN n_clip * 50 < ns AND n_silent * 2 < ns
            THEN 1 ELSE 0 END AS INT) AS passed
FROM m ORDER BY media_id
"""


_AUDIO_FP_N = 200


def q_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection (round 5) — the dedup family
    extended to the audio column: every 4th track is an amplitude-
    doubled re-encode of its predecessor (the volume-normalized-copy
    class exact byte/sample hashing misses), decoded from genuine FLAC
    and reduced map-side to a 16-bit energy-delta-sign fingerprint
    (amplitude-invariant by construction), then ONE 2-byte-key
    aggregation + a broadcast join-back mark the clusters — the
    simhash scale shape: audio bytes never shuffle, pairwise
    comparison never happens. The oracle recomputes every fingerprint
    from the digest PCM (integer energies, exact) and replays the
    grouping."""
    import pyarrow as pa

    from recon_spark.operators.audioops import audio_fingerprint
    from recon_spark.operators.flac import decode_flac, encode_flac

    def _gen_media(batches):
        import hashlib

        for batch in batches:
            ids = batch.column("id").to_pylist()
            payloads = []
            for i in ids:
                b = i - 1 if i % 4 == 1 else i
                d = hashlib.sha256(f"42:{b}".encode()).digest()
                ns = 40 + b % 32
                scale = 2 if i % 4 == 1 else 1
                pcm = [(d[(j + b % 7) % 32] - 128) * 128 * scale
                       for j in range(ns)]
                payloads.append(encode_flac(8000, 16, [pcm], block_size=16,
                                            type_sel=i))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(payloads, pa.binary())],
                ["media_id", "payload"],
            )

    def _gen_fp(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            fps = []
            for p in batch.column("payload").to_pylist():
                _, _, chans = decode_flac(bytes(p))
                fps.append(audio_fingerprint(chans[0]))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(fps, pa.int32())],
                ["media_id", "fingerprint"],
            )

    media = spark.range(0, _AUDIO_FP_N).mapInArrow(
        _gen_media, "media_id long, payload binary")
    fps = media.mapInArrow(_gen_fp, "media_id long, fingerprint int")
    counts = fps.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("int").alias("cluster_size"))
    return (
        fps.join(F.broadcast(counts), "fingerprint")
        .select(
            "media_id", "fingerprint", "cluster_size",
            (F.col("cluster_size") > 1).cast("int").alias("is_dup"),
        )
        .orderBy("media_id")
    )


SQL_AUDIO_FINGERPRINT_DEDUP = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_AUDIO_FP_N - 1})) AS media_id),
p AS (
  SELECT media_id,
         CASE WHEN media_id % 4 = 1 THEN media_id - 1 ELSE media_id END AS b
  FROM ids),
dg AS (SELECT media_id, b, 40 + b % 32 AS ns, sha256('42:' || b) AS dh FROM p),
db_t AS (
  SELECT *, list_transform(generate_series(0, 31),
      k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg),
pcm AS (
  -- the BASE track's PCM: the amplitude-doubled copy fingerprints
  -- identically (energies scale by 4, every comparison is preserved),
  -- which is exactly the invariance the operator exists for
  SELECT media_id, ns,
         list_transform(generate_series(0, ns - 1),
             j -> (db[(j + b % 7) % 32 + 1] - 128) * 128) AS s
  FROM db_t),
en AS (
  SELECT media_id, ns,
         list_transform(generate_series(0, 16), k ->
           coalesce(list_aggregate(list_transform(
             generate_series(k * ns // 17 + 1, ((k + 1) * ns) // 17),
             j -> CAST(s[j] AS BIGINT) * s[j]), 'sum'), 0)) AS e
  FROM pcm),
fp AS (
  SELECT media_id,
         CAST(coalesce(list_aggregate(list_transform(generate_series(0, 15),
             k -> CASE WHEN e[k + 2] > e[k + 1]
                  THEN CAST(1 AS BIGINT) << k ELSE 0 END), 'sum'), 0)
              AS INT) AS fingerprint
  FROM en),
cl AS (SELECT fingerprint, CAST(count(*) AS INT) AS cluster_size
       FROM fp GROUP BY 1)
SELECT fp.media_id, fp.fingerprint, cl.cluster_size,
       CAST(CASE WHEN cl.cluster_size > 1 THEN 1 ELSE 0 END AS INT) AS is_dup
FROM fp JOIN cl USING (fingerprint)
ORDER BY fp.media_id
"""


_AUDIO_ID3_N = 200


def q_audio_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio metadata mining (round 5): real ID3v2.3 tags parsed off
    MP3 frame sequences — the caption/metadata pairing pass an audio
    training pipeline runs (title/artist/album become the text side of
    an audio-text pair) on a format whose AUDIO stays honestly
    undecodable here. Both ID3 text encodings appear (TALB is UTF-16
    with BOM on odd tracks, latin-1 otherwise — decoded text must be
    identical) and the frame-header walk still yields duration from
    the same payload. Tag strings are digest hex substrings, so the
    oracle rebuilds every one with substr(sha256(...))."""
    import pyarrow as pa

    from recon_spark.operators.probe import (
        encode_mp3_frames,
        parse_id3v2,
        probe_media,
    )

    def _gen_media(batches):
        import hashlib

        for batch in batches:
            ids = batch.column("id").to_pylist()
            payloads = []
            for i in ids:
                dh = hashlib.sha256(f"42:{i}".encode()).hexdigest()
                frames = [("TIT2", "t-" + dh[:8]),
                          ("TPE1", "a-" + dh[8:14]),
                          ("TALB", "b-" + dh[14:18])]
                payloads.append(encode_mp3_frames(
                    3 + i % 6, 128, [44100, 48000, 32000][i % 3],
                    f"42:{i}".encode(), id3_frames=frames,
                    utf16_ids=("TALB",) if i % 2 == 1 else ()))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(payloads, pa.binary())],
                ["media_id", "payload"],
            )

    def _gen_tags(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            cols = {k: [] for k in ("title", "artist", "album",
                                    "n_frames", "duration_ms")}
            for p in batch.column("payload").to_pylist():
                p = bytes(p)
                tags = parse_id3v2(p)
                r = probe_media(p)
                cols["title"].append(tags.get("TIT2", ""))
                cols["artist"].append(tags.get("TPE1", ""))
                cols["album"].append(tags.get("TALB", ""))
                cols["n_frames"].append(r["n_frames"])
                cols["duration_ms"].append(r["duration_ms"])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(cols["title"], pa.string()),
                    pa.array(cols["artist"], pa.string()),
                    pa.array(cols["album"], pa.string()),
                    pa.array(cols["n_frames"], pa.int32()),
                    pa.array(cols["duration_ms"], pa.int32()),
                ],
                ["media_id", "title", "artist", "album", "n_frames",
                 "duration_ms"],
            )

    media = spark.range(0, _AUDIO_ID3_N).mapInArrow(
        _gen_media, "media_id long, payload binary")
    return (
        media.mapInArrow(
            _gen_tags,
            "media_id long, title string, artist string, album string, "
            "n_frames int, duration_ms int",
        )
        .orderBy("media_id")
    )


SQL_AUDIO_ID3_TAGS = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_AUDIO_ID3_N - 1})) AS media_id),
dg AS (SELECT media_id, sha256('42:' || media_id) AS dh,
              3 + media_id % 6 AS nf,
              [44100, 48000, 32000][CAST(media_id % 3 AS INT) + 1] AS sr
       FROM ids)
SELECT media_id,
       't-' || substr(dh, 1, 8) AS title,
       'a-' || substr(dh, 9, 6) AS artist,
       'b-' || substr(dh, 15, 4) AS album,
       CAST(nf AS INT) AS n_frames,
       CAST(nf * 1152 * 1000 // sr AS INT) AS duration_ms
FROM dg ORDER BY media_id
"""


def q_audio_flac_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC-native metadata mining (round 5): VORBIS_COMMENT blocks —
    the ID3 analog for the lossless container, completing metadata
    extraction across both audio tag systems — parsed together with
    the header-probed STREAMINFO fields, off containers that still
    decode + MD5-verify with the tag block present (the metadata walk
    must not disturb the frame offset). Tag values exercise UTF-8 and
    the '='-in-value edge; keys are case-folded per the Vorbis spec
    (written lowercase, reported upper)."""
    import pyarrow as pa

    from recon_spark.operators.flac import (
        _track_spec,
        encode_flac,
        parse_flac_tags,
    )
    from recon_spark.operators.probe import probe_media

    def _gen_media(batches):
        import hashlib

        for batch in batches:
            ids = batch.column("id").to_pylist()
            payloads = []
            for i in ids:
                dh = hashlib.sha256(f"42:{i}".encode()).hexdigest()
                spec, chans = _track_spec(i, 42)
                payloads.append(encode_flac(
                    spec["sr"], spec["bps"], chans, block_size=16,
                    tags=[("title", "t-" + dh[:8]),
                          ("ARTIST", "a-" + dh[8:14])],
                    stereo_mode=spec["stereo_mode"],
                    type_sel=spec["type_sel"],
                    partition_order=spec["partition_order"],
                    rice2=spec["rice2"], force_escape=spec["force_escape"],
                ))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(payloads, pa.binary())],
                ["media_id", "payload"],
            )

    def _gen_tags(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            cols = {k: [] for k in ("title", "artist", "sample_rate",
                                    "n_samples")}
            for p in batch.column("payload").to_pylist():
                p = bytes(p)
                tags = parse_flac_tags(p)
                r = probe_media(p)
                cols["title"].append(tags.get("TITLE", ""))
                cols["artist"].append(tags.get("ARTIST", ""))
                cols["sample_rate"].append(r["sample_rate"])
                cols["n_samples"].append(r["n_frames"])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(cols["title"], pa.string()),
                    pa.array(cols["artist"], pa.string()),
                    pa.array(cols["sample_rate"], pa.int32()),
                    pa.array(cols["n_samples"], pa.int32()),
                ],
                ["media_id", "title", "artist", "sample_rate", "n_samples"],
            )

    media = spark.range(0, _MEDIA_FLAC_N).mapInArrow(
        _gen_media, "media_id long, payload binary")
    return (
        media.mapInArrow(
            _gen_tags,
            "media_id long, title string, artist string, sample_rate int, "
            "n_samples int",
        )
        .orderBy("media_id")
    )


SQL_AUDIO_FLAC_TAGS = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_FLAC_N - 1})) AS media_id),
dg AS (SELECT media_id, sha256('42:' || media_id) AS dh FROM ids)
SELECT media_id,
       't-' || substr(dh, 1, 8) AS title,
       'a-' || substr(dh, 9, 6) AS artist,
       CAST([8000, 16000, 22050, 44100][CAST(media_id % 4 AS INT) + 1]
            AS INT) AS sample_rate,
       CAST(40 + media_id % 32 AS INT) AS n_samples
FROM dg ORDER BY media_id
"""


def q_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-aware audio segmentation (round 5) — the audio analog of
    doc_chunks: FLAC-decoded tracks cut into fixed 8-sample training
    windows with integer-exact per-window energy and silence flags,
    and a kept flag marking the silence-TRIMMED span (leading/trailing
    silent windows dropped, interior silence kept — the ASR-style
    segmentation rule). The wasted-bit tracks are low-amplitude by
    construction, so trimmed-away windows genuinely occur in the
    fixture set. One row per window; every value integer, every flag
    recomputed by the oracle from the digest PCM."""
    import pyarrow as pa

    from recon_spark.operators.audioops import audio_windows
    from recon_spark.operators.flac import decode_flac, generate_media_flac

    def _gen(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            out = {k: [] for k in ("media_id", "win_idx", "n_samples",
                                   "sum_sq", "silent", "kept")}
            for mid, p in zip(ids, batch.column("payload").to_pylist()):
                sr, bps, chans = decode_flac(bytes(p))
                for w in audio_windows(chans[0], bps, win=8):
                    out["media_id"].append(mid)
                    out["win_idx"].append(w["win_idx"])
                    out["n_samples"].append(w["n_samples"])
                    out["sum_sq"].append(w["sum_sq"])
                    out["silent"].append(1 if w["silent"] else 0)
                    out["kept"].append(1 if w["kept"] else 0)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out["media_id"], pa.int64()),
                    pa.array(out["win_idx"], pa.int32()),
                    pa.array(out["n_samples"], pa.int32()),
                    pa.array(out["sum_sq"], pa.int64()),
                    pa.array(out["silent"], pa.int32()),
                    pa.array(out["kept"], pa.int32()),
                ],
                ["media_id", "win_idx", "n_samples", "sum_sq", "silent",
                 "kept"],
            )

    media = generate_media_flac(spark, _MEDIA_FLAC_N)
    return (
        media.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, win_idx int, n_samples int, sum_sq long, "
            "silent int, kept int",
        )
        .orderBy("media_id", "win_idx")
    )


SQL_AUDIO_CHUNKS = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_FLAC_N - 1})) AS media_id),
p AS (
  SELECT media_id, 40 + media_id % 32 AS ns,
         CASE WHEN media_id % 2 = 0 THEN 16 ELSE 8 END AS bps,
         (media_id % 6 = 2) AS wasted
  FROM ids),
dg AS (SELECT *, sha256('42:' || media_id) AS dh FROM p),
db_t AS (
  SELECT *, list_transform(generate_series(0, 31),
      k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg),
ch AS (
  SELECT media_id, ns,
         CASE WHEN bps = 16 THEN 32768 ELSE 128 END AS fs,
         {_FLAC_CH_EXPR.format(off=0)} AS ch0
  FROM db_t),
w AS (
  SELECT media_id, ns, fs, ch0,
         unnest(generate_series(0, (ns + 7) // 8 - 1)) AS win_idx
  FROM ch),
seg AS (
  SELECT media_id, win_idx,
         least(8, ns - win_idx * 8) AS n_w,
         CAST(coalesce(list_aggregate(list_transform(
             generate_series(win_idx * 8 + 1, least((win_idx + 1) * 8, ns)),
             j -> CAST(ch0[j] AS BIGINT) * ch0[j]), 'sum'), 0)
             AS BIGINT) AS sum_sq,
         fs
  FROM w),
flg AS (
  SELECT media_id, win_idx, n_w, sum_sq,
         CASE WHEN sum_sq < n_w * CAST((fs // 64) AS BIGINT) * (fs // 64)
              THEN 1 ELSE 0 END AS silent
  FROM seg),
span AS (
  SELECT media_id,
         min(CASE WHEN silent = 0 THEN win_idx END) AS lo,
         max(CASE WHEN silent = 0 THEN win_idx END) AS hi
  FROM flg GROUP BY 1)
SELECT f.media_id, CAST(f.win_idx AS INT) AS win_idx,
       CAST(f.n_w AS INT) AS n_samples, f.sum_sq,
       CAST(f.silent AS INT) AS silent,
       CAST(CASE WHEN s.lo IS NOT NULL
                  AND f.win_idx BETWEEN s.lo AND s.hi
            THEN 1 ELSE 0 END AS INT) AS kept
FROM flg f JOIN span s USING (media_id)
ORDER BY f.media_id, f.win_idx
"""


_MEDIA_AVI_N = 150


def q_multimodal_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode (round 5): MJPEG-AVI — the RIFF container
    walked for real (avih/strh/strf headers, movi '00dc' frame chunks,
    idx1 index VERIFIED entry-by-entry against the walked chunks) and
    every frame decoded through the real baseline-JPEG path, so the
    JPEG exactness contract lifts to video and the oracle recomputes
    every frame's pixel stats relationally (per 8x8 block, weighted by
    edge-clipped pixel counts, digest offset shifted per frame). One
    row per frame with the container-parsed fps rational riding along.
    H.264-class codecs keep the honest NotImplementedError gate."""
    import pyarrow as pa

    from recon_spark.operators.video import decode_avi_frames, generate_media_avi

    def _gen(batches):
        keys = ("frame_idx", "width", "height", "fps_rate", "n_values",
                "px_sum", "px_min", "px_max")
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            out = {k: [] for k in ("media_id", *keys)}
            for mid, p in zip(ids, batch.column("payload").to_pylist()):
                (rate, scale), frames = decode_avi_frames(bytes(p))
                for fi, (w, h, comps, px) in enumerate(frames):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(fi)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["fps_rate"].append(rate // scale)
                    out["n_values"].append(len(px))
                    out["px_sum"].append(sum(px))
                    out["px_min"].append(min(px))
                    out["px_max"].append(max(px))
            yield pa.RecordBatch.from_arrays(
                [pa.array(out["media_id"], pa.int64())]
                + [pa.array(out[k],
                            pa.int64() if k == "px_sum" else pa.int32())
                   for k in keys],
                ["media_id", *keys],
            )

    media = generate_media_avi(spark, _MEDIA_AVI_N)
    return (
        media.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, frame_idx int, width int, height int, "
            "fps_rate int, n_values int, px_sum long, px_min int, "
            "px_max int",
        )
        .orderBy("media_id", "frame_idx")
    )


SQL_MULTIMODAL_DECODE_VIDEO = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_AVI_N - 1})) AS media_id),
p AS (
  SELECT media_id, 9 + media_id % 8 AS w, 9 + media_id % 6 AS h,
         2 + media_id % 5 AS nf,
         [5, 10, 15][CAST(media_id % 3 AS INT) + 1] AS fps
  FROM ids),
dg AS (SELECT *, sha256('42:' || media_id) AS dh FROM p),
db_t AS (
  SELECT *, list_transform(generate_series(0, 31),
      k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg),
fr AS (
  SELECT media_id, w, h, fps,
         unnest(generate_series(0, nf - 1)) AS frame_idx
  FROM db_t),
blk AS (
  -- block b = bx + 2*by over the 2x2 block grid (dims are 9..16 x
  -- 9..14, so ceil(w/8) = ceil(h/8) = 2 always); value is the
  -- digest byte shifted by the frame index, weight is the
  -- edge-clipped pixel count
  SELECT f.media_id, f.frame_idx, f.w, f.h, f.fps,
         list_transform(generate_series(0, 3),
             b -> d.db[(5 + (b % 2) + 2 * (b // 2) + f.frame_idx) % 32 + 1]
         ) AS vals,
         [8 * 8, (f.w - 8) * 8, 8 * (f.h - 8),
          (f.w - 8) * (f.h - 8)] AS cnts
  FROM fr f JOIN db_t d USING (media_id)),
st AS (
  SELECT media_id, frame_idx, w, h, fps,
         CAST(coalesce(list_aggregate(list_transform(generate_series(1, 4),
             b -> CAST(vals[b] AS BIGINT) * cnts[b]), 'sum'), 0)
             AS BIGINT) AS px_sum,
         list_min(vals) AS px_min, list_max(vals) AS px_max
  FROM blk)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(fps AS INT) AS fps_rate, CAST(w * h AS INT) AS n_values,
       px_sum, CAST(px_min AS INT) AS px_min, CAST(px_max AS INT) AS px_max
FROM st ORDER BY media_id, frame_idx
"""


_MEDIA_SHOTS_N = 120


def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot segmentation over real MJPEG-AVI (round 5): decode every
    frame, compute the integer L1 delta per consecutive-frame
    transition, and fire the exact cut rule (delta > n_pixels — the
    injected +/-1 per-pixel jitter sums to exactly n_pixels, so the
    rule separates jitter from content change with no float
    threshold). The fixture injects one shot boundary per video; the
    oracle replays the block math for BOTH frames of every transition,
    so a decode bug, a delta bug, or a mis-fired rule all hash-fail."""
    import pyarrow as pa

    from recon_spark.operators.video import (
        decode_avi_frames,
        frame_delta_cuts,
        generate_media_avi_shots,
    )

    def _gen(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            out = {k: [] for k in ("media_id", "frame_idx", "n_values",
                                   "delta_sum", "is_cut")}
            for mid, p in zip(ids, batch.column("payload").to_pylist()):
                _, frames = decode_avi_frames(bytes(p))
                w, h = frames[0][0], frames[0][1]
                for c in frame_delta_cuts(frames):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(c["frame_idx"])
                    out["n_values"].append(w * h)
                    out["delta_sum"].append(c["delta_sum"])
                    out["is_cut"].append(1 if c["is_cut"] else 0)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out["media_id"], pa.int64()),
                    pa.array(out["frame_idx"], pa.int32()),
                    pa.array(out["n_values"], pa.int32()),
                    pa.array(out["delta_sum"], pa.int64()),
                    pa.array(out["is_cut"], pa.int32()),
                ],
                ["media_id", "frame_idx", "n_values", "delta_sum", "is_cut"],
            )

    media = generate_media_avi_shots(spark, _MEDIA_SHOTS_N)
    return (
        media.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, frame_idx int, n_values int, delta_sum long, "
            "is_cut int",
        )
        .orderBy("media_id", "frame_idx")
    )


SQL_VIDEO_SCENE_CUTS = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_SHOTS_N - 1})) AS media_id),
p AS (
  SELECT media_id, 9 + media_id % 8 AS w, 9 + media_id % 6 AS h,
         6 + media_id % 5 AS nf, 2 + media_id % 3 AS cut
  FROM ids),
dg AS (SELECT *, sha256('42:' || media_id) AS dh FROM p),
db_t AS (
  SELECT *, list_transform(generate_series(0, 31),
      k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg),
tr AS (
  SELECT media_id, w, h, cut, db,
         unnest(generate_series(1, nf - 1)) AS frame_idx
  FROM db_t),
dl AS (
  SELECT media_id, frame_idx, w, h,
         -- block b = bx + 2*by; value of frame f's block =
         -- db[(5 + bx + 2*by + 9*shot(f)) % 32 + 1] % 255 + f % 2
         CAST(coalesce(list_aggregate(list_transform(generate_series(0, 3),
           b -> CAST(abs(
             (db[(5 + (b % 2) + 2 * (b // 2)
                  + 9 * (CASE WHEN frame_idx >= cut THEN 1 ELSE 0 END))
                 % 32 + 1] % 255 + frame_idx % 2)
             - (db[(5 + (b % 2) + 2 * (b // 2)
                    + 9 * (CASE WHEN frame_idx - 1 >= cut THEN 1 ELSE 0 END))
                   % 32 + 1] % 255 + (frame_idx - 1) % 2)
           ) AS BIGINT)
           * ([8 * 8, (w - 8) * 8, 8 * (h - 8), (w - 8) * (h - 8)][b + 1])),
           'sum'), 0) AS BIGINT) AS delta_sum
  FROM tr)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(w * h AS INT) AS n_values, delta_sum,
       CAST(CASE WHEN delta_sum > w * h THEN 1 ELSE 0 END AS INT) AS is_cut
FROM dl ORDER BY media_id, frame_idx
"""


def q_video_keyframe_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe sampling via INDEX SEEKS (round 5): the video-to-image
    training pipeline samples every 3rd frame of each MJPEG AVI, and
    pays for exactly those frames — parse_avi_header for the count,
    then decode_avi_frame_at seeks each sampled frame through the idx1
    index (O(index + frame), never a full movi walk or full decode).
    Same per-frame pixel contract as multimodal_decode_video, so the
    oracle is the same block math restricted to frame_idx % 3 == 0 —
    sampling too many, too few, or the wrong frames all hash-fail."""
    import pyarrow as pa

    from recon_spark.operators.video import (
        decode_avi_frame_at,
        generate_media_avi,
        parse_avi_header,
    )

    def _gen(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            out = {k: [] for k in ("media_id", "frame_idx", "px_sum",
                                   "px_min", "px_max")}
            for mid, p in zip(ids, batch.column("payload").to_pylist()):
                p = bytes(p)
                nf = parse_avi_header(p)["n_frames"]
                for fi in range(0, nf, 3):
                    w, h, comps, px = decode_avi_frame_at(p, fi)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(fi)
                    out["px_sum"].append(sum(px))
                    out["px_min"].append(min(px))
                    out["px_max"].append(max(px))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out["media_id"], pa.int64()),
                    pa.array(out["frame_idx"], pa.int32()),
                    pa.array(out["px_sum"], pa.int64()),
                    pa.array(out["px_min"], pa.int32()),
                    pa.array(out["px_max"], pa.int32()),
                ],
                ["media_id", "frame_idx", "px_sum", "px_min", "px_max"],
            )

    media = generate_media_avi(spark, _MEDIA_AVI_N)
    return (
        media.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, frame_idx int, px_sum long, px_min int, "
            "px_max int",
        )
        .orderBy("media_id", "frame_idx")
    )


SQL_VIDEO_KEYFRAME_SAMPLE = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_AVI_N - 1})) AS media_id),
p AS (
  SELECT media_id, 9 + media_id % 8 AS w, 9 + media_id % 6 AS h,
         2 + media_id % 5 AS nf
  FROM ids),
dg AS (SELECT *, sha256('42:' || media_id) AS dh FROM p),
db_t AS (
  SELECT *, list_transform(generate_series(0, 31),
      k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg),
fr AS (
  SELECT media_id, w, h,
         unnest(generate_series(0, nf - 1, 3)) AS frame_idx
  FROM db_t),
blk AS (
  SELECT f.media_id, f.frame_idx, f.w, f.h,
         list_transform(generate_series(0, 3),
             b -> d.db[(5 + (b % 2) + 2 * (b // 2) + f.frame_idx) % 32 + 1]
         ) AS vals,
         [8 * 8, (f.w - 8) * 8, 8 * (f.h - 8),
          (f.w - 8) * (f.h - 8)] AS cnts
  FROM fr f JOIN db_t d USING (media_id))
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(coalesce(list_aggregate(list_transform(generate_series(1, 4),
           b -> CAST(vals[b] AS BIGINT) * cnts[b]), 'sum'), 0)
           AS BIGINT) AS px_sum,
       CAST(list_min(vals) AS INT) AS px_min,
       CAST(list_max(vals) AS INT) AS px_max
FROM blk ORDER BY media_id, frame_idx
"""


def q_warc_media_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus media inventory (round 5): the rollup a data team reads
    before planning decode compute — read_warc over the mixed shard,
    probe_media_safe on EVERY record (html bytes included: they probe
    to the 'unknown' class through the triage wrapper instead of
    failing a task), then ONE tiny GROUP BY format carrying counts and
    probe-derived duration/frame totals. No decoder runs at all; the
    shuffle key space is the format set (single digits), the canonical
    short-key-agg scale shape."""
    import pyarrow as pa

    from recon_spark.operators.probe import probe_media_safe
    from recon_spark.warc import read_warc

    out_dir = _stage_warc_media_audio(spark)
    recs = read_warc(spark, out_dir)

    def _gen(batches):
        for batch in batches:
            fmts, oks, durs, nfs = [], [], [], []
            for p in batch.column("html").to_pylist():
                r = probe_media_safe(bytes(p))
                fmts.append(r["format"])
                oks.append(1 if r["status"] == "ok" else 0)
                durs.append(r["duration_ms"])
                nfs.append(r["n_frames"])
            yield pa.RecordBatch.from_arrays(
                [pa.array(fmts, pa.string()), pa.array(oks, pa.int32()),
                 pa.array(durs, pa.int64()), pa.array(nfs, pa.int64())],
                ["format", "ok", "duration_ms", "n_frames"],
            )

    probed = recs.select("html").mapInArrow(
        _gen, "format string, ok int, duration_ms long, n_frames long")
    return (
        probed.groupBy("format")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.sum("ok").cast("long").alias("n_ok"),
            F.sum("duration_ms").cast("long").alias("total_duration_ms"),
            F.sum("n_frames").cast("long").alias("total_frames"),
        )
        .orderBy("format")
    )


SQL_WARC_MEDIA_INVENTORY = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_WARC_AUDIO_N - 1})) AS media_id),
p AS (
  SELECT media_id, media_id % 5 AS cls,
         40 + media_id % 32 AS fns,
         [8000, 16000, 22050, 44100][CAST(media_id % 4 AS INT) + 1] AS fsr
  FROM ids),
m AS (
  SELECT media_id,
    CASE cls WHEN 0 THEN 'flac' WHEN 1 THEN 'ogg' WHEN 2 THEN 'mp3'
             WHEN 3 THEN 'wav' ELSE 'png' END AS format,
    1 AS ok,
    CASE WHEN cls IN (0, 1) THEN fns * 1000 // fsr
         WHEN cls = 2 THEN (3 + media_id % 6) * 1152 * 1000 // 44100
         WHEN cls = 3 THEN (30 + media_id % 20) * 1000 // 8000
         ELSE 0 END AS duration_ms,
    CASE WHEN cls IN (0, 1) THEN fns WHEN cls = 2 THEN 3 + media_id % 6
         WHEN cls = 3 THEN 30 + media_id % 20 ELSE 1 END AS n_frames
  FROM p
  UNION ALL
  -- every media record has an html page record riding along: the
  -- probe classifies those bytes 'unknown' through the safe wrapper
  SELECT media_id, 'unknown' AS format, 0 AS ok, 0 AS duration_ms,
         0 AS n_frames
  FROM ids)
SELECT format, CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(ok) AS BIGINT) AS n_ok,
       CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms,
       CAST(sum(n_frames) AS BIGINT) AS total_frames
FROM m GROUP BY format ORDER BY format
"""


def q_video_caption_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-text pairing (round 5): SRT caption documents parsed
    ENTIRELY JVM-side (blank-line split + timing-line regexp + epoch-ms
    arithmetic + multi-line space-join — a whole-stage-codegen scan,
    zero Python), aligned to shot boundaries derived from the DECODED
    video (the scene-cut chain, not the generator formula), by the
    midpoint rule: a cue belongs to the shot containing its temporal
    midpoint. The cut table is one row per video, so the join-back
    broadcasts; caption text and the hour-scale timestamps are digest-
    derived, so the oracle recomputes the parse AND the alignment
    relationally — a regexp bug, a time-math bug, a decode bug, or a
    misaligned join all hash-fail. HALF the documents are WebVTT
    (odd media_id: 'WEBVTT' header, '.' millisecond separator,
    optional-hours short form, no cue numbers) — both subtitle formats
    must parse to the IDENTICAL cue table or the shared oracle
    breaks."""
    import pyarrow as pa

    from recon_spark.operators.captions import (
        parse_srt,
        parse_vtt,
        srt_text,
        vtt_text,
    )
    from recon_spark.operators.video import (
        decode_avi_frames,
        frame_delta_cuts,
        generate_media_avi_shots,
    )

    def _gen_srt(batches):
        import hashlib

        for batch in batches:
            ids = batch.column("id").to_pylist()
            docs = []
            for i in ids:
                dh = hashlib.sha256(f"42:{i}".encode()).hexdigest()
                nf, off = 6 + i % 5, (i % 40) * 97_000
                n_cues = 2 + i % 3
                cues = []
                for k in range(n_cues):
                    start = off + k * (nf * 100) // n_cues
                    cap = "cap-" + dh[4 * k:4 * k + 4]
                    if k % 2 == 1:
                        cap += f"\nln2-{k}"  # two-line cue: parse joins
                    cues.append((start, start + 80, cap))
                docs.append(srt_text(cues) if i % 2 == 0
                            else vtt_text(cues))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(docs, pa.string())],
                ["media_id", "srt"],
            )

    def _gen_cuts(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            vids, cut_ms = [], []
            for mid, p in zip(ids, batch.column("payload").to_pylist()):
                _, frames = decode_avi_frames(bytes(p))
                for c in frame_delta_cuts(frames):
                    if c["is_cut"]:
                        vids.append(mid)
                        cut_ms.append(c["frame_idx"] * 100)
            yield pa.RecordBatch.from_arrays(
                [pa.array(vids, pa.int64()), pa.array(cut_ms, pa.int64())],
                ["media_id", "cut_ms"],
            )

    docs = spark.range(0, _MEDIA_SHOTS_N).mapInArrow(
        _gen_srt, "media_id long, srt string")
    cues = parse_srt(
        docs.where(F.pmod("media_id", F.lit(2)) == 0),
        col="srt", key_col="media_id",
    ).unionByName(parse_vtt(
        docs.where(F.pmod("media_id", F.lit(2)) == 1),
        col="srt", key_col="media_id",
    ))
    cuts = (
        generate_media_avi_shots(spark, _MEDIA_SHOTS_N)
        .select("media_id", "payload")
        .mapInArrow(_gen_cuts, "media_id long, cut_ms long")
    )
    off = F.pmod(F.col("media_id"), F.lit(40)) * 97_000
    return (
        cues.join(F.broadcast(cuts), "media_id")
        .select(
            "media_id", "cue_idx", "start_ms", "end_ms", "caption",
            F.when(F.col("start_ms") + 40 - off < F.col("cut_ms"), 0)
            .otherwise(1).cast("int").alias("shot_idx"),
        )
        .orderBy("media_id", "cue_idx")
    )


SQL_VIDEO_CAPTION_ALIGN = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_SHOTS_N - 1})) AS media_id),
p AS (
  SELECT media_id, 6 + media_id % 5 AS nf, 2 + media_id % 3 AS cut,
         (media_id % 40) * 97000 AS off, 2 + media_id % 3 AS n_cues,
         sha256('42:' || media_id) AS dh
  FROM ids),
cue AS (
  SELECT media_id, off, cut,
         unnest(generate_series(0, n_cues - 1)) AS k,
         nf, n_cues, dh
  FROM p),
c2 AS (
  SELECT media_id, CAST(k + 1 AS INT) AS cue_idx,
         CAST(off + k * (nf * 100) // n_cues AS BIGINT) AS start_ms,
         CAST(off + k * (nf * 100) // n_cues + 80 AS BIGINT) AS end_ms,
         CASE WHEN k % 2 = 1
              THEN 'cap-' || substr(dh, 4 * k + 1, 4) || ' ln2-' || k
              ELSE 'cap-' || substr(dh, 4 * k + 1, 4) END AS caption,
         CAST(CASE WHEN k * (nf * 100) // n_cues + 40 < cut * 100
              THEN 0 ELSE 1 END AS INT) AS shot_idx
  FROM cue)
SELECT media_id, cue_idx, start_ms, end_ms, caption, shot_idx
FROM c2 ORDER BY media_id, cue_idx
"""


_MEDIA_PROBE_N = 240


def q_multimodal_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only media probe over a mixed 8-format shard (round 5):
    the pre-decode triage pass a 100 TB pipeline runs before spending
    decode compute — format, dims, frame/page counts, sample rate and
    a duration estimate from a few hundred header bytes per payload,
    never touching entropy-coded data (GIF frames are counted by the
    structural sub-block walk, TIFF pages by the IFD chain, MP3
    duration by the frame-HEADER walk over a format whose decode stays
    honestly gated). Every probed field is closed-form in media_id, so
    the oracle recomputes the whole mixed shard relationally."""
    import pyarrow as pa

    from recon_spark.operators.probe import generate_media_probe, probe_media

    def _gen(batches):
        keys = ("format", "variant", "width", "height", "sample_rate",
                "channels", "bps", "n_frames", "duration_ms",
                "bitrate_kbps")
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            cols = {k: [] for k in keys}
            for p in batch.column("payload").to_pylist():
                r = probe_media(bytes(p))
                for k in keys:
                    cols[k].append(r[k])
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()),
                 pa.array(cols["format"], pa.string()),
                 pa.array(cols["variant"], pa.string())]
                + [pa.array(cols[k], pa.int32())
                   for k in keys[2:]],
                ["media_id", *keys],
            )

    media = generate_media_probe(spark, _MEDIA_PROBE_N)
    return (
        media.mapInArrow(
            _gen,
            "media_id long, format string, variant string, width int, "
            "height int, sample_rate int, channels int, bps int, "
            "n_frames int, duration_ms int, bitrate_kbps int",
        )
        .orderBy("media_id")
    )


SQL_MULTIMODAL_PROBE = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_PROBE_N - 1})) AS media_id),
p AS (
  SELECT media_id,
         ['bmp','png','gif','tiff','jpeg','wav','flac','mp3']
             [CAST(media_id % 8 AS INT) + 1] AS fmt,
         media_id // 8 AS g
  FROM ids),
s AS (
  SELECT media_id, fmt,
    CASE WHEN fmt = 'gif' THEN 4 + media_id % 5
         WHEN fmt IN ('bmp','png','jpeg','tiff') THEN 3 + media_id % 5
         ELSE 0 END AS width,
    CASE WHEN fmt = 'gif' THEN 3 + media_id % 4
         WHEN fmt IN ('bmp','png','jpeg','tiff') THEN 2 + media_id % 4
         ELSE 0 END AS height,
    CASE WHEN fmt = 'gif' THEN 1 + g % 4
         WHEN fmt = 'tiff' THEN 1 + g % 3
         WHEN fmt = 'wav' THEN 30 + media_id % 20
         WHEN fmt = 'flac' THEN 50 + media_id % 30
         WHEN fmt = 'mp3' THEN 3 + g % 6
         ELSE 1 END AS n_frames,
    CASE WHEN fmt = 'wav' THEN 8000
         WHEN fmt = 'flac' THEN [8000, 16000, 32000][CAST(g % 3 AS INT) + 1]
         WHEN fmt = 'mp3' THEN [44100, 48000, 32000][CAST(g % 3 AS INT) + 1]
         ELSE 0 END AS sample_rate,
    CASE WHEN fmt IN ('bmp','png','gif') THEN 3
         WHEN fmt = 'mp3' THEN 2
         ELSE 1 END AS channels,
    CASE WHEN fmt = 'wav' AND g % 3 = 0 THEN 16
         WHEN fmt = 'flac' AND media_id % 16 = 6 THEN 16
         WHEN fmt = 'mp3' THEN 0
         ELSE 8 END AS bps,
    CASE WHEN fmt = 'png' AND media_id % 16 = 1 THEN 'adam7'
         WHEN fmt = 'jpeg' AND media_id % 16 = 4 THEN 'sof2'
         WHEN fmt = 'jpeg' THEN 'sof0'
         WHEN fmt = 'gif' AND g % 4 > 0 THEN 'animated'
         WHEN fmt = 'tiff' AND g % 3 > 0 THEN 'multipage'
         WHEN fmt = 'wav' THEN ['pcm16','ulaw','alaw'][CAST(g % 3 AS INT) + 1]
         WHEN fmt = 'mp3' THEN 'mpeg1l3'
         ELSE '' END AS variant
  FROM p)
SELECT media_id, fmt AS format, variant,
       CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       CAST(sample_rate AS INT) AS sample_rate,
       CAST(channels AS INT) AS channels, CAST(bps AS INT) AS bps,
       CAST(n_frames AS INT) AS n_frames,
       CAST(CASE WHEN fmt IN ('wav','flac') THEN n_frames * 1000 // sample_rate
                 WHEN fmt = 'mp3' THEN n_frames * 1152 * 1000 // sample_rate
                 ELSE 0 END AS INT) AS duration_ms,
       CAST(CASE WHEN fmt = 'mp3'
                 THEN [64, 96, 128, 192, 320]
                      [CAST((media_id // 8) % 5 AS INT) + 1]
                 ELSE 0 END AS INT) AS bitrate_kbps
FROM s ORDER BY media_id
"""


_MEDIA_PNG_N = 300


def q_multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG decode over genuine containers (round 5): stdlib-only
    zlib inflate + chunk/CRC framing + scanline un-filtering across all
    five filter types and the three common color classes (truecolor
    RGB, RGBA, indexed palette). Per image: the container-parsed dims
    and color type (NOT the metadata — independence check) plus channel
    -value stats; any filter/Paeth/palette/CRC bug hash-fails against
    the oracle's relational recomputation of the generation math."""
    import pyarrow as pa

    from recon_spark.operators.multimodal import decode_png, generate_media_png

    _CODEC = {2: "rgb", 6: "rgba", 3: "palette"}

    def _gen(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            cols = {k: [] for k in ("codec", "w", "h", "n_values", "px_sum", "px_min", "px_max")}
            for p in batch.column("payload").to_pylist():
                w, h, ct, px = decode_png(p)
                cols["codec"].append(_CODEC[ct])
                cols["w"].append(w)
                cols["h"].append(h)
                cols["n_values"].append(len(px))
                cols["px_sum"].append(sum(px))
                cols["px_min"].append(min(px))
                cols["px_max"].append(max(px))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(cols["codec"], pa.string()),
                    pa.array(cols["w"], pa.int32()),
                    pa.array(cols["h"], pa.int32()),
                    pa.array(cols["n_values"], pa.int32()),
                    pa.array(cols["px_sum"], pa.int64()),
                    pa.array(cols["px_min"], pa.int32()),
                    pa.array(cols["px_max"], pa.int32()),
                ],
                ["media_id", "codec", "w", "h", "n_values", "px_sum", "px_min", "px_max"],
            )

    media = generate_media_png(spark, _MEDIA_PNG_N)
    return (
        media.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, codec string, w int, h int, n_values int, "
            "px_sum long, px_min int, px_max int",
        )
        .orderBy("media_id")
    )


SQL_MULTIMODAL_DECODE_PNG = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_PNG_N - 1})) AS media_id),
cls AS (
  SELECT media_id, media_id % 3 AS m,
         2 + media_id % 6 AS w, 2 + media_id % 5 AS h
  FROM ids
),
dg AS (SELECT media_id, m, w, h, sha256('42:' || media_id) AS dh FROM cls),
db_t AS (
  SELECT media_id, m, w, h,
         list_transform(generate_series(0, 31),
           k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg
),
px AS (
  SELECT media_id, m, w, h,
         CASE
           WHEN m = 0 THEN
             flatten(list_transform(generate_series(0, w * h - 1),
               i -> [db[i % 32 + 1], db[(i + 7) % 32 + 1], db[(i + 13) % 32 + 1]]))
           WHEN m = 1 THEN
             flatten(list_transform(generate_series(0, w * h - 1),
               i -> [db[i % 32 + 1], db[(i + 7) % 32 + 1], db[(i + 13) % 32 + 1],
                     db[(i + 19) % 32 + 1]]))
           ELSE
             flatten(list_transform(generate_series(0, w * h - 1),
               i -> [db[(db[(i + 3) % 32 + 1] % 16) + 1],
                     db[((db[(i + 3) % 32 + 1] % 16) + 11) % 32 + 1],
                     db[((db[(i + 3) % 32 + 1] % 16) + 23) % 32 + 1]]))
         END AS p
  FROM db_t
)
SELECT media_id,
       CASE m WHEN 0 THEN 'rgb' WHEN 1 THEN 'rgba' ELSE 'palette' END AS codec,
       CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(len(p) AS INT) AS n_values,
       CAST(list_aggregate(p, 'sum') AS BIGINT) AS px_sum,
       CAST(list_aggregate(p, 'min') AS INT) AS px_min,
       CAST(list_aggregate(p, 'max') AS INT) AS px_max
FROM px ORDER BY media_id
"""


_MEDIA_GIF_N = 300


def q_multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real GIF decode over genuine GIF89a containers (round 5): struct
    framing, extension-block skip, and a hand-implemented LZW
    decompressor (variable code width 5..12 bits, mid-stream CLEAR
    resets, the KwKwK self-reference case). Per image: container-parsed
    dims plus de-palettized RGB stats; any bit-packing/width-sync/
    dictionary bug scrambles the pixels and hash-fails."""
    import pyarrow as pa

    from recon_spark.operators.multimodal import decode_gif, generate_media_gif

    def _gen(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            cols = {k: [] for k in ("w", "h", "n_values", "px_sum", "px_min", "px_max")}
            for p in batch.column("payload").to_pylist():
                w, h, px = decode_gif(p)
                cols["w"].append(w)
                cols["h"].append(h)
                cols["n_values"].append(len(px))
                cols["px_sum"].append(sum(px))
                cols["px_min"].append(min(px))
                cols["px_max"].append(max(px))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(cols["w"], pa.int32()),
                    pa.array(cols["h"], pa.int32()),
                    pa.array(cols["n_values"], pa.int32()),
                    pa.array(cols["px_sum"], pa.int64()),
                    pa.array(cols["px_min"], pa.int32()),
                    pa.array(cols["px_max"], pa.int32()),
                ],
                ["media_id", "w", "h", "n_values", "px_sum", "px_min", "px_max"],
            )

    media = generate_media_gif(spark, _MEDIA_GIF_N)
    return (
        media.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, w int, h int, n_values int, "
            "px_sum long, px_min int, px_max int",
        )
        .orderBy("media_id")
    )


SQL_MULTIMODAL_DECODE_GIF = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_GIF_N - 1})) AS media_id),
cls AS (
  SELECT media_id, 8 + media_id % 16 AS w, 8 + media_id % 12 AS h
  FROM ids
),
dg AS (SELECT media_id, w, h, sha256('42:' || media_id) AS dh FROM cls),
db_t AS (
  SELECT media_id, w, h,
         list_transform(generate_series(0, 31),
           k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg
),
px AS (
  SELECT media_id, w, h,
         flatten(list_transform(generate_series(0, w * h - 1),
           i -> [db[(db[(i + 3) % 32 + 1] % 16) + 1],
                 db[((db[(i + 3) % 32 + 1] % 16) + 11) % 32 + 1],
                 db[((db[(i + 3) % 32 + 1] % 16) + 23) % 32 + 1]])) AS p
  FROM db_t
)
SELECT media_id,
       CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(len(p) AS INT) AS n_values,
       CAST(list_aggregate(p, 'sum') AS BIGINT) AS px_sum,
       CAST(list_aggregate(p, 'min') AS INT) AS px_min,
       CAST(list_aggregate(p, 'max') AS INT) AS px_max
FROM px ORDER BY media_id
"""


_MEDIA_GIF_ANIM_N = 200


def q_multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated GIF frame enumeration (round 5): decode_gif_frames over
    genuine multi-frame GIF89a containers — per-frame rects at inset
    offsets, per-frame GCE delays, interlaced odd frames, NETSCAPE loop
    extension — emitting one row per frame with its rect, delay, and
    de-palettized pixel stats. The oracle recomputes every frame's
    geometry and pixels relationally from the id arithmetic; any bug in
    GCE parsing, frame-rect framing, per-frame LZW state, or the
    interlace permutation inside an animation hash-fails."""
    import pyarrow as pa

    from recon_spark.operators.multimodal import (
        decode_gif_frames,
        generate_media_gif_anim,
    )

    def _gen(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            out = {k: [] for k in ("media_id", "frame_idx", "f_left", "f_top",
                                   "fw", "fh", "delay_cs", "n_values",
                                   "px_sum", "px_min", "px_max")}
            for mid, p in zip(ids, batch.column("payload").to_pylist()):
                cw, ch, frames = decode_gif_frames(bytes(p))
                for f, (left, top, fw, fh, delay, rgb) in enumerate(frames):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(f)
                    out["f_left"].append(left)
                    out["f_top"].append(top)
                    out["fw"].append(fw)
                    out["fh"].append(fh)
                    out["delay_cs"].append(delay)
                    out["n_values"].append(len(rgb))
                    out["px_sum"].append(sum(rgb))
                    out["px_min"].append(min(rgb))
                    out["px_max"].append(max(rgb))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out["media_id"], pa.int64()),
                    pa.array(out["frame_idx"], pa.int32()),
                    pa.array(out["f_left"], pa.int32()),
                    pa.array(out["f_top"], pa.int32()),
                    pa.array(out["fw"], pa.int32()),
                    pa.array(out["fh"], pa.int32()),
                    pa.array(out["delay_cs"], pa.int32()),
                    pa.array(out["n_values"], pa.int32()),
                    pa.array(out["px_sum"], pa.int64()),
                    pa.array(out["px_min"], pa.int32()),
                    pa.array(out["px_max"], pa.int32()),
                ],
                list(out),
            )

    media = generate_media_gif_anim(spark, _MEDIA_GIF_ANIM_N)
    return (
        media.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, frame_idx int, f_left int, f_top int, fw int, "
            "fh int, delay_cs int, n_values int, px_sum long, px_min int, "
            "px_max int",
        )
        .orderBy("media_id", "frame_idx")
    )


SQL_MULTIMODAL_GIF_FRAMES = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_GIF_ANIM_N - 1})) AS media_id),
cls AS (
  SELECT media_id, 10 + media_id % 8 AS w, 9 + media_id % 6 AS h,
         2 + media_id % 3 AS nf
  FROM ids
),
dg AS (SELECT media_id, w, h, nf, sha256('42:' || media_id) AS dh FROM cls),
db_t AS (
  SELECT media_id, w, h, nf,
         list_transform(generate_series(0, 31),
           k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg
),
fr AS (
  SELECT media_id, w, h, db, unnest(generate_series(0, nf - 1)) AS f
  FROM db_t
),
px AS (
  SELECT media_id, f, w - 2 * f AS fw, h - 2 * f AS fh,
         flatten(list_transform(generate_series(0, (w - 2 * f) * (h - 2 * f) - 1),
           j -> [db[(db[(j + 3 + 5 * f) % 32 + 1] % 16) + 1],
                 db[((db[(j + 3 + 5 * f) % 32 + 1] % 16) + 11) % 32 + 1],
                 db[((db[(j + 3 + 5 * f) % 32 + 1] % 16) + 23) % 32 + 1]])) AS p
  FROM fr
)
SELECT media_id,
       CAST(f AS INT) AS frame_idx,
       CAST(f AS INT) AS f_left, CAST(f AS INT) AS f_top,
       CAST(fw AS INT) AS fw, CAST(fh AS INT) AS fh,
       CAST(4 + 3 * f AS INT) AS delay_cs,
       CAST(len(p) AS INT) AS n_values,
       CAST(list_aggregate(p, 'sum') AS BIGINT) AS px_sum,
       CAST(list_aggregate(p, 'min') AS INT) AS px_min,
       CAST(list_aggregate(p, 'max') AS INT) AS px_max
FROM px ORDER BY media_id, frame_idx
"""


_MEDIA_TIFF_N = 300


def q_multimodal_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real baseline-TIFF decode over genuine containers (round 5):
    IFD struct walk, strip reassembly, all three baseline compressions
    (none / PackBits / TIFF-LZW with early-change width sync), and the
    horizontal-differencing predictor. Per image: container-parsed dims
    and sample count plus value stats; any IFD/strip/RLE/LZW/predictor
    bug hash-fails against the oracle's relational recomputation."""
    import pyarrow as pa

    from recon_spark.operators.multimodal import decode_tiff, generate_media_tiff

    _CODEC = {0: "lzw", 1: "packbits", 2: "raw"}

    def _gen(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            cols = {k: [] for k in ("codec", "w", "h", "spp", "n_values",
                                    "px_sum", "px_min", "px_max")}
            for mid, p in zip(ids, batch.column("payload").to_pylist()):
                w, h, spp, px = decode_tiff(p)
                cols["codec"].append(_CODEC[mid % 3])
                cols["w"].append(w)
                cols["h"].append(h)
                cols["spp"].append(spp)
                cols["n_values"].append(len(px))
                cols["px_sum"].append(sum(px))
                cols["px_min"].append(min(px))
                cols["px_max"].append(max(px))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(cols["codec"], pa.string()),
                    pa.array(cols["w"], pa.int32()),
                    pa.array(cols["h"], pa.int32()),
                    pa.array(cols["spp"], pa.int32()),
                    pa.array(cols["n_values"], pa.int32()),
                    pa.array(cols["px_sum"], pa.int64()),
                    pa.array(cols["px_min"], pa.int32()),
                    pa.array(cols["px_max"], pa.int32()),
                ],
                ["media_id", "codec", "w", "h", "spp", "n_values",
                 "px_sum", "px_min", "px_max"],
            )

    media = generate_media_tiff(spark, _MEDIA_TIFF_N)
    return (
        media.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, codec string, w int, h int, spp int, "
            "n_values int, px_sum long, px_min int, px_max int",
        )
        .orderBy("media_id")
    )


SQL_MULTIMODAL_DECODE_TIFF = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_TIFF_N - 1})) AS media_id),
cls AS (
  SELECT media_id, media_id % 3 AS m,
         4 + media_id % 8 AS w, 4 + media_id % 6 AS h
  FROM ids
),
dg AS (SELECT media_id, m, w, h, sha256('42:' || media_id) AS dh FROM cls),
db_t AS (
  SELECT media_id, m, w, h,
         list_transform(generate_series(0, 31),
           k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg
),
px AS (
  SELECT media_id, m, w, h,
         CASE
           WHEN m = 2 THEN
             list_transform(generate_series(0, w * h - 1),
               i -> db[(i + 5) % 32 + 1])
           ELSE
             flatten(list_transform(generate_series(0, w * h - 1),
               i -> [db[i % 32 + 1], db[(i + 7) % 32 + 1], db[(i + 13) % 32 + 1]]))
         END AS p
  FROM db_t
)
SELECT media_id,
       CASE m WHEN 0 THEN 'lzw' WHEN 1 THEN 'packbits' ELSE 'raw' END AS codec,
       CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(CASE WHEN m = 2 THEN 1 ELSE 3 END AS INT) AS spp,
       CAST(len(p) AS INT) AS n_values,
       CAST(list_aggregate(p, 'sum') AS BIGINT) AS px_sum,
       CAST(list_aggregate(p, 'min') AS INT) AS px_min,
       CAST(list_aggregate(p, 'max') AS INT) AS px_max
FROM px ORDER BY media_id
"""


_MEDIA_JPEG_N = 300


def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real baseline-JPEG decode over genuine containers (round 5):
    marker walk, DHT canonical Huffman entropy decode with RSTn
    restart handling, dequantize, batched IDCT, chroma replication
    upsample for 4:2:0, YCbCr inverse. The generator's exactness
    contract (all-ones quant tables + per-block-constant pixels, 8x8
    blocks for classes 0-2 and 16x16 MCU-aligned for the 4:2:0 class)
    makes the lossy format bit-exact here, so the oracle recomputes
    every pixel relationally — per block, weighted by the block's
    edge-clipped pixel count — and any framing/Huffman/zigzag/IDCT/
    restart/subsample/color-transform bug hash-fails. Map-only plan:
    generate -> decode in one Arrow stage, no shuffle before the final
    presentation sort."""
    from recon_spark.operators.multimodal import generate_media_jpeg

    return _jpeg_decode_stats(generate_media_jpeg(spark, _MEDIA_JPEG_N))


def q_multimodal_decode_jpeg_prog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG decode over genuine multi-scan
    containers (round 5): the same four image classes and pixel
    contract as q_multimodal_decode_jpeg, but every payload carries a
    libjpeg-shape progressive scan script — spectral selection,
    successive approximation (DC/AC first + refinement scans,
    cross-block EOB runs, correction bits), per-scan optimized DHT
    redefinition, and restart intervals inside progressive scans for
    classes 2 and 3. Because the contract pins the decoded pixels to
    the SAME values as the baseline classes, the oracle is reused
    verbatim: a decoder bug anywhere in the Annex-G scan machinery
    hash-fails against a query that never decodes anything."""
    from recon_spark.operators.multimodal import generate_media_jpeg_prog

    return _jpeg_decode_stats(generate_media_jpeg_prog(spark, _MEDIA_JPEG_N))


def _jpeg_decode_stats(media: DataFrame) -> DataFrame:
    """Shared decode -> per-image pixel-stats body for the baseline
    and progressive JPEG queries (map-only, one Arrow stage)."""
    import pyarrow as pa

    from recon_spark.operators.multimodal import decode_jpeg

    _CLS = {0: "gray_small", 1: "color", 2: "gray_wide", 3: "color_420_rst"}

    def _gen(batches):
        for batch in batches:
            ids = batch.column("media_id").to_pylist()
            cols = {k: [] for k in ("cls", "w", "h", "spp", "n_values",
                                    "px_sum", "px_min", "px_max")}
            for mid, p in zip(ids, batch.column("payload").to_pylist()):
                w, h, spp, px = decode_jpeg(p)
                cols["cls"].append(_CLS[mid % 4])
                cols["w"].append(w)
                cols["h"].append(h)
                cols["spp"].append(spp)
                cols["n_values"].append(len(px))
                cols["px_sum"].append(sum(px))
                cols["px_min"].append(min(px))
                cols["px_max"].append(max(px))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(cols["cls"], pa.string()),
                    pa.array(cols["w"], pa.int32()),
                    pa.array(cols["h"], pa.int32()),
                    pa.array(cols["spp"], pa.int32()),
                    pa.array(cols["n_values"], pa.int32()),
                    pa.array(cols["px_sum"], pa.int64()),
                    pa.array(cols["px_min"], pa.int32()),
                    pa.array(cols["px_max"], pa.int32()),
                ],
                ["media_id", "cls", "w", "h", "spp", "n_values",
                 "px_sum", "px_min", "px_max"],
            )

    return (
        media.select("media_id", "payload")
        .mapInArrow(
            _gen,
            "media_id long, cls string, w int, h int, spp int, "
            "n_values int, px_sum long, px_min int, px_max int",
        )
        .orderBy("media_id")
    )


# The color CTE mirrors multimodal._rgb_to_ycbcr/_ycbcr_to_rgb
# term-for-term (same literals, same left-associative order, floor(x +
# 0.5) + clamp both directions) so the doubles agree bit-for-bit.
SQL_MULTIMODAL_DECODE_JPEG = f"""
WITH ids AS (SELECT unnest(generate_series(0, {_MEDIA_JPEG_N - 1})) AS media_id),
cls AS (
  SELECT media_id, media_id % 4 AS m,
         CASE media_id % 4 WHEN 0 THEN 9 + media_id % 8
              WHEN 1 THEN 8 + media_id % 9
              WHEN 2 THEN 17 + media_id % 8 ELSE 17 + media_id % 16 END AS w,
         CASE media_id % 4 WHEN 0 THEN 9 + media_id % 6
              WHEN 1 THEN 8 + media_id % 5
              WHEN 2 THEN 10 + media_id % 6 ELSE 11 + media_id % 10 END AS h,
         CASE WHEN media_id % 4 = 3 THEN 16 ELSE 8 END AS bsz
  FROM ids
),
dg AS (SELECT media_id, m, w, h, bsz, sha256('42:' || media_id) AS dh FROM cls),
db_t AS (
  SELECT media_id, m, w, h, bsz,
         list_transform(generate_series(0, 31),
           k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg
),
bx_t AS (
  SELECT *, unnest(generate_series(0, (w + bsz - 1) // bsz - 1)) AS bx FROM db_t
),
blocks AS (
  SELECT *, unnest(generate_series(0, (h + bsz - 1) // bsz - 1)) AS by_ FROM bx_t
),
cells AS (
  SELECT media_id, m, w, h, db, bx, by_,
         (least(bsz * (bx + 1), w) - bsz * bx)
           * (least(bsz * (by_ + 1), h) - bsz * by_) AS cnt,
         bx + 2 * by_ AS k
  FROM blocks
),
fwd AS (
  SELECT media_id, m, w, h, cnt,
         db[((5 + k) % 32) + 1] AS gv,
         CAST(db[(k % 32) + 1] AS DOUBLE) AS r0,
         CAST(db[((k + 7) % 32) + 1] AS DOUBLE) AS g0,
         CAST(db[((k + 13) % 32) + 1] AS DOUBLE) AS b0
  FROM cells
),
ycc AS (
  SELECT media_id, m, w, h, cnt, gv,
         least(greatest(floor(0.299 * r0 + 0.587 * g0 + 0.114 * b0 + 0.5), 0), 255) AS y,
         least(greatest(floor(-0.168736 * r0 - 0.331264 * g0 + 0.5 * b0 + 128.5), 0), 255) AS cb,
         least(greatest(floor(0.5 * r0 - 0.418688 * g0 - 0.081312 * b0 + 128.5), 0), 255) AS cr
  FROM fwd
),
inv AS (
  SELECT media_id, m, w, h, cnt, gv,
         least(greatest(floor(y + 1.402 * (cr - 128.0) + 0.5), 0), 255) AS r1,
         least(greatest(floor(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0) + 0.5), 0), 255) AS g1,
         least(greatest(floor(y + 1.772 * (cb - 128.0) + 0.5), 0), 255) AS b1
  FROM ycc
),
per_block AS (
  SELECT media_id, m, w, h, cnt,
         CASE WHEN m IN (1, 3) THEN r1 + g1 + b1 ELSE gv END AS blk_sum,
         CASE WHEN m IN (1, 3) THEN least(r1, g1, b1) ELSE gv END AS blk_min,
         CASE WHEN m IN (1, 3) THEN greatest(r1, g1, b1) ELSE gv END AS blk_max
  FROM inv
)
SELECT media_id,
       CASE m WHEN 0 THEN 'gray_small' WHEN 1 THEN 'color'
              WHEN 2 THEN 'gray_wide' ELSE 'color_420_rst' END AS cls,
       CAST(w AS INT) AS w, CAST(h AS INT) AS h,
       CAST(CASE WHEN m IN (1, 3) THEN 3 ELSE 1 END AS INT) AS spp,
       CAST(w * h * CASE WHEN m IN (1, 3) THEN 3 ELSE 1 END AS INT) AS n_values,
       CAST(sum(cnt * blk_sum) AS BIGINT) AS px_sum,
       CAST(min(blk_min) AS INT) AS px_min,
       CAST(max(blk_max) AS INT) AS px_max
FROM per_block
GROUP BY media_id, m, w, h
ORDER BY media_id
"""


_MEDIA_EPOCH = 1_767_225_600  # 2026-01-01T00:00:00Z (shared with pipeline staging)
_WARC_MEDIA_N = 200
_WARC_TOL_N = 150
_WARC_MEDIA_STAGING: dict[str, str] = {}


def _stage_warc_media(spark: SparkSession) -> str:
    """Stage once per session: a .warc.gz shard holding a REAL mixed
    crawl — text/html page records interleaved record-for-record with
    genuine image payloads (BMP / PNG incl. Adam7 / GIF incl.
    interlace / baseline JPEG), each record carrying its own
    Content-Type through the extended sink. Session-cached and removed
    at exit (same contract as the other WARC stagings)."""
    import atexit
    import shutil
    import tempfile

    import pyarrow as pa

    from recon_spark.warc import write_warc_files

    key = "media"
    if key not in _WARC_MEDIA_STAGING:
        out_dir = tempfile.mkdtemp(prefix="recon_warc_media_")
        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)

        from recon_spark.operators.multimodal import synth_crawl_image

        def _gen(batches):
            for batch in batches:
                ids = batch.column("id").to_pylist()
                urls, tss, payloads, ctypes = [], [], [], []
                for i in ids:
                    p, ct = synth_crawl_image(i)
                    urls.append(f"https://img.ex/m/{i}")
                    tss.append(_MEDIA_EPOCH + i)
                    payloads.append(p)
                    ctypes.append(ct)
                    # a page record rides along so the query has to
                    # PRUNE by Content-Type, like a real crawl shard
                    urls.append(f"https://img.ex/page/{i}")
                    tss.append(_MEDIA_EPOCH + i)
                    payloads.append(
                        f"<html><body><p>page {i}</p></body></html>".encode())
                    ctypes.append("text/html")
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(urls, pa.string()),
                        pa.array(tss, pa.int64()),
                        pa.array(payloads, pa.binary()),
                        pa.array(ctypes, pa.string()),
                    ],
                    ["url", "warc_ts_s", "html", "content_type"],
                )

        docs = spark.range(_WARC_MEDIA_N).mapInArrow(
            _gen,
            "url string, warc_ts_s long, html binary, content_type string",
        ).repartition(8, "url")
        write_warc_files(docs, out_dir, ctype_col="content_type").count()
        _WARC_MEDIA_STAGING[key] = out_dir
    return _WARC_MEDIA_STAGING[key]


def _stage_warc_media_corrupt(spark: SparkSession) -> str:
    """Stage once per session: the same mixed media shard but with the
    failure modes a real crawl shard ALWAYS carries, assigned by pure
    arithmetic on the media id so the DuckDB oracle knows the ground
    truth without decoding anything:

      - ``i % 5 == 3`` → the genuine payload truncated to half its
        bytes (signature intact, body severed mid-container) — the
        canonical interrupted-transfer record
      - ``i % 5 == 1`` → a WebP-signature stub (no stdlib codec
        exists; the decoder's honest capability gate must fire as a
        row-level status, not a task failure)
      - otherwise    → the clean genuine payload

    Session-cached in the same registry as the clean shard so the
    hygiene sweep's allowed-roots logic covers it unchanged."""
    import atexit
    import shutil
    import tempfile

    import pyarrow as pa

    from recon_spark.warc import write_warc_files

    key = "corrupt"
    if key not in _WARC_MEDIA_STAGING:
        out_dir = tempfile.mkdtemp(prefix="recon_warc_media_tol_")
        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)

        from recon_spark.operators.multimodal import synth_crawl_image

        def _gen(batches):
            import hashlib

            for batch in batches:
                ids = batch.column("id").to_pylist()
                urls, tss, payloads, ctypes = [], [], [], []
                for i in ids:
                    p, ct = synth_crawl_image(i)
                    if i % 5 == 3:
                        p = p[: len(p) // 2]
                    elif i % 5 == 1:
                        d = hashlib.sha256(f"42:{i}".encode()).digest()
                        p = b"RIFF" + d[:4] + b"WEBPVP8 " + d[4:20]
                        ct = "image/webp"
                    urls.append(f"https://img.ex/m/{i}")
                    tss.append(_MEDIA_EPOCH + i)
                    payloads.append(p)
                    ctypes.append(ct)
                    urls.append(f"https://img.ex/page/{i}")
                    tss.append(_MEDIA_EPOCH + i)
                    payloads.append(
                        f"<html><body><p>page {i}</p></body></html>".encode())
                    ctypes.append("text/html")
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(urls, pa.string()),
                        pa.array(tss, pa.int64()),
                        pa.array(payloads, pa.binary()),
                        pa.array(ctypes, pa.string()),
                    ],
                    ["url", "warc_ts_s", "html", "content_type"],
                )

        docs = spark.range(_WARC_TOL_N).mapInArrow(
            _gen,
            "url string, warc_ts_s long, html binary, content_type string",
        ).repartition(8, "url")
        write_warc_files(docs, out_dir, ctype_col="content_type").count()
        _WARC_MEDIA_STAGING[key] = out_dir
    return _WARC_MEDIA_STAGING[key]


def q_warc_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw crawl bytes -> decoded media (round 5): read_warc over a
    mixed shard (html pages interleaved with four genuine image
    formats), prune to image/* on the record Content-Type — the html
    payloads never reach a decoder — then dispatch decode_image on the
    container signature (BMP struct / PNG zlib+Adam7 / GIF LZW incl.
    interlace / JPEG Huffman+IDCT) and emit per-image stats the oracle
    recomputes relationally. One map-only chain from .warc.gz bytes to
    decoded pixels: binaryFile one-task-per-file scan -> bounded Arrow
    record parse -> filter -> decode, no shuffle before the
    presentation sort."""
    import pyarrow as pa

    from recon_spark.operators.multimodal import decode_image
    from recon_spark.warc import read_warc

    out_dir = _stage_warc_media(spark)
    recs = read_warc(spark, out_dir).where(
        F.col("content_type").startswith("image/")
    )

    def _gen(batches):
        fmts = {b"BM": "bmp", b"\x89P": "png", b"GI": "gif", b"\xff\xd8": "jpeg"}
        for batch in batches:
            urls = batch.column("url").to_pylist()
            cols = {k: [] for k in ("fmt", "n_values", "px_sum", "px_min", "px_max")}
            for p in batch.column("html").to_pylist():
                p = bytes(p)
                px = decode_image(p, {}, fake=False)
                cols["fmt"].append(fmts[p[:2]])
                cols["n_values"].append(len(px))
                cols["px_sum"].append(sum(px))
                cols["px_min"].append(min(px))
                cols["px_max"].append(max(px))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(urls, pa.string()),
                    pa.array(cols["fmt"], pa.string()),
                    pa.array(cols["n_values"], pa.int32()),
                    pa.array(cols["px_sum"], pa.int64()),
                    pa.array(cols["px_min"], pa.int32()),
                    pa.array(cols["px_max"], pa.int32()),
                ],
                ["url", "fmt", "n_values", "px_sum", "px_min", "px_max"],
            )

    return (
        recs.select("url", "html")
        .mapInArrow(
            _gen,
            "url string, fmt string, n_values int, px_sum long, "
            "px_min int, px_max int",
        )
        .withColumn(
            "media_id",
            F.regexp_extract("url", r"/m/([0-9]+)$", 1).cast("long"),
        )
        .select("media_id", "url", "fmt", "n_values", "px_sum", "px_min", "px_max")
        .orderBy("media_id")
    )


def q_warc_media_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw crawl bytes -> decoded media with row-level quarantine
    (round 5): the same map-only WARC chain as warc_media_decode, but
    over a shard carrying the failure modes every real crawl shard
    has — truncated payloads and codec-less formats — dispatched
    through decode_image_safe so a bad record becomes a status row
    ('corrupt' / 'unsupported') instead of a task failure. At 100TB a
    raising decoder fails the task after four retries and kills the
    job on the first bit-rotted image; the status column is what the
    curation pipeline groups on to quarantine and audit. The oracle
    knows the ground-truth status of every record by arithmetic on the
    media id (the corruption classes are assigned deterministically at
    staging time) and recomputes survivor pixel stats relationally."""
    import pyarrow as pa

    from recon_spark.operators.multimodal import decode_image_safe
    from recon_spark.warc import read_warc

    out_dir = _stage_warc_media_corrupt(spark)
    recs = read_warc(spark, out_dir).where(
        F.col("content_type").startswith("image/")
    )

    def _gen(batches):
        fmts = {b"BM": "bmp", b"\x89P": "png", b"GI": "gif",
                b"\xff\xd8": "jpeg", b"RI": "webp"}
        for batch in batches:
            urls = batch.column("url").to_pylist()
            fmt_c, st_c, nv_c, sum_c, min_c, max_c = [], [], [], [], [], []
            for p in batch.column("html").to_pylist():
                p = bytes(p)
                status, px = decode_image_safe(p, {}, fake=False)
                fmt_c.append(fmts[p[:2]])
                st_c.append(status)
                # 0-sentinels, not NULLs, for quarantined rows: the
                # driver/oracle hash compare must not depend on engine
                # NULL-vs-NaN conversion; status != 'ok' disambiguates
                ok = status == "ok"
                nv_c.append(len(px) if ok else 0)
                sum_c.append(sum(px) if ok else 0)
                min_c.append(min(px) if ok else 0)
                max_c.append(max(px) if ok else 0)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(urls, pa.string()),
                    pa.array(fmt_c, pa.string()),
                    pa.array(st_c, pa.string()),
                    pa.array(nv_c, pa.int32()),
                    pa.array(sum_c, pa.int64()),
                    pa.array(min_c, pa.int32()),
                    pa.array(max_c, pa.int32()),
                ],
                ["url", "fmt", "status", "n_values", "px_sum",
                 "px_min", "px_max"],
            )

    return (
        recs.select("url", "html")
        .mapInArrow(
            _gen,
            "url string, fmt string, status string, n_values int, "
            "px_sum long, px_min int, px_max int",
        )
        .withColumn(
            "media_id",
            F.regexp_extract("url", r"/m/([0-9]+)$", 1).cast("long"),
        )
        .select("media_id", "url", "fmt", "status", "n_values",
                "px_sum", "px_min", "px_max")
        .orderBy("media_id")
    )


def _sql_media_px_parts(n: int) -> str:
    """The WITH-clause body replicating synth_crawl_image's pixel
    arithmetic for media ids 0..n-1 (format class, dims, sha256-derived
    bytes, and the flat decoded pixel list) — ends in a ``px`` CTE with
    (media_id, m, w, h, p). Shared by the clean and tolerant oracles."""
    return f"""ids AS (SELECT unnest(generate_series(0, {n - 1})) AS media_id),
cls AS (
  SELECT media_id, media_id % 4 AS m,
         CASE media_id % 4 WHEN 2 THEN 8 + media_id % 16
              WHEN 3 THEN 9 + media_id % 8 ELSE 2 + media_id % 6 END AS w,
         CASE media_id % 4 WHEN 2 THEN 8 + media_id % 12
              WHEN 3 THEN 9 + media_id % 6 ELSE 2 + media_id % 5 END AS h
  FROM ids
),
dg AS (SELECT media_id, m, w, h, sha256('42:' || media_id) AS dh FROM cls),
db_t AS (
  SELECT media_id, m, w, h,
         list_transform(generate_series(0, 31),
           k -> CAST(concat('0x', substr(dh, 2 * k + 1, 2)) AS INT)) AS db
  FROM dg
),
px AS (
  SELECT media_id, m, w, h,
         CASE
           WHEN m IN (0, 1) THEN
             flatten(list_transform(generate_series(0, w * h - 1),
               i -> [db[i % 32 + 1], db[(i + 7) % 32 + 1], db[(i + 13) % 32 + 1]]))
           WHEN m = 2 THEN
             flatten(list_transform(generate_series(0, w * h - 1),
               i -> [db[(db[(i + 3) % 32 + 1] % 16) + 1],
                     db[((db[(i + 3) % 32 + 1] % 16) + 11) % 32 + 1],
                     db[((db[(i + 3) % 32 + 1] % 16) + 23) % 32 + 1]]))
           ELSE
             list_transform(generate_series(0, w * h - 1),
               i -> db[((5 + (i % w) // 8 + 2 * ((i // w) // 8)) % 32) + 1])
         END AS p
  FROM db_t
)"""


SQL_WARC_MEDIA_DECODE = f"""
WITH {_sql_media_px_parts(_WARC_MEDIA_N)}
SELECT media_id,
       concat('https://img.ex/m/', media_id) AS url,
       CASE m WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
              WHEN 2 THEN 'gif' ELSE 'jpeg' END AS fmt,
       CAST(len(p) AS INT) AS n_values,
       CAST(list_aggregate(p, 'sum') AS BIGINT) AS px_sum,
       CAST(list_aggregate(p, 'min') AS INT) AS px_min,
       CAST(list_aggregate(p, 'max') AS INT) AS px_max
FROM px ORDER BY media_id
"""


SQL_WARC_MEDIA_TOLERANT = f"""
WITH {_sql_media_px_parts(_WARC_TOL_N)},
st AS (
  SELECT media_id, m, p,
         CASE media_id % 5 WHEN 3 THEN 'corrupt'
              WHEN 1 THEN 'unsupported' ELSE 'ok' END AS status
  FROM px
)
SELECT media_id,
       concat('https://img.ex/m/', media_id) AS url,
       CASE WHEN status = 'unsupported' THEN 'webp'
            ELSE CASE m WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                        WHEN 2 THEN 'gif' ELSE 'jpeg' END END AS fmt,
       status,
       CAST(CASE WHEN status = 'ok' THEN len(p) ELSE 0 END AS INT) AS n_values,
       CAST(CASE WHEN status = 'ok' THEN list_aggregate(p, 'sum') ELSE 0 END AS BIGINT) AS px_sum,
       CAST(CASE WHEN status = 'ok' THEN list_aggregate(p, 'min') ELSE 0 END AS INT) AS px_min,
       CAST(CASE WHEN status = 'ok' THEN list_aggregate(p, 'max') ELSE 0 END AS INT) AS px_max
FROM st ORDER BY media_id
"""


_IVF_NPROBE = 8


def q_ivf_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.similarity import ivf_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_neardup_pairs(
        emb, threshold=_LSH_THRESHOLD, nprobe=_IVF_NPROBE, id_col="vec_id"
    )


def _sql_ivf_parts() -> list[str]:
    """Unrolled deterministic Lloyd's k-means (the DuckDB replica of
    recon_spark.operators.similarity.kmeans_centroids): md5-keyed
    top-k init (same seeds Spark's TakeOrderedAndProject picks),
    k = min(n, max(KMEANS_K, floor(sqrt(n)))), argmax-cosine assignment
    with lower-cent_id tie-break, per-dim means rounded to KMEANS_ROUND
    so the iterations stay bit-comparable across engines, empty cells
    keep their previous centroid. Returns the CTE parts ending in
    ``ivf_pairs`` (id_a, id_b, cos >= threshold)."""
    from recon_spark.operators.similarity import KMEANS_ITERS, KMEANS_K, KMEANS_ROUND

    cos = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    parts = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        f"""p AS (SELECT count(*) AS n,
       least(count(*), greatest({KMEANS_K},
             CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))) AS k
  FROM v)""",
        """ranked AS (SELECT vec_id, e,
       row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS rn
  FROM v)""",
        """c0 AS (SELECT CAST(rn AS INT) AS cent_id, e AS cv
  FROM ranked, p WHERE rn < p.k)""",
    ]
    prev = "c0"
    for i in range(1, KMEANS_ITERS + 1):
        sim = cos.format(a="v.e", b="c.cv")
        parts.append(
            f"""a{i} AS (
  SELECT vec_id, e, cent_id FROM (
    SELECT v.vec_id, v.e, c.cent_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {sim} DESC, c.cent_id) AS rk
    FROM v, {prev} c)
  WHERE rk = 1)"""
        )
        parts.append(
            f"""m{i} AS (
  SELECT cent_id, j, round(avg(e[j]), {KMEANS_ROUND}) AS mu
  FROM (SELECT cent_id, e, unnest(generate_series(1, len(e))) AS j FROM a{i})
  GROUP BY cent_id, j)"""
        )
        parts.append(
            f"""c{i} AS (
  SELECT c.cent_id, coalesce(m.cv, c.cv) AS cv
  FROM {prev} c LEFT JOIN
    (SELECT cent_id, list(mu ORDER BY j) AS cv FROM m{i} GROUP BY cent_id) m
    USING (cent_id))"""
        )
        prev = f"c{i}"
    sim = cos.format(a="v.e", b="c.cv")
    parts.append(
        f"""assigned AS (
  SELECT vec_id AS id, cent_id FROM (
    SELECT v.vec_id, c.cent_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {sim} DESC, c.cent_id) AS rk
    FROM v, {prev} c)
  WHERE rk <= {_IVF_NPROBE})"""
    )
    parts.append(
        """cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM assigned a JOIN assigned b ON a.cent_id = b.cent_id AND a.id < b.id)"""
    )
    pair_cos = cos.format(a="va.e", b="vb.e")
    parts.append(
        f"""ivf_pairs AS (
  SELECT c.id_a, c.id_b, round({pair_cos}, 6) AS cos
  FROM cand c
  JOIN v va ON va.vec_id = c.id_a
  JOIN v vb ON vb.vec_id = c.id_b
  WHERE {pair_cos} >= {_LSH_THRESHOLD})"""
    )
    return parts


SQL_IVF_NEARDUP = (
    "WITH "
    + ",\n".join(_sql_ivf_parts())
    + "\nSELECT id_a, id_b, cos FROM ivf_pairs ORDER BY id_a, id_b\n"
)


def q_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path grading query for embedding near-dup: one row
    (n_exact, n_found, recall) comparing the IVF candidates+verify path
    against the exact all-pairs set at the same threshold. Precision is
    1.0 by construction (exact verify), so recall = n_found / n_exact;
    the driver-checked value IS the recall claim in BENCH/BASELINE.md."""
    from recon_spark.operators.similarity import (
        cosine_neardup_pairs,
        ivf_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_neardup_pairs(emb, threshold=_LSH_THRESHOLD).select("id_a", "id_b")
    found = ivf_neardup_pairs(
        emb, threshold=_LSH_THRESHOLD, nprobe=_IVF_NPROBE, id_col="vec_id"
    ).select("id_a", "id_b")
    n_exact, n_found = F.col("n_exact"), F.col("n_found")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("n_found")))
        .withColumn(
            "recall", F.when(n_exact > 0, F.round(n_found / n_exact, 6)).otherwise(0.0)
        )
    )


SQL_NEARDUP_RECALL = (
    "WITH "
    + ",\n".join(_sql_ivf_parts())
    + f""",
exact AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
        >= {_LSH_THRESHOLD}
),
counts AS (
  SELECT (SELECT count(*) FROM exact) AS n_exact,
         (SELECT count(*) FROM ivf_pairs) AS n_found
)
SELECT CAST(n_exact AS BIGINT) AS n_exact, CAST(n_found AS BIGINT) AS n_found,
       CASE WHEN n_exact > 0 THEN round(n_found / CAST(n_exact AS DOUBLE), 6)
            ELSE 0.0 END AS recall
FROM counts
"""
)


# --------------------------------------------------------------------------
# mask_1d — deterministic shuffled 0/1 mask (reference augmentation.py:9-19)
# --------------------------------------------------------------------------

_MASK_PROB = 0.3


def q_mask_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mask_1d over each document's whitespace tokens (prob=0.3, seeded
    by doc_id): per doc the mask length, the exact ceil(n*prob) ones
    count, and position aggregates of the selected ones — pinning the
    keyed-rank selection end to end."""
    from recon_spark.operators.augmentation import with_mask_1d

    d = _docs(spark, sf_dir).withColumn("n_tokens", F.expr("size(split(text, ' '))"))
    m = with_mask_1d(d, "n_tokens", _MASK_PROB, seed_expr="doc_id")
    return m.select(
        "doc_id",
        "n_tokens",
        F.expr("CAST(size(filter(mask, x -> x)) AS INT)").alias("n_masked"),
        F.expr(
            "CAST(aggregate(sequence(0, n_tokens - 1), 0L, "
            "(acc, j) -> acc + IF(element_at(mask, j + 1), CAST(j AS BIGINT), 0L)) AS BIGINT)"
        ).alias("masked_pos_sum"),
        F.expr(
            "CAST(array_min(filter(transform(sequence(0, n_tokens - 1), "
            "j -> IF(element_at(mask, j + 1), j, -1)), j -> j >= 0)) AS INT)"
        ).alias("first_masked"),
    ).orderBy("doc_id")


def _sql_mask_1d() -> str:
    from recon_spark.operators.augmentation import MASK_MIX, MASK_MOD

    return f"""
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
pos AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS j FROM t),
keyed AS (
  SELECT doc_id, n, j,
         ((doc_id % {MASK_MOD}) * {KNUTH} + j * {MASK_MIX}) % {MASK_MOD} AS k
  FROM pos
),
ranked AS (
  SELECT doc_id, n, j,
         row_number() OVER (PARTITION BY doc_id ORDER BY k, j) AS rn
  FROM keyed
)
SELECT doc_id, CAST(any_value(n) AS INT) AS n_tokens,
       CAST(count(*) FILTER (rn <= ceil(n * {_MASK_PROB})) AS INT) AS n_masked,
       CAST(sum(j) FILTER (rn <= ceil(n * {_MASK_PROB})) AS BIGINT) AS masked_pos_sum,
       CAST(min(j) FILTER (rn <= ceil(n * {_MASK_PROB})) AS INT) AS first_masked
FROM ranked GROUP BY doc_id ORDER BY doc_id
"""


SQL_MASK_1D = _sql_mask_1d()


# --------------------------------------------------------------------------
# search_filter — substring search (pushdown-friendly filter)
# --------------------------------------------------------------------------

def q_search_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        search(_docs(spark, sf_dir), "customer query")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


SQL_SEARCH_FILTER = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
FROM documents
WHERE position('customer query' IN lower(text)) > 0
GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# hf_ingest_spans — from_hf_dataset end-to-end (IOB tags -> spans)
# --------------------------------------------------------------------------

_HF_OP = "('join','sort','merge','filter','scan','agg')"
_HF_OBJ = "('table','row','column','line','key','value')"


def _hf_cat(e: str) -> str:
    return (
        f"(CASE WHEN {e} IN {_HF_OP} THEN 'OP' "
        f"WHEN {e} IN {_HF_OBJ} THEN 'OBJ' END)"
    )


def q_hf_ingest_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_hf_dataset end-to-end (reference recon/dataset.py:494-526):
    a deterministic HF-style token-classification table is synthesized
    FROM the documents table (tokens = whitespace split; IOB2 tags mark
    maximal runs of two vocab categories), ingested through the full
    reader — offset fold + IOB->span kernel + span-text fill — and the
    reconstructed spans are profiled per (label, token length):
    span count and total SURFACE characters, which pins the char
    offsets, the token bounds, and the B/I run logic all at once. The
    oracle re-derives the runs independently with window functions."""
    from recon_spark.io import from_hf_dataset

    docs = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("toks"))
    tags = f"""
    transform(toks, (t, i) -> CASE
      WHEN {_hf_cat('t')} IS NULL THEN 'O'
      WHEN i = 0 OR NOT ({_hf_cat('element_at(toks, i)')} <=> {_hf_cat('t')})
        THEN concat('B-', {_hf_cat('t')})
      ELSE concat('I-', {_hf_cat('t')}) END)
    """
    hf = docs.withColumn("tags", F.expr(tags))
    ex = from_hf_dataset(spark, hf, tokens_col="toks", tags_col="tags")
    sp = ex.select(F.explode("spans").alias("s"))
    return (
        sp.groupBy(
            F.col("s.label").alias("label"),
            (F.col("s.token_end") - F.col("s.token_start") + 1)
            .cast("int")
            .alias("n_toks"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.length("s.text")).alias("total_chars"),
        )
        .orderBy("label", "n_toks")
    )


SQL_HF_INGEST_SPANS = f"""
WITH toks AS (
  SELECT doc_id, unnest(ts) AS tok,
         unnest(generate_series(1, len(ts))) AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
),
c AS (
  SELECT doc_id, pos, length(tok) AS ln,
         CASE WHEN tok IN {_HF_OP} THEN 'OP'
              WHEN tok IN {_HF_OBJ} THEN 'OBJ' END AS cat
  FROM toks
),
o AS (
  SELECT *, CASE WHEN cat IS NOT NULL
                  AND (lag(cat) OVER w IS DISTINCT FROM cat) THEN 1 ELSE 0 END AS brk
  FROM c WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS rid
  FROM o
),
g AS (
  SELECT doc_id, rid, cat, count(*) AS n_toks, sum(ln) AS chars_tok
  FROM s WHERE cat IS NOT NULL GROUP BY 1, 2, 3
)
SELECT cat AS label, CAST(n_toks AS INT) AS n_toks,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(chars_tok + n_toks - 1) AS BIGINT) AS total_chars
FROM g GROUP BY cat, n_toks ORDER BY label, n_toks
"""


QUERIES = {
    "hf_ingest_spans": q_hf_ingest_spans,
    "filter_overlaps": q_filter_overlaps,
    "split_sentences": q_split_sentences,
    "strip_annotations": q_strip_annotations,
    "token_stats": q_token_stats,
    "split_stats": q_split_stats,
    "language_id": q_language_id,
    "language_id_ngram": q_language_id_ngram,
    "token_counts": q_token_counts,
    "augment_label_sub": q_augment_label_sub,
    "kb_expansion": q_kb_expansion,
    "merge_corrected": q_merge_corrected,
    "multimodal_features": q_multimodal_features,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_audio": q_multimodal_audio,
    "multimodal_decode_image": q_multimodal_decode_image,
    "multimodal_decode_audio": q_multimodal_decode_audio,
    "multimodal_decode_g711": q_multimodal_decode_g711,
    "multimodal_decode_flac": q_multimodal_decode_flac,
    "multimodal_probe": q_multimodal_probe,
    "multimodal_decode_ogg": q_multimodal_decode_ogg,
    "warc_media_triage": q_warc_media_triage,
    "audio_quality_gate": q_audio_quality_gate,
    "audio_fingerprint_dedup": q_audio_fingerprint_dedup,
    "audio_id3_tags": q_audio_id3_tags,
    "audio_flac_tags": q_audio_flac_tags,
    "audio_chunks": q_audio_chunks,
    "multimodal_decode_video": q_multimodal_decode_video,
    "video_scene_cuts": q_video_scene_cuts,
    "video_keyframe_sample": q_video_keyframe_sample,
    "warc_media_inventory": q_warc_media_inventory,
    "video_caption_align": q_video_caption_align,
    "multimodal_decode_png": q_multimodal_decode_png,
    "multimodal_decode_gif": q_multimodal_decode_gif,
    "multimodal_gif_frames": q_multimodal_gif_frames,
    "multimodal_decode_tiff": q_multimodal_decode_tiff,
    "multimodal_decode_jpeg": q_multimodal_decode_jpeg,
    "multimodal_decode_jpeg_prog": q_multimodal_decode_jpeg_prog,
    "warc_media_decode": q_warc_media_decode,
    "warc_media_tolerant": q_warc_media_tolerant,
    "dedup_cluster": q_dedup_cluster,
    "lsh_neardup": q_lsh_neardup,
    "ivf_neardup": q_ivf_neardup,
    "neardup_recall": q_neardup_recall,
    "mask_1d": q_mask_1d,
    "search_filter": q_search_filter,
}

ORACLES = {
    "hf_ingest_spans": SQL_HF_INGEST_SPANS,
    "filter_overlaps": SQL_FILTER_OVERLAPS,
    "split_sentences": SQL_SPLIT_SENTENCES,
    "strip_annotations": SQL_STRIP_ANNOTATIONS,
    "token_stats": SQL_TOKEN_STATS,
    "split_stats": SQL_SPLIT_STATS,
    "language_id": SQL_LANGUAGE_ID,
    "language_id_ngram": SQL_LANGUAGE_ID_NGRAM,
    "token_counts": SQL_TOKEN_COUNTS,
    "augment_label_sub": SQL_AUGMENT_LABEL_SUB,
    "kb_expansion": SQL_KB_EXPANSION,
    "merge_corrected": SQL_MERGE_CORRECTED,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "multimodal_frames": SQL_MULTIMODAL_FRAMES,
    "multimodal_resize": SQL_MULTIMODAL_RESIZE,
    "multimodal_audio": SQL_MULTIMODAL_AUDIO,
    "multimodal_decode_image": SQL_MULTIMODAL_DECODE_IMAGE,
    "multimodal_decode_audio": SQL_MULTIMODAL_DECODE_AUDIO,
    "multimodal_decode_g711": SQL_MULTIMODAL_DECODE_G711,
    "multimodal_decode_flac": SQL_MULTIMODAL_DECODE_FLAC,
    "multimodal_probe": SQL_MULTIMODAL_PROBE,
    # Ogg-FLAC carries the SAME digest-derived PCM, losslessly, so the
    # FLAC oracle locks the whole page/packet/mapping layer verbatim
    "multimodal_decode_ogg": SQL_MULTIMODAL_DECODE_FLAC,
    "warc_media_triage": SQL_WARC_MEDIA_TRIAGE,
    "audio_quality_gate": SQL_AUDIO_QUALITY_GATE,
    "audio_fingerprint_dedup": SQL_AUDIO_FINGERPRINT_DEDUP,
    "audio_id3_tags": SQL_AUDIO_ID3_TAGS,
    "audio_flac_tags": SQL_AUDIO_FLAC_TAGS,
    "audio_chunks": SQL_AUDIO_CHUNKS,
    "multimodal_decode_video": SQL_MULTIMODAL_DECODE_VIDEO,
    "video_scene_cuts": SQL_VIDEO_SCENE_CUTS,
    "video_keyframe_sample": SQL_VIDEO_KEYFRAME_SAMPLE,
    "warc_media_inventory": SQL_WARC_MEDIA_INVENTORY,
    "video_caption_align": SQL_VIDEO_CAPTION_ALIGN,
    "multimodal_decode_png": SQL_MULTIMODAL_DECODE_PNG,
    "multimodal_decode_gif": SQL_MULTIMODAL_DECODE_GIF,
    "multimodal_gif_frames": SQL_MULTIMODAL_GIF_FRAMES,
    "multimodal_decode_tiff": SQL_MULTIMODAL_DECODE_TIFF,
    "multimodal_decode_jpeg": SQL_MULTIMODAL_DECODE_JPEG,
    # the progressive payloads pin the SAME pixel contract, so the
    # baseline oracle locks the Annex-G scan decode verbatim
    "multimodal_decode_jpeg_prog": SQL_MULTIMODAL_DECODE_JPEG,
    "warc_media_decode": SQL_WARC_MEDIA_DECODE,
    "warc_media_tolerant": SQL_WARC_MEDIA_TOLERANT,
    "dedup_cluster": SQL_DEDUP_CLUSTER,
    "lsh_neardup": SQL_LSH_NEARDUP,
    "ivf_neardup": SQL_IVF_NEARDUP,
    "neardup_recall": SQL_NEARDUP_RECALL,
    "mask_1d": SQL_MASK_1D,
    "search_filter": SQL_SEARCH_FILTER,
}
