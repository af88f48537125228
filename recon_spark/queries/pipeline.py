"""Training-data pipeline query registry: dedup, similarity search,
text analysis, sampling, windowed aggregation, relational joins.

Every hash in result-visible positions is plain integer arithmetic
(recon_spark.operators.dedupe spec) so DuckDB reproduces values exactly;
float aggregates are rounded to 6 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recon_spark.gazetteer import STOPWORDS, sql_mentions_cte
from recon_spark.operators import dedupe as D
from recon_spark.operators import similarity as SIM
from recon_spark.operators import textstats as TS
from recon_spark.operators.dedupe import N_BANDS, N_PERM, P, PERM_A, PERM_B, ROWS_PER_BAND
from recon_spark.operators.extraction import detect_mentions, mentions_long
from recon_spark.operators.sample import KNUTH, MOD, stratified_sample


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # url/doc-id hash bucketing at the read boundary: the test parquet is a
    # single file (1 input split), so per-row-expensive downstream work
    # (shingling, signatures) would otherwise run on one core
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# Streaming-twin staging: FileStreamSource wants a directory of arriving
# files, so each stream query symlinks the batch table into a drop-box.
# The drop-box is created ONCE per (sf_dir, table) and reused (bench.py
# times best-of-3 — an uncached mkdtemp leaked three temp trees per run);
# checkpoints are fresh subdirs per start (re-using a checkpoint would
# replay remembered offsets and drain zero rows), all removed at exit.
_STREAM_STAGING: dict[tuple[str, str], tuple[str, str]] = {}


from contextlib import contextmanager


@contextmanager
def _drain_partitions(spark: SparkSession, n: int):
    """Pin spark.sql.shuffle.partitions for one availableNow drain.

    A stateful streaming operator creates ONE state store per shuffle
    partition, and every micro-batch commits a snapshot+delta per store
    — at test SF that per-store commit overhead dominates the drain
    (measured at sf0.1: the continuous decontamination gate drops
    4.0s → 2.4s going 32 → 4 state partitions; the sessionizer is
    data-bound and keeps 8). The setting is decided at FIRST checkpoint
    creation, and these harnesses mint fresh checkpoints per start, so
    a per-drain pin is safe. On a real cluster the state-partition
    count is sized to state VOLUME (the inverse tradeoff) — this knob
    expresses exactly that decision per deployment. Restores the
    session value on exit; drains run sequentially, never threaded."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _stage_stream(sf_dir: str, table: str, tag: str) -> tuple[str, str]:
    """Returns (source_dir, fresh_checkpoint_dir) for a file-stream twin
    of ``{sf_dir}/{table}.parquet``. sf_dir is abspath'd first — a
    relative symlink target breaks once the stream reads from a
    different cwd."""
    import atexit
    import os
    import shutil
    import tempfile

    key = (os.path.abspath(sf_dir), table)
    if key not in _STREAM_STAGING:
        src_dir = tempfile.mkdtemp(prefix=f"recon_stream_{tag}_src_")
        os.symlink(f"{key[0]}/{table}.parquet", f"{src_dir}/{table}-000.parquet")
        chk_root = tempfile.mkdtemp(prefix=f"recon_stream_{tag}_chk_")
        atexit.register(shutil.rmtree, src_dir, ignore_errors=True)
        atexit.register(shutil.rmtree, chk_root, ignore_errors=True)
        _STREAM_STAGING[key] = (src_dir, chk_root)
    src_dir, chk_root = _STREAM_STAGING[key]
    return src_dir, tempfile.mkdtemp(dir=chk_root)


# decontamination spec shared by the batch + streaming gates and their
# oracles: every 29th doc's tokens [5, 16] seed the synthetic benchmark
_CONTAM_N = 8          # n-gram length
_BENCH_MOD = 29        # every 29th doc seeds the synthetic benchmark
_BENCH_OFF, _BENCH_W = 5, 12  # benchmark text = tokens [5, 16] of the doc


# --- shared oracle fragments -------------------------------------------------

SQL_SHINGLES = f"""
wc_t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
           w -> CAST(ascii(w) * 100000 + ascii(w[2]) * 100 + length(w) AS BIGINT)) AS wc
  FROM documents
),
sh_t AS (
  SELECT doc_id,
         CASE WHEN len(wc) >= 3 THEN
           list_transform(generate_series(1, len(wc) - 2),
             i -> ((wc[i] * 31 + wc[i + 1]) % {P} * 31 + wc[i + 2]) % {P})
         ELSE [] END AS sh
  FROM wc_t
)"""


# production token-hash twin of SQL_SHINGLES: full-token 60-bit md5
# digest mod P instead of the toy wcode (first-2-chars + length) — the
# hash that survives a real crawl vocabulary. Same downstream shingle
# arithmetic; DuckDB's 0x-cast reproduces Spark's conv() bit-exactly.
SQL_SHINGLES_PROD = f"""
wc_t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
           w -> CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % {P}) AS wc
  FROM documents
),
sh_t AS (
  SELECT doc_id,
         CASE WHEN len(wc) >= 3 THEN
           list_transform(generate_series(1, len(wc) - 2),
             i -> ((wc[i] * 31 + wc[i + 1]) % {P} * 31 + wc[i + 2]) % {P})
         ELSE [] END AS sh
  FROM wc_t
)"""


# --------------------------------------------------------------------------
# Dedup family
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedupe over the events.props payload column (documents have
    no exact dups by construction; events do)."""
    ev = _read(spark, sf_dir, "events")
    return D.exact_duplicates(ev, id_col="event_id", text_col="props")


SQL_DEDUP_EXACT = """
SELECT md5(props) AS text_md5, count(*) AS n_dups, min(event_id) AS keep_id
FROM events GROUP BY 1 HAVING count(*) > 1 ORDER BY text_md5
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


SQL_DEDUP_JACCARD = f"""
WITH {SQL_SHINGLES},
e AS (SELECT DISTINCT doc_id, unnest(sh) AS h FROM sh_t),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM e GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
  FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.5
ORDER BY id_a, id_b
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_candidates(_docs(spark, sf_dir))


def _sql_minhash() -> str:
    mins = ", ".join(
        f"list_min(list_transform(sh, h -> ({a} * h + {b}) % {P}))"
        for a, b in zip(PERM_A, PERM_B)
    )
    bands = ", ".join(
        "concat_ws('-', "
        + ", ".join(f"mh[{b * ROWS_PER_BAND + r + 1}]" for r in range(ROWS_PER_BAND))
        + f") AS band{b}"
        for b in range(N_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS sig FROM mh_bands" for b in range(N_BANDS)
    )
    return f"""
mh_t AS (
  SELECT doc_id, [{mins}] AS mh FROM sh_t WHERE len(sh) > 0
),
mh_bands AS (SELECT doc_id, mh[1] IS NOT NULL AS _ok, {bands} FROM mh_t),
bands_long AS ({band_rows})
"""


SQL_DEDUP_MINHASH_LSH = f"""
WITH {SQL_SHINGLES},
{_sql_minhash()}
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands_long a
JOIN bands_long b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


SQL_DEDUP_MINHASH_PRODUCTION = f"""
WITH {SQL_SHINGLES_PROD},
{_sql_minhash()}
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands_long a
JOIN bands_long b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


def q_dedup_minhash_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates under the PRODUCTION token hash (full-token
    md5-60bit) — the mode a real crawl runs; same plan as
    dedup_minhash_lsh, only the per-token code expression differs."""
    return D.minhash_lsh_candidates(_docs(spark, sf_dir), hash_mode="production")


def q_simhash_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash32(_docs(spark, sf_dir), hash_mode="production").orderBy("id")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash32(_docs(spark, sf_dir)).orderBy("id")


def _sql_simhash_bits() -> str:
    terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (g // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(32)
    )
    return terms


SQL_SIMHASH = f"""
WITH {SQL_SHINGLES},
g_t AS (
  SELECT doc_id, unnest(list_transform(sh, h -> (h * 2654435761) % 4294967296)) AS g
  FROM sh_t
)
SELECT doc_id AS id, {_sql_simhash_bits()} AS simhash
FROM g_t GROUP BY doc_id ORDER BY id
"""


SQL_SIMHASH_PRODUCTION = f"""
WITH {SQL_SHINGLES_PROD},
g_t AS (
  SELECT doc_id, unnest(list_transform(sh, h -> (h * 2654435761) % 4294967296)) AS g
  FROM sh_t
)
SELECT doc_id AS id, {_sql_simhash_bits()} AS simhash
FROM g_t GROUP BY doc_id ORDER BY id
"""


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_neardup_pairs(_docs(spark, sf_dir), max_dist=3)


SQL_SIMHASH_NEARDUP = f"""
WITH {SQL_SHINGLES},
g_t AS (
  SELECT doc_id, unnest(list_transform(sh, h -> (h * 2654435761) % 4294967296)) AS g
  FROM sh_t
),
sig AS (SELECT doc_id AS id, {_sql_simhash_bits()} AS simhash FROM g_t GROUP BY doc_id)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# Similarity search family
# --------------------------------------------------------------------------

def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return SIM.cosine_topk(emb, queries, k=10)


SQL_ANN_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id % 50 = 0),
v AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, nv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))) AS cos_raw
  FROM q, v WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id)
           AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.cosine_neardup_pairs(_read(spark, sf_dir, "embeddings"), threshold=0.45)


SQL_EMBEDDING_NEARDUP = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
         AS cos
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.45
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# Text analysis family
# --------------------------------------------------------------------------

def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.text_metrics(_docs(spark, sf_dir))


_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)

SQL_TEXT_METRICS = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws, length(text) AS nc FROM documents)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(nc AS BIGINT) AS n_chars_text,
       round(list_sum(list_transform(ws, w -> length(w))) / CAST(len(ws) AS DOUBLE), 6)
         AS avg_token_len,
       round(len(list_filter(ws, w -> w IN ({_STOP_IN}))) / CAST(len(ws) AS DOUBLE), 6)
         AS stopword_ratio,
       round(least(1.0, len(ws) / 100.0)
             * (1.0 - len(list_filter(ws, w -> w IN ({_STOP_IN}))) / CAST(len(ws) AS DOUBLE)), 6)
         AS quality_score
FROM t ORDER BY doc_id
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.fingerprint(_docs(spark, sf_dir))


SQL_FINGERPRINT = f"""
WITH wc_t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
           w -> CAST(ascii(w) * 100000 + ascii(w[2]) * 100 + length(w) AS BIGINT)) AS wc
  FROM documents
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), wc), (a, c) -> (a * 31 + c) % {P})
         AS fingerprint
FROM wc_t ORDER BY doc_id
"""


def q_lang_mention_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.extraction import detect_mentions_long

    docs = _docs(spark, sf_dir)
    return TS.lang_mention_stats(docs, detect_mentions_long(docs))


SQL_LANG_MENTION_STATS = f"""
WITH {sql_mentions_cte()},
d AS (SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY lang),
m AS (SELECT lang, count(*) AS n_mentions
      FROM mentions JOIN documents USING (doc_id) GROUP BY lang)
SELECT lang, n_docs, total_chars, coalesce(n_mentions, 0) AS n_mentions,
       round(coalesce(n_mentions, 0) / CAST(n_docs AS DOUBLE), 6) AS mentions_per_doc
FROM d LEFT JOIN m USING (lang) ORDER BY lang
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = stratified_sample(_docs(spark, sf_dir), "lang", 5)
    return out.select("doc_id", "lang").orderBy("lang", "doc_id")


SQL_STRATIFIED_SAMPLE = f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY (doc_id * {KNUTH}) % {MOD}, doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rk <= 5 ORDER BY lang, doc_id
"""


# --------------------------------------------------------------------------
# Windowed aggregation + sessionization (events)
# --------------------------------------------------------------------------

def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parquet timestamps load as TIMESTAMP_NTZ; exact integer millisecond
    # arithmetic on both engines (float epoch() rounds at boundaries)
    ev = _read(spark, sf_dir, "events").withColumn(
        "ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    return (
        ev.groupBy(
            F.expr("ms div 3600000").alias("hour_bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy("hour_bucket", "event_type")
    )


SQL_EVENTS_HOURLY = """
SELECT CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour_bucket, event_type,
       count(*) AS n, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type
"""


def q_stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of events_hourly: Structured Streaming
    tumbling-window aggregation (recon_spark/streaming.py) drained with
    an availableNow trigger into a memory sink, then returned as a
    batch DataFrame. Must match the batch oracle exactly — the
    driver-verifiable statement that the streaming pipeline computes
    the same answer as the batch one. Complete output mode because the
    sink is the final aggregate (watermarked append would withhold the
    last windows of a finite drain)."""
    import uuid

    from recon_spark.streaming import stream_events_hourly

    src_dir, chk = _stage_stream(sf_dir, "events", "hourly")
    sdf = stream_events_hourly(spark, src_dir)
    agg = sdf.select(
        (F.unix_millis(F.col("window_start")) / 3_600_000)
        .cast("bigint")
        .alias("hour_bucket"),
        "event_type",
        "n",
        "sum_value",
    )
    name = "stream_events_hourly_" + uuid.uuid4().hex[:8]
    with _drain_partitions(spark, 8):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", chk)
            .start()
        )
        q.awaitTermination()
        return spark.table(name).orderBy("hour_bucket", "event_type")


SQL_STREAM_EVENTS_HOURLY = SQL_EVENTS_HOURLY


def q_stream_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the decontamination gate: the documents table
    arrives as a stream, the benchmark digest set is static+broadcast,
    and the availableNow drain must reproduce the batch oracle's
    per-doc distinct-hit counts exactly."""
    import uuid

    from recon_spark.streaming import stream_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % _BENCH_MOD == 0).select(
        "doc_id",
        F.array_join(
            F.slice(F.split("text", " "), _BENCH_OFF, _BENCH_W), " "
        ).alias("text"),
    )
    src_dir, chk = _stage_stream(sf_dir, "documents", "contam")
    sdf = stream_contamination(spark, src_dir, bench, n=_CONTAM_N)
    name = "stream_contamination_" + uuid.uuid4().hex[:8]
    with _drain_partitions(spark, 8):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", chk)
            .start()
        )
        q.awaitTermination()
        return spark.table(name).orderBy("doc_id")


# Continuous-gate staging: documents (+ deterministic ingest_ts) as
# micro-batch file 0, a watermark-advancing sentinel (too short to emit
# any n-gram, ingest 90 days later) as file 1 with a later mtime —
# the stream_user_sessions_continuous test protocol. Cached per sf_dir;
# checkpoints fresh per start; all removed at exit.
_CONTIN_STAGING: dict[str, tuple[str, str]] = {}

_INGEST_EPOCH = 1_767_225_600  # 2026-01-01T00:00:00Z, hour-aligned


def _stage_contam_continuous(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import atexit
    import os
    import shutil
    import tempfile
    import time

    key = os.path.abspath(sf_dir)
    if key not in _CONTIN_STAGING:
        src_dir = tempfile.mkdtemp(prefix="recon_stream_contc_src_")
        chk_root = tempfile.mkdtemp(prefix="recon_stream_contc_chk_")
        atexit.register(shutil.rmtree, src_dir, ignore_errors=True)
        atexit.register(shutil.rmtree, chk_root, ignore_errors=True)
        docs = spark.read.parquet(f"{key}/documents.parquet").withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(_INGEST_EPOCH) + F.col("doc_id")),
        )
        sentinel = spark.createDataFrame(
            [(10**9, "zz", "en", "sentinel", 2)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(_INGEST_EPOCH + 90 * 86400)),
        )
        for i, df in enumerate((docs, sentinel)):
            stage = tempfile.mkdtemp(prefix="recon_stream_contc_stage_")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
            dst = f"{src_dir}/batch-{i}.parquet"
            os.rename(f"{stage}/{part}", dst)
            os.utime(dst, (time.time() + i, time.time() + i))
            shutil.rmtree(stage, ignore_errors=True)
        _CONTIN_STAGING[key] = (src_dir, chk_root)
    src_dir, chk_root = _CONTIN_STAGING[key]
    return src_dir, tempfile.mkdtemp(dir=chk_root)


def q_stream_contamination_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNBOUNDED-deployment decontamination gate: watermarked ingest
    time, dropDuplicatesWithinWatermark dedup state, append-mode
    (window, doc) hit counts — state bounded by the watermark horizon,
    not stream lifetime (streaming.stream_contamination_continuous).
    A two-file drain (documents, then a watermark-advancing sentinel)
    must reproduce the batch oracle exactly, with every window sealed."""
    import uuid

    from recon_spark.streaming import stream_contamination_continuous

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % _BENCH_MOD == 0).select(
        "doc_id",
        F.array_join(
            F.slice(F.split("text", " "), _BENCH_OFF, _BENCH_W), " "
        ).alias("text"),
    )
    src_dir, chk = _stage_contam_continuous(spark, sf_dir)
    sdf = stream_contamination_continuous(spark, src_dir, bench, n=_CONTAM_N)
    name = "stream_contam_cont_" + uuid.uuid4().hex[:8]
    with _drain_partitions(spark, 4):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("maxFilesPerTrigger", 1)
            .trigger(availableNow=True)
            .option("checkpointLocation", chk)
            .start()
        )
        q.awaitTermination()
        return spark.table(name).orderBy("doc_id")


SQL_STREAM_CONTAMINATION = f"""
WITH bt AS (
  SELECT doc_id,
         string_split(text, ' ')[{_BENCH_OFF}:{_BENCH_OFF + _BENCH_W - 1}] AS toks
  FROM documents WHERE doc_id % {_BENCH_MOD} = 0
),
bg AS (
  SELECT DISTINCT md5(array_to_string(toks[i:i+{_CONTAM_N - 1}], ' ')) AS g
  FROM bt, LATERAL unnest(generate_series(1, greatest(len(toks) - {_CONTAM_N - 1}, 0))) AS t(i)
),
ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
cg AS (
  SELECT doc_id, md5(array_to_string(toks[i:i+{_CONTAM_N - 1}], ' ')) AS g
  FROM ct, LATERAL unnest(generate_series(1, greatest(len(toks) - {_CONTAM_N - 1}, 0))) AS t(i)
)
SELECT c.doc_id, CAST(count(DISTINCT c.g) AS BIGINT) AS n_distinct_hits
FROM cg c JOIN bg ON c.g = bg.g
GROUP BY 1 ORDER BY 1
"""


# the continuous gate adds the sealed ingest-hour window; ingest_ts is
# the deterministic epoch + doc_id seconds the staging synthesizes
SQL_STREAM_CONTAMINATION_CONTINUOUS = (
    SQL_STREAM_CONTAMINATION.rsplit("SELECT", 1)[0]
    + f"""SELECT ({_INGEST_EPOCH} + c.doc_id) // 3600 * 3600 AS window_start_s,
       c.doc_id, CAST(count(DISTINCT c.g) AS BIGINT) AS n_distinct_hits
FROM cg c JOIN bg ON c.g = bg.g
GROUP BY 1, 2 ORDER BY 2
"""
)


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a new session starts after a >30-min gap per user.
    Output per user: n_sessions, n_events, longest session (events)."""
    ev = _read(spark, sf_dir, "events").withColumn(
        "ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        (F.col("ms") - F.lag("ms", 1).over(w) > 1_800_000)
        .cast("int"),
    ).withColumn("new_sess", F.coalesce("new_sess", F.lit(1)))
    sess = flagged.withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("len").alias("n_events"),
            F.max("len").alias("longest_session"),
        )
        .orderBy("user_id")
    )


SQL_EVENTS_SESSIONS = """
WITH e AS (
  SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events
),
flagged AS (
  SELECT user_id, event_id, ms,
         CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
                   > 1800000
              THEN 1
              WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
              THEN 1
              ELSE 0 END AS new_sess
  FROM e
),
sess AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
per_sess AS (
  SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS len
  FROM sess GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions, CAST(sum(len) AS BIGINT) AS n_events,
       max(len) AS longest_session
FROM per_sess GROUP BY user_id ORDER BY user_id
"""


# --------------------------------------------------------------------------
# Relational joins (broadcast dims + top-k)
# --------------------------------------------------------------------------

def q_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    rev = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("rev_raw"), F.count(F.lit(1)).alias("n_orders")
    )
    return (
        rev.join(F.broadcast(customer), rev.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.round("rev_raw", 4).alias("revenue"),
            "n_orders",
        )
        .orderBy(F.desc("rev_raw"), "c_custkey")
        .limit(10)
    )


SQL_REVENUE_TOPK = """
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice) AS rev_raw, count(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, n_name AS nation, round(rev_raw, 4) AS revenue, n_orders
FROM rev
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY rev_raw DESC, c_custkey LIMIT 10
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2025-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2025-09-01 00:00:00'
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# clean_corpus — the composed C4-style cleaning decision
# --------------------------------------------------------------------------

_CLEAN_MIN_TOKENS = 20
_CLEAN_MIN_STOPWORD = 0.01


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data cleaning decision, per doc with a
    first-match-wins reason — short -> lang -> near_dup -> keep —
    composing text metrics, language evidence, and MinHash-LSH
    near-dup clustering (non-representative component members drop).
    Output is the (reason, n_docs) summary; at scale the same plan
    materializes the kept corpus instead of counting."""
    from recon_spark.operators.dedupe import (
        connected_components,
        minhash_lsh_candidates,
    )

    docs = _docs(spark, sf_dir)
    m = TS.text_metrics(docs)
    comps = connected_components(minhash_lsh_candidates(docs))
    losers = (
        comps.where(F.col("id") != F.col("component"))
        .select(F.col("id").alias("doc_id"))
        .withColumn("is_loser", F.lit(True))
    )
    j = m.join(losers, "doc_id", "left")
    reason = (
        F.when(F.col("n_tokens") < _CLEAN_MIN_TOKENS, "short")
        .when(F.col("stopword_ratio") < _CLEAN_MIN_STOPWORD, "lang")
        .when(F.col("is_loser"), "near_dup")
        .otherwise("keep")
    )
    return (
        j.groupBy(reason.alias("reason"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("reason")
    )


def _sql_clean_corpus() -> str:
    from recon_spark.queries.extra import _sql_components_cte, _sql_minhash_pairs_cte

    return f"""
WITH RECURSIVE {_sql_minhash_pairs_cte()},
{_sql_components_cte()},
losers AS (SELECT id AS doc_id FROM comp WHERE id <> component),
t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
dec AS (
  SELECT t.doc_id,
         CASE WHEN len(ws) < {_CLEAN_MIN_TOKENS} THEN 'short'
              -- round(...,6) mirrors the Spark side exactly: the reason
              -- compares text_metrics' ROUNDED stopword_ratio, so the
              -- oracle must threshold the rounded value too
              WHEN round(len(list_filter(ws, w -> w IN ({_STOP_IN})))
                   / CAST(len(ws) AS DOUBLE), 6) < {_CLEAN_MIN_STOPWORD} THEN 'lang'
              WHEN l.doc_id IS NOT NULL THEN 'near_dup'
              ELSE 'keep' END AS reason
  FROM t LEFT JOIN losers l USING (doc_id)
)
SELECT reason, CAST(count(*) AS BIGINT) AS n_docs
FROM dec GROUP BY reason ORDER BY reason
"""


SQL_CLEAN_CORPUS = _sql_clean_corpus()


def q_stream_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful-streaming twin of events_sessions: per-user
    sessionization as an applyInPandasWithState operator
    (recon_spark/streaming.py:stream_user_sessions) drained with
    availableNow into a memory sink. Must match the batch window-based
    sessionization oracle exactly."""
    import uuid

    from recon_spark.streaming import stream_user_sessions

    src_dir, chk = _stage_stream(sf_dir, "events", "sess")
    sdf = stream_user_sessions(spark, src_dir)
    name = "stream_events_sessions_" + uuid.uuid4().hex[:8]
    with _drain_partitions(spark, 8):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", chk)
            .start()
        )
        q.awaitTermination()
        return spark.table(name).orderBy("user_id")


SQL_STREAM_EVENTS_SESSIONS = SQL_EVENTS_SESSIONS


_SESS_GAP_MS = 1_800_000
_SESS_WM_MS = 7_200_000  # "2 hours" watermark delay


def q_stream_sessions_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EventTimeTimeout continuous sessionizer drained over the
    events table: emits each CLOSED session (per-session rows, not
    per-user summaries) exactly once, a session being closed when the
    final watermark (max event time - 2h) passes its end + gap. For a
    single-batch drain that sealed set is closed-form, so this stateful
    streaming operator gets a FULL DuckDB oracle: batch gap-split
    sessionization filtered to end + gap <= max(ts) - delay."""
    import uuid

    from recon_spark.streaming import stream_user_sessions_continuous

    src_dir, chk = _stage_stream(sf_dir, "events", "sesscont")
    # bucketed mode (r5): 32 fat state keys instead of ~5k per-user
    # groups — same emitted rows (tests assert bit-equality between
    # modes), ~30% faster drain (2.6-2.8s -> 1.8-2.1s at sf0.1); see
    # stream_user_sessions_continuous's user_buckets note for the
    # per-key-parallelism trade
    sdf = stream_user_sessions_continuous(
        spark, src_dir, gap_ms=_SESS_GAP_MS, watermark="2 hours",
        user_buckets=32,
    )
    name = "stream_sessions_cont_" + uuid.uuid4().hex[:8]
    with _drain_partitions(spark, 8):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", chk)
            .start()
        )
        q.awaitTermination()
        return spark.table(name).orderBy("user_id", "session_start_ms")


SQL_STREAM_SESSIONS_CONTINUOUS = f"""
WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id FROM events),
o AS (
  SELECT user_id, ms, event_id,
         CASE WHEN ms - lag(ms) OVER w > {_SESS_GAP_MS} THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
),
s AS (
  SELECT user_id, ms,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
g AS (
  SELECT user_id, sid, min(ms) AS session_start_ms, max(ms) AS session_end_ms,
         CAST(count(*) AS BIGINT) AS n_events
  FROM s GROUP BY 1, 2
),
wm AS (SELECT max(epoch_ms(ts)) - {_SESS_WM_MS} AS w FROM events)
SELECT user_id, session_start_ms, session_end_ms, n_events
FROM g, wm WHERE session_end_ms + {_SESS_GAP_MS} <= w
ORDER BY user_id, session_start_ms
"""




def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the user's most
    recent click at or before it (operators/joins.py:asof_join — one
    window shuffle, zero Python). The right side is deduped to one row
    per (user, ts), keeping the max event_id, so the match is
    deterministic; the DuckDB oracle uses the engine's NATIVE ASOF
    JOIN — an independent merge-based implementation of the same
    semantics."""
    from pyspark.sql import Window as W

    from recon_spark.operators.joins import asof_join

    ev = _read(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
            ),
        )
        .where("rn = 1")
        .select("user_id", "ts", "event_id", "value")
    )
    purchases = ev.where(F.col("event_type") == 'purchase').select(
        "event_id", "user_id", "ts", "value"
    )
    j = asof_join(purchases, clicks, on="ts", by="user_id",
                  right_cols=("value", "event_id"))
    # driver-comparison outputs are null-free by convention: unmatched
    # left rows carry matched=false + sentinel values on BOTH engines
    return j.select(
        "event_id", "user_id", "ts", "value",
        F.col("asof_ts").isNotNull().alias("matched"),
        F.coalesce("asof_value", F.lit(-1.0)).alias("asof_value"),
        F.coalesce("asof_event_id", F.lit(-1)).alias("asof_event_id"),
        F.coalesce(
            F.round(
                F.expr("timestampdiff(MICROSECOND, asof_ts, ts)") / F.lit(1000000.0), 6
            ),
            F.lit(-1.0),
        ).alias("staleness_sec"),
    ).orderBy("event_id")


SQL_EVENTS_ASOF = """
WITH r AS (
  SELECT user_id, ts, event_id, value FROM (
    SELECT user_id, ts, event_id, value,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click') WHERE rn = 1
),
l AS (SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase')
SELECT l.event_id, l.user_id, l.ts, l.value,
       r.ts IS NOT NULL AS matched,
       coalesce(r.value, -1.0) AS asof_value,
       coalesce(r.event_id, -1) AS asof_event_id,
       coalesce(round(date_diff('microsecond', r.ts, l.ts) / 1000000.0, 6),
                -1.0) AS staleness_sec
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf
    (operators/textstats.py:tfidf_top_terms)."""
    return TS.tfidf_top_terms(_docs(spark, sf_dir), k=3)


SQL_TFIDF_TERMS = """
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
s AS (
  SELECT doc_id, term,
         round(tf * ln((SELECT n FROM nn) / CAST(df AS DOUBLE)), 6) AS score
  FROM tf JOIN dfq USING (term)
),
r AS (
  SELECT doc_id, term, score,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term) AS INT) AS rank
  FROM s
)
SELECT doc_id, term, score, rank FROM r WHERE rank <= 3
ORDER BY doc_id, rank
"""




def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via the bucketed equi-join rewrite
    (operators/joins.py:interval_join): purchases matched to concurrent
    "incident windows" (error events with value > 300, lasting
    floor(value) minutes) with NO equi key — the case where a naive
    range predicate degenerates to a nested-loop cartesian scan. The
    oracle runs the plain inequality join, which DuckDB executes with
    its native range-join machinery: two different algorithms, same
    pairs."""
    from recon_spark.operators.joins import interval_join

    ev = _read(spark, sf_dir, "events")
    us = "timestampdiff(MICROSECOND, CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ), ts)"
    incidents = (
        ev.where((F.col("event_type") == "error") & (F.col("value") > 300))
        .select(
            F.col("event_id").alias("incident_id"),
            F.expr(us).alias("s_us"),
            (F.expr(us) + F.expr("CAST(floor(value) AS BIGINT)") * 60 * 1000000).alias(
                "e_us"
            ),
        )
    )
    points = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.expr(us).alias("p_us")
    )
    j = interval_join(
        points, incidents, point_col="p_us", start_col="s_us", end_col="e_us",
        bucket=3600 * 1000000,  # 1h cells ~ incident length / 5
    )
    return j.select(
        "event_id",
        "incident_id",
        F.expr("(p_us - s_us) DIV 1000000").alias("secs_into"),
    ).orderBy("event_id", "incident_id")


SQL_EVENTS_RANGE_JOIN = """
WITH ep AS (
  SELECT event_id, event_type, value,
         date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS us
  FROM events
),
i AS (
  SELECT event_id AS incident_id, us AS s_us,
         us + CAST(floor(value) AS BIGINT) * 60 * 1000000 AS e_us
  FROM ep WHERE event_type = 'error' AND value > 300
),
p AS (SELECT event_id, us AS p_us FROM ep WHERE event_type = 'purchase')
SELECT p.event_id, i.incident_id, (p_us - s_us) // 1000000 AS secs_into
FROM p JOIN i ON p_us BETWEEN s_us AND e_us
ORDER BY event_id, incident_id
"""


def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k cardinality estimate of distinct event keys
    (operators/sketches.py) with the exact count as quality witness."""
    from recon_spark.operators.sketches import kmv_distinct

    return kmv_distinct(_read(spark, sf_dir, "events"), "event_id", k=64)


def _sql_distinct_sketch() -> str:
    from recon_spark.operators.sketches import sql_kmv_distinct

    return sql_kmv_distinct("events", "event_id", k=64)


SQL_DISTINCT_SKETCH = _sql_distinct_sketch()


# --------------------------------------------------------------------------
# length_quantiles — per-language length distribution (exact oracle twin
# of the percentile_approx sketch path)
# --------------------------------------------------------------------------

def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.textstats import length_quantiles

    return length_quantiles(_docs(spark, sf_dir), approx=False)


SQL_LENGTH_QUANTILES = """
SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_docs,
       round(quantile_cont(n_chars, 0.25), 6) AS p25,
       round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.75), 6) AS p75,
       round(quantile_cont(n_chars, 0.95), 6) AS p95
FROM documents GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# source_quality — per-source (per-domain) curation profile
# --------------------------------------------------------------------------

def q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.textstats import source_quality

    return source_quality(_docs(spark, sf_dir))


SQL_SOURCE_QUALITY = """
WITH t AS (
  SELECT source, n_chars, lang,
         len(list_distinct(string_split(text, ' ')))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_chars), 6) AS avg_chars,
       round(avg(CASE WHEN n_chars < 200 THEN 1.0 ELSE 0.0 END), 6) AS short_frac,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       round(avg(ttr), 6) AS avg_ttr
FROM t GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# dedup_incremental — new-batch vs existing-corpus near-dup gate
# --------------------------------------------------------------------------

def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest: docs with doc_id % 5 == 0 arrive as the new
    batch, the rest are the already-ingested corpus; each new doc is
    flagged if it shares a MinHash band with any old doc."""
    docs = _docs(spark, sf_dir)
    new = docs.where(F.col("doc_id") % 5 == 0)
    old = docs.where(F.col("doc_id") % 5 != 0)
    return D.incremental_neardup(new, old)


SQL_DEDUP_INCREMENTAL = f"""
WITH {SQL_SHINGLES},
{_sql_minhash()},
old_b AS (SELECT DISTINCT band, sig FROM bands_long WHERE doc_id % 5 <> 0),
new_b AS (SELECT * FROM bands_long WHERE doc_id % 5 = 0),
hits AS (
  SELECT DISTINCT n.doc_id FROM new_b n
  JOIN old_b o ON n.band = o.band AND n.sig = o.sig
)
SELECT i.doc_id AS id, (h.doc_id IS NOT NULL) AS is_dup
FROM (SELECT DISTINCT doc_id FROM new_b) i
LEFT JOIN hits h ON i.doc_id = h.doc_id
ORDER BY id
"""


# --------------------------------------------------------------------------
# corpus_rollup — hierarchical (lang, source) totals via ROLLUP
# --------------------------------------------------------------------------

def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical corpus totals in ONE pass: per (lang, source), per
    lang, and grand total, via ROLLUP grouping sets — the dashboard
    aggregation a curation team reads first. Spark expands grouping
    sets inside a single hash aggregate (one shuffle, map-side
    combine on the expanded keys); null grouping slots are rewritten
    to 'ALL' sentinels so the output is join- and sort-stable."""
    docs = _docs(spark, sf_dir)
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "avg_chars",
        )
        .orderBy("lang", "source")
    )


SQL_CORPUS_ROLLUP = """
SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
       CAST(count(*) AS BIGINT) AS n_docs, round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY ROLLUP(lang, source) ORDER BY lang, source
"""


# --------------------------------------------------------------------------
# segment_dedup — C4-style global keep-first segment dedup
# --------------------------------------------------------------------------

_SEG_DELIM = " the "


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level (here: ' the '-delimited segment) global dedup with
    keep-first semantics and per-document text rebuild; the kept-text
    md5 pins the rebuilt bytes against the oracle."""
    from recon_spark.operators.dedupe import segment_dedup

    return segment_dedup(_docs(spark, sf_dir), delimiter=_SEG_DELIM)


SQL_SEGMENT_DEDUP = f"""
WITH segs AS (
  SELECT doc_id,
         unnest(string_split(text, '{_SEG_DELIM}')) AS seg,
         unnest(generate_series(1, len(string_split(text, '{_SEG_DELIM}')))) - 1 AS pos
  FROM documents
),
ranked AS (
  SELECT doc_id, pos, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rk
  FROM segs
),
k AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(seg, '{_SEG_DELIM}' ORDER BY pos) AS new_text
  FROM ranked WHERE rk = 1 GROUP BY doc_id
),
t AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs FROM segs GROUP BY doc_id)
SELECT t.doc_id AS id, t.n_segs,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       md5(coalesce(k.new_text, '')) AS new_md5,
       CAST(length(coalesce(k.new_text, '')) AS INT) AS new_len
FROM t LEFT JOIN k USING (doc_id) ORDER BY id
"""


# --------------------------------------------------------------------------
# doc_chunks — context-window chunking (map-only, zero shuffle)
# --------------------------------------------------------------------------

_CHUNK, _STRIDE = 64, 48


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.textstats import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), chunk_size=_CHUNK, stride=_STRIDE
    )


_PACK_CAP = 128
_PACK_SHARDS = 64


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (textstats.pack_sequences): short docs greedily
    concatenated into capacity-128 training sequences, 64 independent
    shards, deterministic doc_id order. The oracle replays the exact
    greedy recurrence with DuckDB's WITH RECURSIVE — an independent
    sequential-fixpoint engine checking the distributed applyInPandas
    packing byte-for-byte."""
    from recon_spark.operators.textstats import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), capacity=_PACK_CAP, n_shards=_PACK_SHARDS
    ).orderBy("doc_id")


def _sql_pack_base() -> str:
    return f"""
d AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         row_number() OVER (
           PARTITION BY doc_id % {_PACK_SHARDS} ORDER BY doc_id
         ) AS rn
  FROM documents
),
p AS (
  SELECT shard, rn, doc_id, n_toks,
         CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS start_tok,
         n_toks AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.n_toks,
         CASE WHEN p.fill + d.n_toks <= {_PACK_CAP}
              THEN p.seq_id ELSE p.seq_id + 1 END,
         CASE WHEN p.fill + d.n_toks <= {_PACK_CAP}
              THEN p.fill ELSE CAST(0 AS BIGINT) END,
         CASE WHEN p.fill + d.n_toks <= {_PACK_CAP}
              THEN p.fill + d.n_toks ELSE d.n_toks END
  FROM p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
)"""


SQL_SEQ_PACKING = f"""
WITH RECURSIVE {_sql_pack_base()}
SELECT doc_id, shard, seq_id, start_tok, n_toks
FROM p ORDER BY doc_id
"""


def q_seq_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing efficiency rollup per shard: sequences formed, docs
    packed, token fill ratio vs capacity — the number a training team
    reads to size capacity (waste = 1 - fill_ratio)."""
    from recon_spark.operators.textstats import pack_sequences

    packed = pack_sequences(
        _docs(spark, sf_dir), capacity=_PACK_CAP, n_shards=_PACK_SHARDS
    )
    return (
        packed.groupBy("shard")
        .agg(
            F.countDistinct("seq_id").alias("n_seqs"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("sum_toks"),
        )
        .select(
            "shard",
            "n_seqs",
            "n_docs",
            "sum_toks",
            F.round(F.col("sum_toks") / (F.col("n_seqs") * _PACK_CAP), 6).alias(
                "fill_ratio"
            ),
        )
        .orderBy("shard")
    )


SQL_SEQ_PACKING_STATS = f"""
WITH RECURSIVE {_sql_pack_base()}
SELECT shard, count(DISTINCT seq_id) AS n_seqs, count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS sum_toks,
       round(CAST(sum(n_toks) AS DOUBLE) / (count(DISTINCT seq_id) * {_PACK_CAP}), 6)
         AS fill_ratio
FROM p GROUP BY shard ORDER BY shard
"""


def q_seq_packing_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed sequences MATERIALIZED: join assignments back to the
    text, order docs by their in-sequence offset, concatenate — the
    actual training-shard payload, pinned by md5. Everything after the
    applyInPandas assignment is JVM-side (sort_array over structs +
    array_join), so the text bytes never cross into Python."""
    from recon_spark.operators.textstats import pack_sequences

    docs = _docs(spark, sf_dir)
    packed = pack_sequences(docs, capacity=_PACK_CAP, n_shards=_PACK_SHARDS)
    joined = packed.join(docs.select("doc_id", "text"), "doc_id")
    return (
        joined.groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("seq_toks"),
            F.md5(
                F.encode(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("start_tok", "text"))
                            ),
                            lambda x: x["text"],
                        ),
                        " ",
                    ),
                    "utf-8",
                )
            ).alias("seq_md5"),
        )
        .orderBy("shard", "seq_id")
    )


def _sql_seq_packing_text() -> str:
    return f"""
WITH RECURSIVE {_sql_pack_base()}
SELECT p.shard, p.seq_id, count(*) AS n_docs,
       CAST(sum(p.n_toks) AS BIGINT) AS seq_toks,
       md5(string_agg(d2.text, ' ' ORDER BY p.start_tok)) AS seq_md5
FROM p JOIN documents d2 ON p.doc_id = d2.doc_id
GROUP BY p.shard, p.seq_id ORDER BY p.shard, p.seq_id
"""


# --------------------------------------------------------------------------
# schema.org JSON-LD extraction (pages.extract_jsonld) — the Web Data
# Commons pipeline over Common Crawl. Fixture pages are CONSTRUCTED
# around known blocks (product card on every page, breadcrumb block on
# every 5th, malformed block on every 7th — with quoting/tag-case
# variants), so the oracle never replays the regex: it emits exactly
# the blocks it embedded, parsed with DuckDB's own JSON engine.
# --------------------------------------------------------------------------

_JSONLD_N = 400


def q_jsonld_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded schema.org JSON-LD -> flattened (subj, pred, obj)
    triples per block, malformed blocks surfaced as bad_block rows.
    The Spark side builds the page HTML and runs the full extractor
    (regex + from_json flattening); the oracle constructs the same
    blocks directly and parses them with DuckDB's JSON engine — an
    independent parser checking stringification byte-for-byte
    (9.99 -> '9.99', nested objects keep raw JSON text)."""
    from recon_spark.pages import extract_jsonld

    d = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < _JSONLD_N)
        .select(
            "doc_id",
            F.substring(F.md5(F.encode("text", "utf-8")), 1, 10).alias("tok"),
        )
    )
    typ = F.element_at(
        F.array(F.lit("Product"), F.lit("Person"), F.lit("Article")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    js1 = F.concat(
        F.lit('{"@id":"https://ex.org/item/'), F.col("doc_id"),
        F.lit('","@type":"'), typ,
        F.lit('","name":"'), F.col("tok"),
        F.lit('","price":'), (F.col("doc_id") % 97).cast("string"),
        F.lit('.99,"brand":{"n":"acme"}}'),
    )
    js2 = F.concat(
        F.lit('{"@type":"BreadcrumbList","name":"crumbs '),
        F.col("tok"), F.lit('"}'),
    )
    html = F.concat(
        F.lit('<html><head><script type="application/ld+json">'),
        js1,
        F.lit("</script></head><body>"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("<SCRIPT type='application/ld+json'>"),
                js2, F.lit("</SCRIPT>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit('<script type="application/ld+json">{oops</script>'),
        ).otherwise(F.lit("")),
        F.lit("<p>x</p></body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://ex.org/p/"), F.col("doc_id")).alias("url"),
        html.alias("html_str"),
    )
    return extract_jsonld(pages).orderBy("url", "block_id", "pred")


SQL_JSONLD_EXTRACT = f"""
WITH d AS (
  SELECT doc_id, substr(md5(text), 1, 10) AS tok,
         'https://ex.org/p/' || doc_id AS url,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'Product'
              WHEN 1 THEN 'Person' ELSE 'Article' END AS typ
  FROM documents WHERE doc_id < {_JSONLD_N}
),
built AS (
  SELECT url, doc_id,
         '{{"@id":"https://ex.org/item/' || doc_id || '","@type":"' || typ
           || '","name":"' || tok || '","price":' || (doc_id % 97)
           || '.99,"brand":{{"n":"acme"}}}}' AS js1,
         '{{"@type":"BreadcrumbList","name":"crumbs ' || tok || '"}}' AS js2
  FROM d
),
blocks AS (
  SELECT url, 0 AS block_id, js1 AS raw FROM built
  UNION ALL
  SELECT url, 1, js2 FROM built WHERE doc_id % 5 = 0
  UNION ALL
  SELECT url, CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END, '{{oops'
  FROM built WHERE doc_id % 7 = 0
),
flagged AS (
  SELECT url, block_id, raw,
         CASE WHEN json_valid(raw)
              THEN json_type(raw::JSON) = 'OBJECT' ELSE false END AS ok
  FROM blocks
),
kv AS (
  SELECT url, block_id, raw AS js, unnest(json_keys(raw)) AS k
  FROM flagged WHERE ok
)
SELECT url, CAST(block_id AS INT) AS block_id,
       coalesce(json_extract_string(js, '$."@id"'),
                url || '#' || block_id) AS subj,
       k AS pred,
       json_extract_string(js, '$."' || k || '"') AS obj,
       CAST(NULL AS VARCHAR) AS bad_block
FROM kv WHERE k != '@id'
UNION ALL
SELECT url, CAST(block_id AS INT) AS block_id, NULL, NULL, NULL, raw
FROM flagged WHERE NOT ok
ORDER BY url, block_id, pred
"""


# --------------------------------------------------------------------------
# Image-caption pair mining + page metadata (pages.extract_image_captions
# / extract_page_meta) — the LAION-recipe pair source and the OpenGraph
# page card. Constructed fixtures again: quote-style, attribute-order,
# entity, and missing-attribute variants are embedded per doc, and the
# oracle emits the expected rows directly (decoded bytes written out by
# hand) — the extractors' regex + entity chains are checked, never
# replayed.
# --------------------------------------------------------------------------

_IMGMETA_N = 400


def _imgmeta_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < _IMGMETA_N)
        .select(
            "doc_id",
            F.substring(F.md5(F.encode("text", "utf-8")), 1, 8).alias("tok"),
        )
    )
    lang = F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    html = F.concat(
        F.lit('<html lang="'), lang,
        F.lit('"><head><title>doc &amp; '), F.col("tok"),
        F.lit('</title><meta property="og:title" content="T '), F.col("tok"),
        F.lit('"><meta name=\'description\' content=\'d '), F.col("tok"),
        F.lit("'><meta name=\"viewport\" content=\"w=1\">"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit('<link href="https://c/'), F.col("doc_id"),
                     F.lit('" rel="canonical">')),
        ).otherwise(F.lit("")),
        F.lit('</head><body><img alt="cat &amp; '), F.col("tok"),
        F.lit('" src="/i/'), F.col("doc_id"), F.lit('.jpg">'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("<IMG SRC='/p/"), F.col("doc_id"),
                     F.lit(".png' title='t "), F.col("tok"), F.lit("'>")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit('<img class="deco">'))
        .otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return d.select(
        F.concat(F.lit("https://ex.org/p/"), F.col("doc_id")).alias("url"),
        html.alias("html_str"),
    )


_SQL_IMGMETA_D = f"""
d AS (
  SELECT doc_id, substr(md5(text), 1, 8) AS tok,
         'https://ex.org/p/' || doc_id AS url
  FROM documents WHERE doc_id < {_IMGMETA_N}
)"""


def q_image_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-style image-text pair mining: <img> src/alt/title with the
    alt-else-title caption rule, entity-decoded, srcless decorations
    kept visible with src=''."""
    from recon_spark.pages import extract_image_captions

    return extract_image_captions(_imgmeta_fixture(spark, sf_dir)).orderBy(
        "url", "img_id"
    )


SQL_IMAGE_CAPTIONS = f"""
WITH {_SQL_IMGMETA_D}
SELECT url, 0 AS img_id, '/i/' || doc_id || '.jpg' AS src,
       'cat & ' || tok AS alt, '' AS title, 'cat & ' || tok AS caption
FROM d
UNION ALL
SELECT url, 1, '/p/' || doc_id || '.png', '', 't ' || tok, 't ' || tok
FROM d WHERE doc_id % 3 = 0
UNION ALL
SELECT url, CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END, '', '', '', ''
FROM d WHERE doc_id % 4 = 0
ORDER BY url, img_id
"""


def q_page_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenGraph/meta page card in long form plus the @title/@lang/
    @canonical pseudo-keys; the off-list viewport meta must NOT
    appear."""
    from recon_spark.pages import extract_page_meta

    return extract_page_meta(_imgmeta_fixture(spark, sf_dir)).orderBy(
        "url", "key"
    )


SQL_PAGE_META = f"""
WITH {_SQL_IMGMETA_D}
SELECT url, key, value FROM (
  SELECT url, 'og:title' AS key, 'T ' || tok AS value FROM d
  UNION ALL SELECT url, 'description', 'd ' || tok FROM d
  UNION ALL SELECT url, '@title', 'doc & ' || tok FROM d
  UNION ALL SELECT url, '@lang',
    CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END FROM d
  UNION ALL SELECT url, '@canonical', 'https://c/' || doc_id
    FROM d WHERE doc_id % 2 = 0
) ORDER BY url, key
"""


SQL_DOC_CHUNKS = f"""
WITH tt AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
ch AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0,
             CAST((greatest(n - {_CHUNK}, 0) + {_STRIDE} - 1) // {_STRIDE} AS INT)
         )) AS chunk_id
  FROM tt
)
SELECT doc_id AS id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(chunk_id * {_STRIDE} AS INT) AS start_tok,
       CAST(len(toks[chunk_id * {_STRIDE} + 1 : chunk_id * {_STRIDE} + {_CHUNK}]) AS INT)
         AS n_toks,
       md5(array_to_string(toks[chunk_id * {_STRIDE} + 1 : chunk_id * {_STRIDE} + {_CHUNK}], ' '))
         AS chunk_md5
FROM ch ORDER BY id, chunk_id
"""


# --------------------------------------------------------------------------
# split_leakage — near-dup pairs crossing deterministic train/val/test
# splits (the contamination audit)
# --------------------------------------------------------------------------

def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a deterministic content-hash split
    (train 12/16, val 2/16, test 2/16 by the last md5 hex digit), then
    count MinHash-LSH near-dup candidate pairs per split combination —
    cross-split rows are train/test contamination that survives naive
    random splitting precisely because near-dups are distinct rows.
    The split hashes CONTENT, so a doc and its near-dup can land on
    different sides; the audit quantifies how often."""
    from recon_spark.operators.dedupe import minhash_lsh_candidates

    docs = _docs(spark, sf_dir)
    hexd = F.substring(F.md5("text"), 32, 1)
    assign = docs.select(
        F.col("doc_id").alias("id"),
        F.when(hexd <= "b", "train")
        .when(hexd <= "d", "val")
        .otherwise("test")
        .alias("split"),
    )
    pairs = minhash_lsh_candidates(docs)
    return (
        pairs.join(
            assign.select(F.col("id").alias("id_a"), F.col("split").alias("sa")),
            "id_a",
        )
        .join(
            assign.select(F.col("id").alias("id_b"), F.col("split").alias("sb")),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("leak", F.col("split_a") != F.col("split_b"))
        .orderBy("split_a", "split_b")
    )


def _sql_split_leakage() -> str:
    from recon_spark.queries.extra import _sql_minhash_pairs_cte

    return f"""
WITH {_sql_minhash_pairs_cte()},
assign AS (
  SELECT doc_id AS id,
         CASE WHEN substring(md5(text), 32, 1) <= 'b' THEN 'train'
              WHEN substring(md5(text), 32, 1) <= 'd' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT least(a.split, b.split) AS split_a,
       greatest(a.split, b.split) AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       least(a.split, b.split) <> greatest(a.split, b.split) AS leak
FROM pairs p
JOIN assign a ON p.id_a = a.id
JOIN assign b ON p.id_b = b.id
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# ngram_contamination — benchmark decontamination (GPT-3 appendix-C style)
# --------------------------------------------------------------------------

def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: a synthetic eval set is carved from
    the corpus itself (every 29th document's tokens 5..16 — eval
    benchmarks really are drawn from web text, which is why
    decontamination exists), and every corpus document is scored by
    how many of its 8-grams collide with the benchmark's 8-gram set.
    The benchmark digest set is broadcast; corpus text never
    shuffles."""
    from recon_spark.operators.curation import ngram_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % _BENCH_MOD == 0).select(
        "doc_id",
        F.array_join(
            F.slice(F.split("text", " "), _BENCH_OFF, _BENCH_W), " "
        ).alias("text"),
    )
    return ngram_contamination(docs, bench, n=_CONTAM_N)


SQL_NGRAM_CONTAMINATION = f"""
WITH bt AS (
  SELECT doc_id,
         string_split(text, ' ')[{_BENCH_OFF}:{_BENCH_OFF + _BENCH_W - 1}] AS toks
  FROM documents WHERE doc_id % {_BENCH_MOD} = 0
),
bg AS (
  SELECT DISTINCT md5(array_to_string(toks[i:i+{_CONTAM_N - 1}], ' ')) AS g
  FROM bt, LATERAL unnest(generate_series(1, greatest(len(toks) - {_CONTAM_N - 1}, 0))) AS t(i)
),
ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
cg AS (
  SELECT doc_id, md5(array_to_string(toks[i:i+{_CONTAM_N - 1}], ' ')) AS g
  FROM ct, LATERAL unnest(generate_series(1, greatest(len(toks) - {_CONTAM_N - 1}, 0))) AS t(i)
)
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       CAST(count(DISTINCT c.g) AS BIGINT) AS n_distinct_hits
FROM cg c JOIN bg ON c.g = bg.g
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# source_mix_sample — deterministic weighted source mixing
# --------------------------------------------------------------------------

_MIX_RATES = {"src0": 0.1, "src1": 0.9, "src2": 0.5}
_MIX_DEFAULT = 0.6


def q_source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing audit: per source, how many documents
    the deterministic md5-threshold Bernoulli keeps at the target
    rates. The keep decision is a pure map-side filter — this query
    aggregates it so the oracle pins every per-row draw (min/max kept
    draw + count + first kept doc)."""
    from recon_spark.operators.curation import source_mix_sample

    kept = source_mix_sample(
        _docs(spark, sf_dir), rates=_MIX_RATES, default_rate=_MIX_DEFAULT
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("first_doc"),
            F.min("u_hex").alias("min_u"),
            F.max("u_hex").alias("max_u"),
        )
        .orderBy("source")
    )


def _sql_source_mix_sample() -> str:
    from recon_spark.operators.curation import _rate_threshold_hex

    cases = " ".join(
        f"WHEN coalesce(source, '') = '{s}' THEN '{_rate_threshold_hex(r)}'"
        for s, r in sorted(_MIX_RATES.items())
    )
    return f"""
WITH drawn AS (
  SELECT source, doc_id,
         substring(md5(CAST(doc_id AS VARCHAR) || '|' || coalesce(source, '')), 1, 8) AS u_hex,
         CASE {cases} ELSE '{_rate_threshold_hex(_MIX_DEFAULT)}' END AS thr
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       min(doc_id) AS first_doc, min(u_hex) AS min_u, max(u_hex) AS max_u
FROM drawn WHERE u_hex < thr
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# term_spectrum — frequency-of-frequencies (Good-Turing input)
# --------------------------------------------------------------------------

def q_term_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.textstats import term_spectrum

    return term_spectrum(_docs(spark, sf_dir))


SQL_TERM_SPECTRUM = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
per AS (SELECT term, count(*) AS f FROM toks WHERE term <> '' GROUP BY 1),
b AS (
  SELECT CASE WHEN f >= 11 THEN '11+' ELSE CAST(f AS VARCHAR) END AS freq,
         least(f, 11) AS ord, f
  FROM per
)
SELECT freq, CAST(count(*) AS BIGINT) AS n_terms, CAST(sum(f) AS BIGINT) AS n_tokens
FROM b GROUP BY freq, ord ORDER BY ord
"""


# --------------------------------------------------------------------------
# quality_score — hashed-linear model-based quality filter plumbing
# --------------------------------------------------------------------------

def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.curation import hashed_linear_score

    return hashed_linear_score(_docs(spark, sf_dir))


def q_quality_score_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter with the TRAINED weights table
    (scripts/train_quality_weights.py, shipped as parquet inside the
    package): broadcast weight join, integer-micro accumulation, one
    map-side-combined aggregation."""
    from recon_spark.operators.curation import (
        load_quality_weights,
        trained_quality_score,
    )

    return trained_quality_score(
        _docs(spark, sf_dir), load_quality_weights(spark)
    )


def _sql_quality_score_trained() -> str:
    """Oracle twin: the SAME weight rows the parquet ships, embedded as
    a VALUES CTE (the driver's DuckDB session only has the ten standard
    views). Integer micro sums keep both engines bit-equal."""
    import pyarrow.parquet as pq

    from recon_spark.operators.curation import QUALITY_WEIGHTS_PATH

    tbl = pq.read_table(QUALITY_WEIGHTS_PATH, columns=["term", "weight_micro"])
    rows = list(zip(tbl.column("term").to_pylist(), tbl.column("weight_micro").to_pylist()))
    bias_micro = next(m for t, m in rows if t == "__bias__")
    # terms come from trained-on text: escape embedded single quotes so a
    # vocab entry like "don't" can't break the generated VALUES clause
    values = ", ".join(
        f"""('{t.replace("'", "''")}', {m})""" for t, m in rows if t != "__bias__"
    )
    return f"""
WITH w(term, weight_micro) AS (VALUES {values}),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
s AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(coalesce(w.weight_micro, 0)) AS BIGINT) AS sum_micro
  FROM t2 LEFT JOIN w USING (term) GROUP BY 1
),
sc AS (
  SELECT doc_id, n_terms,
         round(1.0 / (1.0 + exp(-(({bias_micro} + sum_micro) / 1000000.0))), 6) AS score
  FROM s
)
SELECT doc_id, n_terms, score, score >= 0.5 AS keep FROM sc ORDER BY doc_id
"""


SQL_QUALITY_SCORE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
w AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substring(md5(t), 1, 4)) AS INTEGER) AS DOUBLE)
           / 65535.0 - 0.5 AS wt
  FROM toks WHERE t <> ''
),
s AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_terms,
         round(1.0 / (1.0 + exp(-(0.0 + sum(wt)))), 6) AS score
  FROM w GROUP BY 1
)
SELECT doc_id, n_terms, score, score >= 0.5 AS keep FROM s ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# URL / domain curation (operators/webops.py) — Common-Crawl-style URL
# canonicalization, latest-capture dedup, per-domain crawl profile.
# The documents table has no url column, so both engines synthesize the
# SAME urls deterministically from doc_id (6 shape variants exercising
# case, www, default ports, tracking params, param order, fragments,
# trailing slashes, a compound .co.uk suffix, userinfo (user:pass@),
# and a bracketed IPv6 host; variants 0 and 1 canonicalize identically
# so latest-capture has real dup groups) and a strictly increasing
# warc_ts_s epoch (injective: 1767225600 + 37*doc_id).
# --------------------------------------------------------------------------

_URL_EXPR = """
CASE doc_id % 6
  WHEN 0 THEN concat('HTTPS://WWW.Site', CAST((doc_id DIV 6) % 13 AS STRING),
    '.Example.COM:443/a/', CAST(doc_id DIV 6 AS STRING),
    '/?utm_source=feed&b=2&a=1#frag')
  WHEN 1 THEN concat('https://Site', CAST((doc_id DIV 6) % 13 AS STRING),
    '.example.com:443/a/', CAST(doc_id DIV 6 AS STRING), '?a=1&b=2&gclid=x')
  WHEN 2 THEN concat('http://www.site', CAST((doc_id DIV 6) % 13 AS STRING),
    '.example.com:80/a/', CAST(doc_id DIV 6 AS STRING), '/')
  WHEN 3 THEN concat('https://u:p@Site', CAST((doc_id DIV 6) % 13 AS STRING),
    '.example.com/login/', CAST(doc_id DIV 6 AS STRING))
  WHEN 4 THEN concat('http://[2001:DB8::', CAST(doc_id % 7 AS STRING),
    ']:8080/api/', CAST(doc_id DIV 6 AS STRING))
  ELSE concat('https://blog.site', CAST((doc_id DIV 6) % 13 AS STRING),
    '.example.co.uk/p/', CAST(doc_id % 50 AS STRING), '?utm_campaign=z&ref=rss')
END
"""

# DuckDB twin of _URL_EXPR (// for DIV, || for concat, VARCHAR casts)
_SQL_URL_EXPR = """
CASE doc_id % 6
  WHEN 0 THEN 'HTTPS://WWW.Site' || CAST((doc_id // 6) % 13 AS VARCHAR)
    || '.Example.COM:443/a/' || CAST(doc_id // 6 AS VARCHAR)
    || '/?utm_source=feed&b=2&a=1#frag'
  WHEN 1 THEN 'https://Site' || CAST((doc_id // 6) % 13 AS VARCHAR)
    || '.example.com:443/a/' || CAST(doc_id // 6 AS VARCHAR) || '?a=1&b=2&gclid=x'
  WHEN 2 THEN 'http://www.site' || CAST((doc_id // 6) % 13 AS VARCHAR)
    || '.example.com:80/a/' || CAST(doc_id // 6 AS VARCHAR) || '/'
  WHEN 3 THEN 'https://u:p@Site' || CAST((doc_id // 6) % 13 AS VARCHAR)
    || '.example.com/login/' || CAST(doc_id // 6 AS VARCHAR)
  WHEN 4 THEN 'http://[2001:DB8::' || CAST(doc_id % 7 AS VARCHAR)
    || ']:8080/api/' || CAST(doc_id // 6 AS VARCHAR)
  ELSE 'https://blog.site' || CAST((doc_id // 6) % 13 AS VARCHAR)
    || '.example.co.uk/p/' || CAST(doc_id % 50 AS VARCHAR) || '?utm_campaign=z&ref=rss'
END
"""

# DuckDB replica of webops.normalize_url + _registered_domain, as a CTE
# chain ending in `norm(doc_id, lang, n_chars, warc_ts_s, host, url_norm,
# reg_domain)` — shared by the three URL oracles.
_SQL_URL_NORM_CTES = f"""
WITH u AS (
  SELECT doc_id, lang, n_chars,
         {_SQL_URL_EXPR} AS url,
         1767225600 + 37 * doc_id AS warc_ts_s
  FROM documents
),
parts AS (
  SELECT *,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(regexp_replace(url, '#.*$', ''),
                   '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM u
),
hp AS (
  -- hostport: userinfo ('user:pass@') stripped; tail offset uses the
  -- RAW authority length (mirrors webops.normalize_url)
  SELECT *,
    regexp_replace(regexp_extract(rest, '^([^/?]*)', 1), '^[^/]*@', '') AS hostport,
    substring(rest, length(regexp_extract(rest, '^([^/?]*)', 1)) + 1) AS tail
  FROM parts
),
comp AS (
  SELECT *,
    CASE WHEN hostport LIKE '[%'
         THEN lower(regexp_extract(hostport, '^(\\[[^\\]]*\\])', 1))
         ELSE lower(regexp_extract(hostport, '^([^:]*)', 1)) END AS host0,
    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
    regexp_extract(tail, '^([^?]*)', 1) AS path0,
    regexp_extract(tail, '^[^?]*\\?(.*)$', 1) AS q0
  FROM hp
),
comp2 AS (
  SELECT *,
    regexp_replace(host0, '^(www\\.)+', '') AS host,
    -- coalesce: DuckDB array_to_string([]) is NULL, Spark array_join is ''
    coalesce(array_to_string(list_sort(list_filter(string_split(q0, '&'),
      x -> x <> '' AND NOT regexp_matches(x,
        '^(utm_[a-z]+|gclid|fbclid|msclkid|ref)='))), '&'), '') AS qn
  FROM comp
),
normed AS (
  SELECT doc_id, lang, n_chars, warc_ts_s, host,
    scheme || '://' || host
      || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                OR (scheme = 'https' AND port = '443')
         THEN '' ELSE ':' || port END
      || CASE WHEN path0 IN ('', '/') THEN '/'
         ELSE regexp_replace(path0, '/$', '') END
      || CASE WHEN qn = '' THEN '' ELSE '?' || qn END AS url_norm,
    CASE WHEN host LIKE '[%' THEN host ELSE
    (SELECT CASE
        WHEN len(labels) <= 2 THEN host
        WHEN length(labels[len(labels)]) = 2 AND labels[len(labels) - 1] IN
             ('ac', 'co', 'com', 'edu', 'gov', 'net', 'org')
          THEN array_to_string(labels[len(labels) - 2 : len(labels)], '.')
        ELSE array_to_string(labels[len(labels) - 1 : len(labels)], '.')
      END FROM (SELECT string_split(host, '.') AS labels)) END AS reg_domain
  FROM comp2
)
"""


def _docs_with_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.operators.webops import normalize_url

    docs = _docs(spark, sf_dir).withColumns(
        {
            "url": F.expr(_URL_EXPR),
            "warc_ts_s": (F.lit(1767225600) + 37 * F.col("doc_id")).cast("long"),
        }
    )
    return normalize_url(docs)


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization audit: every synthesized URL with its
    canonical form, normalized host, and registered domain. Map-only
    pure-JVM plan (webops.normalize_url docstring has the 10^12-row
    rationale); the oracle replays the full rule set in DuckDB, so any
    divergence in scheme/host/port/param/path handling hash-fails."""
    return _docs_with_urls(spark, sf_dir).select(
        "doc_id", "url_norm", "host", "reg_domain"
    ).orderBy("doc_id")


SQL_URL_NORMALIZE = (
    _SQL_URL_NORM_CTES
    + "SELECT doc_id, url_norm, host, reg_domain FROM normed ORDER BY doc_id"
)


def q_url_latest_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-capture dedup over canonical URLs (Common Crawl re-crawl
    collapse): newest warc_ts wins per url_norm. max(struct) combinable
    agg — no per-group window sort; see webops.latest_capture."""
    from recon_spark.operators.webops import latest_capture

    return latest_capture(
        _docs_with_urls(spark, sf_dir), ts_col="warc_ts_s"
    ).orderBy("url_norm")


SQL_URL_LATEST_CAPTURE = (
    _SQL_URL_NORM_CTES
    + """
SELECT url_norm, count(*) AS n_captures, max(warc_ts_s) AS keep_ts,
       arg_max(doc_id, warc_ts_s) AS keep_id
FROM normed GROUP BY url_norm ORDER BY url_norm
"""
)


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain crawl profile (docs, distinct canonical
    urls, langs, mean length). Exact-distinct mode for oracle parity;
    the default HLL mode is the 10^12-row shape (webops.domain_stats)."""
    from recon_spark.operators.webops import domain_stats

    return domain_stats(_docs_with_urls(spark, sf_dir), exact_distinct=True)


SQL_DOMAIN_STATS = (
    _SQL_URL_NORM_CTES
    + """
SELECT reg_domain, count(*) AS n_docs, count(DISTINCT url_norm) AS n_urls,
       count(DISTINCT lang) AS n_langs, round(avg(n_chars), 6) AS avg_chars
FROM normed GROUP BY reg_domain ORDER BY reg_domain
"""
)


# domains blocked by the driver query: one exact host, one suffix entry
# covering a subdomain (the semantics equality joins get wrong), one
# never-matching entry
_BLOCKLIST = ["site3.example.com", "site4.example.co.uk", "example.org"]


def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-matching domain blocklist over canonicalized hosts
    (webops.blocklist_filter, list mode = zero-join map-side filter):
    per surviving host, how many docs remain. The oracle re-derives the
    suffix semantics independently with equality-or-LIKE predicates."""
    from recon_spark.operators.webops import blocklist_filter

    kept = blocklist_filter(_docs_with_urls(spark, sf_dir), _BLOCKLIST)
    return (
        kept.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("first_doc"))
        .orderBy("host")
    )


def _sql_domain_blocklist() -> str:
    preds = " OR ".join(
        f"host = '{d}' OR host LIKE '%.{d}'" for d in _BLOCKLIST
    )
    return (
        _SQL_URL_NORM_CTES
        + f"""
SELECT host, count(*) AS n_kept, min(doc_id) AS first_doc
FROM normed WHERE NOT ({preds})
GROUP BY host ORDER BY host
"""
    )


# robots.txt bodies synthesized per host, keyed on
# (length(host) + ascii(host[5])) % 4 — the 5th char is the site digit
# for siteK hosts, '.' for blog hosts, a hex digit for IPv6 hosts, so
# every variant lands on every path family: v0 exercises
# wildcard+anchor patterns on live /a paths, v1 multiple disallows +
# the empty-Disallow idiom + an unknown directive, v2 stacked agent
# lines and a specific-agent group that overrides '*' (blog /p hosts
# land here, so allowed_any=True/allowed_gptbot=False rows exist),
# v3 no robots at all (default allow)
_ROBOTS_V0 = "# crawl policy\nUser-agent: *\nDisallow: /a\nAllow: /a/*3$\n"
_ROBOTS_V1 = (
    "User-agent: *\nDisallow: /login\nDisallow: /api\nDisallow:\n"
    "Crawl-delay: 5\n"
)
_ROBOTS_V2 = (
    "User-agent: gptbot\nUser-agent: ccbot\nDisallow: /\n\n"
    "User-agent: *\nAllow: /p\nDisallow: /\n"
)


def _robots_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs_with_urls(spark, sf_dir).select(
        "doc_id",
        "host",
        F.regexp_extract("url_norm", r"^[a-z]+://[^/?]*(/[^?]*)", 1).alias("path"),
    )


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt gate over the crawl (round 5): synthesize one robots
    body per host, PARSE it with webops.parse_robots (RFC 9309 group
    windows — stacked user-agent lines, comment strip, empty-Disallow,
    unknown directives), then gate every canonical URL through
    webops.robots_filter twice — as a generic agent ('*') and as
    gptbot, whose v2 hosts carry a specific-group total ban. The
    oracle does NOT reuse the parser: it hard-codes the rule table
    each variant must parse to and replays the longest-match/allow-
    tie-break precedence in SQL, so a parser bug and a matcher bug
    both hash-fail independently."""
    from recon_spark.operators.webops import parse_robots, robots_filter

    urls = _robots_urls(spark, sf_dir)
    v = F.pmod(F.length("host") + F.ascii(F.substring("host", 5, 1)), F.lit(4))
    robots = urls.select("host").distinct().withColumn(
        "robots_txt",
        F.when(v == 0, F.lit(_ROBOTS_V0))
        .when(v == 1, F.lit(_ROBOTS_V1))
        .when(v == 2, F.lit(_ROBOTS_V2))
        .otherwise(F.lit("")),
    )
    rules = parse_robots(robots)
    # robots_filter is map-only over the crawl side (broadcast rules
    # array + HOF winner pick), so the two agents CHAIN — no crawl-vs-
    # crawl join; the whole gate is two broadcast joins on one stream
    any_ok = robots_filter(urls, rules, "*").withColumnRenamed(
        "allowed", "allowed_any"
    )
    both = robots_filter(any_ok, rules, "gptbot").withColumnRenamed(
        "allowed", "allowed_gptbot"
    )
    return both.select(
        "doc_id", "host", "path", "allowed_any", "allowed_gptbot"
    ).orderBy("doc_id")


def _sql_robots_gate() -> str:
    # the rule table each robots variant MUST parse to (independent of
    # the parser), keyed by length(host) % 4
    rules_values = """
    (0, '*', 'disallow', '/a'), (0, '*', 'allow', '/a/*3$'),
    (1, '*', 'disallow', '/login'), (1, '*', 'disallow', '/api'),
    (2, 'gptbot', 'disallow', '/'), (2, 'ccbot', 'disallow', '/'),
    (2, '*', 'allow', '/p'), (2, '*', 'disallow', '/')
    """

    def verdict(agent: str, out: str) -> str:
        return f"""
elig_{out} AS (
  SELECT r.* FROM rules r
  WHERE (r.v IN (SELECT v FROM rules WHERE agent = '{agent}')
         AND r.agent = '{agent}')
     OR (r.v NOT IN (SELECT v FROM rules WHERE agent = '{agent}')
         AND r.agent = '*')
),
m_{out} AS (
  SELECT u.doc_id, u.host, u.path,
         r.rule, r.rpath,
         row_number() OVER (
           PARTITION BY u.doc_id
           ORDER BY CASE WHEN r.rpath IS NULL THEN -1
                         ELSE length(r.rpath) END DESC,
                    CASE WHEN r.rule = 'allow' THEN 1 ELSE 0 END DESC
         ) AS rn
  FROM urls u
  LEFT JOIN elig_{out} r
    ON (length(u.host) + ascii(substring(u.host, 5, 1))) % 4 = r.v
   AND regexp_matches(u.path, r.rx)
),
v_{out} AS (
  SELECT doc_id, host, path,
         (rpath IS NULL OR rule = 'allow') AS allowed_{out}
  FROM m_{out} WHERE rn = 1
)"""

    return (
        _SQL_URL_NORM_CTES
        + f""",
urls AS (
  SELECT doc_id, host,
         regexp_extract(url_norm, '^[a-z]+://[^/?]*(/[^?]*)', 1) AS path
  FROM normed
),
rules_raw AS (
  SELECT * FROM (VALUES {rules_values}) AS t(v, agent, rule, rpath)
),
rules AS (
  -- the same pattern->regex construction robots_filter applies:
  -- escape metachars except '*' (-> '.*'), trailing '$' anchors
  SELECT v, agent, rule, rpath,
         '^' || replace(regexp_replace(
             CASE WHEN rpath LIKE '%$'
                  THEN substring(rpath, 1, length(rpath) - 1)
                  ELSE rpath END,
             '([.\\[\\]{{}}()+?^$\\\\|])', '\\\\\\1', 'g'), '*', '.*')
         || CASE WHEN rpath LIKE '%$' THEN '$' ELSE '' END AS rx
  FROM rules_raw
),
{verdict('*', 'any')},
{verdict('gptbot', 'gptbot')}
SELECT a.doc_id, a.host, a.path, a.allowed_any, g.allowed_gptbot
FROM v_any a JOIN v_gptbot g USING (doc_id, host, path)
ORDER BY a.doc_id
"""
    )


def q_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-vs-crawl reconciliation (round 5): per host, build a
    genuine sitemap.xml listing every third crawled page (lastmod
    derived from the doc id, `&` in query strings XML-escaped) plus two
    never-crawled frontier URLs with whitespace-padded `<loc>` and no
    `<lastmod>`; odd-length hosts also publish a `<sitemapindex>` with
    two children. webops.parse_sitemaps must round-trip all of it
    through Spark's REAL XML parser — entity unescape, loc trim,
    missing-element NULLs, urlset/sitemapindex discrimination — and the
    reconciliation counts (listed∩crawled, frontier, index children,
    lastmod range) hash-fail if any of that drifts. The oracle never
    touches XML: it recomputes the expected sets relationally from the
    same derivation."""
    from recon_spark.operators.webops import parse_sitemaps

    urls = _docs_with_urls(spark, sf_dir).select("doc_id", "host", "url_norm")
    listed = (
        urls.where(F.col("doc_id") % 3 == 0)
        .groupBy("host", "url_norm")
        .agg(F.min("doc_id").alias("d"))
    )
    url_frag = F.concat(
        F.lit("<url><loc>"),
        F.regexp_replace("url_norm", "&", "&amp;"),
        F.lit("</loc><lastmod>2026-01-"),
        F.lpad((F.col("d") % 27 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod></url>"),
    )
    hosts = urls.select("host").distinct()
    frontier_frag = F.concat(
        F.lit("<url><loc>  https://"),
        F.col("host"),
        F.lit("/new/"),
        F.col("j").cast("string"),
        F.lit("  </loc></url>"),
    )
    frags = listed.select("host", url_frag.alias("frag")).unionByName(
        hosts.select(
            "host", F.explode(F.array(F.lit(0), F.lit(1))).alias("j")
        ).select("host", frontier_frag.alias("frag"))
    )
    urlset_bodies = frags.groupBy("host").agg(
        F.concat(
            F.lit('<?xml version="1.0" encoding="UTF-8"?>'
                  '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
            F.concat_ws("", F.collect_list("frag")),
            F.lit("</urlset>"),
        ).alias("body")
    )
    index_bodies = hosts.where(F.pmod(F.length("host"), F.lit(2)) == 1).select(
        "host",
        F.concat(
            F.lit("<sitemapindex>"),
            F.lit("<sitemap><loc>https://"), F.col("host"),
            F.lit("/sitemap-0.xml</loc><lastmod>2026-03-01</lastmod></sitemap>"),
            F.lit("<sitemap><loc>https://"), F.col("host"),
            F.lit("/sitemap-1.xml</loc></sitemap>"),
            F.lit("</sitemapindex>"),
        ).alias("body"),
    )
    parsed = parse_sitemaps(urlset_bodies.unionByName(index_bodies))
    crawl = urls.select("host", F.col("url_norm").alias("loc")).distinct()
    joined = parsed.join(
        crawl.withColumn("in_crawl", F.lit(1)), ["host", "loc"], "left"
    )
    is_url = F.col("kind") == "url"
    return (
        joined.groupBy("host")
        .agg(
            F.sum(is_url.cast("int")).alias("n_listed"),
            F.sum((F.col("kind") == "sitemap").cast("int")).alias("n_index_children"),
            F.sum((is_url & F.col("in_crawl").isNotNull()).cast("int")).alias("n_in_crawl"),
            F.sum((is_url & F.col("in_crawl").isNull()).cast("int")).alias("n_frontier"),
            F.min(F.when(is_url, F.col("lastmod"))).alias("min_lastmod"),
            F.max(F.when(is_url, F.col("lastmod"))).alias("max_lastmod"),
        )
        .orderBy("host")
    )


SQL_SITEMAP_COVERAGE = (
    _SQL_URL_NORM_CTES
    + """,
listed AS (
  SELECT host, url_norm, min(doc_id) AS d
  FROM normed WHERE doc_id % 3 = 0 GROUP BY host, url_norm
),
hosts AS (SELECT DISTINCT host FROM normed),
per_host AS (
  SELECT h.host,
         count(l.url_norm) AS n_crawl_listed,
         min('2026-01-' || lpad(CAST(l.d % 27 + 1 AS VARCHAR), 2, '0'))
           AS min_lastmod,
         max('2026-01-' || lpad(CAST(l.d % 27 + 1 AS VARCHAR), 2, '0'))
           AS max_lastmod
  FROM hosts h LEFT JOIN listed l ON h.host = l.host
  GROUP BY h.host
)
SELECT host,
       CAST(n_crawl_listed + 2 AS BIGINT) AS n_listed,
       CAST(CASE WHEN length(host) % 2 = 1 THEN 2 ELSE 0 END AS BIGINT)
         AS n_index_children,
       CAST(n_crawl_listed AS BIGINT) AS n_in_crawl,
       CAST(2 AS BIGINT) AS n_frontier,
       min_lastmod, max_lastmod
FROM per_host ORDER BY host
"""
)


def q_frontier_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier planning (round 5): the composition the three new
    crawl ops exist for — sitemap-discovered URLs that were never
    crawled, gated through robots before they are allowed to enter the
    frontier. Reuses the robots_gate corpus (per-host robots variants)
    and the sitemap_coverage corpus (2 frontier URLs per host), splits
    each discovered loc into host+path with the same canonicalization
    the crawl uses, and emits one row per candidate with its robots
    verdict. Every stage is the map-only/broadcast shape its operator
    docstring establishes; the composed plan still never shuffles the
    URL stream."""
    from recon_spark.operators.webops import parse_robots, parse_sitemaps, robots_filter

    urls = _robots_urls(spark, sf_dir)
    hosts = urls.select("host").distinct()
    # frontier sitemaps: the sitemap_coverage staging's never-crawled URLs
    bodies = hosts.select(
        "host",
        F.concat(
            F.lit("<urlset>"),
            F.lit("<url><loc>https://"), F.col("host"),
            F.lit("/new/0</loc></url>"),
            F.lit("<url><loc>https://"), F.col("host"),
            F.lit("/new/1</loc></url>"),
            F.lit("</urlset>"),
        ).alias("body"),
    )
    discovered = parse_sitemaps(bodies).where(F.col("kind") == "url").select(
        "host",
        F.col("loc"),
        F.regexp_extract("loc", r"^[a-z]+://[^/?]*(/.*)$", 1).alias("path"),
    )
    v = F.pmod(F.length("host") + F.ascii(F.substring("host", 5, 1)), F.lit(4))
    robots = hosts.withColumn(
        "robots_txt",
        F.when(v == 0, F.lit(_ROBOTS_V0))
        .when(v == 1, F.lit(_ROBOTS_V1))
        .when(v == 2, F.lit(_ROBOTS_V2))
        .otherwise(F.lit("")),
    )
    rules = parse_robots(robots)
    return (
        robots_filter(discovered, rules, "*")
        .select("host", "loc", "allowed")
        .orderBy("host", "loc")
    )


SQL_FRONTIER_PLAN = (
    _SQL_URL_NORM_CTES
    + """,
hosts AS (SELECT DISTINCT host FROM normed),
cand AS (
  SELECT host, 'https://' || host || '/new/' || j AS loc
  FROM hosts, (SELECT unnest([0, 1]) AS j)
)
SELECT host, loc,
       -- variant semantics: only v2 ('*' group: Allow /p, Disallow /)
       -- blocks a /new path; v0 (/a rules), v1 (/login,/api) and v3
       -- (no robots) leave it allowed
       (length(host) + ascii(substring(host, 5, 1))) % 4 <> 2 AS allowed
FROM cand ORDER BY host, loc
"""
)


def _linked_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages with synthesized anchor HTML covering the resolution
    cases extract_links must handle: absolute, protocol-relative,
    rooted, directory-relative, and a javascript: href that must drop.
    Link targets derive from the page's own site number so the host
    graph has deterministic structure (K -> K+1 and K -> K+2 rings)."""
    urls = _docs_with_urls(spark, sf_dir).select("doc_id", "host", "url_norm")
    k1 = ((F.col("doc_id") + 1) % 13).cast("string")
    k2 = ((F.col("doc_id") + 2) % 13).cast("string")
    html = F.concat(
        F.lit('<html><body><a href="https://site'), k1,
        F.lit('.example.com/x/'), F.col("doc_id").cast("string"),
        F.lit('">a</a><a href="//site'), k2,
        F.lit('.example.com/y">b</a><a href="/local/'),
        F.col("doc_id").cast("string"),
        F.lit('">c</a><a href="sub/page">d</a>'),
        F.lit('<a href="javascript:void(0)">x</a></body></html>'),
    )
    return urls.withColumn("html", html)


def q_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl link graph (round 5): harvest hrefs from page HTML
    (webops.extract_links — absolute / protocol-relative / rooted /
    directory-relative resolution against the canonical page URL,
    javascript: dropped) and aggregate host -> host edge weights. The
    harvest is map-only; the ONLY shuffle carries (src_host, dst_host)
    pairs — at 10^12 pages the link fan-out never leaves its map task
    unaggregated. The oracle replays the resolution rules relationally
    over the same synthesized anchors."""
    from recon_spark.operators.webops import extract_links

    pages = _linked_pages(spark, sf_dir)
    links = extract_links(pages, html_col="html", url_col="url_norm")
    return (
        links.groupBy(F.col("host").alias("src_host"),
                      F.col("link_host").alias("dst_host"))
        .agg(F.count(F.lit(1)).alias("n_links"),
             F.countDistinct("link").alias("n_urls"))
        .orderBy("src_host", "dst_host")
    )


SQL_HOST_LINK_GRAPH = (
    _SQL_URL_NORM_CTES
    + """,
pages AS (
  SELECT doc_id, host, url_norm,
         regexp_extract(url_norm, '^([a-z]+):', 1) AS scheme,
         regexp_extract(url_norm, '^[a-z]+://([^/?]*)', 1) AS auth,
         CASE WHEN regexp_extract(url_norm,
                 '^[a-z]+://[^/?]*((/[^?]*)?/)', 1) = '' THEN '/'
              ELSE regexp_extract(url_norm,
                 '^[a-z]+://[^/?]*((/[^?]*)?/)', 1) END AS base_dir
  FROM normed
),
links AS (
  SELECT host,
         'https://site' || CAST((doc_id + 1) % 13 AS VARCHAR)
           || '.example.com/x/' || CAST(doc_id AS VARCHAR) AS link
  FROM pages
  UNION ALL
  SELECT host,
         scheme || '://site' || CAST((doc_id + 2) % 13 AS VARCHAR)
           || '.example.com/y' AS link
  FROM pages
  UNION ALL
  SELECT host,
         scheme || '://' || auth || '/local/' || CAST(doc_id AS VARCHAR)
  FROM pages
  UNION ALL
  SELECT host, scheme || '://' || auth || base_dir || 'sub/page'
  FROM pages
)
SELECT host AS src_host,
       regexp_extract(link, '^[a-z]+://([^/?]*)', 1) AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT link) AS BIGINT) AS n_urls
FROM links GROUP BY 1, 2 ORDER BY src_host, dst_host
"""
)


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level PageRank over the crawl link graph (round 5): the
    classic crawl-prioritization signal, reusing operators/graph.py's
    1-shuffle-per-iteration pagerank over host -> host edges harvested
    by extract_links. Distinct edges with self-loops dropped, same
    damping/rounding spec as entity_pagerank, so the SAME oracle
    iteration chain replays it exactly over the host edge CTEs."""
    from recon_spark.operators.graph import pagerank
    from recon_spark.operators.webops import extract_links

    pages = _linked_pages(spark, sf_dir)
    links = extract_links(pages, html_col="html", url_col="url_norm")
    edges = links.select(
        F.col("host").alias("src"), F.col("link_host").alias("dst")
    )
    return pagerank(edges).withColumnRenamed("entity", "host_node")


def _sql_host_pagerank() -> str:
    from recon_spark.queries.graph import _sql_pagerank

    host_edges = (
        _SQL_URL_NORM_CTES.removeprefix("\nWITH ").removeprefix("WITH ")
        + """,
pages AS (
  SELECT doc_id, host, url_norm,
         regexp_extract(url_norm, '^([a-z]+):', 1) AS scheme,
         regexp_extract(url_norm, '^[a-z]+://([^/?]*)', 1) AS auth,
         CASE WHEN regexp_extract(url_norm,
                 '^[a-z]+://[^/?]*((/[^?]*)?/)', 1) = '' THEN '/'
              ELSE regexp_extract(url_norm,
                 '^[a-z]+://[^/?]*((/[^?]*)?/)', 1) END AS base_dir
  FROM normed
),
links AS (
  SELECT host,
         'https://site' || CAST((doc_id + 1) % 13 AS VARCHAR)
           || '.example.com/x/' || CAST(doc_id AS VARCHAR) AS link
  FROM pages
  UNION ALL
  SELECT host, scheme || '://site' || CAST((doc_id + 2) % 13 AS VARCHAR)
           || '.example.com/y' FROM pages
  UNION ALL
  SELECT host, scheme || '://' || auth || '/local/' || CAST(doc_id AS VARCHAR)
  FROM pages
  UNION ALL
  SELECT host, scheme || '://' || auth || base_dir || 'sub/page' FROM pages
),
he AS MATERIALIZED (
  SELECT host AS src,
         regexp_extract(link, '^[a-z]+://([^/?]*)', 1) AS dst
  FROM links
),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM he WHERE src <> dst),
nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outd AS MATERIALIZED (
  SELECT src, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY 1)"""
    )
    return _sql_pagerank(edges_cte=host_edges, node_alias="host_node")


# --- anchor-text alias mining (round 5) -------------------------------------

# fixture KB: entity page slugs + their base surfaces (E_SPARK/E_TABLE/
# E_HASHMAP/E_ROW match gazetteer.ALIASES ids so the mined dictionary
# reads as an extension of the linker's hand-curated table)
_KB_ENTITIES = ("E_SPARK", "E_TABLE", "E_HASHMAP", "E_ROW", "E_QUERY")
_KB_SURFACES = ("spark", "table", "hash table", "row", "query")


def _anchor_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages whose HTML carries anchors to KB entity pages with alias
    variants as anchor text, plus the three negatives extract_anchors
    + the host gate must drop: an off-KB-host anchor, a javascript:
    anchor, and (every 7th doc) an empty-text anchor. Variant v1
    (upper-case) must MERGE with v0 under the query's lower(trim())
    normalization — proving the normalization is live — while v2
    ('<surf> engine') stays a distinct alias."""
    docs = _docs_with_urls(spark, sf_dir).select("doc_id", "host", "url_norm")
    idx = (F.col("doc_id") % 5 + 1).cast("int")
    ent = F.element_at(F.array(*[F.lit(e) for e in _KB_ENTITIES]), idx)
    surf = F.element_at(F.array(*[F.lit(s) for s in _KB_SURFACES]), idx)
    v = F.expr("(doc_id DIV 5) % 3")
    alias = (
        F.when(v == 0, surf)
        .when(v == 1, F.upper(surf))
        .otherwise(F.concat(surf, F.lit(" engine")))
    )
    html = F.concat(
        F.lit('<a href="https://kb.example.org/entity/'), ent,
        F.lit('">'), alias, F.lit("</a>"),
        F.lit('<a href="https://othersite.com/entity/E_NOISE">spark</a>'),
        F.lit('<a href="javascript:void(0)">spark</a>'),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit('<a href="https://kb.example.org/entity/'), ent,
                F.lit('"></a>'),
            ),
        ).otherwise(F.lit("")),
    )
    return docs.withColumn("html", html)


def q_anchor_text_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-mined entity alias dictionary (round 5): the anchor-text
    statistics construction classic entity linkers build from Wikipedia
    links, computed from the crawl itself — extract_anchors harvests
    (link, anchor text) pairs map-only, the KB host gate keeps anchors
    into entity pages, and ONE combinable aggregation to (entity,
    alias) grain yields per-alias mention counts + distinct linking
    hosts (cross-host support separates global aliases from one site's
    idiolect). The only window runs over DICTIONARY rows (≪ pages —
    bounded by |entities| x |surfaces|, not corpus size), ranking
    aliases per entity for the linker's top-k. At 10^12 pages nothing
    but (entity, alias) pairs ever shuffles. The oracle re-derives
    every variant, the v1-merges-into-v0 normalization, and the three
    negative classes relationally."""
    from recon_spark.operators.webops import extract_anchors

    pages = _anchor_pages(spark, sf_dir)
    anchors = extract_anchors(pages, html_col="html", url_col="url_norm")
    kb = (
        anchors.where(F.col("link_host") == "kb.example.org")
        .select(
            F.regexp_extract("link", r"/entity/([A-Z_]+)$", 1).alias("entity"),
            F.lower(F.trim("anchor")).alias("alias"),
            "host",
        )
        .where(F.length("alias") > 0)
    )
    per = kb.groupBy("entity", "alias").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("host").alias("n_hosts"),
    )
    w = Window.partitionBy("entity").orderBy(
        F.col("n_mentions").desc(), F.col("alias")
    )
    return (
        per.withColumn("alias_rank", F.row_number().over(w))
        .select("entity", "alias", "n_mentions", "n_hosts", "alias_rank")
        .orderBy("entity", "alias_rank")
    )


def _sql_anchor_text_aliases() -> str:
    ents = ", ".join(f"'{e}'" for e in _KB_ENTITIES)
    surfs = ", ".join(f"'{s}'" for s in _KB_SURFACES)
    return (
        _SQL_URL_NORM_CTES
        + f""",
base AS (
  SELECT doc_id, host,
         [{ents}][CAST(doc_id % 5 AS INT) + 1] AS entity,
         [{surfs}][CAST(doc_id % 5 AS INT) + 1] AS surf,
         (doc_id // 5) % 3 AS v
  FROM normed
),
-- the off-host, javascript:, and empty-text anchors never mint a
-- mention; v1's upper-case variant folds back onto surf under lower()
mentions AS (
  SELECT entity,
         lower(trim(CASE v WHEN 0 THEN surf WHEN 1 THEN upper(surf)
                    ELSE surf || ' engine' END)) AS alias,
         host
  FROM base
),
per AS (
  SELECT entity, alias, CAST(count(*) AS BIGINT) AS n_mentions,
         CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
  FROM mentions GROUP BY 1, 2
)
SELECT entity, alias, n_mentions, n_hosts,
       CAST(row_number() OVER (
         PARTITION BY entity ORDER BY n_mentions DESC, alias) AS INT
       ) AS alias_rank
FROM per ORDER BY entity, alias_rank
"""
    )


# --- WAT metadata round trip (round 5) ---------------------------------------

_WAT_STAGING: dict = {}


def q_wat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CC metadata-distribution loop (round 5): pages -> per-page
    outlink ARRAY (webops.outlink_array, map-only, duplicates kept in
    document order) -> JSON metadata payload -> write_wat_files (WARC
    ``metadata`` records, application/json, streamed + atomically
    published) -> read_warc over the WAT output -> from_json ->
    host->host link graph. Verified against the SAME oracle as
    host_link_graph: the round trip through the WAT container must
    preserve every outlink of every page exactly, so a framing,
    JSON-encode, Content-Length, or re-ingest bug anywhere hash-fails
    against the from-first-principles link derivation. Write is one
    map-only job (only the manifest is collected); read back is one
    task per WAT file, and only (src_host, dst_host) pairs shuffle."""
    import atexit
    import os
    import shutil
    import tempfile

    from recon_spark.operators.webops import outlink_array
    from recon_spark.warc import read_warc, write_wat_files

    key = os.path.abspath(sf_dir)
    if key not in _WAT_STAGING:
        pages = _linked_pages(spark, sf_dir).withColumn(
            "warc_ts_s", (F.lit(1767225600) + 37 * F.col("doc_id")).cast("long")
        )
        meta = pages.select(
            F.col("url_norm").alias("url"),
            "warc_ts_s",
            F.to_json(
                F.struct(
                    F.col("url_norm").alias("url"),
                    F.col("host"),
                    outlink_array("html", "url_norm").alias("outlinks"),
                )
            ).alias("meta_json"),
        )
        wat_dir = tempfile.mkdtemp(prefix="recon_wat_")
        atexit.register(shutil.rmtree, wat_dir, ignore_errors=True)
        manifest = write_wat_files(meta.repartition(4, "url"), wat_dir).collect()
        assert sum(m["n_records"] for m in manifest) > 0
        _WAT_STAGING[key] = wat_dir
    wat = read_warc(spark, _WAT_STAGING[key])
    parsed = wat.where(F.col("rec_type") == "metadata").select(
        F.from_json(
            F.decode("html", "utf-8"),
            "url string, host string, outlinks array<string>",
        ).alias("m")
    )
    links = parsed.select(
        F.col("m.host").alias("src_host"), F.explode("m.outlinks").alias("link")
    )
    return (
        links.groupBy(
            "src_host",
            F.regexp_extract("link", r"^[a-z]+://([^/?]*)", 1).alias("dst_host"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("link").alias("n_urls"),
        )
        .orderBy("src_host", "dst_host")
    )


def q_triples_mined_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG canonicalization through a CRAWL-MINED alias dictionary
    (round 5): the full self-supervised composition — anchor-text
    statistics mined from the crawl (extract_anchors over the KB-anchor
    pages) replace the hand-curated alias table
    (/root/reference/recon/linker.py:23-36) in the canonical-triple
    materialization. Best entity per ALIAS wins by (mention support
    desc, entity asc) — the rank-1 selection the reference's linker
    applies to its curated scores, applied to mined counts instead.
    The dictionary is dictionary-sized (bounded by surfaces x
    entities), so both canonicalization joins BROADCAST; raw triples
    never shuffle for linking — the only wide exchange is the final
    (subj, pred, obj) rollup, same as triples_canonical. Multi-word
    mined aliases ('hash table', '<surf> engine') simply never match
    unigram triple slots — unlinkable surfaces keep their surface form,
    per the canonicalize_triples contract. The oracle re-derives the
    mined dictionary, the rank-1 pick, and both coalesce joins
    relationally."""
    from recon_spark.operators.extraction import extract_triples_tokens
    from recon_spark.operators.webops import extract_anchors

    pages = _anchor_pages(spark, sf_dir)
    anchors = extract_anchors(pages, html_col="html", url_col="url_norm")
    mined = (
        anchors.where(F.col("link_host") == "kb.example.org")
        .select(
            F.regexp_extract("link", r"/entity/([A-Z_]+)$", 1).alias("entity"),
            F.lower(F.trim("anchor")).alias("alias"),
        )
        .where(F.length("alias") > 0)
        .groupBy("alias", "entity")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
    best = (
        mined.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("alias").orderBy(
                    F.col("n_mentions").desc(), F.col("entity")
                )
            ),
        )
        .where("rk = 1")
        .select("alias", "entity")
    )
    t = extract_triples_tokens(_docs(spark, sf_dir))
    t = (
        t.join(
            F.broadcast(best).withColumnRenamed("entity", "subj_id"),
            t.subj == F.col("alias"),
            "left",
        )
        .drop("alias")
        .join(
            F.broadcast(best).withColumnRenamed("entity", "obj_id"),
            t.obj == F.col("alias"),
            "left",
        )
        .drop("alias")
    )
    return (
        t.select(
            F.coalesce("subj_id", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_id", "obj").alias("obj"),
        )
        .groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("subj", "pred", "obj")
    )


def _sql_triples_mined_aliases() -> str:
    from recon_spark.queries.core import _sql_triples_base

    ents = ", ".join(f"'{e}'" for e in _KB_ENTITIES)
    surfs = ", ".join(f"'{s}'" for s in _KB_SURFACES)
    return f"""
WITH abase AS (
  SELECT doc_id,
         [{ents}][CAST(doc_id % 5 AS INT) + 1] AS entity,
         [{surfs}][CAST(doc_id % 5 AS INT) + 1] AS surf,
         (doc_id // 5) % 3 AS v
  FROM main.documents
),
mined AS (
  SELECT lower(trim(CASE v WHEN 0 THEN surf WHEN 1 THEN upper(surf)
                    ELSE surf || ' engine' END)) AS alias,
         entity, count(*) AS n_mentions
  FROM abase GROUP BY 1, 2
),
best AS (
  SELECT alias, entity FROM (
    SELECT alias, entity,
           row_number() OVER (
             PARTITION BY alias ORDER BY n_mentions DESC, entity) AS rk
    FROM mined
  ) WHERE rk = 1
),
{_sql_triples_base().lstrip().lstrip(',').strip()}
SELECT coalesce(bs.entity, t.subj) AS subj, t.pred,
       coalesce(bo.entity, t.obj) AS obj, CAST(count(*) AS BIGINT) AS n
FROM triples t
LEFT JOIN best bs ON t.subj = bs.alias
LEFT JOIN best bo ON t.obj = bo.alias
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index (round 5): the Common-Crawl-native index row
    per canonical URL — SURT key (reversed host labels, so one domain's
    captures sort contiguously), 14-digit UTC capture timestamp of the
    LATEST capture, content digest and length. One combinable
    max(struct) per url_norm (newest capture wins, all payload columns
    ride along — no second join back to the corpus, no window sort),
    then pure string expressions; at 10^12 captures this is one
    partial-aggregated shuffle keyed by canonical URL. The final
    sort-by-SURT is exactly the ordering a range-partitioned CDX file
    write would use."""
    from recon_spark.operators.webops import surt_key

    docs = _docs(spark, sf_dir).withColumns(
        {
            "url": F.expr(_URL_EXPR),
            "warc_ts_s": (F.lit(1767225600) + 37 * F.col("doc_id")).cast("long"),
        }
    )
    from recon_spark.operators.webops import normalize_url

    normed = normalize_url(docs)
    latest = (
        normed.groupBy("url_norm", "host")
        .agg(
            F.max(
                F.struct(
                    F.col("warc_ts_s").alias("ts"),
                    F.col("doc_id").alias("doc_id"),
                    F.md5("text").alias("digest"),
                    F.col("n_chars").alias("n_chars"),
                )
            ).alias("cap")
        )
    )
    return latest.select(
        surt_key(F.col("host"), F.col("url_norm")).alias("surt"),
        F.date_format(F.timestamp_seconds(F.col("cap.ts")), "yyyyMMddHHmmss").alias("ts14"),
        "url_norm",
        F.col("cap.digest").alias("digest"),
        F.col("cap.n_chars").alias("length"),
    ).orderBy("surt", "ts14")


SQL_CDX_INDEX = (
    _SQL_URL_NORM_CTES
    + """,
latest AS (
  SELECT url_norm, host,
         max(struct_pack(
           ts := warc_ts_s, doc_id := t.doc_id,
           digest := md5(t.text), n_chars := t.n_chars)) AS cap
  FROM (SELECT n.*, d.text
        FROM normed n JOIN documents d USING (doc_id)) t
  GROUP BY url_norm, host
)
SELECT CASE WHEN host LIKE '[%' THEN host
       ELSE array_to_string(list_reverse(string_split(host, '.')), ',') END
       || regexp_extract(regexp_extract(url_norm, '^[a-z]+://([^/?]*)', 1),
                         '(:[0-9]+)$', 1)
       || ')' || lower(regexp_extract(url_norm, '^[a-z]+://[^/?]*(.*)$', 1))
         AS surt,
       strftime(to_timestamp(cap.ts), '%Y%m%d%H%M%S') AS ts14,
       url_norm,
       cap.digest AS digest,
       cap.n_chars AS length
FROM latest ORDER BY surt, ts14
"""
)


def q_clean_text_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-text cleanup audit (webops.clean_text): deterministic junk
    (tab/bell/BOM/zero-width + stray double spaces, keyed on doc_id%4
    with variant 3 left clean) is injected into the documents and the
    cleaner must strip control/zero-width chars, collapse whitespace,
    and trim — pinned by before/after lengths, the changed flag, and
    the md5 of every cleaned text."""
    from recon_spark.operators.webops import clean_text

    v = F.col("doc_id") % 4
    dirty = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(v == 0, F.concat(F.lit("\t"), F.col("text"), F.lit("  ")))
        .when(v == 1, F.concat(F.col("text"), F.lit("\x07x")))
        .when(
            v == 2,
            F.concat(F.lit("\ufeff"), F.replace(F.col("text"), F.lit(" "), F.lit("  "))),
        )
        .otherwise(F.col("text")),
    )
    return clean_text(dirty).select(
        "doc_id",
        "n_chars_before",
        "n_chars_after",
        "changed",
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


# DuckDB twin: chr() for the injected junk; regexp_replace NEEDS the 'g'
# flag (DuckDB replaces first match by default; Spark replaces all)
SQL_CLEAN_TEXT_AUDIT = r"""
WITH dirty AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN chr(9) || text || '  '
      WHEN 1 THEN text || chr(7) || 'x'
      WHEN 2 THEN chr(65279) || replace(text, ' ', '  ')
      ELSE text END AS text
  FROM documents
),
cleaned AS (
  SELECT doc_id, text,
    trim(regexp_replace(regexp_replace(text,
      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{FFFD}\x{200B}\x{200C}\x{200D}\x{FEFF}]',
      '', 'g'), '[ \t\r\n]+', ' ', 'g')) AS ct
  FROM dirty
)
SELECT doc_id, CAST(length(text) AS INT) AS n_chars_before,
       CAST(length(ct) AS INT) AS n_chars_after,
       ct <> text AS changed, md5(ct) AS clean_md5
FROM cleaned ORDER BY doc_id
"""


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate, WORD-LEVEL rules only, with
    named failure reasons (textstats.gopher_quality_filter). Thresholds
    pinned so every rule fires on the test corpus: word count [40, 90],
    mean word length [4.0, 5.0], >= 1 of a 4-word stopword probe. The
    full paper rule set (8-word stopword list, symbol/bullet/ellipsis/
    duplicate-line rules) is gopher_filter_full."""
    from recon_spark.operators.textstats import gopher_quality_filter

    return gopher_quality_filter(
        _docs(spark, sf_dir),
        min_words=40,
        max_words=90,
        min_word_len=4.0,
        max_word_len=5.0,
        min_stopwords=1,
        stopwords=("the", "and", "with", "of"),
        max_symbol_word_ratio=None,
        max_bullet_line_frac=None,
        max_ellipsis_line_frac=None,
        max_dup_line_frac=None,
    ).drop("n_lines")


SQL_GOPHER_FILTER = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_words,
         list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS sum_len,
         CAST(len(list_filter(['the', 'and', 'with', 'of'],
                              s -> list_contains(toks, s))) AS INT) AS n_stopwords,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha
  FROM t
),
r AS (
  SELECT doc_id, n_words, n_stopwords,
         CASE WHEN n_words = 0 THEN 0.0 ELSE sum_len * 1.0 / n_words END AS mwl,
         CASE WHEN n_words = 0 THEN 0.0 ELSE n_alpha * 1.0 / n_words END AS af
  FROM m
),
f AS (
  SELECT doc_id, n_words, n_stopwords, mwl,
    list_filter([
      CASE WHEN n_words < 40 THEN 'words_low' END,
      CASE WHEN n_words > 90 THEN 'words_high' END,
      CASE WHEN mwl < 4.0 THEN 'word_len_low' END,
      CASE WHEN mwl > 5.0 THEN 'word_len_high' END,
      CASE WHEN n_stopwords < 1 THEN 'stopwords' END,
      CASE WHEN af < 0.8 THEN 'alpha_frac' END
    ], x -> x IS NOT NULL) AS fails
  FROM r
)
SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len, n_stopwords,
       len(fails) = 0 AS keep,
       coalesce(array_to_string(fails, ','), '') AS reasons
FROM f ORDER BY doc_id
"""


# Structured-text synth for the FULL Gopher gate: the corpus text is
# single-line prose with no bullets/ellipses/hash symbols, so (like
# clean_text_audit's junk injection) both engines deterministically
# rebuild doc texts that exercise the line/symbol rules. seg1/seg2 are
# fixed substrings of the doc's own text.
_GOPHER_FULL_TEXT_EXPR = r"""
CASE doc_id % 6
  WHEN 1 THEN concat(substring(text, 1, 60), '\n', substring(text, 1, 60),
    '\n', substring(text, 1, 60), '\n', substring(text, 61, 60))
  WHEN 2 THEN concat('• ', substring(text, 1, 60), '\n• ',
    substring(text, 61, 60), '\n• ', substring(text, 1, 60))
  WHEN 3 THEN concat(substring(text, 1, 60), '...\n',
    substring(text, 61, 60), '...')
  WHEN 4 THEN concat(substring(text, 1, 60), ' # # # # # #')
  WHEN 5 THEN concat('to be of and the ', substring(text, 1, 60), '\n',
    substring(text, 61, 60))
  ELSE concat('that have with of ', text)
END
"""

_SQL_GOPHER_FULL_TEXT_EXPR = """
CASE doc_id % 6
  WHEN 1 THEN substring(text, 1, 60) || chr(10) || substring(text, 1, 60)
    || chr(10) || substring(text, 1, 60) || chr(10) || substring(text, 61, 60)
  WHEN 2 THEN '• ' || substring(text, 1, 60) || chr(10) || '• '
    || substring(text, 61, 60) || chr(10) || '• ' || substring(text, 1, 60)
  WHEN 3 THEN substring(text, 1, 60) || '...' || chr(10)
    || substring(text, 61, 60) || '...'
  WHEN 4 THEN substring(text, 1, 60) || ' # # # # # #'
  WHEN 5 THEN 'to be of and the ' || substring(text, 1, 60) || chr(10)
    || substring(text, 61, 60)
  ELSE 'that have with of ' || text
END
"""


def q_gopher_filter_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Gopher appendix-A gate (paper defaults: 8-word stopword
    rule, symbol-to-word ratio, bullet/ellipsis line fractions,
    duplicate-line fraction) over deterministically structured doc
    texts, so every rule class fires on the test corpus. Word bounds
    relaxed to the synth segment size; everything else is the paper's
    thresholds. Map-only JVM plan like the word-level twin."""
    from recon_spark.operators.textstats import gopher_quality_filter

    docs = _docs(spark, sf_dir).withColumn(
        "text", F.expr(_GOPHER_FULL_TEXT_EXPR)
    )
    return gopher_quality_filter(
        docs, min_words=8, max_words=120, min_word_len=1.0
    )


SQL_GOPHER_FILTER_FULL = f"""
WITH synth AS (
  SELECT doc_id, {_SQL_GOPHER_FULL_TEXT_EXPR} AS t2 FROM documents
),
t AS (
  SELECT doc_id, t2,
         list_filter(string_split(t2, ' '), x -> x <> '') AS toks,
         list_filter(list_transform(string_split(t2, chr(10)), l -> trim(l)),
                     l -> l <> '') AS lines
  FROM synth
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_words,
         list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS sum_len,
         CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have',
                               'with'],
                              s -> list_contains(toks, s))) AS INT)
           AS n_stopwords,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
         (length(t2) - length(replace(t2, '#', '')))
           + (length(t2) - length(replace(t2, '...', ''))) / 3.0 AS n_symbols,
         CAST(len(lines) AS INT) AS n_lines,
         len(list_filter(lines, l -> starts_with(l, '•')
             OR starts_with(l, '- ') OR starts_with(l, '* ')
             OR starts_with(l, '· '))) AS n_bullet,
         len(list_filter(lines, l -> ends_with(l, '...')
             OR ends_with(l, '…'))) AS n_ellipsis,
         len(lines) - len(list_distinct(lines)) AS n_dup
  FROM t
),
r AS (
  SELECT doc_id, n_words, n_stopwords, n_lines,
         CASE WHEN n_words = 0 THEN 0.0 ELSE sum_len * 1.0 / n_words END AS mwl,
         CASE WHEN n_words = 0 THEN 0.0 ELSE n_alpha * 1.0 / n_words END AS af,
         CASE WHEN n_words = 0 THEN 0.0 ELSE n_symbols / n_words END AS sr,
         CASE WHEN n_lines = 0 THEN 0.0 ELSE n_bullet * 1.0 / n_lines END AS bf,
         CASE WHEN n_lines = 0 THEN 0.0 ELSE n_ellipsis * 1.0 / n_lines END AS ef,
         CASE WHEN n_lines = 0 THEN 0.0 ELSE n_dup * 1.0 / n_lines END AS df
  FROM m
),
f AS (
  SELECT doc_id, n_words, n_stopwords, n_lines, mwl,
    list_filter([
      CASE WHEN n_words < 8 THEN 'words_low' END,
      CASE WHEN n_words > 120 THEN 'words_high' END,
      CASE WHEN mwl < 1.0 THEN 'word_len_low' END,
      CASE WHEN mwl > 10.0 THEN 'word_len_high' END,
      CASE WHEN n_stopwords < 2 THEN 'stopwords' END,
      CASE WHEN af < 0.8 THEN 'alpha_frac' END,
      CASE WHEN sr > 0.1 THEN 'symbol_ratio' END,
      CASE WHEN bf > 0.9 THEN 'bullet_lines' END,
      CASE WHEN ef > 0.3 THEN 'ellipsis_lines' END,
      CASE WHEN df > 0.3 THEN 'dup_lines' END
    ], x -> x IS NOT NULL) AS fails
  FROM r
)
SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len, n_stopwords, n_lines,
       len(fails) = 0 AS keep,
       coalesce(array_to_string(fails, ','), '') AS reasons
FROM f ORDER BY doc_id
"""


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r3 curation-gate FUNNEL — the per-stage survivor report every
    pretraining pipeline publishes: gopher quality gate -> domain
    blocklist -> benchmark decontamination -> weighted source mixing,
    applied cumulatively. Returns (stage, n_in, n_out), n_in of each
    stage = n_out of the previous.

    Plan shape: every gate's per-doc decision becomes a boolean flag
    via doc_id-keyed left joins (AQE broadcasts the small drop/keep
    sides), then ONE aggregation computes all four cumulative survivor
    counts and a stack() unpivots the single row — no per-stage
    actions, no driver loop; at 10^12 docs this is one pass plus the
    gates' own map-side work. clean_corpus is the r1 twin of this
    report over the text-metrics/near-dup gates."""
    from recon_spark.operators.curation import ngram_contamination, source_mix_sample
    from recon_spark.operators.textstats import gopher_quality_filter
    from recon_spark.operators.webops import blocklist_filter

    docs = _docs(spark, sf_dir)
    gop = gopher_quality_filter(
        docs,
        min_words=40,
        max_words=90,
        min_word_len=4.0,
        max_word_len=5.0,
        min_stopwords=1,
        stopwords=("the", "and", "with", "of"),
        max_symbol_word_ratio=None,
        max_bullet_line_frac=None,
        max_ellipsis_line_frac=None,
        max_dup_line_frac=None,
    ).select("doc_id", F.col("keep").alias("k1"))
    blk = (
        blocklist_filter(_docs_with_urls(spark, sf_dir), _BLOCKLIST)
        .select("doc_id")
        .withColumn("kb", F.lit(True))
    )
    bench = docs.where(F.col("doc_id") % _BENCH_MOD == 0).select(
        "doc_id",
        F.array_join(
            F.slice(F.split("text", " "), _BENCH_OFF, _BENCH_W), " "
        ).alias("text"),
    )
    contam = (
        ngram_contamination(docs, bench, n=_CONTAM_N)
        .select("doc_id")
        .withColumn("ic", F.lit(True))
    )
    mix = (
        source_mix_sample(docs, rates=_MIX_RATES, default_rate=_MIX_DEFAULT)
        .select("doc_id")
        .withColumn("km", F.lit(True))
    )
    # cumulative survivors in one agg (contam drops, mix keeps)
    flags = (
        docs.select("doc_id")
        .join(gop, "doc_id")
        .join(blk, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .join(mix, "doc_id", "left")
    )
    s1 = F.col("k1")
    s2 = s1 & F.coalesce("kb", F.lit(False))
    s3 = s2 & ~F.coalesce("ic", F.lit(False))
    s4 = s3 & F.coalesce("km", F.lit(False))
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(s1.cast("int")).alias("n1"),
        F.sum(s2.cast("int")).alias("n2"),
        F.sum(s3.cast("int")).alias("n3"),
        F.sum(s4.cast("int")).alias("n4"),
    )
    return agg.selectExpr(
        "stack(4, '1_gopher', n0, n1, '2_blocklist', n1, n2, "
        "'3_decontaminate', n2, n3, '4_source_mix', n3, n4) "
        "AS (stage, n_in, n_out)"
    ).orderBy("stage")


def _sql_curation_funnel() -> str:
    from recon_spark.operators.curation import _rate_threshold_hex

    cases = " ".join(
        f"WHEN coalesce(source, '') = '{s}' THEN '{_rate_threshold_hex(r)}'"
        for s, r in sorted(_MIX_RATES.items())
    )
    blk_preds = " OR ".join(
        f"host = '{d}' OR host LIKE '%.{d}'" for d in _BLOCKLIST
    )
    url_ctes = _SQL_URL_NORM_CTES.strip()
    assert url_ctes.startswith("WITH ")
    url_ctes = url_ctes[len("WITH "):]
    return f"""
WITH tk AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
gf AS (
  SELECT doc_id,
    (len(toks) BETWEEN 40 AND 90)
    AND (CASE WHEN len(toks) = 0 THEN 0.0
         ELSE list_aggregate(list_transform(toks, x -> length(x)), 'sum')
              * 1.0 / len(toks) END BETWEEN 4.0 AND 5.0)
    AND len(list_filter(['the', 'and', 'with', 'of'],
                        s -> list_contains(toks, s))) >= 1
    AND (CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
              * 1.0 / len(toks) END) >= 0.8 AS k1
  FROM tk
),
{url_ctes},
blk AS (SELECT doc_id FROM normed WHERE NOT ({blk_preds})),
bt AS (
  SELECT doc_id,
         string_split(text, ' ')[{_BENCH_OFF}:{_BENCH_OFF + _BENCH_W - 1}] AS toks
  FROM documents WHERE doc_id % {_BENCH_MOD} = 0
),
bg AS (
  SELECT DISTINCT md5(array_to_string(toks[i:i+{_CONTAM_N - 1}], ' ')) AS g
  FROM bt, LATERAL unnest(generate_series(1, greatest(len(toks) - {_CONTAM_N - 1}, 0))) AS t(i)
),
ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
cg AS (
  SELECT doc_id, md5(array_to_string(toks[i:i+{_CONTAM_N - 1}], ' ')) AS g
  FROM ct, LATERAL unnest(generate_series(1, greatest(len(toks) - {_CONTAM_N - 1}, 0))) AS t(i)
),
contam AS (SELECT DISTINCT c.doc_id FROM cg c JOIN bg USING (g)),
mixk AS (
  SELECT doc_id FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR) || '|' || coalesce(source, '')), 1, 8)
        < CASE {cases} ELSE '{_rate_threshold_hex(_MIX_DEFAULT)}' END
),
flags AS (
  SELECT d.doc_id, gf.k1,
         (blk.doc_id IS NOT NULL) AS kb,
         (contam.doc_id IS NOT NULL) AS ic,
         (mixk.doc_id IS NOT NULL) AS km
  FROM documents d
  JOIN gf USING (doc_id)
  LEFT JOIN blk USING (doc_id)
  LEFT JOIN contam USING (doc_id)
  LEFT JOIN mixk USING (doc_id)
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN k1 AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN k1 AND kb AND NOT ic THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN k1 AND kb AND NOT ic AND km THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM flags
)
SELECT '1_gopher' AS stage, n0 AS n_in, n1 AS n_out FROM s
UNION ALL SELECT '2_blocklist', n1, n2 FROM s
UNION ALL SELECT '3_decontaminate', n2, n3 FROM s
UNION ALL SELECT '4_source_mix', n3, n4 FROM s
ORDER BY stage
"""


# --------------------------------------------------------------------------
# DSIR importance resampling (operators/curation.py:dsir_resample)
# --------------------------------------------------------------------------

_DSIR_TARGETS = ["src0", "src1"]
_DSIR_BUCKETS = 64
_DSIR_K = 100


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: hashed unigram+bigram bucket importance
    weights w(b)=ln(p_target/q_raw) (micro-nat integers), per-doc sums,
    top-k kept. Target distribution = sources src0+src1. Corpus text
    never shuffles; see curation.dsir_resample for the plan shape."""
    from recon_spark.operators.curation import dsir_resample

    return dsir_resample(
        _docs(spark, sf_dir),
        target_sources=_DSIR_TARGETS,
        k=_DSIR_K,
        n_buckets=_DSIR_BUCKETS,
    )


SQL_DSIR_RESAMPLE = f"""
WITH toks_t AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, source, unnest(toks) AS g FROM toks_t
  UNION ALL
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM toks_t WHERE len(toks) >= 2
),
bucketed AS (
  SELECT doc_id, source,
         CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % {_DSIR_BUCKETS}
           AS bucket
  FROM grams
),
tot AS (
  SELECT count(*) AS q_tot,
         sum(CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END) AS p_tot
  FROM bucketed
),
wb AS (
  SELECT bucket,
    CAST(round(ln(
      ((sum(CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END) + 0.5)
         / (tot.p_tot + 0.5 * {_DSIR_BUCKETS}))
      / ((count(*) + 0.5) / (tot.q_tot + 0.5 * {_DSIR_BUCKETS}))
    ) * 1000000) AS BIGINT) AS w_micro
  FROM bucketed, tot
  GROUP BY bucket, tot.p_tot, tot.q_tot
),
scored AS (
  SELECT b.doc_id, b.source, count(*) AS n_grams,
         round(sum(w.w_micro) / 1000000.0, 6) AS dsir_score
  FROM bucketed b JOIN wb w USING (bucket)
  GROUP BY b.doc_id, b.source
)
SELECT doc_id, source, CAST(n_grams AS BIGINT) AS n_grams, dsir_score
FROM scored ORDER BY dsir_score DESC, doc_id LIMIT {_DSIR_K}
"""


# --------------------------------------------------------------------------
# Public Suffix List registered-domain (operators/webops.py PSL mode +
# data/psl_snapshot.py). Hosts synthesized from doc_id to cover every
# rule CLASS the round-3 heuristic mis-grouped: multi-label ccTLD
# registries (ne.jp), private platform suffixes (github.io), wildcard
# (*.ck), exception (!www.ck), plus plain .com/.co.uk and a single-label
# intranet name. Both engines replay the full PSL longest-match
# algorithm independently (Spark: literal-map lookups over the host's
# suffixes; DuckDB: list comprehensions over the same rule snapshot).
# --------------------------------------------------------------------------

# cases 10-13 (r5) resolve correctly ONLY under the full ~9.5k-rule
# list: a 5-label exact rule (s3.dualstack...amazonaws.com), the
# *.kawasaki.jp wildcard, its !city.kawasaki.jp exception, and an
# unlisted TLD falling to the implicit default rule — the snapshot
# would mis-group all four, so the green oracle row is evidence the
# full list is actually load-bearing.
_PSL_HOST_EXPR = """
CASE doc_id % 14
  WHEN 0 THEN concat('sub', CAST(doc_id DIV 10 % 3 AS STRING), '.site',
    CAST(doc_id DIV 10 % 5 AS STRING), '.ne.jp')
  WHEN 1 THEN concat('user', CAST(doc_id DIV 10 % 7 AS STRING), '.github.io')
  WHEN 2 THEN concat('pages.user', CAST(doc_id DIV 10 % 7 AS STRING), '.github.io')
  WHEN 3 THEN concat('shop', CAST(doc_id DIV 10 % 5 AS STRING), '.example.co.uk')
  WHEN 4 THEN concat('site', CAST(doc_id DIV 10 % 5 AS STRING), '.example.com')
  WHEN 5 THEN concat('foo', CAST(doc_id DIV 10 % 4 AS STRING), '.ck')
  WHEN 6 THEN concat('bar.foo', CAST(doc_id DIV 10 % 4 AS STRING), '.ck')
  WHEN 7 THEN 'www.ck'
  WHEN 8 THEN concat('x', CAST(doc_id DIV 10 % 3 AS STRING), '.www.ck')
  WHEN 9 THEN 'localhost'
  WHEN 10 THEN concat('b', CAST(doc_id DIV 10 % 3 AS STRING),
    '.s3.dualstack.ap-southeast-1.amazonaws.com')
  WHEN 11 THEN concat('a', CAST(doc_id DIV 10 % 3 AS STRING), '.sub.foo',
    CAST(doc_id DIV 10 % 2 AS STRING), '.kawasaki.jp')
  WHEN 12 THEN 'www.city.kawasaki.jp'
  ELSE concat('foo', CAST(doc_id DIV 10 % 3 AS STRING), '.bar.unlistedtld')
END
"""

_SQL_PSL_HOST_EXPR = """
CASE doc_id % 14
  WHEN 0 THEN 'sub' || CAST(doc_id // 10 % 3 AS VARCHAR) || '.site'
    || CAST(doc_id // 10 % 5 AS VARCHAR) || '.ne.jp'
  WHEN 1 THEN 'user' || CAST(doc_id // 10 % 7 AS VARCHAR) || '.github.io'
  WHEN 2 THEN 'pages.user' || CAST(doc_id // 10 % 7 AS VARCHAR) || '.github.io'
  WHEN 3 THEN 'shop' || CAST(doc_id // 10 % 5 AS VARCHAR) || '.example.co.uk'
  WHEN 4 THEN 'site' || CAST(doc_id // 10 % 5 AS VARCHAR) || '.example.com'
  WHEN 5 THEN 'foo' || CAST(doc_id // 10 % 4 AS VARCHAR) || '.ck'
  WHEN 6 THEN 'bar.foo' || CAST(doc_id // 10 % 4 AS VARCHAR) || '.ck'
  WHEN 7 THEN 'www.ck'
  WHEN 8 THEN 'x' || CAST(doc_id // 10 % 3 AS VARCHAR) || '.www.ck'
  WHEN 9 THEN 'localhost'
  WHEN 10 THEN 'b' || CAST(doc_id // 10 % 3 AS VARCHAR)
    || '.s3.dualstack.ap-southeast-1.amazonaws.com'
  WHEN 11 THEN 'a' || CAST(doc_id // 10 % 3 AS VARCHAR) || '.sub.foo'
    || CAST(doc_id // 10 % 2 AS VARCHAR) || '.kawasaki.jp'
  WHEN 12 THEN 'www.city.kawasaki.jp'
  ELSE 'foo' || CAST(doc_id // 10 % 3 AS VARCHAR) || '.bar.unlistedtld'
END
"""


def _docs_with_psl_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from recon_spark.data.psl_snapshot import psl_table
    from recon_spark.operators.webops import registered_domain

    docs = _docs(spark, sf_dir).withColumn("host", F.expr(_PSL_HOST_EXPR))
    # DataFrame mode on purpose: exercises the parquet-dimension shape
    # (bounded PSL collected once driver-side into the literal plan).
    # full=True: the REAL ~9.5k-rule publicsuffix.org list — the r4
    # snapshot's "the full list drops in unchanged" claim, exercised.
    return registered_domain(docs, psl=psl_table(spark, full=True))


def _sql_psl_reg_domain_ctes() -> str:
    """DuckDB replay of the PSL longest-match algorithm over the SAME
    full rule list, generated from parse_psl_rules so the twins cannot
    drift. Defines CTE `psl_reg(doc_id, host, reg_domain, lang,
    n_chars)` over documents doc_id < 500.

    Shape: at ~9.5k rules the r4 list-comprehension replay (every rule
    probed per row) would do ~14M string compares; instead the rules
    become a VALUES relation and each host's ancestor suffixes hash-
    join against it — the relational formulation of the same longest-
    match, linear in rows + rules."""
    from recon_spark.data.psl_snapshot import full_psl_rules, parse_psl_rules

    exact, wild, exc = parse_psl_rules(full_psl_rules())

    def q(s: str) -> str:
        return s.replace("'", "''")

    rows = (
        [(r, "e", k) for r, k in sorted(exact.items())]
        + [(b, "w", k) for b, k in sorted(wild.items())]
        + [(d, "x", k) for d, k in sorted(exc.items())]
    )
    values = ",\n  ".join(f"('{q(r)}', '{kind}', {plen})" for r, kind, plen in rows)

    return f"""
WITH psl_rules(rule, kind, plen) AS (
  VALUES
  {values}
),
h AS (
  SELECT doc_id, {_SQL_PSL_HOST_EXPR} AS host, lang, n_chars
  FROM documents WHERE doc_id < 500
),
c AS (
  SELECT *, string_split(host, '.') AS labels,
         len(string_split(host, '.')) AS n
  FROM h
),
m AS (
  SELECT doc_id, unnest([array_to_string(labels[CAST(i AS INT):n], '.')
                         FOR i IN range(1, n + 1)]) AS anc
  FROM c
),
j AS (
  SELECT m.doc_id,
         max(CASE WHEN r.kind = 'x' THEN r.plen END) AS exc_len,
         max(CASE WHEN r.kind = 'e' THEN r.plen END) AS rule_len,
         max(CASE WHEN r.kind = 'w' THEN r.plen END) AS wild_len_raw
  FROM m JOIN psl_rules r ON m.anc = r.rule
  GROUP BY m.doc_id
),
s AS (
  SELECT c.*, j.exc_len, j.rule_len,
         CASE WHEN j.wild_len_raw <= c.n THEN j.wild_len_raw END AS wild_len
  FROM c LEFT JOIN j USING (doc_id)
),
s2 AS (
  SELECT *, coalesce(exc_len,
            greatest(coalesce(rule_len, 1), coalesce(wild_len, 1), 1))
            AS ps_len
  FROM s
),
psl_reg AS (
  SELECT doc_id, host,
    CASE WHEN host LIKE '[%' OR host = '' THEN host
         WHEN n <= ps_len THEN host
         ELSE array_to_string(labels[n - ps_len : n], '.') END AS reg_domain,
    lang, n_chars
  FROM s2
)
"""


# --------------------------------------------------------------------------
# WARC round trip (recon_spark/warc.py): serialize docs as real WARC/1.0
# .warc.gz files (distributed sink, one file per partition), read them
# back through the binaryFile + Arrow record parser, extract text from
# the html payload via the pages-pipeline extractor. The oracle never
# sees WARC: it recomputes the EXPECTED output from the same html
# string built relationally — any framing/Content-Length/gzip/date bug
# on either side of the round trip hash-fails.
# --------------------------------------------------------------------------

_WARC_STAGING: dict[str, str] = {}
_WARC_N = 500


def _stage_warc(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import os
    import shutil
    import tempfile

    from recon_spark.warc import write_warc_files

    key = os.path.abspath(sf_dir)
    if key not in _WARC_STAGING:
        out_dir = tempfile.mkdtemp(prefix="recon_warc_src_")
        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
        docs = (
            _docs(spark, sf_dir)
            .where(F.col("doc_id") < _WARC_N)
            .select(
                F.concat(F.lit("https://ex.org/d/"), F.col("doc_id")).alias("url"),
                (F.lit(_INGEST_EPOCH) + F.col("doc_id")).cast("long").alias("warc_ts_s"),
                F.encode(
                    F.concat(
                        F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")
                    ),
                    "utf-8",
                ).alias("html"),
            )
            .repartition(8, "url")
        )
        write_warc_files(docs, out_dir).count()  # executes the sink
        _WARC_STAGING[key] = out_dir
    return _WARC_STAGING[key]


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full WARC round trip: distributed .warc.gz sink -> binaryFile +
    Arrow record-parse source -> html text extraction. One task per
    WARC file — Common Crawl's own distribution unit; see
    recon_spark/warc.py. Extraction is the REAL-CRAWL path
    (html_to_text_v2: charset-aware, script/style/comment-stripping,
    full entity unescape) — on these clean fixtures it is byte-equal to
    the pinned v1 contract, which the oracle's regex replay proves."""
    from recon_spark.pages import extract_text_column_v2
    from recon_spark.warc import read_warc

    out_dir = _stage_warc(spark, sf_dir)
    pages = read_warc(spark, out_dir)
    pages = extract_text_column_v2(pages, content_type_col="content_type")
    return pages.select(
        "url",
        "warc_ts_s",
        F.length("html").alias("n_html_bytes"),
        F.length("text").alias("n_text_chars"),
        F.md5(F.encode("text", "utf-8")).alias("text_md5"),
    ).orderBy("url")


SQL_WARC_INGEST = f"""
WITH d AS (
  SELECT 'https://ex.org/d/' || CAST(doc_id AS VARCHAR) AS url,
         {_INGEST_EPOCH} + doc_id AS warc_ts_s,
         '<html><body><p>' || text || '</p></body></html>' AS html
  FROM documents WHERE doc_id < {_WARC_N}
),
x AS (
  SELECT url, warc_ts_s, octet_length(encode(html)) AS n_html_bytes,
         trim(regexp_replace(regexp_replace(html, '<[^>]+>', ' ', 'g'),
                             '[ \t\r\n]+', ' ', 'g')) AS text
  FROM d
)
SELECT url, CAST(warc_ts_s AS BIGINT) AS warc_ts_s,
       CAST(n_html_bytes AS INT) AS n_html_bytes,
       CAST(length(text) AS INT) AS n_text_chars,
       md5(text) AS text_md5
FROM x ORDER BY url
"""


def q_warc_to_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star path end to end FROM RAW CRAWL BYTES: WARC files
    -> record parse -> html_to_text -> SVO extraction -> alias
    canonicalization -> (subj, pred, obj, n). The oracle runs the same
    triple factory SQL over the original documents text — equality
    proves the WARC serialize/parse/extract leg is byte-faithful all
    the way into the KG (the per-url byte-identical text contract,
    extended to the triples it produces)."""
    from recon_spark.operators.extraction import extract_triples_tokens
    from recon_spark.pages import extract_text_column_v2
    from recon_spark.queries.core import canonicalize_triples
    from recon_spark.warc import read_warc

    out_dir = _stage_warc(spark, sf_dir)
    pages = extract_text_column_v2(
        read_warc(spark, out_dir), content_type_col="content_type"
    )
    docs = pages.select(
        F.regexp_extract("url", r"/d/([0-9]+)$", 1).cast("long").alias("doc_id"),
        "text",
    )
    return canonicalize_triples(spark, extract_triples_tokens(docs))


def _sql_warc_to_triples() -> str:
    from recon_spark.queries.core import SQL_TRIPLES_CANONICAL

    assert SQL_TRIPLES_CANONICAL.lstrip().startswith("WITH ")
    # shadow the documents view with the WARC-staged subset (main. =
    # DuckDB's schema-qualified escape from the CTE name collision)
    return (
        f"WITH documents AS (SELECT * FROM main.documents WHERE doc_id < {_WARC_N}),\n"
        + SQL_TRIPLES_CANONICAL.lstrip()[len("WITH ") :]
    )


# --------------------------------------------------------------------------
# Real-crawl HTML extraction (pages.html_to_text_v2 over WARC bytes).
# Fixtures are deliberately MESSY — the three ways actual Common Crawl
# pages break a naive extractor (r4 verdict gap #1): script/style/
# comment content, the full HTML5 entity table (incl. the compound
# "&amp;lt;" single-pass subtlety and unknown entities), and a
# non-UTF-8 (ISO-8859-1) page declared via http-equiv meta. The oracle
# never replays the extractor: it KNOWS the expected text because it
# constructs the page around it — any v2 bug (wrong strip order, double
# unescape, charset misdetect) hash-fails.
# --------------------------------------------------------------------------

_WARC_MESSY_STAGING: dict[str, str] = {}
_WARC_MESSY_N = 400
# the last _MESSY_DUP pages carry the TEXT of the page _MESSY_DUP ids
# earlier (same doc_id % 4, so same messy wrapper -> byte-identical
# extracted text): real crawls contain exact duplicates, and the
# funnel's dedup stage needs true collisions to be load-bearing
_MESSY_DUP = 20

_MESSY_HEAD_UTF8 = (
    '<html><head><meta charset="utf-8"><title>t0</title>'
    "<style>p > .x { color: red; }</style></head><body>"
    '<script type="text/javascript">var x = "<b>not text</b>";'
    " if (a<b && b>c) {}</script><!-- skip <p>this</p> --><p>"
    "caf&eacute; &#8212; &quot;q&quot; &amp;lt;tag&amp;gt; "
    "&#x27;s&#39; &hellip;&nbsp;"
)
_MESSY_PREFIX_LATIN1 = "caf\xe9 f\xfchrt \xc6r\xf8 \xb1\xbd "
_MESSY_HEAD_LATIN1 = (
    '<html><head><meta http-equiv="Content-Type" '
    'content="text/html; charset=ISO-8859-1"></head><body>'
    "<!-- latin-1 comment noise --><p>" + _MESSY_PREFIX_LATIN1
)
_MESSY_HEAD_ENTITIES = (
    "<html><body><p>&amp;lt;e&amp;gt; &#38; &unknown; "
)

# expected decoded prefixes (what html_to_text_v2 must emit)
_EXP_UTF8 = "caf\xe9 — \"q\" &lt;tag&gt; 's' … "
_EXP_LATIN1 = _MESSY_PREFIX_LATIN1
_EXP_ENTITIES = "&lt;e&gt; & &unknown; "


def _stage_warc_messy(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import os
    import shutil
    import tempfile

    from recon_spark.warc import write_warc_files

    key = os.path.abspath(sf_dir)
    if key not in _WARC_MESSY_STAGING:
        out_dir = tempfile.mkdtemp(prefix="recon_warc_messy_")
        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
        c = F.col("doc_id") % 4
        page = (
            F.when(c == 0, F.concat(F.lit(_MESSY_HEAD_UTF8), F.col("text")))
            .when(c == 1, F.concat(F.lit(_MESSY_HEAD_LATIN1), F.col("text")))
            .when(c == 2, F.concat(F.lit(_MESSY_HEAD_ENTITIES), F.col("text")))
            .otherwise(F.concat(F.lit("<html><body><p>"), F.col("text")))
        )
        page = F.concat(page, F.lit("</p></body></html>"))
        base = _docs(spark, sf_dir)
        src_id = F.when(
            F.col("doc_id") >= _WARC_MESSY_N - _MESSY_DUP,
            F.col("doc_id") - _MESSY_DUP,
        ).otherwise(F.col("doc_id"))
        docs = (
            base.where(F.col("doc_id") < _WARC_MESSY_N)
            .select("doc_id", src_id.alias("src_id"))
            .join(
                base.select(F.col("doc_id").alias("src_id"), "text"),
                "src_id",
            )
            .select(
                F.concat(F.lit("https://ex.org/m/"), F.col("doc_id")).alias("url"),
                (F.lit(_INGEST_EPOCH) + F.col("doc_id")).cast("long").alias("warc_ts_s"),
                # the latin-1 case is ENCODED latin-1 — the bytes on
                # disk are genuinely non-UTF-8 and only the meta
                # declaration says so
                F.when(c == 1, F.encode(page, "ISO-8859-1"))
                .otherwise(F.encode(page, "utf-8"))
                .alias("html"),
            )
            .repartition(8, "url")
        )
        write_warc_files(docs, out_dir).count()
        _WARC_MESSY_STAGING[key] = out_dir
    return _WARC_MESSY_STAGING[key]


def q_warc_real_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-crawl extraction over messy WARC bytes: read_warc ->
    html_to_text_v2 (charset from Content-Type/meta, script/style/
    comment content stripped, full entity unescape). Map-only after the
    one-task-per-file scan — the same plan shape as warc_ingest; the
    per-page md5 pins every byte of the extracted text."""
    from recon_spark.pages import extract_text_column_v2
    from recon_spark.warc import read_warc

    out_dir = _stage_warc_messy(spark, sf_dir)
    pages = extract_text_column_v2(
        read_warc(spark, out_dir), content_type_col="content_type"
    )
    return pages.select(
        "url",
        (F.regexp_extract("url", r"/m/([0-9]+)$", 1).cast("long") % 4)
        .cast("int")
        .alias("case_id"),
        F.length("text").cast("int").alias("n_chars"),
        F.md5(F.encode("text", "utf-8")).alias("text_md5"),
    ).orderBy("url")


_WET_STAGING: dict = {}


def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full CC text-distribution loop (round 5): raw messy WARC ->
    read_warc -> html_to_text_v2 -> write_wet_files (WET ``conversion``
    records, text/plain, streamed + atomically published) -> read_warc
    again over the WET output. Verified against the SAME oracle as
    warc_real_html: the round trip through the WET container must
    preserve every byte of the extracted text (per-page md5), so a
    framing, encoding, or Content-Length bug anywhere in the sink or
    the re-ingest hash-fails. The write is one map-only job (manifest
    forced, nothing but the manifest is collected); the read back is
    one task per WET file."""
    import atexit
    import os
    import shutil
    import tempfile

    from recon_spark.pages import extract_text_column_v2
    from recon_spark.warc import read_warc, write_wet_files

    key = os.path.abspath(sf_dir)
    if key not in _WET_STAGING:
        src_dir = _stage_warc_messy(spark, sf_dir)
        wet_dir = tempfile.mkdtemp(prefix="recon_wet_")
        atexit.register(shutil.rmtree, wet_dir, ignore_errors=True)
        pages = extract_text_column_v2(
            read_warc(spark, src_dir), content_type_col="content_type"
        )
        manifest = write_wet_files(
            pages.repartition(4, "url"), wet_dir
        ).collect()
        assert sum(m["n_records"] for m in manifest) > 0
        _WET_STAGING[key] = wet_dir
    wet = read_warc(spark, _WET_STAGING[key])
    text = F.decode("html", "utf-8")
    return wet.where(F.col("rec_type") == "conversion").select(
        "url",
        (F.regexp_extract("url", r"/m/([0-9]+)$", 1).cast("long") % 4)
        .cast("int")
        .alias("case_id"),
        F.length(text).cast("int").alias("n_chars"),
        F.md5(F.encode(text, "utf-8")).alias("text_md5"),
    ).orderBy("url")


def _sql_messy_pages_ctes() -> str:
    """CTE fragment ``exd, ex`` reconstructing the EXPECTED extracted
    text of the messy WARC staging (duplicate injection included) from
    ``main.documents`` — the schema-qualified name keeps working when a
    caller later shadows ``documents`` with ``ex`` itself. Shared by
    warc_real_html and curation_funnel_warc so the fixtures' single
    definition of truth stays single."""

    def q(s: str) -> str:
        return s.replace("'", "''")

    return f"""exd AS (
  SELECT a.doc_id, 'https://ex.org/m/' || CAST(a.doc_id AS VARCHAR) AS url,
         trim(regexp_replace(b.text, '[ \t\r\n]+', ' ', 'g')) AS t,
         a.lang, a.source, a.n_chars
  FROM main.documents a JOIN main.documents b
    ON b.doc_id = CASE WHEN a.doc_id >= {_WARC_MESSY_N - _MESSY_DUP}
                       THEN a.doc_id - {_MESSY_DUP} ELSE a.doc_id END
  WHERE a.doc_id < {_WARC_MESSY_N}
),
ex AS (
  SELECT doc_id, url,
         CASE doc_id % 4
           WHEN 0 THEN '{q(_EXP_UTF8)}' || t
           WHEN 1 THEN '{q(_EXP_LATIN1)}' || t
           WHEN 2 THEN '{q(_EXP_ENTITIES)}' || t
           ELSE t END AS text,
         lang, source, n_chars
  FROM exd
)"""


def _sql_warc_real_html() -> str:
    return f"""
WITH {_sql_messy_pages_ctes()}
SELECT url, CAST(doc_id % 4 AS INT) AS case_id,
       CAST(length(text) AS INT) AS n_chars,
       md5(text) AS text_md5
FROM ex ORDER BY url
"""


# --------------------------------------------------------------------------
# WARC-first curation funnel: the dress-rehearsal DAG the r4 verdict
# asked for — raw crawl bytes through EVERY production gate to the KG,
# one composed plan with per-stage survivor counts. Stages: v2 text
# extraction (messy fixtures) -> full Gopher gate on the EXTRACTED text
# -> full-PSL registered-domain blocklist -> benchmark decontamination
# -> exact dedup (the staging injects true duplicate records) ->
# canonical triples from the survivors. Like curation_funnel, every
# gate becomes a boolean flag joined on doc_id and ONE aggregation
# computes all cumulative counts — no per-stage actions, no driver
# loop. At 10^12 pages the WARC parse + extraction would be
# materialized once as the pages table (pages.py's shape) instead of
# recomputed per gate branch; at fixture scale recompute is free and
# keeps the query self-contained.
# --------------------------------------------------------------------------

_FUNNEL_WARC_BLOCK = ("example.co.uk", "city.kawasaki.jp")


def q_curation_funnel_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end survivor report FROM RAW WARC BYTES: extract (v2) ->
    gopher -> PSL blocklist -> decontaminate -> exact dedup -> triples.
    Returns (stage, n_in, n_out); the 5_triples row's n_out is the
    count of distinct canonical (subj, pred, obj) the survivors emit —
    the KG materialization the funnel exists to feed."""
    from pyspark.sql import Window

    from recon_spark.data.psl_snapshot import psl_table
    from recon_spark.operators.curation import ngram_contamination
    from recon_spark.operators.extraction import extract_triples_tokens
    from recon_spark.operators.textstats import gopher_quality_filter
    from recon_spark.operators.webops import registered_domain
    from recon_spark.pages import extract_text_column_v2
    from recon_spark.queries.core import canonicalize_triples
    from recon_spark.warc import read_warc

    out_dir = _stage_warc_messy(spark, sf_dir)
    docs = extract_text_column_v2(
        read_warc(spark, out_dir), content_type_col="content_type"
    ).select(
        F.regexp_extract("url", r"/m/([0-9]+)$", 1).cast("long").alias("doc_id"),
        "text",
    )
    # Each expensive flag ends in a groupBy(doc_id).first() BARRIER.
    # Without it, Catalyst alias-substitutes the survivor filter
    # (s4, below) through the join chain and pushes the FULL gate
    # expressions — the 9.5k-rule PSL matcher inlined into the
    # 14-branch host CASE — as a filter into EVERY branch of the DAG:
    # measured here as janino "Code grows beyond 64 KB" on five stages
    # (whole-stage codegen falls back to the interpreter) and, at
    # 10^12 rows, as the gate recomputed once per branch instead of
    # once. A filter cannot be rewritten through an aggregate's
    # non-grouping output, so the barrier pins each gate to exactly
    # one evaluation site; the agg's hash partitioning on doc_id is
    # exactly what the flags join needs, so no extra shuffle appears.
    def _once(flag_df: DataFrame, col: str) -> DataFrame:
        return flag_df.groupBy("doc_id").agg(F.first(col).alias(col))

    # gate 1: gopher quality on the EXTRACTED text (same thresholds as
    # curation_funnel so the two reports are comparable)
    gop = _once(
        gopher_quality_filter(
            docs,
            min_words=40,
            max_words=90,
            min_word_len=4.0,
            max_word_len=5.0,
            min_stopwords=1,
            stopwords=("the", "and", "with", "of"),
            max_symbol_word_ratio=None,
            max_bullet_line_frac=None,
            max_ellipsis_line_frac=None,
            max_dup_line_frac=None,
        ).select("doc_id", F.col("keep").alias("k1")),
        "k1",
    )
    # gate 2: full-PSL registered-domain blocklist (owner granularity)
    hosts = docs.select("doc_id").withColumn("host", F.expr(_PSL_HOST_EXPR))
    blk = _once(
        registered_domain(hosts, psl=psl_table(spark, full=True)).select(
            "doc_id", (~F.col("reg_domain").isin(*_FUNNEL_WARC_BLOCK)).alias("kb")
        ),
        "kb",
    )
    # gate 3: benchmark decontamination (bench built from the ORIGINAL
    # corpus, contamination checked against the EXTRACTED text)
    bench = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % _BENCH_MOD == 0)
        .select(
            "doc_id",
            F.array_join(
                F.slice(F.split("text", " "), _BENCH_OFF, _BENCH_W), " "
            ).alias("text"),
        )
    )
    contam = (
        ngram_contamination(docs, bench, n=_CONTAM_N)
        .select("doc_id")
        .withColumn("ic", F.lit(True))
    )
    # gate 4: exact dedup — first owner (min doc_id) per text hash wins
    kd = docs.select(
        "doc_id", F.md5(F.encode("text", "utf-8")).alias("h")
    ).select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("h"))).alias("kd"),
    )
    flags = (
        docs.select("doc_id")
        .join(gop, "doc_id")
        .join(blk, "doc_id")
        .join(contam, "doc_id", "left")
        .join(kd, "doc_id")
    )
    s1 = F.col("k1")
    s2 = s1 & F.col("kb")
    s3 = s2 & ~F.coalesce("ic", F.lit(False))
    s4 = s3 & F.col("kd")
    surv = flags.where(s4).select("doc_id")
    canon = canonicalize_triples(
        spark, extract_triples_tokens(docs.join(surv, "doc_id"))
    )
    tcnt = canon.agg(F.count(F.lit(1)).alias("nt"))
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(s1.cast("int")).alias("n1"),
        F.sum(s2.cast("int")).alias("n2"),
        F.sum(s3.cast("int")).alias("n3"),
        F.sum(s4.cast("int")).alias("n4"),
    )
    return (
        agg.crossJoin(tcnt)  # two 1-row aggregates
        .selectExpr(
            "stack(5, '1_gopher', n0, n1, '2_psl_blocklist', n1, n2, "
            "'3_decontaminate', n2, n3, '4_dedup_exact', n3, n4, "
            "'5_triples', n4, nt) AS (stage, n_in, n_out)"
        )
        .orderBy("stage")
    )


def _sql_curation_funnel_warc() -> str:
    from recon_spark.gazetteer import sql_alias_values
    from recon_spark.queries.core import _sql_triples_base

    psl_ctes = _sql_psl_reg_domain_ctes().strip()
    assert psl_ctes.startswith("WITH ")
    psl_ctes = psl_ctes[len("WITH "):]
    blk_list = ", ".join(f"'{d}'" for d in _FUNNEL_WARC_BLOCK)
    return f"""
WITH {_sql_messy_pages_ctes()},
documents AS (SELECT doc_id, text, lang, source, n_chars FROM ex),
tk AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
gf AS (
  SELECT doc_id,
    (len(toks) BETWEEN 40 AND 90)
    AND (CASE WHEN len(toks) = 0 THEN 0.0
         ELSE list_aggregate(list_transform(toks, x -> length(x)), 'sum')
              * 1.0 / len(toks) END BETWEEN 4.0 AND 5.0)
    AND len(list_filter(['the', 'and', 'with', 'of'],
                        s -> list_contains(toks, s))) >= 1
    AND (CASE WHEN len(toks) = 0 THEN 0.0
         ELSE len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
              * 1.0 / len(toks) END) >= 0.8 AS k1
  FROM tk
),
{psl_ctes},
blk AS (
  SELECT doc_id, reg_domain NOT IN ({blk_list}) AS kb FROM psl_reg
),
bt AS (
  SELECT doc_id,
         string_split(text, ' ')[{_BENCH_OFF}:{_BENCH_OFF + _BENCH_W - 1}] AS toks
  FROM main.documents WHERE doc_id % {_BENCH_MOD} = 0
),
bg AS (
  SELECT DISTINCT md5(array_to_string(toks[i:i+{_CONTAM_N - 1}], ' ')) AS g
  FROM bt, LATERAL unnest(generate_series(1, greatest(len(toks) - {_CONTAM_N - 1}, 0))) AS t(i)
),
ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
cg AS (
  SELECT doc_id, md5(array_to_string(toks[i:i+{_CONTAM_N - 1}], ' ')) AS g
  FROM ct, LATERAL unnest(generate_series(1, greatest(len(toks) - {_CONTAM_N - 1}, 0))) AS t(i)
),
contam AS (SELECT DISTINCT c.doc_id FROM cg c JOIN bg USING (g)),
kd AS (
  SELECT doc_id,
         doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS kd
  FROM documents
),
flags AS (
  SELECT d.doc_id, gf.k1, blk.kb,
         (contam.doc_id IS NOT NULL) AS ic, kd.kd
  FROM documents d
  JOIN gf USING (doc_id)
  JOIN blk USING (doc_id)
  LEFT JOIN contam USING (doc_id)
  JOIN kd USING (doc_id)
),
surv AS (SELECT doc_id FROM flags WHERE k1 AND kb AND NOT ic AND kd),
{_sql_triples_base()},
best AS (
  SELECT alias, entity_id FROM (
    SELECT alias, entity_id,
           row_number() OVER (PARTITION BY alias ORDER BY score DESC, entity_id) AS rk
    FROM {sql_alias_values()}
  ) WHERE rk = 1
),
canon AS (
  SELECT coalesce(bs.entity_id, t.subj) AS s, t.pred AS p,
         coalesce(bo.entity_id, t.obj) AS o
  FROM triples t
  JOIN surv USING (doc_id)
  LEFT JOIN best bs ON t.subj = bs.alias
  LEFT JOIN best bo ON t.obj = bo.alias
  GROUP BY 1, 2, 3
),
tc AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM canon),
cnt AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN k1 AND kb THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN k1 AND kb AND NOT ic THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN k1 AND kb AND NOT ic AND kd THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM flags
)
SELECT '1_gopher' AS stage, n0 AS n_in, n1 AS n_out FROM cnt
UNION ALL SELECT '2_psl_blocklist', n1, n2 FROM cnt
UNION ALL SELECT '3_decontaminate', n2, n3 FROM cnt
UNION ALL SELECT '4_dedup_exact', n3, n4 FROM cnt
UNION ALL SELECT '5_triples', n4, nt FROM cnt, tc
ORDER BY stage
"""


def q_reg_domain_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered domain under REAL Public Suffix List semantics
    (webops.registered_domain, DataFrame/table mode over the bundled
    snapshot): per host, the PSL longest-match owner. Map-only literal
    plan — the rule table never becomes a join; see
    webops._registered_domain_psl for the 10^12-row rationale."""
    return (
        _docs_with_psl_hosts(spark, sf_dir)
        .where(F.col("doc_id") < 500)
        .select("doc_id", "host", "reg_domain")
        .orderBy("doc_id")
    )


def _sql_reg_domain_psl() -> str:
    return (
        _sql_psl_reg_domain_ctes()
        + "SELECT doc_id, host, reg_domain FROM psl_reg ORDER BY doc_id"
    )


def q_domain_stats_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-owner crawl profile grouped by the PSL registered domain —
    the grouping the heuristic silently corrupted (every .ne.jp site
    merged into one 'owner'; all of GitHub Pages as one domain). Same
    combinable-agg shape as domain_stats; exact-distinct for oracle
    parity, HLL default at scale."""
    from recon_spark.operators.webops import domain_stats

    docs = _docs_with_psl_hosts(spark, sf_dir).where(F.col("doc_id") < 500)
    docs = docs.withColumn(
        "url_norm",
        F.concat(F.lit("https://"), F.col("host"), F.lit("/p/"),
                 (F.col("doc_id") % 40).cast("string")),
    )
    return domain_stats(docs, exact_distinct=True)


def _sql_domain_stats_psl() -> str:
    return (
        _sql_psl_reg_domain_ctes()
        + """
SELECT reg_domain, count(*) AS n_docs,
       count(DISTINCT 'https://' || host || '/p/'
             || CAST(doc_id % 40 AS VARCHAR)) AS n_urls,
       count(DISTINCT lang) AS n_langs,
       round(avg(n_chars), 6) AS avg_chars
FROM psl_reg GROUP BY reg_domain ORDER BY reg_domain
"""
    )


QUERIES = {
    "length_quantiles": q_length_quantiles,
    "ngram_contamination": q_ngram_contamination,
    "source_mix_sample": q_source_mix_sample,
    "term_spectrum": q_term_spectrum,
    "quality_score": q_quality_score,
    "quality_score_trained": q_quality_score_trained,
    "segment_dedup": q_segment_dedup,
    "doc_chunks": q_doc_chunks,
    "seq_packing": q_seq_packing,
    "seq_packing_stats": q_seq_packing_stats,
    "seq_packing_text": q_seq_packing_text,
    "jsonld_extract": q_jsonld_extract,
    "image_captions": q_image_captions,
    "page_meta": q_page_meta,
    "split_leakage": q_split_leakage,
    "dedup_incremental": q_dedup_incremental,
    "corpus_rollup": q_corpus_rollup,
    "source_quality": q_source_quality,
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_production": q_dedup_minhash_production,
    "simhash": q_simhash,
    "simhash_production": q_simhash_production,
    "simhash_neardup": q_simhash_neardup,
    "ann_cosine_topk": q_ann_cosine_topk,
    "embedding_neardup": q_embedding_neardup,
    "text_metrics": q_text_metrics,
    "doc_fingerprint": q_fingerprint,
    "lang_mention_stats": q_lang_mention_stats,
    "stratified_sample": q_stratified_sample,
    "events_hourly": q_events_hourly,
    "clean_corpus": q_clean_corpus,
    "stream_events_hourly": q_stream_events_hourly,
    "stream_events_sessions": q_stream_events_sessions,
    "stream_sessions_continuous": q_stream_sessions_continuous,
    "stream_contamination": q_stream_contamination,
    "stream_contamination_continuous": q_stream_contamination_continuous,
    "events_sessions": q_events_sessions,
    "events_asof": q_events_asof,
    "events_range_join": q_events_range_join,
    "distinct_sketch": q_distinct_sketch,
    "tfidf_terms": q_tfidf_terms,
    "revenue_topk": q_revenue_topk,
    "pricing_summary": q_pricing_summary,
    "url_normalize": q_url_normalize,
    "url_latest_capture": q_url_latest_capture,
    "domain_stats": q_domain_stats,
    "dsir_resample": q_dsir_resample,
    "domain_blocklist": q_domain_blocklist,
    "robots_gate": q_robots_gate,
    "sitemap_coverage": q_sitemap_coverage,
    "cdx_index": q_cdx_index,
    "frontier_plan": q_frontier_plan,
    "clean_text_audit": q_clean_text_audit,
    "gopher_filter": q_gopher_filter,
    "curation_funnel": q_curation_funnel,
    "reg_domain_psl": q_reg_domain_psl,
    "domain_stats_psl": q_domain_stats_psl,
    "gopher_filter_full": q_gopher_filter_full,
    "warc_ingest": q_warc_ingest,
    "warc_to_triples": q_warc_to_triples,
    "warc_real_html": q_warc_real_html,
    "wet_roundtrip": q_wet_roundtrip,
    "curation_funnel_warc": q_curation_funnel_warc,
    "host_link_graph": q_host_link_graph,
    "host_pagerank": q_host_pagerank,
    "anchor_text_aliases": q_anchor_text_aliases,
    "wat_roundtrip": q_wat_roundtrip,
    "triples_mined_aliases": q_triples_mined_aliases,
}

ORACLES = {
    "length_quantiles": SQL_LENGTH_QUANTILES,
    "ngram_contamination": SQL_NGRAM_CONTAMINATION,
    "source_mix_sample": _sql_source_mix_sample(),
    "term_spectrum": SQL_TERM_SPECTRUM,
    "quality_score": SQL_QUALITY_SCORE,
    "quality_score_trained": _sql_quality_score_trained(),
    "segment_dedup": SQL_SEGMENT_DEDUP,
    "doc_chunks": SQL_DOC_CHUNKS,
    "seq_packing": SQL_SEQ_PACKING,
    "seq_packing_stats": SQL_SEQ_PACKING_STATS,
    "seq_packing_text": _sql_seq_packing_text(),
    "jsonld_extract": SQL_JSONLD_EXTRACT,
    "image_captions": SQL_IMAGE_CAPTIONS,
    "page_meta": SQL_PAGE_META,
    "split_leakage": _sql_split_leakage(),
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "corpus_rollup": SQL_CORPUS_ROLLUP,
    "source_quality": SQL_SOURCE_QUALITY,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_jaccard": SQL_DEDUP_JACCARD,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
    "dedup_minhash_production": SQL_DEDUP_MINHASH_PRODUCTION,
    "simhash": SQL_SIMHASH,
    "simhash_production": SQL_SIMHASH_PRODUCTION,
    "simhash_neardup": SQL_SIMHASH_NEARDUP,
    "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "text_metrics": SQL_TEXT_METRICS,
    "doc_fingerprint": SQL_FINGERPRINT,
    "lang_mention_stats": SQL_LANG_MENTION_STATS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "events_hourly": SQL_EVENTS_HOURLY,
    "clean_corpus": SQL_CLEAN_CORPUS,
    "stream_events_hourly": SQL_STREAM_EVENTS_HOURLY,
    "stream_events_sessions": SQL_STREAM_EVENTS_SESSIONS,
    "stream_sessions_continuous": SQL_STREAM_SESSIONS_CONTINUOUS,
    "stream_contamination": SQL_STREAM_CONTAMINATION,
    "stream_contamination_continuous": SQL_STREAM_CONTAMINATION_CONTINUOUS,
    "events_sessions": SQL_EVENTS_SESSIONS,
    "events_asof": SQL_EVENTS_ASOF,
    "events_range_join": SQL_EVENTS_RANGE_JOIN,
    "distinct_sketch": SQL_DISTINCT_SKETCH,
    "tfidf_terms": SQL_TFIDF_TERMS,
    "revenue_topk": SQL_REVENUE_TOPK,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "url_normalize": SQL_URL_NORMALIZE,
    "url_latest_capture": SQL_URL_LATEST_CAPTURE,
    "domain_stats": SQL_DOMAIN_STATS,
    "dsir_resample": SQL_DSIR_RESAMPLE,
    "domain_blocklist": _sql_domain_blocklist(),
    "robots_gate": _sql_robots_gate(),
    "sitemap_coverage": SQL_SITEMAP_COVERAGE,
    "cdx_index": SQL_CDX_INDEX,
    "frontier_plan": SQL_FRONTIER_PLAN,
    "clean_text_audit": SQL_CLEAN_TEXT_AUDIT,
    "gopher_filter": SQL_GOPHER_FILTER,
    "curation_funnel": _sql_curation_funnel(),
    "reg_domain_psl": _sql_reg_domain_psl(),
    "domain_stats_psl": _sql_domain_stats_psl(),
    "gopher_filter_full": SQL_GOPHER_FILTER_FULL,
    "warc_ingest": SQL_WARC_INGEST,
    "warc_to_triples": _sql_warc_to_triples(),
    "warc_real_html": _sql_warc_real_html(),
    # the WET round trip must preserve the extracted text byte-for-byte,
    # so its oracle IS warc_real_html's
    "wet_roundtrip": _sql_warc_real_html(),
    "curation_funnel_warc": _sql_curation_funnel_warc(),
    "host_link_graph": SQL_HOST_LINK_GRAPH,
    "host_pagerank": _sql_host_pagerank(),
    "anchor_text_aliases": _sql_anchor_text_aliases(),
    # the WAT container round trip must preserve every outlink, so the
    # from-first-principles link-derivation oracle locks it
    "wat_roundtrip": SQL_HOST_LINK_GRAPH,
    "triples_mined_aliases": _sql_triples_mined_aliases(),
}
