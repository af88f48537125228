"""Synthetic Common-Crawl-style pages corpus + HTML text extraction.

Production input shape per BASELINE.json input_hint:
  pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)

Generation is DISTRIBUTED and deterministic: each page is a pure function
of (seed, page_id) — spark.range(n) -> mapInArrow — so any subset of the
corpus can be regenerated bit-identically at any scale on any cluster
(no driver-side materialization, no external data).

The per-row contract (input_hint): ``text`` is byte-identical to
``html_to_text(html)`` for every url. ``html_to_text`` is the one
HTML-to-text function: ``page_content`` builds the generated ``text``
column with it, ``extract_text_column`` runs it distributively over
generated and real-crawl (WARC) pages alike, and tests assert both
equal the independent character state machine
``tests/reference_impl.ref_text`` byte-for-byte per url.

Content design (FIXTURES.md §1): gazetteer surfaces with head skew (a few
surfaces ~50-100x more frequent — the CoNLL "U.S." shape — justifying the
salted coverage aggregate), alias variants for linking, parity-ambiguous
surfaces for disparity detection, '. '-separated sentences so
split_sentences has real boundaries, and (ENT pred ENT) adjacencies for
SVO extraction.
"""

from __future__ import annotations

import random
import re
from datetime import datetime, timedelta, timezone
from html import unescape
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recon_spark.gazetteer import GAZ_AMBIG, GAZ_FIXED, PREDICATES, STOPWORDS

SEED = 42
BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)

# vocabulary pools (deterministic ordering matters: tuples, not sets)
_ENT_UNI = tuple(sorted(s for s in list(GAZ_FIXED) + list(GAZ_AMBIG) if " " not in s))
_ENT_BI = tuple(sorted(s for s in GAZ_FIXED if " " in s))
_FILLER = ("big", "small", "fast", "slow", "agg", "dup") + STOPWORDS
# head-skewed sampling pool: "spark" and "data" dominate (~24/64 draws each)
_HEAD_POOL = ("spark",) * 24 + ("data",) * 24 + _ENT_UNI

_LANGS = ("en",) * 8 + ("de", "fr", "es", "zh")


def page_content(page_id: int, seed: int = SEED) -> tuple[str, str, bytes, str, str]:
    """Pure function (seed, page_id) -> (url, lang, html, text, title)."""
    rng = random.Random((seed << 32) ^ page_id)
    site = rng.randrange(100)
    url = f"https://site{site:02d}.example.org/articles/{page_id}"
    lang = _LANGS[rng.randrange(len(_LANGS))]
    n_sents = 3 + rng.randrange(6)
    sents = []
    for _ in range(n_sents):
        words: list[str] = []
        n_words = 6 + rng.randrange(12)
        while len(words) < n_words:
            r = rng.random()
            if r < 0.30:
                words.append(_HEAD_POOL[rng.randrange(len(_HEAD_POOL))])
            elif r < 0.38:
                words.append(_ENT_BI[rng.randrange(len(_ENT_BI))])
            elif r < 0.60:
                # SVO adjacency plant: ENT pred ENT
                words.append(_ENT_UNI[rng.randrange(len(_ENT_UNI))])
                words.append(PREDICATES[rng.randrange(len(PREDICATES))])
                words.append(_HEAD_POOL[rng.randrange(len(_HEAD_POOL))])
            else:
                words.append(_FILLER[rng.randrange(len(_FILLER))])
        sents.append(" ".join(words))
    body = ". ".join(sents)
    title = f"article {page_id}"
    html = (
        f'<html><head><title>{title}</title><meta charset="utf-8"/></head>'
        f'<body>\n<h1>{title}</h1>\n'
        + "\n".join(f'<p class="s{i}">{s}.</p>' for i, s in enumerate(sents))
        + "\n</body></html>"
    ).encode("utf-8")
    text = html_to_text(html)
    return url, lang, html, text, title


# --- HTML -> text -----------------------------------------------------------
# One function for the generated corpus and real crawls alike, stdlib
# only so the DuckDB oracles can replay its outputs exactly:
#   1. charset: Content-Type param, else <meta charset=...> / http-equiv
#      within the sniff window, else UTF-8; undecodable bytes become
#      U+FFFD (errors="replace") instead of throwing.
#   2. strip ORDER: <script>/<style> content first (their raw text may
#      contain "-->" which would derail comment stripping), then
#      comments, then <head> content, then remaining tags. (The inverse
#      order would better match `<!-- <script> -->`-style commented-out
#      scripts; raw-text-with-"-->" is the more common real-crawl
#      hazard, so script-first wins. Either choice is deterministic.)
#   3. entities: stdlib html.unescape — full HTML5 named/numeric table,
#      single pass ("&amp;lt;" -> "&lt;", never "<").
#   4. whitespace: str.split joins on ANY unicode whitespace, so &nbsp;
#      -> U+00A0 collapses like a space.
# On the generated pages (clean UTF-8, one <head>, no script/style,
# only &amp;/&lt;/&gt;) this is the character state machine of
# tests/reference_impl.ref_text, which the tests check.

_SCRIPT_STYLE_RE = re.compile(r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>")
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_HEAD_RE = re.compile(r"(?is)<head\b[^>]*>.*?</head\s*>")
_TAG_RE = re.compile(r"<[^>]+>")
_META_CHARSET_RE = re.compile(
    rb"(?i)<meta[^>]{0,200}?charset\s*=\s*[\"']?\s*([a-z0-9_\-:.]{1,40})"
)
_CT_CHARSET_RE = re.compile(r"(?i)charset\s*=\s*[\"']?\s*([a-z0-9_\-:.]{1,40})")

_CHARSET_SNIFF_BYTES = 4096


def detect_charset(html: bytes, content_type: str | None = None) -> str:
    """Charset for an HTML page: Content-Type header param first (the
    HTTP layer outranks the document per RFC 9110), then a <meta>
    declaration in the first 4KB (the WHATWG sniff window), else UTF-8.
    Unknown/unsupported names fall back to UTF-8 — with errors="replace"
    decoding, a wrong guess degrades to replacement chars, never a
    throw."""
    import codecs

    cand = None
    if content_type:
        m = _CT_CHARSET_RE.search(content_type)
        if m:
            cand = m.group(1)
    if cand is None:
        m = _META_CHARSET_RE.search(html[:_CHARSET_SNIFF_BYTES])
        if m:
            cand = m.group(1).decode("ascii", "replace")
    if cand is None:
        return "utf-8"
    try:
        codecs.lookup(cand)
        return cand
    except LookupError:
        return "utf-8"


def html_to_text(html: bytes, content_type: str | None = None) -> str:
    """HTML -> text (see block comment above): charset-aware decode,
    script/style/comment/head CONTENT stripped, full stdlib entity
    unescape, unicode whitespace collapsed. Deterministic pure function
    — page_content, the distributed path (extract_text_column) and the
    oracle fixtures share it."""
    enc = detect_charset(html, content_type)
    s = html.decode(enc, "replace")
    s = _SCRIPT_STYLE_RE.sub(" ", s)
    s = _COMMENT_RE.sub(" ", s)
    s = _HEAD_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    s = unescape(s)
    return " ".join(s.split())


PAGES_DDL = (
    "page_id long, url string, warc_ts timestamp, html binary, "
    "text string, lang string"
)


def generate_pages(spark: SparkSession, n: int, seed: int = SEED, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic corpus: one row per page_id in [0, n)."""
    import pyarrow as pa

    partitions = partitions or spark.sparkContext.defaultParallelism
    base_us = int(BASE_TS.timestamp() * 1_000_000)

    def _gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            ids = batch.column("id").to_pylist()
            urls, tss, htmls, texts, langs = [], [], [], [], []
            for pid in ids:
                url, lang, html, text, _ = page_content(pid, seed)
                urls.append(url)
                tss.append(base_us + pid * 1_000_000)
                htmls.append(html)
                texts.append(text)
                langs.append(lang)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(urls, pa.string()),
                    pa.array(tss, pa.timestamp("us")),
                    pa.array(htmls, pa.binary()),
                    pa.array(texts, pa.string()),
                    pa.array(langs, pa.string()),
                ],
                ["page_id", "url", "warc_ts", "html", "text", "lang"],
            )

    return spark.range(0, n, numPartitions=partitions).mapInArrow(_gen, PAGES_DDL)


def extract_text_column(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text",
    content_type_col: str | None = None,
) -> DataFrame:
    """Distributed text extraction (the ingest-side path when a crawl
    arrives with html only): html_to_text over Arrow batches.
    ``content_type_col`` (e.g. read_warc's content_type) feeds the
    charset hint; pass None when only <meta> declarations are
    available. Map-only and shuffle-free — one Python stage, batched
    via Arrow, no per-row pickling."""
    import pyarrow as pa
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != out_col]
        + [T.StructField(out_col, T.StringType())]
    )
    names = [f.name for f in out_schema.fields]

    def _ex(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            htmls = batch.column(html_col).to_pylist()
            cts = (
                batch.column(content_type_col).to_pylist()
                if content_type_col
                else [None] * len(htmls)
            )
            texts = pa.array(
                [html_to_text(h, ct) for h, ct in zip(htmls, cts)],
                pa.string(),
            )
            cols = [texts if n == out_col else batch.column(n) for n in names]
            yield pa.RecordBatch.from_arrays(cols, names)

    return df.mapInArrow(_ex, out_schema)


# --------------------------------------------------------------------------
# schema.org structured data (JSON-LD) extraction — the Web Data Commons
# pipeline: Common Crawl pages carry embedded
# <script type="application/ld+json"> blocks; WDC's entire public KG is
# built by extracting them. Top-level properties flatten to triples.
# --------------------------------------------------------------------------

_JSONLD_RE = (
    r'(?is)<script[^>]*type\s*=\s*["\']application/ld\+json["\'][^>]*>'
    r"(.*?)</script>"
)


def extract_jsonld(
    df: DataFrame, url_col: str = "url", html_col: str = "html_str"
) -> DataFrame:
    """Extract schema.org JSON-LD blocks from page HTML and flatten
    each block's TOP-LEVEL properties to (subj, pred, obj) rows:

    - subj = the block's ``@id`` if present, else ``url#block_id``
      (blank-node convention keyed to the page)
    - pred = the property key (``@type`` kept as-is — the rdf:type
      analog), ``@id`` itself consumed as the subject
    - obj  = the value as a string: JSON primitives stringify
      (9.99 -> '9.99', true -> 'true'), nested objects/arrays keep
      their raw JSON text (one level of flattening; recursing into
      nested nodes is graph-shape policy, left to the caller)
    - malformed or non-object blocks surface as rows with null
      subj/pred/obj and the raw text in ``bad_block`` — visible, never
      silently dropped (the rdf.py bad_line convention)

    All JVM: regexp_extract_all for the blocks, from_json into
    map<string,string> for the flattening (Spark's JSON reader does the
    stringification), explode for the properties — map-only until
    whatever shuffle follows. Expects ``html_col`` as a STRING column
    (decode bytes upstream via the charset-aware path)."""
    blocks = F.regexp_extract_all(F.col(html_col), F.lit(_JSONLD_RE), 1)
    b = (
        df.select(F.col(url_col).alias("url"), F.posexplode(blocks))
        .withColumnRenamed("pos", "block_id")
        .withColumn("js", F.trim(F.col("col")))
        .withColumn("m", F.from_json("js", "map<string,string>"))
    )
    valid = b.where(F.col("m").isNotNull())
    triples = (
        valid.select(
            "url",
            "block_id",
            F.coalesce(
                F.element_at("m", "@id"),
                F.concat("url", F.lit("#"), F.col("block_id")),
            ).alias("subj"),
            F.explode("m").alias("pred", "obj"),
        )
        .where(F.col("pred") != "@id")
        .withColumn("bad_block", F.lit(None).cast("string"))
    )
    bad = b.where(F.col("m").isNull()).select(
        "url",
        "block_id",
        F.lit(None).cast("string").alias("subj"),
        F.lit(None).cast("string").alias("pred"),
        F.lit(None).cast("string").alias("obj"),
        F.col("js").alias("bad_block"),
    )
    return triples.unionByName(bad)


# --------------------------------------------------------------------------
# image-caption pair mining + page metadata — the LAION-style recipe:
# image-text training pairs come from <img src= alt=> attributes of
# crawled HTML; page-level metadata (OpenGraph, title, lang, canonical)
# keys the pairs and the corpus. Regex attribute extraction tolerates
# either quote style and any attribute order; values containing a raw
# '>' inside quotes are beyond the tag regex (documented, standard for
# crawl-scale extractors).
# --------------------------------------------------------------------------

# minimal JVM-side entity decode for attribute text (the full table
# lives in html_to_text's Python path); &amp; decodes LAST so
# "&amp;lt;" correctly yields "&lt;" (single-pass semantics)
_ATTR_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)


def _decode_entities(col):
    for ent, ch in _ATTR_ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def _attr(tag, name: str):
    """Value of attribute `name` in a tag string, either quote style,
    any position; '' when absent."""
    dq = F.regexp_extract(tag, f'(?is)\\b{name}\\s*=\\s*"([^"]*)"', 1)
    sq = F.regexp_extract(tag, f"(?is)\\b{name}\\s*=\\s*'([^']*)'", 1)
    return F.when(dq != "", dq).otherwise(sq)


def extract_image_captions(
    df: DataFrame, url_col: str = "url", html_col: str = "html_str"
) -> DataFrame:
    """Mine (image, caption) candidates from page HTML: every <img>
    tag's src / alt / title attributes, entity-decoded, with
    caption = alt if non-empty else title. Tags without a src are kept
    with src='' (visible, caller filters) — the pair-quality gate is a
    separate policy stage, as in the LAION pipeline. Map-only JVM
    (regexp over the page, per-tag attribute extracts)."""
    tags = F.regexp_extract_all(
        F.col(html_col), F.lit(r"(?is)<img\b[^>]*>"), 0
    )
    t = df.select(F.col(url_col).alias("url"), F.posexplode(tags)).select(
        "url", F.col("pos").alias("img_id"), F.col("col").alias("tag")
    )
    alt = _decode_entities(_attr(F.col("tag"), "alt"))
    title = _decode_entities(_attr(F.col("tag"), "title"))
    return t.select(
        "url",
        "img_id",
        _attr(F.col("tag"), "src").alias("src"),
        alt.alias("alt"),
        title.alias("title"),
        F.when(alt != "", alt).otherwise(title).alias("caption"),
    )


_META_KEYS = ("og:title", "og:type", "og:image", "og:description",
              "twitter:title", "description")


def extract_page_meta(
    df: DataFrame, url_col: str = "url", html_col: str = "html_str"
) -> DataFrame:
    """Page-level metadata in long form (url, key, value): OpenGraph /
    twitter / description <meta> tags (property= or name=), plus the
    pseudo-keys @title (the <title> text, entity-decoded), @lang
    (<html lang=...>), and @canonical (<link rel=canonical href=...>,
    either attribute order). Absent keys emit no row. Map-only JVM."""
    h = F.col(html_col)
    metas = F.regexp_extract_all(h, F.lit(r"(?is)<meta\b[^>]*>"), 0)
    m = (
        df.select(F.col(url_col).alias("url"), F.explode(metas).alias("tag"))
        .select(
            "url",
            F.coalesce(
                F.when(_attr(F.col("tag"), "property") != "",
                       _attr(F.col("tag"), "property")),
                F.when(_attr(F.col("tag"), "name") != "",
                       _attr(F.col("tag"), "name")),
            ).alias("key"),
            _decode_entities(_attr(F.col("tag"), "content")).alias("value"),
        )
        .where(F.col("key").isin(*_META_KEYS) & (F.col("value") != ""))
    )
    title = F.regexp_extract(h, r"(?is)<title[^>]*>(.*?)</title>", 1)
    lang = F.coalesce(
        F.nullif(F.regexp_extract(h, r'(?is)<html\b[^>]*\blang\s*=\s*"([^"]*)"', 1), F.lit("")),
        F.nullif(F.regexp_extract(h, r"(?is)<html\b[^>]*\blang\s*=\s*'([^']*)'", 1), F.lit("")),
    )
    canon_tag = F.regexp_extract(
        h, r'(?is)(<link\b[^>]*\brel\s*=\s*["\']canonical["\'][^>]*>)', 1
    )
    pseudo = df.select(
        F.col(url_col).alias("url"),
        F.array(
            F.struct(F.lit("@title").alias("key"),
                     _decode_entities(F.trim(title)).alias("value")),
            F.struct(F.lit("@lang").alias("key"),
                     F.coalesce(lang, F.lit("")).alias("value")),
            F.struct(F.lit("@canonical").alias("key"),
                     F.coalesce(_attr(canon_tag, "href"), F.lit("")).alias("value")),
        ).alias("kv"),
    ).select("url", F.explode("kv").alias("e")).select(
        "url", F.col("e.key").alias("key"), F.col("e.value").alias("value")
    ).where(F.col("value") != "")
    return m.unionByName(pseudo)
