"""IO: Prodigy-format JSONL readers/writers + schema validation gate.

Reference: read_jsonl/read_json + json_to_examples
(/root/reference/recon/loaders.py:18-55) — load annotation-tool exports
into the typed Example shape, materializing missing span text from the
offsets (the pydantic ``span_text_exists`` validator,
/root/reference/recon/types.py:85-96); Dataset.to_disk/from_disk jsonl
round-trip (recon/dataset.py:323-425).

Spark shape: ``spark.read.schema(...).json`` with an explicit nested
schema (never schema inference on a 100 TB ingest), then pure JVM
column expressions for the validator — missing span.text becomes
substring(text, start+1, end-start); rows violating the offset
invariant are quarantined, not dropped silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from recon_spark.schema import SPAN_ARROW, SPAN_STRUCT, TOKEN_ARROW, TOKEN_STRUCT
from recon_spark.operators.validation import span_offsets_valid

# Prodigy jsonl rows: {text, spans: [{text?, start, end, label}], meta?, tokens?}
PRODIGY_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
        T.StructField("tokens", T.ArrayType(TOKEN_STRUCT)),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Load Prodigy-format JSONL into the examples shape, materializing
    missing span surfaces from offsets (the span-text validator as a
    higher-order transform)."""
    raw = spark.read.schema(PRODIGY_SCHEMA).json(path)
    fill = """
    transform(coalesce(spans, CAST(array() AS ARRAY<STRUCT<
        text: STRING, start: INT, end: INT, label: STRING,
        token_start: INT, token_end: INT, kb_id: STRING, source: STRING>>)),
      s -> named_struct(
        'text', coalesce(s.text, substring(text, s.start + 1, s.end - s.start)),
        'start', s.start, 'end', s.end, 'label', s.label,
        'token_start', s.token_start, 'token_end', s.token_end,
        'kb_id', s.kb_id, 'source', s.source))
    """
    return raw.withColumn("spans", F.expr(fill))


def split_valid_invalid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Quarantine split on the span-offset invariant: (valid, invalid).
    The reference raises at parse time (pydantic); at ingest scale we
    route violations to a side table instead."""
    ok = span_offsets_valid()
    return df.where(ok), df.where(~ok)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Examples -> JSONL (Dataset.to_disk analog)."""
    df.write.mode(mode).json(path)


# --- spaCy DocBin connector (import-gated: no spaCy wheel in sandbox) -------


def _require_spacy():
    """DocBin is spaCy's binary format; reading/writing it without the
    library would mean re-implementing its msgpack layout from scratch.
    Gate, don't stub: callers get a actionable error, and everything
    below runs unmodified once `pip install spacy` is present (tests
    importorskip)."""
    try:
        import spacy  # noqa: F401
        from spacy.tokens import Doc, DocBin  # noqa: F401

        return spacy
    except ImportError as e:
        raise RuntimeError(
            "from_spacy/to_spacy need the spacy package (DocBin codec). "
            "Install spacy, or use read_jsonl/write_jsonl for the "
            "text-format path."
        ) from e


def from_spacy(spark: SparkSession, path: str, lang_code: str = "en") -> DataFrame:
    """Load a .spacy DocBin into the examples shape
    (reference recon/loaders.py:58-94: doc.text, entity spans with
    char + token offsets, tokens). DocBin is a single driver-side file
    by design, so the decode happens on the driver and parallelizes via
    createDataFrame; for partitioned corpora store one DocBin per
    partition and union."""
    spacy = _require_spacy()
    from spacy.tokens import DocBin

    nlp = spacy.blank(lang_code)
    rows = []
    for doc in DocBin().from_disk(path).get_docs(nlp.vocab):
        rows.append(
            (
                doc.text,
                [
                    {
                        "text": e.text,
                        "start": e.start_char,
                        "end": e.end_char,
                        "label": e.label_,
                        "token_start": e.start,
                        # spaCy Span.end is exclusive; the engine's
                        # token_end is the index of the LAST token
                        # (detect_mentions: t0 + surf.count(' '))
                        "token_end": e.end - 1,
                        "kb_id": None,
                        "source": None,
                    }
                    for e in doc.ents
                ],
                [
                    {"text": t.text, "start": t.idx, "end": t.idx + len(t), "id": t.i}
                    for t in doc
                ],
            )
        )
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("text", T.StringType()),
                T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
                T.StructField("tokens", T.ArrayType(TOKEN_STRUCT)),
            ]
        ),
    )


def to_spacy(
    df: DataFrame, path: str, lang_code: str = "en", max_rows: int = 100_000
) -> None:
    """Examples -> one .spacy DocBin file (reference loaders.py:97-130:
    only rows with tokens are encodable — Doc needs words+spaces).
    Single-file DocBin is inherently a driver artifact, but the rows
    never collect: encoding runs executor-side via to_spacy_partitioned
    and the driver only merges the compact serialized parts. The
    max_rows guard (single-action limit probe, same trick as the
    dedupe driver-path cutover) refuses corpus-scale inputs outright —
    use to_spacy_partitioned and keep the parts."""
    _require_spacy()
    import os
    import shutil
    import tempfile

    from spacy.tokens import DocBin

    if df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"to_spacy writes ONE driver-side DocBin; input exceeds "
            f"max_rows={max_rows}. Use to_spacy_partitioned(df, out_dir) "
            f"for corpus-scale export (one part per partition, no merge)."
        )
    tmp = tempfile.mkdtemp(prefix="recon_spacy_parts_")
    try:
        to_spacy_partitioned(df, tmp, lang_code)
        merged = DocBin(attrs=["ENT_IOB", "ENT_TYPE"])
        for name in sorted(os.listdir(tmp)):
            merged.merge(DocBin().from_disk(os.path.join(tmp, name)))
        merged.to_disk(path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def to_spacy_partitioned(df: DataFrame, out_dir: str, lang_code: str = "en") -> None:
    """Corpus-scale DocBin export: one part-<n>.spacy file per partition,
    written by the executors (no driver collect). The union of parts is
    the dataset; from_spacy each part and union to read back."""
    _require_spacy()
    import os

    os.makedirs(out_dir, exist_ok=True)

    def _write(idx: int, rows):
        import spacy
        from spacy.tokens import Doc, DocBin
        from spacy.training import get_words_and_spaces

        nlp = spacy.blank(lang_code)
        doc_bin = DocBin(attrs=["ENT_IOB", "ENT_TYPE"])
        n = 0
        for r in rows:
            if not r["tokens"]:
                continue
            words, spaces = get_words_and_spaces(
                [t["text"] for t in r["tokens"]], r["text"]
            )
            doc = Doc(nlp.vocab, words=words, spaces=spaces)
            ents = [
                doc.char_span(s["start"], s["end"], label=s["label"])
                for s in r["spans"] or []
            ]
            doc.set_ents([e for e in ents if e is not None])
            doc_bin.add(doc)
            n += 1
        if n:
            doc_bin.to_disk(os.path.join(out_dir, f"part-{idx:05d}.spacy"))
        return iter([])

    df.select("text", "spans", "tokens").rdd.mapPartitionsWithIndex(_write).count()


# --- Prodigy SQLite connector ----------------------------------------------
#
# Reference: Dataset.from_prodigy / to_prodigy (recon/dataset.py:427-468)
# go through the prodigy package's DB API. Prodigy's storage layout is a
# plain SQLite file with three tables (documented in prodigy's DB docs):
#   dataset(id, name, created, meta, session)
#   example(id, input_hash, task_hash, content)   -- content = task JSON
#   link(id, example_id, dataset_id)
# Reading that layout needs only the stdlib, so unlike DocBin this
# connector is NOT gated: it works in any environment.

_PRODIGY_DDL = (
    "CREATE TABLE IF NOT EXISTS dataset (id INTEGER PRIMARY KEY, name TEXT UNIQUE,"
    " created INTEGER, meta TEXT, session INTEGER);"
    "CREATE TABLE IF NOT EXISTS example (id INTEGER PRIMARY KEY, input_hash INTEGER,"
    " task_hash INTEGER, content TEXT);"
    "CREATE TABLE IF NOT EXISTS link (id INTEGER PRIMARY KEY, example_id INTEGER,"
    " dataset_id INTEGER);"
)


def from_prodigy_db(spark: SparkSession, db_path: str, dataset_name: str) -> DataFrame:
    """Load a Prodigy dataset from its SQLite store into the examples
    shape. Only the raw JSON strings touch the driver (SELECT content);
    parsing + the span-text fill run distributed via from_json — the
    same validator path as read_jsonl."""
    import sqlite3

    con = sqlite3.connect(db_path)
    try:
        rows = con.execute(
            "SELECT e.content FROM example e"
            " JOIN link l ON l.example_id = e.id"
            " JOIN dataset d ON d.id = l.dataset_id"
            " WHERE d.name = ? ORDER BY e.id",
            (dataset_name,),
        ).fetchall()
    finally:
        con.close()
    raw = spark.createDataFrame([(r[0],) for r in rows], "content string")
    parsed = raw.select(F.from_json("content", PRODIGY_SCHEMA).alias("ex")).select("ex.*")
    fill = """
    transform(coalesce(spans, CAST(array() AS ARRAY<STRUCT<
        text: STRING, start: INT, end: INT, label: STRING,
        token_start: INT, token_end: INT, kb_id: STRING, source: STRING>>)),
      s -> named_struct(
        'text', coalesce(s.text, substring(text, s.start + 1, s.end - s.start)),
        'start', s.start, 'end', s.end, 'label', s.label,
        'token_start', s.token_start, 'token_end', s.token_end,
        'kb_id', s.kb_id, 'source', s.source))
    """
    return parsed.withColumn("spans", F.expr(fill))


def to_prodigy_db(
    df: DataFrame, db_path: str, dataset_name: str, max_rows: int = 100_000
) -> int:
    """Write examples into a Prodigy-layout SQLite store (creates the
    three tables if absent; replaces the named dataset). SQLite is a
    single-file driver-side format, so rows collect to the driver —
    Prodigy datasets are human-annotation-sized by nature; for corpus
    export use write_jsonl. The max_rows guard bounds the collect with
    a single limit() action (dedupe.py's driver-path pattern): one
    fetch of at most max_rows+1 rows, never an unguarded full-corpus
    collect. Returns the number of examples written.
    input_hash/task_hash follow Prodigy's semantics (input_hash keys the
    raw text, task_hash the text+annotations); Prodigy rehashes on
    import, so the exact function only needs determinism (crc32 here).
    """
    import json
    import sqlite3
    import time
    import zlib

    rows = df.select("text", "spans").limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"to_prodigy_db collects to ONE driver-side SQLite file; input "
            f"exceeds max_rows={max_rows}. Export corpus-scale data with "
            f"write_jsonl / Dataset.to_disk instead."
        )
    con = sqlite3.connect(db_path)
    try:
        con.executescript(_PRODIGY_DDL)
        con.execute("DELETE FROM link WHERE dataset_id IN "
                    "(SELECT id FROM dataset WHERE name = ?)", (dataset_name,))
        con.execute("DELETE FROM dataset WHERE name = ?", (dataset_name,))
        cur = con.execute(
            "INSERT INTO dataset (name, created, meta, session) VALUES (?, ?, '{}', 0)",
            (dataset_name, int(time.time())),
        )
        ds_id = cur.lastrowid
        n = 0
        for r in rows:
            content = json.dumps(
                {
                    "text": r["text"],
                    "spans": [
                        {k: s[k] for k in ("text", "start", "end", "label")}
                        for s in (r["spans"] or [])
                    ],
                },
                sort_keys=True,
            )
            cur = con.execute(
                "INSERT INTO example (input_hash, task_hash, content) VALUES (?, ?, ?)",
                (
                    zlib.crc32(r["text"].encode("utf-8")),
                    zlib.crc32(content.encode("utf-8")),
                    content,
                ),
            )
            con.execute(
                "INSERT INTO link (example_id, dataset_id) VALUES (?, ?)",
                (cur.lastrowid, ds_id),
            )
            n += 1
        con.commit()
    finally:
        con.close()
    return n


# --- HF token-classification connector --------------------------------------


def from_hf_dataset(
    spark: SparkSession,
    data,
    tokens_col: str = "tokens",
    tags_col: str = "ner_tags",
    labels: list[str] | None = None,
) -> DataFrame:
    """Load a Hugging-Face-style token-classification table into the
    examples shape (reference Dataset.from_hf_dataset,
    recon/dataset.py:494-526): rows of (tokens array<string>,
    tags array<string> IOB2 — or array<int> + a ClassLabel ``labels``
    list, the HF datasets convention) become (text, tokens, spans)
    with character offsets re-derived from the tokens (single-space
    joined text, the reference's convention) and spans reconstructed
    from the IOB tags.

    ``data`` may be a Spark DataFrame, a pyarrow Table, a pandas
    DataFrame, or a parquet path (what ``datasets.Dataset.to_parquet``
    emits — the zero-copy interchange route for a large HF dataset;
    arrow/pandas inputs go through createDataFrame and are for
    annotation-tool-sized data).

    One linear Arrow-batched kernel (_hf_ingest_arrow) builds text,
    token offsets, and IOB spans as flat arrays + list offsets per
    batch: map-only, no shuffle, vectorized transport.
    """
    if isinstance(data, DataFrame):
        df = data
    elif isinstance(data, str):
        df = spark.read.parquet(data)
    else:
        import pandas as pd
        import pyarrow as pa

        if isinstance(data, pa.Table):
            data = data.to_pandas()
        if not isinstance(data, pd.DataFrame):
            raise TypeError(
                "from_hf_dataset: expected Spark DataFrame, pyarrow Table, "
                f"pandas DataFrame, or parquet path; got {type(data).__name__}"
            )
        df = spark.createDataFrame(data)

    # the kernel APPENDS text/tokens/spans; an input column already using
    # one of those names (other than the consumed tokens/tags inputs)
    # would silently duplicate in the output schema — reject it
    clash = [
        c
        for c in df.columns
        if c in ("text", "tokens", "spans") and c not in (tokens_col, tags_col)
    ]
    if clash:
        raise ValueError(
            f"from_hf_dataset: input columns {clash} collide with the "
            "appended output columns (text, tokens, spans) — rename them "
            "or pass them as tokens_col/tags_col"
        )
    # null token ELEMENTS (HF exports contain them) become '': a None
    # would crash the kernel's len()
    toks = F.transform(F.col(tokens_col), lambda t: F.coalesce(t, F.lit("")))
    if labels is not None:
        # HF ClassLabel ints -> IOB tag strings via a literal array
        # (label vocabularies are tiny); element_at is 1-based
        lab_arr = F.array(*[F.lit(x) for x in labels])
        tags = F.transform(
            F.col(tags_col), lambda t: F.element_at(lab_arr, t.cast("int") + 1)
        )
    else:
        tags = F.col(tags_col)

    keep = [c for c in df.columns if c not in (tokens_col, tags_col)]
    # rename inputs out of the way: the kernel APPENDS text/tokens/spans,
    # so an input literally named "tokens" would collide
    base = df.withColumn("__tags", tags).select(*keep, toks.alias("__toks"), "__tags")
    return _hf_ingest_arrow(base, "__toks", keep)


def _hf_ingest_arrow(base: DataFrame, tokens_col: str, keep: list[str]) -> DataFrame:
    """from_hf_dataset's linear Arrow kernel: per batch, one pass over
    (tokens, __tags) builds text, token char offsets, and IOB2 spans as
    flat arrays + list offsets (no per-row Python objects beyond the
    token lists themselves). IOB2 repair: an I- with a new label, or
    after O, starts a fresh span; any non-B/I tag (O, null, malformed)
    closes the open span."""
    import pyarrow as pa

    out_schema = T.StructType(
        base.schema.fields
        + [
            T.StructField("text", T.StringType()),
            T.StructField("tokens", T.ArrayType(TOKEN_STRUCT)),
            T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
        ]
    )

    def _ingest(batches):
        for batch in batches:
            toks_l = batch.column(tokens_col).to_pylist()
            tags_l = batch.column("__tags").to_pylist()
            texts: list[str] = []
            t_off = [0]
            t_text: list = []
            t_start: list = []
            t_end: list = []
            t_id: list = []
            s_off = [0]
            s_text: list = []
            s_start: list = []
            s_end: list = []
            s_label: list = []
            s_ts: list = []
            s_te: list = []
            for toks, tgs in zip(toks_l, tags_l):
                toks = toks or []
                tgs = tgs or []
                starts: list[int] = []
                ends: list[int] = []
                pos = 0
                for i, t in enumerate(toks):
                    starts.append(pos)
                    ends.append(pos + len(t))
                    t_text.append(t)
                    t_start.append(pos)
                    t_end.append(pos + len(t))
                    t_id.append(i)
                    pos += len(t) + 1
                t_off.append(len(t_text))
                text = " ".join(toks)
                texts.append(text)

                def emit(first: int, last: int, lab: str) -> None:
                    s_text.append(text[starts[first] : ends[last]])
                    s_start.append(starts[first])
                    s_end.append(ends[last])
                    s_label.append(lab)
                    s_ts.append(first)
                    s_te.append(last)

                o, lab = -1, None
                n = len(tgs)
                for i in range(1, n + 2):  # step n+1 flushes the open span
                    tag = tgs[i - 1] if i <= n else None
                    if tag is not None and tag.startswith("B-"):
                        if o >= 0:
                            emit(o, i - 2, lab)
                        o, lab = i - 1, tag[2:]
                    elif tag is not None and tag.startswith("I-"):
                        if o >= 0 and tag[2:] == lab:
                            continue
                        if o >= 0:  # IOB2 repair: new label starts fresh
                            emit(o, i - 2, lab)
                        o, lab = i - 1, tag[2:]
                    else:  # O, null, malformed, or end-of-sequence
                        if o >= 0:
                            emit(o, i - 2, lab)
                        o, lab = -1, None
                s_off.append(len(s_text))

            n_t, n_s = len(t_text), len(s_text)
            tok_struct = pa.StructArray.from_arrays(
                [
                    pa.array(t_text, pa.string()),
                    pa.array(t_start, pa.int32()),
                    pa.array(t_end, pa.int32()),
                    pa.array(t_id, pa.int32()),
                ],
                fields=list(TOKEN_ARROW),
            )
            span_struct = pa.StructArray.from_arrays(
                [
                    pa.array(s_text, pa.string()),
                    pa.array(s_start, pa.int32()),
                    pa.array(s_end, pa.int32()),
                    pa.array(s_label, pa.string()),
                    pa.array(s_ts, pa.int32()),
                    pa.array(s_te, pa.int32()),
                    pa.nulls(n_s, pa.string()),
                    pa.array(["iob"] * n_s, pa.string()),
                ],
                fields=list(SPAN_ARROW),
            )
            yield (
                batch.append_column("text", pa.array(texts, pa.string()))
                .append_column(
                    "tokens",
                    pa.ListArray.from_arrays(pa.array(t_off, pa.int32()), tok_struct),
                )
                .append_column(
                    "spans",
                    pa.ListArray.from_arrays(pa.array(s_off, pa.int32()), span_struct),
                )
            )

    return base.mapInArrow(_ingest, out_schema).select(*keep, "text", "tokens", "spans")
