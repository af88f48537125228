"""Demo knowledge base: gazetteer, predicates, alias dictionary, corrections.

Single source of truth shared by the Spark operators AND the DuckDB oracle
SQL (oracle fragments are generated from these dicts, so both engines see
byte-identical rules). The surfaces are the deterministic 31-word vocabulary
of the driver-generated ``documents`` corpus (TESTDATA.md).

Extraction spec (both engines implement exactly this):
  maximal-munch left-to-right scan over whitespace tokens — at each
  position try the longest gazetteer surface first (bigrams before
  unigrams), emit the match, continue scanning after it. This is exactly
  the semantics of a leftmost-first regex alternation ordered longest
  surface first, which is what the DuckDB oracle uses
  (regexp_extract_all over RE2) and what the Spark-side Arrow kernel
  (operators/extraction.py) runs with Python's ``re``.

Ambiguous surfaces get their label from document parity (doc_id % 2) — a
deterministic stand-in for "context" that both engines can compute — which
plants the same-surface-different-label disagreements the reference's
insight operators exist to find (get_label_disparities,
/root/reference/recon/insights.py:47-110; the CoNLL "Dallas" PER/LOC case
in its docs).
"""

from __future__ import annotations

# surface -> label (fixed-label entries). Bigrams listed here too.
GAZ_FIXED: dict[str, str] = {
    # bigrams (win over their component unigrams via maximal munch)
    "hash table": "DATASTRUCT",
    "data stream": "PIPELINE",
    "customer query": "REPORT",
    # unigrams
    "spark": "TECH",
    "table": "DB",
    "column": "DB",
    "row": "DB",
    "part": "DB",
    "query": "WORKLOAD",
    "batch": "WORKLOAD",
    "stream": "WORKLOAD",
    "window": "WORKLOAD",
    "line": "WORKLOAD",
    "data": "DATA",
    "key": "DATA",
    "hash": "DATA",
    "vector": "DATA",
}

# surface -> (label if doc_id even, label if doc_id odd)
GAZ_AMBIG: dict[str, tuple[str, str]] = {
    "customer": ("PERSON", "ORG"),
    "value": ("METRIC", "DATA"),
}

# SVO predicate vocabulary (verbs). Disjoint from entity surfaces.
PREDICATES: tuple[str, ...] = ("join", "merge", "scan", "filter", "sort", "group", "agg")

STOPWORDS: tuple[str, ...] = ("a", "the")

ALL_SURFACES: list[str] = sorted(
    list(GAZ_FIXED) + list(GAZ_AMBIG), key=lambda s: (-len(s), s)
)  # longest-first for maximal munch

MENTION_PATTERN = r"\b(" + "|".join(ALL_SURFACES) + r")\b"


# --- Degraded "model" gazetteer --------------------------------------------
# A deterministic stand-in for a trained recognizer whose predictions
# disagree with gold in every way the reference's error taxonomy
# distinguishes (top_prediction_errors, /root/reference/recon/insights.py:113-236):
#   - "line" missing            → false negatives
#   - "hash" labeled TECH       → label confusion (gold: DATA)
#   - "big" tagged SIZE         → false positive vs NOT_LABELED
#   - "customer query" missing  → boundary mismatch (gold bigram FN + two
#                                  unigram FPs at different offsets)
#   - "customer" always ORG     → confusion on even docs (gold: PERSON)
MODEL_FIXED: dict[str, str] = {
    k: v for k, v in GAZ_FIXED.items() if k not in ("line", "customer query")
}
MODEL_FIXED["hash"] = "TECH"
MODEL_FIXED["big"] = "SIZE"
MODEL_FIXED["customer"] = "ORG"
MODEL_AMBIG: dict[str, tuple[str, str]] = {
    k: v for k, v in GAZ_AMBIG.items() if k != "customer"
}

MODEL_SURFACES: list[str] = sorted(
    list(MODEL_FIXED) + list(MODEL_AMBIG), key=lambda s: (-len(s), s)
)
MODEL_PATTERN = r"\b(" + "|".join(MODEL_SURFACES) + r")\b"


# --- Entity-linking alias dictionary (FIXTURES.md §4) -----------------------
# alias -> list of (entity_id, canonical name, score); top-1 by
# (score desc, entity_id asc) wins — multiple candidates exercise the
# rank-1 selection of the reference's SpacyEntityLinker
# (/root/reference/recon/linker.py:23-36).
ALIASES: list[tuple[str, str, str, float]] = [
    ("spark", "E_SPARK", "Apache Spark", 0.95),
    ("spark", "E_SPARK_PLUG", "Spark Plug", 0.30),
    ("table", "E_TABLE", "Relational Table", 0.90),
    ("hash table", "E_HASHMAP", "Hash Map", 0.92),
    ("row", "E_ROW", "Table Row", 0.85),
    ("column", "E_COLUMN", "Table Column", 0.85),
    ("part", "E_PARTITION", "Table Partition", 0.80),
    ("customer", "E_CUSTOMER", "Customer", 0.75),
    ("customer query", "E_REPORT", "Customer Report", 0.88),
    ("query", "E_QUERY", "SQL Query", 0.90),
    ("batch", "E_BATCH", "Batch Job", 0.70),
    ("stream", "E_STREAM", "Data Stream", 0.80),
    ("data stream", "E_STREAM", "Data Stream", 0.93),
    ("window", "E_WINDOW", "Window Frame", 0.72),
    ("line", "E_LINE", "Line Item", 0.60),
    ("data", "E_DATA", "Data", 0.65),
    ("key", "E_KEY", "Join Key", 0.77),
    ("key", "E_KEYBOARD", "Keyboard", 0.10),
    ("hash", "E_HASH", "Hash Function", 0.82),
    ("vector", "E_VECTOR", "Vector", 0.79),
    ("value", "E_VALUE", "Value", 0.55),
]

# --- Default correction rules (FIXTURES.md §3 analog) ------------------------
# annotation -> (from_labels, to_label); to_label None ⇒ delete the span.
DEFAULT_CORRECTIONS: list[tuple[str, list[str], str | None]] = [
    ("line", ["WORKLOAD"], "TEXT_UNIT"),  # retag
    ("vector", ["ANY"], None),  # delete
    ("customer", ["PERSON"], "ORG"),  # collapse parity disagreement
]


# --- DuckDB oracle SQL fragments ---------------------------------------------

def sql_label_case(
    surface_col: str = "surface",
    docid_col: str = "doc_id",
    fixed: dict[str, str] | None = None,
    ambig: dict[str, tuple[str, str]] | None = None,
) -> str:
    """CASE expression mapping a matched surface to its label — the exact
    dual of the Arrow kernel's fixed/parity lookup (operators/extraction.py)."""
    fixed = GAZ_FIXED if fixed is None else fixed
    ambig = GAZ_AMBIG if ambig is None else ambig
    parts = [f"CASE {surface_col}"]
    for s, lab in fixed.items():
        parts.append(f" WHEN '{s}' THEN '{lab}'")
    for s, (even, odd) in ambig.items():
        parts.append(
            f" WHEN '{s}' THEN (CASE WHEN {docid_col} % 2 = 0"
            f" THEN '{even}' ELSE '{odd}' END)"
        )
    parts.append(" END")
    return "".join(parts)


def sql_mentions_cte(
    table: str = "documents",
    name: str = "mentions",
    fixed: dict[str, str] | None = None,
    ambig: dict[str, tuple[str, str]] | None = None,
    pattern: str | None = None,
) -> str:
    """CTE body producing one row per detected mention:
    (doc_id, surface, label). regexp_extract_all with longest-first
    alternation == maximal munch (matches the Spark extractor exactly;
    asserted in tests/test_oracles.py)."""
    pattern = MENTION_PATTERN if pattern is None else pattern
    label_case = sql_label_case(fixed=fixed, ambig=ambig)
    return f"""
{name}_raw AS (
    SELECT doc_id,
           unnest(regexp_extract_all(text, '{pattern}')) AS surface
    FROM {table}
),
{name} AS (
    SELECT doc_id, surface, {label_case} AS label
    FROM {name}_raw
)"""


def sql_mentions_pos_cte(
    table: str = "documents",
    name: str = "mentions",
    fixed: dict[str, str] | None = None,
    ambig: dict[str, tuple[str, str]] | None = None,
) -> str:
    """Token-position mention CTE: (doc_id, pos, nwords, surface, label),
    where (pos, nwords) identifies the span exactly like (start, end).

    Works relationally (no sequential scan) because with our gazetteers no
    two bigram candidates can ever overlap — bigram second words
    (table/stream/query) never start a bigram — so maximal munch reduces
    to: keep every bigram candidate, keep unigram candidates not covered
    by a bigram. The regex CTE and the Spark scanner are asserted equal to
    this in tests."""
    fixed = GAZ_FIXED if fixed is None else fixed
    ambig = GAZ_AMBIG if ambig is None else ambig
    surfaces = list(fixed) + list(ambig)
    bigrams = [s for s in surfaces if " " in s]
    unigrams = [s for s in surfaces if " " not in s]
    big_in = ", ".join(f"'{s}'" for s in bigrams) or "''"
    uni_in = ", ".join(f"'{s}'" for s in unigrams) or "''"
    label_case = sql_label_case(fixed=fixed, ambig=ambig)
    return f"""
{name}_tok AS (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS w,
           unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
    FROM {table}
),
{name}_big AS (
    SELECT a.doc_id, a.pos, 2 AS nwords, a.w || ' ' || b.w AS surface
    FROM {name}_tok a JOIN {name}_tok b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.w || ' ' || b.w IN ({big_in})
),
{name}_uni AS (
    SELECT t.doc_id, t.pos, 1 AS nwords, t.w AS surface
    FROM {name}_tok t
    WHERE t.w IN ({uni_in})
      AND NOT EXISTS (
        SELECT 1 FROM {name}_big g
        WHERE g.doc_id = t.doc_id AND g.pos IN (t.pos, t.pos - 1))
),
{name} AS (
    SELECT doc_id, pos, nwords, surface, {label_case} AS label
    FROM (SELECT * FROM {name}_big UNION ALL SELECT * FROM {name}_uni)
)"""


def sql_mentions_char_cte(
    table: str = "documents",
    name: str = "mentions",
    fixed: dict[str, str] | None = None,
    ambig: dict[str, tuple[str, str]] | None = None,
) -> str:
    """Char-offset mention CTE: ``{name}_char(doc_id, start, "end",
    surface, label)`` with Python-style [start, end) char offsets —
    the exact dual of the Spark scanner's span offsets. Builds on the
    token-position CTE; char starts come from a cumulative-length window
    over the token stream (text is single-space joined, so
    char_start(pos) = Σ_{p<pos} (len(w_p) + 1))."""
    base = sql_mentions_pos_cte(table=table, name=name, fixed=fixed, ambig=ambig)
    return (
        base
        + f""",
{name}_cs AS (
    SELECT doc_id, pos,
           CAST(coalesce(sum(length(w) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS cs
    FROM {name}_tok
),
{name}_char AS (
    SELECT m.doc_id, c.cs AS start,
           CAST(c.cs + length(m.surface) AS INT) AS "end",
           m.surface, m.label
    FROM {name} m JOIN {name}_cs c ON m.doc_id = c.doc_id AND m.pos = c.pos
)"""
    )


def sql_alias_values() -> str:
    rows = ", ".join(
        f"('{a}', '{e}', '{n}', {s})" for a, e, n, s in ALIASES
    )
    return f"(VALUES {rows}) AS aliases(alias, entity_id, name, score)"


def sql_corrections_values() -> str:
    rows = []
    for ann, froms, to in DEFAULT_CORRECTIONS:
        fl = "[" + ", ".join(f"'{f}'" for f in froms) + "]"
        tl = "NULL" if to is None else f"'{to}'"
        rows.append(f"('{ann}', {fl}, {tl})")
    return f"(VALUES {', '.join(rows)}) AS corrections(annotation, from_labels, to_label)"
