"""Canonical schemas (reference data model re-expressed columnar).

Reference: ``Example``/``Span``/``Token`` pydantic models at
/root/reference/recon/types.py:41-104 — one Example row becomes one
DataFrame row with nested ``ARRAY<STRUCT>`` columns; ``meta`` becomes
``MAP<STRING,STRING>``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# Span: recon/types.py:41-59 (text,start,end,label + optional token offsets,
# kb_id, source). start/end are Python char offsets: [start, end).
SPAN_STRUCT = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("label", T.StringType()),
        T.StructField("token_start", T.IntegerType()),
        T.StructField("token_end", T.IntegerType()),
        T.StructField("kb_id", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)

# Token: recon/types.py:61-74
TOKEN_STRUCT = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("id", T.IntegerType()),
    ]
)

# The same two structs as Arrow types, for mapInArrow kernels that build
# span/token columns directly, and the span-array column as DDL.
_ARROW_OF = {T.StringType(): pa.string(), T.IntegerType(): pa.int32()}
SPAN_ARROW = pa.struct([(f.name, _ARROW_OF[f.dataType]) for f in SPAN_STRUCT.fields])
TOKEN_ARROW = pa.struct([(f.name, _ARROW_OF[f.dataType]) for f in TOKEN_STRUCT.fields])
SPAN_DDL = T.ArrayType(SPAN_STRUCT).simpleString()

# Example: recon/types.py:77-188. example_hash is our content identity
# (hashing.py); split is the Corpus partition column (recon/corpus.py:13-52).
EXAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("example_hash", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
        T.StructField("tokens", T.ArrayType(TOKEN_STRUCT)),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
        T.StructField("split", T.StringType()),
    ]
)

# Production input shape (BASELINE.json input_hint): Common-Crawl-style pages.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

# Pipeline output shape (FIXTURES.md §6): partitioned triple table.
TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField(
            "subj_span",
            T.StructType(
                [T.StructField("start", T.IntegerType()), T.StructField("end", T.IntegerType())]
            ),
        ),
        T.StructField(
            "obj_span",
            T.StructType(
                [T.StructField("start", T.IntegerType()), T.StructField("end", T.IntegerType())]
            ),
        ),
        T.StructField("part_id", T.IntegerType()),
    ]
)

# Correction rules (recon/types.py:452-503): broadcast dimension table.
CORRECTIONS_SCHEMA = T.StructType(
    [
        T.StructField("annotation", T.StringType()),
        T.StructField("from_labels", T.ArrayType(T.StringType())),
        T.StructField("to_label", T.StringType()),
    ]
)

# Entity-linking alias dictionary (recon/types.py:205-208, recon/linker.py:23-36).
ALIAS_SCHEMA = T.StructType(
    [
        T.StructField("alias", T.StringType()),
        T.StructField("entity_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

# Lineage / ops-log row (recon/types.py:256-273 OperationState → table).
OPS_LOG_SCHEMA = T.StructType(
    [
        T.StructField("op_name", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("args", T.StringType()),
        T.StructField("examples_added", T.LongType()),
        T.StructField("examples_removed", T.LongType()),
        T.StructField("examples_changed", T.LongType()),
        T.StructField("commit_hash_before", T.StringType()),
        T.StructField("commit_hash_after", T.StringType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("part_id", T.IntegerType()),
    ]
)

NOT_LABELED = "NOT_LABELED"  # reference sentinel, recon/constants.py:1
