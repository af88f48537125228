"""Query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus a DuckDB oracle SQL twin.

Split by family:
- core.py      — the Recon capability surface (extraction, stats,
                 insights, corrections, linking, triples)
- pipeline.py  — training-data pipeline operators (dedup, similarity,
                 text analysis, sampling, windowed aggregation,
                 relational joins)
- graph.py     — graph analytics over the canonical triple table
                 (PageRank, degree profile) + repetition metrics +
                 PII redaction

__spark_entry__.py merges all registries.
"""

from recon_spark.queries.core import ORACLES as CORE_ORACLES
from recon_spark.queries.core import QUERIES as CORE_QUERIES
from recon_spark.queries.extra import ORACLES as EXTRA_ORACLES
from recon_spark.queries.extra import QUERIES as EXTRA_QUERIES
from recon_spark.queries.graph import ORACLES as GRAPH_ORACLES
from recon_spark.queries.graph import QUERIES as GRAPH_QUERIES
from recon_spark.queries.pipeline import ORACLES as PIPELINE_ORACLES
from recon_spark.queries.pipeline import QUERIES as PIPELINE_QUERIES
from recon_spark.queries.reasoning import ORACLES as REASONING_ORACLES
from recon_spark.queries.reasoning import QUERIES as REASONING_QUERIES
from recon_spark.queries.textmodel import ORACLES as TEXTMODEL_ORACLES
from recon_spark.queries.textmodel import QUERIES as TEXTMODEL_QUERIES

QUERIES = {
    **CORE_QUERIES, **PIPELINE_QUERIES, **EXTRA_QUERIES, **GRAPH_QUERIES,
    **REASONING_QUERIES, **TEXTMODEL_QUERIES,
}
ORACLES = {
    **CORE_ORACLES, **PIPELINE_ORACLES, **EXTRA_ORACLES, **GRAPH_ORACLES,
    **REASONING_ORACLES, **TEXTMODEL_ORACLES,
}
