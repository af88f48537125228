"""Entity linking: broadcast alias-dictionary join + top-1 candidate.

Reference: /root/reference/recon/linker.py — EntityLinker (kb_id =
surface, :15-21) and SpacyEntityLinker (KB candidate lookup, take the
top candidate, :23-36); alias machinery in
/root/reference/recon/preprocess.py:100-131.

Spark shape: explode mentions → broadcast-hash join against the alias
dictionary (small dimension table) → row_number() = 1 by
(score desc, entity_id asc) for deterministic top-1. The alias dict is
broadcast, so linking adds no shuffle on the fact side; the only wide
exchange in canonicalization is the final groupBy, which AQE handles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from recon_spark.gazetteer import ALIASES


def alias_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        ALIASES, schema="alias string, entity_id string, name string, score double"
    )


def link_mentions(
    mentions: DataFrame, aliases: DataFrame, surface_col: str = "surface"
) -> DataFrame:
    """Attach (entity_id, name, score) of the best-scoring alias candidate
    to each mention row; mentions with no candidate keep NULL kb columns
    (left join — the reference returns the span unlinked)."""
    w = Window.partitionBy(surface_col, "doc_id", "label").orderBy(
        F.desc("score"), "entity_id"
    )
    best = (
        F.broadcast(aliases)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("alias").orderBy(F.desc("score"), "entity_id")
            ),
        )
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    return mentions.join(
        best, mentions[surface_col] == best["alias"], "left"
    ).drop("alias")


def fuzzy_surface_pairs(
    surfaces: DataFrame, col: str = "surface"
) -> DataFrame:
    """All surface pairs within edit distance 1, found WITHOUT an
    all-pairs join: SymSpell-style symmetric-deletion blocking.

    Every surface emits its identity plus each single-character
    deletion as candidate keys (a string of length m emits m+1 keys,
    pure JVM). Two strings at edit distance <= 1 are guaranteed to
    share a key (substitution: delete the differing position from
    both; insert/delete: the longer string's deletion hits the
    shorter's identity), so an equi-join on the key finds every true
    pair; a final ``levenshtein <= 1`` filter removes the small set of
    distance-2 collisions the blocking admits (e.g. transpositions).

    The alias-curation use: surfaces one typo apart that the linker
    maps to different entities are canonicalization candidates — the
    fuzzy analog of the reference's label-disparity detection
    (recon/insights.py:47-71, same surface annotated two ways).

    Scale design: key generation is linear (m+1 short keys per
    surface, map-side); the equi-join shuffles on the deletion key —
    never a cartesian or nested-loop scan. Key frequency is bounded by
    vocabulary shape, not corpus size (this runs on DISTINCT
    surfaces). For very long surfaces, pre-truncate to a prefix and
    re-verify, the standard SymSpell prefix compromise.
    """
    s = surfaces.select(F.col(col).alias("s")).where(F.col(col).isNotNull()).distinct()
    keys_expr = """
    array_union(
      array(s),
      transform(sequence(1, length(s)),
                i -> concat(substring(s, 1, i - 1), substring(s, i + 1))))
    """
    keyed = s.select("s", F.explode(F.expr(keys_expr)).alias("k"))
    a = keyed.select(F.col("s").alias("a"), "k")
    b = keyed.select(F.col("s").alias("b"), "k")
    return (
        a.join(b, "k")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .withColumn("dist", F.levenshtein("a", "b"))
        .where(F.col("dist") <= 1)
        .orderBy("a", "b")
    )


def resolve_surfaces(surfaces: DataFrame, col: str = "surface") -> DataFrame:
    """Entity resolution over surface forms: cluster surfaces within
    edit distance 1 (transitively) and assign each cluster a canonical
    id — the missing step between fuzzy_surface_pairs (candidate
    generation) and the alias dictionary (curated output). This is the
    distributed version of the reference's disparity-driven
    canonicalization loop (recon/insights.py:47-71 finds the
    conflicting surfaces; a human picks the canonical form) — here the
    canonical form is the lexicographically-smallest reachable surface,
    so the assignment is deterministic and recomputable at any scale.

    Composition: SymSpell deletion-key blocking (never all-pairs) ->
    connected components (size-adaptive: driver union-find for small
    edge sets, hash-min label propagation above the threshold, which
    raises past scratch.MAX_ROUNDS rounds) -> one
    component-size aggregate joined back. Only surfaces that
    participate in >= 1 fuzzy pair appear (singletons are already
    canonical).

    Returns (surface, canonical, cluster_size) ordered by
    (canonical, surface).
    """
    from recon_spark.operators.dedupe import connected_components

    pairs = fuzzy_surface_pairs(surfaces, col=col).select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    )
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        comp.join(sizes, "component")
        .select(
            F.col("id").alias(col),
            F.col("component").alias("canonical"),
            "cluster_size",
        )
        .orderBy("canonical", col)
    )
