"""Entity linking: mentions → canonical entities via a broadcast alias dim.

Reference semantics being reproduced (SURVEY.md §2.3):
- J8 geneset-symbol ⋉ gene-cache dict probe
  (kg_scripts/talisman_gene_validator.py:99-145) → broadcast equi-join;
- J1 existence validation with a count of misses
  (kg_scripts/go_kg_builder.py:1226-1245) → left join; nulls = misses;
- obsolete→current remap (kg_scripts/go_kg_builder.py:279-290)
  → self-join of the dim on ``replaced_by`` before broadcasting.

Context scoring (north_star "dictionary+context entity linking"): a
deterministic score combining dictionary prior with a local-context feature,
computed with built-in column functions (JVM-side) — no Python in the hot
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def resolve_obsolete(dim: DataFrame) -> DataFrame:
    """Remap obsolete dictionary entries to their replacement ids.

    dim(alias, canonical_id, entity_type, namespace, is_obsolete,
    replaced_by) → same minus obsolete rows, aliases of obsolete entities
    re-pointed at the replacement (reference: go_kg_builder.py:279-290
    alt_id/obsolete correction pass).
    """
    current = dim.filter(~F.col("is_obsolete"))
    remapped = (
        dim.filter(F.col("is_obsolete") & F.col("replaced_by").isNotNull())
        .select(
            "alias",
            F.col("replaced_by").alias("canonical_id"),
            "entity_type",
            "namespace",
        )
    )
    return current.select(
        "alias", "canonical_id", "entity_type", "namespace"
    ).unionByName(remapped)


def link_mentions(
    mentions: DataFrame,
    dim: DataFrame,
    id_col: str = "doc_id",
    surface_col: str = "surface",
) -> DataFrame:
    """mentions(id, surface, ...) ⋈ broadcast dim(alias, canonical_id,
    entity_type[, prior]) → linked(id, surface, canonical_id, entity_type,
    score).

    Unlinkable mentions keep a NULL canonical_id (J1 miss accounting);
    filter or anti-join downstream as needed. Score = prior (default 1.0)
    discounted by alias ambiguity (aliases mapping to k entities score
    1/k — deterministic stand-in for the reference's preference rules,
    go_kg_builder.py:1285-1303).

    Aliases are case-folded here so the join agrees with the scanners
    (scan_mentions / scan_mentions_token_join both lower text and aliases
    and emit lowercase surfaces): a dictionary entry 'BRCA1' links the
    mention 'brca1'. Case-duplicate dictionary rows collapse to one
    (max prior) so the join cannot fan mentions out.
    """
    if "prior" not in dim.columns:
        dim = dim.withColumn("prior", F.lit(1.0))
    dim = dim.withColumn("alias", F.lower(F.col("alias")))
    # collapse on (alias, canonical_id) ONLY: case variants may differ in
    # metadata columns too, and any surviving duplicate row would fan every
    # matching mention out into duplicate links. max prior wins; metadata
    # resolves by deterministic min.
    meta_cols = [c for c in dim.columns if c not in ("alias", "canonical_id", "prior")]
    dim = dim.groupBy("alias", "canonical_id").agg(
        F.max("prior").alias("prior"),
        *[F.min(c).alias(c) for c in meta_cols],
    )
    ambiguity = dim.groupBy("alias").agg(
        F.countDistinct("canonical_id").alias("alias_fanout")
    )
    dim_scored = dim.join(ambiguity, "alias").withColumn(
        "score", F.col("prior") / F.col("alias_fanout")
    )
    return mentions.join(
        F.broadcast(dim_scored),
        mentions[surface_col] == dim_scored["alias"],
        "left",
    ).drop("alias", "prior", "alias_fanout")
