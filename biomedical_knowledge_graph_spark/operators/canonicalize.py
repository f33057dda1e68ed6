"""Upsert-merge semantics (J3/J4).

The reference upserts nodes with Cypher ``MERGE ... ON CREATE SET ... ON
MATCH SET`` (kg_scripts/go_kg_builder.py:1250-1314 uniprot, 1613-1630
entrez, 1838-1867 symbol).

Spark-native equivalent: a *full-outer join + coalesce per column*. This
is exactly Iceberg ``MERGE INTO nodes USING updates ON key WHEN MATCHED
UPDATE WHEN NOT MATCHED INSERT`` — expressed as a DataFrame transform so it
also works on the offline snapshot-table sink.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    existing: DataFrame,
    updates: DataFrame,
    key: str | list[str],
) -> DataFrame:
    """Full-outer merge of ``updates`` into ``existing`` on ``key``: in a
    column both sides carry, the new non-null value wins. Columns present
    in only one side pass through.
    """
    keys = [key] if isinstance(key, str) else list(key)

    e = existing.alias("e")
    u = updates.alias("u")
    cond = [F.col(f"e.{k}").eqNullSafe(F.col(f"u.{k}")) for k in keys]
    joined = e.join(u, cond, "full_outer")

    shared = [
        c for c in existing.columns if c in set(updates.columns) and c not in keys
    ]
    out_cols: list[Column] = [
        F.coalesce(F.col(f"u.{c}"), F.col(f"e.{c}")).alias(c) for c in keys + shared
    ]
    for c in existing.columns:
        if c not in set(updates.columns):
            out_cols.append(F.col(f"e.{c}").alias(c))
    for c in updates.columns:
        if c not in set(existing.columns):
            out_cols.append(F.col(f"u.{c}").alias(c))
    return joined.select(out_cols)
