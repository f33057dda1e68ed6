"""Upsert-merge semantics (J3/J4) and property merging (SO2/SO3, F9).

The reference upserts nodes with Cypher ``MERGE ... ON CREATE SET ... ON
MATCH SET`` where ON MATCH prefers a non-empty new value and otherwise keeps
the old one (kg_scripts/go_kg_builder.py:1250-1314 uniprot, 1613-1630 entrez,
1838-1867 symbol), and unions array properties with dedup
(go_kg_builder.py:1397-1403 Cypher list comprehension).

Spark-native equivalent: a *full-outer join + per-column merge spec*. This
is exactly Iceberg ``MERGE INTO nodes USING updates ON key WHEN MATCHED
UPDATE WHEN NOT MATCHED INSERT`` — expressed as a DataFrame transform so it
also works on the offline snapshot-table sink.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _prefer_new_nonempty(new: Column, old: Column) -> Column:
    """Reference ON MATCH rule (go_kg_builder.py:1285-1303): take the new
    value when it is non-null and non-empty-string, else keep the old."""
    new_ok = new.isNotNull() & (new.cast("string") != F.lit(""))
    return F.when(new_ok, new).otherwise(old)


def merge_upsert(
    existing: DataFrame,
    updates: DataFrame,
    key: str | list[str],
    prefer_new: list[str] | None = None,
    keep_old: list[str] | None = None,
    union_arrays: list[str] | None = None,
) -> DataFrame:
    """Full-outer merge of ``updates`` into ``existing`` on ``key``.

    - ``prefer_new`` columns: new non-empty value wins (F9 coalesce rule);
    - ``keep_old`` columns: old value wins, new fills nulls (ON CREATE);
    - ``union_arrays`` columns: array_distinct(array_union(old, new))
      (SO3 synonym/source_files merge).
    Columns present in only one side pass through.
    """
    keys = [key] if isinstance(key, str) else list(key)
    prefer_new = prefer_new or []
    keep_old = keep_old or []
    union_arrays = union_arrays or []

    e = existing.alias("e")
    u = updates.alias("u")
    cond = [F.col(f"e.{k}").eqNullSafe(F.col(f"u.{k}")) for k in keys]
    joined = e.join(u, cond, "full_outer")

    shared = [c for c in existing.columns if c in set(updates.columns)]
    out_cols: list[Column] = []
    for k in keys:
        out_cols.append(F.coalesce(F.col(f"u.{k}"), F.col(f"e.{k}")).alias(k))
    for c in shared:
        if c in keys:
            continue
        old, new = F.col(f"e.{c}"), F.col(f"u.{c}")
        if c in union_arrays:
            merged = F.array_distinct(
                F.array_union(
                    F.coalesce(old, F.array()), F.coalesce(new, F.array())
                )
            )
        elif c in keep_old:
            merged = F.coalesce(old, new)
        elif c in prefer_new:
            merged = _prefer_new_nonempty(new, old)
        else:
            merged = F.coalesce(new, old)
        out_cols.append(merged.alias(c))
    for c in existing.columns:
        if c not in set(updates.columns):
            out_cols.append(F.col(f"e.{c}").alias(c))
    for c in updates.columns:
        if c not in set(existing.columns):
            out_cols.append(F.col(f"u.{c}").alias(c))
    return joined.select(out_cols)
