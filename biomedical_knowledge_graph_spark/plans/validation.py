"""Runtime validation checkpoints (SURVEY.md §5 — the reference enforces
correctness through validation queries, not tests):

- prerequisite validation with hard minimum counts
  (go_terms_interconnector.py:55-101 — e.g. BP > 25 000 terms, CC > 3 000,
  multi-namespace genes > 10 000: abort the phase rather than silently
  build a graph from truncated inputs);
- per-phase checkpoints (go_kg_builder.py:2159-2223 — node/edge counts,
  coverage percentages);
- expected-vs-actual match flags (omics_pathway_integration.py:199-288 —
  per-group `count_matches` between a recorded expectation and the
  materialized rows).

Spark shape: every rule is one aggregate over the DataFrame under check;
rules are collected into a report dict (JSON-able, like the reference's
validation artifacts), and ``require`` raises on hard-minimum violations so
a driver job fails fast instead of committing a half-built graph.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ValidationError(RuntimeError):
    """A hard-minimum prerequisite failed — abort before building."""


@dataclass
class ValidationReport:
    checks: list[dict] = field(default_factory=list)

    @property
    def passed(self) -> bool:
        return all(c["ok"] for c in self.checks)

    def add(self, name: str, ok: bool, observed, threshold=None) -> None:
        self.checks.append(
            {"name": name, "ok": bool(ok), "observed": observed,
             "threshold": threshold}
        )

    def require(self) -> "ValidationReport":
        failed = [c for c in self.checks if not c["ok"]]
        if failed:
            raise ValidationError(
                "; ".join(
                    f"{c['name']}: observed={c['observed']}"
                    f" threshold={c['threshold']}"
                    for c in failed
                )
            )
        return self

    def to_dict(self) -> dict:
        return {"passed": self.passed, "checks": self.checks}


def validate_minimum_counts(
    df: DataFrame,
    group_col: str,
    minimums: dict[str, int],
    report: ValidationReport | None = None,
) -> ValidationReport:
    """Prerequisite gate: per-group row counts must clear hard minimums
    (go_terms_interconnector.py:77,96-98). ONE aggregate for all groups."""
    report = report or ValidationReport()
    counts = {
        r[group_col]: r["n"]
        for r in df.groupBy(group_col).agg(F.count("*").alias("n")).collect()
    }
    for group, minimum in minimums.items():
        observed = counts.get(group, 0)
        report.add(f"min_count[{group_col}={group}]", observed > minimum,
                   observed, minimum)
    return report


def validate_non_empty(
    df: DataFrame, name: str, report: ValidationReport | None = None
) -> ValidationReport:
    return record_non_empty(df.limit(1).count(), name, report)


def record_non_empty(
    rows: int, name: str, report: ValidationReport | None = None
) -> ValidationReport:
    """``non_empty[name]`` from a row count the caller already holds (a
    ``count()`` it needs anyway, a sink's parquet footers): no Spark
    action. The observed value is capped at 1, as ``validate_non_empty``'s
    ``limit(1)`` probe sees it."""
    report = report or ValidationReport()
    observed = min(rows, 1)
    report.add(f"non_empty[{name}]", observed > 0, observed, 1)
    return report


def validate_expected_counts(
    actual: DataFrame,
    expected: DataFrame,
    key: str,
    actual_count_col: str = "n_actual",
    expected_count_col: str = "n_expected",
    report: ValidationReport | None = None,
) -> ValidationReport:
    """Expected-vs-actual per-key match flags (the pathway integration's
    `count_matches` check, omics_pathway_integration.py:220): join the
    materialized per-key counts against the recorded expectation and flag
    mismatches. Returns one summary check plus up to 10 sample offenders."""
    report = report or ValidationReport()
    joined = (
        expected.join(actual, key, "left")
        .select(
            key,
            expected_count_col,
            F.coalesce(F.col(actual_count_col), F.lit(0)).alias(
                actual_count_col
            ),
        )
        .withColumn(
            "_match", F.col(actual_count_col) == F.col(expected_count_col)
        )
    )
    agg = joined.agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("_match"), 0).otherwise(1)).alias("mismatches"),
    ).collect()[0]
    offenders = (
        joined.filter(~F.col("_match")).limit(10).collect()
        if agg["mismatches"]
        else []
    )
    report.add(
        f"count_matches[{key}]",
        agg["mismatches"] == 0,
        {
            "total": agg["total"],
            "mismatches": agg["mismatches"],
            "sample": [row.asDict() for row in offenders],
        },
        0,
    )
    return report


def validate_referential_integrity(
    edges: DataFrame,
    nodes: DataFrame,
    edge_cols: list[str],
    node_col: str,
    report: ValidationReport | None = None,
) -> ValidationReport:
    """Per-phase checkpoint: no edge endpoint may reference a missing node
    (the dangling-endpoint arm of go_kg_builder.py:2225-2296)."""
    report = report or ValidationReport()
    endpoints = None
    for c in edge_cols:
        sel = edges.select(F.col(c).alias(node_col))
        endpoints = sel if endpoints is None else endpoints.unionByName(sel)
    dangling = (
        endpoints.distinct()
        .join(nodes.select(node_col).distinct(), node_col, "left_anti")
        .count()
    )
    report.add("referential_integrity", dangling == 0, dangling, 0)
    return report
