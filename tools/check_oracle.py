"""Local replica of the driver's correctness gate: run every registry query
on Spark and its oracle on DuckDB at sf0.01, compare row counts, column
names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

Above sf0.01 the verification-only queries (deliberately quadratic
brute-force oracles, O(n²) on both engines) are skipped and reported as
``skipped-quadratic``; their scalable variants run at every scale. The
session takes ``get_spark()``'s defaults (``local[$SPARK_GRAFT_CPUS]``).
Exits 1 if any query fails.
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from biomedical_knowledge_graph_spark.queries import REGISTRY  # noqa: E402
from biomedical_knowledge_graph_spark.session import get_spark  # noqa: E402
from biomedical_knowledge_graph_spark.sources.testdata import TABLES  # noqa: E402


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(6)
        elif str(pdf[c].dtype).startswith("datetime"):
            pdf[c] = pdf[c].astype("datetime64[us]")
        if pdf[c].dtype.kind in "iu":
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str:
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"SCHEMA MISMATCH spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
    # dtype parity BEFORE normalization — a duckdb HUGEINT/float64 against a
    # Spark int64 may value-hash differently in the driver even if equal
    for c in sorted(spark_pdf.columns):
        ks, ko = spark_pdf[c].dtype.kind, oracle_pdf[c].dtype.kind
        if ks != ko:
            return f"DTYPE MISMATCH col={c} spark={spark_pdf[c].dtype} oracle={oracle_pdf[c].dtype}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"ROWCOUNT MISMATCH spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if a[c].dtype.kind == "f":
            bad = [
                i
                for i in range(len(av))
                if not (
                    (math.isnan(av[i]) and math.isnan(bv[i]))
                    or abs(av[i] - bv[i]) <= 1e-9 * max(1.0, abs(bv[i]))
                )
            ]
        else:
            bad = [
                i
                for i in range(len(av))
                if not (
                    (pd.isna(av[i]) and pd.isna(bv[i])) or av[i] == bv[i]
                )
            ]
        if bad:
            i = bad[0]
            return (
                f"VALUE MISMATCH col={c} at {len(bad)} rows; first: "
                f"spark={a.iloc[i].to_dict()} oracle={b.iloc[i].to_dict()}"
            )
    return "OK"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    summary = summarize(run_oracles(get_spark("oracle-check"), sf_dir, sys.argv[2:]))
    print(summary)
    return 1 if summary["fail"] else 0


def _above_small_scale(sf_dir: str) -> bool:
    """True unless ``sf_dir``'s name ends in a scale factor ≤ 0.01."""
    try:
        return float(sf_dir.rstrip("/").split("sf")[-1]) > 0.01
    except ValueError:
        return True


def _check(spark, con, name: str, sf_dir: str) -> dict:
    q = REGISTRY[name]
    t0 = time.time()
    try:
        spark_pdf = q.fn(spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001
        return {"verdict": f"SPARK ERROR: {e}"[:300], "rows": None}
    if q.oracle is None:
        verdict = "rows-only"
    else:
        try:
            oracle_pdf = con.sql(q.oracle).df()
        except Exception as e:  # noqa: BLE001
            return {"verdict": f"ORACLE ERROR: {e}"[:300], "rows": None}
        verdict = compare(name, spark_pdf, oracle_pdf)
    return {
        "verdict": verdict,
        "rows": len(spark_pdf),
        "wall_s": round(time.time() - t0, 2),
    }


def run_oracles(spark, sf_dir: str, names=None) -> dict[str, dict]:
    """``{query: {"verdict", "rows"[, "wall_s"]}}`` for ``names`` (default:
    the whole registry) over the tables in ``sf_dir``, one line printed
    per query as it finishes."""
    skip_quadratic = _above_small_scale(sf_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out: dict[str, dict] = {}
    for name in names or list(REGISTRY):
        if skip_quadratic and REGISTRY[name].verification_only:
            out[name] = {"verdict": "skipped-quadratic", "rows": None}
        else:
            out[name] = _check(spark, con, name, sf_dir)
        rows = out[name]["rows"]
        tail = "" if rows is None else f"  ({rows} rows)"
        print(f"{sf_dir} {name:35s} {out[name]['verdict']}{tail}", flush=True)
    return out


def summarize(results: dict[str, dict]) -> dict[str, int]:
    """Verdict counts; ``fail`` is every verdict other than OK, rows-only
    and skipped-quadratic."""
    verdicts = [r["verdict"] for r in results.values()]
    counts = {
        k: verdicts.count(v)
        for k, v in (
            ("ok", "OK"),
            ("rows_only", "rows-only"),
            ("skipped_quadratic", "skipped-quadratic"),
        )
    }
    counts["fail"] = len(verdicts) - sum(counts.values())
    return counts


if __name__ == "__main__":
    raise SystemExit(main())
