"""Per-query isolation harness for optimization work (guide §1).

NOT the driver bench (bench.py is frozen): this file exists so a single
query can be timed with the noop sink, its physical plan captured, and
its job/stage counts read from the Spark UI REST API — the evidence
trail for OPTIMIZATION_r08.md and the round-8 plans (plans/r08/*.txt,
deleted after commit 6ee73c4; read them with git show).

Usage:
    python bench_extra.py <query> [<query> ...] [--reps N] [--explain DIR]
    python bench_extra.py --all                 # every headline query
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from biomedical_knowledge_graph_spark.queries import REGISTRY  # noqa: E402
from biomedical_knowledge_graph_spark.session import get_spark  # noqa: E402


def _rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}{path}") as r:
        return json.load(r)


def _job_stats(spark, t_from: float) -> dict:
    """Jobs/stages submitted after t_from (epoch seconds)."""
    jobs = _rest(spark, "/jobs")
    recent = [
        j
        for j in jobs
        if time.mktime(
            time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
        )
        >= t_from - 1
    ]
    n_stages = sum(len(j.get("stageIds", [])) for j in recent)
    n_tasks = sum(j.get("numTasks", 0) for j in recent)
    return {"jobs": len(recent), "stages": n_stages, "tasks": n_tasks}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", default=None, help="dir for explain files")
    ap.add_argument("--suffix", default="", help="explain file suffix")
    args = ap.parse_args()

    from bench import HEADLINE, force  # frozen driver harness, reused read-only

    names = HEADLINE if args.all else args.queries
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="bkg-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 4,
        extra_conf={
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
            # measurement harness only: the REST API needs the UI (the
            # driver bench keeps it off)
            "spark.ui.enabled": "true",
        },
    )

    # same warmup as bench.py: JVM + one Python worker per core
    def _noop(batches):
        yield from batches

    spark.range(int(cpus) * 4).repartition(int(cpus) * 2).mapInPandas(
        _noop, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    force(REGISTRY["pricing_summary"].fn(spark, sf_dir))

    out = {}
    for name in names:
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.explain, f"{name}{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        samples = []
        stats = None
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            force(REGISTRY[name].fn(spark, sf_dir))
            dt = time.time() - t0
            samples.append(round(dt, 3))
            if stats is None or dt <= min(samples):
                try:
                    stats = _job_stats(spark, t0)
                except Exception:
                    stats = None
            spark.sparkContext.setJobDescription(None)
        out[name] = {
            "min": min(samples),
            "samples": samples,
            **(stats or {}),
        }
        print(json.dumps({name: out[name]}), flush=True)
    print("TOTAL", round(sum(v["min"] for v in out.values()), 3))


if __name__ == "__main__":
    main()
