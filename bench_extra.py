"""Per-query isolation harness for optimization work (guide §1).

NOT the driver bench (bench.py is frozen): this file exists so a single
query can be timed with the noop sink, its physical plan captured, and
its job, stage and task counts read from the status tracker under a
per-query job group (the status store works with the UI off) — the
evidence trail for OPTIMIZATION_r08.md and the round-8 plans (plans/r08/*.txt,
deleted after commit 6ee73c4; read them with git show). The stage and
task counts cover only stages that ran: a skipped stage (its shuffle
output reused) counts nothing, so they can be lower than the counts in
OPTIMIZATION_r08.md, which summed every job's tasks and stage ids.

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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from biomedical_knowledge_graph_spark.queries import REGISTRY  # noqa: E402
from biomedical_knowledge_graph_spark.session import get_spark  # noqa: E402


def _job_stats(sc, group: str) -> dict:
    """Jobs of one job group, the stages that ran tasks and those tasks."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-end events land async
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    stage_ids = {s for j in jobs if j is not None for s in j.stageIds}
    ran = [
        st.numCompletedTasks
        for st in map(tracker.getStageInfo, stage_ids)
        if st is not None and st.numCompletedTasks
    ]
    return {"jobs": len(jobs), "stages": len(ran), "tasks": sum(ran)}


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
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    spark = get_spark(
        app_name="bkg-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 4,
        extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m"},
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
        for rep in range(args.reps):
            group = f"bench_extra:{name}:{rep}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.time()
            force(REGISTRY[name].fn(spark, sf_dir))
            dt = time.time() - t0
            samples.append(round(dt, 3))
            if stats is None or dt <= min(samples):
                stats = _job_stats(spark.sparkContext, group)
        out[name] = {"min": min(samples), "samples": samples, **stats}
        print(json.dumps({name: out[name]}), flush=True)
    print("TOTAL", round(sum(v["min"] for v in out.values()), 3))


if __name__ == "__main__":
    main()
