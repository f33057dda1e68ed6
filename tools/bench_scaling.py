"""Strong-scaling harness (north rule: throughput at N and 4N executors,
scaling efficiency >= 0.8).

Every op runs the same body on the same input at two core counts, ``low``
and ``high``, each run in its own subprocess pinned with ``taskset`` to
the first ``cores`` CPUs of this process's affinity set. Pinning matters:
Arrow/pandas-UDF Python workers are separate processes outside Spark's
task-thread accounting, so an unpinned ``local[N]`` quietly uses more
than N cores; a real executor is cgroup-bounded to its cores, Python
workers included, and ``taskset`` reproduces that boundary. The core
counts default to ``(max(1, n // 4), n)`` for the ``n`` CPUs this process
may run on; a ``high`` above ``n`` is rejected before any process starts
(``taskset`` would accept it and silently oversubscribe).

Inputs are generated once, before any timing, so every run reads the
same bytes:

- ``pages``: the HTML pages corpus of ``fixtures``;
- ``docs``: a Zipf-ish corpus (30 % of tokens from a 200-word common pool,
  70 % from a 20 k-word pool, 60 tokens a doc; every 10th doc re-emitted
  as a near-duplicate), in one pure-JVM projection. Background 5-gram
  Jaccard stays near 0.1, so the dedup ops' candidate and verify stages
  do real work instead of a verify-join explosion. Simhash and the
  window dedup read a corpus ``SIMHASH_MULT`` times larger: their per-doc
  cost is far below MinHash's;
- ``edges``: a power-law edge list (endpoint = floor(u² · N) over
  xxhash64 uniforms, so low ids are hubs).

Each run: a fresh session whose file split size is the input's bytes ÷
(cores × 8) (at least 8 task waves per core; a fixed split starves the
larger core count), warmed Python workers, an untimed warm-up on a
repartitioned slice (``limit`` alone collapses to one task), then one
timed action over the op's body: its row count and its identity
aggregate. Bodies that end in left joins carry a filter on a join-output
column, because a row count eliminates such joins. Configs alternate
per rep (ABAB) and the min of the reps is kept: host noise only ever
inflates a wall. The identity aggregate of each
op's output must be equal at every core count, or the command exits 1.

``--local-cluster`` runs ``cores // low`` separate executor JVMs of
``low`` cores each (N vs 4N executors at the defaults) instead of one
``local[cores]`` process, each executor with an equal share of half of
the host's memory.

Usage:
    python tools/bench_scaling.py [--ops pipeline,minhash,...] [--low N]
        [--high M] [--reps R] [--pages N] [--docs N] [--edges N]
        [--inputs DIR] [--local-cluster]

``--inputs DIR`` keeps the generated inputs in DIR (one subdirectory per
kind and size) and reuses them on the next invocation. Prints one JSON
line.
"""

from __future__ import annotations

import argparse
import functools
import json
import multiprocessing as mp
import os
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from biomedical_knowledge_graph_spark import fixtures  # noqa: E402
from biomedical_knowledge_graph_spark.operators import dedup  # noqa: E402
from biomedical_knowledge_graph_spark.operators.boilerplate import (  # noqa: E402
    remove_repeated_windows,
)
from biomedical_knowledge_graph_spark.operators.lm import bigram_lm_scores  # noqa: E402
from biomedical_knowledge_graph_spark.operators.sampling import (  # noqa: E402
    budget_select,
    stratified_topk,
)
from biomedical_knowledge_graph_spark.operators.triangles import (  # noqa: E402
    triangle_counts,
)
from biomedical_knowledge_graph_spark.plans.pipeline import build_kg  # noqa: E402
from biomedical_knowledge_graph_spark.session import new_session  # noqa: E402

TOKENS_PER_DOC = 60
COMMON_VOCAB = 200
RARE_VOCAB = 20_000
DUP_MOD = 10  # every DUP_MOD-th doc is re-emitted as a near-duplicate
SIMHASH_MULT = 8
N_DOMAINS = 20_000
FILES = 32  # parquet files per generated input
WARM_ROWS = 1000
_UNIFORM = "(pmod(xxhash64({}), 1000000) / 1000000.0)"


@functools.lru_cache(maxsize=1)
def _alias_dim(spark) -> DataFrame:
    """The 5 000-entity alias dim, built once per session: the warm-up
    pass pays its driver-side ``createDataFrame``, the timed pass reuses
    it."""
    return fixtures.synthetic_entity_dict_df(spark, 5000, seed=42)


def _pipeline(pages: DataFrame, rows: int) -> DataFrame:
    spark = pages.sparkSession
    return build_kg(spark, pages, _alias_dim(spark), min_cooccur=3).triples


def _scored(docs: DataFrame) -> DataFrame:
    """docs + a Zipf-skewed domain (floor(u² · N_DOMAINS): real head
    strata), a score and a token count."""
    return docs.select(
        "doc_id",
        F.expr(
            f"cast(floor(pow({_UNIFORM.format('doc_id')}, 2) * {N_DOMAINS}) as long)"
        ).alias("domain"),
        F.expr("cast(length(text) as long)").alias("score"),
        F.expr(
            "cast(size(filter(split(text, ' '), t -> length(t) > 0)) as long)"
        ).alias("toks"),
    )


@dataclass(frozen=True)
class Op:
    input: str  # key of INPUTS
    body: Callable[[DataFrame, int], DataFrame]  # (input, input rows) → output
    identity: str  # SQL aggregate over the output, equal at every core count


OPS: dict[str, Op] = {
    "pipeline": Op("pages", _pipeline, "sum(weight)"),
    "minhash": Op(
        "docs",
        lambda d, _: dedup.minhash_dedup_pairs(d, threshold=0.8),
        "min(jaccard)",
    ),
    "simhash": Op(
        "docs_x8",
        lambda d, _: dedup.simhash_near_pairs(d, max_hamming=6),
        "sum(hamming)",
    ),
    "windows": Op(
        "docs_x8",
        lambda d, _: remove_repeated_windows(d, w=8, min_count=2).filter(
            F.col("n_removed_tokens") >= 0
        ),
        "sum(n_removed_tokens)",
    ),
    "lm": Op(
        "docs",
        lambda d, _: bigram_lm_scores(d).filter(F.col("n_bigrams") >= 0),
        "sum(n_bigrams)",
    ),
    "triangles": Op(
        "edges",
        lambda e, _: triangle_counts(e).filter(F.col("triangles") >= 0),
        "sum(triangles)",
    ),
    "domain_topk": Op(
        "docs",
        lambda d, _: stratified_topk(
            _scored(d), "doc_id", "score", 20, "domain"
        ).filter(F.col("kept").cast("long") >= 0),
        "sum(cast(kept as long))",
    ),
    # the budget (a third of the corpus's tokens) is a literal, so the
    # timed body runs no extra driver action
    "budget_select": Op(
        "docs",
        lambda d, rows: budget_select(
            _scored(d), "doc_id", "score", "toks", rows * TOKENS_PER_DOC // 3
        ).filter(F.col("selected").cast("long") >= 0),
        "sum(cast(selected as long))",
    ),
}


def _files(n: int) -> int:
    """FILES parquet files an input, but at least 50 rows a file: a tiny
    input spread over FILES files costs a scan task per file."""
    return max(1, min(FILES, n // 50))


def generate_pages(spark, n: int, path: str) -> None:
    aliases = [a for a, _, _ in fixtures.synthetic_alias_specs(5000, seed=42)]
    fixtures.generate_pages_distributed(
        spark, n, aliases, seed=42, partitions=_files(n)
    ).write.mode("overwrite").parquet(path)


def generate_docs(spark, n: int, path: str) -> None:
    """(doc_id, text): token j of doc i hashes (i, j) into the common pool
    ('c0'..) 30 % of the time, else into the rare pool ('w0'..). Every
    DUP_MOD-th doc is re-emitted under a fresh id with a one-token suffix
    (5-gram J ≈ 0.97)."""
    tok = (
        f"transform(sequence(1, {TOKENS_PER_DOC}), j -> "
        "  CASE WHEN pmod(xxhash64(id, j), 10) < 3 "
        f"       THEN concat('c', pmod(xxhash64(id, j, 1), {COMMON_VOCAB})) "
        f"       ELSE concat('w', pmod(xxhash64(id, j, 2), {RARE_VOCAB})) END)"
    )
    text = F.array_join(F.expr(tok), " ")
    rng = spark.range(n).repartition(_files(n))
    base = rng.select(
        F.xxhash64(F.lit("b"), F.col("id")).alias("doc_id"), text.alias("text")
    )
    dups = rng.filter(F.pmod(F.col("id"), F.lit(DUP_MOD)) == 0).select(
        F.xxhash64(F.lit("d"), F.col("id")).alias("doc_id"),
        F.concat(text, F.lit(" dupmarker")).alias("text"),
    )
    base.unionByName(dups).write.mode("overwrite").parquet(path)


def generate_edges(spark, n: int, path: str) -> None:
    """(src, dst) over n // 10 nodes; endpoint = floor(u² · nodes)."""
    nodes = max(1, n // 10)

    def end(seed: str):
        return F.expr(
            f"cast(floor(pow({_UNIFORM.format(seed)}, 2) * {nodes}) as long)"
        )

    spark.range(n).repartition(_files(n)).select(
        end("id * 2").alias("src"), end("id * 2 + 1").alias("dst")
    ).write.mode("overwrite").parquet(path)


# input kind → (generator, size argument, size multiplier)
INPUTS = {
    "pages": (generate_pages, "pages", 1),
    "docs": (generate_docs, "docs", 1),
    "docs_x8": (generate_docs, "docs", SIMHASH_MULT),
    "edges": (generate_edges, "edges", 1),
}


def _bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def evaluate(name: str, df: DataFrame, rows: int) -> list:
    """[row count, identity aggregate] of op ``name``'s output on ``df``
    (``rows`` rows), in one action."""
    op = OPS[name]
    return list(op.body(df, rows).agg(F.count("*"), F.expr(op.identity)).first())


def measure(spark, name: str, path: str, cores: int) -> dict:
    """One warmed, timed ``evaluate`` of op ``name`` on the parquet input
    at ``path``, in the given session."""

    def noop(batches):
        yield from batches

    # spawn every Python worker (pandas/pyarrow imports) before the clock
    spark.range(cores * 4).repartition(cores * 2).mapInPandas(
        noop, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    df = spark.read.parquet(path)
    rows = df.count()
    warm = df.limit(WARM_ROWS).repartition(cores * 2).persist()
    evaluate(name, warm, warm.count())
    # drops the slice and whatever the op persisted (build_kg's links)
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    identity = evaluate(name, df, rows)
    wall = time.perf_counter() - t0
    return {"rows_in": rows, "wall_s": round(wall, 3), "identity": identity}


def _child(name: str, cores: int, path: str, master: str | None) -> dict:
    conf = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        "spark.sql.files.maxPartitionBytes": str(
            max(64 * 1024, _bytes(path) // (cores * 8))
        ),
        "spark.sql.files.openCostInBytes": str(16 * 1024),
    }
    if master is not None:
        # separate executor JVMs import the package from this checkout;
        # the driver only coordinates, so it gets a fixed 8g heap, not
        # local mode's half of the host
        mem_mb = master.rstrip("]").rsplit(",", 1)[-1]
        conf.update(
            {
                "spark.executor.memory": f"{mem_mb}m",
                "spark.executorEnv.PYTHONPATH": REPO,
                "spark.pyspark.python": sys.executable,
                "spark.driver.memory": "8g",
            }
        )
    spark = new_session(
        "bkg-scaling",
        master=master or f"local[{cores}]",
        shuffle_partitions=cores * 6,
        extra_conf=conf,
    )
    try:
        return measure(spark, name, path, cores)
    finally:
        spark.stop()


def host_cpus() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def default_cores() -> tuple[int, int]:
    n = len(host_cpus())
    return max(1, n // 4), n


def check_cores(low: int, high: int) -> None:
    n = len(host_cpus())
    if not 1 <= low <= high <= n:
        raise ValueError(
            f"need 1 <= low <= high <= {n} (the CPUs this process may use), "
            f"got low={low} high={high}"
        )


def pinned_run(name: str, cores: int, path: str, master: str | None) -> dict:
    """One ``measure`` in a subprocess pinned to the first ``cores`` CPUs
    of the affinity set (local-cluster executors and Python workers
    inherit the pin)."""
    cpus = ",".join(map(str, host_cpus()[:cores]))
    cmd = ["taskset", "-c", cpus, sys.executable, os.path.abspath(__file__)]
    cmd += ["--run", name, str(cores), path, *([master] if master else [])]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    if r.returncode:
        sys.exit(f"{name} at {cores} cores failed:\n{r.stderr[-4000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def _burn(_):
    x = 0
    for i in range(4_000_000):
        x += i * i
    return x


def cpu_ceiling(low: int, high: int) -> float:
    """Pure-CPU speedup low → high processes on this host now (fixed total
    work, min of 2): the hardware/co-tenant ceiling a CPU-bound op is
    graded against."""
    check_cores(low, high)
    best = {}
    for procs in (low, high):
        walls = []
        for _ in range(2):
            t0 = time.perf_counter()
            with mp.Pool(procs) as pool:
                pool.map(_burn, range(64))
            walls.append(time.perf_counter() - t0)
        best[procs] = min(walls)
    return best[low] / best[high]


def _parse(argv: list[str]) -> argparse.Namespace:
    low, high = default_cores()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ops", default=",".join(OPS))
    ap.add_argument("--low", type=int, default=low)
    ap.add_argument("--high", type=int, default=high)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument("--docs", type=int, default=4000)
    ap.add_argument("--edges", type=int, default=100_000)
    ap.add_argument("--inputs", default=None, help="keep/reuse inputs here")
    ap.add_argument("--local-cluster", action="store_true")
    args = ap.parse_args(argv)
    args.ops = args.ops.split(",")
    unknown = sorted(set(args.ops) - set(OPS))
    if unknown:
        ap.error(f"unknown ops {unknown}; choose from {list(OPS)}")
    try:
        check_cores(args.low, args.high)
    except ValueError as e:
        ap.error(str(e))
    if args.local_cluster and args.high % args.low:
        ap.error("--local-cluster needs high to be a multiple of low")
    return args


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["--run"]:
        name, cores, path, *master = argv[1:]
        print(json.dumps(_child(name, int(cores), path, (master or [None])[0])))
        return
    args = _parse(argv)
    low, high = args.low, args.high
    masters: dict[int, str] = {}
    if args.local_cluster:
        total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        mem_mb = max(1024, total_mb // 2 // (high // low))
        masters = {
            c: f"local-cluster[{c // low},{low},{mem_mb}]" for c in (low, high)
        }

    root = args.inputs or tempfile.mkdtemp(prefix="bkg_scaling_")
    try:
        paths, spark = {}, None
        for kind in dict.fromkeys(OPS[name].input for name in args.ops):
            gen, size_arg, mult = INPUTS[kind]
            n = getattr(args, size_arg) * mult
            paths[kind] = os.path.join(root, f"{size_arg}_{n}")
            if not os.path.exists(os.path.join(paths[kind], "_SUCCESS")):
                spark = spark or new_session("bkg-gen", master=f"local[{high}]")
                gen(spark, n, paths[kind])
        if spark is not None:
            spark.stop()

        ceiling = cpu_ceiling(low, high)
        runs: dict[str, dict[int, list[dict]]] = {
            name: {low: [], high: []} for name in args.ops
        }
        for _ in range(args.reps):
            for name in args.ops:
                for cores in (low, high):  # interleaved ABAB
                    r = pinned_run(
                        name, cores, paths[OPS[name].input], masters.get(cores)
                    )
                    runs[name][cores].append(r)
                    print(json.dumps({"op": name, "cores": cores, **r}),
                          file=sys.stderr)

        ops, broken = {}, []
        for name, per in runs.items():
            idents = {tuple(r["identity"]) for rs in per.values() for r in rs}
            if len(idents) != 1:
                broken.append(name)
            w_low, w_high = (min(r["wall_s"] for r in per[c]) for c in (low, high))
            speedup = w_low / w_high
            ops[name] = {
                "rows_in": per[low][0]["rows_in"],
                "identity": sorted(idents),
                "walls_low_s": [r["wall_s"] for r in per[low]],
                "walls_high_s": [r["wall_s"] for r in per[high]],
                "speedup": round(speedup, 3),
                "scaling_efficiency": round(speedup / (high / low), 3),
                "efficiency_vs_ceiling": round(speedup / ceiling, 3),
            }
        print(
            json.dumps(
                {
                    "low": low,
                    "high": high,
                    "reps": args.reps,
                    "masters": masters or None,
                    "cpu_ceiling_speedup": round(ceiling, 3),
                    "ops": ops,
                }
            )
        )
        if broken:
            sys.exit(f"identity differs across core counts: {broken}")
    finally:
        if not args.inputs:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
