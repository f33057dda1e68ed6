"""The benchmark's workloads: seeded inputs, one closed-loop pass, checks.

Each workload object has:

- ``prepare(work)``: write the seeded inputs under ``work`` (set-up);
- ``warm(spark)``: untimed engine work that belongs to set-up;
- ``run_pass(spark, tag, tracer)``: one pass from inputs to a committed
  or published result; returns its wall and CPU time, counts and output
  digest. ``tracer`` is None in an untraced pass; in a traced one the
  digest gets a ``bench.digest`` span of its own;
- ``expect()``: the independent recomputation (``reference.py``), run
  once per process after the measurement window;
- ``check(result)``: raises ``WrongOutput`` when a pass's output differs.

and ``E2E``, the workload's end-to-end metrics besides ``setup_s``,
``wall_s`` and ``cpu_s`` (name → unit), with ``e2e(result)`` giving their
values.

Passes drive the engine only through its public entry points:
``full_build_job.run``, ``pipeline.build_kg_increment`` /
``published_triples`` and ``queries.REGISTRY``.
"""

from __future__ import annotations

import importlib.util
import itertools
import math
import os
import shutil
import time
import zlib
from pathlib import Path

from pyspark.sql import functions as F

from biomedical_knowledge_graph_spark.jobs import full_build_job
from biomedical_knowledge_graph_spark.plans import pipeline
from biomedical_knowledge_graph_spark.queries import REGISTRY
from biomedical_knowledge_graph_spark.sinks.table_format import (
    AggregatingSnapshotTable,
    SnapshotTable,
)
from perfbench import gen, reference
from perfbench.trace import clock, region


class WrongOutput(AssertionError):
    pass


def digest_rows(rows) -> tuple[int, int]:
    """Order-independent (count, Σ crc32) over (subj, pred, obj, weight,
    confidence) rows; the Spark side computes the same with ``crc32``."""
    total = 0
    n = 0
    for row in rows:
        total += zlib.crc32("\t".join(str(v) for v in row).encode())
        n += 1
    return n, total


def digest_df(df) -> tuple[int, int]:
    line = F.concat_ws(
        "\t", "subj", "pred", "obj", F.col("weight").cast("string"), "confidence"
    )
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.sum(F.crc32(line)).alias("h")
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise WrongOutput(what)


def _cumulative_digests(sets: list[set[str]], bounds: list[int], min_count: int) -> list:
    """Expected digest after each prefix of batches: ``out[k]`` covers the
    pages ``[0, bounds[k])``."""
    out = []
    for end in bounds:
        triples = reference.cooccurrence_triples(reference.pair_counts(sets[:end]), min_count)
        out.append(digest_rows(triples))
    return out


class OntologyBuild:
    """``full_build_job.run`` on a GO-shaped OBO file into a fresh table
    root. The job is a batch job, launched once per JVM in production, so
    its pass is measured without a warm pass."""

    min_cooccur = 2
    measured_cold = True
    E2E = {"triples_per_s": "triples/s"}

    def __init__(self, seed: int, n_terms: int, n_pages: int, fault: bool = False):
        self.seed, self.n_terms, self.n_pages = seed, n_terms, n_pages
        self.fault = fault

    def prepare(self, work: str) -> None:
        self.data = gen.ontology(self.seed, self.n_terms, self.n_pages)
        self.obo_path = os.path.join(work, "in", "go.obo")
        self.pages_path = os.path.join(work, "in", "pages")
        self.out = os.path.join(work, "out")
        gen.write_obo(self.obo_path, self.data.terms)
        gen.write_pages(self.pages_path, self.data.pages)

    def warm(self, spark) -> None:
        pass

    def run_pass(self, spark, tag: str, tracer=None) -> dict:
        min_cooccur = self.min_cooccur - 1 if self.fault else self.min_cooccur
        out = os.path.join(self.out, tag)
        try:
            t0, c0 = clock(spark)
            report = full_build_job.run(
                spark, self.obo_path, self.pages_path, out, tag, min_cooccur=min_cooccur
            )
            t1, c1 = clock(spark)
            table = SnapshotTable(os.path.join(out, "triples"), key_cols=["subj", "pred", "obj"])
            with region(tracer, "bench.digest"):
                digest = digest_df(table.read(spark))
            return {
                "wall_s": t1 - t0,
                "cpu_s": c1 - c0,
                "triples": report["total_edges"],
                "digest": digest,
            }
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def expect(self) -> None:
        amap = reference.ontology_alias_map(self.data.terms)
        sets = reference.doc_entities(self.data.pages, amap)
        triples = reference.cooccurrence_triples(
            reference.pair_counts(sets), self.min_cooccur
        ) | reference.ontology_typed_triples(self.data.terms)
        self.expected = digest_rows(triples)
        self._pair_base = reference.pair_yield_base(sets)

    def pair_base(self, result: dict) -> int:
        return self._pair_base

    def e2e(self, result: dict) -> dict:
        return {"triples_per_s": result["triples"] / result["wall_s"]}

    def check(self, result: dict) -> None:
        _require(result["digest"] == self.expected, f"triples {result['digest']} != {self.expected}")


class CrawlIncrements:
    """A long-lived ``AggregatingSnapshotTable`` of co-occurrence counts.
    Set-up commits the first crawl batch (untimed, cold). Each pass folds
    the next disjoint batch in with ``build_kg_increment`` (its commit
    triggers the compaction: ``compact_after=1``), replays that increment's
    run-id, which must be a no-op, and forces a ``published_triples`` read
    (the output digest is the action that forces it). A traced pass runs
    the replay with the tracer paused: the layer wrappers would force the
    lazy frames the replay never computes."""

    min_cooccur = 3
    measured_cold = False
    E2E = {"triples_per_s": "triples/s"}

    def __init__(
        self, seed: int, n_pages: int, n_entities: int, n_batches: int, fault: bool = False
    ):
        self.seed, self.n_pages, self.n_entities = seed, n_pages, n_entities
        self.n_batches = n_batches
        self.fault = fault
        self.committed = 0

    def prepare(self, work: str) -> None:
        self.data = gen.corpus(self.seed, self.n_pages, self.n_entities)
        self.batches = gen.split_batches(self.data.pages, self.n_batches)
        self.dict_path = os.path.join(work, "in", "dict")
        gen.write_dictionary(self.dict_path, self.data.dictionary)
        self.batch_paths = []
        for i, batch in enumerate(self.batches):
            path = os.path.join(work, "in", f"batch-{i:02d}")
            gen.write_pages(path, batch)
            self.batch_paths.append(path)
        self.out = os.path.join(work, "out", "counts")

    def _increment(self, spark, table, i: int, run_id: str) -> dict:
        return pipeline.build_kg_increment(
            spark, spark.read.parquet(self.batch_paths[i]),
            spark.read.parquet(self.dict_path), table, run_id=run_id,
        )

    def _table(self) -> AggregatingSnapshotTable:
        return AggregatingSnapshotTable(
            self.out,
            key_cols=["subj", "obj"],
            agg_spec={"weight": "sum"},
            bucket_expr="pmod(xxhash64(subj), 16)",
            compact_after=1,
        )

    def warm(self, spark) -> None:
        self._increment(spark, self._table(), 0, "batch-0")
        self.committed = 1

    def run_pass(self, spark, tag: str, tracer=None) -> dict:
        i = self.committed
        table = self._table()
        t0, c0 = clock(spark)
        lineage = self._increment(spark, table, i, f"batch-{i}")
        t1 = time.perf_counter()
        self.committed += 1
        with region(tracer, "crawl.replay", paused=True):
            replay = self._increment(spark, table, i, f"batch-{i}")
        t2 = time.perf_counter()
        min_cooccur = self.min_cooccur - 1 if self.fault else self.min_cooccur
        with region(tracer, "bench.digest"):
            got = digest_df(pipeline.published_triples(spark, table, min_cooccur=min_cooccur))
        t3, c3 = clock(spark)
        return {
            "wall_s": t3 - t0,
            "cpu_s": c3 - c0,
            "increment_s": t1 - t0,
            "publish_s": t3 - t2,
            "triples": lineage["rows_added"],
            "digest": got,
            "batches": self.committed,
            "replay": replay,
            # the replay commits nothing, so the last commit is the compaction
            "compacted": table.lineage()[-1].get("compacted_snapshots", 0),
        }

    def expect(self) -> None:
        amap = reference.corpus_alias_map(self.data.dictionary)
        sets = reference.doc_entities(self.data.pages, amap)
        bounds = list(itertools.accumulate(len(b) for b in self.batches))
        self.expected = _cumulative_digests(sets, bounds, self.min_cooccur)
        self.pair_bases = [
            reference.pair_yield_base(sets[a:b]) for a, b in zip([0, *bounds], bounds)
        ]

    def pair_base(self, result: dict) -> int:
        return self.pair_bases[result["batches"] - 1]

    def e2e(self, result: dict) -> dict:
        return {"triples_per_s": result["triples"] / result["wall_s"]}

    def check(self, result: dict) -> None:
        expected = self.expected[result["batches"] - 1]
        _require(result["digest"] == expected, f"published {result['digest']} != {expected}")
        _require(
            result["replay"].get("replayed") is True and result["replay"]["rows_added"] == 0,
            f"replayed increment was not a no-op: {result['replay']}",
        )
        _require(result["compacted"] == 2, f"compaction did not fire: {result['compacted']}")


# the registry queries the query suite forces: ROADMAP's outliers and
# targets (dedup, similarity, closure, text stats, negatives) plus the two
# graph analytics over the KG edge graph
OUTLIERS = (
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "kg_ancestor_closure",
    "embedding_near_pairs_lsh",
    "doc_c4_line_filter",
    "doc_quality_classifier",
    "kg_triple_negatives",
)
SUITE = (*OUTLIERS, "kg_pagerank", "kg_triangles")


def _oracle_checker():
    """``tools/check_oracle.py``: the DuckDB oracle gate's normalization
    and comparison."""
    path = Path(__file__).resolve().parent.parent / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class QuerySuite:
    """Every query in ``SUITE`` over seeded testdata-shaped tables, each
    forced with the noop sink as ``bench.py`` does. Set-up makes one
    untimed warm pass. After the timed queries each output is collected
    once more (untimed) and compared with the query's DuckDB oracle over
    the same files."""

    measured_cold = False
    E2E = {"query_geomean_s": "s"}

    def __init__(
        self, seed: int, n_docs: int, n_vectors: int, n_parts: int, n_lineitems: int,
        fault: bool = False,
    ):
        self.seed, self.fault = seed, fault
        self.sizes = (n_docs, n_vectors, n_parts, n_lineitems)

    def prepare(self, work: str) -> None:
        self.dir = os.path.join(work, "in", "tables")
        gen.query_tables(self.dir, self.seed, *self.sizes)

    def warm(self, spark) -> None:
        for name in SUITE:
            REGISTRY[name].fn(spark, self.dir).write.mode("overwrite").format("noop").save()

    def run_pass(self, spark, tag: str, tracer=None) -> dict:
        query_s = {}
        t0, c0 = clock(spark)
        for name in SUITE:
            with region(tracer, f"query.{name}"):
                t = time.perf_counter()
                REGISTRY[name].fn(spark, self.dir).write.mode("overwrite").format("noop").save()
                query_s[name] = time.perf_counter() - t
        t1, c1 = clock(spark)
        with region(tracer, "bench.digest"):
            outputs = {name: REGISTRY[name].fn(spark, self.dir).toPandas() for name in SUITE}
        if self.fault:
            outputs = {name: pdf.iloc[1:] for name, pdf in outputs.items()}
        return {"wall_s": t1 - t0, "cpu_s": c1 - c0, "query_s": query_s, "outputs": outputs}

    def expect(self) -> None:
        import duckdb

        self.checker = _oracle_checker()
        con = duckdb.connect()
        for table in ("documents", "embeddings", "part", "lineitem"):
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{self.dir}/{table}.parquet'")
        self.expected = {name: con.sql(REGISTRY[name].oracle).df() for name in SUITE}
        con.close()

    def pair_base(self, result: dict) -> int:
        return 0

    def e2e(self, result: dict) -> dict:
        times = result["query_s"].values()
        return {"query_geomean_s": math.exp(sum(map(math.log, times)) / len(times))}

    def check(self, result: dict) -> None:
        for name in SUITE:
            verdict = self.checker.compare(name, result["outputs"][name], self.expected[name])
            _require(verdict == "OK", f"{name}: {verdict}")
