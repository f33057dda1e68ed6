"""Build the driver JVM's class-data-sharing archive, once per user, JDK
and Spark install.

    python tools/build_cds_archive.py            # build it unless present
    python tools/build_cds_archive.py --force    # rebuild it

A local master's driver JVM maps a dynamic CDS archive of Spark's, Scala's
and the JDK's classes when one exists in
``~/.cache/biomedical_knowledge_graph_spark/`` (``session._cds``), which
roughly halves session start. This script writes it: one JVM runs a
representative build on the package's synthetic fixtures (a
``full_build_job`` over a small OBO ontology and a page corpus, then two
``build_kg_increment`` crawl increments with a compaction, a no-op replay
and a ``published_triples`` read) and archives every class it loaded when
it exits. That takes ~1 minute on 4 cores; the archive is ~150-200 MB and
replaces the archives of any other JDK or Spark install. Exits 1 where no
archive can be used (a non-template file in Spark's conf dir, an
unwritable cache).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from biomedical_knowledge_graph_spark import fixtures  # noqa: E402
from biomedical_knowledge_graph_spark.jobs import full_build_job  # noqa: E402
from biomedical_knowledge_graph_spark.plans import pipeline  # noqa: E402
from biomedical_knowledge_graph_spark.session import (  # noqa: E402
    _cds,
    _cds_paths,
    build_cds_archive,
)
from biomedical_knowledge_graph_spark.sinks.table_format import (  # noqa: E402
    AggregatingSnapshotTable,
    SnapshotTable,
)


def _obo(path: str) -> None:
    """One term per fixture entity: its first alias as the name, the rest
    as EXACT synonyms, an ``is_a`` edge to one of two roots and a
    ``part_of`` edge on every third term; the obsolete entity keeps its
    ``replaced_by``."""
    dim = fixtures.entity_dict_pdf()
    ids = list(dict.fromkeys(dim.canonical_id))
    stanzas = ["format-version: 1.2", ""]
    for i, cid in enumerate(ids):
        rows = dim[dim.canonical_id == cid]
        term = rows.iloc[0]
        lines = ["[Term]", f"id: {cid}", f"name: {term.alias}", "namespace: biological_process"]
        lines += [f'synonym: "{a}" EXACT []' for a in rows.alias[1:]]
        if term.is_obsolete:
            lines += ["is_obsolete: true", f"replaced_by: {term.replaced_by}"]
        elif i >= 2:
            lines.append(f"is_a: {ids[i % 2]}")
            if i % 3 == 0:
                lines.append(f"relationship: part_of {ids[i - 1]}")
        stanzas += [*lines, ""]
    with open(path, "w") as f:
        f.write("\n".join(stanzas))


def representative_build(spark) -> None:
    with tempfile.TemporaryDirectory(prefix="bkg-cds-") as work:
        obo, pages_path, dim_path = (os.path.join(work, n) for n in ("go.obo", "pages", "dim"))
        _obo(obo)
        fixtures.pages_df(spark, n_pages=400).write.parquet(pages_path)
        fixtures.entity_dict_df(spark).write.parquet(dim_path)

        out = os.path.join(work, "build")
        full_build_job.run(spark, obo, pages_path, out, "r1", min_cooccur=2)
        triples = SnapshotTable(os.path.join(out, "triples"), key_cols=["subj", "pred", "obj"])
        triples.read(spark).groupBy("pred").count().collect()

        table = AggregatingSnapshotTable(
            os.path.join(work, "counts"),
            key_cols=["subj", "obj"],
            agg_spec={"weight": "sum"},
            bucket_expr="pmod(xxhash64(subj), 16)",
            compact_after=1,
        )
        pages = spark.read.parquet(pages_path)
        for i in (0, 1, 1):  # the second increment again: a no-op replay
            batch = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == i)
            pipeline.build_kg_increment(
                spark, batch, spark.read.parquet(dim_path), table, run_id=f"batch-{i}"
            )
        pipeline.published_triples(spark, table, min_cooccur=3).collect()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--force", action="store_true", help="rebuild a present archive")
    args = ap.parse_args(argv)
    paths = _cds_paths()
    if paths is None:
        print("build_cds_archive: no archive can be used on this host", file=sys.stderr)
        return 1
    if _cds("local[2]") is not None and not args.force:
        print(f"build_cds_archive: {paths[0]} is present (--force rebuilds it)")
        return 0
    t0 = time.perf_counter()
    archive = build_cds_archive(representative_build)
    mb = os.path.getsize(archive) / 2**20
    print(f"build_cds_archive: wrote {archive} ({mb:.0f} MB) in {time.perf_counter() - t0:.0f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
