"""Loaders for the driver-generated testdata tables (TESTDATA.md) and the
embedded entity dictionary used by the documents-table KG queries.

The dictionary is 1:1 alias→entity (ambiguity/CC paths are exercised by the
fixtures dictionary in fixtures.py and by the lineitem-derived CC query);
it is the single source of truth for both the Spark queries and the DuckDB
oracle SQL (rendered as an inline VALUES CTE).
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_SIZE_SUFFIX = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def _parse_bytes(raw: str) -> int | None:
    """A Spark byte-size conf value (``134217728``, ``128m``, ``1g``,
    ``64kb``) in bytes; None when it does not parse."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", str(raw).strip().lower())
    return int(m[1]) << _SIZE_SUFFIX[m[2]] if m else None


def _hidden(name: str) -> bool:
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _estimated_scan_splits(spark: SparkSession, path: str) -> int | None:
    """How many input splits a parquet scan of ``path`` will roughly get:
    max(file count, total bytes / maxPartitionBytes). A directory's data
    files are summed recursively, so hive-partitioned tables count every
    file under their ``col=value`` subdirs. Local filesystem only — any
    other scheme, or an unparsable ``maxPartitionBytes``, returns None
    (caller must assume the scan parallelizes naturally, which at cluster
    scale it does)."""
    try:
        if os.path.isfile(path):
            sizes = [os.path.getsize(path)]
        elif os.path.isdir(path):
            sizes = []
            for d, subdirs, files in os.walk(path):
                # Spark's hidden-path rule: skip _/. names, but keep
                # hive partition dirs (``_snap=1`` holds data)
                subdirs[:] = [s for s in subdirs if not _hidden(s)]
                sizes += [
                    os.path.getsize(os.path.join(d, f))
                    for f in files
                    if not _hidden(f)
                ]
        else:
            return None
    except OSError:
        return None
    if not sizes:
        return None
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    max_pb = _parse_bytes(raw)
    if not max_pb:
        return None
    return max(len(sizes), math.ceil(sum(sizes) / max_pb))


def load(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = False
) -> DataFrame:
    """Read one testdata table. ``parallelize=True`` is for call sites
    whose FIRST stage does heavy per-row work (shingling, wide partial
    aggregates, Arrow kernels): when the scan would yield fewer splits
    than ``defaultParallelism`` — the single-file/single-row-group
    testdata layout is exactly the guide's "one huge unsplittable file"
    input-skew case (§2.5), every pre-exchange operator runs on ONE core
    — a round-robin repartition to core count spreads the rows first.
    Catalyst still pushes filters and prunes columns THROUGH the
    repartition to the parquet scan (verified: PushedFilters/ReadSchema
    unchanged), so only row placement differs. At production scale the
    scan has >= parallelism splits and the gate disables itself: the
    plan is byte-identical to ``parallelize=False``. Zero-shuffle
    projection queries must NOT set it — an exchange there would double
    the bytes moved at scale for no win."""
    if name not in TABLES:
        raise KeyError(name)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if parallelize:
        par = spark.sparkContext.defaultParallelism
        est = _estimated_scan_splits(spark, f"{sf_dir}/{name}.parquet")
        if est is not None and est < par:
            df = df.repartition(par)
    return df


# alias → (entity_id, entity_type); aliases are single lowercase tokens of
# the documents vocabulary, so word-boundary matching == ' alias ' containment
DOC_ENTITY_DICT: tuple[tuple[str, str, str], ...] = (
    ("join", "ENT:OP:JOIN", "operator"),
    ("scan", "ENT:OP:SCAN", "operator"),
    ("filter", "ENT:OP:FILTER", "operator"),
    ("sort", "ENT:OP:SORT", "operator"),
    ("merge", "ENT:OP:MERGE", "operator"),
    ("agg", "ENT:OP:AGG", "operator"),
    ("window", "ENT:OP:WINDOW", "operator"),
    ("table", "ENT:OBJ:TABLE", "object"),
    ("row", "ENT:OBJ:ROW", "object"),
    ("column", "ENT:OBJ:COLUMN", "object"),
    ("vector", "ENT:OBJ:VECTOR", "object"),
    ("customer", "ENT:ACT:CUSTOMER", "actor"),
    ("spark", "ENT:SYS:SPARK", "system"),
)


def doc_entity_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        list(DOC_ENTITY_DICT), "alias string, entity_id string, entity_type string"
    )


def doc_dict_cte() -> str:
    """The same dictionary as a DuckDB inline-VALUES CTE body."""
    rows = ", ".join(
        f"('{a}', '{e}', '{t}')" for a, e, t in DOC_ENTITY_DICT
    )
    return f"dict(alias, entity_id, entity_type) AS (VALUES {rows})"


def render_pathway_csv_fixture(nation_rows: list) -> str:
    """Render a NeST-shaped pathway CSV (S10) from the nation/region dims:
    one pathway per region whose gene list is the comma-joined nation names
    of that region. Construction rules (mirrored in the oracle SQL of
    pathway_membership / pathway_modules):

    - NEST ID 'NEST:<r>', name 'PATHWAY_<r>';
    - name_new 'Pathway for region <r>' only for even r (coalesce path);
    - Size_All = 7 for r=0, blank for r=3 (gene-count fallback), else 5;
    - Cisplatin = r*0.5 + 0.1 for even r, the string 'NA' for odd
      (try_cast → null); Etoposide = r*1.25 always;
    - selected = (r % 2 == 0); name_show = r; sum = 3r;
    - Camptothecin/CD437/Gemcitabine/Olaparib columns absent entirely
      (typed-null schema-stability path).
    """
    by_region: dict[int, list[str]] = {}
    for r in sorted(nation_rows, key=lambda r: r["n_nationkey"]):
        by_region.setdefault(r["n_regionkey"], []).append(r["n_name"])
    lines = ["NEST ID,name,name_new,All_Genes,Size_All,Cisplatin,Etoposide,selected,name_show,sum"]
    for r in sorted(by_region):
        genes = ", ".join(by_region[r])  # space after comma → trim path
        name_new = f"Pathway for region {r}" if r % 2 == 0 else ""
        size_all = "7" if r == 0 else ("" if r == 3 else "5")
        cisplatin = f"{r * 0.5 + 0.1:.1f}" if r % 2 == 0 else "NA"
        lines.append(
            f'NEST:{r},PATHWAY_{r},{name_new},"{genes}",{size_all},'
            f"{cisplatin},{r * 1.25:.2f},{str(r % 2 == 0).lower()},{r},{3 * r}"
        )
    return "\n".join(lines) + "\n"


def render_obo_fixture(nation_rows: list) -> str:
    """Render the nation dim as a deterministic OBO ontology so the stanza
    parser's full surface (typed relationships, synonym scope/refs, def
    refs, xrefs) can be driver-oracled against plain SQL over the same
    table. Construction rules (mirrored in the oracle SQL of the
    obo_relationship_edges / obo_synonym_scopes queries):

    - every nation k: term N:<k>, is_a R:<regionkey>;
    - k % 3 == 0: relationship part_of R:<(regionkey+1)%5>;
    - k % 3 == 1: relationship regulates N:<(k+1)%25>;
    - synonym '<name> land', scope EXACT for even k / BROAD for odd,
      with one ref X:<k> iff k % 5 != 0;
    - def text with two refs; xref DB:<k> iff k % 4 == 0.
    """
    out = ["format-version: 1.2", ""]
    for r in sorted(nation_rows, key=lambda r: r["n_nationkey"]):
        k, name, region = r["n_nationkey"], r["n_name"], r["n_regionkey"]
        out += [
            "[Term]",
            f"id: N:{k:02d}",
            f"name: {name}",
            "namespace: biological_process",
            f'def: "Nation {name} term." [REF:{k}, PMID:{7 * k}]',
        ]
        scope = "EXACT" if k % 2 == 0 else "BROAD"
        refs = f"[X:{k}]" if k % 5 != 0 else "[]"
        out.append(f'synonym: "{name} land" {scope} {refs}')
        if k % 4 == 0:
            out.append(f"xref: DB:{k}")
        out.append(f"is_a: R:{region} ! region {region}")
        if k % 3 == 0:
            out.append(f"relationship: part_of R:{(region + 1) % 5} ! next region")
        elif k % 3 == 1:
            out.append(f"relationship: regulates N:{(k + 1) % 25:02d}")
        out.append("")
    return "\n".join(out)
