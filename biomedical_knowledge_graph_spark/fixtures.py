"""Deterministic synthetic fixtures (FIXTURES.md) — seed-fixed, no external
data. These back the pytest correctness gates (byte-identical extraction,
triple P/R vs an independent pure-Python ruleset) and the scaling bench.

The `pages` generator builds html *from* a known token stream, so the
expected extracted text is known by construction (not produced by the
extractor under test — no circularity): the html wraps each line in
<p>...</p> with script/style/comment noise interleaved, and the expected
text is exactly the lines joined by \\n.
"""

from __future__ import annotations

import datetime as dt
import math
import random
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# entity dictionary fixture (FIXTURES.md §2)
# ---------------------------------------------------------------------------

# vocabulary of surface forms used in generated page text; overlaps are
# deliberate: shared aliases drive connected-components dedup, hub aliases
# drive skew paths.
_ENTITY_SPECS: list[tuple[str, list[str], str, str, bool, str | None]] = [
    # (canonical_id, aliases, entity_type, namespace, is_obsolete, replaced_by)
    ("ENT:0000001", ["alpha kinase", "alphak"], "gene", "ns_a", False, None),
    ("ENT:0000002", ["beta channel", "betac"], "gene", "ns_a", False, None),
    ("ENT:0000003", ["gamma factor", "gammaf"], "gene", "ns_b", False, None),
    ("ENT:0000004", ["delta complex"], "term", "ns_b", False, None),
    ("ENT:0000005", ["epsilon pathway"], "term", "ns_c", False, None),
    ("ENT:0000006", ["zeta receptor", "zetar"], "drug", "ns_a", False, None),
    ("ENT:0000007", ["eta virus"], "virus", "ns_c", False, None),
    ("ENT:0000008", ["theta disease"], "disease", "ns_b", False, None),
    # shared alias: "omega unit" maps to both 9 and 10 → CC merge path
    ("ENT:0000009", ["omega unit", "omegau"], "gene", "ns_a", False, None),
    ("ENT:0000010", ["omega unit", "omega-10"], "gene", "ns_a", False, None),
    # hub alias (appears in ~half the docs) → skew path
    ("ENT:0000011", ["common marker"], "term", "ns_a", False, None),
    # obsolete entity remapped to ENT:0000005
    ("ENT:0000012", ["old pathway"], "term", "ns_c", True, "ENT:0000005"),
]

_FILLER = (
    "the quick brown study reports results for sample cohort measured "
    "across repeated trials with control groups and observed variance"
).split()


def entity_dict_pdf() -> pd.DataFrame:
    rows = []
    for cid, aliases, etype, ns, obs, rep in _ENTITY_SPECS:
        for alias in aliases:
            rows.append(
                {
                    "alias": alias,
                    "canonical_id": cid,
                    "entity_type": etype,
                    "namespace": ns,
                    "is_obsolete": obs,
                    "replaced_by": rep,
                }
            )
    return pd.DataFrame(rows)


ENTITY_DICT_SCHEMA = T.StructType(
    [
        T.StructField("alias", T.StringType(), False),
        T.StructField("canonical_id", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("namespace", T.StringType(), False),
        T.StructField("is_obsolete", T.BooleanType(), False),
        T.StructField("replaced_by", T.StringType(), True),
    ]
)


def entity_dict_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(entity_dict_pdf(), schema=ENTITY_DICT_SCHEMA)


# ---------------------------------------------------------------------------
# pages fixture (FIXTURES.md §1)
# ---------------------------------------------------------------------------

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),  # golden expected text
        T.StructField("lang", T.StringType(), False),
    ]
)

_LANGS = ["en"] * 8 + ["de", "fr"]
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


@dataclass
class PageSpec:
    url: str
    lang: str
    lines: list[str] = field(default_factory=list)
    malformed: bool = False
    empty: bool = False


def _zipf_host(rng: random.Random, n_hosts: int) -> str:
    # Zipf-ish: host rank r with p ∝ 1/r — head domains get most pages
    # (FIXTURES.md: skewed host distribution exercises head-domain salting)
    h = sum(1.0 / r for r in range(1, n_hosts + 1))
    x = rng.random() * h
    acc = 0.0
    for r in range(1, n_hosts + 1):
        acc += 1.0 / r
        if acc >= x:
            return f"host{r:04d}.example"
    return f"host{n_hosts:04d}.example"


def _page_lines(rng: random.Random, aliases: list[str], hub: str) -> list[str]:
    n_lines = rng.randint(2, 6)
    lines = []
    for _ in range(n_lines):
        words: list[str] = []
        for _ in range(rng.randint(4, 12)):
            roll = rng.random()
            if roll < 0.22:
                words.append(rng.choice(aliases))
            elif roll < 0.30:
                words.append(hub)
            else:
                words.append(rng.choice(_FILLER))
        lines.append(" ".join(words))
    return lines


def _render_html(rng: random.Random, spec: PageSpec) -> bytes:
    if spec.empty:
        return b""
    noise = [
        "<script type='text/javascript'>var x = 1 < 2 && 3 > 2;</script>",
        "<style>p { color: red; }</style>",
        "<!-- crawler noise -->",
    ]
    parts = ["<html><head><title></title>", rng.choice(noise), "</head><body>"]
    for line in spec.lines:
        parts.append(rng.choice(noise) if rng.random() < 0.3 else "")
        parts.append(f"<p>{line}</p>")
    if spec.malformed:
        parts.append("<div><p>dangling")  # unclosed tags — parser must survive
        spec.lines.append("dangling")
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8")


def pages_pdf(n_pages: int = 200, seed: int = 42) -> pd.DataFrame:
    """Deterministic pages table. ``text`` is the golden expected
    extraction output (known by construction)."""
    rng = random.Random(seed)
    aliases = sorted(
        {a for _, als, _, _, obs, _ in _ENTITY_SPECS for a in als if not obs}
    )
    hub = "common marker"
    n_hosts = max(4, n_pages // 50)
    rows = []
    for i in range(n_pages):
        host = _zipf_host(rng, n_hosts)
        spec = PageSpec(
            url=f"https://{host}/doc/{i:06d}",
            lang=rng.choice(_LANGS),
            malformed=rng.random() < 0.05,
            empty=rng.random() < 0.02,
        )
        if not spec.empty:
            spec.lines = _page_lines(rng, aliases, hub)
        html = _render_html(rng, spec)
        expected_text = "\n".join(spec.lines) if not spec.empty else ""
        rows.append(
            {
                "url": spec.url,
                "warc_ts": _EPOCH + dt.timedelta(seconds=i * 37),
                "html": html,
                "text": expected_text,
                "lang": spec.lang,
            }
        )
    return pd.DataFrame(rows)


def pages_df(spark: SparkSession, n_pages: int = 200, seed: int = 42) -> DataFrame:
    return spark.createDataFrame(pages_pdf(n_pages, seed), schema=PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# pure-Python reference ruleset (independent of the Spark implementation)
# used for the P/R ≥ 0.95 gate — see tests/test_pipeline.py
# ---------------------------------------------------------------------------


def reference_triples(
    pages: pd.DataFrame, min_count: int = 3
) -> set[tuple[str, str, str]]:
    """Independent (naive, quadratic) implementation of
    extract → mention → link → canonicalize-shared-alias → co-occur.

    Deliberately written with plain dict/set scans (no reuse of the Spark
    operators) so the pytest P/R gate compares two implementations.
    """
    alias_to_ids: dict[str, set[str]] = {}
    for cid, aliases, _, _, obs, rep in _ENTITY_SPECS:
        target = rep if obs else cid
        if obs and rep is None:
            continue
        for a in aliases:
            alias_to_ids.setdefault(a.lower(), set()).add(target)

    # union-find over ids sharing an alias (canonicalization)
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo

    for ids in alias_to_ids.values():
        ids_l = sorted(ids)
        for other in ids_l[1:]:
            union(ids_l[0], other)

    doc_entities: dict[str, set[str]] = {}
    for _, row in pages.iterrows():
        text = (row["text"] or "").lower()
        padded = " " + text.replace("\n", " ") + " "
        ents = set()
        for alias, ids in alias_to_ids.items():
            if f" {alias} " in padded:
                for cid in ids:
                    ents.add(find(cid))
        if ents:
            doc_entities[row["url"]] = ents

    pair_docs: dict[tuple[str, str], set[str]] = {}
    for url, ents in doc_entities.items():
        ents_l = sorted(ents)
        for i, a in enumerate(ents_l):
            for b in ents_l[i + 1 :]:
                pair_docs.setdefault((a, b), set()).add(url)

    return {
        (a, "CO_OCCURS_WITH", b)
        for (a, b), docs in pair_docs.items()
        if len(docs) >= min_count
    }


# ---------------------------------------------------------------------------
# bench-scale corpus: distributed generation (driver loops cannot produce
# 10⁵-10⁶ pages; generation itself must be a Spark job, seeded per page id)
# ---------------------------------------------------------------------------

_BENCH_FILLER = [
    f"{a}{b}{c}"
    for a in ("re", "pro", "con", "de", "in", "ex", "sub", "trans")
    for b in ("duc", "ten", "mis", "ver", "fac", "pos", "lat", "cur")
    for c in ("tion", "sive", "ment", "able", "ing", "ate", "ory", "ial")
]  # 512 deterministic filler words


def synthetic_alias_specs(
    n_entities: int = 5000, seed: int = 42
) -> list[tuple[str, str, str]]:
    """(alias, canonical_id, entity_type) — 1-3-word aliases over an entity
    vocabulary disjoint from the filler; ~20% of entities get a second
    alias (canonicalization path)."""
    rng = random.Random(seed)
    types = ["gene", "term", "drug", "disease"]
    heads = [f"ent{i:04d}" for i in range(1500)]
    mods = ["alpha", "beta", "gamma", "delta", "kappa", "sigma", "omega", "zeta"]
    out: list[tuple[str, str, str]] = []
    seen: set[str] = set()
    i = 0
    while len({c for _, c, _ in out}) < n_entities:
        n_words = rng.choice([1, 2, 2, 3])
        alias = " ".join(
            rng.choice(mods if w % 2 else heads) for w in range(n_words)
        )
        if alias in seen:
            continue
        seen.add(alias)
        cid = f"ENT:{i:07d}"
        out.append((alias, cid, types[i % len(types)]))
        if rng.random() < 0.2:
            alt = f"{alias} variant{i % 7}"
            if alt not in seen:
                seen.add(alt)
                out.append((alt, cid, types[i % len(types)]))
        i += 1
    return out


def generate_pages_distributed(
    spark: SparkSession,
    n_pages: int,
    aliases: list[str],
    seed: int = 42,
    lines_per_page: tuple[int, int] = (10, 30),
    words_per_line: tuple[int, int] = (6, 14),
    alias_prob: float = 0.12,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic pages as a Spark job: page i is a pure function of
    (seed, i), so any partitioning/parallelism yields identical content.
    Returns (url, warc_ts, html, lang)."""
    import pandas as _pd

    bc = spark.sparkContext.broadcast((sorted(aliases), _BENCH_FILLER))
    n_hosts = max(4, n_pages // 50)

    def gen(batches):
        alias_list, filler = bc.value
        for pdf in batches:
            rows = []
            for pid in pdf["id"].values:
                rng = random.Random(f"{seed}:{int(pid)}")
                host = f"host{rng.randrange(n_hosts):05d}.example"
                lines = []
                for _ in range(rng.randint(*lines_per_page)):
                    words = []
                    for _ in range(rng.randint(*words_per_line)):
                        if rng.random() < alias_prob:
                            words.append(rng.choice(alias_list))
                        else:
                            words.append(rng.choice(filler))
                    lines.append(" ".join(words))
                body = "".join(f"<p>{ln}</p>" for ln in lines)
                html = f"<html><body>{body}</body></html>".encode()
                rows.append(
                    {
                        "url": f"https://{host}/doc/{int(pid):09d}",
                        "warc_ts": _EPOCH + dt.timedelta(seconds=int(pid) * 7),
                        "html": html,
                        "lang": "en",
                    }
                )
            yield _pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "lang"]
            )

    base = spark.range(n_pages)
    if partitions:
        base = base.repartition(partitions)
    return base.mapInPandas(
        gen, schema="url string, warc_ts timestamp, html binary, lang string"
    )


def synthetic_entity_dict_df(
    spark: SparkSession, n_entities: int = 5000, seed: int = 42
) -> DataFrame:
    """Bench-scale alias dim in the pipeline's expected schema."""
    specs = synthetic_alias_specs(n_entities, seed)
    rows = [
        (alias, cid, etype, "default", False, None) for alias, cid, etype in specs
    ]
    return spark.createDataFrame(rows, schema=ENTITY_DICT_SCHEMA)
