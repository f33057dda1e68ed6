"""Seeded input generation for the benchmark.

Everything here is a pure function of the seed and the size arguments, so
the same seed always yields byte-identical inputs. The engine only ever
sees the parquet / OBO files these functions write; the benchmark keeps
the in-memory description (each page's text lines, each term's fields) to
recompute the expected output independently (see ``reference.py``).

Four generators:

- ``corpus``: an entity dictionary plus a pages corpus whose alias
  mentions are Zipf-skewed (a few hub entities and a long tail, as on a
  web dictionary);
- ``split_batches``: the same corpus cut into disjoint crawl increments;
- ``ontology``: a GO-shaped OBO file (is_a DAG, part_of edges, EXACT and
  BROAD synonyms, obsolete terms with and without ``replaced_by``) plus
  pages whose mentions are drawn uniformly from the term vocabulary;
- ``query_tables``: the ``documents``, ``embeddings``, ``part`` and
  ``lineitem`` tables the registry queries read, in the testdata layout
  (``<dir>/<name>.parquet``, one file each).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# filler vocabulary: letters only, so it can never collide with an alias
# or term token (those always carry a digit)
_FILLER = [
    f"{a}{b}{c}"
    for a in ("re", "pro", "con", "de", "in", "ex", "sub", "trans")
    for b in ("duc", "ten", "mis", "ver", "fac", "pos", "lat", "cur")
    for c in ("tion", "sive", "ment", "able", "ing", "ate", "ory", "ial")
]
_MODS = ["alpha", "beta", "gamma", "delta", "kappa", "sigma", "omega", "zeta"]
_TYPES = ["gene", "term", "drug", "disease"]
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# the pages both page generators write
LINES_PER_PAGE = (10, 30)
WORDS_PER_LINE = (6, 14)
ALIAS_PROB = 0.12  # share of all words that are mentions
ZIPF_S = 1.1  # corpus mention skew
ROWS_PER_FILE = 2000  # pages per parquet file

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("lang", pa.string()),
    ]
)
DICT_SCHEMA = pa.schema(
    [
        ("alias", pa.string()),
        ("canonical_id", pa.string()),
        ("entity_type", pa.string()),
        ("namespace", pa.string()),
        ("is_obsolete", pa.bool_()),
        ("replaced_by", pa.string()),
    ]
)


@dataclass
class Page:
    url: str
    lines: list[str]


@dataclass
class DictRow:
    alias: str
    canonical_id: str
    entity_type: str
    is_obsolete: bool
    replaced_by: str | None


@dataclass
class Term:
    term_id: str
    name: str
    namespace: str
    exact: list[str]
    broad: list[str]
    is_a: list[str]
    part_of: list[str]
    is_obsolete: bool
    replaced_by: str | None


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------


def _pages(
    rng: np.random.Generator,
    n_pages: int,
    mentions: list[str],
    weights: np.ndarray,
    url_prefix: str,
) -> list[Page]:
    """Pages whose words are filler or a mention drawn from ``mentions``
    by ``weights``. Page and line lengths are a seeded
    permutation of a fixed multiset, and exactly ``ALIAS_PROB`` of all
    words are mentions, so every seed yields the same amount of text and
    the same number of mentions."""
    n_lines = rng.permutation(
        np.resize(np.arange(LINES_PER_PAGE[0], LINES_PER_PAGE[1] + 1), n_pages)
    )
    total_lines = int(n_lines.sum())
    n_words = rng.permutation(
        np.resize(np.arange(WORDS_PER_LINE[0], WORDS_PER_LINE[1] + 1), total_lines)
    )
    total_words = int(n_words.sum())
    is_mention = np.zeros(total_words, dtype=bool)
    is_mention[
        rng.choice(total_words, size=round(ALIAS_PROB * total_words), replace=False)
    ] = True
    filler_idx = rng.integers(0, len(_FILLER), total_words)
    mention_idx = rng.choice(len(mentions), size=total_words, p=weights)
    words = [
        mentions[m] if hit else _FILLER[f]
        for hit, m, f in zip(
            is_mention.tolist(), mention_idx.tolist(), filler_idx.tolist()
        )
    ]
    pages: list[Page] = []
    w = line = 0
    n_words_l = n_words.tolist()
    for i, k in enumerate(n_lines.tolist()):
        lines = []
        for _ in range(k):
            nw = n_words_l[line]
            lines.append(" ".join(words[w : w + nw]))
            w += nw
            line += 1
        pages.append(Page(f"{url_prefix}/{i:07d}", lines))
    return pages


def _html(lines: list[str]) -> bytes:
    # script/style noise the extractor must drop; every line is one <p>
    body = "".join(f"<p>{ln}</p>" for ln in lines)
    return (
        "<html><head><style>p { margin: 0 }</style></head><body>"
        f"<script>var n = 1 < 2;</script>{body}</body></html>"
    ).encode()


def write_pages(path: str, pages: list[Page]) -> None:
    os.makedirs(path, exist_ok=True)
    for part, start in enumerate(range(0, len(pages), ROWS_PER_FILE)):
        chunk = pages[start : start + ROWS_PER_FILE]
        table = pa.table(
            {
                "url": [p.url for p in chunk],
                "warc_ts": [
                    _EPOCH + dt.timedelta(seconds=7 * (start + i))
                    for i in range(len(chunk))
                ],
                "html": [_html(p.lines) for p in chunk],
                "lang": ["en"] * len(chunk),
            },
            schema=PAGES_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))


# ---------------------------------------------------------------------------
# corpus: Zipf-skewed entity dictionary + pages
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    dictionary: list[DictRow]
    pages: list[Page]


def corpus(seed: int, n_pages: int, n_entities: int) -> Corpus:
    """Entity dictionary + Zipf-weighted pages.

    Dictionary shape: a head token of its own per entity plus 0-2
    modifiers (1-3 word aliases); ~20 % of entities carry a second alias
    that extends the first (overlapping n-gram matches); ~2 % share an
    alias with another entity (the union-find merge path); ~3 % are
    obsolete, two thirds of those with a ``replaced_by`` target (remapped)
    and a third without (dropped).

    Mentions: entity ranks are a seeded permutation, live entities first,
    mention weight ∝ 1 / rank**ZIPF_S split evenly over the entity's own
    aliases, so every seed has hubs and a long tail of the same shape."""
    rng = np.random.default_rng([seed, 1])
    rows: list[DictRow] = []
    own: list[list[str]] = []
    for k in range(n_entities):
        n_mods = int(rng.choice([0, 1, 1, 2]))
        alias = " ".join([f"gx{k:05d}", *(_MODS[int(i)] for i in rng.integers(0, len(_MODS), n_mods))])
        cid, etype = f"ENT:{k:07d}", _TYPES[k % len(_TYPES)]
        aliases = [alias] + ([f"{alias} v{k % 7}"] if rng.random() < 0.2 else [])
        rows += [DictRow(a, cid, etype, False, None) for a in aliases]
        own.append(aliases)
    ids = [f"ENT:{k:07d}" for k in range(n_entities)]
    types = {r.canonical_id: r.entity_type for r in rows}
    # shared aliases: entity j also claims entity i's first alias
    for _ in range(max(1, n_entities // 50)):
        i, j = (int(x) for x in rng.integers(0, n_entities, 2))
        if i != j:
            rows.append(DictRow(own[i][0], ids[j], types[ids[j]], False, None))
    # obsolete entities: every row of the entity flips obsolete
    obsolete = set(
        rng.choice(n_entities, size=max(1, (3 * n_entities) // 100), replace=False).tolist()
    )
    live = [k for k in range(n_entities) if k not in obsolete]
    replacement: dict[str, str | None] = {}
    for k in sorted(obsolete):
        replacement[ids[k]] = (
            ids[live[int(rng.integers(len(live)))]] if rng.random() < 2 / 3 else None
        )
    for r in rows:
        if r.canonical_id in replacement:
            r.is_obsolete = True
            r.replaced_by = replacement[r.canonical_id]
    order = [*rng.permutation(live).tolist(), *rng.permutation(sorted(obsolete)).tolist()]
    mentions, weights = [], []
    for rank, k in enumerate(order, start=1):
        for alias in own[k]:
            mentions.append(alias)
            weights.append(1.0 / rank**ZIPF_S / len(own[k]))
    pages = _pages(
        rng,
        n_pages,
        mentions,
        np.array(weights) / sum(weights),
        f"https://site{seed % 97}.example/doc/{seed}",
    )
    return Corpus(rows, pages)


def write_dictionary(path: str, rows: list[DictRow]) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "alias": [r.alias for r in rows],
            "canonical_id": [r.canonical_id for r in rows],
            "entity_type": [r.entity_type for r in rows],
            "namespace": ["default"] * len(rows),
            "is_obsolete": [r.is_obsolete for r in rows],
            "replaced_by": [r.replaced_by for r in rows],
        },
        schema=DICT_SCHEMA,
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def split_batches(pages: list[Page], n_batches: int) -> list[list[Page]]:
    """Disjoint, contiguous crawl increments of (nearly) equal size."""
    step = -(-len(pages) // n_batches)
    return [pages[i : i + step] for i in range(0, len(pages), step)]


# ---------------------------------------------------------------------------
# ontology: GO-shaped OBO + uniformly drawn pages
# ---------------------------------------------------------------------------

_NAMESPACES = ("biological_process", "molecular_function", "cellular_component")


@dataclass
class Ontology:
    terms: list[Term]
    pages: list[Page]


def ontology(seed: int, n_terms: int, n_pages: int) -> Ontology:
    """GO-shaped terms and pages that mention them uniformly per term.

    Terms: 2-4 token names; ~30 % with an EXACT synonym
    (~1 % of those equal to another term's name, the shared-alias merge
    path); ~20 % with a BROAD synonym (never a dictionary entry); 1-2 is_a parents
    among earlier terms of the same namespace; ~10 % part_of; ~3 %
    obsolete (no parents), half with ``replaced_by``."""
    rng = np.random.default_rng([seed, 2])
    vocab = [f"{s}{k}" for s in ("ase", "ol", "in", "yl", "ene", "ide") for k in range(150)]
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < n_terms:
        name = " ".join(
            vocab[int(i)] for i in rng.integers(0, len(vocab), int(rng.integers(2, 5)))
        )
        if name not in seen:
            seen.add(name)
            names.append(name)
    ids = [f"GO:{i + 1:07d}" for i in range(n_terms)]
    ns = [_NAMESPACES[int(i)] for i in rng.integers(0, 3, n_terms)]
    by_ns: dict[str, list[int]] = {n: [] for n in _NAMESPACES}
    obsolete = set(
        rng.choice(np.arange(3, n_terms), size=max(1, (3 * n_terms) // 100), replace=False).tolist()
    )
    terms: list[Term] = []
    for i in range(n_terms):
        exact: list[str] = []
        broad: list[str] = []
        if rng.random() < 0.3:
            if rng.random() < 0.01 and i > 0:
                exact.append(names[int(rng.integers(0, i))])
            else:
                exact.append(f"{names[i]} exact{i % 13}")
        if rng.random() < 0.2:
            broad.append(f"{names[i]} broad{i % 11}")
        is_a: list[str] = []
        part_of: list[str] = []
        peers = by_ns[ns[i]]
        if i not in obsolete and peers:
            for p in sorted({int(rng.integers(0, len(peers))) for _ in range(int(rng.integers(1, 3)))}):
                is_a.append(ids[peers[p]])
            if rng.random() < 0.1:
                part_of.append(ids[peers[int(rng.integers(0, len(peers)))]])
        replaced = None
        if i in obsolete and rng.random() < 0.5:
            live = int(rng.integers(0, i))
            while live in obsolete:
                live = int(rng.integers(0, i))
            replaced = ids[live]
        terms.append(
            Term(ids[i], names[i], ns[i], exact, broad, is_a, part_of, i in obsolete, replaced)
        )
        if i not in obsolete:
            peers.append(i)
    # a mention picks a term uniformly, then one of its strings uniformly
    mentions, weights = [], []
    for t in terms:
        strings = [t.name, *t.exact, *t.broad]
        mentions += strings
        weights += [1.0 / len(strings)] * len(strings)
    pages = _pages(
        rng,
        n_pages,
        mentions,
        np.array(weights) / sum(weights),
        f"https://onto{seed % 89}.example/page/{seed}",
    )
    return Ontology(terms, pages)


def write_obo(path: str, terms: list[Term]) -> None:
    name_of = {t.term_id: t.name for t in terms}
    out = ["format-version: 1.2", "ontology: go", ""]
    for t in terms:
        out += ["[Term]", f"id: {t.term_id}", f"name: {t.name}", f"namespace: {t.namespace}"]
        out.append(f'def: "Synthetic definition of {t.name}." [GOC:bench]')
        for s in t.exact:
            out.append(f'synonym: "{s}" EXACT [GOC:bench]')
        for s in t.broad:
            out.append(f'synonym: "{s}" BROAD []')
        for p in t.is_a:
            out.append(f"is_a: {p} ! {name_of[p]}")
        for p in t.part_of:
            out.append(f"relationship: part_of {p} ! {name_of[p]}")
        if t.is_obsolete:
            out.append("is_obsolete: true")
            if t.replaced_by:
                out.append(f"replaced_by: {t.replaced_by}")
        out.append("")
    out += ["[Typedef]", "id: part_of", "name: part of", ""]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(out))


# ---------------------------------------------------------------------------
# query tables: the testdata schema the registry queries read
# ---------------------------------------------------------------------------

# the documents vocabulary: the registry's entity aliases plus filler
_DOC_WORDS = (
    "join scan filter sort merge agg window table row column vector customer spark "
    "hash batch small slow order line data value key stream a part group big query "
    "fast the"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_PART_WORDS = ["small", "red", "blue", "steel", "brass", "ring", "widget", "bolt", "gear", "nut"]
_PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"]


def query_tables(
    path: str, seed: int, n_docs: int, n_vectors: int, n_parts: int, n_lineitems: int
) -> None:
    """Write the four tables. Documents are 8-90 words over a 30-word
    vocabulary; every 20th repeats an earlier document plus one word, so
    the near-duplicate queries find pairs."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(path, exist_ok=True)

    def write(name: str, columns: dict) -> None:
        pq.write_table(pa.table(columns), os.path.join(path, f"{name}.parquet"))

    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_DOC_WORDS), int(rng.integers(8, 91)))
            texts.append(" ".join(_DOC_WORDS[w] for w in words.tolist()))
    write(
        "documents",
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [_LANGS[int(k)] for k in rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{int(k)}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
    )
    vectors = rng.normal(0.0, 0.1, (n_vectors, 64)).astype(np.float32)
    write(
        "embeddings",
        {
            "vec_id": pa.array(range(n_vectors), pa.int64()),
            "embedding": pa.array(vectors.tolist(), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vectors), pa.int32()),
        },
    )
    write(
        "part",
        {
            "p_partkey": pa.array(range(n_parts), pa.int64()),
            "p_name": [
                f"{_PART_WORDS[int(a)]} {_PART_WORDS[int(b)]}"
                for a, b in rng.integers(0, len(_PART_WORDS), (n_parts, 2))
            ],
            "p_brand": [f"Brand#{int(k)}" for k in rng.integers(1, 26, n_parts)],
            "p_type": [_PART_TYPES[int(k)] for k in rng.integers(0, len(_PART_TYPES), n_parts)],
            "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
            "p_retailprice": np.round(900.0 + 0.1 * np.arange(n_parts), 2),
        },
    )
    quantity = rng.integers(1, 51, n_lineitems).astype(np.float64)
    ship_days = rng.integers(0, 8 * 365, n_lineitems)
    write(
        "lineitem",
        {
            "l_orderkey": pa.array(rng.integers(0, max(1, n_lineitems // 4), n_lineitems), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n_lineitems), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n_lineitems), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lineitems), pa.int32()),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2000.0, n_lineitems), 2),
            "l_discount": np.round(rng.integers(0, 11, n_lineitems) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_lineitems) / 100, 2),
            "l_returnflag": [("A", "N", "R")[int(k)] for k in rng.integers(0, 3, n_lineitems)],
            "l_linestatus": [("F", "O")[int(k)] for k in rng.integers(0, 2, n_lineitems)],
            "l_shipdate": pa.array(
                (np.datetime64("1995-01-01") + ship_days.astype("timedelta64[D]")).astype(
                    "datetime64[us]"
                )
            ),
        },
    )
