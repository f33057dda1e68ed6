"""Independent pure-Python recomputation of the expected KG output.

Calls no package operator. From the generator's own description of the
inputs (each page's text lines, the dictionary rows or OBO terms) it
tokenizes, matches dictionary n-grams, resolves obsolete entries, runs a
union-find over ids that share an alias, and counts distinct-document
entity pairs. The engine's committed or published triples must equal
this set exactly.
"""

from __future__ import annotations

from collections import Counter

from perfbench.gen import DictRow, Page, Term

TIERS = ((50, "high"), (10, "medium"), (3, "low"))


def _tier(n: int) -> str:
    for threshold, label in TIERS:
        if n >= threshold:
            return label
    return "below_threshold"


def _alias_map(rows: list[tuple[str, str, bool, str | None]]) -> dict[str, set[str]]:
    """(alias, id, is_obsolete, replaced_by) → lowercase alias → resolved ids.

    Obsolete ids are re-pointed at their replacement (or dropped without
    one); ids sharing an alias merge, each component resolving to its
    smallest id."""
    pairs = []
    for alias, cid, obsolete, replaced_by in rows:
        if obsolete:
            if replaced_by is None:
                continue
            cid = replaced_by
        pairs.append((alias, cid))
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    first: dict[str, str] = {}
    for alias, cid in pairs:
        other = first.setdefault(alias, cid)
        a, b = find(other), find(cid)
        if a != b:
            parent[max(a, b)] = min(a, b)
    out: dict[str, set[str]] = {}
    for alias, cid in pairs:
        out.setdefault(alias.lower(), set()).add(find(cid))
    return out


def doc_entities(pages: list[Page], alias_map: dict[str, set[str]]) -> list[set[str]]:
    """Per page, the set of resolved entities whose alias occurs as a
    contiguous run of whitespace-separated tokens."""
    max_n = max(len(a.split(" ")) for a in alias_map)
    out = []
    for page in pages:
        toks = " ".join(page.lines).lower().split()
        ents: set[str] = set()
        for n in range(1, max_n + 1):
            for i in range(len(toks) - n + 1):
                hit = alias_map.get(" ".join(toks[i : i + n]))
                if hit:
                    ents |= hit
        out.append(ents)
    return out


def pair_counts(entity_sets: list[set[str]]) -> Counter:
    counts: Counter = Counter()
    for ents in entity_sets:
        ordered = sorted(ents)
        for i, a in enumerate(ordered):
            for b in ordered[i + 1 :]:
                counts[(a, b)] += 1
    return counts


def cooccurrence_triples(counts: Counter, min_count: int) -> set[tuple]:
    """(subj, pred, obj, weight, confidence) rows at ``min_count``."""
    return {
        (a, "CO_OCCURS_WITH", b, n, _tier(n))
        for (a, b), n in counts.items()
        if n >= min_count
    }


def pair_yield_base(entity_sets: list[set[str]]) -> int:
    """Σ_doc C(k, 2): every candidate pair the explosion could emit."""
    return sum(len(e) * (len(e) - 1) // 2 for e in entity_sets)


def corpus_alias_map(rows: list[DictRow]) -> dict[str, set[str]]:
    return _alias_map(
        [(r.alias, r.canonical_id, r.is_obsolete, r.replaced_by) for r in rows]
    )


def ontology_alias_map(terms: list[Term]) -> dict[str, set[str]]:
    """Names and EXACT synonyms link; BROAD synonyms never do."""
    return _alias_map(
        [
            (alias, t.term_id, t.is_obsolete, t.replaced_by)
            for t in terms
            for alias in [t.name, *t.exact]
        ]
    )


def ontology_typed_triples(terms: list[Term]) -> set[tuple]:
    return {
        (t.term_id, pred, target, 1, "ontology")
        for t in terms
        for pred, targets in (("IS_A", t.is_a), ("PART_OF", t.part_of))
        for target in targets
    }
