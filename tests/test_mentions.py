"""Dictionary mention scanners vs naive oracles; the pure-Python
Aho-Corasick reference (tests/ac_reference.py) vs a regex oracle."""

from __future__ import annotations

import random
import re

from ac_reference import AhoCorasick

from biomedical_knowledge_graph_spark.operators.mentions import (
    _SCANNER_CACHE,
    _cached_scanner,
    scan_mentions,
)


def naive_find(text: str, patterns: list[str]) -> set[tuple[int, int, str]]:
    out = set()
    low = text.lower()
    for p in patterns:
        for m in re.finditer(f"(?={re.escape(p)})", low):
            s, e = m.start(), m.start() + len(p)
            before_ok = s == 0 or not (low[s - 1].isalnum() or low[s - 1] == "_")
            after_ok = e == len(low) or not (low[e].isalnum() or low[e] == "_")
            if before_ok and after_ok:
                out.add((s, e, p))
    return out


def test_automaton_overlapping_patterns():
    ac = AhoCorasick(["he", "she", "his", "hers"])
    hits = set(ac.find_all("ushers"))
    assert hits == {(1, 4, "she"), (2, 4, "he"), (2, 6, "hers")}


def test_automaton_matches_naive_random():
    rng = random.Random(0)
    vocab = ["ab", "abc", "bca", "c", "cab", "aabb", "b"]
    for _ in range(50):
        text = "".join(rng.choice("abc ") for _ in range(200))
        ac = AhoCorasick(vocab)
        got = set(ac.find_all(text))
        want = {
            (m.start(), m.start() + len(p), p)
            for p in set(vocab)
            for m in re.finditer(f"(?={re.escape(p)})", text)
        }
        assert got == want


def test_scan_mentions_word_boundary(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha kinase binds Beta channel"),
            (2, "alphakinase is not a mention; alpha kinase is"),
            (3, None),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = scan_mentions(docs, ["alpha kinase", "beta channel"]).collect()
    rows = {(r.doc_id, r.surface, r.begin, r.end) for r in got}
    assert (1, "alpha kinase", 0, 12) in rows
    assert (1, "beta channel", 19, 31) in rows
    assert (2, "alpha kinase", 30, 42) in rows
    assert len([r for r in rows if r[0] == 2]) == 1  # alphakinase rejected
    assert not [r for r in rows if r[0] in (3, 4)]


def test_scan_mentions_matches_naive(spark):
    rng = random.Random(3)
    vocab = ["spark", "data frame", "hash join", "scan", "row"]
    filler = ["x", "yy", "zzz", "spark", "scanner", "rows", "data"]
    rows = []
    for i in range(40):
        words = [rng.choice(filler + vocab) for _ in range(rng.randint(3, 20))]
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.begin, r.end, r.surface)
        for r in scan_mentions(docs, vocab).collect()
    }
    want = set()
    for i, text in rows:
        for s, e, p in naive_find(text, vocab):
            want.add((i, s, e, p))
    assert got == want


def test_token_join_matches_ac_on_single_line_text(spark):
    """The JVM token-n-gram scanner and the in-worker regex-trie scanner
    agree on (doc, surface) sets for token-aligned dictionaries over
    single-line text."""
    from biomedical_knowledge_graph_spark.operators.mentions import (
        scan_mentions_token_join,
    )

    rng = random.Random(7)
    vocab = ["alpha kinase", "beta", "gamma factor seven", "delta"]
    filler = ["xx", "yyy", "alpha", "kinase", "factor", "seven"]
    rows = []
    for i in range(60):
        words = [rng.choice(filler + vocab) for _ in range(rng.randint(3, 25))]
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dim = spark.createDataFrame([(v,) for v in vocab], "alias string")

    ac = {
        (r.doc_id, r.surface)
        for r in scan_mentions(docs, vocab).collect()
    }
    tj = {
        (r.doc_id, r.surface)
        for r in scan_mentions_token_join(docs, dim).collect()
    }
    assert tj == ac
    assert ac  # non-trivial


def test_pipeline_strategies_agree(spark):
    """build_kg's Aho-Corasick mentions and the token-join scanner must
    yield the same triples once each is linked and canonicalized."""
    from kg_reference import triples_from_links, unfused_links

    from biomedical_knowledge_graph_spark import fixtures
    from biomedical_knowledge_graph_spark.plans.pipeline import build_kg

    pages = fixtures.pages_df(spark, n_pages=120, seed=3)
    dim = fixtures.entity_dict_df(spark)
    t_ac = {tuple(r) for r in build_kg(spark, pages, dim, min_cooccur=2).triples.collect()}
    tj_links = {tuple(r) for r in unfused_links(spark, pages, dim).collect()}
    t_tj = triples_from_links(spark, tj_links, min_cooccur=2)
    assert t_ac == t_tj
    assert t_ac  # non-trivial


def test_scan_mentions_linked_both_engines_equal_join(spark):
    """Operator-level fused-scan contract: scan_mentions_linked must equal
    scan + join + per-doc distinct, including nested prefix aliases and
    multi-entity (ambiguous) aliases."""
    from pyspark.sql import functions as F

    from biomedical_knowledge_graph_spark.operators.mentions import (
        scan_mentions,
        scan_mentions_linked,
    )

    docs = spark.createDataFrame(
        [
            ("d1", "alpha kinase binds beta and alpha kinase again"),
            ("d2", "alpha alone, nothing else"),
            ("d3", "AMBIG token here and ambig again"),
            ("d4", ""),
            ("d5", "betamax lacks the bare word"),
        ],
        "doc_id string, text string",
    )
    link_map = {
        "alpha": [("E1", "gene")],
        "alpha kinase": [("E2", "gene")],
        "beta": [("E3", "term")],
        "ambig": [("E4", "gene"), ("E5", "drug")],  # one alias, two entities
    }
    dim = spark.createDataFrame(
        [(a, eid, et) for a, vs in link_map.items() for eid, et in vs],
        "alias string, entity_id string, entity_type string",
    )
    mentions = scan_mentions(docs, list(link_map), id_col="doc_id")
    want = sorted(
        map(
            tuple,
            mentions.join(F.broadcast(dim), mentions["surface"] == dim["alias"])
            .select("doc_id", "entity_id", "entity_type")
            .distinct()
            .collect(),
        )
    )
    assert ("d1", "E1", "gene") in want and ("d1", "E2", "gene") in want
    assert ("d3", "E4", "gene") in want and ("d3", "E5", "drug") in want
    # word boundary: 'betamax' must NOT match the alias 'beta'
    assert not [w for w in want if w[0] == "d5"]
    got = sorted(
        map(
            tuple,
            scan_mentions_linked(docs, link_map, id_col="doc_id").collect(),
        )
    )
    assert got == want


def test_regex_trie_scanner_empty_pattern_set():
    """An empty dictionary must match NOTHING — the naive empty alternation
    compiles to a match-everywhere empty group (zero-width '' hits)."""
    from biomedical_knowledge_graph_spark.operators.mentions import (
        RegexTrieScanner,
    )

    assert RegexTrieScanner([], word_boundary=True).find_all("a  b") == []
    assert RegexTrieScanner([], word_boundary=False).find_all("ab") == []
    assert RegexTrieScanner([""]).find_all("anything") == []


def test_multiword_alias_spans_line_break(spark):
    """Round-5 parity fix: a multi-word alias whose tokens are separated
    by '\\n' in the extracted text (paragraph boundary) must be found by
    the in-worker scanner and the JVM token_join path — whitespace is a
    token separator, not a literal. Found as a 6-link divergence on the
    480k campaign corpus (worker scanners did literal matching and missed
    every alias spanning a paragraph break)."""
    from biomedical_knowledge_graph_spark.operators.mentions import (
        scan_mentions,
        scan_mentions_linked,
        scan_mentions_token_join,
    )

    docs = spark.createDataFrame(
        [
            ("d1", "promisable alpha kinase\nbeta unit omega"),
            ("d2", "alpha kinase beta same line"),
            ("d3", "tab\tseparated alias here"),
        ],
        "doc_id string, text string",
    )
    # 'alpha kinase beta' spans the d1 line break; 'separated alias' a tab
    aliases = ["alpha kinase beta", "separated alias", "omega"]

    got = {
        (r.doc_id, r.surface)
        for r in scan_mentions(docs, aliases, id_col="doc_id").collect()
    }
    assert ("d1", "alpha kinase beta") in got
    assert ("d2", "alpha kinase beta") in got
    assert ("d3", "separated alias") in got
    assert ("d1", "omega") in got

    linked = {
        (r.doc_id, r.entity_id)
        for r in scan_mentions_linked(
            docs,
            {a: [(f"E:{i}", "t")] for i, a in enumerate(aliases)},
            id_col="doc_id",
        ).collect()
    }
    assert ("d1", "E:0") in linked and ("d3", "E:1") in linked

    # and the JVM token_join path agrees on the same rows
    dim = spark.createDataFrame(
        [(a, f"E:{i}", "t", "ns", False, None) for i, a in enumerate(aliases)],
        "alias string, canonical_id string, entity_type string, "
        "namespace string, is_obsolete boolean, replaced_by string",
    )
    tj = {
        (r.doc_id, r.surface)
        for r in scan_mentions_token_join(
            docs, dim, id_col="doc_id", text_col="text"
        )
        .selectExpr("doc_id", "surface")
        .collect()
    }
    assert ("d1", "alpha kinase beta") in tj and ("d3", "separated alias") in tj


def test_scanner_cache_keeps_only_current_key():
    """A reused Python worker keeps one scanner: switching dictionaries
    evicts the previous one, and a repeated key is served from the cache."""
    _SCANNER_CACHE.clear()
    builds = []

    def build(tag):
        builds.append(tag)
        return tag

    assert _cached_scanner(("a",), lambda: build("A")) == "A"
    assert _cached_scanner(("a",), lambda: build("A2")) == "A"
    assert _cached_scanner(("b",), lambda: build("B")) == "B"
    assert list(_SCANNER_CACHE) == [("b",)]
    assert builds == ["A", "B"]
    _SCANNER_CACHE.clear()
