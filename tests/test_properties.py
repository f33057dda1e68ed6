"""Property-based tests (hypothesis): invariants that must hold for ANY
input, not just fixtures — determinism of extraction, AC scanner correctness
against a naive oracle, shingle/Jaccard bounds."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from ac_reference import AhoCorasick, word_bounded

from biomedical_knowledge_graph_spark.operators.extraction import extract_text

# -- extraction ---------------------------------------------------------------

html_bytes = st.binary(max_size=400)


@given(html_bytes)
@settings(max_examples=200, deadline=None)
def test_extract_text_total_and_deterministic(data):
    """Never raises, always a str, byte-identical across calls, no raw tags
    or leading/trailing whitespace per line."""
    out1 = extract_text(data)
    out2 = extract_text(data)
    assert isinstance(out1, str) and out1 == out2
    if out1:
        for line in out1.split("\n"):
            assert line == line.strip()
            assert line != ""  # empty lines dropped


@given(st.text(max_size=200))
@settings(max_examples=100, deadline=None)
def test_extract_text_plain_text_roundtrip(text):
    """Text with no markup survives modulo whitespace normalization."""
    out = extract_text(text.encode("utf-8"))
    # every output token must exist in the input
    for tok in out.replace("\n", " ").split(" "):
        if tok and "&" not in text and "<" not in text:
            assert tok in text


# -- Aho-Corasick -------------------------------------------------------------

pattern_alphabet = st.text(alphabet="abc", min_size=1, max_size=4)


@given(
    st.lists(pattern_alphabet, min_size=1, max_size=8),
    st.text(alphabet="abc ", max_size=120),
)
@settings(max_examples=200, deadline=None)
def test_aho_corasick_equals_regex_oracle(patterns, text):
    ac = AhoCorasick(patterns)
    got = set(ac.find_all(text))
    # lookahead: plain finditer skips OVERLAPPING occurrences (e.g. 'cc' in
    # 'ccc' twice) which AC rightly reports — hypothesis caught this
    want = {
        (m.start(), m.start() + len(p), p)
        for p in set(patterns)
        for m in re.finditer(f"(?={re.escape(p)})", text)
    }
    assert got == want


@given(
    st.lists(
        st.text(alphabet="ab_ -", min_size=1, max_size=5), min_size=1, max_size=10
    ),
    st.text(alphabet="ab_ -x", max_size=150),
    st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_regex_trie_scanner_equals_aho_corasick(patterns, text, word_boundary):
    """The C-speed trie-regex scanner must reproduce the AC hit set exactly
    — including overlapping occurrences, nested-prefix patterns, and the
    isalnum/underscore boundary rule on patterns that start or end with
    non-word chars (where \\b would differ from AC's check)."""
    from biomedical_knowledge_graph_spark.operators.mentions import (
        RegexTrieScanner,
    )

    ac = AhoCorasick(patterns)
    want = {
        (s, e, p)
        for s, e, p in ac.find_all(text)
        if not word_boundary or word_bounded(text, s, e)
    }
    got = set(RegexTrieScanner(patterns, word_boundary=word_boundary).find_all(text))
    assert got == want


# -- shingles / Jaccard bounds ------------------------------------------------


@given(st.text(alphabet="ab ", min_size=0, max_size=60))
@settings(max_examples=100, deadline=None)
def test_shingle_count_bound(text):
    n = 5
    shingles = {text[i : i + n] for i in range(max(len(text) - n + 1, 0))}
    assert len(shingles) <= max(len(text) - n + 1, 0)


# -- bucketed as-of join ------------------------------------------------------


def test_asof_bucketed_random_matches_pandas_oracle(spark):
    """For random keys/timestamps (with duplicates and hot keys), the
    range-bucketed as-of join matches pandas merge_asof per key, for
    several bucket counts including degenerate ones."""
    import random

    import pandas as pd

    from biomedical_knowledge_graph_spark.operators.asof import (
        asof_join_bucketed,
    )

    import datetime as dt

    rng = random.Random(17)
    base = dt.datetime(2024, 1, 1)
    left_rows = [
        (i, rng.choice([1, 1, 1, 2, 3]), base + dt.timedelta(seconds=rng.randint(0, 5000)))
        for i in range(300)
    ]
    right_rows = [
        (rng.choice([1, 1, 2, 4]), base + dt.timedelta(seconds=rng.randint(0, 5000)), float(i))
        for i in range(150)
    ]
    left = spark.createDataFrame(left_rows, "event_id long, k long, ts timestamp")
    right = spark.createDataFrame(right_rows, "k long, ts timestamp, v double")

    lp = pd.DataFrame(left_rows, columns=["event_id", "k", "ts"]).sort_values("ts", kind="mergesort")
    rp = pd.DataFrame(right_rows, columns=["k", "ts", "v"]).sort_values("ts", kind="mergesort")
    want_df = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
    want = {
        (r.event_id, None if pd.isna(r.v) else r.v)
        for r in want_df.itertuples()
    }
    for n_buckets, hot_threshold in ((1, 10), (2, 0), (7, 50), (64, 10), (8, 10**9)):
        got = {
            (r.event_id, r.v_right)
            for r in asof_join_bucketed(
                left, right, key="k", ts="ts", right_value_cols=["v"],
                n_buckets=n_buckets, hot_threshold=hot_threshold,
            ).collect()
        }
        assert got == want, f"n_buckets={n_buckets} hot={hot_threshold}"


# -- OBO stanza parser --------------------------------------------------------

_obo_line = st.one_of(
    st.just("id: GO:0000001"),
    st.just("name: some term"),
    st.builds(lambda s: f"namespace: {s}", st.sampled_from(["biological_process", "cellular_component"])),
    st.builds(lambda t, r: f'def: "{t}" [{r}]', st.text(alphabet="abc ", max_size=10), st.text(alphabet="A:,1", max_size=8)),
    st.builds(lambda t, sc: f'synonym: "{t}" {sc} []', st.text(alphabet="xy ", max_size=8), st.sampled_from(["EXACT", "BROAD", "NARROW", "RELATED", ""])),
    st.builds(lambda g: f"is_a: GO:{g:07d} ! parent", st.integers(0, 99)),
    st.builds(lambda rt, g: f"relationship: {rt} GO:{g:07d}", st.sampled_from(["part_of", "regulates", ""]), st.integers(0, 99)),
    st.builds(lambda v: f"xref: DB:{v}", st.integers(0, 9)),
    st.just("is_obsolete: true"),
    st.just("replaced_by: GO:0000009"),
    st.just("malformed line without colon—ish"),
    st.just(""),
    st.just("[Typedef]"),
)


@given(st.lists(_obo_line, max_size=20))
@settings(max_examples=150, deadline=None)
def test_obo_stanza_parser_total(lines):
    """The stanza parser never raises on arbitrary line soup, returns None
    without an id, and emits schema-complete dicts otherwise — with is_a
    always mirrored into relationships as IS_A."""
    from biomedical_knowledge_graph_spark.sources.readers import (
        _OBO_COLUMNS,
        _parse_stanza,
    )

    term = _parse_stanza("\n".join(lines))
    if term is None:
        assert not any(line.startswith("id:") for line in lines) or any(
            line.startswith("[") and lines.index(line) < next(
                (i for i, l in enumerate(lines) if l.startswith("id:")), len(lines)
            )
            for line in lines
        )
        return
    assert set(term) == set(_OBO_COLUMNS)
    is_a_rels = [r for r in term["relationships"] if r["rel_type"] == "IS_A"]
    assert [r["target"] for r in is_a_rels] == term["is_a"]
    assert len(term["synonyms"]) == len(term["synonym_details"])


# -- BM25 fixed-point vs independent pure-Python reference --------------------


def _bm25_reference(rows, terms, k):
    """Independent pure-Python implementation of the documented
    fixed-point BM25 spec (retrieval.py module docstring), written
    straight from the math — no Spark, no shared code."""
    S = 1 << 20
    docs = {doc_id: text.split(" ") for doc_id, text in rows}
    n = len(docs)
    tot = sum(len(t) for t in docs.values())
    avgdl_i = max(1, tot // n)
    df = {t: sum(1 for toks in docs.values() if t in toks) for t in terms}
    scored = []
    for doc_id, toks in docs.items():
        dl = len(toks)
        contribs = []
        for t in terms:
            tf = toks.count(t)
            if tf == 0:
                continue
            idf_s = ((2 * n - 2 * df[t] + 1) * S) // (2 * df[t] + 1)
            l_s = (dl * S) // avgdl_i
            r_s = (44 * tf * S * S) // (20 * tf * S + 6 * S + 18 * l_s)
            contribs.append((idf_s // S) * r_s + ((idf_s % S) * r_s) // S)
        if contribs:
            scored.append((doc_id, len(contribs), sum(contribs)))
    scored.sort(key=lambda r: (-r[2], r[0]))
    return scored[:k]


def test_bm25_matches_pure_python_reference(spark):
    """For random corpora over a small vocabulary (duplicate tokens,
    single-token docs, absent query terms, score ties), bm25_topk's exact
    integer scores equal an independent pure-Python implementation of the
    documented fixed-point spec — every doc, in the exact output order."""
    import random

    from biomedical_knowledge_graph_spark.operators.retrieval import (
        bm25_topk,
    )

    rng = random.Random(23)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "rho"]
    for trial in range(6):
        n_docs = rng.randint(1, 40)
        rows = [
            (
                i,
                " ".join(
                    rng.choice(vocab) for _ in range(rng.randint(1, 12))
                ),
            )
            for i in range(n_docs)
        ]
        terms = rng.sample(vocab, rng.randint(1, 4)) + ["absent"]
        k = rng.choice([3, 10, 100])
        want = _bm25_reference(rows, terms, k)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = [
            (r.doc_id, r.matched_terms, r.score_scaled)
            for r in bm25_topk(docs, terms, k=k).collect()
        ]
        assert got == want, f"trial {trial}"


# -- stratified sampling vs independent pure-Python reference -----------------


def test_stratified_sample_matches_pure_python_reference(spark):
    """For random strata (skewed sizes, singleton strata) and
    repr-awkward fractions, the picked set per stratum equals an
    independent pure-Python reference: exactly ceil(fraction·n) ids with
    the lowest md5('sample-v1:'+id) hex prefixes, ties by id."""
    import hashlib
    import math
    import random
    from fractions import Fraction

    from biomedical_knowledge_graph_spark.operators.sampling import (
        stratified_exact_sample,
    )

    rng = random.Random(41)
    for fraction in (0.1, 1 / 3, 0.5, 0.07, 1.0):
        strata = [f"s{j}" for j in range(rng.randint(1, 5))]
        rows = [
            (i, rng.choice(strata + [strata[0]] * 3))
            for i in range(rng.randint(1, 400))
        ]
        df = spark.createDataFrame(rows, "doc_id long, stratum string")
        got = {
            (r.doc_id, r.stratum)
            for r in stratified_exact_sample(df, "doc_id", "stratum", fraction)
            .filter("in_sample")
            .collect()
        }
        frac = Fraction(str(fraction)).limit_denominator(10**6)
        by: dict[str, list[int]] = {}
        for doc_id, s in rows:
            by.setdefault(s, []).append(doc_id)
        want = set()
        for s, ids in by.items():
            quota = math.ceil(frac * len(ids))
            ranked = sorted(
                ids,
                key=lambda i: (
                    hashlib.md5(f"sample-v1:{i}".encode()).hexdigest()[:8],
                    i,
                ),
            )
            want |= {(i, s) for i in ranked[:quota]}
        assert got == want, f"fraction {fraction}"


@given(
    st.integers(min_value=1, max_value=10**12),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
@settings(max_examples=300, deadline=None)
def test_exact_sample_quota_is_true_ceiling(n, fraction):
    """The BIGINT quota formula used in stratified_exact_sample equals
    the true ceiling of the limit_denominator'd rational for any stratum
    size up to 10^12, never over-picks, and its products stay under
    2**63 (the documented overflow bound)."""
    import math
    from fractions import Fraction

    frac = Fraction(str(fraction)).limit_denominator(10**6)
    quota = (n * frac.numerator + frac.denominator - 1) // frac.denominator
    assert quota == math.ceil(frac * n)
    assert quota <= n
    if frac > 0:
        assert quota >= 1
    assert n * frac.numerator + frac.denominator - 1 < 2**63


@given(
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_fraction_to_hex_weakly_monotone(a, b):
    """Hex thresholds order like the fractions they encode (string
    comparison of equal-length lowercase hex ≡ integer comparison)."""
    from biomedical_knowledge_graph_spark.operators.sampling import (
        fraction_to_hex,
    )

    fa, fb = fraction_to_hex(a), fraction_to_hex(b)
    assert len(fa) == len(fb) == 8
    if a <= b:
        assert fa <= fb


# -- repetition features vs independent pure-Python reference -----------------


def test_repetition_features_matches_pure_python_reference(spark):
    """Random small-alphabet texts (high collision rates by construction,
    plus empties, single tokens, and whitespace runs): n_tokens and all
    three repetition fractions equal a pure-Python Counter reference."""
    import random
    from collections import Counter

    from biomedical_knowledge_graph_spark.operators.textstats import (
        repetition_features,
    )

    rng = random.Random(43)
    vocab = ["a", "b", "c", "dd", "e"]
    rows = [(0, ""), (1, "solo"), (2, "  "), (3, "x  y")]
    rows += [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
        for i in range(4, 120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert set(got) == {i for i, _ in rows}
    for doc_id, text in rows:
        words = [t for t in text.split(" ") if t]
        bigrams = [
            f"{words[i]} {words[i + 1]}" for i in range(len(words) - 1)
        ]
        n = len(words)
        wc, bc = Counter(words), Counter(bigrams)
        want_dup = round((n - len(wc)) / max(n, 1), 6)
        want_top_w = round((max(wc.values()) if wc else 0) / max(n, 1), 6)
        want_top_b = round(
            (max(bc.values()) if bc else 0) / max(len(bigrams), 1), 6
        )
        r = got[doc_id]
        assert r["n_tokens"] == n, (doc_id, text)
        assert r["dup_word_frac"] == want_dup, (doc_id, text)
        assert r["top_word_frac"] == want_top_w, (doc_id, text)
        assert r["top_bigram_frac"] == want_top_b, (doc_id, text)
        assert r["keep"] == (want_dup <= 0.5 and want_top_b <= 0.05), (
            doc_id,
            text,
        )
