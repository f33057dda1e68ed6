"""Dataflow operators (SURVEY.md §2), each idiomatic Spark.

extraction    S1   — HTML→text, Arrow-vectorized pandas UDF, byte-identical
mentions      §2.9 — dictionary mention scan (regex trie in Arrow batches)
linking       J1/J8/J9 — broadcast alias→canonical join + anti-join misses
canonicalize  J3/J4 — upsert-merge semantics as full-outer coalesce
components    J5   — connected components (large-star/small-star)
cooccurrence  J6/A1/P6 — exact per-doc-set co-occurrence pair counts + tiers
dedup         — exact / MinHash-LSH / SimHash / n-gram-Jaccard / embedding
similarity    — cosine top-k ANN (brute force + LSH-bucketed)
textstats     — language-ID, quality score, token count, fingerprint
multimodal    — binary-column decode/feature plumbing (decoders stubbed)
salting       — skew-key salting utility
pagerank      — weighted PageRank, exact fixed-point (engine-bit-identical)
"""
