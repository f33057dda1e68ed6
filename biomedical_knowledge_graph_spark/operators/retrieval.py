"""BM25 top-k retrieval over a document corpus, in EXACT fixed-point
arithmetic (round 5).

Keyword retrieval is the standard selection primitive in a training-data
pipeline (pull the top-k most relevant documents for a topic / quality
probe / eval-set seed). The reference has no analogue; this is one of
the "beyond the reference" text operators, built Spark-first: tokenize →
explode → filter to query terms → per-(doc, term) tf aggregate → tiny
broadcast idf join → per-doc score sum → TakeOrderedAndProject top-k.
No Python UDF anywhere; every expression is whole-stage-codegen JVM.

Why fixed-point: BM25's idf uses ``ln`` — a transcendental whose last
ULP is libm-dependent, so Spark and an oracle engine can disagree and a
value-hash comparison fails. Following the fixed-point PageRank/Lloyd
trick (pagerank.py, similarity.py), this operator replaces ``ln`` with
the exact rational idf ``(N - df + 0.5) / (df + 0.5)`` — computed as the
integer ``((2N - 2·df + 1) · S) div (2·df + 1)`` with ``S = 2**20`` —
and evaluates the whole per-term score in BIGINT floor divisions:

- corpus stats (floor-rounded by spec): ``avgdl_i = total_tokens div N``
- length norm    ``L_s   = (dl · S) div avgdl_i``
- k1 = 1.2 and b = 0.75 as exact rationals 6/5 and 3/4, so the classic
  ``tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` becomes
  ``den  = 20·tf·S + 6·S + 18·L_s``
  ``r_s  = (44·tf·S·S) div den``
- idf applied without overflow via the EXACT decomposition
  ``(idf_s · r_s) div S = (idf_s div S)·r_s + ((idf_s mod S)·r_s) div S``
  (exact because ``(q·S + m)·r = q·S·r + m·r`` and ``q·S·r`` is
  divisible by ``S``), keeping every product under 2**63 for corpora up
  to ~2**40 docs and per-doc term frequencies up to
  ``floor((2**63 − 1) / (44·S²)) = 190,650`` — the binding product is
  the ``44·tf·S²`` numerator of ``r_s``; a corpus whose single documents
  repeat one term >190 k times needs a smaller ``S`` (every bound scales
  as S²).

Integer sums are associative/commutative, so scores are bit-identical
for ANY partitioning and reproducible in ANSI SQL (DuckDB ``//`` / ``%``
— identical to Spark ``div`` / ``%`` on the non-negative operands used
here), which is what lets the top-k be value-hash oracled. ``score`` is
also exposed as a double via one IEEE division of the exact integer
(correctly rounded, engine-independent).

Scale: one aggregate action computes the two corpus scalars (doc count
+ token total) before scoring, so each query reads the corpus twice:
once for the stats, once for the candidates. The scoring path prunes
docs with a codegen'd ``array_contains`` OR-chain BEFORE the explode, so
only candidate docs enter the generate stage, and only query-term tokens
survive into the one (doc, term) shuffle. df/idf is a ≤|Q|-row
broadcast. Final top-k is ``ORDER BY … LIMIT k`` →
TakeOrderedAndProject (per-partition heaps + single driver merge of
k·partitions rows), never a global sort.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

SCALE = 1 << 20


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` docs by fixed-point BM25 over whitespace tokens.

    Returns (id_col, matched_terms, score_scaled, score) ordered by
    score descending, ties broken by ascending id. ``score_scaled`` is
    the exact BIGINT score (scale 2**20); ``score`` = score_scaled / S.
    The corpus stats cost one aggregate action over ``docs``."""
    if not terms:
        raise ValueError("bm25_topk needs at least one query term")
    S = SCALE
    toks = docs.select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("toks"),
    ).select(id_col, "toks", F.size("toks").alias("dl"))

    # Two corpus scalars; floor-rounded avgdl is part of the spec so the
    # oracle can reproduce it exactly. Single bounded driver action. The
    # stats pass counts tokens WITHOUT materializing the split array —
    # size(split(s, " ")) is always spaces(s) + 1 (split keeps empty
    # tokens, incl. trailing), so length-minus-length(translate)+1 is
    # provably identical (property-pinned) at a fraction of the
    # allocation cost.
    stats = docs.agg(
        F.count("*").alias("n"),
        F.sum(
            # NULL text propagates to NULL — identical to
            # size(split(NULL, ' ')) under Spark 4 semantics
            F.length(text_col)
            - F.length(F.translate(F.col(text_col), " ", ""))
            + 1
        ).alias("tot"),
    ).first()
    n_docs = int(stats["n"])
    total_tokens = int(stats["tot"]) if stats["tot"] is not None else 0
    if n_docs <= 0 or total_tokens <= 0:
        raise ValueError("bm25_topk over an empty/untokenizable corpus")
    avgdl_i = max(1, total_tokens // n_docs)

    any_term = reduce(
        lambda a, b: a | b,
        [F.array_contains("toks", t) for t in terms],
    )
    # tf feeds BOTH the idf branch and the scoring branch; without a
    # persist Catalyst re-plans the subtree twice and the corpus is
    # scanned once per branch. Persisted, the broadcast-idf job
    # materializes the cache (≤ candidate_docs × |terms| rows) and the
    # scoring stage reads it back — one candidate scan total.
    tf = (
        toks.filter(any_term)
        .select(id_col, "dl", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(list(terms)))
        .groupBy(id_col, "dl", "tok")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    idf = tf.groupBy("tok").agg(
        F.countDistinct(id_col).alias("df")
    ).select(
        "tok",
        F.expr(
            f"((2 * {n_docs}L - 2 * df + 1) * {S}L) div (2 * df + 1)"
        ).alias("idf_s"),
    )
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .withColumn("l_s", F.expr(f"(dl * {S}L) div {avgdl_i}L"))
        .withColumn(
            "r_s",
            F.expr(
                f"(44 * tf * {S}L * {S}L)"
                f" div (20 * tf * {S}L + 6 * {S}L + 18 * l_s)"
            ),
        )
        .withColumn(
            "contrib",
            F.expr(
                f"(idf_s div {S}L) * r_s"
                f" + ((idf_s % {S}L) * r_s) div {S}L"
            ),
        )
    )
    out = (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("matched_terms"),
            F.sum("contrib").alias("score_scaled"),
        )
        .select(
            id_col,
            "matched_terms",
            "score_scaled",
            (F.col("score_scaled") / F.lit(float(S))).alias("score"),
        )
        .orderBy(F.desc("score_scaled"), F.asc(id_col))
        .limit(k)
    )
    # Materialize the ≤k-row result eagerly so the tf cache can be
    # released before returning — repeated calls in one session (bench
    # reps, oracle harness) must not accumulate cached blocks.
    out = out.localCheckpoint(eager=True)
    tf.unpersist()
    return out
