"""Corpus-level boilerplate removal for webtext training pipelines.

Two standard cleanup passes every public web corpus runs (C4, RefinedWeb,
Gopher):

- ``remove_repeated_lines``: the C4 rule — a LINE occurring ≥ ``min_count``
  times across the corpus is boilerplate ("subscribe to our newsletter",
  cookie banners, nav text) and is stripped from every document. This is a
  corpus-global operator: line frequencies need one exchange.
- ``c4_line_filter``: the C4 per-line heuristics — keep only lines with a
  minimum word count and terminal punctuation, drop lines mentioning
  javascript/cookies/lorem-ipsum and lines containing curly braces (code).
  Pure per-document projection: ZERO shuffle, scan speed, no Python.

Both preserve original line order and emit per-doc removal counters so the
pipeline's lineage rows can track how much each pass deleted.

Scale notes (100 TB): remove_repeated_lines is exactly two shuffles —
(1) lines exchanged on the line value for a window count (the same
WindowExec-over-partition trick split_contamination uses: a boilerplate
line shared by half the corpus becomes one spillable sorted run inside a
window partition, never an in-memory aggregation buffer or a hot join
key), then (2) the surviving lines group back on doc id for reassembly.
There is deliberately NO hashed-line variant: partitioning the exchange by
xxhash64(line) would shrink shuffle keys but a collision would silently
merge two different lines' counts — the exactness contract wins; the
shuffle already carries (id, pos, line) and lines are short.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def remove_repeated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """Strip every line occurring ≥ ``min_count`` times corpus-wide.

    Output: (id_col, text_clean, n_lines, n_removed) — one row per input
    document (docs whose every line is boilerplate survive with
    ``text_clean = ''``). Counting is OCCURRENCE-based like C4's "any line
    that appeared more than three times in the corpus" (a doc repeating
    its own line contributes every repetition), which is what makes the
    window count exact without a per-(line, doc) dedup pass.

    Plan: posexplode(split) → window count over the line partition →
    one groupBy(id) that rebuilds the document from the kept lines in
    original order (collect_list skips the NULL the when() emits for
    removed lines) and counts both tallies in the same aggregate — two
    shuffles total, no join-back, no driver action.
    """
    if min_count < 2:
        raise ValueError(f"min_count must be ≥ 2: {min_count}")
    # coalesce: a NULL text must survive as an empty doc, not vanish from
    # the output (posexplode of NULL emits no rows)
    lines = df.select(
        id_col,
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), F.lit(sep), -1)
        ).alias("_pos", "_line"),
    )
    repeated = (
        F.count("*").over(Window.partitionBy("_line")) >= min_count
    )
    kept_struct = F.when(
        ~F.col("_rep"), F.struct(F.col("_pos"), F.col("_line"))
    )
    return (
        lines.withColumn("_rep", repeated)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.col("_rep").cast("long")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["_line"],
                ),
                sep,
            ).alias("text_clean"),
        )
        .select(id_col, "text_clean", "n_lines", "n_removed")
    )


# the C4 heuristics' drop-terms, mirrored verbatim in oracle SQL
C4_BAD_TERMS: tuple[str, ...] = ("javascript", "lorem ipsum", "cookie")


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    require_terminal_punct: bool = True,
    sep: str = "\n",
) -> DataFrame:
    """C4 per-line cleanup: keep lines with ≥ ``min_words`` whitespace
    words, (optionally) ending in terminal punctuation (. ! ? ")
    and containing no curly brace or drop-term (``C4_BAD_TERMS``,
    case-insensitive). Output: (id_col, text_clean, n_lines, n_kept).

    Entirely higher-order array functions over the split — a single
    projection, zero shuffle, zero Python: the 100 TB path is the scan
    itself."""
    if min_words < 1:
        raise ValueError(f"min_words must be ≥ 1: {min_words}")

    def keep(line):
        trimmed = F.trim(line)
        ok = (
            F.size(F.filter(F.split(trimmed, " ", -1), lambda w: F.length(w) > 0))
            >= min_words
        )
        if require_terminal_punct:
            ok = ok & F.substring(trimmed, -1, 1).isin(".", "!", "?", '"')
        lower = F.lower(trimmed)
        ok = ok & ~lower.contains("{") & ~lower.contains("}")
        for term in C4_BAD_TERMS:
            ok = ok & ~lower.contains(term)
        return ok

    split = F.split(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(sep), -1
    )
    kept = F.filter(split, keep)
    return df.select(
        id_col,
        F.array_join(kept, sep).alias("text_clean"),
        F.size(split).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def remove_repeated_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring dedup at token-window granularity (the
    scale-practical form of Lee et al.'s "Deduplicating Training Data
    Makes Language Models Better" suffix-array pass): any ``w``-token
    window whose exact content occurs ≥ ``min_count`` times CORPUS-WIDE
    is removed from every document, overlapping repeated windows merging
    into one excised span. Output: (id, text_clean, n_tokens,
    n_removed_tokens) — original token order preserved, counting
    occurrence-based like remove_repeated_lines.

    Plan: the token array is materialized ONCE per row (an inlined
    expression inside the window transform's lambda would re-run the
    split per window element — measured ~44× recompute per doc), window
    hashes are md5 over the joined token slice (md5 for oracle parity),
    and corpus frequency is a map-side-combinable count aggregate whose
    HAVING-filtered survivors inner-join back onto the window stream —
    NOT a window count: window hashes are mostly UNIQUE, and WindowExec
    pays per-partition-group setup (~226 µs/group measured, 49.7 CPU-s
    for 220 k groups) where the hash aggregate pays per-row; the
    join-back frame after HAVING is only the actually-repeated windows.
    Repeated windows fan out to their ≤ w covered token positions
    (volume bounded by repeated windows only, not the corpus), and one
    left_anti join + groupBy(id) reassembles the surviving tokens.
    Every exchange is key-partitioned and corpus-row-bounded; nothing
    corpus-shaped is broadcast.

    Both shared frames are lazily localCheckpointed at DISK_ONLY: ``arr``
    (token arrays; feeds the token stream, the window stream and the
    id/count spine) so the corpus is scanned and split once, and ``wins``
    (window hashes; feeds the frequency aggregate and the join-back) so
    the w-token concat + md5 per position runs once. The stored window
    stream is the same bytes the min_count aggregate's exchange consumes.
    Measured against rescanning either frame at 480 k Zipf docs (BENCH.md
    round-7 table): 32.6 s stored vs 38.3 s (``arr`` only) and 42.7 s
    (neither)."""
    if w < 2:
        raise ValueError(f"window must be ≥ 2 tokens: {w}")
    if min_count < 2:
        raise ValueError(f"min_count must be ≥ 2: {min_count}")
    # materialize the token array once per row: referencing the split
    # expression inside the transform lambda re-evaluates it per window
    # element (no CSE across lambda boundaries — measured ~44× per doc)
    arr = df.select(
        id_col,
        F.expr(
            f"filter(split(coalesce({text_col}, ''), ' '), "
            f"t -> length(t) > 0)"
        ).alias("_ts"),
    )
    # token-array corpus: disk, never memory
    arr = arr.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    # *_outer + null-drop, NOT plain explode: InferFiltersFromGenerate
    # would re-evaluate the expensive generator child (the token split /
    # the per-window md5 transform) two extra times per row as an
    # inferred size()>0 pre-filter (the repo-wide explode rule)
    toks = arr.select(
        id_col,
        F.posexplode_outer("_ts").alias("_pos", "_tok"),
    ).filter(F.col("_tok").isNotNull())
    wins = arr.select(
        id_col,
        F.explode_outer(
            F.expr(
                f"CASE WHEN size(_ts) >= {w} THEN "
                f"transform(sequence(0, size(_ts) - {w}), i -> "
                f"struct(i as pos, md5(cast(concat_ws(' ', "
                f"slice(_ts, i + 1, {w})) as binary)) as wh)) "
                f"ELSE array() END"
            )
        ).alias("_w"),
    ).filter(F.col("_w").isNotNull()).select(
        id_col, F.col("_w.pos").alias("_wpos"), F.col("_w.wh").alias("_wh")
    )
    wins = wins.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    hot = (
        wins.groupBy("_wh")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_wh")
    )
    repeated = wins.join(hot, "_wh")
    covered = repeated.select(
        id_col,
        F.explode(
            F.expr(f"sequence(_wpos, _wpos + {w - 1})")
        ).alias("_pos"),
    ).distinct()
    kept = toks.join(covered, [id_col, "_pos"], "left_anti")
    # id spine + token totals in ONE doc-row aggregate over arr (the sum
    # of array sizes equals the token-stream row count, duplicate-id
    # inputs included) — the r6 shape paid a separate corpus scan for
    # the spine plus a token-row aggregate for the counts
    base = arr.groupBy(id_col).agg(
        F.sum(F.size("_ts")).cast("long").alias("n_tokens")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos"), F.col("_tok")))
                ),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("text_clean"),
        F.count("*").cast("long").alias("_n_kept"),
    )
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.col("n_tokens"),
            (
                F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0))
            ).alias("n_removed_tokens"),
        )
    )
