"""Reference-rule document quality filters: C4 and Gopher.

Two canonical LLM-corpus cleaning rule sets, implemented as pure Column
expressions (narrow maps — no shuffle, no Python, embarrassingly parallel
at any corpus size) with exact DuckDB oracles:

- :func:`c4_line_filter` — the C4 line/page cleaning rules (Raffel et
  al., "Exploring the Limits of Transfer Learning with a Unified
  Text-to-Text Transformer", JMLR 2020, §2.2): keep lines ending in
  terminal punctuation with at least ``min_words`` words and no
  "javascript"; kill pages containing "lorem ipsum" or a curly brace, or
  with fewer than ``min_sentences`` kept lines (the line-as-sentence
  proxy; C4 counts sentences, which on line-structured web text is the
  same signal).
- :func:`gopher_quality` — the Gopher quality heuristics (Rae et al.,
  "Scaling Language Models: Methods, Analysis & Insights from Training
  Gopher", 2021, §A1.1): word-count bounds, mean word length band,
  symbol-to-word ratio, bullet/ellipsis line fractions,
  alphabetic-word fraction, and a minimum number of distinct common
  English stop words.

Both return every input row annotated (never silently dropped) so the
caller chooses filter vs audit mode — the same kill-set convention as
pipeline/curation.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.worker import skip_zip_rescan

# Gopher's "at least 2 of" stop-word list (Rae et al. A1.1)
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]

_TERMINAL_RE = r'[.!?"”]$'
_BULLET_RE = r"^\s*[-*•‣▪]"
_ELLIPSIS_RE = r"(\.\.\.|…)\s*$"


def _words(t: Column) -> Column:
    return F.filter(F.split(t, r"\s+"), lambda w: w != F.lit(""))


def c4_line_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """Every input row with the C4-cleaned text plus audit columns.

    Line rule (kept iff ALL hold): ends in terminal punctuation
    (. ! ? " ”), has >= ``min_words`` whitespace words, does not contain
    "javascript" (case-insensitive).  Page rules (killed iff ANY):
    contains "lorem ipsum" (case-insensitive), contains '{', or keeps
    fewer than ``min_sentences`` lines.  kill_reason is the first
    matching rule in that order ('' when kept).

    Output: all input columns with ``text_col`` rewritten to the kept
    lines joined by newline, plus n_lines, n_kept_lines, killed,
    kill_reason."""
    raw = F.col(text_col)
    lines = F.split(raw, "\n")
    kept = F.filter(
        lines,
        lambda t: t.rlike(_TERMINAL_RE)
        & (F.size(_words(t)) >= F.lit(min_words))
        & ~F.lower(t).contains("javascript"),
    )
    lorem = F.lower(raw).contains("lorem ipsum")
    brace = raw.contains("{")
    few = F.size(kept) < F.lit(min_sentences)
    reason = (
        F.when(lorem, F.lit("lorem_ipsum"))
        .when(brace, F.lit("curly_brace"))
        .when(few, F.lit("too_few_sentences"))
        .otherwise(F.lit(""))
    )
    others = [c for c in docs.columns if c != text_col]
    return docs.select(
        *others,
        F.array_join(kept, "\n").alias(text_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        (lorem | brace | few).alias("killed"),
        reason.alias("kill_reason"),
    )


def line_repetition(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher's duplicate-line repetition signals (Rae et al. 2021
    §A1.1), the line-level complement of pipeline/text.repetition_stats'
    token-level ones: per document,

    - ``dup_line_frac``      — fraction of line OCCURRENCES that repeat
                               an earlier line,
    - ``dup_line_char_frac`` — fraction of line characters inside those
                               repeated occurrences (Gopher kills docs
                               above 0.3/0.2 respectively).

    Pure array Column math (split -> distinct -> two aggregates): a
    narrow map, no shuffle.  Ratios rounded to 6 (hash-stable)."""
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    nl = F.greatest(n_lines, F.lit(1)).cast("double")
    distinct = F.array_distinct(lines)
    total_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, l: a + F.length(l)
    )
    distinct_chars = F.aggregate(
        distinct, F.lit(0).cast("long"), lambda a, l: a + F.length(l)
    )
    return docs.select(
        id_col,
        n_lines.cast("long").alias("n_lines"),
        (n_lines - F.size(distinct)).cast("long").alias("n_dup_lines"),
        F.round((n_lines - F.size(distinct)) / nl, 6).alias("dup_line_frac"),
        F.round(
            (total_chars - distinct_chars)
            / F.greatest(total_chars, F.lit(1)).cast("double"),
            6,
        ).alias("dup_line_char_frac"),
    )


def compression_ratio(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """(id, n_bytes, n_compressed, ratio) per document — the
    compression-ratio quality signal (e.g. RefinedWeb; MassiveText's
    repetition filters approximate the same thing): templated/repetitive
    text compresses far better than natural prose, so a LOW ratio flags
    boilerplate and a ratio near/above 1 flags high-entropy garble.

    zlib at a fixed level is deterministic for a given library build, but
    NOT across zlib builds — so this operator is gate-checked by
    invariants (q_compression_check), not a value hash.  Arrow-batched
    mapInPandas; one narrow pass, no shuffle."""
    import zlib
    from typing import Iterator

    import pandas as pd

    def comp(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        skip_zip_rescan()
        for pdf in it:
            nb, nc = [], []
            for text in pdf[text_col]:
                raw = (text or "").encode("utf-8")
                nb.append(len(raw))
                nc.append(len(zlib.compress(raw, level)))
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "n_bytes": pd.Series(nb, dtype="int64"),
                    "n_compressed": pd.Series(nc, dtype="int64"),
                }
            )
            out["ratio"] = out["n_compressed"] / out["n_bytes"].clip(lower=1)
            yield out

    return docs.select(
        F.col(id_col).cast("long").alias(id_col), text_col
    ).mapInPandas(
        comp,
        schema=f"{id_col} long, n_bytes long, n_compressed long, ratio double",
    )


def gopher_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Per-document Gopher quality metrics and the pass verdict.

    Rules (ALL must hold to pass): min_words <= n_words <= max_words;
    3 <= mean word length <= 10; (count('#') + count('...')) / n_words
    <= 0.1; <= 90% of lines start with a bullet; <= 30% of lines end
    with an ellipsis; >= 80% of words contain an alphabetic character;
    >= 2 distinct Gopher stop words present as words.

    Ratio columns are rounded to 6 places (hash-stable across engines);
    the verdict uses the same rounded values so the two agree."""
    raw = F.col(text_col)
    lines = F.split(raw, "\n")
    words = _words(raw)
    n_words = F.size(words).cast("long")
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    nl = F.greatest(F.size(lines), F.lit(1)).cast("double")
    mean_wlen = F.round(
        F.aggregate(
            words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        )
        / nw,
        6,
    )
    n_hash = F.length(raw) - F.length(F.regexp_replace(raw, "#", ""))
    n_ellipsis = (
        F.length(raw) - F.length(F.regexp_replace(raw, r"\.\.\.", ""))
    ) / F.lit(3)
    symbol_ratio = F.round((n_hash + n_ellipsis) / nw, 6)
    bullet_frac = F.round(
        F.size(F.filter(lines, lambda t: t.rlike(_BULLET_RE))) / nl, 6
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda t: t.rlike(_ELLIPSIS_RE))) / nl, 6
    )
    alpha_frac = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / nw, 6
    )
    low = F.transform(words, lambda w: F.lower(w))
    stop_hits = sum(
        (F.array_contains(low, s).cast("long") for s in GOPHER_STOPS),
        F.lit(0).cast("long"),
    )
    out = docs.select(
        id_col,
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("n_stop_hits"),
    )
    passed = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_stop_hits") >= 2)
    )
    return out.withColumn("passed", passed)


def blocklist_filter(
    docs: DataFrame,
    words: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4's word-blocklist page rule (Raffel et al. 2020 §2.2: any page
    containing a word from a banned-word list is removed).  The list is
    a PARAMETER — production pipelines supply their own (C4 used the
    "List of Dirty, Naughty, Obscene..." list, which has no business
    being hardcoded here); matching is token-boundary exact on
    lowercased whitespace tokens, the same tokenizer as the rest of the
    pipeline, so "class" never matches a blocklisted "ass".

    Pure Column math (split -> filter by literal array membership): a
    narrow map, no shuffle, blocklist folded into the generated code as
    a constant array.  For blocklists beyond a few thousand entries
    prefer a broadcast join against a terms table instead of a literal.

    Returns every row annotated (kill-set convention): (id, n_blocked
    token occurrences, blocked flag).
    """
    lowered = [w.lower() for w in words]
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda t: t != F.lit(""),
    )
    hits = F.filter(
        toks, lambda t: t.isin(*lowered) if lowered else F.lit(False)
    )
    return docs.select(
        id_col,
        F.size(hits).cast("long").alias("n_blocked"),
        (F.size(hits) > 0).alias("blocked"),
    )


def winsorize(
    df: "DataFrame",
    value_col: str,
    by: list[str] | None = None,
    lo: float = 0.01,
    hi: float = 0.99,
    out_col: str | None = None,
) -> "DataFrame":
    """Input plus ``out_col`` (default ``<value_col>_w``): ``value_col``
    clipped at the EXACT per-group [lo, hi] percentiles — the robust
    pre-scaling step before mixing heterogeneous quality scores or
    feeding length/score features to a model (a handful of crawler
    artifacts with absurd values otherwise dominate any mean/variance
    normalization).  ``by=None`` clips against global percentiles.

    Percentiles are Spark's exact ``percentile`` (sort-based, linear
    interpolation — the same definition as ANSI quantile_cont, so a
    DuckDB oracle replays the clip bit-for-bit).  Scale: one per-group
    sort-aggregate for the bounds (group count is the cardinality of
    ``by`` — bounded; for percentiles of a single astronomically large
    group switch to percentile_approx and give up the exact oracle),
    then a broadcast join of the tiny bounds table and a narrow clip
    map over the fact rows."""
    from pyspark.sql import functions as F

    out_col = out_col or f"{value_col}_w"
    v = F.col(value_col).cast("double")
    agg = [
        F.expr(f"percentile({value_col}, {lo!r})").alias("__lo"),
        F.expr(f"percentile({value_col}, {hi!r})").alias("__hi"),
    ]
    if by:
        bounds = df.groupBy(*by).agg(*agg)
        j = df.join(F.broadcast(bounds), by)
    else:
        bounds = df.agg(*agg)
        j = df.crossJoin(F.broadcast(bounds))
    # greatest/least skip NULL operands, so a bare clip would turn a NULL
    # value into __lo — gate on isNotNull so NULLs pass through unchanged
    clip = F.least(F.greatest(v, F.col("__lo")), F.col("__hi"))
    return j.withColumn(
        out_col, F.when(v.isNotNull(), clip).otherwise(F.lit(None))
    ).drop("__lo", "__hi")
