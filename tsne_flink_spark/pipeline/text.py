"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is native Column expressions (regex, length, split,
hashing) — no Python UDFs — so the operators whole-stage-codegen and scale
linearly with input; each is a single narrow map over the documents table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.worker import skip_zip_rescan

# A small built-in stopword list per language for the n-gram/stopword
# language-ID heuristic.
_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "y", "de", "un", "una", "es", "que", "por"],
}


def tokenize(text: Column) -> Column:
    """Whitespace tokenization; empty strings filtered (multi-space safe)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokenize(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: words + digits + punctuation runs, the usual
    cheap stand-in for a BPE tokenizer when only a count is needed."""
    toks = F.split(text, r"(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])")
    return F.size(F.filter(toks, lambda t: (t != F.lit("")) & (t != F.lit(" "))))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    words = _STOPWORDS[lang]
    toks = tokenize(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(words)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return n_punct / F.greatest(F.length(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0, 1]: rewards moderate length, low
    punctuation density, and stopword presence (prose-likeness)."""
    n_tokens = token_count(text)
    length_term = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * F.lit(4.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * F.lit(5.0), F.lit(1.0))
    return (length_term + punct_term + stop_term) / F.lit(3.0)


def language_id(text: Column) -> Column:
    """Stopword-vote language ID across the built-in lexicons; 'und' when no
    stopwords hit.  A deterministic n-gram-free heuristic (real models are a
    plug-in point)."""
    toks = tokenize(F.lower(text))

    def count_hits(words):
        # NB: a default-arg lambda would change the higher-order function's
        # arity (pyspark counts parameters) — build via closure instead
        return F.size(F.filter(toks, lambda t: t.isin(words)))

    scores = {lang: count_hits(words) for lang, words in _STOPWORDS.items()}
    best_score = F.greatest(*scores.values())
    result = F.lit("und")
    # deterministic priority order on ties: en, de, fr, es
    for lang in reversed(list(_STOPWORDS)):
        result = F.when(
            (scores[lang] == best_score) & (best_score > 0), F.lit(lang)
        ).otherwise(result)
    return result


def lang_trigram_profiles() -> dict[str, list[str]]:
    """Per-language character-trigram profiles (Cavnar-Trenkle style),
    derived deterministically from the built-in stopword lexicons with
    word-boundary padding — one shared constant, so the Spark operator and
    any SQL oracle score the exact same trigram sets."""
    profs: dict[str, list[str]] = {}
    for lang, words in _STOPWORDS.items():
        tris = set()
        for w in words:
            padded = f" {w} "
            tris.update(padded[i : i + 3] for i in range(len(padded) - 2))
        profs[lang] = sorted(tris)
    return profs


def char_trigrams(text: Column) -> Column:
    """All character trigrams of the space-padded lowercase text (with
    occurrence counts — no distinct), as an array column."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(padded) - 2, F.lit(1))),
        lambda i: F.substring(padded, i, F.lit(3)),
    )


def language_id_ngram(text: Column) -> Column:
    """Character-n-gram language ID: score each language by how many of
    the document's trigram OCCURRENCES land in that language's profile;
    argmax with the same deterministic tie order as ``language_id``
    ('und' when nothing matches).  Robust to unknown words in a way the
    stopword vote is not — sub-word character statistics carry the
    signal.  Pure Column expressions over one trigram array, bound via
    ``_let`` so the array is evaluated once per row despite the many
    profile references."""
    profiles = lang_trigram_profiles()

    def scored(tris: Column) -> Column:
        scores = {
            lang: F.size(F.filter(tris, lambda t: t.isin(profile)))
            for lang, profile in profiles.items()
        }
        best = F.greatest(*scores.values())
        result = F.lit("und")
        for lang in reversed(list(_STOPWORDS)):
            result = F.when(
                (scores[lang] == best) & (best > 0), F.lit(lang)
            ).otherwise(result)
        return result

    return _let(char_trigrams(text), scored)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace/case-normalized text — the exact-dedup key."""
    normalized = F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))
    return F.md5(normalized)


def rolling_fingerprint(text: Column, base: int = 257, mod: int = 2**54 - 33) -> Column:
    """Polynomial rolling hash (Rabin-Karp) of the normalized token stream:
    ``h = (h * base + xxhash64(token)) mod m`` folded left-to-right.

    Order-sensitive, unlike the md5 ``fingerprint``: documents with the same
    tokens in different order hash differently, and the incremental form is
    the building block for windowed/streaming fingerprints.  Pure Column
    fold, one pass.  ``mod * base`` must stay below 2^63 (the fold keeps
    ``acc < mod``, so ``mod*base + mod`` is the per-step overflow bound) —
    the defaults leave a 2× margin.
    """
    if mod * (base + 1) >= 2**63:
        raise ValueError("mod * (base+1) must stay below 2^63 to avoid overflow")
    toks = tokenize(F.lower(text))
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * F.lit(base) + F.pmod(F.abs(F.xxhash64(t)), F.lit(mod)),
            F.lit(mod),
        ),
    )


def _let(col: Column, fn) -> Column:
    """Bind ``col`` to a higher-order-function lambda variable so ``fn``'s
    body can reference it many times while it is evaluated ONCE per row.

    Without this, chaining array stages through ``select`` projections is a
    trap: Catalyst's CollapseProject inlines the producing expression at
    EVERY reference, so ``slice(grams, j, w)`` inside a transform re-derives
    the whole grams array per window position — measured as an O(L^3)
    interpreted blowup in ``winnow_fingerprints`` (single 500-doc partition
    pinned for minutes; jstack shows ArrayTransform>ArrayAggregate>
    ArrayTransform nests).  ``transform(array(col), v -> body)[1]`` is the
    Column-level `let`: the singleton wrapper forces one evaluation and the
    lambda variable is a cheap bound reference.
    """
    return F.element_at(F.transform(F.array(col), fn), 1)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "id",
    base: int = 257,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``k``-gram of characters
    with a polynomial rolling hash, then keep the minimum hash of each
    window of ``w`` consecutive grams.  The selected set is a *local*
    fingerprint: any shared substring of length >= ``k + w - 1`` between two
    documents is guaranteed to contribute at least one common fingerprint,
    which makes the output joinable for partial-overlap detection (vs the
    whole-document ``fingerprint``/``rolling_fingerprint``, which only catch
    full-content duplicates).

    Returns one row per distinct ``(id_col, fp)`` — fingerprints are deduped
    per-document *inside* the array (``array_distinct``) before the explode,
    so the result needs NO shuffle: scan -> narrow map -> explode, fully
    whole-stage-codegen, linear in total characters (O(k + w) column ops per
    character).  Documents shorter than ``k + w - 1`` characters produce no
    rows (standard winnowing has no window to select from), matching the
    guarantee's threshold.

    The hash is plain integer arithmetic (``(acc*base + codepoint) % mod``)
    rather than ``xxhash64`` so an external engine can reproduce it exactly
    — the DuckDB oracle mirrors it with ``list_reduce`` (see
    ``__spark_entry__.oracle_sql['doc_fingerprint']``).  ``mod * base``
    stays below 2^63 (acc < mod bounds each step).
    """
    if mod * (base + 1) >= 2**63:
        raise ValueError("mod * (base+1) must stay below 2^63 to avoid overflow")

    # Arrow-batched numpy kernel.  The original pure-Column form (nested
    # sequence/transform/aggregate/slice HOFs over the char array) runs
    # interpreted — ~1 ms/doc, the priciest text op in the suite.  The
    # kernel computes BIT-IDENTICAL fingerprints (same left-fold Horner
    # mod arithmetic, vectorized as k passes of h = (h*base + c[j:]) % m;
    # same w-window min; same per-doc distinct) at a fraction of the
    # cost, and uses true code points (utf-32 view == DuckDB's ord())
    # where Java's empty-pattern split yields UTF-16 units on
    # supplementary characters — strictly closer to the oracle.
    import numpy as np
    import pandas as pd

    from typing import Iterator

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in it:
            ids, fps = [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                t = text or ""
                if len(t) < k:
                    continue
                c = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n_g = len(c) - k + 1
                h = np.zeros(n_g, dtype=np.int64)
                for j in range(k):
                    h = (h * base + c[j : j + n_g]) % mod
                if n_g < w:
                    continue
                mins = sliding_window_view(h, w).min(axis=1)
                u = np.unique(mins)
                ids.extend([rid] * len(u))
                fps.extend(u.tolist())
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "fp": pd.Series(fps, dtype="int64"),
                }
            )

    # spread raw rows before the heavy per-row work: a single-file parquet
    # input scans as ONE partition (same trap dedup._spread documents); at
    # 100 TB the scan splits naturally and this exchange is one narrow
    # O(N) row shuffle
    spread = docs.select(F.col(id_col), F.col(text_col)).repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    return spread.mapInPandas(kernel, schema=f"{id_col} long, fp long")


def winnow_overlap_pairs(
    docs: DataFrame,
    min_shared: int = 3,
    max_df: int | None = 100,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "id",
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints —
    partial-overlap detection (quote reuse, boilerplate, template families),
    the standard use of MOSS fingerprints downstream of
    ``winnow_fingerprints``.

    Returns ``(a, b, n_shared)`` with ``a < b``.  Scale design: the
    all-pairs term rides the fingerprint self-equi-join, so its cost is
    sum over fingerprints of df^2 — a fingerprint shared by a huge number
    of documents (boilerplate headers at 100 TB) would go quadratic.
    ``max_df`` drops fingerprints whose document frequency exceeds the cap
    BEFORE the join (the stop-fingerprint analogue of AllPairs prefix
    filtering), bounding per-key fanout at max_df^2; pairs overlapping only
    via ubiquitous boilerplate are intentionally not reported (set
    ``max_df=None`` for the exact-but-quadratic form).  Both joins shuffle
    on the fingerprint; no broadcast of anything O(N).
    """
    fps = winnow_fingerprints(
        docs, k=k, w=w, text_col=text_col, id_col=id_col
    )
    if max_df is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("__df"))
            .where(F.col("__df") <= max_df)
            .select("fp")
        )
        fps = fps.join(keep, "fp")
    a = fps.select(F.col(id_col).alias("a"), "fp")
    b = fps.select(F.col(id_col).alias("b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1),
    adapted to line-less documents: per document,

    - ``type_token_ratio``  — distinct tokens / tokens (low = repetitive),
    - ``top_token_frac``    — share of the single most frequent token,
    - ``dup_2gram_frac``    — fraction of word 2-gram OCCURRENCES that are
                              repeats of an earlier 2-gram.

    Entirely a narrow map: token counts and the top-token share come from a
    single ``aggregate`` fold over the sorted token array (max run length ==
    max frequency), so there is no explode/groupBy shuffle — the property
    that makes this a free quality column at 100 TB.  2-grams mirror
    ``dedup.shingles`` boundary semantics (a <2-token doc yields one short
    gram) WITHOUT the distinct, since occurrence counts are the signal.
    """
    t = F.lower(F.col(text_col))

    def stats(toks: Column) -> Column:
        n = F.size(toks)
        top = F.aggregate(
            F.array_sort(toks),
            F.struct(
                F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
            ),
            lambda acc, tok: F.struct(
                tok.alias("prev"),
                F.when(tok == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(tok == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(n - 2, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        )
        dup2 = _let(
            grams,
            lambda g: (F.size(g) - F.size(F.array_distinct(g)))
            / F.greatest(F.size(g), F.lit(1)).cast("double"),
        )
        return F.struct(
            n.cast("long").alias("n_tokens"),
            (F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1))).alias(
                "type_token_ratio"
            ),
            (top / F.greatest(n, F.lit(1))).alias("top_token_frac"),
            dup2.alias("dup_2gram_frac"),
        )

    return docs.select(
        id_col, _let(tokenize(t), stats).alias("__s")
    ).select(id_col, "__s.*")


def token_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Power-of-two histogram of per-document token counts — the
    sequence-length distribution a packing/training pipeline checks before
    choosing its context window.

    Bucket = number of binary digits of the token count (floor(log2)+1;
    bucket 0 for empty docs), computed via ``length(bin(n))`` — exact
    integer arithmetic in any engine, where ``floor(log2(x))`` built on a
    double ``log`` can flip at exact powers of two.  One narrow map + one
    tiny hash agg keyed on the bucket.
    """
    n = token_count(F.col(text_col))
    bucket = F.when(n == 0, F.lit(0)).otherwise(
        F.length(F.bin(n.cast("long")))
    )
    return (
        docs.select(
            bucket.cast("int").alias("bucket"),
            n.cast("long").alias("__n"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__n").cast("long").alias("total_tokens"),
            F.min("__n").cast("long").alias("min_tokens"),
            F.max("__n").cast("long").alias("max_tokens"),
        )
    )


def analyze_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text-analysis projection over a documents table."""
    t = F.col(text_col)
    return docs.select(
        "*",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_subword_tokens"),
        F.length(t).alias("n_chars_computed"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
        language_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
        _pii_flag(t).alias("has_pii"),
    )


def _pii_flag(t: Column) -> Column:
    """1 when the text contains any email/phone/IPv4 hit (the scrub suite's
    portable patterns) — the cheap pre-filter before a full redaction pass."""
    from tsne_flink_spark.pipeline.scrub import EMAIL_RE, IPV4_RE, PHONE_RE

    return (
        t.rlike(EMAIL_RE) | t.rlike(PHONE_RE) | t.rlike(IPV4_RE)
    ).cast("int")


def keyword_textrank(
    docs: DataFrame,
    text_col: str = "text",
    iters: int = 10,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` corpus keywords by TextRank (Mihalcea & Tarau 2004):
    PageRank over the word co-occurrence graph — consecutive
    content-word pairs after lowercasing and stop-word removal (the
    union of the `_STOPWORDS` lists) — ranked by centrality rather than
    raw frequency, so connective high-df terms don't dominate the way
    they do in a count-based list.  (word, rank) ordered by rank desc
    then word; ties at the k-th rank break deterministically.

    A pure COMPOSITION of existing operators: the tokenize/filter
    Column pipeline feeds operators/graph.pagerank (10 synchronous
    iterations, undirected, engine-replayable) — the oracle unrolls the
    same rounds over the same pair CTE.  Scale shape: the edge list is
    O(total tokens) rows collapsing to O(distinct bigrams) after the
    distinct, and each PR round is one O(|E|) join; top-k lands as
    TakeOrderedAndProject."""
    from tsne_flink_spark.operators.graph import pagerank

    stops = sorted({w for ws in _STOPWORDS.values() for w in ws})
    toks = docs.select(
        F.filter(
            tokenize(F.lower(F.col(text_col))),
            lambda t: ~t.isin(stops),
        ).alias("__t")
    )
    n1 = F.greatest(F.size("__t") - 1, F.lit(0))
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("__t", 1, n1).alias("a"),
                F.slice("__t", 2, n1).alias("b"),
            )
        ).alias("__p")
    ).select(
        F.least(F.col("__p.a"), F.col("__p.b")).alias("a"),
        F.greatest(F.col("__p.a"), F.col("__p.b")).alias("b"),
    )
    edges = pairs.where(F.col("a") != F.col("b")).distinct()
    ranks = pagerank(edges, iters=iters, undirected=True)
    # round BEFORE the top-k cutoff: float-sum order differs across
    # engines in the last ulps, and an unrounded order-by would let that
    # noise change which ties survive the limit
    return (
        ranks.select(
            F.col("id").alias("word"), F.round("rank", 6).alias("rank")
        )
        .orderBy(F.col("rank").desc(), "word")
        .limit(k)
    )
