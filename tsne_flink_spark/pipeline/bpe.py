"""Byte-pair-encoding tokenizer training and application.

The missing piece between raw-text curation and token budgeting: train a
BPE vocabulary ON the corpus and tokenize with it (Sennrich et al.,
"Neural Machine Translation of Rare Words with Subword Units", ACL 2016).

Spark-first split of the work, the standard industrial shape:

- **corpus-scale**: ONE word-frequency aggregation (explode -> groupBy,
  map-side combined) and a top-``max_words`` cap via TakeOrdered — the
  only passes that touch every document;
- **driver-scale**: the merge loop runs over the CAPPED word-frequency
  table (at most ``max_words`` rows, each a short symbol tuple), exactly
  like reference BPE trainers — per merge it rescans only the words that
  contain the merged pair.  The corpus is never re-read per merge.
- **application**: tokenizing with a FIXED merge table is embarrassingly
  parallel — the ranked merge list broadcasts (a few KB) and each word
  is reduced greedily (lowest-rank pair first) inside an Arrow batch,
  memoized per distinct word within the batch.

Determinism: ties in pair frequency break lexicographically, so the
learned merge list is a pure function of the word-frequency table.
Invariant-gated (q_bpe_check): detokenizing every document reproduces
its whitespace-normalized text, and token counts are conserved.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.worker import skip_zip_rescan

# End-of-word marker.  The original BPE formulation uses the literal
# '</w>', but that string CAN occur verbatim inside a whitespace-split
# token ("foo</w>bar"), which would alias the marker during
# detokenization and falsely fail the round-trip gate.  A newline cannot
# appear in any token (tokens come from splitting on the Java \s class,
# which includes \n), so it is a collision-free sentinel.
EOW = "\n"

# Java regex \s (what F.split uses in word_frequencies and in
# q_bpe_check's normalization) is the ASCII class [ \t\n\x0B\f\r].  The
# Python application side MUST split with the same rule — str.split()
# splits on Unicode whitespace (\xa0 etc.) and would tokenize web text
# differently from the trained word table.
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def word_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_words: int = 65536,
) -> list[tuple[str, int]]:
    """Top-``max_words`` (word, count) pairs, ordered by (-count, word) —
    the bounded table the merge loop trains on.  One shuffle; the cap is
    a distributed TakeOrdered, not a global sort."""
    spread = docs.select(id_col, text_col).repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    wf = (
        spread.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda t: t != F.lit(""),
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rows = wf.orderBy(F.col("n").desc(), F.col("word").asc()).limit(
        max_words
    ).collect()
    return [(r["word"], r["n"]) for r in rows]


def train_bpe(
    word_freqs: list[tuple[str, int]], n_merges: int = 200
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` merges from a (word, count) table.
    Greedy: each step merges the most frequent adjacent symbol pair
    (ties lexicographic), reference-faithful to Sennrich et al.'s
    published algorithm — but implemented incrementally: a pair -> words
    index means each merge touches only the words containing the merged
    pair and adjusts pair counts locally, instead of rescanning the whole
    word table per merge (the difference between O(merges x vocab) and
    O(merges x affected) driver work at a 65k-word cap)."""
    words: list[list[str]] = []
    counts: list[int] = []
    for w, c in word_freqs:
        if w:
            words.append(list(w) + [EOW])
            counts.append(c)

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wid, syms in enumerate(words):
        c = counts[wid]
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(wid)

    def bump(p: tuple[str, str], delta: int, wid: int) -> None:
        n = pair_counts.get(p, 0) + delta
        if n > 0:
            pair_counts[p] = n
        else:
            pair_counts.pop(p, None)
        s = pair_words.setdefault(p, set())
        if delta > 0:
            s.add(wid)
        # negative deltas: membership is re-derived below for the merged
        # word only; stale entries are filtered at use

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] < 2:
            break  # nothing left that actually repeats
        merges.append(best)
        a, b = best
        ab = a + b
        for wid in sorted(pair_words.get(best, ())):
            syms = words[wid]
            c = counts[wid]
            # verify membership (the index can hold stale ids)
            if not any(
                syms[i] == a and syms[i + 1] == b
                for i in range(len(syms) - 1)
            ):
                continue
            # retract this word's old pairs, apply the merge, add new ones
            for p in zip(syms, syms[1:]):
                bump(p, -c, wid)
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[wid] = out
            for p in zip(out, out[1:]):
                bump(p, c, wid)
        pair_counts.pop(best, None)
        pair_words.pop(best, None)
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply ranked merges to one word greedily (lowest rank first)."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    with_detok: bool = False,
) -> DataFrame:
    """(id, n_words, n_tokens, tokens_preview) per document: each word
    reduced under the broadcast merge table, memoized per distinct word
    per batch.  ``tokens_preview`` joins the first 30 tokens with '|'
    (scalar column, gate-hashable); ``with_detok`` adds the full
    detokenization (tokens re-joined, EOW -> space) for the round-trip
    invariant check."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(ranks)

    def tok(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        r = bc.value
        cache: dict[str, list[str]] = {}
        for pdf in it:
            n_words, n_tokens, previews, detoks = [], [], [], []
            for text in pdf[text_col]:
                # text is already lowercased Spark-side (same F.lower as
                # word_frequencies); split with the Java \s mirror so the
                # applied tokenization matches the trained word table.
                words = [t for t in _ASCII_WS.split(text or "") if t]
                toks: list[str] = []
                for w in words:
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode_word(w, r)
                        cache[w] = enc
                    toks.extend(enc)
                n_words.append(len(words))
                n_tokens.append(len(toks))
                previews.append("|".join(toks[:30]))
                if with_detok:
                    detoks.append(
                        "".join(toks).replace(EOW, " ").strip()
                    )
            data = {
                id_col: pdf[id_col].to_numpy(),
                "n_words": pd.Series(n_words, dtype="int64"),
                "n_tokens": pd.Series(n_tokens, dtype="int64"),
                "tokens_preview": previews,
            }
            if with_detok:
                data["detok"] = detoks
            yield pd.DataFrame(data)

    schema = (
        f"{id_col} long, n_words long, n_tokens long, tokens_preview string"
    )
    if with_detok:
        schema += ", detok string"
    return docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.lower(F.col(text_col)).alias(text_col),
    ).mapInPandas(tok, schema=schema)
