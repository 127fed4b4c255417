"""Exact duplicated-substring removal (ExactSubstr dedup).

The technique from Lee et al., "Deduplicating Training Data Makes Language
Models Better" (ACL 2022): near-dup document removal (minhash/simhash,
pipeline/dedup.py) misses the very common case of two mostly-different
documents sharing a long verbatim passage (licenses, boilerplate headers,
quoted text).  ExactSubstr finds every token span of length >= L that
occurs at least ``min_count`` times in the WHOLE corpus and cuts it out of
every document, keeping the surrounding text.

Spark-first plan (no suffix array — the paper's single-machine structure —
but the same output semantics at corpus scale):

1. tokenize (whitespace; the repo-wide convention) and posexplode every
   L-gram as an md5 key — one narrow projection, no shuffle;
2. ``groupBy(gram)`` count -> duplicated grams (count >= min_count): ONE
   shuffle of O(total tokens) rows with map-side partial aggregation; a
   universal gram (boilerplate) is a hot key — AQE skew-join handles the
   join back exactly as it does for the LSH band joins (BASELINE.md B17);
3. join hit positions back, sort per doc, merge overlapping/adjacent
   [pos, pos+L) intervals into spans (gaps-and-islands over the sorted
   positions: a hit starts a new span iff it is > L tokens after the
   previous hit), and cut the covered tokens — vectorized numpy per doc
   inside one Arrow-batched grouped map.

Determinism: everything is exact, so the whole operator carries a DuckDB
oracle (the same gaps-and-islands in SQL) — unlike the approximate dedup
family, which is invariant-checked.  md5 is used as the gram key because
both engines implement it identically; at 100 TB swap in xxhash64 (Spark
side) with a 64-bit collision risk note, or keep md5 and pay 2x key bytes.

Output text is the single-space join of the KEPT tokens (whitespace is
normalized; documents shorter than L tokens pass through unchanged modulo
that normalization).
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.worker import skip_zip_rescan

# Java regex \s (what F.split uses) is the ASCII class [ \t\n\x0B\f\r]; the
# cut stage MUST tokenize with the same rule, not Python str.split(), which
# splits on Unicode whitespace (\xa0,  , ... — common in web text) and
# would apply the Spark-computed span indices to the wrong tokens there.
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _py_tokens(text: str | None) -> list[str]:
    """Python-side mirror of ``_tokens``: split on the Java \\s class and
    drop empties (matching F.split + the non-empty filter)."""
    return [t for t in _ASCII_WS.split(text or "") if t]

_SEP = ""


def _tokens(text_col: str):
    """Whitespace tokens of trimmed text; empty text -> empty array."""
    return F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )


def duplicated_grams(
    docs: DataFrame,
    l: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """(gram md5, n_occurrences) for every L-token gram occurring at least
    ``min_count`` times corpus-wide (within-document repeats count)."""
    grams = _gram_positions(docs, l, text_col, id_col)
    return grams.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    ).where(F.col("n_occurrences") >= min_count)


def _gram_positions(
    docs: DataFrame, l: int, text_col: str, id_col: str
) -> DataFrame:
    toks = docs.select(
        F.col(id_col), _tokens(text_col).alias("__t")
    ).withColumn("__n", F.size("__t"))
    # one md5 per position; slice is 1-based.  The sequence guard keeps
    # docs shorter than L gram-free instead of erroring on a negative range.
    return (
        toks.where(F.col("__n") >= l)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("__n") - l),
                    lambda j: F.md5(
                        F.concat_ws(_SEP, F.slice("__t", j + 1, l))
                    ),
                )
            ).alias("pos", "gram"),
        )
    )


def merge_hit_spans(p: "np.ndarray", l: int) -> tuple["np.ndarray", "np.ndarray"]:
    """Merge SORTED hit positions (each covering tokens [p, p+l)) into
    maximal spans: a hit opens a new span iff it starts more than l after
    the previous hit (overlapping or adjacent intervals coalesce).
    Returns (starts, ends) with ends exclusive.  Gaps-and-islands in
    numpy; the DuckDB oracle implements the identical rule with lag()."""
    new_span = np.empty(len(p), dtype=bool)
    new_span[0] = True
    new_span[1:] = p[1:] > p[:-1] + l
    starts = p[new_span]
    # the end of a span is l past its LAST hit: last hit of span i is the
    # hit just before the start of span i+1
    last = np.empty(len(starts), dtype=np.int64)
    last[:-1] = p[np.flatnonzero(new_span)[1:] - 1]
    last[-1] = p[-1]
    return starts, last + l


def exact_substring_dedup(
    docs: DataFrame,
    l: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Every input row with ``text_col`` rewritten to exclude duplicated
    spans, plus ``n_dup_spans`` and ``tokens_removed`` columns.

    A span is a maximal merged run of duplicated-gram hits: hit positions
    p (each covering tokens [p, p+L)) are merged when they overlap or are
    adjacent (next hit <= previous hit + L).  Reference: Lee et al. 2022
    §4.1 (ExactSubstr); span semantics per the gaps-and-islands oracle in
    __spark_entry__.oracle_sql()['exact_substr_dedup'].
    """
    grams = _gram_positions(docs, l, text_col, id_col)
    dup = duplicated_grams(docs, l, text_col, id_col, min_count)
    hits = (
        grams.join(dup.select("gram"), "gram")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("__hits"))
    )
    with_hits = docs.join(hits, id_col, "left")

    other_cols = [c for c in docs.columns if c != text_col]
    merge = merge_hit_spans

    def cut(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            texts, n_spans, removed = [], [], []
            for text, hit in zip(pdf[text_col], pdf["__hits"]):
                toks = _py_tokens(text)
                if hit is None or not len(hit):
                    texts.append(" ".join(toks))
                    n_spans.append(0)
                    removed.append(0)
                    continue
                starts, ends = merge(np.asarray(hit, dtype=np.int64), l)
                keep = np.ones(len(toks), dtype=bool)
                for s, e in zip(starts, ends):
                    keep[s:e] = False
                texts.append(" ".join(t for t, k in zip(toks, keep) if k))
                n_spans.append(len(starts))
                removed.append(int((~keep).sum()))
            out = pdf[other_cols].copy()
            out[text_col] = texts
            out["n_dup_spans"] = np.asarray(n_spans, dtype=np.int64)
            out["tokens_removed"] = np.asarray(removed, dtype=np.int64)
            yield out

    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in docs.schema
         if f.name != text_col]
        + [f"{text_col} string", "n_dup_spans long", "tokens_removed long"]
    )
    return with_hits.mapInPandas(cut, schema=schema)
