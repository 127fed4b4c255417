"""Content scrubbing and corpus-statistics operators for a training-data
pipeline: PII redaction, URL/domain extraction, boilerplate line removal
(CCNet-style), and corpus n-gram statistics.

All four operators are pure Column expressions (JVM whole-stage codegen,
no Python UDFs) and exact — each has a bit-identical DuckDB oracle in
``__spark_entry__.py``.  Regex patterns are restricted to the syntax subset
where Java ``j.u.regex`` and RE2 agree (character classes, bounded repeats,
alternation; no lookaround, no backreferences) so the same pattern string
is portable across engines.

Scale design (100 TB):

- ``pii_stats`` / ``url_domain_stats`` / ``bigram_stats`` are narrow maps
  followed by (for the latter two) a single hash aggregation on a
  low-cardinality key (domain / n-gram) — partial aggregation map-side,
  one bounded shuffle.
- ``remove_boilerplate_lines`` shuffles once on the line hash to count
  per-line document frequency (cardinality = distinct lines, not rows),
  then joins the frequent-line set back.  The frequent set is tiny by
  construction (lines crossing the ``min_docs`` threshold), so AQE turns
  the join into a broadcast at runtime; we do not force it, matching the
  repo-wide convention (see pipeline/tfidf.py).

The synthetic driver corpus contains no natural PII/URLs/line structure, so
the gate queries enrich it with ``augment_entities`` — a deterministic,
SQL-expressible injection replicated verbatim in the DuckDB oracle (the
same convention the multimodal suite uses for payload synthesis).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.worker import skip_zip_rescan

# Portable regexes (Java/RE2-agreed subset; ASCII classes only).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
URL_RE = "https?://[A-Za-z0-9./?=_-]+"
URL_DOMAIN_RE = "https?://([A-Za-z0-9.-]+)"


def augment_entities(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Deterministically inject synthetic PII and URLs into ``text_col``.

    Purely for exercising the scrub operators against the driver's
    entity-free synthetic corpus; production input would carry its own.
    The exact same expression appears in the DuckDB oracle
    (``_AUG_SQL`` in __spark_entry__.py) so extraction is oracle-checked
    end to end.  Varying moduli leave some docs with zero entities of each
    kind, so the zero paths are exercised too.
    """
    i = F.col(id_col)
    s = lambda c: c.cast("string")  # noqa: E731
    email = F.when(
        i % 3 != 2,
        F.concat(F.lit(" Contact user"), s(i), F.lit("@mail"),
                 s(i % 7), F.lit(".example.com now.")),
    ).otherwise(F.lit(""))
    phone = F.when(
        i % 4 == 0,
        F.concat(F.lit(" Call +1-555-"), F.lpad(s((i * 37) % 10000), 4, "0"),
                 F.lit(" or 212-555-"), F.lpad(s(i % 10000), 4, "0"),
                 F.lit(" today.")),
    ).otherwise(F.lit(""))
    ip = F.when(
        i % 5 < 2,
        F.concat(F.lit(" Host 10."), s(i % 256), F.lit("."),
                 s((i * 7) % 256), F.lit("."), s((i * 13) % 256),
                 F.lit(" logged.")),
    ).otherwise(F.lit(""))
    url = F.concat(
        F.lit(" See https://www"), s(i % 13), F.lit(".example.org/p/"), s(i),
        F.lit(" plus http://cdn"), s(i % 5), F.lit(".example.net/x?q=1 end."),
    )
    return docs.withColumn(
        text_col, F.concat(F.col(text_col), email, phone, ip, url)
    )


def augment_lines(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Deterministically wrap each single-line synthetic document in shared
    boilerplate lines (nav header on every third doc, one of two promo
    variants, a footer on all) so the line-dedup operator has real work.
    Mirrored verbatim in the DuckDB oracle; ``concat_ws`` skips the NULL
    header identically in both engines.
    """
    i = F.col(id_col)
    header = F.when(i % 3 == 0, F.lit("NAV home about contact"))
    promo = F.concat(F.lit("SUBSCRIBE to newsletter variant "),
                     (i % 2).cast("string"))
    footer = F.lit("COPYRIGHT example corp all rights reserved")
    return docs.withColumn(
        text_col,
        F.concat_ws("\n", header, F.col(text_col), promo, footer),
    )


def redact_expr(text: Column) -> Column:
    """The PII-redaction Column: emails, then phones, then IPv4s replaced
    with typed placeholders (email first — its local part may contain
    digits and hyphens the narrower patterns must not see first)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        IPV4_RE,
        "<IP>",
    )


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """``docs`` with ``text_col`` replaced by its PII-redacted form — the
    in-place variant of ``pii_stats`` for write-out paths (curate_cli
    ``--redact-pii``).  Stateless narrow map; streams as-is."""
    return docs.withColumn(text_col, redact_expr(F.col(text_col)))


def strip_boilerplate(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", min_docs: int = 5,
                      frequent: DataFrame | None = None) -> DataFrame:
    """``docs`` with boilerplate lines REMOVED from ``text_col`` (original
    line order preserved) — the text-rewriting variant of
    ``remove_boilerplate_lines`` for write-out paths (curate_cli
    ``--strip-boilerplate``).  Same plan: frequent-set count (or a static
    ``frequent`` set), tagged join back, ordered reassembly; other columns
    pass through the final join on ``id_col``.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    if frequent is None:
        frequent = boilerplate_line_set(
            docs, id_col=id_col, text_col=text_col, min_docs=min_docs
        )
    tagged = lines.join(
        frequent.select("line", F.lit(1).alias("__boiler")), "line", "left"
    )
    rebuilt = tagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__boiler").isNull(),
                            F.struct("pos", "line"),
                        )
                    )
                ),
                lambda st: st["line"],
            ),
            "\n",
        ).alias("__clean")
    )
    return (
        docs.join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce("__clean", F.col(text_col)))
        .drop("__clean")
    )


def pii_stats(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Per-document PII detection + redaction.

    Returns (id, n_emails, n_phones, n_ips, redacted_len, redacted_fp):
    counts of each entity kind, plus the length and md5 fingerprint of the
    text after replacing entities with ``<EMAIL>``/``<PHONE>``/``<IP>``
    placeholders (email first — its local part may contain digits and
    hyphens that the narrower patterns must not see first).
    """
    t = F.col(text_col)
    redacted = redact_expr(t)
    return docs.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), 0))
        .cast("long").alias("n_phones"),
        F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), 0))
        .cast("long").alias("n_ips"),
        F.length(redacted).cast("long").alias("redacted_len"),
        F.md5(redacted).alias("redacted_fp"),
    )


def url_domain_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", exact: bool = True) -> DataFrame:
    """Corpus-level URL domain statistics.

    Extracts every URL, reduces to its domain, and aggregates
    (domain, n_urls, n_docs).  One explode + one hash aggregation keyed on
    domain — partial map-side combine keeps the shuffle proportional to
    distinct domains, not URLs.

    ``exact=False`` swaps the per-domain document count to
    ``approx_count_distinct`` (HLL) — required on STREAMING inputs, where
    Spark rejects exact distinct aggregates, and the right trade at
    100 TB anyway (bounded sketch state vs a distinct-set per domain).
    """
    urls = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), 0)
        ).alias("url"),
    )
    return (
        urls.select(
            id_col, F.regexp_extract("url", URL_DOMAIN_RE, 1).alias("domain")
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            (
                F.countDistinct(id_col)
                if exact
                else F.approx_count_distinct(id_col)
            ).alias("n_docs"),
        )
    )


def boilerplate_line_set(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         min_docs: int = 5) -> DataFrame:
    """(line) rows for every line occurring in >= ``min_docs`` DISTINCT
    documents.  Separate from the removal step so a STREAMING scrub can
    join against a set computed by a periodic batch pass (stream-static
    joins are supported; the corpus-wide frequency count itself is
    inherently two-pass and cannot run inside one streaming query)."""
    lines = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    )
    return (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("line")
    )


def remove_boilerplate_lines(docs: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text",
                             min_docs: int = 5,
                             frequent: DataFrame | None = None) -> DataFrame:
    """CCNet-style boilerplate removal: drop lines that occur in >=
    ``min_docs`` DISTINCT documents (nav bars, footers, cookie banners).

    Returns (id, n_lines, n_removed, kept_fp) where ``kept_fp`` is the md5
    of the retained lines re-joined with ``\\n`` in original order —
    enough to verify the reconstruction byte-for-byte without shipping the
    full text through the gate.

    Plan: posexplode lines -> groupBy(line) countDistinct(doc) to find the
    frequent set (shuffle keyed on the line, cardinality = distinct lines;
    the all-docs footer key is safe — the distinct rewrite partials by
    (line, doc) first, then map-side-combines counts per line) ->
    left-join the frequent set back (small by construction; AQE broadcasts
    it) -> per-doc ordered reassembly via array_sort over (pos, line)
    structs, all JVM-side.

    Pass ``frequent`` (a (line) DataFrame from ``boilerplate_line_set``,
    e.g. yesterday's batch) to skip the counting pass — with a static
    ``frequent``, ``docs`` may be a STREAMING DataFrame (stream-static
    join + per-doc agg; see tests/test_scrub.py).
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    if frequent is None:
        frequent = boilerplate_line_set(
            docs, id_col=id_col, text_col=text_col, min_docs=min_docs
        )
    frequent = frequent.select("line", F.lit(1).alias("__boiler"))
    tagged = lines.join(frequent, "line", "left")
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("__boiler").isNotNull(), 1).otherwise(0))
            .alias("n_removed"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("__boiler").isNull(),
                                    F.struct("pos", "line"),
                                )
                            )
                        ),
                        lambda st: st["line"],
                    ),
                    "\n",
                )
            ).alias("kept_fp"),
        )
        .select(
            id_col,
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("n_removed").cast("long").alias("n_removed"),
            "kept_fp",
        )
    )


def bigram_stats(docs: DataFrame, text_col: str = "text",
                 k: int = 20) -> DataFrame:
    """Top-``k`` corpus bigrams by frequency (tiebreak: bigram ascending).

    Token split on single spaces (the corpus convention; empty tokens
    filtered), adjacent pairs built with a sequence+transform expression —
    no UDF.  groupBy(bigram) with map-side partial counts, then a global
    top-k (a k-row total order, safe to sort).

    The token array is bound once with ``text._let``: referenced directly
    inside the transform lambda, CollapseProject would re-inline the
    split+filter at EVERY element access — an O(tokens^2)-per-row blowup
    (the documented winnow_fingerprints trap).
    """
    from tsne_flink_spark.pipeline.text import _let

    raw = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    bigrams = _let(
        raw,
        lambda toks: F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(" ", F.element_at(toks, i),
                                      F.element_at(toks, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(k)
    )


def collocation_pmi(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Top-``k`` collocations (w1, w2, n, pmi): adjacent word pairs
    ranked by pointwise mutual information ln(p(w1,w2)/(p(w1)·p(w2)))
    — association strength, not raw frequency, so "new york" style
    multi-word units outrank "of the" style high-frequency noise.
    ``min_count`` drops rare pairs whose PMI estimate is unstable (the
    classic PMI-favors-hapax bias).

    Dataflow: one token explode -> unigram counts, one pair explode ->
    bigram counts (both map-side combinable), two equi-joins of the
    bigram table onto the vocab-sized unigram table (AQE broadcasts it
    when small), totals as 1-row broadcast side-inputs, top-k as
    TakeOrderedAndProject.  The PMI double is computed in one fixed
    association order — ((n·T)·T) / ((B·cu1)·cu2) — so the DuckDB
    oracle reproduces it bit-for-bit.  Same single-space tokenization
    and ``_let`` binding as :func:`bigram_stats` (the CollapseProject
    re-inlining trap).
    """
    from tsne_flink_spark.pipeline.text import _let

    raw = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    pairs = _let(
        raw,
        lambda toks: F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("w1"),
                    F.element_at(toks, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>")),
    )
    uni = (
        docs.select(F.explode(raw).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("double").alias("cu"))
    )
    bi_all = (
        docs.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot_t = uni.agg(F.sum("cu").alias("T"))
    tot_b = bi_all.agg(F.sum("c").cast("double").alias("B"))
    scored = (
        bi_all.where(F.col("c") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")), "w2")
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_b))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("n"),
            F.log(
                (F.col("c").cast("double") * F.col("T") * F.col("T"))
                / (F.col("B") * F.col("cu1") * F.col("cu2"))
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(k)


def canonical_url(url):
    """Canonicalize a URL for dedup/frontier purposes: scheme dropped
    (http and https are the same resource for crawl dedup), host
    lowercased with a leading ``www.`` stripped, fragment removed,
    trailing slashes trimmed.  Pure regex Column expressions, mirrored
    verbatim in the DuckDB oracle (q_url_dedup)."""
    u = F.regexp_replace(url, "#.*$", "")
    u = F.regexp_replace(u, "^[Hh][Tt][Tt][Pp][Ss]?://", "")
    host = F.lower(F.regexp_extract(u, "^([^/?#]+)", 1))
    host = F.regexp_replace(host, "^www\\.", "")
    rest = F.regexp_replace(u, "^[^/?#]+", "")
    rest = F.regexp_replace(rest, "/+$", "")
    return F.concat(host, rest)


def url_dedup_stats(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(canonical_url, n_urls, n_docs, first_doc): every URL occurrence
    reduced to its canonical form and aggregated — the dedup table a
    crawl frontier consults before fetching.  One explode + one hash
    aggregation keyed on the canonical string (map-side combined; shuffle
    proportional to distinct URLs)."""
    urls = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), 0)
        ).alias("url"),
    )
    return (
        urls.select(id_col, canonical_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.countDistinct(F.col(id_col)).cast("long").alias("n_docs"),
            F.min(F.col(id_col)).alias("first_doc"),
        )
    )


def normalize_unicode(docs: DataFrame, form: str = "NFC",
                      text_col: str = "text") -> DataFrame:
    """Unicode-normalize the text column (default NFC — canonical
    composition).  Visually identical strings with different codepoint
    sequences (combining accents vs precomposed characters) defeat every
    hash-based dedup and fingerprint operator; real pipelines normalize
    before fingerprinting.  Arrow-batched pandas ``str.normalize`` (the
    stdlib unicodedata fast path) — zero shuffles, embarrassingly
    parallel; NFC output is oracle-checked against DuckDB's
    ``nfc_normalize`` (q_unicode_normalize)."""
    from typing import Iterator

    import pandas as pd

    cols = docs.columns

    def norm(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            pdf = pdf.copy()
            pdf[text_col] = pdf[text_col].fillna("").str.normalize(form)
            yield pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema
    )
    return docs.select(*cols).mapInPandas(norm, schema=schema)
