"""Frequency sketches: Misra-Gries heavy hitters with exact verification.

The 100-TB problem: "which terms appear more than N/k times?" over a
web-scale corpus.  A plain ``explode -> groupBy(term) -> count`` shuffles
the ENTIRE vocabulary (billions of keys, most of them singletons) just to
discard everything below the threshold.  The classic two-phase answer:

1. **candidate generation** (Misra & Gries 1982): one pass per partition
   with k counters.  Guarantee: any term with partition-local count
   > N_p / k survives the partition's summary; by pigeonhole, any term
   with GLOBAL count > N / k exceeds the local threshold in at least one
   partition, so the union of per-partition survivors is a superset of
   the true heavy hitters.  The summary is <= k terms per partition —
   broadcastable no matter how big the corpus.
2. **exact confirmation**: broadcast-semi-join the candidate set against
   the token stream and count ONLY those terms exactly, then apply the
   threshold.  The shuffle carries candidate occurrences, not the
   vocabulary.

Because phase 2 is exact over a deterministic superset, the final output
(term, n) with n * k > N is *independent of partitioning* and carries an
exact DuckDB oracle — the sketch accelerates, never approximates.

The per-partition pass uses the batched Misra-Gries variant: merge an
Arrow batch's value_counts into the counter map, and when it exceeds k
entries subtract the (k+1)-th largest count from everything and drop the
non-positives.  Each subtraction of m removes m * (k+1) stream mass, so
total decrement per term <= N_p / (k+1) — the survival guarantee holds.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.pipeline.text import tokenize
from tsne_flink_spark.worker import skip_zip_rescan


def _mg_compress(counts: dict, k: int) -> dict:
    """Batched Misra-Gries compression to at most k counters."""
    if len(counts) <= k:
        return counts
    vals = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
    # subtract the (k+1)-th largest value; strictly larger counters survive
    m = np.partition(vals, len(vals) - (k + 1))[len(vals) - (k + 1)]
    return {t: c - m for t, c in counts.items() if c > m}


def mg_partition_candidates(k: int):
    """mapInPandas function: per-partition Misra-Gries survivors (<= k
    term rows per partition)."""

    def mg(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        counts: dict = {}
        for pdf in it:
            vc = pdf["term"].value_counts()
            for t, c in vc.items():
                counts[t] = counts.get(t, 0) + int(c)
            counts = _mg_compress(counts, k)
        yield pd.DataFrame({"term": list(counts.keys())})

    return mg


def heavy_hitters(
    docs: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(term, n) for every lowercased whitespace term with EXACT corpus
    count n satisfying n * k > N (N = total token count) — the classic
    phi = 1/k heavy-hitters set, exact by construction (see module doc).

    The threshold comparison is kept in integer arithmetic (n * k > N,
    never n > N/k in floats) so the boundary cannot flip across engines.
    """
    spark = docs.sparkSession
    spread = docs.select(id_col, text_col).repartition(
        spark.sparkContext.defaultParallelism, F.col(id_col)
    )
    toks = spread.select(
        F.explode(tokenize(F.lower(F.col(text_col)))).alias("term")
    )
    n_total = toks.count()
    cands = toks.mapInPandas(
        mg_partition_candidates(k), schema="term string"
    ).distinct()
    return (
        toks.join(F.broadcast(cands), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .where(F.col("n") * F.lit(k) > F.lit(n_total))
    )


def sketch_shards(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    shard_col,
) -> DataFrame:
    """(key..., shard, sketch, shard_estimate): per-(key, shard) HLL
    distinct-count sketches of ``value_col`` — the artifact a 100-TB
    incremental pipeline PERSISTS per ingestion shard (a binary column in
    a plain parquet table), so corpus-wide cardinalities come from
    re-unioning kilobyte sketches instead of rescanning the fact tables.

    Built on Spark's Apache DataSketches HLL surface (``hll_sketch_agg``,
    3.5+): sketches of the same column are mergeable with
    ``hll_union_agg`` across any partitioning of the rows — see
    :func:`sketch_union`."""
    return df.groupBy(*key_cols, shard_col.alias("shard")).agg(
        F.hll_sketch_agg(value_col).alias("sketch")
    ).withColumn(
        "shard_estimate", F.hll_sketch_estimate("sketch")
    )


def sketch_union(
    shards: DataFrame, key_cols: list[str]
) -> DataFrame:
    """(key..., n_shards, est_distinct): re-union persisted per-shard HLL
    sketches per key and estimate the distinct count of the ORIGINAL
    value column — no rescan of the rows that built the shards.  The
    union maxes HLL registers pointwise, so the estimate is monotonically
    >= every member shard's estimate (asserted by the gate's check
    query)."""
    return shards.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_shards"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
            "est_distinct"
        ),
    )


_KMV_A, _KMV_C, _KMV_M = 1103515245, 12345, 1 << 31


def kmv_hash(key, m: int = _KMV_M):
    """Engine-replayable 2-round LCG hash onto [0, m): a BIJECTION mod
    2^31 (the multiplier is odd, so x -> a*x + c is invertible), meaning
    distinct keys NEVER collide within a residue class — the sketch's
    k-minimum statistic sees a deterministic pseudo-random permutation.
    Same constants as curation._lcg_bucket; every product stays < 2^61,
    so both Spark longs and DuckDB BIGINTs compute it without overflow
    (``kmv_hash_sql`` is the oracle-side spelling).  Production callers
    hashing strings or wanting 64-bit spread pass ``hash_col=
    F.xxhash64(...)`` to :func:`kmv_sketch` instead — the sketch logic
    is hash-agnostic; this default buys exact DuckDB replayability."""
    h = F.pmod(key, F.lit(m))
    h = (h * F.lit(_KMV_A) + F.lit(_KMV_C)) % F.lit(m)
    h = (h * F.lit(_KMV_A) + F.lit(_KMV_C)) % F.lit(m)
    return h


def kmv_hash_sql(key_expr: str, m: int = _KMV_M) -> str:
    """DuckDB/ANSI spelling of :func:`kmv_hash` (non-negative keys)."""
    h0 = f"(({key_expr}) % {m})"
    h1 = f"(({h0}) * {_KMV_A} + {_KMV_C}) % {m}"
    h2 = f"(({h1}) * {_KMV_A} + {_KMV_C}) % {m}"
    return h2


def _kmv_partials(key_cols: list[str], k: int):
    """mapInPandas function: per-partition, per-key k SMALLEST distinct
    hash values — the map-side combine that makes the KMV build shuffle
    O(k x partitions) rows per key instead of O(distinct values).
    Correct because the global k smallest of a union are always among
    each member's k smallest (the same superset argument as
    Misra-Gries candidate generation above)."""

    def f(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        best: dict = {}
        for pdf in it:
            for key, grp in pdf.groupby(key_cols, sort=False):
                kt = key if isinstance(key, tuple) else (key,)
                hv = grp["__hv"].to_numpy(dtype=np.int64)
                prev = best.get(kt)
                merged = np.unique(
                    hv if prev is None else np.concatenate([prev, hv])
                )
                best[kt] = merged[:k]
        out = {c: [kt[i] for kt in best] for i, c in enumerate(key_cols)}
        out["__hv"] = list(best.values())
        yield pd.DataFrame(out)

    return f


def kmv_sketch(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = 512,
    hash_col=None,
) -> DataFrame:
    """(key..., kmv): per-key KMV / theta distinct-count sketch of
    ``value_col`` — the k MINIMUM distinct hash values, sorted ascending
    (Beyer et al., "On Synopses for Distinct-Value Estimation Under
    Multiset Operations", SIGMOD 2007; the Theta-sketch family).

    Where the HLL shard/union path (:func:`sketch_shards`) answers only
    UNION cardinalities, a KMV sketch additionally supports
    INTERSECTION / overlap estimation (:func:`kmv_overlap_estimates`):
    "how many users do event types A and B share", "how many distinct
    URLs appear in both crawl snapshots" — without joining the fact
    tables.  The sketch is a plain ``array<long>`` column: it survives
    parquet bit-exactly and merges losslessly (:func:`kmv_union` — the
    k smallest of a union are exactly the k smallest of the members'
    k-smallest, so merge introduces NO additional error).

    Dataflow: hash + per-partition per-key k-min partials via an
    Arrow-batched numpy kernel (<= k rows per key per partition cross
    the shuffle — never the distinct-value set), then one groupBy
    merging partials.  With the default :func:`kmv_hash` the whole
    build is deterministic AND engine-replayable, so the gate compares
    the sketch pipeline hash-for-hash against DuckDB rather than
    rows-only (the HLL gate's weaker mode).

    VALUE-DOMAIN REQUIREMENT (default hash only): kmv_hash is a
    bijection mod 2^31, so the "exact below k" and exact-intersection
    guarantees hold only when ``value_col`` values already lie in
    [0, 2^31) — distinct 64-bit values colliding mod 2^31 would
    silently deflate the distinct estimate.  For wide/string domains
    pass ``hash_col=F.xxhash64(value_col)``: the sketch logic is
    hash-agnostic and xxhash64 spreads the full 64-bit space (at the
    cost of DuckDB replayability — the gate's rows-only mode)."""
    hv = kmv_hash(F.col(value_col)) if hash_col is None else hash_col
    hashed = df.select(*key_cols, hv.cast("long").alias("__hv")).where(
        F.col("__hv").isNotNull()
    )
    partials = hashed.mapInPandas(
        _kmv_partials(key_cols, k),
        schema=", ".join(
            [f"`{c}` {t}" for c, t in hashed.drop("__hv").dtypes]
            + ["__hv array<bigint>"]
        ),
    )
    return partials.select(*key_cols, F.explode("__hv").alias("__hv")).groupBy(
        *key_cols
    ).agg(
        F.slice(F.array_sort(F.collect_set("__hv")), 1, k).alias("kmv")
    )


def kmv_union(sketches: DataFrame, key_cols: list[str], k: int = 512) -> DataFrame:
    """(key..., kmv): losslessly merge KMV sketches per key — the k
    smallest distinct values across members IS the KMV sketch of the
    union of the underlying sets (no re-scan, no extra error)."""
    return sketches.groupBy(*key_cols).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmv")))),
            1,
            k,
        ).alias("kmv")
    )


def kmv_estimate(kmv, k: int = 512, m: int = _KMV_M):
    """Column: distinct-count estimate from a KMV array.  Exact when the
    sketch holds fewer than k values (every distinct hash is present —
    the hash is a bijection); otherwise the classic unbiased (k-1)/U(k)
    with U(k) = the k-th smallest hash normalized into (0,1)."""
    n = F.size(kmv)
    theta = (F.element_at(kmv, k) + F.lit(1.0)) / F.lit(float(m + 1))
    return F.when(n < k, n.cast("double")).otherwise(F.lit(float(k - 1)) / theta)


def kmv_overlap_estimates(
    a_kmv, b_kmv, k: int = 512, m: int = _KMV_M
) -> dict:
    """Dict of Columns {est_a, est_b, est_inter, est_union, est_jaccard}
    for two KMV sketch arrays (theta-sketch set algebra):

    - theta_X = U_X(k) normalized, or 1.0 for an EXACT sketch (< k
      values — the bijective hash means every distinct value is
      present); u(v) < 1.0 always holds under the (h+1)/(m+1)
      normalization, so exact sketches retain everything.
    - intersection: C = |{v in A ∩ B : u(v) < theta}| with theta =
      min(theta_a, theta_b); estimate C / theta — exact when both
      sketches are exact.
    - union: the merged k-min array is a true KMV of A ∪ B (see
      :func:`kmv_union`), estimated with the same single-set rule.
    """
    inv = F.lit(float(m + 1))

    def _theta(arr):
        return F.when(F.size(arr) < k, F.lit(1.0)).otherwise(
            (F.element_at(arr, k) + F.lit(1.0)) / inv
        )

    ta, tb = _theta(a_kmv), _theta(b_kmv)
    theta = F.least(ta, tb)
    common = F.array_intersect(a_kmv, b_kmv)
    c = F.size(
        F.filter(common, lambda v: (v + F.lit(1.0)) / inv < theta)
    ).cast("double")
    merged = F.slice(
        F.array_sort(F.array_distinct(F.concat(a_kmv, b_kmv))), 1, k
    )
    est_a = kmv_estimate(a_kmv, k, m)
    est_b = kmv_estimate(b_kmv, k, m)
    est_inter = c / theta
    est_union = kmv_estimate(merged, k, m)
    return {
        "est_a": est_a,
        "est_b": est_b,
        "est_inter": est_inter,
        "est_union": est_union,
        "est_jaccard": F.when(est_union > 0, est_inter / est_union).otherwise(
            F.lit(0.0)
        ),
    }


def _cm_bucket(value_col, depth, w):
    """Depth-salted count-min bucket in [0, w): the first 60 md5 bits of
    '<depth>:<value>' mod w — the same cross-engine hash DSIR's buckets
    use (dsir._hash60), so DuckDB replays it exactly.  ``depth`` and
    ``w`` may each be a Python int (build side) or a Column (estimate
    side, where w is derived from the sketch's own counts array)."""
    from tsne_flink_spark.pipeline.dsir import _hash60

    d = F.lit(depth) if isinstance(depth, int) else depth
    wc = F.lit(w) if isinstance(w, int) else w
    return F.pmod(
        _hash60(F.concat(d.cast("string"), F.lit(":"), value_col)),
        wc.cast("long"),
    )


def countmin_sketch(
    df: DataFrame, value_col: str, w: int = 1024, d: int = 4
) -> DataFrame:
    """(depth, counts array<long>): a count-min sketch of ``value_col``
    (Cormode & Muthukrishnan 2005) — ``d`` hash rows of ``w`` counters;
    a point FREQUENCY estimate (:func:`countmin_estimate`) is the min
    over rows of the value's counter, always >= the true count and
    <= true + 2N/w with probability 1 - 2^-d.  The fourth member of the
    persisted-synopsis family: HLL answers distinct counts, KMV set
    overlaps, histograms distributions, count-min answers "how often
    does THIS value occur" without rescanning — per-shard sketches
    persist as d plain (int, array<long>) rows and merge EXACTLY by
    elementwise sum (:func:`countmin_union`), so a corpus-wide token
    frequency service is d x w longs per shard, never a token table.

    Dataflow: ONE scan of the input (the d bucket hashes ride a single
    explode), a map-side-combinable groupBy(depth, bucket) — shuffle
    <= d x w rows regardless of input size — then one w-slot
    densification per depth.  Deterministic md5 arithmetic shared with
    the DuckDB oracles, so the whole build gates hash-for-hash."""
    v = df.select(F.col(value_col).cast("string").alias("__v")).where(
        F.col("__v").isNotNull()
    )
    hashes = F.array(
        *[
            F.struct(
                F.lit(j).alias("depth"),
                _cm_bucket(F.col("__v"), j, w).cast("int").alias("b"),
            )
            for j in range(d)
        ]
    )
    counts = (
        v.select(F.explode(hashes).alias("__e"))
        .select(F.col("__e.depth").alias("depth"), F.col("__e.b").alias("__b"))
        .groupBy("depth", "__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    return (
        counts.groupBy("depth")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("__b"), F.col("__c")))
            ).alias("__m")
        )
        .select(
            "depth",
            # densify: w slots, 0 where no value hashed to the bucket.
            # CollapseProject inlines __m into the aggregate's result
            # projection (verified in the executed plan), so the lambda
            # re-derives the map per slot — O(w x filled) per OUTPUT
            # row, bounded because the output is d synopsis rows; the
            # compact lambda keeps analysis/codegen O(1) in w, which is
            # what actually shows up in wall time (see histogram_shards)
            F.transform(
                F.sequence(F.lit(0), F.lit(w - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("__m"), i.cast("int")),
                    F.lit(0).cast("long"),
                ),
            ).alias("counts"),
        )
    )


def countmin_union(sketches: DataFrame) -> DataFrame:
    """(depth, counts): EXACT merge of count-min shards built with the
    same (w, d) — counters sum elementwise, so the union sketch is
    bit-identical to one built over the concatenated inputs (the same
    lossless-merge property as the histogram shards)."""
    ex = sketches.select(
        "depth", F.posexplode("counts").alias("__p", "__c")
    )
    return (
        ex.groupBy("depth", "__p")
        .agg(F.sum("__c").cast("long").alias("__s"))
        .groupBy("depth")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "__s"))),
                lambda s: s["__s"],
            ).alias("counts")
        )
    )


def countmin_estimate(
    sketch: DataFrame, probes: DataFrame, value_col: str
) -> DataFrame:
    """(<value_col>, est): point-frequency estimates for every probe
    value — min over the sketch's d depth rows of the value's counter.
    The sketch side is d bounded rows (broadcast); probes never touch
    the original corpus.

    The bucket width ``w`` is derived from the sketch itself
    (``size(counts)``) so probe hashing can never disagree with
    build-time hashing — an independently-passed w that mismatched the
    sketch would rehash probes into the wrong buckets and return
    silently wrong (not merely looser) estimates."""
    pr = probes.select(
        F.col(value_col).cast("string").alias("__v")
    ).distinct()
    j = pr.crossJoin(F.broadcast(sketch))
    slot = (
        _cm_bucket(F.col("__v"), F.col("depth"), F.size("counts"))
        + F.lit(1)
    ).cast("int")
    return (
        j.select("__v", F.element_at("counts", slot).alias("__e"))
        .groupBy("__v")
        .agg(F.min("__e").cast("long").alias("est"))
        .select(F.col("__v").alias(value_col), "est")
    )


def histogram_shards(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    shard_col,
    lo: float,
    hi: float,
    bins: int = 128,
) -> DataFrame:
    """(key..., shard, counts, n): per-(key, shard) fixed-bin histogram
    of ``value_col`` over [lo, hi] (out-of-range values clamp to the
    edge bins) — the third member of the persisted-synopsis family:
    HLL shards answer distinct counts, KMV shards set overlaps, and
    histogram shards DISTRIBUTIONS (quantiles, telemetry bands) —
    re-aggregated across ingestion shards without rescanning the rows.

    Merging is exact (elementwise count sum, :func:`histogram_union`),
    so shard layout never changes the answer; quantile readout error is
    bounded by one bin width (:func:`histogram_quantiles`).  All bin
    arithmetic is plain floor/clamp on doubles — deterministic and
    engine-replayable, so the gate compares the full pipeline
    hash-for-hash against DuckDB (unlike approx_percentile's opaque
    internal summaries, which also cannot be persisted)."""
    w = (float(hi) - float(lo)) / bins
    idx = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(float(lo))) / F.lit(w)),
            F.lit(0),
        ),
        F.lit(bins - 1),
    ).cast("int")
    per_bin = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*key_cols, shard_col.alias("shard"), idx.alias("__b"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    # dense counts array: map_from sparse bins, read out all `bins` slots
    # via ONE transform(sequence(...)) lambda (the countmin-builder idiom)
    # instead of `bins` unrolled element_at projections — the unrolled
    # expression tree made every analysis/codegen of this plan O(bins)
    # (measured ~0.5 s per streaming micro-batch at bins=128, re-paid on
    # each trigger because foreachBatch re-plans per batch; warm stream
    # phase 5.1 -> 2.3 s).  Trade-off, same as the countmin builder:
    # CollapseProject inlines __m into the aggregate's result
    # projection, so the lambda re-derives the map per slot — O(bins x
    # distinct_bins) per OUTPUT row, bounded because the output is a
    # synopsis (keys x shards rows), while the saved planning cost was
    # paid per PLAN.  Verified executed-plan-identical idiom to
    # countmin_sketch; oracle hashes unchanged.
    return per_bin.groupBy(*key_cols, "shard").agg(
        F.map_from_arrays(
            F.collect_list("__b"), F.collect_list("__c")
        ).alias("__m")
    ).select(
        *key_cols,
        "shard",
        F.transform(
            F.sequence(F.lit(0), F.lit(bins - 1)),
            lambda b: F.coalesce(
                F.element_at(F.col("__m"), b.cast("int")),
                F.lit(0).cast("long"),
            ),
        ).alias("counts"),
    ).withColumn(
        "n", F.aggregate("counts", F.lit(0).cast("long"), lambda a, x: a + x)
    )


def histogram_union(
    shards: DataFrame, key_cols: list[str], bins: int = 128
) -> DataFrame:
    """(key..., counts, n): merge persisted histogram shards per key —
    an exact elementwise sum (zip_with over the reduce), so the merged
    histogram is identical to one built from all the rows at once."""
    zero = F.array_repeat(F.lit(0).cast("long"), bins)
    return shards.groupBy(*key_cols).agg(
        F.aggregate(
            F.collect_list("counts"),
            zero,
            lambda acc, c: F.zip_with(acc, c, lambda a, b: a + b),
        ).alias("counts"),
        F.sum("n").cast("long").alias("n"),
    )


def histogram_quantiles(
    hist: DataFrame,
    key_cols: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    bins: int = 128,
) -> DataFrame:
    """(key..., q, est): quantile estimates read off merged histograms —
    for each q, locate the bin where the cumulative count reaches
    ceil(q * n) and interpolate linearly inside it.  |est - true
    quantile| <= one bin width whenever the true quantile lies inside
    [lo, hi].  The readout is a per-key cumulative sum over a
    constant-size (``bins``-row) explode — the window is partitioned by
    key, never global."""
    from pyspark.sql import Window

    w = (float(hi) - float(lo)) / bins
    exploded = hist.select(
        *key_cols, "n", F.posexplode("counts").alias("__b", "__c")
    )
    cum = exploded.withColumn(
        "__cum",
        F.sum("__c").over(
            Window.partitionBy(*key_cols).orderBy("__b").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    qdf = hist.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    tgt = cum.crossJoin(F.broadcast(qdf)).withColumn(
        "__r", F.ceil(F.col("q") * F.col("n")).cast("long")
    )
    hit = (
        tgt.where((F.col("__cum") >= F.col("__r")) & (F.col("__c") > 0))
        .groupBy(*key_cols, "q")
        .agg(
            F.min(F.struct("__b", "__cum", "__c", "__r")).alias("__h")
        )
        .select(
            *key_cols,
            "q",
            (
                F.lit(float(lo))
                + F.col("__h.__b") * F.lit(w)
                + F.lit(w)
                * (
                    (F.col("__h.__r") - (F.col("__h.__cum") - F.col("__h.__c")))
                    .cast("double")
                    / F.col("__h.__c").cast("double")
                )
            ).alias("est"),
        )
    )
    return hit


def merge_heavy_hitter_state(
    prev_state: DataFrame | None,
    batch_counts: DataFrame,
    k: int,
) -> DataFrame:
    """One distributed Misra-Gries merge step: sum the previous summary
    with a batch's exact term counts, then compress to <= k counters by
    subtracting the (k+1)-th largest count (the batched MG rule — the
    survival guarantee composes across merges because each compression
    still retires >= (k+1) units of stream mass per unit subtracted)."""
    merged = (
        batch_counts
        if prev_state is None
        else prev_state.unionByName(batch_counts)
    ).groupBy("term").agg(F.sum("n").cast("long").alias("n"))
    top = merged.orderBy(F.col("n").desc(), F.col("term")).limit(k + 1)
    rows = top.collect()
    if len(rows) <= k:
        return merged
    m = rows[k]["n"]
    return merged.select("term", (F.col("n") - F.lit(m)).alias("n")).where(
        F.col("n") > 0
    )


def streaming_heavy_hitters(
    stream_docs: DataFrame,
    state_dir: str,
    k: int = 50,
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    trigger_seconds: int = 1,
    available_now: bool = False,
):
    """Continuous heavy-hitter tracking over a streaming corpus: each
    micro-batch's exact term counts are MG-merged into a persisted
    summary (parquet under ``state_dir/batch=<id>``).

    Idempotent under micro-batch replay: batch N's state is a pure
    function of state N-1 and batch N's data, written to batch N's own
    directory — a reprocessed batch overwrites its own output, never
    double-counts.  The latest directory is the current summary; it is a
    candidate SUPERSET of the true heavy hitters of everything ingested
    (confirm exactly against an archive with :func:`heavy_hitters`'s
    broadcast-join phase when precision matters).

    Returns the StreamingQuery."""
    import os as _os

    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        counts = (
            batch_df.select(
                F.explode(tokenize(F.lower(F.col(text_col)))).alias("term")
            )
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        prev = None
        if _os.path.isdir(state_dir):
            done = sorted(
                int(d.split("=", 1)[1])
                for d in _os.listdir(state_dir)
                if d.startswith("batch=") and d.split("=", 1)[1].isdigit()
                and int(d.split("=", 1)[1]) < batch_id
            )
            if done:
                prev = spark.read.parquet(
                    f"{state_dir}/batch={done[-1]}"
                )
        state = merge_heavy_hitter_state(prev, counts, k)
        state.write.mode("overwrite").parquet(
            f"{state_dir}/batch={batch_id}"
        )

    writer = stream_docs.writeStream.foreachBatch(step)
    if available_now:
        # drain all available micro-batches, then terminate — the
        # replay-a-backlog / gate-query mode
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{trigger_seconds} seconds"
        )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def streaming_kmv_shards(
    stream_df: DataFrame,
    store_dir: str,
    key_cols: list[str],
    value_col: str,
    k: int = 512,
    checkpoint_dir: str | None = None,
    trigger_seconds: int = 1,
    available_now: bool = False,
):
    """Continuous producer for the persisted KMV lifecycle: each
    micro-batch's per-key k-minimum arrays land as one shard under
    ``store_dir/batch=<id>``; overlap/union/distinct estimates at any
    time come from ``kmv_union(spark.read.parquet(store_dir), key_cols,
    k)`` with no rescan.  Idempotent under micro-batch replay (a batch
    overwrites its OWN directory; the k-min merge is idempotent
    anyway).  Returns the StreamingQuery."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        kmv_sketch(batch_df, key_cols, value_col, k=k).withColumn(
            "shard", F.lit(int(batch_id)).cast("long")
        ).write.mode("overwrite").parquet(f"{store_dir}/batch={batch_id}")

    writer = stream_df.writeStream.foreachBatch(step)
    if available_now:
        # drain all available micro-batches, then terminate — the
        # replay-a-backlog / gate-query mode
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{trigger_seconds} seconds"
        )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def streaming_histogram_shards(
    stream_df: DataFrame,
    store_dir: str,
    key_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 128,
    checkpoint_dir: str | None = None,
    trigger_seconds: int = 1,
    available_now: bool = False,
):
    """Continuous producer for the persisted histogram lifecycle: each
    micro-batch's per-key fixed-bin counts land as one shard under
    ``store_dir/batch=<id>``; distribution quantiles at any time come
    from ``histogram_quantiles(histogram_union(spark.read.parquet(
    store_dir), key_cols, bins), ...)`` — an EXACT merge, so the
    streaming store answers identically to a batch rebuild over
    everything ingested.  Idempotent under micro-batch replay (per-batch
    directory overwrite).  Returns the StreamingQuery."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        histogram_shards(
            batch_df, key_cols, value_col,
            F.lit(int(batch_id)).cast("long"), lo, hi, bins,
        ).write.mode("overwrite").parquet(f"{store_dir}/batch={batch_id}")

    writer = stream_df.writeStream.foreachBatch(step)
    if available_now:
        # drain all available micro-batches, then terminate — the
        # replay-a-backlog / gate-query mode
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{trigger_seconds} seconds"
        )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def streaming_countmin_shards(
    stream_df: DataFrame,
    store_dir: str,
    value_col: str,
    w: int = 1024,
    d: int = 4,
    checkpoint_dir: str | None = None,
    trigger_seconds: int = 1,
    available_now: bool = False,
):
    """Continuous producer for the persisted count-min lifecycle: each
    micro-batch's d x w counter rows land as one shard under
    ``store_dir/batch=<id>``; point-frequency estimates at any time come
    from ``countmin_estimate(countmin_union(spark.read.parquet(
    store_dir)), probes, value_col)`` — the merge is an EXACT
    elementwise sum, so the streaming store answers identically to one
    sketch built over everything ingested (unit-pinned for the batch
    union).  Idempotent under micro-batch replay (per-batch directory
    overwrite).  Returns the StreamingQuery."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        countmin_sketch(batch_df, value_col, w=w, d=d).withColumn(
            "shard", F.lit(int(batch_id)).cast("long")
        ).write.mode("overwrite").parquet(f"{store_dir}/batch={batch_id}")

    writer = stream_df.writeStream.foreachBatch(step)
    if available_now:
        # drain all available micro-batches, then terminate — the
        # replay-a-backlog / gate-query mode
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{trigger_seconds} seconds"
        )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def streaming_sketch_shards(
    stream_df: DataFrame,
    store_dir: str,
    key_cols: list[str],
    value_col: str,
    checkpoint_dir: str | None = None,
    trigger_seconds: int = 1,
    available_now: bool = False,
):
    """Continuous producer for the persisted HLL lifecycle: each
    micro-batch's per-key sketches land as ONE shard (shard = batch id)
    under ``store_dir/batch=<id>`` — kilobytes per batch, appended
    forever; corpus-wide cardinalities at any time come from
    ``sketch_union(spark.read.parquet(store_dir), key_cols)`` with no
    rescan of the ingested rows.

    Idempotent under micro-batch replay (the failure mode foreachBatch
    documents): batch N's shard is a pure function of batch N's data,
    written to batch N's OWN directory with mode=overwrite — a
    reprocessed batch replaces its shard, never double-registers.  The
    union is insensitive to replay anyway (register max is idempotent),
    but the per-directory layout also keeps the store list-able by batch.

    Returns the StreamingQuery."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        shards = sketch_shards(
            batch_df, key_cols, value_col,
            F.lit(int(batch_id)).cast("long"),
        )
        shards.write.mode("overwrite").parquet(
            f"{store_dir}/batch={batch_id}"
        )

    writer = stream_df.writeStream.foreachBatch(step)
    if available_now:
        # drain all available micro-batches, then terminate — the
        # replay-a-backlog / gate-query mode
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{trigger_seconds} seconds"
        )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
