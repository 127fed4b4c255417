"""Deduplication operators for training-data pipelines, all shuffle-bounded
(no all-pairs stage anywhere):

- exact_dedup            — hash-groupBy on a normalized fingerprint.
- minhash_lsh_dedup      — shingle -> minhash -> band -> bucket join.
- simhash_dedup          — 64-bit simhash, banded into 4x16-bit keys
                           (Hamming distance <= 3 guaranteed caught).
- ngram_jaccard_dedup    — n-gram Jaccard verification over LSH candidates.
- embedding_cosine_dedup — near-dup by embedding cosine similarity via
                           LSH-bucketed candidate pairs.

Candidate generation is always an equi-join on a compact key (band hash /
simhash band / hyperplane bucket), so the shuffle is O(rows x bands), never
O(rows^2) — the property that must hold at 100 TB.

Hashing uses Spark's built-in xxhash64/hash with per-permutation seeds; the
minhash permutations follow the standard (a*x + b) mod p universal-hash
construction used by Spark MLlib's MinHashLSH.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from tsne_flink_spark.pipeline.text import fingerprint
from tsne_flink_spark.worker import skip_zip_rescan

_PRIME = 2038074743  # same prime family as MLlib's MinHashLSH


def _auto_bands(num_hashes: int, threshold: float) -> int:
    """Pick the band count whose LSH S-curve knee (1/b)^(1/r) sits closest
    to the verification threshold.  Mistuned bands either miss duplicates or
    flood the verifier with candidates (observed 20x slowdowns)."""
    best_b, best_err = num_hashes, float("inf")
    for r in (2, 4, 8, 16, 32):
        if num_hashes % r:
            continue
        b = num_hashes // r
        knee = (1.0 / b) ** (1.0 / r)
        err = abs(knee - threshold)
        if err < best_err:
            best_b, best_err = b, err
    return best_b


def _spread(df: DataFrame, key: Column) -> DataFrame:
    """Shuffle raw rows across all cores BEFORE heavy per-row text
    expressions.  Single-file parquet inputs scan as one partition, and a
    projection under a later repartition still executes in the scan stage —
    serializing shingle/token computation on one task (observed 200 s
    single-thread stages at sf0.1).  Shuffling the raw (id, text) rows first
    keeps the expensive projection above the exchange."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id document per normalized-text fingerprint."""
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        docs.withColumn("__fp", fingerprint(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def fingerprint_index(reference: DataFrame, text_col: str = "text") -> DataFrame:
    """(fp) — the distinct normalized-text fingerprints of a historical
    corpus: the persisted "have we seen this before" index an incremental
    ingestion pipeline keeps between batches.  At 100 TB the index is a
    plain parquet table of md5 strings, re-read per batch; computing it is
    one scan + one distinct (shuffle keyed on the fingerprint)."""
    return (
        reference.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
    )


def incremental_dedup_annotate(
    docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch against a historical fingerprint index without
    touching the historical corpus itself — the incremental form every
    ingestion pipeline actually runs (re-deduplicating the full corpus
    per batch is O(corpus) instead of O(batch)).

    Returns a total annotation (id, status): ``ref_dup`` (normalized text
    already in the index), ``batch_dup`` (duplicate of a lower-id doc
    within the batch), ``kept``.  One left join against the index (AQE
    broadcasts it while it fits; at scale it degrades gracefully to a
    shuffled join keyed on the fingerprint) + one in-batch window rank.
    """
    fp = fingerprint(F.col(text_col))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        docs.select(F.col(id_col), fp.alias("__fp"))
        .join(index.select(F.col("fp").alias("__fp"),
                           F.lit(1).alias("__seen")), "__fp", "left")
        .withColumn("__rn", F.row_number().over(w))
        .select(
            id_col,
            F.when(F.col("__seen").isNotNull(), F.lit("ref_dup"))
            .when(F.col("__rn") > 1, F.lit("batch_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


def incremental_dedup_keep(
    docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The surviving rows of a new batch after incremental dedup — and the
    STREAMING form: ``docs`` may be a streaming DataFrame (the index join
    is stream-static; the in-batch dedup is a stateful ``dropDuplicates``
    on the fingerprint).  On a stream the survivor per duplicate family is
    the first-arriving row (arrival order), not the min id — an inherent
    streaming semantic; the batch path uses min-id via the annotate
    variant so the two agree on WHICH fingerprints survive, not
    necessarily which row carries them.
    """
    with_fp = docs.withColumn("__fp", fingerprint(F.col(text_col)))
    fresh = with_fp.join(
        index.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
    )
    if docs.isStreaming:
        return fresh.dropDuplicates(["__fp"]).drop("__fp")
    keep = incremental_dedup_annotate(
        docs, index, text_col=text_col, id_col=id_col
    ).where(F.col("status") == "kept").select(id_col)
    return docs.join(keep, id_col)


def _bloom_params(expected: int, fpp: float) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for an expected key count and target
    false-positive rate; m rounded up to a byte boundary."""
    expected = max(int(expected), 1)
    m = int(np.ceil(-expected * np.log(fpp) / (np.log(2) ** 2)))
    m = max(64, (m + 7) & ~7)
    k = max(1, int(round(m / expected * np.log(2))))
    return m, k


def _bloom_positions(col: Column, m: int, k: int) -> Column:
    """array<long> of the k bit positions for a key — k seeded xxhash64
    passes, JVM-side, identical at build and probe time."""
    return F.array(
        *[
            ((F.xxhash64(col, F.lit(s)) % m) + m) % m
            for s in range(k)
        ]
    )


def build_fingerprint_bloom(
    index: DataFrame, fpp: float = 0.001, fp_col: str = "fp",
    expected: int | None = None,
) -> tuple[np.ndarray, int, int]:
    """Distributed Bloom filter over an index's fingerprints: returns
    (bitmap as uint8 array, m bits, k hashes).

    Bit positions are seeded ``xxhash64`` Column passes (JVM-side); each
    partition sets its bits into a local numpy bitmap inside one Arrow
    batch kernel, and the per-partition bitmaps are OR-merged with an RDD
    ``treeAggregate`` — executors combine blobs level by level, so the
    driver receives O(1) blobs (= O(m/8) bytes) regardless of how many
    partitions the index has, instead of the pre-r12 ``collect()`` that
    shipped #partitions × m/8 bytes to the driver (1.8 GB bitmaps × 64
    partitions would have been ~115 GB of driver ingress).  Not
    ``df.stat.bloomFilter``: Spark's own sketch has no Column-side
    ``might_contain`` in PySpark, so probing it would mean a row-at-a-time
    Python UDF against a py4j handle — this formulation keeps build AND
    probe Arrow-vectorized.

    Scale boundary (documented, not hidden): the probe closure broadcasts
    m/8 bytes to every executor — at 1e9 index keys and fpp=1e-3, ~1.8 GB.
    That is the Bloom tradeoff everywhere (the filter must fit where the
    probe runs); past it, shard the index and dedup per shard, or fall
    back to the plain fingerprint join (incremental_dedup_annotate),
    which never materializes the index anywhere.
    """
    import math
    from typing import Iterator

    import pandas as pd

    if expected is None:
        expected = index.count()
    m, bloom_k = _bloom_params(expected, fpp)
    nbytes = m // 8

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        bm = np.zeros(nbytes, dtype=np.uint8)
        any_rows = False
        for pdf in it:
            if not len(pdf):
                continue
            any_rows = True
            idx = np.concatenate(pdf["p"].to_list()).astype(np.int64)
            np.bitwise_or.at(
                bm, idx >> 3, (np.uint8(1) << (idx & 7).astype(np.uint8))
            )
        if any_rows:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    def or_blobs(a, b):
        if a is None:
            return b
        if b is None:
            return a
        return (
            np.frombuffer(a, dtype=np.uint8) | np.frombuffer(b, dtype=np.uint8)
        ).tobytes()

    def blob(r) -> bytes:
        skip_zip_rescan()
        return bytes(r["bm"])

    blobs = index.select(
        _bloom_positions(F.col(fp_col), m, bloom_k).alias("p")
    ).mapInPandas(kernel, schema="bm binary").rdd.map(blob)
    # depth so the tree's final fan-in (what the driver actually ingests)
    # stays ~4 blobs at any partition count: 4^depth >= #partitions
    n_parts = max(blobs.getNumPartitions(), 1)
    depth = max(2, math.ceil(math.log(n_parts, 4))) if n_parts > 1 else 2
    merged = blobs.treeAggregate(None, or_blobs, or_blobs, depth=depth)
    bitmap = (
        np.frombuffer(merged, dtype=np.uint8).copy()
        if merged is not None
        else np.zeros(nbytes, dtype=np.uint8)
    )
    return bitmap, m, bloom_k


def incremental_dedup_annotate_bloom(
    docs: DataFrame,
    index: DataFrame,
    fpp: float = 0.001,
    text_col: str = "text",
    id_col: str = "doc_id",
    expected: int | None = None,
    bloom_state: dict | None = None,
) -> DataFrame:
    """``incremental_dedup_annotate`` with a Bloom prefilter — IDENTICAL
    output (same exact DuckDB oracle), different physics: the index join
    only ever sees rows the Bloom filter could not rule out, i.e.
    ~|true dups| + fpp·|batch| rows instead of the whole batch.  False
    positives are killed by the exact confirm join; false negatives are
    impossible (every indexed key set its bits), so the probabilistic
    stage can only shrink work, never change the answer.  The 100-TB
    incremental-ingestion pattern: the index's BITMAP ships to executors
    once (``sc.broadcast``, torrent-distributed peer-to-peer) instead of
    the index table shuffling against every batch.  Closure capture would
    instead pickle the bitmap into the task binary and re-send it from the
    driver with EVERY task — at the documented 1.8 GB boundary that is a
    #tasks× driver-egress multiplier; the broadcast moves it once per
    executor.

    Broadcast lifecycle: the bitmap broadcast lives until the
    ContextCleaner reaps it.  A caller running repeated per-batch
    incremental ingestion should pass ``bloom_state={}`` to receive
    ``{"broadcast": <handle>, "m": ..., "k": ...}`` and call
    ``bloom_state["broadcast"].unpersist()`` once the returned DataFrame
    has been fully consumed — otherwise up-to-1.8 GB bitmaps accumulate
    on executors for the session lifetime, one per batch.
    """
    from pyspark.sql.functions import pandas_udf

    bitmap, m, bloom_k = build_fingerprint_bloom(index, fpp=fpp, expected=expected)
    bc = docs.sparkSession.sparkContext.broadcast(bitmap)
    if bloom_state is not None:
        bloom_state.update(broadcast=bc, m=m, k=bloom_k)

    @pandas_udf("boolean")
    def might_contain(pos):
        skip_zip_rescan()
        import pandas as pd

        if not len(pos):
            return pd.Series([], dtype=bool)
        bm = bc.value
        idx = np.stack(pos.to_numpy()).astype(np.int64)
        bits = (bm[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        return pd.Series(bits.all(axis=1))

    fp = fingerprint(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        fp.alias("__fp"),
    ).withColumn(
        "__maybe", might_contain(_bloom_positions(F.col("__fp"), m, bloom_k))
    )
    maybe = base.where(F.col("__maybe")).join(
        index.select(F.col("fp").alias("__fp"), F.lit(1).alias("__seen")),
        "__fp",
        "left",
    )
    clear = base.where(~F.col("__maybe")).withColumn(
        "__seen", F.lit(None).cast("int")
    )
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        maybe.select(id_col, "__fp", "__seen")
        .unionByName(clear.select(id_col, "__fp", "__seen"))
        .withColumn("__rn", F.row_number().over(w))
        .select(
            id_col,
            F.when(F.col("__seen").isNotNull(), F.lit("ref_dup"))
            .when(F.col("__rn") > 1, F.lit("batch_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of the normalized text, as a distinct array.

    Tokenization is one regex pass (split on whitespace runs + drop empties)
    — identical tokens to normalize-then-split, half the regex work."""
    toks = F.filter(
        F.split(F.lower(text), r"\s+"),
        lambda t: t != F.lit(""),
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(grams)


def minhash_signature(shingle_col: Column, num_hashes: int, seed: int = 42) -> Column:
    """num_hashes-wide minhash signature over a shingle array.

    h_k(x) = ((a_k * xxhash64(x) + b_k) mod PRIME), minimized per k — entirely
    Column expressions (transform + aggregate), no UDF.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _PRIME, size=num_hashes)
    b = rng.integers(0, _PRIME, size=num_hashes)
    base = F.transform(shingle_col, lambda s: F.abs(F.xxhash64(s)) % F.lit(_PRIME))

    def min_hash_k(ak: int, bk: int):
        # closure, not default-arg lambda: pyspark derives the higher-order
        # function's arity from the python signature
        return F.aggregate(
            base,
            F.lit(_PRIME).cast("long"),
            lambda acc, h: F.least(acc, (F.lit(ak) * h + F.lit(bk)) % F.lit(_PRIME)),
        )

    return F.array(
        *[min_hash_k(int(a[k]), int(b[k])) for k in range(num_hashes)]
    )


def minhash_signatures_table(
    with_shingles: DataFrame,
    id_col: str,
    num_hashes: int,
    seed: int = 42,
    shingle_col: str = "__sh",
    spread: bool = True,
) -> DataFrame:
    """(id, __sig ARRAY<BIGINT>) for a whole table — the bulk path.

    Shingle hashing stays JVM-side; the permutation-minima run vectorized in
    numpy over Arrow batches.  Bit-identical to ``minhash_signature``.
    Pass ``spread=False`` when the input is already repartitioned (the
    shingle projection must sit above an exchange — see ``_spread``).
    """
    from typing import Iterator

    import pandas as pd

    rng = np.random.default_rng(seed)
    a = rng.integers(1, _PRIME, size=num_hashes).astype(np.int64)
    b = rng.integers(0, _PRIME, size=num_hashes).astype(np.int64)
    if spread:
        with_shingles = _spread(with_shingles, F.col(id_col))
    # shingle hashing stays JVM-side (xxhash64, identical to the Column
    # path); the num_hashes permutation-minima run vectorized in numpy —
    # a wide MIN aggregate here falls out of codegen and goes interpreted
    hashed = with_shingles.select(
        F.col(id_col),
        F.transform(
            F.col(shingle_col), lambda s: F.abs(F.xxhash64(s)) % F.lit(_PRIME)
        ).alias("__h"),
    )

    def sign_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            sigs = []
            for h in pdf["__h"]:
                harr = np.asarray(h, dtype=np.int64)
                if len(harr) == 0:
                    sigs.append([int(_PRIME)] * num_hashes)
                else:
                    # a_k * h + b_k < PRIME^2 < 2^62: safe in int64
                    sigs.append(
                        ((a[:, None] * harr[None, :] + b[:, None]) % _PRIME)
                        .min(axis=1)
                        .tolist()
                    )
            yield pd.DataFrame({id_col: pdf[id_col], "__sig": sigs})

    id_type = dict(with_shingles.dtypes)[id_col]
    return hashed.mapInPandas(
        sign_batches, schema=f"{id_col} {id_type}, __sig array<bigint>"
    )


def _lsh_candidate_pairs(
    signed: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Band the signature and emit candidate (a, b) id pairs (a < b) that
    collide in at least one band.  One explode + one self-equi-join on
    (band, band_hash): shuffle O(rows x bands)."""
    banded = signed.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.xxhash64(
                    F.slice(
                        F.col("__sig"), bnd * rows_per_band + 1, rows_per_band
                    ).cast("string")
                ),
            )
        ).alias("__band", "__bucket"),
    )
    left = banded.select(
        F.col("__id").alias("a"), "__band", "__bucket"
    )
    right = banded.select(
        F.col("__id").alias("b"), "__band", "__bucket"
    )
    # spread before deduplicating: the (a, b) rows are tiny, so AQE would
    # coalesce the exchange and serialize the dedup aggregation (and any
    # downstream verification) onto 1-2 tasks; partitioning on `a`
    # co-locates equal pairs, so dropDuplicates adds no further exchange
    cands = left.join(right, ["__band", "__bucket"]).where(
        F.col("a") < F.col("b")
    ).select("a", "b")
    return _spread(cands, F.col("a")).dropDuplicates(["a", "b"])


def jaccard_similarity(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return inter / F.greatest(union, F.lit(1))


def minhash_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int | None = None,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Verified near-duplicate (a, b) pairs (a < b): MinHash+LSH candidate
    generation + exact-shingle-Jaccard verification.

    The edge source for clustering at 100-TB scale: the exact prefix-filter
    miner (``ngram_jaccard_pairs``) guarantees losslessness but touches
    every shared shingle, while this path's candidate volume is bounded by
    the banded LSH S-curve — feed its output to
    ``operators.graph.connected_components`` (or
    ``curation.near_dup_clusters(pairs=...)``) for transitive families.

    Caches an intermediate shingle table for the call's lifetime (reclaimed
    by LRU or ``spark.catalog.clearCache()`` — see the package docstring).
    """
    if bands is None:
        bands = _auto_bands(num_hashes, threshold)
    rows_per_band = num_hashes // bands
    # spread the raw rows first: the shingle projection is regex-heavy and
    # interpreted; it must run above the exchange, across all cores, in every
    # branch that uses it (signatures AND both sides of the verify join).
    # with_sh is consumed by 3 branches (signatures + both verify sides) —
    # persist so the shingle pass runs once, not three times.
    with_sh = (
        _spread(docs.select(id_col, text_col), F.col(id_col))
        .select(F.col(id_col), shingles(F.col(text_col), shingle_n).alias("__sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    signed = minhash_signatures_table(with_sh, id_col, num_hashes, seed, spread=False)
    # _lsh_candidate_pairs spreads its output on `a` (AQE would otherwise
    # coalesce the tiny pair rows and serialize the exact-Jaccard verify)
    cands = _lsh_candidate_pairs(signed, id_col, bands, rows_per_band)

    sh_a = with_sh.select(F.col(id_col).alias("a"), F.col("__sh").alias("__sha"))
    sh_b = with_sh.select(F.col(id_col).alias("b"), F.col("__sh").alias("__shb"))
    return (
        cands.join(sh_a, "a")
        .join(sh_b, "b")
        .where(jaccard_similarity(F.col("__sha"), F.col("__shb")) >= threshold)
        .select("a", "b")
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int | None = None,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-dedup: MinHash+LSH candidates, exact-Jaccard verification, keep
    the lowest id of each duplicate pair's losers removed.

    Connected components are approximated by one representative hop
    (b removed when a<b are dups) — the standard single-pass policy;
    ``curation.near_dup_clusters(docs, pairs=minhash_dup_pairs(...))`` is
    the transitive-closure alternative.  ``bands`` defaults to the
    S-curve-matched count for ``threshold``.
    """
    pairs = minhash_dup_pairs(
        docs, text_col, id_col, threshold, num_hashes, bands, shingle_n, seed
    )
    dups = pairs.select(F.col("b").alias("__kill")).distinct()
    return docs.join(
        dups, docs[id_col] == dups["__kill"], "left_anti"
    )


def simhash(text: Column, seed: int = 0) -> Column:
    """64-bit simhash over word tokens, as a BIGINT column.

    Per bit b: sign(sum over tokens of +-1 by token-hash bit b).  Expressed as
    64 aggregate folds over the token array — pure JVM but interpreted; fine
    for ad-hoc use.  ``simhash_table`` is the fast bulk path.
    """
    toks = F.filter(
        F.split(F.lower(text), r"\s+"),
        lambda t: t != F.lit(""),
    )
    hashes = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))

    def vote_for_bit(bb: int):
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, bb).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    bit_terms = []
    for b in range(64):
        bit = (vote_for_bit(b) > 0).cast("long")
        if b == 63:
            # avoid BIGINT overflow on the sign bit: use negative weight
            bit_terms.append(F.when(bit == 1, F.lit(-(2**63))).otherwise(F.lit(0)))
        else:
            bit_terms.append(bit * F.lit(2**b))
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out


def simhash_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """(id, simhash BIGINT) for a whole table — the bulk path.

    Token hashing stays JVM-side (xxhash64, identical to the ``simhash``
    Column); the 64 bit-votes and sign-packing run vectorized in numpy over
    Arrow batches.  Wide SUM/MIN aggregates fall out of whole-stage codegen
    into interpreted evaluation — an order of magnitude slower than this.
    """
    from typing import Iterator

    import pandas as pd

    # spread raw rows first so the interpreted token projection parallelizes
    spread = _spread(docs.select(id_col, text_col), F.col(id_col))
    hashed = spread.select(
        F.col(id_col),
        F.transform(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"),
                lambda t: t != F.lit(""),
            ),
            lambda t: F.xxhash64(t, F.lit(seed)),
        ).alias("__h"),
    )

    shifts = np.arange(64, dtype=np.uint64)

    def sign_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            out = []
            for h in pdf["__h"]:
                harr = np.asarray(h, dtype=np.int64).view(np.uint64)
                if len(harr) == 0:
                    # all votes are 0 -> all bits 0
                    out.append(0)
                    continue
                bits = ((harr[:, None] >> shifts[None, :]) & 1).astype(np.int64)
                votes = (2 * bits - 1).sum(axis=0)
                word = ((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
                out.append(int(word.astype(np.int64)))  # two's-complement wrap
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    id_type = dict(docs.dtypes)[id_col]
    return hashed.mapInPandas(
        sign_batches, schema=f"{id_col} {id_type}, simhash bigint"
    )


def simhash_bands(sim: Column) -> Column:
    """Split a 64-bit simhash into 4 x 16-bit band keys: two fingerprints
    within Hamming distance 3 share at least one band (pigeonhole)."""
    return F.array(
        *[
            F.shiftrightunsigned(sim, 16 * b).bitwiseAND(F.lit(0xFFFF))
            for b in range(4)
        ]
    )


def _popcount64(x: Column) -> Column:
    """Hamming weight of a 64-bit column via bit_count."""
    return F.bit_count(x)


def simhash_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    seed: int = 0,
) -> DataFrame:
    """Verified near-duplicate (a, b) pairs (a < b) with simhash Hamming
    distance <= ``max_hamming``: banded candidate join (4 x 16-bit bands —
    Hamming <= 3 guarantees a shared band by pigeonhole) + exact popcount
    verification.  An edge source for ``curation.near_dup_clusters``."""
    sh = simhash_table(docs, text_col, id_col, seed).withColumnRenamed(
        "simhash", "__sim"
    )
    banded = sh.select(
        id_col,
        "__sim",
        F.posexplode(simhash_bands(F.col("__sim"))).alias("__band", "__key"),
    )
    left = banded.select(
        F.col(id_col).alias("a"), F.col("__sim").alias("__sa"), "__band", "__key"
    )
    right = banded.select(
        F.col(id_col).alias("b"), F.col("__sim").alias("__sb"), "__band", "__key"
    )
    return (
        left.join(right, ["__band", "__key"])
        .where(F.col("a") < F.col("b"))
        .where(
            _popcount64(F.col("__sa").bitwiseXOR(F.col("__sb"))) <= max_hamming
        )
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )


def simhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    seed: int = 0,
) -> DataFrame:
    """Near-dedup by simhash: banded candidate join + Hamming verification."""
    pairs = simhash_dup_pairs(docs, text_col, id_col, max_hamming, seed)
    dups = pairs.select(F.col("b").alias("__kill")).distinct()
    return docs.join(dups, docs[id_col] == dups["__kill"], "left_anti")


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 2,
) -> DataFrame:
    """ALL pairs (a, b, jaccard) with exact n-gram Jaccard >= threshold.

    EXACT (deterministic, DuckDB-oracle-backed), unlike minhash_lsh_dedup:
    a pair with Jaccard >= t > 0 necessarily shares a shingle, so candidates
    from a shared-shingle equi-join are lossless.  To keep hot shingles from
    generating ~N^2 join rows, the join is prefix-filtered (AllPairs, Bayardo
    et al.): order each document's shingles by a global rarest-first key
    (document frequency); a qualifying pair must share one of the first
    |s| - ceil(t*|s|) + 1 shingles of ``a`` — if the overlap hides entirely
    in the suffix it is at most ceil(t|a|)-1 < t|a| <= the minimum overlap
    t(|a|+|b|)/(1+t) any Jaccard->=t pair needs (|b| >= t|a| likewise).
    Candidates then get the exact jaccard from their full shingle arrays.

    Shuffle profile: O(sum_shingle df_prefix * df) candidate join +
    O(candidates) verification — sub-quadratic on hot shingles; ubiquitous
    shingles sort last and rarely enter any prefix.

    Caches an intermediate shingle table for the call's lifetime (reclaimed
    by LRU or ``spark.catalog.clearCache()`` — see the package docstring).
    """
    # spread the raw rows first: the shingle projection is regex-heavy and
    # interpreted; it must run above the exchange, across all cores, in every
    # branch that uses it (exploded candidates AND both verify sides).
    # Shingles are hashed to int64 IMMEDIATELY (xxhash64): every downstream
    # join/intersection works on longs instead of ~12-char strings — measured
    # ~8x cheaper per-pair verification at 8M candidates — and Jaccard on the
    # hashed sets equals Jaccard on the string sets (injective w.h.p.; a
    # collision needs ~2^-64).
    with_sh = (
        _spread(docs.select(id_col, text_col), F.col(id_col))
        .select(
            F.col(id_col),
            F.array_sort(
                F.transform(
                    shingles(F.col(text_col), shingle_n),
                    lambda s: F.xxhash64(s),
                )
            ).alias("__sh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    exploded = with_sh.select(
        F.col(id_col).alias("__id"),
        F.size("__sh").alias("__sz"),
        F.explode("__sh").alias("__g"),
    )
    gdf = exploded.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy(F.col("__df").asc(), F.col("__g").asc())
    # prefix length |s| - ceil(t|s|) + 1; the 1e-9 slack rounds ceil DOWN on
    # FP wobble, lengthening the prefix — losslessness over tightness
    prefix = (
        exploded.join(gdf, "__g")
        .withColumn("__rn", F.row_number().over(w))
        .where(
            F.col("__rn")
            <= F.col("__sz")
            - F.ceil(F.lit(threshold) * F.col("__sz") - F.lit(1e-9))
            + F.lit(1)
        )
        .select(F.col("__id").alias("a"), F.col("__sz").alias("__sza"), "__g")
    )
    # size filter (also lossless): jaccard >= t forces t <= min(|a|,|b|) /
    # max(|a|,|b|), so wildly different-length docs never qualify
    cands = (
        prefix.join(
            exploded.select(
                F.col("__id").alias("b"), F.col("__sz").alias("__szb"), "__g"
            ),
            "__g",
        )
        .where(
            (F.col("a") < F.col("b"))
            & (F.col("__szb") >= F.lit(threshold) * F.col("__sza") - F.lit(1e-9))
            & (F.col("__sza") >= F.lit(threshold) * F.col("__szb") - F.lit(1e-9))
        )
        .select("a", "b")
    )
    # spread the candidate pairs BEFORE deduplicating them: (a, b) rows are
    # a few bytes each, so AQE coalesces their exchange to 1-2 partitions by
    # SIZE — and then BOTH the dropDuplicates aggregation (millions of
    # candidate rows) and the array_intersect verification (the query's
    # dominant CPU) serialize on 2 cores (observed: 35-40 s runs vs 4 s
    # spread across 32).  An explicit repartition is exempt from AQE
    # coalescing, and hash partitioning on `a` co-locates equal (a, b)
    # pairs, so the dedup adds no further exchange.
    cands = _spread(cands, F.col("a")).dropDuplicates(["a", "b"])
    sh_a = with_sh.select(F.col(id_col).alias("a"), F.col("__sh").alias("__sha"))
    sh_b = with_sh.select(F.col(id_col).alias("b"), F.col("__sh").alias("__shb"))
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    union = F.size("__sha") + F.size("__shb") - inter
    return (
        cands.join(sh_a, "a")
        .join(sh_b, "b")
        .select(
            "a",
            "b",
            (inter / F.greatest(union, F.lit(1))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _hyperplane_band_assign(df, alias: str, id_type: str, planes, bands: int):
    """(alias, __v, __band, __bucket, __norm): one row per (vector, band).

    Sign bits for a whole Arrow batch via one GEMM against the plane matrix,
    sliced into ``bands`` contiguous groups packed into per-band bucket keys
    (minhash-style banding for cosine LSH).  ``df`` must have (alias, __v).
    """
    from typing import Iterator

    import pandas as pd

    num_planes = len(planes)
    if bands < 1 or num_planes % bands != 0:
        # a silent remainder would weaken the LSH (planes dropped), and
        # bands > num_planes would make every bucket 0 — an all-pairs join
        raise ValueError(
            f"bands ({bands}) must divide num_planes ({num_planes})"
        )
    rpb = num_planes // bands

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_zip_rescan()
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
            bits = (V @ planes.T > 0).astype(np.int64)  # (n, num_planes)
            weights = 1 << np.arange(rpb, dtype=np.int64)
            buckets = np.stack(
                [
                    bits[:, band * rpb : (band + 1) * rpb] @ weights
                    for band in range(bands)
                ],
                axis=1,
            )  # (n, bands)
            n = bands
            yield pd.DataFrame(
                {
                    alias: pdf[alias].to_numpy().repeat(n),
                    "__v": [v for v in pdf["__v"] for _ in range(n)],
                    "__band": np.tile(np.arange(bands, dtype=np.int32), len(pdf)),
                    "__bucket": buckets.reshape(-1),
                    "__norm": np.linalg.norm(V, axis=1).repeat(n),
                }
            )

    return df.mapInPandas(
        kernel,
        schema=(
            f"{alias} {id_type}, __v array<double>, __band int, "
            "__bucket long, __norm double"
        ),
    )


def embedding_duplicate_pairs(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 48,
    bands: int = 6,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """All (a, b) pairs with cosine >= threshold found via banded sign-LSH.

    Candidates collide when ANY band (num_planes/bands contiguous sign bits)
    matches — the OR-across-bands construction that keeps recall high at
    high thresholds: with 6 bands of 8 bits, a cosine-0.95 pair (per-bit
    agreement p ~ 0.90) is caught with probability 1-(1-p^8)^6 ~ 0.96,
    versus ~0.18 for a single all-16-bits-must-agree bucket (the round-1
    design this replaces).  Every candidate is verified with the exact
    cosine, so precision is 1; only recall is approximate (gated >= 0.9 by
    tests/test_pipeline.py::test_embedding_dedup_recall).

    Shuffle profile: O(rows x bands) — band+bucket equi-join, no all-pairs
    stage; per-band bucket keys span 2^(num_planes/bands) values.
    """
    from tsne_flink_spark.functions.metrics import dot_unrolled
    from tsne_flink_spark.pipeline.similarity import _as_double

    if dim is None:
        head = embeddings.select(vec_col).head()
        if head is None:
            return embeddings.sparkSession.createDataFrame(
                [], f"a {dict(embeddings.dtypes)[id_col]}, b {dict(embeddings.dtypes)[id_col]}"
            )
        dim = len(head[0])
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(num_planes, dim))

    id_type = dict(embeddings.dtypes)[id_col]
    keyed = _hyperplane_band_assign(
        embeddings.select(
            F.col(id_col).alias("__id"), _as_double(F.col(vec_col)).alias("__v")
        ),
        "__id",
        id_type,
        planes,
        bands,
    )
    left = keyed.select(
        F.col("__id").alias("a"), F.col("__v").alias("__va"),
        F.col("__norm").alias("__na"), "__band", "__bucket",
    )
    right = keyed.select(
        F.col("__id").alias("b"), F.col("__v").alias("__vb"),
        F.col("__norm").alias("__nb"), "__band", "__bucket",
    )
    # norms once per row pre-join; per-pair only the codegen-unrolled dot.
    # dropDuplicates BEFORE the cosine verify would re-attach arrays to the
    # dedup (see lsh_top_k) — instead verify first, then dedup slim (a, b).
    return (
        left.join(right, ["__band", "__bucket"])
        .where(F.col("a") < F.col("b"))
        .where(
            dot_unrolled(F.col("__va"), F.col("__vb"), dim)
            / (F.col("__na") * F.col("__nb"))
            >= threshold
        )
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )


def embedding_cosine_dedup(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 48,
    bands: int = 6,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Near-dup rows by embedding cosine similarity: keep a row unless a
    lower-id row is cosine-similar above ``threshold`` (candidates from
    banded sign-LSH, exactly verified — see ``embedding_duplicate_pairs``).
    """
    dups = (
        embedding_duplicate_pairs(
            embeddings, vec_col, id_col, threshold, num_planes, bands, seed, dim
        )
        .select(F.col("b").alias("__kill"))
        .distinct()
    )
    return embeddings.join(
        dups, embeddings[id_col] == dups["__kill"], "left_anti"
    )


# -- invariant checks (driver correctness gate) -------------------------------
#
# The three approximate dedup operators are hash-/seed-specific, so no plain
# SQL oracle can reproduce their survivor sets.  What IS independently
# checkable is a pair of DETERMINISTIC invariants that pin the semantics:
#
# - soundness ("unjustified_kills"): every removed row must have a LOWER-ID
#   row in the corpus that exceeds the exact similarity threshold (exact
#   n-gram Jaccard / Hamming / cosine — recomputed from scratch, not from
#   the operator's internals).  The one-hop kill policy guarantees this by
#   construction; the check catches any regression that removes rows without
#   an exact-verified justification.
# - completeness over the candidate set ("missed_candidates"): no SURVIVING
#   pair may both collide in an LSH band/bucket AND exceed the exact
#   threshold — such a pair was a generated candidate that exact
#   verification confirmed, so one of them should have been removed.
#
# Both counts are exactly 0 for a correct implementation, independent of the
# probabilistic recall of the banding (which only affects pairs that never
# collide).  The driver's oracle for these queries is the constant
# (0, 0) row — the hash comparison then IS the invariant verification.

def minhash_dedup_invariants(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int | None = None,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """One row (unjustified_kills BIGINT, missed_candidates BIGINT); both 0
    iff ``minhash_lsh_dedup``'s output satisfies the dedup invariants."""
    if bands is None:
        bands = _auto_bands(num_hashes, threshold)
    rows_per_band = num_hashes // bands
    survivors = minhash_lsh_dedup(
        docs, text_col, id_col, threshold, num_hashes, bands, shingle_n, seed
    ).select(id_col)
    with_sh = (
        docs.select(F.col(id_col), shingles(F.col(text_col), shingle_n).alias("__sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    killed = with_sh.join(survivors, id_col, "left_anti")

    # soundness: killed b must have some a < b with exact Jaccard >= t
    all_a = with_sh.select(F.col(id_col).alias("a"), F.col("__sh").alias("__sha"))
    kb = killed.select(F.col(id_col).alias("b"), F.col("__sh").alias("__shb"))
    justified = (
        kb.join(F.broadcast(all_a), F.col("a") < F.col("b"))
        .where(jaccard_similarity(F.col("__sha"), F.col("__shb")) >= threshold)
        .select("b")
        .distinct()
    )
    unjustified = (
        kb.select("b").exceptAll(justified)
        .agg(F.count(F.lit(1)).alias("unjustified_kills"))
    )

    # completeness: no surviving band-colliding pair with exact J >= t
    surv_sh = with_sh.join(survivors, id_col)
    signed = minhash_signatures_table(surv_sh, id_col, num_hashes, seed)
    cands = _lsh_candidate_pairs(signed, id_col, bands, rows_per_band)
    sh_a = surv_sh.select(F.col(id_col).alias("a"), F.col("__sh").alias("__sha"))
    sh_b = surv_sh.select(F.col(id_col).alias("b"), F.col("__sh").alias("__shb"))
    missed = (
        cands.join(sh_a, "a")
        .join(sh_b, "b")
        .where(jaccard_similarity(F.col("__sha"), F.col("__shb")) >= threshold)
        .agg(F.count(F.lit(1)).alias("missed_candidates"))
    )
    return unjustified.crossJoin(missed)


def simhash_dedup_invariants(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    seed: int = 0,
) -> DataFrame:
    """One row (unjustified_kills BIGINT, missed_candidates BIGINT) for
    ``simhash_dedup`` — exact Hamming distances recomputed from scratch."""
    survivors = simhash_dedup(docs, text_col, id_col, max_hamming, seed).select(
        id_col
    )
    sh = simhash_table(docs, text_col, id_col, seed).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    killed = sh.join(survivors, id_col, "left_anti")

    all_a = sh.select(F.col(id_col).alias("a"), F.col("simhash").alias("__sa"))
    kb = killed.select(F.col(id_col).alias("b"), F.col("simhash").alias("__sb"))
    justified = (
        kb.join(F.broadcast(all_a), F.col("a") < F.col("b"))
        .where(
            _popcount64(F.col("__sa").bitwiseXOR(F.col("__sb"))) <= max_hamming
        )
        .select("b")
        .distinct()
    )
    unjustified = (
        kb.select("b").exceptAll(justified)
        .agg(F.count(F.lit(1)).alias("unjustified_kills"))
    )

    surv_sh = sh.join(survivors, id_col)
    banded = surv_sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(simhash_bands(F.col("simhash"))).alias("__band", "__key"),
    )
    left = banded.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("__sa"), "__band", "__key"
    )
    right = banded.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("__sb"), "__band", "__key"
    )
    missed = (
        left.join(right, ["__band", "__key"])
        .where(F.col("a") < F.col("b"))
        .where(
            _popcount64(F.col("__sa").bitwiseXOR(F.col("__sb"))) <= max_hamming
        )
        .select("a", "b")
        .distinct()
        .agg(F.count(F.lit(1)).alias("missed_candidates"))
    )
    return unjustified.crossJoin(missed)


def embedding_dedup_invariants(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 48,
    bands: int = 6,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """One row (unjustified_kills BIGINT, missed_candidates BIGINT) for
    ``embedding_cosine_dedup`` — exact cosines recomputed from the vectors."""
    from tsne_flink_spark.functions.metrics import dot_unrolled
    from tsne_flink_spark.pipeline.similarity import _as_double

    if dim is None:
        head = embeddings.select(vec_col).head()
        dim = len(head[0]) if head is not None else 0
    survivors = embedding_cosine_dedup(
        embeddings, vec_col, id_col, threshold, num_planes, bands, seed, dim
    ).select(id_col)
    normed = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    ).withColumn(
        "__norm",
        F.sqrt(F.aggregate("__v", F.lit(0.0), lambda acc, x: acc + x * x)),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    killed = normed.join(survivors, id_col, "left_anti")

    cos = dot_unrolled(F.col("__va"), F.col("__vb"), dim) / (
        F.col("__na") * F.col("__nb")
    )
    all_a = normed.select(
        F.col(id_col).alias("a"), F.col("__v").alias("__va"),
        F.col("__norm").alias("__na"),
    )
    kb = killed.select(
        F.col(id_col).alias("b"), F.col("__v").alias("__vb"),
        F.col("__norm").alias("__nb"),
    )
    justified = (
        kb.join(F.broadcast(all_a), F.col("a") < F.col("b"))
        .where(cos >= threshold)
        .select("b")
        .distinct()
    )
    unjustified = (
        kb.select("b").exceptAll(justified)
        .agg(F.count(F.lit(1)).alias("unjustified_kills"))
    )

    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(num_planes, dim))
    id_type = dict(embeddings.dtypes)[id_col]
    surv_keyed = _hyperplane_band_assign(
        normed.join(survivors, id_col).select(
            F.col(id_col).alias("__id"), F.col("__v")
        ),
        "__id",
        id_type,
        planes,
        bands,
    )
    left = surv_keyed.select(
        F.col("__id").alias("a"), F.col("__v").alias("__va"),
        F.col("__norm").alias("__na"), "__band", "__bucket",
    )
    right = surv_keyed.select(
        F.col("__id").alias("b"), F.col("__v").alias("__vb"),
        F.col("__norm").alias("__nb"), "__band", "__bucket",
    )
    missed = (
        left.join(right, ["__band", "__bucket"])
        .where(F.col("a") < F.col("b"))
        .where(cos >= threshold)
        .select("a", "b")
        .distinct()
        .agg(F.count(F.lit(1)).alias("missed_candidates"))
    )
    return unjustified.crossJoin(missed)


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric near-containment pairs — the quote/excerpt detector
    Jaccard misses: a short document lifted from a long one has
    containment |Sa ∩ Sb| / |Sb| ~ 1 (b's shingles inside a) while the
    symmetric Jaccard is diluted by the size gap below any dedup
    threshold.

    Candidates come from a df-capped shingle inverted index: shingles
    with document frequency > ``max_df`` are dropped as stop-shingles
    (the same winnowing trade as winnow_overlap — a pair is missed ONLY
    if every shared shingle is corpus-common, and the cap bounds the
    per-shingle join fan-out at max_df^2, so the self-join can never go
    quadratic on a boilerplate shingle).  Verification is exact set
    intersection over the full distinct-shingle arrays, so emitted
    containments are exact values; the cap is deterministic and
    replicated in the DuckDB oracle, making the full output
    hash-checkable.

    Returns (container, contained, containment) for container !=
    contained, containment >= threshold, contained side non-empty;
    directed — a full duplicate yields both directions.
    """
    sh = (
        _spread(docs.select(id_col, text_col), F.col(id_col))
        .select(
            F.col(id_col),
            F.array_distinct(shingles(F.col(text_col), shingle_n)).alias(
                "__sh"
            ),
        )
        .where(F.size("__sh") >= 1)
    )
    # sh feeds FOUR consumers (the posting list, the df table under it,
    # and both verify sides) and Spark re-evaluates the subtree at every
    # reference — the text split + shingle assembly + array_distinct ran
    # 4x per call (visible as four Scan+Generate subtrees in the plan).
    # Materializing the shingle arrays once makes every consumer a flat
    # cached scan (r15, guide §2.4/§5; plan: 4 Generate subtrees -> 1).
    from tsne_flink_spark.operators.optimize import materialize

    sh = materialize(sh)
    posting = sh.select(F.col(id_col).alias("__id"), F.explode("__sh").alias("__g"))
    rare = posting.join(
        posting.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= max_df)
        .select("__g"),
        "__g",
    )
    cands = (
        rare.select(F.col("__id").alias("container"), "__g")
        .join(rare.select(F.col("__id").alias("contained"), "__g"), "__g")
        .where(F.col("container") != F.col("contained"))
        .select("container", "contained")
    )
    cands = _spread(cands, F.col("container")).dropDuplicates(
        ["container", "contained"]
    )
    sha = sh.select(F.col(id_col).alias("container"), F.col("__sh").alias("__sha"))
    shb = sh.select(F.col(id_col).alias("contained"), F.col("__sh").alias("__shb"))
    cont = F.size(F.array_intersect(F.col("__sha"), F.col("__shb"))) / F.size(
        F.col("__shb")
    )
    return (
        cands.join(sha, "container")
        .join(shb, "contained")
        .select(
            "container",
            "contained",
            F.round(cont, 6).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )
