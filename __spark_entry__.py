"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query at sf0.001.
``queries()``   — one entry per implemented operator from SURVEY.md §2 plus
                  the training-data-pipeline extensions.
``oracle_sql()``— DuckDB-equivalent SQL per query where SQL-expressible;
                  approximate / iterative operators are rows-only checked.

Conventions for hash-stable comparison: every computed double is rounded
identically on both sides; counts/sums of integers are cast to BIGINT
(DuckDB's SUM(BIGINT) is HUGEINT); timestamps are formatted to strings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tsne_flink_spark.sources.readers import load_table

    return load_table(spark, sf_dir, name)


_SHARED_MINER_CACHE: dict = {}


import contextlib


@contextlib.contextmanager
def _stream_parts(spark: SparkSession):
    """Temporarily size ``spark.sql.shuffle.partitions`` for the bounded
    streaming lifecycles (r15 optimization, guide §2.4/§6).

    Structured streaming snapshots the session conf at query start, and
    for STATEFUL queries the value is locked into the checkpoint as the
    state-partition count.  The gated lifecycles replay a 4-file backlog
    whose micro-batches carry at most a few hundred thousand narrow
    rows, so the batch-analytics default (2x cores = 64 locally) buys
    nothing and costs a fixed per-partition tax every micro-batch: 64
    HDFS-state-store load/commit cycles per batch for the keyed-state
    feed, 64-way shuffles inside each foreachBatch job for the sketch
    builders (measured: transition_feed stream phase 8-9 s -> 6 s,
    countmin step ~1.2 -> ~0.8 s/batch at 8 partitions).

    At production scale the right value tracks per-trigger ingest volume
    and key cardinality, not this session's batch parallelism — so it is
    parameterised: ``SPARK_GRAFT_STREAM_PARTS`` overrides; the default
    is min(session value, 8), i.e. purely a local-mode cap that a
    cluster deployment raises per stream.  Results are invariant: sketch
    merges are exact elementwise/k-min/MG merges and keyed state is
    per-key, so partition count never reaches the output."""
    import os as _os

    cur = spark.conf.get("spark.sql.shuffle.partitions")
    env = _os.environ.get("SPARK_GRAFT_STREAM_PARTS")
    n = int(env) if env else min(int(cur), 8)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", cur)


def _dup_pair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact 2-gram-Jaccard >= 0.5 near-dup pair graph over the
    documents table — the shared front half of the whole dup_* family
    (pagerank / kcore / walks / triangles / clusters / split / best-rep).

    By default every query re-mines it lazily: per-query isolation, so
    the driver's correctness gate sees each query self-contained.  With
    ``SPARK_GRAFT_SHARED_MINER=1`` (set by bench.py only) the mined
    edges are materialized ONCE per (session, sf_dir) and reused —
    outputs are bit-identical either way (the miner is deterministic;
    A/B: `tools/bench_ops.py miner-ab`), but the suite stops paying the same
    ~8-10 s miner ~9 times at sf0.1, making real per-query regressions
    visible above the repeated-miner noise."""
    import os as _os

    from tsne_flink_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    if _os.environ.get("SPARK_GRAFT_SHARED_MINER") != "1":
        return ngram_jaccard_pairs(docs, threshold=0.5, shingle_n=2)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SHARED_MINER_CACHE:
        from tsne_flink_spark.operators.optimize import materialize

        _SHARED_MINER_CACHE[key] = materialize(
            ngram_jaccard_pairs(docs, threshold=0.5, shingle_n=2)
        )
    return _SHARED_MINER_CACHE[key]


# ---------------------------------------------------------------------------
# t-SNE relational operators (SURVEY §2.3/§2.4/§2.5/§2.6) on testdata tables
# ---------------------------------------------------------------------------


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join + per-group sorted top-k (TsneHelpers.scala:41-59) over the
    embeddings table, k=5, sqeuclidean."""
    from tsne_flink_spark.operators.knn import k_nearest_neighbors

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("int").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    out = k_nearest_neighbors(emb, 5, "sqeuclidean")
    return out.select("i", "j", F.round("v", 6).alias("v"))


def q_knn_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked-cross kNN (TsneHelpers.scala:61-91); same oracle as brute force
    — blocked evaluation must be exact."""
    from tsne_flink_spark.operators.knn import partition_knn

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("int").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    out = partition_knn(emb, 5, "sqeuclidean", blocks=8)
    return out.select("i", "j", F.round("v", 6).alias("v"))


def q_knn_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate z-order kNN (TsneHelpers.scala:93-160) — approximate, so
    rows-only checked."""
    from tsne_flink_spark.operators.knn import project_knn

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("int").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    out = project_knn(emb, 5, "sqeuclidean", iterations=3, seed=0)
    return out.select("i", "j", F.round("v", 6).alias("v"))


def q_knn_project_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for project_knn (oracle: constant zero row):
    every emitted distance must equal the true metric recomputed from the
    vectors; <= k neighbors per point; no self-edges; no duplicate pairs.
    Provably 0 regardless of which (approximate) candidates were probed."""
    from tsne_flink_spark.functions.metrics import metric_expr
    from tsne_flink_spark.operators.knn import project_knn

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("int").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    k = 5
    out = project_knn(emb, k, "sqeuclidean", iterations=3, seed=0)
    fa = emb.select(F.col("id").alias("i"), F.col("features").alias("__fa"))
    fb = emb.select(F.col("id").alias("j"), F.col("features").alias("__fb"))
    true_d = metric_expr("sqeuclidean", F.col("__fa"), F.col("__fb"))
    bad_dist = (
        out.join(fa, "i").join(fb, "j")
        .where(F.abs(F.col("v") - true_d) > 1e-9)
        .agg(F.count(F.lit(1)).alias("bad_dist"))
    )
    overfull = (
        out.groupBy("i").agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > k)
        .agg(F.count(F.lit(1)).alias("overfull_points"))
    )
    selfe = out.where(F.col("i") == F.col("j")).agg(
        F.count(F.lit(1)).alias("self_edges")
    )
    dups = (
        out.groupBy("i", "j").agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .agg(F.count(F.lit(1)).alias("dup_pairs"))
    )
    return bad_dist.crossJoin(overfull).crossJoin(selfe).crossJoin(dups)


def q_joint_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transpose/union/group-sum/broadcast-normalize (TsneHelpers.scala:182-196)
    on a COO matrix derived from lineitem."""
    from tsne_flink_spark.operators.affinities import joint_distribution

    li = _t(spark, sf_dir, "lineitem")
    coo = li.select(
        (F.col("l_orderkey") % 100).cast("int").alias("i"),
        (F.col("l_partkey") % 100).cast("int").alias("j"),
        F.col("l_quantity").alias("v"),
    ).where(F.col("i") != F.col("j"))
    out = joint_distribution(coo)
    return out.select("i", "j", F.round("v", 9).alias("v"))


def q_pairwise_affinities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group entropy bisection (TsneHelpers.scala:162-180,434-504) over
    embedding kNN edges.  Deterministic (fixed 50-iteration bisection), so it
    IS oracle-backed: see ``_bisection_oracle_sql`` for the DuckDB unrolled
    50-step CTE replica (golden parity also in tests/test_affinities.py)."""
    from tsne_flink_spark.operators.affinities import pairwise_affinities
    from tsne_flink_spark.operators.knn import k_nearest_neighbors

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("int").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    knn = k_nearest_neighbors(emb, 15, "sqeuclidean")
    out = pairwise_affinities(knn, 5.0)
    return out.select("i", "j", F.round("v", 9).alias("v"))


def q_grouped_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k (the reference's groupBy+sortGroup+first(k)) on orders:
    top 3 orders by totalprice per customer."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


def q_global_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global reduce (sum/min/max/count — TsneHelpers.scala:191,228-231,266)
    over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
        F.round(F.avg("l_discount"), 8).alias("avg_discount"),
    )


def q_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-by-key dedup (TsneHelpers.scala:116-121 dropDuplicates
    pattern): distinct (custkey, orderstatus) pairs."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select("o_custkey", "o_orderstatus").dropDuplicates(
        ["o_custkey", "o_orderstatus"]
    )


def q_centering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global mean + broadcast subtract (centerEmbedding,
    TsneHelpers.scala:320-329) applied to the embeddings table (first two
    components)."""
    from tsne_flink_spark.operators.embedding import center_embedding

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("int").alias("id"),
        F.array(
            F.col("embedding")[0].cast("double"),
            F.col("embedding")[1].cast("double"),
        ).alias("y"),
    )
    centered = center_embedding(emb, 2)
    return centered.select(
        "id",
        F.round(F.col("y")[0], 6).alias("y0"),
        F.round(F.col("y")[1], 6).alias("y1"),
    )


# ---------------------------------------------------------------------------
# relational suite (joins / aggregations / windows over the TPC-H-ish tables)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: multi-aggregate groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_promo_revenue_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promotion effect, as a monthly series: lineitem
    joined to part (AQE broadcasts the dimension), conditional aggregation
    of the ECONOMY type share of revenue per ship month.  Month keys are
    UTC wall-clock strings (the repo's timezone-independence convention)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    # l_shipdate is TIMESTAMP_NTZ (parquet isAdjustedToUTC=false):
    # date_format on NTZ is session-timezone-independent already, and a
    # convert_timezone relabel would wrongly shift midnight walls to the
    # previous day under sessions east of UTC (verified: 6000/6000 rows
    # shift under Asia/Kolkata).
    month = F.date_format("l_shipdate", "yyyy-MM")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.withColumn("month", month)
        .where((F.col("month") >= "1996-01") & (F.col("month") <= "1996-12"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("month")
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_share_pct"),
            F.round(F.sum(rev), 4).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .orderBy("month")
    )


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective dim filter + 3-way join + agg + top-10.
    The customer filter is pushed to the scan; customer is broadcast."""
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(
            orders, li["l_orderkey"] == orders["o_orderkey"]
        )
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: snowflake join across region/nation/customer/orders/
    lineitem/supplier with broadcast dims."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .where(cust["c_nationkey"] == sup["s_nationkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


def q_events_by_user_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join events x customer + agg (the reference's id equi-joins,
    TsneHelpers.scala:311,346)."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("c_mktsegment", "event_type")
    )


def _utc_wall(col_name: str):
    """Format an INSTANT (classic TIMESTAMP) column as its UTC wall clock
    regardless of session timezone.

    Use ONLY on columns derived from ``load_events``'s ``ts`` — that reader
    normalizes the stored wall clock to UTC-based instants (readers.py,
    load_events), so window()/min()/max() over it yield classic TIMESTAMP,
    which bare date_format would render in the SESSION zone (verified:
    sessionize session_start shifts +05:30 under TZ=Asia/Kolkata with bare
    formatting).  convert_timezone(current_timezone(), 'UTC', instant)
    recovers the UTC wall DuckDB prints for the same stored values.

    Do NOT use on TIMESTAMP_NTZ columns (e.g. lineitem's l_shipdate, read
    plain): for NTZ, bare date_format is already session-independent and
    this relabel would shift the wall by the session offset instead
    (midnight → previous day under zones east of UTC)."""
    return F.date_format(
        F.expr(f"convert_timezone(current_timezone(), 'UTC', {col_name})"),
        "yyyy-MM-dd HH:mm:ss",
    )


def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event aggregation (streaming-ready formulation,
    tsne_flink_spark.streaming.events)."""
    from tsne_flink_spark.streaming.events import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    out = windowed_event_counts(ev, "1 hour")
    return out.select(
        _utc_wall("window_start").alias("window_start"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
    ).orderBy("window_start", "event_type")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization with a 30-minute inactivity gap (lag +
    cumulative boundary windows)."""
    from tsne_flink_spark.streaming.events import sessionize

    ev = _t(spark, sf_dir, "events")
    out = sessionize(ev, gap_minutes=30)
    return out.select(
        "user_id",
        _utc_wall("session_start").alias("session_start"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
    ).orderBy("user_id", "session_start")


# ---------------------------------------------------------------------------
# training-data-pipeline extensions
# ---------------------------------------------------------------------------


def q_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the exact near-dup similarity graph
    (operators/graph.triangle_stats over ngram_jaccard_pairs edges):
    global triangle count + clustering coefficient — how CLIQUE-LIKE
    the duplicate families are (template clusters are near-cliques;
    chains of pairwise-similar-but-drifting docs are not), the
    graph-shape signal complementing component size (dup_clusters) and
    centrality (dup_pagerank).  Exact DuckDB oracle over the same
    miner CTE; like the rest of the dup family, the ORACLE side's pair
    re-mining is intractable at sf0.1 (engine side 17 s there) — value
    parity is verified at sf0.001/sf0.01 where the driver's gate
    runs."""
    from tsne_flink_spark.operators.graph import triangle_stats

    edges = _dup_pair_edges(spark, sf_dir)
    return triangle_stats(edges)


def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution (streaming/events.
    touch_attribution): every purchase's value credited to the click /
    view touches in its 7-day lookback under LAST-TOUCH and LINEAR
    models simultaneously, plus the '(none)' row for conversions with no
    preceding touch.  Per-user range join + two conversion-keyed
    groupBys; exact DuckDB oracle with the same (ts, event_id) argmax
    tie-break."""
    from tsne_flink_spark.streaming.events import touch_attribution

    ev = _t(spark, sf_dir, "events")
    out = touch_attribution(
        ev, "purchase", ("click", "view"), horizon_days=7
    )
    return out.select(
        "touch_type",
        "conversions_last_touch",
        F.round("value_last_touch", 4).alias("value_last_touch"),
        F.round("value_linear", 4).alias("value_linear"),
    ).orderBy("touch_type")


_TOUCH_ATTRIBUTION_ORACLE = """
WITH conv AS (
  SELECT user_id AS u, event_id AS cid, ts AS cts, "value" AS val
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id AS u, event_id AS tid, event_type AS touch_type, ts AS tts
  FROM events WHERE event_type IN ('click', 'view')
), pairs AS (
  SELECT c.cid, c.val, t.tid, t.touch_type, t.tts
  FROM conv c JOIN touch t ON c.u = t.u
  WHERE t.tts <= c.cts AND t.tts >= c.cts - INTERVAL 7 DAY
), per_conv AS (
  SELECT cid, count(*)::BIGINT AS n, any_value(val) AS v
  FROM pairs GROUP BY cid
), lastt AS (
  SELECT cid, touch_type AS last_type
  FROM pairs
  QUALIFY row_number() OVER (PARTITION BY cid ORDER BY tts DESC, tid DESC) = 1
), att AS (
  SELECT pt.touch_type,
    sum(CASE WHEN l.last_type = pt.touch_type THEN 1 ELSE 0 END)::BIGINT
      AS conversions_last_touch,
    sum(CASE WHEN l.last_type = pt.touch_type THEN pc.v ELSE 0.0 END)
      AS value_last_touch,
    sum(pt.c::DOUBLE / pc.n::DOUBLE * pc.v) AS value_linear
  FROM (SELECT cid, touch_type, count(*)::BIGINT AS c
        FROM pairs GROUP BY 1, 2) pt
  JOIN per_conv pc USING (cid)
  JOIN lastt l USING (cid)
  GROUP BY 1
), none_row AS (
  SELECT '(none)' AS touch_type,
         count(*)::BIGINT AS conversions_last_touch,
         coalesce(sum(val), 0.0) AS value_last_touch,
         0.0 AS value_linear
  FROM conv WHERE cid NOT IN (SELECT DISTINCT cid FROM pairs)
)
SELECT touch_type, conversions_last_touch,
       round(value_last_touch, 4) AS value_last_touch,
       round(value_linear, 4) AS value_linear
FROM (SELECT * FROM att UNION ALL SELECT * FROM none_row)
ORDER BY touch_type
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream
    (streaming/events.event_transitions): count and conditional
    probability of every consecutive (from_type, to_type) pair within a
    user's timeline, ties broken by event_id — next-event priors for
    behavioral modeling.  One user-keyed shuffle + a per-user lead()
    window; exact DuckDB oracle."""
    from tsne_flink_spark.streaming.events import event_transitions

    ev = _t(spark, sf_dir, "events")
    out = event_transitions(ev)
    return out.select(
        "from_type", "to_type", "n", F.round("p", 6).alias("p")
    ).orderBy("from_type", "to_type")


_EVENT_TRANSITIONS_ORACLE = """
WITH ordered AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
), counts AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n
  FROM ordered WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type)::DOUBLE, 6)
         AS p
FROM counts
ORDER BY from_type, to_type
"""


def q_keyword_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keywords by TextRank (pipeline/text.keyword_textrank):
    PageRank centrality over the content-word co-occurrence graph —
    a pure composition of the tokenize/stopword Column pipeline and
    operators/graph.pagerank.  Exact DuckDB oracle unrolling the same
    10 synchronous iterations over the same pair CTE
    (_textrank_oracle_sql)."""
    from tsne_flink_spark.pipeline.text import keyword_textrank

    docs = _t(spark, sf_dir, "documents")
    return keyword_textrank(docs, iters=10, k=50)


def _textrank_oracle_sql(iters: int = 10, damping: float = 0.85, k: int = 50) -> str:
    """Exact oracle for ``keyword_textrank``: the same lowercase
    whitespace tokenization, the same stop-word union (generated from
    pipeline/text._STOPWORDS, the single source of truth), consecutive
    content-word pairs normalized (least, greatest), then ``iters``
    unrolled PageRank rounds (the _pagerank_oracle_sql recurrence over
    string word ids) and the rounded-rank top-k."""
    from tsne_flink_spark.pipeline.text import _STOPWORDS

    stops = sorted({w for ws in _STOPWORDS.values() for w in ws})
    stop_list = ", ".join("'" + w + "'" for w in stops)
    parts = [f"""
WITH toks AS (
  SELECT list_filter(
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       t -> t <> ''),
           t -> NOT list_contains([{stop_list}], t)
         ) AS t
  FROM documents
), pairs AS (
  SELECT least(w1, w2) AS a, greatest(w1, w2) AS b FROM (
    SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                  i -> {{'w1': t[i], 'w2': t[i + 1]}}), recursive := true)
    FROM toks
  )
), e AS MATERIALIZED (
  SELECT DISTINCT a, b FROM pairs WHERE a <> b
), edges AS MATERIALIZED (
  SELECT a AS s, b AS d FROM e
  UNION
  SELECT b AS s, a AS d FROM e
), nodes AS MATERIALIZED (
  SELECT DISTINCT s AS id FROM edges
), deg AS MATERIALIZED (
  SELECT s, count(*)::DOUBLE AS dg FROM edges GROUP BY s
), r0 AS MATERIALIZED (
  SELECT id, 1.0::DOUBLE AS rank FROM nodes
)"""]
    for t in range(iters):
        parts.append(f""", r{t+1} AS MATERIALIZED (
  SELECT n.id,
         {1.0 - damping!r} + {damping!r} * coalesce(c.inr, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.d AS id, sum(r.rank / dg.dg) AS inr
    FROM edges e
    JOIN r{t} r ON r.id = e.s
    JOIN deg dg ON dg.s = e.s
    GROUP BY e.d
  ) c ON c.id = n.id
)""")
    parts.append(f"""
SELECT id AS word, round(rank, 6) AS rank FROM r{iters}
ORDER BY round(rank, 6) DESC, word LIMIT {k}""")
    return "".join(parts)


_FK_RELATIONS = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
]


def q_integrity_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema referential-integrity audit (pipeline/profile.
    referential_orphans): for each FK relationship in the TPC-H-ish
    schema, the child-row count, orphaned non-null FKs (left anti join
    against the distinct parent keys), and null FKs — the data-quality
    gate an ingestion pipeline runs before publishing a snapshot.
    Exact DuckDB oracle (anti-join counts)."""
    from tsne_flink_spark.pipeline.profile import referential_orphans

    out = None
    for child, fk, parent, pk in _FK_RELATIONS:
        row = referential_orphans(
            _t(spark, sf_dir, child), _t(spark, sf_dir, parent),
            fk, pk, f"{child}.{fk}->{parent}.{pk}",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relation")


def _integrity_orphans_oracle_sql() -> str:
    parts = []
    for child, fk, parent, pk in _FK_RELATIONS:
        parts.append(f"""
SELECT '{child}.{fk}->{parent}.{pk}' AS relation,
  (SELECT count(*) FROM {child})::BIGINT AS n_child,
  (SELECT count(*) FROM {child}
   WHERE {fk} IS NOT NULL
     AND {fk} NOT IN (SELECT {pk} FROM {parent} WHERE {pk} IS NOT NULL)
  )::BIGINT AS n_orphans,
  (SELECT count(*) FROM {child} WHERE {fk} IS NULL)::BIGINT AS n_null_fk""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY relation"


def q_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics (pipeline/profile.key_skew) for the
    events table's user key: distinct keys, max/mean rows per key, the
    max/mean skew ratio AQE's skew-join mitigation cares about, and the
    hottest-5-keys row share — the pre-flight check before picking a
    join or bucketing key.  Exact DuckDB oracle."""
    from tsne_flink_spark.pipeline.profile import key_skew

    return key_skew(_t(spark, sf_dir, "events"), "user_id", top=5)


_JOIN_KEY_SKEW_ORACLE = """
WITH c AS (
  SELECT user_id AS k, count(*)::BIGINT AS c FROM events GROUP BY 1
), s AS (
  SELECT count(*)::BIGINT AS n_keys, sum(c)::BIGINT AS n_rows,
         max(c)::BIGINT AS max_per_key
  FROM c
), t AS (
  SELECT sum(c)::BIGINT AS topc
  FROM (SELECT c FROM c ORDER BY c DESC, k LIMIT 5)
)
SELECT n_keys, n_rows, max_per_key,
  round(n_rows::DOUBLE / n_keys::DOUBLE, 6) AS mean_per_key,
  round(max_per_key::DOUBLE * n_keys::DOUBLE / n_rows::DOUBLE, 6)
    AS skew_ratio,
  round(topc::DOUBLE / n_rows::DOUBLE, 6) AS top_share
FROM s, t
"""


def q_dup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the exact near-dup similarity graph (operators/graph.
    k_core over ngram_jaccard_pairs edges): the nodes surviving
    synchronous peeling of degree-<2 nodes, with their in-core degree —
    the graph-cleanup pass separating DENSE template families (cliques
    survive) from incidental pairwise matches (chains/trees peel away),
    run before spending cluster time on community mining.  Exact DuckDB
    oracle unrolling the same synchronous peel rounds over the same
    miner CTE (_kcore_oracle_sql); like the rest of the dup family the
    oracle-side pair re-mining is gated at sf0.001/sf0.01."""
    from tsne_flink_spark.operators.graph import k_core

    edges = _dup_pair_edges(spark, sf_dir)
    return k_core(edges, k=2).orderBy("id")


def _kcore_oracle_sql(k: int = 2, rounds: int = 12) -> str:
    """Exact oracle for ``dup_kcore``: the ngram-Jaccard miner CTE (same
    as dup_pagerank/_TRIANGLES_ORACLE) feeding ``rounds`` unrolled
    synchronous peel rounds — delete every node of degree < k, repeat.
    Extra rounds past the fixpoint are no-ops, so the unroll count only
    needs to be >= the actual peel depth (measured: 1 round at
    sf0.001/sf0.01; chains in the unit tests need 2-3; 12 is deep
    slack, and the extra no-op rounds are near-free — each scans the
    already-tiny converged edge set).  If the peel depth ever EXCEEDS
    the unroll, the oracle emits a sentinel row (id = -1,
    deg = -#unconverged-nodes) that no real peel can produce, so the
    gate fails loudly with an attributable signature instead of
    reporting a subtly-wrong core (the r12 ADVICE false-negative
    mode)."""
    parts = [f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ltok) - 1, 1) + 1),
           i -> array_to_string(list_slice(ltok, i, i + 1), ' ')
         )) AS grams
  FROM toks
), ex AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), cands AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), pairs AS MATERIALIZED (
  SELECT c.a, c.b
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b
  WHERE len(list_intersect(sa.grams, sb.grams))
        / greatest(len(list_distinct(list_concat(sa.grams, sb.grams))), 1)
        >= 0.5
), e0 AS MATERIALIZED (
  SELECT a AS s, b AS d FROM pairs WHERE a <> b
  UNION
  SELECT b AS s, a AS d FROM pairs WHERE a <> b
)"""]
    for r in range(rounds):
        parts.append(f""", bad{r} AS MATERIALIZED (
  SELECT s FROM e{r} GROUP BY s HAVING count(*) < {k}
), e{r+1} AS MATERIALIZED (
  SELECT e.s, e.d FROM e{r} e
  WHERE e.s NOT IN (SELECT s FROM bad{r})
    AND e.d NOT IN (SELECT s FROM bad{r})
)""")
    parts.append(f""", unconverged AS (
  SELECT s FROM e{rounds} GROUP BY s HAVING count(*) < {k}
)
SELECT id, deg FROM (
  SELECT s AS id, count(*)::BIGINT AS deg FROM e{rounds} GROUP BY s
  UNION ALL
  SELECT -1::BIGINT AS id, -count(*)::BIGINT AS deg FROM unconverged
  HAVING count(*) > 0
) ORDER BY id""")
    return "".join(parts)


def q_dup_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style training sequences over the exact near-dup graph
    (operators/graph.random_walks over ngram_jaccard_pairs edges): one
    deterministic 6-step walk from every node, emitted as (walk_id,
    step, node) rows — the graph-embedding corpus generator (Perozzi et
    al. 2014).  The step choice is the engine-replayable LCG over
    (seed, walk, step, node) mod degree, so the DuckDB oracle replays
    every walk exactly (_random_walks_oracle_sql unrolls the same
    steps over the same miner CTE)."""
    from tsne_flink_spark.operators.graph import random_walks

    edges = _dup_pair_edges(spark, sf_dir)
    return random_walks(edges, walk_len=6, seed=1).orderBy(
        "walk_id", "step"
    )


def _random_walks_oracle_sql(walk_len: int = 6, seed: int = 1) -> str:
    """Exact oracle for ``dup_random_walks``: the ngram-Jaccard miner
    CTE feeding the grouped sorted-neighbor adjacency, then
    ``walk_len`` unrolled steps each picking
    nb[lcg(seed, walk, t, node) % deg + 1] — the same arithmetic as
    operators/graph.random_walks (pipeline/sketches.kmv_hash_sql)."""
    from tsne_flink_spark.pipeline.sketches import kmv_hash_sql

    parts = [f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ltok) - 1, 1) + 1),
           i -> array_to_string(list_slice(ltok, i, i + 1), ' ')
         )) AS grams
  FROM toks
), ex AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), cands AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), pairs AS MATERIALIZED (
  SELECT c.a, c.b
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b
  WHERE len(list_intersect(sa.grams, sb.grams))
        / greatest(len(list_distinct(list_concat(sa.grams, sb.grams))), 1)
        >= 0.5
), e0 AS (
  SELECT a AS s, b AS d FROM pairs WHERE a <> b
  UNION
  SELECT b AS s, a AS d FROM pairs WHERE a <> b
), adjl AS MATERIALIZED (
  SELECT s, list(d ORDER BY d) AS nb FROM e0 GROUP BY s
), w0 AS (
  SELECT s AS walk_id, s AS node FROM adjl
)"""]
    for t in range(1, walk_len + 1):
        # ids pmod-reduced into [0, 2^31) before the multiply-add,
        # matching operators/graph.random_walks' overflow guard (the
        # reduction is the identity for the gate's small doc_ids)
        m = 1 << 31
        key = (
            f"({seed % m} * 1000003 + (w.walk_id % {m}) * 7919 "
            f"+ {t} * 104729 + (w.node % {m}))"
        )
        parts.append(f""", w{t} AS MATERIALIZED (
  SELECT w.walk_id,
         a.nb[(({kmv_hash_sql(key)}) % len(a.nb)) + 1] AS node
  FROM w{t-1} w JOIN adjl a ON a.s = w.node
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT walk_id, {t} AS step, node FROM w{t}"
        for t in range(walk_len + 1)
    )
    parts.append(f"""
SELECT walk_id, step::INT AS step, node FROM ({sel})
ORDER BY walk_id, step""")
    return "".join(parts)


def _dup_walk_corpus(spark: SparkSession, sf_dir: str):
    """Shared plumbing for the dup_walk_embeddings pair: the exact
    near-dup graph (same miner as dup_kcore/dup_random_walks) plus a
    2-seed DeepWalk corpus over it — two deterministic 6-step walks per
    node.  The edge set is materialized once; both the walk corpus and
    the check's neighbor-pair scan reuse it."""
    from tsne_flink_spark.operators.graph import random_walks
    from tsne_flink_spark.operators.optimize import materialize

    edges = materialize(
        _dup_pair_edges(spark, sf_dir).select("a", "b")
    )
    walks = random_walks(edges, walk_len=6, seed=1).unionByName(
        random_walks(edges, walk_len=6, seed=2)
    )
    return edges, walks


def q_dup_walk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk node embeddings of the near-dup graph (operators/graph.
    walk_embeddings over the dup_random_walks corpus, 2 seeds): 8-dim
    skip-gram vectors per graph node, trained at the sanctioned MLlib
    boundary (ml.feature.Word2Vec) — closing the walk->embedding loop the
    r12 verdict flagged (walks produced training sequences nothing
    consumed).  Downstream the vectors feed the same consumers as
    document embeddings: ANN search, embedding-cosine dedup, clustering.
    SGD training is float-order-sensitive, so this gates rows-only; the
    adjacent _check query verifies coverage and the embedding-geometry
    invariant exactly (constant-zero-row oracle).  The 8-dim vector is
    flattened to e0..e7 columns (the gate canonicalizer bans complex
    output types — tests/test_registry.py)."""
    from tsne_flink_spark.operators.graph import walk_embeddings

    _, walks = _dup_walk_corpus(spark, sf_dir)
    emb = walk_embeddings(walks, dim=8, epochs=4)
    return emb.select(
        "id", *[F.col("emb")[i].alias(f"e{i}") for i in range(8)]
    ).orderBy("id")


def q_dup_walk_embeddings_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for dup_walk_embeddings (oracle: constant zero
    row): every graph node embedded, no extra ids, all vectors 8-dim and
    finite, and the DeepWalk CONTRACT — graph neighbors (co-walked
    nodes) are more cosine-similar than non-adjacent pairs, by a >= 0.2
    mean margin (measured 0.88-1.02 at sf0.001; two 5-cliques separate
    at 0.75 vs -0.74 in the unit test).  The non-adjacent baseline is
    all non-edge pairs among the 60 smallest node ids — a bounded
    broadcast inequality join, never an all-pairs scan of the corpus."""
    from tsne_flink_spark.operators.graph import walk_embeddings
    from tsne_flink_spark.operators.optimize import materialize

    edges, walks = _dup_walk_corpus(spark, sf_dir)
    emb = materialize(walk_embeddings(walks, dim=8, epochs=4))

    def _cos(ea, eb):
        dot = F.aggregate(
            F.zip_with(ea, eb, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        n1 = F.sqrt(
            F.aggregate(
                F.transform(ea, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        n2 = F.sqrt(
            F.aggregate(
                F.transform(eb, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        return dot / (n1 * n2 + F.lit(1e-12))

    nodes = (
        edges.select(F.col("a").alias("id"))
        .unionByName(edges.select(F.col("b").alias("id")))
        .distinct()
    )
    e1 = emb.select(F.col("id").alias("a"), F.col("emb").alias("ea"))
    e2 = emb.select(F.col("id").alias("b"), F.col("emb").alias("eb"))
    edge_cos = (
        edges.join(e1, "a").join(e2, "b").select(_cos("ea", "eb").alias("c"))
    )
    sample = emb.orderBy("id").limit(60)
    u = sample.select(F.col("id").alias("a"), F.col("emb").alias("ea"))
    v = sample.select(F.col("id").alias("b"), F.col("emb").alias("eb"))
    non_cos = (
        u.join(v, F.col("a") < F.col("b"))
        .join(edges, ["a", "b"], "left_anti")
        .select(_cos("ea", "eb").alias("c"))
    )
    nonfinite = F.exists(
        "emb", lambda x: F.isnan(x) | (F.abs(x) > F.lit(1e12))
    )
    return (
        emb.agg(
            F.coalesce(
                F.sum((F.size("emb") != 8).cast("long")), F.lit(0)
            ).alias("bad_dim"),
            F.coalesce(F.sum(nonfinite.cast("long")), F.lit(0)).alias(
                "nonfinite_rows"
            ),
        )
        .crossJoin(
            F.broadcast(
                nodes.join(emb, "id", "left_anti").agg(
                    F.count(F.lit(1)).cast("long").alias("missing_nodes")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                emb.join(nodes, "id", "left_anti").agg(
                    F.count(F.lit(1)).cast("long").alias("extra_nodes")
                )
            )
        )
        .crossJoin(F.broadcast(edge_cos.agg(F.avg("c").alias("__me"))))
        .crossJoin(F.broadcast(non_cos.agg(F.avg("c").alias("__mn"))))
        .select(
            "missing_nodes",
            "extra_nodes",
            "bad_dim",
            "nonfinite_rows",
            (F.col("__me") - F.col("__mn") <= F.lit(0.2))
            .cast("long")
            .alias("sim_margin_low"),
        )
    )


def _link_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WARC-style domain link graph: each document becomes a
    synthetic HTML page whose three outlinks are arithmetic in doc_id —
    one to a global hub domain d0 (the power-law adversary degree
    orientation exists for) and two spread targets — then the REAL
    markup-extraction path (sources/warc.extract_links regexp) mines the
    hrefs and the target domain is parsed back from the URL.  Everything
    is integer arithmetic, so a DuckDB oracle can replay the edge set
    without the markup round-trip; if the extraction regex ever broke,
    the edges (and the census) would diverge."""
    from tsne_flink_spark.sources.warc import extract_links

    docs = _t(spark, sf_dir, "documents")
    m = 997
    anchors = [
        F.lit(0).cast("long"),
        ((F.col("doc_id") * 7 + 13) % m).cast("long"),
        ((F.col("doc_id") * 31 + 5) % m).cast("long"),
    ]
    markup = F.concat(
        F.lit("<html><body>"),
        *[
            F.concat(
                F.lit('<a href="https://d'),
                t.cast("string"),
                F.lit('.example.com/page">link</a>'),
            )
            for t in anchors
        ],
        F.lit("</body></html>"),
    )
    pages = docs.select(
        (F.col("doc_id") % m).cast("long").alias("src_dom"),
        markup.alias("text"),
    )
    links = extract_links(pages, id_col="src_dom")
    return links.select(
        F.col("src_dom").alias("a"),
        F.regexp_extract(
            "href", r"https://d(\d+)\.example\.com", 1
        ).cast("long").alias("b"),
    )


def q_link_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC link graph end-to-end WITH the degree-oriented census:
    synthetic pages -> extract_links -> domain edges ->
    triangle_stats(orient_by_degree=True).  The graph has a genuine hub
    (every page links to d0), so this exercises the Schank-Wagner
    orientation (operators/graph.py) on the workload it exists for — and
    the exact DuckDB oracle replays the orientation-FREE census, so the
    driver's hash gate is itself the proof that orientation preserves the
    count (B60's probe, promoted to the correctness gate)."""
    from tsne_flink_spark.operators.graph import triangle_stats

    return triangle_stats(
        _link_graph_edges(spark, sf_dir), orient_by_degree=True
    )


def q_link_triangles_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariant: the id-ordered and degree-oriented censuses are
    IDENTICAL on the same link graph (each triangle has exactly one vertex
    from which both oriented edges leave).  Oracle: constant zero row."""
    from tsne_flink_spark.operators.graph import triangle_stats

    edges = _link_graph_edges(spark, sf_dir)
    plain = triangle_stats(edges, orient_by_degree=False)
    oriented = triangle_stats(edges, orient_by_degree=True).select(
        *[F.col(c).alias(f"o_{c}") for c in
          ("n_nodes", "n_edges", "n_wedges", "n_triangles",
           "clustering_coefficient")]
    )
    return plain.crossJoin(oriented).select(
        F.sum(
            (F.col("n_nodes") != F.col("o_n_nodes")).cast("int")
            + (F.col("n_edges") != F.col("o_n_edges")).cast("int")
            + (F.col("n_wedges") != F.col("o_n_wedges")).cast("int")
            + (F.col("n_triangles") != F.col("o_n_triangles")).cast("int")
            + (
                F.col("clustering_coefficient")
                != F.col("o_clustering_coefficient")
            ).cast("int")
        ).cast("long").alias("mismatched_fields")
    )


def q_user_peak_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-user argmax via max-of-struct: each user's
    highest-value event with (ts, event_type) as explicit tiebreakers —
    the ONE-aggregate idiom that replaces a window sort + rn=1 filter
    (one map-side-combinable groupBy instead of a partition sort; the
    bare max_by is nondeterministic under value ties, which the struct
    ordering pins).  Oracle uses the equivalent row_number formulation.
    Exact DuckDB oracle."""
    ev = _t(spark, sf_dir, "events")
    peak = F.max(
        F.struct(
            F.col("value"), F.col("ts"), F.col("event_type")
        )
    ).alias("p")
    return (
        ev.groupBy("user_id")
        .agg(peak)
        .select(
            "user_id",
            F.round(F.col("p.value"), 4).alias("peak_value"),
            _utc_wall("p.ts").alias("peak_ts"),
            F.col("p.event_type").alias("peak_type"),
        )
        .orderBy("user_id")
    )


def q_group_medians(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group percentiles (p25/median/p75 of extended price and
    median quantity per return flag) via Spark's `percentile` aggregate —
    the exact counterpart of the approx_percentile path gated by
    approx_quantile_check; linear interpolation matches DuckDB's
    quantile_cont.  Exact at any scale only via a per-group sort — the
    documented trade vs the sketch (use approx_percentile when the group
    is a corpus, exact when the group fits a sort).  Exact DuckDB
    oracle."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.25)"), 6).alias(
                "price_p25"
            ),
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias(
                "price_median"
            ),
            F.round(F.expr("percentile(l_extendedprice, 0.75)"), 6).alias(
                "price_p75"
            ),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias(
                "qty_median"
            ),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


def q_event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (event_type, day-of-week): all four grouping sets
    in one pass with GROUPING indicators — the grouping-sets surface
    beyond event_rollup's linear hierarchy.  ``ts`` is an INSTANT
    (load_events normalizes it), so the day-of-week must be taken on
    the UTC wall clock (convert_timezone to NTZ first) — bare
    dayofweek(instant) shifts with the session zone
    (tests/test_timezone_contract.py caught it).  Spark numbers days
    1=Sunday..7=Saturday while DuckDB's dayofweek is 0-based, so the
    oracle adds 1.  Exact DuckDB oracle."""
    ev = _t(spark, sf_dir, "events")
    dow = F.dayofweek(
        F.expr("convert_timezone(current_timezone(), 'UTC', ts)")
    )  # 1=Sunday .. 7=Saturday on the UTC wall, session-independent
    return (
        ev.select("event_type", dow.cast("long").alias("dow"), "value")
        .cube("event_type", "dow")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("dow").cast("int").alias("g_dow"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("g_type", "g_dow", "event_type", "dow")
    )


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup -> click -> purchase
    (streaming/events.event_funnel): per-step user counts with ordered
    reachability (greedy earliest-match, exact), step-over-step and
    from-first conversion rates.  Single scan + single user-key shuffle:
    chained same-partitioning window minima compute every per-user reach
    time in one pass (step 0's conversion_from_prev is 1.0 by
    convention).  Exact DuckDB oracle."""
    from tsne_flink_spark.streaming.events import event_funnel

    ev = _t(spark, sf_dir, "events")
    return event_funnel(ev, ["signup", "click", "purchase"])


def q_user_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (streaming/events.user_cohorts): users
    bucketed by first-seen week, counted in each later active week.
    One distinct user-week aggregate over the fact table + tiny matrix
    rollup.  ``ts`` is converted to its UTC wall (NTZ) first so week
    truncation and rendering are session-TZ-independent — on the raw
    instant both follow the session calendar.  Exact DuckDB oracle."""
    from tsne_flink_spark.streaming.events import user_cohorts

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.expr("convert_timezone(current_timezone(), 'UTC', ts)")
    )
    return user_cohorts(ev)


def q_sliding_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1h window / 30min slide) distinct-user counts —
    each event lands in two overlapping windows; exact COUNT(DISTINCT) so
    the DuckDB oracle applies (the streaming path uses HLL)."""
    from tsne_flink_spark.streaming.events import sliding_user_activity

    ev = _t(spark, sf_dir, "events")
    out = sliding_user_activity(ev, "1 hour", "30 minutes", exact=True)
    # window bounds are instants (load_events normalizes ts): _utc_wall,
    # not bare date_format, keeps the strings session-TZ-independent
    # (tests/test_timezone_contract.py; the old bare formatting only
    # matched the oracle because DuckDB's to_timestamp shifted WITH the
    # session — two timezone dependences canceling).
    return out.select(
        _utc_wall("window_start").alias("window_start"),
        _utc_wall("window_end").alias("window_end"),
        F.col("n_users").cast("long").alias("n_users"),
    ).orderBy("window_start")


def q_event_order_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched with its user's most recent order at
    or before the event timestamp (orders pre-aggregated per customer+date
    for tie determinism).  Union-tag + ordered-window composition — Spark
    has no native ASOF JOIN; DuckDB's native one is the oracle."""
    from tsne_flink_spark.operators.asof import as_of_join

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey"),
            F.col("o_orderdate").cast("timestamp").alias("ts_ord"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.max("o_totalprice"), 4).alias("max_price"),
        )
        .withColumnRenamed("o_custkey", "user_id")
    )
    out = as_of_join(ev, orders, on="user_id", left_ts="ts", right_ts="ts_ord")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("__matched_ts", "yyyy-MM-dd").alias("order_date"),
        "n_orders",
        "max_price",
    ).orderBy("event_id")


def q_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS range join: for each multi-event session (>= 2 events), how many
    events — across ALL users — fell inside its [start, end) window.
    Bucketized interval join, the scalable alternative to Catalyst's
    nested-loop for range predicates."""
    from tsne_flink_spark.operators.rangejoin import range_join
    from tsne_flink_spark.streaming.events import sessionize

    ev = _t(spark, sf_dir, "events")
    sessions = (
        sessionize(ev, gap_minutes=30)
        .where(F.col("n_events") >= 2)
        .select(
            F.col("user_id").alias("sess_user"),
            F.col("session_start"),
            F.col("session_end"),
        )
    )
    joined = range_join(
        ev.select("event_id", "ts", "value"),
        sessions,
        point_ts="ts",
        start_ts="session_start",
        end_ts="session_end",
        bucket_width="1 hour",
    )
    return (
        joined.groupBy("sess_user", "session_start")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_overlapping"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "sess_user",
            _utc_wall("session_start").alias("session_start"),
            "n_overlapping",
            "sum_value",
        )
        .orderBy("sess_user", "session_start")
    )


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (event_type, then grand total) with GROUPING
    indicators — the grouping-sets operator class (absent in the reference;
    native in both Spark and the DuckDB oracle)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(
            F.grouping("event_type").cast("int").alias("is_total"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select("event_type", "is_total", "n_events", "sum_value")
        .orderBy("is_total", "event_type")
    )


def q_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event totals via the streaming-capable running-totals
    operator (batch mode = plain groupBy; streaming mode keeps the same
    schema through applyInPandasWithState)."""
    from tsne_flink_spark.streaming.events import running_user_totals

    ev = _t(spark, sf_dir, "events")
    out = running_user_totals(ev)
    return out.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
    ).orderBy("user_id")


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (MOSS, Schleimer et al. SIGMOD 2003):
    per-document set of window-min k-gram rolling hashes — the local
    fingerprint that detects PARTIAL overlap (any shared substring of
    length >= k+w-1 yields a common fp), complementing the whole-document
    exact-dedup hash.  Pure Column pipeline: scan -> narrow map -> explode,
    no shuffle, exact DuckDB oracle."""
    from tsne_flink_spark.pipeline.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=8, w=4, id_col="doc_id").select(
        "doc_id", F.col("fp").cast("long").alias("fp")
    )


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap document pairs via shared winnowing fingerprints
    (>= 3 shared, stop-fingerprint df cap 100) — detects quote reuse /
    template families that whole-document dedup misses.  Fingerprint
    self-equi-join + pair count; exact DuckDB oracle."""
    from tsne_flink_spark.pipeline.text import winnow_overlap_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        docs, min_shared=3, max_df=100, id_col="doc_id"
    ).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("n_shared").cast("long").alias("n_shared"),
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER canonicalization: exact 2-gram-Jaccard pairs
    -> distributed connected components (min-label propagation + pointer
    jumping, operators/graph.py) -> one keep=1 representative per
    transitive duplicate family.  Exact and deterministic; the DuckDB
    oracle recomputes the components with a recursive CTE."""
    from tsne_flink_spark.pipeline.curation import near_dup_clusters

    docs = _t(spark, sf_dir, "documents")
    out = near_dup_clusters(
        docs, threshold=0.5, shingle_n=2,
        pairs=_dup_pair_edges(spark, sf_dir),
    )
    return out.select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id"), "keep"
    )


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (pipeline/curation.
    leakage_safe_split): whole near-duplicate FAMILIES (same exact
    2-gram-Jaccard transitive closure as dup_clusters) are assigned to
    one split via the deterministic LCG bucket of the family id against
    90/95 thresholds — a test document can never have a near-dup twin in
    train.  Exact DuckDB oracle (shared recursive-CTE components + the
    same LCG arithmetic)."""
    from tsne_flink_spark.pipeline.curation import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    return leakage_safe_split(
        docs, threshold=0.5, shingle_n=2,
        pairs=_dup_pair_edges(spark, sf_dir),
    ).select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id"), "split"
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: training docs (doc_id % 10 != 0) are
    flagged when they share any distinct word 5-gram with the held-out
    split (doc_id % 10 == 0).  Holdout gram table broadcast (it is the
    small side by construction at scale); exact DuckDB oracle."""
    from tsne_flink_spark.pipeline.curation import decontaminate

    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 0)
    holdout = docs.where(F.col("doc_id") % 10 == 0)
    out = decontaminate(train, holdout, ngram_n=5, min_hits=1)
    return out.select(
        "doc_id",
        F.col("n_shared_grams").cast("long").alias("n_shared_grams"),
        F.col("n_holdout_docs").cast("long").alias("n_holdout_docs"),
        "contaminated",
    )


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (near-duplicate) eval contamination
    (pipeline/curation.decontaminate_fuzzy): MinHash-LSH banding between
    train and the BROADCAST holdout split, exact-Jaccard verification.
    Same train/holdout split as the exact variant.  LSH hashing is
    engine-specific (xxhash64) so rows-only; paired with
    decontaminate_fuzzy_check's exact-ground-truth invariants."""
    from tsne_flink_spark.pipeline.curation import decontaminate_fuzzy

    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 0)
    holdout = docs.where(F.col("doc_id") % 10 == 0)
    return decontaminate_fuzzy(train, holdout, threshold=0.5).orderBy(
        "doc_id"
    )


def q_decontaminate_fuzzy_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Invariants for decontaminate_fuzzy vs the EXACT broadcast ground
    truth (computable because the holdout side is small): zero false
    flags, zero overstated scores, zero misses above the S-curve margin,
    total annotation.  Oracle: constant zero row."""
    from tsne_flink_spark.pipeline.curation import (
        decontaminate_fuzzy_invariants,
    )

    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 10 != 0)
    holdout = docs.where(F.col("doc_id") % 10 == 0)
    return decontaminate_fuzzy_invariants(train, holdout, threshold=0.5)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment (pipeline/dedup.containment_pairs) —
    quote/excerpt detection over a deterministically augmented corpus:
    every doc_id % 7 == 0 document gets a 'quote' twin (its first 40% of
    tokens, min 5, id + 10,000,000) that symmetric Jaccard dedup would
    NEVER pair with its source (J ~ 0.4 at best) but containment ~ 1
    catches.  df-capped inverted-index candidates (cap replicated in the
    oracle; max_df=25 — quote-pair shingles have df~2, and on this
    small-vocab corpus df in (25,50] shingles are pure boilerplate whose
    candidate volume dominated runtime: 12.7 -> ~4 s warm at sf0.1 for
    the same quote recall), exact intersection verify.  Exact DuckDB
    oracle."""
    from tsne_flink_spark.pipeline.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(
        F.split(F.col("text"), r"\s+"), lambda t: t != F.lit("")
    )
    n_keep = F.greatest(
        F.floor(F.size(toks) * 2 / 5).cast("int"), F.lit(5)
    )
    quotes = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.array_join(F.slice(toks, 1, n_keep), " ").alias("text"),
    )
    aug = docs.unionByName(quotes)
    return containment_pairs(
        aug, threshold=0.8, shingle_n=3, max_df=25
    ).orderBy("container", "contained")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (domain mixing): per-language keep
    rates en 50% / de 30% / fr 20% / es 10% / other 5%, membership decided
    by an explicit int64 LCG over doc_id so ANY engine selects the same
    rows — narrow map + filter, no shuffle, no RNG state."""
    from tsne_flink_spark.pipeline.curation import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, {"en": 50, "de": 30, "fr": 20, "es": 10}, default_rate=5
    )
    return out.select(
        "doc_id", "lang", F.col("sample_bucket").cast("long").alias("sample_bucket")
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing layout: concatenate docs per source shard in id
    order and chunk into 2048-token context windows; each doc annotated
    with (pack_id, pack_offset, n_packs).  One window cumsum per shard;
    exact DuckDB oracle with the identical window."""
    from tsne_flink_spark.pipeline.curation import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    out = pack_sequences(docs, capacity=2048)
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.col("pack_id").cast("long").alias("pack_id"),
        F.col("pack_offset").cast("long").alias("pack_offset"),
        F.col("n_packs").cast("long").alias("n_packs"),
    )


def q_stratified_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (k=20 per language):
    LCG-hash rank within each stratum — the fixed-budget complement to
    rate-based sampling.  Exact DuckDB oracle with the identical window."""
    from tsne_flink_spark.pipeline.curation import stratified_take

    docs = _t(spark, sf_dir, "documents")
    return stratified_take(docs, 20).select("doc_id", "lang")


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing e2e: synthesize binary payloads, emit
    (doc_id, frame_idx, frame_len) rows via the Arrow-batched sampler.
    The synthetic 8x8 PPM payload is exactly 203 bytes and rotation
    preserves length, so the layout is an EXACT SQL oracle (documents x
    the 3 sampled frame indices) even though the bytes are hash-specific."""
    from tsne_flink_spark.pipeline.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    docs = _t(spark, sf_dir, "documents")
    out = sample_frames(attach_binary_payload(docs), every_nth=10, n_frames=3)
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.length("frame_payload").cast("long").alias("frame_len"),
    )


def q_sketch_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariant for sketch-based distinct counting (the 100-TB
    cardinality path: HyperLogLog++ via `approx_count_distinct`, default
    rsd 0.05): per event_type, the sketch estimate must land within 15%
    (3 sigma) of the exact distinct-user count and be positive for
    non-empty groups.  Oracle: constant zero row (the sketch is
    deterministic for fixed data, so the driver's hash gate IS the
    invariant check; measured max rel err 0.7% at sf0.01, 6.7% at sf0.1)."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("__a"),
        F.countDistinct("user_id").alias("__e"),
    )
    # __a <= 0 is only a violation when the group actually HAS distinct
    # users (an all-NULL-user group legitimately estimates 0)
    bad = (
        (F.abs(F.col("__a") - F.col("__e")) / F.greatest(F.col("__e"), F.lit(1)))
        > 0.15
    ) | ((F.col("__a") <= 0) & (F.col("__e") > 0))
    return g.agg(
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("bad_groups")
    )


def q_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches, the shard-then-merge pattern a
    100-TB pipeline persists: per (event_type, shard) Apache DataSketches
    HLL binaries over user_id (pipeline/sketches.sketch_shards), then the
    corpus-wide per-type estimate from re-unioning the kilobyte sketches
    (sketch_union) — no fact-table rescan.  Deterministic for fixed input
    but not DuckDB-reproducible (DataSketches registers) — rows-only;
    q_sketch_union_check carries the verified invariants."""
    from tsne_flink_spark.pipeline.sketches import sketch_shards, sketch_union

    ev = _t(spark, sf_dir, "events")
    shards = sketch_shards(
        ev, ["event_type"], "user_id",
        F.pmod(F.xxhash64(F.col("ts")), F.lit(8)),
    )
    return sketch_union(shards, ["event_type"]).orderBy("event_type")


def q_sketch_union_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the sketch shard/union path (oracle:
    constant zero row): the re-unioned estimate lands within 15% of the
    exact distinct-user count per event_type; union is register-monotone
    (estimate >= every member shard's estimate, an exact property of
    pointwise register max, not a statistical one); every non-empty type
    estimates positive."""
    from tsne_flink_spark.pipeline.sketches import sketch_shards, sketch_union

    ev = _t(spark, sf_dir, "events")
    shards = sketch_shards(
        ev, ["event_type"], "user_id",
        F.pmod(F.xxhash64(F.col("ts")), F.lit(8)),
    )
    unions = sketch_union(shards, ["event_type"])
    shard_max = shards.groupBy("event_type").agg(
        F.max("shard_estimate").alias("__mx")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("__e")
    )
    g = unions.join(shard_max, "event_type").join(exact, "event_type")
    bad = (
        (
            F.abs(F.col("est_distinct") - F.col("__e"))
            / F.greatest(F.col("__e"), F.lit(1))
            > 0.15
        )
        | (F.col("est_distinct") < F.col("__mx"))
        | ((F.col("est_distinct") <= 0) & (F.col("__e") > 0))
    )
    return g.agg(
        F.sum(bad.cast("int")).cast("long").alias("bad_groups")
    )


def _persisted_sketch_shards(spark: SparkSession, sf_dir: str):
    """Shared persist-lifecycle plumbing for the sketch_union_persisted
    pair: build per-(event_type, shard) HLL sketches, WRITE the binary
    sketch column to a parquet store, and hand back (fresh-read shards,
    original events) — the exact artifact a 100-TB pipeline would keep
    per ingestion shard and re-union later without a fact-table rescan."""
    import tempfile

    from tsne_flink_spark.pipeline.sketches import sketch_shards

    ev = _t(spark, sf_dir, "events")
    shards = sketch_shards(
        ev, ["event_type"], "user_id",
        F.pmod(F.xxhash64(F.col("ts")), F.lit(8)),
    )
    store = tempfile.mkdtemp(prefix="sketch_store_")
    shards.write.mode("overwrite").parquet(store)
    return spark.read.parquet(store), ev


def q_sketch_union_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full persist-then-re-union HLL lifecycle (what sketch_shards'
    docstring sells, exercised end-to-end rather than in-plan): per-shard
    sketches written to a parquet store, read back in a FRESH DataFrame,
    then re-unioned per event_type.  DataSketches registers survive the
    parquet roundtrip bit-exactly, so this returns the same estimates as
    the in-plan q_sketch_union — asserted by _check.  Rows-only (register
    estimates are not DuckDB-reproducible)."""
    from tsne_flink_spark.pipeline.sketches import sketch_union

    persisted, _ = _persisted_sketch_shards(spark, sf_dir)
    return sketch_union(persisted, ["event_type"]).orderBy("event_type")


def q_sketch_union_persisted_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the persisted lifecycle (oracle: constant
    zero row): the roundtripped union is BIT-IDENTICAL to the in-plan
    union (parquet must not disturb the sketch binaries), lands within
    15% of the exact distinct count, and is register-monotone (>= every
    persisted shard's estimate)."""
    from tsne_flink_spark.pipeline.sketches import sketch_shards, sketch_union

    persisted, ev = _persisted_sketch_shards(spark, sf_dir)
    from_disk = sketch_union(persisted, ["event_type"])
    in_plan = sketch_union(
        sketch_shards(
            ev, ["event_type"], "user_id",
            F.pmod(F.xxhash64(F.col("ts")), F.lit(8)),
        ),
        ["event_type"],
    ).withColumnRenamed("est_distinct", "__ip").withColumnRenamed(
        "n_shards", "__ipn"
    )
    shard_max = persisted.groupBy("event_type").agg(
        F.max("shard_estimate").alias("__mx")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("__e")
    )
    g = (
        from_disk.join(in_plan, "event_type", "full")
        .join(shard_max, "event_type", "full")
        .join(exact, "event_type", "full")
    )
    bad = (
        (F.col("est_distinct") != F.col("__ip"))
        | (F.col("n_shards") != F.col("__ipn"))
        | (
            F.abs(F.col("est_distinct") - F.col("__e"))
            / F.greatest(F.col("__e"), F.lit(1))
            > 0.15
        )
        | (F.col("est_distinct") < F.col("__mx"))
    )
    # full joins: a key missing from any side is itself a violation
    return g.agg(
        F.sum(F.coalesce(bad, F.lit(True)).cast("int"))
        .cast("long")
        .alias("bad_groups")
    )


def _kmv_user_day_sketches(spark: SparkSession, sf_dir: str, k: int = 512):
    """Shared plumbing for the kmv_overlap pair: per-event_type KMV
    sketches over the user-day activity key (user_id * 100 + day of
    month) — a composite with real cross-type overlap structure
    (Jaccard ~0.2 between types at sf0.01), unlike raw user_id where
    every user triggers every type.  The engine-replayable LCG hash
    keeps the whole sketch DuckDB-reproducible."""
    from tsne_flink_spark.pipeline.sketches import kmv_sketch

    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type",
        (F.col("user_id") * F.lit(100) + F.dayofmonth("ts")).alias("ud"),
    )
    return kmv_sketch(keyed, ["event_type"], "ud", k=k), ev


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-overlap cardinalities from KMV / theta sketches
    (pipeline/sketches.kmv_sketch + kmv_overlap_estimates): for every
    event-type pair, estimated distinct user-days of each side, of the
    intersection, the union, and the Jaccard — WITHOUT joining the fact
    table against itself.  This is the capability the HLL shard path
    (sketch_union) cannot express: HLL merges only by union; theta
    sketches estimate intersections, the 100-TB "how much do these two
    crawl snapshots overlap" question answered from kilobyte synopses.
    Unlike the HLL gate (rows-only — DataSketches registers), the LCG
    hash (a bijection mod 2^31, curation._lcg_bucket's constants) makes
    the ENTIRE sketch pipeline engine-replayable: the DuckDB oracle
    rebuilds the same sketches and set algebra hash-for-hash.  At
    sf0.001 every sketch is exact (< k distinct); from sf0.01 up the
    (k-1)/U(k) estimator path is live — both paths gated."""
    from tsne_flink_spark.pipeline.sketches import kmv_overlap_estimates

    k = 512
    sk, _ = _kmv_user_day_sketches(spark, sf_dir, k)
    a = sk.select(F.col("event_type").alias("type_a"), F.col("kmv").alias("__ka"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("kmv").alias("__kb"))
    # one sketch row per key: the pair join is over the kilobyte synopsis
    # table, never the fact table — broadcast by construction
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    ests = kmv_overlap_estimates(F.col("__ka"), F.col("__kb"), k)
    return pairs.select(
        "type_a",
        "type_b",
        F.size("__ka").cast("long").alias("n_a"),
        F.size("__kb").cast("long").alias("n_b"),
        *[F.round(v, 4).alias(name) for name, v in ests.items()],
    ).orderBy("type_a", "type_b")


def q_kmv_overlap_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the KMV overlap path (oracle: constant
    zero row), against EXACT distinct/overlap counts recomputed from the
    fact table: (1) per-side and union estimates within 15% of exact;
    (2) intersection estimate within 15% of the exact UNION size (the
    theta-sketch error scale — intersection error is relative to the
    sampling frame, not the intersection); (3) est_inter <= est_union
    exactly (structural: both divide counts below the same theta);
    (4) sketches with < k values are EXACT (bijective hash), so every
    estimate equals its exact count exactly on that path."""
    from tsne_flink_spark.pipeline.sketches import kmv_overlap_estimates

    k = 512
    sk, ev = _kmv_user_day_sketches(spark, sf_dir, k)
    keyed = ev.select(
        "event_type",
        (F.col("user_id") * F.lit(100) + F.dayofmonth("ts")).alias("ud"),
    ).distinct()
    exact = keyed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("__e")
    )
    ex_pairs = (
        keyed.select(F.col("event_type").alias("type_a"), "ud")
        .join(
            keyed.select(F.col("event_type").alias("type_b"), "ud"), "ud"
        )
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("double").alias("__ei"))
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("kmv").alias("__ka"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("kmv").alias("__kb"))
    ests = kmv_overlap_estimates(F.col("__ka"), F.col("__kb"), k)
    g = (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select("type_a", "type_b", F.size("__ka").alias("__na"),
                F.size("__kb").alias("__nb"),
                *[v.alias(f"__{name}") for name, v in ests.items()])
        .join(F.broadcast(exact.select(F.col("event_type").alias("type_a"),
                                       F.col("__e").alias("__ea"))), "type_a")
        .join(F.broadcast(exact.select(F.col("event_type").alias("type_b"),
                                       F.col("__e").alias("__eb"))), "type_b")
        .join(F.broadcast(ex_pairs), ["type_a", "type_b"])
    )
    eu = F.col("__ea") + F.col("__eb") - F.col("__ei")

    def _off(est, ex):
        return F.abs(est - ex) / F.greatest(ex, F.lit(1.0)) > 0.15

    bad = (
        _off(F.col("__est_a"), F.col("__ea"))
        | _off(F.col("__est_b"), F.col("__eb"))
        | _off(F.col("__est_union"), eu)
        | (F.abs(F.col("__est_inter") - F.col("__ei"))
           / F.greatest(eu, F.lit(1.0)) > 0.15)
        | (F.col("__est_inter") > F.col("__est_union"))
        | ((F.col("__na") < k) & (F.col("__est_a") != F.col("__ea")))
        | ((F.col("__nb") < k) & (F.col("__est_b") != F.col("__eb")))
        # both sides exact => theta = 1 and the complete (bijective) hash
        # sets intersect exactly, so the intersection estimate is exact too
        | ((F.col("__na") < k) & (F.col("__nb") < k)
           & (F.col("__est_inter") != F.col("__ei")))
    )
    return g.agg(F.sum(bad.cast("int")).cast("long").alias("bad_pairs"))


_QH_LO, _QH_HI, _QH_BINS = 900.0, 105000.0, 128
_QH_QS = [0.25, 0.5, 0.75, 0.95]


def q_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles of l_extendedprice per return flag read from MERGED
    fixed-bin histogram shards (pipeline/sketches.histogram_shards /
    histogram_union / histogram_quantiles) — the third persisted-synopsis
    family member: HLL shards answer distinct counts, KMV shards set
    overlaps, histogram shards DISTRIBUTIONS.  Shard = l_orderkey % 8;
    the merge is an exact elementwise sum, so sharding never changes the
    answer, and the readout interpolates inside the hit bin (error <=
    one bin width, ~813 for this [900, 105000] x 128 grid — the _check
    query pins that bound against exact rank quantiles).  All bin
    arithmetic is plain floor/clamp on doubles, so the ENTIRE pipeline
    has an exact DuckDB oracle — unlike approx_percentile's opaque
    internal summaries, which also cannot be persisted per shard."""
    from tsne_flink_spark.pipeline.sketches import (
        histogram_quantiles,
        histogram_shards,
        histogram_union,
    )

    li = _t(spark, sf_dir, "lineitem")
    shards = histogram_shards(
        li, ["l_returnflag"], "l_extendedprice",
        F.pmod(F.col("l_orderkey"), F.lit(8)),
        _QH_LO, _QH_HI, _QH_BINS,
    )
    merged = histogram_union(shards, ["l_returnflag"], _QH_BINS)
    out = histogram_quantiles(
        merged, ["l_returnflag"], _QH_QS, _QH_LO, _QH_HI, _QH_BINS
    )
    return out.select(
        "l_returnflag", "q", F.round("est", 6).alias("est")
    ).orderBy("l_returnflag", "q")


def q_quantile_hist_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified accuracy bound for the histogram-quantile path (oracle:
    constant zero row): every estimate within ONE BIN WIDTH of the exact
    rank-ceil(q*n) order statistic (both lie in the same bin whenever
    the true quantile is inside [lo, hi], so the bound is structural,
    not statistical), and estimates are monotone in q per group."""
    from pyspark.sql import Window

    from tsne_flink_spark.pipeline.sketches import (
        histogram_quantiles,
        histogram_shards,
        histogram_union,
    )

    li = _t(spark, sf_dir, "lineitem")
    shards = histogram_shards(
        li, ["l_returnflag"], "l_extendedprice",
        F.pmod(F.col("l_orderkey"), F.lit(8)),
        _QH_LO, _QH_HI, _QH_BINS,
    )
    est = histogram_quantiles(
        histogram_union(shards, ["l_returnflag"], _QH_BINS),
        ["l_returnflag"], _QH_QS, _QH_LO, _QH_HI, _QH_BINS,
    )
    wdw = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select(
        "l_returnflag", "l_extendedprice",
        F.row_number().over(wdw).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy("l_returnflag")).alias("__n"),
    )
    qdf = spark.createDataFrame([(float(q),) for q in _QH_QS], "q double")
    exact = (
        ranked.crossJoin(F.broadcast(qdf))
        .where(F.col("__rn") == F.ceil(F.col("q") * F.col("__n")))
        .select("l_returnflag", "q", F.col("l_extendedprice").alias("__ex"))
    )
    binw = (_QH_HI - _QH_LO) / _QH_BINS
    g = est.join(exact, ["l_returnflag", "q"], "full")
    prev = F.lag("est").over(
        Window.partitionBy("l_returnflag").orderBy("q")
    )
    bad = (
        F.col("est").isNull()
        | F.col("__ex").isNull()
        | (F.abs(F.col("est") - F.col("__ex")) > binw + 1e-9)
    )
    mono = g.select(
        "l_returnflag", "q", "est", prev.alias("__p")
    ).where(F.col("__p").isNotNull() & (F.col("est") < F.col("__p")))
    return g.agg(
        F.sum(bad.cast("int")).cast("long").alias("bad_quantiles")
    ).crossJoin(
        F.broadcast(
            mono.agg(
                F.count(F.lit(1)).cast("long").alias("monotonicity_violations")
            )
        )
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column pipeline: synthesize deterministic WAV/PCM payloads,
    decode with the real dependency-free RIFF parser, extract DSP features
    (RMS / zero-crossing rate / 8-band spectral profile) over Arrow
    batches.  Hash-specific synth input -> rows-only; audio_check carries
    the verified invariants."""
    from tsne_flink_spark.pipeline.audio import (
        attach_audio_payload,
        extract_audio_features,
    )

    docs = _t(spark, sf_dir, "documents")
    out = extract_audio_features(attach_audio_payload(docs))
    # band_energy is ARRAY<DOUBLE>(8); flatten to scalar columns so the
    # driver's pandas canonicalizer (which lexsorts cell values) can hash it.
    band_cols = [
        F.round(F.col("band_energy")[k], 6).alias(f"band_{k}") for k in range(8)
    ]
    return out.select(
        "doc_id",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        F.round("zero_crossing_rate", 6).alias("zero_crossing_rate"),
        *band_cols,
    )


def q_audio_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the audio pipeline (oracle: constant zero
    row): one feature row per document, positive duration, RMS and ZCR in
    [0, 1], and an 8-band energy profile that is non-negative, finite, and
    sums to 1 (±1e-9) — or to exactly 0, the kernel's silent/degenerate
    marker (all-zero spectrum never partially normalizes)."""
    from tsne_flink_spark.pipeline.audio import (
        attach_audio_payload,
        extract_audio_features,
    )

    docs = _t(spark, sf_dir, "documents")
    feats = extract_audio_features(attach_audio_payload(docs))
    n_docs = docs.count()
    band_sum = F.aggregate(
        "band_energy", F.lit(0.0), lambda acc, x: acc + x
    )
    in_range = (
        (F.col("duration_s") > 0.0)
        & F.col("rms").between(0.0, 1.0)
        & F.col("zero_crossing_rate").between(0.0, 1.0)
        & (F.size("band_energy") == 8)
        & F.forall("band_energy", lambda x: x.between(0.0, 1.0))
        & ((F.abs(band_sum - 1.0) < 1e-9) | (band_sum == 0.0))
    )
    bad_rows = feats.where(~F.coalesce(in_range, F.lit(False))).agg(
        F.count(F.lit(1)).alias("bad_feature_rows")
    )
    row_delta = feats.agg(
        (F.count(F.lit(1)) - F.lit(n_docs)).cast("long").alias("row_count_delta")
    )
    return bad_rows.crossJoin(row_delta)


def q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile with EXACT percentiles (median/p90 doc
    length, median token count) — the shard-size audit a pipeline runs
    before choosing packing capacities and partition sizes.  Spark's
    `percentile` is the exact interpolated aggregate, bit-matching DuckDB's
    `quantile_cont` (approx_percentile is the sketch alternative at scale,
    traded off here for oracle-exactness)."""
    from tsne_flink_spark.pipeline.text import bpe_ish_token_count

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.length("text").alias("__L"),
        bpe_ish_token_count(F.col("text")).alias("__T"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__T").cast("long").alias("total_tokens"),
            F.round(F.percentile("__L", 0.5), 4).alias("p50_chars"),
            F.round(F.percentile("__L", 0.9), 4).alias("p90_chars"),
            F.round(F.percentile("__T", 0.5), 4).alias("p50_tokens"),
        )
        .orderBy("source")
    )


def q_source_stats_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariant for the sketch percentile path (the actual
    100-TB form of source_stats: `approx_percentile`, whose per-group
    state is O(accuracy), not O(rows)): for every source with >= 20 docs,
    the approx p50/p90 of doc length must land inside the exact
    [p40, p60] / [p80, p100] quantile windows — a >= 4x slack over the
    worst-case rank error (1/accuracy + 1/n at accuracy=10000, n>=20), so
    zero violations is deterministic for fixed data.  Oracle: constant
    zero row (the driver's hash gate IS the invariant check)."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select("source", F.length("text").alias("__L"))
    g = (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.approx_percentile("__L", 0.5, 10000).alias("__a50"),
            F.approx_percentile("__L", 0.9, 10000).alias("__a90"),
            F.percentile("__L", 0.4).alias("__lo50"),
            F.percentile("__L", 0.6).alias("__hi50"),
            F.percentile("__L", 0.8).alias("__lo90"),
            F.max("__L").alias("__hi90"),
        )
        .where(F.col("__n") >= 20)
    )
    bad = (
        (F.col("__a50") < F.col("__lo50"))
        | (F.col("__a50") > F.col("__hi50"))
        | (F.col("__a90") < F.col("__lo90"))
        | (F.col("__a90") > F.col("__hi90"))
    )
    return g.agg(
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("bad_sources")
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pass: every document annotated with the first
    stage that eliminated it (holdout split -> exact dedup -> near-dup
    cluster canonicalization -> decontamination -> quality filter ->
    stratified sampling).  Fully deterministic; the DuckDB oracle recomputes
    the entire staged pipeline in one recursive-CTE query."""
    from tsne_flink_spark.pipeline.curation import curation_pipeline

    docs = _t(spark, sf_dir, "documents")
    # bench mode reuses the shared 2-gram-Jaccard pair graph (threshold
    # 0.5 / shingle 2 — the exact config curation's near-dup stage
    # mines): curation_pipeline restricts it to its own survivor set,
    # which is bit-identical to self-mining (Jaccard is pairwise; see
    # the pairs docstring).  The gate never sets the flag, so the
    # oracle-checked path stays self-contained.
    import os as _os

    pairs = None
    if _os.environ.get("SPARK_GRAFT_SHARED_MINER") == "1":
        pairs = _dup_pair_edges(spark, sf_dir)
    return curation_pipeline(docs, pairs=pairs)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (type-token ratio, top-token
    share, duplicate-2-gram fraction) — a pure narrow map (single aggregate
    fold over the sorted token array, no explode/groupBy shuffle)."""
    from tsne_flink_spark.pipeline.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    out = repetition_stats(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("type_token_ratio", 6).alias("type_token_ratio"),
        F.round("top_token_frac", 6).alias("top_token_frac"),
        F.round("dup_2gram_frac", 6).alias("dup_2gram_frac"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways: whitespace tokens and the BPE-ish sub-word
    count (alnum runs + non-space punctuation chars) — the cheap stand-in a
    training-data pipeline uses when only a budget estimate is needed."""
    from tsne_flink_spark.pipeline.text import bpe_ish_token_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: heuristic prose-likeness in [0,1] plus
    sub-word-ish (BPE stand-in) token counts — all codegen Column math."""
    from tsne_flink_spark.pipeline.text import bpe_ish_token_count, quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(quality_score(F.col("text")), 6).alias("quality"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_subword_tokens"),
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN top-k: k-means-ish coarse quantizer from a
    sample, probe nearest cells only — approximate, rows-only checked."""
    from tsne_flink_spark.pipeline.similarity import ivf_top_k

    emb = _t(spark, sf_dir, "embeddings")
    out = ivf_top_k(emb, emb, k=3)
    return out.select("q", "c", F.round("sim", 6).alias("sim"))


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-k (pipeline/similarity.pq_top_k): corpus compressed
    to m=8 sub-space codes, candidates from n_probe coarse lists,
    ADC-scored against the CODES (the raw embedding never enters the
    candidate join — the ~98% payload cut that matters at corpus
    scale), exact rerank of the per-query shortlist only.  Approximate,
    rows-only; q_ann_pq_check carries the verified invariants and
    BASELINE.md B61/B64 the measured recall (ksub=256 default:
    0.55 @ sf0.1 p8 vs plain IVF's 0.5625 at the same probe budget —
    ADC ranking at near-IVF parity, B64).  shortlist=64 per B69: at a
    fixed candidate payload the deeper rerank shortlist beats raising
    n_probe (the shortlist rerank joins the base table on k ids; the
    probe join carries whole lists)."""
    from tsne_flink_spark.pipeline.similarity import pq_top_k

    emb = _t(spark, sf_dir, "embeddings")
    out = pq_top_k(emb, emb, k=3, n_probe=8, shortlist=64)
    return out.select("q", "c", F.round("sim", 6).alias("sim"))


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts, punctuation ratio, fingerprint."""
    from tsne_flink_spark.pipeline.text import fingerprint, punct_ratio, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_obs"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        fingerprint(F.col("text")).alias("fingerprint"),
    )


def q_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio quality signal (language-ID building block)."""
    from tsne_flink_spark.pipeline.text import stopword_ratio

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(stopword_ratio(F.col("text")), 6).alias("stop_ratio")
    )


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (heuristic; deterministic)."""
    from tsne_flink_spark.pipeline.text import language_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id(F.col("text")).alias("lang_pred"))


def q_language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language ID (Cavnar-Trenkle style trigram profiles
    derived from the shared lexicon constant) — the sub-word complement to
    the stopword vote; exact DuckDB oracle generated from the same
    profiles."""
    from tsne_flink_spark.pipeline.text import language_id_ngram

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", language_id_ngram(F.col("text")).alias("lang_pred")
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep lowest doc_id per normalized-text fingerprint."""
    from tsne_flink_spark.pipeline.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "lang", "source")


_LICENSE_FOOTER = (
    "this dataset is licensed under the creative commons attribution "
    "share alike four point zero international license"
)


def q_exact_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022, pipeline/substr.py): cut every
    8-token span occurring >= 2 times corpus-wide.  Documents are augmented
    with a shared 16-token license footer on doc_id % 3 == 0 (the text
    payload-synthesis convention, as in the scrub gate queries) so span
    removal is actually exercised.  Fully deterministic -> exact DuckDB
    oracle (gaps-and-islands span merge)."""
    from tsne_flink_spark.pipeline.substr import exact_substring_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" " + _LICENSE_FOOTER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = exact_substring_dedup(docs, l=8)
    return out.select("doc_id", "text", "n_dup_spans", "tokens_removed")


def q_approx_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariant for approximate quantiles (oracle: constant zero
    row): every `percentile_approx` output at accuracy A must have a rank
    INTERVAL [count(< v) + 1, count(<= v)] intersecting the GK tolerance
    window [q*N - (N/A + 1), q*N + (N/A + 1)] (epsilon = 1/A).  Testing a
    single rank (e.g. count(<= v)) against the window is WRONG on
    tie-heavy columns: a correct sketch value whose tie run extends past
    the tolerance would falsely fail.  The exact rank interval is
    recomputed from scratch in the same query."""
    li = _t(spark, sf_dir, "lineitem")
    acc = 1000
    qs = [0.25, 0.5, 0.75, 0.95]
    approx = li.agg(
        F.percentile_approx("l_extendedprice", qs, acc).alias("p"),
    ).first()["p"]
    ranks = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum((F.col("l_extendedprice") <= F.lit(float(v))).cast("long"))
            .alias(f"le{i}")
            for i, v in enumerate(approx)
        ],
        *[
            F.sum((F.col("l_extendedprice") < F.lit(float(v))).cast("long"))
            .alias(f"lt{i}")
            for i, v in enumerate(approx)
        ],
    )
    tol = F.col("n") / F.lit(acc) + F.lit(1.0)
    bad = [
        (
            ~(
                (F.col(f"lt{i}") < F.lit(q) * F.col("n") + tol)
                & (F.col(f"le{i}") > F.lit(q) * F.col("n") - tol)
            )
        ).cast("long")
        for i, q in enumerate(qs)
    ]
    total = bad[0]
    for b in bad[1:]:
        total = total + b
    return ranks.select(total.alias("rank_bound_violations"))


def q_projection_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for dimensionality reduction (pipeline/
    project.py; oracle: constant zero row).  PCA: one row out per row in,
    orthonormal components, explained variance sorted/non-negative, and
    the projected per-component variance equal to its eigenvalue (the
    exact-PCA identity, recomputed from the transform).  Random
    projection: row count, finiteness, and the JL norm-preservation ratio
    within a concentration band (k*d = 1024 effective dof here)."""
    import numpy as np

    from tsne_flink_spark.pipeline.project import (
        pca_fit,
        pca_transform,
        random_projection,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    n_in = emb.count()
    k = 8
    model = pca_fit(emb, k=k)
    C = model["components"]
    ev = model["explained_variance"]
    ortho_bad = int(np.abs(C.T @ C - np.eye(k)).max() > 1e-8)
    order_bad = int(not (np.all(np.diff(ev) <= 1e-9) and np.all(ev >= -1e-12)))

    proj_agg = pca_transform(emb, model).agg(
        (F.count(F.lit(1)) - F.lit(n_in)).cast("long").alias("pca_row_delta"),
        *[
            F.avg(F.col("embedding")[j] * F.col("embedding")[j]).alias(f"v{j}")
            for j in range(k)
        ],
    )
    var_bad = None
    for j in range(k):
        scale = max(float(ev[j]), 1e-12)
        b = (F.abs(F.col(f"v{j}") - F.lit(float(ev[j]))) > F.lit(1e-6 * scale)
             ).cast("long")
        var_bad = b if var_bad is None else var_bad + b
    pca_row = proj_agg.select(
        "pca_row_delta", var_bad.alias("pca_variance_mismatches")
    )

    sq = F.aggregate(
        F.transform("embedding", lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    orig_ss = float(emb.agg(F.sum(sq).alias("s")).first()["s"])
    rp_agg = random_projection(emb, k=16, seed=7).agg(
        (F.count(F.lit(1)) - F.lit(n_in)).cast("long").alias("rp_row_delta"),
        F.sum(
            (~F.forall("embedding", lambda x: F.abs(x) < F.lit(1e12)))
            .cast("long")
        ).alias("rp_nonfinite_rows"),
        F.sum(sq).alias("rp_ss"),
    ).select(
        "rp_row_delta",
        "rp_nonfinite_rows",
        (~(F.col("rp_ss") / F.lit(orig_ss)).between(0.7, 1.4)).cast("long")
        .alias("rp_norm_ratio_violation"),
    )
    return pca_row.crossJoin(rp_agg).select(
        "pca_row_delta",
        "pca_variance_mismatches",
        F.lit(ortho_bad).cast("long").alias("pca_orthonormality_violation"),
        F.lit(order_bad).cast("long").alias("pca_variance_order_violation"),
        "rp_row_delta",
        "rp_nonfinite_rows",
        "rp_norm_ratio_violation",
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for RAG/context prep (pipeline/curation.
    chunk_documents): 16-token windows every 8 tokens, ragged tail kept.
    Pure Column expressions; exact DuckDB oracle."""
    from tsne_flink_spark.pipeline.curation import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, window=16, stride=8).select(
        "doc_id", "chunk_id", "n_tokens", "chunk_text"
    )


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer trained on the corpus (pipeline/bpe.py: one Spark
    word-count pass + driver merge loop over the capped word table) and
    applied as a broadcast merge table.  Deterministic (lexicographic tie
    break), so it carries an EXACT DuckDB oracle: the full train+apply
    unrolled into 64 SQL stages (_bpe_oracle_sql), plus q_bpe_check's
    round-trip invariants."""
    from tsne_flink_spark.pipeline.bpe import (
        bpe_tokenize,
        train_bpe,
        word_frequencies,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(word_frequencies(docs), n_merges=64)
    return bpe_tokenize(docs, merges).select(
        "doc_id", "n_words", "n_tokens", "tokens_preview"
    )


def q_bpe_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the BPE pipeline (oracle: constant zero
    row): detokenizing every document reproduces its whitespace-normalized
    lowercase text exactly; token counts sit in the provable
    [n_words, n_chars + n_words] band; one output row per input."""
    from tsne_flink_spark.pipeline.bpe import (
        bpe_tokenize,
        train_bpe,
        word_frequencies,
    )

    docs = _t(spark, sf_dir, "documents")
    n_in = docs.count()
    merges = train_bpe(word_frequencies(docs), n_merges=64)
    out = bpe_tokenize(docs, merges, with_detok=True)
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    joined = out.join(docs.select("doc_id", norm.alias("__norm")), "doc_id")
    chars = F.length(F.regexp_replace(F.col("__norm"), " ", ""))
    return joined.agg(
        (F.count(F.lit(1)) - F.lit(n_in)).cast("long").alias("row_count_delta"),
        F.sum((F.col("detok") != F.col("__norm")).cast("long")).alias(
            "detok_mismatches"
        ),
        F.sum(
            (
                (F.col("n_tokens") < F.col("n_words"))
                | (F.col("n_tokens") > chars + F.col("n_words"))
            ).cast("long")
        ).alias("token_bound_violations"),
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM perplexity per document (pipeline/lm.py,
    the CCNet quality signal with the LM fit on the corpus itself —
    deterministic, exact DuckDB oracle).  Perplexity is derived from the
    ROUNDED avg logprob on both sides: exp() amplifies last-bit float-sum
    differences past the hash comparator's rounding granularity."""
    from tsne_flink_spark.pipeline.lm import ngram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    out = ngram_lm_scores(docs)
    alp = F.round("avg_logprob", 6)
    return out.select(
        "doc_id",
        "n_tokens",
        alp.alias("avg_logprob"),
        F.round(F.exp(-alp), 4).alias("perplexity"),
    )


def q_lm_perplexity_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated bigram perplexity (pipeline/lm.py,
    interpolation=0.7): rare continuations judged against the add-k
    unigram base instead of a uniform k-mass — the standard smoothing
    upgrade over the pure add-k variant (q_lm_perplexity).  Exact DuckDB
    oracle; same rounded-avg-logprob derivation convention."""
    from tsne_flink_spark.pipeline.lm import ngram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    out = ngram_lm_scores(docs, interpolation=0.7)
    alp = F.round("avg_logprob", 6)
    return out.select(
        "doc_id",
        "n_tokens",
        alp.alias("avg_logprob"),
        F.round(F.exp(-alp), 4).alias("perplexity"),
    )


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked-retrieval scores (pipeline/tfidf.py, Robertson/Sparck
    Jones with the Lucene idf) for a fixed 3-term query over every
    matching document.  Exact DuckDB oracle; ranking itself is covered by
    unit tests against a pure-python reference (cross-engine float
    last-bit noise makes rank order a bad hash surface, score values a
    good one)."""
    from tsne_flink_spark.pipeline.tfidf import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    out = bm25_scores(docs, ["join", "window", "stream"])
    return out.select("doc_id", F.round("score", 6).alias("score"))


def q_corpus_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus sharding (sources/shard.py): seeded md5 global
    shuffle via the parallel JVM-side dense rank (B15), round-robin into 8
    shards.  Pure hash arithmetic -> exact DuckDB oracle."""
    from tsne_flink_spark.sources.shard import shard_assignments

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = shard_assignments(docs, n_shards=8, seed=42)
    return out.select("doc_id", "shard", "rank_in_shard")


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dedup (shingle->minhash->band->bucket-join) —
    hash-function-specific, rows-only checked; survivors listed."""
    from tsne_flink_spark.pipeline.dedup import minhash_lsh_dedup

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_dedup(docs, threshold=0.8).select("doc_id").orderBy("doc_id")


def q_minhash_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the MinHash dedup (deterministic, oracle the
    constant (0, 0) row): soundness — every killed doc has a lower-id doc
    with exact shingle-Jaccard >= threshold, recomputed from scratch;
    completeness — no surviving pair both band-collides and exceeds the
    exact threshold.  See pipeline/dedup.py invariant-check section."""
    from tsne_flink_spark.pipeline.dedup import minhash_dedup_invariants

    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup_invariants(docs, threshold=0.8)


def q_simhash_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the SimHash dedup: exact Hamming distances
    recomputed from scratch; oracle is the constant (0, 0) row."""
    from tsne_flink_spark.pipeline.dedup import simhash_dedup_invariants

    docs = _t(spark, sf_dir, "documents")
    return simhash_dedup_invariants(docs)


def q_embedding_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the embedding-cosine dedup: exact cosines
    recomputed from the vectors; oracle is the constant (0, 0) row."""
    from tsne_flink_spark.pipeline.dedup import embedding_dedup_invariants

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_dedup_invariants(emb, threshold=0.98)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-duplicate pair mining: every pair with 2-gram Jaccard >=
    0.5 (lossless shared-shingle candidates + AllPairs prefix filtering, no
    LSH recall loss) — deterministic, DuckDB-oracle-backed."""
    out = _dup_pair_edges(spark, sf_dir)
    return out.select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("a", "b")


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dedup (banded 64-bit fingerprints, Hamming <= 3)."""
    from tsne_flink_spark.pipeline.dedup import simhash_dedup

    docs = _t(spark, sf_dir, "documents")
    return simhash_dedup(docs).select("doc_id").orderBy("doc_id")


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dedup via hyperplane LSH buckets."""
    from tsne_flink_spark.pipeline.dedup import embedding_cosine_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_dedup(emb, threshold=0.98).select("vec_id").orderBy(
        "vec_id"
    )


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k similarity search (baseline for ANN)."""
    from tsne_flink_spark.pipeline.similarity import brute_force_top_k

    emb = _t(spark, sf_dir, "embeddings")
    out = brute_force_top_k(emb, emb, k=3)
    return out.select("q", "c", F.round("sim", 6).alias("sim"))


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN (approximate — rows-only)."""
    from tsne_flink_spark.pipeline.similarity import lsh_top_k

    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_top_k(emb, emb, k=3)
    return out.select("q", "c", F.round("sim", 6).alias("sim"))


def q_multimodal_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the multimodal pipeline (oracle: constant
    zero row): one feature row per document, every decoded channel mean in
    [0, 255], std finite and non-negative, and the 16-dim block-mean
    feature vector in [0, 1]."""
    from tsne_flink_spark.pipeline.multimodal import (
        attach_binary_payload,
        extract_image_features,
    )

    docs = _t(spark, sf_dir, "documents")
    feats = extract_image_features(attach_binary_payload(docs))
    n_docs = docs.count()
    in_range = (
        F.col("mean_r").between(0.0, 255.0)
        & F.col("mean_g").between(0.0, 255.0)
        & F.col("mean_b").between(0.0, 255.0)
        & (F.col("std_gray") >= 0.0)
        & ~F.isnan("std_gray")
        & (F.size("features") == 16)
        & F.forall("features", lambda x: x.between(0.0, 1.0))
    )
    # NULL-safe: a NULL anywhere makes in_range NULL, which a bare
    # where(~in_range) would silently drop — exactly the rows this check
    # exists to catch
    bad_rows = feats.where(~F.coalesce(in_range, F.lit(False))).agg(
        F.count(F.lit(1)).alias("bad_feature_rows")
    )
    row_delta = feats.agg(
        (F.count(F.lit(1)) - F.lit(n_docs)).cast("long").alias("row_count_delta")
    )
    return bad_rows.crossJoin(row_delta)


def q_tsne_embedding_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the flagship t-SNE (oracle: constant zero
    row): exactly one finite 2-D output row per input point, zero-mean per
    component (the loop ends with center_embedding; tolerance 1e-6)."""
    from tsne_flink_spark.tsne import TSNE

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("int").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    n_in = emb.count()
    model = TSNE(
        perplexity=10.0, iterations=20, theta=0.5, knn_method="partition",
        neighbors=15, random_state=0, bh_condition="scaled",
    )
    out = model.fit(points=emb).select(
        "id", F.col("y")[0].alias("y0"), F.col("y")[1].alias("y1")
    )
    # NULL-safe: NULL coordinates count as non-finite rather than making
    # the predicate NULL (which F.sum would silently skip)
    bad = F.coalesce(
        F.isnan("y0") | F.isnan("y1")
        | (F.abs("y0") > F.lit(1e12)) | (F.abs("y1") > F.lit(1e12)),
        F.lit(True),
    )
    agg = out.agg(
        (F.count(F.lit(1)) - F.lit(n_in)).cast("long").alias("row_count_delta"),
        F.sum(bad.cast("long")).alias("nonfinite_rows"),
        (F.abs(F.avg("y0")) > 1e-6).cast("long").alias("uncentered_y0"),
        (F.abs(F.avg("y1")) > 1e-6).cast("long").alias("uncentered_y1"),
        (F.count_distinct(F.col("id")) - F.lit(n_in)).cast("long").alias(
            "dup_id_delta"
        ),
    )
    return agg


def q_ann_lsh_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the LSH ANN (oracle: constant zero row) —
    reported sims must equal exact cosines, <= k per query, no self/dup
    rows.  See pipeline/similarity.topk_invariants."""
    from tsne_flink_spark.pipeline.similarity import lsh_top_k, topk_invariants

    emb = _t(spark, sf_dir, "embeddings")
    return topk_invariants(lsh_top_k(emb, emb, k=3), emb, k=3)


def q_ann_ivf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the IVF ANN (oracle: constant zero row)."""
    from tsne_flink_spark.pipeline.similarity import ivf_top_k, topk_invariants

    emb = _t(spark, sf_dir, "embeddings")
    return topk_invariants(ivf_top_k(emb, emb, k=3), emb, k=3)


def _ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared plumbing for the ann_ivf_persisted pair: build the IVF
    index (centroids + per-vector list/vec/norm), WRITE both halves to a
    parquet store, read them back in fresh DataFrames, and serve top-k
    from the roundtripped artifact — the build-once / query-many
    lifecycle a 100-TB corpus needs (re-training per query batch would
    rescan the corpus every time)."""
    import tempfile

    from tsne_flink_spark.pipeline.similarity import (
        build_ivf_index,
        ivf_query_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    centroids_df, index_df = build_ivf_index(emb)
    store = tempfile.mkdtemp(prefix="ivf_index_")
    centroids_df.write.mode("overwrite").parquet(f"{store}/centroids")
    index_df.write.mode("overwrite").parquet(f"{store}/index")
    return ivf_query_index(
        emb,
        spark.read.parquet(f"{store}/centroids"),
        spark.read.parquet(f"{store}/index"),
        k=3,
    )


def q_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN served from a PERSISTED index (pipeline/similarity.
    build_ivf_index → parquet → ivf_query_index): identical math to
    ann_ivf, different lifecycle — the coarse centroids and the encoded
    corpus (list id + vector + norm per row) survive as plain parquet
    tables and queries re-join them without re-training or re-encoding.
    Approximate, rows-only; the _check pins bit-exact equality with the
    one-shot ivf_top_k."""
    out = _ivf_persisted_topk(spark, sf_dir)
    return out.select("q", "c", F.round("sim", 6).alias("sim"))


def q_ann_ivf_persisted_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariant for the persisted IVF lifecycle (oracle:
    constant zero row): serving from the parquet-roundtripped index must
    reproduce the one-shot ivf_top_k EXACTLY — bit-equal sims, zero
    extra/missing rows in either direction (array<double> is lossless
    through parquet and the serving join recomputes nothing).  Compared
    via a 1:1 full outer join on (q, c) — exceptAll trips an internal
    Catalyst rewrite bug (ATTRIBUTE_NOT_FOUND) over these windowed
    subplans on Spark 4.1."""
    from tsne_flink_spark.pipeline.similarity import ivf_top_k

    served = _ivf_persisted_topk(spark, sf_dir).select(
        F.col("q").alias("__sq"), F.col("c").alias("__sc"),
        F.col("sim").alias("__ss"),
    )
    emb = _t(spark, sf_dir, "embeddings")
    direct = ivf_top_k(emb, emb, k=3).select(
        F.col("q").alias("__dq"), F.col("c").alias("__dc"),
        F.col("sim").alias("__ds"),
    )
    j = served.join(
        direct,
        (F.col("__sq") == F.col("__dq")) & (F.col("__sc") == F.col("__dc")),
        "full",
    )
    bad = (
        F.col("__sq").isNull()
        | F.col("__dq").isNull()
        | ~F.col("__ss").eqNullSafe(F.col("__ds"))
    )
    return j.agg(
        F.sum(bad.cast("int")).cast("long").alias("mismatched_rows")
    )


def _pq_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared plumbing for the ann_pq_persisted pair: train the IVF-PQ
    model and encode the corpus ONCE (pipeline/similarity.build_pq_index),
    WRITE the model (coarse centroids + residual codebooks) and the
    ~20 B/vector coded corpus to a parquet store, read both back fresh,
    and serve top-k from the roundtripped artifact — at 100 TB the
    encode pass is the expensive scan, so persisting it is what makes
    repeated query batches affordable."""
    import tempfile

    from tsne_flink_spark.pipeline.similarity import (
        build_pq_index,
        pq_query_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    model_df, codes_df = build_pq_index(emb, ksub=64)
    store = tempfile.mkdtemp(prefix="pq_index_")
    model_df.write.mode("overwrite").parquet(f"{store}/model")
    codes_df.write.mode("overwrite").parquet(f"{store}/codes")
    return pq_query_index(
        emb,
        spark.read.parquet(f"{store}/model"),
        spark.read.parquet(f"{store}/codes"),
        emb,
        k=3,
        n_probe=8,
        shortlist=32,
    )


def q_ann_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN served from a PERSISTED index (build_pq_index →
    parquet → pq_query_index): identical math to ann_pq, different
    lifecycle — train + encode once, serve later query batches from the
    stored model + coded corpus without rescanning raw vectors (the
    exact rerank joins the base embeddings table, which a pipeline
    already persists).  Approximate, rows-only; the _check pins
    bit-exact equality with the one-shot pq_top_k."""
    out = _pq_persisted_topk(spark, sf_dir)
    return out.select("q", "c", F.round("sim", 6).alias("sim"))


def q_ann_pq_persisted_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariant for the persisted IVF-PQ lifecycle (oracle:
    constant zero row): serving from the parquet-roundtripped index must
    reproduce the one-shot pq_top_k EXACTLY — same seed ⇒ same model,
    and floats/packed-uint8 codes are lossless through parquet.
    Compared via a 1:1 full outer join on (q, c) (exceptAll trips an
    internal Catalyst rewrite bug over these windowed subplans on
    Spark 4.1 — see ann_ivf_persisted_check)."""
    from tsne_flink_spark.pipeline.similarity import pq_top_k

    served = _pq_persisted_topk(spark, sf_dir).select(
        F.col("q").alias("__sq"), F.col("c").alias("__sc"),
        F.col("sim").alias("__ss"),
    )
    emb = _t(spark, sf_dir, "embeddings")
    direct = pq_top_k(
        emb, emb, k=3, ksub=64, n_probe=8, shortlist=32
    ).select(
        F.col("q").alias("__dq"), F.col("c").alias("__dc"),
        F.col("sim").alias("__ds"),
    )
    j = served.join(
        direct,
        (F.col("__sq") == F.col("__dq")) & (F.col("__sc") == F.col("__dc")),
        "full",
    )
    bad = (
        F.col("__sq").isNull()
        | F.col("__dq").isNull()
        | ~F.col("__ss").eqNullSafe(F.col("__ds"))
    )
    return j.agg(
        F.sum(bad.cast("int")).cast("long").alias("mismatched_rows")
    )


def q_ann_pq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the IVF-PQ ANN (oracle: constant zero
    row) — rerank sims must equal exact cosines (the PQ approximation
    may only ever cost recall, never score fidelity), <= k per query,
    no self/dup rows.  See pipeline/similarity.topk_invariants."""
    from tsne_flink_spark.pipeline.similarity import pq_top_k, topk_invariants

    emb = _t(spark, sf_dir, "embeddings")
    return topk_invariants(
        pq_top_k(emb, emb, k=3, ksub=64, n_probe=8, shortlist=64), emb, k=3
    )


def _ivf_appended_store(spark: SparkSession, sf_dir: str):
    """Shared plumbing for the ann_ivf_appended pair: the FULL
    incremental-ingest lifecycle of the persisted IVF index —
    build the index on an 80% base corpus (vec_id % 5 != 0), persist
    both halves to a parquet store, APPEND the remaining 20% batch via
    pipeline/similarity.append_to_ivf_index (frozen coarse quantizer,
    new parquet files under the same index dir — the old corpus is
    never re-encoded), and hand back everything the serving + check
    queries need.  This is the ingestion pattern B83 probed (recall
    0.996 appended vs 0.994 fresh-rebuild at a 20% batch): at 100 TB
    the append encodes ONLY the new batch, while a rebuild would rescan
    and re-encode the whole corpus."""
    import tempfile

    from tsne_flink_spark.pipeline.similarity import (
        append_to_ivf_index,
        build_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.where(F.pmod(F.col("vec_id"), F.lit(5)) != 0)
    batch = emb.where(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
    centroids_df, index_df = build_ivf_index(base)
    store = tempfile.mkdtemp(prefix="ivf_append_")
    centroids_df.write.mode("overwrite").parquet(f"{store}/centroids")
    index_df.write.mode("overwrite").parquet(f"{store}/index")
    cent = spark.read.parquet(f"{store}/centroids")
    # the append: encode ONLY the new batch, against the stored quantizer
    append_to_ivf_index(cent, batch).write.mode("append").parquet(
        f"{store}/index"
    )
    combined = spark.read.parquet(f"{store}/index")
    return emb, batch, cent, combined


def q_ann_ivf_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN served from a persisted index GROWN BY APPEND
    (build_ivf_index on an 80% base -> parquet -> append_to_ivf_index
    for the 20% batch -> ivf_query_index over the combined store): the
    end-to-end incremental-ingest lifecycle — new vectors enter the
    served index without re-training the quantizer or re-encoding the
    old corpus.  Approximate (quantizer-trained-on-base), rows-only;
    the _check pins the frozen-quantizer exactness contract, appended
    retrievability, the staleness audit, and a recall floor."""
    from tsne_flink_spark.pipeline.similarity import ivf_query_index

    emb, _, cent, combined = _ivf_appended_store(spark, sf_dir)
    out = ivf_query_index(emb, cent, combined, k=3, n_probe=8)
    return out.select("q", "c", F.round("sim", 6).alias("sim"))


def q_ann_ivf_appended_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the IVF append lifecycle (oracle:
    constant zero row):

    1. frozen-quantizer exactness — serving from the appended store is
       BIT-EQUAL to serving from a one-shot encode of the full corpus
       against the same stored centroids (append is per-row assignment,
       so append(base) ∪ append(batch) == encode(base ∪ batch); the
       only approximation is the quantizer itself, which both sides
       share) — mismatched_rows;
    2. completeness — the combined index has exactly one row per corpus
       vector (index_row_delta, dup_id_delta) and EVERY appended-batch
       id is present (missing_appended: the r12 failure mode where new
       vectors silently never enter the served index);
    3. staleness audit — ivf_index_staleness over the combined store
       accounts for every vector and every list (audit_vec_delta,
       audit_list_delta);
    4. recall floor — served top-3 (n_probe=8) vs exact brute-force
       cosine top-3 over the full corpus >= 0.60 (measured ~0.75-0.77 at
       sf0.001/sf0.01; the floor only catches a broken lifecycle, not
       statistical drift — recall here is n_probe/n_lists-bound at this
       tiny corpus, while B83's 0.996 was the append-vs-rebuild GAP
       probe at scale) — low_recall."""
    from tsne_flink_spark.pipeline.similarity import (
        append_to_ivf_index,
        brute_force_top_k,
        ivf_index_staleness,
        ivf_query_index,
    )

    emb, batch, cent, combined = _ivf_appended_store(spark, sf_dir)
    n_emb = emb.count()
    n_cent = cent.count()

    served = ivf_query_index(emb, cent, combined, k=3, n_probe=8)
    from tsne_flink_spark.operators.optimize import materialize

    served = materialize(served)  # referenced by (1) and (4)

    # (1) one-shot full encode against the SAME stored quantizer
    full = ivf_query_index(
        emb, cent, append_to_ivf_index(cent, emb), k=3, n_probe=8
    ).select(
        F.col("q").alias("__dq"), F.col("c").alias("__dc"),
        F.col("sim").alias("__ds"),
    )
    j = served.join(
        full,
        (F.col("q") == F.col("__dq")) & (F.col("c") == F.col("__dc")),
        "full",
    )
    bad = (
        F.col("q").isNull()
        | F.col("__dq").isNull()
        | ~F.col("sim").eqNullSafe(F.col("__ds"))
    )
    mismatched = j.agg(
        F.sum(bad.cast("int")).cast("long").alias("mismatched_rows")
    )

    # (2) completeness of the combined store
    counts = combined.agg(
        (F.count(F.lit(1)) - F.lit(n_emb)).cast("long").alias(
            "index_row_delta"
        ),
        (F.count_distinct("vec_id") - F.lit(n_emb)).cast("long").alias(
            "dup_id_delta"
        ),
    )
    missing = (
        batch.select("vec_id")
        .join(combined.select("vec_id"), "vec_id", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("missing_appended"))
    )

    # (3) staleness audit accounts for everything
    audit = ivf_index_staleness(cent, combined).select(
        (F.col("n_vectors") - F.lit(n_emb)).cast("long").alias(
            "audit_vec_delta"
        ),
        (F.col("n_lists") - F.lit(n_cent)).cast("long").alias(
            "audit_list_delta"
        ),
    )

    # (4) recall floor vs exact top-3
    exact = brute_force_top_k(emb, emb, k=3).select(
        F.col("q").alias("__eq"), F.col("c").alias("__ec")
    )
    hits = served.join(
        exact,
        (F.col("q") == F.col("__eq")) & (F.col("c") == F.col("__ec")),
        "inner",
    ).count()
    total = exact.count()
    recall_row = spark.range(1).select(
        (F.lit(hits / max(total, 1)) < F.lit(0.60))
        .cast("long")
        .alias("low_recall")
    )

    return (
        mismatched.crossJoin(counts)
        .crossJoin(missing)
        .crossJoin(audit)
        .crossJoin(recall_row)
    )


def _streaming_ivf_store(spark: SparkSession, sf_dir: str):
    """Shared plumbing for the streaming_ann_ingest pair: the STREAMING
    half of the persisted-IVF ingest lifecycle — build the index on an
    80% base corpus, persist centroids + index, then replay the
    remaining 20% batch as a FILE STREAM (2 files, maxFilesPerTrigger=1
    + availableNow = 2 micro-batches) whose foreachBatch appends each
    micro-batch's rows to the index store via append_to_ivf_index
    (frozen coarse quantizer; ONLY the arriving batch is encoded, the
    store grows by parquet append).  Because append is per-row against
    frozen centroids, streaming ingestion commutes with batching:
    ingest(b1) ∪ ingest(b2) == append(b1 ∪ b2) == a one-shot encode
    with the same quantizer — which the check pins bit-exactly.  At
    100 TB this IS the production shape: embeddings arrive continuously
    and enter the served index with no re-train, no re-encode, and no
    rescans of the existing corpus."""
    import os
    import tempfile

    from tsne_flink_spark.pipeline.similarity import (
        append_to_ivf_index,
        build_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.where(F.pmod(F.col("vec_id"), F.lit(5)) != 0)
    batch = emb.where(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
    centroids_df, index_df = build_ivf_index(base)
    store = tempfile.mkdtemp(prefix="ivf_stream_")
    src = tempfile.mkdtemp(prefix="ivf_stream_src_")
    ckpt = tempfile.mkdtemp(prefix="ivf_stream_ckpt_")
    centroids_df.write.mode("overwrite").parquet(f"{store}/centroids")
    index_df.write.mode("overwrite").parquet(f"{store}/index")
    cent = spark.read.parquet(f"{store}/centroids")
    # exactly 2 files -> 2 micro-batches of newly-arriving vectors
    batch.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def ingest(bdf: DataFrame, batch_id: int) -> None:
        append_to_ivf_index(cent, bdf).write.mode("append").parquet(
            f"{store}/index"
        )

    with _stream_parts(spark):
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    n_batches = len(
        [f for f in os.listdir(os.path.join(ckpt, "commits"))
         if not f.startswith(".")]
    )
    combined = spark.read.parquet(f"{store}/index")
    return emb, batch, cent, combined, n_batches


def q_streaming_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN served from a persisted index grown by STRUCTURED
    STREAMING ingest (build_ivf_index on an 80% base -> parquet ->
    foreachBatch append_to_ivf_index per arriving micro-batch ->
    ivf_query_index over the combined store): the live-ingest end of
    the lifecycle the ann_ivf_appended pair gates in batch form.
    Approximate (quantizer-trained-on-base), rows-only; the _check pins
    streaming==one-shot bit-equality under the frozen quantizer,
    completeness of the grown store, and the 2-micro-batch delivery."""
    from tsne_flink_spark.pipeline.similarity import ivf_query_index

    emb, _batch, cent, combined, n_batches = _streaming_ivf_store(
        spark, sf_dir
    )
    out = ivf_query_index(emb, cent, combined, k=3, n_probe=8)
    return out.select(
        "q",
        "c",
        F.round("sim", 6).alias("sim"),
        F.lit(n_batches).cast("long").alias("n_batches"),
    )


def q_streaming_ann_ingest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the streaming IVF ingest (oracle:
    constant zero row):

    1. streaming==one-shot — serving from the stream-grown store is
       BIT-EQUAL to serving from a one-shot encode of the full corpus
       against the same stored centroids (per-row frozen-quantizer
       assignment commutes with any batching of the input) —
       mismatched_rows;
    2. completeness — exactly one index row per corpus vector
       (index_row_delta, dup_id_delta) and every streamed vector is
       retrievable from the store (missing_streamed: the silent-loss
       failure mode where arriving vectors never enter the served
       index);
    3. delivery — the checkpoint commit log records exactly 2
       micro-batches (batch_delta)."""
    from tsne_flink_spark.operators.optimize import materialize
    from tsne_flink_spark.pipeline.similarity import (
        append_to_ivf_index,
        ivf_query_index,
    )

    emb, batch, cent, combined, n_batches = _streaming_ivf_store(
        spark, sf_dir
    )
    n_emb = emb.count()

    served = materialize(ivf_query_index(emb, cent, combined, k=3, n_probe=8))
    full = ivf_query_index(
        emb, cent, append_to_ivf_index(cent, emb), k=3, n_probe=8
    ).select(
        F.col("q").alias("__dq"), F.col("c").alias("__dc"),
        F.col("sim").alias("__ds"),
    )
    j = served.join(
        full,
        (F.col("q") == F.col("__dq")) & (F.col("c") == F.col("__dc")),
        "full",
    )
    bad = (
        F.col("q").isNull()
        | F.col("__dq").isNull()
        | ~F.col("sim").eqNullSafe(F.col("__ds"))
    )
    mismatched = j.agg(
        F.sum(bad.cast("int")).cast("long").alias("mismatched_rows")
    )
    counts = combined.agg(
        (F.count(F.lit(1)) - F.lit(n_emb)).cast("long").alias(
            "index_row_delta"
        ),
        (F.count_distinct("vec_id") - F.lit(n_emb)).cast("long").alias(
            "dup_id_delta"
        ),
    )
    missing = (
        batch.select("vec_id")
        .join(combined.select("vec_id"), "vec_id", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("missing_streamed"))
    )
    batch_row = spark.range(1).select(
        (F.lit(n_batches) - F.lit(2)).cast("long").alias("batch_delta")
    )
    return mismatched.crossJoin(counts).crossJoin(missing).crossJoin(batch_row)


def _pq_appended_store(spark: SparkSession, sf_dir: str):
    """Shared plumbing for the ann_pq_appended pair: the PQ mirror of
    :func:`_ivf_appended_store` — train the IVF-PQ model and encode an
    80% base corpus (build_pq_index, ksub=64), persist model + codes to
    a parquet store, APPEND the remaining 20% batch's codes via
    pipeline/similarity.append_to_pq_index (frozen coarse quantizer AND
    frozen residual codebooks; only the new batch is encoded), and hand
    back what serving + check need.  At 100 TB the encode pass is the
    dominant full-corpus scan (B73/B83) — appending encodes only the
    batch."""
    import tempfile

    from tsne_flink_spark.pipeline.similarity import (
        append_to_pq_index,
        build_pq_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.where(F.pmod(F.col("vec_id"), F.lit(5)) != 0)
    batch = emb.where(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
    model_df, codes_df = build_pq_index(base, ksub=64)
    store = tempfile.mkdtemp(prefix="pq_append_")
    model_df.write.mode("overwrite").parquet(f"{store}/model")
    codes_df.write.mode("overwrite").parquet(f"{store}/codes")
    model = spark.read.parquet(f"{store}/model")
    append_to_pq_index(model, batch).write.mode("append").parquet(
        f"{store}/codes"
    )
    combined = spark.read.parquet(f"{store}/codes")
    return emb, batch, model, combined


def q_ann_pq_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN served from a persisted index GROWN BY APPEND
    (build_pq_index on an 80% base -> parquet -> append_to_pq_index for
    the 20% batch -> pq_query_index over the combined code store): the
    PQ mirror of ann_ivf_appended — new vectors enter the served index
    with no model re-train and no re-encode of the old corpus.
    Approximate, rows-only; the _check pins the frozen-model exactness
    contract, appended retrievability, staleness-audit accounting, and
    a recall floor."""
    from tsne_flink_spark.pipeline.similarity import pq_query_index

    emb, _, model, combined = _pq_appended_store(spark, sf_dir)
    out = pq_query_index(
        emb, model, combined, emb, k=3, n_probe=8, shortlist=64
    )
    return out.select("q", "c", F.round("sim", 6).alias("sim"))


def q_ann_pq_appended_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the PQ append lifecycle (oracle: constant
    zero row) — the ann_ivf_appended_check contract on the PQ path:

    1. frozen-model exactness — serving from the appended code store is
       BIT-EQUAL to serving from a one-shot encode of the full corpus
       against the same stored model (encoding is per-row and
       deterministic given the model) — mismatched_rows;
    2. completeness — one code row per corpus vector, every appended id
       present (index_row_delta, dup_id_delta, missing_appended);
    3. staleness audit — ivf_index_staleness over the combined codes
       accounts for every vector (audit_vec_delta);
    4. recall floor — served top-3 (n_probe=8, shortlist=64) vs exact
       brute-force cosine top-3 >= 0.50 (PQ trades score fidelity in
       the shortlist stage for the ~20 B/vector payload; floor only
       catches a broken lifecycle) — low_recall."""
    from tsne_flink_spark.pipeline.similarity import (
        append_to_pq_index,
        brute_force_top_k,
        ivf_index_staleness,
        pq_query_index,
    )

    emb, batch, model, combined = _pq_appended_store(spark, sf_dir)
    n_emb = emb.count()

    served = pq_query_index(
        emb, model, combined, emb, k=3, n_probe=8, shortlist=64
    )
    from tsne_flink_spark.operators.optimize import materialize

    served = materialize(served)

    full = pq_query_index(
        emb, model, append_to_pq_index(model, emb), emb,
        k=3, n_probe=8, shortlist=64,
    ).select(
        F.col("q").alias("__dq"), F.col("c").alias("__dc"),
        F.col("sim").alias("__ds"),
    )
    j = served.join(
        full,
        (F.col("q") == F.col("__dq")) & (F.col("c") == F.col("__dc")),
        "full",
    )
    bad = (
        F.col("q").isNull()
        | F.col("__dq").isNull()
        | ~F.col("sim").eqNullSafe(F.col("__ds"))
    )
    mismatched = j.agg(
        F.sum(bad.cast("int")).cast("long").alias("mismatched_rows")
    )

    counts = combined.agg(
        (F.count(F.lit(1)) - F.lit(n_emb)).cast("long").alias(
            "index_row_delta"
        ),
        (F.count_distinct("vec_id") - F.lit(n_emb)).cast("long").alias(
            "dup_id_delta"
        ),
    )
    missing = (
        batch.select("vec_id")
        .join(combined.select("vec_id"), "vec_id", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("missing_appended"))
    )
    # codes_df carries a `list` column, so the same staleness audit
    # applies; list count vs the model's coarse rows is pinned by the
    # ivf twin — here pin total vector accounting
    audit = ivf_index_staleness(
        model.where(F.col("part") == "coarse").select(
            F.col("a").alias("list")
        ),
        combined,
    ).select(
        (F.col("n_vectors") - F.lit(n_emb)).cast("long").alias(
            "audit_vec_delta"
        )
    )

    exact = brute_force_top_k(emb, emb, k=3).select(
        F.col("q").alias("__eq"), F.col("c").alias("__ec")
    )
    hits = served.join(
        exact,
        (F.col("q") == F.col("__eq")) & (F.col("c") == F.col("__ec")),
        "inner",
    ).count()
    total = exact.count()
    recall_row = spark.range(1).select(
        (F.lit(hits / max(total, 1)) < F.lit(0.50))
        .cast("long")
        .alias("low_recall")
    )

    return (
        mismatched.crossJoin(counts)
        .crossJoin(missing)
        .crossJoin(audit)
        .crossJoin(recall_row)
    )


def _streaming_countmin_store(spark: SparkSession, sf_dir: str):
    """Shared plumbing for streaming_countmin: corpus token rows written
    as a 4-file parquet source, replayed as a FILE STREAM one file per
    micro-batch (maxFilesPerTrigger=1 + availableNow), each batch's
    d x w counter rows landing as one shard under the store via
    pipeline/sketches.streaming_countmin_shards' foreachBatch — the
    continuous-ingest half of the persisted count-min lifecycle.  Hands
    back (fresh-read shard store, the token DataFrame)."""
    import tempfile

    from tsne_flink_spark.pipeline.sketches import streaming_countmin_shards
    from tsne_flink_spark.pipeline.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokenize(F.lower(F.col("text")))).alias("t")
    )
    src = tempfile.mkdtemp(prefix="cm_src_")
    store = tempfile.mkdtemp(prefix="cm_store_")
    ckpt = tempfile.mkdtemp(prefix="cm_ckpt_")
    # exactly 4 files -> 4 micro-batches (round-robin repartition of a
    # many-thousand-row token table leaves none empty)
    toks.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("t string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _stream_parts(spark):
        q = streaming_countmin_shards(
            stream, store, "t", w=1024, d=4, checkpoint_dir=ckpt,
            available_now=True,
        )
        q.awaitTermination(300)
    return spark.read.parquet(store), toks


def q_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency service fed by STRUCTURED STREAMING
    (pipeline/sketches.streaming_countmin_shards -> countmin_union ->
    countmin_estimate): the corpus token stream is ingested one
    micro-batch at a time, each batch's sketch persisted as a shard via
    foreachBatch, and the top-20 token frequencies are answered from
    the UNIONED shard store alone — identical output to the one-shot
    batch sketch (countmin_tokens) because the union is an exact
    elementwise counter sum, so the DuckDB oracle replays the whole
    pipeline hash-for-hash including the n_shards constant (4
    micro-batches).  This is the live-ingest lifecycle: a stream
    appends kilobyte shards forever; readers answer point-frequency
    queries at any time without rescanning ingested rows."""
    from tsne_flink_spark.pipeline.sketches import (
        countmin_estimate,
        countmin_union,
    )

    shards, toks = _streaming_countmin_store(spark, sf_dir)
    from tsne_flink_spark.operators.optimize import materialize

    toks = materialize(toks)  # probe counts only; the sketch came from disk
    n_shards = shards.select("shard").distinct().count()
    sk = countmin_union(shards)
    probes = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("true_n"))
        .orderBy(F.col("true_n").desc(), "t")
        .limit(20)
    )
    est = countmin_estimate(sk, probes, "t")
    return (
        probes.join(est, "t")
        .select(
            F.col("t").alias("token"),
            "true_n",
            F.col("est").alias("est_n"),
            (F.col("est") - F.col("true_n")).cast("long").alias("over"),
            F.lit(n_shards).cast("long").alias("n_shards"),
        )
        .orderBy("token")
    )


def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters fed by STRUCTURED STREAMING (pipeline/sketches.
    streaming_heavy_hitters): the corpus is replayed as a file stream
    (4 files, maxFilesPerTrigger=1 + availableNow = 4 micro-batches),
    each batch Misra-Gries-merged into a persisted <= k-counter summary
    via foreachBatch, and the FINAL summary alone shortlists the
    candidates — then one broadcast confirm join against exact counts
    keeps the terms with true_n * (k+1) > N.  The mergeable-MG deficit
    bound (total decrement <= N/(k+1), Agarwal et al. 2013) guarantees
    every such term survives the whole merge chain REGARDLESS of
    micro-batch order, so the confirmed set is deterministic and the
    DuckDB oracle replays it exactly (k=50); the batch-order-dependent
    candidate EXTRAS are filtered out by the threshold.  cand_overflow
    pins the <= k state-size contract (any violation makes it
    positive); n_batches pins that streaming really delivered 4
    micro-batch state generations.  This is the live lifecycle: the
    stream maintains a kilobyte summary forever; readers shortlist from
    the summary and confirm exactly against the archive only when
    precision matters."""
    import os
    import tempfile

    from tsne_flink_spark.pipeline.sketches import streaming_heavy_hitters
    from tsne_flink_spark.pipeline.text import tokenize

    k = 50
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="hh_src_")
    state = tempfile.mkdtemp(prefix="hh_state_")
    ckpt = tempfile.mkdtemp(prefix="hh_ckpt_")
    # exactly 4 files -> 4 micro-batches (round-robin repartition of a
    # multi-thousand-row corpus leaves none empty)
    docs.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _stream_parts(spark):
        q = streaming_heavy_hitters(
            stream, state, k=k, checkpoint_dir=ckpt, available_now=True
        )
        q.awaitTermination(300)
    batches = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(state)
        if d.startswith("batch=")
    )
    final = spark.read.parquet(f"{state}/batch={batches[-1]}")
    n_cands = final.count()

    counts = (
        docs.select(F.explode(tokenize(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("true_n"))
    )
    total = counts.agg(F.sum("true_n").alias("__N"))
    return (
        counts.join(F.broadcast(final.select("term")), "term")
        .crossJoin(F.broadcast(total))
        .where(F.col("true_n") * F.lit(k + 1) > F.col("__N"))
        .select(
            "term",
            "true_n",
            F.lit(len(batches)).cast("long").alias("n_batches"),
            F.lit(max(0, n_cands - k)).cast("long").alias("cand_overflow"),
        )
        .orderBy("term")
    )


def q_streaming_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count service fed by STRUCTURED STREAMING
    (pipeline/sketches.streaming_kmv_shards -> kmv_union ->
    kmv_estimate): the event stream's (event_type, user-day) keys are
    replayed as a file stream (4 files, maxFilesPerTrigger=1 +
    availableNow = 4 micro-batches), each batch's per-type k-minimum
    arrays persisted as one shard via foreachBatch, and per-type
    distinct user-day counts answered from the UNIONED shard store
    alone.  The k-min merge is LOSSLESS — the k smallest distinct
    hashes of a union are exactly the k smallest of the members'
    k-smallests — so the shard store answers identically to one sketch
    built over everything ingested: batch structure is invisible to the
    readout, and the engine-replayable LCG hash (kmv_hash, a bijection
    mod 2^31) lets the DuckDB oracle rebuild the same k-minimum
    statistic hash-for-hash, n_shards constant included.  This is the
    live half of the kmv_overlap lifecycle: a stream appends kilobyte
    shards forever; readers answer distinct/overlap questions at any
    time with no rescan of ingested rows."""
    import tempfile

    from tsne_flink_spark.pipeline.sketches import (
        kmv_estimate,
        kmv_union,
        streaming_kmv_shards,
    )

    k = 512
    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type",
        (F.col("user_id") * F.lit(100) + F.dayofmonth("ts")).alias("ud"),
    )
    src = tempfile.mkdtemp(prefix="kmv_src_")
    store = tempfile.mkdtemp(prefix="kmv_store_")
    ckpt = tempfile.mkdtemp(prefix="kmv_ckpt_")
    # exactly 4 files -> 4 micro-batches (round-robin repartition of a
    # many-hundred-row key table leaves none empty)
    keyed.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(keyed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _stream_parts(spark):
        q = streaming_kmv_shards(
            stream, store, ["event_type"], "ud", k=k, checkpoint_dir=ckpt,
            available_now=True,
        )
        q.awaitTermination(300)
    shards = spark.read.parquet(store)
    n_shards = shards.select("shard").distinct().count()
    sk = kmv_union(shards, ["event_type"], k=k)
    return sk.select(
        "event_type",
        F.size("kmv").cast("long").alias("n_kept"),
        F.round(kmv_estimate(F.col("kmv"), k), 4).alias("est_distinct"),
        F.lit(n_shards).cast("long").alias("n_shards"),
    ).orderBy("event_type")


def q_streaming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution service fed by STRUCTURED STREAMING
    (pipeline/sketches.streaming_histogram_shards -> histogram_union ->
    histogram_quantiles): lineitem's (l_returnflag, l_extendedprice)
    rows are replayed as a file stream (4 files, maxFilesPerTrigger=1 +
    availableNow = 4 micro-batches), each batch's per-flag fixed-bin
    counts persisted as one shard via foreachBatch, and the per-flag
    price quantiles answered from the UNIONED shard store alone —
    identical to the one-shot batch build (quantile_hist) because the
    histogram merge is an exact elementwise sum, so the DuckDB oracle
    replays the whole pipeline hash-for-hash including the n_shards
    constant.  Live lifecycle: a stream appends (k x bins)-integer
    shards forever; readers answer quantile/distribution queries at any
    time without rescanning ingested rows."""
    import tempfile

    from tsne_flink_spark.pipeline.sketches import (
        histogram_quantiles,
        histogram_union,
        streaming_histogram_shards,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    src = tempfile.mkdtemp(prefix="qh_src_")
    store = tempfile.mkdtemp(prefix="qh_store_")
    ckpt = tempfile.mkdtemp(prefix="qh_ckpt_")
    # exactly 4 files -> 4 micro-batches
    li.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _stream_parts(spark):
        q = streaming_histogram_shards(
            stream, store, ["l_returnflag"], "l_extendedprice",
            _QH_LO, _QH_HI, _QH_BINS, checkpoint_dir=ckpt,
            available_now=True,
        )
        q.awaitTermination(300)
    shards = spark.read.parquet(store)
    n_shards = shards.select("shard").distinct().count()
    merged = histogram_union(shards, ["l_returnflag"], _QH_BINS)
    out = histogram_quantiles(
        merged, ["l_returnflag"], _QH_QS, _QH_LO, _QH_HI, _QH_BINS
    )
    return out.select(
        "l_returnflag",
        "q",
        F.round("est", 6).alias("est"),
        F.lit(n_shards).cast("long").alias("n_shards"),
    ).orderBy("l_returnflag", "q")


def q_transition_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition rollup fed by STRUCTURED STREAMING
    (streaming/events.transition_feed — applyInPandasWithState keeping
    each user's LAST event in O(1) keyed state): the events table is
    split at its exact ts quartiles into 4 files WRITTEN SEQUENTIALLY
    (FileStreamSource delivers oldest-modification-time first, so
    micro-batch order == time order and every user's events arrive in
    global (ts, event_id) order — equal-ts tie groups never straddle a
    boundary because the split condition depends on ts alone), the feed
    emits one row per consecutive pair including the pairs that SPAN
    micro-batch boundaries (out of the stored state), and the rollup to
    (from_type, to_type, n, p) is then deterministic and equal to the
    batch twin (event_transitions), so the DuckDB oracle replays it
    exactly — n_batches (from the checkpoint's commit log) pins that
    streaming really delivered 4 micro-batch state generations.  This
    is the live lifecycle: the feed runs forever at O(users) state;
    downstream rollups are plain streaming aggregations."""
    import os
    import tempfile

    from tsne_flink_spark.streaming.events import transition_feed

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = tempfile.mkdtemp(prefix="tf_src_")
    out_dir = tempfile.mkdtemp(prefix="tf_out_")
    ckpt = tempfile.mkdtemp(prefix="tf_ckpt_")
    # exact ts quartiles (deterministic, unlike approxQuantile); strict
    # < boundaries keep equal-ts groups whole within one file
    b1, b2, b3 = ev.agg(
        F.expr(
            "percentile(cast(ts as double), array(0.25, 0.5, 0.75))"
        ).alias("b")
    ).first()["b"]
    ts_d = F.col("ts").cast("double")
    quarters = [
        ts_d < b1,
        (ts_d >= b1) & (ts_d < b2),
        (ts_d >= b2) & (ts_d < b3),
        ts_d >= b3,
    ]
    # ONE write job instead of four sequential full-scan appends (r15
    # optimization, guide §2.4): tag each row with its quarter, hash-
    # repartition on the tag (each quarter lands whole in one task) and
    # write partitionBy — exactly one file per non-empty quarter in a
    # single scan of events.  FileStreamSource orders by modification
    # time, which the old code bought with 4 sequential jobs; here the
    # mtimes are set explicitly (os.utime, strictly increasing in
    # quarter order), which is equally deterministic.  Row order inside
    # a file is irrelevant: transition_feed sorts each micro-batch by
    # (ts, id) in the state handler.  An empty quarter (possible only
    # when ts quartiles coincide) still has to yield a file so the
    # 4-micro-batch contract and the n_batches column survive — the
    # rare fallback writes the missing empty file(s) the old way.
    import glob as _glob
    import shutil as _shutil
    import time as _time

    stage = tempfile.mkdtemp(prefix="tf_stage_")
    qtag = (
        F.when(quarters[0], 0)
        .when(quarters[1], 1)
        .when(quarters[2], 2)
        .otherwise(3)
    )
    (
        ev.withColumn("__q", qtag)
        .repartition(4, "__q")
        .write.partitionBy("__q")
        .mode("overwrite")
        .parquet(stage)
    )
    base_mtime = _time.time()
    for qi in range(4):
        part_files = _glob.glob(f"{stage}/__q={qi}/part-*.parquet")
        dst = os.path.join(src, f"quarter-{qi}.parquet")
        if len(part_files) > 1:  # pragma: no cover - repartition contract
            raise RuntimeError(
                f"quarter {qi} split across {len(part_files)} files"
            )
        if part_files:
            _shutil.move(part_files[0], dst)
        else:  # pragma: no cover - degenerate quartile tie
            ev.where(quarters[qi]).repartition(1).write.mode(
                "overwrite"
            ).parquet(stage + f"/empty{qi}")
            _shutil.move(
                _glob.glob(f"{stage}/empty{qi}/part-*.parquet")[0], dst
            )
        os.utime(dst, (base_mtime + qi, base_mtime + qi))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _stream_parts(spark):
        q = (
            transition_feed(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    n_batches = len(
        [f for f in os.listdir(os.path.join(ckpt, "commits"))
         if not f.startswith(".")]
    )
    pairs = spark.read.parquet(out_dir)
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    from pyspark.sql import Window

    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
        F.lit(n_batches).cast("long").alias("n_batches"),
    ).orderBy("from_type", "to_type")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: synthesized binary PPM payloads -> Arrow-batched
    REAL decode (dependency-free Netpbm codec) -> per-image feature
    extraction."""
    from tsne_flink_spark.pipeline.multimodal import (
        attach_binary_payload,
        extract_image_features,
    )

    docs = _t(spark, sf_dir, "documents")
    feats = extract_image_features(attach_binary_payload(docs))
    return feats.select(
        "doc_id",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("std_gray", 4).alias("std_gray"),
    ).orderBy("doc_id")


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf terms per document — explode/groupBy/broadcast-idf-join/
    window top-k, all DataFrame-native."""
    from tsne_flink_spark.pipeline.tfidf import top_terms_per_doc

    docs = _t(spark, sf_dir, "documents")
    out = top_terms_per_doc(docs, k=5)
    return out.select(
        "doc_id", "term", F.round("tfidf", 6).alias("tfidf"), "rn"
    )


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf cosine similarity pairs (join on shared terms — no
    all-pairs stage)."""
    from tsne_flink_spark.pipeline.tfidf import tfidf_cosine_pairs

    docs = _t(spark, sf_dir, "documents")
    out = tfidf_cosine_pairs(docs, threshold=0.6)
    return out.select("a", "b", F.round("cosine", 6).alias("cosine"))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over entity-augmented documents (pure
    Column regexes; Java/RE2-portable patterns; exact DuckDB oracle)."""
    from tsne_flink_spark.pipeline.scrub import augment_entities, pii_stats

    docs = _t(spark, sf_dir, "documents")
    return pii_stats(augment_entities(docs))


def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + per-domain aggregation over entity-augmented
    documents (explode + one hash agg keyed on domain)."""
    from tsne_flink_spark.pipeline.scrub import augment_entities, url_domain_stats

    docs = _t(spark, sf_dir, "documents")
    return url_domain_stats(augment_entities(docs))


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + occurrence dedup over entity-augmented
    documents (scrub.url_dedup_stats): scheme dropped, host lowercased,
    www. stripped, fragment/trailing-slash trimmed; the crawl-frontier
    dedup table.  Exact DuckDB oracle (same regex chain)."""
    from tsne_flink_spark.pipeline.scrub import augment_entities, url_dedup_stats

    docs = _t(spark, sf_dir, "documents")
    return url_dedup_stats(augment_entities(docs))


def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (scrub.normalize_unicode): documents
    augmented with a decomposed combining-accent sequence AND its
    precomposed twin; after NFC both collapse to identical codepoints.
    Oracle: DuckDB's nfc_normalize over the same augmentation — the
    md5 match proves byte-identical normalization across engines."""
    from tsne_flink_spark.pipeline.scrub import normalize_unicode

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" cafe\u0301 caf\u00e9")
        ).alias("text"),
    )
    out = normalize_unicode(docs)
    return out.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.length("text").cast("long").alias("n_chars"),
    )


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate line removal: lines in >= 5 distinct docs
    dropped; per-doc retained-text fingerprint (exact DuckDB oracle)."""
    from tsne_flink_spark.pipeline.scrub import (
        augment_lines,
        remove_boilerplate_lines,
    )

    docs = _t(spark, sf_dir, "documents")
    return remove_boilerplate_lines(augment_lines(docs), min_docs=5)


def q_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams (sequence+transform pair construction, one
    bounded hash agg; exact DuckDB oracle with a total-order tiebreak)."""
    from tsne_flink_spark.pipeline.scrub import bigram_stats

    docs = _t(spark, sf_dir, "documents")
    return bigram_stats(docs, k=20)


def _doubled_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table unioned with an exact copy shifted by a fixed
    id offset: the synthetic corpus has no natural near-duplicate pairs
    (max pairwise cosine ~0.5), so the copies guarantee the semantic-dedup
    kill path does real, certifiable work — every copy pair has cosine 1."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shifted = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    return emb.union(shifted)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: spherical k-means clustering + within-cluster exact-cosine
    threshold graph + connected components, one keeper per group
    (pipeline/semantic.py).  Iterative fit — rows-only; certified by
    semantic_dedup_check."""
    from tsne_flink_spark.pipeline.semantic import semantic_dedup

    return semantic_dedup(
        _doubled_embeddings(spark, sf_dir), threshold=0.98
    ).orderBy("vec_id")


def q_semantic_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for semantic_dedup (exact cosines recomputed
    JVM-side from the raw vectors); oracle is the constant (0,0,0) row."""
    from tsne_flink_spark.pipeline.semantic import semantic_dedup_invariants

    return semantic_dedup_invariants(
        _doubled_embeddings(spark, sf_dir), threshold=0.98
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source leakage matrix: for every ordered source pair, how many
    normalized-text fingerprints they share (which feeds "which sources
    duplicate each other" decisions) plus each source's internal dup count
    on the diagonal.  Fingerprint self-join grouped by the source pair —
    shuffle keyed on the fingerprint, cardinality = distinct texts.  Exact
    DuckDB oracle."""
    from tsne_flink_spark.pipeline.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "source", fingerprint(F.col("text")).alias("__fp")
    ).distinct()
    a = fp.select(F.col("source").alias("src_a"), "__fp")
    b = fp.select(F.col("source").alias("src_b"), "__fp")
    return (
        a.join(b, "__fp")
        .where(F.col("src_a") <= F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
    )


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of per-doc token counts (sequence-length
    distribution; integer-exact buckets via length(bin(n))).  Exact DuckDB
    oracle."""
    from tsne_flink_spark.pipeline.text import token_histogram

    return token_histogram(_t(spark, sf_dir, "documents"))


def q_lang_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang x source contingency with CUBE subtotals (docs + token sums at
    every grouping-set level) — the corpus-composition report.  Exact
    DuckDB oracle."""
    from tsne_flink_spark.pipeline.text import token_count

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang", "source",
            token_count(F.col("text")).cast("long").alias("__n"),
        )
        .cube("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__n").cast("long").alias("n_tokens"),
        )
    )


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture rebalancing: token shares vs a uniform target,
    reweighting factors, and downsample-only sample rates
    (pipeline/curation.mixture_weights).  Exact DuckDB oracle with a
    mirrored division order."""
    from tsne_flink_spark.pipeline.curation import mixture_weights

    return mixture_weights(_t(spark, sf_dir, "documents"))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-index dedup: documents with doc_id % 3 == 0
    play the historical corpus (fingerprint_index), the rest are the new
    batch, every batch doc annotated ref_dup / batch_dup / kept
    (pipeline/dedup.py).  Exact DuckDB oracle."""
    from tsne_flink_spark.pipeline.dedup import (
        fingerprint_index,
        incremental_dedup_annotate,
    )

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 3 == 0)
    batch = docs.where(F.col("doc_id") % 3 != 0)
    return incremental_dedup_annotate(batch, fingerprint_index(ref))


def q_incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter variant of incremental_dedup: same batch/index split,
    same annotation semantics, but the index join only sees rows the
    broadcast Bloom bitmap could not rule out (pipeline/dedup.py
    incremental_dedup_annotate_bloom).  False negatives are impossible, so
    the output — and the exact DuckDB oracle — is IDENTICAL to
    incremental_dedup's."""
    from tsne_flink_spark.pipeline.dedup import (
        fingerprint_index,
        incremental_dedup_annotate_bloom,
    )

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 3 == 0)
    batch = docs.where(F.col("doc_id") % 3 != 0)
    return incremental_dedup_annotate_bloom(batch, fingerprint_index(ref))


def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of lineitem (nulls / exact distinct /
    min / max / mean) — one melt scan + a single distinct-key aggregation
    (pipeline/profile.py).  Exact DuckDB oracle."""
    from tsne_flink_spark.pipeline.profile import profile_table

    return profile_table(_t(spark, sf_dir, "lineitem"))


def q_tsne_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full t-SNE pipeline (kNN -> affinities -> joint P -> GD loop
    with Barnes-Hut) on the embeddings table, small iteration budget.
    Iterative + randomized — rows-only."""
    from tsne_flink_spark.tsne import TSNE

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("int").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
    )
    model = TSNE(
        perplexity=10.0, iterations=20, theta=0.5, knn_method="partition",
        neighbors=15, random_state=0, bh_condition="scaled",
    )
    out = model.fit(points=emb)
    return out.select(
        "id", F.col("y")[0].alias("y0"), F.col("y")[1].alias("y1")
    )


def _c4_augment(docs: DataFrame) -> DataFrame:
    """Deterministic line/punctuation structure for the single-line
    synthetic documents so the C4 rules have real work (the augment_lines
    convention; mirrored verbatim in _C4_AUG_SQL).  Per doc: the raw text
    (no terminal punctuation -> line cut), a 6-line body (3 lines on
    doc_id % 11 == 0, forcing the too-few-sentences kill), and one
    rule-triggering extra line by doc_id % 7."""
    i = F.col("doc_id")
    body_lines = [
        F.concat(
            F.lit(f"body sentence {k} of document "),
            i.cast("string"),
            F.lit(" reads fine."),
        )
        for k in range(1, 7)
    ]
    b6 = F.concat_ws("\n", *body_lines)
    b3 = F.concat_ws("\n", *body_lines[:3])
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.when(i % 11 == 0, b3).otherwise(b6),
            F.when(i % 7 == 0, F.lit("lorem ipsum dolor sit amet.")),
            F.when(i % 7 == 1, F.lit("var config = { debug: true };")),
            F.when(i % 7 == 2, F.lit("please enable javascript to continue.")),
            F.when(i % 7 == 3, F.lit("too shorty.")),
            F.when(
                i % 7 == 4,
                F.lit("this line has no terminal punctuation at all"),
            ),
        ).alias("text"),
    )


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page/line cleaning (Raffel et al. 2020 §2.2; pipeline/quality.
    c4_line_filter): terminal-punctuation + >= 3 word + no-javascript line
    rule, lorem-ipsum / curly-brace / too-few-sentences page kills.  Pure
    Column narrow map; exact DuckDB oracle over the same deterministic
    augmentation."""
    from tsne_flink_spark.pipeline.quality import c4_line_filter

    docs = _c4_augment(_t(spark, sf_dir, "documents"))
    return c4_line_filter(docs).select(
        "doc_id", "text", "n_lines", "n_kept_lines", "killed", "kill_reason"
    )


def _gopher_augment(docs: DataFrame) -> DataFrame:
    """Deterministic Gopher-rule load (mirrored in _GOPHER_AUG_SQL):
    stop-word boost on doc_id % 3 != 2, hash-tag symbol load on % 7 == 0,
    bullet lines on % 5 == 0, an ellipsis teaser on % 11 == 0."""
    i = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat_ws(
                " ",
                F.col("text"),
                F.when(
                    i % 3 != 2,
                    F.lit("of and that have with plenty more words to read"),
                ),
                F.when(
                    i % 7 == 0,
                    F.lit("#one #two #three #four #five #six #seven #eight"),
                ),
            ),
            F.when(
                i % 5 == 0,
                F.lit(
                    "- bullet item listed here\n- another bullet item here"
                ),
            ),
            F.when(i % 11 == 0, F.lit("click to read the whole story...")),
        ).alias("text"),
    )


def q_dup_best_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters canonicalized by BEST QUALITY (pipeline/
    curation.near_dup_best_rep): the production keep-policy (argmax of
    the rounded quality score, tie min id) vs dup_clusters' min-id
    convention.  Exact DuckDB oracle: the recursive-CTE components plus
    the mirrored quality formula and the same rounded-rank window."""
    from tsne_flink_spark.pipeline.curation import near_dup_best_rep

    docs = _t(spark, sf_dir, "documents")
    return near_dup_best_rep(docs, pairs=_dup_pair_edges(spark, sf_dir))


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (pipeline/curation.corpus_diff): one
    full-outer fingerprint join classifying every doc id as added /
    removed / changed / unchanged.  The 'new' snapshot is derived
    deterministically: doc_id % 13 == 0 removed, % 13 == 1 text-mutated,
    and 100 synthetic ids appended.  Exact DuckDB oracle over the same
    derivation."""
    from tsne_flink_spark.pipeline.curation import corpus_diff

    old = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    new = (
        old.where(i % 13 != 0)
        .select(
            "doc_id",
            F.when(
                i % 13 == 1, F.concat(F.col("text"), F.lit(" mutated tail"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            spark.range(100).select(
                (F.lit(90_000_000) + F.col("id")).alias("doc_id"),
                F.concat(
                    F.lit("brand new document number "),
                    F.col("id").cast("string"),
                ).alias("text"),
            )
        )
    )
    return corpus_diff(old, new)


def q_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-distribution drift between corpus snapshots
    (pipeline/curation.term_drift; Monroe et al. 2008 log-odds z-score):
    the monitoring twin of corpus_diff — membership churn there, WHAT
    the text shifted toward here.  Same derived 'new' snapshot as
    corpus_diff (doc_id % 13 == 0 removed, % 13 == 1 mutated, 100
    synthetic ids appended).  Vocab-bounded aggregation; exact DuckDB
    oracle."""
    from tsne_flink_spark.pipeline.curation import term_drift

    old = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    new = (
        old.where(i % 13 != 0)
        .select(
            "doc_id",
            F.when(
                i % 13 == 1, F.concat(F.col("text"), F.lit(" mutated tail"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            spark.range(100).select(
                (F.lit(90_000_000) + F.col("id")).alias("doc_id"),
                F.concat(
                    F.lit("brand new document number "),
                    F.col("id").cast("string"),
                ).alias("text"),
            )
        )
    )
    d = term_drift(old, new, top_k=50)
    return d.select(
        "term",
        "c_old",
        "c_new",
        F.round("delta", 6).alias("delta"),
        F.round("z", 6).alias("z"),
    )


def q_term_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency spectrum — the tokenizer-design input: how
    many distinct terms sit in each power-of-2 frequency band and what
    share of all token occurrences they cover, with the cumulative share
    from the high-frequency end down.  One explode -> term groupBy ->
    ~60-row band groupBy; the cumulative window runs over the tiny band
    table only (never the vocabulary).  Exact DuckDB oracle."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("term")
    )
    counts = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    bands = counts.groupBy(
        F.length(F.bin(F.col("n"))).cast("int").alias("band")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("n").cast("long").alias("n_tokens"),
    )
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = F.sum("n_tokens").over(
        Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return bands.select(
        "band",
        "n_terms",
        "n_tokens",
        F.round(F.col("n_tokens") / total, 6).alias("token_share"),
        F.round(F.sum("n_tokens").over(w) / total, 6).alias(
            "cum_share_from_top"
        ),
    ).orderBy(F.col("band").desc())


def q_revenue_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue matrix via PIVOT (the one reshaping operator the
    surface had not exercised): ship-month rows x return-flag columns,
    explicit pivot values so the plan is a single pass (no distinct-scan
    for the column set).  Exact DuckDB oracle via conditional
    aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    # bare date_format: l_shipdate is NTZ, see q_promo_revenue_monthly.
    month = F.date_format("l_shipdate", "yyyy-MM")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(month.between("1996-01", "1996-12"))
        .groupBy(month.alias("month"))
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum(rev), 4))
        .orderBy("month")
    )


def q_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-line repetition signals (pipeline/quality.
    line_repetition) over deterministically line-structured documents:
    every doc gets its 4-line body, docs with doc_id % 3 == 0 repeat the
    first body line twice more (the duplicate-line load).  Exact DuckDB
    oracle over the same augmentation."""
    from tsne_flink_spark.pipeline.quality import line_repetition

    i = F.col("doc_id")
    first = F.concat(
        F.lit("repeated promo line for document group "),
        (i % 7).cast("string"),
    )
    body = [
        F.concat(
            F.lit(f"body line {k} of document "), i.cast("string")
        )
        for k in range(1, 5)
    ]
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            *body,
            F.when(i % 3 == 0, F.concat_ws("\n", first, first)),
        ).alias("text"),
    )
    return line_repetition(docs)


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: three-table join with a
    market-segment filter pushed to the customer scan and date-range
    filters pushed to orders/lineitem, top-10 unshipped orders by
    revenue.  AQE broadcasts the filtered customer side.  Date FILTERS
    compare native timestamp_ntz values (wall-clock in both engines) so
    they push into the parquet scan for row-group skipping
    (`PushedFilters: LessThan(o_orderdate, ...)`); date OUTPUT goes
    through yyyy-MM-dd strings per repo convention.  Exact oracle."""
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style shipmode/priority matrix: orders joined to
    late-shipped lineitems, conditional counts of urgent vs other order
    priorities per return flag (the available shipmode-like category).
    Pushdown-able timestamp filter; exact DuckDB oracle."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(urgent.cast("long")).alias("high_line_count"),
            F.sum((~urgent).cast("long")).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style order-priority count: EXISTS semi-join (orders
    having at least one late lineitem) — the left-semi join pattern the
    relational surface was missing.  Exact DuckDB oracle."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    late = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("timestamp_ntz")
    )
    return (
        orders.join(
            late,
            orders["o_orderkey"] == late["l_orderkey"],
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style bilateral trade volume: supplier-nation x
    customer-nation revenue matrix by ship year, top 20 lanes.  The SAME
    bounded dimension (nation, <= 25 rows) joins twice under different
    roles (supp_nation / cust_nation) and is force-broadcast; supplier
    and customer SCALE with the corpus, so their join strategy is left
    to AQE (broadcast at test scale, shuffle join at 100 TB).  The
    canonical two-nation filter is dropped (empty at sf0.001's row
    counts); the top-20 lane ranking keeps the output bounded instead.
    Exact DuckDB oracle."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    )
    orders = _t(spark, sf_dir, "orders")
    sup = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.date_format("l_shipdate", "yyyy").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(
            F.col("revenue").desc(), "supp_nation", "cust_nation", "l_year"
        )
        .limit(20)
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style market share: of all ECONOMY-part revenue sold into
    ASIA customers, the share supplied by NATION_3, per order year.
    Conditional-aggregation-over-join; only the BOUNDED dims
    (nation <= 25, region = 5) are force-broadcast — part, supplier and
    customer scale with SF, so AQE picks their strategy.  Exact
    DuckDB oracle."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    sup = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cr_key") == region["r_regionkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.date_format("o_orderdate", "yyyy").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
                        0.0
                    )
                )
                / F.sum(rev),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(rev), 4).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style small-quantity revenue: lineitems of one brand
    shipped in quantities below half that part's average.  The correlated
    scalar subquery is planned explicitly as aggregate-then-join, and the
    per-part average is computed ONLY over the brand's lineitems (the
    broadcast semi-filter runs first), not the whole table — at 100 TB
    the full-table per-part aggregate would be the dominant shuffle for a
    1-in-25-brands query.  No forced broadcasts: part scales with SF,
    and the per-part average is bounded by the brand's part count, so
    AQE broadcasts both at test scale and degrades gracefully.  Exact DuckDB oracle."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#12")
    brand_li = li.join(
        part.select("p_partkey"),
        li["l_partkey"] == F.col("p_partkey"),
    ).drop("p_partkey")
    avg_qty = brand_li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.avg("l_quantity") * 0.5).alias("qty_limit")
    )
    return (
        brand_li.join(avg_qty, F.col("l_partkey") == F.col("ap_key"))
        .where(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).cast("long").alias("n_small_lines"),
        )
    )


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style large-volume customers: orders whose total
    lineitem quantity exceeds 300, with their customers.  The HAVING
    filter runs map-side-combinable BEFORE the order/customer joins, so
    only qualifying orderkeys (a tiny fraction) reach the join — the
    aggregate-prune-join ordering that matters at scale.  Exact DuckDB
    oracle."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty_raw"))
        .where(F.col("qty_raw") > 300)
        .select("l_orderkey", F.round("qty_raw", 4).alias("total_qty"))
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 4).alias("total_price"),
            "total_qty",
        )
        .orderBy(F.col("total_price").desc(), "o_orderkey")
        .limit(100)
    )


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style waiting suppliers: suppliers who were the ONLY
    late shipper (> 60 days after the order date) in a multi-supplier
    order.  The reference formulation is EXISTS + NOT EXISTS self-joins
    on lineitem; here it collapses to ONE order-level aggregate
    (distinct suppliers / distinct late suppliers per order) joined back
    to the late lines — two shuffles total instead of three self-join
    passes over the fact table, same result (the DuckDB oracle uses the
    canonical EXISTS form to prove equivalence).  The schema has no
    l_receiptdate/l_commitdate, so lateness is ship-lag vs o_orderdate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    sup = _t(spark, sf_dir, "supplier")
    lo = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).withColumn(
        "is_late",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).cast("int"),
    )
    ostat = lo.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("is_late") == 1, F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    sole_late = (
        lo.where(F.col("is_late") == 1)
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            ostat.where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)),
            F.col("l_orderkey") == F.col("ok"),
        )
    )
    return (
        sole_late.join(sup, F.col("l_suppkey") == sup["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: customers with above-average positive balance
    and NO orders since 1999 (every customer has SOME order in this
    dataset, so the canonical no-orders-ever predicate is time-windowed),
    grouped by market segment.  Global scalar aggregate via a broadcast
    1-row cross join (the reference's side-input pattern,
    TsneHelpers.scala sumP/bounds), then a left-anti join against the
    recent-order keys.  Exact DuckDB oracle."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz")
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item losses: top 20 customers by revenue
    of RETURNED lineitems on orders placed in 1997H1.  Date filter pushed
    to the orders scan, returnflag filter to the lineitem scan; nation
    broadcast.  Exact DuckDB oracle."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp_ntz"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
        )
        .groupBy(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 4).alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (pipeline/dsir.py; Xie et al. 2023):
    hashed-n-gram log importance ratio of every non-English document
    against the English target domain.  Both bucket-count tables are
    bounded at n_buckets=4096 rows and broadcast; fully deterministic —
    exact DuckDB oracle replaying the same md5 bucket hash."""
    from tsne_flink_spark.pipeline.dsir import dsir_log_weights

    docs = _t(spark, sf_dir, "documents")
    w = dsir_log_weights(docs, target=F.col("lang") == "en")
    return w.select(
        "doc_id",
        "n_grams",
        F.round("logw", 4).alias("logw"),
        F.round("avg_logw", 6).alias("avg_logw"),
    ).orderBy("doc_id")


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-k resampling: 100 candidate docs sampled without
    replacement with probability proportional to exp(logw), as ONE
    distributed sort (score = logw + deterministic md5-seeded Gumbel
    draw) — no sequential sampling loop.  Exact DuckDB oracle replays
    the identical draw."""
    from tsne_flink_spark.pipeline.dsir import dsir_log_weights, dsir_select

    docs = _t(spark, sf_dir, "documents")
    w = dsir_log_weights(docs, target=F.col("lang") == "en")
    sel = dsir_select(w, k=100, seed=42)
    return sel.select(
        "doc_id",
        F.round("logw", 4).alias("logw"),
        F.round("gumbel_score", 4).alias("gumbel_score"),
    )


def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: the events ``props`` column is a JSON
    string — parse it with an EXPLICIT schema (from_json; schema
    inference would cost a full extra corpus pass at 100 TB, the same
    stance as read_documents_jsonl) and aggregate the extracted field
    per event type, counting high-k events via a predicate ON the
    extracted value.  Exact DuckDB oracle via json_extract."""
    ev = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k int")["k"]
    return (
        ev.select("event_type", k.alias("k"), "value")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("k").isNull().cast("long")).alias("n_missing_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.sum((F.col("k") >= 50).cast("long")).alias("n_high_k"),
            F.round(
                F.sum(F.when(F.col("k") >= 50, F.col("value")).otherwise(0.0)),
                4,
            ).alias("high_k_value"),
        )
        .orderBy("event_type")
    )


def q_brand_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive-predicate revenue: three OR'd
    brand/size/quantity clauses across the lineitem-part join.  The
    shape exists to exercise OR-predicate handling: the per-side
    conjuncts (p_size floor, quantity ceiling) are derivable and the
    part filter prunes before the join; AQE picks the join strategy.
    Exact DuckDB oracle."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return j.where(clause).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score calibration: raw quality scores are not
    comparable across sources (each has its own boilerplate profile), so
    mixing thresholds belong on the per-source PERCENTILE.  percent_rank
    within source plus a decile via ntile — both windows are partitioned
    by source, so the sort is per-source-shard parallel at 100 TB (no
    global sort; ntile's tie order is pinned with a doc_id tiebreak for
    engine-independent determinism).  Exact DuckDB oracle."""
    from pyspark.sql import Window

    from tsne_flink_spark.pipeline.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", quality_score(F.col("text")).alias("q")
    )
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    return scored.select(
        "doc_id",
        "source",
        F.round("q", 6).alias("quality"),
        F.round(F.percent_rank().over(w), 6).alias("pct_in_source"),
        F.ntile(10).over(w).cast("long").alias("source_decile"),
    ).orderBy("doc_id")


from tsne_flink_spark.operators.knn import ntile_from_rank as _ntile_from_rank


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary rollup,
    quartiled deterministically (custkey tiebreak), then the segment
    matrix with counts and average spend.  One orders groupBy, then
    three SHUFFLE-PARALLEL quartiles: each metric goes through the
    engine's JVM-side distributed rank (operators/knn._global_rank_by —
    materialized range shuffle + partition-offset arithmetic, BASELINE
    B15) and the exact ntile(4)-from-rank formula, replacing the earlier
    three global unpartitioned ntile windows, each of which sorted the
    whole per-customer table on a single task — the one serial stage
    left in the round-9 surface (at 100 TB the customer table is itself
    sharded).  Oracle unchanged: exact DuckDB NTILE(4) windows."""
    from tsne_flink_spark.operators.knn import _global_rank_by
    from tsne_flink_spark.operators.optimize import materialize

    orders = _t(spark, sf_dir, "orders")
    per_cust = materialize(
        orders.groupBy("o_custkey").agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
    )
    n = per_cust.count()

    def quartile(metric: str, out: str) -> DataFrame:
        ranked = _global_rank_by(
            per_cust.select("o_custkey", metric),
            F.col(metric).desc(),
            "o_custkey",
        )
        return ranked.select(
            "o_custkey", _ntile_from_rank(F.col("__rank"), n).alias(out)
        )

    # the three quartile builds each pay two driver-blocking jobs at
    # construction time (_global_rank_by: rank-shuffle materialize +
    # partition-counts collect) and are independent reads of the already
    # materialized per_cust — overlap them from a thread pool (guide
    # §2.6); each rank is deterministic (custkey tiebreak) and the
    # assembly joins by key, so the result is unchanged
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=3) as pool:
        q_r, q_f, q_m = pool.map(
            wrap(lambda mo: quartile(*mo)),
            [("last_order", "r_quartile"), ("frequency", "f_quartile"),
             ("monetary", "m_quartile")],
        )
    rfm = (
        q_r
        .join(q_f, "o_custkey")
        .join(q_m, "o_custkey")
        .join(per_cust.select("o_custkey", "monetary"), "o_custkey")
    )
    return (
        rfm.groupBy("r_quartile", "f_quartile", "m_quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.avg("monetary"), 4).alias("avg_monetary"),
        )
        .select(
            F.col("r_quartile").cast("long").alias("r_quartile"),
            F.col("f_quartile").cast("long").alias("f_quartile"),
            F.col("m_quartile").cast("long").alias("m_quartile"),
            "n_customers",
            "avg_monetary",
        )
        .orderBy("r_quartile", "f_quartile", "m_quartile")
    )


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's word-blocklist page rule (pipeline/quality.blocklist_filter)
    with a demo blocklist — production supplies its own list; matching
    is token-boundary on the pipeline tokenizer, so substrings never
    false-match.  Narrow map, exact DuckDB oracle."""
    from tsne_flink_spark.pipeline.quality import blocklist_filter

    docs = _t(spark, sf_dir, "documents")
    return blocklist_filter(docs, ["slow", "broken", "stale"]).orderBy(
        "doc_id"
    )


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail perplexity split (pipeline/lm.
    perplexity_buckets): corpus-LM perplexity bucketed by GK-sketch
    tertile boundaries.  The GK boundaries are deterministic for fixed
    data but not reproducible in DuckDB — rows-only, with
    q_perplexity_buckets_check carrying the verified invariants."""
    from tsne_flink_spark.pipeline.lm import perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    out = perplexity_buckets(docs, n_buckets=3)
    return out.select("doc_id", "n_tokens", "bucket")


def q_perplexity_buckets_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the perplexity split (oracle: constant
    zero row): one row per scored doc; buckets within [0, 2] and all
    three populated (>= N/10 each on this corpus); and threshold
    consistency — the max perplexity of bucket i is strictly below the
    min of bucket i+1 (bucket = count of boundaries exceeded is monotone
    in perplexity, so ranges can never interleave)."""
    from tsne_flink_spark.pipeline.lm import ngram_lm_scores, perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    n_scored = ngram_lm_scores(docs).count()
    out = perplexity_buckets(docs, n_buckets=3)
    per_bucket = out.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("perplexity").alias("lo"),
        F.max("perplexity").alias("hi"),
    )
    w = Window.orderBy("bucket")
    ordered = per_bucket.select(
        "bucket", "n", "lo", "hi", F.lag("hi").over(w).alias("prev_hi")
    )
    return ordered.agg(
        (F.sum("n") - F.lit(n_scored)).cast("long").alias("row_count_delta"),
        F.sum(
            (~F.col("bucket").between(0, 2)).cast("long")
        ).alias("bucket_range_violations"),
        (F.lit(3) - F.count(F.lit(1))).cast("long").alias("missing_buckets"),
        F.sum(
            (F.col("n") < F.lit(n_scored) / 10).cast("long")
        ).alias("undersized_buckets"),
        F.sum(
            (F.col("prev_hi").isNotNull() & (F.col("prev_hi") >= F.col("lo")))
            .cast("long")
        ).alias("threshold_order_violations"),
    )


def q_perplexity_split_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-boundary head/middle/tail perplexity split
    (pipeline/lm.perplexity_split_exact): exact equal-count tertiles by
    global rank over (rounded perplexity, doc_id) — NTILE(3) semantics,
    computed with the shuffle-parallel distributed rank plus
    ntile-from-rank arithmetic, never a single-partition window.
    Unlike q_perplexity_buckets (GK-sketch thresholds, rows-only), the
    split itself is EXACTLY oracle-checkable: the DuckDB oracle is the
    same LM pipeline plus a literal NTILE(3) window."""
    from tsne_flink_spark.pipeline.lm import perplexity_split_exact

    docs = _t(spark, sf_dir, "documents")
    return perplexity_split_exact(docs, n_buckets=3)


def q_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the exact near-dup similarity graph (operators/
    graph.pagerank on ngram_jaccard_pairs edges): centrality of template
    families — the graph-analytics rank a curation pipeline weighs when
    choosing cluster representatives.  10 power iterations, damping
    0.85; exact DuckDB oracle unrolls the same iterations over the same
    pair-mining CTE (_pagerank_oracle_sql)."""
    from tsne_flink_spark.operators.graph import pagerank

    edges = _dup_pair_edges(spark, sf_dir)
    out = pagerank(edges, iters=10, damping=0.85)
    return out.select("id", F.round("rank", 6).alias("rank"))


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain centrality prior from the WARC link graph: the DIRECTED
    PageRank (dangling mass redistributed uniformly — the stochastic
    completion) over the same extract_links-mined domain edges as
    link_triangles.  This is the domain-quality prior CommonCrawl-derived
    corpora weight by, and the first oracle gate on the operator's
    directed path (dup_pagerank exercises only the symmetrized one).
    Exact DuckDB oracle unrolls the same 10 iterations WITH the per-
    iteration dangling term (_link_pagerank_oracle_sql)."""
    from tsne_flink_spark.operators.graph import pagerank

    edges = _link_graph_edges(spark, sf_dir)
    out = pagerank(edges, iters=10, damping=0.85, undirected=False)
    return out.select(
        F.col("id").alias("dom"), F.round("rank", 6).alias("rank")
    )


def q_link_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities (operators/graph.
    label_propagation: synchronous LPA, 4 rounds, min-label tie-break)
    over the WARC link graph with the d0 super-hub stripped first —
    the standard pre-filter for community detection (a hub adjacent to
    everything carries no community signal and at web scale alone
    dominates the message volume); the hubless graph resolves into
    ~250 genuine communities instead of one hub-absorbed blob.
    Complements the reachability operators: dup_clusters answers
    "connected?", this answers "densely linked?".  Exact DuckDB oracle
    unrolls the same 4 rounds (_link_communities_oracle_sql)."""
    from tsne_flink_spark.operators.graph import label_propagation

    edges = _link_graph_edges(spark, sf_dir).where(
        (F.col("a") != 0) & (F.col("b") != 0)
    )
    out = label_propagation(edges, iters=4)
    return out.select(F.col("id").alias("dom"), "community")


def q_link_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 link predictions over the WARC link graph: Adamic-Adar
    score sum 1/ln(deg) over common neighbors for NON-adjacent domain
    pairs (operators/graph.adamic_adar) — the "which domains should be
    linked / which dup families are about to merge" ranking.  Wedge
    enumeration centered on the shared neighbor, anti-join against the
    edge set, top-k as TakeOrderedAndProject.  Runs the SCALE path:
    ``max_degree="sqrt"`` drops super-hub centers (degree > ceil(sqrt(m)))
    before wedge enumeration, bounding total fan-out at O(m^1.5) — the
    B74-probed mitigation (9x wedge reduction at 1.17M edges), now the
    gated default per the r12 verdict.  Exact DuckDB oracle replays the
    same wedges AND the same degree filter on the arithmetic edge CTE."""
    from tsne_flink_spark.operators.graph import adamic_adar

    out = adamic_adar(_link_graph_edges(spark, sf_dir), k=100,
                      max_degree="sqrt")
    return out.select("x", "y", F.round("score", 6).alias("score"))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted without-replacement sample, k=200, weight = n_chars + 1
    (pipeline/curation.weighted_sample): Efraimidis-Spirtakis A-ES keys
    ln(u)/w with u from the explicit LCG, top-k by key — the quality-
    weighted corpus-downsampling primitive, reproducible in any engine.
    Narrow map + TakeOrderedAndProject (no global sort).  Exact DuckDB
    oracle ranks by the identical key arithmetic
    (curation.weighted_sample_key_sql)."""
    from tsne_flink_spark.pipeline.curation import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, 200, F.col("n_chars") + F.lit(1))
    return out.select(
        "doc_id", "lang", "n_chars",
        F.round("sample_key", 6).alias("sample_key"),
    )


def q_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history from the event log (streaming/events.
    state_history): per user, consecutive runs of the same event_type
    collapse into half-open validity intervals [valid_from, valid_to)
    with valid_to = next interval's start (NULL for the current state)
    — the CDC/dimension-history primitive.  Gaps-and-islands in two
    per-user windows over one shuffle; total (ts, event_id) ordering so
    same-timestamp events replay identically.  Exact DuckDB oracle with
    the identical windows."""
    from tsne_flink_spark.streaming.events import state_history

    ev = _t(spark, sf_dir, "events")
    out = state_history(ev)
    return out.select(
        "user_id",
        "event_type",
        _utc_wall("valid_from").alias("valid_from"),
        _utc_wall("valid_to").alias("valid_to"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def q_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of orders on (o_totalprice max, o_orderdate max)
    — "largest AND most recent", the multi-criteria top no single ORDER
    BY expresses (operators/skyline.pareto_frontier).  Per-partition
    local skyline via an Arrow-batched numpy kernel (no fact-table
    shuffle), then a single-task merge of the tiny survivor set.
    Exact DuckDB oracle is the NOT EXISTS strict-dominance definition."""
    from tsne_flink_spark.operators.skyline import pareto_frontier

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    out = pareto_frontier(orders, ["o_totalprice", "o_orderdate"])
    return out.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
    )


def q_pareto_lineitem_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-criteria Pareto frontier of lineitem on (l_extendedprice max,
    l_shipdate max, l_discount MIN) — "biggest, most recent, least
    discounted" line items (operators/skyline.pareto_frontier).  d=3
    dispatches to the Kung-Luccio-Preparata staircase sweep (O(n log s)
    regardless of frontier size — the B82 kernel that closed B76's
    d>=3 O(n·s) gap); same two-phase local-skyline -> single-task-merge
    dataflow as pareto_orders.  Exact DuckDB oracle is the NOT EXISTS
    strict-dominance definition over the three criteria."""
    from tsne_flink_spark.operators.skyline import pareto_frontier

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount",
        "l_shipdate",
    )
    out = pareto_frontier(
        li,
        ["l_extendedprice", "l_shipdate", "l_discount"],
        maximize=[True, True, False],
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("l_extendedprice"),
        F.round("l_discount", 2).alias("l_discount"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("l_shipdate"),
    )


def q_pareto_lineitem_4d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-criteria Pareto frontier of lineitem on (l_extendedprice max,
    l_shipdate max, l_quantity max, l_discount MIN) — the d >= 4
    dispatch of operators/skyline.pareto_frontier, gating the blocked
    vectorized sweep (_skyline_nd_blocked, B90: chunked all->= matrix
    dominance over desc-lex-sorted distinct points; same two-phase
    local-skyline -> merge dataflow).  The default single-task merge is
    the right plan here (uniform-ish criteria, tiny frontier); for the
    huge-frontier anti-correlated shape use merge="range" (B90: 5.8-7.6x
    at 125k-250k, 1M rows in 467 s where one task needs ~80 min).
    Exact DuckDB oracle: the NOT EXISTS strict-dominance definition
    over the four criteria."""
    from tsne_flink_spark.operators.skyline import pareto_frontier

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity",
        "l_discount", "l_shipdate",
    )
    # spread the rows BEFORE the Python-side phase-1 kernel: a
    # single-file parquet scan is one partition, which would serialize
    # the d=4 blocked sweep on one task (the dedup._spread lesson —
    # measured 10.5 s -> ~1.5 s at sf0.1); Catalyst cannot lift a user
    # repartition above mapInPandas on its own
    li = li.repartition(spark.sparkContext.defaultParallelism)
    out = pareto_frontier(
        li,
        ["l_extendedprice", "l_shipdate", "l_quantity", "l_discount"],
        maximize=[True, True, True, False],
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("l_extendedprice"),
        F.round("l_quantity", 2).alias("l_quantity"),
        F.round("l_discount", 2).alias("l_discount"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("l_shipdate"),
    )


def q_pareto_price_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-efficiency Pareto frontier of lineitem — minimize
    l_extendedprice, maximize net revenue l_extendedprice *
    (1 - l_discount) — gating the DISTRIBUTED range-partitioned phase-2
    merge (operators/skyline._range_merge, B90) on a genuinely
    anti-correlated shape: net revenue grows with gross price, so the
    frontier is ~5-9% of the input (3.2k rows at sf0.01), not the
    O((ln n)^(d-1)) sliver of the uniform pareto queries, and the
    single-task merge would put all of it on one core.  merge="range"
    is explicit here so the gated plan IS the scale plan at every SF
    (the auto selector in pareto_frontier picks the same path once
    survivors cross its threshold — unit-pinned separately); the output
    row SET is provably identical to the single-task merge.  Exact
    DuckDB oracle: the 2-D skyline computed by the running-max window
    over distinct (price, net) points in (price ASC, net DESC) order —
    equivalent to the NOT-EXISTS strict-dominance definition because
    any dominator of p sorts strictly before p in that order, and p is
    dominated iff some earlier distinct point has net >= p.net."""
    from tsne_flink_spark.operators.skyline import pareto_frontier

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
        .withColumn(
            "l_net",
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
        )
        .drop("l_discount")
    )
    # spread before the Python-side phase-1 kernel (single parquet file =
    # one task under mapInPandas; Catalyst cannot lift a user repartition
    # above mapInPandas on its own)
    li = li.repartition(spark.sparkContext.defaultParallelism)
    out = pareto_frontier(
        li, ["l_extendedprice", "l_net"], maximize=[False, True],
        merge="range",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("l_extendedprice"),
        F.round("l_net", 4).alias("l_net"),
    ).orderBy("l_orderkey", "l_linenumber")


def q_embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (pipeline/semantic.
    semantic_decontaminate): train = even vec_ids, holdout = the 100
    odd vec_ids below 200, threshold 0.40 — every train vector whose
    max holdout cosine reaches the bar, with that similarity.  The
    semantic complement of the n-gram decontaminate: paraphrased eval
    leakage with no shared n-grams still lands next to its source in
    embedding space.  Cosines are sequential-fold dot products over
    double-cast arrays — the same operation order as DuckDB's
    list_dot_product — so the kill decision at the threshold boundary
    replays bit-identically (exact oracle, not the ANN family's
    rows-only mode)."""
    from tsne_flink_spark.pipeline.semantic import semantic_decontaminate

    emb = _t(spark, sf_dir, "embeddings")
    train = emb.where(F.col("vec_id") % 2 == 0)
    holdout = emb.where(
        (F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 200)
    )
    out = semantic_decontaminate(train, holdout, threshold=0.40)
    return out.select(
        "vec_id", F.round("max_holdout_sim", 6).alias("max_holdout_sim")
    ).orderBy("vec_id")


_EMB_DECON_ORACLE = """
WITH t AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE vec_id % 2 = 0
), h AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE vec_id % 2 = 1 AND vec_id < 200
), s AS (
  SELECT t.vec_id,
         max(list_dot_product(t.v, h.v)
             / greatest(sqrt(list_dot_product(t.v, t.v))
                        * sqrt(list_dot_product(h.v, h.v)), 1e-12)) AS ms
  FROM t, h GROUP BY t.vec_id
)
SELECT vec_id, round(ms, 6) AS max_holdout_sim
FROM s WHERE ms >= 0.40 ORDER BY vec_id
"""


def q_lang_source_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-association audit between lang and source
    (pipeline/profile.categorical_association): mutual information,
    normalized MI, and Cramér's V over the exact contingency counts —
    the leakage/confound detector run before stratifying or splitting on
    a column ("is source secretly determined by lang?").  One
    groupBy(a, b) count bounded at k_a x k_b shuffle rows + bounded
    marginal rollups; pure deterministic arithmetic, exact DuckDB
    oracle (chi2 via the all-cells identity n * sum O^2/(ca*cb) - n)."""
    from tsne_flink_spark.pipeline.profile import categorical_association

    docs = _t(spark, sf_dir, "documents")
    return categorical_association(docs, "lang", "source")


_ASSOCIATION_ORACLE = """
WITH joint AS (
  SELECT lang AS a, source AS b, count(*)::DOUBLE AS c
  FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL  -- complete-case, as the engine
  GROUP BY 1, 2
), ma AS (SELECT a, sum(c) AS ca FROM joint GROUP BY a),
mb AS (SELECT b, sum(c) AS cb FROM joint GROUP BY b),
tot AS (SELECT sum(c) AS n FROM joint),
j AS (
  SELECT joint.*, ma.ca, mb.cb, tot.n
  FROM joint JOIN ma USING (a) JOIN mb USING (b), tot
), agg AS (
  SELECT max(n) AS n,
         count(DISTINCT a)::BIGINT AS k_a,
         count(DISTINCT b)::BIGINT AS k_b,
         sum((c / n) * ln((c * n) / (ca * cb))) AS mi,
         max(n) * sum(c * c / (ca * cb)) - max(n) AS chi2
  FROM j
), hs AS (
  SELECT (SELECT -sum((ca / n) * ln(ca / n)) FROM ma, tot) AS h_a,
         (SELECT -sum((cb / n) * ln(cb / n)) FROM mb, tot) AS h_b
)
SELECT n::BIGINT AS n, k_a, k_b,
       round(mi, 6) AS mi,
       round(CASE WHEN least(h_a, h_b) > 0 THEN mi / least(h_a, h_b)
                  ELSE 0.0 END, 6) AS nmi,
       round(CASE WHEN n * (least(k_a, k_b) - 1) > 0
                  THEN sqrt(chi2 / (n * (least(k_a, k_b) - 1)))
                  ELSE 0.0 END, 6) AS cramers_v
FROM agg, hs
"""


_HYBRID_QUERIES = [
    ["join", "window", "stream"],
    ["hash", "merge", "sort"],
    ["vector", "batch", "scan"],
]


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (pipeline/tfidf.
    rrf_fuse, Cormack et al. 2009): three term queries, each ranked by
    TWO BM25 parameterizations (the Lucene default k1=1.2/b=0.75 and a
    low-saturation k1=0.5/b=0.3 — the standard parameter-ensemble
    fusion), fused as sum 1/(60 + rank) and cut to the top 10 per
    query.  Ranks order by (rounded score desc, doc_id), so the
    ordering — and therefore the fused value — replays exactly in any
    engine; the DuckDB oracle unrolls both rankers per query with the
    identical row_number spec."""
    from tsne_flink_spark.operators.optimize import materialize
    from tsne_flink_spark.pipeline.tfidf import bm25_scores, rrf_fuse

    docs = materialize(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    n_docs = docs.count()
    rankers = []
    for k1, b in ((1.2, 0.75), (0.5, 0.3)):
        per_q = []
        for i, terms in enumerate(_HYBRID_QUERIES):
            per_q.append(
                bm25_scores(docs, terms, k1=k1, b=b, n_docs=n_docs).select(
                    F.lit(i).alias("q"), "doc_id", "score"
                )
            )
        r = per_q[0]
        for p in per_q[1:]:
            r = r.unionByName(p)
        rankers.append(r)
    out = rrf_fuse(rankers, top=10)
    return out.select(
        "q", "doc_id", F.round("rrf", 6).alias("rrf")
    ).orderBy("q", F.col("rrf").desc(), "doc_id")


def _bm25_ranked_sql(qi: int, terms: list[str], k1: float, b: float) -> str:
    """One (q, doc_id, rank) subquery: BM25 with the given parameters
    over the shared toks/stats CTEs, ranked by (round(score,6) DESC,
    doc_id) — the exact spec rrf_fuse uses."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
  SELECT {qi} AS q, doc_id,
         row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS r
  FROM (
    SELECT tf.doc_id,
           sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * {k1 + 1.0!r})
               / (tf.tf + {k1!r} * ({1.0 - b!r} + {b!r} * tf.dl / s.avgdl))
           ) AS score
    FROM (
      SELECT doc_id, term, count(*)::DOUBLE AS tf, any_value(dl) AS dl
      FROM words WHERE term IN ({tlist}) GROUP BY doc_id, term
    ) tf
    JOIN (
      SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
      FROM words WHERE term IN ({tlist}) GROUP BY term
    ) d USING (term), stats s
    GROUP BY tf.doc_id
  )"""


def _hybrid_retrieval_oracle() -> str:
    ranked = "\n  UNION ALL\n".join(
        _bm25_ranked_sql(i, terms, k1, b)
        for k1, b in ((1.2, 0.75), (0.5, 0.3))
        for i, terms in enumerate(_HYBRID_QUERIES)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS t
  FROM documents
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM toks
), words AS (
  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks
), ranked AS (
{ranked}
), fused AS (
  SELECT q, doc_id, sum(1.0 / (60.0 + r)) AS rrf
  FROM ranked GROUP BY q, doc_id
), topd AS (
  SELECT q, doc_id, rrf,
         row_number() OVER (PARTITION BY q ORDER BY rrf DESC, doc_id) AS n
  FROM fused
)
SELECT q, doc_id, round(rrf, 6) AS rrf
FROM topd WHERE n <= 10 ORDER BY q, rrf DESC, doc_id
"""


def q_winsorized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact-percentile winsorization (pipeline/quality.
    winsorize): lineitem extended prices clipped at each return flag's
    [p5, p95], summarized as (flag, n, clip_lo, clip_hi, mean_raw,
    mean_winsorized) — the robust pre-scaling step before mixing
    heterogeneous score/feature distributions.  One bounded per-group
    sort-aggregate for the clip bounds (broadcast back), then a narrow
    clip map; Spark's exact percentile is ANSI quantile_cont, so the
    DuckDB oracle replays the clip bit-for-bit (outputs rounded to
    absorb sum-order float noise in the means)."""
    from tsne_flink_spark.pipeline.quality import winsorize

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    w = winsorize(
        li, "l_extendedprice", by=["l_returnflag"], lo=0.05, hi=0.95
    )
    return (
        w.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("l_extendedprice_w"), 2).alias("clip_lo"),
            F.round(F.max("l_extendedprice_w"), 2).alias("clip_hi"),
            F.round(F.avg("l_extendedprice"), 4).alias("mean_raw"),
            F.round(F.avg("l_extendedprice_w"), 4).alias("mean_winsorized"),
        )
        .orderBy("l_returnflag")
    )


_WINSORIZE_ORACLE = """
WITH b AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS lo,
         quantile_cont(l_extendedprice, 0.95) AS hi
  FROM lineitem GROUP BY l_returnflag
), w AS (
  SELECT l.l_returnflag, l.l_extendedprice,
         least(greatest(l.l_extendedprice, b.lo), b.hi) AS wv
  FROM lineitem l JOIN b USING (l_returnflag)
)
SELECT l_returnflag, count(*)::BIGINT AS n,
       round(min(wv), 2) AS clip_lo,
       round(max(wv), 2) AS clip_hi,
       round(avg(l_extendedprice), 4) AS mean_raw,
       round(avg(wv), 4) AS mean_winsorized
FROM w GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC delta between two corpus snapshots (pipeline/profile.
    table_diff): old = the documents table; new = a deterministic
    arithmetic mutation of it — doc_id % 7 == 0 rows deleted,
    doc_id % 5 == 0 survivors get n_chars + 1 (changed), and doc_id %
    11 == 0 rows re-enter under doc_id + 10_000_000 (added).  Output is
    one (doc_id, status) row per difference — the pre-publish audit
    every snapshot refresh runs ("this refresh deleted 14% — expected?")
    — via ONE co-partitioned full-outer join on the key; NULL-safe
    column comparison, no hashing, so the DuckDB oracle replays the
    diff exactly."""
    from tsne_flink_spark.pipeline.profile import table_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    survivors = docs.where(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 5 == 0, F.col("n_chars") + F.lit(1)
        ).otherwise(F.col("n_chars")).alias("n_chars"),
    )
    added = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        "lang",
        "n_chars",
    )
    new = survivors.unionByName(added)
    return table_diff(docs, new, ["doc_id"], ["lang", "n_chars"]).orderBy(
        "doc_id", "status"
    )


_SNAPSHOT_DIFF_ORACLE = """
WITH old AS (
  SELECT doc_id, lang, n_chars FROM documents
), survivors AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 5 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 7 <> 0
), added AS (
  SELECT doc_id + 10000000 AS doc_id, lang, n_chars
  FROM documents WHERE doc_id % 11 = 0
), neww AS (
  SELECT * FROM survivors UNION ALL SELECT * FROM added
), j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE
           WHEN o.doc_id IS NULL THEN 'added'
           WHEN n.doc_id IS NULL THEN 'removed'
           WHEN o.lang IS DISTINCT FROM n.lang
             OR o.n_chars IS DISTINCT FROM n.n_chars THEN 'changed'
         END AS status
  FROM old o FULL OUTER JOIN neww n ON o.doc_id = n.doc_id
)
SELECT doc_id, status FROM j WHERE status IS NOT NULL
ORDER BY doc_id, status
"""


def q_weighted_sample_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted without-replacement sample, k=50 per group,
    weight = n_chars + 1 (pipeline/curation.weighted_sample_by): the
    stratified A-ES form — "keep the best k docs per language,
    inclusion probability proportional to length" — selection by the
    same engine-replayable LCG key as weighted_sample, ranked inside a
    per-group window (one shuffle on the group key, never a global
    sort).  Exact DuckDB oracle replays the identical key arithmetic
    and row_number tie-break."""
    from tsne_flink_spark.pipeline.curation import weighted_sample_by

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_by(
        docs, ["lang"], 50, F.col("n_chars") + F.lit(1)
    )
    return out.select(
        "doc_id", "lang", "n_chars",
        F.round("sample_key", 6).alias("sample_key"),
    ).orderBy("lang", "doc_id")


def q_countmin_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point-frequency service over the corpus vocabulary
    (pipeline/sketches.countmin_sketch/estimate, w=1024, d=4): build the
    d x w counter sketch in one scan, then answer "how often does this
    token occur" for the 20 most frequent tokens from the SKETCH alone —
    (token, true_n, est_n, over) with over = est - true >= 0 (count-min
    never underestimates).  The sketch is the fourth persisted-synopsis
    member (HLL distincts / KMV overlaps / histogram distributions /
    count-min frequencies) and merges exactly across shards.  The
    depth-salted md5 bucket arithmetic is the DSIR cross-engine hash,
    so the DuckDB oracle replays the whole pipeline hash-for-hash —
    including every hash collision in the est_n values."""
    from tsne_flink_spark.pipeline.sketches import (
        countmin_estimate,
        countmin_sketch,
    )
    from tsne_flink_spark.pipeline.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokenize(F.lower(F.col("text")))).alias("t")
    )
    from tsne_flink_spark.operators.optimize import materialize

    # tokens feed both the sketch build and the exact probe counts
    toks = materialize(toks)
    sk = countmin_sketch(toks, "t", w=1024, d=4)
    probes = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("true_n"))
        .orderBy(F.col("true_n").desc(), "t")
        .limit(20)
    )
    est = countmin_estimate(sk, probes, "t")
    return (
        probes.join(est, "t")
        .select(
            F.col("t").alias("token"),
            "true_n",
            F.col("est").alias("est_n"),
            (F.col("est") - F.col("true_n")).cast("long").alias("over"),
        )
        .orderBy("token")
    )


_COUNTMIN_ORACLE = """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> '')) AS t
  FROM documents
), tc AS (
  SELECT t, count(*)::BIGINT AS true_n FROM toks GROUP BY t
), probes AS (
  SELECT t, true_n FROM tc ORDER BY true_n DESC, t LIMIT 20
), depths AS (
  SELECT unnest([0, 1, 2, 3]) AS d
), bc AS MATERIALIZED (
  -- per-(depth, bucket) counter over ALL token occurrences: exactly the
  -- sketch's counts array, queried sparsely
  SELECT d,
         CAST(concat('0x', substr(md5(concat(d::VARCHAR, ':', t)), 1, 15))
              AS BIGINT) % 1024 AS b,
         count(*)::BIGINT AS c
  FROM toks, depths GROUP BY 1, 2
), pe AS (
  SELECT p.t, p.true_n, min(bc.c) AS est_n
  FROM probes p
  CROSS JOIN depths dd
  JOIN bc ON bc.d = dd.d
         AND bc.b = CAST(concat('0x', substr(md5(concat(dd.d::VARCHAR, ':', p.t)), 1, 15))
                         AS BIGINT) % 1024
  GROUP BY 1, 2
)
SELECT t AS token, true_n, est_n::BIGINT AS est_n,
       (est_n - true_n)::BIGINT AS over
FROM pe ORDER BY token
"""


def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 collocations by pointwise mutual information with
    min_count=5 (pipeline/scrub.collocation_pmi): association-ranked
    adjacent word pairs — the multi-word-unit signal frequency-ranked
    bigram_stats cannot surface.  Exact DuckDB oracle reproduces the
    PMI double via the same fixed association order."""
    from tsne_flink_spark.pipeline.scrub import collocation_pmi

    docs = _t(spark, sf_dir, "documents")
    out = collocation_pmi(docs, min_count=5, k=100)
    return out.select("w1", "w2", "n", F.round("pmi", 6).alias("pmi"))


def q_compression_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified invariants for the compression-ratio quality signal
    (pipeline/quality.compression_ratio; zlib output is not identical
    across zlib builds, so the signal is invariant-gated, oracle:
    constant zero row): one row out per row in; for every non-empty doc
    ratio > 0 and n_compressed <= n_bytes + 64 + n_bytes/1000 (zlib's
    worst case is ~11 bytes header/trailer + 5 bytes per 64 KiB stored
    block, so a pure ratio <= 1.5 bound would false-fail on docs shorter
    than ~20 bytes); ratio <= 1.5 additionally for docs >= 64 bytes where
    the fixed overhead is amortized; and the SAME text repeated 8x must
    compress strictly better (ratio_rep < ratio) for every doc with
    >= 20 bytes — the monotonicity that makes the signal a repetition
    detector."""
    from tsne_flink_spark.pipeline.quality import compression_ratio

    docs = _t(spark, sf_dir, "documents")
    n_in = docs.count()
    base = compression_ratio(docs)
    rep = compression_ratio(
        docs.select(
            "doc_id", F.repeat(F.concat(F.col("text"), F.lit(" ")), 8).alias("text")
        )
    ).select("doc_id", F.col("ratio").alias("ratio_rep"))
    j = base.join(rep, "doc_id")
    return j.agg(
        (F.count(F.lit(1)) - F.lit(n_in)).cast("long").alias("row_count_delta"),
        F.sum(
            (
                (F.col("n_bytes") > 0)
                & (
                    (F.col("ratio") < 1e-9)
                    | (
                        F.col("n_compressed")
                        > F.col("n_bytes") + 64 + F.col("n_bytes") / 1000
                    )
                    | ((F.col("n_bytes") >= 64) & (F.col("ratio") > 1.5))
                )
            ).cast("long")
        ).alias("ratio_range_violations"),
        F.sum(
            (
                (F.col("n_bytes") >= 20)
                & (F.col("ratio_rep") >= F.col("ratio"))
            ).cast("long")
        ).alias("repetition_monotonicity_violations"),
    )


def q_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from a built inverted index (sources/index.py): the
    tokenize-once / query-many retrieval path.  Numerically identical to
    q_bm25_scores by construction, so it shares its exact DuckDB oracle;
    postings are chunk-sharded (max_postings) so a stop word's postings
    can never exceed one row at corpus scale."""
    from tsne_flink_spark.sources.index import (
        bm25_from_index,
        build_inverted_index,
    )

    docs = _t(spark, sf_dir, "documents")
    index, doclens = build_inverted_index(docs)
    out = bm25_from_index(index, doclens, ["join", "window", "stream"])
    return out.select("doc_id", F.round("score", 6).alias("score"))


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters (pipeline/sketches.py): terms with exact
    count n satisfying n*k > N, found via per-partition k-counter
    summaries + broadcast exact confirmation — the shuffle carries
    candidate occurrences, never the whole vocabulary.  Exact output
    (the sketch only accelerates), so it carries an exact DuckDB
    oracle with the same integer threshold arithmetic."""
    from tsne_flink_spark.pipeline.sketches import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    return heavy_hitters(docs, k=50)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality heuristics (Rae et al. 2021 §A1.1; pipeline/quality.
    gopher_quality): word-count bounds, mean word length, symbol ratio,
    bullet/ellipsis line fractions, alphabetic-word fraction, stop-word
    presence, and the all-rules pass verdict.  Pure Column narrow map;
    exact DuckDB oracle."""
    from tsne_flink_spark.pipeline.quality import gopher_quality

    docs = _gopher_augment(_t(spark, sf_dir, "documents"))
    return gopher_quality(docs)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query at sf0.001: the full t-SNE pipeline."""
    return q_tsne_embedding(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the driver's correctness gate checks only the
    # FIRST 50 entries, so the window rotates each round toward the
    # queries with the weakest driver evidence; check pairs stay adjacent
    # (tests/test_registry.py pins pair integrity) and the per-query
    # evidence ledger is generated into QUERIES.md by
    # tools/gen_queries_md.py — the rotation is auditable from that
    # artifact, not from this comment.  Round-15 window, exactly as the
    # r14 verdict prescribed (items 2/3/5): the two NEW r15 queries
    # first (pareto_price_net — the anti-correlated range-merge scale
    # path, gated with an exact oracle; streaming_heavy_hitters — the
    # second streaming twin), then the dup_walk_embeddings pair
    # (re-gated: the walk_embeddings partitioning default flipped to the
    # B89 derived value, so the gated plan IS the scale plan now), then
    # all 27 r11-stale queries (the ledger's full staleness tail), then
    # 19 entries from the r12-stale head — the 50-slot cut lands after
    # props_json; no check pair straddles the edge.  Below position 50,
    # ordered by r16 rotation priority: the flagship pair (due back per
    # the every-other-round contract), the r12 remainder, the r13-green
    # block, then the r14-green block.
    return {
        # --- new in r15: the gated scale paths (never driver-checked) ---
        "pareto_price_net": q_pareto_price_net,
        "streaming_heavy_hitters": q_streaming_heavy_hitters,
        # --- re-gated: walk_embeddings default flipped to the B89 derived partitioning ---
        "dup_walk_embeddings": q_dup_walk_embeddings,
        "dup_walk_embeddings_check": q_dup_walk_embeddings_check,
        # --- the 27 r11-stale queries (last driver evidence r11) ---
        "stratified_take": q_stratified_take,
        "token_histogram": q_token_histogram,
        "quality_scores": q_quality_scores,
        "repetition_stats": q_repetition_stats,
        "mixture_weights": q_mixture_weights,
        "pack_sequences": q_pack_sequences,
        "chunk_documents": q_chunk_documents,
        "doc_fingerprint": q_doc_fingerprint,
        "incremental_dedup": q_incremental_dedup,
        "incremental_dedup_bloom": q_incremental_dedup_bloom,
        "bigram_stats": q_bigram_stats,
        "boilerplate_lines": q_boilerplate_lines,
        "lang_source_matrix": q_lang_source_matrix,
        "source_overlap": q_source_overlap,
        "unicode_normalize": q_unicode_normalize,
        "bm25_scores": q_bm25_scores,
        "profile_lineitem": q_profile_lineitem,
        "link_triangles": q_link_triangles,
        "link_triangles_check": q_link_triangles_check,
        "blocklist_filter": q_blocklist_filter,
        "bm25_index": q_bm25_index,
        "brand_promo_revenue": q_brand_promo_revenue,
        "c4_clean": q_c4_clean,
        "compression_check": q_compression_check,
        "link_pagerank": q_link_pagerank,
        "sketch_union": q_sketch_union,
        "sketch_union_check": q_sketch_union_check,
        # --- 19 from the r12-stale head (cut = position 50, after props_json) ---
        "corpus_diff": q_corpus_diff,
        "dsir_weights": q_dsir_weights,
        "dsir_sample": q_dsir_sample,
        "gopher_quality": q_gopher_quality,
        "heavy_hitters": q_heavy_hitters,
        "dup_pagerank": q_dup_pagerank,
        "line_repetition": q_line_repetition,
        "revenue_pivot": q_revenue_pivot,
        "term_frequency_spectrum": q_term_frequency_spectrum,
        "dup_best_rep": q_dup_best_rep,
        "perplexity_buckets": q_perplexity_buckets,
        "perplexity_buckets_check": q_perplexity_buckets_check,
        "dup_clusters": q_dup_clusters,
        "market_share": q_market_share,
        "small_qty_revenue": q_small_qty_revenue,
        "large_volume_customers": q_large_volume_customers,
        "waiting_suppliers": q_waiting_suppliers,
        "term_drift": q_term_drift,
        "props_json": q_props_json,
        # --- ------------- below the driver's 50-query window -------------
        # flagship pair — due back in r16 per the every-other-round contract ---
        "tsne_embedding": q_tsne_embedding,
        "tsne_embedding_check": q_tsne_embedding_check,
        # --- new in r15 BELOW the window (r16 rotation head, after the
        # flagship pair): the last three ungated streaming twins, each
        # with an exact DuckDB oracle ---
        "streaming_kmv": q_streaming_kmv,
        "streaming_histogram": q_streaming_histogram,
        "transition_feed": q_transition_feed,
        "streaming_ann_ingest": q_streaming_ann_ingest,
        "streaming_ann_ingest_check": q_streaming_ann_ingest_check,
        # --- r12-green remainder ---
        "quality_calibration": q_quality_calibration,
        "dup_triangles": q_dup_triangles,
        "user_peak_event": q_user_peak_event,
        "group_medians": q_group_medians,
        "event_cube": q_event_cube,
        "user_cohorts": q_user_cohorts,
        "containment_pairs": q_containment_pairs,
        "promo_revenue_monthly": q_promo_revenue_monthly,
        "windowed_event_counts": q_windowed_event_counts,
        "sessionize": q_sessionize,
        "sliding_user_activity": q_sliding_user_activity,
        "regional_revenue": q_regional_revenue,
        "events_by_user_segment": q_events_by_user_segment,
        "text_stats": q_text_stats,
        "stopword_ratio": q_stopword_ratio,
        "language_id": q_language_id,
        "sketch_union_persisted": q_sketch_union_persisted,
        "sketch_union_persisted_check": q_sketch_union_persisted_check,
        "pareto_orders": q_pareto_orders,
        "collocation_pmi": q_collocation_pmi,
        "link_communities": q_link_communities,
        "link_adamic_adar": q_link_adamic_adar,
        "weighted_sample": q_weighted_sample,
        "user_state_history": q_user_state_history,
        "leakage_split": q_leakage_split,
        "ann_ivf_persisted": q_ann_ivf_persisted,
        "ann_ivf_persisted_check": q_ann_ivf_persisted_check,
        "ann_pq_persisted": q_ann_pq_persisted,
        "ann_pq_persisted_check": q_ann_pq_persisted_check,
        # --- r13-green block ---
        "kmv_overlap": q_kmv_overlap,
        "kmv_overlap_check": q_kmv_overlap_check,
        "quantile_hist": q_quantile_hist,
        "quantile_hist_check": q_quantile_hist_check,
        "dup_kcore": q_dup_kcore,
        "dup_random_walks": q_dup_random_walks,
        "touch_attribution": q_touch_attribution,
        "event_transitions": q_event_transitions,
        "keyword_textrank": q_keyword_textrank,
        "integrity_orphans": q_integrity_orphans,
        "join_key_skew": q_join_key_skew,
        "knn_project": q_knn_project,
        "knn_project_check": q_knn_project_check,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "minhash_dedup": q_minhash_dedup,
        "minhash_dedup_check": q_minhash_dedup_check,
        "exact_dedup": q_exact_dedup,
        "embedding_dedup": q_embedding_dedup,
        "embedding_dedup_check": q_embedding_dedup_check,
        "simhash_dedup": q_simhash_dedup,
        "simhash_dedup_check": q_simhash_dedup_check,
        "ann_lsh": q_ann_lsh,
        "ann_lsh_check": q_ann_lsh_check,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_check": q_ann_ivf_check,
        "ann_bruteforce": q_ann_bruteforce,
        "top_revenue_orders": q_top_revenue_orders,
        "grouped_topk_orders": q_grouped_topk_orders,
        "distinct_pairs": q_distinct_pairs,
        "event_rollup": q_event_rollup,
        "event_order_asof": q_event_order_asof,
        "session_overlap": q_session_overlap,
        "token_counts": q_token_counts,
        "user_totals": q_user_totals,
        "language_id_ngram": q_language_id_ngram,
        "corpus_shards": q_corpus_shards,
        "projection_check": q_projection_check,
        "customer_rfm": q_customer_rfm,
        "event_funnel": q_event_funnel,
        "decontaminate_fuzzy": q_decontaminate_fuzzy,
        "decontaminate_fuzzy_check": q_decontaminate_fuzzy_check,
        "nation_trade_volume": q_nation_trade_volume,
        "returned_item_revenue": q_returned_item_revenue,
        "shipmode_priority": q_shipmode_priority,
        "order_priority": q_order_priority,
        "shipping_priority": q_shipping_priority,
        "idle_customers": q_idle_customers,
        "perplexity_split_exact": q_perplexity_split_exact,
        "ann_pq": q_ann_pq,
        "ann_pq_check": q_ann_pq_check,
        # --- r14-green block ---
        "pareto_lineitem_3d": q_pareto_lineitem_3d,
        "pareto_lineitem_4d": q_pareto_lineitem_4d,
        "countmin_tokens": q_countmin_tokens,
        "weighted_sample_by": q_weighted_sample_by,
        "snapshot_diff": q_snapshot_diff,
        "winsorized_prices": q_winsorized_prices,
        "hybrid_retrieval": q_hybrid_retrieval,
        "lang_source_association": q_lang_source_association,
        "embedding_decontaminate": q_embedding_decontaminate,
        "ann_ivf_appended": q_ann_ivf_appended,
        "ann_ivf_appended_check": q_ann_ivf_appended_check,
        "streaming_countmin": q_streaming_countmin,
        "ann_pq_appended": q_ann_pq_appended,
        "ann_pq_appended_check": q_ann_pq_appended_check,
        "audio_features": q_audio_features,
        "audio_check": q_audio_check,
        "curation_pipeline": q_curation_pipeline,
        "semantic_dedup": q_semantic_dedup,
        "semantic_dedup_check": q_semantic_dedup_check,
        "tfidf_top_terms": q_tfidf_top_terms,
        "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
        "pii_scrub": q_pii_scrub,
        "multimodal_features": q_multimodal_features,
        "multimodal_check": q_multimodal_check,
        "decontaminate": q_decontaminate,
        "knn_bruteforce": q_knn_bruteforce,
        "knn_partition": q_knn_partition,
        "pairwise_affinities": q_pairwise_affinities,
        "joint_distribution": q_joint_distribution,
        "centering": q_centering,
        "global_aggregates": q_global_aggregates,
        "pricing_summary": q_pricing_summary,
        "bpe_tokens": q_bpe_tokens,
        "bpe_tokens_check": q_bpe_check,
        "lm_perplexity": q_lm_perplexity,
        "lm_perplexity_interp": q_lm_perplexity_interp,
        "winnow_overlap": q_winnow_overlap,
        "exact_substr_dedup": q_exact_substr_dedup,
        "url_dedup": q_url_dedup,
        "url_domains": q_url_domains,
        "video_frames": q_video_frames,
        "source_stats": q_source_stats,
        "source_stats_approx_check": q_source_stats_approx_check,
        "sketch_distinct_check": q_sketch_distinct_check,
        "approx_quantile_check": q_approx_quantile_check,
        "stratified_sample": q_stratified_sample,
    }


# Shared DSIR weight pipeline (pipeline/dsir.py model, replayed in SQL):
# unigram+bigram gram bag, md5-hashed into 4096 buckets, add-0.5-smoothed
# target (lang='en') vs candidate distributions, per-candidate-doc log
# importance ratio.  Yields w(doc_id, n_grams, logw_raw).
_DSIR_WEIGHTS_CTE = """
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS is_target,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, is_target,
         unnest(list_concat(
           t,
           list_transform(range(1, len(t)), j -> t[j] || ' ' || t[j + 1])
         )) AS g
  FROM toks WHERE len(t) >= 1
), b AS (
  SELECT doc_id, is_target,
         CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 4096 AS bucket
  FROM grams
), tc AS (
  SELECT bucket, count(*)::DOUBLE AS tc FROM b WHERE is_target GROUP BY 1
), rc AS (
  SELECT bucket, count(*)::DOUBLE AS rc FROM b WHERE NOT is_target GROUP BY 1
), tt AS (SELECT sum(tc) AS t_tot FROM tc),
   rt AS (SELECT sum(rc) AS r_tot FROM rc),
   lw AS (
  SELECT b.doc_id,
         ln((coalesce(tc.tc, 0) + 0.5) / (tt.t_tot + 0.5 * 4096))
         - ln((coalesce(rc.rc, 0) + 0.5) / (rt.r_tot + 0.5 * 4096)) AS lw
  FROM b LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket), tt, rt
  WHERE NOT b.is_target
), w AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams, sum(lw) AS logw_raw,
         avg(lw) AS avg_logw_raw
  FROM lw GROUP BY doc_id
)
"""

_SQDIST = (
    "list_sum(list_transform(list_zip(a.embedding, b.embedding), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))**2))"
)

_KNN_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id::INT AS i, b.vec_id::INT AS j, {_SQDIST} AS dist
  FROM embeddings a, embeddings b
  WHERE a.vec_id <> b.vec_id
), ranked AS (
  SELECT i, j, dist, row_number() OVER (PARTITION BY i ORDER BY dist, j) AS rn
  FROM pairs
)
SELECT i, j, round(dist, 6) AS v FROM ranked WHERE rn <= 5
"""


def _bisection_oracle_sql(
    k: int = 15, perplexity: float = 5.0, iters: int = 50, tol: float = 1e-5
) -> str:
    """DuckDB oracle for ``pairwise_affinities``: the reference's 50-step
    entropy bisection (TsneHelpers.scala:434-504) unrolled into materialized
    CTE steps (one h/convergence/state triple per iteration, freeze-on-
    convergence preserved).  ``AS MATERIALIZED`` is load-bearing: without it
    DuckDB inlines the single-referenced state chain and planning blows up
    exponentially in ``iters``."""
    target = f"ln({perplexity!r})"
    parts = [
        f"""WITH edges AS MATERIALIZED (
  SELECT i, j, dist AS d FROM (
    SELECT i, j, dist, row_number() OVER (PARTITION BY i ORDER BY dist, j) AS rn
    FROM (
      SELECT a.vec_id::INT AS i, b.vec_id::INT AS j, {_SQDIST} AS dist
      FROM embeddings a, embeddings b
      WHERE a.vec_id <> b.vec_id
    )
  ) WHERE rn <= {k}
), s0 AS MATERIALIZED (
  SELECT i, 1.0::DOUBLE AS beta, '-infinity'::DOUBLE AS lo,
         'infinity'::DOUBLE AS hi, FALSE AS done
  FROM edges GROUP BY i
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""", c{t} AS MATERIALIZED (
  SELECT i, beta, lo, hi, done,
         ln(sp) + beta * sdp / sp AS h,
         abs(ln(sp) + beta * sdp / sp - {target}) < {tol!r} AS conv
  FROM (
    SELECT s.i, s.beta, s.lo, s.hi, s.done,
           CASE WHEN SUM(exp(-e.d * s.beta)) = 0 THEN 1e-7
                ELSE SUM(exp(-e.d * s.beta)) END AS sp,
           SUM(e.d * exp(-e.d * s.beta)) AS sdp
    FROM s{t-1} s JOIN edges e ON e.i = s.i
    GROUP BY s.i, s.beta, s.lo, s.hi, s.done
  )
), s{t} AS MATERIALIZED (
  SELECT i,
    CASE WHEN done OR conv THEN beta
         WHEN h > {target} THEN (CASE WHEN isinf(hi) THEN beta * 2.0 ELSE (beta + hi) / 2.0 END)
         ELSE (CASE WHEN isinf(lo) THEN beta / 2.0 ELSE (beta + lo) / 2.0 END) END AS beta,
    CASE WHEN done OR conv THEN lo WHEN h > {target} THEN beta ELSE lo END AS lo,
    CASE WHEN done OR conv THEN hi WHEN h > {target} THEN hi ELSE beta END AS hi,
    done OR conv AS done
  FROM c{t}
)"""
        )
    parts.append(
        f"""
SELECT e.i, e.j,
       round(exp(-e.d * s.beta)
             / (CASE WHEN SUM(exp(-e.d * s.beta)) OVER (PARTITION BY e.i) = 0
                     THEN 1e-7
                     ELSE SUM(exp(-e.d * s.beta)) OVER (PARTITION BY e.i) END),
             9) AS v
FROM edges e JOIN s{iters} s ON s.i = e.i"""
    )
    return "".join(parts)


# Entity-injection CTE body mirrored from pipeline/scrub.augment_entities
# (same moduli, same literals); regexes are the Java/RE2-portable patterns
# from pipeline/scrub.py, with backslashes doubled for the SQL string.
_AUG_ENTITIES_SQL = """
SELECT doc_id,
  text
  || CASE WHEN doc_id % 3 <> 2 THEN ' Contact user' || doc_id::VARCHAR
       || '@mail' || (doc_id % 7)::VARCHAR || '.example.com now.'
     ELSE '' END
  || CASE WHEN doc_id % 4 = 0 THEN ' Call +1-555-'
       || lpad(((doc_id*37) % 10000)::VARCHAR, 4, '0') || ' or 212-555-'
       || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' today.'
     ELSE '' END
  || CASE WHEN doc_id % 5 < 2 THEN ' Host 10.' || (doc_id % 256)::VARCHAR
       || '.' || ((doc_id*7) % 256)::VARCHAR || '.'
       || ((doc_id*13) % 256)::VARCHAR || ' logged.'
     ELSE '' END
  || ' See https://www' || (doc_id % 13)::VARCHAR || '.example.org/p/'
  || doc_id::VARCHAR || ' plus http://cdn' || (doc_id % 5)::VARCHAR
  || '.example.net/x?q=1 end.'
  AS text
FROM documents
"""
_EMAIL_RE_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE_SQL = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
_IPV4_RE_SQL = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

def _profile_oracle_sql() -> str:
    """UNION ALL of per-column profile aggregates over lineitem, mirroring
    pipeline/profile.profile_table's column classification (numerics ->
    _num fields as DOUBLE; strings and timestamps -> _str wall-clock
    strings; exact count(distinct) excludes NULLs in both engines)."""
    numeric = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    ]
    stringy = ["l_returnflag", "l_linestatus", "l_shipdate"]
    parts = []
    for c in numeric:
        parts.append(f"""
SELECT '{c}' AS "column", count(*)::BIGINT AS n_rows,
       sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       min({c})::DOUBLE AS min_num, max({c})::DOUBLE AS max_num,
       round(sum(({c}::DOUBLE)::DECIMAL(30,10))::DOUBLE / count({c}), 6)
         AS mean_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM lineitem""")
    for c in stringy:
        parts.append(f"""
SELECT '{c}' AS "column", count(*)::BIGINT AS n_rows,
       sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       CAST(NULL AS DOUBLE) AS mean_num,
       min({c}::VARCHAR) AS min_str, max({c}::VARCHAR) AS max_str
FROM lineitem""")
    return "\nUNION ALL\n".join(parts)


_DEDUP_CHECK_ORACLE = """
SELECT CAST(0 AS BIGINT) AS unjustified_kills,
       CAST(0 AS BIGINT) AS missed_candidates
"""

_ANN_CHECK_ORACLE = """
SELECT CAST(0 AS BIGINT) AS bad_sim,
       CAST(0 AS BIGINT) AS overfull_queries,
       CAST(0 AS BIGINT) AS self_matches,
       CAST(0 AS BIGINT) AS dup_pairs
"""


def _language_id_ngram_oracle() -> str:
    """Generate the trigram-profile oracle from the SAME shared constant the
    Spark operator scores with."""
    from tsne_flink_spark.pipeline.text import lang_trigram_profiles

    profiles = lang_trigram_profiles()

    def lst(lang: str) -> str:
        items = ", ".join(
            "'" + t.replace("'", "''") + "'" for t in profiles[lang]
        )
        return f"[{items}]"

    score_cols = ",\n    ".join(
        f"len(list_filter(ts, t -> list_contains({lst(lang)}, t))) AS s_{lang}"
        for lang in profiles
    )
    g = "greatest(s_en, s_de, s_fr, s_es)"
    return f"""
WITH tri AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(p) - 2, 1) + 1),
                        i -> substring(p, i, 3)) AS ts
  FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents)
), s AS (
  SELECT doc_id,
    {score_cols}
  FROM tri
)
SELECT doc_id,
  CASE WHEN {g} = 0 THEN 'und'
       WHEN s_en = {g} THEN 'en'
       WHEN s_de = {g} THEN 'de'
       WHEN s_fr = {g} THEN 'fr'
       ELSE 'es' END AS lang_pred
FROM s
"""


def _lcg_bucket_sql_expr(buckets: int = 100) -> str:
    from tsne_flink_spark.pipeline.curation import lcg_bucket_sql

    return lcg_bucket_sql("doc_id", buckets)



def _quantile_hist_oracle_sql() -> str:
    """Exact oracle for ``quantile_hist``: replay the fixed-bin
    histogram build (same floor/clamp bin arithmetic, same [900, 105000]
    x 128 grid — the bin width 813.28125 is dyadic, so both engines'
    doubles are bit-equal), the per-flag cumulative count, and the
    rank-ceil(q*n) interpolated readout.  Sharding is invisible to the
    oracle because the merge is an exact elementwise sum."""
    lo, hi, bins = _QH_LO, _QH_HI, _QH_BINS
    w = (hi - lo) / bins
    qs = ", ".join(repr(q) for q in _QH_QS)
    return f"""
WITH b AS (
  SELECT l_returnflag AS k,
         least(greatest(floor((l_extendedprice - {lo!r}) / {w!r}), 0),
               {bins - 1})::BIGINT AS bin
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), cnt AS (
  SELECT k, bin, count(*)::BIGINT AS c FROM b GROUP BY 1, 2
), cum AS (
  SELECT k, bin, c,
         sum(c) OVER (PARTITION BY k ORDER BY bin) AS cum,
         sum(c) OVER (PARTITION BY k) AS n
  FROM cnt
), tgt AS (
  SELECT cum.*, q, ceil(q * n)::BIGINT AS r
  FROM cum CROSS JOIN (SELECT unnest([{qs}]::DOUBLE[]) AS q)
), hit AS (
  SELECT k, q, bin, cum, c, r
  FROM tgt WHERE cum >= r AND c > 0
  QUALIFY row_number() OVER (PARTITION BY k, q ORDER BY bin) = 1
)
SELECT k AS l_returnflag, q,
       round({lo!r} + bin * {w!r}
             + {w!r} * ((r - (cum - c))::DOUBLE / c::DOUBLE), 6) AS est
FROM hit ORDER BY l_returnflag, q
"""


def _kmv_overlap_oracle_sql(k: int = 512) -> str:
    """Exact oracle for ``kmv_overlap``: rebuild the per-event_type KMV
    sketches from the SAME engine-replayable LCG hash
    (pipeline/sketches.kmv_hash_sql — a bijection mod 2^31, so both
    engines see the identical k-minimum statistic) and replay the full
    theta-sketch set algebra in DuckDB list functions.  Every arithmetic
    step mirrors the Spark side operation-for-operation (same (h+1)/(m+1)
    normalization, same (k-1)/U(k) estimator, same strict-below-theta
    retention), so the comparison is hash-for-hash, not rows-only."""
    from tsne_flink_spark.pipeline.sketches import _KMV_M, kmv_hash_sql

    h = kmv_hash_sql("ud")
    minv, km1 = float(_KMV_M + 1), float(k - 1)
    return f"""
WITH kd AS (
  SELECT DISTINCT event_type, (user_id * 100 + EXTRACT(day FROM ts)) AS ud
  FROM events
), h AS (
  SELECT DISTINCT event_type, {h} AS hv FROM kd
), r AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
), sk AS (
  SELECT event_type, list(hv ORDER BY hv) AS kmv
  FROM r WHERE rn <= {k} GROUP BY event_type
), p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.kmv AS ka, b.kmv AS kb
  FROM sk a JOIN sk b ON a.event_type < b.event_type
), c AS (
  SELECT type_a, type_b, ka, kb, len(ka) AS n_a, len(kb) AS n_b,
    CASE WHEN len(ka) < {k} THEN 1.0 ELSE (ka[{k}] + 1.0) / {minv!r} END AS ta,
    CASE WHEN len(kb) < {k} THEN 1.0 ELSE (kb[{k}] + 1.0) / {minv!r} END AS tb,
    list_slice(list_sort(list_distinct(list_concat(ka, kb))), 1, {k}) AS mg
  FROM p
), d AS (
  SELECT *, least(ta, tb) AS theta,
    CASE WHEN n_a < {k} THEN n_a::DOUBLE ELSE {km1!r} / ta END AS est_a,
    CASE WHEN n_b < {k} THEN n_b::DOUBLE ELSE {km1!r} / tb END AS est_b,
    CASE WHEN len(mg) < {k} THEN len(mg)::DOUBLE
         ELSE {km1!r} / ((mg[{k}] + 1.0) / {minv!r}) END AS est_union
  FROM c
), e AS (
  SELECT *,
    len(list_filter(list_intersect(ka, kb),
                    v -> (v + 1.0) / {minv!r} < theta))::DOUBLE / theta
      AS est_inter
  FROM d
)
SELECT type_a, type_b, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
  round(est_a, 4) AS est_a, round(est_b, 4) AS est_b,
  round(est_inter, 4) AS est_inter, round(est_union, 4) AS est_union,
  round(CASE WHEN est_union > 0 THEN est_inter / est_union ELSE 0.0 END, 4)
    AS est_jaccard
FROM e ORDER BY type_a, type_b
"""


def _streaming_kmv_oracle_sql(k: int = 512) -> str:
    """Exact oracle for ``streaming_kmv``: the union of the per-batch
    k-minimum sketches IS the global k-minimum of the distinct hashes
    (lossless KMV merge), so the oracle skips the batch structure
    entirely and rebuilds the global k-min statistic from the same
    engine-replayable LCG hash; n_shards pins the 4-micro-batch
    delivery."""
    from tsne_flink_spark.pipeline.sketches import _KMV_M, kmv_hash_sql

    h = kmv_hash_sql("ud")
    minv, km1 = float(_KMV_M + 1), float(k - 1)
    return f"""
WITH kd AS (
  SELECT DISTINCT event_type, (user_id * 100 + EXTRACT(day FROM ts)) AS ud
  FROM events
), h AS (
  SELECT DISTINCT event_type, {h} AS hv FROM kd
), r AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         count(*) OVER (PARTITION BY event_type) AS nd
  FROM h
), sk AS (
  SELECT event_type, count(*) AS n_kept, min(nd) AS nd,
         max(CASE WHEN rn = {k} THEN hv END) AS kth
  FROM r WHERE rn <= {k} GROUP BY event_type
)
SELECT event_type, n_kept::BIGINT AS n_kept,
  round(CASE WHEN nd < {k} THEN nd::DOUBLE
        ELSE {km1!r} / ((kth + 1.0) / {minv!r}) END, 4) AS est_distinct,
  CAST(4 AS BIGINT) AS n_shards
FROM sk ORDER BY event_type
"""


def _streaming_histogram_oracle_sql() -> str:
    """Exact oracle for ``streaming_histogram``: the histogram merge is
    an exact elementwise sum, so per-micro-batch sharding is invisible
    to the quantile readout — the one-shot quantile_hist oracle IS the
    answer, plus the n_shards constant pinning 4-micro-batch
    delivery."""
    return f"""
SELECT l_returnflag, q, est, CAST(4 AS BIGINT) AS n_shards
FROM ({_quantile_hist_oracle_sql()}) __qh
ORDER BY l_returnflag, q
"""


# Exact oracle for ``transition_feed``: the gate query's ts-quartile
# file split + sequential writes pin per-user delivery to global
# (ts, event_id) order, so the streaming feed's rollup equals the batch
# lead() window exactly (the same SQL as event_transitions); n_batches
# pins the 4-micro-batch state-spanning delivery.
_TRANSITION_FEED_ORACLE = """
WITH ordered AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
), counts AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n
  FROM ordered WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type)::DOUBLE, 6)
         AS p,
       CAST(4 AS BIGINT) AS n_batches
FROM counts
ORDER BY from_type, to_type
"""


# Triangle-census oracle over the SAME ngram-Jaccard miner CTE as
# dup_pagerank/_pagerank_oracle_sql (2-gram shingles, J >= 0.5).
_TRIANGLES_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ltok) - 1, 1) + 1),
           i -> array_to_string(list_slice(ltok, i, i + 1), ' ')
         )) AS grams
  FROM toks
), ex AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), cands AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), e AS MATERIALIZED (
  SELECT c.a, c.b
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b
  WHERE len(list_intersect(sa.grams, sb.grams))
        / greatest(len(list_distinct(list_concat(sa.grams, sb.grams))), 1)
        >= 0.5
), deg AS (
  SELECT v, count(*)::DOUBLE AS d
  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
  GROUP BY 1
), w AS (
  SELECT coalesce(sum(d * (d - 1) / 2), 0.0) AS n_wedges, count(*)::BIGINT AS n_nodes
  FROM deg
), t AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), m AS (SELECT count(*)::BIGINT AS n_edges FROM e)
SELECT n_nodes, n_edges, n_wedges::BIGINT AS n_wedges, n_triangles,
       round(CASE WHEN n_wedges > 0 THEN 3.0 * n_triangles / n_wedges
                  ELSE 0 END, 6) AS clustering_coefficient
FROM m, w, t
"""


def _pagerank_oracle_sql(iters: int = 10, damping: float = 0.85) -> str:
    """Exact oracle for ``dup_pagerank``: the ngram-Jaccard pair miner
    (same CTE as the ngram_jaccard_pairs oracle) feeding ``iters``
    unrolled synchronous power iterations.  The symmetrized edge set has
    no dangling nodes (every endpoint has an out-edge), matching the
    undirected Spark path where the dangling term is identically 0."""
    parts = [f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ltok) - 1, 1) + 1),
           i -> array_to_string(list_slice(ltok, i, i + 1), ' ')
         )) AS grams
  FROM toks
), ex AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), cands AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), pairs AS MATERIALIZED (
  SELECT c.a, c.b
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b
  WHERE len(list_intersect(sa.grams, sb.grams))
        / greatest(len(list_distinct(list_concat(sa.grams, sb.grams))), 1)
        >= 0.5
), edges AS MATERIALIZED (
  SELECT a AS s, b AS d FROM pairs
  UNION
  SELECT b AS s, a AS d FROM pairs
), nodes AS MATERIALIZED (
  SELECT DISTINCT s AS id FROM edges
), deg AS MATERIALIZED (
  SELECT s, count(*)::DOUBLE AS dg FROM edges GROUP BY s
), r0 AS MATERIALIZED (
  SELECT id, 1.0::DOUBLE AS rank FROM nodes
)"""]
    for t in range(iters):
        parts.append(f""", r{t+1} AS MATERIALIZED (
  SELECT n.id,
         {1.0 - damping!r} + {damping!r} * coalesce(c.inr, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.d AS id, sum(r.rank / dg.dg) AS inr
    FROM edges e
    JOIN r{t} r ON r.id = e.s
    JOIN deg dg ON dg.s = e.s
    GROUP BY e.d
  ) c ON c.id = n.id
)""")
    parts.append(f"""
SELECT id, round(rank, 6) AS rank FROM r{iters}""")
    return "".join(parts)


def _link_pagerank_oracle_sql(iters: int = 10, damping: float = 0.85) -> str:
    """Exact oracle for ``link_pagerank``: the arithmetic link-graph
    replay (same edge CTE as the link_triangles oracle, kept DIRECTED)
    feeding ``iters`` unrolled power iterations with the per-iteration
    dangling-mass term — domains that only ever appear as link TARGETS
    hold rank but no out-edges, and their mass redistributes uniformly,
    exactly mirroring the Spark operator's directed path."""
    parts = ["""
WITH tgt AS (
  SELECT (doc_id % 997)::BIGINT AS s, 0::BIGINT AS d FROM documents
  UNION ALL
  SELECT (doc_id % 997)::BIGINT, ((doc_id * 7 + 13) % 997)::BIGINT FROM documents
  UNION ALL
  SELECT (doc_id % 997)::BIGINT, ((doc_id * 31 + 5) % 997)::BIGINT FROM documents
), e AS MATERIALIZED (
  SELECT DISTINCT s, d FROM tgt WHERE s <> d
), nodes AS MATERIALIZED (
  SELECT DISTINCT id
  FROM (SELECT s AS id FROM e UNION ALL SELECT d AS id FROM e)
), nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes
), deg AS MATERIALIZED (
  SELECT s, count(*)::DOUBLE AS dg FROM e GROUP BY s
), r0 AS MATERIALIZED (
  SELECT id, 1.0::DOUBLE AS rank FROM nodes
)"""]
    for t in range(iters):
        parts.append(f""", d{t} AS (
  SELECT coalesce(sum(r.rank), 0.0)::DOUBLE AS m
  FROM r{t} r LEFT JOIN deg ON deg.s = r.id
  WHERE deg.s IS NULL
), r{t + 1} AS MATERIALIZED (
  SELECT n.id,
         {1.0 - damping!r} + {damping!r} * (coalesce(c.inr, 0.0)
           + (SELECT m FROM d{t}) / (SELECT n FROM nn)) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.d AS id, sum(r.rank / dg.dg) AS inr
    FROM e
    JOIN r{t} r ON r.id = e.s
    JOIN deg dg ON dg.s = e.s
    GROUP BY e.d
  ) c ON c.id = n.id
)""")
    parts.append(f"""
SELECT id AS dom, round(rank, 6) AS rank FROM r{iters}""")
    return "".join(parts)


def _link_communities_oracle_sql(iters: int = 4) -> str:
    """Exact oracle for ``link_communities``: the arithmetic link-graph
    replay (hub d0 stripped, then symmetrized/deduped exactly like the
    operator) feeding ``iters`` unrolled synchronous LPA rounds — per
    round, each node's new label is the most frequent neighbor label,
    smallest label on ties (max-count join + min aggregate, the SQL
    spelling of the operator's single max-of-struct)."""
    parts = ["""
WITH tgt AS (
  SELECT (doc_id % 997)::BIGINT AS s, 0::BIGINT AS d FROM documents
  UNION ALL
  SELECT (doc_id % 997)::BIGINT, ((doc_id * 7 + 13) % 997)::BIGINT FROM documents
  UNION ALL
  SELECT (doc_id % 997)::BIGINT, ((doc_id * 31 + 5) % 997)::BIGINT FROM documents
), e AS MATERIALIZED (
  SELECT DISTINCT s, d FROM (
    SELECT s, d FROM tgt UNION ALL SELECT d AS s, s AS d FROM tgt
  ) WHERE s <> d AND s <> 0 AND d <> 0
), l0 AS MATERIALIZED (
  SELECT DISTINCT s AS id, s AS lab FROM e
)"""]
    for t in range(iters):
        parts.append(f""", v{t} AS MATERIALIZED (
  SELECT e.d AS id, l.lab, count(*) AS c
  FROM e JOIN l{t} l ON l.id = e.s
  GROUP BY e.d, l.lab
), l{t + 1} AS MATERIALIZED (
  SELECT v.id, min(v.lab) AS lab
  FROM v{t} v
  JOIN (SELECT id, max(c) AS mc FROM v{t} GROUP BY id) m
    ON m.id = v.id AND v.c = m.mc
  GROUP BY v.id
)""")
    parts.append(f"""
SELECT id AS dom, lab AS community FROM l{iters}""")
    return "".join(parts)


def _weighted_sample_key() -> str:
    """The weighted_sample oracle's A-ES key expression — the package's
    own SQL spelling (curation.weighted_sample_key_sql), so both engines
    rank by the exact same double."""
    from tsne_flink_spark.pipeline.curation import weighted_sample_key_sql

    return weighted_sample_key_sql("doc_id", "n_chars + 1")


# Shared by bm25_scores (direct scorer) and bm25_index (index-served):
# the two Spark implementations are numerically identical by construction
# (tests/test_index.py::test_bm25_from_index_equals_direct), so they carry
# the SAME exact oracle.
_BM25_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS t
  FROM documents
), stats AS (
  SELECT count(*)::DOUBLE AS n, avg(len(t))::DOUBLE AS avgdl FROM toks
), words AS (
  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks
), q AS (
  SELECT unnest(['join', 'window', 'stream']) AS term
), dfreq AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM words WHERE term IN (SELECT term FROM q) GROUP BY term
), tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf, any_value(dl) AS dl
  FROM words WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
), contrib AS (
  SELECT tf.doc_id,
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)) AS c
  FROM tf JOIN dfreq d USING (term), stats s
)
SELECT doc_id, round(sum(c), 6) AS score FROM contrib GROUP BY doc_id
"""


def _c4_body_sql(n: int) -> str:
    lines = [
        f"'body sentence {k} of document ' || doc_id::VARCHAR || ' reads fine.'"
        for k in range(1, n + 1)
    ]
    return "concat_ws(chr(10), " + ", ".join(lines) + ")"


# SQL twin of _c4_augment (same moduli, same literals)
_C4_AUG_SQL = f"""
SELECT doc_id, concat_ws(chr(10),
  text,
  CASE WHEN doc_id % 11 = 0 THEN {_c4_body_sql(3)}
       ELSE {_c4_body_sql(6)} END,
  CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.' END,
  CASE WHEN doc_id % 7 = 1 THEN 'var config = {{ debug: true }};' END,
  CASE WHEN doc_id % 7 = 2 THEN 'please enable javascript to continue.' END,
  CASE WHEN doc_id % 7 = 3 THEN 'too shorty.' END,
  CASE WHEN doc_id % 7 = 4
       THEN 'this line has no terminal punctuation at all' END
) AS text FROM documents
"""

_C4_ORACLE = f"""
WITH aug AS ({_C4_AUG_SQL}
), feat AS (
  SELECT doc_id, text,
    string_split(text, chr(10)) AS lines,
    list_filter(string_split(text, chr(10)),
      l -> regexp_matches(l, '[.!?"”]$')
           AND len(list_filter(regexp_split_to_array(l, '\\s+'),
                               w -> w <> '')) >= 3
           AND NOT contains(lower(l), 'javascript')) AS kept,
    contains(lower(text), 'lorem ipsum') AS lorem,
    contains(text, '{{') AS brace
  FROM aug
)
SELECT doc_id,
  array_to_string(kept, chr(10)) AS text,
  len(lines)::BIGINT AS n_lines,
  len(kept)::BIGINT AS n_kept_lines,
  (lorem OR brace OR len(kept) < 5) AS killed,
  CASE WHEN lorem THEN 'lorem_ipsum'
       WHEN brace THEN 'curly_brace'
       WHEN len(kept) < 5 THEN 'too_few_sentences'
       ELSE '' END AS kill_reason
FROM feat
"""

# SQL twin of _gopher_augment
_GOPHER_AUG_SQL = """
SELECT doc_id, concat_ws(chr(10),
  concat_ws(' ',
    text,
    CASE WHEN doc_id % 3 <> 2
         THEN 'of and that have with plenty more words to read' END,
    CASE WHEN doc_id % 7 = 0
         THEN '#one #two #three #four #five #six #seven #eight' END),
  CASE WHEN doc_id % 5 = 0
       THEN '- bullet item listed here' || chr(10)
            || '- another bullet item here' END,
  CASE WHEN doc_id % 11 = 0 THEN 'click to read the whole story...' END
) AS text FROM documents
"""

def _gopher_oracle_sql() -> str:
    from tsne_flink_spark.pipeline.quality import GOPHER_STOPS

    stops = " + ".join(
        f"list_contains(lows, '{s}')::BIGINT" for s in GOPHER_STOPS
    )
    return f"""
WITH aug AS ({_GOPHER_AUG_SQL}
), feat AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS ws,
    string_split(text, chr(10)) AS lines,
    length(text) - length(replace(text, '#', '')) AS n_hash,
    (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g')))
      / 3.0 AS n_ell
  FROM aug
), m AS (
  SELECT doc_id, ws,
    list_transform(ws, w -> lower(w)) AS lows,
    len(ws)::BIGINT AS n_words,
    round(coalesce(list_sum(list_transform(ws, w -> length(w))), 0)::DOUBLE
          / greatest(len(ws), 1), 6) AS mean_word_len,
    round((n_hash + n_ell) / greatest(len(ws), 1), 6) AS symbol_word_ratio,
    round(len(list_filter(lines,
                          l -> regexp_matches(l, '^\\s*[-*•‣▪]')))::DOUBLE
          / greatest(len(lines), 1), 6) AS bullet_line_frac,
    round(len(list_filter(lines,
                          l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))::DOUBLE
          / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
    round(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
          / greatest(len(ws), 1), 6) AS alpha_word_frac
  FROM feat
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
  ellipsis_line_frac, alpha_word_frac,
  ({stops})::BIGINT AS n_stop_hits,
  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
   AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
   AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
   AND ({stops}) >= 2) AS passed
FROM m
"""


def _bpe_oracle_sql(
    n_merges: int = 64, max_words: int = 65536, preview: int = 30
) -> str:
    """Exact DuckDB oracle for ``bpe_tokens``: the whole BPE train+apply
    replayed in unrolled SQL (like the bisection oracle), independent of
    the Spark implementation.

    Faithfulness argument, mirrored from pipeline/bpe.py:

    - one training stage = count adjacent symbol pairs over the capped
      word table (weighted by word frequency), pick the best (count desc,
      then pair lexicographic — VARCHAR binary collation equals Python's
      tuple compare for UTF-8), and merge its occurrences left-to-right
      non-overlapping.  Only an a=a pair can have ADJACENT occurrences
      (a run); keeping odd ranks within each consecutive-position run
      reproduces the left-to-right scan (``aaaaa`` -> [aa, aa, a]).
    - applying merges in TRAINING ORDER equals the greedy
      lowest-rank-first applier (``encode_word``): any pair involving a
      merged symbol necessarily ranks after every merge that constructs
      that symbol, so rank-r occurrences can only be enabled by ranks
      < r, which a rank-ordered replay has already applied.
    - the apply stages run over ALL distinct words (train counts filter
      on the capped subset via the ``cap`` flag), so encoding stays exact
      even if the 65536-word cap ever binds.
    - EOW = chr(10), matching bpe.EOW ("\\n" — no whitespace-split token
      can contain it).

    One stage = 4 materialized CTEs (lead view, best pair, merge starts,
    rebuild); 64 stages run in ~4-5 s on DuckDB at sf0.1."""
    parts = [f"""
WITH dws AS MATERIALIZED (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> '') AS ws
  FROM documents
), wf AS MATERIALIZED (
  SELECT word, n, rk <= {max_words} AS cap FROM (
    SELECT word, count(*)::BIGINT AS n,
           row_number() OVER (ORDER BY count(*) DESC, word) AS rk
    FROM (SELECT unnest(ws) AS word FROM dws)
    GROUP BY word
  )
), s0 AS MATERIALIZED (
  SELECT word, n, cap, generate_subscripts(syms, 1) - 1 AS i, unnest(syms) AS s
  FROM (SELECT word, n, cap,
               list_append(string_split(word, ''), chr(10)) AS syms
        FROM wf)
)"""]
    for t in range(n_merges):
        parts.append(f""", l{t} AS MATERIALIZED (
  SELECT word, n, cap, i, s,
         lead(s) OVER (PARTITION BY word ORDER BY i) AS nx
  FROM s{t}
), b{t} AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT s AS a, nx AS b, sum(n) AS cnt
    FROM l{t} WHERE cap AND nx IS NOT NULL
    GROUP BY s, nx
  ) WHERE cnt >= 2 ORDER BY cnt DESC, a, b LIMIT 1
), m{t} AS MATERIALIZED (
  SELECT word, i FROM (
    SELECT word, i,
           row_number() OVER (
             PARTITION BY word, i - rn ORDER BY i) AS run_rank
    FROM (
      SELECT l.word, l.i,
             row_number() OVER (PARTITION BY l.word ORDER BY l.i) AS rn
      FROM l{t} l JOIN b{t} ON l.s = b{t}.a AND l.nx = b{t}.b
    )
  ) WHERE run_rank % 2 = 1
), s{t+1} AS MATERIALIZED (
  SELECT word, n, cap,
         row_number() OVER (PARTITION BY word ORDER BY i) - 1 AS i, s
  FROM (
    SELECT word, n, cap, i,
           CASE WHEN m THEN s || nx ELSE s END AS s,
           lag(m, 1, FALSE) OVER (PARTITION BY word ORDER BY i) AS pm
    FROM (
      SELECT l.word, l.n, l.cap, l.i, l.s, l.nx,
             mm.word IS NOT NULL AS m
      FROM l{t} l LEFT JOIN m{t} mm ON mm.word = l.word AND mm.i = l.i
    )
  ) WHERE NOT pm
)""")
    n = n_merges
    parts.append(f""", enc AS MATERIALIZED (
  SELECT word, list(s ORDER BY i) AS toks, count(*)::BIGINT AS n_tok
  FROM s{n} GROUP BY word
), docw AS (
  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
  FROM dws
), per_doc AS (
  SELECT d.doc_id, count(*)::BIGINT AS n_words,
         sum(e.n_tok)::BIGINT AS n_tokens,
         flatten(list(e.toks ORDER BY d.pos)) AS all_toks
  FROM docw d JOIN enc e ON e.word = d.w
  GROUP BY d.doc_id
)
SELECT doc_id, n_words, n_tokens,
       array_to_string(all_toks[1:{preview}], '|') AS tokens_preview
FROM per_doc
UNION ALL
SELECT doc_id, 0::BIGINT, 0::BIGINT, ''
FROM dws WHERE len(ws) = 0""")
    return "".join(parts)


# Shared recursive-CTE: exact 2-gram-Jaccard near-dup connected components
# (threshold 0.5) — the transitive-closure computation behind BOTH the
# dup_clusters oracle and the leakage_split oracle.  Ends with comps(id,
# comp); callers append their own final SELECT.
_DUP_COMPS_CTE = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ltok) - 1, 1) + 1),
           i -> array_to_string(list_slice(ltok, i, i + 1), ' ')
         )) AS grams
  FROM toks
), ex AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), cands AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT c.a, c.b FROM cands c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b
  WHERE len(list_intersect(sa.grams, sb.grams))
        / greatest(len(list_distinct(list_concat(sa.grams, sb.grams))), 1) >= 0.5
), sym AS (
  SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
), walk AS (
  SELECT a AS id, a AS comp FROM sym GROUP BY a
  UNION
  SELECT s.b AS id, w.comp FROM walk w JOIN sym s ON s.a = w.id
), comps AS (
  SELECT id, MIN(comp) AS comp FROM walk GROUP BY id
)
"""


def oracle_sql() -> dict[str, str]:
    from tsne_flink_spark.pipeline.curation import lcg_bucket_sql

    _LCG_BUCKET_SQL = _lcg_bucket_sql_expr()
    _CLUSTER_BUCKET_SQL = lcg_bucket_sql("COALESCE(c.comp, d.doc_id)")
    _ws_key = _weighted_sample_key()
    sql = {
        "knn_bruteforce": _KNN_ORACLE,
        "knn_partition": _KNN_ORACLE,
        "pairwise_affinities": _bisection_oracle_sql(),
        "joint_distribution": """
WITH coo AS (
  SELECT (l_orderkey % 100)::INT AS i, (l_partkey % 100)::INT AS j, l_quantity AS v
  FROM lineitem WHERE (l_orderkey % 100) <> (l_partkey % 100)
), u AS (
  SELECT i, j, v FROM coo UNION ALL SELECT j AS i, i AS j, v FROM coo
), g AS (
  SELECT i, j, SUM(v) AS v FROM u GROUP BY i, j
), t AS (SELECT SUM(v) AS s FROM g)
SELECT g.i, g.j, round(g.v / t.s, 9) AS v FROM g, t
""",
        "grouped_topk_orders": """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn::INT AS rn
FROM ranked WHERE rn <= 3
""",
        "global_aggregates": """
SELECT COUNT(*)::BIGINT AS n_rows,
       round(SUM(l_quantity), 4) AS sum_qty,
       round(MIN(l_extendedprice), 4) AS min_price,
       round(MAX(l_extendedprice), 4) AS max_price,
       round(AVG(l_discount), 8) AS avg_discount
FROM lineitem
""",
        "distinct_pairs": """
SELECT DISTINCT o_custkey, o_orderstatus FROM orders
""",
        # The three *_dedup_check oracles are the constant (0, 0) row: the
        # survivor sets are hash-/seed-specific (not SQL-reproducible), so
        # the Spark side computes deterministic invariant VIOLATION COUNTS
        # over its own output — soundness (every kill justified by an
        # exact-similarity lower-id partner, recomputed from scratch) and
        # candidate-set completeness (no surviving band-colliding pair above
        # the exact threshold).  A correct implementation yields exactly
        # (0, 0), so the driver's hash comparison IS the invariant check.
        "minhash_dedup_check": _DEDUP_CHECK_ORACLE,
        "simhash_dedup_check": _DEDUP_CHECK_ORACLE,
        "embedding_dedup_check": _DEDUP_CHECK_ORACLE,
        # same verified-invariant pattern for the approximate ANN / kNN ops
        "ann_lsh_check": _ANN_CHECK_ORACLE,
        "ann_ivf_check": _ANN_CHECK_ORACLE,
        "ann_pq_check": _ANN_CHECK_ORACLE,
        "knn_project_check": """
SELECT CAST(0 AS BIGINT) AS bad_dist,
       CAST(0 AS BIGINT) AS overfull_points,
       CAST(0 AS BIGINT) AS self_edges,
       CAST(0 AS BIGINT) AS dup_pairs
""",
        "multimodal_check": """
SELECT CAST(0 AS BIGINT) AS bad_feature_rows,
       CAST(0 AS BIGINT) AS row_count_delta
""",
        "audio_check": """
SELECT CAST(0 AS BIGINT) AS bad_feature_rows,
       CAST(0 AS BIGINT) AS row_count_delta
""",
        "sketch_distinct_check": """
SELECT CAST(0 AS BIGINT) AS bad_groups
""",
        "approx_quantile_check": """
SELECT CAST(0 AS BIGINT) AS rank_bound_violations
""",
        "bpe_tokens": _bpe_oracle_sql(),
        "bpe_tokens_check": """
SELECT CAST(0 AS BIGINT) AS row_count_delta,
       CAST(0 AS BIGINT) AS detok_mismatches,
       CAST(0 AS BIGINT) AS token_bound_violations
""",
        "projection_check": """
SELECT CAST(0 AS BIGINT) AS pca_row_delta,
       CAST(0 AS BIGINT) AS pca_variance_mismatches,
       CAST(0 AS BIGINT) AS pca_orthonormality_violation,
       CAST(0 AS BIGINT) AS pca_variance_order_violation,
       CAST(0 AS BIGINT) AS rp_row_delta,
       CAST(0 AS BIGINT) AS rp_nonfinite_rows,
       CAST(0 AS BIGINT) AS rp_norm_ratio_violation
""",
        "language_id_ngram": _language_id_ngram_oracle(),
        "video_frames": """
SELECT d.doc_id, f.frame_idx, CAST(203 AS BIGINT) AS frame_len
FROM documents d
CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (10), (20)) AS f(frame_idx)
""",
        "stratified_take": f"""
WITH b AS (
  SELECT doc_id, lang, {_lcg_bucket_sql_expr(1 << 30)} AS ok FROM documents
), r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY ok, doc_id) AS rn
  FROM b
)
SELECT doc_id, lang FROM r WHERE rn <= 20
""",
        "tsne_embedding_check": """
SELECT CAST(0 AS BIGINT) AS row_count_delta,
       CAST(0 AS BIGINT) AS nonfinite_rows,
       CAST(0 AS BIGINT) AS uncentered_y0,
       CAST(0 AS BIGINT) AS uncentered_y1,
       CAST(0 AS BIGINT) AS dup_id_delta
""",
        "dup_walk_embeddings_check": """
SELECT CAST(0 AS BIGINT) AS missing_nodes,
       CAST(0 AS BIGINT) AS extra_nodes,
       CAST(0 AS BIGINT) AS bad_dim,
       CAST(0 AS BIGINT) AS nonfinite_rows,
       CAST(0 AS BIGINT) AS sim_margin_low
""",
        "countmin_tokens": _COUNTMIN_ORACLE,
        # the streaming store unions to the SAME counters the one-shot
        # sketch builds, so the batch oracle replays it; n_shards pins
        # the 4-file -> 4-micro-batch ingestion
        "streaming_countmin": _COUNTMIN_ORACLE.replace(
            "::BIGINT AS over",
            "::BIGINT AS over, 4::BIGINT AS n_shards",
        ),
        "snapshot_diff": _SNAPSHOT_DIFF_ORACLE,
        "winsorized_prices": _WINSORIZE_ORACLE,
        "hybrid_retrieval": _hybrid_retrieval_oracle(),
        "lang_source_association": _ASSOCIATION_ORACLE,
        "embedding_decontaminate": _EMB_DECON_ORACLE,
        "centering": """
WITH emb AS (
  SELECT vec_id::INT AS id,
         CAST(embedding[1] AS DOUBLE) AS y0, CAST(embedding[2] AS DOUBLE) AS y1
  FROM embeddings
), m AS (SELECT AVG(y0) AS m0, AVG(y1) AS m1 FROM emb)
SELECT id, round(y0 - m0, 6) AS y0, round(y1 - m1, 6) AS y1 FROM emb, m
""",
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 4) AS sum_qty,
       round(SUM(l_extendedprice), 4) AS sum_base_price,
       round(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(AVG(l_quantity), 6) AS avg_qty,
       COUNT(*)::BIGINT AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
        "promo_revenue_monthly": """
SELECT strftime(l_shipdate, '%Y-%m') AS month,
       round(100.0 * SUM(CASE WHEN p_type = 'ECONOMY'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
                   / SUM(l_extendedprice * (1 - l_discount)), 6)
         AS promo_share_pct,
       round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(*)::BIGINT AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1996-01' AND '1996-12'
GROUP BY 1
ORDER BY 1
""",
        "top_revenue_orders": """
SELECT l_orderkey, round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
        "regional_revenue": """
SELECT r_name, n_name,
       round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(*)::BIGINT AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
""",
        "events_by_user_segment": """
SELECT c_mktsegment, event_type,
       COUNT(*)::BIGINT AS n_events, round(SUM(value), 4) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
ORDER BY c_mktsegment, event_type
""",
        "windowed_event_counts": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*)::BIGINT AS n_events, round(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
""",
        "sessionize": """
WITH gaps AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM gaps
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*)::BIGINT AS n_events,
       round(SUM(value), 4) AS sum_value
FROM sessions
GROUP BY user_id, session_seq
ORDER BY user_id, session_start
""",
        "text_stats": """
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))::BIGINT AS n_tokens,
       length(text)::BIGINT AS n_chars_obs,
       round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
             / greatest(length(text), 1), 6) AS punct_ratio,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
FROM documents
""",
        "stopword_ratio": """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ts
  FROM documents
)
SELECT doc_id,
       round(len(list_filter(ts, t -> t IN
             ('the','a','and','of','to','in','is','it','that','for')))
             / greatest(len(ts), 1), 6) AS stop_ratio
FROM toks
""",
        "ngram_jaccard_pairs": """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ltok) - 1, 1) + 1),
           i -> array_to_string(list_slice(ltok, i, i + 1), ' ')
         )) AS grams
  FROM toks
), ex AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), cands AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT c.a, c.b,
         len(list_intersect(sa.grams, sb.grams))
           / greatest(len(list_distinct(list_concat(sa.grams, sb.grams))), 1) AS j
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b
)
SELECT a, b, round(j, 6) AS jaccard FROM scored WHERE j >= 0.5
""",
        "exact_dedup": """
WITH fp AS (
  SELECT doc_id, lang, source,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f,
         row_number() OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                            ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang, source FROM fp WHERE rn = 1
""",
        "exact_substr_dedup": f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || ' {_LICENSE_FOOTER}'
              ELSE text END AS text
  FROM documents
), toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> t <> '') AS t
  FROM aug
), grams AS (
  SELECT doc_id, unnest(range(0, greatest(len(t) - 7, 0))) AS pos, t
  FROM toks
), keyed AS (
  SELECT doc_id, pos,
         md5(array_to_string(t[pos + 1 : pos + 8], chr(1))) AS gram
  FROM grams
), dup AS (
  SELECT gram FROM keyed GROUP BY gram HAVING COUNT(*) >= 2
), hits AS (
  SELECT k.doc_id, k.pos FROM keyed k JOIN dup USING (gram)
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                   OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
              THEN 1 ELSE 0 END AS brk
  FROM hits
), islands AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM flagged
), spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 8 AS e
  FROM islands GROUP BY doc_id, isl
), doc_stats AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_dup_spans,
         SUM(e - s)::BIGINT AS tokens_removed
  FROM spans GROUP BY doc_id
), tokpos AS (
  SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS k FROM toks
), kept AS (
  SELECT tp.doc_id, tp.k, tp.tok
  FROM tokpos tp
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = tp.doc_id
                      AND tp.k >= s.s AND tp.k < s.e)
), clean AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY k) AS text
  FROM kept GROUP BY doc_id
)
SELECT a.doc_id,
       COALESCE(c.text, '') AS text,
       COALESCE(ds.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       COALESCE(ds.tokens_removed, 0)::BIGINT AS tokens_removed
FROM aug a
LEFT JOIN clean c USING (doc_id)
LEFT JOIN doc_stats ds USING (doc_id)
""",
        "corpus_shards": """
WITH ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY md5('42:' || doc_id::VARCHAR), doc_id)
           - 1 AS r
  FROM documents
)
SELECT doc_id, (r % 8)::BIGINT AS shard, (r // 8)::BIGINT AS rank_in_shard
FROM ranked
""",
        "bm25_scores": _BM25_ORACLE,
        "bm25_index": _BM25_ORACLE,
        "compression_check": """
SELECT CAST(0 AS BIGINT) AS row_count_delta,
       CAST(0 AS BIGINT) AS ratio_range_violations,
       CAST(0 AS BIGINT) AS repetition_monotonicity_violations
""",
        "chunk_documents": """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> t <> '') AS t
  FROM documents
), pos AS (
  SELECT doc_id, unnest(range(0, ((len(t) - 1) // 8) + 1)) AS chunk_id, t
  FROM toks WHERE len(t) > 0
)
SELECT doc_id, chunk_id::INT AS chunk_id,
       len(t[chunk_id * 8 + 1 : chunk_id * 8 + 16])::BIGINT AS n_tokens,
       array_to_string(t[chunk_id * 8 + 1 : chunk_id * 8 + 16], ' ')
         AS chunk_text
FROM pos
""",
        "lm_perplexity": """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS t
  FROM documents
), pos AS (
  SELECT doc_id, unnest(range(1, len(t) + 1)) AS j, t
  FROM toks WHERE len(t) >= 1
), ev AS (
  SELECT doc_id,
         CASE WHEN j = 1 THEN '<s>' ELSE t[j - 1] END AS w1,
         t[j] AS w2
  FROM pos
), c2 AS (
  SELECT w1, w2, count(*)::DOUBLE AS c2 FROM ev GROUP BY w1, w2
), c1 AS (
  SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1
), v AS (
  SELECT count(DISTINCT w2)::DOUBLE AS v FROM c2
), scored AS (
  SELECT ev.doc_id,
         count(*)::BIGINT AS n_tokens,
         round(avg(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v))), 6) AS alp
  FROM ev JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
  GROUP BY ev.doc_id
)
SELECT doc_id, n_tokens, alp AS avg_logprob,
       round(exp(-alp), 4) AS perplexity
FROM scored
""",
        "perplexity_split_exact": """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS t
  FROM documents
), pos AS (
  SELECT doc_id, unnest(range(1, len(t) + 1)) AS j, t
  FROM toks WHERE len(t) >= 1
), ev AS (
  SELECT doc_id,
         CASE WHEN j = 1 THEN '<s>' ELSE t[j - 1] END AS w1,
         t[j] AS w2
  FROM pos
), c2 AS (
  SELECT w1, w2, count(*)::DOUBLE AS c2 FROM ev GROUP BY w1, w2
), c1 AS (
  SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1
), v AS (
  SELECT count(DISTINCT w2)::DOUBLE AS v FROM c2
), scored AS (
  SELECT ev.doc_id,
         count(*)::BIGINT AS n_tokens,
         round(avg(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v))), 6) AS alp
  FROM ev JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
  GROUP BY ev.doc_id
)
SELECT doc_id, n_tokens, alp AS avg_logprob,
       round(exp(-alp), 4) AS perplexity,
       (NTILE(3) OVER (ORDER BY round(exp(-alp), 4), doc_id) - 1)::BIGINT
         AS bucket
FROM scored
""",
        "lm_perplexity_interp": """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS t
  FROM documents
), pos AS (
  SELECT doc_id, unnest(range(1, len(t) + 1)) AS j, t
  FROM toks WHERE len(t) >= 1
), ev AS (
  SELECT doc_id,
         CASE WHEN j = 1 THEN '<s>' ELSE t[j - 1] END AS w1,
         t[j] AS w2
  FROM pos
), c2 AS (
  SELECT w1, w2, count(*)::DOUBLE AS c2 FROM ev GROUP BY w1, w2
), c1 AS (
  SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1
), uni AS (
  SELECT w2, sum(c2) AS u FROM c2 GROUP BY w2
), g AS (
  SELECT count(DISTINCT w2)::DOUBLE AS v, sum(c2)::DOUBLE AS t FROM c2
), scored AS (
  SELECT ev.doc_id,
         count(*)::BIGINT AS n_tokens,
         round(avg(ln(0.7 * c2.c2 / c1.c1
                      + 0.3 * (uni.u + 0.5) / (g.t + 0.5 * g.v))), 6) AS alp
  FROM ev JOIN c2 USING (w1, w2) JOIN c1 USING (w1) JOIN uni USING (w2), g
  GROUP BY ev.doc_id
)
SELECT doc_id, n_tokens, alp AS avg_logprob,
       round(exp(-alp), 4) AS perplexity
FROM scored
""",
        "tfidf_top_terms": """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
                t -> t <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (ln((1.0 + n.n) / (1.0 + dfreq.df)) + 1.0) AS w
  FROM tf JOIN dfreq ON tf.term = dfreq.term, n
), ranked AS (
  SELECT doc_id, term, w,
         row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, round(w, 6) AS tfidf, rn::INT AS rn FROM ranked WHERE rn <= 5
""",
        "tfidf_cosine_pairs": """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
                t -> t <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (ln((1.0 + n.n) / (1.0 + dfreq.df)) + 1.0) AS w
  FROM tf JOIN dfreq ON tf.term = dfreq.term, n
), norms AS (
  SELECT doc_id, sqrt(SUM(w * w)) AS norm FROM scored GROUP BY doc_id
), dots AS (
  SELECT x.doc_id AS a, y.doc_id AS b, SUM(x.w * y.w) AS dot
  FROM scored x JOIN scored y ON x.term = y.term AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT a, b, round(dot / (na.norm * nb.norm), 6) AS cosine
FROM dots
JOIN norms na ON na.doc_id = a
JOIN norms nb ON nb.doc_id = b
WHERE dot / (na.norm * nb.norm) >= 0.6
""",
        "language_id": """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok
  FROM documents
), scores AS (
  SELECT doc_id,
    len(list_filter(ltok, t -> list_contains(['the','a','and','of','to','in','is','it','that','for'], t))) AS s_en,
    len(list_filter(ltok, t -> list_contains(['der','die','das','und','ist','ein','zu','mit','von','nicht'], t))) AS s_de,
    len(list_filter(ltok, t -> list_contains(['le','la','les','et','de','un','une','est','que','pour'], t))) AS s_fr,
    len(list_filter(ltok, t -> list_contains(['el','la','los','y','de','un','una','es','que','por'], t))) AS s_es
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
       ELSE 'es' END AS lang_pred
FROM scores
""",
        "sliding_user_activity": """
WITH ev AS (SELECT epoch(ts) AS e, user_id FROM events),
expanded AS (
  SELECT unnest(generate_series(
           (floor((e - 3600) / 1800))::BIGINT + 1,
           (floor(e / 1800))::BIGINT)) * 1800 AS ws,
         user_id
  FROM ev
)
SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       strftime(make_timestamp((ws + 3600) * 1000000), '%Y-%m-%d %H:%M:%S')
         AS window_end,
       COUNT(DISTINCT user_id)::BIGINT AS n_users
FROM expanded GROUP BY ws ORDER BY ws
""",
        "session_overlap": """
WITH gaps AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM gaps
), sess AS (
  SELECT user_id AS sess_user, MIN(ts) AS s0, MAX(ts) AS s1
  FROM numbered GROUP BY user_id, session_seq
  HAVING COUNT(*) >= 2
)
SELECT s.sess_user,
       strftime(s.s0, '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*)::BIGINT AS n_overlapping,
       round(SUM(e.value), 4) AS sum_value
FROM sess s
JOIN events e ON e.ts >= s.s0 AND e.ts < s.s1
GROUP BY s.sess_user, s.s0
ORDER BY s.sess_user, session_start
""",
        "event_order_asof": """
WITH ords AS (
  SELECT o_custkey AS user_id,
         o_orderdate::TIMESTAMP AS ts_ord,
         COUNT(*)::BIGINT AS n_orders,
         round(MAX(o_totalprice), 4) AS max_price
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       strftime(o.ts_ord, '%Y-%m-%d') AS order_date,
       o.n_orders, o.max_price
FROM events e
ASOF LEFT JOIN ords o
  ON e.user_id = o.user_id AND o.ts_ord <= e.ts
ORDER BY e.event_id
""",
        "event_rollup": """
SELECT event_type,
       GROUPING(event_type)::INT AS is_total,
       COUNT(*)::BIGINT AS n_events,
       round(SUM(value), 4) AS sum_value
FROM events
GROUP BY ROLLUP(event_type)
ORDER BY is_total, event_type
""",
        "user_totals": """
SELECT user_id,
       COUNT(*)::BIGINT AS n_events,
       round(SUM(value), 4) AS sum_value
FROM events GROUP BY user_id ORDER BY user_id
""",
        "doc_fingerprint": """
WITH codes AS (
  SELECT doc_id,
         list_transform(string_split(text, ''), ch -> ord(ch)::BIGINT) AS codes
  FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN len(codes) >= 8 THEN
           list_transform(range(1, greatest(len(codes) - 7, 1) + 1),
             i -> list_reduce(list_prepend(0::BIGINT, list_slice(codes, i, i + 7)),
                              (a, b) -> (a * 257 + b) % 1000000007))
         ELSE []::BIGINT[] END AS grams
  FROM codes
), fps AS (
  SELECT doc_id,
         CASE WHEN len(grams) >= 4 THEN
           list_distinct(list_transform(range(1, greatest(len(grams) - 3, 1) + 1),
             j -> list_aggregate(list_slice(grams, j, j + 3), 'min')))
         ELSE []::BIGINT[] END AS fps
  FROM grams
)
SELECT doc_id, unnest(fps)::BIGINT AS fp FROM fps
""",
        "winnow_overlap": """
WITH codes AS (
  SELECT doc_id,
         list_transform(string_split(text, ''), ch -> ord(ch)::BIGINT) AS codes
  FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN len(codes) >= 8 THEN
           list_transform(range(1, greatest(len(codes) - 7, 1) + 1),
             i -> list_reduce(list_prepend(0::BIGINT, list_slice(codes, i, i + 7)),
                              (a, b) -> (a * 257 + b) % 1000000007))
         ELSE []::BIGINT[] END AS grams
  FROM codes
), fpl AS (
  SELECT doc_id,
         CASE WHEN len(grams) >= 4 THEN
           list_distinct(list_transform(range(1, greatest(len(grams) - 3, 1) + 1),
             j -> list_aggregate(list_slice(grams, j, j + 3), 'min')))
         ELSE []::BIGINT[] END AS fps
  FROM grams
), fps AS (
  SELECT doc_id, unnest(fps)::BIGINT AS fp FROM fpl
), kept AS (
  SELECT fps.doc_id, fps.fp FROM fps
  JOIN (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100) ok USING (fp)
)
SELECT x.doc_id::BIGINT AS a, y.doc_id::BIGINT AS b, count(*)::BIGINT AS n_shared
FROM kept x JOIN kept y USING (fp)
WHERE x.doc_id < y.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3
""",
        "token_counts": """
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))::BIGINT AS n_tokens,
       (len(regexp_extract_all(text, '[A-Za-z0-9]+'))
        + length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')))::BIGINT AS n_bpe_tokens
FROM documents
""",
        "dup_clusters": _DUP_COMPS_CTE + """
SELECT d.doc_id,
       COALESCE(c.comp, d.doc_id)::BIGINT AS cluster_id,
       (COALESCE(c.comp, d.doc_id) = d.doc_id)::INT AS keep
FROM documents d LEFT JOIN comps c ON c.id = d.doc_id
""",
        "leakage_split": _DUP_COMPS_CTE + f"""
SELECT d.doc_id,
       COALESCE(c.comp, d.doc_id)::BIGINT AS cluster_id,
       CASE WHEN {_CLUSTER_BUCKET_SQL} < 90 THEN 'train'
            WHEN {_CLUSTER_BUCKET_SQL} < 95 THEN 'val'
            ELSE 'test' END AS split
FROM documents d LEFT JOIN comps c ON c.id = d.doc_id
""",
        "decontaminate": """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ltok) - 4, 1) + 1),
           i -> array_to_string(list_slice(ltok, i, i + 4), ' ')
         )) AS grams
  FROM toks
), tr AS (
  SELECT doc_id, unnest(grams) AS g FROM sh WHERE doc_id % 10 <> 0
), ev AS (
  SELECT doc_id AS ev_id, unnest(grams) AS g FROM sh WHERE doc_id % 10 = 0
), hits AS (
  SELECT tr.doc_id,
         COUNT(DISTINCT tr.g) AS n_shared_grams,
         COUNT(DISTINCT ev.ev_id) AS n_holdout_docs
  FROM tr JOIN ev ON tr.g = ev.g
  GROUP BY tr.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_shared_grams, 0)::BIGINT AS n_shared_grams,
       COALESCE(h.n_holdout_docs, 0)::BIGINT AS n_holdout_docs,
       (COALESCE(h.n_shared_grams, 0) >= 1)::INT AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 10 <> 0
""",
        "stratified_sample": f"""
SELECT doc_id, lang, {_LCG_BUCKET_SQL}::BIGINT AS sample_bucket
FROM documents
WHERE {_LCG_BUCKET_SQL} <
      CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30 WHEN 'fr' THEN 20
                WHEN 'es' THEN 10 ELSE 5 END
""",
        "pack_sequences": """
WITH toks AS (
  SELECT doc_id, source,
         (len(regexp_extract_all(text, '[A-Za-z0-9]+'))
          + length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')))::BIGINT AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT doc_id, source, n_tokens,
       ((cum - n_tokens) // 2048)::BIGINT AS pack_id,
       ((cum - n_tokens) % 2048)::BIGINT AS pack_offset,
       (greatest((cum - CASE WHEN n_tokens > 0 THEN 1 ELSE 0 END) // 2048,
                 (cum - n_tokens) // 2048)
        - (cum - n_tokens) // 2048 + 1)::BIGINT AS n_packs
FROM cum
""",
        "curation_pipeline": f"""
WITH RECURSIVE train AS (
  SELECT doc_id, text, lang FROM documents WHERE doc_id % 10 <> 0
), fp AS (
  SELECT doc_id, text, lang,
         row_number() OVER (
           PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
           ORDER BY doc_id) AS rn
  FROM train
), exact_kill AS (
  SELECT doc_id FROM fp WHERE rn > 1
), surv1 AS (
  SELECT doc_id, text, lang FROM fp WHERE rn = 1
), toks1 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok
  FROM surv1
), sh1 AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ltok) - 1, 1) + 1),
           i -> array_to_string(list_slice(ltok, i, i + 1), ' ')
         )) AS grams
  FROM toks1
), ex1 AS (
  SELECT doc_id, unnest(grams) AS g FROM sh1
), cands AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM ex1 x JOIN ex1 y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT c.a, c.b FROM cands c
  JOIN sh1 sa ON sa.doc_id = c.a
  JOIN sh1 sb ON sb.doc_id = c.b
  WHERE len(list_intersect(sa.grams, sb.grams))
        / greatest(len(list_distinct(list_concat(sa.grams, sb.grams))), 1) >= 0.5
), sym AS (
  SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
), walk AS (
  SELECT a AS id, a AS comp FROM sym GROUP BY a
  UNION
  SELECT s.b AS id, w.comp FROM walk w JOIN sym s ON s.a = w.id
), comps AS (
  SELECT id, MIN(comp) AS comp FROM walk GROUP BY id
), near_kill AS (
  SELECT id AS doc_id FROM comps WHERE comp <> id
), surv2 AS (
  SELECT * FROM surv1 WHERE doc_id NOT IN (SELECT doc_id FROM near_kill)
), grams5 AS (
  SELECT d.doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t.ltok) - 4, 1) + 1),
           i -> array_to_string(list_slice(t.ltok, i, i + 4), ' ')
         )) AS grams
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok
        FROM documents) t JOIN documents d USING (doc_id)
), cont_kill AS (
  SELECT DISTINCT s.doc_id
  FROM (SELECT g5.doc_id, unnest(g5.grams) AS g
        FROM grams5 g5 JOIN surv2 USING (doc_id)) s
  JOIN (SELECT DISTINCT unnest(grams) AS g
        FROM grams5 WHERE doc_id % 10 = 0) e ON s.g = e.g
), surv3 AS (
  SELECT * FROM surv2 WHERE doc_id NOT IN (SELECT doc_id FROM cont_kill)
), feats AS (
  SELECT doc_id, lang,
         len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS n_tokens,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
           / greatest(length(text), 1) AS punct_ratio,
         len(list_filter(
             list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> ''),
             t -> t IN ('the','a','and','of','to','in','is','it','that','for')))::DOUBLE
           / greatest(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                      t -> t <> '')), 1) AS stop_ratio
  FROM surv3
), q AS (
  SELECT doc_id, lang,
         (least(n_tokens / 100.0, 1.0)
          + (1.0 - least(punct_ratio * 4.0, 1.0))
          + least(stop_ratio * 5.0, 1.0)) / 3.0 AS quality
  FROM feats
), lowq_kill AS (
  SELECT doc_id FROM q WHERE quality < 0.55
), kept AS (
  SELECT doc_id FROM q
  WHERE quality >= 0.55
    AND {_LCG_BUCKET_SQL} <
        CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30 WHEN 'fr' THEN 20
                  WHEN 'es' THEN 10 ELSE 5 END
)
SELECT d.doc_id,
  CASE WHEN d.doc_id % 10 = 0 THEN 'holdout'
       WHEN ek.doc_id IS NOT NULL THEN 'exact_dup'
       WHEN nk.doc_id IS NOT NULL THEN 'near_dup'
       WHEN ck.doc_id IS NOT NULL THEN 'contaminated'
       WHEN lk.doc_id IS NOT NULL THEN 'low_quality'
       WHEN kp.doc_id IS NOT NULL THEN 'kept'
       ELSE 'not_sampled' END AS stage
FROM documents d
LEFT JOIN exact_kill ek ON ek.doc_id = d.doc_id
LEFT JOIN near_kill nk ON nk.doc_id = d.doc_id
LEFT JOIN cont_kill ck ON ck.doc_id = d.doc_id
LEFT JOIN lowq_kill lk ON lk.doc_id = d.doc_id
LEFT JOIN kept kp ON kp.doc_id = d.doc_id
""",
        "source_stats": """
WITH d AS (
  SELECT source, length(text) AS L,
         (len(regexp_extract_all(text, '[A-Za-z0-9]+'))
          + length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))) AS T
  FROM documents
)
SELECT source,
       COUNT(*)::BIGINT AS n_docs,
       SUM(T)::BIGINT AS total_tokens,
       round(quantile_cont(L, 0.5), 4) AS p50_chars,
       round(quantile_cont(L, 0.9), 4) AS p90_chars,
       round(quantile_cont(T, 0.5), 4) AS p50_tokens
FROM d GROUP BY source
""",
        "source_stats_approx_check": """
SELECT CAST(0 AS BIGINT) AS bad_sources
""",
        "repetition_stats": """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok
  FROM documents
), freq AS (
  SELECT doc_id, MAX(cnt) AS top FROM (
    SELECT doc_id, g, COUNT(*) AS cnt
    FROM (SELECT doc_id, unnest(ltok) AS g FROM toks)
    GROUP BY doc_id, g
  ) GROUP BY doc_id
), grams AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ltok) - 1, 1) + 1),
           i -> array_to_string(list_slice(ltok, i, i + 1), ' ')) AS g2
  FROM toks
)
SELECT t.doc_id,
       len(t.ltok)::BIGINT AS n_tokens,
       round(len(list_distinct(t.ltok)) / greatest(len(t.ltok), 1), 6) AS type_token_ratio,
       round(COALESCE(f.top, 0) / greatest(len(t.ltok), 1), 6) AS top_token_frac,
       round((len(g.g2) - len(list_distinct(g.g2))) / greatest(len(g.g2), 1), 6)
         AS dup_2gram_frac
FROM toks t
LEFT JOIN freq f USING (doc_id)
JOIN grams g USING (doc_id)
""",
        "quality_scores": """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS tok,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok
  FROM documents
), feats AS (
  SELECT doc_id, text,
         len(tok) AS n_tokens,
         (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
           / greatest(length(text), 1) AS punct_ratio,
         len(list_filter(ltok, t -> list_contains(
             ['the','a','and','of','to','in','is','it','that','for'], t)))::DOUBLE
           / greatest(len(ltok), 1) AS stop_ratio
  FROM toks
)
SELECT doc_id,
       round((least(n_tokens / 100.0, 1.0)
            + (1.0 - least(punct_ratio * 4.0, 1.0))
            + least(stop_ratio * 5.0, 1.0)) / 3.0, 6) AS quality,
       (len(regexp_extract_all(text, '[A-Za-z0-9]+'))
        + length(regexp_replace(text, '[A-Za-z0-9]| ', '', 'g')))::BIGINT
         AS n_subword_tokens
FROM feats
""",
        "ann_bruteforce": """
WITH dots AS (
  SELECT a.vec_id AS q, b.vec_id AS c,
    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
    (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)**2))) *
     sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)**2)))) AS sim
  FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id
), ranked AS (
  SELECT q, c, sim, row_number() OVER (PARTITION BY q ORDER BY sim DESC, c) AS rn
  FROM dots
)
SELECT q, c, round(sim, 6) AS sim FROM ranked WHERE rn <= 3
""",
        "pii_scrub": f"""
WITH aug AS ({_AUG_ENTITIES_SQL}),
red AS (SELECT doc_id, text,
  regexp_replace(regexp_replace(regexp_replace(text,
    '{_EMAIL_RE_SQL}', '<EMAIL>', 'g'),
    '{_PHONE_RE_SQL}', '<PHONE>', 'g'),
    '{_IPV4_RE_SQL}', '<IP>', 'g') AS r
FROM aug)
SELECT doc_id,
  len(regexp_extract_all(text, '{_EMAIL_RE_SQL}'))::BIGINT AS n_emails,
  len(regexp_extract_all(text, '{_PHONE_RE_SQL}'))::BIGINT AS n_phones,
  len(regexp_extract_all(text, '{_IPV4_RE_SQL}'))::BIGINT AS n_ips,
  length(r)::BIGINT AS redacted_len,
  md5(r) AS redacted_fp
FROM red
""",
        "url_domains": f"""
WITH aug AS ({_AUG_ENTITIES_SQL}),
u AS (SELECT doc_id,
             unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9./?=_-]+')) AS url
      FROM aug)
SELECT regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) AS domain,
       count(*)::BIGINT AS n_urls, count(DISTINCT doc_id)::BIGINT AS n_docs
FROM u GROUP BY domain
""",
        "unicode_normalize": """
SELECT doc_id,
       md5(nfc_normalize(text || ' cafe' || chr(769) || ' caf' || chr(233)))
         AS fp,
       length(nfc_normalize(text || ' cafe' || chr(769) || ' caf' || chr(233)))::BIGINT
         AS n_chars
FROM documents
""",
        "url_dedup": f"""
WITH aug AS ({_AUG_ENTITIES_SQL}),
u AS (SELECT doc_id,
             unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9./?=_-]+')) AS url
      FROM aug),
c AS (SELECT doc_id,
             lower(regexp_replace(
               regexp_extract(
                 regexp_replace(regexp_replace(url, '#.*$', ''),
                                '^[Hh][Tt][Tt][Pp][Ss]?://', ''),
                 '^([^/?#]+)', 1),
               '^www\\.', ''))
             || regexp_replace(
                  regexp_replace(
                    regexp_replace(regexp_replace(url, '#.*$', ''),
                                   '^[Hh][Tt][Tt][Pp][Ss]?://', ''),
                    '^[^/?#]+', ''),
                  '/+$', '') AS cu
      FROM u)
SELECT cu AS canonical_url, count(*)::BIGINT AS n_urls,
       count(DISTINCT doc_id)::BIGINT AS n_docs, min(doc_id) AS first_doc
FROM c GROUP BY cu
""",
        "boilerplate_lines": """
WITH aug AS (SELECT doc_id, concat_ws(chr(10),
      CASE WHEN doc_id % 3 = 0 THEN 'NAV home about contact' END,
      text,
      'SUBSCRIBE to newsletter variant ' || (doc_id % 2)::VARCHAR,
      'COPYRIGHT example corp all rights reserved') AS text FROM documents),
lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
                 generate_subscripts(string_split(text, chr(10)), 1) AS pos
          FROM aug),
freq AS (SELECT line FROM lines GROUP BY line
         HAVING count(DISTINCT doc_id) >= 5)
SELECT doc_id, count(*)::BIGINT AS n_lines,
       (count(*) FILTER (WHERE line IN (SELECT line FROM freq)))::BIGINT
         AS n_removed,
       md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
                    FILTER (WHERE line NOT IN (SELECT line FROM freq)), ''))
         AS kept_fp
FROM lines GROUP BY doc_id
""",
        "bigram_stats": """
WITH toks AS (
  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
), bg AS (
  SELECT unnest(list_transform(range(2, len(ts)+1),
                               i -> ts[i-1] || ' ' || ts[i])) AS bigram
  FROM toks
)
SELECT bigram, count(*)::BIGINT AS n
FROM bg GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
""",
        "semantic_dedup_check": """
SELECT CAST(0 AS BIGINT) AS bad_killed,
       CAST(0 AS BIGINT) AS bad_pairs,
       CAST(0 AS BIGINT) AS bad_groups
""",
        "profile_lineitem": _profile_oracle_sql(),
        "source_overlap": """
WITH fp AS (
  SELECT DISTINCT source,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
  FROM documents
)
SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS shared_fps
FROM fp a JOIN fp b ON a.f = b.f AND a.source <= b.source
GROUP BY 1, 2
""",
        "token_histogram": """
WITH t AS (
  SELECT len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
           ::BIGINT AS n
  FROM documents
)
SELECT (CASE WHEN n = 0 THEN 0 ELSE length(bin(n)) END)::INT AS bucket,
       count(*)::BIGINT AS n_docs,
       sum(n)::BIGINT AS total_tokens,
       min(n)::BIGINT AS min_tokens,
       max(n)::BIGINT AS max_tokens
FROM t GROUP BY 1
""",
        "lang_source_matrix": """
WITH t AS (
  SELECT lang, source,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
           ::BIGINT AS n
  FROM documents
)
SELECT lang, source, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens
FROM t GROUP BY CUBE (lang, source)
""",
        "incremental_dedup": """
WITH ref AS (
  SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents WHERE doc_id % 3 = 0
), batch AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents WHERE doc_id % 3 <> 0
), r AS (
  SELECT b.doc_id, (b.fp IN (SELECT fp FROM ref)) AS seen,
         row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
  FROM batch b
)
SELECT doc_id,
       CASE WHEN seen THEN 'ref_dup'
            WHEN rn > 1 THEN 'batch_dup'
            ELSE 'kept' END AS status
FROM r
""",
        "mixture_weights": """
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
                             t -> t <> '')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT *, sum(n_tokens) OVER () AS total, count(*) OVER () AS k FROM per
), wt AS (
  SELECT *, 1.0 / k AS tgt,
         (1.0 / k) / (n_tokens / total) AS weight
  FROM tot
)
SELECT source, n_docs, n_tokens,
       round(n_tokens / total, 6) AS actual_share,
       round(tgt, 6) AS target_share,
       round(weight, 6) AS weight,
       round(weight / max(weight) OVER (), 6) AS sample_rate
FROM wt
""",
        "dup_pagerank": _pagerank_oracle_sql(),
        "link_pagerank": _link_pagerank_oracle_sql(),
        "link_communities": _link_communities_oracle_sql(),
        "link_adamic_adar": """
WITH tgt AS (
  SELECT (doc_id % 997)::BIGINT AS s, 0::BIGINT AS d FROM documents
  UNION ALL
  SELECT (doc_id % 997)::BIGINT, ((doc_id * 7 + 13) % 997)::BIGINT FROM documents
  UNION ALL
  SELECT (doc_id % 997)::BIGINT, ((doc_id * 31 + 5) % 997)::BIGINT FROM documents
), e AS MATERIALIZED (
  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM tgt WHERE s <> d
), sym AS MATERIALIZED (
  SELECT a AS z, b AS n FROM e UNION ALL SELECT b AS z, a AS n FROM e
), cap AS (
  -- same degree cap the Spark side derives: ceil(sqrt(|normalized edges|))
  SELECT ceil(sqrt(count(*)))::DOUBLE AS md FROM e
), deg AS (
  SELECT z, count(*)::DOUBLE AS dg FROM sym GROUP BY z
), adj AS MATERIALIZED (
  SELECT sym.z, sym.n, deg.dg FROM sym JOIN deg USING (z), cap
  WHERE deg.dg <= cap.md
), wedge AS (
  SELECT l.n AS x, r.n AS y, 1.0 / ln(l.dg) AS wt
  FROM adj l JOIN adj r ON l.z = r.z AND l.n < r.n
), scored AS (
  SELECT x, y, sum(wt) AS score
  FROM wedge w
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = w.x AND e.b = w.y)
  GROUP BY x, y
)
SELECT x, y, round(score, 6) AS score
FROM scored ORDER BY score DESC, x, y LIMIT 100
""",
        "weighted_sample": f"""
SELECT doc_id, lang, n_chars,
       round({_ws_key}, 6) AS sample_key
FROM documents
ORDER BY {_ws_key} DESC, doc_id
LIMIT 200
""",
        "weighted_sample_by": f"""
WITH r AS (
  SELECT doc_id, lang, n_chars, {_ws_key} AS k,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {_ws_key} DESC, doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang, n_chars, round(k, 6) AS sample_key
FROM r WHERE rn <= 50 ORDER BY lang, doc_id
""",
        "pareto_orders": """
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM orders p
  WHERE p.o_totalprice >= o.o_totalprice AND p.o_orderdate >= o.o_orderdate
    AND (p.o_totalprice > o.o_totalprice OR p.o_orderdate > o.o_orderdate)
)
""",
        "pareto_lineitem_3d": """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice, 2) AS l_extendedprice,
       round(l_discount, 2) AS l_discount,
       strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate
FROM lineitem o
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem p
  WHERE p.l_extendedprice >= o.l_extendedprice
    AND p.l_shipdate >= o.l_shipdate
    AND p.l_discount <= o.l_discount
    AND (p.l_extendedprice > o.l_extendedprice
         OR p.l_shipdate > o.l_shipdate
         OR p.l_discount < o.l_discount)
)
""",
        "pareto_lineitem_4d": """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice, 2) AS l_extendedprice,
       round(l_quantity, 2) AS l_quantity,
       round(l_discount, 2) AS l_discount,
       strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate
FROM lineitem o
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem p
  WHERE p.l_extendedprice >= o.l_extendedprice
    AND p.l_shipdate >= o.l_shipdate
    AND p.l_quantity >= o.l_quantity
    AND p.l_discount <= o.l_discount
    AND (p.l_extendedprice > o.l_extendedprice
         OR p.l_shipdate > o.l_shipdate
         OR p.l_quantity > o.l_quantity
         OR p.l_discount < o.l_discount)
)
""",
        # 2-D skyline via the running-max window over distinct points in
        # (price ASC, net DESC) order — provably the NOT-EXISTS
        # strict-dominance set (any dominator sorts strictly earlier;
        # a distinct point is dominated iff an earlier one has net >=
        # its net), and O(m log m) where the naive NOT EXISTS is O(n^2)
        # on this ~5-9%-of-input anti-correlated frontier.
        "pareto_price_net": """
WITH pts AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         l_extendedprice * (1 - l_discount) AS l_net
  FROM lineitem
), d AS (
  SELECT l_extendedprice AS p, l_net FROM pts GROUP BY 1, 2
), s AS (
  SELECT p, l_net,
         max(l_net) OVER (ORDER BY p ASC, l_net DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pm
  FROM d
), sky AS (SELECT p, l_net FROM s WHERE pm IS NULL OR l_net > pm)
SELECT t.l_orderkey, t.l_linenumber,
       round(t.l_extendedprice, 2) AS l_extendedprice,
       round(t.l_net, 4) AS l_net
FROM pts t JOIN sky ON t.l_extendedprice = sky.p AND t.l_net = sky.l_net
ORDER BY t.l_orderkey, t.l_linenumber
""",
        # Exact replay of the streaming MG pipeline's DETERMINISTIC core:
        # the mergeable-MG deficit bound guarantees every term with
        # true_n * (k+1) > N survives the 4-batch merge chain in any
        # batch order, and the Spark side filters its candidates to that
        # same threshold — so the confirmed set, the 4-batch constant,
        # and the zero state-overflow are all batch-order-free.
        "streaming_heavy_hitters": """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> '')) AS term
  FROM documents
), tot AS (SELECT count(*)::BIGINT AS n FROM toks)
SELECT term, count(*)::BIGINT AS true_n,
       4::BIGINT AS n_batches, 0::BIGINT AS cand_overflow
FROM toks GROUP BY term
HAVING count(*) * 51 > (SELECT n FROM tot)
ORDER BY term
""",
        "collocation_pmi": """
WITH toks AS (
  SELECT list_filter(str_split(text, ' '), t -> t <> '') AS t FROM documents
), uni AS MATERIALIZED (
  SELECT w, count(*)::DOUBLE AS cu
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
), tt AS (SELECT sum(cu) AS T FROM uni
), bi_all AS MATERIALIZED (
  SELECT w1, w2, count(*) AS c FROM (
    SELECT unnest(list_transform(range(1, greatest(len(t), 1)),
                  i -> {'w1': t[i], 'w2': t[i + 1]}), recursive := true)
    FROM toks
  ) GROUP BY w1, w2
), bt AS (SELECT sum(c)::DOUBLE AS B FROM bi_all
), scored AS (
  SELECT w1, w2, c::BIGINT AS n,
         ln(((c::DOUBLE * T) * T) / ((B * cu1) * cu2)) AS pmi
  FROM (SELECT b.w1, b.w2, b.c, u1.cu AS cu1, u2.cu AS cu2
        FROM bi_all b
        JOIN uni u1 ON u1.w = b.w1
        JOIN uni u2 ON u2.w = b.w2
        WHERE b.c >= 5), tt, bt
)
SELECT w1, w2, n, round(pmi, 6) AS pmi
FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 100
""",
        "user_state_history": """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM ordered
), grouped AS (
  SELECT user_id, island, min(event_type) AS event_type,
         MIN(ts) AS valid_from, COUNT(*)::BIGINT AS n_events
  FROM islands
  GROUP BY user_id, island
)
SELECT user_id, event_type,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(valid_from) OVER (PARTITION BY user_id ORDER BY island),
                '%Y-%m-%d %H:%M:%S') AS valid_to,
       n_events
FROM grouped
""",
        "sketch_union_check": """
SELECT 0::BIGINT AS bad_groups
""",
        "sketch_union_persisted_check": """
SELECT 0::BIGINT AS bad_groups
""",
        "ann_ivf_persisted_check": """
SELECT 0::BIGINT AS mismatched_rows
""",
        "ann_pq_persisted_check": """
SELECT 0::BIGINT AS mismatched_rows
""",
        "ann_ivf_appended_check": """
SELECT 0::BIGINT AS mismatched_rows, 0::BIGINT AS index_row_delta,
       0::BIGINT AS dup_id_delta, 0::BIGINT AS missing_appended,
       0::BIGINT AS audit_vec_delta, 0::BIGINT AS audit_list_delta,
       0::BIGINT AS low_recall
""",
        "ann_pq_appended_check": """
SELECT 0::BIGINT AS mismatched_rows, 0::BIGINT AS index_row_delta,
       0::BIGINT AS dup_id_delta, 0::BIGINT AS missing_appended,
       0::BIGINT AS audit_vec_delta, 0::BIGINT AS low_recall
""",
        "dup_triangles": _TRIANGLES_ORACLE,
        "dup_best_rep": """
WITH RECURSIVE toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS ltok,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS tok
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ltok) - 1, 1) + 1),
           i -> array_to_string(list_slice(ltok, i, i + 1), ' ')
         )) AS grams
  FROM toks
), ex AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), cands AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT c.a, c.b FROM cands c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b
  WHERE len(list_intersect(sa.grams, sb.grams))
        / greatest(len(list_distinct(list_concat(sa.grams, sb.grams))), 1) >= 0.5
), sym AS (
  SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
), walk AS (
  SELECT a AS id, a AS comp FROM sym GROUP BY a
  UNION
  SELECT s.b AS id, w.comp FROM walk w JOIN sym s ON s.a = w.id
), comps AS (
  SELECT id, MIN(comp) AS comp FROM walk GROUP BY id
), qual AS (
  SELECT doc_id,
         round((least(len(tok) / 100.0, 1.0)
              + (1.0 - least(((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                             / greatest(length(text), 1)) * 4.0, 1.0))
              + least((len(list_filter(ltok, t -> list_contains(
                  ['the','a','and','of','to','in','is','it','that','for'], t)))::DOUBLE
                  / greatest(len(ltok), 1)) * 5.0, 1.0)) / 3.0, 6) AS quality
  FROM toks
)
SELECT d.doc_id,
       COALESCE(c.comp, d.doc_id)::BIGINT AS cluster_id,
       q.quality,
       (row_number() OVER (PARTITION BY COALESCE(c.comp, d.doc_id)
                           ORDER BY q.quality DESC, d.doc_id) = 1)::INT AS keep
FROM documents d
LEFT JOIN comps c ON c.id = d.doc_id
JOIN qual q ON q.doc_id = d.doc_id
""",
        "corpus_diff": """
WITH oldc AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents
), newc AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(
           CASE WHEN doc_id % 13 = 1 THEN text || ' mutated tail'
                ELSE text END, '\\s+', ' ', 'g')))) AS fp
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT 90000000 + i AS doc_id,
         md5(lower(trim(regexp_replace(
           'brand new document number ' || i::VARCHAR, '\\s+', ' ', 'g'))))
  FROM range(100) t(i)
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN o.fp IS NULL THEN 'added'
       WHEN n.fp IS NULL THEN 'removed'
       WHEN o.fp = n.fp THEN 'unchanged'
       ELSE 'changed' END AS status
FROM oldc o FULL OUTER JOIN newc n USING (doc_id)
""",
        "term_frequency_spectrum": """
WITH counts AS (
  SELECT term, count(*)::BIGINT AS n FROM (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> t <> '')) AS term
    FROM documents
  ) GROUP BY term
), bands AS (
  SELECT length(bin(n))::INT AS band,
         count(*)::BIGINT AS n_terms,
         sum(n)::BIGINT AS n_tokens
  FROM counts GROUP BY 1
)
SELECT band, n_terms, n_tokens,
       round(n_tokens / (sum(n_tokens) OVER ())::DOUBLE, 6) AS token_share,
       round(sum(n_tokens) OVER (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)
             / (sum(n_tokens) OVER ())::DOUBLE, 6) AS cum_share_from_top
FROM bands ORDER BY band DESC
""",
        "revenue_pivot": """
SELECT strftime(l_shipdate, '%Y-%m') AS month,
       round(sum(CASE WHEN l_returnflag = 'A'
                      THEN l_extendedprice * (1 - l_discount) END), 4) AS "A",
       round(sum(CASE WHEN l_returnflag = 'N'
                      THEN l_extendedprice * (1 - l_discount) END), 4) AS "N",
       round(sum(CASE WHEN l_returnflag = 'R'
                      THEN l_extendedprice * (1 - l_discount) END), 4) AS "R"
FROM lineitem
WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1996-01' AND '1996-12'
GROUP BY strftime(l_shipdate, '%Y-%m')
ORDER BY month
""",
        "line_repetition": """
WITH aug AS (
  SELECT doc_id, concat_ws(chr(10),
    text,
    'body line 1 of document ' || doc_id::VARCHAR,
    'body line 2 of document ' || doc_id::VARCHAR,
    'body line 3 of document ' || doc_id::VARCHAR,
    'body line 4 of document ' || doc_id::VARCHAR,
    CASE WHEN doc_id % 3 = 0 THEN
      'repeated promo line for document group ' || (doc_id % 7)::VARCHAR
      || chr(10) ||
      'repeated promo line for document group ' || (doc_id % 7)::VARCHAR
    END
  ) AS text FROM documents
), feat AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS lines,
         list_distinct(string_split(text, chr(10))) AS dl
  FROM aug
)
SELECT doc_id,
  len(lines)::BIGINT AS n_lines,
  (len(lines) - len(dl))::BIGINT AS n_dup_lines,
  round((len(lines) - len(dl)) / greatest(len(lines), 1), 6) AS dup_line_frac,
  round(
    (coalesce(list_sum(list_transform(lines, l -> length(l))), 0)
     - coalesce(list_sum(list_transform(dl, l -> length(l))), 0))
    / greatest(coalesce(list_sum(list_transform(lines, l -> length(l))), 0), 1),
    6) AS dup_line_char_frac
FROM feat
""",
        "shipping_priority": """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
        "containment_pairs": """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id,
         array_to_string(
           list_slice(t, 1, greatest(floor(len(t) * 2 / 5)::INT, 5)),
           ' ') AS text
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents WHERE doc_id % 7 = 0)
), toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS lt
  FROM base
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(lt) - 2, 1) + 1),
           i -> array_to_string(list_slice(lt, i, i + 2), ' '))) AS grams
  FROM toks
), ex AS (
  SELECT doc_id, unnest(grams) AS g FROM sh
), df_ok AS (
  SELECT g FROM ex GROUP BY g HAVING count(*) <= 25
), rare AS (
  SELECT ex.doc_id, ex.g FROM ex JOIN df_ok USING (g)
), cands AS (
  SELECT x.doc_id AS container, y.doc_id AS contained
  FROM rare x JOIN rare y ON x.g = y.g AND x.doc_id <> y.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT c.container, c.contained,
         round(len(list_intersect(sa.grams, sb.grams))
               / len(sb.grams), 6) AS containment
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.container
  JOIN sh sb ON sb.doc_id = c.contained
)
SELECT container, contained, containment
FROM scored WHERE containment >= 0.8
ORDER BY container, contained
""",
        "user_peak_event": """
WITH ranked AS (
  SELECT user_id, value, ts, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, ts DESC, event_type DESC)
           AS rn
  FROM events
)
SELECT user_id, round(value, 4) AS peak_value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS peak_ts,
       event_type AS peak_type
FROM ranked WHERE rn = 1
ORDER BY user_id
""",
        "group_medians": """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS price_p25,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS price_median,
       round(quantile_cont(l_extendedprice, 0.75), 6) AS price_p75,
       round(quantile_cont(l_quantity, 0.5), 6) AS qty_median,
       count(*)::BIGINT AS n_lines
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
        "event_cube": """
SELECT event_type,
       (dayofweek(ts) + 1)::BIGINT AS dow,
       GROUPING(event_type)::INT AS g_type,
       GROUPING((dayofweek(ts) + 1)::BIGINT)::INT AS g_dow,
       COUNT(*)::BIGINT AS n_events,
       round(SUM(value), 4) AS sum_value
FROM events
GROUP BY CUBE(event_type, (dayofweek(ts) + 1)::BIGINT)
ORDER BY g_type, g_dow, event_type, dow
""",
        "event_funnel": """
WITH s0 AS (
  SELECT user_id AS u, min(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY 1
), s1 AS (
  SELECT e.user_id AS u, min(e.ts) AS t
  FROM events e JOIN s0 ON e.user_id = s0.u
  WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1
), s2 AS (
  SELECT e.user_id AS u, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.u
  WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1
), c AS (
  SELECT 0 AS step_index, 'signup' AS step,
         (SELECT count(*) FROM s0)::BIGINT AS n_users
  UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)::BIGINT
  UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)::BIGINT
)
SELECT step_index::BIGINT AS step_index, step, n_users,
       CASE WHEN step_index = 0 THEN 1.0
            ELSE round(n_users
                       / greatest(lag(n_users) OVER (ORDER BY step_index), 1),
                       6) END AS conversion_from_prev,
       round(n_users
             / greatest(first_value(n_users) OVER (ORDER BY step_index), 1),
             6) AS conversion_from_first
FROM c ORDER BY step_index
""",
        "user_cohorts": """
WITH uw AS (
  SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS w FROM events
), f AS (SELECT u, min(w) AS w0 FROM uw GROUP BY 1)
SELECT strftime(w0, '%Y-%m-%d') AS cohort_week,
       (date_diff('day', w0, w) / 7)::BIGINT AS week_offset,
       count(*)::BIGINT AS n_active_users
FROM uw JOIN f USING (u)
GROUP BY 1, 2 ORDER BY 1, 2
""",
        "decontaminate_fuzzy_check": """
SELECT CAST(0 AS BIGINT) AS row_count_delta,
       CAST(0 AS BIGINT) AS false_flags,
       CAST(0 AS BIGINT) AS overstated_scores,
       CAST(0 AS BIGINT) AS missed_strong
""",
        "blocklist_filter": """
SELECT doc_id,
       len(list_filter(
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> ''),
         t -> list_contains(['slow', 'broken', 'stale'], t)))::BIGINT
         AS n_blocked,
       len(list_filter(
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     t -> t <> ''),
         t -> list_contains(['slow', 'broken', 'stale'], t))) > 0
         AS blocked
FROM documents
ORDER BY doc_id
""",
        "quality_calibration": """
WITH toks AS (
  SELECT doc_id, source, text,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS tok,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')
           AS ltok
  FROM documents
), feats AS (
  SELECT doc_id, source,
         len(tok) AS n_tokens,
         (length(text)
          - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
           / greatest(length(text), 1) AS punct_ratio,
         len(list_filter(ltok, t -> list_contains(
             ['the','a','and','of','to','in','is','it','that','for'],
             t)))::DOUBLE
           / greatest(len(ltok), 1) AS stop_ratio
  FROM toks
), scored AS (
  SELECT doc_id, source,
         (least(n_tokens / 100.0, 1.0)
          + (1.0 - least(punct_ratio * 4.0, 1.0))
          + least(stop_ratio * 5.0, 1.0)) / 3.0 AS q
  FROM feats
)
SELECT doc_id, source, round(q, 6) AS quality,
       round(percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id), 6)
         AS pct_in_source,
       ntile(10) OVER (PARTITION BY source ORDER BY q, doc_id)::BIGINT
         AS source_decile
FROM scored ORDER BY doc_id
""",
        "customer_rfm": """
WITH per_cust AS (
  SELECT o_custkey, max(o_orderdate) AS last_order,
         count(*) AS frequency, sum(o_totalprice) AS monetary
  FROM orders GROUP BY 1
), rfm AS (
  SELECT o_custkey,
         ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_quartile,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_quartile,
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_quartile,
         monetary
  FROM per_cust
)
SELECT r_quartile::BIGINT AS r_quartile, f_quartile::BIGINT AS f_quartile,
       m_quartile::BIGINT AS m_quartile,
       count(*)::BIGINT AS n_customers,
       round(avg(monetary), 4) AS avg_monetary
FROM rfm GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""",
        "props_json": """
SELECT event_type,
       count(*)::BIGINT AS n_events,
       sum(CASE WHEN json_extract(props, '$.k') IS NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_missing_k,
       round(avg(json_extract(props, '$.k')::INT), 6) AS avg_k,
       sum(CASE WHEN json_extract(props, '$.k')::INT >= 50
                THEN 1 ELSE 0 END)::BIGINT AS n_high_k,
       round(sum(CASE WHEN json_extract(props, '$.k')::INT >= 50
                      THEN value ELSE 0 END), 4) AS high_k_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
        "brand_promo_revenue": """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
       AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#13' AND l_quantity BETWEEN 10 AND 20
       AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#14' AND l_quantity BETWEEN 20 AND 30
       AND p_size BETWEEN 1 AND 15)
""",
        "term_drift": """
WITH newdocs AS (
  SELECT CASE WHEN doc_id % 13 = 1 THEN text || ' mutated tail'
              ELSE text END AS text
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT 'brand new document number ' || i::VARCHAR FROM range(100) t(i)
), oldt AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                t -> t <> '')) AS term
  FROM documents
), newt AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                t -> t <> '')) AS term
  FROM newdocs
), co AS (SELECT term, count(*)::DOUBLE AS c_old FROM oldt GROUP BY 1),
   cn AS (SELECT term, count(*)::DOUBLE AS c_new FROM newt GROUP BY 1),
   tt AS (SELECT (SELECT sum(c_old) FROM co) AS t_old,
                 (SELECT sum(c_new) FROM cn) AS t_new),
   j AS (
  SELECT term, coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
  FROM co FULL OUTER JOIN cn USING (term)
), sc AS (
  SELECT term, c_old, c_new,
         ln((c_new + 0.5) / (t_new - c_new + 0.5))
         - ln((c_old + 0.5) / (t_old - c_old + 0.5)) AS d_raw
  FROM j, tt
), zc AS (
  SELECT term, c_old, c_new, d_raw,
         d_raw / sqrt(1 / (c_new + 0.5) + 1 / (c_old + 0.5)) AS z_raw
  FROM sc
)
SELECT term, c_old::BIGINT AS c_old, c_new::BIGINT AS c_new,
       round(d_raw, 6) AS delta, round(z_raw, 6) AS z
FROM zc
ORDER BY abs(z_raw) DESC, term
LIMIT 50
""",
        "dsir_weights": _DSIR_WEIGHTS_CTE + """
SELECT doc_id, n_grams, round(logw_raw, 4) AS logw,
       round(avg_logw_raw, 6) AS avg_logw
FROM w ORDER BY doc_id
""",
        "dsir_sample": _DSIR_WEIGHTS_CTE + """
, drawn AS (
  SELECT doc_id, logw_raw,
         logw_raw - ln(-ln(
           (CAST(concat('0x', substr(md5('42:' || doc_id::VARCHAR), 1, 15))
                 AS BIGINT) + 1)
           / 1152921504606846977.0
         )) AS score
  FROM w
)
SELECT doc_id, round(logw_raw, 4) AS logw, round(score, 4) AS gumbel_score
FROM drawn ORDER BY score DESC, doc_id LIMIT 100
""",
        "nation_trade_volume": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       strftime(l_shipdate, '%Y') AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1999-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, supp_nation, cust_nation, l_year
LIMIT 20
""",
        "market_share": """
SELECT strftime(o_orderdate, '%Y') AS o_year,
       round(sum(CASE WHEN n1.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region   ON n2.n_regionkey = r_regionkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY 1
ORDER BY 1
""",
        "small_qty_revenue": """
SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
       count(*)::BIGINT AS n_small_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#12'
  AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""",
        "large_volume_customers": """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       round(o_totalprice, 4) AS total_price, total_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_price DESC, o_orderkey
LIMIT 100
""",
        # canonical EXISTS/NOT-EXISTS form — proves the engine's
        # aggregate-then-join rewrite equivalent
        "waiting_suppliers": """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT s_name, count(*)::BIGINT AS numwait
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE is_late) l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lo l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lo l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.is_late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
        "idle_customers": """
SELECT c_mktsegment, count(*)::BIGINT AS numcust,
       round(sum(c_acctbal), 4) AS total_acctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
        "returned_item_revenue": """
SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal,
       n_name AS nation,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
        "shipmode_priority": """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
        "order_priority": """
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > TIMESTAMP '1997-06-30'
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
        "perplexity_buckets_check": """
SELECT CAST(0 AS BIGINT) AS row_count_delta,
       CAST(0 AS BIGINT) AS bucket_range_violations,
       CAST(0 AS BIGINT) AS missing_buckets,
       CAST(0 AS BIGINT) AS undersized_buckets,
       CAST(0 AS BIGINT) AS threshold_order_violations
""",
        "c4_clean": _C4_ORACLE,
        "gopher_quality": _gopher_oracle_sql(),
        "heavy_hitters": """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> t <> '')) AS term
  FROM documents
), tot AS (SELECT count(*)::BIGINT AS n FROM toks)
SELECT term, count(*)::BIGINT AS n
FROM toks GROUP BY term
HAVING count(*) * 50 > (SELECT n FROM tot)
""",
        # Arithmetic replay of _link_graph_edges (no markup round-trip) +
        # the orientation-free two-hop census; matching the Spark side's
        # degree-ORIENTED census is itself the orientation-correctness proof.
        "link_triangles": """
WITH tgt AS (
  SELECT (doc_id % 997)::BIGINT AS s, 0::BIGINT AS t FROM documents
  UNION ALL
  SELECT (doc_id % 997)::BIGINT, ((doc_id * 7 + 13) % 997)::BIGINT FROM documents
  UNION ALL
  SELECT (doc_id % 997)::BIGINT, ((doc_id * 31 + 5) % 997)::BIGINT FROM documents
), e AS (
  SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
  FROM tgt WHERE s <> t
), deg AS (
  SELECT v, count(*)::DOUBLE AS d
  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
  GROUP BY v
), w AS (
  SELECT coalesce(sum(d * (d - 1) / 2), 0.0) AS wedges,
         count(*)::BIGINT AS n_nodes FROM deg
), tri AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), ne AS (SELECT count(*)::BIGINT AS n_edges FROM e)
SELECT n_nodes, n_edges, wedges::BIGINT AS n_wedges, n_triangles,
       round(CASE WHEN wedges > 0
                  THEN 3.0 * n_triangles / wedges ELSE 0.0 END, 6)
         AS clustering_coefficient
FROM ne, w, tri
""",
        "link_triangles_check": """
SELECT 0::BIGINT AS mismatched_fields
""",
        "kmv_overlap": _kmv_overlap_oracle_sql(),
        "kmv_overlap_check": """
SELECT 0::BIGINT AS bad_pairs
""",
        "dup_kcore": _kcore_oracle_sql(),
        "quantile_hist": _quantile_hist_oracle_sql(),
        "quantile_hist_check": """
SELECT 0::BIGINT AS bad_quantiles, 0::BIGINT AS monotonicity_violations
""",
        "dup_random_walks": _random_walks_oracle_sql(),
        "touch_attribution": _TOUCH_ATTRIBUTION_ORACLE,
        "event_transitions": _EVENT_TRANSITIONS_ORACLE,
        "keyword_textrank": _textrank_oracle_sql(),
        "integrity_orphans": _integrity_orphans_oracle_sql(),
        "join_key_skew": _JOIN_KEY_SKEW_ORACLE,
        # --- new in r15: the last three streaming twins, exact oracles.
        # Each is exact because the streaming store's merge is lossless
        # (k-min union / elementwise bin sum) or the delivery order is
        # pinned (ts-quartile files), so batch structure is invisible to
        # the readout; the n_shards / n_batches constant pins that
        # streaming really delivered 4 micro-batches. ---
        "streaming_kmv": _streaming_kmv_oracle_sql(),
        "streaming_histogram": _streaming_histogram_oracle_sql(),
        "transition_feed": _TRANSITION_FEED_ORACLE,
        # streaming_ann_ingest itself is rows-only (approximate ANN);
        # its _check pins streaming==one-shot bit-equality + store
        # completeness + 2-batch delivery as a constant zero row
        "streaming_ann_ingest_check": """
SELECT 0::BIGINT AS mismatched_rows, 0::BIGINT AS index_row_delta,
       0::BIGINT AS dup_id_delta, 0::BIGINT AS missing_streamed,
       0::BIGINT AS batch_delta
""",
    }
    # The Bloom prefilter is output-identical to the plain fingerprint join
    # (false negatives impossible; false positives killed by the confirm
    # join), so the two queries share one exact oracle.
    sql["incremental_dedup_bloom"] = sql["incremental_dedup"]
    return sql
