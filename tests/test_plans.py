"""Physical-plan regression gates: the scale properties PLANS.md audits,
locked into CI so a refactor cannot silently trade them away.

Each assertion is a property that matters at 100 TB, not a golden plan
string: column pruning reaching the parquet scan, small dimensions
broadcasting, and no UNINTENTIONAL cartesian/nested-loop joins (the only
sanctioned ones are the brute-force kNN baselines and the blocked cross,
which are all-pairs by definition).
"""

import pytest

SF_DIR = "/root/testdata/sf0.001"

# queries whose plans legitimately contain a nested-loop/cartesian join:
# all-pairs distance baselines and the blocked cross (SURVEY §2.3), the
# 1-row broadcast side-inputs (crossJoin of a scalar aggregate), and the
# exact similarity baselines the approximate operators are checked against
NLJ_ALLOWED = {
    "knn_bruteforce",
    "knn_partition",
    "knn_project",
    "knn_project_check",
    "joint_distribution",
    "pairwise_affinities",
    "global_aggregates",
    "distinct_pairs",
    "centering",
    "ann_bruteforce",
    "minhash_dedup_check",
    "simhash_dedup_check",
    "embedding_dedup_check",
    "ann_lsh",
    "ann_lsh_check",
    "ann_ivf",
    "ann_ivf_check",
    "semantic_dedup",
    "semantic_dedup_check",
    "tsne_embedding",
    "tsne_embedding_check",
    "source_stats_approx_check",
    "sketch_distinct_check",
    "audio_check",
    "multimodal_check",
    "quality_scores",
    "text_stats",
    "stopword_ratio",
    "token_counts",
    "winnow_overlap",
    "doc_fingerprint",
    "pack_sequences",
    "mixture_weights",
    "profile_lineitem",
    "curation_pipeline",
    "dup_clusters",
    "projection_check",
}


def _entry():
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as m

    return m


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_pricing_summary_prunes_columns(spark):
    m = _entry()
    plan = _plan(m.queries()["pricing_summary"](spark, SF_DIR))
    # the scan must read a strict subset of lineitem's 16 columns
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    for s in schemas:
        assert 0 < len(s.split(",")) <= 6, s


def test_regional_revenue_broadcasts_dimensions(spark):
    m = _entry()
    plan = _plan(m.queries()["regional_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_corpus_shards_is_scan_shaped(spark):
    """The shard mapping is hash arithmetic over a materialized rank — no
    joins, no window over a single partition."""
    m = _entry()
    plan = _plan(m.queries()["corpus_shards"](spark, SF_DIR))
    assert "Join" not in plan and "Window" not in plan


def test_event_funnel_single_scan(spark):
    """The funnel must scan the events fact table ONCE (single user-key
    shuffle + chained window minima) — the per-step join formulation
    compiled to k(k+1)/2+1 scans (10 for k=3), a fact-table multiplier
    at 100 TB."""
    import re

    m = _entry()
    plan = _plan(m.queries()["event_funnel"](spark, SF_DIR))
    # formatted mode prints each node once in the tree and once in the
    # detail section — count the numbered detail entries
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan


def test_customer_rfm_no_global_window(spark):
    """The RFM quartiles must come from the distributed rank, never a
    global unpartitioned window (single-task sort of the per-customer
    table — serial at 100 TB)."""
    m = _entry()
    plan = _plan(m.queries()["customer_rfm"](spark, SF_DIR))
    assert "Window" not in plan, plan


def test_ntile_from_rank_matches_sql_ntile(spark):
    """_ntile_from_rank must be byte-exact vs Spark's NTILE over the same
    total order — including the n % tiles remainder buckets and n < tiles
    degenerate cases."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    m = _entry()
    for n in (1, 2, 3, 4, 5, 6, 7, 8, 97):
        df = spark.range(n).select(
            F.col("id"), (F.col("id") % 7).alias("key")
        )
        w = Window.orderBy(F.col("key").desc(), "id")
        expected = df.select(
            "id", F.ntile(4).over(w).cast("long").alias("t")
        )
        ranked = df.select(
            "id",
            (F.row_number().over(w) - 1).cast("long").alias("__rank"),
        )
        got = ranked.select(
            "id", m._ntile_from_rank(F.col("__rank"), n).alias("t")
        )
        le, lg = (
            {r["id"]: r["t"] for r in expected.collect()},
            {r["id"]: r["t"] for r in got.collect()},
        )
        assert le == lg, f"n={n}: {le} vs {lg}"


# Queries whose physical plans legitimately contain a Window with an EMPTY
# partitioning (a single-task global sort at scale — banned everywhere
# else, see test_customer_rfm_no_global_window): each runs the window over
# a provably CONSTANT/bounded-size input, never the fact table.
GLOBAL_WINDOW_ALLOWED = {
    # cumulative share over the <= 64-row power-of-2 frequency-band table
    "term_frequency_spectrum",
    # lag() over the n_buckets-row (3) per-bucket min/max aggregate
    "perplexity_buckets_check",
    # step-ordering window over the k-row (3) funnel-step dimension
    "event_funnel",
    # share-of-total over the per-source aggregate (|distinct sources|
    # rows; the corpus has a handful of sources by construction)
    "mixture_weights",
}


def _groups(line: str) -> list[str]:
    """Top-level [...] groups of a formatted-plan Arguments line."""
    groups, depth, cur = [], 0, ""
    for ch in line:
        if ch == "[":
            depth += 1
            cur = cur + ch if depth > 1 else ""
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
            else:
                cur += ch
        elif depth > 0:
            cur += ch
    return groups


def _has_global_window(plan: str) -> bool:
    """True if any Window node has an empty partition spec.  Formatted
    Arguments are [exprs], [partitionSpec], [orderSpec]; the middle group
    is omitted for global windows — so 2 groups where the second carries
    sort markers (or 1 group) means global, while 2 groups without sort
    markers is a partitioned, unordered full-frame window.  Matches
    `(N) Window` exactly (WindowGroupLimit prints a different shape)."""
    import re

    for block in plan.split("\n\n"):
        if not re.fullmatch(r"\(\d+\) Window", block.split("\n")[0].strip()):
            continue
        for line in block.split("\n"):
            if not line.startswith("Arguments:"):
                continue
            g = _groups(line)
            if len(g) < 2 or (
                len(g) == 2 and (" ASC" in g[1] or " DESC" in g[1])
            ):
                return True
    return False


def test_plan_sweep_no_cartesian_no_row_udfs(query_frame):
    """ONE pass over every registered query plan (plan construction runs
    real driver actions for the iterative queries, so sweep once):

    - nested-loop/cartesian joins may appear only in the sanctioned
      all-pairs baselines (NLJ_ALLOWED);
    - Python appears only as Arrow-batched eval (mapInPandas / grouped
      map / cogroup / pandas UDF) — never BatchEvalPython, the
      row-at-a-time path that is 10-100x slower;
    - no Window with an empty partitioning over an unbounded input (a
      single-partition sort of the fact table at 100 TB) outside the
      constant-size whitelist (GLOBAL_WINDOW_ALLOWED).
    """
    m = _entry()
    cartesian, row_udfs, global_windows = [], [], []
    for name in m.queries():
        plan = _plan(query_frame(name, SF_DIR))
        if "CartesianProduct" in plan and name not in NLJ_ALLOWED:
            cartesian.append(name)
        if "BatchEvalPython" in plan:
            row_udfs.append(name)
        if _has_global_window(plan) and name not in GLOBAL_WINDOW_ALLOWED:
            global_windows.append(name)
    assert not cartesian, f"unsanctioned cartesian joins in: {cartesian}"
    assert not row_udfs, f"row-at-a-time Python UDFs in: {row_udfs}"
    assert not global_windows, (
        f"unwhitelisted global (unpartitioned) windows in: {global_windows}"
    )
