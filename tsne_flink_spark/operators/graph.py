"""Distributed connected components over an edge DataFrame.

The missing last stage of every near-dup pipeline: pair miners
(``ngram_jaccard_pairs``, LSH candidates, winnowing overlap) emit EDGES, but
canonicalization needs the transitive closure — "keep one document per
duplicate CLUSTER", not "per pair" (a~b, b~c must collapse a,b,c together
even when a,c were never compared).

Algorithm: min-label propagation with pointer jumping — each round every
node takes the minimum label over itself and its neighbors (one equi-join +
groupBy-min per round), then short-circuits chains by following its own
label's label (a second self-join: path halving).  Label propagation alone
converges in O(diameter) rounds; the pointer-jumping step cuts chains in
half each round, giving O(log diameter) — the same round complexity class
as the large-star/small-star formulation (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014) with a simpler invariant.

Scale: per round, the shuffle is O(|E|) rows keyed by node id (AQE handles
skewed high-degree nodes the same way it handles the LSH band joins — see
BASELINE.md B17); no step ever holds a partition-spanning structure, and
the driver sees only a 1-row convergence aggregate per round.  Each round
carries the previous label through its checkpoint, so the convergence test
is an exact changed-row count over already-materialized data — no join
re-execution, and no arithmetic on the ids themselves (a ``sum(label)``
potential would overflow int64 for hash-derived node ids near 2^62).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.operators.optimize import materialize


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 50,
) -> DataFrame:
    """(id, component) for every node appearing in ``edges``; ``component``
    is the minimum node id of the node's connected component.

    ``edges`` is treated as undirected; self-loops and duplicate edges are
    harmless (they propagate no new labels).  Nodes with no edges are not
    emitted — callers canonicalizing a full table left-join and coalesce
    with the node's own id (an isolated row is its own cluster).
    """
    # materialize the symmetrized edges ONCE: every round's message join
    # re-reads them, and without the checkpoint each round would re-execute
    # the caller's entire upstream pair-mining pipeline (measured 10x on
    # the ngram-Jaccard miner)
    sym = materialize(
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")).union(
            edges.select(F.col(dst).alias("__s"), F.col(src).alias("__d"))
        )
    )

    labels = materialize(
        sym.select(F.col("__s").alias("id")).distinct()
        .select("id", F.col("id").alias("component"))
    )

    for _ in range(max_rounds):
        # neighbor messages: every edge endpoint offers its current label;
        # the node's own row is tagged so ONE aggregate yields both the
        # relaxed label (min over all rows) and the previous label (the
        # unique own row) — no extra join for convergence detection
        msgs = sym.join(
            labels.select(F.col("id").alias("__s"), "component"), "__s"
        ).select(F.col("__d").alias("id"), "component", F.lit(False).alias("__own"))
        relaxed = (
            labels.select("id", "component", F.lit(True).alias("__own"))
            .union(msgs)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.max(F.when(F.col("__own"), F.col("component"))).alias("__old"),
            )
        )
        # pointer jumping (path halving): follow the label's own label.
        # Labels are always node ids, so the lookup side is `relaxed` keyed
        # by id; component(component) <= component by the min invariant.
        hop = relaxed.select(
            F.col("id").alias("component"), F.col("component").alias("__c2")
        )
        combined = materialize(
            relaxed.join(hop, "component", "left").select(
                "id",
                F.coalesce("__c2", "component").alias("component"),
                (F.col("component") != F.col("__old")).alias("__chg"),
            )
        )
        labels = combined.select("id", "component")
        # relax-fixpoint certifies the answer: no message improved any
        # label => labels are constant across every edge, and the component
        # minimum's own label pins that constant to the minimum.  (The jump
        # is pure acceleration; at relax-fixpoint it is a no-op.)  The count
        # reads the just-checkpointed rows — nothing re-executes.
        if combined.where("__chg").count() == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds "
        "(log2(diameter) rounds expected; is the edge set adversarial?)"
    )


def pagerank(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    iters: int = 10,
    damping: float = 0.85,
    undirected: bool = True,
) -> DataFrame:
    """(id, rank) after ``iters`` synchronous power iterations of
    PageRank (Brin & Page 1998) with uniform teleport.

    In a curation pipeline this ranks the near-dup similarity graph
    (centrality of a template family) or a URL/domain link graph (the
    domain-quality prior CommonCrawl-derived corpora weight by).

    Dataflow per iteration: one equi-join of ranks onto the out-edge
    list + one groupBy(dst) sum — O(|E|) shuffled rows, AQE-handled
    skew for celebrity nodes; on the directed path the dangling-mass
    scalar rides as a 1-row broadcast aggregate inside the plan (no
    per-iteration driver action).  Deterministic up to float-sum order;
    the DuckDB oracles unroll the same iterations
    (__spark_entry__._pagerank_oracle_sql / _link_pagerank_oracle_sql).

    Dangling nodes (no out-edges — only possible when ``undirected``
    is False) redistribute their mass uniformly, the standard
    stochastic-matrix completion.  Ranks sum to the node count (the
    "rank mass = N" convention, so an isolated graph's uniform rank
    is 1.0 per node)."""
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    if undirected:
        e = e.union(
            edges.select(F.col(dst).alias("__s"), F.col(src).alias("__d"))
        )
    e = materialize(e.where(F.col("__s") != F.col("__d")).distinct())
    nodes = materialize(
        e.select(F.col("__s").alias("id"))
        .union(e.select(F.col("__d").alias("id")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("id", F.lit(0.0).alias("rank"))
    deg = e.groupBy("__s").agg(F.count(F.lit(1)).cast("double").alias("__deg"))
    out_e = materialize(e.join(deg, "__s"))

    ranks = materialize(nodes.select("id", F.lit(1.0).alias("rank")))
    # Scale-adaptive loop partitioning (r15, guide §2/§2.2): the
    # iteration shuffles carry O(|E|) rows, so size the shuffle width
    # from the MEASURED edge count (cheap count on the checkpointed e)
    # instead of the session's batch-analytics default — a keyword
    # co-occurrence or domain graph of a few hundred edges otherwise
    # pays 10 iterations of 64-way shuffle machinery for single-block
    # data (measured: keyword_textrank PR loop 3.2 -> 2.3 s at width 1,
    # output hash-identical).  ~64k edges per partition, clamped to the
    # session value so a 100-TB edge list keeps its full width; the
    # entire loop executes eagerly inside the conf window (the last
    # iteration materializes), so the restore cannot strand lazy work.
    import os as _os

    sess = e.sparkSession
    cur_parts = sess.conf.get("spark.sql.shuffle.partitions")
    env = _os.environ.get("SPARK_GRAFT_GRAPH_PARTS")
    if env:
        loop_parts = int(env)
    else:
        loop_parts = max(1, min(int(cur_parts), -(-e.count() // 65_536)))
    sess.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        ranks = _pagerank_loop(
            e, nodes, deg, out_e, ranks, n, iters, damping, undirected
        )
    finally:
        sess.conf.set("spark.sql.shuffle.partitions", cur_parts)
    return ranks


def _pagerank_loop(
    e: DataFrame,
    nodes: DataFrame,
    deg: DataFrame,
    out_e: DataFrame,
    ranks: DataFrame,
    n: int,
    iters: int,
    damping: float,
    undirected: bool,
) -> DataFrame:
    """The synchronous power-iteration loop of :func:`pagerank`, split
    out so the caller can bound its shuffle width (every job it
    launches runs eagerly inside — each cadence step materializes)."""
    for it in range(iters):
        contrib = (
            out_e.join(ranks.select(F.col("id").alias("__s"), "rank"), "__s")
            .select(
                F.col("__d").alias("id"),
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )
            .groupBy("id")
            .agg(F.sum("__c").alias("__in"))
        )
        # dangling mass: rank held by nodes with no out-edges.  A
        # symmetrized graph has none — skip the term entirely.  On the
        # directed path it rides as a 1-ROW BROADCAST AGGREGATE inside
        # the same plan (the side-input pattern every global scalar here
        # uses) rather than a per-iteration driver collect: no extra job
        # or round-trip per iteration, and nothing driver-side at scale
        # (measured: 6.9 -> 5.1 s warm on the 997-domain link graph).
        if undirected:
            # the symmetrized edge set gives every node >= 1 in-edge
            # (each appears as the destination of its own reversed
            # edge, and nodes is DERIVED from e, so isolated ids cannot
            # exist) — contrib's key set IS the node set, making the
            # directed path's nodes-left-join an identity here.  Skip
            # it and its per-iteration shuffle outright (guide §2.4;
            # r15: one of three iteration shuffles removed, rank values
            # bit-identical because __in is never NULL on this path)
            next_ranks = contrib.select(
                "id",
                (
                    F.lit(1.0 - damping) + F.lit(damping) * F.col("__in")
                ).alias("rank"),
            )
        else:
            dmass = (
                ranks.join(
                    deg.select(F.col("__s").alias("id")), "id", "left_anti"
                )
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__m"))
            )
            next_ranks = (
                nodes.join(contrib, "id", "left")
                .crossJoin(F.broadcast(dmass))
                .select(
                    "id",
                    (
                        F.lit(1.0 - damping)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("__in"), F.lit(0.0))
                            + F.col("__m") / F.lit(float(n))
                        )
                    ).alias("rank"),
                )
            )
        ranks = next_ranks
        # checkpoint on a cadence, not every round: each iteration
        # references the previous ranks exactly once, so the
        # un-truncated lineage is a CHAIN (no recompute diamond) and a
        # handful of chained joins costs Catalyst nothing.  The directed
        # path references the previous ranks TWICE (contrib + the
        # dangling aggregate) — a diamond whose recompute would double
        # per iteration — so it truncates every round; unbounded growth
        # still caps the undirected cadence
        if (not undirected) or it % 4 == 3 or it == iters - 1:
            ranks = materialize(ranks)
    return ranks


def label_propagation(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    iters: int = 4,
) -> DataFrame:
    """(id, community) after ``iters`` SYNCHRONOUS label-propagation
    rounds (Raghavan et al. 2007): every node adopts the most frequent
    label among its neighbors, ties broken by the SMALLEST label — the
    deterministic variant, so the result is engine-replayable (the
    DuckDB oracle unrolls the same rounds) unlike the classic
    random-order asynchronous LPA.

    Where connected_components answers "which nodes are reachable",
    LPA answers "which nodes are DENSELY linked" — communities, not
    components: a corpus-level template family inside a weakly bridged
    near-dup graph, or topical domain clusters in a link graph, split
    apart even though they are one component.

    Dataflow per round: one equi-join of labels onto the symmetrized
    edges + one groupBy(node, label) count + one groupBy(node)
    max-of-struct — O(|E|) shuffled rows per round keyed by node id
    (AQE-handled skew for hubs), all map-side combinable, nothing
    driver-side.  Fixed ``iters`` (synchronous LPA can oscillate
    2-cycles on bipartite structures, so a fixpoint loop could spin;
    a bounded round count is the standard remedy and keeps the oracle
    finite).  Node ids must be non-negative integers (the min-label
    tie-break rides a negated struct field).  Isolated nodes never
    appear (no edges => no votes); self-loops are dropped.
    """
    sym = materialize(
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .union(edges.select(F.col(dst).alias("__s"), F.col(src).alias("__d")))
        .where(F.col("__s") != F.col("__d"))
        .distinct()
    )
    labels = materialize(
        sym.select(F.col("__s").alias("id")).distinct()
        .select("id", F.col("id").alias("community"))
    )
    for it in range(iters):
        votes = (
            sym.join(labels.select(F.col("id").alias("__s"), "community"), "__s")
            .groupBy(F.col("__d").alias("id"), "community")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        # deterministic argmax in ONE aggregate (the user_peak_event
        # idiom): lexicographic struct max = highest count, then highest
        # -label = LOWEST label — no second max-count join, map-side
        # combinable
        labels = votes.groupBy("id").agg(
            F.max(F.struct(F.col("__c"), (-F.col("community")).alias("__nl")))
            .getField("__nl").alias("community")
        ).select("id", (-F.col("community")).alias("community"))
        # every round references the previous labels once (a chain, like
        # undirected pagerank) — truncate on the same cadence
        if it % 4 == 3 or it == iters - 1:
            labels = materialize(labels)
    return labels


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 100,
    peel_batch: int = 3,
    _stats: dict | None = None,
) -> DataFrame:
    """(id, deg) for every node of the ``k``-core — the unique maximal
    subgraph in which every node has degree >= k (Seidman 1983) — with
    ``deg`` its degree INSIDE the core.  The classic graph-cleanup pass
    before mining: in a near-dup similarity graph the 2-core separates
    genuine template families (dense, survive peeling) from incidental
    pairwise matches (trees/chains, peeled away); in a link graph the
    k-core is the standard spam-farm / dense-community locator.

    Algorithm: synchronous peeling — repeatedly delete ALL nodes of
    current degree < k until none remain.  Deleting a node can only
    lower its neighbors' degrees, so peeling order doesn't matter and
    the fixpoint is the unique k-core (every surviving node certifies
    degree >= k within the survivors).  Rounds needed = the peel depth
    (how long a chain of degree-(k-1) dependencies can be), typically
    tiny on clique-like dedup graphs.

    Dataflow per DRIVER round: ``peel_batch`` synchronous peel levels
    composed LAZILY (each: one groupBy(endpoint) degree count — O(|E|)
    map-side-combinable shuffle — plus two anti-joins dropping edges
    with a deleted endpoint), then ONE materialize + 1-row convergence
    count.  Peeling is confluent (deleting a node only lowers neighbor
    degrees, so order/batching never changes the unique fixpoint), and
    sub-rounds past the fixpoint are no-ops — the batched peel returns
    BIT-IDENTICAL (id, deg) output while cutting driver round-trips to
    ceil(depth / peel_batch) + 1: the r12-verdict refinement for
    adversarial deep-chain graphs, where synchronous peeling needs one
    level per round (depth N/2 on an N-chain) and each driver round-trip
    is a whole job-submission latency at 1000-executor scale.  Within a
    batch the repeated references to the same lazy edge frame
    deduplicate through ReuseExchange (BASELINE.md B80 — identical
    output, rounds = depth/3, and wall-clock WINS on chains;
    typical dedup graphs converge in 1-2 driver rounds either way).
    The edge set shrinks monotonically; the per-round materialize
    truncates lineage like directed pagerank.  Engine-replayable: the
    DuckDB oracle unrolls the same synchronous LEVELS (__spark_entry__.
    _kcore_oracle_sql — level count, not driver-round count, which is
    why batching doesn't change the oracle).  ``_stats``, when passed,
    receives {"driver_rounds": n} for probes."""
    if peel_batch < 1:
        raise ValueError(f"peel_batch must be >= 1, got {peel_batch}")
    e = materialize(
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .union(edges.select(F.col(dst).alias("__s"), F.col(src).alias("__d")))
        .where(F.col("__s") != F.col("__d"))
        .distinct()
    )

    def _peel_once(ed: DataFrame) -> DataFrame:
        d = ed.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
        b = d.where(F.col("__deg") < k).select("__s")
        return ed.join(b, "__s", "left_anti").join(
            b.select(F.col("__s").alias("__d")), "__d", "left_anti"
        )

    for rnd in range(max_rounds):
        deg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg"))
        bad = materialize(deg.where(F.col("__deg") < k).select("__s"))
        if bad.count() == 0:
            if _stats is not None:
                _stats["driver_rounds"] = rnd + 1
            return deg.select(
                F.col("__s").alias("id"), F.col("__deg").cast("long").alias("deg")
            )
        e2 = e.join(bad, "__s", "left_anti").join(
            bad.select(F.col("__s").alias("__d")), "__d", "left_anti"
        )
        # remaining peel levels of this batch, composed lazily — no
        # driver action until the single materialize below
        for _ in range(peel_batch - 1):
            e2 = _peel_once(e2)
        e = materialize(e2)
        # a fully-peeled (empty) edge set falls out naturally: the next
        # round's degree table is empty, bad is empty, and the empty
        # (id, deg) frame returns through the convergence branch
    raise RuntimeError(
        f"k_core did not converge in {max_rounds} peel rounds"
    )


def random_walks(
    edges: DataFrame,
    walk_len: int = 6,
    seed: int = 1,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """(walk_id, step, node): one deterministic random walk of
    ``walk_len`` steps from EVERY node of the undirected graph — the
    training-sequence generator behind DeepWalk / node2vec (Perozzi et
    al. 2014; Grover & Leskovec 2016): feed the walks to a skip-gram
    model and the co-visited nodes become similar embeddings.  In a
    curation pipeline, walks over the near-dup graph give family-context
    sequences; over a link graph, DeepWalk-style domain embeddings.

    "Random" is a seeded pseudo-random permutation, not entropy: at
    step t from node v the walk picks sorted-neighbor index
    ``lcg(seed, walk_id, t, v) mod deg(v)`` (the same engine-replayable
    bijective LCG the KMV sketches use), so the full corpus of walks is
    deterministic AND DuckDB-reproducible — the oracle unrolls the same
    steps (__spark_entry__._random_walks_oracle_sql).  walk_id = start
    node (one walk per node; call again with different seeds for more).

    Dataflow: adjacency grouped ONCE into sorted neighbor arrays
    (shuffle O(|E|)), then ``walk_len`` equi-joins of the walk frontier
    against it — O(#walks) rows per step keyed by current node,
    AQE-handled skew when many walks sit on a hub.  A hub's neighbor
    array is O(deg) long; at web scale cap degrees upstream (the
    adamic_adar mitigation) if super-hubs exist.  Isolated nodes never
    appear (no edges, no walk)."""
    from tsne_flink_spark.pipeline.sketches import _KMV_M, kmv_hash

    sym = (
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .union(edges.select(F.col(dst).alias("__s"), F.col(src).alias("__d")))
        .where(F.col("__s") != F.col("__d"))
        .distinct()
    )
    adj = materialize(
        sym.groupBy("__s").agg(F.array_sort(F.collect_set("__d")).alias("__nb"))
    )
    state = adj.select(
        F.col("__s").alias("walk_id"), F.col("__s").alias("node")
    )
    steps = [state.select("walk_id", F.lit(0).alias("step"), "node")]
    for t in range(1, walk_len + 1):
        # ids are pmod-reduced into [0, 2^31) BEFORE the multiply-add so
        # hash-derived 64-bit node ids (near 2^62) can't overflow the
        # int64 products (max term 2^31 * 1000003 < 2^52) — the same
        # bounded-product guarantee kmv_hash documents for its own
        # arithmetic.  For ids already < 2^31 (every gated dataset) the
        # reduction is the identity, so walks are unchanged.
        choice = F.pmod(
            kmv_hash(
                F.lit(int(seed) % _KMV_M) * F.lit(1_000_003)
                + F.pmod(F.col("walk_id"), F.lit(_KMV_M)) * F.lit(7_919)
                + F.lit(t) * F.lit(104_729)
                + F.pmod(F.col("node"), F.lit(_KMV_M))
            ),
            F.size("__nb"),
        )
        state = materialize(
            state.join(adj, state["node"] == adj["__s"])
            .select(
                "walk_id",
                F.element_at(
                    "__nb", (choice + F.lit(1)).cast("int")
                ).alias("node"),
            )
        )
        steps.append(state.select("walk_id", F.lit(t).alias("step"), "node"))
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out


def walk_embeddings(
    walks: DataFrame,
    dim: int = 16,
    window_size: int = 3,
    seed: int = 1,
    epochs: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, emb array<double>): skip-gram node embeddings trained on the
    random-walk corpus — the DeepWalk second half (Perozzi et al. 2014):
    :func:`random_walks` emits (walk_id, step, node) training sequences,
    this consumes them, and nodes that co-occur in walks (same dup
    family / link community) land near each other in the embedding
    space.  The output feeds the same downstream consumers as document
    embeddings: ANN search, embedding-cosine dedup, clustering.

    Trains at the MLlib boundary the survey sanctions (ml.feature.
    Word2Vec — the skip-gram + hierarchical-softmax implementation):
    walks are grouped into ordered node-string sequences (one shuffle on
    walk_id), then Word2Vec's distributed SGD runs ``epochs`` passes.
    Scale: the model state is the vocab x dim float matrix — vocab here
    is the number of NODES WITH EDGES (dup-graph nodes, not corpus
    documents), broadcast per iteration; at web scale shard the graph by
    connected component first (components embed independently) or cap
    hub degrees upstream.  Like all SGD training, float reduction order
    makes exact outputs run-dependent — gate with invariants (co-walked
    pairs more cosine-similar than non-co-walked pairs), not hashes.

    ``num_partitions=None`` (default) resolves to
    ``max(2, defaultParallelism // 4)`` — Word2Vec's SGD streams are the
    wall-clock bottleneck on any real walk corpus, and the measured
    tradeoff at the derived value (8 on local[32]) is 3.77x faster
    training for a -0.014 change in the neighbor-vs-non-neighbor cosine
    margin (BASELINE.md B89) — noise next to
    the >= 0.2 margin the gate pins.  Pass ``num_partitions=1`` to force
    the single-stream parameter averaging when exact run-to-run
    stability matters more than wall (standard Word2Vec tradeoff; like
    all SGD, outputs are float-order run-dependent either way — gate
    with invariants, not hashes)."""
    from pyspark.ml.feature import Word2Vec
    from pyspark.ml.functions import vector_to_array

    seqs = walks.groupBy("walk_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("step", "node"))),
            lambda s: s["node"].cast("string"),
        ).alias("walk")
    )
    if seqs.isEmpty():  # Word2Vec.fit throws on an empty vocab
        return walks.sparkSession.createDataFrame(
            [], "id bigint, emb array<double>"
        )
    if num_partitions is None:
        num_partitions = max(
            2, walks.sparkSession.sparkContext.defaultParallelism // 4
        )
    w2v = Word2Vec(
        vectorSize=dim,
        windowSize=window_size,
        minCount=1,
        seed=seed,
        maxIter=epochs,
        numPartitions=num_partitions,
        inputCol="walk",
        outputCol="__v",
    )
    model = w2v.fit(seqs)
    return model.getVectors().select(
        F.col("word").cast("long").alias("id"),
        vector_to_array(F.col("vector")).alias("emb"),
    )


def embed_by_component(
    edges: DataFrame,
    walks: DataFrame,
    dim: int = 16,
    window_size: int = 3,
    seed: int = 1,
    epochs: int = 4,
    num_partitions: int | None = None,
    n_shards: int = 4,
) -> DataFrame:
    """(id, emb): :func:`walk_embeddings` sharded by connected component
    — the web-scale path the plain function's docstring prescribes, made
    executable.

    Why sharding is sound: a random walk never leaves its component, so
    skip-gram windows NEVER span two components — training component A's
    walks in the same fit as component B's adds zero co-occurrence
    signal between them.  Splitting the corpus so each fit sees a
    disjoint component family therefore changes nothing semantically,
    while cutting the one thing that doesn't scale in Word2Vec: the
    vocab x dim parameter matrix every executor holds (and re-broadcasts
    per iteration).  With ``n_shards`` shards each fit's vocab is ~1/n
    of the node set, so a graph whose full model would blow the
    broadcast budget trains in n bounded pieces.

    Mechanics: components from :func:`connected_components` (O(log
    diameter) rounds), each walk tagged with its step-0 node's component
    (all its nodes share it), shard = component mod ``n_shards`` (a
    component is never split), one Word2Vec fit per shard in a driver
    loop bounded by ``n_shards`` — NOT by the component count, which at
    web scale is dominated by millions of tiny families.  Output is the
    disjoint union; each node appears exactly once.  Per-shard seeds
    differ (seed + shard) so shards don't share init vectors.

    Embeddings are only comparable WITHIN a component family in any
    DeepWalk setup (nothing ever relates disconnected nodes), so the
    per-shard models cost nothing over the monolithic fit for every
    downstream same-component use (dedup, clustering, link prediction).
    """
    comps = connected_components(edges, "a", "b").select(
        F.col("id").alias("__h"), "component"
    )
    heads = walks.where(F.col("step") == 0).select(
        "walk_id", F.col("node").alias("__h")
    )
    tagged = (
        walks.join(heads, "walk_id")
        .join(comps, "__h")
        .withColumn(
            "__shard", F.pmod(F.col("component"), F.lit(n_shards))
        )
    )
    from tsne_flink_spark.operators.optimize import materialize

    # one lineage cut: every shard's filter reads the tagged corpus, and
    # connected_components' iterative lineage must not re-execute per fit
    tagged = materialize(
        tagged.select("walk_id", "step", "node", "__shard")
    )
    out = None
    for s in range(n_shards):
        emb = walk_embeddings(
            tagged.where(F.col("__shard") == s).select(
                "walk_id", "step", "node"
            ),
            dim=dim,
            window_size=window_size,
            seed=seed + s,
            epochs=epochs,
            num_partitions=num_partitions,
        )
        out = emb if out is None else out.unionByName(emb)
    return out


def adamic_adar(
    edges: DataFrame,
    k: int = 100,
    max_degree: int | str | None = None,
) -> DataFrame:
    """Top-``k`` link predictions (x, y, score) over an undirected graph:
    for every NON-adjacent pair sharing >= 1 neighbor, the Adamic-Adar
    score sum_z 1/ln(deg(z)) over common neighbors z (Adamic & Adar
    2003) — "which near-dup families are about to merge" / "which
    domains should be linked" ranking.  Ordered by (score desc, x, y);
    ties at the k-th score are broken by the pair ids, so top-k is
    deterministic.

    Dataflow: wedge enumeration centered on z — the symmetrized
    adjacency self-joined on the center with x < y caps each candidate
    pair to one row per shared neighbor — then a left_anti join against
    the existing edge set and one groupBy(x, y) sum.  Wedge fan-out is
    sum_z deg(z)^2: a power-law hub dominates it, so ``max_degree``
    (the standard link-prediction mitigation) drops super-hub CENTERS
    entirely — a hub shared by everything carries ~no signal anyway
    (1/ln(deg) -> 0) and at web scale would alone emit O(deg^2) wedges.
    Degree-1 centers produce no wedge, so ln(deg) >= ln 2 is always
    safe.  Top-k lands as TakeOrderedAndProject (per-partition partial
    top-k, no global sort).

    ``max_degree="sqrt"`` derives the cap as ceil(sqrt(m)) from the
    normalized edge count m — the bound that keeps total wedge fan-out
    O(m^1.5) regardless of hub shape (B74 measured it at 9x wedge
    reduction on a 1.17M-edge power-law graph, subsample-exact on the
    non-hub pairs) — at the cost of one cheap count() over the already-
    materialized edge set.  max_degree=None (uncapped) is PROBE-SCALE
    ONLY: sum_z deg(z)^2 is quadratic in hub degree, a scale-killer on
    any power-law graph — production callers should pass "sqrt" or an
    explicit cap (the gated ``link_adamic_adar`` query runs "sqrt").
    """
    e = materialize(
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = e.select(F.col("a").alias("z"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("z"), F.col("a").alias("n"))
    )
    if isinstance(max_degree, str):
        if max_degree != "sqrt":
            # a typo'd string would otherwise cast to NULL in the degree
            # filter and silently return an empty result
            raise ValueError(
                f"max_degree must be an int, None, or 'sqrt'; "
                f"got {max_degree!r}"
            )
        max_degree = math.ceil(math.sqrt(e.count()))
    deg = sym.groupBy("z").agg(F.count(F.lit(1)).cast("double").alias("d"))
    if max_degree is not None:
        deg = deg.where(F.col("d") <= max_degree)
    # adjacency annotated with its center's degree: referenced twice by
    # the wedge self-join below
    adj = materialize(sym.join(deg, "z"))
    wedges = (
        adj.alias("l")
        .join(adj.alias("r"), "z")
        .where(F.col("l.n") < F.col("r.n"))
        .select(
            F.col("l.n").alias("x"),
            F.col("r.n").alias("y"),
            (1.0 / F.log(F.col("l.d"))).alias("__w"),
        )
    )
    scored = (
        wedges.join(
            e.select(F.col("a").alias("x"), F.col("b").alias("y")),
            ["x", "y"],
            "left_anti",
        )
        .groupBy("x", "y")
        .agg(F.sum("__w").alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), "x", "y").limit(k)


def triangle_stats(edges: DataFrame, orient_by_degree: bool = False) -> DataFrame:
    """Global triangle census of an undirected graph: one row
    (n_nodes, n_edges, n_wedges, n_triangles, clustering_coefficient).

    Edges are normalized to distinct (a < b) pairs, so each triangle
    {x < y < z} is counted exactly once by the two-hop join
    e1(x, y) ⋈ e2(y, z) ⋈ e3(x, z) — no orientation bookkeeping and a
    DuckDB-replayable formulation.  Wedges (length-2 paths) come from
    the degree table: sum d·(d−1)/2; the global clustering coefficient
    is 3·triangles / wedges (0 when the graph has no wedge).

    Scale note: the id-ordered two-hop join's fan-out is Σ_v d(v)², so
    a power-law hub dominates it.  ``orient_by_degree=True`` switches
    to the standard web-scale fix (Schank–Wagner / Suri–Vassilvitskii
    degree orientation): every edge is directed toward the endpoint
    with the HIGHER (degree, id), which caps every oriented out-degree
    at O(√m), and the same two-hop closes x→y→z with x→z.  Each
    triangle has exactly one vertex from which both oriented edges
    leave (its minimum under the (degree, id) total order), so the
    count is identical — BASELINE.md B60 measures both
    on a 50k-edge hub graph.  The default stays id-ordered because the
    near-dup graphs this serves are degree-bounded by the dedup
    threshold itself (a doc can only be similar to so many docs at
    J ≥ t; the cluster probes B23/B27 bound the family sizes) and the
    id-ordered form is DuckDB-replayable for the oracle gate; point it
    at a link graph (sources/warc.extract_links) with the flag on.
    """
    from tsne_flink_spark.operators.optimize import materialize

    # materialize: the normalized edge table is referenced SIX times below
    # (degree scan x2, the three triangle roles, the edge count) — without
    # cutting lineage each reference re-executes the upstream edge miner
    # (measured 46.5 s -> 16 s on the sf0.1 near-dup graph)
    e = materialize(
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    wedges = deg.agg(
        # coalesce: an empty graph's census row carries typed zeros, not a
        # NULL wedge count (sum over zero rows is NULL in both engines)
        F.coalesce(
            F.sum(F.col("d") * (F.col("d") - 1) / 2), F.lit(0.0)
        ).alias("n_wedges"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )
    if orient_by_degree:
        # Direct each edge toward the higher-(degree, id) endpoint; the
        # oriented out-degree is then ≤ O(√m) for EVERY vertex (a vertex
        # keeps an out-edge only toward neighbors of no smaller degree,
        # and at most 2√m vertices have degree ≥ √m).  Materialized:
        # referenced three times by the two-hop below, and the degree
        # join must not re-run per reference.
        da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
        db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
        fwd = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
        )
        o = materialize(
            e.join(da, "a")
            .join(db, "b")
            .select(
                F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
                F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("w"),
            )
        )
        e1 = o.select(F.col("u").alias("x"), F.col("w").alias("y"))
        e2 = o.select(F.col("u").alias("y"), F.col("w").alias("z"))
        e3 = o.select(F.col("u").alias("x"), F.col("w").alias("z"))
    else:
        e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
        e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        n_edges.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            F.col("n_wedges").cast("long").alias("n_wedges"),
            "n_triangles",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coefficient"),
        )
    )
