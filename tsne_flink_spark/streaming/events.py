"""Event-stream operators.

The reference depends on flink-streaming but never uses a streaming API
(SURVEY §2.8) — batch ops cover its semantics.  This module provides the
Structured-Streaming-ready formulations for the driver's ``events`` table:
every transformation is expressed so the SAME code runs on a batch DataFrame
or a ``readStream`` source (the functions take a DataFrame; pass a streaming
one and add a sink).  Watermarking is applied only when the input is
streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsne_flink_spark.worker import skip_zip_rescan


def _maybe_watermark(events: DataFrame, ts_col: str, delay: str) -> DataFrame:
    if events.isStreaming:
        return events.withWatermark(ts_col, delay)
    return events


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    ts_col: str = "ts",
    late_data_delay: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window count + value sum per event_type.

    Batch: plain time-bucket groupBy.  Streaming: watermarked windowed agg.
    """
    ev = _maybe_watermark(events, ts_col, late_data_delay)
    return (
        ev.groupBy(
            F.window(F.col(ts_col), window_duration).alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_user_activity(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    exact: bool = False,
) -> DataFrame:
    """Sliding-window distinct-user activity.

    Default is ``approx_count_distinct`` (HLL — the only distinct aggregate
    usable under streaming watermarks and the right choice at 100 TB);
    ``exact=True`` switches to a true COUNT(DISTINCT) for batch/oracle use.
    """
    ev = _maybe_watermark(events, ts_col, "10 minutes")
    agg = (
        F.count_distinct(F.col("user_id")) if exact
        else F.approx_count_distinct("user_id")
    ).alias("n_users")
    return (
        ev.groupBy(F.window(F.col(ts_col), window_duration, slide).alias("win"))
        .agg(agg)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_users",
        )
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
) -> DataFrame:
    """Batch sessionization: per-user sessions split on inactivity gaps.

    lag + cumulative-sum-of-boundaries window pattern; for true streaming the
    equivalent is ``groupBy(session_window(ts, gap))`` — exposed via
    ``sessionize_streaming``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(ts_col)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    with_break = events.withColumn(
        "__new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    )
    with_sid = with_break.withColumn(
        "__session_seq", F.sum("__new_session").over(w)
    )
    return (
        with_sid.groupBy("user_id", "__session_seq")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .drop("__session_seq")
    )


def sessionize_streaming(
    events: DataFrame, gap: str = "30 minutes", ts_col: str = "ts"
) -> DataFrame:
    """Structured-Streaming-native session windows (also works on batch)."""
    ev = _maybe_watermark(events, ts_col, "10 minutes")
    return (
        ev.groupBy(
            F.session_window(F.col(ts_col), gap).alias("win"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("user_id"),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def state_history(
    events: DataFrame,
    state_col: str = "event_type",
    ts_col: str = "ts",
    key_col: str = "user_id",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an event log: per
    ``key_col``, consecutive runs of the same ``state_col`` collapse to
    one validity interval (key, state, valid_from, valid_to, n_events)
    — the CDC/merge primitive that turns "every click row" into "what
    was this user's state during [t1, t2)".  ``valid_to`` is the NEXT
    interval's start (half-open, the SCD2 convention) and NULL for the
    current interval.

    Gaps-and-islands in two windows, both partitioned by ``key_col``
    (co-partitioned — ONE shuffle on the key, then per-user sorts;
    no global window, scales with the key cardinality): island id =
    running count of state CHANGES (lag + cumulative sum), then one
    groupBy per island and a lead() for the half-open upper bound.
    Ordering is total — (ts, tiebreak) — so same-timestamp events
    replay identically in any engine.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    changed = (
        F.lag(state_col).over(w).isNull()
        | (F.lag(state_col).over(w) != F.col(state_col))
    ).cast("int")
    islands = (
        events.withColumn("__island", F.sum(changed).over(w))
        .groupBy(key_col, "__island")
        .agg(
            F.first(state_col).alias(state_col),
            F.min(ts_col).alias("valid_from"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w2 = Window.partitionBy(key_col).orderBy("__island")
    return islands.select(
        key_col,
        state_col,
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


def state_history_streaming(
    events: DataFrame,
    state_col: str = "event_type",
    ts_col: str = "ts",
    key_col: str = "user_id",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of :func:`state_history`: CLOSED validity intervals
    as a live CDC feed.

    Streaming: ``applyInPandasWithState`` keeps the OPEN interval
    (state, valid_from, n_events) per key and emits an interval the
    moment a state CHANGE closes it (valid_to = the new state's
    valid_from) — append semantics, the "dimension-update stream" a
    downstream SCD2 merge consumes.  The open interval lives in the
    keyed store, not the output; state is O(1) per key.  Events are
    ordered (ts, tiebreak) WITHIN each micro-batch; cross-batch
    ordering is the file/source order (the standard in-order-per-key
    CDC assumption — a late event after its successor's batch would
    fork history in any engine).

    Batch: the same closed intervals — ``state_history`` minus the
    NULL-``valid_to`` rows — so one call site serves both modes and
    the parity test compares them row-for-row.
    """
    if not events.isStreaming:
        return state_history(
            events, state_col, ts_col, key_col, tiebreak_col
        ).where(F.col("valid_to").isNotNull())

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} bigint, {state_col} string, valid_from timestamp, "
        f"valid_to timestamp, n_events bigint"
    )

    def update(key, pdfs, state: GroupState):
        skip_zip_rescan()
        # state tuple: (open state's value, valid_from epoch-µs, n_events)
        cur, vf_us, n = state.get if state.exists else (None, 0, 0)
        closed: list[tuple] = []
        # concat all Arrow chunks before sorting: per-chunk sorts break
        # (ts, tiebreak) order when a group spans >1 chunk (chunk size =
        # arrow.maxRecordsPerBatch)
        chunks = list(pdfs)
        batch = pd.concat(chunks, ignore_index=True) if chunks else None
        if batch is not None and len(batch):
            batch = batch.sort_values([ts_col, tiebreak_col])
            for s, t in zip(batch[state_col], batch[ts_col]):
                t_us = int(pd.Timestamp(t).value // 1_000)
                if cur is None:
                    cur, vf_us, n = s, t_us, 1
                elif s == cur:
                    n += 1
                else:
                    closed.append((key[0], cur, vf_us, t_us, n))
                    cur, vf_us, n = s, t_us, 1
        state.update((cur, vf_us, n))
        if closed:
            yield pd.DataFrame(
                {
                    key_col: [c[0] for c in closed],
                    state_col: [c[1] for c in closed],
                    "valid_from": pd.to_datetime(
                        [c[2] for c in closed], unit="us"
                    ),
                    "valid_to": pd.to_datetime(
                        [c[3] for c in closed], unit="us"
                    ),
                    "n_events": [c[4] for c in closed],
                }
            )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="s string, vf bigint, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_events(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Exactly-once event dedup by key.

    Streaming: ``dropDuplicatesWithinWatermark`` — duplicate suppression with
    state BOUNDED by the watermark (the unbounded-state ``dropDuplicates``
    variant would OOM on an infinite stream).  Batch: plain dropDuplicates.
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals — the custom-stateful-operator example.

    Streaming: ``applyInPandasWithState`` keeps (n_events, sum_value) per
    user key and emits the updated running totals every micro-batch — the
    Structured Streaming analogue of a Flink keyed rich function with
    ValueState.  Batch: an ordinary groupBy with the identical output schema,
    so the same call site works in both modes.
    """
    out_schema = "user_id bigint, n_events bigint, sum_value double"
    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        skip_zip_rescan()
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="n bigint, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "rts",
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join on ``on`` with an event-time interval
    condition: right_ts in [left_ts - lower... left_ts + upper] — i.e.
    ``left_ts - lower <= right_ts <= left_ts + upper``.

    Streaming: BOTH sides are watermarked, and the interval condition bounds
    the join state Spark must keep (without a time bound a stream-stream
    join's state grows forever; with it, rows age out as the watermark
    passes ``upper``).  Batch: the same code degrades to an ordinary
    equi-join + range filter, so one call site serves both modes.
    """
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {lower}"))
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {upper}"))
    )
    return lw.join(rw, cond).drop(rw[on])


def stream_events_from_files(
    spark, path: str, schema: str | None = None
) -> DataFrame:
    """readStream file source over a parquet directory of event files.

    Mirrors the batch loader's timestamp-unit detection
    (``sources.readers.load_events``): the unit is read once from the
    footer of an existing file at stream setup.  TIMESTAMP(NANOS) files are
    read with a raw-LONG schema and truncated to microseconds (Spark's
    vectorized reader rejects INT64 nanos); everything else reads with a
    classic TIMESTAMP schema, whose stored wall clock Spark decodes as
    UTC-epoch micros — identical instants to the batch path.  Every
    operator in this module then works unchanged on the returned streaming
    DataFrame.
    """
    from pyspark.sql import functions as F

    from tsne_flink_spark.sources.readers import _parquet_ts_unit

    if schema is not None:
        return spark.readStream.schema(schema).parquet(path)
    try:
        unit, _tz = _parquet_ts_unit(path)
    except FileNotFoundError:
        # Empty watched directory — a normal initial state for a file-stream
        # source.  Fall back to the classic TIMESTAMP schema (the driver's
        # steady-state encoding); pass an explicit ``schema`` to override.
        unit = "us"
    if unit == "ns" or unit is None:
        raw = spark.readStream.schema(
            "event_id bigint, ts long, user_id bigint, "
            "event_type string, value double, props string"
        ).parquet(path)
        return raw.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long"))
        )
    return spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    ).parquet(path)


def event_funnel(
    events: DataFrame,
    steps: list[str],
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Ordered conversion funnel: one row per step with the number of
    users who reached it IN ORDER (step k counts users with an event of
    type k STRICTLY AFTER their earliest qualifying step-(k-1) event).

    Greedy earliest-match is exact for reachability: taking the minimum
    qualifying timestamp at every step dominates any other choice, so a
    user is counted at step k iff ANY ordered occurrence of the first k
    steps exists.

    Plan: the events table is scanned ONCE (funnel-typed rows only —
    the isin filter is pushed to the scan), shuffled ONCE on the user
    key, then k same-partitioning window aggregates compute the chained
    per-user reach times t_k = min(ts WHERE type = step_k AND ts >
    t_{k-1}) without any further exchange; a per-user rollup (same key,
    no shuffle) and one tiny global sum produce every step count in a
    single pass.  The earlier per-step join formulation re-derived the
    reachability chain for each count branch and compiled to k(k+1)/2+1
    scans of the fact table (10 for k=3) — a fact-table multiplier at
    100 TB.  Returns (step_index, step, n_users, conversion_from_prev,
    conversion_from_first) ordered by step; step 0's
    conversion_from_prev is 1.0 by convention (there is no previous
    step).
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    from pyspark.sql import Window

    ev = events.where(F.col("event_type").isin(list(steps))).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col("event_type").alias("__type"),
    )
    w_user = Window.partitionBy("__u")
    t_cols: list[str] = []
    for k, step in enumerate(steps):
        qualifies = F.col("__type") == step
        if t_cols:
            qualifies = qualifies & (F.col("__ts") > F.col(t_cols[-1]))
        name = f"__t{k}"
        ev = ev.withColumn(
            name, F.min(F.when(qualifies, F.col("__ts"))).over(w_user)
        )
        t_cols.append(name)
    # one row per user (hash(__u) partitioning carries over from the
    # window — no new exchange), then one single-row global aggregate
    per_user = ev.groupBy("__u").agg(
        *[F.max(c).alias(c) for c in t_cols]
    )
    totals = per_user.agg(
        *[
            F.sum(F.col(c).isNotNull().cast("long")).alias(f"__n{k}")
            for k, c in enumerate(t_cols)
        ]
    )
    stack_args: list = [F.lit(len(steps))]
    for k, step in enumerate(steps):
        stack_args += [
            F.lit(k).cast("long"),
            F.lit(step),
            F.coalesce(F.col(f"__n{k}"), F.lit(0)).cast("long"),
        ]
    out = totals.select(
        F.stack(*stack_args).alias("step_index", "step", "n_users")
    )
    # ordering window over len(steps) rows — a constant-size relation
    w = Window.orderBy("step_index")
    first = F.first("n_users").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.lag("n_users").over(w)
    return out.select(
        "step_index",
        "step",
        "n_users",
        F.when(F.col("step_index") == 0, F.lit(1.0))
        .otherwise(F.round(F.col("n_users") / F.greatest(prev, F.lit(1)), 6))
        .alias("conversion_from_prev"),
        F.round(
            F.col("n_users") / F.greatest(first, F.lit(1)), 6
        ).alias("conversion_from_first"),
    ).orderBy("step_index")


def user_cohorts(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Weekly retention cohort matrix: users grouped by first-seen week,
    counted in every subsequent week they were active.

    Plan: one distinct (user, week) aggregate over the fact table
    (map-side combinable), a per-user min-week rollup of THAT (already
    one row per user-week), a co-partitioned join back, and the tiny
    (cohort, offset) matrix aggregate — the fact table is scanned once.
    Returns (cohort_week yyyy-MM-dd, week_offset, n_active_users).
    """
    uw = (
        events.select(
            F.col(user_col).alias("__u"),
            F.date_trunc("week", F.col(ts_col)).alias("__w"),
        )
        .distinct()
    )
    first = uw.groupBy("__u").agg(F.min("__w").alias("__w0"))
    return (
        uw.join(first, "__u")
        .select(
            F.date_format("__w0", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("__w"), F.col("__w0")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


def touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    horizon_days: int = 7,
    value_col: str = "value",
) -> DataFrame:
    """Multi-touch marketing attribution: credit each conversion's value
    to the touch events (clicks/views) that preceded it within a
    ``horizon_days`` lookback, under the two standard models at once —
    LAST-TOUCH (all credit to the latest preceding touch; ties broken by
    event id, so the pick is deterministic) and LINEAR (credit split
    equally across every preceding touch).  One row per touch type:
    (touch_type, conversions_last_touch, value_last_touch, value_linear),
    plus a ``(none)`` row carrying conversions with NO touch in the
    window — the rows every attribution report silently drops.

    Dataflow: conversions ⋈ touches is an equi-join on the user key with
    a time-range predicate (the standard sessionless attribution join —
    per-user fan-out is bounded by a user's touch count in the horizon,
    AQE handles heavy users); everything after is two groupBys keyed by
    conversion id, then a tiny per-type rollup.  The fact table is
    scanned twice (conversion filter, touch filter), both filters pushed
    to the scan.  Exact DuckDB oracle (same argmax tie-break)."""
    conv = events.where(F.col("event_type") == conversion_type).select(
        F.col("user_id").alias("__u"),
        F.col("event_id").alias("__cid"),
        F.col("ts").alias("__cts"),
        F.col(value_col).alias("__val"),
    )
    touch = events.where(F.col("event_type").isin(list(touch_types))).select(
        F.col("user_id").alias("__u"),
        F.col("event_id").alias("__tid"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("__tts"),
    )
    from tsne_flink_spark.operators.optimize import materialize

    # materialize both: conv is referenced twice (the range join + the
    # untouched anti-join) and pairs THREE times (per-conversion rollup,
    # per-type counts, the touched-id set) — without the lineage cut each
    # reference re-executes the fact-table scans and the range join
    # (audited: 14 parquet scans collapsing to 2 + the checkpoint reads)
    conv = materialize(conv)
    pairs = materialize(
        conv.join(touch, "__u").where(
            (F.col("__tts") <= F.col("__cts"))
            & (
                F.col("__tts")
                >= F.col("__cts")
                - F.expr(f"INTERVAL {int(horizon_days)} DAYS")
            )
        )
    )
    per_conv = pairs.groupBy("__cid").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.max(F.struct("__tts", "__tid", "touch_type"))
        .getField("touch_type")
        .alias("__last"),
        F.first("__val").alias("__v"),
    )
    per_type = (
        pairs.groupBy("__cid", "touch_type")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .join(per_conv, "__cid")
    )
    attributed = per_type.groupBy("touch_type").agg(
        F.sum(F.when(F.col("__last") == F.col("touch_type"), 1).otherwise(0))
        .cast("long")
        .alias("conversions_last_touch"),
        F.sum(
            F.when(
                F.col("__last") == F.col("touch_type"), F.col("__v")
            ).otherwise(0.0)
        ).alias("value_last_touch"),
        F.sum(
            F.col("__c").cast("double") / F.col("__n").cast("double")
            * F.col("__v")
        ).alias("value_linear"),
    )
    untouched = (
        conv.join(pairs.select("__cid").distinct(), "__cid", "left_anti")
        .agg(
            F.count(F.lit(1)).cast("long").alias("conversions_last_touch"),
            F.coalesce(F.sum("__val"), F.lit(0.0)).alias("value_last_touch"),
        )
        .select(
            F.lit("(none)").alias("touch_type"),
            "conversions_last_touch",
            "value_last_touch",
            F.lit(0.0).alias("value_linear"),
        )
    )
    return attributed.unionByName(untouched)


def event_transitions(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition summary of the event stream: for
    every ordered (from_type, to_type) pair of CONSECUTIVE events within
    a user's timeline, the transition count and conditional probability
    P(next = to | current = from) — the behavioral-model training
    artifact (next-event prediction priors, anomaly baselines,
    session-shape fingerprints).

    Ordering ties (same user, same timestamp) break by ``id_col``
    (default ``event_id``), so the consecutive-pair chain is
    deterministic and engine-replayable.
    Dataflow: one shuffle on the user key, a per-user lead() window (no
    global window), then a map-side-combinable pair count; the
    conditional denominator rides a broadcast per-from_type rollup."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        events.select(
            user_col, ts_col, id_col, F.col(type_col).alias("from_type")
        )
        .withColumn("to_type", F.lead("from_type").over(w))
        .where(F.col("to_type").isNotNull())
    )
    from tsne_flink_spark.operators.optimize import materialize

    # the tiny (|types|^2-row) count table is referenced twice (itself +
    # the per-from denominator); the cut stops the second reference from
    # re-running the full per-user window over the fact table
    counts = materialize(
        pairs.groupBy("from_type", "to_type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("__t"))
    return counts.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("__t").cast("double")).alias("p"),
    )


def transition_feed(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of :func:`event_transitions`: the RAW transition
    feed (user, from_type, to_type, ts) with one row per consecutive
    event pair in a user's timeline, ``ts`` = the destination event's
    timestamp — the live input a downstream transition-matrix rollup
    (a plain streaming groupBy count) or an online anomaly scorer
    consumes.

    Streaming: ``applyInPandasWithState`` keeps the user's LAST event
    (ts, tie-break id, type) in keyed state — O(1) per user — and emits
    one pair per subsequent event; pairs spanning a micro-batch boundary
    come out of the stored state (tested).  Events are ordered
    (ts, id) WITHIN each micro-batch; cross-batch order is source order
    (the standard in-order-per-key CDC assumption, same as
    :func:`state_history_streaming`).

    Batch: the identical pairs via one per-user lead() window, so one
    call site serves both modes and the parity test compares them
    row-for-row."""
    from pyspark.sql import Window

    if not events.isStreaming:
        w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
        return (
            events.select(
                user_col, ts_col, id_col, F.col(type_col).alias("from_type")
            )
            .withColumn("to_type", F.lead("from_type").over(w))
            .withColumn("__to_ts", F.lead(ts_col).over(w))
            .where(F.col("to_type").isNotNull())
            .select(
                user_col,
                "from_type",
                "to_type",
                F.col("__to_ts").alias("ts"),
            )
        )

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{user_col} bigint, from_type string, to_type string, ts timestamp"
    )

    def update(key, pdfs, state: GroupState):
        skip_zip_rescan()
        # state tuple: (last event's ts epoch-µs, tie-break id, type)
        last_ts, last_id, last_type = (
            state.get if state.exists else (0, 0, None)
        )
        # a micro-batch group arrives as MULTIPLE Arrow chunks when it
        # exceeds arrow.maxRecordsPerBatch — (ts, id) order must hold
        # across the whole batch, so concat first, sort once
        chunks = list(pdfs)
        batch = pd.concat(chunks, ignore_index=True) if chunks else None
        if batch is not None and len(batch):
            batch = batch.sort_values([ts_col, id_col])
            # vectorized pair emission (r15, guide §4.2): shift(1) gives
            # each event its predecessor's type; the first event's
            # predecessor is the stored state.  Identical rows to the
            # per-row loop this replaces (the parity test compares
            # against the batch lead() twin row-for-row).
            ts_us = (
                pd.to_datetime(batch[ts_col])
                .to_numpy()
                .astype("datetime64[us]")
                .astype("int64")
            )
            types = batch[type_col].reset_index(drop=True)
            prev = types.shift(1)
            if last_type is not None:
                prev.iloc[0] = last_type
            mask = prev.notna().to_numpy()
            last_ts = int(ts_us[-1])
            last_id = int(batch[id_col].iloc[-1])
            last_type = types.iloc[-1]
            state.update((last_ts, last_id, last_type))
            if mask.any():
                yield pd.DataFrame(
                    {
                        user_col: key[0],
                        "from_type": prev[mask].to_numpy(),
                        "to_type": types[mask].to_numpy(),
                        "ts": pd.to_datetime(ts_us[mask], unit="us"),
                    }
                )
        else:
            state.update((last_ts, last_id, last_type))

    return events.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="ts bigint, id bigint, s string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
