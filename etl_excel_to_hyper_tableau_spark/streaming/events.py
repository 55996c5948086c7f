"""Structured Streaming operators over the ``events`` table shape
(event_id, ts, user_id, event_type, value, props).

The reference is pure batch (SURVEY §2C last row); streaming is the
scale-era extension: the same event analytics expressed as an unbounded
query with watermarks for late data.  The batch/stream duality is
deliberate — :func:`sessionize_batch` and the streaming window counts
share semantics with their batch oracles, which is how correctness is
checked (run the stream with ``availableNow`` over a static directory,
compare to the batch answer).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.event_time import normalize_event_ts


def windowed_counts_stream(spark: SparkSession, events_dir: str,
                           window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Unbounded tumbling-window counts per event_type with a watermark
    for late data.  Returns the *streaming* DataFrame (caller attaches a
    sink); schema: window struct, event_type, n, total_value."""
    # events testdata stores TIMESTAMP(NANOS): read nanos as long and
    # truncate to micros (matches DuckDB's floor) before watermarking
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(events_dir).schema
    # the file source streams a *directory*; accept a single-file path by
    # splitting it into (parent, glob)
    reader = spark.readStream.schema(schema)
    if events_dir.endswith(".parquet") and not os.path.isdir(events_dir):
        parent, _, fname = events_dir.rpartition("/")
        reader = reader.option("pathGlobFilter", fname)
        events_dir = parent
    stream = normalize_event_ts(reader.parquet(events_dir))
    stream = stream.withWatermark("ts", watermark)
    return (stream
            .groupBy(F.window("ts", window).alias("window"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value")))


def run_windowed_counts_availablenow(spark: SparkSession, events_dir: str,
                                     window: str = "1 hour") -> DataFrame:
    """Execute the stream over the static directory with the
    ``availableNow`` trigger (process-everything-then-stop) into an
    in-memory sink; returns the batch result table.

    This is a real Structured Streaming execution — micro-batches,
    state store, watermark bookkeeping — not a batch rewrite.
    """
    name = "ev_counts_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (windowed_counts_stream(spark, events_dir, window=window)
         .writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name).select(
        F.col("window.start").alias("window_start"),
        "event_type", "n",
        F.col("total_value").cast("double").alias("total_value"))


def _event_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming reader for the events table shape (shared plumbing:
    nanos→micros truncation + single-file glob handling, as in
    :func:`windowed_counts_stream`)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(events_dir).schema
    reader = spark.readStream.schema(schema)
    if events_dir.endswith(".parquet") and not os.path.isdir(events_dir):
        parent, _, fname = events_dir.rpartition("/")
        reader = reader.option("pathGlobFilter", fname)
        events_dir = parent
    return normalize_event_ts(reader.parquet(events_dir))


def session_window_stream(spark: SparkSession, events_dir: str,
                          gap: str = "30 minutes",
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization with Spark's native ``session_window``:
    per-user sessions close after ``gap`` of inactivity; the watermark
    bounds state.  The streaming counterpart of
    :func:`sessionize_batch` (which assigns ordinal session ids —
    session_window identifies sessions by their time range instead,
    the natural keys in an unbounded setting)."""
    stream = _event_stream(spark, events_dir).withWatermark("ts", watermark)
    return (stream
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end")))


def run_session_windows_availablenow(spark: SparkSession, events_dir: str,
                                     gap: str = "30 minutes") -> DataFrame:
    """Execute the session-window stream over static data
    (availableNow trigger, memory sink) and return the result table."""
    name = "ev_sessions_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (session_window_stream(spark, events_dir, gap=gap)
         .writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name).select(
        "user_id", F.col("w.start").alias("session_start_w"),
        F.col("w.end").alias("session_end_w"),
        "n_events", "session_start", "session_end")


def dedup_stream_within_watermark(spark: SparkSession, events_dir: str,
                                  keys: list[str] | None = None,
                                  watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup bounded by the watermark:
    ``dropDuplicatesWithinWatermark`` keeps state only for rows younger
    than the watermark — the unbounded-input counterpart of
    ``operators.dedup.exact_dedup`` (which needs the full key set).
    Default keys: (user_id, event_type, value)."""
    stream = _event_stream(spark, events_dir).withWatermark("ts", watermark)
    return stream.dropDuplicatesWithinWatermark(keys or ["user_id", "event_type", "value"])


def run_dedup_stream_availablenow(spark: SparkSession, events_dir: str,
                                  keys: list[str] | None = None) -> DataFrame:
    name = "ev_dedup_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (dedup_stream_within_watermark(spark, events_dir, keys=keys)
         .writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def latest_state_stream(spark: SparkSession, events_dir: str,
                        watermark: str = "2 hours") -> DataFrame:
    """Streaming CDC: the running *latest* version per user — the
    unbounded counterpart of ``operators/cdc.py::latest_snapshot``.
    State is one (ts, event_id, event_type, value) tuple per key,
    replaced whenever a later ``(ts, event_id)`` arrives; arrival order
    across micro-batches does not matter because the comparison is on
    event time, not processing time.  ``applyInPandasWithState``
    because no windowed aggregate expresses "argmax so far forever"
    (max_by is not supported in streaming update-mode aggregates over
    an unbounded key lifetime with this output contract)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T
    import pandas as pd

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        best = state.get if state.exists else None
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                cand = (row.ts.to_pydatetime(), int(row.event_id),
                        row.event_type, float(row.value))
                if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                    best = cand
        state.update(best)
        yield pd.DataFrame({"user_id": [key[0]], "ts": [best[0]],
                            "event_id": [best[1]], "event_type": [best[2]],
                            "value": [best[3]]})

    stream = _event_stream(spark, events_dir).withWatermark("ts", watermark)
    return (stream.groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def run_latest_state_availablenow(spark: SparkSession,
                                  events_dir: str) -> DataFrame:
    name = "ev_latest_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (latest_state_stream(spark, events_dir)
         .writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    # several micro-batches may each emit a row per user; keep the one
    # with the greatest (ts, event_id) — the final state
    t = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (t.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1).drop("__rn__"))


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: a new session starts when a user's gap from
    the previous event exceeds ``gap_minutes``.  Classic lag + running
    sum; one shuffle on user_id.  Output per session:
    ``user_id, session_id, n_events, session_start, session_end``.
    """
    by_user = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(by_user)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    with_sess = (events
                 .withColumn("__new__", is_new)
                 .withColumn("session_id",
                             F.sum("__new__").over(
                                 by_user.rowsBetween(Window.unboundedPreceding, 0))))
    return (with_sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end")))


def funnel(events: DataFrame, steps: list[str],
           user_col: str = "user_id", type_col: str = "event_type",
           ts_col: str = "ts", within_minutes: int | None = None) -> DataFrame:
    """Ordered funnel analysis: for each user, the earliest strictly-
    increasing chain of event timestamps matching ``steps`` — the
    classic iterative min-timestamp formulation (step i's time = the
    user's earliest ``steps[i]`` event AFTER step i-1's time, all within
    ``within_minutes`` of step 1 when set).

    One hash aggregate + one equi-join per step, each shuffling on the
    high-entropy user key — len(steps) is a small constant, so the plan
    is a fixed pipeline of partial-agg groupBys at any corpus size (no
    windows over whole user histories, no cross products).

    Output: one row per user that completed step 1, with nullable
    ``t1..tN`` timestamps and ``steps_completed``.
    """
    cur = (events.filter(F.col(type_col) == steps[0])
           .groupBy(F.col(user_col).alias("user_id"))
           .agg(F.min(ts_col).alias("t1")))
    deadline = (F.col("t1") + F.expr(f"INTERVAL {int(within_minutes)} MINUTES")
                if within_minutes is not None else None)
    for i, step in enumerate(steps[1:], start=2):
        ev = events.filter(F.col(type_col) == step).select(
            F.col(user_col).alias("user_id"), F.col(ts_col).alias("__ts__"))
        cond = F.col("__ts__") > F.col(f"t{i - 1}")
        if deadline is not None:
            cond = cond & (F.col("__ts__") <= deadline)
        nxt = (ev.join(cur, "user_id")
               .filter(cond)
               .groupBy("user_id").agg(F.min("__ts__").alias(f"t{i}")))
        cur = cur.join(nxt, "user_id", "left")
    reached = F.lit(1)
    for i in range(2, len(steps) + 1):
        reached = reached + F.when(F.col(f"t{i}").isNotNull(), 1).otherwise(0)
    return cur.withColumn("steps_completed", reached.cast("long"))


def purchase_click_join_stream(spark: SparkSession, events_dir: str,
                               lookback_minutes: int = 60,
                               watermark: str = "2 hours") -> DataFrame:
    """Watermarked **stream-stream inner join**: each purchase joined to
    the same user's clicks in the preceding ``lookback_minutes`` — the
    canonical attribution join, and the one streaming operator class the
    other streams here don't cover (two unbounded sides, each buffered
    in the state store until the other side's watermark passes).

    Both sides carry a watermark and the join predicate carries a time
    range; together they bound the state Spark must retain (purchases
    wait at most ``lookback``, clicks at most ``watermark`` — without
    the range the state store would grow without bound, the classic
    stream-join failure mode at scale).  Same events source both sides:
    two filtered readers of one directory.

    **Stream-equals-batch caveat**: the equality with
    :func:`purchase_click_join_batch` that the oracle relies on holds
    when the ``availableNow`` run ingests the bounded source before
    watermarks advance — i.e. in a single micro-batch (guaranteed here:
    the runner reads one parquet file and the file source without a
    ``maxFilesPerTrigger`` cap takes all available files in its first
    batch).  Over a multi-file directory WITH a trigger cap and
    out-of-order event times across files, watermark advancement
    between micro-batches may drop late rows that the batch join keeps
    — that is correct streaming semantics, not a bug, but it breaks
    the equality; keep the cap unset when using the batch oracle.
    """
    clicks = (_event_stream(spark, events_dir)
              .filter(F.col("event_type") == "click")
              .select(F.col("user_id"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    purchases = (_event_stream(spark, events_dir)
                 .filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user_id"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"),
                         F.col("value").alias("purchase_value"))
                 .withWatermark("purchase_ts", watermark))
    cond = ((purchases.p_user_id == clicks.user_id) &
            (clicks.click_ts <= purchases.purchase_ts) &
            (clicks.click_ts >= purchases.purchase_ts
             - F.expr(f"INTERVAL {int(lookback_minutes)} MINUTES")))
    return (purchases.join(clicks, cond, "inner")
            .select("user_id", "purchase_id", "click_id",
                    "purchase_ts", "click_ts", "purchase_value"))


def run_purchase_click_join_availablenow(spark: SparkSession, events_dir: str,
                                         lookback_minutes: int = 60) -> DataFrame:
    """Execute the stream-stream join over the static directory with the
    ``availableNow`` trigger; returns the materialized result."""
    name = "pc_join_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (purchase_click_join_stream(spark, events_dir,
                                    lookback_minutes=lookback_minutes)
         .writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def purchase_click_join_batch(events: DataFrame,
                              lookback_minutes: int = 60) -> DataFrame:
    """Batch oracle for :func:`purchase_click_join_stream`: the identical
    join over the bounded table."""
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user_id"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"),
                         F.col("value").alias("purchase_value")))
    cond = ((purchases.p_user_id == clicks.user_id) &
            (clicks.click_ts <= purchases.purchase_ts) &
            (clicks.click_ts >= purchases.purchase_ts
             - F.expr(f"INTERVAL {int(lookback_minutes)} MINUTES")))
    return (purchases.join(clicks, cond, "inner")
            .select("user_id", "purchase_id", "click_id",
                    "purchase_ts", "click_ts", "purchase_value"))


def cohort_retention(events: DataFrame,
                     user_col: str = "user_id",
                     ts_col: str = "ts") -> DataFrame:
    """Weekly cohort-retention matrix: users are grouped by the week of
    their first event (the cohort) and counted in every subsequent week
    they were active.

    Plan: one partial-agg ``groupBy(user)`` for first-seen (map-side
    combine — each user ships one row per input partition, never their
    event history), one distinct on ``(user, week)``, an equi-join on
    the high-entropy user key, then the tiny ``(cohort, offset)``
    aggregate.  No windows over per-user history, so a power user with
    10^9 events costs the same shuffle bytes as anyone else after
    combine.  Output: ``cohort_week, week_offset, n_users``.
    """
    week = lambda c: F.date_trunc("week", c)  # noqa: E731
    first_seen = (events.groupBy(F.col(user_col).alias("u"))
                  .agg(week(F.min(ts_col)).alias("cohort_week")))
    active = (events.select(F.col(user_col).alias("u"),
                            week(F.col(ts_col)).alias("active_week"))
              .distinct())
    return (active.join(first_seen, "u")
            .groupBy("cohort_week",
                     (F.datediff(F.col("active_week"), F.col("cohort_week"))
                      / 7).cast("long").alias("week_offset"))
            .agg(F.count(F.lit(1)).alias("n_users"))
            .orderBy("cohort_week", "week_offset"))


def event_transitions(events: DataFrame,
                      user_col: str = "user_id",
                      ts_col: str = "ts",
                      type_col: str = "event_type",
                      id_col: str = "event_id",
                      topk: int = 3) -> DataFrame:
    """First-order Markov transition head over per-user event streams:
    for each event type, the ``topk`` most frequent NEXT types with
    exact conditional probabilities — the behavioral analogue of
    :func:`~..operators.text.bigram_lm_topk` (session modeling,
    funnel discovery, next-action prediction features).

    Plan: ``lag`` window partitioned by user ordered by ``(ts, id)``
    (the id breaks timestamp ties deterministically) — partition state
    is one user's history, never corpus-bounded; then a
    ``groupBy(prev, next)`` count with map-side combine, and a rank
    window over the type-vocabulary aggregate.

    Output: ``prev_type, next_type, cnt, prev_total, p, rank``.
    """
    from pyspark.sql import Window

    seq = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(id_col))
    steps = (events.select(
                F.lag(type_col).over(seq).alias("prev_type"),
                F.col(type_col).alias("next_type"))
             .where(F.col("prev_type").isNotNull()))
    counts = (steps.groupBy("prev_type", "next_type")
              .agg(F.count(F.lit(1)).alias("cnt")))
    rank = Window.partitionBy("prev_type").orderBy(
        F.col("cnt").desc(), F.col("next_type"))
    total = rank.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    return (counts.withColumn("prev_total", F.sum("cnt").over(total))
            .withColumn("rank", F.row_number().over(rank))
            .where(F.col("rank") <= topk)
            .select("prev_type", "next_type",
                    F.col("cnt").cast("long").alias("cnt"),
                    F.col("prev_total").cast("long").alias("prev_total"),
                    (F.col("cnt") / F.col("prev_total")).alias("p"),
                    F.col("rank").cast("long").alias("rank")))


def robust_value_anomalies(df: DataFrame, key_col: str, value_col: str,
                           id_col: str, z: float = 3.5) -> DataFrame:
    """Robust per-key outlier detection — median/MAD modified z-scores
    (Iglewicz & Hoaglin 1993: ``0.6745·(x − med)/MAD``, flag |score| >
    3.5) instead of mean/stddev, so a burst of extreme values cannot
    drag the baseline toward itself and mask the very anomaly it is
    (the breakdown-point argument; compare ``event_rate_anomalies``'
    moment z-scores, which assume a clean majority).

    Medians are EXACT, the rank-``ceil(n/2)`` disc definition (the
    :func:`..operators.sketches.exact_quantiles` contract), computed
    in ONE key-hashed exchange: rank the values per key, ATTACH the
    rank-``ceil(n/2)`` value to every row of the key with a windowed
    ``max(when(rn = target, v))`` (exactly one row matches, so the max
    IS that value), derive the deviations, re-sort the same partitions
    by deviation and attach the MAD the same way.  The pre-round-11
    shape extracted each median as a key-sized table and broadcast-
    joined it back; because the deviation subtree then appeared twice
    in the DAG (as the MAD pass's input and as the scored output's
    input), the upstream scan + median window re-executed per
    appearance — measured at sf1 the entry paid ~4.9 s for ~2.2 s of
    distinct work.  The windowed-max shape is 1 Exchange + 2 Sorts,
    zero joins, zero subtree re-execution, and bit-identical
    arithmetic (same rank rows, same ``0.6745·(v−med)/mad`` doubles).
    Partition state is bounded by the hottest key's row count, the
    same discipline as every per-key window here.

    Output: flagged rows ``key, id, value, med, mad, rscore``; keys
    with MAD = 0 (over half the values identical) flag nothing —
    documented: a constant-majority key needs a frequency gate, not a
    dispersion gate.
    """
    vals = df.select(F.col(key_col).alias("key"),
                     F.col(id_col).alias("id"),
                     F.col(value_col).cast("double").alias("v")) \
        .where(F.col("v").isNotNull())

    w_key = Window.partitionBy("key")
    target = F.ceil(F.col("__n__") / F.lit(2.0)).cast("int")

    def attach_median(d: DataFrame, col: str, out: str) -> DataFrame:
        # rank by (col, id) inside the key, then broadcast the single
        # rank-target value to every row of the key via max-over-key —
        # same rank row as the old per_key_median, no join back
        w = Window.partitionBy("key").orderBy(F.col(col).asc(),
                                              F.col("id").asc())
        return (d.withColumn("__rn__", F.row_number().over(w))
                .withColumn(out, F.max(F.when(F.col("__rn__") == target,
                                              F.col(col))).over(w_key))
                .drop("__rn__"))

    dev = (attach_median(vals.withColumn("__n__",
                                         F.count(F.lit(1)).over(w_key)),
                         "v", "med")
           .withColumn("d", F.abs(F.col("v") - F.col("med"))))
    scored = (attach_median(dev, "d", "mad")
              .where(F.col("mad") > 0)
              .withColumn("rscore",
                          F.lit(0.6745) * (F.col("v") - F.col("med"))
                          / F.col("mad")))
    return (scored.where(F.abs(F.col("rscore")) > z)
            .select("key", "id", F.col("v").alias("value"), "med", "mad",
                    "rscore"))


def context_pairs(events: DataFrame, user_col: str, ts_col: str,
                  event_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Next-action training-pair assembly: for every event, the up-to-k
    preceding event types of the same user (oldest → newest) as the
    context and the current event type as the target — the supervised
    dataset builder behind next-action / sequential-recommendation
    models, and the event-log analogue of the (prefix, next-token)
    pairs a language-model pipeline emits.

    Scale shape: ONE user-bounded window (``rowsBetween(-k, -1)`` over
    ``partitionBy(user)``) — the shuffle is a hash exchange on the user
    key, per-user state is the k-element ring the window maintains, and
    there is never a global sort or a per-user history materialization.
    Events with no predecessor (each user's first) are dropped: a pair
    needs at least one context element.  Ordering inside a user is
    ``(ts, event_id)`` so ties are deterministic.

    Null event types are filtered BEFORE the window: ``collect_list``
    silently drops nulls from the context while a null target row would
    still be emitted — an asymmetry (and a divergence from SQL ``list()``
    which keeps nulls).  A null event type is an unlabeled action that
    can be neither context nor target, so the kernel excludes it from
    both roles explicitly rather than letting the aggregate decide.

    Output: ``user_id, event_id, context (array<string>), target``.
    """
    w = (Window.partitionBy(F.col(user_col))
         .orderBy(F.col(ts_col), F.col(id_col))
         .rowsBetween(-k, -1))
    return (events
            .where(F.col(event_col).isNotNull())
            .withColumn("context", F.collect_list(F.col(event_col)).over(w))
            .where(F.size("context") >= 1)
            .select(F.col(user_col).alias("user_id"),
                    F.col(id_col).alias("event_id"),
                    "context",
                    F.col(event_col).alias("target")))
