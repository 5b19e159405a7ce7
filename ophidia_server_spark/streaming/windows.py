"""Windowed event-stream operators (Structured Streaming extension).

The reference has no streaming operators — its closest analogue is
`oph_wait type=file` polling for data arrival (/root/reference/src/
oph_flow_control_operators.c:2060-2115). Per SURVEY.md §2 this module is an
*extension*: tumbling/sliding windows (`F.window`), session windows, and
watermarked late-data handling over the `events` fixture.

Every transform below is defined on a plain DataFrame, so the same function
body serves both batch (oracle-checkable vs DuckDB) and streaming
(`spark.readStream` source piped through the identical expression — the
Structured Streaming contract). `run_streaming_over_files` demonstrates the
real streaming path with Trigger.AvailableNow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TS_FMT = "yyyy-MM-dd HH:mm:ss"


_INTERVAL_UNIT_SECONDS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def _interval_seconds(spec: str) -> int:
    """Parse 'N unit' tolerance strings to seconds driver-side. (Casting an
    ANSI day-time INTERVAL to long yields the count of its end field — e.g.
    INTERVAL 1 hour -> 1, not 3600 — so the SQL-side cast is a trap.)"""
    import re as _re

    m = _re.match(r"\s*(\d+)\s+(\w+)\s*$", str(spec))
    if not m or m.group(2).lower() not in _INTERVAL_UNIT_SECONDS:
        raise ValueError(f"unsupported interval {spec!r}; use e.g. '30 minutes'")
    return int(m.group(1)) * _INTERVAL_UNIT_SECONDS[m.group(2).lower()]


def _event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the event-time column to TIMESTAMP: watermarks reject
    TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and parquet written
    without isAdjustedToUTC reads back as NTZ in Spark 4. Session TZ is UTC in
    this engine, so the instant is unchanged."""
    if ts_col in df.columns and dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def tumbling(df: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window aggregate per event_type. Window start is emitted as a
    formatted string for engine-portable comparison."""
    w = F.window("ts", width)
    return (
        df.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("double")), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding(df: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding-window count: each event lands in width/slide windows."""
    w = F.window("ts", width, slide)
    return (
        df.groupBy(w.alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.date_format("w.start", TS_FMT).alias("window_start"), "n_events")
    )


def sessionize(
    df: DataFrame, gap_minutes: int = 30, skew_bucket: str | None = None
) -> DataFrame:
    """Session windows per user with an inactivity gap (batch formulation).

    Classic lag/cumsum sessionization: a new session starts when the gap from
    the previous event exceeds `gap_minutes`. One shuffle (partitionBy user).
    In streaming mode the same semantics come from
    `F.session_window("ts", f"{gap} minutes")` — see stream_sessionize.

    Per-user windows on a power-law user column are the classic 100x
    straggler: one bot user's years of events land in ONE task.
    `skew_bucket` ('day', 'hour', ...) enables the hierarchical formulation:
    sessionize within (user, time-bucket) — the shuffle key spreads a hot
    user over its buckets — then re-run the same gap merge over the
    per-bucket session SUMMARIES (start/end/count/sum), which are
    session-count-sized, not event-sized. The merge chain is transitive via
    the same cumsum, so sessions spanning many buckets reassemble exactly;
    results equal the plain path (pytest-held on a skewed fixture).
    """
    if skew_bucket is not None:
        return _sessionize_bucketed(df, gap_minutes, skew_bucket)
    w = Window.partitionBy("user_id").orderBy("ts")
    ts_us = _micros("ts")
    gap = ts_us - F.lag(ts_us).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60_000_000), 1).otherwise(0)
    sess_id = F.sum(new_sess).over(
        Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("__sess", sess_id)
        .groupBy("user_id", "__sess")
        .agg(
            F.date_format(F.min("ts"), TS_FMT).alias("session_start"),
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("double")), 4).alias("sum_value"),
        )
        .select("user_id", "session_start", "n_events", "sum_value")
    )


def _micros(col: str) -> Column:
    """Event time in microseconds: the gap test compares at the source's
    own resolution, so a gap within a second of the limit is not rounded
    across it. Cast through TIMESTAMP so TIMESTAMP_NTZ columns work
    (NTZ->BIGINT is not a legal direct cast in Spark 4)."""
    return F.unix_micros(F.col(col).cast("timestamp"))


def _sessionize_bucketed(df: DataFrame, gap_minutes: int, bucket: str) -> DataFrame:
    """Two-level sessionize (see sessionize docstring): stage 1 shuffles on
    (user_id, bucket) and builds bucket-local sessions; stage 2 merges the
    summaries whose boundary gap is within the threshold. sum_value stays
    unrounded until the final merge so the result matches the plain path."""
    ts_us = _micros("ts")
    b = F.date_trunc(bucket, F.col("ts").cast("timestamp")).alias("__b")
    w1 = Window.partitionBy("user_id", "__b").orderBy("ts")
    gap1 = ts_us - F.lag(ts_us).over(w1)
    new1 = F.when(gap1.isNull() | (gap1 > gap_minutes * 60_000_000), 1).otherwise(0)
    sess1 = F.sum(new1).over(w1.rowsBetween(Window.unboundedPreceding, 0))
    parts = (
        df.withColumn("__b", b)
        .withColumn("__sess", sess1)
        .groupBy("user_id", "__b", "__sess")
        .agg(
            F.min("ts").alias("__start"),
            F.max("ts").alias("__end"),
            F.count("*").alias("__n"),
            F.sum(F.col("value").cast("double")).alias("__sv"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("__start", "__end")
    gap2 = _micros("__start") - F.lag(_micros("__end")).over(w2)
    new2 = F.when(gap2.isNull() | (gap2 > gap_minutes * 60_000_000), 1).otherwise(0)
    sess2 = F.sum(new2).over(w2.rowsBetween(Window.unboundedPreceding, 0))
    return (
        parts.withColumn("__g", sess2)
        .groupBy("user_id", "__g")
        .agg(
            F.date_format(F.min("__start"), TS_FMT).alias("session_start"),
            F.sum("__n").alias("n_events"),
            F.round(F.sum("__sv"), 4).alias("sum_value"),
        )
        .select("user_id", "session_start", "n_events", "sum_value")
    )


def stream_sessionize(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Native streaming session windows (works on readStream DataFrames)."""
    return (
        _event_time(df).withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", f"{gap_minutes} minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )


def run_streaming_over_files(
    spark: SparkSession, parquet_path: str, schema, width: str = "1 hour",
    queryName: str = "win_sink",
) -> DataFrame:
    """True Structured Streaming run over a parquet directory with
    Trigger.AvailableNow: watermark + tumbling window, results collected into
    an in-memory sink and returned as a batch DataFrame. This is the pattern
    for continuous ingestion at scale (file source -> windowed agg -> sink).
    """
    stream = _event_time(spark.readStream.schema(schema).parquet(parquet_path))
    stream = stream.withWatermark("ts", "2 hours")
    agg = tumbling(stream, width)
    q = (
        agg.writeStream.format("memory")
        .queryName(queryName)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(queryName)


def stream_static_enrich(
    spark: SparkSession, parquet_path: str, schema, dim: DataFrame,
    queryName: str = "enrich_sink",
) -> DataFrame:
    """Stream-static join + aggregate: the standard streaming-enrichment
    topology — an event stream joined to a dimension table (broadcast static
    side; Spark re-reads it per micro-batch, so slowly-changing dims pick up
    updates) and aggregated per dimension attribute. With
    Trigger.AvailableNow the result is exactly the batch join, which is what
    the DuckDB oracle checks. Sums go through DECIMAL so the streaming
    partial-agg order can't perturb the float result."""
    stream = _event_time(spark.readStream.schema(schema).parquet(parquet_path))
    joined = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"], "inner"
    )
    agg = (
        joined.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("__sv"),
        )
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            "n_events",
            F.col("__sv").cast("double").alias("sum_value"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(queryName)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(queryName)


def stream_running_user_totals(
    spark: SparkSession, parquet_path: str, schema, queryName: str = "state_sink"
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: per-user
    running event count + value total maintained in state across micro-batches
    (the applyInPandasWithState extension point named in SURVEY §2 for
    operators Spark lacks natively).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    stream = spark.readStream.schema(schema).parquet(parquet_path)
    q = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
        .writeStream.format("memory")
        .queryName(queryName)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(queryName)


def stream_dedup_exact(
    spark: SparkSession, parquet_path: str, schema, key_cols: list[str],
    watermark_col: str = "ts", delay: str = "1 hour", queryName: str = "dedup_sink",
    single_batch: bool = False,
) -> DataFrame:
    """Streaming exact dedup on arrival (the ingest-side twin of
    pipeline.dedup.dedup_exact): dropDuplicates over key columns with a
    watermark bounding the dedup state store — at scale state holds only keys
    newer than (max event time - delay), so memory is O(arrival rate x delay)
    instead of O(corpus).

    The result equals batch DISTINCT only for duplicates arriving within
    `delay` of each other — once the watermark passes a key's event time its
    state is evicted and a later duplicate is re-emitted (that bound is the
    point: it is what caps state). Callers needing the exact-DISTINCT
    contract (the oracle path) must either pass a `delay` covering the
    data's full event-time span or set single_batch=True, which forces the
    file source to drain in one micro-batch so no watermark advance happens
    mid-stream.
    """
    reader = spark.readStream.schema(schema)
    if single_batch:
        # one micro-batch regardless of file count: the watermark only
        # advances BETWEEN batches, so a single batch never evicts state
        reader = reader.option("maxFilesPerTrigger", 1_000_000)
    stream = _event_time(reader.parquet(parquet_path), watermark_col)
    deduped = stream.withWatermark(watermark_col, delay).dropDuplicates(
        key_cols + [watermark_col]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName(queryName)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(queryName)


def resample_counts(df: DataFrame, width: str = "30 minutes", ts_col: str = "ts") -> DataFrame:
    """Gap-filled resampling: event counts per fixed bin INCLUDING empty bins
    (zero-filled) — the reshape step most downstream time-series models need,
    which a plain groupBy(window) cannot produce (absent bins are absent).

    The bin spine is a sequence() from the hour-floor of min(ts) to max(ts) —
    one tiny driver-free row exploded into the grid, left-joined to the
    windowed counts. The spine is O(time-range/width) rows, independent of
    event volume, so the join broadcasts the counts' skeleton at any scale.
    """
    bounds = df.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("lo"), F.max(ts_col).alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr(f"INTERVAL {width}"))
        ).alias("bin")
    )
    counts = (
        df.groupBy(F.window(ts_col, width).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("bin"), "n_events")
    )
    return (
        spine.join(counts, "bin", "left")
        .select(
            F.date_format("bin", TS_FMT).alias("bin"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
    )


def asof_join(
    left: DataFrame, right: DataFrame, ts_col: str = "ts", by: str = "user_id",
    value_cols: list[str] | None = None, tolerance: str | None = None,
    direction: str = "backward", n_salt: int | None = None,
) -> DataFrame:
    """As-of join: for every left row, the most recent right row with
    right.ts <= left.ts within the same `by` key (the standard
    point-in-time/trades-quotes join Spark lacks as a primitive);
    direction='forward' takes the NEXT right row with right.ts >= left.ts
    instead (pandas merge_asof's direction semantics).

    Composition: tag both sides, union, one window sort per key carrying the
    last seen right values forward (ignorenulls last_value), keep left rows.
    Cost = ONE shuffle on `by` + a per-key sort — same plan shape as any
    sessionization; no range cross-join, no per-row subquery. `tolerance`
    (e.g. "30 minutes") drops matches further away than the window.

    `n_salt` hardens a power-law `by` key (functions/skew.py rationale): the
    big left side is sharded into n_salt deterministic salts and the right
    side replicated across all of them, so each (key, salt) window still
    sees the FULL right history for its key — result equals the plain path
    (pytest-held) while the hot key's left rows spread over n_salt tasks.
    The right side is replicated n_salt-fold: use when right is the small
    reference series (quotes/sensors), which is the as-of norm.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    value_cols = value_cols or ["value"]
    lt = left.select(
        F.lit(1).alias("__is_left"), ts_col, by,
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
        *[c for c in left.columns if c not in (ts_col, by)],
    )
    rt = right.select(
        F.lit(0).alias("__is_left"), ts_col, by,
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in (ts_col, by)],
    )
    part_cols = [by]
    if n_salt:
        lt = lt.withColumn(
            "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salt)).cast("int")
        )
        rt = rt.withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
        )
        part_cols = [by, "__salt"]
    u = lt.unionByName(rt)
    # right rows sort before left rows at equal ts (__is_left ascending) so a
    # same-timestamp quote is visible to the trade; forward direction is the
    # mirror image — descending time, so "last seen" is the next future row
    if direction == "forward":
        w = Window.partitionBy(*part_cols).orderBy(
            F.col(ts_col).desc(), "__is_left"
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    else:
        w = Window.partitionBy(*part_cols).orderBy(ts_col, "__is_left").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    carried = [
        F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}") for c in value_cols
    ]
    carried_ts = F.last(
        F.when(F.col("__is_left") == 0, F.col(ts_col)), ignorenulls=True
    ).over(w).alias("__asof_ts")
    out = u.select("*", *carried, carried_ts).filter(F.col("__is_left") == 1)
    if tolerance:
        gap = F.col(ts_col).cast("timestamp").cast("long") - F.col(
            "__asof_ts"
        ).cast("timestamp").cast("long")
        if direction == "forward":
            gap = -gap
        within = gap <= F.lit(_interval_seconds(tolerance))
        out = out.select(
            *[c for c in out.columns if not c.startswith("asof_")],
            *[
                F.when(within, F.col(f"asof_{c}")).alias(f"asof_{c}")
                for c in value_cols
            ],
        )
    return out.drop(
        "__is_left", "__asof_ts", "__salt", *[f"__r_{c}" for c in value_cols]
    )


def stream_append_cube_store(
    spark: SparkSession, src_path: str, schema, store_path: str,
    partition_cols: list[str], checkpoint_path: str, queryName: str = "cube_ingest",
) -> None:
    """Continuous cube ingestion — the streaming twin of oph_concatnc
    (reference appends NetCDF time steps batch-wise; here new files stream
    into a partitioned parquet store exactly-once via the checkpoint).

    Topology: file source -> writeStream(parquet, partitionBy) with
    Trigger.AvailableNow. Each invocation drains whatever arrived since the
    last checkpointed offset — run it from a scheduler and the store grows
    incrementally; build_cube over the store is then an ordinary
    partition-pruned batch read. At scale the partition columns are the
    cube's explicit dims, so rebuild work is proportional to touched slices.
    """
    stream = _event_time(spark.readStream.schema(schema).parquet(src_path))
    q = (
        stream.writeStream.format("parquet")
        .option("path", store_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy(*partition_cols)
        .trigger(availableNow=True)
        .queryName(queryName)
        .start()
    )
    q.awaitTermination(120)


def stream_stream_join(
    spark: SparkSession, parquet_path: str, schema,
    left_type: str = "click", right_type: str = "purchase",
    within: str = "1 hour", user_col: str = "user_id",
    type_col: str = "event_type", ts_col: str = "ts",
    queryName: str = "ssjoin_sink",
) -> DataFrame:
    """Watermarked stream-stream interval join — the attribution topology
    (find each `right_type` event following a same-user `left_type` event
    within `within`). Both sides are streams of the SAME source split by
    event type, each with its own watermark; the join condition carries the
    time bound, so Spark can size the join state: left rows are evicted once
    the right watermark passes their ts + within, right rows once the left
    watermark passes theirs. State is therefore O(rate x within), never
    O(stream length) — the property that makes this run forever at scale.

    With Trigger.AvailableNow the appended pairs equal the batch interval
    join, which is what the DuckDB oracle checks."""
    # watermark delay must dominate the join bound or matching rows get
    # evicted from state before their partner arrives: within + 100% slack
    # for cross-stream lateness (pandas parses the same interval grammar)
    import pandas as pd

    delay = f"{int(pd.Timedelta(within).total_seconds() * 2)} seconds"

    def side(tp: str, prefix: str):
        s = _event_time(spark.readStream.schema(schema).parquet(parquet_path), ts_col)
        return (
            s.filter(F.col(type_col) == tp)
            .select(
                F.col(user_col).alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col(ts_col).alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", delay)
        )

    a, b = side(left_type, "l"), side(right_type, "r")
    pairs = a.join(
        b,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName(queryName)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(queryName)


def session_paths(
    df: DataFrame, gap_minutes: int = 30, depth: int = 3, top_k: int = 10
) -> DataFrame:
    """Funnel analysis: the most frequent event-type paths, where a path is
    the first `depth` event types of a session joined by '>'. The classic
    product-analytics primitive over the same lag/cumsum sessionization as
    sessionize(); ranking paths is then one hash aggregate. Ordering inside
    a session is (ts, event_type) so simultaneous events rank
    deterministically; the ordered path string is built JVM-side by sorting
    the (rank, type) structs — no Python, two shuffles total (user window +
    path count)."""
    w = Window.partitionBy("user_id").orderBy("ts")
    ts_long = F.col("ts").cast("timestamp").cast("long")
    gap = ts_long - F.lag(ts_long).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    sess_id = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    rn = F.row_number().over(
        Window.partitionBy("user_id", "__sess").orderBy("ts", "event_type")
    )
    paths = (
        df.withColumn("__sess", sess_id)
        .withColumn("__rn", rn)
        .filter(F.col("__rn") <= depth)
        .groupBy("user_id", "__sess")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(top_k)
    )


def cohort_retention(df: DataFrame, unit: str = "week") -> DataFrame:
    """Cohort retention: users grouped by their first-activity period
    (`unit`-truncated), counted in each later period they were active — the
    standard retention-matrix primitive of product analytics.

    Shape at scale: one aggregate for first-activity (map-side partial),
    one distinct on (user, period) — both shuffles keyed by user_id so AQE
    can co-locate the join — then a count-distinct per (cohort, offset)
    cell. Fixed-length units (hour/day/week) compute the offset as exact
    integer division of the epoch difference; calendar units (month/quarter/
    year) — which are NOT a constant number of seconds — use months_between
    on the truncated timestamps instead (exact integers there, since both
    ends sit on period boundaries)."""
    spans = {"day": 86400, "week": 604800, "hour": 3600}
    months = {"month": 1, "quarter": 3, "year": 12}
    if unit not in spans and unit not in months:
        raise ValueError(
            f"cohort_retention unit must be one of "
            f"{sorted(spans) + sorted(months)}, got {unit!r}"
        )
    ts = F.col("ts").cast("timestamp")
    first = df.groupBy("user_id").agg(
        F.date_trunc(unit, F.min(ts)).alias("__cohort")
    )
    active = df.select(
        "user_id", F.date_trunc(unit, ts).alias("__period")
    ).distinct()
    if unit in spans:
        offset = (
            (F.col("__period").cast("long") - F.col("__cohort").cast("long"))
            / spans[unit]
        )
    else:
        offset = F.months_between(F.col("__period"), F.col("__cohort")) / months[unit]
    return (
        active.join(first, "user_id")
        .groupBy(
            F.date_format("__cohort", TS_FMT).alias("cohort"),
            offset.cast("long").alias("period_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def _funnel_per_user(
    df: DataFrame, steps: list[str], within: str | None,
    user_col: str, type_col: str, ts_col: str,
) -> DataFrame:
    """The funnel's single left-join chain (see funnel's docstring for the
    scan/shuffle accounting): one row per step-1 user carrying
    __t0..__t{k-1} — each step's first qualifying timestamp, NULL where
    the user stalled. Shared by funnel() and funnel_latencies()."""
    df = _event_time(df, ts_col)
    within_s = _interval_seconds(within) if within else None
    per_user = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t0"))
    )
    for i, step in enumerate(steps[1:], start=1):
        cand = df.filter(F.col(type_col) == step).select(
            user_col, F.col(ts_col).alias("__ts")
        )
        ok = F.col("__ts") > F.col(f"__t{i - 1}")
        if within_s is not None:
            ok = ok & (
                F.col("__ts")
                <= F.col("__t0") + F.expr(f"INTERVAL {within_s} SECONDS")
            )
        carried = [f"__t{j}" for j in range(i)]
        per_user = (
            per_user.join(cand, user_col, "left")
            .groupBy(user_col)
            .agg(
                *[F.min(c).alias(c) for c in carried],
                F.min(F.when(ok, F.col("__ts"))).alias(f"__t{i}"),
            )
        )
    return per_user


def funnel_latencies(
    df: DataFrame, steps: list[str], within: str | None = "1 hour",
    user_col: str = "user_id", type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-to-convert per funnel transition: for every user who reached
    step i+1, the latency from their step-i timestamp — the how-long-do-
    drop-offs-take companion to funnel()'s how-many. One row per
    transition: (step_no, from_step, to_step, n_users, avg_latency_s,
    max_latency_s). Latencies are exact integer microseconds; the mean
    divides the exact sum once, so the figures are engine-portable.

    Shape at scale: identical to funnel() (the shared per-user chain —
    k scans, k-1 user-keyed joins) plus ONE final scalar aggregate."""
    if len(steps) < 2:
        raise ValueError("funnel_latencies needs at least two steps")
    per_user = _funnel_per_user(df, steps, within, user_col, type_col, ts_col)
    k = len(steps)
    lats = [
        (
            F.unix_micros(F.col(f"__t{i}").cast("timestamp"))
            - F.unix_micros(F.col(f"__t{i - 1}").cast("timestamp"))
        ).alias(f"__l{i}")
        for i in range(1, k)
    ]
    one = per_user.select(*lats).agg(
        *[F.count(f"__l{i}").alias(f"__n{i}") for i in range(1, k)],
        *[F.sum(f"__l{i}").alias(f"__s{i}") for i in range(1, k)],
        *[F.max(f"__l{i}").alias(f"__m{i}") for i in range(1, k)],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("long").alias("step_no"),
                F.lit(steps[i - 1]).alias("from_step"),
                F.lit(steps[i]).alias("to_step"),
                F.col(f"__n{i}").cast("long").alias("n_users"),
                F.round(
                    F.col(f"__s{i}").cast("double")
                    / (F.greatest(F.col(f"__n{i}"), F.lit(1)) * 1e6), 6
                ).alias("avg_latency_s"),
                F.round(F.col(f"__m{i}").cast("double") / 1e6, 6)
                .alias("max_latency_s"),
            )
            for i in range(1, k)
        ]
    )
    return one.select(F.inline(rows))


def funnel(
    df: DataFrame, steps: list[str], within: str | None = "1 hour",
    user_col: str = "user_id", type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-step conversion funnel: how many users performed step 1, then
    step 2 strictly after their first step-1 event, then step 3 after that —
    optionally all within `within` of the first step (the product-analytics
    funnel primitive; steps must occur in order, re-entries don't reset).

    Returns one row per step: (step_no, step, n_users, frac_of_first).

    Shape at scale: ONE per-user table is built down a single left-join
    chain — step 1 is a user-keyed min aggregate, and each later step
    left-joins that step's events and takes the conditional min
    (`min(ts WHERE ts > prev step's min)`), carrying every earlier step's
    timestamp column along. Users who stall at step i simply hold NULL in
    __t{{i}}..__t{{k-1}}, so ALL per-step counts come from ONE final scalar
    aggregate (`count(__t_i)` skips NULLs) over that single table — each
    step's events are scanned exactly once (k scans, k-1 user-keyed joins
    for a k-step funnel), never a union of per-step aggregate branches that
    would re-execute the chain per step. No window over all events, no
    driver-side loop over data.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    per_user = _funnel_per_user(df, steps, within, user_col, type_col, ts_col)
    one = per_user.agg(
        *[F.count(f"__t{i}").alias(f"__n{i}") for i in range(len(steps))]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("long").alias("step_no"),
                F.lit(step).alias("step"),
                F.col(f"__n{i}").cast("long").alias("n_users"),
            )
            for i, step in enumerate(steps)
        ]
    )
    return (
        one.select(F.col("__n0").alias("__n1base"), F.inline(rows))
        .select(
            "step_no", "step", "n_users",
            F.round(
                F.col("n_users") / F.greatest(F.col("__n1base"), F.lit(1)), 6
            ).alias("frac_of_first"),
        )
    )


def seasonal_decompose(
    df: DataFrame, period: int = 24, width: str = "1 hour",
    key_col: str = "event_type", ts_col: str = "ts",
) -> DataFrame:
    """Classical additive seasonal decomposition over per-key event-count
    series: y = trend + seasonal + residual (the moving-average method —
    STL's simpler ancestor — the first look any metrics pipeline takes at
    a periodic series).

      trend    = centered moving average over one full period (emitted only
                 where the full window exists, so boundaries are NULL-free);
      seasonal = per-phase mean of the detrended series, centered to sum
                 ~0 over a period;
      residual = y - trend - seasonal.

    Shape at scale: the series is per-key (window partitioned by key — one
    key's bins live in one task, which is the correct grain: a series that
    doesn't fit a task isn't a seasonal-decomposition candidate). Phases
    come from exact epoch-bin modulo, so they are right even when bins are
    missing; the trend window is over the OBSERVED bins — run the input
    through resample_counts first when a sparse series needs true
    time-distance windows. Two window passes + one phase aggregate; all
    JVM expressions.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    half = period // 2
    binned = (
        _event_time(df, ts_col)
        .groupBy(key_col, F.window(ts_col, width).alias("w"))
        .agg(F.count("*").alias("y"))
        .select(
            key_col,
            F.col("w.start").alias("__t"),
            F.col("y").cast("double").alias("y"),
        )
    )
    w_full = (
        Window.partitionBy(key_col).orderBy("__t").rowsBetween(-half, half)
    )
    trend = F.when(
        F.count("y").over(w_full) == 2 * half + 1, F.avg("y").over(w_full)
    )
    with_trend = binned.withColumn("__trend", trend).withColumn(
        "__phase",
        F.pmod((F.col("__t").cast("long") / _interval_seconds(width)).cast("long"),
               F.lit(period)),
    )
    phase_mean = (
        with_trend.filter(F.col("__trend").isNotNull())
        .groupBy(key_col, "__phase")
        .agg(F.avg(F.col("y") - F.col("__trend")).alias("__pm"))
    )
    centered = phase_mean.withColumn(
        "__seasonal",
        F.col("__pm") - F.avg("__pm").over(Window.partitionBy(key_col)),
    ).drop("__pm")
    return (
        with_trend.join(centered, [key_col, "__phase"], "left")
        .select(
            key_col,
            F.date_format("__t", TS_FMT).alias("bin_start"),
            F.col("y"),
            F.round("__trend", 6).alias("trend"),
            F.round("__seasonal", 6).alias("seasonal"),
            F.round(
                F.col("y") - F.col("__trend") - F.col("__seasonal"), 6
            ).alias("residual"),
        )
    )


def cusum_changepoint(
    df: DataFrame, width: str = "1 hour", key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """CUSUM changepoint estimation per key: over the binned count series,
    S_t = cumulative sum of (y - series mean); the estimated change point
    is the bin where |S_t| peaks, and the peak magnitude (normalized by
    n * stddev) is the shift statistic — the classic mean-shift detector a
    monitoring pipeline runs next to rolling z-scores (which catch spikes,
    not level shifts).

    Per-key windows only (cumsum + peak argmax), one final per-key
    aggregate; deterministic ties break to the earliest bin. All JVM.
    """
    binned = (
        _event_time(df, ts_col)
        .groupBy(key_col, F.window(ts_col, width).alias("w"))
        .agg(F.count("*").alias("y"))
        .select(
            key_col,
            F.col("w.start").alias("__t"),
            F.col("y").cast("double").alias("y"),
        )
    )
    kw = Window.partitionBy(key_col)
    stats = binned.select(
        key_col, "__t", "y",
        F.avg("y").over(kw).alias("__mu"),
        F.stddev_samp("y").over(kw).alias("__sd"),
        F.count("y").over(kw).alias("__n"),
    )
    cum = stats.withColumn(
        "__s",
        F.sum(F.col("y") - F.col("__mu")).over(
            Window.partitionBy(key_col).orderBy("__t")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    rk = Window.partitionBy(key_col).orderBy(F.abs("__s").desc(), "__t")
    return (
        cum.withColumn("__r", F.row_number().over(rk))
        .filter(F.col("__r") == 1)
        .select(
            key_col,
            F.date_format("__t", TS_FMT).alias("changepoint_bin"),
            F.round(F.abs("__s"), 6).alias("max_cusum"),
            F.round(
                F.abs("__s")
                / F.greatest(F.sqrt(F.col("__n")) * F.col("__sd"), F.lit(1e-12)),
                6,
            ).alias("shift_stat"),
        )
    )


def json_props_stats(
    df: DataFrame, path: str = "k", props_col: str = "props",
    key_col: str = "event_type",
) -> DataFrame:
    """Semi-structured extraction + aggregation: pull a typed field out of
    a JSON string column (the event-properties bag every tracking schema
    carries) and aggregate it per key — the get_json_object/from_json
    pattern, kept JVM-side so the JSON parse fuses into the scan's codegen
    span (one map stage; no Python, no UDF). Null/absent/malformed values
    drop out of the aggregate the SQL way (COUNT/AVG skip nulls)."""
    v = F.get_json_object(F.col(props_col), f"$.{path}").cast("double")
    return (
        df.groupBy(key_col)
        .agg(
            F.count(v).alias("n_with_field"),
            F.round(
                F.sum(v.cast("decimal(18,6)")).cast("double")
                / F.count(v), 6
            ).alias("avg_val"),
            F.min(v).alias("min_val"),
            F.max(v).alias("max_val"),
        )
    )


def json_props_profile(
    df: DataFrame, props_col: str = "props"
) -> DataFrame:
    """JSON schema discovery over a semi-structured column: explode every
    object's top-level keys and report, per key, how many rows carry it,
    its coverage fraction, and how many of its values parse as numbers —
    the profiling pass that tells a lake user what's actually inside a
    properties bag before they write extraction queries.

    One explode over the parsed map entries (bounded by object width, not
    corpus cardinality) + one key-grouped aggregate; the total-row count
    broadcasts into the coverage fraction. from_json to map<string,string>
    handles arbitrary keys — get_json_object can't, its path must be a
    literal."""
    entries = df.select(
        F.explode(
            F.from_json(F.col(props_col), "map<string,string>")
        ).alias("key", "val")
    )
    per_key = entries.groupBy("key").agg(
        F.count("*").alias("n_rows"),
        # try_cast, not cast: ANSI mode makes cast THROW on 'b' -> double,
        # and a profiling pass must classify values, not die on them
        F.sum(F.col("val").try_cast("double").isNotNull().cast("long")).alias(
            "n_numeric"
        ),
    )
    total = df.agg(F.count("*").alias("__n"))
    return (
        per_key.join(F.broadcast(total))
        .select(
            "key",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows") / F.greatest("__n", F.lit(1)), 6)
            .alias("coverage"),
            F.col("n_numeric").cast("long").alias("n_numeric"),
        )
    )


def rolling_user_window(
    df: DataFrame,
    days: int = 7,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key rolling event-time aggregates: for EVERY event, the count
    and sum of that key's events in the trailing `days`-day window ending
    at (and including) the event — the classic feature-engineering shape
    (txn velocity, abuse scoring, engagement features).

    RANGE window over the epoch-seconds of the event time, partitioned by
    key: one shuffle on the key, per-partition sort, and Spark's sliding
    frame evaluates each window incrementally — no self-join, no explode
    of the window contents. Skewed keys cost sort time within their
    partition, not memory, because the frame is computed streamingly."""
    from pyspark.sql import Window

    sec = F.col(ts_col).cast("timestamp").cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(sec)
        .rangeBetween(-(days * 86400 - 1), 0)
    )
    return df.select(
        key_col,
        F.col(ts_col),
        F.count(F.lit(1)).over(w).cast("long").alias(f"n_{days}d"),
        F.round(
            F.sum(F.col(value_col).cast("decimal(18,2)")).over(w).cast("double"),
            2,
        ).alias(f"sum_{days}d"),
    )


def ab_test(
    df: DataFrame,
    convert_type: str = "purchase",
    min_conversions: int = 1,
    salt: str = "ab",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Two-proportion A/B significance test over an event stream: every
    user is assigned an arm by a content-addressed md5 coin (first hex
    char of md5(user ':' salt) — 8/16 chars per arm, so re-runs and both
    engines agree), a user converts when they emitted at least
    `min_conversions` events of `convert_type`, and the two conversion
    rates are compared with the pooled two-proportion z statistic.
    Returns ONE row: (n_a, conv_a, rate_a, n_b, conv_b, rate_b, zscore,
    significant) with |z| >= 1.96 flagging 5% two-sided significance.

    Shape at scale: one user-keyed aggregate (map-side partial) then one
    scalar aggregate — no joins, no windows; z is computed in double from
    integer counts so it is engine-portable bit-for-bit."""
    is_a = F.substring(
        F.md5(F.concat(F.col(user_col).cast("string"), F.lit(":" + salt))), 1, 1
    ).isin(*list("01234567"))
    per_user = (
        df.groupBy(user_col)
        .agg(
            F.sum(
                F.when(F.col(type_col) == convert_type, 1).otherwise(0)
            ).alias("__nc")
        )
        .select(
            is_a.alias("__a"),
            (F.col("__nc") >= min_conversions).cast("long").alias("__conv"),
        )
    )
    one = per_user.agg(
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("__a"), F.col("__conv")).otherwise(0))
        .cast("long").alias("conv_a"),
        F.sum(F.when(~F.col("__a"), 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(~F.col("__a"), F.col("__conv")).otherwise(0))
        .cast("long").alias("conv_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ca, cb = F.col("conv_a").cast("double"), F.col("conv_b").cast("double")
    pool = (ca + cb) / (na + nb)
    se = F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    z = F.when(se > 0, (ca / na - cb / nb) / se).otherwise(F.lit(0.0))
    return one.select(
        "n_a", "conv_a", F.round(ca / na, 6).alias("rate_a"),
        "n_b", "conv_b", F.round(cb / nb, 6).alias("rate_b"),
        F.round(z, 6).alias("zscore"),
        (F.abs(z) >= 1.96).cast("int").alias("significant"),
    )


def attribute_last_touch(
    df: DataFrame,
    touch_types: list[str],
    convert_type: str = "purchase",
    within: str = "1 hour",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Last-touch conversion attribution: each `convert_type` event is
    credited to the user's LATEST `touch_types` event at-or-before it and
    within `within`; conversions with no such touch land in the
    '(unattributed)' row. Returns (channel, n_conversions, frac) over all
    conversions. Ties on the touch timestamp break to the larger event id
    (microsecond-exact timestamps via unix_micros, so the window boundary
    can never disagree by a truncated second).

    Shape at scale: one user-keyed join between the two filtered event
    streams (both shuffles keyed on the user), then a per-conversion
    max_by — a bounded aggregate, never a window over all events — and a
    final channel rollup. Per-user fan-in is touches x conversions for
    that user inside the window; user activity is bounded in practice and
    the join never leaves the user's partition."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    win_us = _interval_seconds(within) * 1_000_000
    conv = df.filter(F.col(type_col) == convert_type).select(
        F.col(user_col).alias("__u"), us.alias("__cts"),
        F.col(id_col).alias("__cid"),
    )
    touch = df.filter(F.col(type_col).isin(touch_types)).select(
        F.col(user_col).alias("__u"), us.alias("__tts"),
        F.col(id_col).alias("__tid"), F.col(type_col).alias("__ch"),
    )
    ok = (F.col("__tts") <= F.col("__cts")) & (
        F.col("__cts") - F.col("__tts") <= win_us
    )
    credited = (
        conv.join(touch, "__u", "left")
        .groupBy("__cid")
        .agg(
            F.max_by(
                F.when(ok, F.col("__ch")),
                F.when(ok, F.struct("__tts", "__tid")),
            ).alias("__channel")
        )
    )
    return (
        credited.groupBy(
            F.coalesce("__channel", F.lit("(unattributed)")).alias("channel")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"))
        .withColumn(
            "frac",
            F.round(
                F.col("n_conversions")
                / F.sum("n_conversions").over(Window.partitionBy()),
                6,
            ),
        )
    )


def daily_autocorrelation(
    df: DataFrame,
    max_lag: int = 7,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Autocorrelation of each key's DAILY EVENT COUNTS at lags 1..
    `max_lag` — the seasonality detector (a spike at lag 7 = weekly
    rhythm) behind capacity planning and anomaly baselines. For each
    lag k, pairs are (day, day - k) aligned on the CALENDAR (missing
    days simply produce no pair), and Pearson r comes from exact integer
    sums divided once in double. Returns (key, lag, n_pairs, acf R6).

    Shape at scale: one (key, day) count, one bounded explode by
    max_lag, one self-join keyed on (key, day) against the lag-shifted
    copy — day-grain tables, never raw events."""
    day = F.date_trunc("day", F.col(ts_col).cast("timestamp"))
    daily = df.groupBy(
        F.col(key_col).alias("key"), day.alias("__d")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    lags = daily.select(
        "key", "__d", "__c",
        F.explode(
            F.sequence(F.lit(1), F.lit(int(max_lag)))
        ).alias("lag"),
    ).select(
        "key", "lag", F.col("__c").alias("__x"),
        F.date_add(F.col("__d").cast("date"), F.col("lag")).alias("__dk"),
    )
    base = daily.select(
        "key", F.col("__d").cast("date").alias("__dk"),
        F.col("__c").alias("__y"),
    )
    pairs = lags.join(base, ["key", "__dk"])
    agg = pairs.groupBy("key", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("__x").cast("double").alias("__sx"),
        F.sum("__y").cast("double").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("double").alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("double").alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast("double").alias("__syy"),
    )
    n = F.col("__n")
    dx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    dy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    r = F.when((dx > 0) & (dy > 0), num / F.sqrt(dx * dy)).otherwise(
        F.lit(0.0)
    )
    return agg.select(
        "key",
        F.col("lag").cast("long").alias("lag"),
        n.cast("long").alias("n_pairs"),
        F.round(r, 6).alias("acf"),
    )


_TREND_EPOCH0 = 1_600_000_000  # shared x-offset: keeps x^2 sums small/exact


def grouped_trend(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key linear trend of a measure over time ("is this metric
    drifting?"): ordinary least squares of value against epoch seconds,
    reported as slope PER DAY plus the Pearson correlation — the
    trending-metrics table of an ops review. All five sufficient
    statistics (n, Sx, Sy, Sxy, Sxx, Syy) are EXACT (integer seconds
    offset by a shared constant so x^2 stays small; DECIMAL value
    sums), and the slope/correlation divide once in double, so the
    figures are engine-portable. ONE key-keyed aggregate — no window,
    no sort. Returns (key, n_points, slope_per_day R6, pearson_r R6)."""
    x = (
        F.floor(F.col(ts_col).cast("timestamp").cast("double")).cast("long")
        - F.lit(_TREND_EPOCH0)
    ).cast("decimal(12,0)")
    y = F.col(value_col).cast("decimal(18,2)")
    per = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum(x * y).cast("double").alias("__sxy"),
        F.sum(x * x).cast("double").alias("__sxx"),
        F.sum(y * y).cast("double").alias("__syy"),
    )
    n, sx, sy = F.col("__n"), F.col("__sx"), F.col("__sy")
    sxy, sxx, syy = F.col("__sxy"), F.col("__sxx"), F.col("__syy")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    num = n * sxy - sx * sy
    slope = F.when(dx > 0, num / dx).otherwise(F.lit(0.0))
    r = F.when(
        (dx > 0) & (dy > 0), num / F.sqrt(dx * dy)
    ).otherwise(F.lit(0.0))
    return per.select(
        "key",
        n.cast("long").alias("n_points"),
        F.round(slope * 86400.0, 6).alias("slope_per_day"),
        F.round(r, 6).alias("pearson_r"),
    )


def transition_matrix(
    df: DataFrame,
    gap_minutes: int = 30,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix of user behavior: within
    inactivity-gap sessions, count adjacent (from_type -> to_type) steps
    and normalize per from-state — the navigation-model / what-happens-
    next table. Ordering is (ts, seq) so same-timestamp ties are
    deterministic; session boundaries (gap > `gap_minutes`) break
    chains. Returns (from_type, to_type, n, prob ROUND(6)).

    Shape at scale: one key-partitioned lag window (state = one row)
    + one pair-keyed count + one from-keyed total join — never a
    self-join of events."""
    w = Window.partitionBy(key_col).orderBy(ts_col, seq_col)
    ts_long = F.col(ts_col).cast("timestamp").cast("long")
    gap_ok = ts_long - F.lag(ts_long).over(w) <= gap_minutes * 60
    pairs = (
        df.select(
            F.lag(F.col(type_col)).over(w).alias("from_type"),
            F.col(type_col).alias("to_type"),
            gap_ok.alias("__ok"),
        )
        .filter(F.col("__ok") & F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("__t"))
    return pairs.join(tot, "from_type").select(
        "from_type", "to_type", F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.col("__t"), 6).alias("prob"),
    )


def interarrival_stats(
    df: DataFrame,
    key_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Inter-arrival cadence per event type: mean gap and coefficient of
    variation over each USER's consecutive same-type gaps — CV near 1 is
    Poisson-like organic traffic, CV near 0 is a metronome bot, large CV
    is bursty. Gaps are WHOLE SECONDS (floored from exact integer
    microseconds) ordered by (ts, seq) INSIDE each (user, type)
    partition — the de-skewed grain (a per-type window would sort an
    sf-proportional slice in one task; per-user partitions stay
    bounded), and integer-second moments keep every sum exact. Returns
    (key, n_gaps, mean_gap_s R6, cv R6)."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col, key_col).orderBy(ts_col, seq_col)
    gap = F.floor((us - F.lag(us).over(w)) / 1_000_000).cast("long")
    gaps = df.select(F.col(key_col).alias("key"), gap.alias("__g")).filter(
        F.col("__g").isNotNull()
    )
    agg = gaps.groupBy("key").agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("__g").cast("double").alias("__s"),
        F.sum(F.col("__g") * F.col("__g")).cast("double").alias("__s2"),
    )
    mean_s = F.col("__s") / F.col("__n")
    var_s = F.greatest(
        F.col("__s2") / F.col("__n") - mean_s * mean_s, F.lit(0.0)
    )
    cv = F.when(mean_s > 0, F.sqrt(var_s) / mean_s).otherwise(F.lit(0.0))
    return agg.select(
        "key",
        F.col("__n").cast("long").alias("n_gaps"),
        F.round(mean_s, 6).alias("mean_gap_s"),
        F.round(cv, 6).alias("cv"),
    )


def seasonal_naive_error(
    df: DataFrame,
    season_days: int = 7,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Forecast backtest against the seasonal-naive baseline (predict
    today = the value `season_days` ago): per key, the MAPE and MAE any
    real model must beat before it earns a pipeline slot. Daily
    exact-decimal sums align on the CALENDAR (days with no prior-season
    observation drop out of the scored set); absolute and percentage
    errors are accumulated in 1e-6-quantized integer units. Returns
    (key, n_scored, mae R6, mape R6).

    Shape at scale: one (key, day) aggregate + one calendar-shifted
    self-join at day grain + one keyed rollup — day-grain tables only."""
    day = F.date_trunc("day", F.col(ts_col).cast("timestamp"))
    daily = df.groupBy(
        F.col(key_col).alias("key"), day.cast("date").alias("__d")
    ).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)"))
        .cast("double").alias("__v")
    )
    fc = daily.select(
        "key",
        F.date_add(F.col("__d"), season_days).alias("__d"),
        F.col("__v").alias("__f"),
    )
    scored = daily.join(fc, ["key", "__d"]).filter(F.col("__v") != 0.0)

    def micro(col):
        return F.sum(F.round(col * 1e6).cast("long")).cast("double") / 1e6

    return scored.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.round(
            micro(F.abs(F.col("__v") - F.col("__f")))
            / F.count(F.lit(1)), 6
        ).alias("mae"),
        F.round(
            micro(
                F.abs(F.col("__v") - F.col("__f")) / F.abs(F.col("__v"))
            )
            / F.count(F.lit(1)), 6
        ).alias("mape"),
    )


def period_deltas(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    unit: str = "day",
) -> DataFrame:
    """Period-over-period report: per key and `unit`-truncated period,
    the exact-decimal value sum, the previous OBSERVED period's sum, the
    delta, and the percent change (NULL when there is no previous
    period; 0-denominator guarded) — the growth table behind every BI
    dashboard. One (key, period) aggregate + one key-partitioned lag
    window over period AGGREGATES (bounded by periods, not rows)."""
    day = F.date_trunc(unit, F.col(ts_col).cast("timestamp"))
    per = df.groupBy(
        F.col(key_col).alias("key"), day.alias("__p")
    ).agg(F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__v"))
    w = Window.partitionBy("key").orderBy("__p")
    prev = F.lag("__v").over(w)
    v, p = F.col("__v").cast("double"), prev.cast("double")
    pct = F.when(
        prev.isNotNull() & (p != 0.0), F.round((v - p) / F.abs(p), 6)
    ).otherwise(F.lit(None).cast("double"))
    return per.select(
        "key",
        F.date_format("__p", TS_FMT).alias("period"),
        F.round(v, 2).alias("value"),
        F.round(p, 2).alias("prev_value"),
        F.round(v - p, 2).alias("delta"),
        pct.alias("pct_change"),
    )


def forward_fill(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str | None = "event_id",
) -> DataFrame:
    """Gap repair by last-observation-carried-forward: every NULL value
    takes the key's most recent non-NULL value at-or-before it (sensor
    dropout / sparse-attribute repair — the standard time-series fill).
    Rows before a key's first observation stay NULL. Ordering is
    (ts, seq) so same-timestamp ties are deterministic.

    Shape at scale: ONE key-partitioned window with last(ignorenulls)
    over an unbounded-preceding frame — evaluated streamingly with one
    value of state, no self-join, no explode. Adds `filled` next to the
    original column."""
    order = [F.col(ts_col)] + ([F.col(seq_col)] if seq_col else [])
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(
        "filled", F.last(F.col(value_col), ignorenulls=True).over(w)
    )


def session_stats(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Session-quality summary (bounce rate / dwell time — the product
    health numbers on every analytics page): sessionize by inactivity
    gap, then ONE row with session count, bounce count+rate (single-event
    sessions), exact-integer dwell-time mean/max in seconds, and mean
    events per session.

    Shape at scale: the same lag/cumsum sessionization as sessionize()
    (one user-keyed window), a per-session min/max/count aggregate, then
    a scalar rollup — durations are integer seconds so every ratio is
    engine-portable."""
    w = Window.partitionBy("user_id").orderBy("ts")
    ts_long = F.col("ts").cast("timestamp").cast("long")
    gap = ts_long - F.lag(ts_long).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    sess_id = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    per = (
        df.withColumn("__sess", sess_id)
        .groupBy("user_id", "__sess")
        .agg(
            (F.max(ts_long) - F.min(ts_long)).alias("__dur"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum((F.col("__n") == 1).cast("long")).cast("long").alias("n_bounce"),
        F.round(
            F.sum((F.col("__n") == 1).cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)), 6
        ).alias("bounce_rate"),
        F.round(
            F.sum("__dur") / F.greatest(F.count(F.lit(1)), F.lit(1)), 6
        ).alias("avg_duration_s"),
        F.max("__dur").cast("long").alias("max_duration_s"),
        F.round(
            F.sum("__n") / F.greatest(F.count(F.lit(1)), F.lit(1)), 6
        ).alias("avg_events"),
    )


def out_of_order_stats(
    df: DataFrame,
    key_col: str = "user_id",
    seq_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time disorder audit — the measurement that sizes a
    Structured Streaming watermark delay: within each key's ARRIVAL
    order (`seq_col`), an event is late by (max event-time seen so far)
    - (its own event-time). Returns ONE row: event count, late count and
    fraction, the worst lateness in seconds, and a fixed threshold
    histogram (<1m / <10m / <1h / >=1h) — exactly the numbers needed to
    pick withWatermark('ts', delay) so that a chosen quantile of late
    data is retained.

    Shape at scale: one key-partitioned running-max window (streamingly
    evaluated, state = one timestamp) + one scalar aggregate. Lateness
    is computed in exact integer microseconds."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(key_col)
        .orderBy(seq_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late_us = F.greatest(F.max(us).over(w) - us, F.lit(0).cast("long"))
    per = df.select(F.coalesce(late_us, F.lit(0).cast("long")).alias("__l"))
    m = F.lit(60_000_000).cast("long")
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("__l") > 0).cast("long")).cast("long").alias("n_late"),
        F.round(
            F.sum((F.col("__l") > 0).cast("long"))
            / F.greatest(F.count(F.lit(1)), F.lit(1)), 6
        ).alias("frac_late"),
        # floor-divide (never a bare cast: DuckDB's double->bigint ROUNDS)
        F.floor(F.max("__l") / F.lit(1_000_000)).cast("long")
        .alias("max_late_s"),
        F.sum(((F.col("__l") > 0) & (F.col("__l") < m)).cast("long"))
        .cast("long").alias("n_lt_1m"),
        F.sum(((F.col("__l") >= m) & (F.col("__l") < 10 * m)).cast("long"))
        .cast("long").alias("n_lt_10m"),
        F.sum(((F.col("__l") >= 10 * m) & (F.col("__l") < 60 * m)).cast("long"))
        .cast("long").alias("n_lt_1h"),
        F.sum((F.col("__l") >= 60 * m).cast("long"))
        .cast("long").alias("n_ge_1h"),
    )


def cuped_adjustment(
    df: DataFrame,
    split_ts: str,
    salt: str = "ab",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """CUPED variance reduction (the public controlled-experiment
    technique: regress each user's post-period metric on their
    PRE-period metric and analyze the residual Y - theta*(X - mean X),
    which preserves the treatment effect while shrinking variance):
    users with activity in both periods contribute per-user exact-
    decimal means; theta = cov(X, Y)/var(X); reports theta, raw and
    adjusted between-arm effects, and the variance-reduction ratio.
    Cross-user moment sums are accumulated in 1e-6-quantized integer
    units so partitioning cannot perturb a bit. Returns ONE row.

    Shape at scale: one user-keyed aggregate (pre/post decimal sums),
    one scalar moment aggregate, one broadcast of the one-row theta."""
    is_t = F.substring(
        F.md5(F.concat(F.col(user_col).cast("string"), F.lit(":" + salt))),
        1, 1,
    ).isin(*list("01234567"))
    post = F.col(ts_col).cast("timestamp") >= F.lit(split_ts).cast("timestamp")
    per = (
        df.groupBy(F.col(user_col).alias("__u"))
        .agg(
            F.min(is_t).alias("__t"),
            F.sum(F.when(~post, F.col(value_col).cast("decimal(18,2)")))
            .alias("__sx"),
            F.count(F.when(~post, F.lit(1))).alias("__nx"),
            F.sum(F.when(post, F.col(value_col).cast("decimal(18,2)")))
            .alias("__sy"),
            F.count(F.when(post, F.lit(1))).alias("__ny"),
        )
        .filter((F.col("__nx") > 0) & (F.col("__ny") > 0))
        .select(
            "__t",
            (F.col("__sx").cast("double") / F.col("__nx")).alias("__x"),
            (F.col("__sy").cast("double") / F.col("__ny")).alias("__y"),
        )
    )

    def micro(col):
        return F.sum(F.round(col * 1e6).cast("long")).cast("double") / 1e6

    mom = per.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        micro(F.col("__x")).alias("__mx"),
        micro(F.col("__y")).alias("__my"),
        micro(F.col("__x") * F.col("__y")).alias("__mxy"),
        micro(F.col("__x") * F.col("__x")).alias("__mxx"),
        micro(F.col("__y") * F.col("__y")).alias("__myy"),
    )
    n = F.col("__n")
    varx = F.col("__mxx") / n - (F.col("__mx") / n) * (F.col("__mx") / n)
    vary = F.col("__myy") / n - (F.col("__my") / n) * (F.col("__my") / n)
    cov = F.col("__mxy") / n - (F.col("__mx") / n) * (F.col("__my") / n)
    theta = F.when(varx > 0, cov / varx).otherwise(F.lit(0.0))
    scalars = mom.select(
        n.cast("long").alias("n_users"), theta.alias("__theta"),
        vary.alias("__vy"),
        F.greatest(vary - theta * cov, F.lit(0.0)).alias("__vadj"),
    )
    arms = (
        per.crossJoin(F.broadcast(scalars))
        .groupBy("__t")
        .agg(
            micro(F.col("__y")).alias("__ay"),
            micro(F.col("__y") - F.col("__theta") * F.col("__x"))
            .alias("__aadj"),
            F.count(F.lit(1)).cast("double").alias("__an"),
        )
    )

    def arm(t: bool, col: str):
        return F.min(F.when(F.col("__t") == t, F.col(col) / F.col("__an")))

    eff = arms.agg(
        (arm(True, "__ay") - arm(False, "__ay")).alias("__raw"),
        (arm(True, "__aadj") - arm(False, "__aadj")).alias("__adj"),
    )
    return scalars.crossJoin(F.broadcast(eff)).select(
        "n_users",
        F.round("__theta", 6).alias("theta"),
        F.round("__raw", 6).alias("raw_effect"),
        F.round("__adj", 6).alias("adjusted_effect"),
        F.round(
            F.when(
                F.col("__vy") > 0,
                1.0 - F.col("__vadj") / F.col("__vy"),
            ).otherwise(F.lit(0.0)), 6
        ).alias("var_reduction"),
    )


def kaplan_meier(
    df: DataFrame,
    censor_ts: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Kaplan-Meier survival over user lifetimes: duration = whole days
    between a user's first and last event; users still active at-or-
    after `censor_ts` are right-censored (they survive past their
    observed duration). S(t) steps down at each uncensored duration by
    (1 - d_t / n_t) with n_t = users at risk — the product-limit
    estimator behind every retention curve. The log-survival running
    sum is accumulated in 1e-9-quantized integers over the ORDERED
    duration window, so the curve is engine-portable. Returns
    (duration_days, n_risk, n_events, n_censored, survival R6).

    Shape at scale: one user-keyed min/max aggregate, one duration-
    grain table (bounded by the day range), two ordered windows over
    it."""
    ts = F.col(ts_col).cast("timestamp")
    per = df.groupBy(F.col(user_col).alias("__u")).agg(
        F.floor(
            (F.unix_micros(F.max(ts)) - F.unix_micros(F.min(ts)))
            / F.lit(86400_000_000)
        ).cast("long").alias("__d"),
        (
            F.max(ts) >= F.lit(censor_ts).cast("timestamp")
        ).cast("long").alias("__c"),
    )
    grain = per.groupBy("__d").agg(
        F.sum(1 - F.col("__c")).cast("long").alias("n_events"),
        F.sum("__c").cast("long").alias("n_censored"),
        F.count(F.lit(1)).cast("long").alias("__nd"),
    )
    w = Window.orderBy("__d")
    after = Window.orderBy("__d").rowsBetween(0, Window.unboundedFollowing)
    n_risk = F.sum("__nd").over(after)
    # d == n (everyone at risk dies) sends log(0) = -inf through the
    # quantized cast: a -1000 sentinel makes exp() underflow to exactly
    # 0.0 on any IEEE engine, which IS the estimator's value there
    step = F.when(
        (F.col("n_events") > 0) & (F.col("n_events") < n_risk),
        F.log(1.0 - F.col("n_events") / n_risk),
    ).when(
        (F.col("n_events") > 0) & (F.col("n_events") == n_risk),
        F.lit(-1000.0),
    ).otherwise(F.lit(0.0))
    cum = (
        F.sum(F.round(step * 1e9).cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("double")
        / 1e9
    )
    return grain.select(
        F.col("__d").alias("duration_days"),
        n_risk.cast("long").alias("n_risk"),
        "n_events",
        "n_censored",
        F.round(F.exp(cum), 6).alias("survival"),
    )


def did_estimate(
    df: DataFrame,
    split_ts: str,
    salt: str = "did",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Difference-in-differences estimator over an event stream: users
    split into treatment/control by the content-addressed md5 coin,
    periods split at `split_ts` (an ISO timestamp literal), and the
    effect is (treat_post - treat_pre) - (ctrl_post - ctrl_pre) over
    per-cell mean values — the standard pre/post causal read-out when
    randomization happened at `split_ts`. Cell means are exact-decimal
    sums divided once, so every figure is engine-portable. ONE grouped
    aggregate over the four (arm, period) cells + one pivot row."""
    is_t = F.substring(
        F.md5(F.concat(F.col(user_col).cast("string"), F.lit(":" + salt))),
        1, 1,
    ).isin(*list("01234567"))
    post = F.col(ts_col).cast("timestamp") >= F.lit(split_ts).cast("timestamp")
    cells = (
        df.groupBy(is_t.alias("__t"), post.alias("__p"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__s"),
        )
        .select(
            "__t", "__p", "__n",
            (F.col("__s").cast("double") / F.col("__n")).alias("__m"),
        )
    )

    def cell(t: bool, p: bool, col: str):
        return F.min(
            F.when((F.col("__t") == t) & (F.col("__p") == p), F.col(col))
        )

    one = cells.agg(
        cell(True, False, "__m").alias("treat_pre"),
        cell(True, True, "__m").alias("treat_post"),
        cell(False, False, "__m").alias("ctrl_pre"),
        cell(False, True, "__m").alias("ctrl_post"),
        F.sum("__n").cast("long").alias("n_events"),
    )
    did = (
        (F.col("treat_post") - F.col("treat_pre"))
        - (F.col("ctrl_post") - F.col("ctrl_pre"))
    )
    return one.select(
        "n_events",
        F.round("treat_pre", 6).alias("treat_pre"),
        F.round("treat_post", 6).alias("treat_post"),
        F.round("ctrl_pre", 6).alias("ctrl_pre"),
        F.round("ctrl_post", 6).alias("ctrl_post"),
        F.round(did, 6).alias("did"),
    )


def behavioral_entropy(
    df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-key behavioral diversity: Shannon entropy (bits) of the key's
    event-type distribution — bots and single-purpose scripts sit near
    0, organic users near the type-count ceiling. Per-type probabilities
    are exact integer ratios; the entropy sum is accumulated in
    1e-9-quantized integer units so the cross-type addition order cannot
    perturb a bit. Returns (key, n_events, n_types, entropy_bits R6).
    Two keyed aggregates — no windows, no joins beyond the key grain."""
    per = df.groupBy(
        F.col(key_col).alias("key"), F.col(type_col).alias("__t")
    ).agg(F.count(F.lit(1)).alias("__c"))
    tot = Window.partitionBy("key")
    p = F.col("__c") / F.sum("__c").over(tot)
    term = F.round(-p * F.log2(p) * 1e9).cast("long")
    return (
        per.select("key", F.col("__c").alias("__c"), term.alias("__e"))
        .groupBy("key")
        .agg(
            F.sum("__c").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.round(F.sum("__e").cast("double") / 1e9, 6)
            .alias("entropy_bits"),
        )
    )


def debounce(
    df: DataFrame,
    gap_seconds: int = 60,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Per-(key, type) debounce — the double-click / retry-storm cleaner:
    an event is kept only when the SAME user's previous event of the
    SAME type is more than `gap_seconds` older (or absent). Boundaries
    compare exact integer microseconds; ordering ties break by
    `seq_col`. Note the reference point is the previous RAW event, not
    the previous kept one — the one-lag formulation that needs no
    iterative state (a burst longer than the gap re-emits once per gap
    crossing relative to its predecessor).

    Shape at scale: ONE (key, type)-partitioned lag window — state is a
    single row; no self-join."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key_col, type_col).orderBy(ts_col, seq_col)
    gap = us - F.lag(us).over(w)
    keep = gap.isNull() | (gap > gap_seconds * 1_000_000)
    return df.withColumn("kept", keep.cast("int"))


def attribute_position(
    df: DataFrame,
    touch_types: list[str],
    convert_type: str = "purchase",
    within: str = "1 hour",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the standard
    alternative to last-touch: each conversion's in-window touches share
    the credit 40% first / 40% last / 20% split across the middles
    (one touch takes 1.0, two take 0.5 each). Touches order by
    (timestamp, event id) within the conversion, microsecond-exact.
    Per-channel credit sums are accumulated in 1e-9-quantized integers
    so the fractional credits add identically on any engine. Returns
    (channel, n_conversions, credit R6).

    Shape at scale: the same user-keyed conversion-x-touch join as
    attribute_last_touch, one bounded per-conversion window, one
    channel rollup."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    win_us = _interval_seconds(within) * 1_000_000
    conv = df.filter(F.col(type_col) == convert_type).select(
        F.col(user_col).alias("__u"), us.alias("__cts"),
        F.col(id_col).alias("__cid"),
    )
    touch = df.filter(F.col(type_col).isin(touch_types)).select(
        F.col(user_col).alias("__u"), us.alias("__tts"),
        F.col(id_col).alias("__tid"), F.col(type_col).alias("__ch"),
    )
    ok = (F.col("__tts") <= F.col("__cts")) & (
        F.col("__cts") - F.col("__tts") <= win_us
    )
    pairs = conv.join(touch, "__u").filter(ok)
    w = Window.partitionBy("__cid")
    rk = F.row_number().over(w.orderBy("__tts", "__tid"))
    n = F.count(F.lit(1)).over(w)
    credit = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when(rk == 1, F.lit(0.4))
        .when(rk == n, F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2))
    )
    credited = pairs.select(
        "__cid", "__ch",
        F.round(credit * 1e9).cast("long").alias("__cr"),
    )
    return credited.groupBy(F.col("__ch").alias("channel")).agg(
        F.countDistinct("__cid").cast("long").alias("n_conversions"),
        F.round(F.sum("__cr").cast("double") / 1e9, 6).alias("credit"),
    )


def ewma_by_key(
    df: DataFrame,
    alpha: float = 0.5,
    k: int = 8,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Trailing exponential-weighted moving average per key over a daily
    series: each key's events aggregate to exact-decimal daily sums, and
    every day's EWMA is the weighted mean of the last `k` OBSERVED days
    (weights (1-alpha)^j, j = days-back in observation order), normalized
    over the lags that exist — the smoothing primitive of anomaly
    baselines and demand forecasting. Truncating at k terms keeps the
    recurrence windowless-exact and engine-portable: weights are injected
    as Python double literals and the k-term sum is built in one fixed
    association order, so both engines compute bit-identical doubles.

    Shape at scale: one (key, day) aggregate then ONE key-partitioned
    window evaluating k lag() columns in a single pass — per-key state is
    k doubles, no self-joins, no collect_list of the series."""
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    day = F.date_trunc("day", F.col(ts_col).cast("timestamp"))
    daily = df.groupBy(
        F.col(key_col).alias("key"), day.alias("__day")
    ).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__x")
    )
    w = Window.partitionBy("key").orderBy("__day")
    x = F.col("__x").cast("double")
    num = x
    den = F.lit(1.0)
    for j in range(1, k):
        wj = F.lit(float((1.0 - alpha) ** j))
        lj = F.lag(x, j).over(w)
        num = num + F.coalesce(lj * wj, F.lit(0.0))
        den = den + F.when(lj.isNotNull(), wj).otherwise(F.lit(0.0))
    return daily.select(
        "key",
        F.date_format("__day", TS_FMT).alias("day"),
        F.round(x, 2).alias("day_value"),
        F.round(num / den, 6).alias("ewma"),
    )


def next_event_pairs(
    df: DataFrame,
    gap_minutes: int = 30,
    max_prefix: int = 5,
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Sequence-model training pairs from behavioral sessions: for every
    event after the first in a session, emit (prefix of up to
    `max_prefix` preceding event types, next type) — the
    next-event-prediction dataset (recommender / session-based sequence
    models). Sessionization uses MICROSECOND-precision gaps (unix_micros
    on both engines, so the 30-minute boundary can never disagree by a
    truncated second); per-session event lists are built with one
    collect_list bounded by session length, then a posexplode emits one
    row per prediction step. Two key-partitioned windows + one explode —
    no self-joins."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key_col).orderBy(ts_col)
    gap = us - F.lag(us).over(w)
    new_sess = F.when(
        gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    ranked = df.select(
        F.col(key_col), F.col(ts_col), F.col(type_col), sess.alias("__sess")
    ).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy(key_col, "__sess").orderBy(ts_col, type_col)
        ),
    )
    lists = ranked.groupBy(key_col, "__sess").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__rn", type_col))),
            lambda s: s[type_col],
        ).alias("__seq")
    )
    n = F.size("__seq")
    steps = lists.filter(n >= 2).select(
        key_col,
        F.col("__sess").cast("long").alias("session"),
        "__seq",
        F.explode(F.sequence(F.lit(2), n)).alias("step"),
    )
    start = F.greatest(F.lit(1), F.col("step") - max_prefix)
    prefix = F.slice("__seq", start, F.col("step") - start)
    return steps.select(
        key_col,
        "session",
        F.col("step").cast("long").alias("step"),
        F.array_join(prefix, ">").alias("prefix"),
        F.element_at("__seq", F.col("step")).alias("label"),
    )


def interpolate_linear(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str | None = "event_id",
) -> DataFrame:
    """Gap repair by LINEAR interpolation: every NULL value takes the
    time-weighted blend of its key's nearest non-NULL neighbors,

        v = v_prev + (v_next - v_prev) * (t - t_prev) / (t_next - t_prev)

    — the standard upgrade over forward_fill (LOCF) when the series is a
    measurement rather than a state: dropout rows land ON the trend line
    instead of holding stale readings. Leading/trailing gaps (no neighbor
    on one side) stay NULL — extrapolation is a modeling decision this
    operator refuses to make silently. Same-timestamp neighbors
    (t_next == t_prev) take v_prev. Ordering is (ts, seq) so ties are
    deterministic; time runs in exact integer microseconds and only the
    final blend divides in double (ROUND(6) — engine-portable, no
    transcendentals). Adds `interpolated` next to the original column.

    Shape at scale: TWO key-partitioned windows (last non-NULL
    (t, v) at-or-before, first non-NULL at-or-after), each a streaming
    frame with one struct of state — no self-join, no explode, the same
    cost family as forward_fill. The key shuffle is CPU-sized from the
    input row count (session.sized_repartition — only ever widens past
    the session conf; the sf10 decade measured this family 2x slow at 32
    fixed partitions), and both windows reuse the one exchange."""
    from ophidia_server_spark.session import sized_repartition

    df = sized_repartition(df, key_col)
    order = [F.col(ts_col)] + ([F.col(seq_col)] if seq_col else [])
    t_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    v = F.col(value_col).cast("double")
    obs = F.when(v.isNotNull(), F.struct(t_us.alias("t"), v.alias("v")))
    back = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev = F.last(obs, ignorenulls=True).over(back)
    nxt = F.first(obs, ignorenulls=True).over(fwd)
    dt = (nxt["t"] - prev["t"]).cast("double")
    frac = F.when(dt > 0, (t_us - prev["t"]).cast("double") / dt).otherwise(
        F.lit(0.0)
    )
    blended = prev["v"] + (nxt["v"] - prev["v"]) * frac
    return df.withColumn(
        "interpolated",
        F.round(
            F.when(v.isNotNull(), v)
            .when(prev.isNotNull() & nxt.isNotNull(), blended)
            .otherwise(F.lit(None).cast("double")),
            6,
        ),
    )
