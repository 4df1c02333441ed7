"""Structured Streaming over the events table.

The reference has no stream semantics (SURVEY §2.8 — its goroutine
pipeline is bounded batch), but the extended engine covers the events
surface: tumbling/sliding window aggregates with watermarks for late
data, plus a batch-equivalent of each so results are oracle-checkable.

The driver's ``events`` parquet has shipped both TIMESTAMP(NANOS)
(read as long nanos via session conf nanosAsLong) and timestamp[us]
(read as TIMESTAMP_NTZ) — ``normalize_ts`` folds both to the engine's
raw-long-nanos contract and ``with_event_time`` derives a proper
timestamp column once, at scan.

Scale: windowed aggregation state is partitioned by (window, keys);
watermark bounds state size — without it a 100 TB stream accretes
state forever. ``availableNow`` triggers let the same query run as an
incremental backfill over historical parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from clickhouse_only_importer_prototype_spark.session import ENGINE_CONF

# The long-nanos shape every operator downstream consumes (and the
# shape test fixtures write directly).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", LongType(), True),  # raw nanos
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


def pin_event_time_conf(spark: SparkSession) -> None:
    """Re-set ENGINE_CONF's nanosAsLong and UTC: every events read needs both."""
    for k in ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone"):
        spark.conf.set(k, ENGINE_CONF[k])


def normalize_ts(df: DataFrame) -> DataFrame:
    """Fold ``ts`` to raw long nanos whatever the source type: long
    nanos pass through; timestamp[us]/TIMESTAMP_NTZ converts via
    unix_micros under the engine's UTC session timezone (matching
    DuckDB's ``epoch_ns`` of the same naive timestamps)."""
    t = df.schema["ts"].dataType
    if isinstance(t, (TimestampType, TimestampNTZType)):
        ns = F.unix_micros(F.col("ts").cast("timestamp_ltz")) * F.lit(1000)
        return df.withColumn("ts", ns.cast("long"))
    return df


def with_event_time(df: DataFrame) -> DataFrame:
    """Derive a microsecond event_time from the (normalized) long-nanos
    ts column.

    Integer division — double division of epoch-scale nanos (> 2^53)
    rounds the low bits and lands ~12% of events one microsecond off,
    which flips window membership at boundaries."""
    df = normalize_ts(df)
    return df.withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of the events parquet directory.

    The stream schema is pinned from the files' own footer (a batch
    schema inference — metadata-only), so both the long-nanos fixture
    shape and the driver's timestamp[us] shape stream correctly;
    ``with_event_time`` then normalizes to long nanos.
    ``max_files_per_trigger`` caps files per micro-batch — the twin
    harness uses it to force MULTI-batch runs so cross-batch state
    contracts are exercised, not just the single-batch degenerate."""
    pin_event_time_conf(spark)
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return with_event_time(reader.parquet(path))


def tumbling_counts(
    df: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window per-type counts + value sum, watermarked.

    Works identically for batch and streaming inputs (same API); on a
    stream the watermark lets Spark drop state for closed windows.
    """
    src = df
    if df.isStreaming:
        src = df.withWatermark("event_time", watermark)
    return (
        src.groupBy(F.window("event_time", window), F.col("event_type"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def sliding_type_counts(
    df: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window per-type event counts, watermarked — the
    overlapping-window twin of tumbling_counts (each event lands in
    window/slide windows; state per open window is bounded by the
    watermark horizon). Exact counts only, so a batch/DuckDB oracle
    can reproduce every row — the approximate-distinct variant lives
    in sliding_user_activity."""
    src = df.withWatermark("event_time", watermark) if df.isStreaming else df
    return (
        src.groupBy(F.window("event_time", window, slide), "event_type")
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sliding_user_activity(
    df: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window distinct-ish user activity (count + value stats)."""
    src = df.withWatermark("event_time", watermark) if df.isStreaming else df
    return (
        src.groupBy(F.window("event_time", window, slide))
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "approx_users",
            "n_events",
        )
    )


def sessionize_stateful(events: DataFrame, gap_ns: int = 1_800_000_000_000) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState``.

    Per user, events closer than ``gap_ns`` chain into one session; a
    larger gap closes the open session and emits it (user_id,
    session_start, session_end, n_events). The open tail session stays
    in state across micro-batches and is emitted only once a later
    event closes it — the streaming contract for unbounded input.
    Late events that fall within ``gap_ns`` of the open session merge
    into it; later ones form (and immediately close) their own
    sessions. A late event belonging to an *already emitted* session
    cannot retract it (append mode) and becomes its own session — the
    watermarkless tradeoff, documented here.

    Scale: state is one (start, last, n) triple per active user, keyed
    by the shuffle partitioning of user_id — no per-event state, no
    global ordering. Arrow moves each group's batch rows to Python in
    one block (this is the designated custom-stateful-operator path;
    the gap logic itself isn't expressible with window/session_window
    when downstream needs incremental emission of closed sessions).
    """
    import pandas as pd  # local import keeps module import light

    out_schema = StructType(
        [
            StructField("user_id", LongType(), False),
            StructField("session_start", LongType(), False),
            StructField("session_end", LongType(), False),
            StructField("n_events", LongType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("open_start", LongType(), True),
            StructField("open_last", LongType(), True),
            StructField("open_n", LongType(), True),
        ]
    )

    def fn(key, pdfs, state):
        (user_id,) = key
        # Each event is a degenerate [t, t] interval; the open session
        # carried in state is a summarized interval (its internal gaps
        # are all <= gap_ns by construction). Gap-merging the sorted
        # intervals reproduces exact sessionization for any late-data
        # pattern: a late event hours before the open session forms its
        # own session instead of silently stretching the open one
        # backwards, and a chain of late events merges among itself.
        items: list[list[int]] = []
        for pdf in pdfs:
            items.extend([int(t), int(t), 1] for t in pdf["ts"])
        if state.exists:
            open_start, open_last, open_n = state.get
            items.append([open_start, open_last, open_n])
        items.sort()
        merged: list[list[int]] = []
        for s, l, n in items:
            if merged and s - merged[-1][1] <= gap_ns:
                merged[-1][1] = max(merged[-1][1], l)
                merged[-1][2] += n
            else:
                merged.append([s, l, n])
        closed = [(user_id, s, l, n) for s, l, n in merged[:-1]]
        state.update(tuple(merged[-1]))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events"],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def tumbling_ohlc(
    df: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window OHLC candles per event type, watermarked — the
    streaming twin of operators/temporal.ohlc_bars.

    open/close are min_by/max_by on the lexicographic (ts, event_id)
    struct, which Spark maintains as ordinary declarative aggregation
    state (a pair per group cell) — no custom stateful operator, and
    the watermark bounds state to open windows exactly as with counts.
    Works identically for batch and streaming inputs.
    """
    src = df
    if df.isStreaming:
        src = df.withWatermark("event_time", watermark)
    pos = F.struct(F.col("ts"), F.col("event_id"))
    return (
        src.groupBy(F.window("event_time", window), F.col("event_type"))
        .agg(
            F.min_by("value", pos).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", pos).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
