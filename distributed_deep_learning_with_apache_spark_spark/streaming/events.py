"""Event-time operators over the `events` table ([EXT], SURVEY §2.12).

The reference has no streaming — its closest artifact is the pull-based
`DataSetIterator` with reset/prefetch (`Word2VecTransformingIterator.java:
161-173`). Per SURVEY §2.12 the plan is: every windowed/stateful operator
first in batch-equivalent form (oracle-checkable against DuckDB), then the
same semantics as real Structured Streaming (rows-only check, memory sink).

Timestamp parity: the events `ts` parquet unit has varied across fixture
generations (ns in some, µs in others); the catalog sniffs the footer and
normalizes to microsecond timestamps. All emitted time values are
whole-second BIGINTs (floor-of-epoch) so both engines agree bit-for-bit.

Scale posture: tumbling/sliding windows are hash aggs on (bucket, key) —
map-side combinable, one shuffle; sessionization is a per-user window sort
(shuffle on user_id) exactly like W1; with watermarks the streaming forms
bound state by event time, which is what makes them viable on an unbounded
100 TB/day firehose.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ..sources.catalog import TABLE_SCHEMAS, load_table, local_frame

SESSION_GAP_MIN = 30


def _epoch_s(col):
    """Whole-second epoch as BIGINT (engine-portable time value)."""
    return F.unix_timestamp(col)


# ---------------------------------------------------------------------------
# Tumbling window aggregation (batch-equivalent form)
# ---------------------------------------------------------------------------
@register(
    "events_tumbling_hourly",
    oracle="""
        SELECT floor(epoch(date_trunc('hour', ts::TIMESTAMP)))::BIGINT AS window_start_s,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("streaming", "agg"),
    bench=True,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window × event_type: count + sum.

    Uses the native F.window operator (the same operator the streaming
    form uses), emitting the window start as epoch seconds.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            _epoch_s(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Sliding window aggregation (1 h window, 30 min slide)
# ---------------------------------------------------------------------------
@register(
    "events_sliding_1h_30m",
    oracle="""
        SELECT floor(epoch(date_trunc('hour', ts::TIMESTAMP)))::BIGINT
                 + (CASE WHEN extract(minute FROM ts::TIMESTAMP) >= 30 THEN 1800 ELSE 0 END)
                 - k * 1800 AS window_start_s,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events, (SELECT unnest([0, 1]) AS k)
        GROUP BY 1
    """,
    tags=("streaming", "agg"),
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: each event lands in two overlapping 1-hour windows
    (epoch-aligned, 30-min slide) — F.window expands rows exactly like the
    oracle's unnest([0,1]) construction."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            _epoch_s(F.col("w.start")).alias("window_start_s"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# OHLC downsample (time-series bar aggregation)
# ---------------------------------------------------------------------------
@register(
    "events_ohlc_hourly",
    oracle="""
        WITH ranked AS (
          SELECT floor(epoch(date_trunc('hour', ts::TIMESTAMP)))::BIGINT AS window_start_s,
                 event_type, value,
                 row_number() OVER (PARTITION BY date_trunc('hour', ts::TIMESTAMP), event_type
                                    ORDER BY ts, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY date_trunc('hour', ts::TIMESTAMP), event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM events
        )
        SELECT window_start_s, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               max(CASE WHEN rn_a = 1 THEN value END) AS open_v,
               max(value) AS high_v,
               min(value) AS low_v,
               max(CASE WHEN rn_d = 1 THEN value END) AS close_v
        FROM ranked
        GROUP BY 1, 2
    """,
    doc="Hourly OHLC bars per event_type: open/close via min_by/max_by on a (ts, event_id) composite key, high/low/count in the same single-shuffle aggregate.",
    tags=("streaming", "agg", "timeseries"),
)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream to hourly OHLC bars (the classic
    time-series rollup): per (hour, event_type), the first value (open),
    max (high), min (low), and last value (close).

    Open/close use ``min_by``/``max_by`` over a ``struct(ts, event_id)``
    composite key — event_id is unique, so exact timestamp ties resolve
    deterministically (the corpus fuzz forces such ties). Unlike the
    window-rank formulation the oracle uses, min_by/max_by is a real
    aggregate with map-side partial merge: partials collapse each input
    partition to ~|groups| rows before the single group-key shuffle,
    where the rank form would shuffle every event and sort each partition
    in both directions. (The struct key makes Spark pick SortAggregate —
    a group-key sort, not a rank pass; plan pinned in
    tests/test_r5_new_ops.py.) Values are raw row doubles (no FP
    accumulation), so cross-engine parity is bit-exact.
    """
    e = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min_by("value", key).alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max_by("value", key).alias("close_v"),
        )
        .select(
            _epoch_s(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "open_v",
            "high_v",
            "low_v",
            "close_v",
        )
    )


# ---------------------------------------------------------------------------
# Keep-latest dedup (the batch form of dropDuplicates-with-watermark)
# ---------------------------------------------------------------------------
@register(
    "events_latest_per_user_type",
    oracle="""
        SELECT user_id, event_type, event_id,
               floor(epoch(ts::TIMESTAMP))::BIGINT AS ts_s,
               round(value, 2) AS value
        FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """,
    tags=("streaming", "dedup"),
)
def events_latest_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the latest event per (user, type): rank-window form of
    dropDuplicates that is deterministic under ties."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            _epoch_s("ts").alias("ts_s"),
            F.round("value", 2).alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# Sessionization (gap > 30 min starts a new session)
# ---------------------------------------------------------------------------
@register(
    "events_sessionized",
    oracle=f"""
        WITH flagged AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MIN} MINUTE
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        sessions AS (
          SELECT *, sum(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts ASC, event_id ASC
                                           ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM flagged
        )
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               floor(epoch(min(ts)::TIMESTAMP))::BIGINT AS session_start_s,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value,
               floor(epoch(max(ts)::TIMESTAMP))::BIGINT
                 - floor(epoch(min(ts)::TIMESTAMP))::BIGINT AS duration_s
        FROM sessions
        GROUP BY user_id, session_seq
    """,
    tags=("streaming", "session", "window"),
    bench=True,
)
def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap flag → running sum = session id → per-session
    rollup. One shuffle on user_id shared by both windows and the final agg.

    (Streaming form: session_window(ts, '30 minutes') — see
    stream_session_counts.)
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        _epoch_s(F.min("ts")).alias("session_start_s"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        (_epoch_s(F.max("ts")) - _epoch_s(F.min("ts"))).alias("duration_s"),
    )


# ---------------------------------------------------------------------------
# Semi-structured props: JSON extraction + aggregation
# ---------------------------------------------------------------------------
@register(
    "events_props_json",
    oracle="""
        SELECT event_type,
               round(avg(json_extract(props, '$.k')::INTEGER), 4) AS avg_k,
               max(json_extract(props, '$.k')::INTEGER) AS max_k,
               count(*) AS n
        FROM events
        GROUP BY event_type
    """,
    tags=("streaming", "json", "ext"),
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: parse the JSON props payload with a
    typed schema (from_json — vectorized, JVM-side; never a Python json.loads)
    and aggregate the extracted field."""
    from pyspark.sql import types as T

    e = load_table(spark, sf_dir, "events")
    k = F.from_json("props", T.StructType([T.StructField("k", T.IntegerType())]))["k"]
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Real Structured Streaming forms (rows-only: driver records row counts)
# ---------------------------------------------------------------------------
def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The streaming file source requires a directory; glob-filter to the
    # events table within the sf_dir.  Mirror load_table's ts-unit sniff:
    # fixture generations have shipped both TIMESTAMP_NS and TIMESTAMP_US.
    import os

    from pyspark.sql import types as T

    from ..sources.catalog import _events_ts_is_nanos

    path = os.path.join(sf_dir, "events.parquet")
    if _events_ts_is_nanos(path):
        schema = T.StructType(
            [
                T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType)
                for f in TABLE_SCHEMAS["events"]
            ]
        )
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
        )
    return (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _stream_state_partitions(spark: SparkSession, n: int = 8):
    """Scope `spark.sql.shuffle.partitions` down for a streaming run.

    A stateful sink commits one state-store instance per shuffle partition
    per micro-batch; at local/test scale that fixed commit cost dwarfs the
    data (measured: the stream-stream outer join spent more time in state
    commits at 32 partitions than in the join). Every streaming query here
    starts from a fresh checkpoint, so the state-partition count is free to
    differ between calls. On a real cluster this knob is sized to executor
    count, not cores-on-one-box; lowering it is a local-rig projection, not
    a semantic change.
    """
    from contextlib import contextmanager

    @contextmanager
    def _scope():
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        if int(old) <= n:
            yield
            return
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return _scope()


def _run_to_memory(stream_df: DataFrame, spark: SparkSession, name: str, mode: str) -> DataFrame:
    with _stream_state_partitions(spark):
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # Materialize before the in-memory sink table goes away.
    out = spark.table(name)
    return local_frame(spark, out.collect(), out.schema)


@register(
    "stream_tumbling_counts",
    oracle=None,  # Structured Streaming execution path; rows-only check
    tags=("streaming", "structured"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming: parquet source → 10-min watermark →
    tumbling 1-hour window × event_type counts → memory sink. Semantically
    identical to events_tumbling_hourly (which IS its oracle, modulo the
    complete-mode snapshot)."""
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            _epoch_s(F.col("w.start")).alias("window_start_s"), "event_type", "n_events"
        )
    )
    return _run_to_memory(agg, spark, "stream_tumbling_counts_sink", "complete")


@register(
    "stream_session_counts",
    oracle=None,
    tags=("streaming", "structured", "session"),
)
def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming sessionization: session_window(ts, 30 min) per user
    with a watermark — Spark's built-in stateful session operator."""
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            _epoch_s(F.col("w.start")).alias("session_start_s"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
    return _run_to_memory(agg, spark, "stream_session_counts_sink", "complete")


@register(
    "stream_stream_join_purchase_error",
    oracle=None,
    tags=("streaming", "structured", "join"),
)
def stream_stream_join_purchase_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: purchases matched to errors by
    the same user within the following hour. Both sides carry watermarks and
    the join condition bounds event-time distance, so state is evictable —
    the requirement for unbounded sources (batch twin: range_join shape)."""
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    errors = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("e_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "p_user",
        "p_id",
        "e_id",
        _epoch_s("p_ts").alias("purchase_ts_s"),
        _epoch_s("e_ts").alias("error_ts_s"),
    )
    return _run_to_memory(joined, spark, "stream_stream_join_sink", "append")


@register(
    "stream_stateful_user_counters",
    oracle=None,
    tags=("streaming", "structured", "stateful"),
)
def stream_stateful_user_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: applyInPandasWithState keeps a
    per-user (n_events, total_value) accumulator across micro-batches and
    emits the running totals — the engine's extension point for operators
    Structured Streaming lacks natively (SURVEY §2.11's DataSetIterator
    analog, state explicit instead of cursor-based).

    Kernel is a closure (pickled by value; executors don't import this
    package)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_counters(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    out = (
        _stream_events(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update_counters,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(out, spark, "stream_stateful_sink", "update")


@register(
    "stream_dedup_watermark",
    oracle=None,
    tags=("streaming", "structured", "dedup"),
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: dropDuplicates on event_id within the
    watermark horizon (the standard late-data dedup pattern)."""
    dedup = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_to_memory(dedup, spark, "stream_dedup_sink", "append")


@register(
    "stream_dedup_within_watermark",
    oracle=None,
    tags=("streaming", "structured", "dedup", "ext"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark` — the Spark-3.5+ sibling of the
    classic dedup above with a DIFFERENT state contract: two records are
    duplicates when their keys match and their event times land within
    the watermark delay of each other, and — the operational point —
    per-key state is GUARANTEED evicted once the watermark passes, even
    though `ts` is NOT part of the dedup key. Classic
    `dropDuplicates(["event_id"])` on a watermarked stream only evicts if
    the event-time column is in the key list; keyed on event_id alone its
    state grows forever. This operator is how an at-least-once source
    (Kafka redeliveries with fresh timestamps) is deduped with bounded
    state.

    Scale: state size is bounded by keys-per-watermark-window, not by
    stream lifetime — the difference between a dedup that survives a
    year-long run and one that OOMs. Same one-shuffle-on-key plan as the
    classic form.
    """
    dedup = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return _run_to_memory(dedup, spark, "stream_dedup_ww_sink", "append")


@register(
    "stream_model_scoring",
    oracle=None,  # iterative fit upstream; rows-only
    tags=("streaming", "structured", "ml"),
)
def stream_model_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-batch / score-stream: fit LogisticRegression on the embeddings
    table in batch, then apply the fitted model to a STREAMING read of the
    same source and aggregate prediction counts.

    This is the standard online-inference deployment (ML6 `net.output` at
    `PredictCommentsUsingRNNAndWord2Vec.java:69`, realized on an unbounded
    input): `model.transform` is row-local so it pipelines inside each
    micro-batch with no extra shuffle; the only stateful operator is the
    final count. The fitted coefficients ride along as task binaries
    (broadcast), exactly how a 1000-executor scoring job ships its model.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    as_features = lambda df: df.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    model = LogisticRegression(maxIter=20, regParam=0.01).fit(as_features(e))

    stream = (
        spark.readStream.schema(TABLE_SCHEMAS["embeddings"])
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    scored = (
        model.transform(
            stream.select(
                array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
            )
        )
        .groupBy(F.col("prediction").cast("int").alias("predicted_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _run_to_memory(scored, spark, "stream_model_scoring_sink", "complete")


# ---------------------------------------------------------------------------
# Mergeable-state sinks: stage → fold → drain → publish. Each op keeps one
# state (sums, a sketch, counters, bitmap words) that each batch's rows
# merge into associatively; stream_rate_limited_backfill reuses the
# staging and the drain. `base` is the op's scratch dir.
# ---------------------------------------------------------------------------
def _stage(df: DataFrame, n_files: int, base: str) -> DataFrame:
    """Write `df` as `n_files` parquet files and stream them back one file
    per micro-batch, so the query really runs `n_files` batches (an empty
    frame still writes one file, so at least one batch runs)."""
    staging = os.path.join(base, "staging")
    df.repartition(n_files).write.mode("overwrite").parquet(staging)
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )


def _pointer(base: str) -> dict:
    try:
        with open(os.path.join(base, "POINTER.json")) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {"cur": None, "committed": []}


def _read_state(spark: SparkSession, meta: dict) -> DataFrame:
    """The committed state, read with the schema `_fold` recorded for it."""
    schema = T.StructType.fromJson(meta["schema"])
    return spark.read.schema(schema).parquet(meta["cur"])


def _fold(base: str, rows, merge):
    """The foreachBatch body: `rows(batch_df)` projects the batch onto the
    state's columns, `merge` aggregates them together with the previous
    state (`merge(prev ∪ rows)`; `merge(rows)` on the first batch) — one
    aggregate per batch — and the result goes to a new `v{batch_id}`
    dir. Replacing POINTER.json ({cur, schema, committed}) is the atomic
    commit (write-new-then-swap-pointer; on a lakehouse, `MERGE INTO`
    with a txn id). A redelivered batch id is already committed and is
    skipped, so any batch may be replayed. The body returns whether it
    committed."""
    pointer = os.path.join(base, "POINTER.json")

    def fold(batch_df: DataFrame, batch_id: int) -> bool:
        meta = _pointer(base)
        if batch_id in meta["committed"]:
            return False
        new = rows(batch_df)
        if meta["cur"] is not None:
            new = _read_state(batch_df.sparkSession, meta).unionByName(new)
        state = merge(new)
        out = os.path.join(base, f"v{batch_id}")
        state.write.mode("overwrite").parquet(out)
        with open(pointer + ".tmp", "w") as fh:
            json.dump(
                {
                    "cur": out,
                    "schema": state.schema.jsonValue(),
                    "committed": meta["committed"] + [batch_id],
                },
                fh,
            )
        os.replace(pointer + ".tmp", pointer)
        return True

    return fold


def _drain(source: DataFrame, body, base: str) -> None:
    """Run the staged stream through `body` until every file is consumed."""
    q = (
        source.writeStream.foreachBatch(body)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


def _publish(spark: SparkSession, base: str, prefix: str) -> DataFrame:
    """Move the committed state out of the scratch tree and return a lazy
    read of it, so the readout never passes through the driver. Each
    invocation gets its own `{prefix}{pid}_*` dir, removed at exit: a
    DataFrame returned earlier stays readable after a later call."""
    publish = tempfile.mkdtemp(prefix=f"{prefix}{os.getpid()}_")
    atexit.register(shutil.rmtree, publish, ignore_errors=True)
    meta = _pointer(base)
    state = os.path.join(publish, "state")
    os.replace(meta["cur"], state)
    return _read_state(spark, {**meta, "cur": state})


@register(
    "stream_foreachbatch_merge",
    oracle="""
        SELECT user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY user_id
    """,
    tags=("streaming", "structured", "sink"),
)
def stream_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental foreachBatch merge sink — the production pattern for
    maintaining a keyed aggregate table from a stream (readStream →
    foreachBatch → key-wise merge into a parquet target).

    The reference's closest artifact is the resettable batch iterator
    (`Word2VecTransformingIterator.java:161-173`); this is its genuinely
    streaming realization. Events are staged as 4 files, so the query
    runs 4 micro-batches; `_fold` feeds each batch's (user_id, 1, value)
    rows and the target's rows through one (user_id, count, sum)
    aggregate — map-side combinable, one shuffle per batch over only that
    batch's rows and the keyed target, which is what keeps this viable on
    an unbounded firehose. Counts and sums are
    additive, so the final table is independent of how rows split across
    batches — which is exactly what makes it oracle-checkable: the end
    state must equal the one-shot batch aggregate.
    """
    with tempfile.TemporaryDirectory(prefix="sg_foreachbatch_", ignore_cleanup_errors=True) as base:
        ev = load_table(spark, sf_dir, "events").select("user_id", "value")
        fold = _fold(
            base,
            lambda b: b.select(
                "user_id",
                F.lit(1).cast("long").alias("n_events"),
                F.col("value").alias("total_value"),
            ),
            lambda u: u.groupBy("user_id").agg(
                F.sum("n_events").alias("n_events"), F.sum("total_value").alias("total_value")
            ),
        )
        _drain(_stage(ev, 4, base), fold, base)
        final = _publish(spark, base, "sg_foreachbatch_pub_")
    return final.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("total_value", 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Funnel analysis: signup → first view after → first purchase after that
# ---------------------------------------------------------------------------
@register(
    "events_funnel",
    oracle="""
        WITH s AS (
          SELECT user_id, min(floor(epoch(ts::TIMESTAMP))::BIGINT) AS s_ts
          FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        v AS (
          SELECT e.user_id, min(floor(epoch(e.ts::TIMESTAMP))::BIGINT) AS v_ts
          FROM events e JOIN s ON s.user_id = e.user_id
          WHERE e.event_type = 'view' AND floor(epoch(e.ts::TIMESTAMP))::BIGINT > s.s_ts
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, min(floor(epoch(e.ts::TIMESTAMP))::BIGINT) AS p_ts
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND floor(epoch(e.ts::TIMESTAMP))::BIGINT > v.v_ts
          GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM s) AS n_signup,
               (SELECT count(*) FROM v) AS n_view_after_signup,
               (SELECT count(*) FROM p) AS n_purchase_after_view
    """,
    tags=("streaming", "funnel", "ext"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel: users who signed up, then viewed strictly
    after signing up, then purchased strictly after that view.

    Each stage is one conditional min-aggregate joined to the previous
    stage on user_id — a chain of shuffle equi-joins that AQE typically
    converts to broadcasts as the funnel narrows. Timestamps are compared
    at whole-second granularity so the µs-vs-ns parquet precision gap
    between engines can't flip a strict inequality.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", _epoch_s("ts").alias("ts_s")
    )
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("s_ts"))
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts_s") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("v_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts_s") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("p_ts"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(v.agg(F.count(F.lit(1)).alias("n_view_after_signup")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_view")))
    )


# ---------------------------------------------------------------------------
# Retention cohorts: users active N days after their first-seen day
# ---------------------------------------------------------------------------
RETENTION_OFFSETS = (0, 1, 7, 14)


@register(
    "events_retention_cohorts",
    oracle=f"""
        WITH activity AS (
          SELECT DISTINCT user_id,
                 floor(epoch(date_trunc('day', ts::TIMESTAMP)))::BIGINT AS day_s
          FROM events
        ),
        cohort AS (
          SELECT user_id, min(day_s) AS cohort_day_s FROM activity GROUP BY user_id
        )
        SELECT c.cohort_day_s,
               (a.day_s - c.cohort_day_s) // 86400 AS day_offset,
               count(DISTINCT a.user_id) AS n_active
        FROM activity a JOIN cohort c ON c.user_id = a.user_id
        WHERE (a.day_s - c.cohort_day_s) // 86400 IN ({", ".join(map(str, RETENTION_OFFSETS))})
        GROUP BY 1, 2
    """,
    tags=("streaming", "retention", "ext"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention matrix: cohort = the day a user was first seen;
    n_active = users from that cohort active again exactly 0/1/7/14 days
    later.

    Two hash aggs (distinct user-days, then per-user min) and one
    equi-join on user_id — at 100 TB both aggs are map-side combinable and
    the join co-partitions on user_id, so the whole plan is two shuffles.
    Day arithmetic is integer epoch math, portable across engines.
    """
    e = load_table(spark, sf_dir, "events")
    activity = e.select(
        "user_id", _epoch_s(F.date_trunc("day", F.col("ts"))).alias("day_s")
    ).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("day_s").alias("cohort_day_s"))
    offset = ((F.col("day_s") - F.col("cohort_day_s")) / 86400).cast("long")
    return (
        activity.join(cohort, "user_id")
        .select("user_id", F.col("cohort_day_s"), offset.alias("day_offset"))
        .filter(F.col("day_offset").isin(*RETENTION_OFFSETS))
        .groupBy("cohort_day_s", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Streaming multimodal: binaryFile stream -> real PNG decode -> label counts
# ---------------------------------------------------------------------------
@register(
    "stream_image_decode_counts",
    oracle=None,  # Structured Streaming over PNG files; rows-only check
    tags=("streaming", "multimodal", "image", "ext"),
)
def stream_image_decode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-ingest multimodal shape: a binaryFile STREAM (new
    image files appear over time) → the batch path's row map
    (`binary.map_rows`) and PNG decoder (`pngcodec.decode_gray_png`) →
    per-label aggregation, memory sink.

    One pipeline definition serves batch and streaming — the Structured
    Streaming promise — because the row map is a mapInPandas stage with
    no batch-only assumptions. At scale the file source discovers new files
    incrementally (maxFilesPerTrigger bounds per-batch work) and decode
    stays scan-local; only the tiny label-count state lives in the store.
    """
    import numpy as np
    from pyspark.sql import types as T

    from ..sources.binary import map_rows
    from ..sources.pngcodec import decode_gray_png, ensure_fixture_corpus

    bin_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def mean_px(path, buf):
        _, _, px = decode_gray_png(buf)
        yield int(path.rstrip("/").split("/")[-2]), float(np.mean(px))

    files = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .option("pathGlobFilter", "*.png")
        .option("recursiveFileLookup", "true")
        .load(ensure_fixture_corpus())
        .select("path", "content")
    )
    stream = (
        map_rows(files, "label int, mean_px double", mean_px)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_images"), F.round(F.avg("mean_px"), 4).alias("avg_px"))
    )
    return _run_to_memory(stream, spark, "stream_image_decode_counts", "complete")


# ---------------------------------------------------------------------------
# Stream-static enrichment join (batch twin + true streaming form)
# ---------------------------------------------------------------------------
@register(
    "events_enriched_by_segment",
    oracle="""
        SELECT c.c_mktsegment AS mktsegment,
               count(*) AS n_events,
               round(sum(e.value), 2) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """,
    tags=("streaming", "join", "ext"),
)
def events_enriched_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment: events joined to the
    customer dimension (broadcast) and rolled up by market segment."""
    from ..sources.catalog import load_table as _lt

    e = load_table(spark, sf_dir, "events")
    c = _lt(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "stream_static_enrich",
    oracle=None,  # Structured Streaming execution path; rows-only check
    tags=("streaming", "structured", "join"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True stream-static join — the standard streaming-enrichment shape:
    an unbounded event stream joined per micro-batch to a static
    (broadcastable) dimension table, aggregated by segment. The static
    side is planned once and re-broadcast per batch; no state store is
    involved for the join itself (unlike stream-stream joins).
    events_enriched_by_segment is the batch twin (oracle-checked)."""
    from ..sources.catalog import load_table as _lt

    c = _lt(spark, sf_dir, "customer")
    agg = (
        _stream_events(spark, sf_dir)
        .join(F.broadcast(c), F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    return _run_to_memory(agg, spark, "stream_static_enrich_sink", "complete")


@register(
    "stream_custom_source_replay",
    oracle=None,  # custom streaming source; rows-only (twin-equality tested)
    tags=("streaming", "structured", "source", "ext"),
)
def stream_custom_source_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming from a CUSTOM Python data source (streaming/
    replay_source.py): the events fixture replays through
    `spark.readStream.format("events_replay")` in deterministic
    micro-batches, aggregated per event_type — the connector-level
    exactly-once replay contract (position offsets + readBetweenOffsets)
    exercised end-to-end. tests/test_streaming_source.py pins the result
    equal to the batch groupBy twin."""
    import os

    from .replay_source import register_events_replay_source

    register_events_replay_source(spark)
    stream = (
        spark.readStream.format("events_replay")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .option("batch_rows", "2000")
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )
    return _run_to_memory(agg, spark, "stream_custom_source_replay_sink", "complete")


@register(
    "stream_custom_source_parallel",
    oracle=None,  # custom streaming source; rows-only (twin-equality + partition fan-out tested)
    tags=("streaming", "structured", "source", "ext", "scale"),
)
def stream_custom_source_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming from the PARTITION-PARALLEL custom Python data source
    (streaming/replay_source.py `EventsReplayParallelStreamReader`): the
    driver tracks event_id offsets only; each micro-batch's id range
    splits into 4 InputPartitions whose reads run on executors as pyarrow
    predicate-pushdown scans yielding Arrow RecordBatches — the scale-true
    member of the custom-source family (the `events_replay` sibling is
    the driver-served low-volume form). n_parts per event_type proves the
    fan-out actually happened; tests pin counts equal to the batch twin
    and n_parts > 1."""
    import os

    from .replay_source import register_events_replay_source

    register_events_replay_source(spark)
    # Size micro-batches to the table: a fixed 5000-row batch means ~30
    # micro-batches at sf0.1, each paying Python-datasource worker spin-up
    # (measured ~20 s total for 5 output rows). ~4 batches exercise the
    # same offset-advance + fan-out contract at any SF; the floor keeps
    # small fixtures multi-batch.
    n_events = load_table(spark, sf_dir, "events").count()
    batch_rows = max(5000, n_events // 4)
    stream = (
        spark.readStream.format("events_replay_parallel")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .option("batch_rows", str(batch_rows))
        .option("partitions", "4")
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.size(F.collect_set("part_id")).alias("n_parts"),  # streaming forbids count_distinct
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )
    return _run_to_memory(agg, spark, "stream_custom_source_parallel_sink", "complete")


# ---------------------------------------------------------------------------
# [EXT r3] Variant semi-structured path (Spark 4 parse_json / variant_get)
# ---------------------------------------------------------------------------
@register(
    "events_props_variant",
    oracle="""
        SELECT event_type,
               count(json_extract(props, '$.k')) AS n_k,
               count(DISTINCT json_extract(props, '$.k')::INTEGER) AS n_distinct_k,
               CAST(sum(json_extract(props, '$.k')::INTEGER) AS BIGINT) AS sum_k,
               min(json_extract(props, '$.k')::INTEGER) AS min_k
        FROM events
        GROUP BY event_type
    """,
    doc="Semi-structured props via the Variant type: parse_json once, typed variant_get reads.",
    tags=("streaming", "json", "variant", "ext", "scale"),
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-4-native semi-structured path: `parse_json` turns the
    props payload into a VARIANT (binary-encoded, parsed once at scan
    time) and `variant_get` does typed field reads — at 100 TB this is
    the shape that lets the engine shred/prune semi-structured columns
    instead of re-parsing JSON text per expression, which is why it exists
    alongside the from_json form (`events_props_json`).

    Scale shape: parse + extract are scan-stage; one map-side-combinable
    hash-agg on event_type (distinct expands in the same aggregate).
    """
    e = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_k"),
            F.countDistinct("k").alias("n_distinct_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r3] transformWithStateInPandas (Spark 4 arbitrary-state API)
# ---------------------------------------------------------------------------
def transform_with_state_available() -> bool:
    """transformWithState's state-server protocol speaks protobuf; this
    container ships PySpark 4.1 but NOT google.protobuf (and installs are
    off-limits), so the operator is gated, not registered — a registered
    query must run everywhere the driver runs. tests/test_streaming_source
    exercises it under `pytest.importorskip`."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The successor API to applyInPandasWithState
    (`stream_stateful_user_counters` keeps the classic, fully-runnable
    form): a StatefulProcessor with an explicit ValueState handle maintains
    per-user (n_events, total_value) across micro-batches. The handle-based
    API is what unlocks multiple named states, timers and TTL on a real
    job; gated on protobuf availability (see
    `transform_with_state_available`).

    Scale posture: state is per-key and O(1) per user (two numbers), keyed
    by the shuffle that groupBy induces — the RocksDB-backed store shards
    with the key space, so state size tracks active users, not events.
    """
    from pyspark.sql.streaming import StatefulProcessor

    class RunningTotals(StatefulProcessor):
        def init(self, handle):
            self._agg = handle.getValueState("agg", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            prev = self._agg.get() if self._agg.exists() else None
            n, total = prev if prev is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
            )

        def close(self):
            pass

    out = (
        _stream_events(spark, sf_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="Update",
            timeMode="None",
        )
    )
    return _run_to_memory(out, spark, "stream_tws_sink", "update")


# ---------------------------------------------------------------------------
# [EXT r3] time-series resample: dense hourly spine with gap flags
# ---------------------------------------------------------------------------
@register(
    "events_hourly_gapfill",
    oracle="""
        WITH bounds AS (
          SELECT date_trunc('hour', min(ts)) AS a, date_trunc('hour', max(ts)) AS b FROM events
        ),
        spine AS (SELECT unnest(generate_series(a, b, INTERVAL 1 HOUR)) AS hour FROM bounds),
        types AS (SELECT DISTINCT event_type FROM events),
        counts AS (
          SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n
          FROM events GROUP BY 1, 2
        )
        SELECT s.hour, t.event_type,
               CAST(coalesce(c.n, 0) AS BIGINT) AS n_events,
               CASE WHEN c.n IS NULL THEN 1 ELSE 0 END AS is_gap
        FROM spine s
        CROSS JOIN types t
        LEFT JOIN counts c ON c.h = s.hour AND c.event_type = t.event_type
    """,
    doc="Dense hourly (hour x event_type) grid with zero-filled gaps — the resample step before any time-series model.",
    tags=("streaming", "time", "resample", "ext"),
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling with gap materialization: a downstream forecaster (or the
    z-score monitor) needs EVERY hour present, including the ones with no
    events — absence is the signal. Build the dense (hour × type) spine
    from the observed bounds, left-join the real counts, zero-fill.

    Scale shape: the spine derives from one global min/max agg (1 row) and
    explodes to hours×types — thousands of rows per month regardless of
    event volume, so the crossJoin is bounded by calendar time, never by
    data. The only full-size pass is the counts hash-agg; the grid join is
    a broadcast of the (small) grid against the (aggregated) counts.
    """
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("a"),
        F.date_trunc("hour", F.max("ts")).alias("b"),
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("a"), F.col("b"), F.expr("interval 1 hour"))).alias("hour")
    )
    types = e.select("event_type").distinct()
    counts = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    grid = spine.crossJoin(F.broadcast(types))
    return (
        grid.join(
            counts,
            (grid.hour == counts.h) & (grid.event_type == counts.event_type),
            "left",
        )
        .select(
            grid.hour,
            grid.event_type,
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
            F.when(F.col("n").isNull(), 1).otherwise(0).alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r3] time-series linear interpolation over the dense spine
# ---------------------------------------------------------------------------
@register(
    "events_value_interpolate",
    oracle="""
        WITH bounds AS (
          SELECT date_trunc('hour', min(ts)) AS a, date_trunc('hour', max(ts)) AS b FROM events
        ),
        spine AS (SELECT unnest(generate_series(a, b, INTERVAL 1 HOUR)) AS hour FROM bounds),
        types AS (SELECT DISTINCT event_type FROM events),
        obs AS (
          -- integer-exact bases (module discipline): per-row cent-scaling is
          -- a scalar op on identical doubles, so S and n are the same exact
          -- BIGINTs on both engines; every double below derives from them
          -- via identical scalar expressions -> bit-identical, and no IEEE
          -- double can sit exactly on a .00005 boundary, so round(,4) is
          -- tie-rule-proof
          SELECT date_trunc('hour', ts) AS h, event_type,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ),
        grid AS (
          SELECT s.hour, t.event_type,
                 CAST(floor(epoch(s.hour)) / 3600 AS BIGINT) AS hx, o.s AS sv, o.n AS nn
          FROM spine s CROSS JOIN types t
          LEFT JOIN obs o ON o.h = s.hour AND o.event_type = t.event_type
        ),
        ctx AS (
          SELECT hour, event_type, hx, sv, nn,
                 last_value(sv IGNORE NULLS) OVER wp AS p_s,
                 last_value(nn IGNORE NULLS) OVER wp AS p_n,
                 max(CASE WHEN sv IS NOT NULL THEN hx END) OVER wp AS p_h,
                 first_value(sv IGNORE NULLS) OVER wn AS n_s,
                 first_value(nn IGNORE NULLS) OVER wn AS n_n,
                 min(CASE WHEN sv IS NOT NULL THEN hx END) OVER wn AS n_h
          FROM grid
          WINDOW wp AS (PARTITION BY event_type ORDER BY hx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 wn AS (PARTITION BY event_type ORDER BY hx
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        )
        SELECT hour, event_type,
               -- floor-based half-up rounding: identical IEEE ops on
               -- identical bits, so the engines cannot disagree (their
               -- native round() implementations differ near boundaries)
               floor(sv / (100.0 * nn) * 10000 + 0.5) / 10000.0 AS v_obs,
               floor((CASE
                 WHEN sv IS NOT NULL THEN sv / (100.0 * nn)
                 WHEN p_s IS NOT NULL AND n_s IS NOT NULL
                   THEN p_s / (100.0 * p_n)
                        + (n_s / (100.0 * n_n) - p_s / (100.0 * p_n))
                          * (hx - p_h) / (n_h - p_h)
                 WHEN p_s IS NOT NULL THEN p_s / (100.0 * p_n)
                 ELSE n_s / (100.0 * n_n) END) * 10000 + 0.5) / 10000.0 AS v_filled,
               CASE WHEN sv IS NULL THEN 1 ELSE 0 END AS is_interpolated
        FROM ctx
    """,
    doc="Linear interpolation of the hourly mean-value series across gap hours (edge hours forward/back fill).",
    tags=("streaming", "time", "resample", "window", "ext"),
)
def events_value_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-series sibling of `events_hourly_gapfill`: where that op
    zero-fills counts (absence is signal), a *measurement* series needs
    gaps bridged — linear interpolation between the nearest observed
    neighbors, forward/back fill at the series edges. This is the feature
    a forecaster or sensor pipeline trains on.

    Scale shape: the dense grid is calendar-bounded (hours × types); both
    context windows are per-type ordered frames over that *aggregated*
    grid, so the sort cost is hours-not-events; IGNORE-NULLS last/first
    are O(1)-per-row running values, not per-row rescans.
    """
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("a"),
        F.date_trunc("hour", F.max("ts")).alias("b"),
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("a"), F.col("b"), F.expr("interval 1 hour"))).alias("hour")
    )
    types = e.select("event_type").distinct()
    # Integer-exact bases: cent-scale per row (scalar op on identical
    # doubles -> identical BIGINTs on both engines), carry (sum, count)
    # through the windows, and derive every emitted double from those
    # integers with the same scalar expression the oracle uses. No IEEE
    # double sits exactly on a .00005 boundary, so round(,4) of identical
    # doubles is tie-rule-proof — this is what makes linear interpolation
    # hash-portable where a naive avg() fold is not.
    obs = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"), "event_type").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("sv"),
        F.count(F.lit(1)).cast("long").alias("nn"),
    )
    g = spine.crossJoin(F.broadcast(types))
    grid = (
        g.join(obs, (g.hour == obs.h) & (g.event_type == obs.event_type), "left")
        .select(
            g.hour,
            g.event_type,
            F.floor(F.unix_timestamp(g.hour) / 3600).cast("long").alias("hx"),
            "sv",
            "nn",
        )
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hx")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ctx = grid.select(
        "hour",
        "event_type",
        "hx",
        "sv",
        "nn",
        F.last("sv", ignorenulls=True).over(wp).alias("p_s"),
        F.last("nn", ignorenulls=True).over(wp).alias("p_n"),
        F.max(F.when(F.col("sv").isNotNull(), F.col("hx"))).over(wp).alias("p_h"),
        F.first("sv", ignorenulls=True).over(wn).alias("n_s"),
        F.first("nn", ignorenulls=True).over(wn).alias("n_n"),
        F.min(F.when(F.col("sv").isNotNull(), F.col("hx"))).over(wn).alias("n_h"),
    )
    v = F.col("sv") / (100.0 * F.col("nn"))
    pv = F.col("p_s") / (100.0 * F.col("p_n"))
    nv = F.col("n_s") / (100.0 * F.col("n_n"))
    filled = (
        F.when(F.col("sv").isNotNull(), v)
        .when(
            F.col("p_s").isNotNull() & F.col("n_s").isNotNull(),
            pv + (nv - pv) * (F.col("hx") - F.col("p_h")) / (F.col("n_h") - F.col("p_h")),
        )
        .when(F.col("p_s").isNotNull(), pv)
        .otherwise(nv)
    )
    def half_up_4(col):
        # explicit floor-based half-up: IEEE-identical across engines,
        # unlike native round() whose boundary behavior differs
        return F.floor(col * 10000 + 0.5) / 10000.0

    return ctx.select(
        "hour",
        "event_type",
        half_up_4(v).alias("v_obs"),
        half_up_4(filled).alias("v_filled"),
        F.when(F.col("sv").isNull(), 1).otherwise(0).alias("is_interpolated"),
    )


# ---------------------------------------------------------------------------
# [EXT r4] Observed metrics: the pipeline-health instrumentation API
# ---------------------------------------------------------------------------
@register(
    "stream_observed_metrics",
    oracle=None,  # per-batch listener telemetry; rows-only check
    tags=("streaming", "structured", "observability", "ext"),
)
def stream_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production streaming observability: ``df.observe`` attaches named
    aggregate metrics (row count, distinct-user estimate, purchase share,
    max event-time lag) to the streaming plan, and a StreamingQueryListener
    collects them per micro-batch — the mechanism real pipelines use to
    alert on throughput collapse or watermark stall WITHOUT a second query
    over the data.

    Returned rows: one per completed micro-batch with its observed metrics
    (the listener's view), so the driver check exercises the whole
    observe → QueryProgress → listener path. Metrics are computed inside
    the existing plan (map-side aggregates piggybacking on the batch),
    costing no extra scan — at 100 TB that is the difference between
    monitoring and doubling the bill.
    """
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    rows: list[tuple] = []
    done = threading.Event()

    class Collector(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            for row in event.progress.observedMetrics.values():
                rows.append(
                    (
                        int(event.progress.batchId),
                        int(row["n_rows"]),
                        int(row["n_purchases"]),
                        int(row["n_users"]),
                    )
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            done.set()

    listener = Collector()
    spark.streams.addListener(listener)
    try:
        observed = _stream_events(spark, sf_dir).observe(
            "batch_health",
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
            F.approx_count_distinct("user_id").alias("n_users"),
        )
        agg = observed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        with _stream_state_partitions(spark):
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName("stream_observed_metrics_sink")
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        done.wait(timeout=30)
    finally:
        spark.streams.removeListener(listener)
    return local_frame(
        spark,
        rows,
        "batch_id long, n_rows long, n_purchases long, n_users long",
    )


# ---------------------------------------------------------------------------
# [EXT r4] Recursive CTE calendar spine (Spark 4.1 WITH RECURSIVE)
# ---------------------------------------------------------------------------
@register(
    "recursive_calendar_daily",
    oracle="""
        WITH RECURSIVE bounds AS (
          SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS d0,
                 CAST(max(date_trunc('day', ts)) AS DATE) AS d1
          FROM events
        ),
        cal(day) AS (
          SELECT d0 FROM bounds WHERE d0 IS NOT NULL
          UNION ALL
          SELECT day + 1 FROM cal, bounds WHERE day < d1
        ),
        daily AS (
          SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1
        )
        SELECT floor(epoch(cal.day::TIMESTAMP))::BIGINT AS day_s,
               coalesce(daily.n_events, 0) AS n_events
        FROM cal LEFT JOIN daily ON daily.day = cal.day
    """,
    doc="Daily event counts over a WITH RECURSIVE calendar spine (Spark 4.1 recursive CTE) — empty days included, declarative-iteration surface.",
    tags=("streaming", "sql", "recursive", "ext"),
)
def recursive_calendar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 recursive common table expressions as a first-class
    surface: the calendar spine is generated by ``WITH RECURSIVE`` (one
    day per recursion level, UnionLoopExec in the physical plan) instead
    of ``sequence()``/``explode`` (events_hourly_gapfill's mechanism for
    the same goal) — the form that generalizes to genuinely iterative
    queries (hierarchies, chains) the array builder cannot express.

    ``MAX RECURSION LEVEL 1000`` bounds the loop explicitly (Spark's
    default cap is 100 levels). Recursion GRANULARITY is the perf knob
    (r6): UnionLoopExec runs ONE SPARK JOB PER LEVEL (plus per-level
    bookkeeping jobs — measured ~3.4 jobs/level here), so a
    one-day-per-level spine paid ~90 tiny jobs (~4 s of pure scheduling
    at sf0.1). r6 moved to one WEEK per level with a bounded
    ``sequence()`` expanding each week to days (4.0 → 1.4 s); r13 widens
    the stride to 28 DAYS per level — identical spine by construction
    (the sequence still caps at d1), 44 → 23 Spark jobs per invocation,
    and the same lesson at any scale: put unbounded iteration in the
    recursion, bounded fan-out in the row expression.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("ev_rcd")
    return spark.sql(
        """
        WITH RECURSIVE bounds AS (
          SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS d0,
                 CAST(max(date_trunc('day', ts)) AS DATE) AS d1
          FROM ev_rcd
        ),
        cal_w(wstart) MAX RECURSION LEVEL 1000 AS (
          SELECT d0 FROM bounds WHERE d0 IS NOT NULL
          UNION ALL
          SELECT date_add(wstart, 28) FROM cal_w, bounds
          WHERE date_add(wstart, 28) <= d1
        ),
        cal AS (
          SELECT explode(sequence(wstart, least(date_add(wstart, 27), d1))) AS day
          FROM cal_w, bounds
        ),
        daily AS (
          SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM ev_rcd GROUP BY 1
        )
        SELECT CAST(unix_timestamp(cal.day) AS BIGINT) AS day_s,
               coalesce(daily.n_events, CAST(0 AS BIGINT)) AS n_events
        FROM cal LEFT JOIN daily ON daily.day = cal.day
        """
    )


# ---------------------------------------------------------------------------
# [EXT r4] Checkpoint recovery: stop/restart with exactly-once resume
# ---------------------------------------------------------------------------
@register(
    "stream_checkpoint_recovery",
    oracle=None,  # two-run lifecycle over a staged source; rows-only check
    tags=("streaming", "structured", "checkpoint", "ext"),
)
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stop/restart contract production streams live by: run 1
    processes the files present, checkpoints its source offsets, and
    stops; new files land; run 2 starts FROM THE SAME CHECKPOINT and
    processes only the new files — no reprocessing, no loss (the file
    source's exactly-once guarantee, offsets in the checkpoint's offset
    log, not in the sink).

    Output: one row per run with the rows that run ingested, plus the
    total — the driver check exercises checkpoint write, query restart,
    and offset-log replay end-to-end. tests/test_streaming_source.py pins
    run2_rows == the second batch exactly and total == the full table.

    Scale: the checkpoint holds file names + watermark, KB-sized
    regardless of data volume; restart cost is reading the offset log,
    not rescanning the lake.
    """
    import os as _os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="sg_ckpt_")
    try:
        src = _os.path.join(base, "in")
        ckpt = _os.path.join(base, "ckpt")
        _os.makedirs(src)
        e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
        half1 = e.filter(F.col("event_id") % 2 == 0)
        half2 = e.filter(F.col("event_id") % 2 == 1)
        half1.coalesce(1).write.mode("overwrite").parquet(_os.path.join(src, "batch1"))

        schema = e.schema
        counts = []
        for run, stage_dir in ((1, None), (2, _os.path.join(src, "batch2"))):
            if stage_dir is not None:
                half2.coalesce(1).write.mode("overwrite").parquet(stage_dir)
            stream = (
                spark.readStream.schema(schema)
                .option("recursiveFileLookup", "true")
                .parquet(src)
                .groupBy()
                .agg(F.count(F.lit(1)).alias("n"))
            )
            name = f"sg_ckpt_sink_r{run}_{_os.getpid()}"
            with _stream_state_partitions(spark):
                q = (
                    stream.writeStream.outputMode("complete")
                    .format("memory")
                    .queryName(name)
                    .option("checkpointLocation", ckpt)
                    .start()
                )
                try:
                    q.processAllAvailable()
                    # lastProgress.numInputRows = rows THIS run actually read from
                    # the source (run 2 must show only the new file's rows).
                    progresses = q.recentProgress
                    ingested = sum(int(p["numInputRows"]) for p in progresses)
                finally:
                    q.stop()
            counts.append((run, ingested))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    total = sum(n for _, n in counts)
    rows = [(r, n, total) for r, n in counts]
    return local_frame(spark, rows, "run int, rows_ingested long, total_rows long")


# ---------------------------------------------------------------------------
# [EXT r5] Watermarked stream-stream LEFT OUTER join: null-padded rows are
# emitted only when the watermark proves no match can still arrive.
# ---------------------------------------------------------------------------
@register(
    "stream_stream_left_outer_join",
    oracle=None,  # outer-emission timing is a streaming-only semantic
    tags=("streaming", "structured", "join"),
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the semantics `stream_stream_join_
    purchase_error` (inner) cannot show: a purchase with NO error in its
    1-hour window must still emit, null-padded, but only once the
    watermark passes the window's upper bound (before that, a match could
    still arrive and the row must stay in state).

    The source is staged as TWO files per side read with
    ``maxFilesPerTrigger=1``: file 1 carries the real events, file 2 a
    single far-future sentinel whose only job is to push the watermark
    past every join window so the engine evicts state and emits the
    unmatched rows — exactly how a live pipeline drains: the watermark
    advances, not the query restarting. Sentinels are filtered out AFTER
    the watermark assignment (user_id = -1 never reaches the join).

    Scale: state size is bounded by the event-time constraint + watermark
    (rows older than watermark - 1h are evicted); the join itself hash-
    partitions both sides on user_id. tests/test_r5_new_ops.py pins
    matched == the inner join's pairs and unmatched == purchases that the
    batch twin proves have no in-window error.
    """
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="sg_ssoj_")
    try:
        purchases, errors = _stage_watermarked_sides(spark, sf_dir, base)
        joined = purchases.join(
            errors,
            (F.col("p_user") == F.col("e_user"))
            & (F.col("e_ts") >= F.col("p_ts"))
            & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
            "left_outer",
        ).select(
            "p_user",
            "p_id",
            "e_id",
            _epoch_s("p_ts").alias("purchase_ts_s"),
            _epoch_s("e_ts").alias("error_ts_s"),
        )
        out = _run_to_memory(joined, spark, "stream_ssoj_sink", "append")
        # Drop the watermark-pusher sentinels from the materialized batch
        # result (safe here: no streaming plan left to push through).
        return out.filter(F.col("p_user") >= 0)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _stage_watermarked_sides(spark: SparkSession, sf_dir: str, base: str):
    """Stage the two-sided watermark-draining file source used by the
    outer stream-stream joins: per side, one real-events file plus two
    far-future sentinel files with increasing mtimes (read with
    maxFilesPerTrigger=1) so the watermark provably passes every join
    window and the engine evicts/emits unmatched rows. Returns the
    (purchases, errors) streaming frames, both watermarked and renamed to
    the p_*/e_* join columns. Sentinels carry side-distinct NEGATIVE user
    ids; callers drop them from the materialized output."""
    import datetime as _dt
    import os
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    far = ev.agg(F.max("ts")).first()[0]
    schema = ev.schema

    def _stage_side(side_etype: tuple[str, str]) -> tuple[str, str]:
        side, etype = side_etype
        d = os.path.join(base, side)
        rows = ev.filter(F.col("event_type") == etype)
        rows.coalesce(1).write.mode("overwrite").parquet(d)

        def _touch_new(offset_s: int, seen=set()):  # noqa: B006 (per-side state)
            import glob as _g

            for p in _g.glob(os.path.join(d, "*.parquet")):
                if p not in seen:
                    seen.add(p)
                    os.utime(p, (1_700_000_000 + offset_s,) * 2)

        # TWO far-future sentinels with strictly increasing mtimes:
        # sentinel 1 pushes the watermark past every join window;
        # sentinel 2 guarantees a later batch in which that watermark
        # takes effect and evicts/emits the unmatched rows. The
        # sentinels are NOT filtered on the stream — a pre-join filter
        # gets pushed below the EventTimeWatermark node by Catalyst,
        # silencing the very rows that must advance the watermark
        # (measured: without them the final hour of purchases never
        # drains). They carry side-distinct negative user ids so they
        # cannot join each other, and are dropped from the
        # MATERIALIZED batch output below, where no pushdown exists.
        #
        # The sentinel files are written DRIVER-SIDE with pyarrow: each
        # is one literal row, and the r12 optimization pass measured the
        # previous repartition(1) Spark write jobs at ~0.4-0.7 s apiece
        # (4 jobs per staging = the bulk of staging time) for work that
        # is a few KB of parquet. Same rows, same schema
        # (timestamp[us, UTC] matches the Spark-written side file), so
        # the streamed batches are identical.
        _touch_new(0)
        uid = -1 if etype == "purchase" else -2
        for i, days in enumerate((30, 60), start=1):
            sentinel_tbl = pa.table(
                {
                    "event_id": pa.array([-1], pa.int64()),
                    "user_id": pa.array([uid], pa.int64()),
                    "event_type": pa.array([etype], pa.string()),
                    "ts": pa.array(
                        [far + _dt.timedelta(days=days)],
                        pa.timestamp("us", tz="UTC"),
                    ),
                }
            )
            pq.write_table(sentinel_tbl, os.path.join(d, f"sentinel-{i}.parquet"))
            _touch_new(i * 10)
        return side, d

    # The two sides' staging (filtered write + sentinel files) is fully
    # independent; overlap the two write jobs (guide §2.6).
    with ThreadPoolExecutor(max_workers=2) as pool:
        dirs = dict(
            pool.map(_stage_side, (("purchases", "purchase"), ("errors", "error")))
        )
    sides = {
        side: (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
            .withWatermark("ts", "10 minutes")
        )
        for side, d in dirs.items()
    }
    purchases = sides["purchases"].select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    errors = sides["errors"].select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    return purchases, errors


# ---------------------------------------------------------------------------
# [EXT r5] Watermarked stream-stream FULL OUTER join: BOTH sides'
# unmatched rows emit null-padded on watermark passage.
# ---------------------------------------------------------------------------
@register(
    "stream_stream_full_outer_join",
    oracle=None,  # outer-emission timing is a streaming-only semantic
    tags=("streaming", "structured", "join", "ext"),
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join — completes the join matrix beside
    the inner and left-outer forms: a purchase with no error in its
    1-hour window emits null-padded AND an error with no preceding
    purchase emits null-padded, each only once the watermark proves its
    match can no longer arrive. Same two-file-per-side sentinel staging
    as the left-outer form (`_stage_watermarked_sides`); both sides'
    state is watermark-evicted, so the full-outer form needs event-time
    bounds on BOTH join inputs — exactly what the interval condition
    provides.

    Scale: identical state contract to the left-outer form — rows older
    than watermark minus the window are evicted from both sides'
    stores; the join hash-partitions on user_id. tests/test_r5_new_ops.py
    pins matched == the inner pairs and each side's null-padded rows ==
    the batch twin's matchless sets.
    """
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="sg_ssfo_")
    try:
        purchases, errors = _stage_watermarked_sides(spark, sf_dir, base)
        joined = purchases.join(
            errors,
            (F.col("p_user") == F.col("e_user"))
            & (F.col("e_ts") >= F.col("p_ts"))
            & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
            "full_outer",
        ).select(
            "p_user",
            "e_user",
            "p_id",
            "e_id",
            _epoch_s("p_ts").alias("purchase_ts_s"),
            _epoch_s("e_ts").alias("error_ts_s"),
        )
        out = _run_to_memory(joined, spark, "stream_ssfo_sink", "append")
        # Drop the watermark-pusher sentinels (side-distinct negative user
        # ids) from the materialized batch result; in a full outer they
        # surface as one null-padded row per sentinel per side.
        return out.filter(
            (F.col("p_user").isNull() | (F.col("p_user") >= 0))
            & (F.col("e_user").isNull() | (F.col("e_user") >= 0))
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# [EXT r5] Null-safe join: the missing-dimension bucket survives the join
# ---------------------------------------------------------------------------
@register(
    "nullsafe_bucket_join",
    oracle="""
        WITH typed AS (
          SELECT CASE WHEN json_extract(props, '$.k')::INTEGER < 10 THEN NULL
                      ELSE json_extract(props, '$.k')::INTEGER // 10 END AS k_decile,
                 event_type, value
          FROM events
        ),
        clicks AS (
          SELECT k_decile, CAST(count(*) AS BIGINT) AS n_clicks
          FROM typed WHERE event_type = 'click' GROUP BY k_decile
        ),
        buys AS (
          SELECT k_decile,
                 CAST(count(*) AS BIGINT) AS n_buys,
                 CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
          FROM typed WHERE event_type = 'purchase' GROUP BY k_decile
        )
        SELECT coalesce(c.k_decile, b.k_decile) AS k_decile_joined,
               (c.k_decile IS NULL AND b.k_decile IS NULL)
                 AND (c.n_clicks IS NOT NULL OR b.n_buys IS NOT NULL)
                 AS is_null_bucket,
               c.n_clicks, b.n_buys, b.revenue_cents
        FROM clicks c
        FULL OUTER JOIN buys b ON c.k_decile IS NOT DISTINCT FROM b.k_decile
    """,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): the NULL 'unknown bucket' rows from both sides pair up as ONE row instead of producing two dangling outer rows — the missing-dimension reconciliation shape.",
    tags=("streaming", "join", "ext"),
)
def nullsafe_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join on NULL-SAFE equality (`eqNullSafe` / SQL `<=>`):
    events whose prop bucket is out of range map to a NULL "unknown"
    bucket, and the click-side and purchase-side NULL buckets must
    reconcile into ONE joined row. Plain `=` can never do this — NULL = NULL
    is NULL, so both NULL groups would dangle as separate outer rows; the
    null-safe operator is the semantic the reconciliation report needs.
    `is_null_bucket` pins which row carried the merged unknown bucket so
    the hash check proves the pairing, and revenue accumulates
    integer-exact cents (the cross-engine FP discipline).

    Scale: both sides are pre-aggregated to ≤11 bucket rows before the
    join — the join itself is trivial; the pattern's cost is the two
    partial-agg scans. Spark hashes `<=>` keys like ordinary keys (NULL
    gets a hash bucket), so the null-safe join shuffles and broadcasts
    exactly like an equi-join — no nested-loop penalty.
    """
    from pyspark.sql import types as T

    k = F.from_json("props", T.StructType([T.StructField("k", T.IntegerType())]))["k"]
    typed = load_table(spark, sf_dir, "events").select(
        F.when(k < 10, F.lit(None).cast("int")).otherwise(F.floor(k / 10).cast("int")).alias(
            "k_decile"
        ),
        "event_type",
        "value",
    )
    clicks = (
        typed.filter(F.col("event_type") == "click")
        .groupBy("k_decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clicks"))
    )
    buys = (
        typed.filter(F.col("event_type") == "purchase")
        .groupBy("k_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buys"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).cast("long").alias(
                "revenue_cents"
            ),
        )
    )
    c, b = clicks.alias("c"), buys.alias("b")
    return c.join(b, F.col("c.k_decile").eqNullSafe(F.col("b.k_decile")), "full_outer").select(
        F.coalesce(F.col("c.k_decile"), F.col("b.k_decile")).alias("k_decile_joined"),
        (
            F.col("c.k_decile").isNull()
            & F.col("b.k_decile").isNull()
            & (F.col("c.n_clicks").isNotNull() | F.col("b.n_buys").isNotNull())
        ).alias("is_null_bucket"),
        "c.n_clicks",
        "b.n_buys",
        "b.revenue_cents",
    )


# ---------------------------------------------------------------------------
# [EXT r5] LOCF forward fill: last purchase value carried to every event
# ---------------------------------------------------------------------------
@register(
    "locf_forward_fill",
    oracle="""
        SELECT event_id, user_id,
               floor(epoch(ts::TIMESTAMP))::BIGINT AS ts_s,
               last_value(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS last_purchase_value
        FROM events
    """,
    doc="LOCF (last-observation-carried-forward) via last_value IGNORE NULLS over an unbounded-preceding frame: the step-function fill, complementing the linear interpolation in events_value_interpolate.",
    tags=("streaming", "window", "timeseries", "ext"),
)
def locf_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF): every event carries its user's most recent
    PURCHASE value — NULL until the first purchase, then a step function.
    `last_value(..., ignorenulls=True)` over an unbounded-preceding frame
    is the canonical spelling; the (ts, event_id) ordering makes the fill
    deterministic under timestamp ties. The carried values are untouched
    doubles (no arithmetic), so cross-engine parity needs no rounding
    discipline — this is the step-function complement of the LINEAR fill
    in `events_value_interpolate`.

    Scale: one window shuffle on user_id; the running frame is computed
    in a single per-partition pass (Spark keeps only the last non-null
    seen, not the frame's rows). Sparse observations over a huge event
    stream is exactly the telemetry/feature-store shape this serves.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        _epoch_s(F.col("ts")).alias("ts_s"),
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")), ignorenulls=True
        )
        .over(w)
        .alias("last_purchase_value"),
    )


# ---------------------------------------------------------------------------
# [EXT r6] Built-in session_window as a BATCH aggregation, hash-checked.
# ---------------------------------------------------------------------------
@register(
    "events_session_window_builtin",
    oracle=f"""
        WITH o AS (
          SELECT user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM events
        ),
        flagged AS (
          -- microsecond-integer gap: epoch_us avoids the /1e6 double
          -- division that could drift on the exact-boundary comparison.
          -- Split on gap STRICTLY GREATER than the timeout: probed
          -- empirically (tests/test_r6_new_ops.py), an event at exactly
          -- prev_ts + gap still MERGES into the session.
          SELECT user_id, ts,
                 CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts)
                          > {SESSION_GAP_MIN}::BIGINT * 60 * 1000000
                      THEN 1 ELSE 0 END AS new_session
          FROM o
        ),
        s AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM flagged
        )
        SELECT user_id,
               floor(epoch(min(ts)))::BIGINT AS session_start_s,
               CAST(count(*) AS BIGINT) AS n_events,
               floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT
                 AS span_s
        FROM s GROUP BY user_id, session_seq
    """,
    doc="F.session_window as a batch aggregation, hash-checked against the lag/gap-island SQL — pins Spark's session-merge semantics (a gap of exactly the timeout still MERGES; split is strictly greater).",
    tags=("streaming", "window", "events", "ext"),
)
def events_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`F.session_window(ts, gap)` in a BATCH groupBy — the same built-in
    the streaming form (`stream_session_counts`) uses, but here its exact
    merge semantics are cross-checked against the lag/gap-island
    formulation (`events_sessionized`): an event arriving at EXACTLY
    prev_ts + gap still MERGES into the running session (probed
    empirically and pinned in tests/test_r6_new_ops.py — the naive
    '[start, end)' reading would predict a split), so the oracle's split
    condition is `gap > timeout`, the same boundary as the hand-rolled
    sessionizer. That off-by-an-instant question is exactly the kind of
    semantic drift a hash check exists to settle.

    Scale: one shuffle on user_id; Spark merges session windows inside
    the aggregate (MergingSessionsExec) — no window-function sort pass,
    which is why the built-in is preferred at 100 TB over the lag/cumsum
    form (two window sorts).
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            _epoch_s(F.min("ts")).alias("session_start_s"),
            (_epoch_s(F.max("ts")) - _epoch_s(F.min("ts"))).alias("span_s"),
        )
        .select("user_id", "session_start_s", "n_events", "span_s")
    )


# ---------------------------------------------------------------------------
# [EXT r6] Timezone semantics: UTC events bucketed by local wall-clock hour
# ---------------------------------------------------------------------------
EVENTS_TZ = "America/New_York"


@register(
    "events_local_hour_histogram",
    oracle=f"""
        SELECT CAST(extract(hour FROM
                 timezone('{EVENTS_TZ}', timezone('UTC', ts))) AS BIGINT)
                 AS local_hour,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        GROUP BY 1
    """,
    doc="Timezone-correct local-hour histogram: stored-as-UTC timestamps converted through the IANA zone on both engines — the cross-engine divergence trap every time-bucketed report walks into.",
    tags=("events", "window", "ext"),
)
def events_local_hour_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity histogram by LOCAL wall-clock hour: the stored timestamps
    are UTC instants; analysis wants '{EVENTS_TZ}' hours (daily-rhythm
    features, peak-load reports). Both engines resolve the conversion
    through IANA tzdata — Spark `from_utc_timestamp`, DuckDB
    `timezone(zone, timezone('UTC', ts))` — so the hash check pins that
    the two tz databases and conversion semantics agree, including
    across DST transitions (integer hour + counts: no FP anywhere).

    Scale: a per-row JVM expression + one 24-group partial agg; the
    distinct-user count is the only shuffle-widening term (exact
    two-level distinct; swap for approx_count_distinct or the HLL rollup
    when users no longer hash-fit).
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            F.hour(F.from_utc_timestamp("ts", EVENTS_TZ)).cast("long").alias(
                "local_hour"
            ),
            "user_id",
        )
        .groupBy("local_hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r6] Last-touch conversion attribution
# ---------------------------------------------------------------------------
ATTR_WINDOW_S = 3600  # a click attributes a purchase within 1 hour


@register(
    "attribution_last_touch",
    oracle=f"""
        WITH tagged AS (
          SELECT user_id, event_type, ts, event_id,
                 max(CASE WHEN event_type = 'click' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_click_ts
          FROM events WHERE event_type IN ('click', 'purchase')
        )
        SELECT CASE WHEN last_click_ts IS NOT NULL
                     AND epoch_us(ts) - epoch_us(last_click_ts)
                         <= {ATTR_WINDOW_S}::BIGINT * 1000000
                    THEN 'click_attributed' ELSE 'organic' END AS attribution,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM tagged WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    doc="Last-touch attribution: each purchase attributed to the user's most recent prior click within 1 h (conditional running max over event time), else organic — the marketing-analytics join-free formulation.",
    tags=("events", "window", "ext"),
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion attribution without a self-join: one pass over the
    user's click/purchase timeline carrying the most recent click
    timestamp as a conditional running max (ROWS … 1 PRECEDING keeps a
    purchase from attributing to a simultaneous click), then each
    purchase classifies as click-attributed (≤ {ATTR_WINDOW_S}s gap,
    microsecond-integer comparison) or organic.

    The naive formulation is a range self-join (purchases × clicks
    within the window) followed by a per-purchase argmax — two shuffles
    and a fan-out that explodes with click density. The running-max
    window is one shuffle on user_id, O(1) state per row, and no
    intermediate pair blowup — the same plan at any click volume.

    Scale: single user_id-partitioned window + a 2-group agg. The
    distinct-user count is exact two-level; everything else is
    map-side-combinable.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    purchases = (
        e.withColumn("last_click_ts", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("last_click_ts").isNotNull()
                & (
                    F.unix_micros("ts") - F.unix_micros("last_click_ts")
                    <= ATTR_WINDOW_S * 1_000_000
                ),
                F.lit("click_attributed"),
            )
            .otherwise(F.lit("organic"))
            .alias("attribution"),
            "user_id",
        )
    )
    return purchases.groupBy("attribution").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "stream_attribution_last_touch",
    oracle=None,  # Structured Streaming execution path; batch-twin pinned
    tags=("streaming", "structured", "stateful", "ext"),
)
def stream_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of `attribution_last_touch`: a per-user
    applyInPandasWithState processor carries the LAST CLICK TIMESTAMP
    (microseconds) plus running attributed/organic purchase counts across
    micro-batches, classifying each purchase against the 1-hour window as
    it arrives. Within a micro-batch the group sorts by (ts, event_id) —
    the same deterministic order as the batch window — and the carried
    state makes cross-batch attribution exact for event-time-ordered
    replay (the backfill shape; out-of-order production traffic would
    move this to transformWithState with event-time timers, env-gated
    elsewhere).

    Counts are monotone nondecreasing, so the final per-user truth is the
    max over the update-mode emissions (pinned equal to the batch
    formulation in tests/test_r6_new_ops.py).

    Scale: state is 3 numbers per user; each micro-batch shuffles only on
    user_id — the standard keyed-state sizing story.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    window_us = ATTR_WINDOW_S * 1_000_000

    def attribute(key, pdfs, state):
        import pandas as pd

        last_click, attributed, organic = (
            state.get if state.exists else (-1, 0, 0)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
        for _, row in batch.iterrows():
            ts_us = int(row["ts"].value) // 1000  # pandas ns -> micros
            if row["event_type"] == "click":
                last_click = ts_us
            elif row["event_type"] == "purchase":
                if last_click >= 0 and ts_us - last_click <= window_us:
                    attributed += 1
                else:
                    organic += 1
        state.update((last_click, attributed, organic))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_attributed": [attributed],
                "n_organic": [organic],
            }
        )

    out = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .applyInPandasWithState(
            attribute,
            outputStructType="user_id long, n_attributed long, n_organic long",
            stateStructType="last_click long, attributed long, organic long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(out, spark, "stream_attribution_sink", "update")


# ---------------------------------------------------------------------------
# [EXT r6] Rate-limited backfill: maxFilesPerTrigger bounded micro-batches
# ---------------------------------------------------------------------------
BACKFILL_FILES = 6  # the staged backlog is split into this many files


@register(
    "stream_rate_limited_backfill",
    oracle=None,  # micro-batch lifecycle over a staged source; batch-count pinned
    tags=("streaming", "structured", "ext"),
)
def stream_rate_limited_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory backfill: a {BACKFILL_FILES}-file backlog replayed
    with ``maxFilesPerTrigger=1``, so the engine admits ONE file per
    micro-batch instead of swallowing the whole backlog in batch zero —
    the admission-control knob that keeps state stores and shuffle
    buffers sized to a batch, not to the backlog, when a stream is
    restarted after days of downtime. foreachBatch records each batch's
    row count; the output pins batches == files and total == table.

    Scale: at 100 TB of backlog this is THE difference between a
    restartable pipeline and an OOM loop; the same knob throttles initial
    snapshots (maxBytesPerTrigger for size-skewed files).
    """
    with tempfile.TemporaryDirectory(prefix="sg_backfill_", ignore_cleanup_errors=True) as base:
        e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
        source = _stage(e, BACKFILL_FILES, base)
        staged = os.listdir(os.path.join(base, "staging"))
        n_files = len([f for f in staged if f.endswith(".parquet")])
        batches: list[int] = []
        _drain(source, lambda df, _batch_id: batches.append(df.count()), base)
    return local_frame(
        spark,
        [(len(batches), n_files, sum(batches), max(batches, default=0))],
        "n_batches long, n_files long, total_rows long, max_batch_rows long",
    )


# ---------------------------------------------------------------------------
# [EXT r7] Exactly-once foreachBatch MERGE under crash + restart: batch-id
# idempotence ledger survives a failure injected AFTER the sink commit.
# ---------------------------------------------------------------------------
@register(
    "stream_exactly_once_merge_restart",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS total_value_cents
        FROM events
        GROUP BY user_id
    """,
    doc="foreachBatch MERGE sink with a committed-batch-id ledger, crashed deliberately AFTER a commit and restarted from the checkpoint: the replayed batch is detected and skipped, so the end state is hash-identical to the one-shot batch aggregate — exactly-once on top of at-least-once delivery.",
    tags=("streaming", "structured", "sink", "checkpoint", "ext", "scale"),
)
def stream_exactly_once_merge_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production lakehouse-ingest contract `stream_foreachbatch_merge`
    demonstrates and `stream_checkpoint_recovery` half-proves, composed and
    proven under the failure that actually matters: a crash in the window
    AFTER the sink commit and BEFORE the checkpoint commit. Structured
    Streaming then REPLAYS that epoch with the same batch_id on restart
    (at-least-once delivery); a sink that is not batch-id idempotent
    applies it twice and silently double-counts.

    Mechanics (the Delta/Iceberg `txnAppId`/`txnVersion` pattern, built on
    parquet + a ledger file — `_fold`'s pointer):
    - events staged as 6 files → 6 real micro-batches;
    - each batch MERGEs its (user_id, 1, cents) rows with the target in
      one aggregate into a new versioned target dir, then atomically
      publishes pointer + committed-batch-id ledger (os.replace);
    - a fault is INJECTED after the 3rd commit of run 1: the foreachBatch
      body raises, the query dies mid-stream, the checkpoint has NOT
      recorded that epoch;
    - run 2 restarts from the same checkpoint; Spark redelivers the
      crashed batch with the SAME batch_id; the ledger says "already
      committed" and the merge SKIPS it (idempotence), then processes the
      remaining batches.

    The query returns the final target table; the registered ORACLE is the
    one-shot batch aggregate — a hash match IS the exactly-once proof,
    because a double-applied batch inflates counts and sums. The replay
    must actually happen: if run 2 skips nothing, this raises (the
    rehearsal would otherwise be vacuous — same discipline as the WAP
    gates). Value sums are cent-scaled BIGINTs so the hash cannot split on
    FP accumulation order.

    Scale: per-batch work is one map-side-combinable aggregate over that
    batch's rows and the keyed target (the incremental_agg_maintenance
    shape); the ledger is O(batches) bytes.
    Reference ancestry: the epoch/reset training loop
    (PredictCommentsUsingRNNAndWord2Vec.java:82-85) re-reads its corpus
    per epoch; this is the restartable exactly-once form of that loop.
    """
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with tempfile.TemporaryDirectory(prefix="sg_eo_merge_", ignore_cleanup_errors=True) as base:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents")
        )
        fold = _fold(
            base,
            lambda b: b.select(
                "user_id",
                F.lit(1).cast("long").alias("n_events"),
                F.col("cents").alias("total_value_cents"),
            ),
            lambda u: u.groupBy("user_id").agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("total_value_cents").cast("long").alias("total_value_cents"),
            ),
        )
        commits: list[int] = []
        skipped_replays: list[int] = []

        def crash_after_third_commit(batch_df: DataFrame, batch_id: int) -> None:
            if not fold(batch_df, batch_id):
                # Redelivered epoch (crash happened after this id's commit):
                # exactly-once = commit-once, so this application is a no-op.
                skipped_replays.append(batch_id)
                return
            commits.append(batch_id)
            if len(commits) == 3:
                # Exactly-one-line sentinel for bench.py's ERROR excusal budget:
                # the raise message below gets echoed several times by Spark's
                # logging (ERROR line + traceback), so counting IT over-excuses;
                # this sentinel prints once per actual injection.
                print("SPARK_GRAFT_INJECTED_CRASH", file=sys.stderr, flush=True)
                raise RuntimeError("injected crash AFTER sink commit, BEFORE checkpoint")

        source = _stage(ev, 6, base)
        for attempt in (1, 2):
            try:
                _drain(source, crash_after_third_commit, base)
            except StreamingQueryException:
                if attempt == 2:  # only the injected fault is expected
                    raise

        if not skipped_replays:
            raise RuntimeError(
                "exactly-once rehearsal vacuous: restart did not redeliver the "
                "crashed batch (no ledger skip recorded)"
            )
        final = _publish(spark, base, "sg_eo_merge_pub_")
    return final.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_value_cents").cast("long").alias("total_value_cents"),
    )


# ---------------------------------------------------------------------------
# [EXT r7] Streaming KMV distinct sketch: bottom-k state merged per
# micro-batch — mergeability makes the STREAMING estimate hash-equal to
# the batch formula, so this streaming op has a real SQL oracle.
# ---------------------------------------------------------------------------
from ..operators.incremental import KMV_A as _KMV_A
from ..operators.incremental import KMV_C as _KMV_C
from ..operators.incremental import KMV_K as _KMV_K
from ..operators.incremental import QSK_P as _QSK_P


@register(
    "stream_kmv_distinct_running",
    oracle=f"""
        WITH hashed AS (
          SELECT DISTINCT user_id,
                 ((user_id % {_QSK_P}) * {_KMV_A} + {_KMV_C}) % {_QSK_P} AS hkey
          FROM events
        ),
        kept AS (
          SELECT user_id, hkey FROM hashed ORDER BY hkey LIMIT {_KMV_K}
        ),
        kth AS (
          SELECT max(hkey) AS kth_hkey, CAST(count(*) AS BIGINT) AS k_eff FROM kept
        )
        SELECT k_eff,
               CASE WHEN k_eff < {_KMV_K} THEN k_eff
                    ELSE CAST(floor((k_eff - 1) * {_QSK_P}.0 / kth_hkey + 0.5)
                              AS BIGINT) END AS est_distinct
        FROM kth
    """,
    doc="Running distinct-user KMV sketch maintained under Structured Streaming (bottom-128 state unioned + re-truncated per micro-batch): because bottom-k is exactly mergeable, the stream's final estimate equals the batch formula — a streaming operator with a hash oracle.",
    tags=("streaming", "structured", "sketch", "ext", "scale"),
)
def stream_kmv_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming face of `kmv_user_overlap_sketch`: a live dashboard's
    distinct-user counter that never stores the user set. Each micro-batch
    unions its user hashes with the persisted sketch state, dedups and
    re-truncates to k — the KMV merge, which is
    ASSOCIATIVE and idempotent, so the final state is independent of how
    rows split across batches and equals the batch-computed sketch
    (hash-checked by the oracle; contrast the HLL rollup, whose binary
    sketches are engine-private and rows-only).

    State is O(k) rows in a versioned parquet dir (the same poor-man's
    ACID pointer as the merge sinks); per-batch work is one dedup
    aggregate over the batch's hashes and the k-row state. An unbounded
    firehose costs each batch only its own scan.
    """
    with tempfile.TemporaryDirectory(prefix="sg_kmv_stream_", ignore_cleanup_errors=True) as base:
        ev = load_table(spark, sf_dir, "events").select("user_id")
        fold = _fold(
            base,
            lambda b: b.select(
                "user_id",
                F.pmod(F.pmod(F.col("user_id"), _QSK_P) * _KMV_A + _KMV_C, _QSK_P).alias("hkey"),
            ),
            lambda u: u.distinct().orderBy("hkey").limit(_KMV_K),
        )
        _drain(_stage(ev, 4, base), fold, base)
        sk = _publish(spark, base, "sg_kmv_pub_")
    kth = sk.agg(
        F.max("hkey").alias("kth_hkey"),
        F.count(F.lit(1)).cast("long").alias("k_eff"),
    )
    return kth.select(
        "k_eff",
        F.when(F.col("k_eff") < _KMV_K, F.col("k_eff"))
        .otherwise(
            F.floor((F.col("k_eff") - 1) * float(_QSK_P) / F.col("kth_hkey") + 0.5).cast("long")
        )
        .cast("long")
        .alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# [EXT r7] Sessionization with TERMINATOR events: a session ends on a
# 30-min gap OR a 'purchase' (conversion closes the session) — the custom
# boundary predicate the built-in session_window cannot express.
# ---------------------------------------------------------------------------
TERM_GAP_S = 1800


@register(
    "sessionize_with_terminators",
    oracle=f"""
        WITH seq AS (
          SELECT user_id, event_id, event_type,
                 CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) AS t,
                 lag(CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT))
                   OVER w AS prev_t,
                 lag(event_type) OVER w AS prev_type
          FROM events
          -- ONE ordering key everywhere: Spark's windows order by the
          -- whole-second t, so this window must too — ordering by raw
          -- microsecond ts would diverge whenever two same-second events'
          -- event_id order disagrees with their ts order (r7 advisor).
          WINDOW w AS (PARTITION BY user_id
                       ORDER BY CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT),
                                event_id)
        ),
        marked AS (
          SELECT *, CASE WHEN prev_t IS NULL
                           OR t - prev_t > {TERM_GAP_S}
                           OR prev_type = 'purchase'
                         THEN 1 ELSE 0 END AS is_start
          FROM seq
        ),
        sess AS (
          SELECT *, CAST(sum(is_start) OVER (PARTITION BY user_id
                                             ORDER BY t, event_id) AS BIGINT)
                      AS session_seq
          FROM marked
        )
        SELECT user_id, session_seq,
               CAST(count(*) AS BIGINT) AS n_events,
               min(t) AS start_s, max(t) AS end_s,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
                 AS converted
        FROM sess GROUP BY user_id, session_seq
    """,
    doc="Sessionization with a custom boundary predicate (30-min gap OR previous event was a purchase): the semantics session_window cannot express, composed from lag + running-sum windows — one shuffle, hash-exact.",
    tags=("streaming", "window", "events", "session", "ext", "scale"),
)
def sessionize_with_terminators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-analytics sessionization with a TERMINATOR rule: checkout
    (`purchase`) closes the session even when the next event follows
    within the gap — the standard conversion-funnel definition. Spark's
    built-in `session_window` (registered as
    `events_session_window_builtin`) supports gap-only boundaries
    (including dynamic per-row gaps) but cannot consult the PREVIOUS
    event's type, so this is composed from first principles:

    lag() exposes the previous event; a boundary flag marks session
    starts (first event, gap exceeded, or predecessor was a terminator);
    the running sum of flags IS the session id — the classic
    gaps-and-islands assignment. Every window in BOTH engines orders by
    the same key, (whole-second t, event_id) — a total order, since
    event_id is unique.

    Scale: one hash shuffle on user_id, then two partition-local windows
    with O(1) state per row; per-session aggregation is map-side
    combinable on (user, session_seq). No session-length-bounded state,
    no re-scan — the same shape at 10^3 or 10^12 events.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_timestamp("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    seq = e.select(
        "user_id",
        "event_id",
        "event_type",
        "t",
        F.lag("t").over(w).alias("prev_t"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    marked = seq.withColumn(
        "is_start",
        F.when(
            F.col("prev_t").isNull()
            | (F.col("t") - F.col("prev_t") > TERM_GAP_S)
            | (F.col("prev_type") == "purchase"),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_seq", F.sum("is_start").over(w).cast("long")
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("t").alias("start_s"),
        F.max("t").alias("end_s"),
        (F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) == 1).alias(
            "converted"
        ),
    )


# ---------------------------------------------------------------------------
# [EXT r7] Markov transition matrix over event types — the behavioral
# model behind next-action prediction and anomaly scoring.
# ---------------------------------------------------------------------------
MKV_SCALE = 1_000_000


@register(
    "markov_event_transitions",
    oracle=f"""
        WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS next_type
          FROM events
        ),
        pairs AS (
          SELECT event_type AS from_type, next_type AS to_type,
                 CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE next_type IS NOT NULL
          GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               floor(n * {MKV_SCALE}.0
                     / sum(n) OVER (PARTITION BY from_type) + 0.5)
                 / {MKV_SCALE} AS p
        FROM pairs
    """,
    doc="First-order Markov transition matrix over per-user event streams: P(next type | current type) from lead() pairs — integer counts, one half-up-quantized division, hash-exact.",
    tags=("streaming", "events", "ml", "ext", "scale"),
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The behavioral transition model product analytics builds before
    anything fancier: P(next event type | current), estimated from
    adjacent pairs in each user's (ts, event_id)-ordered stream. Feeds
    next-action prediction, Markov-chain attribution (the probabilistic
    upgrade of `attribution_last_touch`), and sequence-anomaly scoring
    (a session whose transitions are improbable under this matrix).

    Exactness: transition counts are integers; each probability is ONE
    division of identical doubles, half-up-quantized to 1e-6.

    Scale: one shuffle on user_id, a partition-local lead() window, then
    a |types|²-bounded aggregate — the matrix is KB-sized at any corpus
    size, the classic bounded-output/unbounded-input shape.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_from = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        (
            F.floor(F.col("n") * float(MKV_SCALE) / F.sum("n").over(w_from) + 0.5)
            / MKV_SCALE
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# [EXT r7] Funnel stage-transition durations: exact p50/p90 seconds between
# funnel stages — the "how long does conversion take" half of events_funnel.
# ---------------------------------------------------------------------------
@register(
    "funnel_stage_durations",
    oracle="""
        WITH s AS (
          SELECT user_id, min(floor(epoch(ts::TIMESTAMP))::BIGINT) AS s_ts
          FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        v AS (
          SELECT e.user_id, min(floor(epoch(e.ts::TIMESTAMP))::BIGINT) AS v_ts
          FROM events e JOIN s ON s.user_id = e.user_id
          WHERE e.event_type = 'view'
            AND floor(epoch(e.ts::TIMESTAMP))::BIGINT > s.s_ts
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, min(floor(epoch(e.ts::TIMESTAMP))::BIGINT) AS p_ts
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'purchase'
            AND floor(epoch(e.ts::TIMESTAMP))::BIGINT > v.v_ts
          GROUP BY e.user_id
        ),
        durs AS (
          SELECT 'signup_to_view' AS stage, v.v_ts - s.s_ts AS secs
          FROM v JOIN s ON s.user_id = v.user_id
          UNION ALL
          SELECT 'view_to_purchase', p.p_ts - v.v_ts
          FROM p JOIN v ON v.user_id = p.user_id
        )
        SELECT stage,
               CAST(count(*) AS BIGINT) AS n_users,
               round(quantile_cont(secs, 0.5), 2) AS p50_secs,
               round(quantile_cont(secs, 0.9), 2) AS p90_secs
        FROM durs GROUP BY stage
    """,
    doc="Exact p50/p90 seconds between funnel stages (signup->first later view, view->first later purchase) — the latency half of events_funnel's counts; whole-second epochs, exact interpolated percentiles.",
    tags=("streaming", "funnel", "quantile", "ext", "scale"),
)
def funnel_stage_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_funnel answers WHO converts; this answers HOW LONG each hop
    takes — the product metric that decides where the funnel leaks. Same
    stage semantics (strictly-later first event of the next type, whole-
    second epochs so parquet timestamp-unit drift can't flip a strict
    inequality), then per-user durations aggregated to exact interpolated
    p50/p90 (Spark percentile == DuckDB quantile_cont, the
    quantile_order_prices parity).

    Scale: three conditional min-aggregates chained on user_id (AQE
    broadcasts as the funnel narrows), then a two-row-per-user duration
    table — the percentile runs on |converted users|, not |events|; at
    extreme scale the narrowing or sketch quantile families substitute.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", _epoch_s("ts").alias("ts_s")
    )
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("s_ts"))
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts_s") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("v_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts_s") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_s").alias("p_ts"))
    )
    d1 = v.join(s, "user_id").select(
        F.lit("signup_to_view").alias("stage"),
        (F.col("v_ts") - F.col("s_ts")).alias("secs"),
    )
    d2 = p.join(v, "user_id").select(
        F.lit("view_to_purchase").alias("stage"),
        (F.col("p_ts") - F.col("v_ts")).alias("secs"),
    )
    return (
        d1.unionByName(d2)
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.percentile("secs", F.lit(0.5)), 2).alias("p50_secs"),
            F.round(F.percentile("secs", F.lit(0.9)), 2).alias("p90_secs"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT r7] A/B experiment readout: portable-hash assignment + conversion
# lift + pooled two-proportion z statistic — the experimentation primitive.
# ---------------------------------------------------------------------------
AB_P = 2_147_483_647
AB_A = 1_226_874_159  # Fishman-Moore multiplier (see operators/setops.py)
AB_C = 99
AB_MID = 1_073_741_823  # floor(P/2): top-bit split, robust for Weyl streams


@register(
    "ab_test_lift_ztest",
    oracle=f"""
        WITH assigned AS (
          SELECT DISTINCT user_id,
                 CASE WHEN ((user_id % {AB_P}) * {AB_A} + {AB_C}) % {AB_P}
                           <= {AB_MID}
                      THEN 'A' ELSE 'B' END AS arm
          FROM events
        ),
        conv AS (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        ),
        per_arm AS (
          SELECT a.arm,
                 CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_converted
          FROM assigned a LEFT JOIN conv c ON c.user_id = a.user_id
          GROUP BY a.arm
        ),
        wide AS (
          SELECT max(CASE WHEN arm = 'A' THEN n_users END) AS na,
                 max(CASE WHEN arm = 'A' THEN n_converted END) AS ca,
                 max(CASE WHEN arm = 'B' THEN n_users END) AS nb,
                 max(CASE WHEN arm = 'B' THEN n_converted END) AS cb
          FROM per_arm
        )
        SELECT na, ca, nb, cb,
               floor((cb * 1.0 / nb - ca * 1.0 / na) * 1000000 + 0.5) / 1000000
                 AS lift,
               CASE WHEN (ca + cb) IN (0, na + nb) THEN NULL
                    ELSE floor((cb * 1.0 / nb - ca * 1.0 / na)
                         / sqrt((ca + cb) * 1.0 / (na + nb)
                                * (1 - (ca + cb) * 1.0 / (na + nb))
                                * (1.0 / na + 1.0 / nb)) * 10000 + 0.5) / 10000
               END AS z_stat
        FROM wide
    """,
    doc="A/B experiment readout: deterministic top-bit hash assignment of users to arms, per-arm conversion (>=1 purchase), absolute lift and the pooled two-proportion z statistic — every step integer counts + one arithmetic chain on identical doubles, hash-exact.",
    tags=("events", "quality", "experiment", "ext", "scale"),
)
def ab_test_lift_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimentation primitive: assign every user to arm A or B by a
    pure function of their id (the production property — assignment is
    reproducible at analysis time, never stored), measure conversion per
    arm, report lift and the pooled two-proportion z statistic an
    experiment readout gates launches on.

    Assignment uses the TOP BIT of the Lehmer hash (h <= P/2), not h % 2:
    for an affine map the low bit correlates with key parity at low wrap
    counts, while the top bit cuts the Weyl orbit in half — the same
    class of trap as the r7 small-multiplier lesson.

    Exactness: user/conversion counts are integers from distinct
    aggregates; lift and z are one arithmetic chain (divide/sqrt — both
    IEEE-exactly-rounded) on identical doubles, half-up-quantized.

    Scale: two distinct-aggregates over the event stream (map-side
    combinable) + a 2-row pivot; the readout is O(1) rows at any scale.
    """
    e = load_table(spark, sf_dir, "events")
    h = F.pmod(F.pmod(F.col("user_id"), AB_P) * AB_A + AB_C, AB_P)
    assigned = (
        e.select("user_id")
        .distinct()
        .withColumn("arm", F.when(h <= AB_MID, "A").otherwise("B"))
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    per_arm = (
        assigned.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.coalesce("converted", F.lit(0))).cast("long").alias("n_converted"),
        )
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_converted"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_converted"))).alias("cb"),
    )
    pa = F.col("ca") * 1.0 / F.col("na")
    pb = F.col("cb") * 1.0 / F.col("nb")
    conv_all = F.col("ca") + F.col("cb")
    pool = conv_all * 1.0 / (F.col("na") + F.col("nb"))
    se = F.sqrt(pool * (1 - pool) * (1.0 / F.col("na") + 1.0 / F.col("nb")))
    # Degenerate experiment (0% or 100% pooled conversion — the fixture's
    # every-user-buys case): the pooled variance is 0 and z is undefined;
    # emit NULL rather than tripping ANSI divide-by-zero. Both engines
    # take the same CASE, so the hash stays exact.
    z = F.when(
        (conv_all == 0) | (conv_all == F.col("na") + F.col("nb")),
        F.lit(None).cast("double"),
    ).otherwise(F.floor((pb - pa) / se * 10_000 + 0.5) / 10_000)
    return wide.select(
        "na",
        "ca",
        "nb",
        "cb",
        (F.floor((pb - pa) * 1_000_000 + 0.5) / 1_000_000).alias("lift"),
        z.alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# [EXT r8] Out-of-order lateness histogram — the measurement that DECIDES
# a stream's watermark: how far behind the per-key event-time high-water
# mark do events actually arrive?
# ---------------------------------------------------------------------------
OOO_BUCKET_S = 600  # 10-minute lateness buckets


@register(
    "out_of_order_lateness_histogram",
    oracle=f"""
        WITH seq AS (
          SELECT user_id,
                 CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) AS t,
                 max(CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ) AS prev_max
          FROM events
        ),
        late AS (
          SELECT CASE WHEN prev_max IS NULL THEN 0
                      ELSE greatest(prev_max - t, 0) END AS lateness_s
          FROM seq
        )
        SELECT (lateness_s // {OOO_BUCKET_S}) * {OOO_BUCKET_S} AS bucket_floor_s,
               CAST(count(*) AS BIGINT) AS n_events,
               max(lateness_s) AS max_lateness_s
        FROM late GROUP BY 1
    """,
    doc=f"Event-time lateness histogram in {OOO_BUCKET_S}-second buckets: per event, how far behind its key's running event-time maximum (in ARRIVAL order, event_id) it arrived — the distribution that picks a watermark delay; integer-exact end to end.",
    tags=("streaming", "events", "window", "quality", "ext", "scale"),
)
def out_of_order_lateness_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every `withWatermark` delay in this repo is a guess unless the
    corpus' actual disorder is measured; this operator measures it. For
    each event (in ARRIVAL order — event_id, the ingest sequence), its
    lateness is how far its event time lags the running event-time
    maximum already seen for that key; the histogram of those values is
    exactly the curve a watermark threshold cuts: choosing delay D drops
    `sum(n_events where bucket >= D)` rows. The streaming dedup/join ops
    (stream_dedup_within_watermark, stream_stream_left_outer_join) cite
    10-minute watermarks; this is the op that justifies or refutes such a
    number on a given corpus.

    Exactness: epoch seconds via the portable floor contract (Spark
    unix_timestamp truncates, DuckDB epoch() must be floored — the r6
    lesson); lateness and buckets are pure BIGINT arithmetic.

    Scale: one hash shuffle on user_id, a partition-local running-max
    window with O(1) state per row, then a bounded histogram aggregate
    (map-side combinable; the output is |buckets| rows at any corpus
    size). The per-KEY high-water mark is deliberately the partitionable
    choice — a GLOBAL running max would serialize the stream through one
    partition, exactly what a 100 TB plan cannot do; the global
    watermark readout is max(max_lateness_s), a scalar over the
    histogram.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", _epoch_s("ts").alias("t")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = e.select(
        F.when(F.max("t").over(w).isNull(), F.lit(0))
        .otherwise(F.greatest(F.max("t").over(w) - F.col("t"), F.lit(0)))
        .cast("long")
        .alias("lateness_s")
    )
    return late.groupBy(
        # integer bucketing by construction (lateness_s >= 0): subtracting
        # the remainder keeps the expression exactly portable — no double
        # division anywhere (the repo's all-integer bucketing discipline).
        (F.col("lateness_s") - F.pmod(F.col("lateness_s"), F.lit(OOO_BUCKET_S))).alias(
            "bucket_floor_s"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("lateness_s").alias("max_lateness_s"),
    )


# ---------------------------------------------------------------------------
# [EXT r8] Cumulative-distinct growth curve: daily new users + running
# total distinct users — the growth-accounting readout (companion to the
# retention cohort matrix), computed WITHOUT a running COUNT(DISTINCT).
# ---------------------------------------------------------------------------
@register(
    "running_distinct_users_daily",
    oracle="""
        WITH firsts AS (
          SELECT user_id, min(ts::TIMESTAMP::DATE) AS first_day FROM events
          GROUP BY user_id
        ),
        daily AS (
          SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
          FROM firsts GROUP BY first_day
        ),
        active AS (
          SELECT ts::TIMESTAMP::DATE AS day,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
          FROM events GROUP BY 1
        )
        SELECT a.day, coalesce(d.new_users, 0) AS new_users, a.active_users,
               CAST(sum(coalesce(d.new_users, 0))
                    OVER (ORDER BY a.day) AS BIGINT) AS cumulative_users
        FROM active a LEFT JOIN daily d ON d.day = a.day
    """,
    doc="Growth accounting: per day, new users (first-ever appearance), active users, and the cumulative distinct-user total — the running COUNT(DISTINCT) rewritten as first-seen flags + a prefix sum, the only form that scales.",
    tags=("streaming", "events", "window", "ext", "scale"),
)
def running_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAU / cumulative-users curve every growth dashboard opens with.
    The naive form — COUNT(DISTINCT user_id) OVER (ORDER BY day) — is
    unbounded running state and cannot scale; the standard rewrite is:
    a user contributes to the cumulative total exactly once, on their
    FIRST day. So: min(day) per user (map-side combinable), count firsts
    per day, prefix-sum. The running distinct becomes a prefix sum over
    |days| integers — metadata scale.

    Exactness: dates, counts, and the prefix sum are all integers.

    Scale: one shuffle on user_id for the first-day aggregate, one daily
    aggregate for active counts, then a |days|-row window. The LEFT join
    keeps days whose every active user is returning (new_users = 0).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    firsts = e.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    active = e.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("active_users")
    )
    w = Window.orderBy("day")
    return (
        active.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("new_users"), F.lit(0)).alias("new_users"),
            "active_users",
        )
        .withColumn(
            "cumulative_users", F.sum("new_users").over(w).cast("long")
        )
    )


# ---------------------------------------------------------------------------
# [EXT r8] Streaming count-min watchlist: the 3x512 integer counters
# maintained under Structured Streaming — counter MERGE is cell-wise sum
# (exactly associative), so the stream's final watchlist estimates
# hash-equal the batch formula: the third streaming op with a real SQL
# oracle (after the exactly-once merge and the KMV sketch).
# ---------------------------------------------------------------------------
from ..operators.incremental import CME_ROWS as _CME_ROWS
from ..operators.incremental import CME_W as _CME_W
from ..operators.incremental import _cme_cell_sql

CMW_WATCH = 10  # monitored key ids: user_id 0..9


@register(
    "stream_countmin_running",
    oracle=f"""
        WITH ev AS (SELECT user_id FROM events),
        c0 AS (SELECT {_cme_cell_sql("user_id", *_CME_ROWS[0])} AS cell,
                      CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1),
        c1 AS (SELECT {_cme_cell_sql("user_id", *_CME_ROWS[1])} AS cell,
                      CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1),
        c2 AS (SELECT {_cme_cell_sql("user_id", *_CME_ROWS[2])} AS cell,
                      CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1),
        watch AS (SELECT id AS user_id FROM range({CMW_WATCH}) AS t(id))
        SELECT w.user_id,
               least(coalesce(a.c, 0), coalesce(b.c, 0), coalesce(d.c, 0))
                 AS est_n
        FROM watch w
        LEFT JOIN c0 a ON a.cell = {_cme_cell_sql("w.user_id", *_CME_ROWS[0])}
        LEFT JOIN c1 b ON b.cell = {_cme_cell_sql("w.user_id", *_CME_ROWS[1])}
        LEFT JOIN c2 d ON d.cell = {_cme_cell_sql("w.user_id", *_CME_ROWS[2])}
    """,
    doc=f"Count-min counters maintained per micro-batch under Structured Streaming (cell-wise-sum merge — exactly associative), probed for a fixed {CMW_WATCH}-key watchlist at the end: the streaming estimates hash-equal the batch-computed formula, a streaming operator with a real SQL oracle.",
    tags=("streaming", "structured", "sketch", "ext", "scale"),
)
def stream_countmin_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming face of `countmin_estimate_profile`: a monitoring
    dashboard watching a FIXED set of account ids over an unbounded
    stream, with CONSTANT state — each micro-batch's events count 1 in
    one cell of each of the 3 sketch rows, SUMMED cell-wise together with
    the persisted 3x{_CME_W} state in one aggregate; because counter
    merge is associative and integer, the final state is independent of
    the batch split and hash-equals the
    batch-computed sketch (the mergeable-sketch contract that made
    stream_kmv_distinct_running oracle-checkable).

    Watchlist semantics: probing known keys needs no per-key streaming
    state and no top-k heap — the reason sketch-backed watchlists run
    where exact per-user streaming counters (stream_stateful_user_counters)
    would grow unboundedly. Keys the stream never saw read as their
    cells' collision noise (>= 0, one-sided — CM's contract).

    State: at most 3x{_CME_W} integer rows in a versioned parquet dir;
    per-batch work is one aggregate over the batch's cell counts and the
    bounded state.
    """

    def counters(batch_df: DataFrame) -> DataFrame:
        """One (j, cell, c=1) row per event and sketch row."""
        cells = [
            F.struct(
                F.lit(j).alias("j"),
                F.expr(_cme_cell_sql("user_id", a, c)).alias("cell"),
                F.lit(1).cast("long").alias("c"),
            )
            for j, (a, c) in enumerate(_CME_ROWS)
        ]
        return batch_df.select(F.inline(F.array(*cells)))

    with tempfile.TemporaryDirectory(prefix="sg_cm_stream_", ignore_cleanup_errors=True) as base:
        ev = load_table(spark, sf_dir, "events").select("user_id")
        fold = _fold(
            base,
            counters,
            lambda u: u.groupBy("j", "cell").agg(F.sum("c").cast("long").alias("c")),
        )
        _drain(_stage(ev, 4, base), fold, base)
        ctr = _publish(spark, base, "sg_cm_pub_")
    probed = spark.range(CMW_WATCH).select(F.col("id").alias("user_id"))
    for j, (a, c) in enumerate(_CME_ROWS):
        sk = ctr.filter(F.col("j") == j).select(
            F.col("cell").alias(f"cell{j}"), F.col("c").alias(f"c{j}")
        )
        probed = probed.join(
            F.broadcast(sk),
            F.expr(_cme_cell_sql("user_id", a, c)) == F.col(f"cell{j}"),
            "left",
        )
    return probed.select(
        "user_id",
        F.least(
            F.coalesce("c0", F.lit(0)),
            F.coalesce("c1", F.lit(0)),
            F.coalesce("c2", F.lit(0)),
        )
        .cast("long")
        .alias("est_n"),
    )


# ---------------------------------------------------------------------------
# [EXT r8] Semi-structured schema profile: discover the keys actually
# present in a JSON column and classify each key's value types — schema
# drift detection for the props payload, with DYNAMIC key discovery
# (no hardcoded '$.k' paths).
# ---------------------------------------------------------------------------
@register(
    "json_schema_profile",
    oracle="""
        WITH kv AS (
          SELECT k, json_type(props, '$.' || k) AS jt
          FROM events, unnest(json_keys(props)) AS t(k)
          WHERE props IS NOT NULL
        ),
        classified AS (
          SELECT k,
                 CASE WHEN jt IN ('UBIGINT', 'BIGINT') THEN 'int'
                      WHEN jt = 'DOUBLE' THEN 'float'
                      WHEN jt = 'VARCHAR' THEN 'string'
                      WHEN jt = 'BOOLEAN' THEN 'bool'
                      ELSE 'null' END AS vtype
          FROM kv
        )
        SELECT k AS json_key, vtype,
               CAST(count(*) AS BIGINT) AS n_values
        FROM classified GROUP BY 1, 2
    """,
    doc="Dynamic JSON schema profile of the props payload: keys discovered per row (variant map cast / json_keys - no hardcoded paths), values classified int/float/bool/string/null from their TRUE JSON types (Spark schema_of_variant vs DuckDB json_type), so a stringified number registers as the drift it is.",
    tags=("streaming", "json", "variant", "quality", "ext", "scale"),
)
def json_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What is ACTUALLY inside the JSON column - the question every
    semi-structured pipeline asks before writing extraction paths
    (`events_props_json` / `events_props_variant` hardcode '$.k'; this op
    discovers keys per row and classifies their value types), and keeps
    asking in production: a producer that starts emitting "42" instead
    of 42 flips the key's type histogram here long before a downstream
    CAST fails.

    Typing is from the JSON grammar, not a regex over extracted text:
    Spark parses once to VARIANT, casts to map<string, variant> (dynamic
    keys - variant_get would need a constant path), and reads each
    value's type via schema_of_variant; DuckDB asks json_type. The type
    vocabularies differ, so each side maps through its own CASE to the
    shared {int, float, string, bool, null} labels (Spark integer
    variants surface as BIGINT or DECIMAL(p,0), both "int"; DuckDB says
    UBIGINT/BIGINT). A quoted "42" is STRING/VARCHAR on both - the
    drift case a lossy extract-then-regex classifier cannot see, pinned
    in tests. Documented bound: integers beyond UBIGINT (> 2^64-1)
    classify float in DuckDB vs int in Spark - outside any JSON
    producer this repo models.

    Scale: scan-stage variant parsing + one map-side-combinable
    aggregate whose output is |keys| x |types| rows - bounded at any
    corpus size. At 100 TB this profile is what justifies promoting a
    hot key to the shredded Variant path.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    kv = e.select(
        F.explode(F.parse_json("props").cast("map<string, variant>")).alias("k", "v")
    ).select("k", F.schema_of_variant("v").alias("jt"))
    vtype = (
        F.when(
            F.col("jt").isin("TINYINT", "SMALLINT", "INT", "BIGINT")
            | F.col("jt").rlike("^DECIMAL\\([0-9]+,0\\)$"),
            "int",
        )
        .when(
            F.col("jt").isin("FLOAT", "DOUBLE") | F.col("jt").startswith("DECIMAL"),
            "float",
        )
        .when(F.col("jt") == "STRING", "string")
        .when(F.col("jt") == "BOOLEAN", "bool")
        .otherwise("null")
    )
    return (
        kv.select(F.col("k").alias("json_key"), vtype.alias("vtype"))
        .groupBy("json_key", "vtype")
        .agg(F.count(F.lit(1)).cast("long").alias("n_values"))
    )


# ---------------------------------------------------------------------------
# [EXT r9] Floored running balance — the clamp-at-zero recurrence
# b_t = max(0, b_{t-1} + x_t), solved WITHOUT a sequential pass via the
# reflection identity b_t = p_t - min(0, running-min of p) over plain
# prefix sums (both windows per-key, parallel).
# ---------------------------------------------------------------------------
@register(
    "floored_running_balance",
    oracle="""
        WITH d AS (
          SELECT user_id, event_id,
                 CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE -CAST(floor(value * 100 + 0.5) AS BIGINT)
                 END AS delta
          FROM events WHERE event_type IN ('purchase', 'error')
        ),
        pref AS (
          SELECT user_id, event_id,
                 CAST(sum(delta) OVER (PARTITION BY user_id
                                       ORDER BY event_id) AS BIGINT) AS p
          FROM d
        )
        SELECT user_id, event_id,
               CAST(p - least(0, min(p) OVER (PARTITION BY user_id
                                              ORDER BY event_id))
                    AS BIGINT) AS balance_cents
        FROM pref
    """,
    doc="Per-user running balance floored at zero (purchases credit, errors debit): the sequential recurrence max(0, b+x) computed as two parallel per-key windows via the reflection identity balance = prefix - min(0, running-min(prefix)) — a one-sided clamp needs NO sequential pass.",
    tags=("relational", "events", "window", "ext", "scale"),
)
def floored_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inventory/credit pattern: a balance that accumulates signed
    deltas but can never go below zero — b_t = max(0, b_{t-1} + x_t).
    Written as a recurrence it looks unparallelizable (each step needs
    the last), which is how it ends up as a driver loop or a UDF; the
    reflection identity dissolves it: with prefix sums p_t and their
    running minimum m_t, b_t = p_t - min(0, m_t) EXACTLY (each floor
    event "absorbs" the most negative excursion so far). Proof is two
    inductions; tests/test_r9_new_ops.py checks it against a literal
    sequential replay on drawn sequences.

    Ordering contract: event_id alone (globally unique, the ingest
    sequence) — the r8 sessionize lesson: every window in both engines
    orders by a SINGLE tie-free key.

    Exactness: deltas, prefixes, and the floor correction are BIGINT
    cents end to end.

    Scale: ONE hash shuffle on user_id; both windows share the same
    (partition, order) spec, so Spark plans one Sort + one Window pass;
    per-row state is O(1). This is the shape `ewma_dyadic_revenue`
    needed dyadic scans for — the one-sided clamp is the rare stateful
    recurrence with an EXACT two-window closed form.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    d = e.select(
        "user_id",
        "event_id",
        F.when(F.col("event_type") == "purchase", cents)
        .otherwise(-cents)
        .alias("delta"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    pref = d.select(
        "user_id", "event_id", F.sum("delta").over(w).cast("long").alias("p")
    )
    return pref.select(
        "user_id",
        "event_id",
        (F.col("p") - F.least(F.lit(0), F.min("p").over(w)))
        .cast("long")
        .alias("balance_cents"),
    )


# ---------------------------------------------------------------------------
# [EXT r9] Hot-streak islands — maximal runs of consecutive high-value
# events per user (gaps-and-islands by rank difference, all per-key).
# ---------------------------------------------------------------------------
HOT_CENTS = 10_000  # "hot" = event value >= 100.00 (integer-cents compare)


@register(
    "hot_streak_islands",
    oracle=f"""
        WITH seq AS (
          SELECT user_id, event_id,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY event_id) AS rn
          FROM events
        ),
        hot AS (
          SELECT user_id, event_id, cents,
                 rn - row_number() OVER (PARTITION BY user_id
                                         ORDER BY event_id) AS grp
          FROM seq WHERE cents >= {HOT_CENTS}
        )
        SELECT user_id,
               min(event_id) AS start_event_id,
               max(event_id) AS end_event_id,
               CAST(count(*) AS BIGINT) AS run_len,
               CAST(sum(cents) AS BIGINT) AS run_cents
        FROM hot GROUP BY user_id, grp
    """,
    doc=f"Maximal runs of CONSECUTIVE events with value >= {HOT_CENTS} cents per user (gaps-and-islands via the rank-difference constant): one row per streak with its span, length, and total — the burst-detection readout, all windows per-key.",
    tags=("relational", "events", "window", "ext", "scale"),
)
def hot_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection as a relational pattern: a "streak" is a maximal
    run of CONSECUTIVE events (in the per-user ingest order) whose value
    clears a bar — adjacency matters, which is what separates this from
    a plain filter+groupBy. The gaps-and-islands trick makes it two
    window functions: rank every event per user, rank the qualifying
    events per user, and the DIFFERENCE of the two ranks is constant
    exactly within a consecutive run — a grouping key that needs no
    recursion and no self-join.

    Hotness is an integer-cents compare (cents >= 10000) — no double
    threshold, the repo's bucketing discipline. Ordering is the single
    tie-free key event_id (the r8 sessionize lesson).

    Scale: one hash shuffle on user_id; both row_number windows share
    the partition key (the second runs on the filtered subset), then a
    hash aggregate on (user, grp). Everything is per-key parallel; run
    state is O(1) per row.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = e.select(
        "user_id", "event_id", "cents", F.row_number().over(w).alias("rn")
    )
    hot = seq.filter(F.col("cents") >= HOT_CENTS).select(
        "user_id",
        "event_id",
        "cents",
        (F.col("rn") - F.row_number().over(w)).alias("grp"),
    )
    return (
        hot.groupBy("user_id", "grp")
        .agg(
            F.min("event_id").alias("start_event_id"),
            F.max("event_id").alias("end_event_id"),
            F.count(F.lit(1)).cast("long").alias("run_len"),
            F.sum("cents").cast("long").alias("run_cents"),
        )
        .drop("grp")
    )


# ---------------------------------------------------------------------------
# [EXT r9b] Streaming bitmap distinct — presence-bitmap words maintained
# per micro-batch; bit_or is associative AND idempotent, so redelivery
# cannot even inflate the count. Fourth streaming op with a real SQL oracle.
# ---------------------------------------------------------------------------
from ..operators.incremental import BITMAP_WORD_BITS as _BM_BITS  # noqa: E402


@register(
    "stream_bitmap_distinct_running",
    oracle="""
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
        FROM events GROUP BY 1
    """,
    doc="Per-day distinct users maintained as presence-bitmap words under Structured Streaming: each micro-batch ORs its own (day, word) bits into the persisted state; bit_or is associative and IDEMPOTENT, so the final state is independent of both the batch split and any redelivery, and hash-equals a plain COUNT(DISTINCT) — exact streaming cardinality.",
    tags=("streaming", "structured", "sketch", "incremental", "ext", "scale"),
)
def stream_bitmap_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming face of `bitmap_distinct_users`: a dashboard's
    daily-active-users counter over an unbounded stream with BOUNDED,
    mergeable state. Each micro-batch's presence bits are bit_ORed
    together with the persisted (day, word_idx) state in one aggregate —
    the merge is associative (any batch split yields the same state) and
    idempotent (an at-least-once redelivery ORs bits that are already
    set), which is strictly stronger than the count-min/KMV merge
    contract: this streaming counter is EXACT and redelivery-proof, so
    its oracle is a plain COUNT(DISTINCT).

    State: |days| x |id domain|/32 BIGINT words in a versioned parquet
    dir, constant in the event count; per-batch work is one hash
    aggregate over the batch's bits and the state.
    """

    def words(batch_df: DataFrame) -> DataFrame:
        """One (day, word_idx, word) row per event: its presence bit."""
        return batch_df.select(
            F.to_date("ts").alias("day"),
            # integer div, never FP; loud non-negative guard — a
            # negative id silently collides bits (see
            # bitmap_distinct_users, r9 ADVICE #1). NULL user_id also
            # raises — intentional NULL-reject on an identity column
            # (r10 ADVICE), mirroring the batch twin.
            F.when(
                F.assert_true(
                    F.col("user_id") >= 0,
                    F.lit(
                        "stream_bitmap_distinct_running: negative "
                        "user_id — presence bitmaps need non-negative "
                        "ids (remap or offset upstream)"
                    ),
                ).isNull(),
                F.expr(f"user_id div {_BM_BITS}"),
            ).alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pmod(user_id, {_BM_BITS}) AS INT))"
            ).alias("word"),
        )

    with tempfile.TemporaryDirectory(prefix="sg_bitmap_stream_", ignore_cleanup_errors=True) as base:
        ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
        fold = _fold(
            base,
            words,
            lambda u: u.groupBy("day", "word_idx").agg(F.bit_or("word").alias("word")),
        )
        _drain(_stage(ev, 4, base), fold, base)
        state = _publish(spark, base, "sg_bitmap_pub_")
    return state.groupBy("day").agg(
        F.sum(F.bit_count("word")).cast("long").alias("distinct_users")
    )
