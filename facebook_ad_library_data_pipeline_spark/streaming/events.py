"""Event-time windowed aggregation — batch-first, streaming as a thin
wrapper over the SAME transformation (SURVEY.md §5 "every streaming op
has a batch twin to diff against").

The reference's only streaming-ish behavior is the incremental
response-listener append (S3, ``collect_raw_data.py:150-171``); the
Spark-first mapping is a file-source micro-batch stream over the landed
files. Here the stream source is the events parquet itself.

Scale posture: tumbling/sliding window aggs are hash aggregations on
(window, key) — partial-combined, watermark bounds state; session
windows shuffle on the session key only.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import SCHEMAS, _events_nanos_schema, events_ts_unit, load_table
from ..functions.money import money_sum
from ..registry import query

# ------------------------------------------------------------- batch twins


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Shared batch/stream transformation: 1-hour tumbling windows."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


_TUMBLING_ORACLE = """
SELECT CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS window_start,
       event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("q_window_tumbling", oracle=_TUMBLING_ORACLE, tags=("streaming", "window", "agg"))
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows (epoch-aligned, = DuckDB
    floor(epoch/3600))."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


_SLIDING_ORACLE = """
WITH starts AS (
    SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP) AS s0,
           event_type, value, ts
    FROM events
), exploded AS (
    SELECT s0 AS window_start, event_type, value FROM starts
    UNION ALL
    SELECT s0 - INTERVAL 30 MINUTE, event_type, value FROM starts
)
SELECT window_start, event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
FROM exploded
GROUP BY 1, 2
"""


def sliding_counts(events: DataFrame) -> DataFrame:
    """Shared batch/stream transformation: 1-hour windows every 30 min."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("value")).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@query("q_window_sliding", oracle=_SLIDING_ORACLE, tags=("streaming", "window", "agg"))
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min — every event lands in
    exactly 2 windows (oracle: union of the two aligned starts)."""
    return sliding_counts(load_table(spark, sf_dir, "events"))


_SESSION_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
), flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN prev_ts IS NULL
                     OR ts - prev_ts >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM ordered
), numbered AS (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
    FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS last_event_ts,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, session_no
"""


def session_stats(events: DataFrame) -> DataFrame:
    """Shared batch/stream transformation: 30-min-gap sessions."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_event_ts"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "last_event_ts",
            "n_events",
        )
    )


@query("q_session_window", oracle=_SESSION_ORACLE, tags=("streaming", "window", "session"))
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization via session_window (batch mode).
    Oracle restates it as gaps-and-islands (lag + running sum). Spark
    closes a session when the next event is >= gap after the previous
    one (window end is exclusive), hence `>=` in the island flag."""
    return session_stats(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------- true streaming


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source micro-batch stream over the events parquet, with the
    same footer-probed ts-unit handling as the batch loader
    (catalog.events_ts_unit)."""
    # The file source requires a directory; expose the single events
    # file through a symlink dir (no data copied, testdata untouched).
    stream_dir = Path(tempfile.gettempdir()) / "spark_graft_stream" / Path(sf_dir).name
    stream_dir.mkdir(parents=True, exist_ok=True)
    link = stream_dir / "events.parquet"
    if not link.exists():
        link.symlink_to(f"{sf_dir}/events.parquet")
    if events_ts_unit(sf_dir) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.readStream.schema(_events_nanos_schema()).parquet(str(stream_dir))
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.readStream.schema(SCHEMAS["events"]).parquet(str(stream_dir))


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    partitions: str = "4",
    available_now: bool = False,
    drained=None,
    drain_timeout_s: float = 300.0,
    checkpoint_location: str | None = None,
) -> None:
    """Drive a streaming aggregation to completion against the bounded
    file source (processAllAvailable) and land it in a memory sink.

    Streaming state stores cost per shuffle partition (one store each,
    re-opened and committed EVERY micro-batch); with the local bounded
    source the per-store fixed cost dominates any parallelism win —
    measured at sf0.1: stream-stream join 19.3 s at 32 partitions vs
    5.1 s at 8 vs 2.7 s at 4; every streaming query in the bench got
    faster 8→4 (r06 sweep: tumbling 1.6→1.0, incremental rollup
    2.7→2.3). Default 4 here is a local-mode runtime knob; on a real
    cluster partitions scale with executors and state size, not this
    default.

    Callers that pick their own count do so because their per-partition
    cost differs: the transformWithState family passes
    ``stateful.tws_partitions`` (the session's task slots, capped at
    16 — one task wave, since its per-key state-server round trips
    parallelize only up to the slot count); the applyInPandasWithState
    queries pass 8; the state_reader queries pass fixed counts (4, 8,
    and 16 for the re-shard), since the shard count recorded in the
    checkpoint's state metadata is part of what some of them check."""
    spark = stream_df.sparkSession
    # Stateful streaming is the op most sensitive to stale broadcast/
    # shuffle state: ContextCleaner only purges on GC, and after a long
    # batch session GC may not have run (measured: 9.1s -> 3.0s for the
    # stateful query after 70 batch queries). One explicit GC before
    # stream start is ~100ms on a 16g heap.
    spark.sparkContext._jvm.System.gc()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    writer = stream_df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    if checkpoint_location is not None:
        # callers that re-open the checkpoint afterwards (the
        # state_reader family) pass an explicit durable location
        writer = writer.option("checkpointLocation", checkpoint_location)
    if available_now:
        # Trigger.AvailableNow: the query drains what exists and STOPS
        # ITSELF — the backfill path; await its self-termination
        # instead of processAllAvailable.
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    try:
        if drained is not None:
            # Operators in ProcessingTime time mode (state TTL, timers)
            # ask the engine for another batch EVERY batch — the query
            # never self-quiesces, so neither processAllAvailable nor
            # AvailableNow termination returns on a bounded source.
            # Poll the caller's sink-visibility predicate instead: it
            # decides "all source rows folded", then we stop the query.
            import time as _time

            deadline = _time.monotonic() + drain_timeout_s
            while q.isActive and not drained():
                if _time.monotonic() > deadline:
                    raise TimeoutError(
                        f"stream {name!r} did not drain in {drain_timeout_s}s"
                    )
                _time.sleep(0.3)
            if not q.isActive and not drained():
                # The query died before the sink fixpoint: surface ITS
                # error now, not a downstream mismatch on a partial sink.
                exc = q.exception()
                if exc is not None:
                    raise exc
                raise RuntimeError(
                    f"stream {name!r} stopped before draining (no exception)"
                )
        elif available_now:
            q.awaitTermination()
        else:
            q.processAllAvailable()
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@query("q_stream_tumbling", oracle=_TUMBLING_ORACLE, tags=("streaming",))
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window agg run through an ACTUAL Structured
    Streaming query (file source → watermark → window agg → memory
    sink). The batch twin's oracle IS this stream's oracle: on the
    bounded source, processAllAvailable + complete mode must reproduce
    the batch result exactly (money_sum keeps the decimal sums
    order-independent across micro-batch boundaries)."""
    events = load_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = tumbling_counts(events)
    run_stream_to_memory(agg, "stream_tumbling_out")
    return spark.table("stream_tumbling_out")


@query("q_stream_sliding", oracle=_SLIDING_ORACLE, tags=("streaming", "window"))
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-window agg through an ACTUAL streaming query — the
    overlapping-window state case (each event updates 2 window states).
    Batch twin q_window_sliding shares the transformation AND the
    oracle: on the bounded source, complete mode must reproduce the
    batch result exactly."""
    events = load_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    run_stream_to_memory(sliding_counts(events), "stream_sliding_out")
    return spark.table("stream_sliding_out")


@query("q_stream_session", oracle=_SESSION_ORACLE, tags=("streaming", "window", "session"))
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through an ACTUAL streaming query — the
    MERGING-state window case: unlike tumbling/sliding, session windows
    grow and MERGE as micro-batches arrive (Spark's session-window
    state store merges adjacent sessions within the gap), so this
    exercises a state path the other streams don't. Batch twin
    q_session_window shares the transformation and the gaps-and-islands
    oracle; on the bounded source complete mode must converge to the
    batch sessionization exactly, regardless of how events split across
    micro-batches."""
    events = load_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    run_stream_to_memory(session_stats(events), "stream_session_out")
    return spark.table("stream_session_out")


_DEDUP_ORACLE = """
SELECT event_type, count(DISTINCT event_id) AS n
FROM events
GROUP BY event_type
"""


@query("q_stream_dedup", oracle=_DEDUP_ORACLE, tags=("streaming", "dedup"))
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates within the watermark (the reference's
    dedup D1 as a stream op): exactly-once event ids per micro-batch
    cascade. Oracle: distinct-id counts per type (equivalent while each
    event_id maps to a single event_type, which holds in the driver
    testdata — checked range-wide before adoption)."""
    events = load_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = events.dropDuplicates(["event_id"])
    counted = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    run_stream_to_memory(counted, "stream_dedup_out")
    return spark.table("stream_dedup_out")


# Append mode emits a window only once its end crosses the watermark,
# and the final watermark after draining a bounded source is
# max(event_time) − delay regardless of how micro-batches split — so
# the emitted set is EXACTLY the batch windows with
# window_end <= max(ts) − 1 hour, and the tail windows stay in state
# forever (never emitted). That closed-window set is the oracle.
_TUMBLING_APPEND_ORACLE = """
WITH agg AS (
    SELECT CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
),
wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS watermark FROM events)
SELECT a.window_start, a.event_type, a.n, a.total_value
FROM agg a, wm
WHERE a.window_start + INTERVAL 1 HOUR <= wm.watermark
"""


@query("q_stream_tumbling_append", oracle=_TUMBLING_APPEND_ORACLE, tags=("streaming", "window"))
def q_stream_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling agg in APPEND output mode — the state-EVICTION path
    the complete-mode streams never exercise: a window row is emitted
    exactly once, when the watermark passes its end, and its state is
    dropped. On the bounded source the final watermark is
    max(ts) − 1 h (watermarks advance monotonically to the global max
    whatever the micro-batch split), so the emitted set is exactly the
    closed windows — the oracle filters the batch-twin aggregation to
    window_end <= max(ts) − 1 h. The unemitted tail windows are the
    documented, deterministic difference from q_stream_tumbling."""
    events = load_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = tumbling_counts(events)
    run_stream_to_memory(agg, "stream_tumbling_append_out", output_mode="append")
    return spark.table("stream_tumbling_append_out")


@query("q_stream_dedup_watermark", oracle=_DEDUP_ORACLE, tags=("streaming", "dedup"))
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark — the bounded-state dedup variant:
    unlike dropDuplicates (whose key state lives forever), each key's
    state is dropped once the watermark passes its event time + delay,
    so state is O(keys per watermark window), the only dedup a 100
    TB/day stream can afford. Every event_id in the testdata is unique
    (pinned by tests/test_testdata_invariants.py), so both variants
    emit every event exactly once and share the distinct-count oracle;
    the semantic difference is purely the eviction schedule."""
    events = load_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = events.dropDuplicatesWithinWatermark(["event_id"])
    counted = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    run_stream_to_memory(counted, "stream_dedup_wm_out")
    return spark.table("stream_dedup_wm_out")


# --------------------------------------- dynamic-gap session windows (r06)

# Per-event gap: interaction events (view/click) time out fast, money
# events hold the session open longer. Semantics: each event claims
# [ts, ts + gap(event)); overlapping claims per user MERGE into one
# session — richer than fixed-gap islands, because the gap that
# extends a session is the PREVIOUS event's, not a global constant.
_DYN_GAPS = {"view": 600, "click": 600, "purchase": 1800, "error": 300,
             "signup": 900}
_DYN_GAP_DEFAULT = 600  # unseen future types: both engines must agree

_DYN_GAP_CASE = "CASE event_type " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(_DYN_GAPS.items())
) + f" ELSE {_DYN_GAP_DEFAULT} END"

# Islands twin: a new session starts when this event's ts is >= the
# running max of every PRIOR event's (ts + its own gap) — the merge
# rule restated over a running max instead of Spark's interval-union
# state. window end excl. ⇒ `>=`.
_DYN_SESSION_ORACLE = f"""
WITH e AS (
    SELECT user_id, ts, ts + to_seconds({_DYN_GAP_CASE}) AS claim_end
    FROM events
),
m AS (
    SELECT user_id, ts,
           max(claim_end) OVER (PARTITION BY user_id ORDER BY ts, claim_end
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_reach
    FROM e
),
isl AS (
    SELECT user_id, ts,
           CASE WHEN prev_reach IS NULL OR ts >= prev_reach THEN 1 ELSE 0 END AS new_s
    FROM m
),
g AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM isl
)
SELECT user_id,
       min(ts) AS session_start,
       count(*) AS n_events
FROM g
GROUP BY user_id, sid
"""


def dynamic_session_stats(events: DataFrame) -> DataFrame:
    """Shared batch/stream transform: per-event-gap sessionization."""
    gap = F.concat(
        F.coalesce(
            F.element_at(
                F.create_map(
                    *[F.lit(x) for kv in sorted(_DYN_GAPS.items()) for x in kv]
                ),
                F.col("event_type"),
            ),
            F.lit(_DYN_GAP_DEFAULT),
        ).cast("string"),
        F.lit(" seconds"),
    )
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


@query("q_session_dynamic_gap", oracle=_DYN_SESSION_ORACLE, tags=("window", "session", "timeseries"))
def q_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization: session_window with a PER-EVENT gap
    expression (interaction events close after 10 min, purchases hold
    30, signup 15, errors 5) — sessions are unions of overlapping
    per-event claims, which a fixed-gap lag-island query cannot
    express. Oracle: the merge rule restated as a running max of prior
    claim ends. Same one-shuffle-on-user plan shape as the fixed-gap
    session."""
    return dynamic_session_stats(load_table(spark, sf_dir, "events"))


@query("q_stream_session_dynamic", oracle=_DYN_SESSION_ORACLE, tags=("streaming", "session"))
def q_stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dynamic-gap sessionization as a REAL streaming query — the
    merging-session state store where the merge distance itself varies
    per event. Complete mode on the bounded source must converge to
    the batch result exactly; shares q_session_dynamic_gap's oracle."""
    events = load_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    run_stream_to_memory(dynamic_session_stats(events), "stream_session_dyn_out")
    return spark.table("stream_session_dyn_out")


@query("q_stream_available_now", oracle=_TUMBLING_ORACLE, tags=("streaming", "window"))
def q_stream_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling agg driven by Trigger.AvailableNow — the BACKFILL
    trigger: process everything currently available (possibly as
    several rate-limited micro-batches), then stop on its own, with
    offsets checkpoint-compatible with a later continuous run. The
    operational mode for "catch the table up, then switch to live".
    Drain semantics must reproduce the batch oracle exactly, same as
    processAllAvailable — what's under test is the self-terminating
    trigger path."""
    events = load_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = tumbling_counts(events)
    run_stream_to_memory(agg, "stream_available_now_out", available_now=True)
    return spark.table("stream_available_now_out")


@query("q_stream_tumbling_rocksdb", oracle=_TUMBLING_ORACLE, tags=("streaming", "state-store"))
def q_stream_tumbling_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window stream on the ROCKSDB state-store provider —
    the production state backend at 100 TB/day: the default HDFS-backed
    store keeps every key in executor heap (state size caps at memory),
    while RocksDB spills to local disk with incremental changelog
    checkpointing, so state scales with SSD, not heap. Same
    transformation, same oracle as q_stream_tumbling: the provider is
    pure configuration (session-scoped here via a child session, so a
    registry query never mutates the caller's conf), and the identical
    hash proves the swap changes durability mechanics, not results."""
    scoped = spark.newSession()
    scoped.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    # the changelog mode the docstring describes (and the tws family
    # measured ~10x cheaper per-commit, scripts/tws_commit_metrics.py):
    # commits append a changelog; snapshot upload is maintenance work
    scoped.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    events = load_events_stream(scoped, sf_dir).withWatermark("ts", "1 hour")
    agg = tumbling_counts(events)
    run_stream_to_memory(agg, "stream_tumbling_rocksdb_out")
    return scoped.table("stream_tumbling_rocksdb_out")
