"""Structured-Streaming twins of the batch event operators.

The reference engine has zero streaming constructs (SURVEY.md §2) — this is
part of the beyond-reference surface: the same hourly aggregation as
relops.events_hourly_agg, expressed over a stream with a watermark so late
events older than the allowed lateness are dropped and state is bounded."""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scoped_conf
from ..tables import read_table, scratch_dir, table_path

_SINK_SEQ = itertools.count()

# State-store count for the stateful contract queries. Stateful operators
# create ONE state store (with its own checkpoint commit per micro-batch)
# per shuffle partition, fixed at first query start — so unlike stateless
# shuffles, over-partitioning is pure per-batch commit overhead. 8 stores
# saturate this workload; a real deployment sizes this to state volume
# (stores must fit executor memory), not to core count.
STATEFUL_SHUFFLE_PARTITIONS = "8"
WATERMARK = "2 hours"  # event-time lateness bound of every watermarked stream


def streaming_hourly_agg(events: DataFrame) -> DataFrame:
    """events stream (ts, event_type, value) -> windowed counts/sums.

    Output schema matches the batch twin (hour, event_type, n_events,
    sum_value) so a batch backfill and the live stream can union."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet. FileStreamSource ingests
    directories; expose the single file through a per-sf_dir symlink dir
    (zero-copy)."""
    stream_dir = scratch_dir(sf_dir, "stream")
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.lexists(link):
        os.symlink(table_path(sf_dir, "events"), link)
    batch = read_table(spark, sf_dir, "events")
    return spark.readStream.schema(batch.schema).parquet(stream_dir)


def _run_to_memory_sink(
    spark: SparkSession, out: DataFrame, tag: str, output_mode: str
) -> DataFrame:
    """Start `out` into a fresh memory sink with an availableNow trigger
    (single micro-batch), await it, return the sink table. Runs under the
    scoped stateful-partition override (state stores are latched at query
    start).

    The checkpoint is a temp directory removed once the query ends: the
    memory sink keeps its rows on the driver, and a finished availableNow
    query is never restarted. Real deployments point checkpointLocation at
    durable shared storage (HDFS/S3), since the checkpoint exists to
    survive driver loss."""
    name = f"streaming_{tag}_sink_{next(_SINK_SEQ)}"
    with scoped_conf(
        spark, {"spark.sql.shuffle.partitions": STATEFUL_SHUFFLE_PARTITIONS}
    ), tempfile.TemporaryDirectory(prefix=f"rossete_ckpt_{tag}_") as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def streaming_hourly_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: run the REAL streaming pipeline (readStream ->
    watermarked windowed agg -> memory sink) over the events parquet with an
    availableNow trigger, then return the sink table. Because the whole file
    arrives in one micro-batch, the watermark drops nothing and the result
    equals the batch twin — which is exactly why this streaming query can
    carry a full DuckDB oracle (same SQL as events_hourly_agg)."""
    out = streaming_hourly_agg(_events_stream(spark, sf_dir))
    return _run_to_memory_sink(spark, out, "hourly", "complete")


# --- custom stateful operator: gap sessionization ---------------------------

SESSION_GAP_SEC = 1800

_SESS_OUT_SCHEMA = (
    "user_id LONG, session_id LONG, n_events LONG, "
    "session_start STRING, session_end STRING, sum_value DOUBLE"
)
_SESS_STATE_SCHEMA = "session_id LONG, last_us LONG, start_us LONG, n LONG, sumv DOUBLE"


def _sessionize_group(key, pdfs, state):
    """applyInPandasWithState worker: per-user gap sessionization.

    State carries the OPEN session (id, last/start event time in epoch-us,
    count, value sum) across micro-batches; each batch emits every session it
    touched with current totals (update semantics — a still-open session may
    be re-emitted by a later batch). Production would add a
    ProcessingTimeTimeout to flush idle sessions; the contract runs
    availableNow (single batch), where emitted rows are final."""
    import pandas as pd

    rows = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
    if state.exists:
        session_id, last_us, start_us, n, sumv = state.get
    else:
        session_id, last_us, start_us, n, sumv = 0, None, None, 0, 0.0

    gap_us = SESSION_GAP_SEC * 1_000_000
    closed: list[tuple] = []
    for ts, val in zip(rows["ts"], rows["value"]):
        us = pd.Timestamp(ts).value // 1000
        if last_us is None or us - last_us > gap_us:
            if n:
                closed.append((session_id, start_us, last_us, n, sumv))
            session_id += 1
            start_us, n, sumv = us, 0, 0.0
        n += 1
        sumv += float(val)
        last_us = us
    closed.append((session_id, start_us, last_us, n, sumv))
    state.update((int(session_id), int(last_us), int(start_us), int(n), float(sumv)))

    def fmt(us: int) -> str:
        return pd.Timestamp(us * 1000).strftime("%Y-%m-%d %H:%M:%S")

    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(closed),
            "session_id": [c[0] for c in closed],
            "n_events": [c[3] for c in closed],
            "session_start": [fmt(c[1]) for c in closed],
            "session_end": [fmt(c[2]) for c in closed],
            "sum_value": [round(c[4], 2) for c in closed],
        }
    )


def streaming_sessionize(events_stream: DataFrame) -> DataFrame:
    """Gap-based sessionization as a REAL custom stateful streaming operator
    (applyInPandasWithState): per-user session state survives across
    micro-batches — the imperative twin of relops.events_sessionize's
    window/sum formulation, for the case where sessions must close
    incrementally over an unbounded stream."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=_SESS_OUT_SCHEMA,
        stateStructType=_SESS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def streaming_dedup(events_stream: DataFrame) -> DataFrame:
    """Watermarked streaming deduplication — the ingest-hygiene operator of a
    live pipeline (at-least-once sources redeliver; this collapses the
    redeliveries). dropDuplicatesWithinWatermark keeps one row per key and
    expires a key's state once the watermark passes it, so state is bounded
    by the lateness window × key arrival rate, not by stream lifetime — the
    same bounded-state discipline as the windowed aggregate. The output
    projects the KEY columns only: which physical duplicate survives is
    arbitrary (as in any dedup), the key set is deterministic — and that is
    what the oracle (SELECT DISTINCT) checks."""
    keyed = (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK)
        .select(
            "ts",
            "user_id",
            "event_type",
            F.date_format(F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm").alias(
                "minute"
            ),
        )
    )
    return keyed.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "minute"]
    ).select("user_id", "event_type", "minute")


def streaming_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: readStream -> watermarked dedup -> memory
    sink, one availableNow batch. Single-batch semantics make the surviving
    key set equal the batch DISTINCT, hence the DuckDB oracle."""
    out = streaming_dedup(_events_stream(spark, sf_dir))
    return _run_to_memory_sink(spark, out, "dedup", "append")


def streaming_sessionize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: one availableNow micro-batch over the events
    parquet — every session closes inside the batch, so the stateful result
    equals the batch twin and shares its DuckDB oracle."""
    stream = _events_stream(spark, sf_dir)
    out = streaming_sessionize(stream.select("user_id", "ts", "event_id", "value"))
    return _run_to_memory_sink(spark, out, "sess", "update")


# --- stream-stream interval join ---------------------------------------------

JOIN_TOLERANCE = "INTERVAL 1 HOUR"  # click attributed to a view within 1h


def streaming_interval_join(events: DataFrame) -> DataFrame:
    """Watermarked stream-stream INNER join: clicks attributed to the views
    they followed within JOIN_TOLERANCE, per user — ad attribution as two
    live streams rather than a batch self-join.

    Both sides carry a watermark and the join condition carries a time
    range (click.ts in [view.ts, view.ts + tolerance]); together those are
    what lets Spark BOUND the join state: a buffered view can be evicted
    once the click-side watermark passes view.ts + tolerance, and a
    buffered click once the view-side watermark passes click.ts — without
    them the state store must hold both streams forever. State is keyed by
    user_id (the equi-part of the condition), so the shuffle co-partitions
    both streams exactly like the batch join would.

    Under availableNow on one file both streams arrive in a single
    micro-batch, the watermark evicts nothing before the join runs, and
    the appended output equals the batch interval self-join — which is why
    this streaming query carries a full DuckDB oracle."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", WATERMARK)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", WATERMARK)
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(JOIN_TOLERANCE)),
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


def streaming_interval_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: readStream -> two filtered stream views ->
    watermarked interval join -> memory sink (append; stream-stream inner
    join emits final rows only)."""
    out = streaming_interval_join(_events_stream(spark, sf_dir))
    return _run_to_memory_sink(spark, out, "ssjoin", "append")


def streaming_static_join(events: DataFrame, dim: DataFrame) -> DataFrame:
    """STATELESS stream-static enrichment join: each event row picks up its
    user's market segment from a static (batch) dimension — the canonical
    "enrich the live stream with a slowly-changing dim" shape, and the
    third streaming-join face beside the watermarked stream-stream interval
    join and the stateful sessionizer.

    Why it's the cheap one: the static side is not a stream, so there is NO
    join state to bound and NO watermark required — Spark re-plans the
    static side every micro-batch (which is also the refresh hook: a dim
    TABLE re-read per batch picks up slowly-changing updates). The explicit
    broadcast keeps each micro-batch a map-only stage over the arriving
    events — no shuffle of the stream at all. A dim too big to broadcast
    flips this to a shuffled join per batch; at that size pre-bucket the
    dim on the key (rel_bucketed_join's layout) so only the small batch
    side shuffles.

    Under availableNow on one file the whole stream arrives in one batch,
    so the appended output equals the batch equi-join — full DuckDB oracle."""
    ev = events.select("event_id", "user_id", "event_type", "value")
    d = dim.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    return ev.join(F.broadcast(d), "user_id").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("c_mktsegment").alias("mktsegment"),
        "value",
    )


def streaming_static_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: readStream events x static customer dim ->
    memory sink (append; stateless, so every row is final on arrival)."""
    dim = read_table(spark, sf_dir, "customer")
    out = streaming_static_join(_events_stream(spark, sf_dir), dim)
    return _run_to_memory_sink(spark, out, "ststatic", "append")
