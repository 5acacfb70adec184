"""Structured Streaming over the events table.

North-star extension (SURVEY.md §7 Phase 4). The reference is strictly
batch — one `run_mapred` per corpus (Master/Master.py:61-94) — so this
entire layer is new surface: tumbling/sliding windows, session windows,
watermark-gated append output, and stateful streaming dedup.

Harness shape: each query replays the parquet events table through a
real `readStream` file source into a memory sink, runs the stream to
completion (`processAllAvailable`), and returns the sink table. That
makes results deterministic, so every window query still gets a DuckDB
oracle — including the watermark query, whose late-data cutoff is
itself deterministic on a replayed stream (windows closed at final
watermark = max(ts) - delay).

Scale posture: windowed aggregations keep state per (window, key) —
bounded by watermarks in append mode; `complete` mode here is only for
the finite-replay harness, a production sink uses append/update.
Session windows merge per key; streaming dedup state is bounded by
`dropDuplicatesWithinWatermark`. File-source replay shards across
executors exactly like the batch scan, so the same plan serves Kafka at
cluster scale (swap the source, keep the DAG).
"""

from __future__ import annotations

import os
from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducegcp_spark.functions.exact import dsum, o_dec2, o_dsum
from mapreducegcp_spark.registry import register
from mapreducegcp_spark.session import fork
from mapreducegcp_spark.sources.catalog import load_table, table_schema

WATERMARK_DELAY = "10 minutes"
SESSION_GAP = "5 minutes"


def _table_stream(spark: SparkSession, sf_dir: str, leaf: str, schema) -> DataFrame:
    """File-source stream over ONE table of a scale-factor dir, for
    both fixture layouts: a single ``{leaf}`` parquet FILE (the driver
    fixtures) streams via a glob filter on the parent dir — the file
    source wants a directory, and the filter keeps sibling tables out —
    while a ``{leaf}/part-*.parquet`` DIRECTORY (production layout,
    tools/blowup_probe.py) streams from the directory itself. The glob
    filter tests LEAF file names, so pointing it at a multi-file layout
    would silently match nothing and replay an empty stream — the
    failure the isdir branch exists to prevent. The directory check
    goes through the Hadoop FileSystem API (not ``os.path``), so a
    remote sf_dir (hdfs://, s3a://, gs://) with the production layout
    takes the directory branch too; only if the filesystem cannot be
    reached does it fall back to the local check."""
    path = os.path.join(sf_dir, leaf)
    try:
        hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        is_dir = fs.getFileStatus(hpath).isDirectory()
    except Exception:  # noqa: BLE001 — unreachable FS/missing path: local fallback
        is_dir = os.path.isdir(path)
    if is_dir:
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", leaf)
        .parquet(sf_dir)
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a streaming DataFrame (file-source replay),
    built on ``stream_session(spark)``.

    Same nanos-timestamp handling as the batch path
    (sources/catalog.py): the file source needs an explicit schema, so
    reuse the batch reader's (ts as raw long), then truncate to micros
    with integer arithmetic. The caller's session needs neither
    timestamp conf (session.py, the fork rule).
    """
    spark = stream_session(spark)
    path = os.path.join(sf_dir, "events.parquet")
    sdf = _table_stream(spark, sf_dir, "events.parquet", table_schema(spark, path))
    if dict(sdf.dtypes).get("ts") == "bigint":
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return sdf


STREAM_SHUFFLE_PARTITIONS = 8


def stream_session(spark: SparkSession) -> SparkSession:
    """The fork (session.py) a stream is built on, with at most
    ``STREAM_SHUFFLE_PARTITIONS`` shuffle partitions; its memory-sink
    views stay in it.

    Every stateful operator materializes one state store per shuffle
    partition per micro-batch; at core-count partitions (32 here) the
    store open/commit overhead dominates small streams — measured 4x
    on the stream-stream join at sf0.1 (8.9s -> 2.2s). Production
    sizing tracks state volume / key cardinality, not core count, and
    is fixed at the FIRST checkpoint of a query's life; these replay
    harness queries start fresh each call, and results are
    partition-independent either way.
    """
    n = min(STREAM_SHUFFLE_PARTITIONS, int(spark.conf.get("spark.sql.shuffle.partitions")))
    return fork(spark, {"spark.sql.shuffle.partitions": str(n)})


# Progress of the most recent run_to_memory query, for tests and scale
# probes that need the state-operator metrics (state rows, RocksDB
# custom metrics) AFTER a registered stream query completes — the
# query object itself is stopped and gone by the time the fn returns.
LAST_PROGRESS: dict = {}


def _ephemeral_checkpoint(spark: SparkSession, name: str) -> str:
    """Checkpoint dir for one finite-replay query, on tmpfs when the
    driver's host has one and the master is ``local*``.

    These queries start fresh on every call and sink to memory/scratch,
    so their checkpoint (offset WAL + commit log + state files) is
    ephemeral BY DESIGN — Spark's default temp checkpoint under
    /tmp pays disk fsyncs per micro-batch for durability nothing ever
    reads back. Placing it on tmpfs removed ~0.7 s from the two-source
    stream-stream join (min 3.67 -> 2.97 over 3 alternating passes,
    every pass lower; offset/commit WAL x2 sources) and measured flat
    on single-source queries (measured round 13; RocksDB provider was
    also measured and REJECTED: 1.11 vs 0.94 s tumbling, 1.48 vs 1.29
    stateful — native-store overhead without enough state to amortize
    it). A production deployment with a restartable sink sets
    SPARK_GRAFT_STREAM_CKPT_ROOT to durable storage; that decision is
    an env conf, not a code shape.

    /dev/shm is a per-host path, and on a cluster a checkpointLocation
    must be storage the driver and every executor see, so any other
    master falls back to the temp dir and production points the env
    var at shared storage.

    The caller must remove the directory after stopping the query
    (explicit checkpointLocation opts out of Spark's temp-dir cleanup).
    """
    root = os.environ.get("SPARK_GRAFT_STREAM_CKPT_ROOT")
    if not root:
        import tempfile

        local = spark.sparkContext.master.startswith("local")
        root = "/dev/shm" if local and os.path.isdir("/dev/shm") else tempfile.gettempdir()
    return os.path.join(root, f"mapreducegcp_ckpt_{name}")


def run_to_memory(df: DataFrame, mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink.

    Replays the finite source, blocks until all data is processed
    (including the trailing no-data micro-batch that advances the
    watermark and flushes closed append-mode windows), stops the query,
    and returns the sink as a batch DataFrame. The final
    ``lastProgress`` dict (state-operator metrics included) is kept in
    ``LAST_PROGRESS`` for receipt tests.
    """
    import shutil

    name = f"mem_{uuid4().hex[:12]}"
    ckpt = _ephemeral_checkpoint(df.sparkSession, name)
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode(mode)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            LAST_PROGRESS.clear()
            if q.lastProgress:
                LAST_PROGRESS.update(q.lastProgress)
            q.stop()
    finally:
        # also when start() or stop() raises: Spark may already have
        # created the directory
        shutil.rmtree(ckpt, ignore_errors=True)
    # The returned frame holds the resolved sink plan, so the view can
    # go: the sink's rows then live only as long as that frame.
    sink = df.sparkSession.table(name)
    df.sparkSession.catalog.dropTempView(name)
    return sink


@register(
    "stream_tumbling_counts",
    oracle=f"""
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
       count(*) AS n, {o_dsum(o_dec2('value'))} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("streaming",),
)
def q_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows: count + exact sum per event_type.
    Complete-mode replay of the canonical streaming rollup."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    return run_to_memory(agg, "complete")


@register(
    "stream_sliding_value",
    oracle=f"""
WITH cand AS (
  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS window_start,
         event_type, value, ts
  FROM events
)
SELECT window_start, event_type, count(*) AS n,
       {o_dsum(o_dec2('value'))} AS total_value
FROM cand
WHERE ts >= window_start AND ts < window_start + INTERVAL 1 HOUR
GROUP BY 1, 2
""",
    tags=("streaming",),
)
def q_stream_sliding_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour long, 30-minute slide): every event lands
    in two overlapping windows. The oracle reproduces Spark's window
    assignment by expanding each row to its two candidate buckets."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    return run_to_memory(agg, "complete")


@register(
    "stream_session_windows",
    oracle=f"""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL {SESSION_GAP} THEN 0 ELSE 1 END AS new_session
  FROM events
),
numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP} AS session_end,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, session_no
""",
    tags=("streaming",),
)
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows: events within a 5-minute gap merge into one
    session per user; session end = last event + gap. The oracle is the
    classic lag/cumsum sessionization — identical semantics batch-side."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(agg, "complete")


@register(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming",),
)
def q_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: first occurrence of each
    (user_id, event_type) passes, later ones are dropped by keyed state.
    Projecting just the key makes the result order-insensitive and
    exactly the batch DISTINCT."""
    sdf = events_stream(spark, sf_dir)
    deduped = sdf.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    return run_to_memory(deduped, "append")


@register(
    "stream_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming",),
)
def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-state streaming dedup: ``dropDuplicatesWithinWatermark``
    evicts a key's dedup state once the watermark passes its event
    time + delay — the 100 TB form of stream_dedup_keys, whose plain
    ``dropDuplicates`` holds every key seen FOREVER (exact, but state
    grows with key cardinality for the stream's lifetime). Within the
    watermark window the semantics are identical; a duplicate arriving
    later than the delay re-emits, which is the documented contract
    (at-least-once dedup under bounded state) and the trade every
    production pipeline makes.

    On this finite single-file replay all rows share one micro-batch,
    so no state is evicted mid-stream and the result equals the batch
    DISTINCT — the oracle checks the exact-regime semantics while the
    plan carries the eviction machinery (EventTimeWatermark +
    DropDuplicatesWithinWatermark nodes, asserted on THIS builder's
    plan in tests/test_streaming.py)."""
    return run_to_memory(dedup_within_watermark_stream(spark, sf_dir), "append")


def dedup_within_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked-dedup streaming DataFrame itself — split out so
    the plan test asserts on the exact pipeline the registered query
    runs (a test-local replica could silently diverge)."""
    sdf = events_stream(spark, sf_dir)
    return (
        sdf.withWatermark("ts", WATERMARK_DELAY)
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


@register(
    "stream_watermark_append",
    oracle=f"""
WITH agg AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, count(*) AS n
  FROM events
  GROUP BY 1
)
SELECT window_start, n
FROM agg
WHERE window_start + INTERVAL 1 HOUR
      <= (SELECT max(ts) - INTERVAL {WATERMARK_DELAY} FROM events)
""",
    tags=("streaming",),
)
def q_stream_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode aggregation: windows emit only once the
    watermark (max event time - 10 min) passes their end; the still-open
    tail window is withheld. On a finite replay the final watermark is
    deterministic, so the oracle states the exact cutoff — this checks
    the late-data semantics themselves, not just the arithmetic."""
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    return run_to_memory(agg, "append")


STATE_SCHEMA = "n long, cents long"
_USER_STATS_SCHEMA = "user_id long, n_events long, total_cents long"


def make_user_stats_fn():
    """Custom stateful operator body for ``applyInPandasWithState``:
    per-user running (event count, exact value total in cents).

    Money stays integer (cents) inside the state so accumulation is
    exact and order-independent — the streaming analogue of the
    decimal-sum convention (functions/exact.py). Built as a closure so
    cloudpickle ships it by value (no package import on executors).
    """

    def update(key, pdf_iter, state):
        import numpy as np  # noqa: PLC0415 (executor-side import)
        import pandas as pd  # noqa: PLC0415 (executor-side import)

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            # round each ROW to cents before summing (matches the
            # oracle's per-row round exactly); rounding the float batch
            # sum instead would drift once accumulated error crosses
            # half a cent
            cents += int(
                np.rint(pdf["value"].to_numpy() * 100).astype("int64").sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    return update


@register(
    "stream_stateful_user_stats",
    oracle="""
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY user_id
""",
    tags=("streaming",),
)
def q_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via applyInPandasWithState: per-user
    running totals held in explicit keyed state, one emission per
    micro-batch in update mode. On the finite single-batch replay the
    last (only) emission per user equals the batch aggregate, so the
    query gets an exact oracle; multi-batch state carry-over is
    asserted separately in tests/test_streaming.py with a two-file
    replay. State size is O(users) x 16 bytes — at cluster scale this
    is RocksDB-backed and sharded by the groupBy key."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    sdf = events_stream(spark, sf_dir)
    stats = (
        sdf.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_user_stats_fn(),
            outputStructType=_USER_STATS_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(stats, "update")


@register(
    "stream_stream_join",
    oracle="""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       c.ts AS click_ts, p.ts AS purchase_ts
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
    tags=("streaming",),
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: purchases attributed to
    a same-user click in the preceding 30 minutes — the canonical
    attribution join. Both sides carry watermarks and the join
    condition bounds event-time distance, so each side's state store
    holds only a sliding ~40-minute window of rows (watermark delay +
    interval), not the whole stream; on the finite replay every match
    is emitted exactly once, making the batch join the exact oracle.

    Scale: state is sharded by the equi-key (user_id) across
    executors; the interval predicate is what permits state eviction —
    an unbounded-time stream-stream join would grow state forever.
    Both sides replay one events stream (one fork); Spark gives each
    side of the self-join its own file source."""
    events = events_stream(spark, sf_dir)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK_DELAY)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", WATERMARK_DELAY)
    )
    j = clicks.join(
        purchases,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
    return run_to_memory(j, "append")


@register(
    "stream_foreach_batch_sink",
    oracle=f"""
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
       count(*) AS n, {o_dsum(o_dec2('value'))} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("streaming",),
)
def q_stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production sink pattern: ``foreachBatch`` hands each
    micro-batch to arbitrary batch-writer code — here an idempotent
    parquet overwrite of the complete-mode aggregate, i.e. a
    continuously-refreshed materialized view. Same rollup as
    stream_tumbling_counts, so the final parquet equals the batch
    aggregate exactly (the oracle).

    Scale: foreachBatch is where streaming meets the batch writers —
    MERGE into a lakehouse table, bucketed/partitioned layouts
    (sources/formats.py), or transactional sinks; the epoch id is the
    idempotence key for exactly-once on retries."""
    import tempfile

    out = tempfile.mkdtemp(prefix="mapreducegcp_feb_")
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )

    def write_batch(bdf: DataFrame, epoch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(out)

    import shutil
    from uuid import uuid4 as _uuid4

    ckpt = _ephemeral_checkpoint(spark, f"feb_{_uuid4().hex[:12]}")
    try:
        q = (
            agg.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(out)


# ---------------------------------------------------- streaming CDC upsert

_CDC_STATE_SCHEMA = "ts_us long, event_id long, event_type string, value double"
_CDC_OUT_SCHEMA = (
    "user_id long, event_id long, ts_us long, event_type string, value double"
)


def make_cdc_latest_fn():
    """Stateful streaming upsert: keep only the (ts, event_id)-argmax
    row per key — the streaming twin of cdc_latest_snapshot's map-side
    argmax, with the argmax held in keyed state across micro-batches.
    Closure-built so cloudpickle ships it by value."""

    def update(key, pdf_iter, state):
        import pandas as pd  # noqa: PLC0415 (executor-side import)

        best = state.get if state.exists else None  # (ts_us, id, type, value)
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            # vectorized lexicographic argmax over (ts_us, event_id) —
            # one C-level sort per Arrow batch, no per-row Python
            r = pdf.loc[pdf.sort_values(["ts_us", "event_id"]).index[-1]]
            cand = (
                int(r["ts_us"]), int(r["event_id"]),
                str(r["event_type"]), float(r["value"]),
            )
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
        state.update(best)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_id": [best[1]],
                "ts_us": [best[0]],
                "event_type": [best[2]],
                "value": [best[3]],
            }
        )

    return update


@register(
    "stream_cdc_latest",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, ts_us, event_type, value
FROM ranked WHERE rn = 1
""",
    tags=("streaming",),
)
def q_stream_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming change-log compaction: applyInPandasWithState holds
    each key's latest (ts, event_id)-argmax row and re-emits it per
    micro-batch in update mode — exactly what a foreachBatch MERGE
    sink would apply to a serving table. On the finite replay the last
    emission per key equals the batch CDC snapshot, so the stream
    carries the same exact oracle as cdc_latest_snapshot; multi-batch
    carry-over rides the same state machinery as
    stream_stateful_user_stats (tested with a two-file replay there).
    State is one row per key — the minimum any upsert can hold."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    sdf = events_stream(spark, sf_dir)
    latest = (
        sdf.select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "event_type",
            "value",
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            make_cdc_latest_fn(),
            outputStructType=_CDC_OUT_SCHEMA,
            stateStructType=_CDC_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = run_to_memory(latest, "update")
    # The update-mode memory sink accumulates one emission per key per
    # micro-batch; collapse to each key's LAST emission so the result
    # is the final snapshot even when the replay splits into multiple
    # micro-batches (maxFilesPerTrigger, multi-file sources). Same
    # map-side argmax as the batch operator.
    return (
        sink.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.col("ts_us"),
                    F.col("event_id"),
                    F.col("event_type"),
                    F.col("value"),
                )
            ).alias("s")
        )
        .select(
            "user_id",
            F.col("s.event_id").alias("event_id"),
            F.col("s.ts_us").alias("ts_us"),
            F.col("s.event_type").alias("event_type"),
            F.col("s.value").alias("value"),
        )
    )


@register(
    "stream_ohlc_bars",
    oracle="""
WITH b AS (
  SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS window_start, value,
         row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL 1 HOUR, ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, time_bucket(INTERVAL 1 HOUR, ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close
FROM b
GROUP BY event_type, window_start
""",
    tags=("streaming",),
)
def q_stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars — the batch downsample
    (timeseries_ohlc_downsample) as a windowed streaming aggregate,
    proving the bar-building logic is ONE definition across batch and
    stream: min_by/max_by against the (ts, event_id) struct are
    order-AGNOSTIC aggregates (the selector key decides, not arrival
    order), so replaying the log through micro-batches yields the
    identical bar table the batch plan computes — which is exactly
    what the oracle asserts. At scale this is the live market-data /
    metrics rollup: watermark-bounded state per (series, hour),
    incremental bars in update mode; complete-mode replay here keeps
    the memory-sink check deterministic."""
    sdf = events_stream(spark, sf_dir)
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        sdf.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            "n_events",
            "open",
            "high",
            "low",
            "close",
        )
    )
    return run_to_memory(agg, "complete")


_KMV_STREAM_K = 64
_KMV_OUT_SCHEMA = "event_type string, est_users long, n_sketch int"


def make_kmv_distinct_fn():
    """Stateful KMV distinct-count sketch per key (see
    operators/sketches.py::sketch_kmv_set_cardinality for the math).

    The state is the k smallest md5-derived 48-bit hashes seen — a
    COMMUTATIVE, idempotent merge, so the estimate is identical
    however the stream splits into micro-batches or re-orders (unlike
    a fold statistic, no arrival-order sensitivity). Closure-local for
    by-value pickling."""

    def update(key, pdf_iter, state):
        import hashlib  # noqa: PLC0415 (executor-side import)

        import pandas as pd  # noqa: PLC0415

        hs = set(state.get[0]) if state.exists else set()
        for pdf in pdf_iter:
            for uid in pdf["user_id"].unique():
                hs.add(int(hashlib.md5(str(uid).encode()).hexdigest()[:12], 16))
        kept = sorted(hs)[:_KMV_STREAM_K]
        state.update((kept,))
        if len(kept) < _KMV_STREAM_K:
            est = len(kept)
        else:
            est = int((_KMV_STREAM_K - 1) * float(1 << 48) / kept[-1])
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "est_users": [est],
                "n_sketch": [len(kept)],
            }
        )

    return update


@register(
    "stream_kmv_distinct",
    oracle=f"""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) AS hv
  FROM events
  GROUP BY event_type, user_id
),
mins AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rnk
  FROM (SELECT DISTINCT event_type, hv FROM h)
)
SELECT event_type,
       CAST(CASE WHEN count(*) < {_KMV_STREAM_K} THEN count(*)
            ELSE CAST(floor(({_KMV_STREAM_K} - 1) * {float(1 << 48)} / max(hv)) AS BIGINT)
            END AS BIGINT) AS est_users,
       CAST(count(*) AS INT) AS n_sketch
FROM mins WHERE rnk <= {_KMV_STREAM_K}
GROUP BY event_type
""",
    tags=("streaming",),
)
def q_stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user sketch per event type: a KMV summary
    held in applyInPandasWithState — constant state per key (k longs)
    however many users flow past, the streaming twin of the batch
    theta-sketch operator. Because the sketch merge is commutative and
    idempotent, the final emission equals the batch-computed KMV
    EXACTLY (the oracle re-derives it as order statistics in SQL) —
    a deterministic estimate, not a tolerance band, surviving any
    micro-batch split of the stream. The update-mode sink holds one
    emission PER MICRO-BATCH; the final projection keeps each key's
    last sketch by its monotone invariants (n_sketch only grows;
    once full, the kth-min only shrinks so est_users only grows) —
    the returned TABLE is therefore split-invariant too, not just
    the final state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    sdf = events_stream(spark, sf_dir)
    sk = (
        sdf.select("event_type", "user_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            make_kmv_distinct_fn(),
            outputStructType=_KMV_OUT_SCHEMA,
            stateStructType="hs array<bigint>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    emissions = run_to_memory(sk, "update")
    return emissions.groupBy("event_type").agg(
        F.max("est_users").alias("est_users"),
        F.max("n_sketch").alias("n_sketch"),
    )


@register(
    "stream_static_enrich",
    oracle=f"""
SELECT time_bucket(INTERVAL 1 DAY, e.ts) AS day, c.c_mktsegment,
       count(*) AS n, {o_dsum(o_dec2('e.value'))} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY 1, 2
""",
    tags=("streaming",),
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: the purchase stream joined
    to the static customer table (broadcast), rolled up per day x
    market segment — the most common production streaming shape
    (enrich the fact stream with slowly-changing dims, aggregate).

    Scale: a stream-static broadcast join is stateless — each
    micro-batch hash-joins against the broadcast dim with NO streaming
    state and no watermark requirement (unlike the stream-stream join
    above, which must hold both sides' tails). The dim re-broadcasts
    per batch, so at 100 TB the dim stays the small side and a daily-
    refreshed snapshot is picked up on restart. Money folds in the
    decimal domain; results are micro-batch-split invariant."""
    sdf = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    cust = load_table(sdf.sparkSession, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        sdf.join(F.broadcast(cust), "user_id")
        .groupBy(F.window("ts", "1 day").alias("w"), "c_mktsegment")
        .agg(F.count("*").alias("n"), dsum("value").alias("total_value"))
        .select(F.col("w.start").alias("day"), "c_mktsegment", "n", "total_value")
    )
    return run_to_memory(agg, "complete")


@register(
    "stream_topk_users",
    oracle="""
SELECT event_type, user_id, n, rnk
FROM (
  SELECT event_type, user_id, count(*) AS n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY count(*) DESC, user_id) AS rnk
  FROM events
  GROUP BY event_type, user_id
)
WHERE rnk <= 3
""",
    tags=("streaming",),
)
def q_stream_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k serving pattern: the STREAM maintains only the
    commutative per-(type, user) counts (unbounded-window continuous
    aggregation — mergeable, order-free state); the top-3 ranking runs
    on the serving read of the continuously-updated result table.

    This split is the scale design, not a shortcut: a global rank
    inside the stream would need total ordering over all keys per
    micro-batch (and re-emission of every displaced row), while
    rank-on-read is one tiny window over the O(keys) aggregate table.
    Counts are integers and the tie-break is deterministic, so the
    served top-k is value-hash exact."""
    from pyspark.sql.window import Window

    sdf = events_stream(spark, sf_dir)
    counts = sdf.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    tbl = run_to_memory(counts, "complete")
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("user_id"))
    return (
        tbl.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("event_type", "user_id", "n", "rnk")
    )


# --------------------------- streaming MinHash-LSH bucket index


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a streaming DataFrame (file-source
    replay) on ``stream_session(spark)`` — the corpus arriving as a
    feed, the shape of continuous ingest dedup."""
    spark = stream_session(spark)
    path = os.path.join(sf_dir, "documents.parquet")
    schema = table_schema(spark, path)
    return _table_stream(spark, sf_dir, "documents.parquet", schema)


def _make_doc_minhash_udf(k_perms: int, mod: int):
    """Arrow-vectorized text -> k-min MinHash signature (or null for
    sub-3-token docs): tokenize (the reference contract — lower,
    [^a-z]+ to space, split, drop empties), distinct 3-shingles, md5
    per shingle, Kirsch–Mitzenmacher g_i = (h1 + i*h2) mod 2^32 as one
    (shingles x k) numpy outer product + column min.

    Why Python here when the batch path is columnar (operators/
    dedup.py minhash_signatures): the batch fold needs a groupBy —
    a SECOND streaming aggregation the engine forbids — and the pure
    higher-order-function per-row form keeps the whole tokenize/
    shingle tree inside one collapsed Project where Catalyst
    re-substitutes the tokenizer into every lambda element (measured
    34s at sf0.1 vs ~4s for this Arrow batch form). hashlib md5 of
    the same bytes is byte-identical to Spark/DuckDB md5, so the
    signatures still hash-match the batch oracle. h2*k < 2^37 keeps
    the arithmetic far from int64 overflow."""
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as SF
    from pyspark.sql.types import ArrayType, LongType

    ks = np.arange(k_perms, dtype=np.int64)
    pat = _re.compile("[^a-z]+")

    def doc_sig(text):
        out = []
        for t in text:
            toks = pat.sub(" ", (t or "").lower()).split()
            if len(toks) < 3:
                out.append(None)
                continue
            sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
            hs = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
                    for s in sh
                ),
                dtype=np.uint64,
                count=len(sh),
            )
            h1 = (hs >> np.uint64(32)).astype(np.int64)
            h2 = (hs & np.uint64(0xFFFFFFFF)).astype(np.int64)
            M = (h1[:, None] + h2[:, None] * ks[None, :]) % mod
            out.append(M.min(axis=0))
        return pd.Series(out)

    # real type objects, not strings: this module's `from __future__
    # import annotations` would stringify inline hints and break
    # pandas_udf's eval-type inference
    doc_sig.__annotations__ = {"text": pd.Series, "return": pd.Series}
    return SF.pandas_udf(doc_sig, ArrayType(LongType()))


def _lsh_index_oracle() -> str:
    from mapreducegcp_spark.operators.dedup import (
        _MOD,
        _SHINGLES,
        _TOKS,
        LSH_BANDS,
        MINHASH_K,
    )

    r = MINHASH_K // LSH_BANDS
    mins = ", ".join(
        f"MIN((h1 + {i}*h2) % {_MOD}) AS m{i}" for i in range(MINHASH_K)
    )
    banded = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, concat("
        + ", ',', ".join(f"m{b * r + j}" for j in range(r))
        + ") AS bucket FROM sig"
        for b in range(LSH_BANDS)
    )
    return f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM tk),
hh AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) AS h2
  FROM sh
),
sig AS (SELECT doc_id, {mins} FROM hh GROUP BY doc_id),
banded AS ({banded})
SELECT band, bucket, MIN(doc_id) AS first_doc,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM banded
GROUP BY band, bucket
HAVING COUNT(*) >= 2
"""


@register(
    "stream_lsh_bucket_index",
    oracle=_lsh_index_oracle(),
    tags=("streaming", "llm-pipeline"),
)
def q_stream_lsh_bucket_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup INDEX maintenance: documents arrive as a
    stream, each row maps to its 8 MinHash band buckets statelessly,
    and one streaming aggregation maintains (band, bucket) ->
    (first_doc, n_docs). Collision buckets (n_docs >= 2) ARE the
    near-dup candidate index — the continuous-ingest half of
    dedup_minhash_lsh, whose batch self-join becomes 'new doc joins
    the serving index' at ingest time.

    The signature must be computed WITHOUT the batch path's
    per-shingle groupBy (operators/dedup.py minhash_signatures):
    chaining two streaming aggregations is unsupported, so the whole
    signature stage runs as ONE Arrow ``pandas_udf`` over the text
    column (``_make_doc_minhash_udf``: tokenize, shingle, md5 and the
    k-min fold vectorized in numpy per batch — one md5 per shingle
    feeds all k permutations exactly like batch), keeping the stream
    single-stateful. State is O(distinct buckets), min/count are
    order-commutative, so the replayed result is deterministic and
    hash-matches the batch oracle. The >= 2 filter runs on the
    serving read (rank-on-read pattern, see stream_topk_users),
    keeping sink state exactly the index.

    Scale: per document the stream carries 8 (band, bucket) rows
    into the stateful exchange — constant per doc, independent of
    document size; at 100 TB/day ingest the same plan runs on a Kafka
    source with the memory sink swapped for the serving store."""
    from mapreducegcp_spark.operators.dedup import _MOD, LSH_BANDS, MINHASH_K

    r = MINHASH_K // LSH_BANDS
    docs = documents_stream(spark, sf_dir)
    # Whole signature stage as ONE Arrow pandas_udf (factory-scoped so
    # cloudpickle serializes the closure by VALUE instead of importing
    # this module on workers, which fails when the driver runs from an
    # arbitrary cwd): tokenize, shingle, md5, k-min fold per batch in
    # numpy. See _make_doc_minhash_udf for why the columnar batch
    # formulation can't be used inside a stream.
    doc_sig = _make_doc_minhash_udf(MINHASH_K, _MOD)
    folded = docs.select("doc_id", doc_sig("text").alias("sig")).where(
        F.col("sig").isNotNull()
    )
    sig = folded.select(
        "doc_id",
        *[F.element_at("sig", i + 1).alias(f"m{i}") for i in range(MINHASH_K)],
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"m{b * r + j}").cast("string") for j in range(r)]
                ).alias("bucket"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    banded = sig.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    index = banded.groupBy("band", "bucket").agg(
        F.min("doc_id").alias("first_doc"), F.count("*").alias("n_docs")
    )
    tbl = run_to_memory(index, "complete")
    return tbl.where(F.col("n_docs") >= 2)
