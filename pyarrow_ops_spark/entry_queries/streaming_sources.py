"""Structured Streaming rows (Arrow IPC bridge), sources/sinks,
persistent-index lifecycles.

Split from the former monolithic entry_queries.py (round 8); the
registry contract and driver-cap ordering live in the package
__init__.
"""
from __future__ import annotations

import pandas as pd  # module-level so stringified UDF type hints resolve

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from pyarrow_ops_spark.operators.filters import filters
from pyarrow_ops_spark.operators.dedup import drop_duplicates
from pyarrow_ops_spark.operators.group import groupby
from pyarrow_ops_spark.operators.join import join
from pyarrow_ops_spark.functions.jsons import str_to_table
from pyarrow_ops_spark.sources.tables import load_table

from pyarrow_ops_spark.entry_queries._registry import query
from pyarrow_ops_spark.entry_queries._shared import _cached_index




@query(
    "sources_partitioned_roundtrip",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def q_sources_partitioned_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hive-partitioned write/read certified end-to-end: events written
    ``partitionBy(event_type)`` into a content-keyed cache, read back
    with an IN-filter on the partition column, aggregated, and compared
    to the same aggregate over the original parquet. The partition
    column round-trips through directory names (value-to-string-to-value)
    and pruned directories are never opened — `test_sources` pins
    PartitionFilters in the plan; this row hash-pins the VALUES. At
    100 TB this layout is why a date/type filter costs only its slice of
    the corpus."""
    from pyarrow_ops_spark.sources.tables import read_source, write_sink

    events = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    part_dir = _cached_index(
        sf_dir,
        "part_events",
        "events",
        lambda d: write_sink(
            events, d, mode="overwrite", partition_by=["event_type"]
        ),
    )
    back = read_source(spark, part_dir)
    return (
        back.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )



@query(
    "sources_merge_schema",
    """
    WITH a AS (
        SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    b AS (
        SELECT o_orderkey, NULL AS o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    ),
    u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o_totalprice) AS BIGINT) AS n_with_price,
           CAST(count(o_orderpriority) AS BIGINT) AS n_with_priority,
           round(sum(o_totalprice), 2) AS sum_price
    FROM u
    """,
)
def q_sources_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift across parquet drops, handled at READ time: two
    generations of the orders table land in one directory with different
    columns (old files carry o_totalprice, new ones o_orderpriority);
    ``mergeSchema=true`` reads the union schema with NULLs where a file
    lacks a column. The aggregate pins row counts per column presence and
    the price sum, so a dropped generation, a misaligned column, or
    default-off mergeSchema silently reading one footer all
    hash-mismatch. This is the 100 TB reality of long-lived datasets —
    producers evolve schemas; readers must not require a rewrite."""
    import os

    orders = load_table(spark, "orders", sf_dir)

    def build(tmp: str) -> None:
        (
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .select("o_orderkey", "o_totalprice")
            .write.mode("append")
            .parquet(os.path.join(tmp, "gen=a"))
        )
        (
            orders.filter(F.col("o_orderkey") % 2 == 1)
            .select("o_orderkey", "o_orderpriority")
            .write.mode("append")
            .parquet(os.path.join(tmp, "gen=b"))
        )

    drop = _cached_index(sf_dir, "schema_drift", "orders", build)
    u = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(drop)
    return u.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("o_totalprice").cast("long").alias("n_with_price"),
        F.count("o_orderpriority").cast("long").alias("n_with_priority"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )



@query(
    "dedup_index_lifecycle",
    """
    WITH n AS (
        SELECT doc_id, n_chars,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM documents
    )
    SELECT doc_id, n_chars FROM n
    WHERE doc_id % 3 = 0
      AND t NOT IN (SELECT t FROM n WHERE doc_id % 4 IN (0, 1, 2))
    ORDER BY doc_id
    """,
)
def q_dedup_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED digest dedup index through its full incremental
    lifecycle: build over the historical corpus (doc_id % 4 in (0,1)),
    dedup a new batch (% 4 == 2) against it, persist the survivors, then
    ENROLL them (mode='append' + refreshByPath visibility), and finally
    dedup an ingest batch (% 3 == 0 — deliberately overlapping every
    enrolled class) against the appended index. Survivors must be
    exactly the % 4 == 3 members of the batch, so a broken append, a
    stale file-listing cache, or a leaky anti-join all hash-mismatch.
    The oracle replays the set algebra on normalized text (md5 of equal
    strings is equal; fingerprint() is md5 of the ws-normalized lower-
    cased text). Index state is 16 bytes/doc under /tmp, content-keyed
    by the source parquet fingerprint and atomically promoted
    (_cached_index). Parity: reference has no persisted index; extension
    per BASELINE.json, same lifecycle discipline as BM25/IVF."""
    import shutil
    import tempfile

    from pyarrow_ops_spark.functions.dedup import (
        build_dedup_index,
        dedup_against_index,
    )

    docs = load_table(spark, "documents", sf_dir)

    def build(tmp: str) -> None:
        hist = docs.filter((F.col("doc_id") % 4).isin(0, 1))
        build_dedup_index(hist, tmp)
        batch = docs.filter(F.col("doc_id") % 4 == 2)
        # dedup -> WRITE -> enroll the written rows (never a lazy plan)
        surv_dir = tempfile.mkdtemp(prefix="spark_graft_dedup_surv_")
        try:
            dedup_against_index(batch, tmp).write.mode("overwrite").parquet(
                surv_dir
            )
            build_dedup_index(
                spark.read.parquet(surv_dir), tmp, mode="append"
            )
        finally:
            shutil.rmtree(surv_dir, ignore_errors=True)

    idx = _cached_index(sf_dir, "dedup_digest", "documents", build)
    ingest = docs.filter(F.col("doc_id") % 3 == 0)
    return (
        dedup_against_index(ingest, idx)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )



@query(
    "arrow_ipc_roundtrip",
    """
    SELECT event_id, user_id, event_type, round(value, 4) AS value
    FROM events
    WHERE event_type = 'click' AND value > 10.0
    """,
)
def q_arrow_ipc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end certification of the Arrow IPC source: the events table
    is WRITTEN through the ``arrowipc`` sink (temp-then-rename commit,
    one file per partition) into a content-keyed /tmp cache, READ BACK
    through the ``arrowipc`` reader with vectorized filter pushdown ON
    (the predicate evaluates in pyarrow before the Arrow->JVM boundary),
    and compared against the same rows scanned from parquet by DuckDB —
    writer, commit protocol, reader, and pushdown semantics in one hash.
    Ref: the reference engine's native pyarrow.Table file world
    (pyarrow_ops/__init__.py), here as a Spark 4 Python DataSource."""
    from pyarrow_ops_spark.sources.arrow_ipc import (
        read_arrow_ipc,
        register_arrow_ipc,
    )

    register_arrow_ipc(spark)
    # plain sessions ship with Python-datasource filter pushdown off; the
    # pushdown reader is rejected outright unless this runtime conf is on
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    events = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    ipc_dir = _cached_index(
        sf_dir,
        "ipc_events",
        "events",
        lambda d: events.write.format("arrowipc").mode("append").save(d),
    )
    back = read_arrow_ipc(spark, ipc_dir, pushdown=True)
    return (
        back.filter((F.col("event_type") == "click") & (F.col("value") > 10.0))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 4).alias("value"),
        )
    )



@query(
    "streaming_tumbling_ipc",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_tumbling_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First DRIVER-certified streaming row: a real Structured Streaming
    run — ``readStream.format("arrowipc")`` over a monotonic-named IPC
    drop directory (4 files, so the enforced watermark-filename contract
    is exercised), event-time watermark, tumbling 1h windowed aggregation,
    ``trigger(availableNow)`` to a complete-mode memory sink — compared
    against the equivalent batch SQL in DuckDB. Complete mode emits every
    window (append would withhold the last, unfinalized ones), making the
    result deterministic and batch-equivalent. Timestamps travel as epoch
    micros (engine-neutral) and are rebuilt with timestamp_micros under
    the UTC session tz the loader pins, so window floors agree with
    DuckDB's time_bucket. The drop dir is content-keyed under /tmp and
    built once (_cached_index); each call runs a fresh streaming query
    with its own checkpoint. Ref: streaming is an extension surface
    (SURVEY §2.2) — the reference engine has no incremental execution."""
    from pyarrow_ops_spark.streaming.windows import tumbling_counts

    stream = (
        _ipc_stream(spark, sf_dir)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", "2 hours")
    )
    return _run_stream_to_table(
        tumbling_counts(stream, "1 hour"), "complete", "stream_tumbling"
    )



_IPC_DROP_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, "
    "value double, ts_us bigint"
)



def _ipc_stream_drop(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, content-keyed) the monotonic-named 4-file Arrow IPC
    drop directory the streaming certification rows read. The batch
    sink's part-<pid>-<uuid> names don't satisfy the stream reader's
    ordering contract, so each chunk is staged and renamed into the drop
    sequence."""
    import os
    import shutil
    import tempfile

    events = load_table(spark, "events", sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )

    def build(tmp: str) -> None:
        for i in range(4):
            stage = tempfile.mkdtemp(prefix="spark_graft_ipc_stage_")
            try:
                (
                    events.filter(F.col("event_id") % 4 == i)
                    .coalesce(1)
                    .write.format("arrowipc")
                    .mode("append")
                    .save(stage)
                )
                files = [f for f in os.listdir(stage) if f.endswith(".arrow")]
                assert len(files) == 1, files
                shutil.move(
                    os.path.join(stage, files[0]),
                    os.path.join(tmp, f"part-{i:05d}.arrow"),
                )
            finally:
                shutil.rmtree(stage, ignore_errors=True)

    return _cached_index(sf_dir, "ipc_stream_drop2", "events", build)



def _ipc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the shared certification drop dir."""
    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc

    register_arrow_ipc(spark)
    return (
        spark.readStream.format("arrowipc")
        .schema(_IPC_DROP_SCHEMA)
        .option("path", _ipc_stream_drop(spark, sf_dir))
        .load()
    )



def _run_stream_to_table(out: DataFrame, mode: str, prefix: str) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a
    uniquely-named memory sink and return the sink table.

    ``SPARK_GRAFT_STREAM_STATE_PARTITIONS`` (env, optional) pins
    ``spark.sql.shuffle.partitions`` for the duration of the run — the
    state-store partition count of a stateful query is frozen at
    checkpoint creation from that conf and AQE cannot coalesce it
    (stateful workloads disable AQE). The r15 A/B at the 10x point
    (benchmarks/streaming_state_ab_r15.py, two full runs, min per
    point) measured per-partition state-store fixed costs dominating at
    small state volume: stream-stream join 265k rows/s at 8 partitions
    vs 147k at 32 vs 67-151k at 64; tumbling agg 335k/272k/229k. The
    production rule is to size state partitions to state VOLUME
    (~100-200 MB each), never to a local core count — hence a knob with
    no default behavior change, not a hard-coded 8 tuned to this box."""
    import os
    import shutil
    import tempfile
    import uuid

    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"spark_graft_{prefix}_ckpt_")
    spark = out.sparkSession
    state_parts = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    prev_parts = None
    # one try around set, start and run: a start that fails (analysis
    # error, bad checkpoint) must not leak the override into the session
    try:
        if state_parts:
            prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", state_parts)
        (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        if prev_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out.sparkSession.table(name)



@query(
    "streaming_sessions_ipc",
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS ns
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts, value,
               sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_streaming_sessions_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based sessionization certified end-to-end: the
    built-in ``session_window`` (30 min gap) over the IPC drop stream,
    watermarked, complete-mode memory sink, ``availableNow``. The DuckDB
    oracle replays Spark's exact merge rule — a new session starts when
    the gap to the previous event is >= the gap duration (session ranges
    are end-EXCLUSIVE: an event at exactly last+gap does not merge) and
    every session's end is last_event + gap. Third streaming row, same
    batch-equivalence discipline as streaming_tumbling_ipc."""
    stream = (
        _ipc_stream(spark, sf_dir)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", "2 hours")
    )
    out = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return _run_stream_to_table(out, "complete", "stream_sessions")



@query(
    "streaming_sliding_ipc",
    """
    WITH shifted AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) - (k * INTERVAL '30 minutes') AS window_start,
               event_type, value
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
        WHERE ts < time_bucket(INTERVAL '30 minutes', ts) - (k * INTERVAL '30 minutes') + INTERVAL '1 hour'
    )
    SELECT window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM shifted GROUP BY 1, 2
    """,
)
def q_streaming_sliding_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth streaming row: SLIDING 1h/30m windows (every event lands in
    two windows) over the IPC drop stream — watermark, complete-mode
    memory sink, availableNow; oracle identical to the certified batch
    events_sliding_agg formulation. Completes the windowed-aggregation
    family (tumbling/sliding/session) under real streaming execution."""
    from pyarrow_ops_spark.streaming.windows import sliding_counts

    stream = (
        _ipc_stream(spark, sf_dir)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", "2 hours")
    )
    return _run_stream_to_table(
        sliding_counts(stream, "1 hour", "30 minutes"),
        "complete",
        "stream_sliding",
    )



@query(
    "streaming_dedup_ipc",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q_streaming_dedup_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication certified end-to-end: the same IPC drop
    dir as streaming_tumbling_ipc, ``dropDuplicates`` on the PROJECTED
    key columns (any kept row is then byte-identical, so the output is
    deterministic no matter how the source slices micro-batches),
    append-mode memory sink, ``trigger(availableNow)``. Oracle = batch
    DISTINCT. This is the exact-variant twin of the production
    ``stream_dedup`` (dropDuplicatesWithinWatermark, whose state is
    bounded by the watermark horizon but whose emissions depend on
    arrival order — certifiable only through the exact variant); state
    here grows with distinct keys, the documented trade for exactness."""
    deduped = (
        _ipc_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return _run_stream_to_table(deduped, "append", "stream_dedup")



@query(
    "streaming_join_ipc",
    """
    SELECT p.event_id AS p_event_id, c.event_id AS c_event_id,
           p.user_id AS user_id, p.ts AS p_ts, c.ts AS c_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts > p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    """,
)
def q_streaming_join_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM join certified end-to-end: two independent
    ``readStream.format("arrowipc")`` instances over the shared drop dir
    (purchases vs clicks), BOTH watermarked, joined on the user equi-key
    plus a 30-minute time-range condition — Spark plans
    StreamingSymmetricHashJoinExec and uses watermark + range bound to
    evict per-side state (bounded by rate x horizon, not stream length;
    see streaming/joins.py). Inner stream-stream joins emit matches as
    they form, so append mode + availableNow yields exactly the batch
    result; the oracle is the literal batch interval join in DuckDB —
    the streaming twin of the certified interval_join_attribution.
    Ref: streaming is an extension surface (SURVEY §2.2); the reference
    engine has no incremental execution."""

    def side(tag: str, etype: str) -> DataFrame:
        return (
            _ipc_stream(spark, sf_dir)
            .filter(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{tag}_event_id"),
                F.col("user_id").alias(f"{tag}_user_id"),
                F.timestamp_micros(F.col("ts_us")).alias(f"{tag}_ts"),
            )
            .withWatermark(f"{tag}_ts", "2 hours")
        )

    purchases = side("p", "purchase")
    clicks = side("c", "click")
    cond = (
        (purchases.p_user_id == clicks.c_user_id)
        & (clicks.c_ts > purchases.p_ts - F.expr("INTERVAL 30 MINUTES"))
        & (clicks.c_ts <= purchases.p_ts)
    )
    joined = purchases.join(clicks, cond, "inner").select(
        "p_event_id",
        "c_event_id",
        F.col("p_user_id").alias("user_id"),
        "p_ts",
        "c_ts",
    )
    return _run_stream_to_table(joined, "append", "stream_join")



@query(
    "streaming_stateful_timeout_ipc",
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS ns
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts, value,
               sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_streaming_stateful_timeout_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful sessionization with EVENT-TIME TIMEOUT state
    eviction — the one applyInPandasWithState feature the NoTimeout
    running-totals row can't exercise: per-key open-session state closes
    either when later same-key data proves a >= 30 min gap (final
    because the drop is TIME-ORDERED — the same quarter files as
    streaming_dedup_watermark_ipc) or when
    ``GroupStateTimeout.EventTimeTimeout`` fires after the watermark
    passes last_ts + gap (streaming/stateful.py:_update_sessions). The
    stream-end flush is driven deterministically by the sentinel
    pattern proven on the outer join: two sentinel files / three
    availableNow runs on one checkpoint, parquet-append sink, sentinels
    excluded at the result read. The emitted sessions replicate the
    certified built-in session_window merge rule, so the oracle is the
    SAME gap-sessionization SQL as streaming_sessions_ipc — built-in
    operator, custom stateful operator, and batch SQL all agree on one
    hash. State is O(open sessions); idle keys are evicted by the
    engine's timeout, not a scan."""
    import os
    import shutil
    import tempfile

    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc
    from pyarrow_ops_spark.streaming.stateful import (
        session_totals_event_timeout,
    )

    register_arrow_ipc(spark)
    events = load_table(spark, "events", sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )

    def write_file(df: DataFrame, drop: str, i: int) -> None:
        stage = tempfile.mkdtemp(prefix="spark_graft_sesst_stage_")
        try:
            df.coalesce(1).write.format("arrowipc").mode("append").save(stage)
            files = [f for f in os.listdir(stage) if f.endswith(".arrow")]
            assert len(files) == 1, files
            shutil.move(
                os.path.join(stage, files[0]),
                os.path.join(drop, f"part-{i:05d}.arrow"),
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def build(tmp: str) -> None:
        drop = os.path.join(tmp, "drop")
        ckpt = os.path.join(tmp, "ckpt")
        sink = os.path.join(tmp, "sink")
        os.makedirs(drop)

        def run() -> None:
            stream = (
                spark.readStream.format("arrowipc")
                .schema(_IPC_DROP_SCHEMA)
                .option("path", drop)
                .load()
                .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
                .withWatermark("ts", "2 hours")
            )
            q = (
                session_totals_event_timeout(stream)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        quartered = events.withColumn(
            "__q", F.ntile(4).over(W.orderBy("ts_us", "event_id")) - 1
        )
        for i in range(4):
            write_file(quartered.filter(F.col("__q") == i).drop("__q"), drop, i)
        run()
        max_us = events.agg(F.max("ts_us")).first()[0]
        for k, days in enumerate((3, 4)):
            sent = spark.createDataFrame(
                [
                    (10**12 + k, -1, "sentinel", 0.0,
                     max_us + days * 86_400 * 10**6),
                ],
                _IPC_DROP_SCHEMA,
            )
            write_file(sent, drop, 4 + k)
            run()
        # drop the streaming sink's _spark_metadata: it pins the
        # pre-promotion absolute paths (see streaming_join_outer_ipc)
        shutil.rmtree(os.path.join(sink, "_spark_metadata"), ignore_errors=True)

    state = _cached_index(sf_dir, "ipc_sess_timeout", "events", build)
    return spark.read.parquet(os.path.join(state, "sink")).filter(
        F.col("user_id") >= 0
    )



@query(
    "streaming_dedup_watermark_ipc",
    """
    SELECT DISTINCT user_id, event_type,
           date_trunc('hour', ts) AS hour
    FROM events
    """,
)
def q_streaming_dedup_watermark_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION bounded-state streaming dedup
    (``dropDuplicatesWithinWatermark`` — state tracks arrival rate ×
    horizon, not stream length) certified exactly, via a construction
    that pins its arrival-order-dependent semantics: the drop dir is
    TIME-ORDERED (4 files = consecutive event-time quarters, ntile over
    (ts, event_id)) and the dedup key embeds its own hour bucket, so any
    two same-key occurrences are < 1h apart — always inside the 2h
    horizon (state can't evict between them: the watermark trails the
    bucket by construction) and never late (event time only moves
    forward across files). The emission set is therefore EXACTLY
    DISTINCT (user, type, hour) no matter how availableNow slices
    micro-batches, and the kept row is byte-identical after projecting
    the bucket columns (the emitted row's ts is arrival-nondeterministic
    — it is projected away, the same discipline as streaming_dedup_ipc).
    This closes the r6 note that the watermark variant was 'certifiable
    only through the exact variant'. Ref: SURVEY §2.2 streaming gap;
    helper streaming/windows.py:102."""
    import os
    import shutil
    import tempfile

    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc
    from pyarrow_ops_spark.streaming.windows import stream_dedup

    register_arrow_ipc(spark)
    events = load_table(spark, "events", sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )

    def build(tmp: str) -> None:
        quartered = events.withColumn(
            "__q",
            F.ntile(4).over(W.orderBy("ts_us", "event_id")) - 1,
        )
        for i in range(4):
            stage = tempfile.mkdtemp(prefix="spark_graft_tsdrop_stage_")
            try:
                (
                    quartered.filter(F.col("__q") == i)
                    .drop("__q")
                    .coalesce(1)
                    .write.format("arrowipc")
                    .mode("append")
                    .save(stage)
                )
                files = [f for f in os.listdir(stage) if f.endswith(".arrow")]
                assert len(files) == 1, files
                shutil.move(
                    os.path.join(stage, files[0]),
                    os.path.join(tmp, f"part-{i:05d}.arrow"),
                )
            finally:
                shutil.rmtree(stage, ignore_errors=True)

    drop = _cached_index(sf_dir, "ipc_stream_drop_ts", "events", build)
    stream = (
        spark.readStream.format("arrowipc")
        .schema(_IPC_DROP_SCHEMA)
        .option("path", drop)
        .load()
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withColumn("hour", F.date_trunc("hour", F.col("ts")))
    )
    deduped = stream_dedup(
        stream, ["user_id", "event_type", "hour"], ts_col="ts", watermark="2 hours"
    ).select("user_id", "event_type", "hour")
    return _run_stream_to_table(deduped, "append", "stream_dedup_wm")



@query(
    "streaming_join_outer_ipc",
    """
    SELECT p.event_id AS p_event_id, c.event_id AS c_event_id,
           p.user_id AS user_id, p.ts AS p_ts, c.ts AS c_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts > p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    """,
)
def q_streaming_join_outer_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join, WATERMARK-FINALIZED to the exact
    batch result: unlike the inner variant (streaming_join_ipc), outer
    null-rows emit only when the global watermark proves no future match
    can arrive — so the flow drives the watermark deterministically past
    every real event with SENTINEL rows (user_id = -1, ts = max + 3/4
    days, one purchase + one click so BOTH sides' watermark nodes
    advance under the min policy) across THREE availableNow runs sharing
    one checkpoint: run 1 ingests the 4 real files (inner matches emit),
    run 2's sentinel batch evicts with run 1's checkpointed watermark
    (emitting most unmatched lefts), run 3's second sentinel gives the
    engine a data batch that applies run 2's sentinel-advanced watermark
    and flushes the tail. Sink is parquet-append (accumulates across
    runs); sentinels are excluded from the RESULT READ, not the stream —
    a pre-watermark filter would be pushed below the EventTimeWatermark
    node by Catalyst and the sentinels would never reach the event-time
    stats (measured: the watermark stays put and 3 rows never emit).
    Oracle = the literal batch LEFT JOIN. State bound: rate × horizon
    per side, same as the inner variant. Ref: streaming is an extension
    surface (SURVEY §2.2); the reference has no incremental execution."""
    import os
    import shutil
    import tempfile

    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc

    register_arrow_ipc(spark)
    events = load_table(spark, "events", sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )

    def write_file(df: DataFrame, drop: str, i: int) -> None:
        stage = tempfile.mkdtemp(prefix="spark_graft_outer_stage_")
        try:
            df.coalesce(1).write.format("arrowipc").mode("append").save(stage)
            files = [f for f in os.listdir(stage) if f.endswith(".arrow")]
            assert len(files) == 1, files
            shutil.move(
                os.path.join(stage, files[0]),
                os.path.join(drop, f"part-{i:05d}.arrow"),
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def build(tmp: str) -> None:
        drop = os.path.join(tmp, "drop")
        ckpt = os.path.join(tmp, "ckpt")
        sink = os.path.join(tmp, "sink")
        os.makedirs(drop)

        def run() -> None:
            def side(tag: str, etype: str) -> DataFrame:
                s = (
                    spark.readStream.format("arrowipc")
                    .schema(_IPC_DROP_SCHEMA)
                    .option("path", drop)
                    .load()
                    .filter(F.col("event_type") == etype)
                    .select(
                        F.col("event_id").alias(f"{tag}_event_id"),
                        F.col("user_id").alias(f"{tag}_user_id"),
                        F.timestamp_micros(F.col("ts_us")).alias(f"{tag}_ts"),
                    )
                )
                return s.withWatermark(f"{tag}_ts", "2 hours")

            p, c = side("p", "purchase"), side("c", "click")
            cond = (
                (p.p_user_id == c.c_user_id)
                & (c.c_ts > p.p_ts - F.expr("INTERVAL 30 MINUTES"))
                & (c.c_ts <= p.p_ts)
            )
            j = p.join(c, cond, "left_outer").select(
                "p_event_id",
                "c_event_id",
                F.col("p_user_id").alias("user_id"),
                "p_ts",
                "c_ts",
            )
            q = (
                j.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        for i in range(4):
            write_file(events.filter(F.col("event_id") % 4 == i), drop, i)
        run()
        max_us = events.agg(F.max("ts_us")).first()[0]
        for k, days in enumerate((3, 4)):
            sent = spark.createDataFrame(
                [
                    (10**12 + 2 * k, -1, "purchase", 0.0,
                     max_us + days * 86_400 * 10**6),
                    (10**12 + 2 * k + 1, -1, "click", 0.0,
                     max_us + days * 86_400 * 10**6),
                ],
                _IPC_DROP_SCHEMA,
            )
            write_file(sent, drop, 4 + k)
            run()
        # the streaming parquet sink's _spark_metadata log records the
        # ABSOLUTE paths of this pre-promotion build dir; after
        # _cached_index's atomic rename those paths are dead and the
        # metadata-aware reader fails. All runs terminated cleanly, so
        # every data file is committed — drop the log and read the sink
        # as a plain parquet directory.
        shutil.rmtree(os.path.join(sink, "_spark_metadata"), ignore_errors=True)

    state = _cached_index(sf_dir, "ipc_outer", "events", build)
    return spark.read.parquet(os.path.join(state, "sink")).filter(
        F.col("user_id") >= 0
    )



@query(
    "streaming_stateful_ipc",
    """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def q_streaming_stateful_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL streaming certified end-to-end:
    ``applyInPandasWithState`` running per-user (count, sum) totals over
    the IPC drop stream — arbitrary keyed state carried across
    micro-batches, the extension point beyond built-in windowed aggs
    (streaming/stateful.py). Update-mode memory sink: every micro-batch
    appends the touched keys with their NEW running totals, so the final
    totals per user are the rows with the maximal n_events (running
    counts are monotone). That aggregation-over-the-sink makes the
    result independent of how availableNow slices the drop into batches;
    oracle = the batch GROUP BY. State is O(distinct users), not O(rows)
    — the 100 TB story documented in streaming/stateful.py."""
    from pyarrow_ops_spark.streaming.stateful import running_user_totals

    stream = _ipc_stream(spark, sf_dir).select("user_id", "value")
    sink = _run_stream_to_table(
        running_user_totals(stream), "update", "stream_stateful"
    )
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("sum_value"),
    )



@query(
    "streaming_dedup_index_ipc",
    r"""
    WITH n AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest
        FROM documents
    )
    SELECT DISTINCT digest, CAST(1 AS BIGINT) AS n_emits
    FROM n
    WHERE digest NOT IN (SELECT digest FROM n WHERE doc_id % 5 = 0)
    """,
)
def q_streaming_dedup_index_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS-INGESTION dedup certified end-to-end: a documents drop
    stream runs through foreachBatch dedup-against-the-PERSISTED-digest-
    index with batch-by-batch enroll (streaming/ingest.py), across TWO
    sequential availableNow runs sharing ONE checkpoint — files
    part-00000/1 land before run 1, part-00002/3 before run 2, so run 2
    must resume past run 1's source offset AND dedup against the digests
    run 1 enrolled. The history index is pre-built from doc_id % 5 == 0
    (whose members also flow through the stream — the overlap is the
    test). Output is the surviving digest set with emission counts: a
    broken enroll, a stale file-listing cache, a leaky anti-join, or a
    checkpoint that re-emits run-1 survivors all produce n_emits = 2 (or
    a missing/extra digest) and hash-mismatch; a digest emits at most
    once NO MATTER how availableNow slices batches, so the result is
    slicing-independent by construction. Re-delivered input is absorbed
    by the same anti-join — exactly-once EFFECT over at-least-once
    delivery, the property that makes a 100 TB ingest restartable.
    Ref: no streaming, no persisted index in the reference (SURVEY
    §2.2); this composes the two certified extension lifecycles
    (dedup_index_lifecycle + the IPC streaming bridge)."""
    import os
    import shutil
    import tempfile

    from pyarrow_ops_spark.functions.dedup import build_dedup_index
    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc
    from pyarrow_ops_spark.streaming.ingest import stream_dedup_enroll

    register_arrow_ipc(spark)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")

    def write_file(subset: DataFrame, drop: str, i: int) -> None:
        stage = tempfile.mkdtemp(prefix="spark_graft_docs_stage_")
        try:
            subset.coalesce(1).write.format("arrowipc").mode("append").save(
                stage
            )
            files = [f for f in os.listdir(stage) if f.endswith(".arrow")]
            assert len(files) == 1, files
            shutil.move(
                os.path.join(stage, files[0]),
                os.path.join(drop, f"part-{i:05d}.arrow"),
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def build(tmp: str) -> None:
        drop = os.path.join(tmp, "drop")
        idx = os.path.join(tmp, "idx")
        sink = os.path.join(tmp, "sink")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(drop)
        build_dedup_index(docs.filter(F.col("doc_id") % 5 == 0), idx)

        def run() -> None:
            stream = (
                spark.readStream.format("arrowipc")
                .schema("doc_id bigint, text string")
                .option("path", drop)
                .load()
            )
            stream_dedup_enroll(stream, idx, sink, ckpt)

        for i in (0, 1):
            write_file(docs.filter(F.col("doc_id") % 4 == i), drop, i)
        run()
        for i in (2, 3):
            write_file(docs.filter(F.col("doc_id") % 4 == i), drop, i)
        run()

    state = _cached_index(sf_dir, "ingest_dedup", "documents", build)
    return (
        spark.read.parquet(os.path.join(state, "sink"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_emits"))
        .select(F.col("fp").alias("digest"), "n_emits")
        .orderBy("digest")
    )


@query(
    "streaming_drift_monitor_ipc",
    """
    WITH u AS (
        SELECT 1 AS g, CAST(n_chars AS DOUBLE) AS v, 0 AS s FROM documents
        WHERE doc_id % 3 = 0 AND n_chars IS NOT NULL
        UNION ALL
        SELECT 2 AS g, CAST(n_chars AS DOUBLE) AS v, 0 AS s FROM documents
        WHERE doc_id % 3 = 0 AND n_chars IS NOT NULL
        UNION ALL
        SELECT 1 AS g, CAST(n_chars AS DOUBLE) AS v, 1 AS s FROM documents
        WHERE doc_id % 3 = 1 AND n_chars IS NOT NULL
        UNION ALL
        SELECT 2 AS g, CAST(n_chars AS DOUBLE) AS v, 1 AS s FROM documents
        WHERE doc_id % 3 = 2 AND n_chars IS NOT NULL
    ),
    b AS (SELECT g,
                 greatest(0, least(63,
                     CAST(floor((v - 0.0) * 64 / (2000.0 - 0.0)) AS BIGINT)))
                     AS bin, s
          FROM u),
    c AS (SELECT g, bin,
                 sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS ca,
                 sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS cb
          FROM b GROUP BY g, bin),
    gg AS (SELECT g, bin,
                  sum(ca) OVER (PARTITION BY g ORDER BY bin) AS cuma,
                  sum(cb) OVER (PARTITION BY g ORDER BY bin) AS cumb,
                  sum(ca) OVER (PARTITION BY g) AS na,
                  sum(cb) OVER (PARTITION BY g) AS nb
           FROM c),
    d AS (SELECT g, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                 CAST(bin AS INT) AS ks_bin,
                 round(abs(CAST(cuma AS DOUBLE) / na
                           - CAST(cumb AS DOUBLE) / nb), 6) AS ks_d,
                 row_number() OVER (PARTITION BY g
                     ORDER BY round(abs(CAST(cuma AS DOUBLE) / na
                               - CAST(cumb AS DOUBLE) / nb), 6) DESC, bin)
                     AS rn
          FROM gg WHERE na > 0 AND nb > 0)
    SELECT CAST(g - 1 AS BIGINT) AS batch_id, n_a, n_b, ks_bin, ks_d
    FROM d WHERE rn = 1
    """,
)
def q_streaming_drift_monitor_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS drift alerting certified end-to-end: the KS stream
    monitor (streaming/drift.py) runs over a documents drop stream in
    TWO sequential availableNow runs sharing ONE checkpoint — file
    part-00000 (doc_id % 3 == 1) lands before run 1, part-00001
    (doc_id % 3 == 2) before run 2, so run 2 must resume past run 1's
    offset and score ONLY its own batch. Each run appends one
    (batch_id, n_a, n_b, ks_bin, ks_d) row: the per-batch statistic is
    pytest-pinned identical to batch ks_drift(reference, batch) under
    the monitor's REQUIRED fixed bounds (lo=0, hi=2000 here — production
    monitors pin bin edges to the reference distribution, which is also
    what makes the oracle expressible as two independent batch-KS arms
    with literal bounds). One IPC file per run = one micro-batch by the
    simple-stream contract (each poll returns everything new), so the
    sink is slicing-independent; replays of a deterministic row are
    absorbed by the distinct(). The reference reduces ONCE per run to a
    <=64-row binned profile — the stream never rescans it, monitor state
    is O(bins), the property that makes the monitor viable against a
    100 TB reference. Ref: no streaming in the reference (SURVEY §2.2);
    this composes two certified pieces (batch ks_drift + the IPC
    streaming bridge)."""
    import os
    import shutil
    import tempfile

    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc
    from pyarrow_ops_spark.streaming.drift import stream_drift_monitor

    register_arrow_ipc(spark)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    reference = docs.filter(F.col("doc_id") % 3 == 0)

    def write_file(subset: DataFrame, drop: str, i: int) -> None:
        stage = tempfile.mkdtemp(prefix="spark_graft_drift_stage_")
        try:
            subset.coalesce(1).write.format("arrowipc").mode("append").save(
                stage
            )
            files = [f for f in os.listdir(stage) if f.endswith(".arrow")]
            assert len(files) == 1, files
            shutil.move(
                os.path.join(stage, files[0]),
                os.path.join(drop, f"part-{i:05d}.arrow"),
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def build(tmp: str) -> None:
        drop = os.path.join(tmp, "drop")
        sink = os.path.join(tmp, "sink")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(drop)
        for i, m in enumerate((1, 2)):
            write_file(docs.filter(F.col("doc_id") % 3 == m), drop, i)
            stream = (
                spark.readStream.format("arrowipc")
                .schema("doc_id bigint, n_chars bigint")
                .option("path", drop)
                .load()
            )
            stream_drift_monitor(
                stream, reference, "n_chars", sink, ckpt,
                bins=64, lo=0.0, hi=2000.0,
            )

    state = _cached_index(sf_dir, "drift_monitor", "documents", build)
    return (
        spark.read.parquet(os.path.join(state, "sink"))
        .select("batch_id", "n_a", "n_b", "ks_bin", "ks_d")
        .distinct()
    )


@query(
    "streaming_chi2_monitor_ipc",
    """
    WITH u AS (
        SELECT 1 AS g, CAST(lang AS VARCHAR) AS cat, 0 AS s FROM documents
        WHERE doc_id % 3 = 0 AND lang IS NOT NULL
        UNION ALL
        SELECT 2 AS g, CAST(lang AS VARCHAR) AS cat, 0 AS s FROM documents
        WHERE doc_id % 3 = 0 AND lang IS NOT NULL
        UNION ALL
        SELECT 1 AS g, CAST(lang AS VARCHAR) AS cat, 1 AS s FROM documents
        WHERE doc_id % 3 = 1 AND lang IS NOT NULL
        UNION ALL
        SELECT 2 AS g, CAST(lang AS VARCHAR) AS cat, 1 AS s FROM documents
        WHERE doc_id % 3 = 2 AND lang IS NOT NULL
    ),
    c AS (SELECT g, cat,
                 sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS ca,
                 sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS cb
          FROM u GROUP BY g, cat),
    t AS (SELECT g, cat, ca, cb,
                 sum(ca) OVER (PARTITION BY g) AS na,
                 sum(cb) OVER (PARTITION BY g) AS nb
          FROM c),
    f AS (SELECT * FROM t WHERE na > 0 AND nb > 0),
    x AS (SELECT g, na, nb,
                 CAST(floor(
                   ( ((ca - (CAST(na AS DOUBLE) * (ca + cb)) / (na + nb))
                      * (ca - (CAST(na AS DOUBLE) * (ca + cb)) / (na + nb)))
                     / ((CAST(na AS DOUBLE) * (ca + cb)) / (na + nb))
                   + ((cb - (CAST(nb AS DOUBLE) * (ca + cb)) / (na + nb))
                      * (cb - (CAST(nb AS DOUBLE) * (ca + cb)) / (na + nb)))
                     / ((CAST(nb AS DOUBLE) * (ca + cb)) / (na + nb))
                   ) * 1000000000.0) AS BIGINT) AS ci
          FROM f)
    SELECT CAST(g - 1 AS BIGINT) AS batch_id,
           CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
           CAST(count(*) AS BIGINT) AS n_categories,
           round(CAST(sum(ci) AS DOUBLE) / 1000000000.0, 6) AS chi2
    FROM x GROUP BY g
    HAVING max(na) IS NOT NULL
    """,
)
def q_streaming_chi2_monitor_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS categorical drift alerting certified end-to-end — the
    chi-squared mirror of the certified KS row streaming_drift_monitor_ipc:
    the chi2 stream monitor (streaming/drift.py:stream_chi2_monitor) runs
    over a documents drop stream in TWO sequential availableNow runs
    sharing ONE checkpoint — file part-00000 (doc_id % 3 == 1) lands
    before run 1, part-00001 (doc_id % 3 == 2) before run 2, so run 2
    must resume past run 1's offset and score ONLY its own batch. Each
    run appends one (batch_id, n_a, n_b, n_categories, chi2) row; the
    per-batch statistic is pytest-pinned identical to batch
    chi2_drift(reference, batch) (tests/test_streaming.py::
    test_stream_chi2_monitor_matches_batch_chi2), which is what makes the
    oracle expressible as two independent batch-chi2 arms. The reference
    reduces ONCE per run to its |categories|-bounded count profile — the
    stream never rescans it, monitor state is O(|categories|), the
    property that makes the monitor viable against a 100 TB reference.
    One IPC file per run = one micro-batch by the simple-stream contract;
    replays of a deterministic row are absorbed by the distinct(). Ref:
    no streaming in the reference (SURVEY §2.2); composes two certified
    pieces (batch chi2_drift + the IPC streaming bridge)."""
    import os
    import shutil
    import tempfile

    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc
    from pyarrow_ops_spark.streaming.drift import stream_chi2_monitor

    register_arrow_ipc(spark)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    reference = docs.filter(F.col("doc_id") % 3 == 0)

    def write_file(subset: DataFrame, drop: str, i: int) -> None:
        stage = tempfile.mkdtemp(prefix="spark_graft_chi2_stage_")
        try:
            subset.coalesce(1).write.format("arrowipc").mode("append").save(
                stage
            )
            files = [f for f in os.listdir(stage) if f.endswith(".arrow")]
            assert len(files) == 1, files
            shutil.move(
                os.path.join(stage, files[0]),
                os.path.join(drop, f"part-{i:05d}.arrow"),
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def build(tmp: str) -> None:
        drop = os.path.join(tmp, "drop")
        sink = os.path.join(tmp, "sink")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(drop)
        for i, m in enumerate((1, 2)):
            write_file(docs.filter(F.col("doc_id") % 3 == m), drop, i)
            stream = (
                spark.readStream.format("arrowipc")
                .schema("doc_id bigint, lang string")
                .option("path", drop)
                .load()
            )
            stream_chi2_monitor(stream, reference, "lang", sink, ckpt)

    state = _cached_index(sf_dir, "chi2_monitor", "documents", build)
    return (
        spark.read.parquet(os.path.join(state, "sink"))
        .select("batch_id", "n_a", "n_b", "n_categories", "chi2")
        .distinct()
    )
