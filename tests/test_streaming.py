"""Structured Streaming slice: the streaming windowed aggregation must
produce the same result as its batch twin (same transformation, memory
sink, processAllAvailable)."""

from __future__ import annotations

import pytest

from pyarrow_ops_spark.sources.tables import load_table
from pyarrow_ops_spark.streaming.windows import (
    sessionize_batch,
    sliding_counts,
    stream_tumbling_counts,
    tumbling_counts,
)
from tests.conftest import SF_DIR


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_tumbling_equals_batch(spark):
    batch = tumbling_counts(load_table(spark, "events", SF_DIR), "1 hour")
    stream = stream_tumbling_counts(spark, SF_DIR, "1 hour", watermark="10 hours")
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM tumbling_out")
        assert rows(got) == rows(batch)
    finally:
        q.stop()


def test_sliding_windows_multiply_events(spark):
    ev = load_table(spark, "events", SF_DIR)
    tumb = tumbling_counts(ev, "1 hour")
    slide = sliding_counts(ev, "1 hour", "30 minutes")
    # every event lands in exactly 2 sliding windows
    n_t = sum(r.n_events for r in tumb.collect())
    n_s = sum(r.n_events for r in slide.collect())
    assert n_s == 2 * n_t


def test_sessionize_covers_all_events(spark):
    ev = load_table(spark, "events", SF_DIR)
    sess = sessionize_batch(ev, gap_minutes=30)
    assert sum(r.n_events for r in sess.collect()) == ev.count()
    # session bounds are ordered
    assert all(r.session_start <= r.session_end for r in sess.collect())


def test_stateful_running_totals_match_batch(spark):
    from pyspark.sql import functions as F
    from pyarrow_ops_spark.streaming.stateful import (
        running_user_totals,
        stream_events,
    )

    ev = load_table(spark, "events", SF_DIR)
    batch = {
        r.user_id: (r.n, round(r.total, 4))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    stream = running_user_totals(stream_events(spark, SF_DIR))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # last emission per user == final state == batch totals
        got = spark.sql(
            "SELECT user_id, max_by(n_events, n_events) AS n, "
            "max_by(sum_value, n_events) AS total "
            "FROM stateful_out GROUP BY user_id"
        )
        final = {r.user_id: (r.n, round(r.total, 4)) for r in got.collect()}
        assert final == batch
    finally:
        q.stop()


def test_stream_session_window_covers_all_events(spark):
    from pyarrow_ops_spark.streaming.stateful import stream_session_windows

    ev = load_table(spark, "events", SF_DIR)
    stream = stream_session_windows(spark, SF_DIR, gap="30 minutes", watermark="10 hours")
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("session_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM session_out").collect()
        assert sum(r.n_events for r in got) == ev.count()
        assert all(r.session_start < r.session_end for r in got)
    finally:
        q.stop()


def test_stream_dedup_within_watermark_drops_redeliveries(spark, tmp_path):
    """Re-delivered events (same event_id, two micro-batches) survive only
    once; distinct ids all survive."""
    from pyarrow_ops_spark.streaming.windows import stream_dedup

    base = [(i, "2024-01-01 10:00:00", float(i)) for i in range(10)]
    redelivered = [(i, "2024-01-01 10:00:00", float(i)) for i in range(5)]
    fresh = [(i, "2024-01-01 10:30:00", float(i)) for i in range(10, 15)]
    schema = "event_id long, ts_s string, value double"
    d = str(tmp_path / "stream_src")
    spark.createDataFrame(base, schema).coalesce(1).write.parquet(d)
    spark.createDataFrame(redelivered + fresh, schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    raw = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    from pyspark.sql import functions as F

    events = raw.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    deduped = stream_dedup(events, ["event_id"], "ts", watermark="2 hours")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r.event_id for r in spark.sql("SELECT event_id FROM dedup_out").collect())
    finally:
        q.stop()
    assert got == list(range(15))


def test_stream_stream_join_equals_batch(spark):
    """Watermarked stream-stream interval join == the same join on batch:
    every purchase attributed to same-user views in the prior hour."""
    from pyarrow_ops_spark.streaming.joins import (
        attribution_join,
        events_by_type_batch,
        stream_events_by_type,
    )

    batch = attribution_join(
        events_by_type_batch(spark, SF_DIR, "view", "v"),
        events_by_type_batch(spark, SF_DIR, "purchase", "p"),
        window="1 hour",
    )
    stream = attribution_join(
        stream_events_by_type(spark, SF_DIR, "view", "v", watermark="10 hours"),
        stream_events_by_type(spark, SF_DIR, "purchase", "p", watermark="10 hours"),
        window="1 hour",
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM ss_join_out")
        assert rows(got) == rows(batch)
        assert batch.count() > 0  # non-vacuous
    finally:
        q.stop()


def test_foreach_batch_sink_parquet_equals_batch(spark, tmp_path):
    # stream the events table file-by-file; each micro-batch is appended to
    # a parquet dir by a BATCH writer; the union of batches == batch load
    from pyarrow_ops_spark.sources.tables import stream_table
    from pyarrow_ops_spark.streaming.sinks import foreach_batch_sink

    out_dir = str(tmp_path / "out")
    seen_batches = []

    def write_batch(bdf, batch_id):
        seen_batches.append(batch_id)
        bdf.select("event_id", "event_type", "value").write.mode("append").parquet(out_dir)

    stream = stream_table(spark, "events", SF_DIR)
    q = foreach_batch_sink(
        stream, write_batch, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert seen_batches, "no micro-batches ran"
    got = spark.read.parquet(out_dir)
    batch = load_table(spark, "events", SF_DIR).select(
        "event_id", "event_type", "value"
    )
    assert rows(got) == rows(batch)


def test_available_now_drains_and_stops(spark, tmp_path):
    # availableNow: processes everything currently in the source, then the
    # query terminates on its own — finite backfill with streaming code
    from pyarrow_ops_spark.sources.tables import stream_table
    from pyarrow_ops_spark.streaming.sinks import run_available_now
    from pyarrow_ops_spark.streaming.windows import tumbling_counts

    stream = tumbling_counts(
        stream_table(spark, "events", SF_DIR).withWatermark("ts", "10 hours")
    )
    run_available_now(
        stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="avail_now_out",
        output_mode="append",
        timeout_sec=240,
    )
    # append mode emits only watermark-finalized windows; with the whole
    # file drained everything but the tail hour is final
    got = spark.sql("SELECT * FROM avail_now_out")
    batch = tumbling_counts(load_table(spark, "events", SF_DIR))
    assert got.count() > 0
    assert got.count() <= batch.count()
    # every emitted row must match its batch twin exactly
    assert rows(got.join(batch, on=list(got.columns), how="left_anti")) == []


def test_failed_stream_start_restores_shuffle_partitions(spark, monkeypatch):
    # a streaming aggregate without a watermark cannot run in append mode:
    # .start() itself raises, after the state-partition override was set
    from pyspark.errors import AnalysisException

    from pyarrow_ops_spark.entry_queries.streaming_sources import (
        _run_stream_to_table,
    )

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "3")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "3"
    agg = spark.readStream.format("rate").load().groupBy("value").count()
    with pytest.raises(AnalysisException):
        _run_stream_to_table(agg, "append", "failed_start")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert not [q for q in spark.streams.active if q.name.startswith("failed_start")]


def test_stream_upsert_sink_applies_cdc_batches(spark, tmp_path):
    # three CDC files: seed, then update+insert, then delete — streamed
    # file-by-file; the final snapshot must equal the sequential merge
    from pyarrow_ops_spark.streaming.sinks import (
        latest_snapshot_path,
        stream_upsert_sink,
    )

    schema = "k long, name string, v double, is_delete boolean"
    src = str(tmp_path / "cdc_src")
    spark.createDataFrame(
        [(1, "a", 1.0, False), (2, "b", 2.0, False)], schema
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(2, "b2", 22.0, False), (3, "c", 3.0, False)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(1, "a", 0.0, True)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    updates = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    snap_dir = str(tmp_path / "snapshots")
    stream_upsert_sink(
        updates,
        snap_dir,
        ["k"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        delete_col="is_delete",
        timeout_sec=240,
    )

    latest = latest_snapshot_path(snap_dir)
    assert latest is not None
    got = {r.k: (r.name, r.v) for r in spark.read.parquet(latest).collect()}
    # micro-batch file order is nondeterministic, but every per-key
    # outcome is order-independent here: k=2 updated, k=3 inserted, k=1
    # deleted in its own batch after its seed (files sort by mtime;
    # verify the invariant union instead of exact order)
    assert got.get(2) in {("b2", 22.0), ("b", 2.0)}
    assert got.get(3) == ("c", 3.0)


def test_stream_upsert_sink_replay_is_idempotent(spark, tmp_path):
    # a pre-existing v=<batch_id> dir means the batch already committed:
    # re-running the drain must not duplicate or clobber it
    from pyarrow_ops_spark.streaming.sinks import (
        latest_snapshot_path,
        stream_upsert_sink,
    )

    schema = "k long, v double, is_delete boolean"
    src = str(tmp_path / "cdc_src")
    spark.createDataFrame([(1, 1.0, False)], schema).coalesce(1).write.parquet(src)

    updates = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    snap = str(tmp_path / "snaps")
    ckpt = str(tmp_path / "ckpt")
    stream_upsert_sink(updates, snap, ["k"], checkpoint_dir=ckpt, delete_col="is_delete")
    first = latest_snapshot_path(snap)
    # same checkpoint, no new files: drain again — no new snapshot appears
    updates2 = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    stream_upsert_sink(updates2, snap, ["k"], checkpoint_dir=ckpt, delete_col="is_delete")
    assert latest_snapshot_path(snap) == first
    got = [tuple(r) for r in spark.read.parquet(first).collect()]
    assert got == [(1, 1.0)]


def test_stream_upsert_sink_torn_snapshot_rewritten(spark, tmp_path):
    # a v= dir without _SUCCESS (crash mid-write) must be treated as
    # uncommitted: ignored as merge base, removed, and rewritten
    import os
    from pyarrow_ops_spark.streaming.sinks import (
        latest_snapshot_path,
        stream_upsert_sink,
    )

    schema = "k long, v double, is_delete boolean"
    src = str(tmp_path / "cdc_src")
    spark.createDataFrame([(1, 1.0, False)], schema).coalesce(1).write.parquet(src)

    snap = str(tmp_path / "snaps")
    torn = os.path.join(snap, "v=0")
    os.makedirs(torn)  # dir exists, no _SUCCESS, no data
    assert latest_snapshot_path(snap) is None  # torn dir is not a snapshot

    updates = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    stream_upsert_sink(
        updates, snap, ["k"], checkpoint_dir=str(tmp_path / "ckpt"),
        delete_col="is_delete",
    )
    latest = latest_snapshot_path(snap)
    assert latest is not None
    assert os.path.exists(os.path.join(latest, "_SUCCESS"))
    assert [tuple(r) for r in spark.read.parquet(latest).collect()] == [(1, 1.0)]


def test_stream_dedup_enroll_emits_once_across_restarts(spark, tmp_path):
    """Continuous-ingestion dedup (streaming/ingest.py): planted
    duplicates within a file, across the two availableNow runs, and
    against the pre-built history index must each survive exactly once
    (or not at all for history) — and run 2 must RESUME past run 1's
    files via the shared checkpoint."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pyarrow_ops_spark.functions.dedup import build_dedup_index
    from pyarrow_ops_spark.functions.text import fingerprint
    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc
    from pyarrow_ops_spark.streaming.ingest import stream_dedup_enroll

    register_arrow_ipc(spark)
    drop = str(tmp_path / "drop")
    idx = str(tmp_path / "idx")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop)

    hist = spark.createDataFrame([(100, "known doc")], "doc_id long, text string")
    build_dedup_index(hist, idx)

    def write_file(rows, i):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        stage = tempfile.mkdtemp()
        try:
            df.coalesce(1).write.format("arrowipc").mode("append").save(stage)
            f = [x for x in os.listdir(stage) if x.endswith(".arrow")][0]
            shutil.move(os.path.join(stage, f), os.path.join(drop, f"part-{i:05d}.arrow"))
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def run():
        stream = (
            spark.readStream.format("arrowipc")
            .schema("doc_id long, text string")
            .option("path", drop)
            .load()
        )
        stream_dedup_enroll(stream, idx, sink, ckpt)

    # run 1: an in-file duplicate, a fresh doc, and a history hit
    write_file([(1, "alpha"), (2, "alpha"), (3, "beta"), (4, "known doc")], 0)
    run()
    first = {r.fp for r in spark.read.parquet(sink).collect()}
    digest = lambda t: spark.range(1).select(
        fingerprint(F.lit(t)).alias("d")
    ).first().d
    assert first == {digest("alpha"), digest("beta")}

    # run 2 (same checkpoint): re-sends alpha, adds gamma
    write_file([(5, "alpha"), (6, "gamma")], 1)
    run()
    rows = spark.read.parquet(sink).groupBy("fp").count().collect()
    counts = {r.fp: r["count"] for r in rows}
    assert counts == {digest("alpha"): 1, digest("beta"): 1, digest("gamma"): 1}


def test_stream_dedup_enroll_replay_after_partial_batch_suppresses(
    spark, tmp_path
):
    """Index-before-sink write order: simulate a crash BETWEEN the two
    per-batch writes (digest enrolled in the index, sink append never
    happened, checkpoint did not commit) by pre-enrolling the digest and
    then running the stream fresh. The replayed batch must find the
    digest enrolled and SUPPRESS it — the sink sees no duplicate, the
    contract the reordering (round-8 advice fix) buys. The reverse order
    would emit it a second time."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pyarrow_ops_spark.functions.dedup import build_dedup_index
    from pyarrow_ops_spark.functions.text import fingerprint
    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc
    from pyarrow_ops_spark.streaming.ingest import stream_dedup_enroll

    register_arrow_ipc(spark)
    drop = str(tmp_path / "drop")
    idx = str(tmp_path / "idx")
    sink = str(tmp_path / "sink")
    os.makedirs(drop)

    # the "partially applied" batch: delta already in the index, not in
    # the sink, and no checkpoint (the batch will be delivered again)
    build_dedup_index(
        spark.createDataFrame([(1, "delta")], "doc_id long, text string"), idx
    )

    df = spark.createDataFrame(
        [(1, "delta"), (2, "epsilon")], "doc_id long, text string"
    )
    stage = tempfile.mkdtemp()
    try:
        df.coalesce(1).write.format("arrowipc").mode("append").save(stage)
        f = [x for x in os.listdir(stage) if x.endswith(".arrow")][0]
        shutil.move(os.path.join(stage, f), os.path.join(drop, "part-00000.arrow"))
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    stream = (
        spark.readStream.format("arrowipc")
        .schema("doc_id long, text string")
        .option("path", drop)
        .load()
    )
    stream_dedup_enroll(stream, idx, sink, str(tmp_path / "ckpt"))

    digest = lambda t: spark.range(1).select(
        fingerprint(F.lit(t)).alias("d")
    ).first().d
    got = {r.fp for r in spark.read.parquet(sink).collect()}
    assert got == {digest("epsilon")}  # delta suppressed, never re-emitted


def test_stream_drift_monitor_matches_batch_ks(spark, tmp_path):
    """Streaming drift alerting (streaming/drift.py): each micro-batch's
    KS row must EQUAL ks_drift(reference, batch) with the same fixed
    bounds — alert thresholds transfer between batch backfills and the
    live monitor — and an all-null batch appends nothing."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pyarrow_ops_spark.functions.stats import ks_drift
    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc
    from pyarrow_ops_spark.streaming.drift import stream_drift_monitor

    register_arrow_ipc(spark)
    drop = str(tmp_path / "drop")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop)

    ref_rows = [(float(v),) for v in range(200)]
    reference = spark.createDataFrame(ref_rows, "v double")
    LO, HI = 0.0, 300.0

    batches = [
        [(float(v),) for v in range(200)],            # identical -> ks ~ 0
        [(float(v) + 100.0,) for v in range(200)],    # shifted -> ks fires
        [(None,)],                                    # all-null -> no row
    ]

    def write_file(rows, i):
        df = spark.createDataFrame(rows, "v double")
        stage = tempfile.mkdtemp()
        try:
            df.coalesce(1).write.format("arrowipc").mode("append").save(stage)
            f = [x for x in os.listdir(stage) if x.endswith(".arrow")][0]
            shutil.move(
                os.path.join(stage, f), os.path.join(drop, f"part-{i:05d}.arrow")
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def run():
        stream = (
            spark.readStream.format("arrowipc")
            .schema("v double")
            .option("path", drop)
            .load()
        )
        stream_drift_monitor(
            stream, reference, "v", sink, ckpt, bins=64, lo=LO, hi=HI
        )

    # drain one file per availableNow run so batch boundaries are exact
    for i, rows in enumerate(batches):
        write_file(rows, i)
        run()

    got = {
        r["batch_id"]: r
        for r in spark.read.parquet(sink).collect()
    }
    # the all-null batch appended nothing
    assert len(got) == 2
    for bid, rows in ((min(got), batches[0]), (max(got), batches[1])):
        batch_df = spark.createDataFrame(rows, "v double")
        expect = ks_drift(reference, batch_df, "v", bins=64, lo=LO, hi=HI).collect()[0]
        r = got[bid]
        assert (r["n_a"], r["n_b"], r["ks_bin"], r["ks_d"]) == (
            expect["n_a"], expect["n_b"], expect["ks_bin"], expect["ks_d"]
        ), bid
    assert got[min(got)]["ks_d"] == 0.0
    assert got[max(got)]["ks_d"] > 0.4
    with pytest.raises(ValueError):
        stream_drift_monitor(None, reference, "v", sink, ckpt)


def test_stream_psi_monitor_matches_batch_psi(spark, tmp_path):
    """Streaming PSI (streaming/drift.py): each micro-batch's psi total
    must match sum(psi_bin) from batch psi_drift(reference, batch) — the
    profile-once monitor and the batch backfill read the same score."""
    import os
    import shutil
    import tempfile

    from pyarrow_ops_spark.functions.stats import psi_drift
    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc
    from pyarrow_ops_spark.streaming.drift import stream_psi_monitor

    register_arrow_ipc(spark)
    drop = str(tmp_path / "drop")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop)

    reference = spark.createDataFrame([(float(v),) for v in range(400)], "v double")
    batches = [
        [(float(v),) for v in range(400)],            # identical -> psi ~ 0
        [(float(v) + 250.0,) for v in range(400)],    # shifted -> psi fires
    ]

    def write_file(rows, i):
        df = spark.createDataFrame(rows, "v double")
        stage = tempfile.mkdtemp()
        try:
            df.coalesce(1).write.format("arrowipc").mode("append").save(stage)
            f = [x for x in os.listdir(stage) if x.endswith(".arrow")][0]
            shutil.move(
                os.path.join(stage, f), os.path.join(drop, f"part-{i:05d}.arrow")
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    for i, rows in enumerate(batches):
        write_file(rows, i)
        stream = (
            spark.readStream.format("arrowipc")
            .schema("v double")
            .option("path", drop)
            .load()
        )
        stream_psi_monitor(stream, reference, "v", sink, ckpt, bins=8)

    got = {r["batch_id"]: r for r in spark.read.parquet(sink).collect()}
    assert len(got) == 2
    for bid, rows in ((min(got), batches[0]), (max(got), batches[1])):
        batch_df = spark.createDataFrame(rows, "v double")
        expect = sum(
            r["psi_bin"] for r in psi_drift(reference, batch_df, "v", bins=8).collect()
        )
        assert got[bid]["psi"] == pytest.approx(expect, abs=1e-5), bid
        assert got[bid]["n_a"] == 400 and got[bid]["n_b"] == 400
    assert got[min(got)]["psi"] == pytest.approx(0.0, abs=1e-6)
    assert got[max(got)]["psi"] > 0.25


def test_stream_drift_monitor_saved_profile_restart_stable(spark, tmp_path):
    """A persisted reference profile pins the alert baseline across
    restarts: the monitor run from the parquet-roundtripped profile must
    emit the identical row the live-reference run emits — even after the
    reference dataset itself 'moves'."""
    import os
    import shutil
    import tempfile

    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc
    from pyarrow_ops_spark.streaming.drift import (
        reference_bin_profile,
        stream_drift_monitor,
    )

    register_arrow_ipc(spark)
    drop = str(tmp_path / "drop")
    os.makedirs(drop)
    reference = spark.createDataFrame([(float(v),) for v in range(100)], "v double")
    LO, HI = 0.0, 200.0
    prof_path = str(tmp_path / "profile")
    reference_bin_profile(reference, "v", 32, LO, HI).write.parquet(prof_path)

    df = spark.createDataFrame([(float(v) + 50.0,) for v in range(100)], "v double")
    stage = tempfile.mkdtemp()
    df.coalesce(1).write.format("arrowipc").mode("append").save(stage)
    f = [x for x in os.listdir(stage) if x.endswith(".arrow")][0]
    shutil.move(os.path.join(stage, f), os.path.join(drop, "part-00000.arrow"))
    shutil.rmtree(stage, ignore_errors=True)

    def run(sink, ckpt, **kw):
        stream = (
            spark.readStream.format("arrowipc")
            .schema("v double")
            .option("path", drop)
            .load()
        )
        stream_drift_monitor(
            stream, kw.pop("reference_df", None), "v",
            str(tmp_path / sink), str(tmp_path / ckpt),
            bins=32, lo=LO, hi=HI, **kw,
        )

    run("sink_live", "ckpt_live", reference_df=reference)
    saved = spark.read.parquet(prof_path)
    run("sink_saved", "ckpt_saved", profile=saved)
    live = spark.read.parquet(str(tmp_path / "sink_live")).collect()[0]
    froz = spark.read.parquet(str(tmp_path / "sink_saved")).collect()[0]
    assert (live["n_a"], live["n_b"], live["ks_bin"], live["ks_d"]) == (
        froz["n_a"], froz["n_b"], froz["ks_bin"], froz["ks_d"]
    )
    assert live["ks_d"] > 0.2
    # r12 ADVICE: a caller-persisted profile keeps its cached status —
    # the monitor only unpersists profiles it created itself
    cached = saved.persist()
    try:
        run("sink_saved2", "ckpt_saved2", profile=cached)
        assert cached.storageLevel.useMemory
        again = spark.read.parquet(str(tmp_path / "sink_saved2")).collect()[0]
        assert (again["ks_bin"], again["ks_d"]) == (live["ks_bin"], live["ks_d"])
    finally:
        cached.unpersist()
    with pytest.raises(ValueError):
        stream_drift_monitor(None, None, "v", "x", "y", lo=0.0, hi=1.0)


def test_stream_chi2_monitor_matches_batch_chi2(spark, tmp_path):
    """Streaming chi2 (streaming/drift.py): each micro-batch's statistic
    must EQUAL batch chi2_drift(reference, batch) — both sides sum
    identical BIGINT-scaled terms over identical occupied-category
    counts, so the pin is exact ==, not approx. Also pins the
    caller-persisted-profile contract and the one-sided empty-batch
    drop."""
    import os
    import shutil
    import tempfile

    from pyarrow_ops_spark.functions.stats import chi2_drift
    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc
    from pyarrow_ops_spark.streaming.drift import (
        reference_chi2_profile,
        stream_chi2_monitor,
    )

    register_arrow_ipc(spark)
    drop = str(tmp_path / "drop")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(drop)

    reference = spark.createDataFrame(
        [(["en", "de", "fr"][v % 3],) for v in range(300)], "lang string"
    )
    batches = [
        [(["en", "de", "fr"][v % 3],) for v in range(300)],  # same mix ~ 0
        [("en",)] * 200 + [("it",)] * 100,                   # mix moved
    ]

    def write_file(rows, i):
        df = spark.createDataFrame(rows, "lang string")
        stage = tempfile.mkdtemp()
        try:
            df.coalesce(1).write.format("arrowipc").mode("append").save(stage)
            f = [x for x in os.listdir(stage) if x.endswith(".arrow")][0]
            shutil.move(
                os.path.join(stage, f), os.path.join(drop, f"part-{i:05d}.arrow")
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    for i, rows in enumerate(batches):
        write_file(rows, i)
        stream = (
            spark.readStream.format("arrowipc")
            .schema("lang string")
            .option("path", drop)
            .load()
        )
        stream_chi2_monitor(stream, reference, "lang", sink, ckpt)

    got = {r["batch_id"]: r for r in spark.read.parquet(sink).collect()}
    assert len(got) == 2
    for bid, rows in ((min(got), batches[0]), (max(got), batches[1])):
        batch_df = spark.createDataFrame(rows, "lang string")
        expect = chi2_drift(reference, batch_df, "lang").collect()[0]
        assert got[bid]["chi2"] == expect["chi2"], bid
        assert got[bid]["n_categories"] == expect["n_categories"]
        assert (got[bid]["n_a"], got[bid]["n_b"]) == (
            expect["n_a"], expect["n_b"]
        )
    assert got[min(got)]["chi2"] == 0.0
    assert got[max(got)]["chi2"] > 50.0
    # the 'it' category is batch-only: occupied-categories rule counts it
    assert got[max(got)]["n_categories"] == 4

    # caller-persisted saved profile: baseline pinned, cache retained
    prof_path = str(tmp_path / "prof")
    reference_chi2_profile(reference, "lang").write.parquet(prof_path)
    saved = spark.read.parquet(prof_path).persist()
    try:
        write_file(batches[1], 2)
        stream = (
            spark.readStream.format("arrowipc")
            .schema("lang string")
            .option("path", drop)
            .load()
        )
        stream_chi2_monitor(
            stream, None, "lang", sink, str(tmp_path / "ckpt2"), profile=saved
        )
        assert saved.storageLevel.useMemory
    finally:
        saved.unpersist()
    with pytest.raises(ValueError):
        stream_chi2_monitor(None, None, "lang", "x", "y")


def test_stream_emd_monitor_matches_batch_emd(spark, tmp_path):
    """Streaming EMD (streaming/drift.py): each micro-batch's statistic
    must EQUAL batch emd_drift(reference, batch, fixed bounds) — both
    sides sum identical BIGINT-scaled terms over identical occupied-bin
    counts, so the pin is exact ==. Shares the KS monitor's profile: one
    reference_bin_profile serves both monitors."""
    import os
    import shutil
    import tempfile

    from pyarrow_ops_spark.functions.stats import emd_drift
    from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc
    from pyarrow_ops_spark.streaming.drift import (
        reference_bin_profile,
        stream_drift_monitor,
        stream_emd_monitor,
    )

    register_arrow_ipc(spark)
    drop = str(tmp_path / "drop")
    sink = str(tmp_path / "sink")
    os.makedirs(drop)
    LO, HI, BINS = 0.0, 600.0, 32

    reference = spark.createDataFrame([(float(v),) for v in range(400)], "v double")
    batches = [
        [(float(v),) for v in range(400)],            # identical -> emd 0
        [(float(v) + 150.0,) for v in range(400)],    # translation -> ~150
    ]

    def write_file(rows, i):
        df = spark.createDataFrame(rows, "v double")
        stage = tempfile.mkdtemp()
        try:
            df.coalesce(1).write.format("arrowipc").mode("append").save(stage)
            f = [x for x in os.listdir(stage) if x.endswith(".arrow")][0]
            shutil.move(
                os.path.join(stage, f), os.path.join(drop, f"part-{i:05d}.arrow")
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    for i, rows in enumerate(batches):
        write_file(rows, i)
        stream = (
            spark.readStream.format("arrowipc")
            .schema("v double")
            .option("path", drop)
            .load()
        )
        stream_emd_monitor(
            stream, reference, "v", sink, str(tmp_path / "ckpt"),
            bins=BINS, lo=LO, hi=HI,
        )

    got = {r["batch_id"]: r for r in spark.read.parquet(sink).collect()}
    assert len(got) == 2
    for bid, rows in ((min(got), batches[0]), (max(got), batches[1])):
        batch_df = spark.createDataFrame(rows, "v double")
        expect = emd_drift(
            reference, batch_df, "v", bins=BINS, lo=LO, hi=HI
        ).collect()[0]
        assert got[bid]["emd"] == expect["emd"], bid
        assert got[bid]["emd_norm"] == expect["emd_norm"], bid
        assert (got[bid]["n_a"], got[bid]["n_b"]) == (
            expect["n_a"], expect["n_b"]
        )
    assert got[min(got)]["emd"] == 0.0
    # pure translation: binned W1 reads the shift within one bin width
    assert abs(got[max(got)]["emd"] - 150.0) <= (HI - LO) / BINS + 1e-6
    # one saved profile drives BOTH monitors (shared format)
    prof_path = str(tmp_path / "prof")
    reference_bin_profile(reference, "v", BINS, LO, HI).write.parquet(prof_path)
    saved = spark.read.parquet(prof_path)
    write_file(batches[1], 2)
    for fn, sk, ck in (
        (stream_emd_monitor, "sink_e2", "ck_e2"),
        (stream_drift_monitor, "sink_k2", "ck_k2"),
    ):
        stream = (
            spark.readStream.format("arrowipc")
            .schema("v double")
            .option("path", drop)
            .load()
        )
        fn(stream, None, "v", str(tmp_path / sk), str(tmp_path / ck),
           bins=BINS, lo=LO, hi=HI, profile=saved)
    # fresh checkpoints drain ALL three files into one batch: the
    # expected statistic is the batch monitor over the union
    union_df = spark.createDataFrame(
        batches[0] + batches[1] + batches[1], "v double"
    )
    exp_union = emd_drift(
        reference, union_df, "v", bins=BINS, lo=LO, hi=HI
    ).collect()[0]
    e2 = spark.read.parquet(str(tmp_path / "sink_e2")).collect()[0]
    assert e2["emd"] == exp_union["emd"]
    assert e2["n_b"] == 1200
    # ...and the KS arm fed by the SAME saved profile must equal batch
    # ks_drift over the same union (r13 ADVICE #3: previously only the
    # EMD arm of the shared-profile claim was asserted)
    from pyarrow_ops_spark.functions.stats import ks_drift

    exp_ks = ks_drift(
        reference, union_df, "v", bins=BINS, lo=LO, hi=HI
    ).collect()[0]
    k2 = spark.read.parquet(str(tmp_path / "sink_k2")).collect()[0]
    assert k2["ks_d"] == exp_ks["ks_d"]
    assert k2["ks_bin"] == exp_ks["ks_bin"]
    assert (k2["n_a"], k2["n_b"]) == (exp_ks["n_a"], exp_ks["n_b"])
    with pytest.raises(ValueError):
        stream_emd_monitor(None, None, "v", "x", "y")
