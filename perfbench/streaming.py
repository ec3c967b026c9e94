"""``streaming`` workload: a tumbling-window aggregation and a
stream-stream interval join over one Arrow IPC drop directory.

Both queries start once per run (in the cold op) through
``foreach_batch_sink`` with fresh checkpoints and keep running. One op
uses the next slice of the seeded event stream:

- drain: the slice's backlog burst lands at once; ``rows_per_s`` is its
  rows over the time until both queries have consumed it;
- paced: the generator (open loop) drops the slice's paced files at
  irregular times (mean gap ``MEAN_GAP_S``, see ``schedule``), however
  far the queries lag. Irregular gaps keep arrivals from locking in step
  with the queries' trigger cycle, so the latency samples cover every
  phase of it instead of the one a fixed tick happens to hit. A file's
  latency runs from its scheduled time to the end of the last trigger
  (of the two queries) that consumed it, sink and commit included.

The cold op starts the queries, drains slice 0's small burst and drops
its first paced file (no late rows) at once. Late rows first arrive in
the next op, when the watermark a batch filters them with (the previous
batch's) already covers the cold burst.

Paced files carry a late share an hour behind the event-time front, which
the watermark always drops. The oracle is DuckDB over the on-time events:
the join pairs whose later event arrived in this op's files, and the
windows whose end the watermark passed during this op.
"""

from __future__ import annotations

import ast
import datetime as dt
import glob
import json
import os
import shutil
import time

from checks import ToHash, checksum_rows
from gen import OUT_OF_ORDER_MAX_S, WARMUP_DIV, file_front_us

MEAN_GAP_S = 1.0  # paced rate: one file of PACED_EVENTS_PER_FILE events per gap
WINDOW = "1 minute"
WATERMARK = "2 minutes"
JOIN_WINDOW_S = 10
CATCH_UP_TIMEOUT_S = 60

AGG_COLS = ["window_start", "event_type", "n_events", "sum_value"]
JOIN_COLS = ["user_id", "v_event_id", "p_event_id", "v_ts", "p_ts"]


def _ts(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _file(offset) -> str:
    """Newest file name in a source offset (a dict, or its repr)."""
    if isinstance(offset, str):
        offset = ast.literal_eval(offset)
    return offset["watermark"]


def _consumed(q) -> str:
    """Oldest end offset over the query's sources in its last progress."""
    p = q.lastProgress
    if not p or not p["sources"] or not p["sources"][0]["endOffset"]:
        return ""
    return min(_file(s["endOffset"]) for s in p["sources"])


def _drop(src: str, drop: str) -> None:
    """Write a file into the drop dir atomically (temporary name, rename)."""
    tmp = os.path.join(drop, ".incoming")
    shutil.copy(src, tmp)
    os.rename(tmp, os.path.join(drop, os.path.basename(src)))


class Sink:
    """foreachBatch sink: ``(rows, checksum)`` per batch id. Checksums are
    sums, so any set of batches adds up to the output of those batches."""

    def __init__(self, cols: list[str]):
        self.cols = cols
        self.batches: dict[int, tuple[int, int]] = {}

    def __call__(self, df, batch_id: int) -> None:
        self.batches[batch_id] = checksum_rows(df, self.cols)

    def total(self, lo: int, hi: int) -> list[int]:
        sel = [v for b, v in self.batches.items() if lo < b <= hi]
        return [sum(n for n, _ in sel), sum(s for _, s in sel)]


def schedule(n: int) -> list[float]:
    """Due offsets (s) of an op's n paced files. The gaps run through
    [0.5, 1.5) * MEAN_GAP_S in golden-ratio steps: irregular, so that the
    arrivals do not lock in step with the queries' trigger cycle, and the
    same for every seed, so that runs on different seeds see the same
    arrival pattern."""
    phi = (5 ** 0.5 - 1) / 2
    gaps = [MEAN_GAP_S * (0.5 + (k * phi) % 1.0) for k in range(1, n + 1)]
    return [sum(gaps[:k + 1]) for k in range(n)]


class Generator:
    """Open-loop producer: drops each file at its due offset from the
    start (however far the queries lag) and records each file's due time."""

    def __init__(self, files: list[str], offsets: list[float], drop: str):
        self.files, self.offsets, self.drop = files, offsets, drop
        self.due: dict[str, float] = {}
        self.late_s = 0.0

    def run(self) -> None:
        t0 = time.time()
        for f, off in zip(self.files, self.offsets):
            due = t0 + off
            self.due[os.path.basename(f)] = due
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            _drop(f, self.drop)
            self.late_s = max(self.late_s, time.time() - due)


class Streaming:
    name = "streaming"

    def __init__(self, spark, inputs: str, run_dir: str, tracer, props: dict):
        from pyarrow_ops_spark.sources.arrow_ipc import register_arrow_ipc

        self.spark, self.d, self.tracer = spark, inputs, tracer
        self.base = os.path.join(run_dir, "stream")
        self.drop = os.path.join(self.base, "drop")
        os.makedirs(self.drop)
        self.slices = [sorted(glob.glob(os.path.join(inputs, f"slice{j:02d}", "*.arrow")))
                       for j in range(props["slices"])]
        self.max_cycles = len(self.slices)
        self.burst_files = props["files_per_slice"]["burst"]
        self.burst_rows = props["rows"]["burst"]
        self.rows_in = props["rows"]["burst"] + props["rows"]["paced"]
        self.sinks = {"agg": Sink(AGG_COLS), "join": Sink(JOIN_COLS)}
        self.queries: dict = {}
        self.mark = {k: -1 for k in self.sinks}  # last batch id of the previous op
        self.wm = 0.0  # aggregation watermark at the end of the previous op
        register_arrow_ipc(spark)

    # -- queries --------------------------------------------------------------

    def _events(self):
        return self.spark.readStream.format("arrowipc").load(self.drop)

    def agg_query(self):
        from pyarrow_ops_spark import tumbling_counts

        return tumbling_counts(self._events().withWatermark("ts", WATERMARK), WINDOW)

    def join_query(self):
        from pyspark.sql import functions as F

        from pyarrow_ops_spark.streaming.joins import attribution_join

        def side(kind: str, tag: str):
            ev = self._events().filter(F.col("event_type") == kind)
            return ev.select(
                F.col("user_id").alias(f"{tag}_user"),
                F.col("event_id").alias(f"{tag}_event_id"),
                F.col("ts").alias(f"{tag}_ts"),
            ).withWatermark(f"{tag}_ts", WATERMARK)

        return attribution_join(side("view", "v"), side("purchase", "p"),
                                window=f"{JOIN_WINDOW_S} seconds")

    def _start(self) -> None:
        from pyarrow_ops_spark.streaming.sinks import foreach_batch_sink

        build = {"agg": self.agg_query, "join": self.join_query}
        for k, sink in self.sinks.items():
            self.queries[k] = foreach_batch_sink(
                build[k](), sink, os.path.join(self.base, f"ck_{k}"),
                query_name=f"perfbench_{k}")

    def _wait(self, name: str) -> None:
        deadline = time.time() + CATCH_UP_TIMEOUT_S
        while not all(_consumed(q) >= name for q in self.queries.values()):
            for q in self.queries.values():
                if q.exception() is not None:
                    raise RuntimeError(f"streaming query failed: {q.exception()}")
            if time.time() > deadline:
                raise TimeoutError(
                    f"queries did not consume {name} within {CATCH_UP_TIMEOUT_S} s")
            time.sleep(0.02)

    # -- one op ---------------------------------------------------------------

    def cycle(self, i: int) -> list[list[tuple]]:
        """One op; the cold op (i == 0) runs the small slice 0."""
        rows = self.burst_rows // WARMUP_DIV if i == 0 else self.rows_in
        return [[(i, "drain+paced", rows, lambda: self.op(i))]]

    def op(self, i: int) -> dict:
        files = self.slices[i]
        burst, paced = files[:self.burst_files], files[self.burst_files:]
        t0 = time.time()
        with self.tracer.call("streaming.drain"):
            for f in burst:
                _drop(f, self.drop)
            if not self.queries:
                self._start()
            self._wait(os.path.basename(burst[-1]))
        drain_s = time.time() - t0
        first = {k: q.lastProgress["batchId"] for k, q in self.queries.items()}
        gen = Generator(paced, schedule(len(paced)), self.drop)
        backlog_end = 0
        with self.tracer.call("streaming.paced"):
            if i:
                gen.run()
                consumed = min(_consumed(q) for q in self.queries.values())
                backlog_end = sum(1 for f in paced if os.path.basename(f) > consumed)
            else:  # cold op: the first paced file (no late rows) at once
                gen.files = paced[:1]
                _drop(paced[0], self.drop)
            self._wait(os.path.basename(gen.files[-1]))
        t1 = time.time()

        last = {k: q.lastProgress for k, q in self.queries.items()}
        prog = {k: [p for p in q.recentProgress
                    if first[k] < p["batchId"] <= last[k]["batchId"]]
                for k, q in self.queries.items()}
        # per scheduled file: due time to the end of the last trigger (over
        # both queries) that consumed it
        done: dict[str, float] = {}
        for ps in prog.values():
            for p in ps:
                src = p["sources"][0]
                if not p["numInputRows"] or not src["endOffset"]:
                    continue
                lo = _file(src["startOffset"]) if src["startOffset"] else ""
                hi = _file(src["endOffset"])
                end = _ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
                for name in gen.due:
                    if lo < name <= hi:
                        done[name] = max(done.get(name, 0.0), end)
        latencies = [done[name] - due for name, due in gen.due.items() if name in done]
        wm = _ts(last["agg"]["eventTime"]["watermark"])
        out = {k: self.sinks[k].total(self.mark[k], last[k]["batchId"]) for k in self.sinks}
        key = json.dumps({"slice": i, "wm_prev": self.wm, "wm": wm})
        self.mark = {k: last[k]["batchId"] for k in self.sinks}
        self.wm = wm
        # streaming jobs run in the query threads, grouped by run id
        shuffle_bytes = sum(j["metrics"]["shuffle_write_bytes"]
                     for q in self.queries.values()
                     for j in self.tracer.reader.jobs_for_group(str(q.runId))
                     if j["start"] is not None and t0 <= j["start"] <= t1)
        return {
            **out,
            "key": key,
            "extra": {"backlog_rows": self.burst_rows // (WARMUP_DIV if i == 0 else 1),
                      "drain_s": drain_s,
                      "latencies": latencies, "gen_late_s": gen.late_s,
                      "backlog_files_end": backlog_end, "shuffle_bytes": shuffle_bytes,
                      "progress": prog},
        }

    def expected(self, key: str) -> dict:
        import duckdb
        import pyarrow as pa
        import pyarrow.ipc as ipc

        k = json.loads(key)
        tables, lo, idx = [], 0, 0
        for j in range(k["slice"] + 1):
            if j == k["slice"]:
                lo = idx
            dropped = self.burst_files + 1 if j == 0 else len(self.slices[j])
            for pos, f in enumerate(self.slices[j]):
                if pos < dropped:  # the cold op drops slice 0's burst and first paced file
                    t = ipc.open_file(f).read_all()
                    n = t.num_rows
                    t = t.append_column("file_idx", pa.array([idx] * n, pa.int64()))
                    tables.append(t.append_column(
                        "front_us", pa.array([file_front_us(idx)] * n, pa.int64())))
                idx += 1
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            con.register("ev", pa.concat_tables(tables))
            # on time = not behind its file's event-time front by more than
            # the out-of-order bound (late events sit an hour behind)
            con.execute(f"""CREATE VIEW ok AS SELECT * FROM ev
                WHERE epoch_us(ts) >= front_us - {OUT_OF_ORDER_MAX_S * 1_000_000}""")
            agg = con.execute(f"""
                SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start, event_type,
                       count(*) AS n_events, round(sum(value), 4) AS sum_value
                FROM ok GROUP BY 1, 2
                HAVING epoch_us(time_bucket(INTERVAL '1 minute', ts)) + 60000000
                       BETWEEN {round(k['wm_prev'] * 1e6) + 1} AND {round(k['wm'] * 1e6)}
                """).arrow()
            join = con.execute(f"""
                SELECT v.user_id, v.event_id AS v_event_id, p.event_id AS p_event_id,
                       v.ts AS v_ts, p.ts AS p_ts
                FROM ok v JOIN ok p ON v.user_id = p.user_id
                 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL {JOIN_WINDOW_S} SECOND
                WHERE v.event_type = 'view' AND p.event_type = 'purchase'
                  AND greatest(v.file_idx, p.file_idx) >= {lo}""").arrow()
        finally:
            con.close()
        return {"agg": ToHash(agg, AGG_COLS), "join": ToHash(join, JOIN_COLS)}
