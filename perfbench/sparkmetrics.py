"""The benchmark's one reader of Spark's own job/stage records, and its
span recorder.

Everything here observes the program from outside: calls are wrapped in a
SparkContext job tag, and after the call the tag's jobs and stages are
read back from the driver's AppStatusStore. No code inside
``pyarrow_ops_spark`` is changed or instrumented.

- ``StageReader.jobs(tag)`` -> the tag's jobs with their stage metrics
  summed (task time, shuffle read/write, spill, input, GC, task count).
- ``Tracer`` keeps spans in memory (op -> call -> job) and writes them as
  one JSON file when the run ends. With tracing off it only tags ops, so
  the untraced run still gets per-op shuffle bytes.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

STAGE_FIELDS = (
    ("task_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("input_rows", "inputRecords", 1),
    ("output_bytes", "outputBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "memoryBytesSpilled", 1),
    ("disk_spill_bytes", "diskBytesSpilled", 1),
    ("tasks", "numCompleteTasks", 1),
)


def empty_metrics() -> dict:
    """Summed stage metrics; ``scan_task_s`` is the task time of stages
    that read input files."""
    return {k: 0 for k, _, _ in STAGE_FIELDS} | {"jobs": 0, "stages": 0, "scan_task_s": 0}


def add_metrics(into: dict, m: dict) -> dict:
    for k, v in m.items():
        into[k] = into.get(k, 0) + v
    return into


class StageReader:
    """Reads job and stage records for a job tag or job group."""

    def __init__(self, spark, full: bool = True):
        self._sc = spark.sparkContext
        # only shuffle bytes unless full: each field is one py4j round trip
        self._fields = STAGE_FIELDS if full else [
            f for f in STAGE_FIELDS if f[0] == "shuffle_write_bytes"]
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so the
        status store holds the jobs that just finished."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _stage(self, sid: int, fields) -> dict | None:
        try:
            sd = self._store.lastStageAttempt(sid)
        except Exception:  # evicted or never submitted
            return None
        if sd.status().toString() == "SKIPPED":
            return None
        return {k: getattr(sd, f)() * scale for k, f, scale in fields}

    def _jobs(self, ids) -> list[dict]:
        out = []
        seen: set[int] = set()
        for jid in sorted(ids):
            jd = self._store.job(jid)
            sids = jd.stageIds()
            m = empty_metrics()
            m["jobs"] = 1
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                sm = self._stage(sid, self._fields)
                if sm is not None:
                    add_metrics(m, sm)
                    m["stages"] += 1
                    if sm.get("input_bytes"):
                        m["scan_task_s"] += sm["task_s"]
            sub, done = jd.submissionTime(), jd.completionTime()
            out.append({
                "job_id": jid,
                "status": jd.status().toString(),
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                "metrics": m,
            })
        return out

    def jobs(self, tag: str) -> list[dict]:
        self.settle()
        return self._jobs(list(self._jsc.statusTracker().getJobIdsForTag(tag)))

    def jobs_for_group(self, group: str) -> list[dict]:
        self.settle()
        return self._jobs(list(self._jsc.statusTracker().getJobIdsForGroup(group)))

    def storage_bytes(self) -> int:
        """Bytes the block manager holds for persisted RDDs right now."""
        return sum(
            i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo()
        )


def total(jobs: list[dict]) -> dict:
    m = empty_metrics()
    for j in jobs:
        add_metrics(m, j["metrics"])
    return m


class Tracer:
    """Spans in memory: op -> call -> job. ``enabled=False`` records only
    op spans (tag + job metrics) and makes ``call`` a no-op, which is how
    the untraced run measures per-op shuffle bytes."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.reader = StageReader(spark, full=enabled)
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()  # span stack per thread (tags are too)
        self.storage_peak = 0

    @property
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, kind: str) -> dict:
        sp = {
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self._stack[0]["id"] if self._stack else None,
            "name": name,
            "kind": kind,
            "start": time.time(),
            "attrs": {},
        }
        if sp["op"] is None:
            sp["op"] = sp["id"]
        sp["tag"] = f"perfbench-{kind}-{sp['id']}"
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.addJobTag(sp["tag"])
        return sp

    def _close(self, sp: dict) -> None:
        self._sc.removeJobTag(sp["tag"])
        sp["end"] = time.time()
        self._stack.pop()
        jobs = self.reader.jobs(sp["tag"])
        sp["metrics"] = total(jobs)
        if self.enabled:
            self.storage_peak = max(self.storage_peak, self.reader.storage_bytes())
            for j in jobs:
                self.spans.append({
                    "id": next(self._ids), "parent": sp["id"], "op": sp["op"],
                    "name": f"job-{j['job_id']}", "kind": "job",
                    "start": j["start"], "end": j["end"],
                    "attrs": {"status": j["status"]}, "metrics": j["metrics"],
                })

    @contextlib.contextmanager
    def op(self, name: str):
        sp = self._open(name, "op")
        try:
            yield sp
        finally:
            self._close(sp)

    @contextlib.contextmanager
    def call(self, name: str):
        """Span + job tag around one call into a layer's public function.
        The caller materializes the call's output inside the block."""
        if not self.enabled:
            yield None
            return
        sp = self._open(name, "call")
        try:
            yield sp
        finally:
            self._close(sp)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextlib.contextmanager
def patched(module, name: str, wrapper):
    """Temporarily replace ``module.name`` with ``wrapper(original)`` so
    calls the program makes between its own public functions pass through
    a benchmark span."""
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)
