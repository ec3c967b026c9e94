"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 0

Run it from the repository root. It generates (or reuses) the seeded
inputs, starts Spark through ``pyarrow_ops_spark.get_spark`` on
``local[nproc]``, runs one cold op, then runs ops in a closed loop for
``--seconds``, checks every op's output against its oracle, and prints the
end-to-end metrics (``--trace 0``) or the per-layer metrics from a traced
run (``--trace 1``). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Other modes (each spawns fresh ``--trace`` runs as subprocesses):

    --steadiness N   run N seeds and print each metric's spread vs its bound
    --overhead       run untraced then traced and print the tracing overhead
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".perfbench_cache")
RUNS = os.path.join(ROOT, ".perfbench_run")
OP_TIMEOUT_S = 60
WORKLOADS = ("batch", "streaming")
# end-to-end metrics in the result line of every run with --trace 0 (the
# ones BENCHMARK.json bounds); TIMED_UNITS are printed before it, not
# bounded: they follow the shared host's speed (see README.md)
E2E_UNITS = {
    "setup_s": "s",
    "shuffle_bytes_per_row": "bytes/row",
}
TIMED_UNITS = {
    "core_s_per_mrow": "s",
    "rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts too)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _proc_tree(pid: int) -> list[int]:
    """``pid`` and its descendants, parents before children. Children are
    listed per thread: the JVM forks Python workers from other threads
    than its main one."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop(0)
        out.append(p)
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    todo += [int(c) for c in f.read().split()]
            except OSError:
                pass
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process tree: every live
    process's own time plus that of the children it has reaped, so a
    Python worker that exits between two readings still counts."""
    ticks = 0
    for p in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssProbe:
    """Peak resident memory of this process tree: the kernel's VmHWM for
    the driver and JVM, plus the largest sampled VmRSS sum of the other
    descendants (Python workers come and go)."""

    def __init__(self):
        self.others_peak_kb = 0

    def sample(self) -> None:
        tree = _proc_tree(os.getpid())
        jvm = set(tree[:2])
        kb = sum(_status_kb(p, "VmRSS:") for p in tree if p not in jvm)
        self.others_peak_kb = max(self.others_peak_kb, kb)

    def peak_mb(self) -> float:
        tree = _proc_tree(os.getpid())
        hwm = sum(_status_kb(p, "VmHWM:") for p in tree[:2])
        return (hwm + self.others_peak_kb) / 1024.0


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile would not be above
    the median, so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n < 21:
        return v[-1], 100.0
    return v[n - 11], round(100.0 * (n - 10) / n, 1)


def make_workload(name: str, spark, inputs: str, run_dir: str, tracer, props: dict):
    if name == "batch":
        from batch import Batch as W
    else:
        from streaming import Streaming as W
    return W(spark, inputs, run_dir, tracer, props)


def prepare_env(run_dir: str) -> None:
    """Program defaults only: SPARK_GRAFT_CPUS from nproc, no other
    SPARK_GRAFT_* knob; every temporary path inside the checkout."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell')
    import tempfile

    tempfile.tempdir = tmp


def stop_spark_processes(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark and wait until the JVM and every process under it (Python
    workers) has exited; kill what is left after ``timeout_s``."""
    import signal

    from pyspark import SparkContext

    pids = _proc_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
    deadline = time.time() + timeout_s
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        if proc is not None:
            proc.poll()  # reap the JVM
        time.sleep(0.1)
    for p in pids:
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    if proc is not None:
        proc.wait(timeout=timeout_s)


def spark_config(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory", "default"),
        "initialPartitionNum": spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "unset"),
    }


class Runner:
    """Runs ops: each is one public call whose output ends in one
    ``(rows, checksum)`` action, inside a span; a timer cancels its jobs
    past OP_TIMEOUT_S. ``phase`` marks the cold cycle."""

    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self.calls: list[dict] = []
        self.phase = "cold"

    def cycle(self, i: int, groups: list[list[tuple]], threads: int = 1) -> None:
        """Run a cycle's groups in order; the ops of one group are
        independent, so the cold cycle runs them on ``threads`` threads
        (warm-up is driver-bound: JIT, codegen, worker start)."""
        for group in groups:
            if threads == 1:
                for op in group:
                    self.step(i, *op)
                continue
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(threads) as pool:
                for f in [pool.submit(self.step, i, *op) for op in group]:
                    f.result()

    def step(self, i: int, key, name: str, rows_in: int, fn) -> dict:
        """Run ``fn`` as one call, checked on its own. ``fn`` returns
        ``{output: (rows, checksum)}`` and may add ``flags``
        (program-reported facts) or ``extra``."""
        rec = {"phase": self.phase, "cycle": i, "key": key, "name": name, "rows_in": rows_in,
               "outputs": {}, "flags": {}, "extra": {}, "error": None}
        t0 = time.perf_counter()
        with self.tracer.op(name) as sp:
            timer = threading.Timer(
                OP_TIMEOUT_S, self.spark.sparkContext.cancelJobsWithTag, [sp["tag"]])
            timer.start()
            try:
                res = fn()
                rec["flags"] = res.pop("flags", {})
                rec["extra"] = res.pop("extra", {})
                rec["key"] = res.pop("key", key)
                rec["outputs"] = res
            except Exception as exc:  # noqa: BLE001 - any failure fails the call
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            finally:
                timer.cancel()
        rec["wall_s"] = time.perf_counter() - t0
        rec["span"] = sp["id"]
        rec["shuffle_bytes"] = rec["extra"].get(
            "shuffle_bytes", sp["metrics"]["shuffle_write_bytes"])
        self.calls.append(rec)
        return rec


def verify(workload, spark, calls: list[dict], oracle) -> None:
    """Compare each call's outputs with the oracle; sets ``ok`` per call.
    ``silent`` marks a wrong answer the program did not report itself."""
    expected = oracle.expected(workload, spark, [r["key"] for r in calls if not r["error"]])
    for r in calls:
        if r["error"]:
            r["ok"], r["why"], r["silent"] = False, r["error"], False
            continue
        exp = expected[str(r["key"])]
        bad = sorted(k for k, v in r["outputs"].items()
                     if k not in exp or list(v) != list(exp[k]))
        r["ok"] = not bad
        r["why"] = f"{r['name']}: output differs from oracle in {bad}" if bad else None
        r["silent"] = bool(bad) and not r["flags"].get("reported_failure")


def main_run(a) -> int:
    if not os.path.isdir(os.path.join(ROOT, "pyarrow_ops_spark")):
        print("perfbench: run from the repository root (pyarrow_ops_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen

    run_dir = os.path.join(RUNS, f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    prepare_env(run_dir)
    g0 = time.perf_counter()
    inputs = gen.ensure(CACHE, a.workload, a.seed)
    with open(os.path.join(inputs, "props.json")) as f:
        props = json.load(f)
    t_gen = time.perf_counter() - g0

    import checks
    from sparkmetrics import Tracer

    rss = RssProbe()
    s0 = time.perf_counter()
    from pyarrow_ops_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{a.workload}")
    session_s = time.perf_counter() - s0
    try:
        print(f"[perfbench] {a.workload} seed={a.seed} inputs={json.dumps(props, sort_keys=True)}")
        print(f"[perfbench] config start: {json.dumps(spark_config(spark))}")
        tracer = Tracer(spark, enabled=bool(a.trace))
        runner = Runner(spark, tracer)
        workload = make_workload(a.workload, spark, inputs, run_dir, tracer, props)
        c0 = time.perf_counter()
        runner.cycle(0, workload.cycle(0), threads=nproc())
        spark.catalog.clearCache()
        cold_s = time.perf_counter() - c0
        setup_s = process_age_s() - t_gen
        rss.sample()
        runner.phase = "steady"
        cpu0 = tree_cpu_s()
        t_loop = time.perf_counter()
        deadline = t_loop + a.seconds
        i = 1
        while time.perf_counter() < deadline and i < getattr(workload, "max_cycles", i + 1):
            runner.cycle(i, workload.cycle(i))
            spark.catalog.clearCache()
            rss.sample()
            i += 1
        loop_s = time.perf_counter() - t_loop
        loop_cpu_s = tree_cpu_s() - cpu0
        print(f"[perfbench] config end: {json.dumps(spark_config(spark))}")
        peak_mb = rss.peak_mb()
        verify(workload, spark, runner.calls, checks.OracleCache(inputs))
        timing = {"setup_s": setup_s, "session_s": session_s, "cold_s": cold_s,
                  "loop_s": loop_s, "loop_cpu_s": loop_cpu_s, "cycles": i - 1,
                  "peak_mb": peak_mb}
        result = summarize(a, workload, tracer, runner.calls, timing)
        if a.trace:
            spans_dir = os.path.join(RUNS, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            path = os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.json")
            tracer.write(path)
            print(f"[perfbench] spans: {len(tracer.spans)} written to {os.path.relpath(path, ROOT)}")
    finally:
        for q in spark.streams.active:
            q.stop()
        stop_spark_processes(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def summarize(a, workload, tracer, calls: list[dict], timing: dict) -> dict:
    """Metrics of the run. An op is one checked call; the steady ops are
    the calls of the steady cycles."""
    failed = [r for r in calls if not r["ok"]]
    for r in failed:
        print(f"[perfbench] op failed ({r['key']}): {r['why']}")
    steady = [r for r in calls if r["phase"] == "steady"]
    walls = [r["wall_s"] for r in steady]
    good = [r for r in steady if r["ok"]]
    if a.workload == "streaming":
        rows = sum(r["extra"]["backlog_rows"] for r in good)
        rows_per_s = rows / max(1e-9, sum(r["extra"]["drain_s"] for r in good))
        lat = [x for r in steady for x in r["extra"].get("latencies", [])]
    else:
        rows_per_s = sum(r["rows_in"] for r in good) / timing["loop_s"]
        lat = walls  # closed loop: an op is due when the previous one ends
    lat_tail, lat_pct = tail(lat)
    rows_in = sum(r["rows_in"] for r in steady)
    values = {  # (value, sample count, note)
        "setup_s": (timing["setup_s"], 1, ""),
        "shuffle_bytes_per_row": (sum(r["shuffle_bytes"] for r in steady) / rows_in,
                                  len(steady), ""),
        "core_s_per_mrow": (timing["loop_cpu_s"] / (rows_in / 1e6), len(steady), ""),
        "rows_per_s": (rows_per_s, len(good), ""),
        "latency_p50_s": (statistics.median(lat), len(lat), ""),
        "latency_tail_s": (lat_tail, len(lat), f" at p{lat_pct}"),
    }
    correct = not any(r["silent"] for r in calls)
    print(f"[perfbench] ops attempted={len(calls)} failed={len(failed)} "
          f"failed_ratio={len(failed) / len(calls):.4f} (cold cycle + {timing['cycles']} "
          f"cycles, {len(steady)} steady ops in {timing['loop_s']:.1f} s, "
          f"{timing['loop_cpu_s']:.1f} CPU s)")
    for k, (v, n, note) in values.items():
        unit = E2E_UNITS.get(k) or TIMED_UNITS[k]
        gated = "" if k in E2E_UNITS else "; not bounded"
        print(f"[perfbench] {k} = {v:.6g} {unit} (n={n}{note}{gated})")
    print(f"[perfbench] jvm.peak_rss_mb = {timing['peak_mb']:.6g} MB (not bounded)")
    if not a.trace:
        metrics = {k: {"value": values[k][0], "unit": u} for k, u in E2E_UNITS.items()}
    else:
        import layers

        per_layer = layers.per_layer(a.workload, tracer, calls, timing)
        for k, (v, u) in per_layer.items():
            print(f"[perfbench] {k} = {v:.6g} {u}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    return {"correct": correct, "attempted": len(calls), "failed": len(failed),
            "metrics": metrics}


def _child(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """Run one fresh benchmark process; return every metric it printed
    (``[perfbench] <name> = <value> ...`` lines) plus its result line."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"run failed ({p.returncode}): {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    printed = {}
    for line in lines:
        if line.startswith("[perfbench] ") and " = " in line:
            name, rest = line[len("[perfbench] "):].split(" = ", 1)
            printed[name] = float(rest.split()[0])
    return {"result": json.loads(lines[-1]), "printed": printed}


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main_steadiness(a) -> int:
    """Run ``--steadiness`` seeds and print each end-to-end metric's
    spread (quartile distance over median) against its bound, and the
    spread of the printed timed metrics."""
    spec = _bench_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    vals: dict[str, list[float]] = {k: [] for k in [*bounds, *TIMED_UNITS]}
    for k in range(a.steadiness):
        seed = a.seed + k
        out = _child(a.workload, seed, a.seconds, 0)
        r = out["result"]
        print(json.dumps({"seed": seed, "correct": r["correct"], "attempted": r["attempted"],
                          "failed": r["failed"],
                          **{m: round(out["printed"][m], 4) for m in vals}}), flush=True)
        for m in vals:
            vals[m].append(out["printed"][m])
    for m, v in vals.items():
        q = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        spread = (q[2] - q[0]) / med if med else float("inf")
        if m in bounds:
            b = bounds[m]
            flag = "ok" if spread <= b / 3 else ("within bound" if spread <= b else "UNSTEADY")
            print(f"{m:16s} median={med:.6g} spread={spread:.4f} bound={b} {flag}")
        else:
            print(f"{m:16s} median={med:.6g} spread={spread:.4f} (not bounded)")
    return 0


def main_overhead(a) -> int:
    plain = _child(a.workload, a.seed, a.seconds, 0)["printed"]
    traced = _child(a.workload, a.seed, a.seconds, 1)["printed"]
    for m in ("latency_p50_s", "core_s_per_mrow"):
        print(f"{a.workload}: {m} untraced={plain[m]:.4f} traced={traced[m]:.4f} "
              f"overhead={(traced[m] - plain[m]) / plain[m]:+.1%}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description="pyarrow_ops_spark benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", type=int, default=0, metavar="N")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    if a.steadiness:
        return main_steadiness(a)
    if a.overhead:
        return main_overhead(a)
    return main_run(a)


if __name__ == "__main__":
    sys.exit(main())
