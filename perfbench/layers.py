"""Per-layer metrics of a traced run, computed from its spans.

Every metric is reported for every workload (0 where the workload does
not reach the layer). Unless noted, a value is the sum over the steady
cycles' spans divided by the number of steady cycles, i.e. per cycle.
Names follow the package's modules; ``LAYERS`` lists each metric with its
unit and the span it reads.
"""

from __future__ import annotations

import statistics

# name -> unit; the order is the print order
LAYERS = {
    "session.start_s": "s",
    "session.cold_op_s": "s",
    "sources.scan_task_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "rows",
    "sources.write_s": "s",
    "sources.write_bytes": "bytes",
    "sources.ipc_poll_s": "s",
    "sources.ipc_get_batch_s": "s",
    "operators.filters.task_s": "s",
    "operators.drop_duplicates.task_s": "s",
    "operators.groupby.task_s": "s",
    "operators.join.task_s": "s",
    "operators.range_join.task_s": "s",
    "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.tasks": "count",
    "operators.rows_out": "rows",
    "jsons.str_to_table.task_s": "s",
    "ml.cleaner.fit_s": "s",
    "ml.cleaner.fit_jobs": "count",
    "ml.cleaner.transform_task_s": "s",
    "text.quality.task_s": "s",
    "dedup.exact.task_s": "s",
    "dedup.edges.wall_s": "s",
    "dedup.edges.task_s": "s",
    "dedup.edges.shuffle_bytes": "bytes",
    "dedup.edges.rows_out": "rows",
    "dedup.buckets_dropped": "count",
    "dedup.max_bucket_size": "count",
    "dedup.planted_recall": "ratio",
    "dedup.cc.wall_s": "s",
    "dedup.cc.rounds": "count",
    "dedup.cc.jobs": "count",
    "dedup.cc.converged_ratio": "ratio",
    "similarity.near_dup.task_s": "s",
    "similarity.knn_probe.task_s": "s",
    "similarity.shuffle_bytes": "bytes",
    "cache.storage_bytes_peak": "bytes",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "rows",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_s": "s",
    "streaming.late_rows_dropped": "rows",
    "streaming.backlog_files_end": "count",
    "streaming.gen_late_s": "s",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
}

OPERATOR_STEPS = {"filters", "drop_duplicates", "groupby", "join", "range_join",
                  "head", "q3", "q9"}


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def per_layer(workload: str, tracer, calls: list[dict], timing: dict) -> dict:
    """``{name: (value, unit)}`` for every name in LAYERS, from the checked
    calls of the run (``run.Runner``) and their spans."""
    steady_calls = [r for r in calls if r["phase"] == "steady"]
    steady = {r["span"] for r in steady_calls}
    cycles = max(1, timing["cycles"])
    # spans opened inside the steady calls, and the calls' own spans
    inner = [s for s in tracer.spans if s["kind"] == "call" and s["op"] in steady]
    op_spans = [s for s in tracer.spans if s["kind"] == "op" and s["id"] in steady]

    def spans(prefix: str) -> list[dict]:
        return [s for s in inner if s["name"].startswith(prefix)]

    def per_cycle(prefix: str, key: str) -> float:
        return sum(s["metrics"][key] for s in spans(prefix)) / cycles

    def wall(prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in spans(prefix)) / cycles

    def attr(prefix: str, key: str) -> list:
        return [s["attrs"][key] for s in spans(prefix) if key in s["attrs"]]

    m = {
        "session.start_s": timing["session_s"],
        "session.cold_op_s": timing["cold_s"],
        "sources.scan_task_s": sum(s["metrics"]["scan_task_s"] for s in op_spans) / cycles,
        "sources.scan_bytes": sum(s["metrics"]["input_bytes"] for s in op_spans) / cycles,
        "sources.scan_rows": sum(s["metrics"]["input_rows"] for s in op_spans) / cycles,
        "sources.write_s": wall("sources.write_training_shards"),
        "sources.write_bytes": per_cycle("sources.write_training_shards", "output_bytes"),
        "operators.filters.task_s": per_cycle("operators.filters", "task_s"),
        "operators.drop_duplicates.task_s": per_cycle("operators.drop_duplicates", "task_s"),
        "operators.groupby.task_s": per_cycle("operators.groupby", "task_s"),
        "operators.join.task_s": per_cycle("operators.join", "task_s"),
        "operators.range_join.task_s": per_cycle("operators.range_join", "task_s"),
        "operators.shuffle_bytes": per_cycle("operators.", "shuffle_write_bytes"),
        "operators.spill_bytes": (per_cycle("operators.", "spill_bytes")
                                  + per_cycle("operators.", "disk_spill_bytes")),
        "operators.tasks": per_cycle("operators.", "tasks"),
        "operators.rows_out": sum(
            v[0] for r in steady_calls if r["name"] in OPERATOR_STEPS
            for v in r["outputs"].values()) / cycles,
        "jsons.str_to_table.task_s": per_cycle("jsons.str_to_table", "task_s"),
        "ml.cleaner.fit_s": wall("ml.cleaner.fit"),
        "ml.cleaner.fit_jobs": per_cycle("ml.cleaner.fit", "jobs"),
        "ml.cleaner.transform_task_s": per_cycle("ml.cleaner.transform", "task_s"),
        "text.quality.task_s": per_cycle("text.text_stats", "task_s"),
        "dedup.exact.task_s": per_cycle("dedup.dedup_exact", "task_s"),
        "dedup.edges.wall_s": wall("dedup.minhash_lsh_edges"),
        "dedup.edges.task_s": per_cycle("dedup.minhash_lsh_edges", "task_s"),
        "dedup.edges.shuffle_bytes": per_cycle("dedup.minhash_lsh_edges",
                                               "shuffle_write_bytes"),
        "dedup.edges.rows_out": sum(attr("dedup.minhash_lsh_edges", "rows_out")) / cycles,
        "dedup.buckets_dropped": sum(attr("dedup.minhash_lsh_edges", "buckets_dropped")),
        "dedup.max_bucket_size": max(attr("dedup.minhash_lsh_edges", "max_bucket_size"),
                                     default=0),
        "dedup.planted_recall": _median(attr("dedup.minhash_lsh_edges", "planted_recall")),
        "dedup.cc.wall_s": wall("dedup.connected_components"),
        "dedup.cc.rounds": sum(c["iterations"] for c in attr("dedup.connected_components", "cc")
                               if c) / cycles,
        "dedup.cc.jobs": per_cycle("dedup.connected_components", "jobs"),
        "similarity.near_dup.task_s": per_cycle("similarity.embedding_near_dup", "task_s"),
        "similarity.knn_probe.task_s": per_cycle("similarity.knn_label_probe", "task_s"),
        "similarity.shuffle_bytes": per_cycle("similarity.", "shuffle_write_bytes"),
        "cache.storage_bytes_peak": tracer.storage_peak,
        "jvm.gc_s": sum(s["metrics"]["gc_s"] for s in op_spans) / cycles,
        "jvm.peak_rss_mb": timing["peak_mb"],
    }
    # convergence over every CC call of the run, the cold cycle included
    all_cc = [s["attrs"]["cc"] for s in tracer.spans
              if s["kind"] == "call" and s["name"] == "dedup.connected_components"
              and s["attrs"].get("cc")]
    m["dedup.cc.converged_ratio"] = (
        sum(c["converged"] for c in all_cc) / len(all_cc) if all_cc else 0.0)
    m.update(_streaming(steady_calls, cycles))
    return {k: (float(m.get(k, 0.0)), unit) for k, unit in LAYERS.items()}


def _streaming(steady_calls: list[dict], cycles: int) -> dict:
    """Streaming layer metrics from the queries' progress reports of the
    steady ops' paced phases."""
    prog = [p for r in steady_calls for ps in r["extra"].get("progress", {}).values()
            for p in ps]
    if not prog:
        return {}
    data = [p for p in prog if p["numInputRows"]]
    dur = [p["durationMs"] for p in data]
    ops = [s for p in prog for s in p["stateOperators"]]
    return {
        "sources.ipc_poll_s": _median(d.get("latestOffset", 0) / 1e3 for d in dur),
        "sources.ipc_get_batch_s": _median(d.get("getBatch", 0) / 1e3 for d in dur),
        "streaming.batches": len(data) / cycles,
        "streaming.batch_s": _median(d.get("triggerExecution", 0) / 1e3 for d in dur),
        "streaming.add_batch_s": _median(d.get("addBatch", 0) / 1e3 for d in dur),
        "streaming.wal_commit_s": _median(d.get("walCommit", 0) / 1e3 for d in dur),
        "streaming.state_rows": max((s["numRowsTotal"] for s in ops), default=0),
        "streaming.state_bytes": max((s["memoryUsedBytes"] for s in ops), default=0),
        "streaming.state_commit_s": _median(
            sum(s["commitTimeMs"] for s in p["stateOperators"]) / 1e3 for p in data),
        "streaming.late_rows_dropped": sum(s["numRowsDroppedByWatermark"] for s in ops) / cycles,
        "streaming.backlog_files_end": _median(
            r["extra"]["backlog_files_end"] for r in steady_calls),
        "streaming.gen_late_s": max(r["extra"]["gen_late_s"] for r in steady_calls),
    }
