"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configuration is chosen so
the same logical plans scale to a real multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy switching) — at 100 TB the static plan is always wrong somewhere.
- Arrow-based Python interchange on — all pandas-UDF extension points move
  data in columnar batches, never row-at-a-time pickles.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster this (plus AQE coalescing) should target ~128-200 MB per shuffle
  partition.
- Session timezone pinned to UTC so results are comparable with the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- zstd everywhere bytes leave a task: parquet files, and the block manager's
  shuffle, spill and broadcast blocks (``spark.io.compression.codec``; Spark's
  default there is lz4). At scale a pipeline's cost is the bytes its
  exchanges write and send, and zstd roughly halves them for no measured
  CPU cost (numbers at the config line).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "pyarrow_ops_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults applied."""
    master = master or f"local[{_DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or int(_DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Shuffles START wide and AQE coalesces down to the advisory
        # size: per-task hash/sort state stays bounded as data grows
        # (the sf1 scale check measured the fixed-32-partition layout
        # going super-linear — 43 s -> 12 s task on a 6M-row hash agg at
        # 512 start partitions), while small shuffles coalesce back to
        # few tasks so tiny-scale queries pay nothing. This mirrors the
        # standard cluster sizing recipe: high initialPartitionNum +
        # advisory bytes, never a hand-pinned count.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "SPARK_GRAFT_INITIAL_PARTITIONS", str(8 * int(_DEFAULT_CPUS))
            ),
        )
        # Without this, persist() freezes the pre-coalesce 256-partition
        # layout into the InMemoryRelation and every downstream stage of a
        # cached LSH/dedup pipeline fans out 256 tiny Python-worker tasks
        # (measured: dedup_minhash_lsh sf0.1 task time 29 s -> 57 s when
        # initialPartitionNum landed without it, back to 19 s with it).
        # With it, AQE re-optimizes cached-plan output partitioning, so
        # caches coalesce like any other shuffle.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Shuffle/spill/broadcast blocks in zstd (default level) instead of
        # lz4: the perfbench steady batch cycle (seed 301) wrote 7.93 ->
        # 3.96 shuffle bytes per input row (the drop_duplicates window
        # exchange 3.06 MB -> 1.37 MB) and streaming (seed 401) 11.28 ->
        # 6.20; over ten seeds each the medians fell 50 % and 45 %, with
        # setup time and CPU per row inside noise. Measured and not
        # adopted: zstd level 3 (1.44 MB on that exchange) and a 128k
        # zstd buffer (same bytes).
        .config("spark.io.compression.codec", "zstd")
        # Spark has no TIMESTAMP(NANOS) parquet type; read as int64 ns and
        # convert to µs timestamps in the loader (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # allow Python DataSources (sources/arrow_ipc.py) to accept
        # comparison-filter pushdown; the source still works (without
        # pushdown) on sessions lacking this conf
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
