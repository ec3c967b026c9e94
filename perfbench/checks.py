"""Order-independent output checksums and the oracle cache.

Every timed op ends in one action that returns ``(rows, checksum)``: the
row count and the sum of ``xxhash64`` over a canonical string form of each
output row. The oracle side computes its expected rows independently
(DuckDB over the generated files, NumPy, or Python) and hashes them with
the same canonical form, so a dropped, added or changed row changes the
pair. Canonical form per column type:

- numbers: as doubles rounded to 4 decimals, so an integer sum and the
  same value as a double hash alike and last-ulp differences between
  engines vanish;
- timestamps: epoch micros (a number); booleans, strings, dates: their
  string form;
- NULL: NaN for numbers, ``\\N`` otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# bump when the canonical form changes: cached oracle pairs go stale
CANON_VERSION = 2


def _canon(df: DataFrame, name: str) -> "F.Column":
    dt = df.schema[name].dataType
    c = F.col(f"`{name}`")
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        c = F.unix_micros(c.cast("timestamp"))
        dt = T.LongType()
    if isinstance(dt, T.NumericType):
        # + 0.0 turns -0.0 into 0.0; NaN stands for NULL
        return F.coalesce(F.round(c.cast("double"), 4) + F.lit(0.0),
                          F.lit(float("nan")))
    if not isinstance(dt, T.StringType):
        c = c.cast("string")
    return F.coalesce(c, F.lit("\\N"))


def _hash(df: DataFrame, cols: list[str] | None) -> "F.Column":
    cols = cols or df.columns
    return F.xxhash64(*[_canon(df, c) for c in cols]).cast("decimal(38,0)")


def checksum(df: DataFrame, cols: list[str] | None = None) -> tuple[int, int]:
    """(row count, sum of xxhash64 over canonical rows) in one action."""
    row = df.select(_hash(df, cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


def checksum_rows(df: DataFrame, cols: list[str] | None = None) -> tuple[int, int]:
    """``checksum`` for small outputs: row hashes are collected and summed
    on the driver, so the action adds no shuffle."""
    hashes = [int(r[0]) for r in df.select(_hash(df, cols)).collect()]
    return len(hashes), sum(hashes)


class ToHash(NamedTuple):
    """An oracle result still to be checksummed: a pyarrow Table and the
    columns to hash."""

    rows: object
    cols: list | None = None


def resolve(spark, expected: dict) -> dict:
    """``{key: {output: value}}`` with every ToHash value replaced by its
    ``(rows, checksum)``, all of them computed in one job."""
    todo = [(k, name, v) for k, d in expected.items() for name, v in d.items()
            if isinstance(v, ToHash)]
    sums = checksum_many(spark, {str(i): (v.rows, v.cols) for i, (_, _, v) in enumerate(todo)})
    out = {k: dict(d) for k, d in expected.items()}
    for i, (k, name, _) in enumerate(todo):
        out[k][name] = sums[str(i)]
    return out


def checksum_many(spark, frames: dict) -> dict:
    """Checksums of several oracle results, one small job each on nproc
    threads. ``frames`` maps a name to ``(pyarrow Table, cols)``."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="oracle-")

    def one(item):
        i, (rows, cols) = item
        if not rows.num_rows:
            return 0, 0
        # through a file: a local relation would be hashed on the driver
        path = os.path.join(tmp, f"{i}.parquet")
        pq.write_table(rows, path)
        return checksum(spark.read.parquet(path), cols)

    try:
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            sums = list(pool.map(one, enumerate(frames.values())))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dict(zip(frames, sums))


class OracleCache:
    """Expected ``(rows, checksum)`` pairs per op key, computed once per
    seed and kept in ``oracle-c<CANON_VERSION>.json`` beside the inputs."""

    def __init__(self, inputs: str):
        self.path = os.path.join(inputs, f"oracle-c{CANON_VERSION}.json")
        self.data: dict = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.data = json.load(f)

    def expected(self, workload, spark, keys) -> dict:
        """``{key: {output: [rows, checksum]}}``; missing keys are computed
        by ``workload.expected(key)`` and saved."""
        missing = sorted({str(k) for k in keys} - set(self.data))
        if missing:
            done = resolve(spark, {k: workload.expected(k) for k in missing})
            self.data.update({k: {n: list(v) for n, v in d.items()} for k, d in done.items()})
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.data, f, sort_keys=True)
            os.replace(tmp, self.path)
        return {str(k): self.data[str(k)] for k in keys}
