"""The session's block codec: shuffle, spill and broadcast blocks are zstd,
and rows of every common type survive a shuffle and a window spill
written in it unchanged."""

from __future__ import annotations

import datetime
import random
from decimal import Decimal

from pyspark.sql import Window
from pyspark.sql import functions as F

_SCHEMA = "id int, k int, s string, d date, amt decimal(18,4)"
_SPILL_CONFS = {
    # rows buffered per window partition before switching to the external
    # sorter, and before that sorter spills: 1 and 16 force a spill
    # every 16 rows
    "spark.sql.windowExec.buffer.in.memory.threshold": "1",
    "spark.sql.windowExec.buffer.spill.threshold": "16",
}


def _seeded_rows(n=3000, seed=7):
    rng = random.Random(seed)
    words = ["", "a", "zstd", "naïve", "日本語", "x" * 300, "tab\there"]

    def maybe(v):
        return None if rng.random() < 0.1 else v

    return [
        (
            i,
            rng.randrange(5),
            maybe(rng.choice(words) + str(rng.randrange(1000))),
            maybe(datetime.date(1970, 1, 1) + datetime.timedelta(rng.randrange(-3000, 30000))),
            maybe(Decimal(rng.randrange(-10**12, 10**12)).scaleb(-4)),
        )
        for i in range(n)
    ]


def _max(vals):
    vals = [v for v in vals if v is not None]
    return max(vals) if vals else None


def test_block_codec_is_zstd(spark):
    # a static SparkContext conf: spark.conf does not carry it
    assert spark.sparkContext.getConf().get("spark.io.compression.codec") == "zstd"


def test_rows_survive_shuffle_and_window_spill(spark):
    rows = _seeded_rows()
    df = spark.createDataFrame(rows, _SCHEMA).repartition(7, "id")
    assert sorted(tuple(r) for r in df.collect()) == rows

    prev = {k: spark.conf.get(k) for k in _SPILL_CONFS}
    for k, v in _SPILL_CONFS.items():
        spark.conf.set(k, v)
    try:
        w = Window.partitionBy("k")
        got = df.select(
            "id",
            F.count("*").over(w).alias("n"),
            F.max("s").over(w).alias("s_max"),
            F.max("d").over(w).alias("d_max"),
            F.sum("amt").over(w).alias("amt_sum"),
        ).collect()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert {k: spark.conf.get(k) for k in _SPILL_CONFS} == prev

    by_k = {}
    for r in rows:
        by_k.setdefault(r[1], []).append(r)
    want = []
    for r in rows:
        part = by_k[r[1]]
        amts = [p[4] for p in part if p[4] is not None]
        want.append(
            (
                r[0],
                len(part),
                _max(p[2] for p in part),
                _max(p[3] for p in part),
                sum(amts) if amts else None,
            )
        )
    assert sorted(tuple(r) for r in got) == want
