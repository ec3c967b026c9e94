"""Equi-join with the reference's parity quirks, plus the full Spark surface.

Reference semantics (``/root/reference/pyarrow_ops/join.py:15-47``):

- Inner equi-join only (its README lists other types as TODO).
- Keys are Python-``hash()``ed, so ``None`` matches ``None`` — unlike SQL,
  where ``NULL = NULL`` is false (SURVEY §1.4.2). Parity mode uses
  ``eqNullSafe`` (``<=>``).
- Output columns: all of left, then right's columns EXCLUDING any name
  already present on the left — key columns appear once, right-side
  non-key name clashes are silently dropped (``join.py:7-13``).
- M×N duplicate keys produce the full M·N cartesian per key.
- Hash collisions can wrongly merge distinct keys (CPython
  ``hash(-1)==hash(-2)``); we deliberately do NOT replicate that defect —
  Spark compares real key values.

Spark-first: ``left.join(right, on, how)`` → Catalyst chooses
broadcast-hash (small side under the AQE-adjusted threshold) or
sort-merge. ``broadcast='auto'`` adds an explicit broadcast hint when one
side is a known small dimension — at 100 TB the difference between a
broadcast join and an unneeded 100 TB shuffle is the whole game.
"""

from __future__ import annotations

import warnings
from functools import reduce
from operator import and_
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SPARK_JOIN_TYPES = {
    "inner",
    "left",
    "leftouter",
    "left_outer",
    "right",
    "rightouter",
    "right_outer",
    "outer",
    "full",
    "fullouter",
    "full_outer",
    "cross",
    "semi",
    "leftsemi",
    "left_semi",
    "anti",
    "leftanti",
    "left_anti",
}


def join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    how: str = "inner",
    null_equals_null: bool = True,
    broadcast: str | bool = "auto",
) -> DataFrame:
    """Equi-join ``left`` and ``right`` on key columns ``on``.

    ``null_equals_null=True`` (default) replicates the reference's
    null-matching via ``eqNullSafe``; pass ``False`` for ANSI SQL
    semantics. Right-side non-key columns whose names clash with left are
    dropped (reference ``align_tables`` rule, ``join.py:10-12``).

    ``broadcast``: ``True`` forces a broadcast hint on the right side,
    ``False`` never hints, ``'auto'`` leaves the choice to Catalyst/AQE.
    """
    on = [on] if isinstance(on, str) else list(dict.fromkeys(on))
    how = how.replace("_", "").lower()
    if how not in {t.replace("_", "") for t in _SPARK_JOIN_TYPES}:
        raise ValueError(f"join type {how!r} is not implemented!")

    # Reference align_tables: right loses any column (beyond keys) whose
    # name exists on the left.
    clashing = [c for c in right.columns if c in left.columns and c not in on]
    right_clean = right.drop(*clashing) if clashing else right

    if broadcast is True:
        right_clean = F.broadcast(right_clean)

    semi_or_anti = how in ("semi", "leftsemi", "anti", "leftanti")

    if not null_equals_null or how == "cross":
        joined = left.join(right_clean, on=on if how != "cross" else None, how=how)
        return joined

    # eqNullSafe requires an explicit condition; dedupe key columns manually.
    rc = right_clean
    for k in on:
        rc = rc.withColumnRenamed(k, f"__r_{k}__")
    cond = reduce(and_, [left[k].eqNullSafe(rc[f"__r_{k}__"]) for k in on])
    joined = left.join(rc, on=cond, how=how)
    if semi_or_anti:
        return joined  # semi/anti keep only left columns; nothing to drop
    # Keep a single key column. For right/full joins the left key may be
    # null where only the right side matched — coalesce the pair.
    for k in on:
        rk = f"__r_{k}__"
        if how in ("right", "rightouter", "full", "fullouter", "outer"):
            joined = joined.withColumn(k, F.coalesce(left[k], joined[rk]))
        joined = joined.drop(rk)
    return joined


def range_join(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    extra_on: Sequence[str] | None = None,
    how: str = "inner",
    broadcast_right: bool = True,
    max_bands_rewrite: int = 128,
) -> DataFrame:
    """Band/range join: match ``left.value_col`` into ``[right.lo_col,
    right.hi_col)`` intervals, optionally AND-ed with equi-keys
    ``extra_on``.

    Absent in the reference (SURVEY §2.2 'Joins'). Scale story: interval
    dimension tables (price bands, date calendars, IP ranges) are small —
    broadcast them. A BroadcastNestedLoopJoin evaluates the two interval
    comparisons INTERPRETED per (row × band) — measured 12.6 s of task
    time at sf0.1 for 4 bands, and O(rows × bands) at 100 TB. So when
    the band dim is provably NON-OVERLAPPING (each value matches at most
    one band), the join is rewritten to a codegen'd disjoint-interval
    CASE chain that computes the matching band's index per fact row,
    followed by a BroadcastHashJoin on that index — one whole-stage-
    codegen pass over the fact side, still zero fact-side shuffle
    (guide §3.1: pick the join strategy deliberately).

    The overlap analysis collects at most ``max_bands_rewrite + 1``
    interval rows driver-side (a bounded, broadcast-sized collect — the
    same class as ``auto_bucket_width``'s one-row agg). The rewrite
    applies only to plain inner joins of a broadcastable dim; anything
    else — overlapping or duplicated bands, NULL/NaN edges, ``extra_on``
    keys (Catalyst already plans those as a hash join with a range
    post-condition), outer joins, a big interval side — falls back to
    the generic nested-loop form, whose output is identical by
    construction (the CASE chain just resolves the unique matching
    band). A big×big pure-range join should instead be rewritten by
    bucketing the value into interval-aligned grid cells
    (``range_join_bucketed``)."""
    if how == "inner" and not extra_on and broadcast_right:
        out = _range_join_disjoint(
            left, right, value_col, lo_col, hi_col, max_bands_rewrite
        )
        if out is not None:
            return out
    r = F.broadcast(right) if broadcast_right else right
    cond = (left[value_col] >= r[lo_col]) & (left[value_col] < r[hi_col])
    for k in extra_on or []:
        cond = cond & (left[k] == r[k])
    return left.join(r, on=cond, how=how)


def _range_join_disjoint(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    max_bands: int,
) -> DataFrame | None:
    """Equi-join rewrite of an inner broadcast range join for a provably
    disjoint interval dim; ``None`` when ineligible (caller falls back to
    the nested-loop form). See ``range_join`` for the analysis contract.

    Output equivalence: the bands are pairwise disjoint, so each left
    value matches AT MOST ONE live (``hi > lo``) band — the CASE chain
    returns that band's index (or NULL, which an inner equi-join drops,
    exactly like a non-matching row under the nested loop). Applying the
    same chain to the band's own ``lo`` labels each band with its own
    index (``lo ∈ [lo, hi)``), so no join-back on float equality is
    needed. Zero-length bands (``hi <= lo``) can never match under
    ``lo <= v < hi`` and are filtered from both the chain and the
    broadcast side. NaN semantics match the nested loop: a NaN value
    sorts above every band edge, fails every ``v < hi``, and yields NULL
    → dropped on both paths.

    The dim is evaluated EXACTLY ONCE (r15): the analysis collects the
    full interval rows (bounded at ``max_bands + 1``, the same
    broadcast-sized class as before) and the broadcast side is REBUILT
    from the collected rows as a SINGLE-SLICE local relation
    (``parallelize(rows, 1)``). The first cut re-executed the arbitrary
    ``right`` plan a second time inside the BroadcastExchange; for the
    common ``createDataFrame(small_list)`` dim that plan is a
    defaultParallelism-sliced Python RDD, so the broadcast build alone
    cost a round of 32 Python-worker launches (~8 s of the 16 s task
    time measured for range_join_price_bands at sf0.1) to move four
    rows. The collect stays the PARALLEL executeTake (an r15
    ``coalesce(1)`` variant evaluated the sliced Python RDD serially in
    one task — 13 s of WALL; reverted after the worktree A/B caught
    it)."""
    import math

    if "__band_idx__" in left.columns or "__band_idx__" in right.columns:
        return None
    spark = right.sparkSession
    # Row lookups by name are case-sensitive while the analyzer is not (by
    # default): resolve the edge columns to positions the way the join
    # condition would, so ``lo_col="lo"`` against a dim column ``LO``
    # takes the rewrite instead of raising
    lo_i = _field_position(spark, right.columns, lo_col)
    hi_i = _field_position(spark, right.columns, hi_col)
    if lo_i is None or hi_i is None:
        return None  # absent or ambiguous — the nested loop resolves or raises
    rows = right.limit(max_bands + 1).collect()
    if len(rows) > max_bands:
        return None  # dim too big for a literal chain — nested loop
    bands = [(r[lo_i], r[hi_i]) for r in rows]
    for lo, hi in bands:
        if lo is None or hi is None:
            return None
        if isinstance(lo, float) and math.isnan(lo):
            return None
        if isinstance(hi, float) and math.isnan(hi):
            return None
    live = sorted((lo, hi) for lo, hi in bands if hi > lo)
    if any(live[i + 1][0] < live[i][1] for i in range(len(live) - 1)):
        return None  # overlapping (or duplicated) bands — nested loop
    if not live:
        # no band can ever match: inner join result is empty either way
        return None

    def chain(v):
        expr = None
        for i, (lo, hi) in enumerate(live):
            c = (v >= F.lit(lo)) & (v < F.lit(hi))
            expr = F.when(c, i) if expr is None else expr.when(c, i)
        return expr

    lb = left.withColumn("__band_idx__", chain(F.col(value_col)))
    # the broadcast side is the already-collected rows — same rows, same
    # schema, zero re-execution of the right plan; ONE slice so the
    # broadcast build is one task (plain createDataFrame would slice the
    # local rows defaultParallelism ways again)
    local = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), right.schema
    )
    rb = local.filter(F.col(hi_col) > F.col(lo_col)).withColumn(
        "__band_idx__", chain(F.col(lo_col))
    )
    return lb.join(F.broadcast(rb), on="__band_idx__", how="inner").drop(
        "__band_idx__"
    )


def _field_position(spark, columns, name):
    """Index of top-level column ``name`` in ``columns`` under the session's
    ``spark.sql.caseSensitive``; ``None`` when absent or ambiguous."""
    exact = spark.conf.get("spark.sql.caseSensitive", "false").lower() == "true"
    fold = (lambda c: c) if exact else str.lower
    hits = [i for i, c in enumerate(columns) if fold(c) == fold(name)]
    return hits[0] if len(hits) == 1 else None


def _floor_div(col, width):
    """Exact integer ``floor(col / width)`` for long columns.

    ``F.floor(a / b)`` evaluates in double, which is exact only below
    2^53 — at unix-nanos scale (~2^60) the rounded quotient can land a
    value and its interval edge in DIFFERENT grid cells, silently
    dropping matching pairs (the post-filter only removes false
    positives, it cannot recover misses). ``div`` (IntegralDivide)
    truncates toward zero, which equals floor once the numerator is
    snapped down to an exact multiple via ``pmod`` (always >= 0, so the
    subtraction floors negative values too). All-long arithmetic, exact
    over the full int64 domain."""
    c = col.cast("long")
    w = F.lit(int(width)).cast("long")
    return F.call_function("div", c - F.pmod(c, w), w)


def auto_bucket_width(right: DataFrame, lo_col: str, hi_col: str) -> int:
    """Derive a grid width for ``range_join_bucketed`` from the interval-
    length distribution of ``right``: the median length, so the typical
    interval explodes to <= 2 cells.

    One tiny single-row aggregation on the interval side (the bounded
    driver collect is one row of three longs). Warns — but proceeds —
    when the length distribution is so skewed (p99/p50 > 100) that a
    single global width is degenerate: the long tail then replicates to
    ~p99/p50 cells per interval, and the caller should pick a width (or
    split the interval side by length band) instead."""
    row = (
        right.select(
            (F.col(hi_col).cast("long") - F.col(lo_col).cast("long")).alias("len")
        )
        .filter(F.col("len") > 0)
        .agg(
            F.percentile_approx("len", 0.5).alias("p50"),
            F.percentile_approx("len", 0.99).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
        .first()
    )
    if not row["n"]:
        raise ValueError(
            f"auto bucket width: no interval on the right side has "
            f"{hi_col} > {lo_col}; pass bucket_width explicitly"
        )
    width = max(int(row["p50"]), 1)
    if row["p99"] and row["p99"] / width > 100:
        warnings.warn(
            f"range_join_bucketed auto width {width} is degenerate for the "
            f"interval-length tail (p99={row['p99']}, p99/p50 > 100): tail "
            f"intervals explode to ~{int(row['p99'] / width) + 1} cells "
            f"each. Pass bucket_width or band the interval side by length.",
            stacklevel=2,
        )
    return width


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: int | None = None,
    extra_on: Sequence[str] | None = None,
) -> DataFrame:
    """Big×big range join via grid bucketing — the rewrite ``range_join``'s
    docstring names for when the interval side is fact-sized and a
    broadcast nested loop would be either impossible (no broadcast) or
    quadratic (shuffled NLJ).

    Both sides map onto a grid of ``bucket_width``-sized cells over the
    INTEGRAL join domain (cast timestamps to ``unix_micros`` first):
    every left value lands in exactly ONE cell, every right interval
    ``[lo, hi)`` is exploded to the cells it overlaps, and the join
    becomes an EQUI-join on cell id (plus any ``extra_on`` keys) with the
    exact interval predicate applied as a post-filter. Catalyst plans a
    shuffled hash / sort-merge join — shuffle cost is linear in rows ×
    interval-to-width ratio, never a nested loop; AQE's skew handling
    applies because it is a plain equi-join.

    Pick ``bucket_width`` ≈ the typical interval length: each interval
    then explodes to ≤ 2 cells (the replication factor is
    ``ceil(len/width) + 1``). ``bucket_width=None`` derives it from the
    median interval length (``auto_bucket_width`` — one tiny agg on the
    right side, warning on skew-degenerate distributions). Inner join
    only — a left row matching no interval is droppable cell-locally;
    outer variants need a join-back (compose with a left join on the
    output keys).

    Cell ids use exact integer floor division (``_floor_div``), so the
    grid is correct over the FULL int64 domain — unix nanos included.
    Inverted intervals (``hi <= lo`` — a data bug) are dropped before
    the explode: they can never satisfy the ``lo <= v < hi`` post-filter,
    and exploding a descending cell sequence for them would be wasted
    (potentially huge) fan-out.

    Absent in the reference (SURVEY §2.2 'Joins'); standard grid/band
    rewrite as in e.g. interval joins in genomics engines."""
    if bucket_width is None:
        bucket_width = auto_bucket_width(right, lo_col, hi_col)
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    if "__cell__" in left.columns or "__cell__" in right.columns:
        raise ValueError("reserved column __cell__ present on an input")
    lb = left.withColumn("__cell__", _floor_div(F.col(value_col), bucket_width))
    # last overlapped cell is floor((hi - 1) / w): hi itself is exclusive
    rb = right.filter(F.col(hi_col) > F.col(lo_col)).withColumn(
        "__cell__",
        F.explode(
            F.sequence(
                _floor_div(F.col(lo_col), bucket_width),
                _floor_div(F.col(hi_col).cast("long") - F.lit(1), bucket_width),
            )
        ),
    )
    on = ["__cell__", *(extra_on or [])]
    return (
        lb.join(rb, on=on, how="inner")
        .filter(
            (F.col(value_col) >= F.col(lo_col))
            & (F.col(value_col) < F.col(hi_col))
        )
        .drop("__cell__")
    )
