"""Semantics of the big×big grid-bucketed range join: row-identical to
the naive interval predicate across the boundary cases the grid mapping
could get wrong (inclusive lo, exclusive hi, intervals spanning several
cells, interval edges landing exactly on cell edges)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyarrow_ops_spark.plans.inspect import formatted_plan
from pyarrow_ops_spark.operators.join import range_join, range_join_bucketed


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def sides(spark):
    # values at and around every cell edge for width=10
    vals = [0, 1, 9, 10, 11, 19, 20, 25, 30, 99, 100]
    left = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "lid int, v long")
    # intervals: sub-cell, exact-cell, multi-cell, edge-aligned, empty-ish
    ivals = [
        (0, 0, 10),    # exactly one cell, hi on the edge (exclusive)
        (1, 5, 15),    # straddles an edge
        (2, 10, 40),   # three cells, both edges aligned
        (3, 7, 8),     # sub-cell
        (4, 95, 105),  # straddles at the top of the domain
        (5, 20, 21),   # minimal width at an edge
    ]
    right = spark.createDataFrame(ivals, "rid int, lo long, hi long")
    return left, right


def test_bucketed_equals_naive(spark, sides):
    left, right = sides
    naive = range_join(left, right, "v", "lo", "hi", broadcast_right=False).select(
        "lid", "rid"
    )
    bucketed = range_join_bucketed(left, right, "v", "lo", "hi", bucket_width=10).select(
        "lid", "rid"
    )
    assert _rows(bucketed) == _rows(naive)
    assert len(_rows(bucketed)) > 0


def test_bucketed_width_not_dividing(spark, sides):
    left, right = sides
    for w in (3, 7, 1000):
        naive = range_join(left, right, "v", "lo", "hi", broadcast_right=False)
        bucketed = range_join_bucketed(left, right, "v", "lo", "hi", bucket_width=w)
        assert _rows(bucketed.select("lid", "rid")) == _rows(naive.select("lid", "rid"))


def test_bucketed_extra_on(spark):
    left = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 5), (3, "a", 25)], "lid int, k string, v long"
    )
    right = spark.createDataFrame(
        [(10, "a", 0, 10), (11, "b", 0, 10), (12, "a", 20, 30)],
        "rid int, k string, lo long, hi long",
    )
    out = range_join_bucketed(
        left, right, "v", "lo", "hi", bucket_width=10, extra_on=["k"]
    )
    assert _rows(out.select("lid", "rid")) == [(1, 10), (2, 11), (3, 12)]


def test_bucketed_bad_width(spark, sides):
    left, right = sides
    with pytest.raises(ValueError):
        range_join_bucketed(left, right, "v", "lo", "hi", bucket_width=0)


def test_bucketed_reserved_column(spark, sides):
    left, right = sides
    with pytest.raises(ValueError):
        range_join_bucketed(
            left.withColumn("__cell__", F.lit(1)), right, "v", "lo", "hi", 10
        )


def test_auto_width_matches_naive(spark, sides):
    """bucket_width=None derives the width from the median interval
    length; the result must stay row-identical to the raw predicate."""
    left, right = sides
    naive = range_join(left, right, "v", "lo", "hi", broadcast_right=False)
    auto = range_join_bucketed(left, right, "v", "lo", "hi")  # width omitted
    assert _rows(auto.select("lid", "rid")) == _rows(naive.select("lid", "rid"))


def test_auto_width_value_is_median_length(spark, sides):
    _, right = sides
    from pyarrow_ops_spark.operators.join import auto_bucket_width

    # lengths: 10, 10, 30, 1, 10, 1 -> median 10
    assert auto_bucket_width(right, "lo", "hi") == 10


def test_auto_width_all_inverted_raises(spark):
    from pyarrow_ops_spark.operators.join import auto_bucket_width

    right = spark.createDataFrame([(0, 10, 10), (1, 9, 5)], "rid int, lo long, hi long")
    with pytest.raises(ValueError, match="auto bucket width"):
        auto_bucket_width(right, "lo", "hi")


def test_auto_width_warns_on_skewed_lengths(spark):
    import warnings as w

    from pyarrow_ops_spark.operators.join import auto_bucket_width

    # 90 unit intervals + a 10-interval 10000-long tail: p50=1, p99=10000
    ivals = [(i, i * 100_000, i * 100_000 + 1) for i in range(90)] + [
        (90 + j, j * 100_000, j * 100_000 + 10_000) for j in range(10)
    ]
    right = spark.createDataFrame(ivals, "rid int, lo long, hi long")
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        width = auto_bucket_width(right, "lo", "hi")
    assert width == 1
    assert any("degenerate" in str(c.message) for c in caught)


def test_inverted_intervals_dropped_cheaply(spark):
    """hi <= lo rows can never match (post-filter is lo <= v < hi); they
    must be filtered BEFORE the explode — a descending F.sequence on an
    inverted interval would otherwise fan out enormously (here it would
    raise: sequence(1000, 0) with default step 1 errors / or generates a
    huge descending list depending on version)."""
    left = spark.createDataFrame([(1, 5)], "lid int, v long")
    right = spark.createDataFrame(
        [(0, 0, 10), (1, 10_000_000, 0)], "rid int, lo long, hi long"
    )
    out = range_join_bucketed(left, right, "v", "lo", "hi", bucket_width=10)
    assert _rows(out.select("lid", "rid")) == [(1, 0)]


def test_exact_above_double_precision(spark):
    """Cell mapping is exact integer arithmetic: at ~2^59 (unix-nanos
    scale) the old double-division floor mapped 2^53+1-adjacent values
    off by one cell, dropping true matches. v sits at the very start of
    its interval; both must land in the same grid cell."""
    base = (9007199254740993) * 64  # (2^53 + 1) << 6 : not a double
    left = spark.createDataFrame([(1, base), (2, base + 63)], "lid int, v long")
    right = spark.createDataFrame(
        [(0, base, base + 64)], "rid int, lo long, hi long"
    )
    naive = range_join(left, right, "v", "lo", "hi", broadcast_right=False)
    for w_ in (64, 7, 1):
        out = range_join_bucketed(left, right, "v", "lo", "hi", bucket_width=w_)
        assert _rows(out.select("lid", "rid")) == _rows(naive.select("lid", "rid"))
    assert _rows(naive.select("lid", "rid")) == [(1, 0), (2, 0)]


def test_negative_domain_floor_semantics(spark):
    """Integer div truncates toward zero; the pmod snap must restore
    floor semantics for negative values (e.g. timestamps before 1970)."""
    left = spark.createDataFrame([(1, -3), (2, -10), (3, -11)], "lid int, v long")
    right = spark.createDataFrame([(0, -10, 0)], "rid int, lo long, hi long")
    naive = range_join(left, right, "v", "lo", "hi", broadcast_right=False)
    out = range_join_bucketed(left, right, "v", "lo", "hi", bucket_width=10)
    assert _rows(out.select("lid", "rid")) == _rows(naive.select("lid", "rid"))
    assert _rows(out.select("lid", "rid")) == [(1, 0), (2, 0)]


# --- r15: disjoint-band equi-join rewrite of the broadcast range join -------


def _bnlj(left, right, v, lo, hi, how="inner"):
    """The pre-r15 nested-loop reference form (bypasses the rewrite)."""
    r = F.broadcast(right)
    cond = (left[v] >= r[lo]) & (left[v] < r[hi])
    return left.join(r, on=cond, how=how)


@pytest.fixture()
def disjoint_sides(spark):
    vals = [None, -5, 0, 1, 9, 10, 25, 99, 100, 1000, 10**7]
    left = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "lid int, v long"
    )
    ivals = [
        ("a", 0, 10),
        ("b", 10, 40),     # touching edges are disjoint (hi exclusive)
        ("c", 95, 105),
        ("d", 7, 7),       # zero-length: can never match
        ("e", 500, 400),   # inverted: can never match
    ]
    right = spark.createDataFrame(ivals, "band string, lo long, hi long")
    return left, right


def test_disjoint_rewrite_equals_nested_loop(spark, disjoint_sides):
    left, right = disjoint_sides
    got = range_join(left, right, "v", "lo", "hi")
    ref = _bnlj(left, right, "v", "lo", "hi")
    assert _rows(got) == _rows(ref)
    assert len(_rows(got)) > 0
    assert got.columns == ref.columns


def test_disjoint_rewrite_plans_hash_join(spark, disjoint_sides):
    left, right = disjoint_sides
    plan = formatted_plan(range_join(left, right, "v", "lo", "hi"))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_overlapping_bands_fall_back_and_match(spark, disjoint_sides):
    left, _ = disjoint_sides
    right = spark.createDataFrame(
        [("a", 0, 20), ("b", 10, 40)], "band string, lo long, hi long"
    )
    got = range_join(left, right, "v", "lo", "hi")
    plan = formatted_plan(got)
    assert "BroadcastNestedLoopJoin" in plan  # fallback, not silent wrong
    assert _rows(got) == _rows(_bnlj(left, right, "v", "lo", "hi"))
    # a value in the overlap matches BOTH bands
    both = [t for t in _rows(got) if t[1] == 10]
    assert len(both) == 2


def test_duplicate_bands_fall_back(spark, disjoint_sides):
    left, _ = disjoint_sides
    right = spark.createDataFrame(
        [("a", 0, 10), ("a2", 0, 10)], "band string, lo long, hi long"
    )
    got = range_join(left, right, "v", "lo", "hi")
    assert _rows(got) == _rows(_bnlj(left, right, "v", "lo", "hi"))
    assert len([t for t in _rows(got) if t[1] == 1]) == 2


def test_null_and_nan_band_edges_fall_back(spark, disjoint_sides):
    left, _ = disjoint_sides
    leftd = left.withColumn("v", F.col("v").cast("double"))
    for ivals in (
        [("a", 0.0, 10.0), ("b", None, 40.0)],
        [("a", 0.0, 10.0), ("b", float("nan"), 40.0)],
    ):
        right = spark.createDataFrame(ivals, "band string, lo double, hi double")
        got = range_join(leftd, right, "v", "lo", "hi")
        assert _rows(got) == _rows(_bnlj(leftd, right, "v", "lo", "hi"))


def test_rewrite_respects_how_and_extra_on(spark, disjoint_sides):
    left, right = disjoint_sides
    # non-inner joins keep the generic path (and its semantics)
    got = range_join(left, right, "v", "lo", "hi", how="left")
    assert _rows(got) == _rows(_bnlj(left, right, "v", "lo", "hi", how="left"))
    # unmatched left rows survive a left join
    assert any(t[-1] is None for t in _rows(got))


def test_rewrite_band_cap_falls_back(spark):
    left = spark.createDataFrame([(1, 5)], "lid int, v long")
    ivals = [(f"b{i}", i * 10, i * 10 + 10) for i in range(20)]
    right = spark.createDataFrame(ivals, "band string, lo long, hi long")
    got = range_join(left, right, "v", "lo", "hi", max_bands_rewrite=4)
    plan = formatted_plan(got)
    assert "BroadcastNestedLoopJoin" in plan
    assert _rows(got) == _rows(_bnlj(left, right, "v", "lo", "hi"))


def test_mixed_case_band_columns_take_rewrite(spark, disjoint_sides):
    # the analyzer matches "lo" to a dim column "LO"; the rewrite's
    # driver-side band analysis must resolve it the same way
    left, right = disjoint_sides
    upper = right.toDF("BAND", "LO", "HI")
    got = range_join(left, upper, "v", "lo", "hi")
    assert "BroadcastHashJoin" in formatted_plan(got)
    assert _rows(got) == _rows(_bnlj(left, upper, "v", "lo", "hi"))
    assert len(_rows(got)) > 0


def test_case_sensitive_session_resolves_exact_names(spark, disjoint_sides):
    # with caseSensitive on, "lo"/"hi" name the disjoint bands and
    # "LO"/"HI" overlapping ones; each call must use the exact columns
    left, right = disjoint_sides
    prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        both = right.withColumn("LO", F.col("lo") - 5).withColumn(
            "HI", F.col("hi") + 5
        )
        assert both.columns == ["band", "lo", "hi", "LO", "HI"]
        for lo, hi in (("lo", "hi"), ("LO", "HI")):
            got = range_join(left, both, "v", lo, hi)
            assert _rows(got) == _rows(_bnlj(left, both, "v", lo, hi))
    finally:
        spark.conf.set("spark.sql.caseSensitive", prev)
