"""Pairwise-judgment analytics: matrix canonicalization, records,
fixed-point Bradley-Terry (hand-computed convergence + clamp)."""

import pytest
from conftest import new_plan_descriptions
from pyspark.sql import functions as F

from etl_online_retail_spark.operators.arena import (
    BT_FP_SCALE,
    bradley_terry,
    bradley_terry_from_matrix,
    model_records,
    pairwise_matrix,
)


def _battles(spark, rows):
    return spark.createDataFrame(
        rows, "model_a string, model_b string, outcome string")


def test_pairwise_matrix_canonicalizes_and_filters(spark):
    """Both presentation orders of a pair land in ONE row; malformed
    outcomes, NULL models and self-battles never reach the counts."""
    rows = [
        ("X", "Y", "a"), ("Y", "X", "a"),   # X win, then Y win
        ("X", "Y", "tie"),
        ("X", "Y", "bogus"), ("X", None, "a"), ("X", "X", "a"),
    ]
    got = pairwise_matrix(_battles(spark, rows)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.m1, r.m2) == ("X", "Y")
    assert (r.m1_wins, r.m2_wins, r.ties, r.n_battles) == (1, 1, 1, 3)


def test_model_records_half_point_rate(spark):
    rows = [("X", "Y", "a"), ("X", "Y", "a"), ("Y", "X", "a"),
            ("X", "Y", "tie")]
    got = {r.model: r for r in
           model_records(_battles(spark, rows)).collect()}
    x = got["X"]
    assert (x.wins, x.losses, x.ties, x.n_battles) == (2, 1, 1, 4)
    assert x.win_rate == (2 * 2 + 1) / (2 * 4)       # 0.625
    y = got["Y"]
    assert (y.wins, y.losses, y.ties, y.n_battles) == (1, 2, 1, 4)
    assert x.win_rate + y.win_rate == 1.0


def test_bradley_terry_two_model_hand_check(spark):
    """X beats Y twice + one tie: half-points W2_X=5, W2_Y=1, N2=6.
    The MM fixed point is a 5:1 score ratio; the int64 iteration
    reaches (1666666, 333333) and stays there — exact values traced
    by hand through the truncating divisions."""
    rows = [("X", "Y", "a"), ("Y", "X", "b"), ("X", "Y", "tie")]
    got = {r.model: r for r in
           bradley_terry(_battles(spark, rows), iters=3).collect()}
    assert got["X"].bt_fp == 1_666_666
    assert got["Y"].bt_fp == 333_333
    assert got["X"].bt_score == 1_666_666 / BT_FP_SCALE


def test_bradley_terry_never_scoring_model_clamps(spark):
    """A model with zero wins and zero ties has W2=0; the max(1,.)
    clamp pins it at the smallest positive unit instead of zeroing
    the shared denominators."""
    rows = [("L", "X", "b"), ("L", "Y", "b"), ("X", "Y", "tie")]
    got = {r.model: r for r in
           bradley_terry(_battles(spark, rows), iters=3).collect()}
    assert got["L"].bt_fp == 1
    assert got["X"].bt_fp > BT_FP_SCALE // 2
    assert got["X"].bt_fp == got["Y"].bt_fp   # symmetric record


def test_bradley_terry_ordering_tracks_strength(spark):
    """Three models with a strict dominance chain order correctly,
    and the result is partition-layout independent."""
    rows = ([("A", "B", "a")] * 3 + [("B", "A", "b")]
            + [("B", "C", "a")] * 3 + [("C", "B", "b")]
            + [("A", "C", "a")] * 4)
    df = _battles(spark, rows)
    got = {r.model: r.bt_fp for r in bradley_terry(df, iters=3).collect()}
    assert got["A"] > got["B"] > got["C"]
    re = {r.model: r.bt_fp
          for r in bradley_terry(df.repartition(7), iters=3).collect()}
    assert re == got


def test_bradley_terry_returns_holding_no_cache(spark):
    """Rounds are cut, not cached, and the matrix caches are released:
    one call leaves the cache manager where it found it."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    rows = [("A", "B", "a"), ("B", "C", "tie"), ("C", "A", "b")]
    before = cm.cachedData().size()
    got = bradley_terry(_battles(spark, rows), iters=3).collect()
    assert len(got) == 3
    assert cm.cachedData().size() == before


def test_bradley_terry_plans_no_sort_merge_join(spark):
    """The scores and the per-model denominators are broadcast by the
    model count observed on w's cut. Sized by the cuts' compounding
    estimates instead, rounds 2-3 planned SortMergeJoins."""
    rows = [("A", "B", "a"), ("B", "C", "tie"), ("C", "A", "b"),
            ("A", "C", "a"), ("D", "A", "b"), ("B", "D", "a")]
    plans = new_plan_descriptions(
        spark, lambda: bradley_terry(_battles(spark, rows), iters=3)
        .collect())
    assert not [p for p in plans if "SortMergeJoin" in p]


def test_bradley_terry_rejects_int64_overflow(spark):
    """A model holding more half-points than int64 fixed point can
    carry fails loudly in-plan, before any round."""
    matrix = spark.createDataFrame(
        [("A", "B", 10 ** 7, 0, 0, 10 ** 7)],
        "m1 string, m2 string, m1_wins long, m2_wins long, ties long, "
        "n_battles long")
    with pytest.raises(Exception, match="int64 fixed-point would overflow"):
        bradley_terry_from_matrix(matrix, iters=3).collect()


def test_wilson_interval_matches_reference_formula(spark):
    """Bounds equal the same IEEE tree computed in Python; n = 0 rows
    get NULL bounds (no battles, no information)."""
    from etl_online_retail_spark.operators.arena import (
        with_wilson_interval,
    )

    rows = [("A", 0.5, 100), ("B", 1.0, 3), ("C", 0.5, 0)]
    df = spark.createDataFrame(
        rows, "model string, win_rate double, n_battles long")
    got = {r.model: r for r in with_wilson_interval(df).collect()}

    def wilson(p, n, z=1.96):
        z2 = z * z
        denom = 1.0 + z2 / n
        center = (p + z2 / (2 * n)) / denom
        half = (z / denom) * ((p * (1.0 - p) / n
                               + z2 / (4 * n * n)) ** 0.5)
        return center - half, center + half

    lo, hi = wilson(0.5, 100.0)
    assert (got["A"].wilson_lo, got["A"].wilson_hi) == (lo, hi)
    assert got["A"].wilson_lo < 0.5 < got["A"].wilson_hi
    # a 3-battle perfect record has a wide, honest interval
    lo3, _ = wilson(1.0, 3.0)
    assert got["B"].wilson_lo == lo3 and lo3 < 0.5
    assert got["C"].wilson_lo is None and got["C"].wilson_hi is None


def test_position_bias_counts_and_gap(spark):
    from etl_online_retail_spark.operators.arena import position_bias

    rows = [("X", "Y", "a")] * 3 + [("Y", "X", "b")] * 1 \
        + [("X", "Y", "tie")] * 2 + [("X", "X", "a"), ("X", "Y", "junk")]
    df = spark.createDataFrame(
        rows, "model_a string, model_b string, outcome string")
    r = position_bias(df).collect()[0]
    assert (r.n_battles, r.a_wins, r.b_wins, r.ties) == (6, 3, 1, 2)
    assert r.a_win_rate == 3 / 6 and r.b_win_rate == 1 / 6
    assert r.position_gap == (3 - 1) / 6


def test_position_bias_empty_input_null_rates(spark):
    from etl_online_retail_spark.operators.arena import position_bias

    df = spark.createDataFrame(
        [], "model_a string, model_b string, outcome string")
    r = position_bias(df).collect()[0]
    assert r.n_battles == 0
    assert r.a_win_rate is None and r.position_gap is None
