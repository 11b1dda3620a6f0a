"""Size-guarded broadcast hints (operators/joins.py).

The retail dims are MBs and must keep broadcasting at test SF (the plans
the bench measures must not regress), while a dim whose static size
estimate exceeds the bound must NOT carry a forced hint — at 100x a
TPC-H-shaped part/customer outgrows executor memory and a forced
broadcast OOMs instead of degrading to a shuffle join under AQE.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_online_retail_spark.operators.joins import (
    BROADCAST_MAX_BYTES,
    _plan_size_bytes,
    broadcast_lookup,
    size_guarded_broadcast,
    star_join,
)

SF = "/root/testdata/sf0.01"


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_dims_still_broadcast_at_test_sf(spark):
    """The BI star (customer + nation + part dims) must keep its
    broadcast joins at test SF: the guard only withholds the hint past
    the size bound, and these dims are far under it."""
    from etl_online_retail_spark.workload_bi import q_virtual_dataset

    plan = _executed(q_virtual_dataset(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_star_month_rollup_keeps_customer_broadcast(spark):
    from etl_online_retail_spark.workload import queries

    plan = _executed(queries()["star_revenue_by_nation_month"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_big_dim_estimate_withholds_the_hint(spark):
    """A dim whose plan-size estimate exceeds the bound comes back
    UNHINTED (no ResolvedHint in the analyzed plan) — AQE decides."""
    big = spark.range(50_000_000).select(
        F.col("id").alias("k"), F.col("id").alias("payload"))
    est = _plan_size_bytes(big)
    assert est is not None and est > BROADCAST_MAX_BYTES
    guarded = size_guarded_broadcast(big)
    assert "ResolvedHint" not in _analyzed(guarded)
    facts = spark.range(10).select(F.col("id").alias("k"))
    joined = broadcast_lookup(facts, big, "k")
    assert "ResolvedHint" not in _analyzed(joined)


def test_force_broadcast_overrides_the_guard(spark):
    """force=True (the fixed-size nation/region/date-spine escape) hints
    regardless of the estimate."""
    big = spark.range(50_000_000).select(F.col("id").alias("k"))
    assert "ResolvedHint" in _analyzed(size_guarded_broadcast(big, True))
    facts = spark.range(10).select(F.col("id").alias("k"))
    joined = star_join(facts, [(big, "k")], force_broadcast=True)
    assert "ResolvedHint" in _analyzed(joined)


def test_small_dim_estimate_keeps_the_hint(spark):
    small = spark.range(100).select(F.col("id").alias("k"))
    est = _plan_size_bytes(small)
    assert est is not None and est <= BROADCAST_MAX_BYTES
    assert "ResolvedHint" in _analyzed(size_guarded_broadcast(small))


def test_exact_row_count_decides_on_both_sides_of_the_bound(spark):
    """Given an exact row count, the guard sizes the relation as rows x
    row width and ignores the static estimate: a cut relation's estimate
    is its origin plan's, here 10M rows for a 10-row cut."""
    from etl_online_retail_spark.operators.joins import _row_width_bytes
    from etl_online_retail_spark.session import cut_lineage

    cut = cut_lineage(spark.range(10_000_000)
                      .select(F.col("id").alias("k"))
                      .filter(F.col("k") < 10))
    assert _plan_size_bytes(cut) > BROADCAST_MAX_BYTES
    assert "ResolvedHint" not in _analyzed(size_guarded_broadcast(cut))
    assert "ResolvedHint" in _analyzed(size_guarded_broadcast(cut, rows=10))
    fits = BROADCAST_MAX_BYTES // _row_width_bytes(cut)
    assert "ResolvedHint" in _analyzed(size_guarded_broadcast(cut,
                                                              rows=fits))
    assert "ResolvedHint" not in _analyzed(
        size_guarded_broadcast(cut, rows=fits + 1))


def test_guard_results_identical_either_path(spark):
    """Hinted and unhinted joins return the same rows (the guard is a
    pure planning concern)."""
    facts = spark.createDataFrame([(i, i * 10) for i in range(20)],
                                  "k INT, v INT")
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(0, 20, 2)],
                                "k INT, name STRING")
    a = broadcast_lookup(facts, dim, "k")
    b = broadcast_lookup(facts, dim, "k", max_bytes=0)  # guard trips
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@pytest.mark.parametrize("search", ["ivf_topk", "ivf_topk_int"])
def test_ivf_probe_broadcast_is_size_guarded(spark, monkeypatch, search):
    """The IVF probe side (queries x n_probe rows, so it grows with the
    query set) carries the broadcast hint only while its estimate fits
    the bound; past it the join is unhinted. Same rows either way."""
    from etl_online_retail_spark.catalog import load_table
    from etl_online_retail_spark.operators import joins, similarity

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    run = getattr(similarity, search)
    got = {}
    for estimate in (0, BROADCAST_MAX_BYTES + 1):
        monkeypatch.setattr(joins, "_plan_size_bytes", lambda df: estimate)
        df = run(emb, queries, k=3, n_clusters=4, n_probe=2)
        got[estimate] = sorted(map(tuple, df.collect()))
        assert ("ResolvedHint" in _analyzed(df)) == (estimate == 0)
    assert got[0] and got[0] == got[BROADCAST_MAX_BYTES + 1]
