"""Unit tests for operators/timeseries.py, operators/graph.py, and
dedup.remove_repeated_segments — golden fixtures with hand-checked
answers, plus the invariants each operator advertises."""

from __future__ import annotations

import datetime as dt

import pytest
from conftest import cached_entries, new_plan_descriptions
from pyspark.sql import functions as F

from etl_online_retail_spark.operators.dedup import (
    duplicate_clusters,
    duplicate_clusters_star,
    remove_repeated_segments,
)
from etl_online_retail_spark.operators import graph
from etl_online_retail_spark.operators.graph import (
    copurchase_edges,
    copurchase_pmi,
    copurchase_rules,
    khop_distances,
    pagerank,
    personalized_pagerank,
    triangle_counts,
)
from etl_online_retail_spark.operators.timeseries import (
    activity_streaks,
    gapfill_locf,
    time_weighted_avg,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


# ---------------------------------------------------------------------------
# gapfill_locf


@pytest.fixture(scope="module")
def tiny_events(spark):
    rows = [
        # key 1: obs at 00 and 03 -> gaps 01, 02 carry 10.0
        (1, _ts("2024-01-01T00:10:00"), 10.0, 1),
        (1, _ts("2024-01-01T03:20:00"), 40.0, 2),
        # same-bucket tie: later ts wins within hour 03
        (1, _ts("2024-01-01T03:50:00"), 45.0, 3),
        # key 2: single observation -> single spine row
        (2, _ts("2024-01-01T05:00:01"), 7.0, 4),
    ]
    return spark.createDataFrame(
        rows, "user_id INT, ts TIMESTAMP_NTZ, value DOUBLE, event_id INT")


def test_gapfill_fills_interior_gaps_with_locf(spark, tiny_events):
    out = gapfill_locf(tiny_events, "user_id", "ts", "value",
                       tiebreak_col="event_id", step="hour")
    got = {(r.user_id, r.bucket.hour): (r.value_filled, r.is_observed)
           for r in out.collect()}
    assert got[(1, 0)] == (10.0, True)
    assert got[(1, 1)] == (10.0, False)   # gap carries 10.0
    assert got[(1, 2)] == (10.0, False)
    assert got[(1, 3)] == (45.0, True)    # last event in the bucket wins
    assert got[(2, 5)] == (7.0, True)
    assert len(got) == 5                  # spine = min..max bucket per key


def test_gapfill_spine_is_contiguous_and_never_null(spark, tiny_events):
    out = gapfill_locf(tiny_events, "user_id", "ts", "value",
                       tiebreak_col="event_id", step="hour").collect()
    assert all(r.value_filled is not None for r in out)
    by_key = {}
    for r in out:
        by_key.setdefault(r.user_id, []).append(r.bucket)
    for buckets in by_key.values():
        buckets.sort()
        for a, b in zip(buckets, buckets[1:]):
            assert (b - a) == dt.timedelta(hours=1)


# ---------------------------------------------------------------------------
# activity_streaks


def test_activity_streaks_golden(spark):
    rows = [
        # user 1: days 1,2,3 then 5,6 -> streaks [3, 2]
        (1, _ts("2024-01-01T10:00:00")),
        (1, _ts("2024-01-02T10:00:00")),
        (1, _ts("2024-01-02T23:00:00")),  # same day, no double count
        (1, _ts("2024-01-03T00:00:00")),
        (1, _ts("2024-01-05T10:00:00")),
        (1, _ts("2024-01-06T10:00:00")),
        # user 2: one day only
        (2, _ts("2024-02-01T00:00:00")),
    ]
    df = spark.createDataFrame(rows, "user_id INT, ts TIMESTAMP_NTZ")
    got = {r.user_id: r.asDict() for r in
           activity_streaks(df, "user_id", "ts").collect()}
    assert got[1]["n_active_days"] == 5
    assert got[1]["n_streaks"] == 2
    assert got[1]["longest_streak"] == 3
    assert got[1]["longest_streak_start"] == dt.date(2024, 1, 1)
    assert got[2] == {"user_id": 2, "n_active_days": 1, "n_streaks": 1,
                      "longest_streak": 1,
                      "longest_streak_start": dt.date(2024, 2, 1)}


def test_activity_streaks_tie_prefers_earliest_start(spark):
    rows = [(1, _ts("2024-01-01T00:00:00")), (1, _ts("2024-01-02T00:00:00")),
            (1, _ts("2024-01-10T00:00:00")), (1, _ts("2024-01-11T00:00:00"))]
    df = spark.createDataFrame(rows, "user_id INT, ts TIMESTAMP_NTZ")
    [r] = activity_streaks(df, "user_id", "ts").collect()
    assert r.longest_streak == 2
    assert r.longest_streak_start == dt.date(2024, 1, 1)


# ---------------------------------------------------------------------------
# time_weighted_avg


def test_time_weighted_avg_golden(spark):
    # value 10 holds for 1000 ms, then 20 for 3000 ms:
    # twa = (10*1000 + 20*3000) / 4000 = 17.5
    rows = [(1, _ts("2024-01-01T00:00:00"), 10.0, 1),
            (1, _ts("2024-01-01T00:00:01"), 20.0, 2)]
    df = (spark.createDataFrame(
            rows, "user_id INT, ts TIMESTAMP_NTZ, value DOUBLE, event_id INT")
          .withColumn("_end", F.lit(_ts("2024-01-01T00:00:04"))
                      .cast("timestamp_ntz")))
    [r] = time_weighted_avg(df, "user_id", "ts", "value",
                            tiebreak_col="event_id",
                            end_ts=F.col("_end")).collect()
    assert r.twa == pytest.approx(17.5)
    assert r.total_ms == 4000


def test_time_weighted_avg_clamps_to_horizon(spark):
    """An observation BEYOND end_ts must neither contribute nor extend
    the previous value's weight past the horizon (r7 review): value 10
    holds from t0 to the Jan-15-style early horizon, the later value 20
    never enters."""
    rows = [(1, _ts("2024-01-01T00:00:00"), 10.0, 1),
            (1, _ts("2024-01-01T00:00:10"), 20.0, 2)]   # after the horizon
    df = (spark.createDataFrame(
            rows, "user_id INT, ts TIMESTAMP_NTZ, value DOUBLE, event_id INT")
          .withColumn("_end", F.lit(_ts("2024-01-01T00:00:02"))
                      .cast("timestamp_ntz")))
    [r] = time_weighted_avg(df, "user_id", "ts", "value",
                            tiebreak_col="event_id",
                            end_ts=F.col("_end")).collect()
    assert r.twa == pytest.approx(10.0)
    assert r.total_ms == 2000


def test_time_weighted_avg_drops_sub_ms_updates(spark):
    # two updates inside one millisecond: only the later one holds value
    rows = [(1, _ts("2024-01-01T00:00:00.000100"), 99.0, 1),
            (1, _ts("2024-01-01T00:00:00.000900"), 10.0, 2)]
    df = (spark.createDataFrame(
            rows, "user_id INT, ts TIMESTAMP_NTZ, value DOUBLE, event_id INT")
          .withColumn("_end", F.lit(_ts("2024-01-01T00:00:01"))
                      .cast("timestamp_ntz")))
    [r] = time_weighted_avg(df, "user_id", "ts", "value",
                            tiebreak_col="event_id",
                            end_ts=F.col("_end")).collect()
    assert r.twa == pytest.approx(10.0)


# ---------------------------------------------------------------------------
# khop_distances


@pytest.fixture(scope="module")
def chain_graph(spark):
    # 1-2-3-4-5 chain plus isolated 9 (undirected: both directions)
    edges = [(a, b) for a, b in [(1, 2), (2, 3), (3, 4), (4, 5)]]
    edges += [(b, a) for a, b in edges]
    return spark.createDataFrame(edges, "src INT, dst INT")


def _venues(monkeypatch):
    """Runs a khop test's loop body on the driver (the default bound
    keeps these small graphs there), then in the distributed hop loop
    (bound 0)."""
    yield "driver"
    monkeypatch.setattr(graph, "KHOP_DRIVER_ROWS", 0)
    yield "distributed"


@pytest.fixture
def distributed(monkeypatch):
    """Pins a test of the hop loop's plans to the distributed venue."""
    monkeypatch.setattr(graph, "KHOP_DRIVER_ROWS", 0)


def _distances(df) -> dict:
    return {r.node: r.dist for r in df.collect()}


def test_khop_chain_distances(spark, chain_graph, monkeypatch):
    seeds = spark.createDataFrame([(1,)], "node INT")
    for venue in _venues(monkeypatch):
        got = _distances(khop_distances(chain_graph, seeds, max_hops=10))
        assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}, venue


def test_khop_respects_max_hops(spark, chain_graph, monkeypatch):
    seeds = spark.createDataFrame([(1,)], "node INT")
    for venue in _venues(monkeypatch):
        got = _distances(khop_distances(chain_graph, seeds, max_hops=2))
        assert got == {1: 0, 2: 1, 3: 2}, venue  # 4, 5 beyond the bound


def test_khop_multi_seed_takes_min_distance(spark, chain_graph, monkeypatch):
    seeds = spark.createDataFrame([(1,), (5,)], "node INT")
    for venue in _venues(monkeypatch):
        got = _distances(khop_distances(chain_graph, seeds, max_hops=10))
        assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}, venue


def _in_both_venues(monkeypatch, run) -> dict:
    """{venue: (sorted rows, schema string)} of `run()`."""
    def once():
        df = run()
        rows = sorted(map(tuple, df.collect()),
                      key=lambda r: (r[0] is None, r[0] or 0, r[1]))
        return rows, df.schema.simpleString()

    return {venue: once() for venue in _venues(monkeypatch)}


def test_khop_null_node_appears_once_in_both_venues(spark, monkeypatch):
    """A null node is one node: the null seed settles it at 0, and the
    null dsts reached at hops 2 and 3 are already settled. An edge
    whose src is null never expands (3 is unreachable). The hop loop's
    anti-join on `node` never matched a null, so it emitted the null
    node once per hop that reached it."""
    e = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (2, 4), (4, None)],
        "src INT, dst INT")
    s = spark.createDataFrame([(1,), (None,), (1,)], "node INT")
    got = _in_both_venues(monkeypatch,
                          lambda: khop_distances(e, s, max_hops=4))
    assert got["driver"] == got["distributed"] == (
        [(1, 0), (2, 1), (4, 2), (None, 0)], "struct<node:int,dist:int>")


# the ring 1->2->...->6->1 with a chord 2->5 and an in-edge 9->1
_RING = [(a, a % 6 + 1) for a in range(1, 7)] + [(2, 5), (9, 1)]
_FROM_1 = [(1, 0), (2, 1), (3, 2), (4, 3), (5, 2), (6, 3)]


@pytest.mark.parametrize("seeds, hops, edge_type, want", [
    ([1, 4, 1, 4], 3, "INT", [(1, 0), (2, 1), (3, 2), (4, 0), (5, 1),
                              (6, 2)]),
    ([1, 42, 43], 3, "INT", _FROM_1 + [(42, 0), (43, 0)]),
    ([1, 3, 1], 0, "INT", [(1, 0), (3, 0)]),
    ([1], 10, "INT", _FROM_1),
    ([1], 3, "BIGINT", _FROM_1),
], ids=["duplicate_seeds", "seeds_outside_the_graph", "zero_hops", "cycle",
        "int_seeds_over_bigint_edges"])
def test_khop_venues_agree(spark, monkeypatch, seeds, hops, edge_type,
                           want):
    """Both venues return the same rows and schema; node takes the
    widened type of the INT seeds and the edges' dst."""
    e = spark.createDataFrame(_RING, f"src {edge_type}, dst {edge_type}")
    s = spark.createDataFrame([(n,) for n in seeds], "node INT")
    got = _in_both_venues(monkeypatch,
                          lambda: khop_distances(e, s, max_hops=hops))
    assert got["driver"] == got["distributed"] == (
        want, f"struct<node:{edge_type.lower()},dist:int>")


def test_khop_small_graph_runs_no_hop_join(spark, chain_graph):
    """At or under KHOP_DRIVER_ROWS both cuts are collected and the
    hops run on the driver: no hop join is planned, and the call costs
    its two cuts, their two collects and the result's read."""
    seeds = spark.createDataFrame([(1,)], "node INT")
    plans = new_plan_descriptions(
        spark,
        lambda: khop_distances(chain_graph, seeds, max_hops=4).collect())
    assert not [p for p in plans if "BroadcastHashJoin" in p]
    assert len(plans) <= 5


def test_khop_releases_caches(spark, chain_graph, monkeypatch):
    """khop cuts its edge relation and every frontier and caches
    nothing, so repeated calls must not grow the cache manager — the
    regression guard for the cached-frontier leak that once inflated
    bench numbers (same shape as test_agreement_pins_no_cache_entries)."""
    seeds = spark.createDataFrame([(1,)], "node INT")
    for venue in _venues(monkeypatch):
        khop_distances(chain_graph, seeds, max_hops=3).collect()  # warm
        before = cached_entries(spark)
        for _ in range(3):
            got = _distances(khop_distances(chain_graph, seeds, max_hops=3))
            assert got == {1: 0, 2: 1, 3: 2, 4: 3}, venue
        assert cached_entries(spark) == before, venue


def _chain(spark, n: int):
    edges = [(a, a + 1) for a in range(1, n)]
    edges += [(b, a) for a, b in edges]
    return spark.createDataFrame(edges, "src INT, dst INT")


def _largest_plan_description(spark, run) -> int:
    """Length of the largest plan description among the SQL executions
    `run` adds to the status store."""
    return max(map(len, new_plan_descriptions(spark, run)))


def test_khop_plan_stays_flat_in_the_hop_count(spark, distributed):
    """Cut frontiers keep every hop's plan one scan deep. A cached
    frontier embedded the plans of all earlier frontiers, so the
    largest plan description grew ~5x per hop (about 100x from 2 to 5
    hops on this chain)."""
    g = _chain(spark, 12)
    seeds = spark.createDataFrame([(1,)], "node INT")
    size = {h: _largest_plan_description(
                spark, lambda h=h: khop_distances(g, seeds, h).collect())
            for h in (2, 5)}
    assert size[5] <= 2 * size[2], size


def test_khop_plans_no_sort_merge_join(spark, distributed):
    """Each hop broadcasts its frontier and settled set by their
    observed row counts. Planned from the cuts' compounding size
    estimates instead, every hop after the first was a SortMergeJoin
    that shuffled the whole edge relation (20 in this call)."""
    g = _chain(spark, 12)
    seeds = spark.createDataFrame([(1,)], "node INT")
    plans = new_plan_descriptions(
        spark, lambda: khop_distances(g, seeds, 5).collect())
    assert not [p for p in plans if "SortMergeJoin" in p]
    assert any("BroadcastHashJoin" in p for p in plans)


def test_khop_eight_hops_on_a_chain(spark, monkeypatch):
    g = _chain(spark, 14)
    seeds = spark.createDataFrame([(1,)], "node INT")
    for venue in _venues(monkeypatch):
        got = _distances(khop_distances(g, seeds, max_hops=8))
        assert got == {n: n - 1 for n in range(1, 10)}, venue


def test_copurchase_edges_support_threshold(spark):
    # pair (1,2) in two orders; (1,3) in one -> only (1,2) survives
    rows = [(100, 1), (100, 2), (101, 1), (101, 2), (102, 1), (102, 3)]
    li = spark.createDataFrame(rows, "l_orderkey INT, l_partkey INT")
    got = {(r.src, r.dst)
           for r in copurchase_edges(li, min_orders=2).collect()}
    assert got == {(1, 2), (2, 1)}


# ---------------------------------------------------------------------------
# remove_repeated_segments


def test_remove_repeated_segments_cuts_boilerplate(spark):
    boiler = "this license text repeats in every single document verbatim ok"
    uniq = ["alpha beta gamma delta epsilon zeta eta theta iota kappa",
            "one two three four five six seven eight nine ten",
            "red orange yellow green blue indigo violet black white gray"]
    rows = [(i, f"{boiler} {uniq[i]}") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r.doc_id: r for r in
           remove_repeated_segments(docs, width=10, min_df=3).collect()}
    for i in range(3):
        assert out[i].n_segments == 2
        assert out[i].n_dropped == 1
        assert out[i].cleaned == uniq[i]


def test_remove_repeated_segments_keeps_below_threshold(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        "doc_id INT, text STRING")
    out = remove_repeated_segments(docs, width=10, min_df=3).collect()
    assert all(r.n_dropped == 0 and r.cleaned != "" for r in out)


def test_remove_repeated_segments_preserves_order(spark):
    # doc 0: unique, boiler, unique2 -> cleaned must keep u1 before u2
    boiler = "x " * 9 + "x"
    u1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    u2 = "one two three four five six seven eight nine ten"
    rows = [(0, f"{u1} {boiler} {u2}"), (1, boiler), (2, boiler)]
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r.doc_id: r for r in
           remove_repeated_segments(docs, width=10, min_df=3).collect()}
    assert out[0].cleaned == f"{u1} {u2}"
    assert out[1].cleaned == "" and out[1].n_dropped == 1


# ---------------------------------------------------------------------------
# profile_table


def test_profile_table_stats_and_single_scan(spark):
    import datetime as dt

    from etl_online_retail_spark.operators.profile import profile_table

    rows = [
        (1, "a", 1.5, dt.datetime(2024, 1, 1, 0, 0, 30)),
        (2, "b", None, dt.datetime(2024, 1, 2)),
        (2, None, 3.5, None),
    ]
    df = spark.createDataFrame(
        rows, "k INT, s STRING, v DOUBLE, ts TIMESTAMP_NTZ")
    prof = {r.col_name: r for r in profile_table(df).collect()}
    assert prof["k"].n_rows == 3 and prof["k"].n_null == 0
    assert prof["k"].n_distinct == 2
    assert (prof["k"].numeric_min, prof["k"].numeric_max) == (1.0, 2.0)
    assert prof["k"].str_min is None
    assert prof["s"].n_null == 1 and prof["s"].n_distinct == 2
    assert (prof["s"].str_min, prof["s"].str_max) == ("a", "b")
    assert prof["s"].numeric_min is None
    assert prof["v"].n_null == 1
    assert (prof["v"].numeric_min, prof["v"].numeric_max) == (1.5, 3.5)
    assert prof["ts"].n_null == 1
    # epoch seconds, truncated
    assert prof["ts"].numeric_min == 1704067230.0
    assert prof["ts"].numeric_max == 1704153600.0

    # the whole profile is ONE scan: a single aggregate over the relation
    plan = profile_table(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1


def test_profile_table_approx_mode(spark):
    from etl_online_retail_spark.operators.profile import profile_table

    from etl_online_retail_spark.catalog import load_table
    orders = load_table(spark, "orders", "/root/testdata/sf0.001")
    exact = {r.col_name: r.n_distinct
             for r in profile_table(orders).collect()}
    approx = {r.col_name: r.n_distinct
              for r in profile_table(orders, approx=True).collect()}
    for c, n in exact.items():
        # HLL default rsd=0.05 -> allow 3 sigma
        assert abs(approx[c] - n) <= max(3, 0.15 * n), (c, n, approx[c])
    # the approx plan drops the Expand row-amplification
    plan = profile_table(orders, approx=True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


# ---------------------------------------------------------------------------
# audio spectral analysis


def test_audio_spectral_detects_dominant_tone(spark):
    import math

    from etl_online_retail_spark.multimodal import wav as _wav
    from etl_online_retail_spark.multimodal.binary import (
        audio_spectral_features,
    )

    def tone(freqs_amps, n=1024, rate=8000):
        return _wav.encode_wav(
            [int(round(sum(a * math.sin(2 * math.pi * f * t / rate)
                           for f, a in freqs_amps))) for t in range(n)],
            rate)

    rows = [
        (1, tone([(500, 8000)])),              # pure 500 Hz -> bin 64
        (2, tone([(250, 2000), (1000, 9000)])),  # stronger 1 kHz wins
        (3, tone([(2000, 8000)], n=300)),      # short clip, zero-padded
    ]
    df = spark.createDataFrame(rows, "media_id LONG, content BINARY")
    got = {r.media_id: r for r in audio_spectral_features(df).collect()}
    assert got[1].dominant_bin == 64 and got[1].dominant_hz == 500.0
    assert got[1].peak_ratio > 0.99
    assert got[2].dominant_bin == 128 and got[2].dominant_hz == 1000.0
    assert 0.5 < got[2].peak_ratio < 0.99  # two tones share the power
    # zero-padding spreads the peak but the argmax stays at the tone
    assert abs(got[3].dominant_hz - 2000.0) <= 8000 / 1024


# ---------------------------------------------------------------------------
# interval_overlap_join


def test_interval_overlap_join_semantics(spark):
    from etl_online_retail_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 10, 20), (1, 30, None), (2, 0, 5)],
        "k INT, ls INT, le INT")
    right = spark.createDataFrame(
        [(1, 15, 25),   # overlaps [10,20] on [15,20] and [30,inf)? no
         (1, 28, 35),   # overlaps the open-ended [30,) on [30,35]
         (1, 21, 29),   # falls in the gap -> no match
         (2, 6, 9)],    # disjoint -> no match
        "k INT, rs INT, re INT")
    got = {(r.k, r.ls, r.rs): (r.ov_start, r.ov_end)
           for r in interval_overlap_join(
               left, right, "k", "ls", "le", "rs", "re").collect()}
    assert got == {
        (1, 10, 15): (15, 20),
        (1, 30, 28): (30, 35),
    }


def test_key_skew_stats_golden(spark):
    from etl_online_retail_spark.operators.profile import key_skew_stats

    # keys: a=1 row, b=1, c=2, d=6  -> sizes [1,1,2,6], n_keys=4, n=10
    rows = ([("a",)] + [("b",)] + [("c",)] * 2 + [("d",)] * 6)
    df = spark.createDataFrame(rows, "k STRING")
    [r] = key_skew_stats(df, "k").collect()
    assert (r.n_rows, r.n_keys, r.max_key_rows) == (10, 4, 6)
    assert r.p50_key_rows == 1   # rank ceil(0.5*4)=2 -> size 1
    assert r.p99_key_rows == 6   # rank ceil(3.96)=4 -> size 6
    assert r.top_share == 0.6
    # gini: sorted [1,1,2,6]; sum (2i-n-1)c = (-3*1)+(-1*1)+(1*2)+(3*6)=16
    # -> 16 / (4*10) = 0.4
    assert r.gini == 0.4


def test_key_skew_stats_uniform_is_zero_gini(spark):
    from etl_online_retail_spark.operators.profile import key_skew_stats

    df = spark.createDataFrame([(i % 5,) for i in range(20)], "k INT")
    [r] = key_skew_stats(df, "k").collect()
    assert r.gini == 0.0 and r.top_share == 0.2
    assert r.p50_key_rows == r.p99_key_rows == r.max_key_rows == 4


def test_suggest_constraints_rules(spark):
    from etl_online_retail_spark.operators.profile import (
        profile_table,
        suggest_constraints,
    )

    rows = [(1, "aa", 5.0), (2, "bb", -1.0), (3, "cc", None)]
    df = spark.createDataFrame(rows, "k INT, code STRING, v DOUBLE")
    got = {(r.col_name, r.rule): r.detail for r in
           suggest_constraints(profile_table(df)).collect()}
    assert ("k", "complete") in got
    assert ("k", "unique") in got
    assert ("k", "non_negative") in got
    assert got[("code", "fixed_width")] == "2"
    assert ("v", "complete") not in got        # has a null
    assert ("v", "non_negative") not in got    # has a negative
    assert got[("k", "low_cardinality")] == "3"


# ---------------------------------------------------------------------------
# pagerank


def test_pagerank_invariants(spark):
    from etl_online_retail_spark.operators.graph import pagerank

    # star: spokes 2..5 all point at hub 1; hub points back at 2
    edges = [(2, 1), (3, 1), (4, 1), (5, 1), (1, 2)]
    df = spark.createDataFrame(edges, "src INT, dst INT")
    got = {r.node: r.rank for r in pagerank(df, max_iter=20).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9     # mass conserved
    assert got[1] == max(got.values())             # hub dominates
    assert got[2] > got[3]                         # hub's target beats spokes
    assert abs(got[3] - got[4]) < 1e-12            # symmetric spokes equal


def test_pagerank_uniform_on_cycle_with_dangling(spark):
    from etl_online_retail_spark.operators.graph import pagerank

    # 3-cycle: uniform fixpoint 1/3 each
    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src INT, dst INT")
    got = {r.node: r.rank for r in pagerank(cyc, max_iter=15).collect()}
    for v in got.values():
        assert abs(v - 1 / 3) < 1e-9
    # dangling node: 1 -> 2, 2 has no out-edges; mass still sums to 1
    dang = spark.createDataFrame([(1, 2)], "src INT, dst INT")
    got = {r.node: r.rank for r in pagerank(dang, max_iter=25).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[2] > got[1]                         # sink accumulates


def test_pagerank_exact_mode_tracks_float_and_conserves_mass(spark):
    """exact=True (fixed-point int64, the oracle-twinned mode) must land
    within truncation distance of the float power iteration, keep (lossy,
    downward-only) mass conservation, and preserve the ordering the float
    invariants assert. Same checks for the personalized variant."""
    from etl_online_retail_spark.operators.graph import (
        PR_FP_SCALE,
        pagerank,
        personalized_pagerank,
    )

    edges = [(2, 1), (3, 1), (4, 1), (5, 1), (1, 2)]
    df = spark.createDataFrame(edges, "src INT, dst INT")
    # 20 iterations as in the float invariant test: the star graph's
    # hub/spoke masses still oscillate at 10
    flo = {r.node: r.rank for r in pagerank(df, max_iter=20).collect()}
    fp = {r.node: r.rank
          for r in pagerank(df, max_iter=20, exact=True).collect()}
    total = sum(fp.values())
    # each truncating div loses < 1 fp unit per term; the iterations
    # over 5 nodes stay well within this loose bound
    assert PR_FP_SCALE * 0.999 <= total <= PR_FP_SCALE
    for node, r in fp.items():
        assert abs(r / PR_FP_SCALE - flo[node]) < 1e-6, node
    assert max(fp, key=fp.get) == 1                # hub still dominates

    seeds = spark.createDataFrame([(1,)], "node INT")
    pflo = {r.node: r.rank for r in personalized_pagerank(
        df, seeds, max_iter=10).collect()}
    pfp = {r.node: r.rank for r in personalized_pagerank(
        df, seeds, max_iter=10, exact=True).collect()}
    for node, r in pfp.items():
        assert abs(r / PR_FP_SCALE - pflo[node]) < 1e-6, node


def test_pagerank_exact_rejects_unrepresentable_damping(spark):
    import pytest as _pytest

    from etl_online_retail_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2)], "src INT, dst INT")
    with _pytest.raises(ValueError, match="percent"):
        pagerank(df, max_iter=1, damping=0.853, exact=True)


def test_pagerank_rejects_empty_graph(spark):
    """An empty edge relation has no node to rank: a named ValueError,
    not PPR's "no seed" error or a ZeroDivisionError, and no cache left
    behind on the error path."""
    df = spark.createDataFrame([], "src INT, dst INT")
    before = cached_entries(spark)
    with pytest.raises(ValueError, match="edge relation is empty"):
        pagerank(df, max_iter=1)
    assert cached_entries(spark) == before


def _rank_seeded_at_1(edges, **kw):
    seeds = edges.sparkSession.createDataFrame([(1,)], "node INT")
    return personalized_pagerank(edges, seeds, **kw)


@pytest.mark.parametrize("rank", [pagerank, _rank_seeded_at_1],
                         ids=["pagerank", "personalized_pagerank"])
def test_rank_rounds_plan_no_sort_merge_join(spark, rank):
    """Each round broadcasts its rank vector and its incoming sums by
    the node count observed on the node relation's cut. Planned from
    the cuts' compounding size estimates instead, every round was a
    SortMergeJoin that shuffled the edges. The one join left to the
    planner builds the static node relation before round 1; the
    rounds are the plans with the dangling-mass crossJoin."""
    g = _chain(spark, 12)
    plans = new_plan_descriptions(
        spark, lambda: rank(g, max_iter=10, exact=True).collect())
    rounds = [p for p in plans if "BroadcastNestedLoopJoin" in p]
    assert len(rounds) == 10
    assert not [p for p in rounds if "SortMergeJoin" in p]
    assert len([p for p in plans if "SortMergeJoin" in p]) <= 1


def _pairs(spark):
    return spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                 "id_a INT, id_b INT")


@pytest.mark.parametrize("run", [
    lambda spark: pagerank(_chain(spark, 6), max_iter=3),
    lambda spark: _rank_seeded_at_1(_chain(spark, 6), max_iter=3),
    lambda spark: duplicate_clusters(_pairs(spark)),
    lambda spark: duplicate_clusters_star(_pairs(spark)),
], ids=["pagerank", "personalized_pagerank", "duplicate_clusters",
        "duplicate_clusters_star"])
def test_round_loops_return_holding_no_cache(spark, run):
    """Round state is cut, never cached: one call leaves the cache
    manager where it found it."""
    before = cached_entries(spark)
    assert run(spark).collect()
    assert cached_entries(spark) == before


@pytest.mark.parametrize("cc", [duplicate_clusters, duplicate_clusters_star],
                         ids=["duplicate_clusters", "duplicate_clusters_star"])
def test_cc_rounds_plan_no_sort_merge_join(spark, cc):
    """Every relation a CC round joins against its edges (labels,
    neighbour minima, each star's minima, the final roots) holds at most
    one row per node, so it is broadcast by the node count observed on
    its loop's first cut. Planned from the cuts' compounding size
    estimates instead, the rounds were SortMergeJoins (4 and 13 per
    call on the sf0.01 near-duplicate pairs)."""
    pairs = spark.createDataFrame(
        [(a, a + 1) for a in range(1, 12)] + [(20, 21), (22, 21)],
        "id_a INT, id_b INT")
    got = []
    plans = new_plan_descriptions(
        spark, lambda: got.extend(cc(pairs).collect()))
    assert {(r.doc_id, r.cluster_id) for r in got} == (
        {(n, 1) for n in range(1, 13)} | {(20, 20), (21, 20), (22, 20)})
    assert not [p for p in plans if "SortMergeJoin" in p]
    assert any("BroadcastHashJoin" in p for p in plans)


def _baskets(spark):
    # orders 1-3 each hold parts 1, 2 and 3; order 4 holds parts 3, 4
    rows = [(o, p) for o in (1, 2, 3) for p in (1, 2, 3)]
    rows += [(4, 3), (4, 4), (4, 4)]
    return spark.createDataFrame(rows, "l_orderkey BIGINT, l_partkey BIGINT")


@pytest.mark.parametrize("run", [
    lambda spark: copurchase_pmi(_baskets(spark)),
    lambda spark: copurchase_rules(_baskets(spark)),
    lambda spark: triangle_counts(_chain(spark, 4).unionByName(
        spark.createDataFrame([(1, 3), (3, 1)], "src INT, dst INT"))),
], ids=["copurchase_pmi", "copurchase_rules", "triangle_counts"])
def test_graph_scores_return_holding_no_cache(spark, run):
    """The association scores and triangle counts share their reused
    subtrees through a cut or the plan's own exchange reuse, never a
    cache: one call leaves the cache manager where it found it."""
    before = cached_entries(spark)
    assert run(spark).collect()
    assert cached_entries(spark) == before


def test_dedup_within_doc_keeps_first_occurrence(spark):
    from etl_online_retail_spark.operators.dedup import dedup_within_doc

    rep = "spark rows shuffle join filter scan table sort merge batch"
    u1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    u2 = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(0, f"{rep} {u1} {rep} {u2} {rep}"),   # rep x3 -> keep first
         (1, f"{u1} {u2}")],                    # nothing repeated
        "doc_id INT, text STRING")
    out = {r.doc_id: r for r in dedup_within_doc(docs, width=10).collect()}
    assert out[0].n_segments == 5 and out[0].n_dropped == 2
    assert out[0].cleaned == f"{rep} {u1} {u2}"
    assert out[1].n_dropped == 0 and out[1].cleaned == f"{u1} {u2}"


def test_interval_overlap_join_both_open_ended(spark):
    from etl_online_retail_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame([(1, 10, None)], "k INT, ls INT, le INT")
    right = spark.createDataFrame([(1, 20, None)], "k INT, rs INT, re INT")
    [r] = interval_overlap_join(
        left, right, "k", "ls", "le", "rs", "re").collect()
    assert r.ov_start == 20 and r.ov_end is None  # overlap is open-ended


def test_ewma_golden(spark):
    from etl_online_retail_spark.operators.timeseries import ewma_last

    # values 10, 20, 40 in time order with alpha=0.5:
    # 10 -> 0.5*20+0.5*10=15 -> 0.5*40+0.5*15=27.5
    rows = [(1, _ts("2024-01-01T00:00:00"), 1, 10.0),
            (1, _ts("2024-01-01T00:01:00"), 2, 20.0),
            (1, _ts("2024-01-01T00:02:00"), 3, 40.0)]
    df = spark.createDataFrame(
        rows, "user_id INT, ts TIMESTAMP_NTZ, event_id INT, value DOUBLE")
    [r] = ewma_last(df, "user_id", "ts", "event_id", "value").collect()
    assert r.ewma == 27.5 and r.n_obs == 3


def test_series_cap_guard_raises_loudly_over_cap(spark):
    """A key past max_series must fail with an actionable error naming
    the key, the count and the streaming twin — not OOM inside
    collect_list (round-5 verdict #4)."""
    import pytest
    from pyspark.sql import functions as F

    from etl_online_retail_spark.operators.timeseries import (
        ewma_last,
        holt_last,
    )

    df = (spark.range(5000)
          .select(F.lit(7).alias("user_id"),
                  (F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
                   + F.make_interval(secs=F.col("id").cast("double")))
                  .alias("ts"),
                  F.col("id").cast("int").alias("event_id"),
                  (F.col("id") % 100).cast("double").alias("value")))
    for op in (ewma_last, holt_last):
        with pytest.raises(Exception) as ei:
            op(df, "user_id", "ts", "event_id", "value",
               max_series=1000).collect()
        assert "max_series=1000" in str(ei.value)
        assert "streaming" in str(ei.value)


def test_ewma_single_key_million_events_within_cap(spark):
    """The verdict's property case: ONE key with 10^6 events computes
    under the default cap (bounded state proven at the cap itself) and
    matches the closed-form EWMA of a constant series (alpha=0.5 on a
    constant x gives ewma == x at every step, exactly)."""
    from pyspark.sql import functions as F

    from etl_online_retail_spark.operators.timeseries import ewma_last

    n = 1_000_000
    df = (spark.range(n)
          .select(F.lit(1).alias("user_id"),
                  (F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
                   + F.make_interval(secs=F.col("id").cast("double")))
                  .alias("ts"),
                  F.col("id").cast("int").alias("event_id"),
                  F.lit(42.0).alias("value")))
    [r] = ewma_last(df, "user_id", "ts", "event_id", "value").collect()
    assert r.ewma == 42.0 and r.n_obs == n


def test_tfidf_pair_cosine_semantics(spark):
    from etl_online_retail_spark.operators.relevance import tfidf_pair_cosine

    docs = spark.createDataFrame(
        [(1, "apple banana cherry"),
         (2, "apple banana cherry"),       # identical -> cos 1
         (3, "apple banana mango"),        # shares 2 of 3 terms with 1
         (4, "xylophone quartz vortex")],  # disjoint -> cos 0
        "doc_id INT, text STRING")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a INT, id_b INT")
    got = {(r.id_a, r.id_b): r.tfidf_cos
           for r in tfidf_pair_cosine(docs, pairs).collect()}
    assert got[(1, 2)] == 1.0
    assert 0.0 < got[(1, 3)] < 1.0
    assert got[(1, 4)] == 0.0


def test_personalized_pagerank_localizes_mass(spark):
    from etl_online_retail_spark.operators.graph import (
        personalized_pagerank,
    )

    # undirected chain 1-2-3-4-5, seed at node 1
    und = [(a, b) for a, b in [(1, 2), (2, 3), (3, 4), (4, 5)]]
    e = spark.createDataFrame(und + [(b, a) for a, b in und],
                              "src BIGINT, dst BIGINT")
    seeds = spark.createDataFrame([(1,)], "node BIGINT")
    ranks = {r.node: r.rank
             for r in personalized_pagerank(e, seeds, max_iter=20)
             .collect()}
    # mass conserved
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)
    # mass localizes toward the seed end: monotone decay holds beyond
    # the seed's immediate neighbor (node 2 legitimately collects the
    # seed's ENTIRE outflow — deg(seed)=1 — so it may outrank the seed)
    assert ranks[2] > ranks[3] > ranks[4] > ranks[5]
    assert ranks[1] > ranks[3]
    # the far end holds far less than the seed end
    assert ranks[5] < 0.25 * (ranks[1] + ranks[2])
    # the seed keeps at least the teleport floor
    assert ranks[1] >= (1 - 0.85) * 1.0 - 1e-12


def test_personalized_pagerank_rejects_foreign_seeds(spark):
    from etl_online_retail_spark.operators.graph import (
        personalized_pagerank,
    )

    e = spark.createDataFrame([(1, 2), (2, 1)], "src BIGINT, dst BIGINT")
    seeds = spark.createDataFrame([(99,)], "node BIGINT")
    before = cached_entries(spark)
    with pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(e, seeds)
    assert cached_entries(spark) == before  # the error path leaks none
