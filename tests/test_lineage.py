"""cut_lineage: the shared round-boundary materializer for iterative
operators (r15, VERDICT item 7) — default eager localCheckpoint, opt-in
reliable checkpoint via $SPARK_GRAFT_CHECKPOINT_DIR."""

from __future__ import annotations

import os
import warnings

import pytest
from pyspark.sql import functions as F

from etl_online_retail_spark.session import cut_lineage


def test_default_mode_materializes_and_preserves_rows(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = cut_lineage(df)
    assert sorted((r.id, r.v) for r in out.collect()) == \
        [(i, 2 * i) for i in range(100)]
    # lineage is cut: the returned plan is a scan, not the range+project
    assert "Range" not in out._jdf.queryExecution().optimizedPlan().toString()


def test_reliable_mode_writes_checkpoint_files(spark, tmp_path, monkeypatch):
    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckdir)
    df = spark.range(50).withColumn("v", F.col("id") + 1)
    out = cut_lineage(df)
    assert sorted((r.id, r.v) for r in out.collect()) == \
        [(i, i + 1) for i in range(50)]
    # the cut went through the RELIABLE path: files under the dir
    files = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert files, "reliable checkpoint mode wrote nothing"


def test_reliable_mode_warns_on_a_different_context_dir(spark, tmp_path,
                                                        monkeypatch):
    """The context keeps its first checkpoint dir; a cut asked to use
    another one says so instead of silently writing to the old dir."""
    df = spark.range(10)
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "a"))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # an earlier test may own the dir
        cut_lineage(df)
    current = spark.sparkContext._jsc.sc().getCheckpointDir().get()
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "b"))
    with pytest.warns(RuntimeWarning, match="already checkpoints under"):
        assert cut_lineage(df).count() == 10
    # the dir the context already has, as a plain local path: no warning
    assert current.startswith("file:")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR",
                       current.rsplit("/", 1)[0][len("file:"):])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cut_lineage(df)


@pytest.mark.parametrize("reliable", [False, True])
def test_each_cut_evaluates_its_input_once(spark, tmp_path, monkeypatch,
                                           reliable):
    """An eager checkpoint writes the rows it computes: a row-counting
    UDF before and after a shuffle runs once per input row, not once
    for the action and again for the checkpoint write."""
    if reliable:
        monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
    else:
        monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    acc = spark.sparkContext.accumulator(0)

    def tally(x):
        acc.add(1)
        return x

    counted = F.udf(tally, "long")
    df = (spark.range(100).select(counted("id").alias("id"))
          .groupBy((F.col("id") % 10).alias("k"))
          .agg(F.sum("id").alias("s"))
          .select(counted("k").alias("k"), "s"))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # an earlier test may own the dir
        out = cut_lineage(df)
    assert acc.value == 110  # 100 rows before the shuffle, 10 after
    assert sorted(r.k for r in out.collect()) == list(range(10))
    assert acc.value == 110  # reading the cut recomputes nothing


def test_khop_identical_in_both_cut_modes(spark, tmp_path, monkeypatch):
    from etl_online_retail_spark.operators import graph
    from etl_online_retail_spark.operators.graph import khop_distances

    # the hop loop's cuts: a graph this small would otherwise run on
    # the driver
    monkeypatch.setattr(graph, "KHOP_DRIVER_ROWS", 0)

    edges = [(a, b) for a, b in [(1, 2), (2, 3), (3, 4), (2, 5), (6, 7)]]
    edges += [(b, a) for a, b in edges]
    g = spark.createDataFrame(edges, "src INT, dst INT")
    seeds = spark.createDataFrame([(1,), (7,)], "node INT")

    def run():
        return sorted(map(tuple, khop_distances(g, seeds, 3).collect()))

    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    local = run()
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # an earlier test may own the dir
        reliable = run()
    assert local == reliable == [(1, 0), (2, 1), (3, 2), (4, 3), (5, 2),
                                 (6, 1), (7, 0)]
