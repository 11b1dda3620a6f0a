"""SparkSession factory.

The reference runs pandas task-by-task under Airflow (etl.py:24-33) with no
execution engine of its own; here one SparkSession owns the whole pipeline
and Catalyst replaces both pandas and the Postgres BI executor (SURVEY.md §3).

Config choices are scale-first (SURVEY.md §4): AQE on (runtime re-plan,
skew-join splitting, shuffle coalescing), broadcast threshold generous enough
that dimension tables never shuffle, shuffle partitions sized for the local
harness but overridable for a real cluster via env.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import Observation, SparkSession

# Runtime-settable SQL confs that queries in this package rely on. They are
# applied both at build time (get_spark) and defensively on sessions we did
# not create (ensure_session_confs) - e.g. the verify driver's session.
_RUNTIME_CONFS = {
    # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects by default; read nanos as long and convert explicitly
    # (see catalog.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: shuffle-partition coalescing, skew-join splitting,
    # dynamic broadcast conversion. Free wins at 100 TB scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE also size the partitioning UNDER cached plans (off by
    # default for output-partitioning stability): without it every
    # cached relation built from a shuffle keeps the static
    # spark.sql.shuffle.partitions count however small its data — the
    # unigram word cache held 32 near-empty partitions, billing every
    # EM round 32 tasks + 32 Arrow batches (r14, measured ~25% of the
    # tokenizer-training queries). Scale-adaptive by construction
    # (AQE's advisory sizing), correctness-neutral (partitioning only).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Dim tables (customer/part/nation/region/supplier and the date spine)
    # must broadcast, never shuffle, in star joins (SURVEY.md §2.4 J1-J3).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Partition-pruning for the smart-date-key pattern (SURVEY.md §4 F5).
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    # Arrow for any pandas_udf / toPandas boundary (vectors, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# Spark's generated-class cache (static: read once when the session's
# JVM starts). Its default of 100 entries is smaller than a serving
# process's working set: the perfbench maintain loop (sf0.01, CDC
# commits on the matviews, each followed by an 8-query dashboard
# refresh) recompiled 44-52 classes per refresh and 87-141 per commit
# at 100, every one a plan compiled one cycle earlier. Measured on that
# loop (4 vCPU, seeds 7 and 11): 150 entries still recompile 0-36
# classes per refresh; 200 hold refreshes at 0 but commits at 12-22;
# 250 hold refreshes at 0 and commits at their floor of 8 (classes
# that inline a new batch id, never reused).
CODEGEN_CACHE_ENTRIES = 250


def default_parallelism() -> int:
    """CPU budget: $SPARK_GRAFT_CPUS in the harness, else all local cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "etl-online-retail-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    shuffle_partitions defaults to the CPU budget: at the test scale
    (60k-600k rows) more partitions than cores only adds task-launch
    overhead; on a real cluster callers pass an explicit value sized so
    post-shuffle partitions are ~128MB (AQE coalescing then trims).
    """
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # Local harness: the testdata tables are single small parquet files,
        # so a 128 MB split size would scan them single-threaded; 4 MB keeps
        # all cores busy (bounded below by row-group size). On a real
        # cluster override to 128-256 MB via env.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                               str(4 * 1024 * 1024)))
        # managed tables (the bucketed staged warehouse) live under /tmp,
        # never inside the repo checkout
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR",
                               "/tmp/spark-graft-warehouse"))
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cut_lineage(df):
    """Materialize a DataFrame and truncate its lineage — the round
    boundary of every iterative operator (PageRank/PPR rounds, BFS
    frontiers, connected-components rounds, BPE merge rounds, the
    agreement operators' reduced grains). A loop that needs a count or
    a convergence metric from its cut goes through cut_observed.

    Default: eager `localCheckpoint()`. Blocks live in EXECUTOR
    storage and are released with the RDD by the context cleaner —
    fast (no external write), but NOT fault-tolerant: an executor
    loss drops its blocks and the job fails instead of recomputing
    (there is no lineage left to recompute from).

    Production knob (r14 verdict item 7): set
    $SPARK_GRAFT_CHECKPOINT_DIR to a reliable (HDFS / object-store)
    path and every cut becomes a reliable `checkpoint()` — each
    round's state survives executor loss at the cost of one
    write+read per round. Pair it with
    spark.cleaner.referenceTracking.cleanCheckpoints=true so the
    context cleaner also deletes checkpoint files once their RDDs
    are collected; otherwise files accumulate for the application's
    lifetime. See PERFORMANCE.md "Iterative loops" for the trade.
    Both modes compute each cut once: an eager Dataset checkpoint
    writes its blocks or files from the one job that computes the
    rows, so a persist before a reliable cut would only add a job
    over the cached copy (tests/test_lineage.py counts the rows).

    A SparkContext has one checkpoint dir. When it already has one
    under a different path than $SPARK_GRAFT_CHECKPOINT_DIR (set
    earlier by other code, or by this function under an older value),
    the cut still checkpoints there, and a RuntimeWarning names both
    paths.
    """
    ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckdir:
        sc = df.sparkSession.sparkContext
        try:
            current = sc._jsc.sc().getCheckpointDir()
            current = current.get() if current.isDefined() else None
        except Exception:
            current = None
        if current is None:
            sc.setCheckpointDir(ckdir)
        else:
            # setCheckpointDir(d) checkpoints to <qualified d>/<uuid>
            hadoop_path = sc._jvm.org.apache.hadoop.fs.Path
            want = hadoop_path(ckdir)
            want = (want.getFileSystem(sc._jsc.hadoopConfiguration())
                    .makeQualified(want).toString())
            got = hadoop_path(current).getParent().toString()
            if got != want:
                warnings.warn(
                    f"cut_lineage: $SPARK_GRAFT_CHECKPOINT_DIR is {ckdir!r} "
                    f"but the SparkContext already checkpoints under "
                    f"{got!r}; reliable cuts go there",
                    RuntimeWarning, stacklevel=2)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def cut_observed(df, *metrics):
    """(cut_lineage(df), {alias: value} of the aliased aggregate
    `metrics` observed while the cut computes its rows): a round's
    count or convergence probe at no extra job. Calls cut_lineage
    through this module's global, so a wrapper on session.cut_lineage
    sees each such cut once."""
    obs = Observation()
    cut = cut_lineage(df.observe(obs, *metrics))
    return cut, obs.get


def run_concurrently(fn, items) -> None:
    """Run independent per-item Spark actions from a thread pool: each
    action schedules its own jobs, so a pass costs the slowest item
    instead of the sum (single jobs underutilize the session's cores on
    their tail stages). Shared utility (promoted from matview's private
    helper, r11 advice): matview maintenance/publish and bench staging
    both use it. Single-item calls stay inline — identical semantics, no
    pool overhead. Workers capped at 2x CPU count: the actions are
    job-submission threads (the JVM does the work), but an unbounded
    pool over a growing registry would thrash the scheduler. First
    exception propagates after scheduled actions finish (pool shutdown
    joins)."""
    items = list(items)
    if len(items) == 1:
        fn(items[0])
        return
    from concurrent.futures import ThreadPoolExecutor

    workers = min(len(items), 2 * (os.cpu_count() or 4))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        list(pool.map(fn, items))


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply this package's runtime-settable confs to an existing session.

    The correctness driver hands us its own SparkSession; all confs in
    _RUNTIME_CONFS are runtime-settable SQL confs, so this is safe on any
    live session. Static confs cannot be applied here: a session we did
    not build keeps its own spark.sql.codegen.cache.maxEntries (Spark's
    default 100, not CODEGEN_CACHE_ENTRIES), which only costs
    recompiles, never results.
    """
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf may be non-settable on exotic builds; queries that do
            # not depend on it still work.
            pass
    return spark
