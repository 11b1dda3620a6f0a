"""Isolate named bench queries: same staging + timing discipline as
bench.py, but only for the queries given on the command line — the
guide-§1 measurement loop for optimizing one operator at a time without
paying a full-registry sweep per iteration.

Usage: python scripts/bench_isolate.py q1 q2 ...

Prints one JSON line per query:
  {"query": ..., "best": s, "runs": [...], "jobs": N}
where `jobs` is the number of Spark jobs ONE full execution schedules
(build + action for ITERATIVE queries, the re-run action alone for
steady-state ones) — the driver-round-trip metric the r14 iterative-loop
work targets. Honors $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like
bench.py. Wall-clock: run alone.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _n_jobs(spark) -> int:
    """Total jobs submitted so far. Reads the DAGScheduler's job-id
    counter (monotonic, unbounded) rather than the UI AppStatusStore,
    which retains at most spark.ui.retainedJobs entries and silently
    undercounts job-heavy iterative queries. Raises when the counter
    is unreadable: the status store is no substitute."""
    try:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
    except Exception as e:
        raise RuntimeError(
            "SparkContext.dagScheduler().nextJobId() is not readable as an "
            "int on this Spark build; the job counter has no exact "
            "substitute") from e


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from etl_online_retail_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("bench-isolate")
    qs = entrymod.queries()
    sf_dir, staging_sec = bench.stage_tables(spark, sf_dir)
    print(json.dumps({"staging_sec": round(staging_sec, 2)}),
          file=sys.stderr)

    for name in names:
        build = qs.get(name)
        if build is None:
            print(json.dumps({"query": name, "error": "not registered"}))
            continue
        iterative = name in bench.ITERATIVE
        spark.sparkContext.setJobDescription(f"isolate: {name}")
        if iterative:
            def run(_b=build) -> None:
                (_b(spark, sf_dir)
                 .write.format("noop").mode("overwrite").save())
        else:
            df = build(spark, sf_dir)

            def run(_df=df) -> None:
                _df.write.format("noop").mode("overwrite").save()

            run()  # warm-up
        j0 = _n_jobs(spark)
        t0 = time.perf_counter()
        run()
        first = time.perf_counter() - t0
        jobs = _n_jobs(spark) - j0
        best = first
        runs = [round(first, 4)]
        stable = 0
        cap = (bench.MAX_RUNS_ITER if iterative else bench.MAX_RUNS) - 1
        for _ in range(cap):
            t0 = time.perf_counter()
            run()
            t = time.perf_counter() - t0
            runs.append(round(t, 4))
            if t < best * (1 - bench.TOL):
                stable = 0
            else:
                stable += 1
            best = min(best, t)
            if stable >= bench.PLATEAU:
                break
        spark.sparkContext.setJobDescription(None)
        print(json.dumps({"query": name, "best": round(best, 4),
                          "runs": runs, "jobs": jobs}))
        sys.stdout.flush()


if __name__ == "__main__":
    main()
