"""Benchmark of the PySpark engine: one closed-loop client per run.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 5 --trace 0

Workloads, metrics and bounds are declared in BENCHMARK.json at the
checkout root; workloads.py describes what each workload runs. A run
generates (or reuses) its sf0.01 warehouse with perfbench/datagen.py,
starts Spark on local[nproc] (SPARK_GRAFT_CPUS), sets up, discards its
cold passes, times whole passes for at least --seconds, checks every
output, and prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics in wall seconds. --trace 1
installs spans around the layer entry points, reads the layer probes
around every pass, and reports the per-layer metrics; its
`traced.pass_s` minus an untraced run's `pass_s` is the tracing
overhead. The line before the result carries the run's context: every
timing sample, the host calibrations, JVM CPU of the cold and timed
passes, cached relations before and after, and in a traced run every
per-pass layer value. A traced run writes its spans to
perfbench/_work/trace-<workload>-<seed>.json.

Everything a run writes stays under perfbench/_work and perfbench/_cache
(generated tables and DuckDB oracle results, reused across runs).
"""

from __future__ import annotations

import time

T_PROCESS0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# sf0.01 (60,000 lineitem rows) is the largest scale at which a run, cold
# JVM included, stays near the minute a run may take: at sf0.1 set-up and
# one timed pass alone take 72-91 s on a 4-core host
SF = 0.01
DATA_SEED = 42  # the warehouse is fixed; --seed drives order and slicing


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["iterative", "maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, cpus: int) -> None:
    """Point every scratch location of Python, Spark and the package at
    the run's work directory, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # PerfDisableSharedMem keeps the JVM's counters out of /tmp/hsperfdata_*
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} "
        f"-XX:+PerfDisableSharedMem' pyspark-shell")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and every process it started
    (the Python worker daemon and its workers) to exit."""
    from probes import descendants, running

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = list(descendants(proc.pid)) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in children:
        while running(pid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work, cpus)

    import datagen
    import probes as probes_mod
    import workloads
    from etl_online_retail_spark.session import get_spark

    cache_dir = os.path.join(HERE, "_cache")
    os.makedirs(cache_dir, exist_ok=True)
    t0 = time.perf_counter()
    data_dir = datagen.cached(SF, DATA_SEED, cache_dir)
    prep_s = time.perf_counter() - t0
    tracer = probes_mod.Tracer() if args.trace else None
    if tracer is not None:
        workloads.install_spans(tracer)

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    try:
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle
                      .current().pid())
        probes = probes_mod.Probes(spark, jvm_pid)
        wl = workloads.make(args.workload, spark, data_dir, cache_dir, work,
                            args.seed, tracer, probes, cpus)
        out = wl.run(args.seconds, T_PROCESS0, prep_s)
        layer = wl.layer_metrics()
    finally:
        stop_spark(spark)
        if tracer is not None:
            tracer.restore()
    layer["session.start_s"] = session_start_s
    layer["error_rate"] = wl.failed / max(1, wl.attempted)

    if args.trace:
        trace_path = os.path.join(
            HERE, "_work", f"trace-{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(tracer.spans, f)
        declared = spec["per_layer"]
        values = layer
    else:
        declared = spec["end_to_end"]
        values = out["end_to_end"]
    metrics = {}
    for m in declared:
        if not args.trace and m["name"] not in values:
            raise KeyError(f"end-to-end metric {m['name']!r} not measured")
        # a layer this workload never reaches reads 0
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    shutil.rmtree(work, ignore_errors=True)
    info = dict(out["info"], workload=args.workload, seed=args.seed,
                sf=SF, cpus=cpus, trace=args.trace,
                unmeasured=[m["name"] for m in declared
                            if m["name"] not in values])
    if args.trace:
        info["layer_samples"] = wl.layer  # every per-pass value
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": wl.failed == 0, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
