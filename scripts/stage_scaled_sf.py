"""Stage an N-times-replicated copy of an sf dir as plain parquet, for
core-count scaling measurements (OPTIMIZATION_r15.md, VERDICT r14 item 4).

Replication follows scale_smoke.py's key-offset discipline: each copy
gets a distinct key offset so an Nx corpus has Nx the rows AND Nx the
keys — the same shape a bigger SF would have (join cardinalities and
group counts stay honest). Dimensions (nation, region) are NOT
replicated, mirroring TPC-H's fixed dimension tables.

Usage: python scripts/stage_scaled_sf.py [factor] [src_dir] [dst_dir]
Defaults: 10 /root/testdata/sf0.1 /tmp/scale{factor}x

The output is a normal sf-layout directory ({dst}/{table}.parquet), so
bench.py / bench_isolate.py consume it via SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame, functions as F

from etl_online_retail_spark.catalog import SCHEMAS, load_table
from etl_online_retail_spark.session import get_spark

SPAN = 10_000_000

# key columns to offset per copy, per table (scale_smoke.py discipline)
KEYS: dict[str, dict[str, int]] = {
    "lineitem": {"l_orderkey": SPAN, "l_partkey": SPAN, "l_suppkey": SPAN},
    "orders": {"o_orderkey": SPAN, "o_custkey": SPAN},
    "customer": {"c_custkey": SPAN},
    "part": {"p_partkey": SPAN},
    "supplier": {"s_suppkey": SPAN},
    "documents": {"doc_id": SPAN},
    "embeddings": {"vec_id": SPAN},
    "events": {"user_id": SPAN, "event_id": SPAN},
    # dimensions stay fixed
    "nation": {},
    "region": {},
}


# largest value of each integral key dtype
_DTYPE_MAX = {"tinyint": 2**7 - 1, "smallint": 2**15 - 1,
              "int": 2**31 - 1, "bigint": 2**63 - 1}


def replicate(df: DataFrame, factor: int, key_cols: dict[str, int]) -> DataFrame:
    """`factor` copies of df, copy c's keys offset by c * span. Raises
    before replicating when a copy's keys could collide with the next
    copy's (max(key) >= span) or the top copy's keys would overflow the
    column's dtype (factor * span > dtype max): either would make the
    Nx corpus silently wrong instead of Nx larger."""
    if not key_cols:  # dimension table: single copy
        return df
    dtypes = dict(df.dtypes)
    maxima = df.agg(*[F.max(c).alias(c) for c in key_cols]).first()
    for col, span in key_cols.items():
        top = _DTYPE_MAX.get(dtypes[col])
        if top is None:
            raise ValueError(f"key column {col} has non-integral dtype "
                             f"{dtypes[col]}")
        if factor * span > top:
            raise ValueError(f"{col}: {factor} copies x span {span} "
                             f"overflow {dtypes[col]} (max {top})")
        if maxima[col] is not None and maxima[col] >= span:
            raise ValueError(f"{col}: max key {maxima[col]} >= span {span}; "
                             f"copies would share keys")
    copies = df.crossJoin(F.broadcast(
        df.sparkSession.range(factor).withColumnRenamed("id", "_copy")))
    out = copies
    for col, span in key_cols.items():
        out = out.withColumn(col, (F.col(col) + F.col("_copy") * span)
                             .cast(dtypes[col]))
    return out.drop("_copy")


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    dst = (sys.argv[3] if len(sys.argv) > 3
           else f"/tmp/scale{factor}x")
    spark = get_spark("stage-scaled-sf")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst, exist_ok=True)
    t0 = time.perf_counter()
    for name in SCHEMAS:
        df = load_table(spark, name, src)
        out = replicate(df, factor, KEYS[name])
        # select in schema order so the staged file matches SCHEMAS
        out = out.select(*[f.name for f in SCHEMAS[name].fields])
        out.write.mode("overwrite").parquet(os.path.join(
            dst, f"{name}.parquet"))
        print(f"{name}: {out.count():,} rows", flush=True)
    print(f"staged {factor}x -> {dst} in {time.perf_counter()-t0:.1f}s",
          flush=True)


if __name__ == "__main__":
    main()
