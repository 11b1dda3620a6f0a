"""Join operators (SURVEY.md §2.4 J1-J3).

The reference does pandas hash-merges for surrogate-key lookups
(etl.py:216-225) and Postgres hash joins for the BI star queries
(superset.db#tables[2].sql). Spark-first translation: dimension sides get an
explicit broadcast() hint so the fact table never shuffles for a dim lookup
- at 100 TB a shuffled fact join is the single most expensive mistake this
workload could make. The hint is SIZE-GUARDED: the retail dims are MBs and
always qualify, but TPC-H-shaped part/customer grow linearly with the data,
and past the bound a forced broadcast OOMs executors instead of degrading —
there the hint is withheld and AQE/DPP pick the strategy at runtime.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Per-dim ceiling for a FORCED broadcast hint (an exact row count x row
# width when the caller observed one, else Catalyst's static plan-size
# estimate — file size for a scan, conservative propagation otherwise).
# 64 MB: ~6x Spark's default autoBroadcastJoinThreshold, small enough that
# a 1000-executor fan-out stays in the tens of GB of aggregate network.
# Dims whose estimate exceeds it (or is unavailable) get NO hint — AQE
# still broadcasts at runtime whenever the actual build side fits.
BROADCAST_MAX_BYTES = 64 << 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's static size estimate for a plan, in bytes (None if the
    estimate cannot be read). Driver-side plan inspection only — no job."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return None


def _row_width_bytes(df: DataFrame) -> int:
    """Catalyst's per-row size for a relation's output: an 8-byte row
    header plus each column type's default size (the factor its own
    row-count based estimates use)."""
    return 8 + int(df._jdf.schema().defaultSize())


def size_guarded_broadcast(dim: DataFrame, force: bool = False,
                           max_bytes: int = BROADCAST_MAX_BYTES,
                           rows: int | None = None) -> DataFrame:
    """broadcast(dim) iff its size fits max_bytes (or force=True for
    fixed-size dims); otherwise the unhinted dim, leaving the join
    strategy to AQE. Use wherever a dim that SCALES with the data would
    otherwise carry an unconditional hint.

    The size is `rows` x the row width when the caller knows the exact
    row count, and Catalyst's static estimate otherwise. Pass the count
    whenever one was observed: an iterative loop's cut state
    (session.cut_lineage) keeps the size estimate of the plan it was
    cut from, and those estimates compound round over round — at
    sf0.01 a 6,890-row edge cut reads as 28 GB and a 440-row BFS
    frontier four hops later as 2.3e44 bytes — so on a cut the estimate
    can never admit a broadcast, while the count costs nothing when it
    rides the cut as an observed metric."""
    if force:
        return F.broadcast(dim)
    size = (_plan_size_bytes(dim) if rows is None
            else rows * _row_width_bytes(dim))
    if size is not None and size <= max_bytes:
        return F.broadcast(dim)
    return dim



def broadcast_lookup(facts: DataFrame, dim: DataFrame, on: str | list[str],
                     how: str = "left", force_broadcast: bool = False,
                     max_bytes: int = BROADCAST_MAX_BYTES) -> DataFrame:
    """J1/J2: surrogate-key lookup - broadcast hash join, fact side unmoved.

    Mirrors tbl_invoices.merge(df_dim, how='left', on=key)
    (etl.py:216-225): dim is unique on the key so fact row count is
    preserved. The hint applies only while the dim's plan-size estimate
    fits max_bytes (or force_broadcast=True for genuinely fixed-size dims
    — nation/region/date spine); larger dims fall through to AQE.
    """
    return facts.join(size_guarded_broadcast(dim, force_broadcast, max_bytes),
                      on=on, how=how)


def star_join(fact: DataFrame, dims: Iterable[tuple[DataFrame, str | list[str]]],
              how: str = "inner", force_broadcast: bool = False,
              max_bytes: int = BROADCAST_MAX_BYTES) -> DataFrame:
    """J3: fact joined to N dimensions, each broadcast while it fits.

    The BI virtual dataset is fct ⋈ dim_dates ⋈ dim_customers ⋈ dim_products
    (superset.db#tables[2].sql); here any (dim, key) list. All dims
    broadcast => one stage over the fact scan, zero shuffles before the
    downstream aggregation; a dim past the size bound joins unhinted and
    AQE decides at runtime.
    """
    out = fact
    for dim, key in dims:
        out = out.join(size_guarded_broadcast(dim, force_broadcast, max_bytes),
                       on=key, how=how)
    return out


def salted_join(left: DataFrame, right: DataFrame, on: str,
                salt_buckets: int = 8, how: str = "inner") -> DataFrame:
    """Skew-buster equi-join: split each hot key into salt_buckets.

    The skewed (left) side gets a deterministic salt from a hash of its
    whole row; the right side is exploded into salt_buckets replicas. The
    shuffle key becomes (key, salt), so one hot key spreads over
    salt_buckets reducers at the cost of replicating the right side.
    Prefer AQE skew-join (on by default in session.py) when it applies;
    salting is for the cases AQE cannot split (e.g. aggregations keyed on
    the hot key downstream, or deliberate bucketing of a known-hot key).

    `how` admits the join types the construction is CORRECT for:
    replicating the right side into salt_buckets copies makes an
    unmatched right row surface salt_buckets times under right/full
    outer semantics (r7 review), so those are rejected loudly.
    """
    if how not in ("inner", "left", "leftouter", "left_outer",
                   "semi", "leftsemi", "left_semi",
                   "anti", "leftanti", "left_anti", "cross"):
        raise ValueError(
            f"salted_join cannot express {how!r}: the right side is "
            "replicated per salt bucket, so right/full outer joins "
            "would emit salt_buckets null-extended copies of every "
            "unmatched right row")
    l_salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]),
                    F.lit(salt_buckets)).alias("_salt")
    salted_left = left.select("*", l_salt)
    salted_right = right.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
             .alias("_salt"))
    return (salted_left.join(salted_right, on=[on, "_salt"], how=how)
                       .drop("_salt"))


def as_of_join(left: DataFrame, right: DataFrame, left_on: str, right_on: str,
               left_ts: str, right_ts: str, payload: Sequence[str],
               direction: str = "backward") -> DataFrame:
    """As-of join: each left row picks the nearest right row at-or-before
    (backward) / at-or-after (forward) its timestamp, per key. Left rows
    with no match keep NULL payload (LEFT ASOF semantics).

    Spark has no native ASOF JOIN; the naive forms are a per-row subquery
    (driver loop) or a range join (quadratic per key). The scalable shape is
    union + window: tag both sides, union into one relation, and run ONE
    window pass per key ordered by (ts, tag) where right rows sort before
    left rows at equal timestamps (inclusive match); `last(payload,
    ignorenulls=true)` then carries the most recent right payload onto every
    left row. Cost = one shuffle of |left|+|right| rows on the key - the
    same price as a plain equi-join, no candidate blowup, skew handled by
    AQE like any other shuffle.

    The payload travels as ONE struct so all its fields come from the SAME
    matched row. right must be unique per (key, ts) - dedup it first
    (e.g. max_by) or the engine picks an arbitrary row among ties, which no
    oracle can reproduce.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    pay = F.struct(*[F.col(c) for c in payload])
    # a NULL right timestamp cannot participate in an as-of match: under
    # asc ordering (backward) NULLs sort FIRST and last(ignorenulls)
    # would carry that row's payload onto every left row preceding all
    # real right rows (r7 review) — filter them out of the build side
    r = (right.filter(F.col(right_ts).isNotNull())
         .select(F.col(right_on).alias("_k"), F.col(right_ts).alias("_t"),
                 F.lit(0).alias("_tag"), pay.alias("_p")))
    ptype = r.schema["_p"].dataType
    l = left.select(F.col(left_on).alias("_k"), F.col(left_ts).alias("_t"),
                    F.lit(1).alias("_tag"),
                    F.lit(None).cast(ptype).alias("_p"),
                    F.struct(*[F.col(c) for c in left.columns]).alias("_row"))
    r = r.withColumn("_row", F.lit(None).cast(l.schema["_row"].dataType))
    unioned = l.unionByName(r)
    order = ([F.col("_t").asc(), F.col("_tag").asc()] if direction == "backward"
             else [F.col("_t").desc(), F.col("_tag").asc()])
    w = (Window.partitionBy("_k").orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = unioned.withColumn("_m", F.last("_p", ignorenulls=True).over(w))
    return (matched.filter(F.col("_tag") == 1)
            .select(*[F.col("_row")[c].alias(c) for c in left.columns],
                    *[F.col("_m")[c].alias(c) for c in payload]))


def range_self_join_within(df: DataFrame, key: str, ts_col: str, id_col: str,
                           window_us: int) -> DataFrame:
    """Bounded-interval self-join: ordered pairs of rows with the same key
    whose timestamps are within window_us microseconds ((ts, id) of the
    first strictly below the second's). Output: key, id_a, id_b, gap_us.

    The scale shape for range joins: bucket timestamps into window-sized
    bins; a qualifying pair's bins differ by at most 1, so candidates are
    limited to (key, bin) x (key, same-or-next bin) instead of the per-key
    cross product a raw theta-join plans. The left side duplicates into 2
    bins (its own and the next); the equi-join on (key, bin) shuffles like
    any other join, then the exact range predicate prunes candidates. Each
    qualifying pair matches exactly once (the right row has ONE bin), so no
    distinct is needed.
    """
    us = F.expr(f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01', "
                f"{ts_col})")
    base = df.select(F.col(key).alias("_k"), F.col(id_col).alias("_id"),
                     us.alias("_us"))
    bin_ = F.floor(F.col("_us") / F.lit(window_us))
    a = (base.select("_k", F.col("_id").alias("id_a"), F.col("_us").alias("_us_a"),
                     F.explode(F.array(bin_, bin_ + 1)).alias("_bin")))
    b = base.select("_k", F.col("_id").alias("id_b"), F.col("_us").alias("_us_b"),
                    bin_.alias("_bin"))
    gap = F.col("_us_b") - F.col("_us_a")
    first_lt = ((F.col("_us_a") < F.col("_us_b"))
                | ((F.col("_us_a") == F.col("_us_b"))
                   & (F.col("id_a") < F.col("id_b"))))
    return (a.join(b, ["_k", "_bin"])
            .filter(first_lt & (gap >= 0) & (gap <= window_us))
            .select(F.col("_k").alias(key), "id_a", "id_b",
                    gap.alias("gap_us")))


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """EXISTS(...) - rows of left with a match in right (left_semi)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """NOT EXISTS(...) - rows of left with no match in right (left_anti)."""
    return left.join(right, on=on, how="left_anti")


def interval_overlap_join(left: DataFrame, right: DataFrame, on: str,
                          l_start: str, l_end: str,
                          r_start: str, r_end: str) -> DataFrame:
    """Keyed interval-overlap join: one row per pair of intervals (same
    key) that intersect, with the intersection bounds attached as
    `ov_start` / `ov_end`. Closed-interval semantics; a NULL end means
    open-ended (the SCD2 "current version" convention) and clamps to the
    partner's end.

    Completes the temporal-join family (as-of = nearest point, PIT =
    point-in-interval, pairs-within = bounded point distance; this one is
    interval-x-interval). Scale shape: the equi-join on the key carries
    the ONLY shuffle — co-partitioned on both sides — and the overlap
    predicate evaluates inside key groups; per-key cost is
    |left_k| x |right_k|, bounded by per-key interval counts (versions,
    sessions), never cross-key. Key-free or mega-key workloads switch to
    the bin-bucketing shape (see events_pairs_within).
    """
    ls, le = F.col(l_start), F.col(l_end)
    rs, re_ = F.col(r_start), F.col(r_end)
    ov_start = F.greatest(ls, rs)
    # both ends NULL -> the intersection is itself open-ended (ov_end
    # NULL) and the pair ALWAYS overlaps; the filter admits that case
    # explicitly (ov_start <= NULL would silently drop it)
    ov_end = F.least(F.coalesce(le, re_), F.coalesce(re_, le))
    return (left.join(right, on)
            .withColumn("ov_start", ov_start)
            .withColumn("ov_end", ov_end)
            .filter(F.col("ov_end").isNull()
                    | (F.col("ov_start") <= F.col("ov_end"))))
