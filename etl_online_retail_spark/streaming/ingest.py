"""Incremental warehouse ingest: the reference's append-only load
(etl.py:149,171,249 if_exists='append') as an exactly-once stream.

The reference re-appends on every manual DAG run with no replay
protection; here the file-source checkpoint skips files already committed,
AND the batch write itself is idempotent: foreachBatch guarantees only
at-least-once delivery (a batch that partially writes before a crash is
REPLAYED after restart), so a plain parquet append would double-count the
replayed batch. Each batch therefore lands in its own `_batch_id=N`
partition via dynamic partition overwrite - a replay rewrites exactly its
own partitions instead of appending next to the partial first attempt.
Checkpointed skip + idempotent replay = effectively exactly-once.
foreachBatch remains the escape hatch for sinks without native streaming
support (JDBC warehouses, MERGE upserts) - those need their own
idempotence key, and _batch_id is it.

localCheckpoint durability (r11 advice, applies to every
`.localCheckpoint(eager=True)` in this module): the blocks are
non-replicated and lineage-free, so on a multi-executor cluster an
executor loss mid-write fails THAT maintenance job rather than
recomputing. That trade is deliberate here — every checkpointed write in
this module is an idempotent batch (replay rewrites its own partitions),
so the recovery story is "retry the batch", and the blocks free
themselves with the plan instead of pinning executor storage the way an
un-unpersisted cache() would. Deployments where a retry is costlier than
reliable storage should set a checkpoint dir and use .checkpoint().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import IntegerType, StructField, StructType


def idempotent_batch_write(batch_df: DataFrame, batch_id: int,
                           out_dir: str,
                           partition_by: str = "event_type") -> None:
    """Write one micro-batch into its own `_batch_id` partition; a replay
    of the same batch_id overwrites exactly those partitions (dynamic
    partition overwrite), never appends beside a partial first attempt."""
    (batch_df.withColumn("_batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch_id", partition_by)
     .parquet(out_dir))


def upsert_batch_write(batch_df: DataFrame, batch_id: int, table_dir: str,
                       key_cols: list[str], order_col: str,
                       n_shards: int = 16) -> None:
    """MERGE-style keyed upsert of one micro-batch into a parquet table.

    Parquet has no MERGE INTO, so the upsert is read-merge-overwrite over
    HASH SHARDS of the key space: the table is laid out as
    `_shard=hash(key) % n_shards` partitions, the batch only touches the
    shards its keys map to, and dynamic partition overwrite rewrites
    exactly those shards. Within a shard, old and new rows union and
    keep-last by (key, order_col) — a replayed batch re-merges to the
    identical shard contents, so the write is idempotent without a
    _batch_id column in the table.

    Cost model: each batch rewrites ~(touched shards / n_shards) of the
    table. Size n_shards so a shard ~= a comfortable rewrite unit
    (128-512 MB at warehouse scale); a true MERGE sink (Delta/Iceberg or
    JDBC MERGE) replaces this wholesale when available — the interface
    (key_cols + order_col) is exactly what those take.
    """
    import os

    from etl_online_retail_spark.operators.dedup import keep_last

    spark = batch_df.sparkSession
    # pmod, not abs(hash) % n: hash() can return INT_MIN and ANSI abs()
    # overflows on it
    shard = F.pmod(F.hash(*key_cols), F.lit(n_shards))
    incoming = batch_df.withColumn("_shard", shard)
    touched = [r._shard for r in incoming.select("_shard").distinct().collect()]
    if not touched:
        return
    if os.path.isdir(table_dir):
        existing = (spark.read.parquet(table_dir)
                    .filter(F.col("_shard").isin(touched)))
        merged_in = existing.unionByName(incoming)
    else:
        merged_in = incoming
    # Tiebreak beyond order_col with a hash of the full row: when an
    # existing and a replayed row tie on (key, order_col), row_number alone
    # is nondeterministic and replay could produce different shard contents.
    # Fully identical rows hash equal (either wins, same output); rows that
    # differ anywhere hash apart, so the winner is stable across replays.
    tiebreak = F.desc(F.xxhash64(*[c for c in merged_in.columns
                                   if c != "_shard"]))
    merged = keep_last(merged_in, key_cols, [F.desc(order_col), tiebreak])
    # the merge READS the table it overwrites: cut the lineage (materialize
    # to executor storage) before the write, or Spark rejects the
    # read-and-overwrite cycle
    merged = merged.localCheckpoint(eager=True)
    (merged.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_shard")
     .parquet(table_dir))


def incremental_upsert(stream_df: DataFrame, table_dir: str,
                       checkpoint_dir: str, key_cols: list[str],
                       order_col: str,
                       n_shards: int = 16) -> StreamingQuery:
    """Streaming keyed upsert: latest row per key wins (SCD1 semantics on
    a live table). Checkpointed source + idempotent shard re-merge =
    effectively exactly-once."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_batch_write(batch_df, batch_id, table_dir, key_cols,
                           order_col, n_shards)

    return (stream_df.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def incremental_append(stream_df: DataFrame, out_dir: str,
                       checkpoint_dir: str,
                       partition_by: str = "event_type") -> StreamingQuery:
    """Drain all available input into a partitioned parquet warehouse,
    effectively exactly once (checkpointed source + idempotent batch
    replay). Readers see an extra `_batch_id` partition column."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_batch_write(batch_df, batch_id, out_dir, partition_by)

    return (stream_df.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


# Every `_batch_id` partition (original partial OR compact) writes `_sum`
# as this ONE decimal type. Without the pin, Spark widens sums per pass
# (18,2 -> 28,2 -> 38,2), so compact partitions would carry a different
# parquet physical type than originals — and in the crash window where two
# compacts coexist, the stale narrower one can drive schema inference and
# make the wider live compact unreadable until cleanup.
_PARTIAL_SUM_TYPE = "decimal(28,2)"


def partial_agg_batch_write(batch_df: DataFrame, batch_id: int,
                            table_dir: str, key_cols: list[str],
                            value_col: str,
                            value_type: str = "decimal(18,2)",
                            sum_type: str = _PARTIAL_SUM_TYPE,
                            max_partials: int | None = None) -> None:
    """Materialized-aggregate maintenance, replay-safe by construction.

    Summing a replayed batch into a running total double-counts; instead
    each batch writes its PARTIAL aggregate (count + decimal-exact sum per
    key) under its own `_batch_id` partition — a replay overwrites exactly
    its partials. The read side (read_incremental_agg) merges partials,
    which is exactly the map-side-combine shape Spark itself uses; the
    merge input is O(batches x keys), compacted by rewriting old batches
    into one partial when it grows.

    value_type/sum_type override the money defaults when the maintained
    measure carries a different exact scale (the matview layer sums
    decimal(37,6) revenue terms, so it pins decimal(38,6) — see
    operators/matview.py). ONE table must use one (value_type, sum_type)
    pair for its whole life — the schema-pin rationale above the
    _PARTIAL_SUM_TYPE constant applies to whatever type the table picked.

    max_partials: fold on write (_write_partial) once the batch would
    push the effective partial count past it; None never folds.
    """
    part = (batch_df.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("_n"),
                 F.sum(F.col(value_col).cast(value_type))
                 .cast(sum_type).alias("_sum")))
    _write_partial(part, batch_id, table_dir, key_cols, sum_type,
                   max_partials)


def partial_multi_agg_batch_write(batch_df: DataFrame, batch_id: int,
                                  table_dir: str, key_cols: list[str],
                                  value_cols: list[str],
                                  sum_type: str = _PARTIAL_SUM_TYPE,
                                  weight_col: str | None = None,
                                  count_col: str | None = None,
                                  max_partials: int | None = None) -> None:
    """partial_agg_batch_write generalized to MANY measures: a real
    summary table carries several composable partials per grain (TPC-H
    Q1 keeps five decimal sums + a count). Each value column (already
    cast to an exact decimal by the caller) becomes a `_sum<suffix>`
    partial where suffix = the value column's name minus its `_v`
    prefix (`_v` -> `_sum`, `_v_qty` -> `_sum_qty`); `_n` rides as
    always. Same replay-safe `_batch_id` layout, same compaction
    (autocompact/compact discover the sum columns by prefix), same
    one-type-per-table pin.

    weight_col (r10, CDC): an integer ±1 column (exactly +1 or -1, the
    insert/retract signs — not a general multiplier) turning the
    partial monoid into the partial GROUP — a retracted row contributes
    (-1, -value) so `_n` becomes SUM(weight) and each partial
    SUM(±value). The sign is applied by NEGATION (CASE WHEN), never by
    multiplication: decimal x int re-types under Spark's
    allowPrecisionLoss (decimal(37,10) x int -> decimal(38,6), silently
    rounding scale-10 partials), while -decimal keeps the exact type.
    None (the default) keeps the bit-identical append-only plan
    (COUNT + plain sums).

    count_col (r10, CDC): when the caller PRE-AGGREGATES its input
    (matview's star input folds lineitems per order before the join),
    COUNT(*)/SUM(weight) would count pre-aggregated slices, not fact
    rows — and slice counts are not a liveness signal under partial
    retraction (a grain can net slice-count 0 with live rows, or +1
    with none). count_col names an integer column carrying each input
    row's TRUE fact-row count; `_n` becomes SUM(count x weight), a real
    signed row count whatever the input granularity. A caller that
    signs its own rows (matview.apply_cdc_batch negates each delete
    image's values and carries a ±1 or ±row-count term) passes that
    term as count_col and no weight_col: the batch is then one
    aggregation and one write, with no ±1 check to run.

    max_partials: when this batch would push the table's effective
    partial count past it, the batch folds on write — its partial and
    the effective partials merge into one coverage compact in the same
    plan (_write_partial); None never folds."""
    if weight_col is None:
        aggs = [(F.sum(F.col(count_col)).cast("bigint") if count_col
                 else F.count(F.lit(1))).alias("_n")]
        terms = {vc: F.col(vc) for vc in value_cols}
    else:
        w = F.col(weight_col)
        n_term = (F.col(count_col) * w) if count_col else w
        aggs = [F.sum(n_term).cast("bigint").alias("_n")]
        terms = {vc: F.when(w < 0, -F.col(vc)).otherwise(F.col(vc))
                 for vc in value_cols}
        # ±1 is a CONTRACT, so enforce it: a caller bug feeding 0/±2 (or
        # NULL) would scale `_n` by w while negating each value only
        # once — silently inconsistent partials that can net positive
        # and slip past liveness checks. The violation count rides the
        # SAME aggregation pass as the partials (no second batch scan);
        # NULL weights fall into the otherwise-branch because the ==
        # comparison is NULL for them (r10 advice).
        aggs.append(F.sum(F.when(F.abs(w) == 1, 0).otherwise(1))
                    .cast("bigint").alias("_bad_w"))
    for vc in value_cols:
        if not vc.startswith("_v"):
            raise ValueError(f"value column {vc!r} must start with '_v'")
        aggs.append(F.sum(terms[vc]).cast(sum_type).alias("_sum" + vc[2:]))
    part = batch_df.groupBy(*key_cols).agg(*aggs)
    if weight_col is not None:
        part = part.localCheckpoint(eager=True)
        n_bad = (part.agg(F.sum("_bad_w")).collect()[0][0] or 0)
        if n_bad:
            raise ValueError(
                f"weight column {weight_col!r} must be exactly +1 or -1 "
                f"(insert/retract signs, not a general multiplier); "
                f"{n_bad} row(s) violate that — nothing was written")
        part = part.drop("_bad_w")
    _write_partial(part, batch_id, table_dir, key_cols, sum_type,
                   max_partials)


def _write_partial(part: DataFrame, batch_id: int, table_dir: str,
                   key_cols: list[str], sum_type: str,
                   max_partials: int | None) -> None:
    """Land batch `batch_id`'s partial aggregate `part` (keys, `_n`,
    `_sum*`) as its own `_batch_id` partition, or FOLD it on write:
    when the partition would push the effective set past
    `max_partials`, `part` and the rest of that set merge in one plan
    into a coverage compact (_fold) and no `_batch_id=batch_id`
    original is written at all. A replay of a batch a compact already
    covers is not in the effective set, so it lands as an original
    that readers ignore, as it always has."""
    if max_partials is not None and batch_id >= 0:
        after = _effective(set(_list_partials(table_dir)) | {batch_id})
        if batch_id in after and len(after) > max_partials:
            _fold(part.sparkSession, table_dir, key_cols, sum_type,
                  [b for b in after if b != batch_id], part, batch_id)
            return
    (part.withColumn("_batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch_id")
     .parquet(table_dir))


def _sum_columns(df: DataFrame) -> list[str]:
    """The decimal partial columns of an incremental-agg table (single-
    measure tables have exactly `_sum`; multi-measure tables `_sum_*`)."""
    return [c for c in df.columns if c.startswith("_sum")]


def incremental_agg(stream_df: DataFrame, table_dir: str,
                    checkpoint_dir: str, key_cols: list[str],
                    value_col: str,
                    max_partials: int | None = 8) -> StreamingQuery:
    """Maintain per-key (count, sum) incrementally over a stream.

    With `max_partials` set (ROADMAP 15), the writer auto-compacts: the
    batch that would push the effective partial count past the threshold
    folds everything so far, itself included, into one coverage-encoded
    compact partition as it writes (_write_partial — crash-safe, see
    autocompact_incremental_agg), keeping the read-side merge input
    O(keys + threshold), not O(batches x keys).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial_agg_batch_write(batch_df, batch_id, table_dir, key_cols,
                                value_col, max_partials=max_partials)

    return (stream_df.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def _list_partials(table_dir: str) -> list[int]:
    """Partition ids present on disk (local-FS listing; at warehouse scale
    this is a catalog/manifest lookup)."""
    import os

    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        if name.startswith("_batch_id="):
            out.append(int(name.split("=", 1)[1]))
    return out


def effective_partials(table_dir: str) -> list[int]:
    """The consistent read set under crash-interrupted compaction.

    PUBLIC API (r10): the serving layer (operators/matview.py) reads
    incremental-agg tables directly, so this crash-window contract is
    load-bearing infrastructure, not an internal — at warehouse scale
    its directory listing becomes a catalog/manifest lookup behind the
    same signature.

    Partition meanings: b >= 0 is micro-batch b's partial; b <= -2 is a
    compact covering every effective partial with id <= (-b - 2) at its
    creation (coverage nests, so compacts are totally ordered); b == -1 is
    the legacy offline full compact. Readers take ONLY the widest compact,
    plus originals beyond its coverage; -1 counts only when no
    coverage-encoded compact exists (any such compact folded -1 into
    itself). Every excluded partition's content is, by construction,
    already inside the widest compact — so a crash between the compact
    write and its cleanup can never double-count or lose rows.
    """
    return _effective(_list_partials(table_dir))


def _effective(parts) -> list[int]:
    """effective_partials over a given partition listing."""
    parts = list(parts)
    compacts = [b for b in parts if b <= -2]
    if not compacts:
        return parts
    widest = min(compacts)  # most-negative id = largest coverage
    covered = -widest - 2
    return [widest] + [b for b in parts if 0 <= b and b > covered]


# long-standing in-repo callers/tests use the prior underscore name
_effective_partials = effective_partials


def autocompact_incremental_agg(spark, table_dir: str,
                                key_cols: list[str],
                                sum_type: str = _PARTIAL_SUM_TYPE) -> None:
    """Fold the effective partials into one compact partition, crash-safe
    at every step (safe to call from inside foreachBatch). This is the
    writers' fold on write (_write_partial) with no batch to add: the
    nightly-compaction shape (matview.compact) and explicit calls.

    1. Merge the current effective set (widest compact + live originals)
       and write it as a NEW compact with coverage = the highest original
       folded. A crash before this commits leaves the table untouched.
    2. Only then delete the now-covered partitions. A crash mid-cleanup
       leaves garbage that readers already ignore (_effective_partials)
       and the next compaction removes.

    A replayed micro-batch whose partial was already folded rewrites its
    original partition; readers ignore it (covered), and its content is
    identical to what the compact holds (partials are deterministic per
    batch), so replay stays exactly-once.
    """
    _fold(spark, table_dir, key_cols, sum_type,
          _effective_partials(table_dir))


def _fold(spark, table_dir: str, key_cols: list[str], sum_type: str,
          read_set: list[int], part: DataFrame | None = None,
          batch_id: int | None = None) -> None:
    """Merge the partitions `read_set` (plus batch `batch_id`'s partial
    `part`, when given) into the compact `-max(originals) - 2` with one
    dynamic-overwrite write, then delete every partition it covers.

    With a batch, the read uses the partial's own schema, so no footer
    inference job runs. The compact's id is never in `read_set` (any
    existing compact that wide would already cover every original in
    it), so the write reads none of the partitions it replaces and
    needs no checkpoint in between."""
    import os
    import shutil

    originals = [b for b in read_set if b >= 0]
    if part is not None:
        originals.append(batch_id)
    if not originals:
        return
    new_id = -max(originals) - 2
    src = part
    if read_set:
        reader = spark.read
        if part is not None:
            reader = reader.schema(StructType(
                part.schema.fields + [StructField("_batch_id",
                                                  IntegerType())]))
        old = (reader.parquet(table_dir)
               .filter(F.col("_batch_id").isin(read_set))
               .drop("_batch_id"))
        src = old if part is None else old.unionByName(part)
    merged = src.groupBy(*key_cols).agg(
        F.sum("_n").alias("_n"),
        *[F.sum(c).cast(sum_type).alias(c) for c in _sum_columns(src)])
    (merged.withColumn("_batch_id", F.lit(new_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch_id")
     .parquet(table_dir))
    for b in _list_partials(table_dir):
        if b != new_id and (b < 0 or b <= -new_id - 2):
            shutil.rmtree(os.path.join(table_dir, f"_batch_id={b}"),
                          ignore_errors=True)


def read_incremental_agg(spark, table_dir: str,
                         key_cols: list[str]) -> DataFrame:
    """Final merge over the effective per-batch partials:
    (keys, n_rows, total). Partition-prunes to the consistent read set so
    in-flight compaction garbage never double-counts."""
    return (spark.read.parquet(table_dir)
            .filter(F.col("_batch_id").isin(_effective_partials(table_dir)))
            .groupBy(*key_cols)
            .agg(F.sum("_n").alias("n_rows"),
                 F.sum("_sum").cast("double").alias("total")))


def compact_incremental_agg(spark, table_dir: str,
                            key_cols: list[str],
                            sum_type: str = _PARTIAL_SUM_TYPE) -> None:
    """Fold all per-batch partials into a single `_batch_id=-1` partition.

    Run periodically so the read-side merge input stays O(keys), not
    O(batches x keys). Safe to interleave with an active writer ONLY
    between streaming runs (the fold rewrites the whole table); at
    warehouse scale this is the nightly compaction job.

    REPLAY HAZARD (found by the r10 maintenance property test): the -1
    compact does not encode which batch ids it folded, so a micro-batch
    REPLAYED after this fold (stream restarts from a checkpoint older
    than the fold — a realistic crash schedule) re-appears as an
    original partition that `effective_partials` cannot prove covered,
    and the read side double-counts it. `autocompact_incremental_agg`
    (coverage-encoded compact ids) is immune and is what the matview
    serving layer uses; prefer it anywhere a writer may ever restart.
    This -1 shape remains for truly terminated streams and as the
    read_agg_as_of legacy case.

    CRASH-WINDOW HAZARD (r11 verdict; falsified the r10 "as-of never
    lies" property at schedule crash_keep_all -> legacy): the fold MUST
    source only `effective_partials`, never the raw directory. A
    crash-interrupted autocompaction legitimately leaves both a coverage
    compact AND the originals it covers on disk (that window is exactly
    what effective_partials exists for); an unfiltered fold sums both —
    every covered batch counted twice — and the static -1 overwrite then
    makes the corruption the only partition left, permanently wrong for
    every later reader, live and as-of.
    """
    src = (spark.read.parquet(table_dir)
           .filter(F.col("_batch_id").isin(_effective_partials(table_dir))))
    merged = (src.groupBy(*key_cols)
              .agg(F.sum("_n").alias("_n"),
                   *[F.sum(c).cast(sum_type).alias(c)
                     for c in _sum_columns(src)])
              .withColumn("_batch_id", F.lit(-1))
              .localCheckpoint(eager=True))  # reads the dir it overwrites
    # STATIC overwrite pinned explicitly: the -1 fold's whole contract is
    # "nothing else survives on disk" (every reader's legacy branch
    # assumes surviving partials post-date the fold). Under a
    # session-level spark.sql.sources.partitionOverwriteMode=dynamic the
    # unpinned write would replace only the -1 partition, leaving the
    # folded originals beside it — a double-count for every reader.
    (merged.write.mode("overwrite")
     .option("partitionOverwriteMode", "static")
     .partitionBy("_batch_id").parquet(table_dir))


# ---------------------------------------------------------------------------
# streaming count-min sketch: heavy hitters over an unbounded stream with
# bounded state. Each micro-batch sketches ITS OWN terms (depth x width
# counters, KB-sized) into a `_batch_id` partition — the same replay-safe
# idempotence as partial_agg_batch_write — and the read side merges
# partials with one tiny aggregation (CMS is a monoid, operators/sketches
# cms_merge, equality-tested). State per batch is O(depth x width)
# whatever the vocabulary, which is the whole point at 100 TB: a naive
# streaming groupBy(term) would keep unbounded per-term state.

def cms_batch_write(batch_df: DataFrame, batch_id: int, table_dir: str,
                    term_col: str = "term") -> None:
    from etl_online_retail_spark.operators.sketches import cms_sketch

    (cms_sketch(batch_df.select(term_col), term_col)
     .withColumn("_batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch_id")
     .parquet(table_dir))


def incremental_cms(stream_df: DataFrame, table_dir: str,
                    checkpoint_dir: str,
                    term_col: str = "term") -> StreamingQuery:
    """Maintain a count-min sketch incrementally over a term stream."""
    return (stream_df.writeStream
            .foreachBatch(lambda df, bid: cms_batch_write(
                df, bid, table_dir, term_col))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_incremental_cms(spark, table_dir: str) -> DataFrame:
    """The merged sketch over every batch partial: (j, bucket, cnt) —
    feed to sketches.cms_estimate for probe-side estimates."""
    return (spark.read.parquet(table_dir)
            .groupBy("j", "bucket")
            .agg(F.sum("cnt").alias("cnt")))


# ---------------------------------------------------------------------------
# streaming KMV sketch: distinct counts AND set-operation estimates
# (union/intersection/Jaccard between groups) over an unbounded stream
# with bounded state. Same partial-per-batch shape as the streaming CMS:
# each micro-batch writes ITS OWN per-group k-minimum-values sketch
# (groups x k rows) under `_batch_id`, replay-safe via dynamic partition
# overwrite; the read side merges partials exactly (KMV is a monoid —
# k smallest of a union are computable from per-shard k-mins). A naive
# streaming distinct would keep unbounded per-value state.

def kmv_batch_write(batch_df: DataFrame, batch_id: int, table_dir: str,
                    group_col: str, hash_col: str) -> None:
    from etl_online_retail_spark.operators.sketches import kmv_sketch

    (kmv_sketch(batch_df.select(group_col, hash_col), group_col, hash_col)
     .select(group_col, "_h")
     .withColumn("_batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch_id")
     .parquet(table_dir))


def incremental_kmv(stream_df: DataFrame, table_dir: str,
                    checkpoint_dir: str, group_col: str,
                    hash_col: str) -> StreamingQuery:
    """Maintain per-group KMV sketches incrementally over a stream of
    (group, portable-hash) rows."""
    return (stream_df.writeStream
            .foreachBatch(lambda df, bid: kmv_batch_write(
                df, bid, table_dir, group_col, hash_col))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_incremental_kmv(spark, table_dir: str, group_col: str) -> DataFrame:
    """The merged per-group sketch over every batch partial — feed to
    sketches.kmv_stats / kmv_pair_overlap."""
    from etl_online_retail_spark.operators.sketches import kmv_merge

    return kmv_merge(spark.read.parquet(table_dir),
                     group_col=group_col)


# streaming HDR histogram: approximate quantiles over a stream with
# bounded state — the third member of the streamable-sketch family
# (count-min: frequencies; KMV: distincts/set-ops; HDR: quantiles).
# Buckets are integer bit-length octaves x linear sub-buckets, counts
# add, so per-batch partials merge exactly on read.

def hdr_batch_write(batch_df: DataFrame, batch_id: int, table_dir: str,
                    group_col: str, value_col: str) -> None:
    from etl_online_retail_spark.operators.sketches import hdr_histogram

    (hdr_histogram(batch_df.select(group_col, value_col), group_col,
                   value_col)
     .withColumn("_batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch_id")
     .parquet(table_dir))


def incremental_hdr(stream_df: DataFrame, table_dir: str,
                    checkpoint_dir: str, group_col: str,
                    value_col: str) -> StreamingQuery:
    """Maintain per-group HDR histograms incrementally over a stream of
    (group, positive BIGINT value) rows."""
    return (stream_df.writeStream
            .foreachBatch(lambda df, bid: hdr_batch_write(
                df, bid, table_dir, group_col, value_col))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_incremental_hdr(spark, table_dir: str, group_col: str) -> DataFrame:
    """The merged per-group histogram over every batch partial — feed to
    sketches.hdr_quantiles."""
    return (spark.read.parquet(table_dir)
            .groupBy(group_col, "bucket")
            .agg(F.min("ub").alias("ub"), F.sum("cnt").alias("cnt")))


def _as_of_partials(table_dir: str, batch_id: int) -> list[int]:
    """The partition set reconstructing the aggregate AS OF micro-batch
    `batch_id` (inclusive), or a ValueError when compaction retention has
    discarded the needed history.

    Snapshot identification is free here: `_batch_id` IS the version
    ledger (the same role as a Delta/Iceberg snapshot id), and because
    compacts encode their coverage in their id, "which partitions
    reconstruct version N" is pure arithmetic on the listing — base =
    the widest compact with coverage <= N, plus every original partial
    in (coverage, N]. Retention contract: once a compact's coverage
    passes N and the narrower history is cleaned up, version N is gone —
    exactly the vacuum/retention semantics of the table formats.
    """
    parts = _list_partials(table_dir)
    partial_ids = [b for b in parts if b >= 0]
    # the legacy offline compact (_batch_id = -1, compact_incremental_agg)
    # folds EVERYTHING at its creation but does not date its coverage, so
    # no specific historic version can be reconstructed through it — only
    # the versions at or after the last partial it precedes (where the
    # answer equals "the -1 compact plus every later partial"). For dated
    # time travel, compact with autocompact_incremental_agg instead.
    #
    # -1 counts ONLY when no coverage-encoded compact exists — the same
    # rule as effective_partials, for the same reason: any coverage
    # compact folded the -1 it found into itself at creation, so a -1
    # still on disk beside one is crash-window garbage (autocompact
    # cleanup interrupted after deleting the originals but before -1) or
    # a dynamic-overwrite legacy fold that left the compacts in place.
    # Reading [-1] + surviving partials in that state served a silently
    # STALE (or double-counted) snapshot for batch_id >= newest — found
    # by the r10 mixed-compaction repro (tests/test_incremental_ingest
    # test_read_agg_as_of_survives_interrupted_autocompact_cleanup).
    if -1 in parts and not any(b <= -2 for b in parts):
        # With no partial beside it, the fold's last-folded batch is
        # unknowable from the listing — serving ANY requested version
        # would claim "version N" for a fold that may include N+1.. .
        # (Surviving partials all post-date the fold — its whole-table
        # overwrite removed the ones it ate — so with at least one
        # partial, versions >= the newest partial ARE reconstructable.)
        if not partial_ids:
            raise ValueError(
                "as-of reads are not reconstructable from an undated "
                "legacy full compact (_batch_id=-1) with no later "
                "partials: the fold's last-folded batch id is unknowable."
                " Use read_incremental_agg for the live total, or compact"
                " with autocompact_incremental_agg for dated time travel")
        newest = max(partial_ids)
        if batch_id >= newest:
            return [-1] + sorted(partial_ids)
        raise ValueError(
            f"as-of batch {batch_id} is not reconstructable: the table "
            f"holds an undated legacy full compact (_batch_id=-1); only "
            f"batch >= {newest} can be served. Use coverage-encoded "
            f"compaction (autocompact_incremental_agg) for dated "
            f"time travel")
    compacts = [b for b in parts if b <= -2 and (-b - 2) <= batch_id]
    covered = -1
    base: list[int] = []
    if compacts:
        widest = min(compacts)
        covered = -widest - 2
        base = [widest]
    have = {b for b in partial_ids if b <= batch_id and b > covered}
    # an id absent from the listing is EITHER an empty micro-batch (wrote
    # no partition — benign) or history erased by compaction cleanup.
    # Cleanup only ever deletes partials at or under the widest compact's
    # coverage, so absence ABOVE that coverage is provably an empty
    # batch; at or under it the two cases are indistinguishable from the
    # listing alone, and the CONSERVATIVE reading (erased -> refuse)
    # wins: serving a possibly-partial version silently would break the
    # snapshot contract, while refusing an actually-empty batch only
    # costs a retry at a reconstructable version.
    all_compacts = [b for b in parts if b <= -2]
    c_widest = (-min(all_compacts) - 2) if all_compacts else -1
    erased = [b for b in range(covered + 1, batch_id + 1)
              if b not in have and b <= c_widest]
    if erased:
        raise ValueError(
            f"as-of batch {batch_id} is beyond retention: partials "
            f"{erased} were compacted away or indistinguishable from "
            f"compacted (widest reconstructable coverage {covered}); "
            f"compact less aggressively or snapshot earlier")
    return base + sorted(have)


# PUBLIC API (r10): the matview serving layer time-travels its summary
# tables through this partition arithmetic (operators/matview.serve_as_of),
# same promotion rationale as effective_partials.
as_of_partials = _as_of_partials


def read_agg_as_of(spark, table_dir: str, key_cols: list[str],
                   batch_id: int) -> DataFrame:
    """TIME-TRAVEL read of the incremental aggregate: per-key
    (n_rows, total) exactly as they stood after micro-batch `batch_id` —
    the lakehouse "VERSION AS OF" query, served from the partition
    ledger with no extra metadata store. Raises past the retention
    horizon (see _as_of_partials)."""
    keep = _as_of_partials(table_dir, batch_id)
    return (spark.read.parquet(table_dir)
            .filter(F.col("_batch_id").isin(keep))
            .groupBy(*key_cols)
            .agg(F.sum("_n").alias("n_rows"),
                 F.sum("_sum").cast("double").alias("total")))


# ---------------------------------------------------------------------------
# streaming deterministic uniform sample: reservoir-sampling semantics
# over an unbounded stream WITHOUT rand() and without unbounded state.
# sampling.uniform_sample_topk defines the sample as "the k rows with the
# smallest affine-hash bucket of their id" — a MIN-K MONOID, so each
# micro-batch writes its own k-smallest rows under `_batch_id`
# (replay-safe partition overwrite) and the read side takes the k
# smallest of the union of partials. The merged result is IDENTICAL to
# running the batch sampler over the complete stream (tested), which a
# classic randomized reservoir cannot promise across restarts/replays.
# State per batch <= k rows; read merge input is O(batches x k).


def uniform_sample_batch_write(batch_df: DataFrame, batch_id: int,
                               table_dir: str, id_col: str,
                               k: int) -> None:
    from etl_online_retail_spark.operators.sampling import uniform_sample_topk

    (uniform_sample_topk(batch_df, id_col, k)
     .withColumn("_batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch_id")
     .parquet(table_dir))


def incremental_uniform_sample(stream_df: DataFrame, table_dir: str,
                               checkpoint_dir: str, id_col: str,
                               k: int) -> StreamingQuery:
    """Maintain a deterministic k-row uniform sample over a stream."""
    return (stream_df.writeStream
            .foreachBatch(lambda df, bid: uniform_sample_batch_write(
                df, bid, table_dir, id_col, k))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_incremental_uniform_sample(spark, table_dir: str, id_col: str,
                                    k: int) -> DataFrame:
    """k smallest-hash rows across every batch partial — bit-equal to
    the batch uniform_sample_topk over the union of all batches."""
    from etl_online_retail_spark.operators.sampling import uniform_sample_topk

    return uniform_sample_topk(
        spark.read.parquet(table_dir).drop("_batch_id"), id_col, k)


# ---------------------------------------------------------------------------
# streaming drift monitor: PSI over an unbounded stream with bounded
# state. Bucket counts are a monoid, so each micro-batch writes its OWN
# (group, bucket, cnt) partial under `_batch_id` (replay-safe partition
# overwrite) and the read side sums partials and scores them through the
# SAME psi_from_counts the batch operator uses — the live PSI is
# bit-equal to psi_by_group over the complete log (tested). State per
# batch is groups x observed-buckets rows, never the stream length.


def psi_batch_write(batch_df: DataFrame, batch_id: int, table_dir: str,
                    group_col: str, bucket_col: str) -> None:
    (batch_df.groupBy(group_col, bucket_col)
     .agg(F.count(F.lit(1)).alias("cnt"))
     .withColumn("_batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch_id")
     .parquet(table_dir))


def incremental_psi(stream_df: DataFrame, table_dir: str,
                    checkpoint_dir: str, group_col: str,
                    bucket_col: str) -> StreamingQuery:
    """Maintain per-(group, bucket) count partials over a stream; score
    drift on read via read_incremental_psi."""
    return (stream_df.writeStream
            .foreachBatch(lambda df, bid: psi_batch_write(
                df, bid, table_dir, group_col, bucket_col))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_incremental_psi(spark, table_dir: str, group_col: str,
                         bucket_col: str) -> DataFrame:
    """PSI per group over everything ingested so far — bit-equal to the
    batch psi_by_group over the union of all batches."""
    from etl_online_retail_spark.operators.profile import psi_from_counts

    merged = (spark.read.parquet(table_dir)
              .groupBy(group_col, bucket_col)
              .agg(F.sum("cnt").alias("cnt")))
    return psi_from_counts(merged, group_col, bucket_col)


# ---------------------------------------------------------------------------
# streaming quarantine: the expectations-with-drop+log split applied to
# every micro-batch — valid rows land in the main table, rows breaking
# any rule land beside it with their violation list, both under the
# batch's own `_batch_id` partition so a replay overwrites exactly its
# own first attempt on BOTH sides (the idempotent_batch_write contract).


def quarantine_batch_write(batch_df: DataFrame, batch_id: int,
                           valid_dir: str, quarantine_dir: str,
                           rules) -> None:
    from etl_online_retail_spark.operators.constraints import quarantine

    valid, invalid = quarantine(batch_df, rules)
    for df, out in ((valid, valid_dir), (invalid, quarantine_dir)):
        (df.withColumn("_batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(out))


def quarantined_ingest(stream_df: DataFrame, valid_dir: str,
                       quarantine_dir: str, checkpoint_dir: str,
                       rules) -> StreamingQuery:
    """Route a stream through the constraint rules: valid rows to
    valid_dir, rule-breakers (with reasons) to quarantine_dir —
    replay-safe on both sides. rules: [(name, good-row predicate), ...]
    per operators/constraints.quarantine."""
    return (stream_df.writeStream
            .foreachBatch(lambda df, bid: quarantine_batch_write(
                df, bid, valid_dir, quarantine_dir, rules))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def erase_from_landed(spark, out_dir: str, key_col: str,
                      subject_keys: list) -> dict[str, int]:
    """GDPR erasure against the LANDED streaming warehouse: remove every
    row whose key is in `subject_keys` from the incremental_append
    layout, rewriting ONLY the (_batch_id, partition) directories that
    actually contain subject rows — history partitions without a hit
    are never touched, so the pass costs ~(affected partitions), not a
    table rewrite. A partition left EMPTY by the erasure is deleted
    outright (dynamic overwrite cannot express "overwrite with
    nothing").

    Idempotent (a second pass finds nothing) and replay-consistent: the
    rewritten partitions keep their _batch_id, so a later stream replay
    of one of those batches overwrites them wholesale — which REINSERTS
    the subject's rows from the replayed source. Erasure therefore also
    belongs upstream (drop the subject at ingest with
    privacy.erase_rows) and this pass is the retroactive sweep over
    what already landed. Every sweep records its subjects in the
    `_erasure_ledger/` sidecar so replay_erasure_sweep can re-apply the
    full erased set after any replay window automatically. Returns
    {'partitions_rewritten': n (rewritten in place),
    'partitions_deleted': n (left empty and removed — reported
    separately: a deleted directory is GONE and a replay recreates it
    wholesale), 'rows_erased': n} for the audit log.
    """
    import os
    import re
    import shutil

    from pyspark.sql import functions as F

    subjects = sorted(set(subject_keys))
    if not subjects:
        return {"partitions_rewritten": 0, "partitions_deleted": 0,
                "rows_erased": 0}
    _ledger_append(out_dir, key_col, subjects)
    table = spark.read.parquet(out_dir)
    # partition columns from the directory layout: _batch_id plus any
    # second-level partitionBy column
    part_cols = ["_batch_id"]
    for d in sorted(os.listdir(out_dir)):
        if d.startswith("_batch_id="):
            for e in sorted(os.listdir(os.path.join(out_dir, d))):
                m = re.match(r"([^=]+)=", e)
                if m:
                    part_cols.append(m.group(1))
                    break
            break

    is_subject = F.col(key_col).isin(*subjects)
    # a NULL key is NOT a subject: ~isin is NULL for NULL keys and a bare
    # filter would destroy those rows in the rewrite — the erasure must
    # only ever remove the named subjects
    keep_pred = F.col(key_col).isNull() | ~is_subject
    hits = (table.filter(is_subject)
            .select(*part_cols).distinct().collect())
    rewritten = 0
    deleted = 0
    erased = 0
    from urllib.parse import unquote, urlparse

    for h in hits:
        pred = None
        for c in part_cols:
            # eqNullSafe, not ==: a NULL partition value (the
            # __HIVE_DEFAULT_PARTITION__ directory) makes `col == None`
            # NULL-never-true, which would skip the slice entirely and
            # leave the subject's rows on disk while still counting the
            # partition as rewritten
            p = F.col(c).eqNullSafe(F.lit(h[c]))
            pred = p if pred is None else (pred & p)
        sliced = table.filter(pred)
        part = sliced.localCheckpoint(eager=True)
        kept = part.filter(keep_pred)
        n_all, n_kept = part.count(), kept.count()
        erased += n_all - n_kept
        if n_kept == 0:
            # the partition's ON-DISK directory comes from its actual
            # files (input_file_name), never from f"{col}={value}"
            # formatting — Spark escapes partition values in directory
            # names (and maps NULL to __HIVE_DEFAULT_PARTITION__), so a
            # hand-built path can silently miss the real directory.
            # input_file_name returns a file: URI with the on-disk name
            # URI-encoded ON TOP of that escaping (disk `a%3Ab` -> URI
            # `a%253Ab`); one unquote of the URI path recovers the true
            # directory. Collected only on this branch (the rewrite
            # branch never needs it — no wasted scan per partition) and
            # BEFORE the rmtree while the files still exist.
            part_dirs = {
                os.path.dirname(unquote(urlparse(r[0]).path))
                for r in sliced.select(F.input_file_name())
                .distinct().collect()}
            for d in part_dirs:
                shutil.rmtree(d, ignore_errors=True)
            deleted += 1
        else:
            (kept.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy(*part_cols)
             .parquet(out_dir))
            rewritten += 1
    return {"partitions_rewritten": rewritten,
            "partitions_deleted": deleted, "rows_erased": erased}


_LEDGER_DIR = "_erasure_ledger"


def _ledger_append(out_dir: str, key_col: str, subjects: list) -> None:
    """Append this sweep's subjects to the table's erasure ledger — a
    JSON sidecar per sweep (underscore-prefixed: parquet readers skip
    it). JSON-representable keys only (int/str — the subject-id types);
    the ledger is what makes erasure durable across stream replays."""
    import json
    import os

    already = ledger_subjects(out_dir).get(key_col, [])
    if set(subjects) <= set(already):
        return          # replay sweeps re-erase without re-ledgering
    ldir = os.path.join(out_dir, _LEDGER_DIR)
    os.makedirs(ldir, exist_ok=True)
    n = len(os.listdir(ldir))
    path = os.path.join(ldir, f"sweep_{n:06d}.json")
    with open(path, "w") as f:
        json.dump({"key_col": key_col, "subjects": subjects}, f)


def ledger_subjects(out_dir: str) -> dict[str, list]:
    """All erased subjects ever recorded for a landed table, keyed by
    key column."""
    import json
    import os

    ldir = os.path.join(out_dir, _LEDGER_DIR)
    out: dict[str, list] = {}
    if not os.path.isdir(ldir):
        return out
    for name in sorted(os.listdir(ldir)):
        with open(os.path.join(ldir, name)) as f:
            rec = json.load(f)
        out.setdefault(rec["key_col"], [])
        out[rec["key_col"]].extend(rec["subjects"])
    return {k: sorted(set(v)) for k, v in out.items()}


def replay_erasure_sweep(spark, out_dir: str) -> dict[str, int]:
    """Re-apply EVERY ledgered erasure after a stream replay window —
    the operational closure of erase_from_landed's documented caveat
    (a replayed _batch_id reinserts erased subjects; this sweep removes
    them again from whatever landed). Idempotent; totals summed over
    key columns."""
    totals = {"partitions_rewritten": 0, "partitions_deleted": 0,
              "rows_erased": 0}
    for key_col, subjects in ledger_subjects(out_dir).items():
        got = erase_from_landed(spark, out_dir, key_col, subjects)
        for k in totals:
            totals[k] += got[k]
    return totals


def incremental_source_counts(stream_df: DataFrame, table_dir: str,
                              checkpoint_dir: str,
                              part_col: str) -> StreamingQuery:
    """Maintain per-source row counts over a stream — the live input to
    temperature-based mix rates (the fifth streamable family beside
    CMS/KMV/HDR/PSI: counts are the simplest monoid of all). Each
    micro-batch writes its per-source count partial under its own
    _batch_id partition (replay overwrites exactly itself); the read
    side merges by addition."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = (batch_df.groupBy(part_col)
                .agg(F.count(F.lit(1)).alias("_n")))
        (part.withColumn("_batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(table_dir))

    return (stream_df.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def battle_matrix_batch_write(batch_df: DataFrame, batch_id: int,
                              table_dir: str, a_col: str = "model_a",
                              b_col: str = "model_b",
                              outcome_col: str = "outcome") -> None:
    """One micro-batch of judge battles -> its pairwise-matrix partial
    (operators/arena.pairwise_matrix) under its own _batch_id partition
    (replay overwrites exactly itself). Pair counts are pure additive
    monoids, so the merge side is a sum — the sixth streamable family
    beside counts/CMS/KMV/HDR/PSI."""
    from etl_online_retail_spark.operators.arena import pairwise_matrix

    part = pairwise_matrix(batch_df, a_col, b_col, outcome_col)
    (part.withColumn("_batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch_id")
     .parquet(table_dir))


def incremental_battle_matrix(stream_df: DataFrame, table_dir: str,
                              checkpoint_dir: str,
                              a_col: str = "model_a",
                              b_col: str = "model_b",
                              outcome_col: str = "outcome") -> StreamingQuery:
    """Maintain the arena's pairwise win/tie matrix over a battle
    stream. The stored state is the PAIR-grain matrix (dashboard-
    sized); the battle log itself is never re-read — leaderboard
    refresh (records_from_matrix, bradley_terry_from_matrix) runs
    off read_battle_matrix's merge."""
    return (stream_df.writeStream
            .foreachBatch(lambda df, bid: battle_matrix_batch_write(
                df, bid, table_dir, a_col, b_col, outcome_col))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_battle_matrix(spark, table_dir: str) -> DataFrame:
    """(m1, m2, m1_wins, m2_wins, ties, n_battles) merged over every
    effective batch partial — bit-equal to pairwise_matrix over the
    full battle log."""
    return (spark.read.parquet(table_dir)
            .filter(F.col("_batch_id").isin(_effective_partials(table_dir)))
            .groupBy("m1", "m2")
            .agg(F.sum("m1_wins").alias("m1_wins"),
                 F.sum("m2_wins").alias("m2_wins"),
                 F.sum("ties").alias("ties"),
                 F.sum("n_battles").alias("n_battles")))


def minhash_index_batch_write(batch_df: DataFrame, batch_id: int,
                              index_dir: str, dups_dir: str,
                              text_col: str = "text",
                              id_col: str = "doc_id", n: int = 2,
                              k: int = 16, bands: int = 4,
                              threshold: float = 0.5,
                              seed: int = 42) -> None:
    """One micro-batch of the live dedup loop: (1) probe the accumulated
    band index for near-dup hits against every EARLIER batch, landing the
    hits under this batch's `_batch_id` partition; (2) append the batch's
    own banded signatures + shingles to the index under the same
    `_batch_id`.

    Replay-deterministic by construction: the probe reads only index
    partitions with `_batch_id < batch_id`, so a replayed batch sees
    exactly the view its first attempt saw — even when LATER batches
    have already landed, and even when its own first attempt
    half-wrote its index partition (own id is excluded from the probe,
    and dynamic partition overwrite rewrites it whole). Hits + index
    rows are both rewritten, so the crash window between the two writes
    heals on replay.
    """
    import os

    from etl_online_retail_spark.operators.dedup import (
        banded_signatures,
        near_dups_between,
    )

    spark = batch_df.sparkSession
    probe = banded_signatures(batch_df, text_col, id_col, n, k, bands,
                              seed=seed).localCheckpoint(eager=True)
    # cache the per-batch index view OURSELVES (cache=False below) so it
    # can be unpersisted once the batch's two writes land — the default
    # caching inside near_dups_between has no unpersist handle, and a
    # long-running stream would pin one dead, ever-larger relation per
    # micro-batch in executor storage (ADVICE r6). The probe needs no
    # cache: localCheckpoint already materialized it.
    index = None
    try:
        if os.path.isdir(index_dir):
            index = (spark.read.parquet(index_dir)
                     .filter(F.col("_batch_id") < batch_id)
                     .drop("_batch_id")
                     .cache())
            hits = near_dups_between(probe, index, bands, threshold,
                                     cache=False)
        else:
            hits = (probe.limit(0)
                    .select(F.col("_id").alias("new_id"),
                            F.col("_id").alias("corpus_id"),
                            F.lit(0.0).alias("jaccard")))
        (hits.withColumn("_batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(dups_dir))
        (probe.withColumn("_batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch_id")
         .parquet(index_dir))
    finally:
        if index is not None:
            index.unpersist()


def incremental_minhash_dedup(stream_df: DataFrame, index_dir: str,
                              dups_dir: str, checkpoint_dir: str,
                              text_col: str = "text",
                              id_col: str = "doc_id", n: int = 2,
                              k: int = 16, bands: int = 4,
                              threshold: float = 0.5,
                              seed: int = 42) -> StreamingQuery:
    """The streaming twin of dedup.incremental_near_duplicates: each
    micro-batch of documents is probed against the band index the stream
    itself has accumulated, then added to it. Over the complete stream
    the union of hit partitions equals the batch operator's cross-batch
    pair set (each pair attributed to the LATER side's batch) — the
    within-batch pairs remain minhash_near_duplicates(batch) by design,
    same as the batch operator.

    Bounded work per batch: |batch| x bucket collisions, exactly the
    batch operator's cost model — the index grows with the corpus but is
    only ever bucket-JOINED, never self-paired. At 100 TB the index is
    this same parquet layout partitioned by `_batch_id` (compaction into
    band-bucketed files is an offline optimization, not a semantic
    change)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        minhash_index_batch_write(batch_df, batch_id, index_dir, dups_dir,
                                  text_col, id_col, n, k, bands, threshold,
                                  seed)

    return (stream_df.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_mix_rates(spark, table_dir: str, part_col: str,
                   budget_docs: int, alpha: float = 0.5) -> DataFrame:
    """Live temperature-mix rates from the maintained count partials:
    merge counts by addition, then run the IDENTICAL counts->rates
    arithmetic as the batch operator (sampling.rates_from_counts) — so
    the streaming rates equal the batch rates bit-for-bit over the
    complete stream, and the cutoffs select the SAME documents."""
    from etl_online_retail_spark.operators.sampling import (
        rates_from_counts,
    )

    counts = (spark.read.parquet(table_dir)
              .groupBy(part_col)
              .agg(F.sum("_n").alias("n_total")))
    return rates_from_counts(counts, part_col, budget_docs, alpha)


# ---------------------------------------------------------------------------
# streaming crawl ingest (r12): a CONTINUOUS crawl — WARC archives
# arriving as a stream — maintained into quality telemetry with bounded
# state. Each micro-batch of archives walks its records, extracts
# main-content text, scores it with the oracle-checked quality formula,
# and folds per-(source-host, quality-decile) (count, sum) partials via
# the standard replay-safe partial layout. State per batch is
# O(hosts x 10) whatever the crawl volume; the read side merges
# partials with one tiny aggregation. Over the complete stream the
# telemetry equals the batch computation over the union of all
# archives, bit-for-bit (partial sums are exact decimals), which the
# test asserts.


def crawl_quality_batch_write(batch_df: DataFrame, batch_id: int,
                              table_dir: str,
                              max_link_density: float = 0.5) -> None:
    from etl_online_retail_spark.functions.html_text import (
        extract_main_text,
    )
    from etl_online_retail_spark.sources.warc import warc_records

    recs = warc_records(batch_df, id_col="archive_id",
                        content_col="content")
    responses = (recs.filter(F.col("warc_type") == "response")
                 .select("archive_id",
                         F.regexp_extract("target_uri",
                                          r"^https?://([^/?#]+)", 1)
                          .alias("host"),
                         "body"))
    texts = extract_main_text(
        responses.withColumn("_k", F.struct("archive_id", "host")),
        "body", "_k", max_link_density=max_link_density)
    _quality_partials(texts.select(F.col("_k")["host"].alias("host"),
                                   "text"), batch_id, table_dir)


def _quality_partials(pages: DataFrame, batch_id: int,
                      table_dir: str) -> None:
    """The shared telemetry fold: (host, text) pages -> per-(host,
    quality-decile) (count, sum) partials in the replay-safe layout.
    ONE definition for both the gated and ungated crawl writers, so
    the decile bucketing and the decimal pins of the two tables
    read_crawl_quality merges can never desynchronize (r13 review)."""
    from etl_online_retail_spark.operators.curation import quality_expr

    scored = pages.select(
        "host",
        F.least(F.floor(quality_expr("text") * 10), F.lit(9))
         .cast("int").alias("q_decile"),
        quality_expr("text").cast("decimal(18,9)").alias("_v"))
    partial_agg_batch_write(scored, batch_id, table_dir,
                            ["host", "q_decile"], "_v",
                            value_type="decimal(18,9)",
                            sum_type="decimal(38,9)")


def incremental_crawl_quality(stream_df: DataFrame, table_dir: str,
                              checkpoint_dir: str) -> StreamingQuery:
    """Maintain per-(host, quality-decile) crawl telemetry over a
    stream of (archive_id, content) WARC archives. The whole crawl ->
    text -> quality chain runs inside each micro-batch; the stored
    state is the dashboard-sized partial table."""
    return (stream_df.writeStream
            .foreachBatch(lambda df, bid: crawl_quality_batch_write(
                df, bid, table_dir))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_crawl_quality(spark, table_dir: str) -> DataFrame:
    """(host, q_decile, n_pages, quality_sum) merged over every batch
    partial — bit-equal to the batch computation over all archives."""
    return (spark.read.parquet(table_dir)
            .filter(F.col("_batch_id").isin(_effective_partials(table_dir)))
            .groupBy("host", "q_decile")
            .agg(F.sum("_n").alias("n_pages"),
                 F.sum("_sum").cast("decimal(38,9)").alias("quality_sum")))


# ---------------------------------------------------------------------------
# DEDUP-GATED crawl ingest (r13): the continuous-crawl composition the
# r12 telemetry stream assumed away — a real crawler re-fetches pages,
# so ingest must gate each micro-batch against everything the stream
# has already accepted, in TWO stages ordered cheap-to-expensive:
#
#   1. canonical-URL dedup: within-batch keep-first (min archive_id per
#      canonical URL), then an anti-join against the accumulated
#      canonical-URL index — so re-crawled pages are dropped BEFORE the
#      expensive text extraction runs;
#   2. near-duplicate text gate: the surviving (first-seen-URL) pages'
#      main content is probed against the accumulated MinHash band
#      index (the incremental_minhash_dedup machinery, reused verbatim)
#      — pages near-duplicating any EARLIER batch are rejected.
#
# Accepted pages land in an audit table and fold into the same
# per-(host, quality-decile) telemetry partials as the ungated stream.
# Replay-safe like everything here: every probe reads only partitions
# with `_batch_id < batch_id`, and every write rewrites this batch's
# own partitions whole (dynamic partition overwrite), so a crashed
# batch heals on replay seeing exactly the view its first attempt saw.
#
# Scale notes: the URL index is only ever ANTI-JOINED on its single
# string column (column-pruned scan; a production layout hash-buckets
# it on canonical so the probe is co-partitioned — same note as the
# band index); the MinHash probe is |batch| x bucket collisions — the
# batch operator's cost model. Within-batch keep-first shuffles only
# (canonical, archive_id) pairs and joins bodies back batch-side —
# fetched payloads never ride a corpus-sized shuffle (the
# robots_decisions discipline). Near-dup-REJECTED pages still enter
# the band index (their first-seen representative is in it too), so a
# later page similar to a rejected one is rejected as well —
# cluster-transitive gating, the SemDeDup stance.


def crawl_dedup_batch_write(batch_df: DataFrame, batch_id: int,
                            url_index_dir: str, accepted_dir: str,
                            quality_dir: str, mh_index_dir: str,
                            mh_dups_dir: str,
                            max_link_density: float = 0.5,
                            n: int = 2, k: int = 16, bands: int = 4,
                            threshold: float = 0.5,
                            seed: int = 42) -> None:
    import os

    from etl_online_retail_spark.functions.html_text import (
        extract_main_text,
    )
    from etl_online_retail_spark.functions.url import canonical_url
    from etl_online_retail_spark.sources.warc import warc_records

    spark = batch_df.sparkSession
    recs = warc_records(batch_df, id_col="archive_id",
                        content_col="content")
    responses = (recs.filter(F.col("warc_type") == "response")
                 .select("archive_id",
                         F.regexp_extract("target_uri",
                                          r"^https?://([^/?#]+)", 1)
                          .alias("host"),
                         canonical_url(F.col("target_uri"))
                         .alias("canonical"),
                         "body")
                 # feeds a self-join (keep-first below) — checkpoint so
                 # the Python WARC walk + gunzip run ONCE per batch,
                 # not once per join leg (rule 7 / r13 review)
                 .localCheckpoint(eager=True))
    # within-batch keep-first: shuffle (canonical, archive_id) only,
    # then fetch bodies back with a batch-sized equi-join
    firsts = (responses.groupBy("canonical")
              .agg(F.min("archive_id").alias("archive_id")))
    batch_pages = responses.join(firsts, ["canonical", "archive_id"])
    if os.path.isdir(url_index_dir):
        seen = (spark.read.parquet(url_index_dir)
                .filter(F.col("_batch_id") < batch_id)
                .select("canonical"))
        fresh = batch_pages.join(seen, "canonical", "left_anti")
    else:
        fresh = batch_pages
    fresh = fresh.localCheckpoint(eager=True)

    # (1) extend the canonical-URL index with this batch's first-seens
    (fresh.select("canonical").withColumn("_batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch_id").parquet(url_index_dir))

    # (2) extract main content ONCE for the URL-fresh pages only, then
    # probe + extend the band index (writes this batch's hits + rows)
    keyed = fresh.withColumn(
        "_k", F.struct("archive_id", "host", "canonical"))
    docs = (extract_main_text(keyed, "body", "_k",
                              max_link_density=max_link_density)
            .select(F.col("_k")["archive_id"].alias("doc_id"),
                    F.col("_k")["host"].alias("host"),
                    F.col("_k")["canonical"].alias("canonical"),
                    "text")
            .localCheckpoint(eager=True))
    minhash_index_batch_write(docs, batch_id, mh_index_dir, mh_dups_dir,
                              "text", "doc_id", n, k, bands, threshold,
                              seed)
    # explicit schema: an all-empty hits table has a _SUCCESS marker but
    # no parquet footer to infer from (batch 0 always starts that way)
    rejected = (spark.read
                .schema("new_id bigint, corpus_id bigint, "
                        "jaccard double, _batch_id int")
                .parquet(mh_dups_dir)
                .filter(F.col("_batch_id") == batch_id)
                .select(F.col("new_id").alias("doc_id")).distinct())
    accepted = docs.join(rejected, "doc_id", "left_anti")

    # (3) audit table + telemetry partials over ACCEPTED pages only
    (accepted.select("doc_id", "host", "canonical")
     .withColumn("_batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch_id").parquet(accepted_dir))
    _quality_partials(accepted.select("host", "text"), batch_id,
                      quality_dir)


def incremental_crawl_dedup_ingest(stream_df: DataFrame, url_index_dir: str,
                                   accepted_dir: str, quality_dir: str,
                                   mh_index_dir: str, mh_dups_dir: str,
                                   checkpoint_dir: str,
                                   **kwargs) -> StreamingQuery:
    """Maintain dedup-gated crawl ingest over a stream of (archive_id,
    content) WARC archives: canonical-URL dedup, then MinHash near-dup
    gating, both against the stream's own accumulated indexes; accepted
    pages feed the audit table + quality telemetry. Over the complete
    stream: accepted == pages whose canonical URL is first seen (min
    archive_id within the batch, earliest batch across batches) and
    whose text near-duplicates no EARLIER batch's page — which the
    stream-equals-batch test states directly."""
    return (stream_df.writeStream
            .foreachBatch(lambda df, bid: crawl_dedup_batch_write(
                df, bid, url_index_dir, accepted_dir, quality_dir,
                mh_index_dir, mh_dups_dir, **kwargs))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_accepted_pages(spark, accepted_dir: str) -> DataFrame:
    """(doc_id, host, canonical, _batch_id) for every page the gated
    stream accepted, across all batches."""
    return spark.read.parquet(accepted_dir)
