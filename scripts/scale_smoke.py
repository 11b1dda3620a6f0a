"""Scale smoke: run the heavy operators on N-times-duplicated inputs to
check the plans degrade linearly, not quadratically (PERFORMANCE.md).

Key duplication keeps join cardinalities honest: each copy gets a distinct
key offset, so a 10x run is 10x the rows AND 10x the keys - the same shape
a bigger SF would have.

Usage: python scripts/scale_smoke.py [factor] [label-filter]
  label-filter: run only the timed entries whose label contains the
  substring (e.g. `span` for the span-dedup family) — everything else
  is skipped, for fast single-family 2x->10x comparisons.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame, functions as F

from etl_online_retail_spark.catalog import load_table
from etl_online_retail_spark.functions import money
from etl_online_retail_spark.operators.dedup import minhash_near_duplicates
from etl_online_retail_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"


def replicate(df: DataFrame, factor: int, key_cols: dict[str, int]) -> DataFrame:
    """factor copies with per-copy key offsets (key space scales too)."""
    copies = df.crossJoin(
        F.broadcast(df.sparkSession.range(factor).withColumnRenamed("id", "_copy")))
    out = copies
    for col, span in key_cols.items():
        out = out.withColumn(col, F.col(col) + F.col("_copy") * span)
    return out.drop("_copy")


LABEL_FILTER = ""


def timed(label: str, action) -> None:
    # comma-separated filter: run entries matching ANY substring
    if LABEL_FILTER and not any(
            part and part in label for part in LABEL_FILTER.split(",")):
        return
    t0 = time.perf_counter()
    action()
    print(f"{label}: {time.perf_counter() - t0:.1f}s", flush=True)


def main() -> None:
    global LABEL_FILTER
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    if len(sys.argv) > 2:
        LABEL_FILTER = sys.argv[2]
    spark = get_spark("scale-smoke")
    li = replicate(load_table(spark, "lineitem", SF_DIR), factor,
                   {"l_orderkey": 10_000_000, "l_partkey": 10_000_000,
                    "l_suppkey": 10_000_000})
    o = replicate(load_table(spark, "orders", SF_DIR), factor,
                  {"o_orderkey": 10_000_000, "o_custkey": 10_000_000})
    c = replicate(load_table(spark, "customer", SF_DIR), factor,
                  {"c_custkey": 10_000_000})
    n = load_table(spark, "nation", SF_DIR)
    docs = replicate(load_table(spark, "documents", SF_DIR), factor,
                     {"doc_id": 10_000_000})

    print(f"factor={factor}: lineitem={li.count():,} docs={docs.count():,}",
          flush=True)

    def star():
        (li.join(o, li.l_orderkey == o.o_orderkey)
           .join(c, o.o_custkey == c.c_custkey)
           .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .groupBy("n_name")
           .agg(money.sum_money(money.net_revenue(), "revenue"))
           .write.format("noop").mode("overwrite").save())

    def agg():
        (li.groupBy(F.year("l_shipdate"), F.month("l_shipdate"))
           .agg(money.sum_money(money.net_revenue(), "revenue"))
           .write.format("noop").mode("overwrite").save())

    def minhash():
        (minhash_near_duplicates(docs)
         .write.format("noop").mode("overwrite").save())

    timed(f"star join @ {factor}x", star)
    timed(f"grouped agg @ {factor}x", agg)
    timed(f"minhash near-dups @ {factor}x", minhash)

    # Jaccard skew cap: replicated docs multiply every shingle's document
    # frequency by `factor`, exactly the stop-shingle blow-up the cap
    # exists for. Above 20k docs the auto cap engages (operators/dedup.py)
    # and the self-join stays linear-ish; the uncapped form would be
    # ~factor^2 on the replicated shingles.
    def jaccard_capped():
        from etl_online_retail_spark.operators.dedup import jaccard_pairs

        (jaccard_pairs(docs)  # max_shingle_df="auto"
         .write.format("noop").mode("overwrite").save())

    timed(f"jaccard (auto cap) @ {factor}x", jaccard_capped)

    # round-2 operators: all single-window or explode+agg shapes that must
    # stay linear-ish. SCD2 windows partition by user (key space scales
    # with the copies); packing windows partition by source; BM25/LM are
    # explode + two hash aggs; quantization is pure per-row.
    ev = replicate(load_table(spark, "events", SF_DIR), factor,
                   {"user_id": 10_000_000, "event_id": 10_000_000})

    def scd2():
        from etl_online_retail_spark.operators.scd import scd2_from_changelog

        (scd2_from_changelog(ev, "user_id", ["event_type"], "ts", "event_id")
         .write.format("noop").mode("overwrite").save())

    def packing():
        from etl_online_retail_spark.functions.text import token_count
        from etl_online_retail_spark.operators.packing import pack_sequences

        (pack_sequences(docs.select("source", "doc_id",
                                    token_count("text").alias("_tok")),
                        budget=512, tokens_col="_tok")
         .write.format("noop").mode("overwrite").save())

    def bm25():
        from etl_online_retail_spark.operators.relevance import bm25_scores

        (bm25_scores(docs, ("hash", "join", "vector"))
         .write.format("noop").mode("overwrite").save())

    timed(f"scd2 changelog collapse @ {factor}x", scd2)
    timed(f"sequence packing @ {factor}x", packing)
    timed(f"bm25 scoring @ {factor}x", bm25)

    def bigram():
        from etl_online_retail_spark.operators.relevance import bigram_logprob

        (bigram_logprob(docs)
         .write.format("noop").mode("overwrite").save())

    # fuzzy's factor is capped: per-block quadratic growth is the measured,
    # documented property (10x ran 325 s once; ~factor^2 of the 3.5 s base).
    # Real corpora bound block size or add a second blocking key.
    fuzzy_factor = min(factor, 3)

    def fuzzy():
        from pyspark.sql import functions as F2

        p = replicate(load_table(spark, "part", SF_DIR), fuzzy_factor,
                      {"p_partkey": 10_000_000})
        a = p.select(F2.col("p_partkey").alias("ka"),
                     F2.col("p_name").alias("na"),
                     F2.col("p_brand").alias("blk"))
        b = p.select(F2.col("p_partkey").alias("kb"),
                     F2.col("p_name").alias("nb"),
                     F2.col("p_brand").alias("blk"))
        d = F2.levenshtein(F2.col("na"), F2.col("nb"), 2)
        (a.join(b, "blk")
         .filter((F2.col("ka") < F2.col("kb"))
                 & (F2.abs(F2.length("na") - F2.length("nb")) <= 2)
                 & (d >= 0))
         .write.format("noop").mode("overwrite").save())

    def fuzzy_contracted():
        from etl_online_retail_spark.operators.linkage import (
            contracted_fuzzy_pairs,
        )

        # full factor, no cap: replication multiplies ROWS but not distinct
        # names, so the candidate stage is constant-cost and the total
        # scales with the (output-bound) expansion — the sub-quadratic
        # envelope the naive blocked join lacks
        p = replicate(load_table(spark, "part", SF_DIR), factor,
                      {"p_partkey": 10_000_000})
        (contracted_fuzzy_pairs(p, "p_partkey", "p_name", "p_brand")
         .write.format("noop").mode("overwrite").save())

    def fuzzy_qgram():
        from etl_online_retail_spark.operators.linkage import (
            qgram_fuzzy_pairs,
        )

        # capped like the naive join: replication multiplies COPIES of
        # each (brand, name), and the qgram candidate join is per-copy —
        # copy multiplicity is its documented quadratic term (the
        # position filter prunes pairs, not copies; see the linkage.py
        # docstring measurement). contracted(strategy="qgram") below is
        # the uncapped scale path.
        p = replicate(load_table(spark, "part", SF_DIR), fuzzy_factor,
                      {"p_partkey": 10_000_000})
        (qgram_fuzzy_pairs(p, "p_partkey", "p_name", "p_brand")
         .write.format("noop").mode("overwrite").save())

    timed(f"bigram LM @ {factor}x", bigram)
    timed(f"blocked fuzzy (per-block quadratic) @ {fuzzy_factor}x", fuzzy)
    timed(f"qgram fuzzy (prefix-filtered exact) @ {fuzzy_factor}x",
          fuzzy_qgram)
    timed(f"contracted fuzzy (cardinality-bound) @ {factor}x",
          fuzzy_contracted)

    # Embedding-LSH plane scaling: candidate pairs = sum over buckets of
    # C(n,2). Computed from the bucket histogram (O(N)), so the quadratic
    # candidate set is never materialized. auto_n_planes grows the plane
    # count with N, holding bucket sizes ~constant.
    emb = replicate(load_table(spark, "embeddings", SF_DIR), factor,
                    {"vec_id": 10_000_000})
    from etl_online_retail_spark.operators.similarity import (
        auto_n_planes,
        with_lsh_bucket,
    )

    # gate follows the filter-is-substring-of-LABEL rule like timed(),
    # checked against the full printed label prefixes (the trailing
    # plane/vector counts need n_vec, which only exists if we run)
    _lsh_labels = [f"lsh candidates @ {factor}x [pinned-4",
                   f"lsh candidates @ {factor}x [auto"]
    run_lsh = (not LABEL_FILTER
               or any(LABEL_FILTER in lbl for lbl in _lsh_labels))
    n_vec = emb.count() if run_lsh else 0
    for label, planes in ((("pinned-4", 4), ("auto", auto_n_planes(n_vec)))
                          if n_vec else ()):
        sizes = with_lsh_bucket(emb, planes, 64).groupBy("bucket").count()
        cands = sizes.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)
                          .alias("pairs")).collect()[0].pairs
        print(f"lsh candidates @ {factor}x [{label}: {planes} planes, "
              f"{n_vec:,} vectors]: {int(cands):,} pairs", flush=True)

    # round-3 streaming operators: the reorder-buffer SCD2 (state is
    # watermark-bounded per user; cost must scale with rows, not explode
    # with state) and the incremental-agg writer under MANY micro-batches
    # with auto-compaction (read-side merge input stays O(keys), bounded
    # by max_partials, however many batches have landed).
    import shutil
    import tempfile

    def scd2_stream_reorder():
        import datetime
        import os

        from etl_online_retail_spark.catalog import SCHEMAS
        from etl_online_retail_spark.streaming.stateful import (
            scd2_stream_reordered,
        )

        work = tempfile.mkdtemp(prefix="scale_scd2_")
        try:
            sdir = os.path.join(work, "shards")
            os.makedirs(sdir)
            mx = ev.agg(F.max("ts")).collect()[0][0]
            # 8 content-hash shards (arrival order != event time), each
            # factor-times bigger — scale = bigger micro-batches
            for b in range(8):
                (ev.filter(F.crc32(F.col("event_id").cast("string")) % 8 == b)
                 .write.parquet(os.path.join(sdir, f"s{b}")))
            sentinels = [
                (10_000_000 * factor + i,
                 mx + datetime.timedelta(days=days), -1, "sentinel", 0.0,
                 "{}")
                for i, days in enumerate((370, 740))]
            for i, row in enumerate(sentinels):
                (spark.createDataFrame([row], schema=SCHEMAS["events"])
                 .write.parquet(os.path.join(sdir, f"z_sentinel{i}")))
            stream = (spark.readStream.schema(SCHEMAS["events"])
                      .option("maxFilesPerTrigger", 4)
                      .parquet(os.path.join(sdir, "*"))
                      .withColumn("ts", F.col("ts").cast("timestamp")))
            (scd2_stream_reordered(stream, delay="365 days")
             .writeStream.format("noop")
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .outputMode("append")
             .trigger(availableNow=True)
             .start().awaitTermination())
        finally:
            shutil.rmtree(work, ignore_errors=True)

    def incremental_agg_compaction():
        from etl_online_retail_spark.streaming.ingest import (
            _list_partials,
            autocompact_incremental_agg,
            partial_agg_batch_write,
            read_incremental_agg,
        )

        work = tempfile.mkdtemp(prefix="scale_inc_agg_")
        try:
            t = os.path.join(work, "agg")
            n_batches, max_partials = 24, 8
            for b in range(n_batches):
                partial_agg_batch_write(
                    ev.filter(F.col("event_id") % n_batches == b), b, t,
                    ["event_type"], "value")
                if len([p for p in _list_partials(t) if p >= 0]) \
                        >= max_partials:
                    autocompact_incremental_agg(spark, t, ["event_type"])
            live = len(_list_partials(t))
            read_incremental_agg(spark, t, ["event_type"]).collect()
            print(f"  partials on disk after {n_batches} micro-batches: "
                  f"{live} (bound ~{max_partials})", flush=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    import os

    timed(f"scd2 reorder-buffer stream @ {factor}x", scd2_stream_reorder)
    timed(f"incremental agg + autocompact (24 micro-batches) @ {factor}x",
          incremental_agg_compaction)

    def matview_batch_append():
        """The serving-layer maintenance claim, measured: appending one
        FIXED-size batch onto an accumulated summary table must cost the
        same whatever the table already holds (work ∝ batch, never the
        fact) — at 100 TB this is the difference between a daily refresh
        and a daily rebuild. Seeds the join-free day/flag views with the
        factor-x fact as batch 0 (untimed here; it is the one full pass
        a rebuild would pay EVERY load), then times a 1x-fixture batch
        append; compare the printed figure across factors."""
        from etl_online_retail_spark.operators import matview

        work = tempfile.mkdtemp(prefix="scale_mv_append_")
        views = ["ship_day_rollup", "flag_day_rollup"]
        try:
            t0 = time.perf_counter()
            matview.append_batch(spark, SF_DIR, li, 0, names=views,
                                 storage_dir=work, max_partials=None)
            seed = time.perf_counter() - t0
            batch = load_table(spark, "lineitem", SF_DIR)  # fixed 1x
            t0 = time.perf_counter()
            matview.append_batch(spark, SF_DIR, batch, 1, names=views,
                                 storage_dir=work, max_partials=None)
            dt = time.perf_counter() - t0
            # the CDC claim, same shape: retracting a FIXED-size
            # cancellation wave (delete images, weight -1 partials)
            # must also cost ~the batch, never the accumulated fact
            t0 = time.perf_counter()
            matview.apply_cdc_batch(
                spark, SF_DIR, 2, deletes=batch, names=views,
                storage_dir=work, max_partials=None)
            dt_cdc = time.perf_counter() - t0
            print(f"  seed ({factor}x fact -> 2 views): {seed:.1f}s; "
                  f"fixed 1x-batch append onto it: {dt:.1f}s; "
                  f"fixed 1x-batch CDC retraction: {dt_cdc:.1f}s",
                  flush=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    timed(f"matview fixed-batch append onto {factor}x table",
          matview_batch_append)

    def star_join_ivm_batch():
        """The retractable join-IVM claim, measured (r11): a FIXED 1x
        mixed CDC batch maintained against a factor-x accumulated JOIN
        history must cost ~the batch — ivm.cdc_join_delta semi-join-
        prunes BOTH history legs to the delta's orderkeys before
        probing, so the factor-x history contributes a key-pruned scan,
        never a full-history shuffle. The batch exercises both legs:
        lineitem inserts+deletes probe the factor-x orders, and an
        orders-side retraction probes the factor-x lineitem history.
        Compare the printed figure across factors."""
        from etl_online_retail_spark.operators import matview

        work = tempfile.mkdtemp(prefix="scale_star_ivm_")
        try:
            li1 = load_table(spark, "lineitem", SF_DIR)
            o1 = load_table(spark, "orders", SF_DIR)
            # copy-0 of the replicated history IS the original table, so
            # these are legal delete images / enrichable inserts
            ins = li1.filter(F.col("l_orderkey") % 5 == 0)
            dels = li1.filter(F.col("l_orderkey") % 5 == 1)
            o_dels = o1.filter(F.col("o_orderkey") % 7 == 3)
            t0 = time.perf_counter()
            matview.apply_star_cdc_join(
                spark, SF_DIR, 0, li, o,
                li_ins=ins, li_del=dels, o_del=o_dels,
                storage_dir=work, max_partials=None)
            dt = time.perf_counter() - t0
            print(f"  fixed 1x two-sided CDC batch against {factor}x "
                  f"join history: {dt:.1f}s", flush=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    timed(f"star join-IVM fixed batch vs {factor}x history",
          star_join_ivm_batch)

    # round-4 operators: deterministic sampling (pure filter / top-k /
    # one window pass) and the Bloom-pruned join (bit-array broadcast +
    # exact residual semi-join) — all shapes that must stay linear-ish.
    from etl_online_retail_spark.operators import sampling, sketches

    def stratified():
        (sampling.stratified_sample(docs, "lang", "doc_id",
                                    {"en": 0.3}, 0.1)
         .write.format("noop").mode("overwrite").save())

    def strat_topk():
        (sampling.stratified_topk_sample(docs, "lang", "doc_id", 1000)
         .write.format("noop").mode("overwrite").save())

    def bloom_join():
        cust = (c.filter(F.col("c_mktsegment") == "AUTOMOBILE")
                .select("c_custkey"))
        words = sketches.bloom_build(
            cust, "c_custkey", sketches.bloom_sizing(cust.count()))
        pruned = o.filter(
            sketches.bloom_might_contain(F.col("o_custkey"), words))
        (pruned.join(cust, pruned.o_custkey == cust.c_custkey, "left_semi")
         .groupBy("o_orderpriority").count()
         .write.format("noop").mode("overwrite").save())

    def cms():
        from etl_online_retail_spark.functions.text import normalize, tokens

        terms = (docs.select(
            F.explode(tokens(normalize("text"))).alias("term"))
            .filter(F.col("term") != ""))
        sk = sketches.cms_sketch(terms)
        probe = terms.select("term").distinct()
        (sketches.cms_estimate(probe, sk)
         .write.format("noop").mode("overwrite").save())

    timed(f"stratified hash sample @ {factor}x", stratified)
    timed(f"stratified top-k sample (window) @ {factor}x", strat_topk)
    timed(f"bloom-pruned semi-join @ {factor}x", bloom_join)
    timed(f"count-min build+probe @ {factor}x", cms)

    # KMV sketch + pair algebra: the corpus pass is distinct + count-gated
    # band filter + per-group rank (the gate engages here — replicated
    # shingle sets exceed KMV_PREFILTER_MIN); the pair stage is sketch-only
    # (groups x k rows) so its cost must NOT grow with the factor.
    def kmv():
        from etl_online_retail_spark.functions.text import (
            word_shingle_hashes,
        )

        rel = docs.select(
            "source", F.explode(word_shingle_hashes("text", 2)).alias("h0"))
        sk = sketches.kmv_sketch(rel, "source", "h0").cache()
        sk.count()
        (sketches.kmv_pair_overlap(sk, "source")
         .write.format("noop").mode("overwrite").save())
        sk.unpersist()

    # distributed prefix-sum: two-phase scan must stay linear (per-shard
    # window sorts 1/n_shards of a source; totals/offsets relation tiny)
    def token_mix():
        from etl_online_retail_spark.functions.text import token_count

        base = docs.select(
            "doc_id", "source",
            token_count("text").cast("bigint").alias("n_tokens"))
        (sampling.token_budget_mix(base, "source", "doc_id", "n_tokens",
                                   {}, 100_000, n_shards=32)
         .write.format("noop").mode("overwrite").save())

    timed(f"kmv sketch + pair overlap @ {factor}x", kmv)
    timed(f"token-budget mix (two-phase scan) @ {factor}x", token_mix)

    # hashed linear classifier: explode + literal-array lookup + one hash
    # agg — must stay linear
    def classifier():
        from etl_online_retail_spark.operators.relevance import (
            hashed_linear_score,
        )

        (hashed_linear_score(docs)
         .write.format("noop").mode("overwrite").save())

    # MAD outlier gate: two grouped exact medians + broadcast join-backs
    def mad():
        from etl_online_retail_spark.operators.aggregates import mad_outliers

        vals = o.select(
            "o_orderpriority",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint").alias("v"))
        (mad_outliers(vals, "o_orderpriority", "v")
         .write.format("noop").mode("overwrite").save())

    # z-order layout write: one range-shuffle + local sort, linear
    def zorder():
        import shutil
        import tempfile

        from etl_online_retail_spark.operators.layout import zorder_write

        d = tempfile.mkdtemp(prefix="zorder_smoke_")
        try:
            src = o.select(
                "o_orderkey",
                F.pmod(F.col("o_custkey"), F.lit(65_536)).alias("a"),
                F.pmod(F.datediff(F.to_date("o_orderdate"),
                                  F.lit("1992-01-01")),
                       F.lit(65_536)).alias("b"))
            zorder_write(src, "a", "b", d, n_files=32)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    timed(f"hashed linear classifier @ {factor}x", classifier)
    timed(f"mad outlier gate @ {factor}x", mad)
    timed(f"zorder layout write @ {factor}x", zorder)

    # survivorship golden records: one groupBy + per-mode counting pass
    def golden():
        from etl_online_retail_spark.operators.linkage import golden_records

        (golden_records(
            ev, "user_id",
            {"last_event_type": ("latest", "event_type", "ts", "event_id"),
             "modal_event_type": ("mode", "event_type"),
             "n_events": ("count",), "last_ts": ("max", "ts")})
         .write.format("noop").mode("overwrite").save())

    # systematic weighted sampling: the two-phase scan + a pure filter
    def weighted():
        from etl_online_retail_spark.functions.text import token_count

        base = docs.select(
            "doc_id", token_count("text").cast("bigint").alias("w"))
        (sampling.systematic_weighted_sample(base, "doc_id", "w", 500)
         .write.format("noop").mode("overwrite").save())

    # perceptual dHash: the real Python codec path (encode+decode per
    # image inside Arrow batches) — cost is CPU-bound and must scale
    # with cores, linear in images
    def dhash():
        from etl_online_retail_spark.multimodal.binary import (
            image_dhash,
            synthetic_pattern_media,
        )

        (image_dhash(synthetic_pattern_media(docs.select("doc_id")))
         .groupBy("dhash_hi", "dhash_lo").count()
         .write.format("noop").mode("overwrite").save())

    timed(f"survivorship golden records @ {factor}x", golden)
    timed(f"weighted systematic sample @ {factor}x", weighted)
    timed(f"image dhash (real codec) @ {factor}x", dhash)

    # round-4 operators. Replication scales the KEY spaces (users, docs,
    # parts), so per-key state (gapfill spine rows per user, streak
    # islands, BFS frontier per seed) multiplies the way a bigger corpus
    # would — the dimension that must stay linear.

    # gap-fill: output = keys x buckets; one keyed window; spine explode
    def gapfill():
        from etl_online_retail_spark.operators.timeseries import gapfill_locf

        (gapfill_locf(ev, "user_id", "ts", "value", tiebreak_col="event_id")
         .write.format("noop").mode("overwrite").save())

    # streaks: distinct (key, day) -> one window -> two aggs
    def streaks():
        from etl_online_retail_spark.operators.timeseries import (
            activity_streaks,
        )

        (activity_streaks(ev, "user_id", "ts")
         .write.format("noop").mode("overwrite").save())

    # boilerplate removal: replicated docs multiply every segment's df by
    # the factor (all cross-copy repeats), so the frequent-segment relation
    # grows toward the FULL segment vocabulary — the worst case for the
    # broadcast join-back; cost must still stay ~linear (explode + 2 aggs)
    def boilerplate():
        from etl_online_retail_spark.operators.dedup import (
            remove_repeated_segments,
        )

        (remove_repeated_segments(docs, width=10, min_df=3)
         .write.format("noop").mode("overwrite").save())

    # k-hop BFS: edge build (support-thresholded pair agg) + bounded
    # frontier expansions; frontier joins shuffle frontier-incident edges
    # only. Seeds scale with the part-key space. The bound is set to 0
    # for the call, so the distributed hop loop runs at every factor
    # instead of the in-memory venue below the bound.
    def bfs():
        from etl_online_retail_spark.operators import graph

        p_rep = replicate(load_table(spark, "part", SF_DIR), factor,
                          {"p_partkey": 10_000_000})
        edges = graph.copurchase_edges(li, min_orders=2)
        seeds = (p_rep.filter(F.pmod(F.col("p_partkey"), F.lit(499)) == 0)
                 .select(F.col("p_partkey").alias("node")))
        bound = graph.KHOP_DRIVER_ROWS
        graph.KHOP_DRIVER_ROWS = 0
        try:
            graph.khop_distances(edges, seeds, max_hops=4) \
                .write.format("noop").mode("overwrite").save()
        finally:
            graph.KHOP_DRIVER_ROWS = bound

    # PQ: driver-side codebook train on the BOUNDED sample (constant),
    # distributed encode (one numpy argmin pass per Arrow batch) + ADC
    # scan — both linear in corpus rows
    def pq():
        from etl_online_retail_spark.operators.similarity import (
            pq_encode,
            pq_topk_refined,
            train_pq_codebooks,
        )

        books = train_pq_codebooks(emb, m_subspaces=16, n_codes=16)
        codes = pq_encode(emb, books).cache()
        codes.count()
        queries = emb.filter(F.pmod(F.col("vec_id"), F.lit(5000)) == 0)
        (pq_topk_refined(codes, emb, queries, books, k=5, refine=10)
         .write.format("noop").mode("overwrite").save())
        codes.unpersist()

    timed(f"gapfill locf @ {factor}x", gapfill)
    timed(f"activity streaks @ {factor}x", streaks)
    timed(f"boilerplate removal @ {factor}x", boilerplate)
    timed(f"k-hop BFS (edge build + 4 hops) @ {factor}x", bfs)
    timed(f"pq encode + refined search @ {factor}x", pq)

    # session-3 operators: single-scan / histogram / keyed-window shapes
    # that must stay linear; profile + suggestions share the one scan.
    def profile_suggest():
        from etl_online_retail_spark.operators.profile import (
            profile_table,
            suggest_constraints,
        )

        (suggest_constraints(profile_table(o))
         .write.format("noop").mode("overwrite").save())

    def skew():
        from etl_online_retail_spark.operators.profile import key_skew_stats

        (key_skew_stats(ev, "user_id")
         .write.format("noop").mode("overwrite").save())

    def intradoc():
        from etl_online_retail_spark.operators.dedup import dedup_within_doc

        (dedup_within_doc(docs, width=10)
         .write.format("noop").mode("overwrite").save())

    def overlap():
        from etl_online_retail_spark.operators.joins import (
            interval_overlap_join,
        )
        from etl_online_retail_spark.operators.scd import scd2_from_changelog
        from etl_online_retail_spark.operators.sessionize import session_stats

        ver = (scd2_from_changelog(ev, "user_id", ["event_type"], "ts",
                                   "event_id")
               .select("user_id", "version", "effective_from",
                       "effective_to"))
        sess = (session_stats(ev)
                .select("user_id", "session_seq", "session_start",
                        "session_end"))
        (interval_overlap_join(ver, sess, "user_id", "effective_from",
                               "effective_to", "session_start",
                               "session_end")
         .write.format("noop").mode("overwrite").save())

    def ewma():
        from etl_online_retail_spark.operators.timeseries import ewma_last

        (ewma_last(ev, "user_id", "ts", "event_id", "value")
         .write.format("noop").mode("overwrite").save())

    timed(f"profile + constraint suggestion @ {factor}x", profile_suggest)
    timed(f"key skew stats @ {factor}x", skew)
    timed(f"intra-doc dedup @ {factor}x", intradoc)
    timed(f"interval overlap join @ {factor}x", overlap)
    timed(f"ewma fold @ {factor}x", ewma)

    # session-4 operators. Replicated docs multiply every window's corpus
    # frequency (all cross-copy repeats -> EVERY window becomes
    # duplicated), so span dedup's join-back hits 100% of occurrences —
    # the worst case; must stay ~linear (explode + agg + keyed window).
    def span_dedup():
        from etl_online_retail_spark.operators.spans import duplicate_spans

        (duplicate_spans(docs, width=5, min_count=2)
         .write.format("noop").mode("overwrite").save())

    # inverted index: explode + two hash aggs + per-term ranking window;
    # replication multiplies df/cf but not the term vocabulary, so the
    # posting-truncated output is ~constant while the scan scales
    def inv_index():
        from etl_online_retail_spark.operators.relevance import (
            inverted_index,
        )

        (inverted_index(docs, min_df=2, max_postings=10)
         .write.format("noop").mode("overwrite").save())

    # k-anonymity: one QI hash agg + a group-sized semi-join
    def kanon():
        from etl_online_retail_spark.operators.privacy import k_anonymize

        banded = c.withColumn(
            "band", F.floor(F.col("c_acctbal").cast("double") / 1000.0))
        (k_anonymize(banded, ["c_nationkey", "c_mktsegment", "band"], k=5)
         .groupBy("c_mktsegment").count()
         .write.format("noop").mode("overwrite").save())

    # triangles: wedge join + closure join on the support-thresholded
    # edges; replication multiplies components (disjoint key spaces), so
    # wedge work scales with copies, not copies^2
    def triangles():
        from etl_online_retail_spark.operators.graph import (
            copurchase_edges,
            triangle_counts,
        )

        (triangle_counts(copurchase_edges(li, min_orders=2))
         .write.format("noop").mode("overwrite").save())

    # attribution: the sessionize shape — one shuffle on user, two carried
    # window values sharing the exchange
    def attribution():
        from etl_online_retail_spark.operators.sessionize import (
            last_touch_attribution,
        )

        (last_touch_attribution(ev)
         .groupBy("attributed_type").count()
         .write.format("noop").mode("overwrite").save())

    timed(f"duplicate spans (all-dup worst case) @ {factor}x", span_dedup)
    timed(f"inverted index @ {factor}x", inv_index)
    timed(f"k-anonymity release @ {factor}x", kanon)
    timed(f"triangle counts @ {factor}x", triangles)
    timed(f"last-touch attribution @ {factor}x", attribution)

    # association PMI: the co-purchase pair agg + two keyed join-backs
    def pmi():
        from etl_online_retail_spark.operators.graph import copurchase_pmi

        (copurchase_pmi(li, min_orders=2)
         .write.format("noop").mode("overwrite").save())

    # rolling z-score: one keyed window (3 frame aggs share the
    # exchange) + a pure filter
    def zscore():
        from etl_online_retail_spark.operators.timeseries import (
            rolling_zscore_anomalies,
        )

        (rolling_zscore_anomalies(ev, "user_id", "ts", "event_id", "value")
         .write.format("noop").mode("overwrite").save())

    timed(f"co-purchase PMI @ {factor}x", pmi)
    timed(f"rolling z-score anomalies @ {factor}x", zscore)

    # PSI drift: two hash aggs + a groups x buckets contribution relation
    def psi():
        from etl_online_retail_spark.functions.text import token_count
        from etl_online_retail_spark.operators.profile import psi_by_group

        bkt = F.least(F.floor(token_count("text").cast("double") / 20),
                      F.lit(9)).cast("bigint")
        (psi_by_group(docs.select("source", bkt.alias("bkt")),
                      "source", "bkt")
         .write.format("noop").mode("overwrite").save())

    # contrastive negatives: bucket equi-join, ~N/n_buckets candidates
    # per (anchor, round). Fixed buckets are quadratic under replication
    # (anchors AND per-bucket candidates both grow); auto_n_buckets holds
    # the bucket population ~constant — measured 16.4 s at 10x fixed-16
    # vs 2.9 s auto (48 buckets)
    def negatives():
        from etl_online_retail_spark.operators.curation import (
            auto_n_buckets,
            contrastive_negatives,
        )

        anchors = docs.filter(F.col("doc_id") % 50 == 0)
        (contrastive_negatives(docs, anchors, k=3,
                               n_buckets=auto_n_buckets(docs.count()))
         .write.format("noop").mode("overwrite").save())

    timed(f"psi drift by source @ {factor}x", psi)
    timed(f"contrastive negatives (auto buckets) @ {factor}x", negatives)

    # PCA: sample-bounded driver solve (constant) + one GEMM per batch
    def pca():
        from etl_online_retail_spark.operators.similarity import (
            pca_project,
            train_pca,
        )

        mean, comp = train_pca(emb, k=16)
        (pca_project(emb, mean, comp)
         .write.format("noop").mode("overwrite").save())

    timed(f"pca train+project @ {factor}x", pca)

    # Holt fold: one collect_list + array fold per key (the EWMA shape)
    def holt():
        from etl_online_retail_spark.operators.timeseries import holt_last

        (holt_last(ev, "user_id", "ts", "event_id", "value")
         .write.format("noop").mode("overwrite").save())

    # association rules: the PMI plan + an output-bound directed expand
    def rules():
        from etl_online_retail_spark.operators.graph import copurchase_rules

        (copurchase_rules(li, min_orders=2, min_confidence=0.08)
         .write.format("noop").mode("overwrite").save())

    # linear attribution: window-binned touches x conversions range join
    def linear_attr():
        from etl_online_retail_spark.operators.sessionize import (
            linear_attribution_credit,
        )

        (linear_attribution_credit(ev)
         .write.format("noop").mode("overwrite").save())

    # span excision: the span plan + a doc_id-keyed anti-join + regroup
    def excision():
        from etl_online_retail_spark.operators.spans import excise_spans

        (excise_spans(docs)
         .write.format("noop").mode("overwrite").save())

    timed(f"holt fold @ {factor}x", holt)
    timed(f"association rules @ {factor}x", rules)
    timed(f"linear attribution @ {factor}x", linear_attr)
    timed(f"span excision @ {factor}x", excision)

    # round-5 wave: temperature mixing (one hash agg + broadcast rates +
    # pure filter), length-bucketed batching (~60-bucket windows), the
    # erasure cascade (broadcast + conditional aggs), and the Q19
    # disjunctive-pushdown join (per-side implications prune both scans)
    def temp_mix():
        from etl_online_retail_spark.operators.sampling import (
            temperature_mix,
        )

        (temperature_mix(docs.select("doc_id", "source"), "source",
                         "doc_id", 2000)
         .groupBy("source").count()
         .write.format("noop").mode("overwrite").save())

    def bucketed_batches():
        from etl_online_retail_spark.functions.text import token_count
        from etl_online_retail_spark.operators.packing import (
            length_bucket_batches,
        )

        (length_bucket_batches(
            docs.select("doc_id", token_count("text").alias("_tok")),
            "doc_id", F.col("_tok"), 8)
         .write.format("noop").mode("overwrite").save())

    def erasure():
        from etl_online_retail_spark.operators.privacy import erasure_scope

        subjects = (c.filter(F.col("c_custkey") % 97 == 0)
                    .select(F.col("c_custkey").alias("subject_key")))
        (erasure_scope({"customer": c, "orders": o},
                       {"customer": "c_custkey", "orders": "o_custkey"},
                       subjects)
         .write.format("noop").mode("overwrite").save())

    def q19():
        rev = (F.col("l_extendedprice").cast("decimal(18,2)")
               * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
        p = replicate(load_table(spark, "part", SF_DIR), factor,
                      {"p_partkey": 10_000_000})
        arm = ((F.col("p_brand") == "Brand#12")
               & F.col("p_size").between(1, 10)
               & F.col("l_quantity").between(1, 11))
        (li.join(p, li.l_partkey == p.p_partkey).filter(arm)
         .agg(F.sum(rev).cast("double"))
         .write.format("noop").mode("overwrite").save())

    # TPC-H completion-wave heavies: Q21's semi+anti composite over the
    # cached late relation, Q17's per-part average join-back, Q9's
    # 5-way star with a two-term measure
    def q21():
        lo = li.join(o, li.l_orderkey == o.o_orderkey)
        late = (lo.filter(F.col("l_shipdate")
                          > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
                .select("l_orderkey", "l_suppkey").cache())
        others = li.select(F.col("l_orderkey").alias("_ok"),
                           F.col("l_suppkey").alias("_sk"))
        other_late = late.select(F.col("l_orderkey").alias("_ok"),
                                 F.col("l_suppkey").alias("_sk"))
        (late.join(others, (late.l_orderkey == others["_ok"])
                   & (late.l_suppkey != others["_sk"]), "left_semi")
         .join(other_late, (late.l_orderkey == other_late["_ok"])
               & (late.l_suppkey != other_late["_sk"]), "left_anti")
         .groupBy("l_suppkey").count()
         .write.format("noop").mode("overwrite").save())
        late.unpersist()

    def q17():
        pavg = (li.groupBy(F.col("l_partkey").alias("_pk"))
                .agg((F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                      .cast("double") / F.count(F.lit(1))).alias("avg_q")))
        (li.join(pavg, li.l_partkey == F.col("_pk"))
         .filter(F.col("l_quantity") < 0.2 * F.col("avg_q"))
         .agg(F.count(F.lit(1)))
         .write.format("noop").mode("overwrite").save())

    def q9():
        rev = (F.col("l_extendedprice").cast("decimal(18,2)")
               * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
        p = replicate(load_table(spark, "part", SF_DIR), factor,
                      {"p_partkey": 10_000_000})
        sup = replicate(load_table(spark, "supplier", SF_DIR), factor,
                        {"s_suppkey": 10_000_000})
        cost = (F.col("p_retailprice").cast("decimal(18,2)")
                * F.col("l_quantity").cast("decimal(18,2)")
                * F.lit(0.5).cast("decimal(8,2)")).cast("decimal(28,4)")
        (li.join(o, li.l_orderkey == o.o_orderkey)
         .join(p, li.l_partkey == p.p_partkey)
         .join(sup, li.l_suppkey == sup.s_suppkey)
         .groupBy("s_nationkey", F.year("o_orderdate"))
         .agg(F.sum(rev.cast("decimal(28,4)") - cost).cast("double"))
         .write.format("noop").mode("overwrite").save())

    timed(f"temperature mix @ {factor}x", temp_mix)
    timed(f"length-bucketed batches @ {factor}x", bucketed_batches)
    timed(f"erasure scope @ {factor}x", erasure)
    timed(f"q19 disjunctive join @ {factor}x", q19)
    timed(f"q21 semi+anti composite @ {factor}x", q21)
    timed(f"q17 per-part avg join-back @ {factor}x", q17)
    timed(f"q9 five-way profit rollup @ {factor}x", q9)

    # round-6: the verdict's five shuffle-heaviest families at 30x/100x.
    # Replicated DOCS and EMBEDDINGS need per-copy mutation that actually
    # SEPARATES the copies: identical (or merely tail-tagged) copies all
    # land in the same minhash bands / LSH buckets, so the near-dup
    # OUTPUT grows quadratically in the factor — that measures output
    # explosion, not plan scaling. The mutations below are bijections of
    # each copy's content, so WITHIN-copy pair structure is exactly the
    # base corpus's (pair count = factor x base) while CROSS-copy
    # similarity collapses to noise:
    #   docs: every word gets a per-copy suffix (regexp group rewrite) —
    #     word-shingle sets of different copies are disjoint, in-copy
    #     Jaccard is unchanged (suffixing is injective per word).
    #   embeddings: per-copy cyclic rotation of the 64 dims (+ reversal
    #     past 64 copies) — norms and in-copy dot products are exactly
    #     preserved, cross-copy cosines are ~N(0, 1/64), far below the
    #     0.95 threshold.
    copy_ix = F.floor(F.col("doc_id") / F.lit(10_000_000))
    docs_mut = docs.withColumn(
        "text", F.regexp_replace(
            F.col("text"), F.lit(r"(\w+)"),
            F.concat(F.lit(r"$1x"), copy_ix.cast("string"))))
    rot = F.pmod(F.floor(F.col("vec_id") / F.lit(10_000_000)),
                 F.lit(64)).cast("int")
    flip = F.pmod(F.floor(F.col("vec_id") / F.lit(640_000_000)),
                  F.lit(2)).cast("int")
    rotated = F.concat(F.slice(F.col("embedding"), rot + 1, F.lit(64) - rot),
                       F.slice(F.col("embedding"), F.lit(1), rot))
    emb_mut = emb.withColumn(
        "embedding", F.when(flip == 1, F.reverse(rotated)).otherwise(rotated))

    def tfidf_pairs():
        from etl_online_retail_spark.operators.relevance import (
            tfidf_pair_cosine,
        )

        pairs = (docs_mut.select(F.col("doc_id").alias("id_a"))
                 .filter(F.col("id_a") % 7 == 0)
                 .withColumn("id_b", F.col("id_a") + 1))
        (tfidf_pair_cosine(docs_mut, pairs)
         .write.format("noop").mode("overwrite").save())

    def curation():
        from etl_online_retail_spark.operators.curation import curate_corpus

        (curate_corpus(docs_mut)
         .write.format("noop").mode("overwrite").save())

    def fact_build():
        from etl_online_retail_spark.operators.joins import broadcast_lookup
        from etl_online_retail_spark.operators.surrogate import (
            dense_keys,
            with_unknown_member,
        )

        # pad width 12, NOT the workload's 7: replicated keys carry the
        # +copy*10M offset, and lpad TRUNCATES strings longer than the
        # width - a 7-wide pad collides distinct custkeys into shared
        # 7-char prefixes, making dim ids non-unique and exploding the
        # lookup join ~factor-fold (first measured as a bogus 760 s at
        # 30x; the engine was innocent).
        p = replicate(load_table(spark, "part", SF_DIR), factor,
                      {"p_partkey": 10_000_000})
        cust = c.select(F.lpad(F.col("c_custkey").cast("string"), 12, "0")
                        .alias("customer_id"), "c_custkey")
        dim_c = with_unknown_member(
            dense_keys(cust, ["c_custkey"], "customer_dim_id", offset=1)
            .select("customer_dim_id", "customer_id"),
            "customer_dim_id", "customer_id")
        prod = p.select(F.lpad(F.col("p_partkey").cast("string"), 12, "0")
                        .alias("part_id"), "p_partkey")
        dim_p = with_unknown_member(
            dense_keys(prod, ["p_partkey"], "product_dim_id", offset=1)
            .select("product_dim_id", "part_id"),
            "product_dim_id", "part_id")
        staged = (li.join(o, li.l_orderkey == o.o_orderkey)
                  .withColumn("customer_id",
                              F.lpad(F.col("o_custkey").cast("string"),
                                     12, "0"))
                  .withColumn("part_id",
                              F.lpad(F.col("l_partkey").cast("string"),
                                     12, "0")))
        staged = broadcast_lookup(staged, dim_c, on="customer_id")
        staged = broadcast_lookup(staged, dim_p, on="part_id")
        (staged.select("l_orderkey", "l_linenumber", "product_dim_id",
                       "customer_dim_id", "l_extendedprice", "l_quantity")
         .write.format("noop").mode("overwrite").save())

    def emb_neardup():
        from etl_online_retail_spark.operators.similarity import (
            lsh_near_duplicates,
        )

        (lsh_near_duplicates(emb_mut, threshold=0.95, scorer="vectorized")
         .write.format("noop").mode("overwrite").save())

    def emb_neardup_autoprobe():
        # the recall-honest configuration: auto planes + auto multi-probe
        # (>=90% capture at the threshold) — cost is ~probes x the
        # single-probe GEMM pass, still linear
        from etl_online_retail_spark.operators.similarity import (
            lsh_near_duplicates,
        )

        (lsh_near_duplicates(emb_mut, threshold=0.95, probes=None,
                             scorer="vectorized")
         .write.format("noop").mode("overwrite").save())

    def incremental_dedup():
        # 90% retained corpus indexed, 10% "today's slice" probed —
        # the production shape; work ∝ |new| x collisions
        from etl_online_retail_spark.operators.dedup import (
            incremental_near_duplicates,
        )

        corpus = docs_mut.filter(F.col("doc_id") % 10 != 0)
        new_batch = docs_mut.filter(F.col("doc_id") % 10 == 0)
        (incremental_near_duplicates(corpus, new_batch)
         .write.format("noop").mode("overwrite").save())

    def retention():
        from etl_online_retail_spark.operators.curation import (
            cluster_representatives,
        )

        (cluster_representatives(docs_mut)
         .write.format("noop").mode("overwrite").save())

    timed(f"tfidf pair cosine @ {factor}x", tfidf_pairs)
    timed(f"corpus curation @ {factor}x", curation)
    timed(f"fact table build @ {factor}x", fact_build)
    timed(f"embedding near-dups (lsh) @ {factor}x", emb_neardup)
    timed(f"embedding near-dups (auto-probe) @ {factor}x",
          emb_neardup_autoprobe)
    timed(f"incremental dedup probe @ {factor}x", incremental_dedup)
    timed(f"dedup retention @ {factor}x", retention)

    # round-6 families, smoked per VERDICT r6 item 4. The replicated-doc
    # mutation (per-copy word suffixes) keeps source counts fixed while
    # rows/keys scale — exactly the many-rows-per-source regime the
    # partitioned distributed NTILE exists for.
    def perplexity_ntile():
        from etl_online_retail_spark.operators.relevance import (
            unigram_logprob,
        )
        from etl_online_retail_spark.operators.windows import (
            distributed_ntile_by,
        )

        lm = (unigram_logprob(docs_mut).drop("n_tokens")
              .join(docs_mut.select("doc_id", "source"), "doc_id"))
        (distributed_ntile_by(lm, ["source"],
                              order=[F.desc("avg_logprob"), F.asc("doc_id")],
                              shard_by=-F.col("avg_logprob"), n=3,
                              alias="_b")
         .write.format("noop").mode("overwrite").save())

    def curriculum():
        from etl_online_retail_spark.operators.curation import (
            curriculum_order,
        )

        (curriculum_order(docs_mut)
         .write.format("noop").mode("overwrite").save())

    def dsir():
        from etl_online_retail_spark.operators.curation import (
            dsir_importance,
        )

        (dsir_importance(docs_mut, F.col("lang") == "en",
                         n=2, buckets=256, k=10)
         .write.format("noop").mode("overwrite").save())

    def unigram():
        # full distributed train: substring seeding + Viterbi EM rounds
        # (per-batch piece partials shuffle); the mutated corpus keeps
        # per-copy vocab diversity growing with the factor. The bound is
        # set to 0 for the call, so the distributed EM runs at every
        # factor instead of the in-memory venue below the bound.
        from etl_online_retail_spark.operators import unigram_lm

        bound = unigram_lm.UNIGRAM_DRIVER_VOCAB_THRESHOLD
        unigram_lm.UNIGRAM_DRIVER_VOCAB_THRESHOLD = 0
        try:
            unigram_lm.unigram_train(docs_mut, vocab_size=64, n_seed=2000)
        finally:
            unigram_lm.UNIGRAM_DRIVER_VOCAB_THRESHOLD = bound

    def demux():
        # container demux is map-only over Arrow batches; must scale
        # embarrassingly like the codecs
        from etl_online_retail_spark.multimodal.binary import (
            mp4_features,
            synthetic_mp4_media,
            synthetic_webm_media,
            webm_features,
        )

        (mp4_features(synthetic_mp4_media(docs_mut))
         .write.format("noop").mode("overwrite").save())
        (webm_features(synthetic_webm_media(docs_mut))
         .write.format("noop").mode("overwrite").save())

    timed(f"perplexity ntile (partitioned, sharded) @ {factor}x",
          perplexity_ntile)
    timed(f"curriculum order @ {factor}x", curriculum)
    timed(f"dsir importance select @ {factor}x", dsir)
    timed(f"unigram train (64-piece vocab) @ {factor}x", unigram)
    timed(f"mp4+webm demux @ {factor}x", demux)

    # The standing bucketed-layout claim, measured at the factor where
    # broadcast genuinely stops fitting: the plain fact-fact join must
    # shuffle BOTH replicated sides every run, while the co-bucketed
    # layout pays one ingest-time shuffle and then joins with NO
    # exchange at all (plan-asserted). The delta is the per-query win a
    # 100 TB deployment buys with bucketing.
    # global aggregate on top (partial + one-row merge): the JOIN is the
    # only hash/range-exchange candidate in either plan, so the shuffle
    # count isolates the layout's effect
    def fact_fact_plain():
        (li.join(o, li.l_orderkey == o.o_orderkey)
           .agg(money.sum_money(money.net_revenue(), "revenue"),
                F.count(F.lit(1)).alias("n"))
           .write.format("noop").mode("overwrite").save())

    _bucketed: dict = {}

    def fact_fact_bucket_ingest():
        from etl_online_retail_spark.sources.bucketed import (
            cobucket_fact_tables,
        )

        bl, bo = cobucket_fact_tables(
            spark, li, o, n_buckets=16, prefix="smoke_bucketed")
        _bucketed["li"], _bucketed["o"] = bl, bo

    def fact_fact_bucketed():
        bl, bo = _bucketed["li"], _bucketed["o"]
        joined = (bl.join(bo, bl.l_orderkey == bo.o_orderkey)
                  .agg(money.sum_money(money.net_revenue(), "revenue"),
                       F.count(F.lit(1)).alias("n")))
        joined.write.format("noop").mode("overwrite").save()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        n_shuffles = (plan.count("Exchange hashpartitioning")
                      + plan.count("Exchange rangepartitioning"))
        print(f"  bucketed-join shuffle exchanges in final plan: "
              f"{n_shuffles} (must be 0)", flush=True)
        assert n_shuffles == 0, plan

    timed(f"fact-fact join PLAIN (shuffles both sides) @ {factor}x",
          fact_fact_plain)
    timed(f"fact-fact co-bucket ingest (one-time) @ {factor}x",
          fact_fact_bucket_ingest)
    if _bucketed:
        timed(f"fact-fact join BUCKETED (zero exchange) @ {factor}x",
              fact_fact_bucketed)

    # round-8: PageRank / PPR power iteration (the iterative-graph
    # family). Fixed iteration count; per-round cost is ONE contribution
    # shuffle over the edge relation plus KB-sized dangling/teleport
    # scalars; the rank relation is truncated with eager localCheckpoint
    # so the plan never nests. Replication multiplies DISJOINT components
    # (per-copy key offsets), so edges/nodes scale with the factor while
    # each round's shuffle stays edge-proportional — the curve must be
    # ~linear per unit data, never round x round.
    def pagerank_smoke():
        from etl_online_retail_spark.operators.graph import (
            copurchase_edges,
            pagerank,
        )

        edges = copurchase_edges(li, min_orders=2)
        (pagerank(edges, max_iter=5, damping=0.85, exact=True)
         .write.format("noop").mode("overwrite").save())

    def ppr_smoke():
        from etl_online_retail_spark.operators.graph import (
            copurchase_edges,
            personalized_pagerank,
        )

        p_rep = replicate(load_table(spark, "part", SF_DIR), factor,
                          {"p_partkey": 10_000_000})
        edges = copurchase_edges(li, min_orders=2)
        seeds = (p_rep.filter(F.pmod(F.col("p_partkey"), F.lit(499)) == 0)
                 .select(F.col("p_partkey").alias("node")))
        (personalized_pagerank(edges, seeds, max_iter=5, damping=0.85,
                               exact=True)
         .write.format("noop").mode("overwrite").save())

    timed(f"pagerank (5 rounds) @ {factor}x", pagerank_smoke)
    timed(f"personalized pagerank (5 rounds) @ {factor}x", ppr_smoke)

    # round-8 streaming wave: the newest stateful operators under the
    # scd2_stream_reorder protocol — 8 content-hash shards (arrival
    # order unrelated to event time), watermark delay covering the whole
    # span (the reorder-buffer WORST case: every row parks until the
    # sentinel sweep), noop sink, availableNow trigger.
    def _stream_smoke(op):
        import datetime

        from etl_online_retail_spark.catalog import SCHEMAS

        work = tempfile.mkdtemp(prefix="scale_stream_")
        try:
            sdir = os.path.join(work, "shards")
            os.makedirs(sdir)
            mx = ev.agg(F.max("ts")).collect()[0][0]
            for b in range(8):
                (ev.filter(F.crc32(F.col("event_id").cast("string")) % 8
                           == b)
                 .write.parquet(os.path.join(sdir, f"s{b}")))
            sentinels = [
                (10_000_000 * factor + i,
                 mx + datetime.timedelta(days=days), -1, "sentinel", 0.0,
                 "{}")
                for i, days in enumerate((370, 740))]
            for i, row in enumerate(sentinels):
                (spark.createDataFrame([row], schema=SCHEMAS["events"])
                 .write.parquet(os.path.join(sdir, f"z_sentinel{i}")))
            stream = (spark.readStream.schema(SCHEMAS["events"])
                      .option("maxFilesPerTrigger", 4)
                      .parquet(os.path.join(sdir, "*"))
                      .withColumn("ts", F.col("ts").cast("timestamp")))
            (op(stream, delay="365 days")
             .writeStream.format("noop")
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .outputMode("append")
             .trigger(availableNow=True)
             .start().awaitTermination())
        finally:
            shutil.rmtree(work, ignore_errors=True)

    from etl_online_retail_spark.streaming.stateful import (
        attribution_stream,
        gapfill_stream,
        zscore_stream,
    )

    timed(f"gapfill stream (reorder worst case) @ {factor}x",
          lambda: _stream_smoke(gapfill_stream))
    timed(f"attribution stream (reorder worst case) @ {factor}x",
          lambda: _stream_smoke(attribution_stream))
    timed(f"zscore stream (reorder worst case) @ {factor}x",
          lambda: _stream_smoke(zscore_stream))

    # streaming MinHash dedup: 8 micro-batches of mutated docs, each
    # probed against the band index the stream has accumulated then
    # appended to it — work per batch must stay |batch| x collisions
    # (the batch operator's cost model), index growth notwithstanding
    def minhash_dedup_stream():
        from etl_online_retail_spark.streaming.ingest import (
            incremental_minhash_dedup,
        )

        work = tempfile.mkdtemp(prefix="scale_mh_stream_")
        try:
            src = os.path.join(work, "src")
            for part in range(8):
                (docs_mut.filter(F.pmod(F.col("doc_id"), F.lit(8)) == part)
                 .coalesce(4).write.parquet(os.path.join(src, f"p{part}")))
            stream = (spark.readStream
                      .schema(load_table(spark, "documents", SF_DIR).schema)
                      .option("maxFilesPerTrigger", 4)
                      .parquet(os.path.join(src, "p*")))
            q = incremental_minhash_dedup(
                stream, os.path.join(work, "index"),
                os.path.join(work, "dups"), os.path.join(work, "ckpt"))
            q.awaitTermination()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    timed(f"incremental minhash dedup stream (8 batches) @ {factor}x",
          minhash_dedup_stream)

    # crawl-ingest chain (r12): chrome archives -> WARC record walk ->
    # main-content extraction, plus robots decisions + canonical-URL
    # dedup over the derived URLs. Every stage is map-only or a
    # dashboard-sized broadcast/agg, so the expectation is LINEAR in
    # the factor — the smoke exists to catch that ever changing.
    def crawl_chain():
        from etl_online_retail_spark.functions.html_text import (
            extract_main_text,
        )
        from etl_online_retail_spark.sources.warc import (
            synthetic_crawl_archives,
            warc_records,
        )

        recs = warc_records(synthetic_crawl_archives(docs, chrome=True))
        responses = (recs.filter(F.col("warc_type") == "response")
                     .select(F.col("archive_id").alias("doc_id"), "body"))
        (extract_main_text(responses, "body", "doc_id")
         .write.format("noop").mode("overwrite").save())

    def robots_urls():
        from etl_online_retail_spark.functions.robots import (
            robots_decisions,
            robots_rules,
        )
        from etl_online_retail_spark.functions.url import canonical_url
        from etl_online_retail_spark.workload_ext import ROBOTS_FIXTURE

        hosts = (docs.select(F.col("source").alias("host")).distinct()
                 .withColumn("robots_txt", F.lit(ROBOTS_FIXTURE)))
        i = (F.col("doc_id") % 50).cast("string")
        urls = docs.select(
            "doc_id", F.col("source").alias("host"),
            F.concat(F.lit("/p/"), i).alias("path"))
        decided = robots_decisions(urls, robots_rules(hosts))
        (decided.filter("allowed")
         .withColumn("canonical", canonical_url(F.concat(
             F.lit("HTTP://"), F.upper("host"), F.lit(":80"),
             F.col("path"), F.lit("?utm_source=x&id="), i)))
         .groupBy("canonical").count()
         .write.format("noop").mode("overwrite").save())

    timed(f"crawl chain (WARC -> main content) @ {factor}x", crawl_chain)
    timed(f"robots + canonical-url dedup @ {factor}x", robots_urls)

    # robots HOST-DIMENSION smoke (r13, verdict finding 1): the r12
    # shape collected every (host, robots_txt) row to the driver and
    # force-broadcast the rule relation — both die at real crawl host
    # counts. This row runs the distributed parse (mapInPandas) and the
    # size-guarded decision join over factor x 200k synthetic hosts
    # (2M at 10x; 4 governing rules each -> 8M rules) with 2 URLs per
    # host, checking the whole host dimension stays executor-side and
    # the join degrades to a host-keyed shuffle when the rules outgrow
    # the broadcast bound. Expectation: LINEAR in the factor.
    def robots_host_dimension():
        from etl_online_retail_spark.functions.robots import (
            robots_decisions,
            robots_rules,
        )
        from etl_online_retail_spark.workload_ext import ROBOTS_FIXTURE

        n_hosts = factor * 200_000
        hosts = (spark.range(n_hosts)
                 .select(F.concat(F.lit("h"), F.col("id")).alias("host"),
                         F.lit(ROBOTS_FIXTURE).alias("robots_txt")))
        urls = (spark.range(n_hosts)
                .select(F.concat(F.lit("h"), F.col("id")).alias("host"),
                        F.explode(F.array(
                            F.lit("/p/1"), F.lit("/private/x")))
                        .alias("path")))
        (robots_decisions(urls, robots_rules(hosts))
         .groupBy("allowed").count()
         .write.format("noop").mode("overwrite").save())

    timed(f"robots host dimension ({factor * 200_000} hosts) @ {factor}x",
          robots_host_dimension)

    # SFT prep + loss spans (r13, verdict task 6): pure JVM Column
    # algebra (to_json/from_json round trip, HOF folds) — the
    # expectation is boringly linear, which is exactly why the row is
    # cheap insurance against a Python boundary sneaking in.
    def _sft_turns():
        """The shared 3-turn fixture expression — ONE definition so the
        two SFT smoke rows measure the same chain, differing only by
        pack_loss_spans (r13 review)."""
        half = F.floor(F.length("text") / 2).cast("int")
        return F.array(
            F.struct(F.lit("system").alias("role"),
                     F.lit("You are a helpful assistant.").alias("content")),
            F.struct(F.lit("user").alias("role"),
                     F.substring(F.col("text"), F.lit(1), half)
                     .alias("content")),
            F.struct(F.lit("assistant").alias("role"),
                     F.substring(F.col("text"), half + F.lit(1),
                                 F.length("text")).alias("content")))

    def sft_chain():
        from etl_online_retail_spark.operators.conversations import (
            loss_spans,
            parse_conversations,
            sft_prep,
        )

        convs = docs.select("doc_id",
                            F.to_json(_sft_turns()).alias("raw_json"))
        sft_prep(convs, "raw_json") \
            .write.format("noop").mode("overwrite").save()
        (parse_conversations(convs, "raw_json")
         .select("doc_id", loss_spans("turns").alias("spans"))
         .select("doc_id", F.explode("spans").alias("s"))
         .write.format("noop").mode("overwrite").save())

    timed(f"sft prep + loss spans @ {factor}x", sft_chain)

    # ... and the r13 packed-span re-basing on top: one window per
    # source + a bounded explode — the only addition over the chain
    # above is the hash-partitioned running sum
    def sft_packed():
        from etl_online_retail_spark.operators.conversations import (
            flatten_chat,
            loss_spans,
            parse_conversations,
        )
        from etl_online_retail_spark.operators.packing import (
            pack_loss_spans,
        )

        parsed = parse_conversations(
            docs.select("doc_id", "source",
                        F.to_json(_sft_turns()).alias("raw_json")),
            "raw_json")
        sft = parsed.select(
            "doc_id", "source",
            F.length(flatten_chat("turns")).alias("flat_len"),
            loss_spans("turns").alias("spans"))
        (pack_loss_spans(sft, 512, "flat_len", "spans")
         .write.format("noop").mode("overwrite").save())

    timed(f"sft packed loss spans @ {factor}x", sft_packed)

    # DPO preference-pair prep (r13): validate + render both branches
    # (one codegen'd map stage), the per-source margin audit (one hash
    # agg) and the keep-first prompt dedup (one hash agg + semi-join —
    # the replication makes doc_ids collide, so the dedup does real
    # work). Expectation: linear map + agg, like the SFT chain.
    def dpo_chain():
        from etl_online_retail_spark.operators.preferences import (
            dedup_prompts,
            dpo_prep,
            pair_stats,
        )

        half = F.floor(F.length("text") / 2).cast("int")
        chosen = F.substring(F.col("text"), half + F.lit(1),
                             F.length("text"))
        pairs = docs.select(
            F.col("doc_id").alias("pair_id"), "source",
            F.substring(F.col("text"), F.lit(1), half).alias("prompt"),
            chosen.alias("chosen"),
            F.when(F.col("doc_id") % 11 == 0, F.lit(""))
             .when(F.col("doc_id") % 7 == 0, chosen)
             .otherwise(F.reverse(chosen)).alias("rejected"))
        dpo_prep(pairs).write.format("noop").mode("overwrite").save()
        pair_stats(pairs).write.format("noop").mode("overwrite").save()
        (dedup_prompts(pairs, id_col="pair_id")
         .write.format("noop").mode("overwrite").save())

    timed(f"dpo pair prep + stats + prompt dedup @ {factor}x", dpo_chain)

    # eval token F1 (r13): the multiset-overlap shape is one union +
    # two hash aggs on (id, token) / (id) — linear in corpus tokens,
    # co-partitioned shuffles, no quadratic row-local work.
    def eval_f1():
        from etl_online_retail_spark.operators.evaluation import (
            token_overlap,
        )

        ws = F.split(F.col("text"), " ")
        pairs = docs.select(
            "doc_id",
            F.upper(F.array_join(F.slice(ws, 1, 12), " ")).alias("pred"),
            F.array_join(F.slice(ws, 5, 12), " ").alias("ref"))
        (token_overlap(pairs, "pred", "ref")
         .write.format("noop").mode("overwrite").save())

    timed(f"eval token f1 @ {factor}x", eval_f1)

    # pairwise-judgment analytics (r13): battle volume AND roster both
    # grow with the factor (7 * factor models), so the pair grain the
    # Bradley-Terry iteration runs on grows too — the battle table is
    # read by exactly ONE hash aggregation, iterations touch only the
    # pair-grain relation. Expectation: linear in battles, the
    # iteration cost invisible next to the scan.
    def bt_chain():
        from etl_online_retail_spark.operators.arena import (
            bradley_terry,
            model_records,
        )

        roster = 7 * factor
        r = (F.col("o_orderkey").cast("bigint") * 31
             + F.col("o_custkey")) % 3
        battles = (o.filter((F.col("o_orderkey") % roster)
                            != (F.col("o_custkey") % roster))
                   .select(
            F.concat(F.lit("M"), (F.col("o_orderkey") % roster)
                     .cast("string")).alias("model_a"),
            F.concat(F.lit("M"), (F.col("o_custkey") % roster)
                     .cast("string")).alias("model_b"),
            F.when(r == 0, F.lit("a")).when(r == 1, F.lit("b"))
             .otherwise(F.lit("tie")).alias("outcome")))
        (model_records(battles)
         .write.format("noop").mode("overwrite").save())
        (bradley_terry(battles, iters=3)
         .write.format("noop").mode("overwrite").save())

    timed(f"bradley-terry ({7 * factor} models) @ {factor}x", bt_chain)

    # annotator agreement (r13): kappa is three co-partitioned hash
    # aggs at the (group, label) grain + roster-sized joins — linear
    # scan cost, constant-size shuffle.
    def kappa():
        from etl_online_retail_spark.operators.agreement import (
            cohens_kappa,
        )

        labels = docs.select(
            "source",
            F.concat(F.lit("L"), (F.length("text") % 5).cast("string"))
             .alias("label_a"),
            F.concat(F.lit("L"),
                     ((F.length("text") + F.col("doc_id")) % 5)
                     .cast("string")).alias("label_b"))
        (cohens_kappa(labels, group_col="source")
         .write.format("noop").mode("overwrite").save())

    timed(f"cohens kappa by source @ {factor}x", kappa)

    # Krippendorff's alpha (r13): three grain-stepping hash aggs on a
    # RAGGED 3-rater panel (rater 2 withheld on %13, rater 3 on %7) +
    # the per-m sorted sequential fold (m <= 3, driver-tiny).
    # Expectation: linear in ratings, the fold invisible.
    def alpha():
        from etl_online_retail_spark.operators.agreement import (
            krippendorff_alpha,
        )

        ratings = (docs.select(
            "source", "doc_id", "text",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
             .alias("rater"))
            .filter(~((F.col("rater") == 2) & (F.col("doc_id") % 13 == 0)))
            .filter(~((F.col("rater") == 3) & (F.col("doc_id") % 7 == 0)))
            .select(F.col("source").alias("src"),
                    F.col("doc_id").alias("item_id"),
                    F.concat(F.lit("L"),
                             ((F.length("text")
                               + F.col("rater") * F.col("doc_id")) % 4)
                             .cast("string")).alias("label")))
        (krippendorff_alpha(ratings, item_col="item_id",
                            label_col="label", group_col="src")
         .write.format("noop").mode("overwrite").save())

    timed(f"krippendorff alpha (ragged panel) @ {factor}x", alpha)


if __name__ == "__main__":
    main()
