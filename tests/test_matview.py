"""Materialized-view rewrite: serving plan must equal the base plan.

The oracle gate only ever sees the base plan (the driver does not stage
views), so this test is the correctness bridge for the rewrite path that
the bench exercises.
"""

from __future__ import annotations

import pytest

from etl_online_retail_spark.operators import matview

from conftest import (
    SF_SMALL,
    assert_no_exchange_above_cache,
    new_plan_descriptions,
)


def _rows(df):
    return sorted((r["nation"], r["month_start"], round(r["revenue"], 6))
                  for r in df.collect())


@pytest.fixture
def staged_matview(spark):
    matview.materialize(spark, SF_SMALL)
    yield
    spark.conf.unset(matview.MATVIEW_DIR_CONF)
    for name in matview.MATVIEWS:
        view = f"{matview.MATVIEW_PREFIX}_{name}"
        spark.table(view).unpersist()
        spark.catalog.dropTempView(view)


def test_star_rollup_serves_and_matches_base(spark, staged_matview):
    from etl_online_retail_spark.workload import _REGISTRY

    build = _REGISTRY["star_revenue_by_nation_month"].build
    served = build(spark, SF_SMALL)
    # the rewrite actually engaged: the serving plan reads the in-memory
    # rollup (the cached-plan *lineage* text still names the fact table,
    # but execution hits InMemoryTableScan, not a parquet scan of it)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    got = _rows(served)

    spark.conf.unset(matview.MATVIEW_DIR_CONF)
    base = build(spark, SF_SMALL)
    assert got == _rows(base)
    assert served.columns == base.columns


def _calendar_rows(df, keycols):
    # ROLLUP subtotal rows carry NULL keys: sort None-safely
    return sorted((tuple((r[k] is None, r[k] or 0) for k in keycols),
                   round(r["revenue"], 6),
                   r["n_rows"] if "n_rows" in df.columns else None)
                  for r in df.collect())


def test_ship_day_rollup_serves_revenue_by_ymd(spark, staged_matview):
    """revenue_by_ymd rewrites onto the day-grain view as a PURE
    PROJECTION ((year, month, day) is a bijection of the ship date —
    no re-aggregation, no exchange), bit-identical to the base fact
    scan."""
    from etl_online_retail_spark.workload import _REGISTRY

    build = _REGISTRY["revenue_by_ymd"].build
    served = build(spark, SF_SMALL)
    # projection-only rewrite: the executed plan reads the cached view
    # with no Exchange above the scan — asserted STRUCTURALLY by
    # walking the plan tree (the cached relation's embedded build plan,
    # which carries its own never-executed exchange, is excluded by
    # construction; a Spark plan-RENDERING change can't silently
    # neutralize the check the way the old string-split could).
    assert_no_exchange_above_cache(served)
    got = _calendar_rows(served, ("year", "month", "day"))
    spark.conf.unset(matview.MATVIEW_DIR_CONF)
    try:
        base = build(spark, SF_SMALL)
        assert served.columns == base.columns
        assert [f.dataType for f in served.schema.fields] == \
               [f.dataType for f in base.schema.fields]
        assert got == _calendar_rows(base, ("year", "month", "day"))
    finally:
        spark.conf.set(matview.MATVIEW_DIR_CONF, SF_SMALL)


def test_ship_day_rollup_serves_global_aggregate(spark, staged_matview):
    """total_revenue (a global SUM + COUNT) composes from the day
    partials — the coarsest-grain case of the navigator's soundness
    argument, bit-identical to the fact scan."""
    from etl_online_retail_spark.workload import _REGISTRY

    build = _REGISTRY["total_revenue"].build
    served = build(spark, SF_SMALL)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    got = served.collect()
    spark.conf.unset(matview.MATVIEW_DIR_CONF)
    try:
        base = build(spark, SF_SMALL)
        assert served.columns == base.columns
        assert got == base.collect()
    finally:
        spark.conf.set(matview.MATVIEW_DIR_CONF, SF_SMALL)


def test_product_rollup_serves_top_products(spark, staged_matview):
    """top_products_by_revenue rewrites onto the product-name-grain view
    (the reference dashboard's chart grain): sort-limit over |distinct
    names| rows, identical rows AND order-determining values to the
    base plan."""
    from etl_online_retail_spark.workload import _REGISTRY

    build = _REGISTRY["top_products_by_revenue"].build
    served = build(spark, SF_SMALL)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    got = [(r.p_name, round(r.revenue, 6)) for r in served.collect()]
    spark.conf.unset(matview.MATVIEW_DIR_CONF)
    try:
        base = build(spark, SF_SMALL)
        assert served.columns == base.columns
        assert got == [(r.p_name, round(r.revenue, 6))
                       for r in base.collect()]
    finally:
        spark.conf.set(matview.MATVIEW_DIR_CONF, SF_SMALL)


def test_ship_day_rollup_composes_under_rollup(spark, staged_matview):
    """The ROLLUP shape composes from the day partials (revenue AND the
    count measure): the REGISTERED revenue_rollup query serves off the
    view when staged (the r9 keep-base decision flipped on the r10
    single-partition cache measurement — see workload.py), bit-identical
    to the base fact-scan plan."""
    from etl_online_retail_spark.workload import _REGISTRY

    build = _REGISTRY["revenue_rollup"].build
    served = build(spark, SF_SMALL)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    got = _calendar_rows(served, ("year", "month"))
    spark.conf.unset(matview.MATVIEW_DIR_CONF)
    try:
        base = build(spark, SF_SMALL)
        assert served.columns == base.columns
        assert [f.dataType for f in served.schema.fields] == \
               [f.dataType for f in base.schema.fields]
        assert got == _calendar_rows(base, ("year", "month"))
    finally:
        spark.conf.set(matview.MATVIEW_DIR_CONF, SF_SMALL)


def test_chart_layer_navigates_monthly_revenue(spark, staged_matview):
    """The semantic layer routes a dataset+measure-declared chart through
    the navigator automatically: chart_monthly_revenue serves off the
    ship-day rollup (month is a function of the view's date; decimal
    partials re-aggregate exactly), bit-identical to the base compile."""
    import etl_online_retail_spark.workload_bi  # noqa: F401  (registers)
    from etl_online_retail_spark.workload import _REGISTRY

    build = _REGISTRY["chart_monthly_revenue"].build
    served = build(spark, SF_SMALL)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    got = sorted((r["__timestamp"], round(r.revenue, 6))
                 for r in served.collect())
    spark.conf.unset(matview.MATVIEW_DIR_CONF)
    try:
        base = build(spark, SF_SMALL)
        assert served.columns == base.columns
        assert got == sorted((r["__timestamp"], round(r.revenue, 6))
                             for r in base.collect())
    finally:
        spark.conf.set(matview.MATVIEW_DIR_CONF, SF_SMALL)


def test_navigator_prefers_join_free_view_at_equal_grain(spark,
                                                         staged_matview):
    """dims=[] qualifies both single-column-grain views; the tie-break
    picks the one built WITHOUT joins (ship_day_rollup) — no
    FK-losslessness assumption, and the smaller relation."""
    nav = matview.navigate(spark, SF_SMALL, [], ["revenue", "n_rows"])
    assert nav is not None
    plan = nav._jdf.queryExecution().analyzed().toString()
    assert "ship_date" in plan and "p_name" not in plan


def test_total_revenue_empty_view_matches_count_semantics(spark):
    """r10 advice: SUM over an EMPTY staged rollup must not turn the
    COUNT measure into NULL — the served plan coalesces n_rows to 0,
    matching what the base plan's COUNT(*) returns on an empty fact."""
    import os

    from etl_online_retail_spark.workload import _REGISTRY

    empty = spark.createDataFrame(
        [], "ship_date date, revenue decimal(38,6), n_rows bigint")
    view = f"{matview.MATVIEW_PREFIX}_ship_day_rollup"
    empty.createOrReplaceTempView(view)
    spark.conf.set(matview.MATVIEW_DIR_CONF, os.path.abspath(SF_SMALL))
    try:
        row = _REGISTRY["total_revenue"].build(spark, SF_SMALL).collect()[0]
        assert row.n_rows == 0
        assert row.total_revenue is None   # base SUM over empty is NULL too
    finally:
        spark.conf.unset(matview.MATVIEW_DIR_CONF)
        spark.catalog.dropTempView(view)


def test_flag_day_rollup_serves_pricing_family(spark, staged_matview):
    """The multi-measure view: pricing_summary (all 9 Q1 measures),
    revenue_cube, revenue_grouping_sets, revenue_pivot_by_flag and
    revenue_rollup_gid all serve off summary partials, bit-identical to
    their base fact-scan plans (incl. NULL subtotal keys and pivot's
    NULL-for-missing-cell semantics)."""
    import etl_online_retail_spark.workload_bi  # noqa: F401  (registers)
    from etl_online_retail_spark.workload import _REGISTRY

    def rows(df):
        return sorted(
            tuple((v is None, round(v, 6) if isinstance(v, float) else v)
                  for v in r)
            for r in df.collect())

    for qname in ("pricing_summary", "revenue_cube",
                  "revenue_grouping_sets", "revenue_pivot_by_flag",
                  "revenue_rollup_gid",
                  # order-day rollup family (same served-vs-base pin):
                  # grain-column range filter + grain-column MIN/MAX
                  "smart_key_range", "date_bounds",
                  # star rollup re-aggregated to nation + the
                  # percent-of-total window over the summary rows
                  "revenue_share_by_nation"):
        build = _REGISTRY[qname].build
        served = build(spark, SF_SMALL)
        plan = served._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, qname
        got = rows(served)
        spark.conf.unset(matview.MATVIEW_DIR_CONF)
        try:
            base = build(spark, SF_SMALL)
            assert served.columns == base.columns, qname
            assert [f.dataType for f in served.schema.fields] == \
                   [f.dataType for f in base.schema.fields], qname
            assert got == rows(base), qname
        finally:
            spark.conf.set(matview.MATVIEW_DIR_CONF, SF_SMALL)


def test_customer_nation_rollup_serves_customers_by_nation(
        spark, staged_matview):
    """customers_by_nation rewrites onto the customer-dim rollup (~25
    rows — the reference's 'customer location' slice grain): broadcast
    name lookup + sort-limit, never the customer table; identical rows
    and order-determining values to the base plan."""
    from etl_online_retail_spark.workload import _REGISTRY

    build = _REGISTRY["customers_by_nation"].build
    served = build(spark, SF_SMALL)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    got = [(r.nation, r.n_customers) for r in served.collect()]
    spark.conf.unset(matview.MATVIEW_DIR_CONF)
    try:
        base = build(spark, SF_SMALL)
        assert served.columns == base.columns
        assert [f.dataType for f in served.schema.fields] == \
               [f.dataType for f in base.schema.fields]
        assert got == [(r.nation, r.n_customers) for r in base.collect()]
    finally:
        spark.conf.set(matview.MATVIEW_DIR_CONF, SF_SMALL)


def test_full_refresh_survives_a_subsequent_batch_zero(spark, tmp_path):
    """Regression (r10 review): a full refresh used to live at
    _batch_id=0, where a subsequent incremental stream's FIRST
    micro-batch (structured streaming numbers from 0) silently
    overwrote it via dynamic partition overwrite. The refresh now
    occupies the reserved -1 slot, so batch 0 ADDS to it."""
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    store = str(tmp_path / "mv_store")
    li = catalog.load_table(spark, "lineitem", SF_SMALL)
    matview.write_full(spark, SF_SMALL, names=["ship_day_rollup"],
                       storage_dir=store)
    slice0 = li.filter(F.pmod(F.col("l_orderkey"), F.lit(4)) == 0)
    matview.append_batch(spark, SF_SMALL, slice0, 0,
                         names=["ship_day_rollup"], storage_dir=store)
    tdir = matview.view_table_dir(SF_SMALL, "ship_day_rollup", store)
    served = matview._serving_relation(spark, tdir, "ship_day_rollup")
    total = served.agg(F.sum("n_rows")).collect()[0][0]
    assert total == li.count() + slice0.count()   # coexist, no overwrite


def test_customer_view_maintained_by_customer_batches_only(spark, tmp_path):
    """Source-aware maintenance: lineitem batches do NOT touch the
    customer-fed view; customer batches maintain it; publish registers
    only written views (the others keep their base plans)."""
    import os

    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog
    from etl_online_retail_spark.workload import _REGISTRY

    store = str(tmp_path / "mv_store")
    li = catalog.load_table(spark, "lineitem", SF_SMALL)
    c = catalog.load_table(spark, "customer", SF_SMALL)

    # a lineitem load: the customer view's table is never created
    matview.append_batch(spark, SF_SMALL, li, 0, storage_dir=store)
    assert not os.path.isdir(
        matview.view_table_dir(SF_SMALL, "customer_nation_rollup", store))

    # two customer-dim loads + a replay
    for b, m in ((0, 0), (1, 1)):
        matview.append_batch(
            spark, SF_SMALL,
            c.filter(F.pmod(F.col("c_custkey"), F.lit(2)) == m),
            b, storage_dir=store, table="customer")
    matview.append_batch(
        spark, SF_SMALL,
        c.filter(F.pmod(F.col("c_custkey"), F.lit(2)) == 1),
        1, storage_dir=store, table="customer")

    matview.publish(spark, SF_SMALL, storage_dir=store)
    try:
        build = _REGISTRY["customers_by_nation"].build
        served = build(spark, SF_SMALL)
        got = [(r.nation, r.n_customers) for r in served.collect()]
        spark.conf.unset(matview.MATVIEW_DIR_CONF)
        base = build(spark, SF_SMALL)
        assert got == [(r.nation, r.n_customers) for r in base.collect()]
    finally:
        spark.conf.unset(matview.MATVIEW_DIR_CONF)
        for name in matview.MATVIEWS:
            view = f"{matview.MATVIEW_PREFIX}_{name}"
            if spark.catalog.tableExists(view):
                spark.table(view).unpersist()
                spark.catalog.dropTempView(view)


def test_matview_registry_is_structurally_consistent(spark):
    """Load-bearing registry invariants, so a future view cannot drift:
    every view has meta and an input builder; storage maps exactly the
    declared measures onto `_n`/`_sum*` partials; the input builder
    provides a `_v<sfx>` value column for every `_sum<sfx>` partial and
    its non-value columns are exactly the grain — plus, for inputs that
    PRE-AGGREGATE (declared via meta["count_col"]), the integer column
    carrying each row's true fact-row count (the CDC liveness
    contract)."""
    assert set(matview.MATVIEW_INPUTS) == set(matview.MATVIEW_META)
    for name, meta in matview.MATVIEW_META.items():
        assert set(meta["storage"]) == set(meta["measures"]), name
        assert {"grain", "measures", "storage", "joined", "source"} \
            <= set(meta), name
        for stored in meta["storage"].values():
            assert stored == "_n" or stored.startswith("_sum"), name
        inp = matview.MATVIEW_INPUTS[name](spark, SF_SMALL)
        value_cols = {c for c in inp.columns if c.startswith("_v")}
        want = {"_v" + stored[len("_sum"):]
                for stored in meta["storage"].values() if stored != "_n"}
        assert value_cols == want, name
        extra = {meta["count_col"]} if meta.get("count_col") else set()
        assert set(inp.columns) - value_cols \
            == set(meta["grain"]) | extra, name
        if extra:
            kind = dict(inp.dtypes)[meta["count_col"]]
            assert kind in ("int", "bigint"), (name, kind)


def test_serve_refuses_other_directory(spark, staged_matview):
    assert matview.serve(spark, "/root/testdata/sf0.01",
                         "star_month_rollup") is None


def test_navigator_serves_exact_and_coarser_grains(spark, staged_matview):
    """navigate() answers a same-grain request straight off the view and
    a COARSER request by re-aggregating the decimal partials — both
    bit-identical to the base-table plan."""
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog
    from etl_online_retail_spark.functions import money
    from etl_online_retail_spark.functions.datetime_fns import month_start

    exact = matview.navigate(spark, SF_SMALL,
                             ["nationkey", "month_start"], ["revenue"])
    assert exact is not None
    coarse = matview.navigate(spark, SF_SMALL, ["nationkey"], ["revenue"])
    assert coarse is not None
    # neither plan touches the fact table's parquet
    for df in (exact, coarse):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan

    li = catalog.load_table(spark, "lineitem", SF_SMALL)
    o = catalog.load_table(spark, "orders", SF_SMALL)
    c = catalog.load_table(spark, "customer", SF_SMALL)
    base = (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey))
    want_exact = sorted(
        (r.nationkey, r.month_start, float(r.revenue)) for r in
        base.groupBy(F.col("c_nationkey").alias("nationkey"),
                     month_start("o_orderdate").alias("month_start"))
        .agg(F.sum(money.net_revenue()).alias("revenue")).collect())
    got_exact = sorted((r.nationkey, r.month_start, float(r.revenue))
                       for r in exact.collect())
    assert got_exact == want_exact  # decimal partials: bit-identical
    want_coarse = sorted(
        (r.nationkey, float(r.revenue)) for r in
        base.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.sum(money.net_revenue()).alias("revenue")).collect())
    got_coarse = sorted((r.nationkey, float(r.revenue))
                        for r in coarse.collect())
    assert got_coarse == want_coarse


def test_navigator_declines_uncovered_requests(spark, staged_matview):
    # a dimension outside every registered grain -> base plan territory
    assert matview.navigate(spark, SF_SMALL,
                            ["orderkey"], ["revenue"]) is None
    # an unknown measure -> same
    assert matview.navigate(spark, SF_SMALL,
                            ["nationkey"], ["quantity"]) is None
    # nothing staged -> None even for a covered grain
    spark.conf.unset(matview.MATVIEW_DIR_CONF)
    try:
        assert matview.navigate(spark, SF_SMALL,
                                ["nationkey"], ["revenue"]) is None
    finally:
        matview.materialize(spark, SF_SMALL)  # restore for fixture teardown


def test_materialize_writes_managed_parquet(spark, tmp_path):
    """materialize() persists each view as parquet in the incremental
    partial-aggregate layout (not just a session cache): a FRESH publish
    — no rebuild, simulating a new session over the same warehouse —
    serves the written tables bit-identically to the base plans."""
    import os

    store = str(tmp_path / "mv_store")
    matview.materialize(spark, SF_SMALL, storage_dir=store)
    try:
        for name in matview.MATVIEWS:
            tdir = matview.view_table_dir(SF_SMALL, name, store)
            # the full refresh occupies the reserved legacy-full-compact
            # slot, leaving non-negative ids free for incremental loads
            assert os.path.isdir(os.path.join(tdir, "_batch_id=-1"))

        from etl_online_retail_spark.workload import _REGISTRY

        build = _REGISTRY["star_revenue_by_nation_month"].build
        got = _rows(build(spark, SF_SMALL))

        # simulate a session restart: drop every serving relation and
        # the layout conf, then publish FROM DISK only
        spark.conf.unset(matview.MATVIEW_DIR_CONF)
        for name in matview.MATVIEWS:
            view = f"{matview.MATVIEW_PREFIX}_{name}"
            spark.table(view).unpersist()
            spark.catalog.dropTempView(view)
        assert matview.serve(spark, SF_SMALL, "star_month_rollup") is None
        matview.publish(spark, SF_SMALL, storage_dir=store)
        assert _rows(build(spark, SF_SMALL)) == got

        spark.conf.unset(matview.MATVIEW_DIR_CONF)
        base = _rows(build(spark, SF_SMALL))
        assert got == base
    finally:
        spark.conf.unset(matview.MATVIEW_DIR_CONF)
        for name in matview.MATVIEWS:
            view = f"{matview.MATVIEW_PREFIX}_{name}"
            if spark.catalog.tableExists(view):
                spark.table(view).unpersist()
                spark.catalog.dropTempView(view)


def test_multibatch_maintenance_equals_base_recompute(spark, tmp_path):
    """The round-10 done-criterion: every registered view maintained
    through >= 3 appended batches (plus a REPLAYED batch and an inline
    autocompaction) serves the four rewritten dashboard queries
    bit-identically to their base-table plans."""
    import os

    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog
    from etl_online_retail_spark.streaming.ingest import _list_partials
    from etl_online_retail_spark.workload import _REGISTRY

    store = str(tmp_path / "mv_store")
    li = catalog.load_table(spark, "lineitem", SF_SMALL)
    # four disjoint "daily loads" (orders stay whole per batch, though
    # the partial layout would compose exactly even if they didn't)
    for b in range(4):
        matview.append_batch(
            spark, SF_SMALL,
            li.filter(F.pmod(F.col("l_orderkey"), F.lit(4)) == b),
            b, storage_dir=store, max_partials=2)
    # a replayed load overwrites exactly its own partials
    matview.append_batch(
        spark, SF_SMALL,
        li.filter(F.pmod(F.col("l_orderkey"), F.lit(4)) == 2),
        2, storage_dir=store, max_partials=2)
    # autocompaction engaged: partial count stayed bounded
    for name in matview.MATVIEWS:
        tdir = matview.view_table_dir(SF_SMALL, name, store)
        assert len(_list_partials(tdir)) <= 3
    matview.publish(spark, SF_SMALL, storage_dir=store)
    try:
        for qname in ("revenue_by_ymd", "total_revenue",
                      "star_revenue_by_nation_month",
                      "top_products_by_revenue",
                      # the MULTI-MEASURE table under the same
                      # multi-batch + replay + autocompact schedule: all
                      # five decimal partials and the count must survive
                      # the generic _sum*-column compaction
                      "pricing_summary"):
            build = _REGISTRY[qname].build
            served = build(spark, SF_SMALL)
            plan = served._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, qname
            got = sorted(map(tuple, served.collect()))
            spark.conf.unset(matview.MATVIEW_DIR_CONF)
            try:
                base = build(spark, SF_SMALL)
                assert served.columns == base.columns, qname
                assert got == sorted(map(tuple, base.collect())), qname
            finally:
                spark.conf.set(matview.MATVIEW_DIR_CONF,
                               os.path.abspath(SF_SMALL))
    finally:
        spark.conf.unset(matview.MATVIEW_DIR_CONF)
        for name in matview.MATVIEWS:
            view = f"{matview.MATVIEW_PREFIX}_{name}"
            if spark.catalog.tableExists(view):
                spark.table(view).unpersist()
                spark.catalog.dropTempView(view)


def test_streaming_maintenance_matches_full_refresh(spark, tmp_path):
    """maintain_incremental: the views maintained by a multi-micro-batch
    STREAM of lineitem rows (availableNow, one file per trigger) equal a
    one-shot write_full of the same data — the production maintenance
    path of the module docstring."""
    import os

    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog
    from etl_online_retail_spark.catalog import SCHEMAS

    li = catalog.load_table(spark, "lineitem", SF_SMALL).cache()
    sdir = str(tmp_path / "stream_src")
    os.makedirs(sdir)
    for b in range(3):
        shard = li.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) == b)
        scratch = str(tmp_path / f"_s{b}")
        shard.coalesce(1).write.parquet(scratch)
        part = next(f for f in os.listdir(scratch)
                    if f.endswith(".parquet"))
        os.rename(os.path.join(scratch, part),
                  os.path.join(sdir, f"s{b}.parquet"))

    stream = (spark.readStream.schema(SCHEMAS["lineitem"])
              .option("maxFilesPerTrigger", 1).parquet(sdir))
    streamed = str(tmp_path / "mv_streamed")
    q = matview.maintain_incremental(
        stream, SF_SMALL, str(tmp_path / "ckpt"), storage_dir=streamed)
    q.awaitTermination()

    full = str(tmp_path / "mv_full")
    matview.write_full(spark, SF_SMALL, storage_dir=full)

    def rows(store, name):
        tdir = matview.view_table_dir(SF_SMALL, name, store)
        df = matview._serving_relation(spark, tdir, name)
        return sorted(map(tuple, df.collect()))

    for name in matview.MATVIEWS:
        if matview.MATVIEW_META[name]["source"] != "lineitem":
            continue  # fed by another table's stream, untouched here
        assert rows(streamed, name) == rows(full, name), name


def test_navigator_serves_the_incrementally_maintained_rollup(spark, tmp_path):
    """Closes the maintenance loop: the star rollup maintained through
    the incremental partial-aggregate writer (multi-batch, replay-safe,
    then compacted) equals the one-shot rebuild, and the navigator can
    serve coarser grains off the MAINTAINED relation with exact decimal
    re-aggregation."""
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog
    from etl_online_retail_spark.functions import money
    from etl_online_retail_spark.functions.datetime_fns import month_start
    from etl_online_retail_spark.streaming.ingest import (
        compact_incremental_agg,
        partial_agg_batch_write,
        read_incremental_agg,
    )

    li = catalog.load_table(spark, "lineitem", SF_SMALL)
    o = catalog.load_table(spark, "orders", SF_SMALL)
    c = catalog.load_table(spark, "customer", SF_SMALL)
    fact = (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .select(F.col("c_nationkey").alias("nationkey"),
                    month_start("o_orderdate").alias("month_start"),
                    money.net_revenue().alias("v"),
                    F.col("l_orderkey")))
    keys = ["nationkey", "month_start"]
    table_dir = str(tmp_path / "mv")
    for b in range(4):  # four "loads", disjoint by order key
        partial_agg_batch_write(
            fact.filter(F.pmod(F.col("l_orderkey"), F.lit(4)) == b),
            b, table_dir, keys, "v")

    def rows(df):
        return sorted((r.nationkey, r.month_start, r.n_rows,
                       round(r.total, 4)) for r in df.collect())

    oneshot = (fact.groupBy(*keys)
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.sum(F.col("v").cast("decimal(18,2)"))
                    .cast("double").alias("total")))
    maintained = read_incremental_agg(spark, table_dir, keys)
    assert rows(maintained) == rows(oneshot)
    # a replayed batch overwrites its own partials: still equal
    partial_agg_batch_write(
        fact.filter(F.pmod(F.col("l_orderkey"), F.lit(4)) == 2),
        2, table_dir, keys, "v")
    assert rows(read_incremental_agg(spark, table_dir, keys)) \
        == rows(oneshot)
    # compaction folds partials without changing the answer
    compact_incremental_agg(spark, table_dir, keys)
    assert rows(read_incremental_agg(spark, table_dir, keys)) \
        == rows(oneshot)

    # serve the MAINTAINED relation through the navigator: decimal
    # partials straight off the parquet partials, re-aggregated exactly
    mv = (spark.read.parquet(table_dir)
          .groupBy(*keys).agg(F.sum("_sum").alias("revenue")))
    mv.createOrReplaceTempView(
        f"{matview.MATVIEW_PREFIX}_star_month_rollup")
    spark.conf.set(matview.MATVIEW_DIR_CONF, SF_SMALL)
    try:
        coarse = matview.navigate(spark, SF_SMALL, ["nationkey"],
                                  ["revenue"])
        assert coarse is not None
        got = sorted((r.nationkey, float(r.revenue))
                     for r in coarse.collect())
        want = sorted(
            (r.nationkey, float(r.revenue)) for r in
            fact.groupBy("nationkey")
            .agg(F.sum(F.col("v").cast("decimal(18,2)"))
                 .alias("revenue")).collect())
        assert got == want
    finally:
        spark.conf.unset(matview.MATVIEW_DIR_CONF)
        spark.catalog.dropTempView(
            f"{matview.MATVIEW_PREFIX}_star_month_rollup")


def test_maintenance_equivalence_is_a_property(spark, tmp_path):
    """Property (hypothesis): for ANY load schedule — batch count,
    replayed batch ids, autocompaction threshold, an optional offline
    compact, in any interleaving the API allows — the maintained
    ship-day view serves exactly the one-shot logical aggregate. This is
    the algebraic claim the whole serving layer rests on (partials are a
    commutative monoid; replays overwrite only themselves; compaction is
    identity on the merged value), checked beyond the hand-picked
    schedules of the example-based tests."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    li = catalog.load_table(spark, "lineitem", SF_SMALL).cache()
    want = sorted(
        map(tuple,
            matview.MATVIEWS["ship_day_rollup"](spark, SF_SMALL).collect()))

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.data())
    def check(data):
        k = data.draw(st.integers(min_value=1, max_value=5), label="k")
        replays = data.draw(
            st.lists(st.integers(min_value=0, max_value=k - 1),
                     max_size=3), label="replays")
        max_partials = data.draw(
            st.sampled_from([None, 1, 2, 8]), label="max_partials")
        offline_compact_after = data.draw(
            st.integers(min_value=0, max_value=k), label="compact_after")

        # unique per EXECUTION, not per drawn example: hypothesis
        # replays a falsifying example with the same draws, and a reused
        # directory would accumulate partials across replays
        import tempfile as _tf

        store = _tf.mkdtemp(dir=str(tmp_path))
        schedule = list(range(k)) + replays
        for i, b in enumerate(schedule):
            matview.append_batch(
                spark, SF_SMALL,
                li.filter(F.pmod(F.col("l_orderkey"), F.lit(k)) == b),
                b, names=["ship_day_rollup"], storage_dir=store,
                max_partials=max_partials)
            if i + 1 == offline_compact_after:
                matview.compact(spark, SF_SMALL,
                                names=["ship_day_rollup"],
                                storage_dir=store)
        tdir = matview.view_table_dir(SF_SMALL, "ship_day_rollup", store)
        got = sorted(map(tuple, matview._serving_relation(
            spark, tdir, "ship_day_rollup").collect()))
        assert got == want

    check()


def test_serve_as_of_time_travels_the_maintained_view(spark, tmp_path):
    """VERSION AS OF over the maintenance ledger: after k incremental
    loads, serve_as_of(n) equals the logical view rebuilt over loads
    0..n (exact decimals, all measures — incl. the multi-measure
    layout); once compaction advances the retention horizon the
    compacted-away versions refuse loudly, the newest stays exact, and
    an undated full refresh refuses every version."""
    import pytest
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    store = str(tmp_path / "mv_store")
    li = catalog.load_table(spark, "lineitem", SF_SMALL).cache()
    K = 3
    names = ["ship_day_rollup", "flag_day_rollup"]
    shard = F.pmod(F.col("l_orderkey"), F.lit(K))
    for b in range(K):
        matview.append_batch(spark, SF_SMALL, li.filter(shard == b), b,
                             names=names, storage_dir=store,
                             max_partials=None)

    def expected(name, n):
        # the logical view over loads 0..n — same aggregate shape as
        # matview._logical_view, applied to the cumulative batch
        meta = matview.MATVIEW_META[name]
        inp = matview.MATVIEW_INPUTS[name](
            spark, SF_SMALL, li.filter(shard <= n))
        aggs = [(F.count(F.lit(1)) if stored == "_n"
                 else F.sum("_v" + stored[len("_sum"):])).alias(m)
                for m, stored in meta["storage"].items()]
        return sorted(map(tuple,
                          inp.groupBy(*meta["grain"]).agg(*aggs).collect()))

    def served(name, n):
        return sorted(map(tuple, matview.serve_as_of(
            spark, SF_SMALL, name, n, storage_dir=store).collect()))

    for name in names:
        for n in range(K):
            assert served(name, n) == expected(name, n), (name, n)

    # compaction advances the retention horizon: versions under the
    # compact's coverage are gone (loudly), the newest stays exact
    for name in names:
        tdir = matview.view_table_dir(SF_SMALL, name, store)
        from etl_online_retail_spark.streaming import ingest
        ingest.autocompact_incremental_agg(
            spark, tdir, list(matview.MATVIEW_META[name]["grain"]),
            sum_type=matview.MATVIEW_META[name].get(
                "sum_type", matview._MV_SUM_TYPE))
        with pytest.raises(ValueError, match="retention"):
            matview.serve_as_of(spark, SF_SMALL, name, 0,
                                storage_dir=store).collect()
        assert served(name, K - 1) == expected(name, K - 1)

    # a full refresh is an UNDATED fold: no version is claimable
    store2 = str(tmp_path / "mv_store2")
    matview.write_full(spark, SF_SMALL, names=["ship_day_rollup"],
                       storage_dir=store2)
    with pytest.raises(ValueError, match="unknowable"):
        matview.serve_as_of(spark, SF_SMALL, "ship_day_rollup", 0,
                            storage_dir=store2).collect()


def _logical_over(spark, name, rows_df):
    """The view's logical aggregate over an arbitrary fact-row set —
    the recompute reference for CDC states (same shape as
    matview._logical_view, applied to `rows_df`)."""
    from pyspark.sql import functions as F

    meta = matview.MATVIEW_META[name]
    inp = matview.MATVIEW_INPUTS[name](spark, SF_SMALL, rows_df)
    aggs = [(F.count(F.lit(1)) if stored == "_n"
             else F.sum("_v" + stored[len("_sum"):])).alias(m)
            for m, stored in meta["storage"].items()]
    return sorted(map(tuple,
                      inp.groupBy(*meta["grain"]).agg(*aggs).collect()))


def test_cdc_retractions_maintain_views_exactly(spark, tmp_path):
    """apply_cdc_batch: retractions (delete images of previously-loaded
    rows) maintain the views exactly — through the multi-measure layout,
    a JOIN-built view, autocompaction of signed partials, a replayed CDC
    batch, a full wipe (served relation EMPTY, not zero-rows), and
    reload after the wipe."""
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    store = str(tmp_path / "mv_store")
    li = catalog.load_table(spark, "lineitem", SF_SMALL).cache()
    shard = F.pmod(F.col("l_orderkey"), F.lit(2))
    s0, s1 = li.filter(shard == 0), li.filter(shard == 1)
    names = ["ship_day_rollup", "flag_day_rollup", "star_month_rollup"]

    def served(name):
        tdir = matview.view_table_dir(SF_SMALL, name, store)
        return sorted(map(tuple, matview._serving_relation(
            spark, tdir, name).collect()))

    # load both shards, then retract shard 1 (the cancellation wave)
    matview.apply_cdc_batch(spark, SF_SMALL, 0, inserts=li,
                            names=names, storage_dir=store, max_partials=2)
    matview.apply_cdc_batch(spark, SF_SMALL, 1, deletes=s1,
                            names=names, storage_dir=store, max_partials=2)
    for name in names:
        assert served(name) == _logical_over(spark, name, s0), name

    # replayed CDC batch (at-least-once): overwrites its own partials
    matview.apply_cdc_batch(spark, SF_SMALL, 1, deletes=s1,
                            names=names, storage_dir=store, max_partials=2)
    for name in names:
        assert served(name) == _logical_over(spark, name, s0), name

    # full wipe: every remaining row retracts -> EMPTY serving relation
    # (zero-count grains are dropped, matching the base recompute)
    matview.apply_cdc_batch(spark, SF_SMALL, 2, deletes=s0,
                            names=names, storage_dir=store, max_partials=2)
    for name in names:
        assert served(name) == [], name

    # reload after the wipe, with a mixed insert+delete batch
    matview.apply_cdc_batch(spark, SF_SMALL, 3, inserts=li, deletes=s1,
                            names=names, storage_dir=store, max_partials=2)
    for name in names:
        assert served(name) == _logical_over(spark, name, s0), name


def _stored(spark, table_dir):
    """Every stored partial row, partition id included, sorted."""
    return sorted(map(tuple, spark.read.parquet(table_dir).collect()))


def test_cdc_fold_on_write_leaves_one_compact(spark, tmp_path):
    """A commit that would push a view past max_partials folds on
    write: its partial and the effective set land as ONE compact
    `-b-2`, no `_batch_id=b` original is ever written, and the table
    holds exactly what write-then-autocompact leaves. A replay of the
    folded batch afterwards changes neither the served rows nor
    as_of_partials(b)."""
    import os

    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog
    from etl_online_retail_spark.streaming import ingest

    li = catalog.load_table(spark, "lineitem", SF_SMALL).cache()
    shard = F.pmod(F.col("l_orderkey"), F.lit(2))
    s0, s1 = li.filter(shard == 0), li.filter(shard == 1)
    names = ["ship_day_rollup", "flag_day_rollup", "star_month_rollup"]
    fold, ref = str(tmp_path / "fold"), str(tmp_path / "ref")
    schedule = [dict(inserts=s0), dict(inserts=s1), dict(deletes=s1)]
    for b, change in enumerate(schedule):
        matview.apply_cdc_batch(spark, SF_SMALL, b, names=names,
                                storage_dir=fold, max_partials=2, **change)
        matview.apply_cdc_batch(spark, SF_SMALL, b, names=names,
                                storage_dir=ref, max_partials=None,
                                **change)
    for name in names:
        meta = matview.MATVIEW_META[name]
        ref_dir = matview.view_table_dir(SF_SMALL, name, ref)
        ingest.autocompact_incremental_agg(
            spark, ref_dir, list(meta["grain"]), sum_type=meta.get(
                "sum_type", matview._MV_SUM_TYPE))
        tdir = matview.view_table_dir(SF_SMALL, name, fold)
        assert ingest._list_partials(tdir) == [-4], name
        assert _stored(spark, tdir) == _stored(spark, ref_dir), name
        served = sorted(map(tuple, matview._serving_relation(
            spark, tdir, name).collect()))
        assert served == _logical_over(spark, name, s0), name

        # replay of the folded batch: an ignored, covered original
        assert ingest.as_of_partials(tdir, 2) == [-4]
        matview.apply_cdc_batch(spark, SF_SMALL, 2, deletes=s1,
                                names=[name], storage_dir=fold,
                                max_partials=2)
        assert os.path.isdir(os.path.join(tdir, "_batch_id=2")), name
        assert ingest.effective_partials(tdir) == [-4], name
        assert ingest.as_of_partials(tdir, 2) == [-4], name
        assert sorted(map(tuple, matview._serving_relation(
            spark, tdir, name).collect())) == served, name
        assert sorted(map(tuple, matview.serve_as_of(
            spark, SF_SMALL, name, 2, storage_dir=fold).collect())) \
            == served, name


def test_crossing_delete_commit_is_one_write(spark, tmp_path):
    """A delete commit on one view that crosses max_partials is one SQL
    execution, the write: deletes are signed in the plan (no weight
    column, so no localCheckpoint and no `_bad_w` collect) and the fold
    rides inside that write (no separate compaction pass)."""
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog
    from etl_online_retail_spark.streaming.ingest import _list_partials

    store = str(tmp_path / "mv_store")
    li = catalog.load_table(spark, "lineitem", SF_SMALL).cache()
    s1 = li.filter(F.pmod(F.col("l_orderkey"), F.lit(2)) == 1)
    names = ["ship_day_rollup"]
    matview.apply_cdc_batch(spark, SF_SMALL, 0, inserts=li, names=names,
                            storage_dir=store, max_partials=1)
    plans = new_plan_descriptions(spark, lambda: matview.apply_cdc_batch(
        spark, SF_SMALL, 1, deletes=s1, names=names, storage_dir=store,
        max_partials=1))
    assert len(plans) == 1, [p[:200] for p in plans]
    assert "InsertIntoHadoopFsRelationCommand" in plans[0]
    tdir = matview.view_table_dir(SF_SMALL, "ship_day_rollup", store)
    assert _list_partials(tdir) == [-3]
    served = sorted(map(tuple, matview._serving_relation(
        spark, tdir, "ship_day_rollup").collect()))
    assert served == _logical_over(
        spark, "ship_day_rollup",
        li.filter(F.pmod(F.col("l_orderkey"), F.lit(2)) == 0))


def test_cdc_maintenance_is_a_property(spark, tmp_path):
    """Property (hypothesis): for ANY CDC schedule — inserts of new
    shards interleaved with retractions of previously-live shards,
    autocompaction thresholds, crash-interrupted cleanups — the
    maintained ship-day view serves exactly the logical aggregate over
    the LIVE rows. The signed-partial algebra is a group; this checks
    the group laws end-to-end beyond the hand-picked schedules."""
    import shutil

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog
    from etl_online_retail_spark.streaming import ingest

    li = catalog.load_table(spark, "lineitem", SF_SMALL).cache()
    li.count()
    K = 4
    shard = F.pmod(F.col("l_orderkey"), F.lit(K))
    name = "ship_day_rollup"

    expected_cache = {}

    def expected(live):
        key = tuple(sorted(live))
        if key not in expected_cache:
            rows = li.filter(shard.isin(list(live)) if live
                             else F.lit(False))
            expected_cache[key] = _logical_over(spark, name, rows)
        return expected_cache[key]

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.data())
    def check(data):
        import tempfile as _tf

        store = _tf.mkdtemp(dir=str(tmp_path))
        max_partials = data.draw(st.sampled_from([None, 2, 8]),
                                 label="max_partials")
        real_rmtree = shutil.rmtree
        live = set()
        try:
            for b in range(K):
                live.add(b)
                dels = None
                if live - {b} and data.draw(st.booleans(),
                                            label=f"del@{b}"):
                    victim = data.draw(
                        st.sampled_from(sorted(live - {b})),
                        label=f"victim@{b}")
                    live.discard(victim)
                    dels = li.filter(shard == victim)
                matview.apply_cdc_batch(
                    spark, SF_SMALL, b, inserts=li.filter(shard == b),
                    deletes=dels, names=[name], storage_dir=store,
                    max_partials=max_partials)
                if data.draw(st.booleans(), label=f"crash@{b}"):
                    tdir = matview.view_table_dir(SF_SMALL, name, store)
                    shutil.rmtree = lambda p, **kw: None
                    ingest.autocompact_incremental_agg(
                        spark, tdir,
                        list(matview.MATVIEW_META[name]["grain"]),
                        sum_type=matview._MV_SUM_TYPE)
                    shutil.rmtree = real_rmtree
            tdir = matview.view_table_dir(SF_SMALL, name, store)
            got = sorted(map(tuple, matview._serving_relation(
                spark, tdir, name).collect()))
            assert got == expected(live)
        finally:
            shutil.rmtree = real_rmtree

    check()


def test_streaming_cdc_change_feed_maintains_views(spark, tmp_path):
    """maintain_incremental(op_col=...): a change feed of 'I' rows and
    'D' delete images, drained through Structured Streaming, leaves the
    maintained view equal to the logical aggregate over the net rows;
    a malformed op (single 'U') fails the stream loudly."""
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    li = catalog.load_table(spark, "lineitem", SF_SMALL)
    shard = F.pmod(F.col("l_orderkey"), F.lit(3))
    feed_dir = str(tmp_path / "feed")
    # three files: insert shards 0+1, insert shard 2, delete shard 1
    (li.filter(shard.isin(0, 1)).withColumn("_op", F.lit("I"))
     .write.parquet(feed_dir))
    (li.filter(shard == 2).withColumn("_op", F.lit("I"))
     .write.mode("append").parquet(feed_dir))
    (li.filter(shard == 1).withColumn("_op", F.lit("D"))
     .write.mode("append").parquet(feed_dir))

    store = str(tmp_path / "mv_store")
    name = "ship_day_rollup"
    stream = (spark.readStream
              .schema(spark.read.parquet(feed_dir).schema)
              .parquet(feed_dir))
    q = matview.maintain_incremental(
        stream, SF_SMALL, str(tmp_path / "ckpt"), names=[name],
        storage_dir=store, table="lineitem", op_col="_op")
    q.awaitTermination()

    tdir = matview.view_table_dir(SF_SMALL, name, store)
    got = sorted(map(tuple, matview._serving_relation(
        spark, tdir, name).collect()))
    want = _logical_over(spark, name, li.filter(shard.isin(0, 2)))
    assert got == want

    # a lone 'U' is not a valid change image -> the stream fails loudly
    import pytest

    (li.limit(1).withColumn("_op", F.lit("U"))
     .write.mode("append").parquet(feed_dir))
    q2 = matview.maintain_incremental(
        (spark.readStream
         .schema(spark.read.parquet(feed_dir).schema).parquet(feed_dir)),
        SF_SMALL, str(tmp_path / "ckpt2"), names=[name],
        storage_dir=str(tmp_path / "mv2"), table="lineitem", op_col="_op")
    with pytest.raises(Exception, match="I.*or.*D|change feed"):
        q2.awaitTermination()


def test_cdc_dimension_update_moves_customer_between_nations(spark,
                                                             tmp_path):
    """A dimension UPDATE arrives as its D(before) + I(after) pair in
    ONE CDC batch: a customer relocating to another nation must move
    their count and account balance between the customer_nation_rollup
    grains exactly — the SCD1-on-a-summary case."""
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    store = str(tmp_path / "mv_store")
    name = "customer_nation_rollup"
    cust = catalog.load_table(spark, "customer", SF_SMALL).cache()

    matview.apply_cdc_batch(spark, SF_SMALL, 0, inserts=cust,
                            names=[name], storage_dir=store,
                            table="customer")

    # relocate every customer of the smallest nation to another nation:
    # delete image = the before rows, insert image = same rows with the
    # destination nationkey
    keys = [r.c_nationkey for r in
            cust.groupBy("c_nationkey").count()
                .orderBy("count", "c_nationkey").limit(2).collect()]
    src_key, dst_key = keys[0], keys[1]
    before = cust.filter(F.col("c_nationkey") == src_key)
    after = before.withColumn(
        "c_nationkey",
        F.lit(dst_key).cast(before.schema["c_nationkey"].dataType))
    matview.apply_cdc_batch(spark, SF_SMALL, 1, inserts=after,
                            deletes=before, names=[name],
                            storage_dir=store, table="customer")

    tdir = matview.view_table_dir(SF_SMALL, name, store)
    got = sorted(map(tuple, matview._serving_relation(
        spark, tdir, name).collect()))
    moved = cust.withColumn(
        "c_nationkey",
        F.when(F.col("c_nationkey") == src_key, F.lit(dst_key))
         .otherwise(F.col("c_nationkey")))
    assert got == _logical_over(spark, name, moved)
    # the vacated nation's grain is GONE, not a zero row
    assert src_key not in {r[0] for r in got}


def test_cdc_partial_order_retraction_keeps_star_grains_live(spark,
                                                             tmp_path):
    """r10 review find: the star input pre-aggregates per ORDER, so a
    retraction of SOME of an order's lines arrives as its own order
    slice — COUNT(input rows) would net a live grain's `_n` to zero
    (silently dropping it from the served star) or leave +1 for a dead
    one. The carried `_rows` count keeps `_n` a true signed fact-row
    count. Exercises both directions: partial retraction (grains must
    STAY live, demo act 5's shape) and cross-batch insert + one-batch
    full retraction (grains must GO)."""
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    li = catalog.load_table(spark, "lineitem", SF_SMALL).cache()
    names = ["star_month_rollup", "ship_day_rollup", "flag_day_rollup"]

    # direction 1: load everything, retract the returned lines (a
    # per-order SUBSET -- 'R' lines rarely cover whole orders)
    store = str(tmp_path / "mv1")
    returned = li.filter(F.col("l_returnflag") == "R")
    kept = li.filter(F.col("l_returnflag") != "R")
    matview.apply_cdc_batch(spark, SF_SMALL, 0, inserts=li,
                            names=names, storage_dir=store)
    matview.apply_cdc_batch(spark, SF_SMALL, 1, deletes=returned,
                            names=names, storage_dir=store)
    for name in names:
        tdir = matview.view_table_dir(SF_SMALL, name, store)
        got = sorted(map(tuple, matview._serving_relation(
            spark, tdir, name).collect()))
        assert got == _logical_over(spark, name, kept), name

    # direction 2: one order's lines inserted across TWO batches (two
    # order slices, +1 each), fully retracted in ONE batch (one slice,
    # -1): slice-count would leave a phantom +1; row-count nets 0
    store2 = str(tmp_path / "mv2")
    odd = li.filter(F.col("l_linenumber") % 2 == 1)
    even = li.filter(F.col("l_linenumber") % 2 == 0)
    matview.apply_cdc_batch(spark, SF_SMALL, 0, inserts=odd,
                            names=names, storage_dir=store2)
    matview.apply_cdc_batch(spark, SF_SMALL, 1, inserts=even,
                            names=names, storage_dir=store2)
    matview.apply_cdc_batch(spark, SF_SMALL, 2, deletes=li,
                            names=names, storage_dir=store2)
    for name in names:
        tdir = matview.view_table_dir(SF_SMALL, name, store2)
        assert matview._serving_relation(
            spark, tdir, name).count() == 0, name


def test_serve_as_of_refuses_unmaintained_view_and_negative_version(
        spark, tmp_path):
    """r10 review find: an unwritten view table must refuse with the
    module's ValueError contract, not leak a parquet PATH_NOT_FOUND;
    a negative version must refuse, not serve an empty relation."""
    import pytest
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    store = str(tmp_path / "mv_store")
    with pytest.raises(ValueError, match="never maintained|no ledger"):
        matview.serve_as_of(spark, SF_SMALL, "order_day_rollup", 0,
                            storage_dir=store)

    li = catalog.load_table(spark, "lineitem", SF_SMALL)
    matview.append_batch(spark, SF_SMALL, li, 0,
                         names=["ship_day_rollup"], storage_dir=store)
    with pytest.raises(ValueError, match="no ledger"):
        matview.serve_as_of(spark, SF_SMALL, "ship_day_rollup", -3,
                            storage_dir=store)
    assert matview.serve_as_of(spark, SF_SMALL, "ship_day_rollup", 0,
                               storage_dir=store).count() > 0


def test_publish_refuses_negative_net_grains(spark, tmp_path):
    """A CDC retraction of rows that were never loaded drives a grain's
    net row count negative; publish must refuse loudly (check_liveness)
    rather than let the serve-time liveness filter hide the evidence —
    the same stance as the signed-delta join fold's strict mode."""
    import pytest
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    store = str(tmp_path / "mv_store")
    li = catalog.load_table(spark, "lineitem", SF_SMALL)
    shard = F.pmod(F.col("l_orderkey"), F.lit(2))
    name = "ship_day_rollup"
    matview.apply_cdc_batch(spark, SF_SMALL, 0,
                            inserts=li.filter(shard == 0),
                            names=[name], storage_dir=store)
    # retract EVERYTHING incl. rows never loaded (shard 1)
    matview.apply_cdc_batch(spark, SF_SMALL, 1, deletes=li,
                            names=[name], storage_dir=store)
    with pytest.raises(ValueError, match="NEGATIVE"):
        matview.publish(spark, SF_SMALL, names=[name], storage_dir=store)
    # a valid warehouse still publishes
    matview.apply_cdc_batch(spark, SF_SMALL, 2,
                            inserts=li.filter(shard == 1),
                            names=[name], storage_dir=store)
    try:
        matview.publish(spark, SF_SMALL, names=[name], storage_dir=store)
        assert matview.serve(spark, SF_SMALL, name) is not None
    finally:
        spark.conf.unset(matview.MATVIEW_DIR_CONF)
        view = f"{matview.MATVIEW_PREFIX}_{name}"
        if spark.catalog.tableExists(view):
            spark.table(view).unpersist()
            spark.catalog.dropTempView(view)


def test_layout_version_guard_refuses_mismatched_tables(spark, tmp_path):
    """r10 advice: star_month_rollup's `_n` semantics changed (v2 —
    carried lineitem count, not order-slice count); a persistent table
    written under different semantics must be REFUSED at the next
    maintenance/serve, not silently mixed. Pre-versioning tables (no
    _LAYOUT stamp) are refused the same way; write_full rebuilds and
    restamps."""
    import os

    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    store = str(tmp_path / "mv")
    li = catalog.load_table(spark, "lineitem", SF_SMALL).limit(50)
    matview.append_batch(spark, SF_SMALL, li, 0,
                         names=["star_month_rollup"], storage_dir=store)
    tdir = matview.view_table_dir(SF_SMALL, "star_month_rollup", store)
    stamp = os.path.join(tdir, "_LAYOUT")
    assert open(stamp).read().strip() == "star_month_rollup=v2"

    # a stamp from another layout version refuses every path
    with open(stamp, "w") as f:
        f.write("star_month_rollup=v1\n")
    with pytest.raises(ValueError, match="rebuild"):
        matview.append_batch(spark, SF_SMALL, li, 1,
                             names=["star_month_rollup"],
                             storage_dir=store)
    with pytest.raises(ValueError, match="rebuild"):
        matview.publish(spark, SF_SMALL, names=["star_month_rollup"],
                        storage_dir=store)
    with pytest.raises(ValueError, match="rebuild"):
        matview.serve_as_of(spark, SF_SMALL, "star_month_rollup", 0,
                            storage_dir=store)

    # a PRE-VERSIONING table (partials, no stamp) is refused too
    os.remove(stamp)
    with pytest.raises(ValueError, match="pre-versioning"):
        matview.append_batch(spark, SF_SMALL, li, 1,
                             names=["star_month_rollup"],
                             storage_dir=store)

    # write_full rebuilds and restamps; maintenance works again
    matview.write_full(spark, SF_SMALL, names=["star_month_rollup"],
                       storage_dir=store)
    assert open(stamp).read().strip() == "star_month_rollup=v2"
    matview.append_batch(spark, SF_SMALL, li, 1,
                         names=["star_month_rollup"], storage_dir=store)

    # a V1 view (unchanged semantics) whose table predates versioning
    # is stamped IN PLACE — no rebuild, history (time travel) kept
    # (r11 review find: only changed-layout views warrant the refusal)
    matview.append_batch(spark, SF_SMALL, li, 0,
                         names=["ship_day_rollup"], storage_dir=store)
    v1dir = matview.view_table_dir(SF_SMALL, "ship_day_rollup", store)
    v1stamp = os.path.join(v1dir, "_LAYOUT")
    os.remove(v1stamp)
    matview.append_batch(spark, SF_SMALL, li, 1,
                         names=["ship_day_rollup"], storage_dir=store)
    assert open(v1stamp).read().strip() == "ship_day_rollup=v1"


def test_maintenance_scans_each_source_once(spark, tmp_path, monkeypatch):
    """VERDICT r10 item 1: a lineitem load must be scanned ONCE per
    maintenance call, not once per lineitem-fed view. Asserted two ways:
    (a) the source table is LOADED exactly once per source group, and
    (b) every builder in a multi-view group receives a PERSISTED shared
    relation (so the one materializing scan feeds all sibling views),
    while single-view sources skip the persist overhead."""
    import collections

    from etl_online_retail_spark import catalog

    counts = collections.Counter()
    real = catalog.load_table

    def counting(spark, name, sf_dir):
        counts[name] += 1
        return real(spark, name, sf_dir)

    monkeypatch.setattr(catalog, "load_table", counting)

    # a shared scan is "one materializing read" either because the
    # maintenance call persisted it, or because the relation was already
    # cache-backed (another test/bench staged the table) and the
    # persist was correctly SKIPPED — accept both; require the explicit
    # persist to be absent for single-view sources
    got_cached, got_persisted = {}, {}
    for vname, builder in list(matview.MATVIEW_INPUTS.items()):
        def wrap(b, n):
            def inner(spark, sf_dir, batch=None):
                lvl = batch.storageLevel if batch is not None else None
                persisted = bool(lvl and (lvl.useMemory or lvl.useDisk))
                got_persisted[n] = persisted
                got_cached[n] = persisted or (
                    batch is not None and matview._cache_backed(batch))
                return b(spark, sf_dir, batch)
            return inner
        monkeypatch.setitem(matview.MATVIEW_INPUTS, vname,
                            wrap(builder, vname))

    store = str(tmp_path / "mv")
    matview.write_full(spark, SF_SMALL, storage_dir=store)
    # four lineitem-fed views, ONE lineitem load (dims still load per
    # view that needs them: orders = 1 star lookup + 1 as the order-day
    # source; part = 1)
    assert counts["lineitem"] == 1
    assert counts["part"] == 1
    for n in ("star_month_rollup", "ship_day_rollup",
              "product_revenue_rollup", "flag_day_rollup"):
        assert got_cached[n], f"{n} did not get the shared persisted scan"
    assert not got_persisted["order_day_rollup"]
    assert not got_persisted["customer_nation_rollup"]

    # the CDC/append path: one mixed insert+retraction batch feeds all
    # four lineitem views off ONE persisted insert + ONE persisted
    # delete relation, and never re-loads the source table
    counts.clear()
    got_cached.clear()
    li = real(spark, "lineitem", SF_SMALL)
    ins = li.limit(40)
    dels = li.limit(10)
    matview.apply_cdc_batch(spark, SF_SMALL, 0, inserts=ins, deletes=dels,
                            storage_dir=store)
    assert counts["lineitem"] == 0
    for n in ("star_month_rollup", "ship_day_rollup",
              "product_revenue_rollup", "flag_day_rollup"):
        assert got_cached[n], n


def test_navigate_grain_filter_and_aggs_guards(spark, staged_matview):
    """r11: grain_filter/grain_aggs qualification and soundness. A
    request naming a grain column only one view has routes to that view
    (others drop out via KeyError); an expression reaching BEYOND the
    grain — a measure partial — is refused loudly (filtering a partial
    does not commute with re-aggregation), never silently served."""
    from pyspark.sql import functions as F

    # routes to order_day_rollup: the only view with an order_date grain
    nav = matview.navigate(
        spark, SF_SMALL, [], ["n_orders"],
        grain_filter=lambda g: g["order_date"].isNotNull())
    assert nav is not None
    assert "order_day" in nav._jdf.queryExecution().analyzed().toString() \
        or nav.collect()[0].n_orders > 0

    # a filter that references a MEASURE column is unsound -> ValueError
    with pytest.raises(ValueError, match="grain"):
        matview.navigate(spark, SF_SMALL, [], ["n_orders"],
                         grain_filter=lambda g: F.col("n_orders") > 0)
    # same for grain_aggs
    with pytest.raises(ValueError, match="grain"):
        matview.navigate(spark, SF_SMALL, [], [],
                         grain_aggs=lambda g: [
                             F.max(F.col("total_price")).alias("m"),
                             F.max(g["order_date"]).alias("d")])
    # a grain column NO view carries -> no candidate, base plan fallback
    assert matview.navigate(
        spark, SF_SMALL, [], [],
        grain_filter=lambda g: g["no_such_grain"] > 0) is None


def test_validate_meta_refuses_monoid_measure_partials():
    """r11 guard: a view registering a MIN/MAX-style stored measure
    partial must fail at registration — the partial algebra is a
    monoid, not a group, and a CDC retraction would silently corrupt it
    while liveness stays green."""
    with pytest.raises(ValueError, match="monoid"):
        matview._validate_meta({
            "bad_view": {
                "grain": ("d",),
                "measures": {"low": "low"},
                "storage": {"low": "_min"},
                "source": "orders",
            }})
    # the real registry passes (and does at import, or nothing loads)
    matview._validate_meta()


def test_publish_enforces_dashboard_size_admission(spark, tmp_path):
    """r11 guard: the 'serving relations are dashboard-sized' admission
    rule is enforced at publish — a relation over the bound is refused
    and NOT left registered (it would otherwise be cached
    single-partition)."""
    from etl_online_retail_spark import catalog

    store = str(tmp_path / "mv")
    matview.write_full(spark, SF_SMALL, names=["ship_day_rollup"],
                       storage_dir=store)
    with pytest.raises(ValueError, match="admission"):
        matview.publish(spark, SF_SMALL, names=["ship_day_rollup"],
                        storage_dir=store, max_serve_rows=5)
    view = f"{matview.MATVIEW_PREFIX}_ship_day_rollup"
    assert not spark.catalog.tableExists(view)
    # within the bound (and with the default bound) it registers
    matview.publish(spark, SF_SMALL, names=["ship_day_rollup"],
                    storage_dir=store)
    assert spark.catalog.tableExists(view)
    spark.table(view).unpersist()
    spark.catalog.dropTempView(view)
    spark.conf.unset(matview.MATVIEW_DIR_CONF)


def test_publish_failure_rolls_back_sibling_views(spark, tmp_path):
    """r11 advice: fail-closed must include STORAGE under concurrency.
    When one view's admission check refuses, sibling threads may already
    have registered and cached their serving relations; serve() would
    never use them (the layout conf stays unset), but the
    single-partition caches would stay pinned in executor storage.
    publish() must unpersist and drop everything the failed pass
    registered before propagating."""
    store = str(tmp_path / "mv")
    names = ["customer_nation_rollup", "ship_day_rollup"]
    matview.write_full(spark, SF_SMALL, names=names, storage_dir=store)
    # customer_nation_rollup (~25 nations) fits under 100;
    # ship_day_rollup (~2k ship days) refuses — the sibling must not
    # survive the pass.
    with pytest.raises(ValueError, match="admission"):
        matview.publish(spark, SF_SMALL, names=names, storage_dir=store,
                        max_serve_rows=100)
    for n in names:
        assert not spark.catalog.tableExists(f"{matview.MATVIEW_PREFIX}_{n}")
    # the sibling's serving relation is no longer cache-backed anywhere
    cm = spark._jsparkSession.sharedState().cacheManager()
    surviving = matview._serving_relation(
        spark, matview.view_table_dir(SF_SMALL, "customer_nation_rollup",
                                      store),
        "customer_nation_rollup")
    assert not cm.lookupCachedData(surviving._jdf).isDefined()
    # a clean pass afterwards still publishes both
    matview.publish(spark, SF_SMALL, names=names, storage_dir=store)
    for n in names:
        view = f"{matview.MATVIEW_PREFIX}_{n}"
        assert spark.catalog.tableExists(view)
        spark.table(view).unpersist()
        spark.catalog.dropTempView(view)
    spark.conf.unset(matview.MATVIEW_DIR_CONF)


def _jobs(spark) -> int:
    """Jobs submitted so far (the DAGScheduler's uncapped job-id counter)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _cache_id(spark, name):
    """RDD id of the view's cached serving relation, or None when the
    view is not registered and cached: a rebuild makes a new one."""
    view = f"{matview.MATVIEW_PREFIX}_{name}"
    if not spark.catalog.tableExists(view):
        return None
    cm = spark._jsparkSession.sharedState().cacheManager()
    cached = cm.lookupCachedData(spark.table(view)._jdf)
    if not cached.isDefined():
        return None
    return (cached.get().cachedRepresentation().cacheBuilder()
            .cachedColumnBuffers().id())


def _drop_views(spark, names) -> None:
    spark.conf.unset(matview.MATVIEW_DIR_CONF)
    for name in names:
        view = f"{matview.MATVIEW_PREFIX}_{name}"
        if spark.catalog.tableExists(view):
            spark.table(view).unpersist()
            spark.catalog.dropTempView(view)


def test_publish_skips_unchanged_views(spark, tmp_path):
    """A publish over an unchanged warehouse launches no Spark job and
    keeps every cached serving relation; a lineitem-only commit rebuilds
    exactly the four lineitem-fed views and leaves the customer- and
    orders-fed ones untouched."""
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    store = str(tmp_path / "mv")
    names = list(matview.MATVIEWS)
    matview.materialize(spark, SF_SMALL, storage_dir=store)
    try:
        before = {n: _cache_id(spark, n) for n in names}
        assert None not in before.values()
        j0 = _jobs(spark)
        matview.publish(spark, SF_SMALL, storage_dir=store)
        assert _jobs(spark) == j0
        assert {n: _cache_id(spark, n) for n in names} == before
        assert matview.serve(spark, SF_SMALL, "ship_day_rollup") is not None

        li = catalog.load_table(spark, "lineitem", SF_SMALL)
        matview.apply_cdc_batch(
            spark, SF_SMALL, 0,
            deletes=li.filter(F.pmod(F.col("l_orderkey"), F.lit(4)) == 1),
            storage_dir=store)
        matview.publish(spark, SF_SMALL, storage_dir=store)
        after = {n: _cache_id(spark, n) for n in names}
        rebuilt = {n for n in names if after[n] != before[n]}
        assert rebuilt == {n for n in names
                           if matview.MATVIEW_META[n]["source"] == "lineitem"}
        assert None not in after.values()
    finally:
        _drop_views(spark, names)


def test_publish_rebuilds_a_replayed_batch(spark, tmp_path):
    """Replaying an existing `_batch_id` with DIFFERENT rows rewrites its
    part files, so publish rebuilds the view, and the served relation
    equals the recompute over the replayed rows bit for bit."""
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    store = str(tmp_path / "mv")
    names = ["ship_day_rollup", "flag_day_rollup"]
    li = catalog.load_table(spark, "lineitem", SF_SMALL)
    shard = F.pmod(F.col("l_orderkey"), F.lit(2))
    matview.apply_cdc_batch(spark, SF_SMALL, 0, inserts=li.filter(shard == 0),
                            names=names, storage_dir=store)
    try:
        matview.publish(spark, SF_SMALL, names=names, storage_dir=store)
        before = {n: _cache_id(spark, n) for n in names}
        matview.apply_cdc_batch(spark, SF_SMALL, 0,
                                inserts=li.filter(shard == 1),
                                names=names, storage_dir=store)
        j0 = _jobs(spark)
        matview.publish(spark, SF_SMALL, names=names, storage_dir=store)
        assert _jobs(spark) > j0
        for name in names:
            assert _cache_id(spark, name) not in (None, before[name]), name
            served = sorted(map(tuple, matview.serve(
                spark, SF_SMALL, name).collect()))
            assert served == _logical_over(spark, name,
                                           li.filter(shard == 1)), name
    finally:
        _drop_views(spark, names)


def test_publish_rebuilds_dropped_or_readmitted_views(spark, tmp_path):
    """A dropped temp view, or a new admission bound, forces a rebuild
    even though the ledger is unchanged."""
    store = str(tmp_path / "mv")
    name = "customer_nation_rollup"
    view = f"{matview.MATVIEW_PREFIX}_{name}"
    matview.write_full(spark, SF_SMALL, names=[name], storage_dir=store)
    try:
        matview.publish(spark, SF_SMALL, names=[name], storage_dir=store)
        first = _cache_id(spark, name)
        spark.table(view).unpersist()
        spark.catalog.dropTempView(view)
        matview.publish(spark, SF_SMALL, names=[name], storage_dir=store)
        second = _cache_id(spark, name)
        assert second not in (None, first)
        j0 = _jobs(spark)
        matview.publish(spark, SF_SMALL, names=[name], storage_dir=store,
                        max_serve_rows=1000)
        assert _jobs(spark) > j0
        assert _cache_id(spark, name) not in (None, second)
    finally:
        _drop_views(spark, [name])


def test_publish_failure_rolls_back_views_it_left_unchanged(spark,
                                                            tmp_path):
    """Fail-closed covers the views a pass skipped as unchanged: when a
    sibling's liveness check refuses, the unchanged view is unpersisted
    and dropped too, and the next clean pass rebuilds it."""
    from etl_online_retail_spark import catalog

    store = str(tmp_path / "mv")
    names = ["customer_nation_rollup", "ship_day_rollup"]
    matview.write_full(spark, SF_SMALL, names=names, storage_dir=store)
    matview.publish(spark, SF_SMALL, names=names, storage_dir=store)
    cm = spark._jsparkSession.sharedState().cacheManager()
    kept = spark.table(f"{matview.MATVIEW_PREFIX}_customer_nation_rollup")
    # retract every lineitem twice: ship-day grains net negative
    li = catalog.load_table(spark, "lineitem", SF_SMALL)
    for b in (0, 1):
        matview.apply_cdc_batch(spark, SF_SMALL, b, deletes=li,
                                names=["ship_day_rollup"], storage_dir=store)
    with pytest.raises(ValueError, match="NEGATIVE"):
        matview.publish(spark, SF_SMALL, names=names, storage_dir=store)
    for n in names:
        assert not spark.catalog.tableExists(f"{matview.MATVIEW_PREFIX}_{n}")
    assert not cm.lookupCachedData(kept._jdf).isDefined()
    assert spark.conf.get(matview.MATVIEW_DIR_CONF, None) is None
    try:
        matview.publish(spark, SF_SMALL, names=["customer_nation_rollup"],
                        storage_dir=store)
        assert _cache_id(spark, "customer_nation_rollup") is not None
    finally:
        _drop_views(spark, names)


def test_star_cdc_join_maintains_under_two_sided_change(spark, tmp_path):
    """r11 (VERDICT item 3): the join-IVM star maintenance path. A
    four-batch schedule exercises exactly what the per-batch path
    cannot express — lineitems whose order arrives LATER (the late
    order's pairs materialize from the orders-side delta), then
    retractions on BOTH sides (deleted lineitems, and an order deleted
    while its lineitems stay live). After every batch the maintained
    serving relation equals a direct recompute over the live
    lineitem x orders join."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog
    from etl_online_retail_spark.functions import money
    from etl_online_retail_spark.functions.datetime_fns import month_start

    store = str(tmp_path / "mv")
    name = "star_month_rollup"
    tdir = matview.view_table_dir(SF_SMALL, name, store)
    li = catalog.load_table(spark, "lineitem", SF_SMALL).cache()
    o = catalog.load_table(spark, "orders", SF_SMALL).cache()
    liA = li.filter(F.col("l_orderkey") % 3 == 0)
    liB = li.filter(F.col("l_orderkey") % 3 == 1)
    oA = o.filter(F.col("o_orderkey") % 3 == 0)
    oB = o.filter(F.col("o_orderkey") % 3 == 1)
    li_del = liA.filter(F.col("l_orderkey") % 9 == 0)
    o_del = oA.filter(F.col("o_orderkey") % 9 == 6)

    c = catalog.load_table(spark, "customer", SF_SMALL).select(
        "c_custkey", "c_nationkey")
    n = catalog.load_table(spark, "nation", SF_SMALL).select(
        "n_nationkey", "n_name")

    def expected(live_li, live_o):
        df = (live_li.join(live_o,
                           live_li.l_orderkey == live_o.o_orderkey)
              .join(c, F.col("o_custkey") == c.c_custkey)
              .join(n, c.c_nationkey == n.n_nationkey)
              .groupBy(F.col("c_nationkey").alias("nationkey"),
                       F.col("n_name").alias("nation"),
                       month_start("o_orderdate").alias("month_start"))
              .agg(F.sum(money.net_revenue()).cast("decimal(38,6)")
                   .alias("revenue")))
        return sorted((r.nationkey, r.nation, r.month_start, r.revenue)
                      for r in df.collect())

    def served():
        df = matview._serving_relation(spark, tdir, name)
        return sorted((r.nationkey, r.nation, r.month_start, r.revenue)
                      for r in df.collect())

    # b0: first load of slice A on both sides (old = empty)
    matview.apply_star_cdc_join(spark, SF_SMALL, 0,
                                li.limit(0), o.limit(0),
                                li_ins=liA, o_ins=oA, storage_dir=store)
    assert served() == expected(liA, oA)

    # b1: slice-B lineitems arrive BEFORE their orders — no new pairs
    matview.apply_star_cdc_join(spark, SF_SMALL, 1,
                                liA, oA, li_ins=liB, storage_dir=store)
    both_li = liA.unionByName(liB)
    assert served() == expected(both_li, oA)

    # b2: the late orders land — slice B's pairs materialize from the
    # accumulated lineitem history (the per-batch path cannot do this)
    matview.apply_star_cdc_join(spark, SF_SMALL, 2,
                                both_li, oA, o_ins=oB, storage_dir=store)
    both_o = oA.unionByName(oB)
    assert served() == expected(both_li, both_o)

    # b3: two-sided retraction — some lineitems cancel, and some orders
    # retract entirely while their lineitems stay live (their pairs
    # must vanish because the join side is gone)
    matview.apply_star_cdc_join(spark, SF_SMALL, 3,
                                both_li, both_o,
                                li_del=li_del, o_del=o_del,
                                storage_dir=store)
    live_li = both_li.exceptAll(li_del)
    live_o = both_o.exceptAll(o_del)
    assert served() == expected(live_li, live_o)

    # the maintained table publishes cleanly (liveness green) and
    # time-travels: as-of batch 2 equals the pre-retraction state
    matview.check_liveness(spark, tdir, name)
    asof = matview.serve_as_of(spark, SF_SMALL, name, 2,
                               storage_dir=store)
    assert sorted((r.nationkey, r.nation, r.month_start, r.revenue)
                  for r in asof.collect()) == expected(both_li, both_o)
    li.unpersist()
    o.unpersist()


def test_plan_walker_detects_exchange_and_missing_cache(spark):
    """The structural walker must FAIL on plans that violate what it
    asserts (r10 advice: prove the assertion is still meaningful by
    mutating the plan): an Exchange above a cached scan trips it, a
    plan with no cached scan at all trips it, and a clean
    projection-over-cache passes."""
    cached = spark.range(100).cache()
    cached.count()
    try:
        assert_no_exchange_above_cache(cached.selectExpr("id + 1 AS x"))
        with pytest.raises(AssertionError, match="Exchange"):
            assert_no_exchange_above_cache(cached.repartition(4))
        with pytest.raises(AssertionError, match="cached"):
            assert_no_exchange_above_cache(spark.range(10))
    finally:
        cached.unpersist()


def test_star_cdc_join_schedule_property(spark, tmp_path_factory):
    """Hypothesis schedule property for the join-IVM consumer: under ANY
    assignment of insert batches (either side, any order — late-arriving
    orders included) and later-batch retractions, the maintained star
    table serves exactly the direct recompute over the live
    lineitem x orders join. Complements the deterministic four-batch
    test with the adversarial interleavings only a search finds."""
    import datetime

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from etl_online_retail_spark import catalog

    custkeys = [r.c_custkey for r in
                catalog.load_table(spark, "customer", SF_SMALL)
                .select("c_custkey").limit(3).collect()]
    dates = [datetime.date(1996, 1, 15), datetime.date(1996, 2, 15),
             datetime.date(1996, 2, 20), datetime.date(1996, 3, 2)]
    c = catalog.load_table(spark, "customer", SF_SMALL).select(
        "c_custkey", "c_nationkey")
    n = catalog.load_table(spark, "nation", SF_SMALL).select(
        "n_nationkey", "n_name")

    LI_SCHEMA = "l_orderkey long, l_extendedprice double, l_discount double"
    O_SCHEMA = "o_orderkey long, o_custkey long, o_orderdate date"

    def li_df(rows):
        return spark.createDataFrame(
            [(ok, p, 0.05) for ok, p in sorted(rows)], LI_SCHEMA)

    def o_df(rows):
        return spark.createDataFrame(sorted(rows), O_SCHEMA)

    @st.composite
    def schedule(draw):
        n_batches = draw(st.integers(2, 3))
        n_orders = draw(st.integers(2, 4))
        li_pool, o_pool = [], []
        for ok in range(1, n_orders + 1):
            o_pool.append((ok, custkeys[draw(st.integers(0, 2))],
                           dates[draw(st.integers(0, 3))]))
            for j in range(draw(st.integers(1, 2))):
                li_pool.append((ok, float(100 * ok + j)))
        # each pool row gets an insert batch (or never) and, if
        # inserted, an optional STRICTLY LATER delete batch (CDC
        # contract: delete images must be live)
        events = []
        for pool, side in ((li_pool, "li"), (o_pool, "o")):
            for row in pool:
                ins = draw(st.one_of(st.none(),
                                     st.integers(0, n_batches - 1)))
                dele = None
                if ins is not None and ins < n_batches - 1:
                    dele = draw(st.one_of(
                        st.none(), st.integers(ins + 1, n_batches - 1)))
                events.append((side, row, ins, dele))
        return n_batches, events

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(schedule())
    def check(sched):
        n_batches, events = sched
        store = str(tmp_path_factory.mktemp("star_ivm"))
        tdir = matview.view_table_dir(SF_SMALL, "star_month_rollup",
                                      store)
        live_li, live_o = set(), set()
        ran = False
        for b in range(n_batches):
            li_ins = {r for s, r, i, _ in events
                      if s == "li" and i == b}
            li_del = {r for s, r, _, d in events
                      if s == "li" and d == b}
            o_ins = {r for s, r, i, _ in events if s == "o" and i == b}
            o_del = {r for s, r, _, d in events if s == "o" and d == b}
            if not (li_ins or li_del or o_ins or o_del):
                continue
            matview.apply_star_cdc_join(
                spark, SF_SMALL, b,
                li_df(live_li), o_df(live_o),
                li_ins=li_df(li_ins) if li_ins else None,
                li_del=li_df(li_del) if li_del else None,
                o_ins=o_df(o_ins) if o_ins else None,
                o_del=o_df(o_del) if o_del else None,
                storage_dir=store, max_partials=2)
            ran = True
            live_li = (live_li | li_ins) - li_del
            live_o = (live_o | o_ins) - o_del
        if not ran:
            return
        from etl_online_retail_spark.streaming import ingest

        if not ingest.effective_partials(tdir):
            # every batch's join delta was empty (e.g. lineitems whose
            # orders never arrived): no partition was ever written —
            # publish would skip the view; the live join must be empty
            served = []
        else:
            served = sorted(
                (r.nationkey, r.nation, r.month_start, r.revenue)
                for r in matview._serving_relation(
                    spark, tdir, "star_month_rollup").collect())
        want_df = (li_df(live_li).join(
                       o_df(live_o),
                       F.col("l_orderkey") == F.col("o_orderkey"))
                   .join(c, F.col("o_custkey") == c.c_custkey)
                   .join(n, c.c_nationkey == n.n_nationkey)
                   .groupBy(F.col("c_nationkey").alias("nationkey"),
                            F.col("n_name").alias("nation"),
                            F.date_trunc("month", "o_orderdate")
                            .cast("date").alias("month_start"))
                   .agg(F.sum(F.col("l_extendedprice")
                              .cast("decimal(18,2)")
                              * F.lit(0.95).cast("decimal(18,4)"))
                        .cast("decimal(38,6)").alias("revenue")))
        want = sorted((r.nationkey, r.nation, r.month_start, r.revenue)
                      for r in want_df.collect())
        assert served == want, \
            f"schedule diverged: served {served} want {want}"
        if ingest.effective_partials(tdir):
            matview.check_liveness(spark, tdir, "star_month_rollup")

    check()
