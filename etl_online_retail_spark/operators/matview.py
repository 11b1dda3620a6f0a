"""Materialized aggregate views (summary tables) with query rewrite.

The reference serves its dashboard off a warm Postgres warehouse; the
classic warehouse answer for a fixed star-join dashboard query is a
month-grain summary table maintained alongside the fact load (the
"aggregate navigator" pattern). This module is the engine-side version:

- A registry of *view definitions* — each a deterministic aggregation of
  a per-row FACT INPUT (grain columns + an exact DECIMAL value term), so
  any further re-aggregation composes exactly (sum-of-sums; see
  functions/money.py).
- PERSISTED STORAGE (r10): each view is a managed parquet table in the
  incremental partial-aggregate layout (streaming/ingest.py —
  `_batch_id`-partitioned (count, decimal sum) partials), written by
  :func:`materialize` for a full refresh and maintained under multi-batch
  loads by :func:`append_batch` / :func:`maintain_incremental` with the
  ingest writer's replay-safety and crash-safe fold on write verbatim
  (the batch that crosses `max_partials` lands as a coverage compact).
- CDC (r10): :func:`apply_cdc_batch` maintains the same tables under
  RETRACTIONS (delete images ride the partial layout as signed terms —
  negated values and a negative row count; the partial algebra is a
  group, not just a monoid), covering the online-retail cancellation
  case the reference drops at ingest;
  :func:`serve_as_of` time-travels any view to its state after
  maintenance batch N off the `_batch_id` ledger.
- :func:`publish` registers the serving relations (the merged effective
  partials, cached) and announces the layout via ``spark.graft.matview
  .dir`` exactly like the co-bucketed fact layout (catalog
  .BUCKETED_DIR_CONF). Because the table is on disk, a new session
  publishes WITHOUT rebuilding — the cache was the round-9 stopgap, the
  written table is the warehouse design.
- Queries opt in through :func:`serve` / :func:`navigate`: when the view
  for the *same* source directory is published they rewrite onto the
  summary relation, otherwise they run their base-table plan unchanged —
  so the driver's oracle gate always exercises the base plan,
  tests/test_matview.py pins view-plan == base-plan equality (including
  after multi-batch maintenance with a replayed batch), and
  `scripts/verify_local.py --staged` hash-checks the SERVED plans
  directly against DuckDB.

Scale story (100 TB): the grains are independent of fact size (ship day:
~2.5k rows; product name: |distinct names|; (nation, month): ~25 x
months; customer nation: ~25 rows). A 1000-executor cluster refreshes a
view with one map-side-combined pass over the day's new partition
(append_batch), the nightly compaction folds partials (compact), and the
dashboard query never touches the fact table. Maintenance reads each
source ONCE per call (r11): same-source views share one persisted scan,
pruned to the union of the columns their builders touch — the day's
100 TB partition is read off storage once, not once per fed view (and
an already-cache-backed source, e.g. the bench's staged tables, is fed
through the existing cache without a second copy). Each view names its SOURCE
table (MATVIEW_META["source"]); a load of that table's new rows
maintains exactly the views it feeds — lineitem loads refresh the
revenue rollups, customer-dim loads the nation rollup.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_online_retail_spark import catalog
from etl_online_retail_spark.functions import money
from etl_online_retail_spark.functions.datetime_fns import month_start
from etl_online_retail_spark.operators import ivm, joins
from etl_online_retail_spark.session import run_concurrently
from etl_online_retail_spark.streaming import ingest

MATVIEW_DIR_CONF = "spark.graft.matview.dir"
MATVIEW_PREFIX = "graft_mv"

# Partial-LAYOUT versions: bumped whenever a view's stored partial
# SEMANTICS change incompatibly (not on additive code changes). A
# persistent table written under one version must never be appended to /
# retracted against / served by code expecting another — the mix is
# silently wrong in exactly the way no runtime check can reconstruct.
# star_month_rollup is v2: its `_n` changed from order-slice count to
# carried lineitem count (count_col="_rows", r10); a v1 table's `_n`
# would skew the CDC `_live > 0` grain-drop and trip liveness at
# publish. Tables default to v1; every write/serve path stamps or
# checks `_LAYOUT` in the table dir (underscore-prefixed, so Spark's
# partition discovery ignores it) and refuses mismatches, requiring a
# write_full rebuild (r10 advice).
LAYOUT_VERSIONS: dict[str, int] = {"star_month_rollup": 2}


def _layout_stamp(name: str) -> str:
    return f"{name}=v{LAYOUT_VERSIONS.get(name, 1)}"


def _check_or_stamp_layout(table_dir: str, name: str) -> None:
    """Refuse a table whose on-disk layout version mismatches the code's;
    stamp new/empty tables with the current version. Call before every
    maintenance write and before serving.

    An UNSTAMPED table with partials (written by pre-versioning code)
    is refused only when the view's current version is > 1 — v1 IS the
    pre-versioning semantics by definition, so v1 views are stamped in
    place and keep their history (time travel included); forcing a
    rebuild of an unchanged-layout table would throw away its ledger
    for nothing (r11 review find)."""
    path = os.path.join(table_dir, "_LAYOUT")
    want = _layout_stamp(name)
    if os.path.exists(path):
        with open(path) as f:
            got = f.read().strip()
        if got != want:
            raise ValueError(
                f"matview table {table_dir} was written under layout "
                f"{got!r} but this code maintains {want!r}: mixing the "
                f"two semantics in one table is silently wrong — rebuild "
                f"with write_full()")
        return
    if LAYOUT_VERSIONS.get(name, 1) > 1 and \
            ingest.effective_partials(table_dir):
        raise ValueError(
            f"matview table {table_dir} has partials but no _LAYOUT "
            f"stamp (written by pre-versioning code) and {name!r}'s "
            f"current layout is {want!r} with changed partial "
            f"semantics: rebuild with write_full()")
    os.makedirs(table_dir, exist_ok=True)
    with open(path, "w") as f:
        f.write(want + "\n")

# net_revenue() is decimal(18,2) * decimal(18,4) = decimal(37,6); its SUM
# is decimal(38,6). The partial layout must keep at least that scale —
# the ingest default (money's 2-decimal scale) would round scale-6 terms
# and break the bit-identical view == base-plan contract. A view whose
# measures need a wider scale pins its own via MATVIEW_META["sum_type"]
# (flag_day_rollup: scale 10 for the charge term — lower-scale measures
# widen losslessly).
_MV_SUM_TYPE = "decimal(38,6)"


def _src(spark: SparkSession, sf_dir: str, table: str,
         batch: DataFrame | None) -> DataFrame:
    return batch if batch is not None \
        else catalog.load_table(spark, table, sf_dir)


def _star_month_input(spark: SparkSession, sf_dir: str,
                      batch: DataFrame | None = None) -> DataFrame:
    """Fact input at (customer nation, order month): the star dashboard
    grain. Revenue is pre-aggregated per ORDER below the join — every
    grain attribute is functionally determined by the orderkey, so the
    exact decimal sum splits into sum-of-sums and the join probe shrinks
    ~4x (lineitems per order); on the bucketed staged layout the orderkey
    groupBy needs no shuffle. Incremental batches join the same
    orders/customer relations; at cluster scale that lookup prunes to the
    batch's keys on the co-bucketed orderkey layout."""
    li = _src(spark, sf_dir, "lineitem", batch)
    o = catalog.load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate")
    c = catalog.load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey")
    n = catalog.load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name")
    # `_rows` carries each order-slice's TRUE lineitem count: the
    # pre-aggregation means COUNT(*) over this input counts order
    # slices, which is not a liveness signal under PARTIAL retraction
    # (a CDC delete of some of an order's lines arrives as its own
    # slice) — the writer's count_col turns `_n` back into a real
    # signed fact-row count (META "count_col"; r10 review find).
    per_order = (li.groupBy("l_orderkey")
                   .agg(F.sum(money.net_revenue()).alias("_v"),
                        F.count(F.lit(1)).alias("_rows")))
    return (per_order.join(o, per_order.l_orderkey == o.o_orderkey)
              .join(joins.size_guarded_broadcast(c), o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .select(F.col("c_nationkey").alias("nationkey"),
                      F.col("n_name").alias("nation"),
                      month_start("o_orderdate").alias("month_start"),
                      "_v", "_rows"))


def _ship_day_input(spark: SparkSession, sf_dir: str,
                    batch: DataFrame | None = None) -> DataFrame:
    """Fact input at ship DATE: the calendar-hierarchy grain (~|distinct
    ship dates| keys — a few thousand for years of data, independent of
    fact size). The row count rides as the partial `_n`, so the one view
    serves the whole y/m/d hierarchy incl. ROLLUP shapes and the global
    aggregate bit-identically."""
    li = _src(spark, sf_dir, "lineitem", batch)
    return li.select(F.col("l_shipdate").alias("ship_date"),
                     money.net_revenue().alias("_v"))


def _product_input(spark: SparkSession, sf_dir: str,
                   batch: DataFrame | None = None) -> DataFrame:
    """Fact input at product NAME: the reference dashboard's top-products
    chart grain (its Superset slice is GROUP BY p_name). One broadcast
    dim lookup per load/batch."""
    li = _src(spark, sf_dir, "lineitem", batch)
    p = catalog.load_table(spark, "part", sf_dir).select(
        "p_partkey", "p_name")
    return (li.join(joins.size_guarded_broadcast(p),
                    li.l_partkey == p.p_partkey)
              .select("p_name", money.net_revenue().alias("_v")))


def _flag_day_input(spark: SparkSession, sf_dir: str,
                    batch: DataFrame | None = None) -> DataFrame:
    """Fact input at (return flag, line status, ship date): the
    pricing-summary family's grain (~6 x |ship dates| ≈ 15k rows — a
    40x compression of the fact that is INDEPENDENT of fact size). The
    first MULTI-MEASURE view: five exact decimal partials + the count,
    exactly the summary a TPC-H Q1 dashboard keeps warm — it serves
    pricing_summary, revenue_cube, revenue_grouping_sets and
    revenue_pivot_by_flag from one table. Partials are stored at
    decimal scale 10 (the charge term's scale); every lower-scale
    measure widens losslessly, so all re-aggregations remain
    bit-identical to the base plans."""
    li = _src(spark, sf_dir, "lineitem", batch)
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    charge = price * ((F.lit(1.0) - F.col("l_discount"))
                      * (F.lit(1.0) + F.col("l_tax"))).cast("decimal(18,8)")
    return li.select(
        "l_returnflag", "l_linestatus",
        F.col("l_shipdate").alias("ship_date"),
        F.col("l_quantity").cast("decimal(18,2)").alias("_v_qty"),
        price.alias("_v_price"),
        money.net_revenue().alias("_v_rev"),
        charge.alias("_v_charge"),
        F.col("l_discount").cast("decimal(18,2)").alias("_v_disc"))


def _order_day_input(spark: SparkSession, sf_dir: str,
                     batch: DataFrame | None = None) -> DataFrame:
    """Fact input at ORDER date (~2.5k rows): total-price partials +
    order counts per day. Source table is ORDERS — maintained by order
    loads. Serves the smart-key range scans (a range filter on the
    grain column commutes with re-aggregation) and the calendar-bounds
    probes (MIN/MAX of the grain column itself — every view day has at
    least one order, and the yyyymmdd smart key is monotonic in the
    date)."""
    o = _src(spark, sf_dir, "orders", batch)
    return o.select(F.col("o_orderdate").alias("order_date"),
                    money.exact("o_totalprice").alias("_v"))


def _customer_nation_input(spark: SparkSession, sf_dir: str,
                           batch: DataFrame | None = None) -> DataFrame:
    """DIM input at customer nation: the reference dashboard's "customer
    location" slice grain (~25 rows). Source table is CUSTOMER, not
    lineitem — the view is maintained by customer-dim loads. The count
    partial `_n` is the slice's measure (customers per nation — exact
    because c_custkey is the enforced unique key, so one load row = one
    customer); the account-balance decimal sum rides as a second
    composable partial. The nation NAME is denormalized into the grain
    at BUILD time (the Kimball summary shape): n_nationkey is the
    nation dim's unique key and the customer->nation FK is enforced, so
    the broadcast lookup is 1:1 and lossless — and the served dashboard
    plan becomes a pure sort-limit with no join at all."""
    c = _src(spark, sf_dir, "customer", batch)
    n = catalog.load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .select(F.col("c_nationkey").alias("nationkey"),
                     F.col("n_name").alias("nation"),
                     money.exact("c_acctbal").alias("_v")))


# name -> input builder (spark, sf_dir, source_batch|None) -> DataFrame
# (grain columns + `_v` exact-decimal value term). None = the full
# catalog source table (a full refresh); a DataFrame = one incremental
# batch of new rows of the view's SOURCE table (MATVIEW_META["source"]).
MATVIEW_INPUTS: dict[str, Callable[..., DataFrame]] = {
    "star_month_rollup": _star_month_input,
    "ship_day_rollup": _ship_day_input,
    "product_revenue_rollup": _product_input,
    "customer_nation_rollup": _customer_nation_input,
    "flag_day_rollup": _flag_day_input,
    "order_day_rollup": _order_day_input,
}

# Navigator metadata: each view's GRAIN (the columns it is grouped by),
# the measures it carries as exact-decimal PARTIAL sums, and how each
# measure is stored in the partial layout (`_sum` = decimal revenue
# partial, `_n` = count partial). A measure kept as a decimal partial
# re-aggregates exactly at any coarser grain (sum-of-sums — the money.py
# discipline), which is what makes automatic rewrite SOUND: the
# navigator only ever rolls partials up, never apportions them down.
# `source_cols` lists the SOURCE-table columns the view's input builder
# reads, so maintenance can prune the shared source scan to the union
# of what its views actually touch (_shared_source below).
MATVIEW_META: dict[str, dict] = {
    "star_month_rollup": {
        # the nation NAME is denormalized into the grain at build time
        # (1:1 under the nation PK + enforced FK — same grain as the
        # key alone), so dashboard serves need no serve-time join
        "grain": ("nationkey", "nation", "month_start"),
        "measures": {"revenue": "revenue"},
        "storage": {"revenue": "_sum"},
        "joined": True,    # carries the FK-losslessness assumption
        "source": "lineitem",
        "source_cols": ("l_orderkey", "l_extendedprice", "l_discount"),
        # input is pre-aggregated per order: `_n` must come from the
        # carried lineitem count, not COUNT(input rows)
        "count_col": "_rows",
    },
    "ship_day_rollup": {
        "grain": ("ship_date",),
        "measures": {"revenue": "revenue", "n_rows": "n_rows"},
        "storage": {"revenue": "_sum", "n_rows": "_n"},
        "joined": False,
        "source": "lineitem",
        "source_cols": ("l_shipdate", "l_extendedprice", "l_discount"),
    },
    "product_revenue_rollup": {
        "grain": ("p_name",),
        "measures": {"revenue": "revenue", "n_rows": "n_rows"},
        "storage": {"revenue": "_sum", "n_rows": "_n"},
        "joined": True,
        "source": "lineitem",
        "source_cols": ("l_partkey", "l_extendedprice", "l_discount"),
    },
    "customer_nation_rollup": {
        # nation is IN the grain as both key and denormalized name —
        # 1:1 under the nation PK + enforced FK, so the pair is the
        # same grain as the key alone
        "grain": ("nationkey", "nation"),
        "measures": {"n_customers": "n_customers", "acctbal": "acctbal"},
        "storage": {"n_customers": "_n", "acctbal": "_sum"},
        "joined": True,   # the name lookup carries the FK assumption
        "source": "customer",
        "source_cols": ("c_nationkey", "c_acctbal"),
    },
    "order_day_rollup": {
        "grain": ("order_date",),
        "measures": {"total_price": "total_price", "n_orders": "n_orders"},
        "storage": {"total_price": "_sum", "n_orders": "_n"},
        "joined": False,
        "source": "orders",
        "source_cols": ("o_orderdate", "o_totalprice"),
    },
    "flag_day_rollup": {
        "grain": ("l_returnflag", "l_linestatus", "ship_date"),
        "measures": {"qty": "qty", "base_price": "base_price",
                     "revenue": "revenue", "charge": "charge",
                     "disc": "disc", "n_rows": "n_rows"},
        "storage": {"qty": "_sum_qty", "base_price": "_sum_price",
                    "revenue": "_sum_rev", "charge": "_sum_charge",
                    "disc": "_sum_disc", "n_rows": "_n"},
        "joined": False,
        "source": "lineitem",
        "source_cols": ("l_returnflag", "l_linestatus", "l_shipdate",
                        "l_quantity", "l_extendedprice", "l_discount",
                        "l_tax"),
        # the charge term is decimal(37,10); every other measure's
        # scale (2 or 6) widens into scale 10 losslessly
        "sum_type": "decimal(38,10)",
    },
}


def _validate_meta(meta_by_name: dict[str, dict] | None = None) -> None:
    """Refuse view registrations whose stored partials are not a GROUP
    under addition. The maintenance paths assume every partial can be
    RETRACTED exactly (apply_cdc_batch writes delete images as negated
    partials): counts (`_n`) and decimal sums (`_sum*`) have exact
    inverses, but a MIN/MAX-style partial is a monoid — there is no
    "un-min" — so a CDC retraction would silently corrupt it while
    liveness checks stay green. Grain-column bounds remain available
    soundly through navigate(grain_aggs=...), which computes them from
    the grain values themselves (group-maintained liveness), never from
    stored extremum partials. Runs at import over MATVIEW_META so a bad
    registration fails the whole module load, not the first retraction
    months later."""
    metas = MATVIEW_META if meta_by_name is None else meta_by_name
    for name, meta in metas.items():
        if not meta.get("grain"):
            raise ValueError(f"matview {name!r}: empty grain")
        if set(meta["measures"]) != set(meta["storage"]):
            raise ValueError(
                f"matview {name!r}: measures/storage keys differ")
        for measure, stored in meta["storage"].items():
            if stored != "_n" and not stored.startswith("_sum"):
                raise ValueError(
                    f"matview {name!r} stores measure {measure!r} as "
                    f"{stored!r}: only group-algebra partials are "
                    f"maintainable (`_n` counts, `_sum*` decimal sums). "
                    f"MIN/MAX-style measure partials form a monoid, not "
                    f"a group — CDC retraction would silently corrupt "
                    f"them. Compute bounds from GRAIN columns via "
                    f"navigate(grain_aggs=...) instead")


def _logical_view(name: str) -> Callable[[SparkSession, str], DataFrame]:
    """The view's one-shot logical definition (input -> grain aggregate)
    — the recompute-from-base reference the maintained table must equal."""
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        meta = MATVIEW_META[name]
        inp = MATVIEW_INPUTS[name](spark, sf_dir)
        # stored `_sum<sfx>` partials aggregate the input's `_v<sfx>`
        # value column; `_n` is the row count
        aggs = [(F.count(F.lit(1)) if stored == "_n"
                 else F.sum("_v" + stored[len("_sum"):])).alias(measure)
                for measure, stored in meta["storage"].items()]
        return inp.groupBy(*meta["grain"]).agg(*aggs)
    return build


if set(MATVIEW_INPUTS) != set(MATVIEW_META):
    raise ValueError("MATVIEW_INPUTS and MATVIEW_META must register the "
                     "same view names")
_validate_meta()

MATVIEWS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: _logical_view(name) for name in MATVIEW_INPUTS
}

# Semantic-layer time dimensions: (dataset, fact time column) -> the
# registered view grain column it maps onto, so the chart compiler
# (plans/semantic.py) can route time-grain charts through navigate().
SEMANTIC_TIME_DIMS: dict[tuple[str, str], str] = {
    ("lineitem", "l_shipdate"): "ship_date",
}


# ---------------------------------------------------------------------------
# storage layout


def storage_dir_for(sf_dir: str, storage_dir: str | None = None) -> str:
    """Root directory holding this warehouse's view tables. Keyed by the
    absolute source path so two warehouses can never serve each other's
    summaries even if both use the default location."""
    if storage_dir is not None:
        return storage_dir
    key = hashlib.sha1(
        os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), "graft_matviews", key)


def view_table_dir(sf_dir: str, name: str,
                   storage_dir: str | None = None) -> str:
    return os.path.join(storage_dir_for(sf_dir, storage_dir), name)


# ---------------------------------------------------------------------------
# write paths: full refresh, incremental batches, streaming maintenance


def _shared_source(df: DataFrame, group: list[str]) -> DataFrame:
    """Prune a shared source relation to the union of the columns the
    group's input builders read (MATVIEW_META["source_cols"]) — the
    persisted shared scan then holds only the hot columns, not the whole
    fact row. Falls back to the unpruned relation when any view in the
    group lacks the metadata or the relation doesn't carry the declared
    columns (e.g. a test feeding a pre-projected batch)."""
    cols: set[str] = set()
    for name in group:
        declared = MATVIEW_META[name].get("source_cols")
        if not declared:
            return df
        cols |= set(declared)
    if not cols <= set(df.columns):
        return df
    return df.select(*sorted(cols))


def _by_source(names: list[str]) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for name in names:
        out.setdefault(MATVIEW_META[name]["source"], []).append(name)
    return out


def _cache_backed(df: DataFrame) -> bool:
    """True when the relation already reads from Spark's cache manager
    (e.g. the bench stages base tables with .cache() before
    materializing views). Persisting a SECOND copy of an
    already-in-memory relation costs a redundant cache build and doubles
    the memory hold — the shared-scan persist skips it; the
    scanned-once property already holds through the existing cache.

    Walks the optimized logical plan's node CLASSES (same discipline as
    the tests' assert_no_exchange_above_cache walker) rather than
    substring-matching the rendered string: a plan-format change cannot
    silently flip this to False (r11 verdict note — the miss would only
    cost a redundant persist, but the string check was the one
    rendered-plan match left in package code)."""
    # the whole check degrades to False on ANY failure (the contract:
    # a miss only costs a redundant persist, never a failed
    # materialization), and the walk is iterative — a recursive walk
    # over a deep optimized plan could hit the Python recursion limit
    # (r12 review)
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName().startswith(
                    "InMemoryRelation"):
                return True
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    except Exception:
        pass
    return False


# Promoted to a shared public utility with a worker cap (r11 advice);
# the maintenance call sites and docstrings below reference it by the
# old private name, which stays as the canonical in-module spelling.
_run_concurrently = run_concurrently


def write_full(spark: SparkSession, sf_dir: str,
               names: list[str] | None = None,
               storage_dir: str | None = None) -> None:
    """Full refresh: clear each view table and write the whole fact
    input in one map-side-combined pass per view — stored as the LEGACY
    FULL-COMPACT partition (`_batch_id=-1`), which the layout reserves
    for "everything so far folded into one". Non-negative ids stay free
    for incremental loads: a subsequent maintain_incremental stream's
    FIRST micro-batch is id 0, and a full refresh written there would be
    silently overwritten by it (dynamic partition overwrite) — the
    id -1 slot makes the collision impossible, readers include it
    alongside streamed originals (ingest.effective_partials), and the
    first autocompaction folds it like any other history.

    ONE SCAN PER SOURCE (r11): views are grouped by their source table
    and each source is scanned once — pruned to the union of the
    columns the group's builders read, persisted (memory, disk
    spill-over), and fed to every same-source view — instead of once
    per view (four lineitem scans for the four lineitem-fed views). At
    100 TB the day's partition is read off disk exactly once per
    maintenance pass; sources feeding a single view skip the persist
    (the cache write would cost more than the one scan it saves).

    CONCURRENT VIEW WRITES (r11): the per-view write jobs run through
    _run_concurrently (the shared persisted scan is computed once; the
    block manager locks per partition; distinct views write distinct
    table dirs, so there is no write-path overlap)."""
    groups = _by_source(list(names or MATVIEW_INPUTS))
    shared_by_source: dict[str, DataFrame] = {}
    persisted: list[DataFrame] = []
    for source, group in groups.items():
        shared = _shared_source(
            catalog.load_table(spark, source, sf_dir), group)
        if len(group) > 1 and not _cache_backed(shared):
            shared = shared.persist()
            persisted.append(shared)
        shared_by_source[source] = shared

    def write_one(task: tuple[str, str]) -> None:
        source, name = task
        table_dir = view_table_dir(sf_dir, name, storage_dir)
        shutil.rmtree(table_dir, ignore_errors=True)
        _TABLE_SCHEMAS.pop(os.path.abspath(table_dir), None)
        _check_or_stamp_layout(table_dir, name)
        inp = MATVIEW_INPUTS[name](spark, sf_dir, shared_by_source[source])
        ingest.partial_multi_agg_batch_write(
            inp, -1, table_dir, list(MATVIEW_META[name]["grain"]),
            [c for c in inp.columns if c.startswith("_v")],
            sum_type=MATVIEW_META[name].get("sum_type", _MV_SUM_TYPE),
            count_col=MATVIEW_META[name].get("count_col"))

    tasks = [(source, name)
             for source, group in groups.items() for name in group]
    try:
        _run_concurrently(write_one, tasks)
    finally:
        for df in persisted:
            df.unpersist()


def append_batch(spark: SparkSession, sf_dir: str, batch: DataFrame,
                 batch_id: int, names: list[str] | None = None,
                 storage_dir: str | None = None,
                 max_partials: int | None = 8,
                 table: str = "lineitem") -> None:
    """Maintain the views under one incremental load of new rows of
    `table`: write each SOURCE-MATCHING view's partial for this batch
    (replay-safe — a replayed batch_id overwrites exactly its own
    partials), folding it into a compact when it would push the partial
    count past max_partials (crash-safe, ingest._write_partial). Work is
    proportional to the BATCH, never the accumulated fact; views fed by
    other source tables are untouched (their batch streams maintain
    them separately)."""
    apply_cdc_batch(spark, sf_dir, batch_id, inserts=batch, names=names,
                    storage_dir=storage_dir, max_partials=max_partials,
                    table=table)


def apply_cdc_batch(spark: SparkSession, sf_dir: str, batch_id: int,
                    inserts: DataFrame | None = None,
                    deletes: DataFrame | None = None,
                    names: list[str] | None = None,
                    storage_dir: str | None = None,
                    max_partials: int | None = 8,
                    table: str = "lineitem") -> None:
    """Maintain the views under one CDC batch of `table`: `inserts` are
    new fact rows, `deletes` are previously-loaded rows now retracted
    (the online-retail cancellation case — the reference's source data
    carries 'C'-prefixed cancellation invoices, reference etl.py:46-269
    drops them at ingest; a warehouse that must UNWIND them instead
    needs retraction, not a fact rewrite).

    Retractions ride the exact same partial layout as signed terms:
    the partial aggregates form a GROUP under addition, not just a
    monoid. Each side of the batch is signed in the plan — a deleted
    row contributes its negated values (exact-decimal negation keeps
    the type) and a row count of -1 (or minus its fact-row count where
    META names a count_col) — so inserts and deletes union into ONE
    aggregation and ONE write per view, through the writer's count_col
    path (ingest.partial_multi_agg_batch_write). Replay/compaction/
    time-travel are inherited unchanged (a replayed CDC batch
    overwrites its own partition; a compact folds signed partials like
    any others). When the batch would push a view past `max_partials`
    effective partials, the write itself folds it with them into one
    coverage compact (ingest._write_partial), so a crossing commit is
    still one write. A grain whose rows all retract nets to count 0 and
    is dropped at serve time (_merge_partials), matching the base
    recompute, which would not have the grain at all.

    Contract: `deletes` rows must be rows previously inserted (standard
    CDC delete images); publish's liveness check refuses a view whose
    grains net negative. Work stays proportional to the batch — and the
    batch is SCANNED ONCE (r11): when several views share the source,
    the insert/delete relations are pruned to the union of the group's
    source columns and persisted around the loop, so each view derives
    its input from the cached batch instead of re-reading the feed."""
    if inserts is None and deletes is None:
        raise ValueError("apply_cdc_batch needs inserts, deletes, or both")
    group = [n for n in (names or list(MATVIEW_INPUTS))
             if MATVIEW_META[n]["source"] == table]
    if not group:
        return
    ins_persisted = del_persisted = False
    if len(group) > 1:
        if inserts is not None:
            inserts = _shared_source(inserts, group)
            if not _cache_backed(inserts):
                inserts = inserts.persist()
                ins_persisted = True
        if deletes is not None:
            deletes = _shared_source(deletes, group)
            if not _cache_backed(deletes):
                deletes = deletes.persist()
                del_persisted = True

    def maintain_one(name: str) -> None:
        # each side carries its own sign: values negated on delete
        # images (exact: -decimal keeps its type) and a count term `_c`
        # of ±1, or ±the input row's fact-row count where META names a
        # count_col; the writer sums `_c` into `_n` (its count_col path)
        table_dir = view_table_dir(sf_dir, name, storage_dir)
        _check_or_stamp_layout(table_dir, name)
        meta = MATVIEW_META[name]
        keys = list(meta["grain"])
        rows = F.col(meta["count_col"]) if meta.get("count_col") \
            else F.lit(1)
        inp = None
        for batch, signed in ((inserts, lambda e: e),
                              (deletes, lambda e: -e)):
            if batch is None:
                continue
            side = MATVIEW_INPUTS[name](spark, sf_dir, batch)
            values = [c for c in side.columns if c.startswith("_v")]
            side = side.select(
                *keys, *[signed(F.col(c)).alias(c) for c in values],
                signed(rows).alias("_c"))
            inp = side if inp is None else inp.unionByName(side)
        ingest.partial_multi_agg_batch_write(
            inp, batch_id, table_dir, keys, values,
            sum_type=meta.get("sum_type", _MV_SUM_TYPE), count_col="_c",
            max_partials=max_partials)

    # same-source views maintain CONCURRENTLY (r11): each view's write
    # (folded into a compact when it crosses max_partials) touches only
    # its own table dir and the shared batch is persisted above —
    # per-micro-batch latency drops to the slowest single view instead
    # of the sum (measured in scripts/cdc_stream_sf01.py /
    # PERFORMANCE.md)
    try:
        _run_concurrently(maintain_one, group)
    finally:
        if ins_persisted:
            inserts.unpersist()
        if del_persisted:
            deletes.unpersist()


def apply_star_cdc_join(spark: SparkSession, sf_dir: str, batch_id: int,
                        li_old: DataFrame, o_old: DataFrame,
                        li_ins: DataFrame | None = None,
                        li_del: DataFrame | None = None,
                        o_ins: DataFrame | None = None,
                        o_del: DataFrame | None = None,
                        storage_dir: str | None = None,
                        max_partials: int | None = 8,
                        broadcast_delta: bool = True) -> None:
    """Maintain star_month_rollup through the RETRACTABLE JOIN algebra
    (operators/ivm.cdc_join_delta) — the production consumer for join
    IVM, and the only maintenance path that expresses ORDERS-side
    change. The per-batch path (apply_cdc_batch) joins each lineitem
    batch to the CURRENT orders table, so a late-arriving order whose
    lineitems loaded in an earlier batch contributes nothing until a
    full refresh (the inner join dropped those lineitems when they
    arrived), and an order retraction can only be expressed by
    re-feeding every affected lineitem. Here both sides are first-class
    CDC participants: ΔV = Δli ⋈ O_old ∪ li_new ⋈ ΔO with signs
    multiplying across the join, so the late order's pairs materialize
    from the li_old leg and an orders-side delete retracts all its
    pairs in one signed batch.

    li_old / o_old: the LIVE accumulated relations as of BEFORE this
    batch (empty relations with the table schema for the first batch).
    At warehouse scale these are the bucketed fact layout —
    cdc_join_delta semi-join-prunes both history legs to the delta's
    orderkeys, so history is probed (partition-pruned on the bucketed
    orderkey), never shuffled. Delete images must be rows live on their
    side (standard CDC).

    The signed (lineitem x order) delta rows are enriched through the
    customer/nation broadcast dims (a 1:1 FK lookup leaves signs
    untouched) and land as ONE weighted partial batch in the exact
    table/layout the other maintenance paths write — each signed pair
    is one true lineitem row, matching the v2 `_n` semantics — so
    replay safety, autocompaction, liveness checks, serving and time
    travel are all inherited unchanged."""
    name = "star_month_rollup"
    table_dir = view_table_dir(sf_dir, name, storage_dir)
    _check_or_stamp_layout(table_dir, name)

    def li_proj(df: DataFrame | None) -> DataFrame | None:
        if df is None:
            return None
        return df.select("l_orderkey", money.net_revenue().alias("_v"))

    def o_proj(df: DataFrame | None) -> DataFrame | None:
        if df is None:
            return None
        return df.select(F.col("o_orderkey").alias("l_orderkey"),
                         "o_custkey", "o_orderdate")

    # broadcast_delta passes through to the algebra: True is the daily
    # batch shape; a BACKFILL-sized delta must opt out or the forced
    # broadcast of the full delta leg can exceed the broadcast ceiling
    # (r11 review find — the opt-out was unreachable from here)
    delta = ivm.cdc_join_delta(
        li_proj(li_old), o_proj(o_old), "l_orderkey",
        a_ins=li_proj(li_ins), a_del=li_proj(li_del),
        b_ins=o_proj(o_ins), b_del=o_proj(o_del), weight_col="_w",
        broadcast_delta=broadcast_delta)
    c = catalog.load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey")
    n = catalog.load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name")
    inp = (delta
           .join(joins.size_guarded_broadcast(c),
                 delta.o_custkey == c.c_custkey)
           .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .select(F.col("c_nationkey").alias("nationkey"),
                   F.col("n_name").alias("nation"),
                   month_start("o_orderdate").alias("month_start"),
                   "_v", "_w"))
    keys = list(MATVIEW_META[name]["grain"])
    sum_type = MATVIEW_META[name].get("sum_type", _MV_SUM_TYPE)
    ingest.partial_multi_agg_batch_write(
        inp, batch_id, table_dir, keys, ["_v"],
        sum_type=sum_type, weight_col="_w", max_partials=max_partials)


def maintain_incremental(source_stream: DataFrame, sf_dir: str,
                         checkpoint_dir: str,
                         names: list[str] | None = None,
                         storage_dir: str | None = None,
                         max_partials: int | None = 8,
                         table: str = "lineitem",
                         op_col: str | None = None):
    """Maintain every view fed by `table` under a STREAM of its new rows
    — the production shape of the module docstring's claim: foreachBatch
    routes each micro-batch through append_batch, inheriting the ingest
    writer's exactly-once story (partials per `_batch_id`, replay
    overwrites itself, crash-safe fold on write). Call publish() after
    the run (or on a schedule) to refresh the serving relations.

    op_col (r10, CDC): name of a change-op column to interpret the
    stream as a CHANGE FEED instead of pure appends — 'I' rows are
    inserted fact rows, 'D' rows are delete images of previously-loaded
    rows (apply_cdc_batch). An update must arrive as its D(before) +
    I(after) pair, the standard change-feed encoding; a single 'U' row
    cannot unwind the before-image and is rejected loudly."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # ONE materializing read of the feed per micro-batch (r11
        # review find): the op-count validation, the I/D splits, and
        # every fed view's input derive from this cached copy —
        # previously the feed file was re-read by the ops pass and by
        # each side's persist build (apply_cdc_batch sees the splits as
        # cache-backed and skips its own persist).
        batch_df = batch_df.persist()
        try:
            if op_col is None:
                append_batch(spark, sf_dir, batch_df, batch_id,
                             names=names, storage_dir=storage_dir,
                             max_partials=max_partials, table=table)
                return
            # ONE tiny pass both validates the ops (NULL included — a
            # bare ~isin() is NULL for NULL ops and would let the row
            # slip through, then vanish from both sides) and leaves out
            # a side the micro-batch has no rows for, so an insert-only
            # batch (the normal retail case) plans no delete leg (r10
            # review finds)
            ops = {r[0]: r[1] for r in
                   batch_df.groupBy(op_col).count().collect()}
            bad_ops = [op for op in ops if op not in ("I", "D")]
            if bad_ops:
                raise ValueError(
                    f"change feed {op_col} must be 'I' or 'D' (updates "
                    f"are D-before + I-after pairs); got {bad_ops!r}")
            ins = (batch_df.filter(F.col(op_col) == "I").drop(op_col)
                   if ops.get("I") else None)
            dels = (batch_df.filter(F.col(op_col) == "D").drop(op_col)
                    if ops.get("D") else None)
            if ins is None and dels is None:
                return  # empty micro-batch
            apply_cdc_batch(
                spark, sf_dir, batch_id, inserts=ins, deletes=dels,
                names=names, storage_dir=storage_dir,
                max_partials=max_partials, table=table)
        finally:
            batch_df.unpersist()

    return (source_stream.writeStream
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def compact(spark: SparkSession, sf_dir: str,
            names: list[str] | None = None,
            storage_dir: str | None = None) -> None:
    """Nightly-compaction shape: fold each view's effective partials
    into one COVERAGE-ENCODED compact (ingest.autocompact_incremental_
    agg), not the legacy whole-table -1 fold — coverage is what keeps a
    batch REPLAYED after compaction exactly-once (readers ignore the
    replayed partition because the compact already covers its id; the
    r10 property test found the legacy fold double-counting exactly
    that schedule). Views never written are skipped (same contract as
    publish)."""
    for name in (names or list(MATVIEW_INPUTS)):
        table_dir = view_table_dir(sf_dir, name, storage_dir)
        if not ingest.effective_partials(table_dir):
            continue
        _check_or_stamp_layout(table_dir, name)
        ingest.autocompact_incremental_agg(
            spark, table_dir, list(MATVIEW_META[name]["grain"]),
            sum_type=MATVIEW_META[name].get("sum_type", _MV_SUM_TYPE))


# ---------------------------------------------------------------------------
# serving


# Each view table's stored schema, keyed by absolute table dir. Reading a
# parquet dir without a schema launches a footer-inference job on every
# read; a view table's schema is fixed by its layout for the table's
# whole life, so it is inferred on the first read in the process and
# passed to every later one. write_full (the one path that recreates a
# table) forgets its entry.
_TABLE_SCHEMAS: dict[str, StructType] = {}


def _read_table(spark: SparkSession, table_dir: str) -> DataFrame:
    key = os.path.abspath(table_dir)
    schema = _TABLE_SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(table_dir)
        _TABLE_SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(table_dir)


def _net_partials(spark: SparkSession, table_dir: str, name: str,
                  keep: list[int]) -> DataFrame:
    """Net a chosen partition set per grain: the view's measures plus
    `_live`, the grain's signed fact-row count. The one aggregation
    behind serving (`_live > 0`) and the liveness/admission checks
    (counts of negative and positive `_live`)."""
    meta = MATVIEW_META[name]
    aggs = [F.sum(stored).alias(measure)
            for measure, stored in meta["storage"].items()]
    return (_read_table(spark, table_dir)
            .filter(F.col("_batch_id").isin(keep))
            .groupBy(*meta["grain"])
            .agg(*aggs, F.sum("_n").alias("_live")))


def _live_grains(net: DataFrame) -> DataFrame:
    """The serving schema of a netted view. CDC retractions
    (apply_cdc_batch) can net a grain's row count to zero; the base
    recompute would not have the grain at all, so it is dropped.
    Append-only tables always net >= 1, where the filter is an exact
    no-op. Serving relations are DASHBOARD-sized by the registry's own
    admission rule (a "rollup" approaching fact size is rejected, see
    MAX_SERVE_ROWS), so collapse to ONE partition: every served query then
    runs single-task stages with no final exchange, instead of paying a
    32-task fan-out + merge for a 25-2.5k-row relation."""
    return net.filter(F.col("_live") > 0).drop("_live").coalesce(1)


def _merge_partials(spark: SparkSession, table_dir: str, name: str,
                    keep: list[int]) -> DataFrame:
    """Merge a chosen partition set into the view's serving schema."""
    return _live_grains(_net_partials(spark, table_dir, name, keep))


def _serving_relation(spark: SparkSession, table_dir: str,
                      name: str) -> DataFrame:
    """Merge the effective partials into the view's serving schema.
    Partition-prunes to the consistent read set (ingest's crash-window
    contract), so in-flight compaction garbage never double-counts."""
    return _merge_partials(spark, table_dir, name,
                           ingest.effective_partials(table_dir))


def serve_as_of(spark: SparkSession, sf_dir: str, name: str,
                batch_id: int,
                storage_dir: str | None = None) -> DataFrame:
    """The view EXACTLY as it stood after maintenance micro-batch
    `batch_id` — lakehouse "VERSION AS OF" over the maintenance ledger,
    with no extra metadata store: `_batch_id` is the version id and
    coverage-encoded compacts date themselves (ingest.as_of_partials).

    Raises ValueError past the retention horizon (version compacted
    away) or through an undated full refresh (write_full's -1 fold with
    no later batches) — never a silently wrong snapshot; the schedule
    property test in tests/test_incremental_ingest.py pins that "never".
    Unlike serve(), this reads the ledger directly (no publish step, no
    cache): time-travel is an audit/debug path, not the hot dashboard
    path. Retention trade-off is the standard one: every autocompaction
    advances the horizon past which old versions are gone — compact
    less often (append_batch max_partials) to keep more history."""
    table_dir = view_table_dir(sf_dir, name, storage_dir)
    if ingest.effective_partials(table_dir):
        _check_or_stamp_layout(table_dir, name)
    keep = ingest.as_of_partials(table_dir, batch_id)
    # refuse loudly (the module contract) rather than leak a parquet
    # PATH_NOT_FOUND from an unwritten table or serve an empty relation
    # for a pre-history/negative version (r10 review find)
    if not keep:
        raise ValueError(
            f"matview {name!r} has no ledger at or before batch "
            f"{batch_id} under {table_dir}: the view was never "
            f"maintained there, or the version predates the first "
            f"retained batch")
    return _merge_partials(spark, table_dir, name, keep)


def _check_net(net: DataFrame, name: str,
               max_serve_rows: int | None) -> None:
    """Both refresh-time checks of a netted view in ONE streamed action
    that holds nothing (no cache is built before the view is admitted):
    the count of grains whose net row count is NEGATIVE (liveness) and
    the count of live grains, i.e. the serving relation's row count
    (admission; None skips it)."""
    live = F.col("_live")
    n_bad, n_live = net.agg(F.count(F.when(live < 0, 1)),
                            F.count(F.when(live > 0, 1))).first()
    if n_bad:
        bad = (net.filter(live < 0)
               .select(*MATVIEW_META[name]["grain"], live.alias("_m")))
        raise ValueError(
            f"matview {name!r} is inconsistent: {n_bad} grain(s) net to "
            f"NEGATIVE row counts (a CDC retraction of rows never "
            f"loaded). Sample: {bad.limit(3).collect()}")
    if max_serve_rows is not None and n_live > max_serve_rows:
        raise ValueError(
            f"matview {name!r} serving relation has {n_live} rows — "
            f"over the dashboard-size admission bound "
            f"({max_serve_rows}). A fact-proportional 'rollup' "
            f"must not be served off a single-partition cache; "
            f"narrow the view's grain (or pass "
            f"max_serve_rows=None for a distributed serving "
            f"tier)")


def check_liveness(spark: SparkSession, table_dir: str,
                   name: str) -> None:
    """Refuse a view table whose net row count goes NEGATIVE on any
    grain — a CDC retraction of rows that were never loaded (upstream
    bug or a delete feed replayed against the wrong warehouse). The
    serve-time `_live > 0` filter would hide the evidence and serve a
    plausible-but-wrong relation; publish is the one refresh-time spot
    where the violation is cheaply detectable (one aggregation over a
    dashboard-sized partial table) — same stance as the signed-delta
    join fold (operators/ivm.fold_signed_rows strict mode). publish runs
    the same check on the same aggregation (_check_net)."""
    _check_net(_net_partials(spark, table_dir, name,
                             ingest.effective_partials(table_dir)),
               name, None)


# Serving relations collapse to ONE partition (_live_grains) and are
# cached whole: sound only for dashboard-sized summaries. The registry's
# admission rule ("a rollup approaching fact size is rejected", ROADMAP
# 66 / PERFORMANCE.md addendum 2) was prose until r11 — publish() now
# enforces it with this bound. Generous for every registered grain
# (largest today: flag_day at ~6 x |ship days| ≈ 15k rows at any SF;
# they're independent of fact size), tripped immediately by a
# fact-proportional "rollup" at bench scale.
MAX_SERVE_ROWS = 200_000

# Session conf `<prefix>.<temp view>` holds the ledger fingerprint the
# view's cached serving relation was built from, so the record lives and
# dies with the session that owns the temp view. Set only after a
# successful cache build; every failure, rollback and drop unsets it.
MATVIEW_LEDGER_CONF = "spark.graft.matview.ledger"


def _ledger_fingerprint(table_dir: str, keep: list[int],
                        max_serve_rows: int | None) -> str:
    """Digest of what a view's serving relation is a function of: the
    table dir, the effective partition ids, every data file in them
    (name, size, mtime_ns) and the admission bound it was checked
    under. Every ledger write lands in new part files (a replayed
    `_batch_id` rewrites its partition; compaction adds one and removes
    the folded ones; write_full recreates the dir), so any change to
    the served rows changes the fingerprint. Driver-side listing only."""
    files = []
    for b in keep:
        with os.scandir(os.path.join(table_dir, f"_batch_id={b}")) as it:
            for e in it:
                if e.is_file() and not e.name.startswith((".", "_")):
                    st = e.stat()
                    files.append((b, e.name, st.st_size, st.st_mtime_ns))
    key = (os.path.abspath(table_dir), sorted(keep), sorted(files),
           max_serve_rows)
    return hashlib.sha1(repr(key).encode()).hexdigest()


def _release(spark: SparkSession, view: str) -> None:
    """Unpersist and drop a serving view and forget its fingerprint."""
    spark.conf.unset(f"{MATVIEW_LEDGER_CONF}.{view}")
    if spark.catalog.tableExists(view):
        spark.table(view).unpersist()
        spark.catalog.dropTempView(view)


def publish(spark: SparkSession, sf_dir: str,
            names: list[str] | None = None,
            storage_dir: str | None = None,
            max_serve_rows: int | None = MAX_SERVE_ROWS) -> None:
    """Register (and cache) the serving relations off the WRITTEN tables
    and announce the layout. Reading disk, not rebuilding: a fresh
    session serves a warehouse another session maintained. A view whose
    table was never written (e.g. a deployment maintaining only the
    lineitem-fed views) is simply not registered — serve() then returns
    None for it and its queries keep their base plans. Refuses a table
    whose CDC history is inconsistent (liveness: a grain netting to a
    negative row count) and one whose serving relation exceeds the
    dashboard-size admission bound (max_serve_rows; None disables — a
    deployment with a catalog-backed distributed serving tier instead
    of single-partition caches).

    Only views whose ledger changed are rebuilt. A view whose ledger
    fingerprint (_ledger_fingerprint) matches the one its cached
    serving relation was built from, and whose temp view is still
    registered and cached, is left as it is: zero Spark jobs. A
    lineitem commit therefore leaves the customer- and orders-fed
    views alone, and a publish with nothing changed launches no job.

    A changed view costs one aggregation, read with the table's stored
    schema (no schema-inference job): the partials net to grain +
    measures + `_live` (_net_partials), one streamed action returns the
    liveness and admission counts before any cache is built
    (_check_net — the over-bound case is exactly the one whose
    single-partition cache build would pin a pathological block), and
    only then is the serving relation (`_live > 0`, one partition)
    cached and counted. Changed views run from a thread pool, which
    collapses the per-job scheduling overhead across views.

    Fail closed, storage included: the layout conf is announced only
    after EVERY view published. When any view's check or cache build
    raises, the pass unpersists and drops every view it covered —
    sibling views it rebuilt, and views it left untouched as unchanged
    — clears their fingerprints, and unsets the layout conf before
    propagating, so a failure leaves an explicitly unstaged warehouse
    with nothing pinned in executor storage."""
    views = list(names or MATVIEW_INPUTS)

    def publish_one(name: str) -> None:
        view = f"{MATVIEW_PREFIX}_{name}"
        table_dir = view_table_dir(sf_dir, name, storage_dir)
        keep = ingest.effective_partials(table_dir)
        if not keep:
            _release(spark, view)
            return
        _check_or_stamp_layout(table_dir, name)
        stamp = _ledger_fingerprint(table_dir, keep, max_serve_rows)
        stamp_conf = f"{MATVIEW_LEDGER_CONF}.{view}"
        if (spark.conf.get(stamp_conf, None) == stamp
                and spark.catalog.tableExists(view)
                and spark.catalog.isCached(view)):
            return
        _release(spark, view)
        net = _net_partials(spark, table_dir, name, keep)
        _check_net(net, name, max_serve_rows)
        df = _live_grains(net)
        df.createOrReplaceTempView(view)
        df.cache().count()
        spark.conf.set(stamp_conf, stamp)

    try:
        _run_concurrently(publish_one, views)
    except BaseException:
        for name in views:
            try:
                _release(spark, f"{MATVIEW_PREFIX}_{name}")
            except Exception:
                pass  # rollback is best-effort; the refusal propagates
        # a failed RE-publish may have dropped views a previous
        # successful pass was serving; leaving MATVIEW_DIR_CONF set from
        # that pass would advertise a staged warehouse whose views are
        # gone (serve() degrades to None per view, silently — r12
        # advice). Unset it so the failure leaves an EXPLICITLY
        # unstaged warehouse.
        try:
            spark.conf.unset(MATVIEW_DIR_CONF)
        except Exception:
            pass
        raise
    spark.conf.set(MATVIEW_DIR_CONF, os.path.abspath(sf_dir))


def materialize(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None,
                storage_dir: str | None = None) -> None:
    """Full refresh + publish: the stager's one call (bench.stage_tables,
    or a user pipeline after loading the warehouse)."""
    write_full(spark, sf_dir, names=names, storage_dir=storage_dir)
    publish(spark, sf_dir, names=names, storage_dir=storage_dir)


def serve(spark: SparkSession, sf_dir: str, name: str) -> DataFrame | None:
    """The materialized view for (sf_dir, name), or None when not staged.

    Directory identity is part of the contract: a view materialized from
    one warehouse must never answer queries against another.
    """
    staged = spark.conf.get(MATVIEW_DIR_CONF, None)
    if not staged or os.path.abspath(staged) != os.path.abspath(sf_dir):
        return None
    view = f"{MATVIEW_PREFIX}_{name}"
    if not spark.catalog.tableExists(view):
        return None
    return spark.table(view)


def _resolves_on_grain(mv: DataFrame, meta: dict, what: str,
                       check) -> None:
    """Structural soundness guard for grain_filter / grain_aggs: the
    caller's expression must RESOLVE against the view's grain columns
    ALONE. An expression referencing a measure partial would silently
    break the rewrite algebra (filtering on a partial apportions it;
    MIN/MAX over a partial is a monoid, not a group) — refuse it loudly
    instead of serving a plausible-but-wrong relation.

    The probe is a DETACHED empty relation carrying only the grain
    schema: resolving against `mv.select(grain)` would not do — Spark's
    hidden-output resolution lets a filter see THROUGH a Project to the
    child's dropped columns, which is exactly the leak being guarded."""
    probe = mv.sparkSession.createDataFrame(
        [], mv.select(*meta["grain"]).schema)
    try:
        check(probe)
    except Exception as e:
        raise ValueError(
            f"navigate {what} must reference only the view's grain "
            f"columns {meta['grain']} — filtering or aggregating a "
            f"measure PARTIAL does not commute with re-aggregation "
            f"(resolution failed: {e})") from None


def navigate(spark: SparkSession, sf_dir: str, dims: list[str],
             measures: list[str],
             grain_filter=None, grain_aggs=None) -> DataFrame | None:
    """Aggregate navigator (the Kimball "aggregate navigator" / Oracle
    query-rewrite pattern): given the DIMENSIONS a query groups by and
    the MEASURES it sums, return a relation answering it from the
    smallest registered materialized view whose grain covers the
    request — re-aggregated from the view's exact decimal partials when
    the request is coarser — or None when no staged view qualifies (the
    caller then runs its base-table plan unchanged).

    Soundness: a view qualifies only if dims ⊆ its grain and every
    measure is one of its decimal partial sums; partial sums compose
    exactly under re-aggregation (order-independent decimal addition),
    so view-served results are bit-identical to the base plan —
    asserted in tests/test_matview.py. Measures come back still
    DECIMAL; consumers cast at the edge exactly as with the base plan.

    grain_filter (r11): a callable receiving {grain column -> Column}
    and returning a boolean Column — applied to the view BEFORE
    re-aggregation. Sound because a deterministic predicate over grain
    columns (or any expression of them, e.g. the yyyymmdd smart key) is
    constant within each grain group, so filtering the view's partials
    equals filtering the base rows. A view lacking a referenced grain
    column raises KeyError inside the callable and simply doesn't
    qualify; an expression referencing anything BEYOND the grain
    (a measure partial) raises ValueError — that rewrite would be
    unsound, not merely unavailable.

    grain_aggs (r11): a callable receiving the same mapping and
    returning aliased AGGREGATE Columns over grain columns (MIN/MAX
    bounds and the like), appended to the measure sums under
    groupBy(dims). Sound because a grain value appears in the view iff
    at least one live base row carries it — append-only trivially, and
    under CDC because the serving relation drops grains whose net row
    count reaches zero (_merge_partials' `_live > 0`). Note this is
    exactly why MIN/MAX are allowed over GRAIN columns but refused as
    stored MEASURE partials (_validate_meta): grain liveness is
    group-maintained, a measure extremum is not.

    One additional assumption for views BUILT WITH JOINS
    (star_month_rollup joins orders+customer, product_revenue_rollup
    joins part): serving a request coarser than the join dimension is
    only exact when the join loses no fact rows — i.e. FK integrity
    holds, which this warehouse enforces (operators/constraints.py's
    check_warehouse FK rules ride every load). A deployment that
    tolerates orphaned fact rows must register such views with the
    orphans bucketed (left join + a sentinel key), or restrict them to
    requests naming the join dimension.

    At 100 TB this is the difference between scanning the fact table
    and scanning a ~(25 x months)-row summary the incremental writer
    maintains (append_batch / maintain_incremental) — the navigator
    makes that substitution automatic for every dashboard-grain query
    instead of hand-wired per call site.
    """
    want_dims, want_measures = set(dims), set(measures)
    candidates = []
    for name, meta in MATVIEW_META.items():
        grain = set(meta["grain"])
        if not (want_dims <= grain
                and want_measures <= set(meta["measures"])):
            continue
        # build the caller's grain expressions against THIS view's
        # grain mapping: a KeyError means the request names a grain
        # column the view doesn't have — it simply doesn't qualify
        g = {c: F.col(c) for c in meta["grain"]}
        try:
            pred = grain_filter(g) if grain_filter is not None else None
            extra = (list(grain_aggs(g))
                     if grain_aggs is not None else None)
        except KeyError:
            continue
        # smallest grain first; at equal grain size prefer a view
        # built WITHOUT joins (no FK-losslessness assumption to
        # lean on, and typically the smaller relation)
        candidates.append((len(grain), bool(meta.get("joined")),
                           name, meta, pred, extra))
    for _, _, name, meta, pred, extra in sorted(
            candidates, key=lambda t: t[:3]):
        mv = serve(spark, sf_dir, name)
        if mv is None:
            continue
        if pred is not None:
            _resolves_on_grain(mv, meta, "grain_filter",
                               lambda probe: probe.filter(pred))
            mv = mv.filter(pred)
        # measures come back under their REQUESTED names (the mapping's
        # whole point): a view whose internal column is `_sum` must
        # still serve `revenue`, or the rewrite changes the schema
        pairs = [(m, meta["measures"][m]) for m in measures]
        sums = [F.sum(c).alias(m) for m, c in pairs]
        if extra is not None:
            _resolves_on_grain(mv, meta, "grain_aggs",
                               lambda probe: probe.groupBy().agg(*extra))
            return mv.groupBy(*dims).agg(*extra, *sums)
        if want_dims == set(meta["grain"]):
            return mv.select(*dims,
                             *[F.col(c).alias(m) for m, c in pairs])
        return mv.groupBy(*dims).agg(*sums)
    return None
