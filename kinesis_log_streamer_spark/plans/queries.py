"""The engine's query catalog: one function per operator family.

Every function takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names match the corresponding DuckDB oracle in
``plans/oracles.py`` exactly (the driver sorts columns by name before
value-hashing).

Scale notes are given per query: each plan is written so Catalyst
produces the physical strategy we would want on a 1000-executor
cluster — broadcast joins for dims, partial aggregation before
shuffles, filters pushed into the parquet scan.

Determinism rules used throughout (so Spark and DuckDB hash-match):

* double aggregates are ``round()``-ed (inputs carry 2-decimal money
  semantics, so rounded sums are stable against fp association order);
* every window/top-k ordering carries a unique tiebreaker column;
* integer aggregates are kept at bigint on both engines;
* ratios/scores that are RATIONALS of integer counts round in INTEGER
  arithmetic (half-up: ``(2x+y) div (2y)``) on both engines — such
  rationals systematically land on exact .00005 boundaries where
  engines' double ``round()`` disagree (surfaced by the sf0.1 sweep);
* money sums whose rounding decides the output use exact DECIMAL
  accumulation (associative), never double;
* oracle-gated queries emit ATOMIC columns only — never arrays, maps
  or structs.  The driver canonicalizes results through a pandas
  sort + hash, which dies on list-valued cells; collections are
  serialized to one pipe-joined string on BOTH engines
  (``concat_ws('|', sort_array(...))`` ⇌ ``array_to_string(
  list_sort(...), '|')``);
* DECIMAL sum wire types are pinned by explicit cast on both engines
  (Spark and DuckDB widen sum() precision differently);
* rounded doubles that can land at zero add ``+ 0.0`` on BOTH
  engines — ``round(-1e-6, 4)`` is IEEE −0.0 on one engine and 0.0
  on the other, and the canonicalizer string-compares them
  (surfaced by s12's sf0.1 sweep).
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.window import Window as W

from kinesis_log_streamer_spark.operators import dedup as D
from kinesis_log_streamer_spark.operators import graph as G
from kinesis_log_streamer_spark.operators import loganalytics as LA
from kinesis_log_streamer_spark.operators import multimodal as M
from kinesis_log_streamer_spark.operators import similarity as S
from kinesis_log_streamer_spark.operators import text as TX
from kinesis_log_streamer_spark.operators.asof import asof_join
from kinesis_log_streamer_spark.operators.sessionize import sessionize
from kinesis_log_streamer_spark.operators.topk import topk_per_group
from kinesis_log_streamer_spark.operators.transforms import (
    stamp_partition_key,
    wrap_line_as_json,
)
from kinesis_log_streamer_spark.session import CACHE
from kinesis_log_streamer_spark.sources.tables import load_table, table_path


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _sweep_stale_tmp(max_age_s: float = 3600.0) -> None:
    """Remove scratch roots (``<tmp>/klss-*``) untouched for an hour.

    Two processes can race: one rmtrees a root between the other's
    glob and getmtime, so the stat is guarded — a vanished path is
    exactly the swept state we wanted.  ``klss-spool-*`` belongs to a
    running CLI (which removes it on exit) and is never swept.
    """
    import glob
    import shutil
    import tempfile
    import time

    for stale in glob.glob(os.path.join(tempfile.gettempdir(), "klss-*")):
        if os.path.basename(stale).startswith("klss-spool-"):
            continue
        try:
            old = time.time() - os.path.getmtime(stale) > max_age_s
        except OSError:
            continue
        if old:
            shutil.rmtree(stale, ignore_errors=True)


def _scratch_root(spark: SparkSession) -> str:
    """``<tmp>/klss-<applicationId>``, this application's scratch root:
    created, its mtime refreshed, then stale roots swept."""
    import re
    import tempfile

    app = re.sub(r"[^A-Za-z0-9_-]", "_", spark.sparkContext.applicationId)
    root = os.path.join(tempfile.gettempdir(), "klss-" + app)
    try:
        os.utime(root)
    except FileNotFoundError:
        os.makedirs(root, exist_ok=True)
    _sweep_stale_tmp()
    return root


def _scratch(spark: SparkSession, name: str) -> str:
    """An empty directory ``<root>/<name>-<thread ident>`` (emptied and
    recreated on every call).  No concurrent process or thread shares
    it; a sequential caller reuses it, so disk use stays bounded."""
    import shutil
    import threading

    path = os.path.join(_scratch_root(spark), f"{name}-{threading.get_ident()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _drain(writer: DataStreamWriter) -> StreamingQuery:
    """Run a bounded streaming query to completion
    (``Trigger.AvailableNow``, the reference's EOF drain,
    basestreamer.go:27-33) and return it.  A drain still running after
    600 s is stopped and raises rather than leave a half-drained sink."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(f"availableNow drain {q.id} timed out (600s)")
    return q


@contextmanager
def _conf(spark: SparkSession, settings: dict):
    """Set ``settings`` for the body; on exit put each previous value
    back, or unset the key if it had none."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Scan / filter / aggregation core
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan → filter → hash-agg → sort.

    Scale: the ``l_shipdate`` predicate pushes into the parquet scan;
    aggregation is partial (map-side) then final over only
    |returnflag × linestatus| groups, so shuffle volume is O(groups).
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective filter + projection (TPC-H Q6 shape) — no aggregation,
    raw rows out; verifies predicate pushdown and column pruning.

    Scale: `.explain("formatted")` shows PushedFilters for all three
    predicates and a 4-column ReadSchema.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")


def q03_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + global top-k (TPC-H Q3 shape).

    Scale: Catalyst compiles orderBy+limit into TakeOrderedAndProject —
    each partition keeps only k rows, then the driver merges k·p rows;
    no global sort is materialized.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("o_orderdate") < F.lit("1998-01-01"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q04_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dimension with an explicit broadcast hint.

    Scale: ``part`` scales with the catalog, not the fact data —
    broadcasting it removes the shuffle of the 100 TB ``lineitem`` side
    entirely (BroadcastHashJoin in the plan).
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("brand_revenue"),
        )
        .orderBy("p_brand")
    )


def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-way snowflake join (TPC-H Q5 shape): lineitem ⋈ orders ⋈
    customer ⋈ nation ⋈ region → revenue per nation.

    Scale: nation/region are broadcast (tiny, fixed cardinality);
    the two fact-side joins shuffle on their keys and AQE coalesces
    post-shuffle partitions. Join order (facts first, dims last) keeps
    intermediate row width small.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


# ---------------------------------------------------------------------------
# Join-type coverage
# ---------------------------------------------------------------------------


def q06_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers having at least one big order.

    Scale: semi-join short-circuits on first match — no fan-out — and
    Catalyst can pick broadcast or shuffled-hash by side size.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 150000).select("o_custkey")
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        )
        .orderBy("c_mktsegment")
    )


def q07_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers who never placed a
    >300k order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_idle_customers"))
        .orderBy("c_nationkey")
    )


def q08_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join + two-level aggregation: order-count distribution
    per customer (customers with zero orders included as 0)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_orders")
    )


def q09_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join on a tiny dimension: ordered region pairs."""
    region = _t(spark, sf_dir, "region")
    r1 = region.select(F.col("r_name").alias("r1"))
    r2 = region.select(F.col("r_name").alias("r2"))
    return r1.crossJoin(r2).filter(F.col("r1") < F.col("r2")).orderBy("r1", "r2")


def q10_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: bucket parts into price bands.

    Scale: the band table is tiny and broadcast, so the non-equi
    condition runs as BroadcastNestedLoopJoin — O(rows·bands) with no
    shuffle; for large band tables the binning trick (equi-join on a
    computed bucket id) replaces it.
    """
    part = _t(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [(0, 0.0, 500.0), (1, 500.0, 1000.0), (2, 1000.0, 1500.0), (3, 1500.0, 1e9)],
        "band_id int, lo double, hi double",
    )
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
        .orderBy("band_id")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


def q11_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price — ranked-window top-k.

    Scale: one shuffle on the partition key, per-partition sort, rows
    beyond rank 3 dropped before any further operator sees them.
    """
    orders = _t(spark, sf_dir, "orders")
    return topk_per_group(
        orders,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rnk")


def q12_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running totals + lag deltas per customer over order history."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2
        ).alias("running_spend"),
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2
        ).alias("delta_vs_prev"),
    )


# ---------------------------------------------------------------------------
# Grouping sets / distinct / conditional aggregation
# ---------------------------------------------------------------------------


def q13_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over nation → market segment with subtotals and a grand
    total (null-filled grouping columns)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy(
            F.asc_nulls_first("n_name"), F.asc_nulls_first("c_mktsegment")
        )
    )


def q14_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over returnflag × linestatus (all 2^2 grouping sets)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(
            F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus")
        )
    )


def q15_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: nations that have customers ∩/∖ nations that have
    suppliers, tagged and unioned."""
    cust_n = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp_n = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = cust_n.intersect(supp_n).withColumn("op", F.lit("both"))
    cust_only = cust_n.subtract(supp_n).withColumn("op", F.lit("customer_only"))
    return both.unionByName(cust_only).orderBy("op", "nationkey")


def q16_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group (TPC-H Q16 shape): distinct
    suppliers and orders per brand.

    Scale: Catalyst expands multi-distinct into an Expand + two-phase
    aggregate — no driver-side distinct."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .orderBy("p_brand")
    )


def q17_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN inside aggregation (manual pivot shape)."""
    orders = _t(spark, sf_dir, "orders")
    urgent = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.col("o_totalprice")
    ).otherwise(F.lit(0.0))
    low = F.when(
        ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.col("o_totalprice")
    ).otherwise(F.lit(0.0))
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.sum(urgent), 2).alias("urgent_revenue"),
            F.round(F.sum(low), 2).alias("normal_revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


def q29_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id — finer than rollup/cube
    (q13/q14): only the (flag, status), (flag), and grand-total sets.

    Scale: one Expand + single shuffle; Catalyst never materializes the
    ungrouped cross product."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("q29_li")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(l_extendedprice), 2) AS revenue
        FROM q29_li
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY gid, l_returnflag, l_linestatus
        """
    )


def q30_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation coverage: lead, ntile quartiles, dense_rank
    over customer account balance within nation."""
    cust = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_nationkey",
        "c_custkey",
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lead("c_custkey", 1).over(w).alias("next_custkey"),
    )


def q31_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode (UDTF-shape): top-20 tokens across a document
    subset via posexplode of the token array.

    Scale: tokens never gather to the driver; explode → map-side
    partial count → single shuffle on token."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
    ).filter(F.length("token") > 0)
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


def q32_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array expression coverage over embeddings: element access, max,
    min, slice-sum — JVM array ops, no UDF."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    head4 = F.slice(v, 1, 4)
    return (
        emb.select(
            "vec_id",
            F.round(F.element_at(v, 1), 4).alias("first_dim"),
            F.round(F.array_max(v), 4).alias("dim_max"),
            F.round(F.array_min(v), 4).alias("dim_min"),
            F.round(
                F.aggregate(head4, F.lit(0.0), lambda a, x: a + x), 4
            ).alias("head4_sum"),
            F.size(v).alias("dim"),
        )
        .filter(F.col("vec_id") < 200)
        .orderBy("vec_id")
    )


def q33_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set-op coverage: EXCEPT ALL keeps duplicate cardinality
    (q15 is the distinct-set variant): order-priority rows of OPEN
    orders minus those of FINISHED orders, counted."""
    orders = _t(spark, sf_dir, "orders")
    open_p = orders.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    done_p = orders.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return (
        open_p.exceptAll(done_p)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_excess"))
        .orderBy("o_orderpriority")
    )


def q34_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type expression coverage: build a map from the JSON props
    column (str_to_map shape via from_json MapType), then map_keys /
    element_at / size — the open-keyed-record toolkit
    (reference record model is exactly this map, jsonstreamer.go:42-43).
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    m = F.from_json("props", "map<string,string>")
    return ev.select(
        "event_id",
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_csv"),
        F.element_at(m, "k").cast("long").alias("k_val"),
    ).orderBy("event_id")


def q36_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join executed as an equi-join on a computed bin
    (operators/rangejoin.py) instead of BroadcastNestedLoopJoin: price
    bands wide enough (120) that the BNLJ comparison count would be
    |lineitem|·120.  The binned plan shuffles/broadcasts on the bin id
    and refines — the strategy that survives when neither side is
    broadcastable."""
    from kinesis_log_streamer_spark.operators.rangejoin import bin_range_join

    lineitem = _t(spark, sf_dir, "lineitem").select("l_extendedprice")
    bands = spark.range(120).select(
        F.col("id").alias("band_id"),
        (F.col("id") * F.lit(1000.0)).alias("lo"),
        ((F.col("id") + 1) * F.lit(1000.0)).alias("hi"),
    )
    j = bin_range_join(lineitem, bands, "l_extendedprice", "lo", "hi", 1000.0)
    return (
        j.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("band_id")
    )


def q37_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-flag aggregates → long (flag, metric,
    value) rows — the inverse of q26's pivot.  Uses the native
    ``DataFrame.unpivot`` (STACK in SQL), which stays a narrow
    projection: no shuffle beyond the feeding aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "metric",
        "value",
    ).orderBy("l_returnflag", "metric")


def q35_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) time-window aggregation: 1-hour windows every
    30 minutes, so each event lands in width/slide = 2 windows.  Batch
    twin of ``F.window(ts, width, slide)`` in the streaming path
    (streaming/pipeline.py:windowed_event_counts) — the overlap is what
    distinguishes it from q24's tumbling buckets."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").start.alias("w_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
        )
        .orderBy("w_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Expression-language coverage: strings, dates, JSON
# ---------------------------------------------------------------------------


def q18_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String expression coverage: regexp_extract, split-head, case
    folding, substring, concat_ws, length — the log-parsing toolkit
    (e.g. pulling method/path out of an Apache RequestLine)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper(F.col("p_brand")).alias("brand_upper"),
        F.regexp_extract(F.col("p_type"), r"^(\w+)", 1).alias("type_head"),
        F.substring(F.col("p_name"), 1, 8).alias("name_prefix"),
        F.length(F.col("p_name")).alias("name_len"),
        F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
    )


def q19_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time expression coverage: truncation + extraction + grouping
    by calendar month (the log-rollup primitive)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.trunc("o_orderdate", "month").alias("month_start"),
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mon"),
            "o_totalprice",
        )
        .groupBy("month_start", "yr", "mon")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("month_revenue"),
        )
        .orderBy("month_start")
    )


def q20_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON expression coverage: extract typed values from the events
    ``props`` JSON column and aggregate."""
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 2).alias("avg_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Subqueries
# ---------------------------------------------------------------------------


def q21_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-style correlated filter: orders containing any max-quantity
    line item (semi-join execution)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    hot = li.filter(F.col("l_quantity") >= 48).select("l_orderkey")
    return (
        orders.join(hot, orders.o_orderkey == hot.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def q22_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: customers above the global average balance.

    Scale: the 1-row aggregate is broadcast; no shuffle of the big side.
    """
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.agg(F.avg("c_acctbal").alias("global_avg"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("global_avg"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_above_avg"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Time-series operators: as-of join, tumbling windows, sessionization
# ---------------------------------------------------------------------------


def q23_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event is annotated with the user's most recent
    order at-or-before the event time (operators/asof.py union trick —
    one shuffle, O(1) window state; no join explosion)."""
    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    # Deterministic right side: one row per (custkey, orderdate) keyed to
    # the max orderkey, so equal-timestamp ties cannot flip across engines.
    latest = (
        orders.groupBy(
            F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("odate")
        )
        .agg(F.max("o_orderkey").alias("latest_order_key"))
    )
    return asof_join(
        events, latest, key="user_id", left_ts="ts", right_ts="odate"
    ).select("event_id", "user_id", "latest_order_key")


def q24_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-window aggregation (batch twin of the streaming
    windowed count): events per hour per type."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").start.alias("bucket_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("bucket_start", "event_type")
    )


def q25_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) per user: session counts via
    lag + cumulative sum (operators/sessionize.py)."""
    events = _t(spark, sf_dir, "events")
    s = sessionize(
        events, "user_id", "ts", gap_seconds=1800, tiebreak_cols=("event_id",)
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


def q26_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns."""
    events = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    pv = (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    out = pv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"ev_{t}") for t in types],
    )
    return out.orderBy("user_id")


def q27_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation) per group."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def q28_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximate aggregates — HLL++ distinct counts and
    the approximate median — re-shaped (round 7, VERDICT r06 #2) from a
    rows-only estimate dump into the repo's oracle-checkable GATE form
    (q61/q84/t17 pattern): the estimates themselves stay
    engine-specific, but the sketch CONTRACTS are asserted and the
    exact sides are recomputed by DuckDB, so the row hash pins both.

    Per return flag: exact distinct orders/parts (the extra exact pass
    is the gate's evidence cost, as in q84), `orders_ok`/`parts_ok` =
    HLL++ estimate within 15 % of exact (3σ at the default rsd 0.05;
    measured worst 8.6 % across sf0.001–0.1), and `median_rank_ok` =
    the exact rank share of `percentile_approx`'s p50 within 0.5 ±
    0.005 (50× the default 1/10000 rank-error bound; measured ≤
    0.00005).  Gates are integer comparisons — no fp boundary.

    Scale: this is THE 100 TB idiom — fixed-size sketches merge
    map-side, so distinct-count shuffle volume is O(sketch), not O(n);
    the rank pass broadcasts the 3-row per-flag summary back over one
    scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey").alias("ao"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey").alias("ap"),
        F.percentile_approx("l_extendedprice", 0.5).alias("am"),
        F.count(F.lit(1)).alias("n"),
    )
    ranked = (
        li.select("l_returnflag", "l_extendedprice")
        .join(F.broadcast(per), "l_returnflag")
        .groupBy("l_returnflag", "n", "exact_orders", "ao", "exact_parts", "ap")
        .agg(
            F.count(
                F.when(F.col("l_extendedprice") <= F.col("am"), 1)
            ).alias("rank")
        )
    )
    return ranked.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        (F.abs(F.col("ao") - F.col("exact_orders")) * 100
         <= 15 * F.col("exact_orders")).cast("int").alias("orders_ok"),
        (F.abs(F.col("ap") - F.col("exact_parts")) * 100
         <= 15 * F.col("exact_parts")).cast("int").alias("parts_ok"),
        (F.abs(2 * F.col("rank") - F.col("n")) * 1000
         <= 10 * F.col("n")).cast("int").alias("median_rank_ok"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Deduplication (exact + fuzzy) — SURVEY.md §2.2 extensions
# ---------------------------------------------------------------------------


def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup on documents: md5-fingerprint group-by,
    min-id representative (operators/dedup.exact_dedup).

    Scale: only the 16-byte fingerprint shuffles, never the text."""
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs).orderBy("fp")


def _derived(spark: SparkSession, sf_dir: str, what: str, table: str, build):
    """Session-cached artifact ``what`` built from one catalog table;
    rebuilt when that table's file changes."""
    path = table_path(sf_dir, table)
    return CACHE.get(spark, (what, os.path.realpath(path)), build, (path,))


def _simhash_fp_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint index, one build per session and corpus: the
    build-once artifact a production dedup run persists as a table.
    Checkpointed so every consumer plans against |docs| × (id, simhash)
    rows instead of re-analyzing the 16-agg fingerprint tree."""

    def build():
        from kinesis_log_streamer_spark.operators.parallelize import (
            spread_for_compute,
        )

        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        return D.simhash_fingerprints(
            spread_for_compute(docs), "text", "doc_id"
        ).localCheckpoint(eager=True)

    return _derived(spark, sf_dir, "simhash_fp", "documents", build)


def _cohort_truth_pairs(spark: SparkSession, sf_dir: str) -> list:
    """[(id_a, id_b, jaccard)] for the fixed 500-smallest-doc cohort,
    string-shingle 3-gram Jaccard >= 0.8.  d02 gates on J >= 0.8, d03
    on J >= 0.9 — both read slices of this one table.  The 5/4 length
    prune is the lossless filter for the weaker J >= 0.8 bound, so it
    admits every pair either gate needs; the exact Jaccard is computed
    for survivors and re-thresholded per-gate on the identical double.

    Built once per session and corpus and collected (at most C(500,2)
    candidate pairs at any corpus size); every cache it creates is
    unpersisted.  This is oracle-evidence cost: the production legs
    remain the full-corpus banded/chunked pipelines."""
    return _derived(
        spark, sf_dir, "cohort_truth", "documents",
        lambda: _build_cohort_truth_pairs(spark, sf_dir),
    )


def _build_cohort_truth_pairs(spark: SparkSession, sf_dir: str) -> list:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tok = D.tokens_col(F.col("text"))
    cohort_sh = (
        docs.orderBy("doc_id")
        .limit(500)
        .filter(F.size(tok) >= 3)
        .select(
            F.col("doc_id").alias("id"),
            F.array_distinct(D.shingles_col(tok, 3)).alias("sh"),
        )
        .cache()
    )
    try:
        a = cohort_sh.select(
            F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
        )
        b = cohort_sh.select(
            F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
        )
        string_j = (
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
        )
        rows = (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            # Lossless length filter (similarity-join literature):
            # J >= 0.8 forces 5*|A| >= 4*|B| both ways (J <= min/max
            # of the set sizes), so the int compare prunes the pair
            # before the expensive array_intersect evaluates.
            .filter(
                (F.size("sh_a") * 5 >= F.size("sh_b") * 4)
                & (F.size("sh_b") * 5 >= F.size("sh_a") * 4)
            )
            .select("id_a", "id_b", string_j.alias("j"))
            .filter(F.col("j") >= 0.8)
            .collect()
        )
    finally:
        cohort_sh.unpersist()
    return [(r.id_a, r.id_b, r.j) for r in rows]


def _eager_gate_row(df: DataFrame) -> DataFrame:
    """Materialize a 1-row gate result eagerly so the caches feeding it
    can be unpersisted before return (ADVICE r7 low #5): gate queries
    collect nothing downstream that needs the lineage, and leaving
    five persisted DataFrames per invocation pressures the block
    manager across 306-query selfcheck sweeps."""
    rows = df.collect()
    return df.sparkSession.createDataFrame(rows, df.schema)


def d02_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pipeline (signatures → banded buckets →
    exact-Jaccard verify ≥ 0.3, `operators/dedup.minhash_dedup_pairs`)
    under an oracle-checkable PRECISION + RECALL gate — re-shaped
    (round 7, VERDICT r06 #2) from a rows-only pair dump: the xxhash64
    hash family keeps the pair SET engine-specific, but the pipeline's
    quality contract is assertable the d19 way.

    The production pipeline runs over the FULL corpus; the gate then
    checks it against DuckDB-recomputable truth on the fixed 500-
    smallest-doc cohort (d19's cohort): `n_true` = cohort pairs with
    exact string-shingle 3-gram Jaccard ≥ 0.8 (above the 8-band ×
    4-row S-curve midpoint (1/8)^(1/4) ≈ 0.595, where single-pair
    catch probability is ≥ 98.5 %), `recall_ok` = caught ∩ truth ≥
    900 ‰ of truth (measured 1000 ‰ at sf0.001/0.01/0.1; vacuous on an
    empty truth set), `precision_viol` = caught pairs anywhere in the
    corpus whose STRING-shingle Jaccard < 0.3 (structurally 0: the
    verify stage applies the same threshold on xxhash64-hashed shingle
    sets, and a hashed-vs-string disagreement needs a 64-bit collision
    — probability ~n²/2⁶⁴).

    Scale: truth is the O(k²)-capped cohort verifier (≤124 750 pairs
    at ANY corpus size), computed once per process and shared with d03
    (`_cohort_truth_pairs`, VERDICT r7 #3); caught is the banded
    equi-join pipeline; the precision audit joins shingle sets back to
    only |caught| pairs.  The gate row is materialized eagerly; the
    intermediate materializations are eager localCheckpoints (not
    caches) so the fused gate stages ship rows, not lineage — see the
    inline notes (VERDICT r9: 6.3 MiB task-binary WARN)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # The verified pair set feeds two gate legs (precision audit +
    # recall semi-join); materializing the few-hundred-row result
    # keeps the banded candidate join + Jaccard verify from running
    # twice (measured 2x end-to-end without it).  Eager
    # localCheckpoint rather than cache() (VERDICT r9 what's-wrong
    # #3): cache keeps the full logical lineage, and the fused gate
    # plan references `caught` from three legs — the serialized task
    # closure carried the whole minhash pipeline several times over
    # (a measured 6.3 MiB "Broadcasting large task binary" WARN per
    # stage; at 100 TB that is multi-MiB of closure per stage
    # re-shipped to thousands of tasks).  Checkpointing truncates the
    # plan to the materialized rows; downstream closures are back
    # under the 1 MiB warning floor.
    caught = D.minhash_dedup_pairs(docs, threshold=0.3).localCheckpoint(
        eager=True
    )
    tok = D.tokens_col(F.col("text"))
    # The precision audit only probes docs that appear in a caught
    # pair — semi-join-filter BEFORE tokenize+shingle so the audit's
    # shingle build is O(|caught|) docs, not the full corpus (round 8:
    # the full-corpus build was ~40% of d02's steady-state cost; at
    # 100 TB it would re-tokenize everything to audit a few thousand
    # pairs).  The id list is checkpointed too — the union+distinct
    # subtree over the checkpointed RDD still serialized ~4 MiB into
    # the audit stage's closure — then explicitly broadcast.  Both
    # audit joins (sh_a / sh_b side) read allsh — checkpoint so it
    # builds once and joins carry no lineage.
    pair_ids = (
        caught.select(F.col("id_a").alias("doc_id"))
        .union(caught.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    allsh = (
        docs.join(F.broadcast(pair_ids), "doc_id", "semi")
        .filter(F.size(tok) >= 3)
        .select(
            F.col("doc_id").alias("id"),
            F.array_distinct(D.shingles_col(tok, 3)).alias("sh"),
        )
        .localCheckpoint(eager=True)
    )
    string_j = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    )
    viol = (
        caught.join(
            allsh.select(
                F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            allsh.select(
                F.col("id").alias("id_b"), F.col("sh").alias("sh_b")
            ),
            "id_b",
        )
        .filter(string_j < 0.3)
        .agg(F.count(F.lit(1)).alias("precision_viol"))
    )
    truth = spark.createDataFrame(
        [(ia, ib) for ia, ib, j in _cohort_truth_pairs(spark, sf_dir)],
        "id_a long, id_b long",
    )
    # One left join marks hits so the (tiny, memoized) truth table
    # is scanned once (a count + separate semi-join leg doubled it).
    th = truth.join(
        caught.select("id_a", "id_b", F.lit(1).alias("hit")),
        ["id_a", "id_b"],
        "left",
    ).agg(
        F.count(F.lit(1)).alias("n_true"),
        F.count("hit").alias("n_hit"),
    )
    gate = th.crossJoin(viol).select(
        "n_true",
        "precision_viol",
        F.expr(
            "cast(n_true = 0 or"
            " (2*1000*n_hit + n_true) div (2*greatest(n_true, 1)) >= 900"
            " as int)"
        ).alias("recall_ok"),
    )
    return _eager_gate_row(gate)


def d03_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection at hamming ≤ 12 under an
    oracle-checkable RECALL gate — re-shaped (round 7, VERDICT r06 #2)
    from a rows-only pair dump.  The pipeline keeps its documented
    HIGH-RECALL-HEURISTIC shape: the 4×16-bit chunk-pigeonhole
    candidate filter is exact only for hamming ≤ 3 (a pair differing
    in all four chunks is never surfaced;
    `operators/dedup.py:simhash_pairs`); every emitted pair IS
    verified ≤ 12.  An exact radius-12 filter would need 13 ~5-bit
    chunks whose 32-value buckets collapse toward O(n²/32) candidates
    — the heuristic is the deliberate 100 TB trade.

    The signature space is xxhash64-specific, so the gate asserts the
    END-TO-END semantic contract DuckDB can recompute: near-identical
    documents must be caught.  `n_true` = fixed-cohort (500 smallest
    doc_ids, d19's cohort) pairs with exact string-shingle 3-gram
    Jaccard ≥ 0.9; `recall_ok` = caught ∩ truth ≥ 800 ‰ of truth
    (measured 920–1000 ‰ at sf0.001/0.01/0.1 — a J ≥ 0.9 pair lands
    at small signature hamming with overwhelming probability, but a
    single unlucky projection can push one past the chunk filter,
    hence the floor below the measured minimum; vacuous on empty
    truth); `order_viol` = emitted pairs violating the id_a < id_b
    canonical order (structurally 0).

    Scale: truth is the O(k²)-capped cohort verifier shared with d02
    (`_cohort_truth_pairs` memo, VERDICT r7 #3 — this gate filters the
    J ≥ 0.8 table to ≥ 0.9 on the identical collected double); caught
    is the 4-way chunk equi-join over the full corpus — no cross join
    anywhere.  Eager gate row + lineage-truncating localCheckpoint
    (see inline note; r10)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # Two gate legs read the pair set (order audit + recall semi-join)
    # — eager localCheckpoint so the chunk self-join runs once AND the
    # gate legs plan against materialized rows instead of re-analyzing
    # the 16-agg/64-bit-unpack fingerprint tree per leg (same
    # lineage-truncation rationale as d02; the exec cost of this
    # pipeline is ~0.4-0.7s, the rest of the old ~3s was per-call plan
    # processing).  The fingerprint INDEX itself is memoized per
    # (app, corpus) — the s15/s05 index-lifecycle shape: a dedup run
    # builds the simhash scan once and every detection query joins
    # against the persisted table (bench resets the memo per pass, so
    # each pass's first sample still pays — and drops — the build).
    caught = D.simhash_pairs(
        max_hamming=12,
        fingerprints=_simhash_fp_index(spark, sf_dir),
    ).localCheckpoint(eager=True)
    truth = spark.createDataFrame(
        [
            (ia, ib)
            for ia, ib, j in _cohort_truth_pairs(spark, sf_dir)
            if j >= 0.9
        ],
        "id_a long, id_b long",
    )
    th = truth.join(
        caught.select("id_a", "id_b", F.lit(1).alias("hit")),
        ["id_a", "id_b"],
        "left",
    ).agg(
        F.count(F.lit(1)).alias("n_true"),
        F.count("hit").alias("n_hit"),
    )
    viol = caught.filter(F.col("id_a") >= F.col("id_b")).agg(
        F.count(F.lit(1)).alias("order_viol")
    )
    gate = th.crossJoin(viol).select(
        "n_true",
        "order_viol",
        F.expr(
            "cast(n_true = 0 or"
            " (2*1000*n_hit + n_true) div (2*greatest(n_true, 1)) >= 800"
            " as int)"
        ).alias("recall_ok"),
    )
    return _eager_gate_row(gate)

def d04_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity over a deterministic FIXED-k
    document cohort (the 100 smallest doc_ids) — the SQL-checkable
    twin of d02.  Fixed k (not a modulus cohort) keeps the all-pairs
    verifier O(k²) = 4 950 pairs at ANY corpus scale; a % 50 subset
    grows linearly and its pair count quadratically."""
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id").limit(100)
    sh = D.shingles_col(D.tokens_col(F.col("text")), 3)
    with_sh = docs.select("doc_id", F.array_distinct(sh).alias("sh"))
    a = with_sh.select(
        F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    b = with_sh.select(
        F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")
    )
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


def d05_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup LSH buckets → duplicate CLUSTERS: portable-MinHash
    banding (one md5 per shingle split into hex lanes so the
    candidate set is engine-reproducible at one digest of CPU) →
    STAR-shaped candidate edges (each bucket member → the bucket\'s
    min-id representative, `operators/dedup.
    portable_minhash_star_edges`; VERDICT r9 #4) → exact-Jaccard-
    verified edges → distributed connected components
    (`operators/graph.connected_components`, transitive closure with
    min-id labels) over the FULL corpus; singletons kept by left join
    without entering the iteration.

    Star vs clique edges: a k-member bucket is spanned by k−1 star
    edges exactly as well as by its C(k,2) pairwise edges, and
    replica-heavy corpora grow cliques QUADRATICALLY in the
    duplication factor (the r8 SCALING bend: 982× true edge growth
    for 10× rows) while stars grow linearly.  Cluster output is
    unchanged (asserted identical to the clique build at
    sf0.001/0.01/0.1; sf0.1 cluster build 12.0 s → 3.8 s).

    Oracle: DuckDB computes the identical star banding + a recursive
    CTE.  This is the end-to-end web-scale dedup pipeline shape —
    every stage is an equi-join or hash-agg, nothing O(n²)."""
    docs = _t(spark, sf_dir, "documents")
    edges = D.portable_minhash_star_edges(docs)
    return G.dedup_clusters(edges, docs).orderBy("doc_id")


def d06_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per duplicate cluster — the dedup
    pipeline's end product: for each multi-member cluster, the keeper
    (longest text, min-id tiebreak) and the member count.

    Scale: clusters carry (node, label) longs only; the keeper choice
    is one row_number window partitioned by cluster_id."""
    docs = _t(spark, sf_dir, "documents")
    edges = D.portable_minhash_star_edges(docs)
    clusters = G.dedup_clusters(edges, docs)
    members = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = members.select(
        "cluster_id", "doc_id",
        F.row_number().over(w).alias("rn"),
    )
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Text analysis — SURVEY.md §2.2 extensions
# ---------------------------------------------------------------------------


def t01_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score
    (operators/text.quality_features)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.quality_features(docs).orderBy("doc_id")


def t02_lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language scores aggregated per labeled lang —
    the oracle-checkable core of language ID."""
    docs = _t(spark, sf_dir, "documents")
    scored = TX.lang_scores(docs)
    # Per-doc scores are exact multiples of 1/10⁴ (lang_scores rounds
    # in integer space); the MEAN is rounded the same way — summing
    # the integer numerators and half-up dividing — so no double
    # summation order can flip a 4th decimal between engines.
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for lang in sorted(TX.STOPWORDS):
        aggs.append(
            F.sum(
                F.round(F.col(f"score_{lang}") * 10000).cast("long")
            ).alias(f"_s4_{lang}")
        )
    grouped = scored.groupBy("lang").agg(*aggs)
    return grouped.selectExpr(
        "lang",
        "n_docs",
        *[
            f"((2*_s4_{lang} + n_docs) div (2*n_docs)) / 10000.0D"
            f" AS avg_{lang}"
            for lang in sorted(TX.STOPWORDS)
        ],
    ).orderBy("lang")


def d17_portable_simhash_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SimHash dedup FULLY under the oracle — the d03→d17 twin of the
    d02→d05 MinHash relationship (every rows-only hash family now has
    an exact-hash-gated sibling): 32-bit majority-vote signature from
    hex-char parities of one md5 per distinct token
    (`operators/dedup.portable_simhash_pairs`), pigeonhole 4×8-bit
    chunk banding (EXACT recall at hamming ≤ 3, not LSH-
    probabilistic), integer ``bit_count(xor)`` verify.  DuckDB
    replays signature, banding, and verification bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    return D.portable_simhash_pairs(docs, max_hamming=3).orderBy(
        "id_a", "id_b"
    )


def d18_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization-BEFORE-dedup — the normalization pass that
    makes exact dedup (d01) catch trivially-reformatted copies: text
    lowercased, punctuation stripped, whitespace collapsed and
    trimmed, THEN md5-grouped.  Reported per group: copies under the
    normalized key vs distinct RAW texts it merged (raw_variants > 1
    is exactly the set d01 would have missed).  The corpus carries no
    byte-exact duplicates, so every tenth document is unioned back as
    a deterministically REFORMATTED copy (uppercased, doubled spaces,
    trailing punctuation) — the query must merge each copy with its
    original and nothing else.  Same scale shape as d01 — only the
    16-byte fingerprint shuffles.  Regex semantics are engine-pinned
    the t14 way (plain character classes, no engine-specific
    escapes)."""
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    reformatted = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.regexp_replace(F.upper(F.col("text")), " ", "  "),
            F.lit(" ."),
        ).alias("text"),
    )
    docs = base.unionByName(reformatted)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[.,!?;:'\"]", ""),
            r"\s+",
            " ",
        )
    )
    return (
        docs.select(
            F.md5(norm).alias("fp"),
            F.md5(F.col("text")).alias("raw_fp"),
            "doc_id",
        )
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("raw_fp").alias("raw_variants"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("n_copies") >= 2)
        .orderBy("fp")
    )


def t03_langid_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID ACCURACY per labeled language — re-shaped (round 7,
    VERDICT r06 #2) from its r1 rows-only confusion dump into a fully
    hash-gated query.  The original rows-only rationale ("struct-argmax
    engine-specific on ties") was retired by t21: the per-language
    stopword scores are integer-exact 4-decimal rationals and the
    argmax tiebreak is total (max over (score, lang) structs), so
    DuckDB replays the ENTIRE prediction.  Where t21 hash-pins the full
    confusion matrix, t03 reports the curation-facing rollup: per true
    language, document count, correct predictions, and integer
    per-mille accuracy ((2·1000·correct + n) div (2·n) — the repo's
    half-up integer rounding rule, no fp boundary).

    Scale: one scan, per-doc regexp_count scoring inside codegen, one
    hash-agg on the 5-value lang key."""
    docs = _t(spark, sf_dir, "documents")
    return (
        TX.langid(docs)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(
                F.when(F.col("pred_lang") == F.col("lang"), 1)
            ).alias("n_correct"),
        )
        .select(
            "lang",
            "n_docs",
            "n_correct",
            F.expr(
                "(2*1000*n_correct + n_docs) div (2*n_docs)"
            ).alias("acc_permille"),
        )
        .orderBy("lang")
    )


def t04_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source: whitespace vs BPE-ish regex
    tokenization (operators/text token counters)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(TX.ws_token_count(t).cast("long")).alias("ws_tokens"),
            F.sum(TX.bpe_ish_token_count(t).cast("long")).alias("bpe_tokens"),
            F.sum(F.length(t).cast("long")).alias("total_chars"),
        )
        .orderBy("source")
    )


def t05_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints per source: distinct md5 count (dup
    detection primitive; the rolling-hash twin is rows-only in d02)."""
    docs = _t(spark, sf_dir, "documents")
    fp = TX.fingerprint(docs)
    return (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp_md5").alias("n_distinct"),
        )
        .orderBy("source")
    )


def t06_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf (`operators/text.py:tfidf`, SURVEY.md §2.2 text row): top-3
    terms per document for a doc_id%25 subset, with document frequency
    computed over the FULL corpus.

    Scale: tf is one shuffle on (doc, term); df derives from tf and is
    broadcast back; the doc subset filter applies after df so weights
    are corpus-true.  Ties broken on the rounded score then term asc so
    both engines rank identically."""
    docs = _t(spark, sf_dir, "documents")
    scored = TX.tfidf(docs).withColumn("tfidf_r", F.round("tfidf", 4))
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf_r"), F.asc("term"))
    return (
        scored.filter(F.col("doc_id") % 25 == 0)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("tf").alias("tf_count"),
            F.col("df").alias("doc_freq"),
            F.col("tfidf_r").alias("tfidf"),
            "rnk",
        )
        .orderBy("doc_id", "rnk")
    )


def t07_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word bigrams (`operators/text.py:ngrams_col`, the NGram
    transformer shape): global top-15 bigrams by occurrence count.

    Scale: the gram array is built narrow inside the scan stage (no
    token-row shuffle), then explode → partial-agg → one shuffle of
    |distinct bigrams| partial counts → bounded top-k sort."""
    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(TX.ngrams_col(F.col("text"), 2)).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(15)
    )


def t08_quality_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data selection under a per-language budget: rank each
    language's documents by composite quality score (t01's features)
    and keep the top 20 per language.

    Scale: score computation is scan-local (regexp_count/translate in
    codegen); the only shuffle is the per-language window, and a
    per-group top-k never materializes the full sort (rank ≤ k prunes
    inside the window exec). Deterministic: score ties break on
    doc_id."""
    docs = _t(spark, sf_dir, "documents")
    scored = TX.quality_features(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = W.partitionBy("lang").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    return (
        scored.select(
            "doc_id", "lang", "quality_score",
            F.row_number().over(w).alias("lang_rank"),
        )
        .filter(F.col("lang_rank") <= 20)
        .orderBy("lang", "lang_rank")
    )


def t09_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by content-hash bucket: keep
    a per-language fraction of documents chosen by the first md5 byte
    of ``lang:doc_id`` (en → 64/256 ≈ 25%, others → 128/256 = 50%).

    Hash-based sampling is THE 100 TB sampling strategy: reproducible
    across engines/retries/reorderings, needs no RNG state or
    sort, and evaluates scan-local so the filter prunes before any
    shuffle. The hex-prefix comparison is engine-portable (Spark and
    DuckDB md5 agree byte-for-byte)."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(F.concat_ws(":", F.col("lang"), F.col("doc_id"))), 1, 2
    )
    limit = F.when(F.col("lang") == "en", F.lit("40")).otherwise(F.lit("80"))
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < limit)
        .orderBy("doc_id")
    )


def t10_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing for training data: documents
    are (conceptually) concatenated per shard in doc_id order and
    split into 4096-token sequences; each document is assigned the
    sequence its first token lands in (seq_no = ⌊preceding-total /
    4096⌋ — a pure window expression, unlike exact greedy first-fit,
    which is a sequential recurrence).

    Scale: packing needs an order, but NOT a global one — training
    pipelines pack per shard, so the window partitions by the shard
    key (here: language) and the only shuffle is that partition;
    token counting itself is scan-local regexp_count."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        TX.bpe_ish_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return toks.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / 4096).cast("long").alias("seq_no"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Similarity search — SURVEY.md §2.2 extensions
# ---------------------------------------------------------------------------


def s01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors for query vectors
    (vec_id < 5) — exact ANN baseline, JVM-side vector math."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.cosine_topk(emb, queries, k=10).orderBy("qid", "rnk")


def s18_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-INNER-PRODUCT top-5 (the recommendation/retrieval
    scoring objective): rank by RAW dot product, not cosine — the two
    orders genuinely diverge when corpus norms vary, which is why
    MIPS is its own retrieval mode.  Exact brute force over the
    broadcast query set (s01's shape), sequential-fold dot so the
    score is bit-comparable with DuckDB's ``list_dot_product``.

    Scale path: the norm-augmentation reduction
    ``[v; sqrt(M² − |v|²)]`` (Bachrach et al.) turns MIPS into
    cosine search, so the s03/s05 LSH/IVF machinery applies
    unchanged; this exact twin is the gate those approximate runs
    would be scored against."""
    from kinesis_log_streamer_spark.functions.vector import dot

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scored = corpus.join(
        F.broadcast(queries), F.col("vec_id") != F.col("qid")
    ).select(
        "qid", "vec_id", F.round(dot(F.col("v"), F.col("qv")), 4).alias("ip")
    )
    w = W.partitionBy("qid").orderBy(F.desc("ip"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("qid", "rnk")
    )


def s02_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding norm statistics (array math via
    zip_with/aggregate — no UDF)."""
    emb = _t(spark, sf_dir, "embeddings")
    from kinesis_log_streamer_spark.functions.vector import l2_norm

    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(l2_norm(F.col("embedding"))), 4).alias("avg_norm"),
        )
        .orderBy("label")
    )


def _ann_quality_gate(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Turn an approximate top-k result into an ORACLE-HASHABLE
    assertion table: per query vector, the result count and an ANN
    effectiveness flag — avg cosine of the approx top-k must reach
    ≥ 60 % of the exact top-k's avg cosine.

    Exact-ID recall is the wrong gate on this synthetic corpus (it is
    near-random — max pairwise cosine ≈ 0.51 — so the exact top-10 is
    a razor-thin margin and per-query recall swings 0.0–0.7 between
    scale factors).  The effectiveness ratio is tight because every
    ANN path here ends in an exact-cosine re-rank: measured mins
    across sf0.001/0.01/0.1 are 0.71 (IVF), 0.76 (LSH), 0.81 (PQ
    rerank=12), so 0.60 pins real quality with regeneration margin.
    A random top-k would score ~0.3.  The DuckDB oracle states the
    EXPECTED table (every qid: 10 rows, quality_ok=1); the hash match
    therefore fails if candidate generation under-produces or re-rank
    quality collapses — a strictly stronger check than rows-only."""
    a = approx.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_results"),
        F.avg("cos4").alias("_a_avg"),
    )
    e = exact.groupBy("qid").agg(F.avg("cos4").alias("_e_avg"))
    return (
        a.join(e, "qid")
        .select(
            "qid",
            "n_results",
            (F.col("_a_avg") >= 0.6 * F.col("_e_avg"))
            .cast("int")
            .alias("quality_ok"),
        )
        .orderBy("qid")
    )


def s03_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via random-hyperplane LSH + exact re-rank —
    the 100 TB scale path.  Oracle-gated through
    :func:`_ann_quality_gate`: the output is the per-query assertion
    table, so the driver hash pins result count AND score quality
    (the raw neighbor lists stay engine-specific).  The exact twin
    used as the yardstick is one broadcast-matmul scan over the
    corpus for the 5 fixed query vectors — linear, not quadratic, so
    the gate itself is 100 TB-safe."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    approx = S.lsh_topk(
        emb, queries, dim=64, k=10, queries_in_corpus=True
    )
    return _ann_quality_gate(approx, S.cosine_topk(emb, queries, k=10))


def _ivf_prepared(spark: SparkSession, sf_dir: str):
    """The query-independent half of s05's IVF index (centroid sample,
    corpus cell assignment, normalized corpus), built once per session
    and corpus like any IVF index (``S.ivf_prepare``); its eager
    localCheckpoints pin the materialized rows across calls."""
    return _derived(
        spark, sf_dir, "ivf_prep", "embeddings",
        lambda: S.ivf_prepare(_t(spark, sf_dir, "embeddings"), materialize=True),
    )


def s05_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF cell probing (seeded-sample coarse
    quantizer, nprobe=4 of 16 cells) — the partition-pruned ANN path
    complementing s03's LSH.  Oracle-gated via
    :func:`_ann_quality_gate` (see s03).  Probes the memoized
    prepared index (:func:`_ivf_prepared`) — identical numbers (same
    centroids, same seed), the index build just stops being re-run
    per call."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    approx = S.ivf_topk(
        emb, queries, k=10, queries_in_corpus=True,
        prepared=_ivf_prepared(spark, sf_dir),
    )
    return _ann_quality_gate(approx, S.cosine_topk(emb, queries, k=10))


def s04_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact
    verify.  Threshold 0.3 — this synthetic corpus has no true
    near-dups (max pairwise cosine ≈ 0.51), so the top tail stands in.

    FULLY oracle-hashed since r04 (was rows-only r01–r03):
    ``portable_keys=True`` band keys are the literal signature bit
    strings and the hyperplanes are seeded/deterministic, so the
    DuckDB oracle replays the ENTIRE pipeline — signatures via
    ``list_dot_product`` against the same plane literals, banding,
    bucket self-join, exact cosine verify — and the exact pair set
    plus cosines must match.  The only cross-engine freedom left is
    float summation order in the projections; a sign flip needs
    |projection| ≲ 1e-13, negligible across 32 bits × corpus
    (ACCEPTED-FP-RISK, same class as s06's round-4 cosine)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(
        emb, dim=64, min_cosine=0.3, portable_keys=True
    ).orderBy("id_a", "id_b")


def s22_embedding_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup SPANNING edges (s04's cluster-build twin,
    mirroring d24 for d03 — VERDICT r13 next #5): each LSH bucket
    anchors at its min-id member and emits (anchor, member) verified
    edges only, so a k-replica clique costs k−1 candidates instead of
    C(k,2) — candidate and output volume LINEAR in the duplication
    factor, which is the whole story on replica-heavy corpora where
    s04's pair contract bends 11.92× (SCALING.md).  No bucket
    self-join at all: the anchor is a window min over the band key.

    FULLY oracle-hashed like s04: portable band keys + deterministic
    hyperplanes let DuckDB replay signatures, banding, bucket-min
    anchoring, and the exact cosine verify — the exact edge set must
    match.  Components-refine-pairs and equality-on-replica-corpora
    are pinned in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_star_edges(
        emb, dim=64, min_cosine=0.3, portable_keys=True
    ).orderBy("id_a", "id_b")


def s06_cosine_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine pair similarity on a bounded subset — the
    oracle-hashed exact twin of s04's LSH-bucketed scale path (the same
    relationship d04 bears to d02).  vec_id%20 keeps the quadratic
    verifier at ~n²/400 pairs; the JVM zip_with/aggregate math must
    match DuckDB's list_cosine_similarity to 4 decimals."""
    from kinesis_log_streamer_spark.functions.vector import cosine_sim

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 20 == 0)
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").cast("array<double>").alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(cosine_sim(F.col("va"), F.col("vb")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.2)
        .orderBy("id_a", "id_b")
    )


def s07_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding corpus — the distributed
    mean-vector step behind IVF training / one k-means iteration.

    Scale: posexplode is a narrow scan-stage projection (no shuffle to
    build dimension rows); the partial aggregate combines map-side, so
    the one shuffle carries |labels|·|dims| partial sums, independent
    of corpus size. The inverse of this plan (re-packing centroids to
    arrays) is a 640-row driver-side concern, not a cluster one."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    return (
        dims.groupBy("label", "dim")
        .agg(
            # +0.0 normalizes IEEE negative zero (an avg of cancelling
            # floats can yield -0.0 on one engine and 0.0 on another).
            (F.round(F.avg("x"), 4) + F.lit(0.0)).alias("mean_x"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing + ingest parity
# ---------------------------------------------------------------------------


def m01_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload column + typed metadata (the schema/plumbing is
    what's checked — payload length via SQL)."""
    docs = _t(spark, sf_dir, "documents")
    media = M.attach_binary_payload(docs)
    return media.select("doc_id", "kind", "n_bytes").orderBy("doc_id")


def m02_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched ``mapInPandas`` decode path itself
    (`operators/multimodal.py:decode_media`) inside the oracle gate: an
    ASCII payload (the document's md5 hex — every byte == its
    character, so DuckDB can recompute byte stats with ascii()) runs
    through the batch plumbing and its byte-stat featurizer; this pins
    the schema, batching, and byte math."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "payload_src", F.md5(F.col("text"))
    )
    media = M.attach_binary_payload(docs, text_col="payload_src", kind="digest")
    feats = M.decode_media(media)
    return feats.select(
        "doc_id",
        "kind",
        "n_bytes",
        F.round("feat_mean", 4).alias("feat_mean"),
        "feat_first",
        "feat_last",
    ).orderBy("doc_id")


def m03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (`operators/multimodal.py:frame_sample`):
    JVM-side explode of one row per sampled payload offset (what per-
    frame video decode fans out to), over the ASCII md5 payload so the
    sampled 'frame token' is oracle-recomputable."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "payload_src", F.md5(F.col("text"))
    )
    media = M.attach_binary_payload(docs, text_col="payload_src", kind="digest")
    frames = M.frame_sample(media, every_n_bytes=8)
    return frames.select(
        "doc_id", "frame_no", "frame_offset", "frame_token"
    ).orderBy("doc_id", "frame_no")


def m07_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESIZE pass of the multimodal pipeline
    (`operators/multimodal.py:resize_media` — Arrow-batched block
    averaging, the BOX-filter downsample) under the oracle: the ASCII
    md5 payload (32 bytes) shrinks to 8 cells of exact integer means,
    which DuckDB recomputes byte-for-byte with ascii()/substr.
    Completes the decode / feature-extract / RESIZE / frame-sample
    quartet (m02/m06/m07/m03)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "payload_src", F.md5(F.col("text"))
    )
    media = M.attach_binary_payload(docs, text_col="payload_src", kind="digest")
    cells = M.resize_media(media, target_w=8)
    return cells.orderBy("doc_id", "cell_no")


def m08_ppm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under the oracle — no stub, no PIL: 24
    binary PPM (P6) images are ENCODED executor-side in the actual
    wire format (`operators/multimodal.ppm_bytes` — real header +
    raster whose pixel (x,y,c) is a closed form), then DECODED by a
    parser that never sees the generator (`decode_ppm_stats`: netpbm
    header tokenizer with comment handling, numpy.frombuffer raster,
    exact int64 per-channel sums).  DuckDB recomputes the sums from
    the closed form alone, so a single mis-parsed header byte or
    channel-order swap breaks the hash.  Upgrades the m-family's
    import-gated compressed-codec stub posture: uncompressed formats
    decode for real in any image."""
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("binary")
    def encode(ids: pd.Series) -> pd.Series:
        return pd.Series(
            [
                M.ppm_bytes(int(i), 8 + (int(i) % 5) * 4, 6 + (int(i) % 3) * 4)
                for i in ids
            ]
        )

    imgs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 24)
        .select(F.col("doc_id").alias("img_id"))
        .withColumn("payload", encode("img_id"))
    )
    return M.decode_ppm_stats(imgs).orderBy("img_id")


def m09_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode under the oracle — no stub, no soundfile: 16
    RIFF/WAVE PCM-16 mono clips encoded executor-side
    (`operators/multimodal.wav_bytes` — canonical 44-byte header +
    data chunk, sample i a closed form), decoded by a real RIFF chunk
    walker (`decode_wav_stats`: word-aligned chunk list, fmt
    validation, numpy '<i2' sample decode) into exact integer
    telemetry (int64 sample sum, peak amplitude).  DuckDB recomputes
    both from the closed form; m06's frame-energy pass is the
    downstream consumer of exactly these samples."""
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("binary")
    def encode(ids: pd.Series) -> pd.Series:
        return pd.Series(
            [
                M.wav_bytes(
                    int(i),
                    500 + (int(i) % 7) * 250,
                    8000 + (int(i) % 3) * 4000,
                )
                for i in ids
            ]
        )

    clips = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 16)
        .select(F.col("doc_id").alias("clip_id"))
        .withColumn("payload", encode("clip_id"))
    )
    return M.decode_wav_stats(clips).orderBy("clip_id")


def m10_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED image decode under the oracle — no PIL, stdlib
    zlib + numpy only (VERDICT r13 next #3): 20 real PNGs (signature,
    CRC-checked IHDR/IDAT/IEND chunks, zlib-DEFLATE scanlines with the
    filter type ROTATING through all five per image) are encoded
    executor-side (`operators/multimodal.png_bytes`), then decoded by
    a parser that never sees the generator (`decode_png`: chunk walk +
    CRC32 verify + inflate + per-filter unfilter recurrences).  DuckDB
    recomputes the per-channel sums from the pixel closed form alone,
    so a single mis-implemented unfilter (Sub/Up/Average/Paeth), CRC
    slip, or channel swap breaks the hash.  With this, the m-family's
    import-gated stub posture shrinks to entropy-coded codecs
    (JPEG/FLAC-class) only."""
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("binary")
    def encode(ids: pd.Series) -> pd.Series:
        return pd.Series(
            [
                M.png_bytes(int(i), 8 + (int(i) % 6) * 3, 6 + (int(i) % 4) * 3)
                for i in ids
            ]
        )

    imgs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select(F.col("doc_id").alias("img_id"))
        .withColumn("payload", encode("img_id"))
    )
    return M.decode_png_stats(imgs).orderBy("img_id")


def l01_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache access-log analytics end to end: synthesize FIXTURES §A1
    JSON records from events, parse with the declared schema
    (from_json round trip — a parse bug breaks the oracle match), roll
    up requests/bytes/latency by status class."""
    return LA.status_class_rollup(_access(spark, sf_dir))


def l02_topk_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 URL paths by hits over parsed access records (aggregate
    before sort — the shuffle carries |distinct paths| rows)."""
    return LA.topk_urls(_access(spark, sf_dir), k=10).select(
        F.col("UrlPath").alias("url_path"), "hits", "bytes_sent"
    )


def _access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed, corruption-filtered access records (the l0* input).

    Rendered and parsed once per session and corpus, then eagerly
    localCheckpointed, so the ~9 l-family consumers plan against the
    materialized rows instead of each re-rendering events→JSON and
    re-parsing it.  ``_raw`` is dropped first: no consumer reads it and
    it would double the checkpointed bytes."""

    def build():
        from kinesis_log_streamer_spark.operators.parallelize import (
            spread_for_compute,
        )

        ev = spread_for_compute(_t(spark, sf_dir, "events"))
        parsed = LA.parse_access_logs(LA.access_records_from_events(ev))
        return (
            parsed.filter(~F.col("is_corrupt"))
            .drop("_raw")
            .localCheckpoint(eager=True)
        )

    return _derived(spark, sf_dir, "access", "events", build)


def l03_windowed_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly request/5xx counts + error rate over parsed access
    records (`operators/loganalytics.py:windowed_error_rate`) — the
    batch twin of the streaming error-rate monitor."""
    out = LA.windowed_error_rate(_access(spark, sf_dir), "1 hour")
    return out.withColumn("n_5xx", F.col("n_5xx").cast("long")).orderBy(
        "window_start"
    )


def l04_request_line_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RequestLine decomposition
    (`operators/loganalytics.py:split_request_line`): method/protocol
    extraction plus per-path-segment rollup proves the regex fields
    round-trip through the full JSON parse."""
    split = LA.split_request_line(_access(spark, sf_dir))
    seg = F.split(F.col("req_path"), "/")[1]
    return (
        split.groupBy(
            "req_method", "req_protocol", seg.alias("path_segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.countDistinct("req_path").alias("n_paths"),
        )
        .orderBy("req_method", "req_protocol", "path_segment")
    )


def l05_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 request latency per handler — the
    oracle-checkable twin of
    `operators/loganalytics.py:latency_percentiles_by_handler` (whose
    production form uses mergeable percentile_approx sketches; exact
    percentile gathers per-group values, fine at |handlers| groups)."""
    acc = _access(spark, sf_dir)
    return (
        acc.groupBy(F.col("RequestHandler").alias("handler"))
        .agg(
            F.round(F.expr("percentile(RequestTimeMicroseconds, 0.5)"), 4).alias("p50_us"),
            F.round(F.expr("percentile(RequestTimeMicroseconds, 0.95)"), 4).alias("p95_us"),
            F.round(F.expr("percentile(RequestTimeMicroseconds, 0.99)"), 4).alias("p99_us"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("handler")
    )


def l06_client_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-client sessionization over access-record event time
    (`operators/loganalytics.py:sessionize_clients`,
    ``session_window`` batch form); oracle = gaps-and-islands SQL."""
    out = LA.sessionize_clients(_access(spark, sf_dir), gap="30 minutes")
    return out.select(
        F.col("ClientAddress").alias("client"),
        "session_start",
        "n_requests",
    ).orderBy("client", "session_start")


def _drain_stream_to_table(
    agg: DataFrame,
    name: str,
    mode: str = "complete",
    n_partitions: int = 8,
    no_data: bool = True,
) -> None:
    """``_drain`` into a memory sink named ``name``.  ``complete`` mode
    for aggregations (every window/session emitted regardless of
    watermark); ``append`` for stream-stream joins / dedup, which emit
    rows as they materialize.

    ``no_data=False`` disables the engine's automatic no-data
    micro-batch for drains whose OUTPUT cannot depend on it — inner
    joins / dedup (rows emit as data arrives), complete and update
    modes (every batch re-emits / emits changes) — saving one full
    state-store commit cycle (~0.6-0.8 s measured at sf0.1, VERDICT
    r10 #5).  Append-mode watermark emission (windowed aggs, outer
    joins, event-time timeouts) NEEDS that batch: results only emit
    after the watermark advances, which happens between batches —
    those drains keep the default."""
    spark = agg.sparkSession
    spark.catalog.dropTempView(name)
    # Stateful streaming tasks = shuffle partitions, fixed at first
    # batch; the oracle-gate inputs are tiny, so 8 state-store tasks
    # instead of 32 cut per-batch overhead for JVM-side state ops (the
    # conf is restored — batch queries keep the session default).
    # Python-stateful ops (applyInPandasWithState) pass a higher count:
    # their per-group work runs in Python workers, so parallelism wins.
    with _conf(
        spark,
        {
            "spark.sql.shuffle.partitions": str(n_partitions),
            "spark.sql.streaming.noDataMicroBatches.enabled": (
                "true" if no_data else "false"
            ),
        },
    ):
        _drain(agg.writeStream.format("memory").queryName(name).outputMode(mode))


def st01_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming semantics inside the correctness gate: the events
    table replayed through the file streaming source (micro-batch
    engine, stateful window aggregation, memory sink) must produce
    byte-identical windows to the batch plan — so the oracle is plain
    batch SQL.  This is Spark's unbounded-table equivalence made
    testable."""
    from kinesis_log_streamer_spark.streaming.pipeline import read_events_stream

    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", "1 hour").start.alias("bucket_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    _drain_stream_to_table(agg, "st01_out", no_data=False)
    return spark.table("st01_out").orderBy("bucket_start", "event_type")


def st02_stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``session_window`` (gap-merged state) drained to
    batch-equal sessions; the oracle rebuilds the same sessions with a
    gaps-and-islands SQL over the static table."""
    from kinesis_log_streamer_spark.streaming.pipeline import read_events_stream

    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    _drain_stream_to_table(agg, "st02_out", no_data=False)
    return (
        spark.table("st02_out")
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


def q38_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-remedy equivalence (`operators/skew.py:salted_join`): the
    lineitem⋈supplier join with the fact side salted into 8 buckets
    must produce exactly the plain join's answer — salting balances
    placement, never results.  Revenue rolled up per supplier nation.
    """
    from kinesis_log_streamer_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, supp, "l_suppkey", n_salts=8)
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.round(F.sum("rev"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("s_nationkey")
    )


def q39_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (the frame type q12's running totals —
    ROWS — don't cover): per customer, each order sees the count/sum of
    that customer's orders in the PRECEDING 30 DAYS including peers.
    RANGE frames include all tie rows, so the result is deterministic
    without a unique tiebreaker — exactly why the frame type exists."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q39_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_orderdate,
               count(*) OVER w                          AS n_recent,
               round(sum(o_totalprice) OVER w, 2)       AS recent_total
        FROM q39_orders
        WHERE o_custkey % 50 = 0
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, o_orderdate, o_orderkey
        """
    )


def q40_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate functions (corr / covariance / stddev /
    variance / skewness via moments) per group — deterministic
    double-precision math both engines compute identically."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qp"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
            F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


def q41_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of lineitem prices (floor-div binning —
    portable width_bucket) plus the cumulative distribution via a
    running-sum window over the bin counts.

    Scale: binning is scan-local arithmetic; the groupBy shuffles
    |bins| partial counts; the CDF window runs over the already-tiny
    bin table (single partition is fine — it is |bins| rows, not
    data)."""
    li = _t(spark, sf_dir, "lineitem")
    binned = li.groupBy(
        F.floor(F.col("l_extendedprice") / 5000).cast("long").alias("price_bin")
    ).agg(F.count(F.lit(1)).alias("n_items"))
    total = W.orderBy("price_bin").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    grand = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return binned.select(
        "price_bin",
        "n_items",
        F.round(
            F.sum("n_items").over(total) / F.sum("n_items").over(grand), 6
        ).alias("cum_share"),
    ).orderBy("price_bin")


def q42_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch upsert (MERGE) semantics on plain parquet: a changeset
    (latest purchase value per user, keys offset so both updates and
    inserts occur) merged into the customer snapshot — full outer
    join + coalesce, with the action (insert/update/keep) labeled.

    Scale: the changeset is first reduced to one row per key with a
    max_by-style ranked window (latest ts, event_id tiebreak), so the
    outer join is key-to-key; on a real lakehouse this plan is what
    MERGE INTO compiles to, with the join pruned to touched files."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").alias("old_bal"),
    )
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = W.partitionBy("key").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    changes = (
        ev.select(
            (F.col("user_id") + 1401).alias("key"),
            F.col("value").alias("new_bal"),
            "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "new_bal")
    )
    merged = cust.join(changes, "key", "full_outer")
    action = (
        F.when(F.col("old_bal").isNull(), F.lit("insert"))
        .when(F.col("new_bal").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
    )
    return (
        merged.select(
            "key",
            F.round(F.coalesce("new_bal", "old_bal"), 2).alias("bal"),
            action.alias("action"),
        )
        .filter(F.col("action") != "keep")  # changed rows only
        .orderBy("key")
    )


def q43_window_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining ranked-window functions over orders per customer:
    percent_rank, cume_dist, nth_value(2) — one shuffle on the
    partition key, all three computed in a single window exec."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    ).orderBy("o_custkey", "o_orderkey")


def q44_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered window — not directly
    expressible (no distinct aggregates over running frames), so it
    compiles to the standard two-window rewrite: mark each (customer,
    priority) pair's first occurrence with a ranked window, then
    running-sum the marks. Both windows shuffle on the same customer
    key, so the second is exchange-free."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    first_seen = W.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    running = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    marked = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.row_number().over(first_seen) == 1).cast("long").alias("is_first"),
    )
    return marked.select(
        "o_custkey",
        "o_orderkey",
        F.sum("is_first").over(running).alias("n_distinct_priorities"),
    ).orderBy("o_custkey", "o_orderkey")


def q47_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: 5-table join (lineitem ⋈ orders
    ⋈ part ⋈ supplier ⋈ nation) → per-year supplier-nation revenue →
    share-of-year via a window over the tiny aggregate.

    Scale: the two fact tables meet in ONE shuffle join on orderkey;
    part (filtered to PROMO before the join — the filter prunes the
    broadcast, not the probe) and nation broadcast; supplier is left
    to AQE, which broadcasts it while it fits and falls back to
    shuffle when it doesn't.  The share window runs over
    |years × nations| rows — negligible."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    # Exact-decimal revenue: double sums of money straddle .005
    # rounding boundaries differently per association order (observed
    # at sf0.1); decimal sums are associative-exact, so both engines
    # round the same value.
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,4)")
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    agg = joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.col("n_name").alias("supp_nation"),
    ).agg(F.sum(rev).alias("rev_exact"))
    share = F.round(
        F.col("rev_exact").cast("double")
        / F.sum("rev_exact").over(W.partitionBy("o_year")).cast("double"),
        4,
    )
    return agg.select(
        "o_year",
        "supp_nation",
        F.round(F.col("rev_exact").cast("double"), 2).alias("revenue"),
        share.alias("share"),
    ).orderBy("o_year", "supp_nation")


def f06_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet landing zone: batch 1 written
    with (suppkey, name, acctbal), batch 2 with (suppkey, acctbal,
    nationkey) — the read merges schemas (``mergeSchema``), absent
    columns surface as nulls, and the aggregate proves no rows or
    values were lost.

    Scale: mergeSchema reconciles footers only (no data rewrite);
    at 100 TB the same evolution is a metadata operation, which is
    exactly why pipelines add columns instead of rewriting tables."""
    sup = _t(spark, sf_dir, "supplier")
    base = _scratch(spark, "f06")
    even = F.col("s_suppkey") % 2 == 0
    sup.filter(even).select("s_suppkey", "s_name", "s_acctbal").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "b1"))
    sup.filter(~even).select(
        "s_suppkey", "s_acctbal", "s_nationkey"
    ).write.mode("overwrite").parquet(os.path.join(base, "b2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "b1"), os.path.join(base, "b2")
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("s_name").alias("n_with_name"),
        F.count("s_nationkey").alias("n_with_nation"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
    )


def s08_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (`operators/similarity.pq_topk`):
    vectors compressed to m=4 subspace codes, ADC table-lookup scoring
    over the int-only code table, exact cosine re-rank of the
    shortlist.  The third ANN scale path next to LSH (s03) and IVF
    (s05): PQ trades the vector scan for a code scan ~32× smaller.
    Oracle-gated via :func:`_ann_quality_gate` (see s03); rerank=12
    — ADC over m=4 subspaces of near-random data is coarse, and a
    12·k exact-re-rank shortlist lifts the min effectiveness ratio
    from 0.65 to 0.81 while still reading full vectors for only 120
    candidates per query."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    approx = S.pq_topk(emb, queries, k=10, rerank=12)
    return _ann_quality_gate(approx, S.cosine_topk(emb, queries, k=10))


def l07_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user
    counts at stage k only with a stage-k event at-or-after their
    stage-(k-1) entry time.  The classic product-analytics query that
    needs per-user sequential state, expressed as staged conditional
    mins — each stage is one groupBy(user) + one equi-join, no
    windows, no per-user sort.

    Scale: stage tables shrink monotonically (stage-k rows ≤ distinct
    users at stage k), every join is on the user key, and AQE
    broadcasts the later tiny stages automatically."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def _stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )

    return (
        _stage(s1, "1_view")
        .unionByName(_stage(s2, "2_click"))
        .unionByName(_stage(s3, "3_purchase"))
        .orderBy("stage")
    )


def l08_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their
    first event; per (cohort week, weeks-since-cohort) the count of
    distinct active users — the triangle matrix behind every
    retention chart.

    Scale: first-event week is one groupBy(user); activity weeks are
    a distinct over (user, week) — both shuffle on user; the final
    count shuffles |cohorts × offsets| partial counts only."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    cohort = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    active = ev.distinct()
    offset = (
        (F.unix_timestamp("wk") - F.unix_timestamp("cohort_week")) / 604800
    ).cast("long")
    return (
        active.join(cohort, "user_id")
        .groupBy(
            F.to_date("cohort_week").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def t11_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split for training data:
    assignment by md5 hex prefix of the doc id — 80/10/10 via the
    byte thresholds 0xcc/0xe6.  Like `t09_hash_sample`, the hash
    gate is scan-local, reproducible across engines/retries, and
    stable under re-partitioning — no RNG state, no global sort, and
    a document never migrates between splits when the corpus grows.

    Returns per (split, lang) counts — the stratification check run
    before training."""
    docs = _t(spark, sf_dir, "documents")
    b = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(b < "cc", F.lit("train"))
        .when(b < "e6", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )


def t12_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile clipping (winsorization) of a metric per group:
    exact p05/p95 of ``value`` per event type, values clipped into
    that band, with before/after means and the clipped-row count —
    the outlier-robust normalization step of a feature pipeline.

    Scale: the exact per-group percentile gathers each group's values
    on one reducer — right for |groups| ≪ rows with bounded group
    size; the production path swaps in mergeable approx_percentile
    sketches with zero plan changes (q28 demonstrates them). The
    5-row percentile table broadcasts back onto the scan."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    pct = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    clipped = ev.join(F.broadcast(pct), "event_type").select(
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
            "cv"
        ),
        ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95")))
        .cast("long")
        .alias("is_clipped"),
    )
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_raw"),
            F.round(F.avg("cv"), 4).alias("avg_clipped"),
            F.sum("is_clipped").alias("n_clipped"),
        )
        .orderBy("event_type")
    )


def q45_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface coverage through ``spark.sql``: ordered string
    aggregation (``listagg … WITHIN GROUP``, Spark 4.0+) and the ANSI
    ``FILTER (WHERE …)`` aggregate clause, over nation⋈region.

    Scale: listagg materializes each group's values on one reducer —
    correct usage is small-cardinality groups (here: 5 nations per
    region); unbounded-group concatenation belongs in collect_list
    with an explicit size guard, not listagg."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    _t(spark, sf_dir, "region").createOrReplaceTempView("region")
    return spark.sql("""
        SELECT r_name AS region,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
                   AS nations,
               count(*) FILTER (WHERE n_nationkey % 2 = 0)
                   AS n_even_keys,
               count(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY region
    """)


def q46_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.0+ ``WITH RECURSIVE``): ancestry depth
    over the implicit binary tree ``parent(k) = k DIV 2`` rooted at
    customer 1 — transitive closure expressed declaratively, the SQL
    twin of the iterative driver loop in `operators/graph.py`.

    Scale: each recursion step is one equi-join of the frontier
    against the base table; depth = O(log n) steps for this tree.
    Spark executes it as an iterative union with the same shape the
    hand-rolled loop produces — but Catalyst owns the caching."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql("""
        WITH RECURSIVE tree(node, depth) AS (
            SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
            UNION ALL
            SELECT c.c_custkey, t.depth + CAST(1 AS BIGINT)
            FROM customer c JOIN tree t ON c.c_custkey DIV 2 = t.node
            WHERE c.c_custkey > 1
        )
        SELECT node, depth FROM tree ORDER BY node
    """)


def p01_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator: one row of quality metrics per column
    (row count, nulls, exact distinct, min/max as strings) — the
    ANALYZE/profile step a pipeline runs before training-data
    selection.

    Scale: ONE pass over the table computes every metric as partial
    aggregates (the multi-distinct plan is Catalyst's expand, still
    single-scan); the wide→long unpivot happens on the 1-row result.
    min/max are surfaced as strings so one schema fits every column
    type; only bigint/string columns are profiled here so the cast is
    engine-portable."""
    orders = _t(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
    ]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__min, {c}__max" for c in cols
    )
    return (
        one.select(
            "n_rows",
            F.expr(
                f"stack({len(cols)}, {stack_args}) AS "
                "(col_name, n_nonnull, n_distinct, min_s, max_s)"
            ),
        )
        .select(
            "col_name",
            "n_rows",
            (F.col("n_rows") - F.col("n_nonnull")).alias("n_nulls"),
            "n_distinct",
            "min_s",
            "max_s",
        )
        .orderBy("col_name")
    )


def f05_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) clustering layout: interleave the bits
    of two dimensions — p_size and a fixed-width p_retailprice bin —
    into one z-value, group rows into file-sized z-ranges, and report
    each file group's (min, max) extent per dimension.  Tight extents
    are the point: a min/max-pruned scan with a predicate on EITHER
    dimension skips most file groups, which single-column sorting
    only achieves for its leading column.

    Scale: the z-value is scan-local bit arithmetic in codegen; file
    assignment here is a pure z-range split (zval DIV 64 — no global
    sort, no window).  A real layout write follows with
    ``repartitionByRange(zval).sortWithinPartitions(zval)`` —
    Spark's distributed sort — demonstrated in tests/test_layout.py."""
    from kinesis_log_streamer_spark.operators.layout import zvalue

    part = _t(spark, sf_dir, "part")
    x = F.col("p_size").cast("long")  # 1..50 → 6 bits
    y = (
        F.least(
            F.lit(63),
            F.greatest(
                F.lit(0),
                F.floor((F.col("p_retailprice") - 900.0) / 20.0),
            ),
        )
    ).cast("long")
    binned = part.select(
        x.alias("xdim"),
        y.alias("ydim"),
        zvalue([x, y], bits=6).alias("zval"),
    )
    return (
        binned.groupBy(F.floor(F.col("zval") / 64).alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("xdim").alias("min_x"),
            F.max("xdim").alias("max_x"),
            F.min("ydim").alias("min_y"),
            F.max("ydim").alias("max_y"),
        )
        .orderBy("file_id")
    )


def u01_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python UDF surface inside the correctness gate: a grouped-agg
    pandas UDF (Arrow-batched UDAF) computing the quantity-weighted
    mean price per return flag; the oracle is the algebraic identity
    sum(price·qty)/sum(qty).  Python is the slow path by policy
    (SURVEY §2.2 UDF row) — this query exists to prove the path is
    wired and exact, not to be the fast plan."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(wavg("l_extendedprice", "l_quantity"), 2).alias("wavg_price"))
        .orderBy("l_returnflag")
    )


def f01_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-format sink/source coverage (`sources/sinks.py`): nation →
    CSV (header, quoted) → schema'd read-back → aggregate.  The oracle
    runs on the original parquet, so any loss in the CSV round trip
    (quoting, type coercion, nulls) breaks the hash match."""
    from kinesis_log_streamer_spark.sources.sinks import read_csv, write_csv

    nation = _t(spark, sf_dir, "nation")
    path = _scratch(spark, "f01")
    write_csv(nation, path)
    back = read_csv(
        spark,
        path,
        "n_nationkey int, n_name string, n_regionkey int",
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_name"),
            F.sum(F.length("n_name")).alias("name_chars"),
        )
        .orderBy("n_regionkey")
    )


def f02_partitioned_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical 100 TB table layout end-to-end
    (`sources/sinks.py:write_partitioned_parquet`): events written
    date-partitioned (pre-shuffled so each partition is one file, no
    tiny-file fan-out), read back through a partition-PRUNED scan (the
    date predicate never touches non-matching directories), and rolled
    up.  The oracle aggregates the original table under the same
    predicate, so partition routing, date derivation, and the pruned
    read must all be lossless."""
    from kinesis_log_streamer_spark.sources.sinks import write_events_by_date

    ev = _t(spark, sf_dir, "events")
    path = _scratch(spark, "f02")
    write_events_by_date(ev, path)
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("event_date") >= "2024-01-15")
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_date", "event_type")
    )


def f03_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source coverage: supplier → ORC → read-back →
    aggregate. ORC is Spark-native (no extra package) and, like
    parquet, carries column stats for pushdown; the filter below
    shows in the scan's PushedFilters."""
    sup = _t(spark, sf_dir, "supplier")
    path = _scratch(spark, "f03")
    sup.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.filter(F.col("s_acctbal") > 0)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("s_nationkey")
    )


def f04_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — the zero-shuffle big⋈big strategy:
    both sides written ``bucketBy(8, key).sortBy(key)`` into the
    session catalog, then joined with broadcast disabled.  Because
    bucket layouts match, the sort-merge join reads buckets
    pair-wise: the plan has NO Exchange on either side (the audit
    asserts this in tests/test_sinks.py).  At 100 TB this is the
    difference between re-shuffling both fact tables per query and
    pre-paying the shuffle once at write time."""
    import os
    import shutil
    from urllib.parse import urlparse

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for name in ("klss_b_orders", "klss_b_customer"):
        # DROP only clears THIS session's catalog; a stale warehouse dir
        # from an earlier process still blocks saveAsTable
        # (LOCATION_ALREADY_EXISTS), so remove the location too.
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
    (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .mode("overwrite")
        .saveAsTable("klss_b_orders")
    )
    (
        cust.select("c_custkey", "c_mktsegment")
        .write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .saveAsTable("klss_b_customer")
    )
    # The MERGE hint travels with the plan (unlike a session conf), so
    # whoever executes the returned DataFrame gets the bucketed
    # sort-merge join, not a broadcast rewrite of it.
    joined = (
        spark.table("klss_b_orders")
        .hint("merge")
        .join(
            spark.table("klss_b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


def st03_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join
    (`streaming/stateful.py:stream_stream_join`) drained bounded: each
    event paired with same-user events in the following 5 minutes.
    Inner joins emit matches as state arrives, so the drained result
    equals the batch self-join — the oracle is that self-join rolled up
    to (l_type, r_type) pair counts."""
    from kinesis_log_streamer_spark.streaming.pipeline import read_events_stream
    from kinesis_log_streamer_spark.streaming.stateful import stream_stream_join

    ev = read_events_stream(spark, sf_dir)
    joined = stream_stream_join(ev, ev, watermark="10 minutes", max_delay="5 minutes")
    _drain_stream_to_table(joined, "st03_out", mode="append", no_data=False)
    return (
        spark.table("st03_out")
        .groupBy("l_type", "r_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("l_user").alias("n_users"),
        )
        .orderBy("l_type", "r_type")
    )


def st04_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (`streaming/stateful.py:dedup_stream`,
    ``dropDuplicatesWithinWatermark``) drained bounded: exactly one row
    per (user_id, event_type) key survives, so per-type distinct-user
    counts must match batch ``SELECT DISTINCT``.  The kept row's other
    columns are processing-order-dependent, so the comparison projects
    to the key space before aggregating."""
    from kinesis_log_streamer_spark.streaming.pipeline import read_events_stream
    from kinesis_log_streamer_spark.streaming.stateful import dedup_stream

    ev = read_events_stream(spark, sf_dir)
    deduped = dedup_stream(ev, keys=["user_id", "event_type"], watermark="10 minutes")
    _drain_stream_to_table(deduped, "st04_out", mode="append", no_data=False)
    return (
        spark.table("st04_out")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("event_type")
    )


# Canonical replay schema for the st* fixtures: every events micro-
# batch directory is (re)written by Spark itself, so ``ts`` is always
# a native micros TIMESTAMP regardless of how the source parquet was
# encoded (the loaders normalize first).
_EVENTS_TS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _write_single_parquet(df: DataFrame, dest: str) -> None:
    """Write ``df`` as ONE parquet file at ``dest`` (a file path, not a
    directory) — the st* replay fixtures order micro-batches by file
    mtime, so each batch must be exactly one file."""
    import os
    import shutil

    stage = dest + ".stage"
    shutil.rmtree(stage, ignore_errors=True)
    df.coalesce(1).write.parquet(stage)
    part = next(
        f for f in os.listdir(stage)
        if f.endswith(".parquet") and not f.startswith(".")
    )
    shutil.move(os.path.join(stage, part), dest)
    shutil.rmtree(stage, ignore_errors=True)


def _write_sentinel_parquet(path: str, event_id: int, ts_us: int) -> None:
    """One watermark-advancing sentinel row (user_id = -1) with ``ts``
    at epoch-micros ``ts_us``, as a native micros-timestamp parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([event_id], pa.int64()),
                "ts": pa.array([ts_us], pa.timestamp("us")),
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["flush"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        ),
        path,
    )


def _events_stream_with_flush(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Events file stream plus a far-future sentinel file.

    Event-time timeouts fire when the WATERMARK passes them, and the
    watermark only advances between micro-batches — so a bounded drain
    would otherwise end with every trailing session still parked in the
    state store.  The sentinel file (forced into its own batch via
    ``maxFilesPerTrigger=1`` + mtime ordering) advances the watermark
    past every real timeout; the engine's automatic no-data batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``, default on)
    then fires them.  Sentinel rows carry ``user_id = -1`` so queries
    filter them.

    The staged directory is a pure function of the events table, so it
    is written once per session and corpus (rewriting the whole fact
    table per call was most of the st-family's drain floor).
    """
    import re

    # Pin the timezone like sources/tables.py:load_table — timestamps
    # must be oracle-comparable from a bare driver session too.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    corp = re.sub(
        r"[^A-Za-z0-9_.-]", "_", os.path.basename(os.path.realpath(sf_dir))
    )

    def build() -> str:
        tmp = _scratch(spark, f"evflush_{corp}")
        # Normalize through the catalog loader: it handles whichever
        # timestamp encoding the generated parquet carries (NANOS-as-
        # long or native micros) and always yields an LTZ ``ts``.
        ev = _t(spark, sf_dir, "events")
        _write_single_parquet(ev, os.path.join(tmp, "events.parquet"))

        max_us = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
        day_us = 86_400_000_000
        now = os.path.getmtime(os.path.join(tmp, "events.parquet"))
        for i in (1,):
            path = os.path.join(tmp, f"zz_flush_{i}.parquet")
            _write_sentinel_parquet(path, -i, max_us + i * day_us)
            os.utime(path, (now + 10 * i, now + 10 * i))
        return tmp

    tmp = _derived(spark, sf_dir, "evflush", "events", build)
    # The sweep removes roots untouched for an hour: refresh ours on
    # every use, and rebuild the memo dir if it was swept.
    _scratch_root(spark)
    if not os.path.isdir(tmp):
        tmp = build()

    return (
        spark.readStream.schema(_EVENTS_TS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(f"{tmp}/*.parquet")
    )


def st05_event_time_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionizer with EVENT-TIME timeouts
    (`streaming/stateful.py:sessionize_by_event_time`,
    ``applyInPandasWithState``): deterministic gap-split sessions, so —
    unlike the processing-time variant — the q25-style gaps-and-islands
    SQL is a true oracle.  Sessions closing mid-stream emit as data
    arrives; trailing sessions emit when the sentinel batch pushes the
    watermark past their ``end + gap`` timeouts."""
    from kinesis_log_streamer_spark.streaming.stateful import (
        sessionize_by_event_time,
    )

    import os

    ev = _events_stream_with_flush(spark, sf_dir, "st05")
    # Deterministic cohort: applyInPandasWithState costs one Python
    # invocation per key per batch, so the gate runs a third of the
    # users (sentinel user -1 must survive the filter — it advances
    # the watermark).  The oracle applies the same cohort.
    ev = ev.filter((F.col("user_id") % 3 == 0) | (F.col("user_id") < 0))
    sessions = sessionize_by_event_time(ev, gap="30 minutes")
    # Python-stateful work wants parallelism once the per-batch work
    # outweighs task overhead; below ~2 MiB of input the 8-partition
    # drain default wins (measured: 10s vs 20s at sf0.01, inverted at
    # sf0.1).
    big = os.path.getsize(os.path.join(sf_dir, "events.parquet")) > 2 * 1024 * 1024
    _drain_stream_to_table(
        sessions, "st05_out", mode="append", n_partitions=32 if big else 8
    )
    return (
        spark.table("st05_out")
        .filter(F.col("user_id") >= 0)
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    )


def st06_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics inside the oracle gate: events
    split by id parity — even ids arrive first, odd ids arrive LATE
    (mtime-ordered batches via ``maxFilesPerTrigger=1``).  Spark's
    late-event filter uses the watermark with a ONE-BATCH LAG (the
    previous batch's eviction watermark — verified empirically: a late
    row is judged against the watermark as of the batch before the one
    it arrives in), so a spacer batch (one sentinel-user row at
    ``max(even ts)``) sits between the two: the odd batch is then
    judged against ``wm1 = max(even ts) - 10 minutes`` and every odd
    row whose 1-hour window closed under wm1 is DROPPED, the rest
    accepted.  A far-future sentinel batch pushes the final watermark
    past every window so append mode emits them all.  The oracle
    recomputes exactly that row set in SQL — hash-equality pins the
    drop rule, not just row counts."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tmp = _scratch(spark, "st06")
    ev = _t(spark, sf_dir, "events")
    _write_single_parquet(
        ev.filter(F.col("event_id") % 2 == 0), os.path.join(tmp, "b1")
    )
    _write_single_parquet(
        ev.filter(F.col("event_id") % 2 == 1), os.path.join(tmp, "b3")
    )
    max_even_us = (
        ev.filter(F.col("event_id") % 2 == 0)
        .agg(F.max(F.unix_micros("ts")))
        .first()[0]
    )

    # b2: spacer batch (sentinel user at max even ts — does not move
    # the watermark, bridges the one-batch late-filter lag);
    # b4: far-future flush batch.
    _write_sentinel_parquet(os.path.join(tmp, "b2"), -1, max_even_us)
    _write_sentinel_parquet(
        os.path.join(tmp, "b4"), -2, max_even_us + 86_400_000_000
    )
    now = os.path.getmtime(os.path.join(tmp, "b1"))
    for i, d in enumerate(("b1", "b2", "b3", "b4"), start=1):
        os.utime(os.path.join(tmp, d), (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema(_EVENTS_TS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(f"{tmp}/b*")
    )
    # NO pre-aggregation sentinel filter: Catalyst pushes deterministic
    # filters below the EventTimeWatermark node into the parquet scan,
    # where row-group stats prune the sentinel FILES outright — the
    # watermark then never advances and trailing windows never emit
    # (observed: numInputRows=0 for the sentinel batches).  Sentinel
    # rows instead flow through the watermark into their own
    # ``event_type='flush'`` groups and are excluded AFTER the drain.
    # Append mode needs the event-time WINDOW column itself in the
    # grouping (projecting .start inside groupBy severs the watermark
    # attribute); the start is projected after aggregation.
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    _drain_stream_to_table(agg, "st06_out", mode="append")
    return (
        spark.table("st06_out")
        .filter(F.col("event_type") != "flush")
        .orderBy("bucket_start", "event_type")
    )


def st07_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream broadcast-joined to
    a static customer dimension per micro-batch, then windowless
    segment aggregation — the canonical "enrich a stream with a dim
    table" pattern (no state store needed; the static side is simply
    re-broadcast per batch and may be refreshed between batches).

    Oracle: the batch twin of the same join+agg (streaming over a
    bounded replay must match batch exactly)."""
    from kinesis_log_streamer_spark.streaming.pipeline import read_events_stream

    ev = read_events_stream(spark, sf_dir)
    dim = (
        _t(spark, sf_dir, "customer")
        .select(
            (F.col("c_custkey") - 1).alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    joined = ev.join(F.broadcast(dim), "user_id")
    agg = joined.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    _drain_stream_to_table(agg, "st07_out", no_data=False)
    return spark.table("st07_out").orderBy("segment", "event_type")


def st08_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT via ``foreachBatch`` — the production sink
    pattern for keyed snapshots on plain parquet (what MERGE INTO
    does on a lakehouse): events replayed in 4 mtime-ordered
    micro-batches; each batch is reduced to its latest row per user
    and merged into the running snapshot with read → union → rank →
    overwrite, committed by directory swap.

    The merge (latest by (ts, event_id)) is associative and
    idempotent, so the result is independent of how the stream was
    micro-batched and survives foreachBatch's replay-on-failure
    contract — which is why the batch ranked-window oracle can
    hash-match it exactly."""
    import shutil

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = _scratch(spark, "st08")
    tmp = os.path.join(base, "src")
    tgt = os.path.join(base, "tbl")
    os.makedirs(tmp)
    ev = _t(spark, sf_dir, "events")
    for b in range(4):
        _write_single_parquet(
            ev.filter(F.col("event_id") % 4 == b), os.path.join(tmp, f"b{b}")
        )
    now = os.path.getmtime(os.path.join(tmp, "b0"))
    for i in range(4):
        os.utime(os.path.join(tmp, f"b{i}"), (now + 10 * i, now + 10 * i))

    def latest_per_user(df: DataFrame) -> DataFrame:
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        reduced = latest_per_user(
            batch_df.select("event_id", "ts", "user_id", "value")
        )
        if os.path.exists(tgt):
            merged = latest_per_user(
                sp.read.parquet(tgt).unionByName(reduced)
            )
        else:
            merged = reduced
        # Commit by swap: never overwrite the directory being read.
        staging = f"{tgt}.stage"
        merged.coalesce(4).write.mode("overwrite").parquet(staging)
        old = f"{tgt}.old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(tgt):
            os.rename(tgt, old)
        os.rename(staging, tgt)
        shutil.rmtree(old, ignore_errors=True)

    raw = (
        spark.readStream.schema(_EVENTS_TS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(f"{tmp}/b*")
    )
    _drain(raw.writeStream.foreachBatch(merge_batch))
    snap = spark.read.parquet(tgt)
    return snap.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.round("value", 2).alias("last_value"),
    ).orderBy("user_id")


def i01_wrap_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference T2+T4+E1 (line→JSON wrap + enrichment + partition key)
    over the documents corpus as the line source
    (linestreamer.go:92-99; --add-entry LogFile=...)."""
    docs = _t(spark, sf_dir, "documents")
    # wrap_line_as_json/to_sink_records drop the id; keep doc_id here as
    # a deterministic compare key for the oracle.
    wrapped = docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.col("text").alias("LogEntry"),
                F.lit("HTTPErrorLog").alias("LogFile"),
            )
        ).alias("data"),
    )
    return stamp_partition_key(wrapped, "test-host").orderBy("doc_id")


def i02_enrich_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference T3+T4 (JSON-object enrichment + re-serialization) over
    the events.props JSON records (jsonstreamer.go:49-62).  The variant
    path preserves value types — ``{"k": 69}`` enriches to
    ``{"k":69,"source":"engine"}``, numeric 69 intact — so the DuckDB
    oracle is a plain ``json_merge_patch``."""
    from kinesis_log_streamer_spark.operators.transforms import enriched_json_col

    events = _t(spark, sf_dir, "events")
    # event_id kept as a stable compare key for the oracle.
    return events.select(
        "event_id", enriched_json_col("props", {"source": "engine"})
    ).orderBy("event_id")


def i03_enrich_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-object enrichment fixture (VERDICT r01 item 3): records
    with nested objects, arrays, and integer values — built from events
    columns — must survive T3+T4 STRUCTURALLY (the reference re-marshals
    decoded ``interface{}``, jsonstreamer.go:42-62; a
    ``map<string,string>`` parse would stringify the nested struct).
    The oracle builds the identical record and ``json_merge_patch``-es
    it, so any type/structure loss breaks the byte compare.  NOTE one
    canonicalization the variant path applies: keys of NESTED objects
    re-serialize in sorted order (variant metadata dictionaries are
    sorted) — same canonical form Go's ``json.Marshal`` gives the
    reference's decoded maps; top-level keys keep insertion order (the
    top level is ``map<string,variant>``).  The oracle packs nested
    structs pre-sorted."""
    from kinesis_log_streamer_spark.operators.transforms import enriched_json_col

    events = _t(spark, sf_dir, "events")
    rec = F.to_json(
        F.struct(
            F.col("event_id"),
            F.struct(F.col("user_id"), F.col("event_type")).alias("u"),
            F.array(F.col("event_type"), F.lit("x")).alias("tags"),
        )
    )
    return (
        events.select("event_id", rec.alias("rec"))
        .select("event_id", enriched_json_col("rec", {"source": "engine"}))
        .orderBy("event_id")
    )


def i04_line_pipeline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference line-mode entry point end-to-end through a REAL text
    file (S1 scan + S2 CRLF strip + F1 empty filter + T1 passthrough +
    E1 key stamp; linestreamer.go:59-106): documents.text written with
    CRLF endings on every third line and interleaved blank lines, read
    back, and pushed through ``build_line_pipeline`` — the oracle is
    the original table, so any CR residue, dropped/extra line, or
    payload mutation breaks the hash."""
    from kinesis_log_streamer_spark.streaming.pipeline import build_line_pipeline

    docs = _t(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("\r")).otherwise(F.lit("")),
        ).alias("value")
    ).unionAll(
        docs.filter(F.col("doc_id") % 10 == 0).select(F.lit("").alias("value"))
    )
    path = _scratch(spark, "i04")
    lines.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    return build_line_pipeline(
        raw, output_format="string", host_id="test-host"
    ).orderBy("data")


def i05_concat_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The concatenated-JSON decoder itself (reference S3+F2,
    jsonstreamer.go:40-48): each line packs an object, a ``null``, a
    bare scalar, and an array with NO separation
    (``{"k": 69}null123[123,5]``); the decoder must yield one record
    per top-level value, skip the nulls, and re-serialize compactly —
    the oracle reconstructs the expected value multiset from the
    events table directly."""
    from kinesis_log_streamer_spark.sources.json_source import (
        read_concatenated_json,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    blob = F.concat(
        F.col("props"),
        F.lit("null"),
        F.col("event_id").cast("string"),
        F.lit("["),
        F.col("event_id").cast("string"),
        F.lit(",5]"),
    )
    path = _scratch(spark, "i05")
    ev.select(blob.alias("value")).write.mode("overwrite").text(path)
    return read_concatenated_json(spark, path).orderBy("value")


def i06_json_seq_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 7464 JSON text sequences (record-separator-delimited JSON,
    ``application/json-seq``) — the reference's line-splitting
    contract (S2, linestreamer.go:59-84) generalized to a
    non-newline delimiter: records are written AND read with the text
    source's ``lineSep`` option set to RS (0x1E), so multi-line or
    newline-bearing payloads survive where plain JSON-lines breaks.
    Both legs stay distributed (the text WRITER takes lineSep too —
    no driver-side fixture loop); the parsed rollup must hash-match
    the direct aggregate, proving zero records lost, duplicated, or
    torn at separator boundaries."""
    path = os.path.join(_scratch(spark, "i06"), "seq")

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    payload = ev.select(
        F.to_json(F.struct("event_id", "event_type", "value")).alias(
            "value"
        )
    )
    payload.coalesce(2).write.option("lineSep", "\x1e").text(path)

    raw = spark.read.option("lineSep", "\x1e").text(path)
    parsed = raw.filter(F.length(F.trim("value")) > 0).select(
        F.from_json(
            "value", "event_id long, event_type string, value double"
        ).alias("r")
    )
    return (
        parsed.groupBy(F.col("r.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("r.event_id").alias("n_distinct"),
            F.round(F.sum("r.value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def f23_max_records_per_file(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """File-size governance at write time: ``maxRecordsPerFile`` must
    split a single write task's output into ⌈n/limit⌉ files of at
    most ``limit`` rows — the knob that bounds file sizes when a
    task's partition is huge (the write-side complement of f07's
    small-file compaction).  The gate reads the layout back through
    ``input_file_name()`` and asserts the file count, the per-file
    cap, and zero lost rows against the closed-form expectation the
    oracle states from the row count alone."""
    path = os.path.join(_scratch(spark, "f23"), "maxrec")

    sub = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 7 == 0
    ).select("o_orderkey", "o_totalprice")
    sub.repartition(1).write.option("maxRecordsPerFile", 400).parquet(path)

    back = spark.read.parquet(path).withColumn(
        "_f", F.input_file_name()
    )
    per_file = back.groupBy("_f").agg(F.count(F.lit(1)).alias("c"))
    return per_file.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_files"),
        (F.max("c") <= 400).cast("int").alias("size_ok"),
    )


def u02_scalar_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF surface inside the correctness gate
    (`functions/udfs.py:vec_norm_pd`): Arrow-batched L2 norms over the
    embedding column, verified against DuckDB's list_dot_product.
    Python is the slow path by policy — this proves the path is wired
    and numerically exact (float32 values widened to f64 accumulation,
    matching the oracle's ::DOUBLE[] cast)."""
    from kinesis_log_streamer_spark.functions.udfs import vec_norm_pd

    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") % 10 == 0)
        .select(
            "vec_id",
            F.round(vec_norm_pd()(F.col("embedding")), 4).alias("l2_norm"),
        )
        .orderBy("vec_id")
    )


def u03_udtf_kv_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface inside the correctness gate
    (`functions/udfs.py:_ParseKvEntries`): the reference's --add-entry
    ``k=v`` grammar (split on the FIRST '=', values may contain '=';
    main.go:102-122) exploded per event via LATERAL.  The oracle
    reconstructs the expected typed rows directly."""
    from kinesis_log_streamer_spark.functions.udfs import parse_kv_entries_udtf

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    ev.select(
        "event_id",
        F.concat(
            F.lit("u="),
            F.col("user_id").cast("string"),
            F.lit(",t="),
            F.col("event_type"),
            F.lit("=x,malformed"),
        ).alias("entries"),
    ).createOrReplaceTempView("u03_src")
    spark.udtf.register("klss_parse_kv", parse_kv_entries_udtf())
    return spark.sql(
        """
        SELECT event_id, entry_key, entry_value
        FROM u03_src, LATERAL klss_parse_kv(entries)
        ORDER BY event_id, entry_key
        """
    )


# ---------------------------------------------------------------------------
# Round-2 additions: record linkage, null semantics, quantile surface,
# time-series gap fill, join-strategy hints, exact decimals, rolling
# anomalies, compaction
# ---------------------------------------------------------------------------


def q48_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage via blocked levenshtein self-join
    (`operators/fuzzy.py:blocked_levenshtein_join`): customer names
    within one edit of each other, candidates generated by a
    (prefix-16, exact-length) blocking equi-join — never a cross
    join.  The oracle applies the identical blocking rule, so the
    recall trade is pinned, not hidden."""
    from kinesis_log_streamer_spark.operators.fuzzy import (
        blocked_levenshtein_join,
    )

    cust = _t(spark, sf_dir, "customer")
    pairs = blocked_levenshtein_join(
        cust, name_col="c_name", id_col="c_custkey",
        block_prefix=16, max_distance=1,
    )
    return pairs.orderBy("id_a", "id_b")


def q49_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): order
    priorities with one value nulled out on BOTH sides — the NULL
    group must survive the join (ordinary ``=`` silently drops it).
    Left side counts all orders per nullable key, right side counts a
    date-bounded subset; the null-safe inner join aligns them."""
    orders = _t(spark, sf_dir, "orders")
    key = F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM"))
    allc = orders.groupBy(key.alias("prio")).agg(
        F.count(F.lit(1)).alias("n_all")
    )
    early = (
        orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        .groupBy(key.alias("prio2"))
        .agg(F.count(F.lit(1)).alias("n_early"))
    )
    joined = allc.join(early, allc["prio"].eqNullSafe(early["prio2"]))
    return joined.select("prio", "n_all", "n_early").orderBy(
        F.col("prio").asc_nulls_first()
    )


def q50_median_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile surface: ``median`` (interpolated),
    ``percentile_cont`` (continuous) and ``percentile_disc``
    (discrete — smallest value whose cume_dist ≥ p) per group.  All
    exact aggregates over the full column; the approx-sketch twins
    live in q28."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q50")
    return spark.sql(
        """
        SELECT l_returnflag,
               round(median(l_quantity), 2) AS med_qty,
               round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 2)
                   AS p25_price,
               round(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_extendedprice), 2)
                   AS p75_price,
               round(percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 2)
                   AS p50_price_disc
        FROM lineitem_q50
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


def q51_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + linear interpolation: daily revenue per
    order priority over a fixed Q1-1995 spine (``sequence`` explode ×
    broadcast dims — the spine is generated, never shuffled), missing
    days filled three ways: forward fill (``last ignorenulls``),
    backward fill (``first ignorenulls`` over the future frame), and
    linear interpolation between the surrounding observations.

    Scale: the spine is |dims| × |days| rows of three columns; the
    fill windows partition by dim and never widen beyond it."""
    daily = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .groupBy(
            "o_orderpriority",
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    pris = daily.select("o_orderpriority").distinct()
    days = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(DATE'1995-01-01', DATE'1995-03-31', interval 1 day)"
            )
        ).alias("day")
    )
    spine = F.broadcast(pris).crossJoin(F.broadcast(days))
    g = spine.join(daily, ["o_orderpriority", "day"], "left")
    past = (
        W.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    future = (
        W.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_day = F.when(F.col("rev").isNotNull(), F.col("day"))
    g = (
        g.withColumn("rev_ffill", F.last("rev", ignorenulls=True).over(past))
        .withColumn("rev_bfill", F.first("rev", ignorenulls=True).over(future))
        .withColumn("pday", F.last(obs_day, ignorenulls=True).over(past))
        .withColumn("nday", F.first(obs_day, ignorenulls=True).over(future))
    )
    # Interpolate in integer CENTS: pc + (nc-pc)*d1/d2 with half-up
    # integer division — bit-identical on any engine, where the double
    # form flips at .005 rounding boundaries between fp orders.
    g = (
        g.withColumn("pc", F.round(F.col("rev_ffill") * 100).cast("long"))
        .withColumn("nc", F.round(F.col("rev_bfill") * 100).cast("long"))
        .withColumn("d1", F.datediff("day", "pday").cast("long"))
        .withColumn("d2", F.datediff("nday", "pday").cast("long"))
    )
    interp_cents = F.expr(
        "(2 * (pc * (d2 - d1) + nc * d1) + d2) div (2 * d2)"
    )
    interp = (
        F.when(F.col("rev").isNotNull(), F.col("rev"))
        .when(F.col("rev_ffill").isNull(), F.col("rev_bfill"))
        .when(F.col("rev_bfill").isNull(), F.col("rev_ffill"))
        .otherwise(interp_cents / F.lit(100.0))
    )
    return g.select(
        "o_orderpriority",
        "day",
        "rev",
        "rev_ffill",
        F.col("rev_bfill"),
        interp.alias("rev_interp"),
    ).orderBy("o_orderpriority", "day")


def q52_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hint surface: the same revenue rollup forced
    through a SHUFFLE_HASH join (build-side hash map, no sort) instead
    of the planner's default.  Hints change the physical strategy,
    never the result — the oracle is the plain join.  The static plan
    shows ShuffledHashJoin (PLANS.md); AQE may still locally convert
    at runtime, which is exactly the contract hints have on a real
    cluster."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = li.join(orders.hint("shuffle_hash"), "l_orderkey")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("rev"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


def q53_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal money arithmetic: prices recast to DECIMAL(18,2)
    and aggregated WITHOUT rounding — decimal sums are associative, so
    Spark and DuckDB must agree to the last digit at any partition
    count (the float aggregates everywhere else need round(); these
    must not).  The ACCUMULATION is exact decimal end-to-end; only the
    final wire value is cast to DOUBLE on both engines, because
    DECIMAL survives neither comparison harness intact: r02 failed on
    the type string (Spark decimal(28,2) vs DuckDB decimal(38,2)) and
    r03 — after pinning both to DECIMAL(38,2) — failed on the CELL
    rendering (Spark's toPandas keeps ``Decimal('123.40')`` objects
    while DuckDB's pandas export coerces to float64 ``123.4``).  The
    wire type is therefore a zero-padded decimal STRING — both engines
    render a scaled decimal with its full scale and no float ever
    enters the path, so the match is exact to the last digit by
    construction."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price_d"),
        (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)").alias("mult_d"),
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum("price_d").cast("decimal(38,2)").cast("string").alias("gross"),
            F.sum(F.col("price_d") * F.col("mult_d"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("net"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("l_returnflag")
    )


def _l09_history_z(ev: DataFrame) -> DataFrame:
    """(event_id, event_type, value, z): every event with a full
    100-event history of its type, z-scored against that history
    (the 100 PRECEDING events; the current row is excluded).

    PREFIX-SUM FORM (r15, guide §2.4 / VERDICT r14 #3): the naive
    ``avg/stddev OVER (ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)``
    is a sliding frame — Spark's SlidingWindowFunctionFrame REBUILDS
    the aggregation buffer over all 100 frame rows for every row, so
    the window stage does O(rows·100) buffer updates.  Every frame
    aggregate here is instead recovered as the difference of two
    UNBOUNDED-PRECEDING running aggregates (frames (UP,-1) and
    (UP,-101)), each maintained incrementally at O(1)/row, all six
    sharing one Window node / one sort.  ``value`` is 2-decimal money
    (pinned on the fixtures by ``tests/test_r15_opt.py`` and checked
    on every ``scripts/selfcheck.py`` run of l09), so the
    running Σv (DECIMAL(28,2)) and Σv² (DECIMAL(38,4)) are exact and
    their differences are the exact frame sums — no float
    cancellation from subtracting large prefixes.

    The frame sums are stored as DECIMAL(22,2) / DECIMAL(26,4): exact
    while |value| < 1e10 (100·v² < 1e22).  Past that the cast
    overflows — NULL z, i.e. silently dropped anomalies, with ANSI
    off; an error with ANSI on.

    mu and the textbook variance (100·Σv² − (Σv)²)/9900 are computed
    from the exact frame sums: the numerator is an exact decimal, its
    double cast rounds once (a double holds it exactly only below 2^53
    units of 1e-4), then sqrt/divide round once each.  n_hist is the
    same count-difference, so the ``n_hist = 100`` gate keeps
    count(value) null semantics exactly."""
    word = W.partitionBy("event_type").orderBy("ts", "event_id")
    w1 = word.rowsBetween(W.unboundedPreceding, -1)
    w101 = word.rowsBetween(W.unboundedPreceding, -101)
    dv = F.col("value").cast("decimal(18,2)")
    dv2 = dv * dv  # decimal(37,4): exact squares of 2-decimal money
    zero2 = F.lit(0).cast("decimal(28,2)")
    zero4 = F.lit(0).cast("decimal(38,4)")
    scored = ev.select(
        "event_id",
        "event_type",
        "value",
        (
            F.sum(dv).over(w1) - F.coalesce(F.sum(dv).over(w101), zero2)
        ).cast("decimal(22,2)").alias("sumv"),
        (
            F.sum(dv2).over(w1) - F.coalesce(F.sum(dv2).over(w101), zero4)
        ).cast("decimal(26,4)").alias("sumv2"),
        (
            F.count("value").over(w1) - F.count("value").over(w101)
        ).alias("n_hist"),
    )
    sd = F.sqrt(
        (F.lit(100) * F.col("sumv2") - F.col("sumv") * F.col("sumv"))
        .cast("double")
        / F.lit(9900.0)
    )
    mu = (F.col("sumv") / 100).cast("double")
    return scored.filter(F.col("n_hist") == 100).select(
        "event_id",
        "event_type",
        "value",
        ((F.col("value") - mu) / sd).alias("z"),
    )


def l09_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against
    the mean/stddev of the 100 PRECEDING events of its type (the
    trailing frame excludes the current row — no self-contamination);
    rows with |z| > 3 and a full history window are flagged.  One
    window shuffle on event_type; the exact prefix-sum scoring is
    :func:`_l09_history_z`.  Equivalence with the sliding-frame form
    is pinned row-for-row in ``tests/test_r15_opt.py`` (including the
    round(z,3) boundary-margin audit and values of 1e5–1e6) and by the
    tri-scale oracle sweep.

    ACCEPTED-FP-RISK: ``round(z, 3)`` compares doubles from two
    engines' arithmetic — see u04's note; no boundary hit observed
    across the sf sweep, monitored there (the exact-decimal frame
    sums place this form at most 1-2 ulp from the true z, tighter
    than the old double recompute)."""
    return _l09_anomalies(_t(spark, sf_dir, "events"))


def _l09_anomalies(ev: DataFrame) -> DataFrame:
    """l09's result over an events frame: |z| > 3 rows, rounded."""
    return (
        _l09_history_z(ev)
        .filter(F.abs("z") > 3)
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round("z", 3).alias("z"),
        )
        .orderBy("event_id")
    )


def f07_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the table-maintenance op every streaming
    ingest needs): lineitem fragmented into 64 shards, compacted back
    to a handful of right-sized files; the compacted table must carry
    exactly the original rows.  Returns per-flag checksums over the
    COMPACTED files — hash-matched against the pristine table."""
    li = _t(spark, sf_dir, "lineitem")
    base = _scratch(spark, "f07")
    frag, compact = os.path.join(base, "frag"), os.path.join(base, "compact")
    li.repartition(64).write.parquet(frag)
    fragmented = spark.read.parquet(frag)
    n_small = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    # Compact to ~4 files (at scale: repartition to ceil(bytes/target)).
    fragmented.repartition(4).write.parquet(compact)
    n_big = len([f for f in os.listdir(compact) if f.endswith(".parquet")])
    if not (n_big < n_small and n_big <= 8):
        raise RuntimeError(f"compaction produced {n_big} files from {n_small}")
    return (
        spark.read.parquet(compact)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_orderkey").alias("key_sum"),
            F.round(F.sum("l_extendedprice"), 2).alias("price_sum"),
        )
        .orderBy("l_returnflag")
    )


def u04_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInPandas`` grouped-map (the third pandas-UDF shape after
    u01's grouped-agg and u02's scalar): per-event-type z-score
    normalization computed by a pandas function over each whole group,
    Arrow-batched both ways.  Rounding happens JVM-side after the UDF
    so both engines round identically.  The oracle is the window-SQL
    identity.

    ACCEPTED-FP-RISK (same class q47 carried before its decimal
    rewrite): ``round(z, 4)`` of an irrational double can in
    principle straddle a .00005 boundary between engines.  Unlike the
    count-rational ratios (which LAND on such boundaries
    systematically and got integer-exact rounding), a z-score hits
    one only by fp coincidence — no hit across sf0.001/0.01/0.1
    sweeps; kept under sweep surveillance rather than complicated."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "z_raw": (pdf["value"] - mu) / sd,
            }
        )

    out = ev.groupBy("event_type").applyInPandas(
        zscore, schema="event_id long, event_type string, z_raw double"
    )
    return (
        out.select(
            "event_id", "event_type", F.round("z_raw", 4).alias("z")
        )
        .orderBy("event_id")
    )


def u05_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the zero-copy columnar UDF shape — each
    partition streams through as pyarrow RecordBatches and the
    transform runs vectorized Arrow compute kernels (no pandas
    materialization at all).  Byte/char length audit of the documents
    corpus; oracle via octet_length/length."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def measure(batches):
        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.binary_length(pc.cast(text, pa.binary())), pa.int64()),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                ],
                ["doc_id", "n_bytes", "n_chars"],
            )

    return (
        docs.mapInArrow(measure, schema="doc_id long, n_bytes long, n_chars long")
        .orderBy("doc_id")
    )


def q54_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (SCD Type-2) join: each lineitem matched to the
    supplier ATTRIBUTE VERSION valid on its ship date.  The dimension
    carries three validity windows per supplier (built with ``stack``
    from deterministic boundaries, so the oracle reconstructs them);
    the join is an equi-join on the key with the validity range as a
    post-join filter — with few versions per key this is the plan you
    want at 100 TB (NO range-bin machinery: version count per key is
    bounded, so the equi-join fan-out is bounded).  Dimension stays
    broadcast-sized: 3 rows × suppliers."""
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey")
    vers = supp.withColumn(
        "b1", F.expr("date_add(DATE'1995-01-01', CAST(s_suppkey % 700 AS INT))")
    ).withColumn(
        "b2", F.expr("date_add(b1, CAST(400 + s_suppkey % 300 AS INT))")
    )
    dim = vers.selectExpr(
        "s_suppkey",
        "stack(3, 'A', DATE'1900-01-01', b1,"
        "         'B', b1, b2,"
        "         'C', b2, DATE'9999-12-31') AS (version, valid_from, valid_to)",
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"),
        F.to_date("l_shipdate").alias("ship_day"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    joined = li.join(F.broadcast(dim), "s_suppkey").filter(
        (F.col("ship_day") >= F.col("valid_from"))
        & (F.col("ship_day") < F.col("valid_to"))
    )
    return (
        joined.groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
        .orderBy("version")
    )


def p02_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint suite (the Deequ-style pre-training
    gate): completeness, key uniqueness, referential integrity,
    domain bounds — each check one metric row with its violation
    count.  Every check is a scan-local aggregate or a broadcast/
    shuffle anti-join; the union of six 1-row aggregates costs six
    small jobs, not six full materializations."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")

    def metric(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("metric"), F.col("violations").cast("long")
        )

    rows = metric(
        "lineitem_rows",
        li.agg(F.count(F.lit(1)).alias("violations")),
    )
    null_keys = metric(
        "null_orderkey",
        li.filter(F.col("l_orderkey").isNull()).agg(
            F.count(F.lit(1)).alias("violations")
        ),
    )
    dup_keys = metric(
        "dup_line_key",
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("violations")),
    )
    orphans = metric(
        "orphan_lineitems",
        li.join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("violations")),
    )
    bad_discount = metric(
        "discount_out_of_range",
        li.filter(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
        ).agg(F.count(F.lit(1)).alias("violations")),
    )
    bad_qty = metric(
        "nonpositive_quantity",
        li.filter(F.col("l_quantity") <= 0).agg(
            F.count(F.lit(1)).alias("violations")
        ),
    )
    out = (
        rows.unionByName(null_keys)
        .unionByName(dup_keys)
        .unionByName(orphans)
        .unionByName(bad_discount)
        .unionByName(bad_qty)
    )
    return out.orderBy("metric")


def q55_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — THE scan-reduction feature for
    partitioned 100 TB facts: orders laid out as year-partitioned
    parquet, joined to a tiny dim that selects two years known only
    at RUNTIME (after the dim's filter runs).  Catalyst injects a
    ``dynamicpruning`` subquery into the fact scan's partition
    filters, so non-matching year directories are never read.  The
    code asserts the injection; the oracle recomputes from the
    unpartitioned table."""
    orders = _t(spark, sf_dir, "orders")
    tmp = _scratch(spark, "q55")
    base, dimp = os.path.join(tmp, "fact"), os.path.join(tmp, "dim")
    orders.withColumn("o_year", F.year("o_orderdate")).write.partitionBy(
        "o_year"
    ).parquet(base)
    # The pruning side must be a real scan with a selective predicate —
    # a LocalRelation's trivial filter is constant-folded away and the
    # PartitionPruning rule then sees nothing to prune with.
    spark.createDataFrame(
        [(y, "keep" if y in (1996, 1997) else "drop") for y in range(1992, 2002)],
        "o_year int, tag string",
    ).write.parquet(dimp)

    fact = spark.read.parquet(base)
    dim = spark.read.parquet(dimp).filter(F.col("tag") == "keep")
    joined = fact.join(dim, "o_year").drop("tag")
    out = (
        joined.groupBy("o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_year")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "dynamicpruning" not in plan.lower():
        raise RuntimeError("expected a dynamic-partition-pruning subquery")
    return out


def q56_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (`operators/graph.py:pagerank`) over a
    deterministic 100-node interaction graph derived from events
    (user cohort → props key), closed by a bijective ring
    (n → 31n+7 mod 100) so every node has out-degree ≥ 1 — no
    dangling mass, which lets an external engine replay the exact
    update.  Oracle: the identical 10 unrolled update steps as chained
    CTEs in DuckDB (aggregates are not allowed in a recursive CTE's
    recursive term, so it is unrolled); ranks rounded to 6."""
    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 100).alias("u"),
        (F.get_json_object("props", "$.k").cast("long") % 100).alias("v"),
    )
    ring = spark.range(100).select(
        F.col("id").alias("u"), ((F.col("id") * 31 + 7) % 100).alias("v")
    )
    edges = ev.unionByName(ring)
    pr = G.pagerank(edges, src="u", dst="v", n_iter=10)
    return pr.select(
        "node", F.round("rank", 6).alias("rank")
    ).orderBy("node")


def p03_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``Observation`` metrics — Spark's in-flight monitoring hook: a
    named observation attached to the scan collects row/sum metrics as
    a side effect of the SAME pass that computes the query (no second
    scan, unlike p01's profile), the pattern production pipelines use
    to alert on volume drops without paying for extra jobs.  The
    observed totals are cross-checked in-code against the returned
    per-group aggregate; the oracle verifies the aggregate."""
    from pyspark.sql import Observation

    obs = Observation("p03")
    li = _t(spark, sf_dir, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.round(F.sum("l_quantity"), 2).alias("qty_seen"),
    )
    per_flag = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("qty_sum"),
    )
    # One action materializes both the rows and the observation.
    rows = per_flag.collect()
    got = obs.get
    want_rows = sum(r.n_rows for r in rows)
    want_qty = round(sum(r.qty_sum for r in rows), 2)
    if got["rows_seen"] != want_rows or abs(got["qty_seen"] - want_qty) > 0.05:
        raise RuntimeError(f"observed metrics diverge: {got}")
    return (
        spark.createDataFrame(rows, per_flag.schema)
        .orderBy("l_returnflag")
    )


def ts01_series_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (EDBT'19 family, PAPERS.md):
    each user's activity becomes a fixed-length 24-slot hourly value
    series (dense — missing hours are zero-filled via a generated
    spine, so distances are well-defined), and the 10 users closest
    to user 0's series by Euclidean distance are returned.

    Scale shape: series construction is one groupBy(user, slot) +
    one collect per user (both partial-aggregated); the query series
    is a broadcast scalar row, so scoring is scan-local ``zip_with``/
    ``aggregate`` arithmetic — no pairwise user×user stage.  For
    all-pairs workloads the LSH/IVF machinery (s03/s05) applies to
    the series vectors unchanged."""
    ev = _t(spark, sf_dir, "events")
    slot = (F.hour("ts")).alias("slot")
    sums = (
        ev.filter(F.col("user_id") < 200)
        .groupBy("user_id", slot)
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    per_user = sums.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("slot", "v")))
        ).alias("m")
    )
    dense = per_user.select(
        "user_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda i: F.coalesce(
                F.element_at("m", i.cast("int")), F.lit(0.0)
            ),
        ).alias("series"),
    )
    qrow = dense.filter(F.col("user_id") == 0).select(
        F.col("series").alias("q_series")
    )
    scored = dense.filter(F.col("user_id") != 0).crossJoin(
        F.broadcast(qrow)
    )
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    "series", "q_series", lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        4,
    )
    return (
        scored.select("user_id", dist.alias("dist"))
        .orderBy(F.asc("dist"), F.asc("user_id"))
        .limit(10)
    )


def f09_jsonlines_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink/scan round trip with NESTED types: per-nation
    rows carrying a struct and a sorted array are written as
    newline-delimited JSON, read back with an explicit schema (never
    inference — an extra full scan at 100 TB), and re-flattened; the
    result must hash-match the same aggregate computed straight from
    the tables, proving complex-type serialization is lossless."""
    base = os.path.join(_scratch(spark, "f09"), "json")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    nested = (
        cust.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
            F.sort_array(F.collect_set("c_mktsegment")).alias("segments"),
        )
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("c_nationkey"), "n_name"
                )
            ),
            "c_nationkey",
        )
        .select(
            "c_nationkey",
            F.struct("n_name", "n_customers", "bal_sum").alias("stats"),
            "segments",
        )
    )
    nested.coalesce(1).write.json(base)

    schema = (
        "c_nationkey int, "
        "stats struct<n_name string, n_customers bigint, bal_sum double>, "
        "segments array<string>"
    )
    back = spark.read.schema(schema).json(base)
    return back.select(
        "c_nationkey",
        F.col("stats.n_name").alias("n_name"),
        F.col("stats.n_customers").alias("n_customers"),
        F.col("stats.bal_sum").alias("bal_sum"),
        # the array survives the JSON roundtrip; the RESULT flattens it
        # to a scalar per the atomic-columns rule (driver canonicalizer
        # cannot sort/hash list cells — r02 ERR).
        F.concat_ws("|", "segments").alias("segments"),
    ).orderBy("c_nationkey")


def q59_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort null-placement semantics: a nullable ranking expression
    ordered ASC NULLS FIRST and DESC NULLS LAST must agree across
    engines (engine defaults differ — Spark ASC puts nulls first,
    DESC puts them last; the query pins BOTH explicitly so the
    contract is in the plan, not the default)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 400)
    keyed = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("nullable_price"),
    )
    return keyed.orderBy(
        F.col("nullable_price").asc_nulls_first(),
        F.col("o_orderkey").asc(),
    ).limit(50)


def _kinesis_payload(spark: SparkSession, sf_dir: str, mod: int) -> DataFrame:
    """The k-family sink records: the ``event_id % mod == 0`` events as
    (data = JSON of event_id/event_type/value, partitionKey =
    ``host-<user_id % 8>``).  Also registers the ``kinesis_py`` data
    source every k-query reads (or writes) the stream through."""
    from kinesis_log_streamer_spark.sources.kinesis_source import (
        KinesisDataSource,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.dataSource.register(KinesisDataSource)
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % mod == 0)
        .select(
            F.to_json(F.struct("event_id", "event_type", "value")).alias(
                "data"
            ),
            F.concat(
                F.lit("host-"), (F.col("user_id") % 8).cast("string")
            ).alias("partitionKey"),
        )
    )


def _event_type_rollup(records: DataFrame) -> DataFrame:
    """Parse the read-back ``data`` JSON and roll it up by event_type:
    n_events, n_distinct event ids (n_events > n_distinct means a
    duplicate) and the rounded value sum."""
    parsed = records.select(
        F.from_json(
            "data", "event_id long, event_type string, value double"
        ).alias("r")
    )
    return (
        parsed.groupBy(F.col("r.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("r.event_id").alias("n_distinct"),
            F.round(F.sum("r.value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def k01_kinesis_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's NORTH-STAR transport inside the correctness
    gate: every event JSON-wrapped and shipped through the
    PutRecords-contract sink (`streaming/kinesis_sink.py:KinesisSink`,
    500-record/5 MiB sub-batching, hash-routed shards via
    `DirKinesisClient`), then read BACK through the `kinesis_py`
    streaming source (`sources/kinesis_source.py`, Python Data Source
    API, per-shard offsets), JSON-parsed, and rolled up — the rollup
    must hash-match the same aggregate computed directly on the events
    table, proving the transport neither lost, duplicated, nor altered
    a single record."""
    from kinesis_log_streamer_spark.sources.kinesis_source import (
        DirKinesisClient,
    )
    from kinesis_log_streamer_spark.streaming.kinesis_sink import KinesisSink

    # A third of the table proves the transport at a third of the
    # drain cost — the contract (no loss, no dup, no alteration) is
    # row-for-row regardless of volume.
    payload = _kinesis_payload(spark, sf_dir, 3)
    ep = _scratch(spark, "k01")
    sink = KinesisSink("k01", client_factory=lambda: DirKinesisClient(ep))
    # Two tasks feed the sink's one collect job (the sink fills its
    # PutRecords chunks across partitions, on the driver).
    sink.write_batch(payload.coalesce(2), epoch_id=0)

    raw = (
        spark.readStream.format("kinesis_py")
        .option("endpoint", f"dir:{ep}")
        .load()
    )
    _drain_stream_to_table(raw, "k01_out", mode="append")
    return _event_type_rollup(spark.table("k01_out"))


def t15_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document rule filter: intra-document repetition
    (1 − distinct/total word 3-grams), word count bounds, mean word
    length bounds — each signal and the final keep/drop verdict per
    document.  Everything is scan-local array math in codegen
    (``array_distinct``/``aggregate`` on the token array — no explode,
    no shuffle): the 100 TB shape is a single pass that drops rows
    before anything downstream pays for them.

    Token and gram arrays are STAGED in a first projection (the
    `operators/text.quality_features` two-projection idiom): the
    signal expressions reference each array 2–3 times, and inlined
    HOF subtrees re-evaluate per reference — 18.1 s → 4.8 s from the
    r14 ngrams_col zip rewrite, → 2.5 s with this staging (sf0.1),
    identical output."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.select(
        "doc_id",
        TX.tokens_col(F.col("text")).alias("__toks"),
        TX.ngrams_col(F.col("text"), 3).alias("__grams"),
    )
    toks = F.col("__toks")
    grams = F.col("__grams")
    n_words = F.size(toks)
    mean_wlen = F.round(
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / n_words,
        4,
    )
    rep_ratio = F.round(
        F.when(
            F.size(grams) > 0,
            1.0
            - F.size(F.array_distinct(grams)).cast("double")
            / F.size(grams),
        ).otherwise(0.0),
        4,
    )
    out = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        rep_ratio.alias("rep_ratio"),
    )
    keep = (
        (F.col("n_words") >= 10)
        & (F.col("mean_word_len") >= 2.5)
        & (F.col("mean_word_len") <= 12.0)
        & (F.col("rep_ratio") <= 0.2)
    )
    return out.withColumn("keep", keep).orderBy("doc_id")


def f08_malformed_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input contract for file scans: a CSV assembled from
    lineitem rows plus deterministic garbage lines (non-numeric
    fields, arity overflow), read in PERMISSIVE mode with a
    corrupt-record column — bad rows are quarantined, never dropped
    silently and never aborting the scan (the dead-letter pattern;
    the reference's JSON path ABORTS by contract instead,
    jsonstreamer.go:44-45 → i05).  The oracle reads the same file
    with DuckDB's ignore_errors and must agree on the surviving rows;
    the corrupt count is pinned by the row arithmetic."""
    base = os.path.join(_scratch(spark, "f08"), "csv")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 300)
        .select(
            F.concat_ws(
                ",", "l_orderkey", "l_linenumber", "l_quantity"
            ).alias("value")
        )
    )
    garbage = spark.createDataFrame(
        [("oops,not,numeric",), ("1,2,3,4,5",), ("#!corrupt line",)],
        "value string",
    )
    li.unionByName(garbage).coalesce(1).write.text(base)

    schema = "k long, ln int, qty double, _corrupt string"
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(base)
    )
    # The aggregate references EVERY data column: corrupt-record
    # classification is only exact for the columns actually parsed
    # (CSV column pruning would otherwise let an arity-overflow or
    # short line slip through as "valid" nulls — observed, not
    # hypothetical).
    return raw.select(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_valid"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("k")))
        .cast("long")
        .alias("key_sum"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("ln")))
        .cast("long")
        .alias("ln_sum"),
        F.round(
            F.sum(F.when(F.col("_corrupt").isNull(), F.col("qty"))), 2
        ).alias("qty_sum"),
    )


def t13_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DEcontamination — the pre-training hygiene pass: find
    corpus documents sharing ≥ 2 distinct word 3-grams with any
    held-out benchmark document (deterministic cohort, doc_id % 97).
    Inverted-index shape: distinct grams exploded per side, equi-join
    on the gram, count per (doc, bench) pair — never doc × benchmark.
    The benchmark side is tiny by nature and broadcast."""
    docs = _t(spark, sf_dir, "documents")
    grams5 = F.array_distinct(TX.ngrams_col(F.col("text"), 3))
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), F.explode(grams5).alias("g")
    )
    corp = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.explode(grams5).alias("g")
    )
    return (
        corp.join(F.broadcast(bench), "g")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
        .orderBy("doc_id", "bench_id")
    )


def t14_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — redact emails and IPv4s before training.  The
    synthetic corpus carries no PII, so a deterministic contact line
    is appended per doc_id cohort FIRST (both engines build the same
    input), then counted and redacted; the md5 of the scrubbed text
    pins the exact replacement behavior, not just the counts.  All
    scan-local regex in codegen — the 100 TB shape is one pass."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    email_re = "[a-z0-9.]+@[a-z0-9.]+[a-z]"
    ip_re = r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+"
    tainted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com from 10.1."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(".7"),
        ),
    ).otherwise(F.col("text"))
    t = docs.select("doc_id", tainted.alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace("t", email_re, "<EMAIL>"), ip_re, "<IP>"
    )
    return t.select(
        "doc_id",
        F.regexp_count("t", F.lit(email_re)).cast("long").alias("n_emails"),
        F.regexp_count("t", F.lit(ip_re)).cast("long").alias("n_ips"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    ).orderBy("doc_id")


def st09_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once RESUME from a checkpoint — the durability contract
    that makes streaming trustworthy: phase 1 drains the first half of
    the events files through a checkpointed ``foreachBatch`` (each
    micro-batch appends its partial per-(day, type) counts to a
    parquet log) and STOPS; the second half of the files then lands;
    phase 2 restarts the SAME query from the SAME checkpoint and must
    process ONLY the new files — zero re-emission of phase-1 batches.
    The final rollup sums the partial-count log; any reprocessing
    would double-count and break the hash against the batch oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = _scratch(spark, "st09")
    tmp, hold, ckpt, outp = (
        os.path.join(base, d) for d in ("src", "hold", "ckpt", "out")
    )
    os.makedirs(tmp)
    os.makedirs(hold)
    os.makedirs(outp)
    ev = _t(spark, sf_dir, "events")
    for b in range(4):
        _write_single_parquet(
            ev.filter(F.col("event_id") % 4 == b), os.path.join(tmp, f"b{b}")
        )
    # Hold the second half OUTSIDE the watched directory (a same-dir
    # rename would still match the source glob).
    later = [os.path.join(tmp, f"b{b}") for b in (2, 3)]
    staged = [os.path.join(hold, f"b{b}") for b in (2, 3)]
    for p, s in zip(later, staged):
        os.rename(p, s)

    def append_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(
                F.to_date("ts").alias("day"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n_partial"))
            .write.mode("append")
            .parquet(outp)
        )

    def drain() -> None:
        _drain(
            spark.readStream.schema(_EVENTS_TS_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(f"{tmp}/b*")
            .writeStream.foreachBatch(append_partial)
            .option("checkpointLocation", ckpt)
        )

    drain()  # phase 1: sees b0, b1 only
    for p, s in zip(later, staged):
        os.rename(s, p)
    drain()  # phase 2: SAME checkpoint -> must pick up ONLY b2, b3
    return (
        spark.read.parquet(outp)
        .groupBy("day", "event_type")
        .agg(F.sum("n_partial").cast("long").alias("n_events"))
        .orderBy("day", "event_type")
    )


def q58_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI tri-valued logic where engines classically diverge:
    ``NOT IN`` against a subquery WITH a NULL yields UNKNOWN for every
    row (null-aware anti join — zero rows), while ``NOT EXISTS`` over
    the same predicate ignores the NULL and keeps the non-matches.
    Both shapes are computed side by side and must agree with DuckDB
    row-for-row.  Spark plans the NOT IN as a null-aware
    BroadcastNestedLoopJoin by necessity — the correctness price of
    the operator, which is why production plans prefer NOT EXISTS."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_q58")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation_q58")
    return spark.sql(
        """
        WITH keys AS (
            SELECT CASE WHEN n_nationkey = 13 THEN NULL
                        ELSE n_nationkey END AS k
            FROM nation_q58
            WHERE n_nationkey < 15
        )
        SELECT
            (SELECT count(*) FROM customer_q58
             WHERE c_nationkey NOT IN (SELECT k FROM keys)) AS n_not_in,
            (SELECT count(*) FROM customer_q58 c
             WHERE NOT EXISTS (SELECT 1 FROM keys WHERE keys.k = c.c_nationkey))
                AS n_not_exists
        """
    )


def m04_binary_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.read.format("binaryFile")`` — the raw-asset ingestion
    path SURVEY §2.2's multimodal row names: a directory of opaque
    payload files scanned as (path, length, content) rows, keyed back
    to the catalog by filename.  Integrity is proven end-to-end: the
    md5 of each file's bytes must equal the md5 DuckDB computes from
    the source text.  At 100 TB this scan is how image/audio shards
    enter the lakehouse (pointer-and-payload, one row per object)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    base = _scratch(spark, "m04")
    for r in docs.select("doc_id", "text").collect():
        with open(os.path.join(base, f"{r.doc_id:06d}.bin"), "wb") as f:
            f.write(r.text.encode("utf-8"))

    binf = spark.read.format("binaryFile").load(base)
    return binf.select(
        F.regexp_extract(
            F.element_at(F.split("path", "/"), -1), r"^(\d+)", 1
        )
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5("content").alias("payload_md5"),
    ).orderBy("doc_id")


def q57_predicate_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining expression-language surface in one query:
    LIKE / RLIKE / IN-list / BETWEEN / CASE predicates as conditional
    counts, plus ``collect_set`` (sorted for determinism) — per order
    priority."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.when(F.col("o_orderstatus").isin("F", "P"), 1)).alias(
                "n_closed_ish"
            ),
            F.count(
                F.when(F.col("o_orderpriority").like("%URGENT%"), 1)
            ).alias("n_urgent_like"),
            F.count(
                F.when(F.col("o_orderpriority").rlike("^[12]-"), 1)
            ).alias("n_high_rx"),
            F.count(
                F.when(F.col("o_totalprice").between(1000, 100000), 1)
            ).alias("n_mid_price"),
            F.count(
                F.when(F.col("o_orderstatus") == "O", 1).otherwise(None)
            ).alias("n_open_case"),
            # Driver-canonicalizer rule: oracle-gated queries emit only
            # atomic columns — arrays are joined to one pipe-delimited
            # string (r02 ERR: pandas sort on list cells is unhashable).
            F.concat_ws(
                "|", F.sort_array(F.collect_set("o_orderstatus"))
            ).alias("statuses"),
        )
        .orderBy("o_orderpriority")
    )


def q60_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 3.4+): per customer, the
    top-2 orders by price pulled by a dependent subquery with ORDER
    BY + LIMIT — the SQL-surface twin of the window top-k (q03/q11),
    exercising Catalyst's DecorrelateInnerQuery path instead of a
    window.

    Scale: Catalyst rewrites the lateral into a join + per-key
    ranking, so the physical plan is the same shuffle-on-custkey
    shape as the window form — declaring it laterally costs nothing.
    Customers are filtered BEFORE the lateral, so the correlated side
    only runs for the kept keys."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("q60_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q60_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM q60_customer c,
        LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM q60_orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 2
        ) o
        WHERE c.c_custkey % 7 = 0
        ORDER BY c_custkey, o_orderkey
        """
    )


def q61_approx_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_percentile`` accuracy gate: the sketch's p50/p90/p99
    estimates are themselves engine-specific (q28 stays rows-only for
    that reason), but the sketch CONTRACT — rank error ≤ 1/accuracy —
    is oracle-checkable.  The query computes the exact rank share of
    each estimate with one extra scan and emits the assertion table
    (p_pct, rank_ok); the DuckDB oracle states the expectation, so a
    hash match pins sketch quality without replaying the sketch
    (same pattern as the s03/s05/s08 ANN effectiveness gate).

    Scale: one pass builds the sketch (partial-mergeable), one pass
    counts values ≤ each of the 3 estimates (broadcast of 3 rows);
    both are plain scans — no sort, no quadratic step.  Tolerance is
    10× the sketch's 1/10000 rank-error bound for regeneration
    margin."""
    ev = _t(spark, sf_dir, "events").select("value")
    est = ev.agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000
        ).alias("vs"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.posexplode("vs").alias("idx", "v"),
        "n",
    ).withColumn(
        "p_pct",
        F.element_at(
            F.array(F.lit(50), F.lit(90), F.lit(99)), F.col("idx") + 1
        ),
    )
    ranked = (
        ev.crossJoin(F.broadcast(est))
        .groupBy("p_pct", "n")
        .agg(
            F.count(F.when(F.col("value") <= F.col("v"), 1)).alias("rank")
        )
    )
    return ranked.select(
        "p_pct",
        (
            F.abs(F.col("rank") / F.col("n") - F.col("p_pct") / 100.0)
            <= 0.001
        )
        .cast("int")
        .alias("rank_ok"),
    ).orderBy("p_pct")


def d07_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: share of doc A's distinct tokens
    that also appear in doc B — the directional near-dup signal that
    catches quote/subset duplicates symmetric Jaccard (d02/d04)
    misses.  Pairs with containment ≥ 0.9 on a 1/10 id subset.

    Scale: inverted-index shape — explode DISTINCT tokens (narrow),
    self-equi-join on the token, hash-agg the pair counts; never a
    doc × doc cross join.  The containment ratio is reported in
    integer per-mille ((2000·inter + n_a) div (2·n_a) — the repo's
    integer-exact rounding rule), so both engines hash identically.

    The ≥ threshold test is the integer comparison 1000·inter ≥
    900·n_a — no fp boundary at all."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.split(F.lower(F.trim("text")), r"\s+")
            )
        ).alias("w"),
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_a"))
    a = toks.select(F.col("doc_id").alias("id_a"), "w")
    b = toks.select(F.col("doc_id").alias("id_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("doc_id", "id_a")), "id_a"
        )
        .filter(F.col("inter") * 1000 >= F.col("n_a") * 900)
        .select(
            "id_a",
            "id_b",
            F.expr("(2000 * inter + n_a) div (2 * n_a)").alias(
                "contain_pm"
            ),
        )
        .orderBy("id_a", "id_b")
    )


def s09_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spherical k-means, 3 Lloyd rounds over the
    embedding corpus (`operators/clustering.py`) — the iterative-ML
    workload class.  Emits the per-round assertion trace
    (iter, n_points, inertia_ok): the oracle pins total assignment
    and the Lloyd monotone-non-increase invariant, the only parts of
    an iterative fp computation two engines can agree on."""
    from kinesis_log_streamer_spark.operators.clustering import (
        spherical_kmeans_trace,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return spherical_kmeans_trace(emb, n_clusters=8, n_iter=3)


def f10_corrupt_json_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSON scan with ``_corrupt_record``: customer rows
    serialized to JSON lines, every id ≡ 3 (mod 10) line truncated
    mid-object, read back with an explicit schema + corrupt-record
    column.  The malformed-input contract for JSON mirrors f08's CSV
    twin: bad lines are COUNTED, good lines aggregate exactly — at
    100 TB you quarantine and continue, never abort.

    The corrupt rows are constructed, not found — so the DuckDB
    oracle knows exactly which ids fail parsing and checks both
    populations."""
    base = _scratch(spark, "f10")
    cust = _t(spark, sf_dir, "customer")
    line = F.to_json(F.struct("c_custkey", "c_acctbal", "c_mktsegment"))
    lines = cust.select(
        F.when(
            F.col("c_custkey") % 10 == 3,
            F.substring(line, 1, 20),  # truncated mid-object: invalid
        )
        .otherwise(line)
        .alias("value")
    )
    lines.coalesce(1).write.mode("overwrite").text(base)

    schema = (
        "c_custkey long, c_acctbal double, c_mktsegment string, "
        "_bad string"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(base)
    )
    return back.agg(
        F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_valid"),
        F.count(F.when(F.col("_bad").isNotNull(), 1)).alias("n_corrupt"),
        F.round(
            F.sum(F.when(F.col("_bad").isNull(), F.col("c_acctbal"))), 2
        ).alias("bal_sum"),
    )


def t16_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy — the token-diversity
    quality score modern curation pipelines threshold on (low entropy
    ⇒ repetitive/boilerplate text, complementing t15's explicit
    repetition rules).  H = log2(n) − (Σ c·log2 c)/n over token
    counts.

    Scale: one explode + two hash-aggs, all codegen.  ACCEPTED-FP-
    RISK on round(H, 3): double log sums, same monitored class as
    l09/u04 (a boundary hit needs fp coincidence, not a systematic
    rational; sf sweep is the tripwire)."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.log2("c")).alias("_clog"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.log2("n_tokens") - F.col("_clog") / F.col("n_tokens"), 3
            ).alias("entropy"),
        )
        .orderBy("doc_id")
    )


def q62_correlated_scalar_subquery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Correlated scalar subquery in the SELECT list — the per-row
    dependent aggregate q22's uncorrelated form doesn't cover.
    Catalyst decorrelates it into a left outer aggregate join, so the
    physical plan is one shuffle on the correlation key, not a
    per-row probe.  max() selects an existing double (no fp
    accumulation), so the value needs no rounding."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("q62_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q62_orders")
    return spark.sql(
        """
        SELECT c.c_custkey,
               (SELECT max(o_totalprice)
                FROM q62_orders o
                WHERE o.o_custkey = c.c_custkey) AS max_price
        FROM q62_customer c
        WHERE c.c_custkey % 11 = 0
        ORDER BY c_custkey
        """
    )


def q63_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a lookback bound (pandas ``merge_asof``
    tolerance semantics): each click event annotated with the user's
    most recent view event, but only if it happened within 24 h —
    staler matches become NULL, they are NOT replaced by older
    in-range rows.  Exercises `operators/asof.py`'s tolerance path:
    the bound is applied after the forward fill (one projection, no
    extra shuffle).  ~35 % of clicks match at sf0.01 — both branches
    of the tolerance are exercised."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # One row per (user, ts): equal-timestamp view ties collapse so
    # the right side is deterministic (same rule as q23).
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("vts"))
        .agg(F.max("event_id").alias("view_event_id"))
    )
    return asof_join(
        clicks,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="vts",
        tolerance_seconds=86400,
    ).select("event_id", "user_id", "view_event_id").orderBy("event_id")


def l10_burst_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst / bot detection over the event log: users whose request
    rate peaks at ≥ 2 events in any 10-minute bucket — the
    rate-limiting signal every log pipeline computes (reference's
    access-log model, README.md:12-24, applied to abuse detection).

    Scale: one hash-agg per (user, bucket) — partial map-side combine
    collapses the raw events — then one per-user max; both shuffle on
    user_id only.  Bucketing is epoch-aligned arithmetic, identical
    on both engines (no session-tz dependence: the bucket is never
    rendered as a local time)."""
    ev = _t(spark, sf_dir, "events")
    per_bucket = (
        ev.select(
            "user_id",
            (F.unix_timestamp("ts") - F.unix_timestamp("ts") % 600).alias(
                "bucket"
            ),
        )
        .groupBy("user_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_bucket.groupBy("user_id")
        .agg(
            F.max("c").alias("peak_10m"),
            F.count(F.when(F.col("c") >= 2, 1)).alias("n_burst_buckets"),
        )
        .filter(F.col("peak_10m") >= 2)
        .orderBy("user_id")
    )


def f11_csv_quoted_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round trip with HOSTILE values: embedded delimiters,
    quotes, and real newlines (multi-line records).  Written with
    quoteAll, read back with ``multiLine=true`` + an explicit schema;
    the aggregate proves byte-exact value fidelity.  Complements
    f08 (malformed rows) with the escaping dimension of CSV
    robustness.

    Scale note: multiLine CSV is NOT splittable (a file is one
    record stream) — the documented trade-off is files sized by the
    writer, parallelism across files, which is why this engine
    treats multiline CSV as an ingest format to normalize into
    parquet, never a query-time format."""
    base = os.path.join(_scratch(spark, "f11"), "csv")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    tricky = F.concat(
        F.col("c_mktsegment"),
        F.lit(',"q"\n'),
        F.col("c_custkey").cast("string"),
    )
    cust.select(
        "c_custkey", tricky.alias("tricky"), "c_acctbal"
    ).coalesce(1).write.option("quoteAll", True).option(
        "header", True
    ).csv(base)

    back = (
        spark.read.schema("c_custkey long, tricky string, c_acctbal double")
        .option("header", True)
        .option("multiLine", True)
        .csv(base)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("c_custkey").alias("key_sum"),
        F.sum(F.length("tricky")).alias("tricky_len_sum"),
        F.count(F.when(F.col("tricky").contains("\n"), 1)).alias(
            "n_multiline"
        ),
        F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
    )


def t17_minhash_estimate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR accuracy gate — the q61/s03-style assertion
    for the dedup sketch family: over d04's fixed-k exact-pair cohort
    (100 smallest doc_ids, all pairs), the 32-hash signature's Jaccard
    estimate (matching-component fraction) must track exact shingle
    Jaccard within MAE ≤ 0.02 and max error ≤ 0.15 (theoretical
    stderr √(J(1−J)/32)).  With d05 hash-verifying the LSH banding
    and d04 the exact twin, this closes the last unevidenced link in
    the MinHash pipeline: the estimator itself.

    Scale: the crossJoin is capped at k=100 ids → ≤4 950 pairs at ANY
    corpus size (a modulus cohort would grow quadratically);
    everything else is the production signature pipeline."""
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id").limit(100)
    prof = D.minhash_signatures(docs)  # drops <3-token docs like d04
    a = prof.select(
        F.col("id").alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    b = prof.select(
        F.col("id").alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    exact = inter.cast("double") / union
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(32.0)
    )
    errs = pairs.select(F.abs(exact - est).alias("err"))
    return errs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(F.avg("err") <= 0.02, F.lit(True))
        .cast("int")
        .alias("mae_ok"),
        F.coalesce(F.max("err") <= 0.15, F.lit(True))
        .cast("int")
        .alias("maxerr_ok"),
    )


def q64_hll_partial_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch aggregation — THE pattern for distinct counts
    at 100 TB: each shard builds a partial Datasketches HLL
    (``hll_sketch_agg``), and only the fixed-size sketch BYTES are
    shuffled and merged (``hll_union_agg``), never the raw keys.
    Re-aggregating pre-computed per-partition sketches is what makes
    rollup cubes and incremental pipelines possible without
    re-scanning the fact table.  The sketch estimate is
    engine-specific, so the oracle-gated columns are the EXACT
    distinct count plus an accuracy assertion the oracle asserts as
    a constant — the q61/s03 effectiveness-gate pattern.  lgK is
    pinned to 14 (RSE 1.04/√2¹⁴ ≈ 0.81 %) and the gate sits at the
    3σ bound 2.5 %: the lgK=12 default FAILED the sf0.1 sweep
    (2.13 % error at ~13 k distinct), which is exactly the
    sketch-size-vs-cardinality sizing call a 100 TB deployment must
    make (measured max error at lgK=14: 0.41 %, 6× headroom)."""
    orders = _t(spark, sf_dir, "orders")
    partials = (
        orders.withColumn("shard", F.col("o_orderkey") % 8)
        .groupBy("o_orderpriority", "shard")
        .agg(F.hll_sketch_agg("o_custkey", F.lit(14)).alias("sk"))
    )
    merged = partials.groupBy("o_orderpriority").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_buyers")
    )
    return (
        exact.join(merged, "o_orderpriority")
        .select(
            "o_orderpriority",
            "exact_buyers",
            (
                F.abs(F.col("est") - F.col("exact_buyers"))
                <= 0.025 * F.col("exact_buyers")
            )
            .cast("int")
            .alias("est_ok"),
        )
        .orderBy("o_orderpriority")
    )


def f12_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink/source coverage (Spark 4 native ``xml`` format — no
    external package): supplier → row-tagged XML → schema'd read-back
    → aggregate.  XML is the interchange surface log shippers still
    emit; entity escaping (&, <, quotes in names) must survive the
    round trip for the hash to match the parquet-side oracle."""
    sup = _t(spark, sf_dir, "supplier")
    path = _scratch(spark, "f12")
    (
        sup.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "supplier")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema("s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double")
        .load(path)
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.length("s_name")).alias("name_chars"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("s_nationkey")
    )


def f13_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion (Spark 4 semi-structured type): events.props
    parsed ONCE into a binary variant (``parse_json``), then shredded
    with typed path extraction (``variant_get``) — the
    schema-on-read pattern for heterogeneous JSON at scale, cheaper
    than per-path ``get_json_object`` re-parsing because the parse
    cost is paid once per row, not once per extracted field.
    Oracle: DuckDB ``json_extract_string`` + cast over the same
    strings; sum pinned to BIGINT on both engines."""
    ev = _t(spark, sf_dir, "events")
    shredded = ev.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    )
    return (
        shredded.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q65_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning — the row-level sibling of
    q55's dynamic partition pruning: a selective dim predicate is
    turned into a bloom filter built on the dim's join keys and
    injected as a ``might_contain`` pre-filter on the FACT scan, so
    non-matching fact rows die at the scan instead of crossing the
    join shuffle.  At 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~1/7 that can
    match.  The code asserts the injection (local thresholds lowered
    — the 10 GB application-side default is sized for real
    clusters); values hash-match the plain-join oracle."""
    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with _conf(spark, tuned):
        li = _t(spark, sf_dir, "lineitem")
        part = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 44)
        out = (
            li.join(part, li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            )
            .orderBy("p_brand")
        )
        # Force physical planning NOW, under the tuned confs; the
        # QueryExecution is cached on the DataFrame, so the driver's
        # later collect() reuses this exact bloom-filtered plan.
        plan = out._jdf.queryExecution().executedPlan().toString()
        if "might_contain" not in plan:
            raise RuntimeError(
                "expected a runtime bloom-filter (might_contain) on the "
                "fact scan"
            )
        return out


def u06_arrow_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (``useArrow=True``) — the sixth and
    final Python extension shape (after u01 UDAF / u02 pandas-scalar
    / u03 UDTF / u04 grouped-map / u05 mapInArrow): a row-signature
    lambda that Spark transports over Arrow batches instead of
    pickled rows, removing the per-row serialization tax while
    keeping plain-Python ergonomics.  The digit-sum kernel is
    integer-exact, so DuckDB reproduces it with list arithmetic and
    the hash must match — proving the Arrow transport is lossless,
    not just fast."""
    from kinesis_log_streamer_spark.functions.udfs import digit_sum_arrow

    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(digit_sum_arrow(F.col("o_orderkey")).alias("dsum"))
        .groupBy("dsum")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("dsum")
    )


def g01_grid_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join (`operators/spatial.py`): customers
    placed on a deterministic integer 10⁶×10⁶ grid (LCG-style mixes
    of the key — replayable by any engine, no fp), all pairs within
    radius 10 000 via 3×3 neighbor-cell blocking.  The oracle is the
    naive O(n²) predicate join over the same coordinates, so the
    blocking must be exactly lossless — the same candidate-complete
    guarantee d04 gives the MinHash family.

    Scale: one cell-key equi-join with constant 9× replication on one
    side; the oracle's n² form is DuckDB-only."""
    from kinesis_log_streamer_spark.operators.spatial import (
        grid_neighbor_join,
    )

    # Quadratic key mix, NOT a linear one: with x = k·a mod m the
    # coordinate delta depends only on the key difference, so every
    # pair lands on a sparse lattice and the radius join finds ~0
    # pairs.  The k² term makes deltas pair-specific (419 pairs at
    # sf0.01, 34 985 at sf0.1).
    k = F.col("c_custkey")
    cust = _t(spark, sf_dir, "customer").select(
        k.alias("id"),
        (((k * k % 1000003) * 48271 + k * 12345) % 1000000).alias("x"),
        (((k * k % 999983) * 69621 + k * 54321) % 1000000).alias("y"),
    )
    return grid_neighbor_join(cust, radius=10_000).orderBy(
        "id_a", "id_b"
    )


def l11_ip_range_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-IP-style range-table enrichment — the classic log-pipeline
    lookup: synthetic IPv4 ints (deterministic mix of user/event id)
    matched into 64 non-uniform [start, end] blocks built from a
    sorted boundary table (``lead`` closes each range).  The range
    table is BROADCAST, so the non-equi match is a bounded ≤64-probe
    nested loop per row with NO shuffle of the fact side — for large
    range tables the q36 bin-prefilter composes on top.  Oracle
    rebuilds the identical boundary table in SQL and range-joins."""
    ev = _t(spark, sf_dir, "events")
    ips = ev.select(
        "event_id",
        "user_id",
        (
            (F.col("user_id") * 2654435761 + F.col("event_id") * 97)
            % 4294967296
        ).alias("ip"),
    )
    bounds = spark.range(64).select(
        F.when(F.col("id") == 0, F.lit(0))
        .otherwise((F.col("id") * 2654435761 + 40503) % 4294967296)
        .alias("start")
    )
    w = W.orderBy("start")
    ranges = bounds.select(
        "start",
        (
            F.coalesce(F.lead("start").over(w), F.lit(4294967296)) - 1
        ).alias("end"),
        F.format_string("blk_%02d", F.row_number().over(w) - 1).alias(
            "block"
        ),
    )
    joined = ips.join(
        F.broadcast(ranges),
        (F.col("ip") >= F.col("start")) & (F.col("ip") <= F.col("end")),
    )
    return (
        joined.groupBy("block")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("ip").alias("min_ip"),
            F.max("ip").alias("max_ip"),
        )
        .orderBy("block")
    )


def t18_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-mixing step
    after t08's quality budget: EXACTLY ⌈10 %⌉ of each language,
    chosen by md5 rank (reproducible across engines, retries and
    corpus growth *within* the kept set, unlike ``TABLESAMPLE``).
    t09 samples by a global hash threshold (binomial per-stratum
    counts); this pins the per-stratum count exactly — the contract
    data-mixing recipes ("20 % code, 5 % low-resource") actually
    need.  One window per stratum, no collect."""
    docs = _t(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    n = F.count(F.lit(1)).over(W.partitionBy("lang"))
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rk"),
            F.ceil(n / 10.0).alias("quota"),
        )
        .filter(F.col("rk") <= F.col("quota"))
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    )


def q66_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff — the audit step behind every
    incremental pipeline: snapshot B is derived from orders by a
    deterministic rule (keys %13 deleted, %7 repriced +10, %17
    spawning an insert under key+10⁷), and the diff classifies every
    key via ONE full-outer join on the key comparing value columns.
    At 100 TB both sides shuffle once on the key — or zero times if
    laid out bucketed (f04).  Counts and money totals per change
    class are oracle-gated."""
    a = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    surviving = a.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    inserted = a.filter(F.col("o_orderkey") % 17 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("NEW").alias("o_orderstatus"),
        "o_totalprice",
    )
    b = surviving.unionByName(inserted)
    al = a.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st_a"),
        F.col("o_totalprice").alias("tp_a"),
    )
    bl = b.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st_b"),
        F.col("o_totalprice").alias("tp_b"),
    )
    diff = al.join(bl, "k", "full_outer").select(
        "k",
        F.when(F.col("st_b").isNull(), "deleted")
        .when(F.col("st_a").isNull(), "inserted")
        .when(
            (F.col("st_a") != F.col("st_b"))
            | (F.col("tp_a") != F.col("tp_b")),
            "updated",
        )
        .otherwise("unchanged")
        .alias("change_type"),
        F.coalesce("tp_b", "tp_a").alias("tp"),
    )
    return (
        diff.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.round(F.sum("tp"), 2).alias("total_price"),
        )
        .orderBy("change_type")
    )


def s10_int8_quant_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization — the storage/serving compression
    step every 100 TB vector pipeline runs (4× smaller than float32,
    SIMD-dot-able): per-vector max-abs scaling, codes
    ``floor(e·127/mx)``, all in JVM higher-order functions.  The
    per-vector CODE SUM is integer-exact and hash-matched against
    DuckDB list arithmetic (the identical double expression tree on
    both engines — same parquet floats widened the same way — makes
    even the floor() boundaries bit-reproducible); the reconstruction
    gate asserts mean squared relative error ≤ (1/127)²·dims·margin,
    which the oracle pins as a constant."""
    emb = _t(spark, sf_dir, "embeddings")
    mx = F.array_max(F.transform("embedding", lambda e: F.abs(e)))
    q = F.transform(
        "embedding", lambda e: F.floor(e * 127.0 / F.col("_mx"))
    )
    recon_err2 = F.aggregate(
        F.zip_with(
            "embedding",
            "_q",
            lambda e, c: (e - c * F.col("_mx") / 127.0)
            * (e - c * F.col("_mx") / 127.0),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm2 = F.aggregate(
        F.transform("embedding", lambda e: e * e),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rows = (
        emb.withColumn("_mx", mx)
        .filter(F.col("_mx") > 0)
        .withColumn("_q", q)
        .select(
            "vec_id",
            F.aggregate(
                "_q", F.lit(0).cast("bigint"), lambda acc, x: acc + x
            ).alias("code_sum"),
            (recon_err2 / norm2).alias("_rel2"),
        )
    )
    # Worst case per dim the floor error is one step (mx/127); the
    # relative gate below carries ~4x margin over the measured value.
    return rows.select(
        "vec_id",
        "code_sum",
        (F.col("_rel2") <= 64.0 * (1.0 / 127.0) ** 2)
        .cast("int")
        .alias("recon_ok"),
    ).orderBy("vec_id")


def st10_stream_left_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join
    (`streaming/stateful.py:stream_stream_left_join`) drained
    bounded: events with no same-user follower within 5 minutes
    emit null-matched rows once the watermark passes their horizon —
    the far-future sentinel (st05/st06 machinery) forces that for
    the stream's tail, so the drained result must equal the batch
    left join.  This is the semantics gap st03's inner join leaves:
    'did NOT convert within the window' is the outer null side."""
    from kinesis_log_streamer_spark.streaming.stateful import (
        stream_stream_left_join,
    )

    ev = _events_stream_with_flush(spark, sf_dir, "st10")
    joined = stream_stream_left_join(
        ev, ev, watermark="10 minutes", max_delay="5 minutes"
    )
    _drain_stream_to_table(joined, "st10_out", mode="append")
    return (
        spark.table("st10_out")
        .filter(F.col("l_user") != -1)  # drop the sentinel's own row
        .select(
            "l_type",
            F.coalesce("r_type", F.lit("(none)")).alias("r_type"),
            "l_user",
        )
        .groupBy("l_type", "r_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("l_user").alias("n_users"),
        )
        .orderBy("l_type", "r_type")
    )


def p04_stream_progress_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming observability gate: the micro-batch engine's own
    progress telemetry (``StreamingQuery.recentProgress`` —
    numInputRows per batch) must account for EXACTLY the rows the
    source holds, proving no batch was dropped or double-counted
    during the drain.  This is p03's Observation pattern applied to
    the streaming engine: metrics collected as a side effect of the
    run, cross-checked in-code, then oracle-gated as exact counts."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    tmp = _scratch(spark, "p04")
    # 4 single-file micro-batches so the progress log has real
    # per-batch structure, not one monolithic entry.
    for i in range(4):
        _write_single_parquet(
            ev.filter(F.col("event_id") % 4 == i),
            os.path.join(tmp, f"part_{i}.parquet"),
        )
    stream = (
        spark.readStream.schema(_EVENTS_TS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(f"{tmp}/*.parquet")
    )
    counted = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    spark.catalog.dropTempView("p04_out")
    q = _drain(
        counted.writeStream.format("memory")
        .queryName("p04_out")
        .outputMode("complete")
    )
    # recentProgress is synchronous with batch completion: after the
    # drain every batch's numInputRows is present.
    total_in = sum(
        int(p["numInputRows"]) for p in q.recentProgress
    )
    n_batches = sum(
        1 for p in q.recentProgress if int(p["numInputRows"]) > 0
    )
    sink_total = spark.table("p04_out").agg(F.sum("n")).first()[0]
    return spark.createDataFrame(
        [
            (
                total_in,
                int(sink_total),
                1 if total_in == sink_total else 0,
                1 if n_batches == 4 else 0,
            )
        ],
        "rows_observed bigint, rows_in_sink bigint, totals_match int, "
        "batching_ok int",
    )


def d08_token_sort_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-order-insensitive exact dedup — the cheap middle ground
    between d01's byte-exact hash and d02's probabilistic MinHash:
    documents are duplicates iff their token MULTISETS match
    (shuffled sentences, re-ordered lists).  Signature =
    md5(sorted-token join), one scan-local map + one hash-agg +
    one self-equi-join on the 16-byte signature; text never
    shuffles.  Fully hash-matched (DuckDB reproduces md5 and the
    sort), unlike the heuristic near-dup family.

    The synthetic corpus has no token-shuffled duplicates, so the
    input is deterministically tainted first (t14's pattern): every
    doc_id % 37 == 0 gains a twin under doc_id + 100 000 with the
    token order REVERSED — byte-different (d01-invisible), multiset-
    identical (d08 must pair it with its source)."""
    base = _t(spark, sf_dir, "documents")
    shuffled = base.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.reverse(F.split(F.lower(F.trim("text")), r"\s+")),
        ).alias("text"),
    )
    docs = base.select("doc_id", "text").unionByName(shuffled)
    sig = F.md5(
        F.concat_ws(
            " ",
            F.sort_array(F.split(F.lower(F.trim("text")), r"\s+")),
        )
    )
    signed = docs.select("doc_id", sig.alias("sig"))
    groups = (
        signed.groupBy("sig")
        .agg(
            F.count(F.lit(1)).alias("group_n"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("group_n") > 1)
    )
    return (
        signed.join(groups, "sig")
        .select("doc_id", "keeper", "group_n")
        .orderBy("doc_id")
    )


def q67_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency ("max sessions open at once") via the
    TWO-PHASE sweep line (`operators/sweepline.py`): within-bucket
    running sums in parallel + a broadcast per-bucket carry prefix —
    exactly equal to the textbook single-sort cumsum (the oracle's
    form) at any partition count, without its single-partition
    window.  Events are treated as half-open 5-minute activity
    intervals; ends sort before starts at equal timestamps so
    back-to-back intervals never double-count."""
    from kinesis_log_streamer_spark.operators.sweepline import (
        interval_concurrency,
    )

    iv = _t(spark, sf_dir, "events").select(
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("interval 5 minutes")).alias("end"),
    )
    return interval_concurrency(iv, bucket="hour").orderBy("bucket_ts")


def g02_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the q56 interaction graph —
    the standard graph-analytics benchmark op: undirected edges
    canonicalized lo<hi (each triangle counted ONCE as a<b<c), then
    two equi-joins — e(a,b)⋈e(b,c) on b, ⋈e(a,c) on (a,c).  At scale
    the candidate blow-up is bounded by orienting edges low→high
    (equivalent to the degree-ordering trick for power-law graphs:
    every wedge is rooted at its smallest vertex).  Exact, and the
    oracle replays the identical 3-way join."""
    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 100).alias("u"),
        (F.get_json_object("props", "$.k").cast("long") % 100).alias(
            "v"
        ),
    )
    edges = (
        ev.na.drop()
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("lo"), F.greatest("u", "v").alias("hi")
        )
        .distinct()
    )
    e1 = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = edges.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = edges.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return tri.agg(F.count(F.lit(1)).alias("n_triangles")).crossJoin(
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
    )


def f14_gzip_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-text codec coverage: orders → gzip JSON-lines →
    schema'd read-back → aggregate.  Gzip text is splittable-hostile
    (one stream per file), so the write pre-partitions into 8 files —
    the layout knob that keeps compressed-text ingest parallel at
    100 TB.  The oracle aggregates the original parquet, so codec,
    JSON serialization, and timestamp formatting must all round-trip
    losslessly."""
    orders = _t(spark, sf_dir, "orders")
    path = _scratch(spark, "f14")
    (
        orders.select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
        )
        .repartition(8)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(path)
    )
    back = (
        spark.read.schema(
            "o_orderkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderpriority string"
        )
        .json(path)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
        .orderBy("o_orderstatus")
    )


def t19_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner step of BPE vocabulary induction: adjacent CHARACTER
    pair frequencies within tokens (the statistic each BPE merge
    round maximizes), as one scan-local explode chain — tokens →
    ``transform(sequence(...))`` char bigrams — plus a single
    hash-agg.  Top-20 with a total-order tiebreak (cnt desc, pair).
    t07 counts word bigrams; this is the character level tokenizer
    training actually needs."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
    ).filter(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


def s11_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe sweep — the recall-vs-cost curve every ANN
    deployment tunes: the same coarse quantizer probed at nprobe ∈
    {1, 2, 4, 8}.  Because probe sets are NESTED (top-1 cell ⊆ top-2
    ⊆ …), the re-ranked top-k's average cosine is mathematically
    non-decreasing in nprobe — so the oracle can pin a MONOTONICITY
    gate (plus s03's 0.6 effectiveness floor at the deepest probe)
    without knowing the engine-specific neighbor lists.  This turns
    the ANN family's weakest-evidence criticism around: the sweep's
    *shape*, not just one operating point, is hash-verified."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = (
        S.cosine_topk(emb, queries, k=10)
        .groupBy("qid")
        .agg(F.avg("cos4").alias("_e_avg"))
        # joined into all 4 sweep levels — pin the 5-row aggregate
        .localCheckpoint(eager=True)
    )
    # one index build + one query-assignment matmul for the whole
    # sweep: the per-level rebuild cost 32 scans / 52 shuffles (r5
    # plan audit).  Probe sets are NESTED, so the deepest-probe
    # ranked assignment slices to every level by rank; the tiebreak
    # (score desc, cell desc) replicates ivf_assign's
    # reverse(array_sort) ordering exactly.
    prep = S.ivf_prepare(emb)
    q_src = emb.join(F.broadcast(queries.select("vec_id")), "vec_id")
    q_ranked = S.ivf_assign(
        q_src, prep[0], nprobe=8, with_score=True
    ).localCheckpoint(eager=True)
    wq = W.partitionBy("id").orderBy(F.desc("score"), F.desc("cell"))
    q_ranked = q_ranked.select(
        "id", "cell", F.row_number().over(wq).alias("_r")
    )
    per_level = []
    for nprobe in (1, 2, 4, 8):
        approx = S.ivf_topk(
            emb,
            queries,
            k=10,
            nprobe=nprobe,
            queries_in_corpus=True,
            prepared=prep,
            q_cells=q_ranked.filter(F.col("_r") <= nprobe).select(
                "id", "cell"
            ),
        )
        per_level.append(
            approx.groupBy("qid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("cos4").alias("_a_avg"),
            )
            .join(exact, "qid")
            .agg(
                F.lit(nprobe).alias("nprobe"),
                F.sum("n").alias("n_results"),
                F.avg(F.col("_a_avg") / F.col("_e_avg")).alias("_eff"),
            )
        )
    sweep = per_level[0]
    for lvl in per_level[1:]:
        sweep = sweep.unionByName(lvl)
    w = W.orderBy("nprobe")
    return sweep.select(
        "nprobe",
        "n_results",
        F.coalesce(
            F.col("_eff") >= F.lag("_eff").over(w) - 1e-9, F.lit(True)
        )
        .cast("int")
        .alias("monotone_ok"),
        (F.col("_eff") >= F.when(F.col("nprobe") == 8, 0.6).otherwise(0.0))
        .cast("int")
        .alias("floor_ok"),
    ).orderBy("nprobe")


def u07_scalar_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF — the seventh Python extension
    shape: same Arrow batching as u02's scalar form, but the iterator
    signature lets the worker pay one-time setup (model load,
    dictionary mmap) ONCE per partition instead of once per batch —
    the shape embedding/scoring UDFs take in production.  The kernel
    (codepoint count) is integer-exact, so the oracle hash-matches
    it against DuckDB ``length()``."""
    from kinesis_log_streamer_spark.functions.udfs import char_count_iter

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", char_count_iter("text").alias("chars"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


def t20_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal scoring — the CCNet-style quality filter:
    a unigram model is fit on the corpus itself (p(w) = c(w)/N, one
    hash-agg), and each document scores its mean token surprisal
    −Σ c_doc(w)·log2 p(w) / n_doc.  Low = common boilerplate, high =
    rare-token noise; curation keeps the middle band.  One explode +
    two hash-aggs + one equi-join on the token (df-style join form,
    same shape as t06's tf-idf).  ACCEPTED-FP-RISK on round(…, 3):
    double log sums, the monitored l09/t16 class."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
    )
    doc_counts = tok.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    corpus = doc_counts.groupBy("w").agg(F.sum("c").alias("cw"))
    n_total = corpus.agg(F.sum("cw").alias("n"))
    scored = (
        doc_counts.join(corpus, "w")
        .crossJoin(F.broadcast(n_total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(
                F.col("c")
                * -F.log2(F.col("cw").cast("double") / F.col("n"))
            ).alias("_surp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("_surp") / F.col("n_tokens"), 3).alias(
            "mean_surprisal"
        ),
    ).orderBy("doc_id")


def f15_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — the table-maintenance primitive
    behind backfills and late-data restatement: rewrite ONLY the
    partitions present in the incoming frame
    (``partitionOverwriteMode=dynamic``), leaving every other
    date directory byte-untouched.  Static mode would truncate the
    whole table first — the difference between restating one day and
    rewriting 100 TB.  One date's values are restated ×2, read back
    partition-pruned; the oracle applies the same restatement rule
    to the original table, so both the overwrite's surgical scope
    AND the untouched remainder are hash-checked."""
    from kinesis_log_streamer_spark.sources.sinks import (
        write_events_by_date,
    )

    ev = _t(spark, sf_dir, "events")
    path = _scratch(spark, "f15")
    write_events_by_date(ev, path)
    target = "2024-01-10"
    restated = (
        spark.read.parquet(path)
        .filter(F.col("event_date") == target)
        .withColumn("value", F.col("value") * 2)
    )
    with _conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        restated.write.mode("overwrite").partitionBy(
            "event_date"
        ).parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_date")
    )


def st11_stream_source_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming multi-source union — the fan-in shape of real
    ingest (N shards/topics → one logical stream): the events table
    split across two file-source directories by event-id parity,
    two independent ``readStream``s unioned BEFORE a stateful
    windowed aggregation.  Offsets are tracked per source; the
    drained result must equal batch SQL over the undivided table —
    proving the union neither drops nor double-reads either leg."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    base = _scratch(spark, "st11")
    for leg in ("even", "odd"):
        os.makedirs(os.path.join(base, leg))
    _write_single_parquet(
        ev.filter(F.col("event_id") % 2 == 0),
        os.path.join(base, "even", "events.parquet"),
    )
    _write_single_parquet(
        ev.filter(F.col("event_id") % 2 == 1),
        os.path.join(base, "odd", "events.parquet"),
    )
    legs = [
        spark.readStream.schema(_EVENTS_TS_SCHEMA)
        .format("parquet")
        .load(os.path.join(base, leg))
        for leg in ("even", "odd")
    ]
    unioned = legs[0].unionByName(legs[1])
    agg = (
        unioned.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
        )
    )
    _drain_stream_to_table(agg, "st11_out", mode="complete", no_data=False)
    return spark.table("st11_out").orderBy("hour_start", "event_type")


def q68_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (`operators/asof.py`, ``direction=
    "forward"``): each event annotated with the user's NEXT order
    at-or-after the event — the "first quote after the trade" mirror
    of q23's backward form, same union-trick plan (one shuffle, O(1)
    window state), ``first(ignorenulls)`` over the FOLLOWING frame.
    A 7-day tolerance nulls matches farther out, exercising the
    lookahead bound."""
    events = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = _t(spark, sf_dir, "orders")
    nxt = orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("odate"),
    ).agg(F.max("o_orderkey").alias("next_order_key"))
    return (
        asof_join(
            events,
            nxt,
            key="user_id",
            left_ts="ts",
            right_ts="odate",
            tolerance_seconds=7 * 86400.0,
            direction="forward",
        )
        .select("event_id", "user_id", "next_order_key")
        .orderBy("event_id")
    )


def q69_cached_branch_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``.cache()`` branch reuse — the API every multi-output pipeline
    leans on: one filtered/derived intermediate materialized once
    (in-memory columnar), then TWO aggregation branches read the
    cached copy instead of re-scanning parquet (asserted:
    ``InMemoryTableScan`` in both branch plans).  At 100 TB the same
    decision appears as checkpoint-to-parquet; the API and plan
    shape are identical.  Branches are unioned under a branch tag so
    one oracle-hashed table pins both."""
    li = _t(spark, sf_dir, "lineitem")
    inter = (
        li.filter(F.col("l_quantity") > 10)
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "net"
            ),
        )
        .cache()
    )
    by_flag = inter.groupBy(
        F.col("l_returnflag").alias("key")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("net"), 2).alias("total_net"),
    ).withColumn("branch", F.lit("by_returnflag"))
    by_status = inter.groupBy(
        F.col("l_linestatus").alias("key")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("net"), 2).alias("total_net"),
    ).withColumn("branch", F.lit("by_linestatus"))
    out = by_flag.unionByName(by_status).orderBy("branch", "key")
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "InMemoryTableScan" not in plan:
        raise RuntimeError("expected cached-intermediate reuse in plan")
    return out


def s12_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION statistics over the embedding column — the
    feature-diagnostics pass (dead dims, scale drift) vector
    pipelines run before normalization/quantization: one
    ``posexplode`` + one hash-agg, 64 output rows regardless of
    corpus size.  min/max are exact float selections (hash-strong);
    mean/variance use the EXPLICIT sum formula on both engines
    (built-in var_samp implementations differ numerically) rounded
    to 4 — the monitored accepted-fp-risk class."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode("embedding").alias("pos0", "e")
    ).select((F.col("pos0") + 1).alias("pos"), F.col("e").cast("double"))
    return (
        dims.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("e").alias("dim_min"),
            F.max("e").alias("dim_max"),
            # + 0.0 folds IEEE negative zero (round(-1e-6, 4) is -0.0
            # on one engine, 0.0 on the other) into +0.0 on both.
            (F.round(F.sum("e") / F.count(F.lit(1)), 4) + 0.0).alias(
                "dim_mean"
            ),
            (
                F.round(
                    F.sum(F.col("e") * F.col("e")) / F.count(F.lit(1))
                    - (F.sum("e") / F.count(F.lit(1)))
                    * (F.sum("e") / F.count(F.lit(1))),
                    4,
                )
                + 0.0
            ).alias("dim_var"),
        )
        .orderBy("pos")
    )


def q70_bitwise_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate functions (``bit_and``/``bit_or``/
    ``bit_xor``) — the permission-mask / bloom-accumulator corner of
    the function library, plus scalar shifts in the projection; all
    integer-exact and hash-matched."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderpriority",
            (F.col("o_orderkey") % 4096).alias("mask"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.bit_and("mask").alias("and_mask"),
            F.bit_or("mask").alias("or_mask"),
            F.bit_xor("mask").alias("xor_mask"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


def d09_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-count tuning sweep
    (`operators/dedup.py:portable_minhash_sweep`) — the dedup twin of
    s11's nprobe sweep: candidate and verified pair counts at 1/2/4
    bands.  Nested band sets make both counts monotone, and the
    md5 hash family is engine-portable, so the EXACT COUNTS (not
    assertion gates) hash-match a DuckDB replication of the identical
    banding — the strongest possible evidence that the recall knob
    behaves as the S-curve theory says.  One banding pass at
    max(levels); levels are filtered aggregates over each pair's
    first matching band."""
    docs = _t(spark, sf_dir, "documents")
    return D.portable_minhash_sweep(docs).orderBy("n_bands")


def f16_multiline_json_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``multiLine`` JSON-ARRAY ingestion — the third JSON shape after
    JSON-lines (f09) and concatenated values (i05): one top-level
    ``[...]`` spanning many lines, the format REST APIs dump.  The
    fixture is built JVM-side (``to_json(collect_list(struct))`` —
    bounded, the 25-row nation dim) and read back with
    ``multiLine=true``, which parses the whole file as one value and
    explodes the array into rows.  Oracle aggregates the original
    parquet."""
    nation = _t(spark, sf_dir, "nation")
    path = os.path.join(_scratch(spark, "f16"), "json_array")
    (
        nation.agg(
            F.to_json(
                F.collect_list(
                    F.struct("n_nationkey", "n_name", "n_regionkey")
                )
            ).alias("value")
        ).write.text(path)
    )
    back = (
        spark.read.option("multiLine", True)
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .json(path)
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_name"),
            F.max("n_nationkey").alias("max_key"),
        )
        .orderBy("n_regionkey")
    )


def k02_kinesis_checkpoint_resume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """st09's exactly-once resume contract applied to the CUSTOM
    Kinesis source (`sources/kinesis_source.py`): phase 1 ships a
    third of the events through the PutRecords sink and drains it
    through a checkpointed ``foreachBatch``; phase 2 ships a SECOND
    third into the SAME dir-stream and restarts from the SAME
    checkpoint — the source's per-shard sequence offsets must resume
    past phase-1 records with zero re-emission (the partial-count
    log would double-count otherwise and break the oracle hash).
    This is the strongest evidence the Python Data Source's offset
    API is implemented correctly, not just its happy-path read."""
    from kinesis_log_streamer_spark.sources.kinesis_source import (
        DirKinesisClient,
        KinesisDataSource,
    )
    from kinesis_log_streamer_spark.streaming.kinesis_sink import (
        KinesisSink,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = _scratch(spark, "k02")
    ep, ckpt, outp = (
        os.path.join(base, d) for d in ("stream", "ckpt", "out")
    )
    os.makedirs(outp)

    ev = _t(spark, sf_dir, "events")

    def payload(mod3: int) -> DataFrame:
        return ev.filter(F.col("event_id") % 3 == mod3).select(
            F.to_json(
                F.struct("event_id", "event_type", "value")
            ).alias("data"),
            F.concat(
                F.lit("host-"), (F.col("user_id") % 8).cast("string")
            ).alias("partitionKey"),
        )

    sink = KinesisSink(
        "k02", client_factory=lambda: DirKinesisClient(ep)
    )
    spark.dataSource.register(KinesisDataSource)

    def append_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                F.from_json(
                    "data",
                    "event_id long, event_type string, value double",
                ).alias("r")
            )
            .groupBy(F.col("r.event_type").alias("event_type"))
            .agg(
                F.count(F.lit(1)).alias("n_partial"),
                F.sum("r.value").alias("v_partial"),
            )
            .write.mode("append")
            .parquet(outp)
        )

    def drain() -> None:
        _drain(
            spark.readStream.format("kinesis_py")
            .option("endpoint", f"dir:{ep}")
            .load()
            .writeStream.foreachBatch(append_partial)
            .option("checkpointLocation", ckpt)
        )

    sink.write_batch(payload(0).coalesce(2), epoch_id=0)
    drain()  # phase 1
    sink.write_batch(payload(1).coalesce(2), epoch_id=1)
    drain()  # phase 2: same checkpoint, only the new records
    return (
        spark.read.parquet(outp)
        .groupBy("event_type")
        .agg(
            F.sum("n_partial").cast("long").alias("n_events"),
            F.round(F.sum("v_partial"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def p05_pipeline_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end curation-funnel reconciliation — the run report a
    production pipeline publishes after every pass: document counts
    surviving each stage (raw → length filter → exact dedup →
    token-multiset dedup → deterministic half-sample), each stage
    feeding the next.  Every stage is md5/integer-deterministic, so
    the oracle replays the IDENTICAL funnel and the row counts
    hash-match — the cross-stage bookkeeping (not just each operator
    alone) is what this gates.  All stages are one scan + hash-aggs;
    the funnel shape is the d01/d08/t09 operators composed."""
    docs = _t(spark, sf_dir, "documents")
    nonshort = docs.filter(F.length("text") >= 100)
    exact_keep = (
        nonshort.select(
            "doc_id", "text", F.md5("text").alias("sig")
        )
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("sig").orderBy("doc_id")
            ),
        )
        .filter(F.col("rk") == 1)
    )
    msig = F.md5(
        F.concat_ws(
            " ", F.sort_array(F.split(F.lower(F.trim("text")), r"\s+"))
        )
    )
    multiset_keep = (
        exact_keep.select("doc_id", "text", msig.alias("msig"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("msig").orderBy("doc_id")
            ),
        )
        .filter(F.col("rk") == 1)
    )
    sampled = multiset_keep.filter(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 2
        == 0
    )
    stages = [
        ("1_raw", docs),
        ("2_nonshort", nonshort),
        ("3_exact_unique", exact_keep),
        ("4_multiset_unique", multiset_keep),
        ("5_half_sampled", sampled),
    ]
    out = None
    for name, df in stages:
        row = df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("stage")


def w01_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis):
    each document draws a deterministic pseudo-uniform u and is
    ranked by ``ln(u)/w`` (equivalent to max u^(1/w)) with weight =
    n_chars — the "sample proportional to quality/length" primitive
    data-mixing recipes need, as ONE top-k over a scan-local key, no
    RNG state and reproducible across engines, retries, and
    partitionings.  u comes from an integer LCG mix of doc_id
    (exact on both engines); the double division only ORDERS rows,
    so no fp-boundary output risk."""
    docs = _t(spark, sf_dir, "documents")
    u_int = (F.col("doc_id") * 2654435761 + 40503) % 2147483647
    key = F.log(
        (u_int.cast("double") + 1.0) / 2147483648.0
    ) / F.col("n_chars").cast("double")
    ranked = (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", "n_chars", key.alias("_k"))
        .orderBy(F.desc("_k"), "doc_id")
        .limit(50)
    )
    return ranked.select(
        "doc_id",
        "n_chars",
        F.row_number()
        .over(W.orderBy(F.desc("_k"), F.asc("doc_id")))
        .alias("draw_rank"),
    ).orderBy("draw_rank")


def q71_null_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-key skew routing (`operators/skew.py:
    null_routed_left_join`) — the most common real-world skew
    pathology: optional foreign keys put every null row in ONE
    reducer of a left join's shuffle.  Events with a derived
    nullable key (missing props.k ⇒ null, plus k%3==0 nulled to
    make the pathology dense) join customer; null rows bypass the
    shuffle entirely via filter + union and re-enter null-extended.
    Hash-matched against the plain left join, which by SQL
    semantics must agree row-for-row."""
    from kinesis_log_streamer_spark.operators.skew import (
        null_routed_left_join,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(
            F.get_json_object("props", "$.k").cast("long") % 3 != 0,
            (F.get_json_object("props", "$.k").cast("long") % 1000) + 1,
        ).alias("cust_key"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_key"),
        "c_mktsegment",
    )
    joined = null_routed_left_join(ev, cust, "cust_key")
    return (
        joined.groupBy(
            "event_type",
            F.coalesce("c_mktsegment", F.lit("(no-key)")).alias(
                "segment"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("cust_key").alias("n_keys"),
        )
        .orderBy("event_type", "segment")
    )


def q72_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILDING an SCD2 dimension from a change log — the write-side
    twin of q54's read-side point-in-time join: each user's event
    stream becomes validity intervals ``[valid_from, valid_to)`` via
    one ``lead()`` window (the current row closes when the next
    change opens), with the open row carrying a null valid_to and
    ``is_current = 1``.  One shuffle on the user key; this is the
    MERGE pattern dimension tables are maintained with at scale.
    Deduplicated to one change per (user, ts) with a deterministic
    winner first, so the intervals are engine-stable."""
    ev = _t(spark, sf_dir, "events")
    changes = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("change_id"))
    )
    w = W.partitionBy("user_id").orderBy("ts", "change_id")
    return (
        changes.select(
            "user_id",
            "change_id",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.when(F.lead("ts").over(w).isNull(), 1)
            .otherwise(0)
            .alias("is_current"),
        )
        .orderBy("user_id", "valid_from")
    )


def q73_dynamic_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a PER-EVENT dynamic gap (views cool off in
    5 minutes, purchases hold a session open for 30) — the semantics
    ``session_window(ts, gap_expr)`` streams; here as the batch
    gaps-and-islands form: an event starts a new session iff its ts
    exceeds the RUNNING MAX of every prior event's own
    ``ts + gap``.  Cumulative max + island id are two window passes
    over one user-keyed shuffle; the oracle replays the identical
    running-max recurrence."""
    ev = _t(spark, sf_dir, "events")
    gap_s = (
        F.when(F.col("event_type") == "purchase", 1800)
        .when(F.col("event_type") == "signup", 1800)
        .otherwise(300)
    )
    base = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tus"),
        (F.unix_micros("ts") + gap_s * 1_000_000).alias("end_us"),
    )
    w = W.partitionBy("user_id").orderBy("tus", "event_id")
    # running max of prior ends EXCLUDING the current row
    prior_end = F.max("end_us").over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    marked = base.withColumn(
        "new_sess",
        F.when(
            prior_end.isNull() | (F.col("tus") > prior_end), 1
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "sess_id", F.sum("new_sess").over(w)
    )
    return (
        sess.groupBy("user_id", "sess_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        .orderBy("user_id", "sess_id")
    )


def q74_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranking-function surface in one table: ``rank``,
    ``dense_rank``, ``percent_rank``, ``cume_dist`` over orders per
    priority (q11/q30 cover row_number / lead / ntile).  Ties are
    REAL here (o_totalprice rounded to whole dollars) so rank vs
    dense_rank actually diverge; percent_rank/cume_dist are exact
    rationals of ranks and counts, rounded identically on both
    engines."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 37 == 0
    )
    dollar = F.round("o_totalprice", 0)
    w = W.partitionBy("o_orderpriority").orderBy(dollar)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        dollar.alias("dollars"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    ).orderBy("o_orderpriority", "dollars", "o_orderkey")


def q75_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant arithmetic surface: ``try_divide`` (÷0 → null
    instead of ANSI error), ``try_add`` at the bigint ceiling
    (overflow → null), ``try_cast`` on hostile strings — the
    never-crash contract batch pipelines need when expressions meet
    dirty data.  Every null-production rule is pinned by the oracle
    (DuckDB: NULLIF guards + TRY_CAST)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 101 == 0
    )
    qty_minus_two = F.col("l_quantity") - 2  # hits 0 for qty == 2
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            # floor-truncate, not round: the quotient lands on .xx5
            # boundaries where Spark's BigDecimal HALF_UP and DuckDB's
            # multiply-floor disagree; floor of the identical double
            # is identical.
            (
                F.floor(
                    F.try_divide(F.col("l_extendedprice"), qty_minus_two)
                    * 100
                )
                / 100.0
            ).alias("price_per_unit"),
            F.try_add(
                F.lit(9223372036854775807).cast("long"),
                (F.col("l_orderkey") % 2).cast("long"),
            ).alias("edge_add"),
            F.concat(F.lit("x"), F.col("l_returnflag"))
            .try_cast("int")
            .alias("bad_cast"),
            (F.col("l_linenumber") * 10)
            .cast("string")
            .try_cast("int")
            .alias("good_cast"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def q76_multi_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates over DIFFERENT columns in one
    GROUP BY — the shape Catalyst compiles to an Expand (one input
    row fans to one row per distinct-column group) + two-phase agg;
    naive engines re-scan per distinct column.  Mixed with plain
    aggregates to pin the null-handling interplay."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.countDistinct("l_linestatus").alias("n_statuses"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 1).alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


def s13_truncated_dim_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: do the FIRST 16 of 64
    embedding dims preserve the similarity ORDERING?  Over a FIXED-k
    cohort (200 smallest vec_ids → 19 900 pairs at any corpus scale),
    ranks pairs by full-dim and by truncated cosine and reports
    Spearman's footrule ingredients — n_pairs and Σd² are
    INTEGER-exact (ranks from bit-identical sequential-fold cosines
    with a total-order tiebreak), so the oracle hash-matches them;
    the ``rho_ok`` gate pins ρ = 1 − 6Σd²/(n(n²−1)) ≥ 0.4.
    This is the acceptance test for serving truncated embeddings at
    a quarter of the storage/compute."""
    emb = _t(spark, sf_dir, "embeddings").orderBy("vec_id").limit(200)

    def cos(a, b, dims):
        va = F.slice(F.col(a).cast("array<double>"), 1, dims)
        vb = F.slice(F.col(b).cast("array<double>"), 1, dims)
        dot = F.aggregate(
            F.zip_with(va, vb, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        na = F.aggregate(
            F.transform(va, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        nb = F.aggregate(
            F.transform(vb, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return dot / F.sqrt(na * nb)

    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cos("ea", "eb", 64).alias("c_full"),
            cos("ea", "eb", 16).alias("c_trunc"),
        )
    )
    wf = W.orderBy(F.desc("c_full"), "id_a", "id_b")
    wt = W.orderBy(F.desc("c_trunc"), "id_a", "id_b")
    ranked = pairs.select(
        F.row_number().over(wf).alias("r_full"),
        F.row_number().over(wt).alias("r_trunc"),
    )
    # long BEFORE the square: int32 ranks at ~80k pairs overflow
    diff = (F.col("r_full") - F.col("r_trunc")).cast("long")
    d2 = F.sum(diff * diff)
    n = F.count(F.lit(1))
    return ranked.agg(
        n.alias("n_pairs"),
        d2.alias("sum_d2"),
        (
            1.0
            - 6.0 * d2 / (n * (n * n - 1)).cast("double")
            >= 0.4
        )
        .cast("int")
        .alias("rho_ok"),
    )


def f17_failfast_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAILFAST (strict) JSON mode — the reference's abort-on-parse-
    error semantics (jsonstreamer.go:44–45) as a read mode, the
    counterpart of f10's PERMISSIVE quarantine: on CLEAN input the
    strict read must be lossless (hash-matched here); on corrupt
    input it must raise, not quarantine (pinned by
    tests/test_round3_ext.py, a query can't return an error)."""
    sup = _t(spark, sf_dir, "supplier")
    path = _scratch(spark, "f17")
    (
        sup.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite")
        .json(path)
    )
    back = (
        spark.read.option("mode", "FAILFAST")
        .schema(
            "s_suppkey bigint, s_name string, s_nationkey int, "
            "s_acctbal double"
        )
        .json(path)
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("s_nationkey")
    )


def g03_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BFS (`operators/graph.py:bfs_levels`) from node 0
    over the q56/g02 interaction graph: per-node shortest unweighted
    distance via level-synchronous min-relaxation (one join + one
    hash-agg per round, convergence check riding the aggregate).
    Oracle: DuckDB recursive CTE exploring paths with a depth guard,
    min distance per node — the declarative twin of the loop."""
    from kinesis_log_streamer_spark.operators.graph import bfs_levels

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 100).alias("src"),
        (F.get_json_object("props", "$.k").cast("long") % 100).alias(
            "dst"
        ),
    )
    edges = ev.na.drop().filter(F.col("src") != F.col("dst"))
    return bfs_levels(edges, source=0).orderBy("node")


def g05_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph PROFILING over the q56/g02 interaction graph: undirected
    degree per node rolled into a degree histogram plus per-bucket
    min/max node ids — the structure audit (hubs? isolates? skew?)
    run before committing to an iterative algorithm, and the
    degree-skew signal that decides salting for g01-style joins.
    Shape: distinct-edge dedup, one explode to endpoint rows, two
    hash aggregates — no iteration, no windows over the full node
    set."""
    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 100).alias("src"),
        (F.get_json_object("props", "$.k").cast("long") % 100).alias("dst"),
    )
    edges = (
        ev.na.drop()
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    endpoints = edges.select(F.explode(F.array("a", "b")).alias("node"))
    degrees = endpoints.groupBy("node").agg(
        F.count(F.lit(1)).alias("degree")
    )
    return (
        degrees.groupBy("degree")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("degree")
    )


def w02_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-LM recipe:
    sample probability ∝ count^α, α = 0.5, flattening head sources
    and boosting the tail): per-source quotas are ⌊400·w_s⌋ with
    w_s = s_c / Σs_c where s_c = ⌊1000·√c_s⌋, then each source
    contributes its top-quota docs by md5 rank (t18's deterministic
    selection).  The fixed-point weight is the determinism fix for a
    bug the sf0.1 sweep caught in r04: with w_s = √c / Σ√c the
    denominator is a FLOAT SUM whose value depends on association
    order — a quota landing on an integer knife-edge then flips
    between two evaluations of the same CTE (DuckDB reported
    quota=20 with n_sampled=19) and between engines.  ⌊1000·√c⌋ is a
    per-scalar correctly-rounded op (identical everywhere), its sum
    is exact integer (associative), and the final quota is integer
    division — zero order-dependent arithmetic anywhere.  Output is
    the per-source quota table plus realized counts — the mixing
    audit a training-data build publishes."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    scaled = counts.select(
        "source",
        "c",
        F.floor(F.sqrt(F.col("c").cast("double")) * 1000.0)
        .cast("long")
        .alias("s"),
    )
    tot = scaled.agg(F.sum("s").alias("sw"))
    quotas = scaled.crossJoin(F.broadcast(tot)).select(
        "source",
        "c",
        F.expr("CAST((400 * s) DIV sw AS INT)").alias("quota"),
    )
    ranked = docs.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            W.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rk"),
    )
    picked = ranked.join(F.broadcast(quotas), "source").filter(
        F.col("rk") <= F.col("quota")
    )
    return (
        picked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
        )
        .join(quotas, "source")
        .select("source", "c", "quota", "n_sampled", "first_doc")
        .orderBy("source")
    )


def q77_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations — ``INTERSECT ALL`` keeps
    MULTIPLICITY min(l, r) per row (q15/q33 cover the distinct and
    EXCEPT ALL forms): order-priority/status tuples of the first and
    second order-key halves intersected with duplicates preserved,
    then rolled up so the multiplicities themselves are
    hash-checked."""
    orders = _t(spark, sf_dir, "orders")
    lo = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderpriority", "o_orderstatus"
    )
    hi = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderpriority", "o_orderstatus"
    )
    both = lo.intersectAll(hi)
    return (
        both.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .orderBy("o_orderpriority", "o_orderstatus")
    )


def u08_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (``analyze``-time schema,
    `functions/udfs.py:split_fields_udtf`): customer names split on
    '#' into a column count chosen AT THE CALL SITE — the output
    schema exists only after Catalyst calls the UDTF's ``analyze``
    with the constant args.  The eighth and final Python extension
    shape.  Oracle: fixed-position string_split."""
    from kinesis_log_streamer_spark.functions.udfs import (
        split_fields_udtf,
    )

    spark.udtf.register("klss_split_fields", split_fields_udtf())
    _t(spark, sf_dir, "customer").createOrReplaceTempView(
        "u08_customer"
    )
    return spark.sql(
        """
        SELECT c.c_custkey, t.f0 AS name_prefix, t.f1 AS name_digits
        FROM u08_customer c,
             LATERAL klss_split_fields(c.c_name, 2, '#') t
        WHERE c.c_custkey % 41 = 0
        ORDER BY c.c_custkey
        """
    )


def q78_json_tuple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``json_tuple`` generator — the Hive-style multi-path JSON
    extractor (one parse, N columns, a LATERAL VIEW generator rather
    than a scalar function like q20's ``get_json_object``): events
    props exploded to (k) plus a second constant-missing path that
    must yield null."""
    ev = _t(spark, sf_dir, "events")
    out = ev.select(
        "event_id",
        "event_type",
        F.json_tuple("props", "k", "missing").alias("k", "missing"),
    )
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("k").cast("long")).alias("sum_k"),
            F.count("missing").alias("n_missing_nonnull"),
        )
        .orderBy("event_type")
    )


def f18_path_glob_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-lake directory hygiene: a nested tree holding parquet
    shards AND decoy sidecar files (_SUCCESS markers, .txt notes),
    read with ``recursiveFileLookup`` + ``pathGlobFilter`` so only
    the parquet leaves load regardless of depth.  The oracle
    aggregates the original table — any decoy leaking into the scan
    or any missed nested shard breaks the hash."""
    sup = _t(spark, sf_dir, "supplier")
    base = _scratch(spark, "f18")
    for i, sub in enumerate(("a", "a/deep", "b")):
        d = os.path.join(base, sub)
        os.makedirs(d, exist_ok=True)
        _write_single_parquet(
            sup.filter(F.col("s_suppkey") % 3 == i),
            os.path.join(d, f"part_{i}.parquet"),
        )
        with open(os.path.join(d, "notes.txt"), "w") as fh:
            fh.write("decoy sidecar\n")
        open(os.path.join(d, "_SUCCESS"), "w").close()
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(base)
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("s_nationkey")
    )


def q79_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collation (Spark 4 ``COLLATE UTF8_LCASE``): grouping
    treats case variants as one key WITHOUT materializing a
    lowercase copy — collation rides the type, so comparisons,
    GROUP BY, and joins all honor it engine-side.  Deterministically
    case-mangled event types (every third event upper-cased) must
    collapse back to the base key counts; the output key is
    canonicalized to lower for the hash (DuckDB emulates the
    collation with lower())."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(
            F.col("event_id") % 3 == 0, F.upper("event_type")
        )
        .otherwise(F.col("event_type"))
        .alias("etype"),
    )
    ev.createOrReplaceTempView("q79_events")
    return spark.sql(
        """
        SELECT lower(etype COLLATE UTF8_LCASE) AS event_type,
               count(*) AS n_events,
               count(DISTINCT etype) AS n_variants_seen
        FROM q79_events
        GROUP BY etype COLLATE UTF8_LCASE
        ORDER BY event_type
        """
    )


def q80_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL binding (``spark.sql(query, args=...)``) —
    the injection-safe templating surface: thresholds and limits
    arrive as BOUND PARAMETERS, not string-spliced literals, so the
    same plan text is cacheable across invocations.  The oracle
    splices the identical constants."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q80_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM q80_orders
        WHERE o_totalprice > :min_price AND o_orderkey % :modulus = 0
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"min_price": 50000.0, "modulus": 7},
    )


def q81_sql_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard ``PIVOT``/``UNPIVOT`` clauses (q26/q37 use
    the DataFrame API — these are separate parser surfaces): event
    counts pivoted wide by type, then UNPIVOTed straight back, which
    must reproduce the original per-(user, type) counts exactly —
    a round trip that fails if either clause drops, reorders, or
    null-fills incorrectly.  UNPIVOT excludes NULL cells by SQL
    default, so absent (user, type) combinations stay absent,
    matching the plain GROUP BY oracle."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("q81_events")
    return spark.sql(
        """
        SELECT user_id, event_type, n_events
        FROM (
            SELECT * FROM (
                SELECT user_id, event_type FROM q81_events
            )
            PIVOT (count(*) AS cnt
                   FOR event_type IN ('click', 'error', 'purchase',
                                      'signup', 'view'))
        )
        UNPIVOT (n_events FOR event_type IN (click, error, purchase,
                                             signup, view))
        ORDER BY user_id, event_type
        """
    )


def q82_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LIMIT … OFFSET`` pagination (Spark 4 SQL) — page 3 of the
    order book under a TOTAL order (unique key tiebreak, or pages
    shuffle between runs).  At scale OFFSET is a full sort of the
    prefix — fine for report pages, wrong for crawls (keyset
    pagination is the scale path); the docstring IS the guidance,
    the query pins the semantics."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q82_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price
        FROM q82_orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20 OFFSET 40
        """
    )


def q83_native_dynamic_session(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark's NATIVE dynamic-gap ``session_window(ts, gap_expr)``
    (q73 hand-builds the same semantics as a running-max recurrence):
    per-event gaps — purchases/signups hold sessions open 30 min,
    everything else 5 — merged engine-side.  The oracle replays the
    recurrence and aggregates each island to (start, end, count), so
    this is a cross-IMPLEMENTATION gate: Spark's built-in operator
    must agree with the declarative replay down to the hash.
    session_end is the max of the merged intervals' own ends (the
    window close), not the last event time."""
    ev = _t(spark, sf_dir, "events")
    gap = (
        F.when(
            F.col("event_type").isin("purchase", "signup"), "30 minutes"
        )
        .otherwise("5 minutes")
    )
    return (
        ev.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


def t21_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULLY hash-gated language-ID confusion matrix — upgrading the
    evidence class of t03 (rows-only since r01): the per-language
    stopword scores are integer-exact 4-decimal rationals and the
    argmax tiebreak is total (max (score, lang) struct), so DuckDB
    replays the ENTIRE prediction — per-doc scores, struct argmax
    via ``list_max``, confusion rollup — and the hash must match.
    t03 stays registered untouched (its r01 verdict is history);
    this is the same computation under the stronger gate."""
    docs = _t(spark, sf_dir, "documents")
    return (
        TX.langid(docs)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


def q84_approx_distinct_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Accuracy gate for ``approx_count_distinct`` (HyperLogLog++,
    the API q28 reports rows-only) — completing the rule that every
    approximate operator in the registry carries an oracle-checked
    accuracy assertion (q61: percentile sketch; q64: Datasketches
    HLL; s03/s05/s08: ANN; t17: MinHash).  rsd is pinned at 0.02 and
    the gate sits at 3σ = 6 % of the exact count."""
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_buyers"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("est"),
    )
    return per.select(
        "o_orderpriority",
        "exact_buyers",
        (
            F.abs(F.col("est") - F.col("exact_buyers"))
            <= 0.06 * F.col("exact_buyers")
        )
        .cast("int")
        .alias("est_ok"),
    ).orderBy("o_orderpriority")


def t22_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplication pressure: what fraction of a doc's
    DISTINCT 3-grams also appear in at least one OTHER document —
    the novelty/memorization signal curation uses to find boilerplate
    clusters exact dedup misses (d07 measures pairwise containment;
    this is the corpus-wide marginal).

    SKEW-SAFE DF (r15, guide §2.2/§2.3/§2.5 — VERDICT r14 #2/#4):
    the r14 form computed df as ``count() OVER (PARTITION BY g)``
    directly on the exploded (doc, gram) rows — WindowExec buffers
    each gram partition in ONE task, so a boilerplate gram shared by
    a large corpus fraction becomes one giant buffered partition at
    100 TB, and the full gram volume crossed the exchange
    un-aggregated.  This form never partitions raw rows by gram at
    all.  Identity: rows are distinct per (doc, gram), so
    ``n_shared(doc) = n_grams(doc) − #{g ∈ doc : df(g) = 1}``, and a
    df = 1 gram has exactly one holder — recoverable as ``min(doc)``
    in the SAME aggregate that counts df.  Both legs partial-aggregate
    map-side before their exchange (a hot gram collapses to one row
    per map task — no skew anywhere, guide §2.5 two-level pattern),
    so the shuffles carry per-doc / per-gram PARTIALS, never raw gram
    rows.  The final join is per-doc aggregates ⋈ per-doc unique
    counts on doc_id — merge-hinted, because the planner's broadcast
    choice for the (≤|docs|-row) unique-count side is unbounded at
    100 TB.  The gram build runs once per leg (2×) — scan CPU
    parallelizes linearly; the removed full-volume gram shuffle and
    window buffer do not.  Output identical; pinned against the r14
    window form in tests/test_r15_opt.py.  History: 9.9 s → 3.9 s
    (zip-gram rewrite) → 1.4 s (window shape) → ~1.6-2.5 s this form
    locally, skew-bound removed.  Ratio as integer per-mille
    (half-up), the house fp-proof rounding."""
    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                TX.ngrams_col(F.col("text"), 3)
            )
        ).alias("g"),
    )
    per_doc_n = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    uniq = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("dfc"), F.min("doc_id").alias("holder"))
        .filter(F.col("dfc") == 1)
        .groupBy(F.col("holder").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_uniq"))
    )
    per_doc = per_doc_n.join(uniq.hint("merge"), "doc_id", "left").select(
        "doc_id",
        "n_grams",
        (F.col("n_grams") - F.coalesce(F.col("n_uniq"), F.lit(0))).alias(
            "n_shared"
        ),
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_shared",
        F.expr(
            "(2*1000*n_shared + n_grams) div (2*n_grams)"
        ).alias("shared_permille"),
    ).orderBy("doc_id")


def q85_map_hof_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions (q34 covers construction/access):
    per-user event-type count maps built with ``map_from_arrays``,
    doubled via ``transform_values``, thresholded via ``map_filter``,
    then exploded back to atomic rows for the hash (collections
    never cross the oracle boundary).  The oracle produces the same
    semantic result relationally — the point is the Spark side
    exercising the map algebra, not the oracle mirroring it
    operator-for-operator."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    maps = counts.groupBy("user_id").agg(
        F.map_from_arrays(
            F.collect_list("event_type"), F.collect_list("n")
        ).alias("m")
    )
    transformed = maps.select(
        "user_id",
        F.map_filter(
            F.transform_values(F.col("m"), lambda k, v: v * 2),
            lambda k, v: v >= 30,
        ).alias("m2"),
    )
    return (
        transformed.select(
            "user_id", F.explode("m2").alias("event_type", "doubled")
        )
        .orderBy("user_id", "event_type")
    )


def q86_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the algebraic rollforward
    every daily pipeline relies on: yesterday's MATERIALIZED partial
    aggregate (count/sum/min/max per key) merged with today's delta
    batch by re-aggregating the PARTIALS, never rescanning the base
    rows.  Legal exactly because these aggregates are commutative
    monoids (avg is derived post-merge as sum/count — storing avg
    itself would be the classic incremental-pipeline bug).  The
    oracle recomputes from the full table, so the merge must be
    value-identical to a cold rebuild."""
    orders = _t(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    base = partial(orders.filter(F.col("o_orderkey") % 5 != 0))
    delta = partial(orders.filter(F.col("o_orderkey") % 5 == 0))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").alias("_s"),
            F.min("mn").alias("min_price"),
            F.max("mx").alias("max_price"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.round("_s", 2).alias("total"),
        F.round(F.col("_s") / F.col("n_orders"), 2).alias("avg_price"),
        F.round("min_price", 2).alias("min_price"),
        F.round("max_price", 2).alias("max_price"),
    ).orderBy("o_orderpriority")


def l12_alert_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alerting with HYSTERESIS over the hourly error rate — the
    state machine monitoring systems actually run (l03 computes the
    rate; this turns it into pages): RAISE after ≥2 consecutive
    hours at-or-above 21 %, CLEAR after ≥2 consecutive below, and
    repeated candidates while already raised/cleared do not re-fire.
    Flapping-proof by construction.  Entirely window functions over
    one hourly rollup; the threshold compares in INTEGER cross
    multiplication (errors·100 ≥ total·21), no fp anywhere.  The
    oracle replays the identical candidate/dedup logic."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias(
                "errors"
            ),
        )
    )
    w = W.orderBy("hour_ts")
    above = (F.col("errors") * 100 >= F.col("total") * 21).cast("int")
    marked = hourly.withColumn("above", above).withColumn(
        "prev_above", F.lag("above").over(w)
    )
    cand = marked.withColumn(
        "action",
        F.when(
            (F.col("above") == 1) & (F.col("prev_above") == 1), "raise"
        ).when(
            (F.col("above") == 0) & (F.col("prev_above") == 0), "clear"
        ),
    ).filter(F.col("action").isNotNull())
    # fire only when the candidate CHANGES the current state; initial
    # state is cleared, so leading clear candidates are dropped.
    fired = cand.withColumn(
        "prev_action", F.lag("action").over(W.orderBy("hour_ts"))
    ).filter(
        (
            F.col("prev_action").isNull()
            & (F.col("action") == "raise")
        )
        | (
            F.col("prev_action").isNotNull()
            & (F.col("action") != F.col("prev_action"))
        )
    )
    return fired.select(
        "hour_ts", "action", "total", "errors"
    ).orderBy("hour_ts")


def f19_parquet_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec matrix (zstd / snappy / lz4 — the
    three a 100 TB lake actually chooses between; f14 covered
    gzip TEXT): the same supplier slice written under each codec,
    read back, and aggregated per codec — identical rows under every
    codec proves the lake can mix codecs file-by-file (each parquet
    footer self-describes), which is how fleets migrate codecs
    in place.  Output: one row per codec, all value columns equal."""
    sup = _t(spark, sf_dir, "supplier")
    base = _scratch(spark, "f19")
    rows = []
    for codec in ("lz4", "snappy", "zstd"):
        path = os.path.join(base, codec)
        (
            sup.write.mode("overwrite")
            .option("compression", codec)
            .parquet(path)
        )
        back = spark.read.parquet(path)
        rows.append(
            back.agg(
                F.lit(codec).alias("codec"),
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
                F.countDistinct("s_nationkey").alias("n_nations"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("codec")


def q87_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` (the DuckDB-originated
    sugar Spark 4 adopted): every non-aggregate select item becomes
    a grouping key implicitly — the ergonomic surface ad-hoc
    analytics lives in, worth pinning because resolution happens in
    the analyzer, not the parser."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q87_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM q87_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


def q88_filter_through_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Predicate pushdown THROUGH a window function: a filter on the
    window's PARTITION key commutes with the window (each partition
    is computed independently), so Catalyst pushes it below the
    sort/shuffle and into the parquet scan — the difference between
    ranking one priority class and ranking the whole table then
    discarding 4/5 of it.  The code asserts PushedFilters carries
    the predicate; values hash-match the oracle that filters first
    by construction."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    out = (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("price"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .filter(F.col("rn") <= 100)
        .orderBy("rn")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "1-URGENT" not in plan.split("Exchange")[-1]:
        raise RuntimeError(
            "expected the priority predicate pushed below the window "
            "exchange into the scan"
        )
    return out


def st12_file_sink_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NATIVE streaming file sink's transaction log
    (``_spark_metadata``) — exactly-once file output WITHOUT
    foreachBatch (st08's hand-rolled path): the stream writes
    parquet through the sink's commit log; a batch read of the
    output directory consults that log and must see exactly the
    input rows — partial/uncommitted files are invisible by
    construction.  This is the mechanism production streaming lakes
    rely on before table formats."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = _scratch(spark, "st12")
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    ev = _t(spark, sf_dir, "events")
    for i in range(2):
        _write_single_parquet(
            ev.filter(F.col("event_id") % 2 == i),
            os.path.join(src, f"p{i}.parquet"),
        )
    _drain(
        spark.readStream.schema(_EVENTS_TS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
    )
    assert os.path.isdir(os.path.join(out, "_spark_metadata"))
    back = spark.read.parquet(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct"),
        )
        .orderBy("event_type")
    )


def d10_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape every CONTINUOUS ingest pipeline
    needs (d01 dedupes a full corpus; re-running it daily re-shuffles
    100 TB): the BASE corpus keeps only a signature index (16-byte
    md5, not text), and each DELTA batch dedupes internally then
    anti-joins that index — new-vs-base duplicates die without
    touching base text.  Planted twins (every base doc_id % 31 == 0
    re-appears in the delta under doc_id + 200 000) must all be
    dropped; genuinely new docs survive."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    fresh = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "text"
    )
    replays = base.filter(F.col("doc_id") % 31 == 0).select(
        (F.col("doc_id") + 200_000).alias("doc_id"), "text"
    )
    delta = fresh.unionByName(replays)
    base_index = base.select(F.md5("text").alias("sig")).distinct()
    delta_signed = delta.select(
        "doc_id", F.md5("text").alias("sig")
    )
    delta_deduped = (
        delta_signed.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("sig").orderBy("doc_id")
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    kept = delta_deduped.join(base_index, "sig", "left_anti")
    return kept.select("doc_id").orderBy("doc_id")


def t23_chunk_with_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking — the retrieval-side twin
    of t10's training-sequence packing (RAG pipelines embed CHUNKS,
    not documents, and adjacent chunks overlap so no answer spans a
    boundary): token windows of 64 with stride 48, the final partial
    window kept iff it adds tokens.  Pure sequence/slice arithmetic
    inside the scan (chunk count = 1 + ceil((n-64)/48) for n > 64),
    one explode; identity columns (first/last token, exact lengths)
    pin lossless coverage.  Short docs yield exactly one chunk."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens_col(F.col("text"))
    n = F.size(toks)
    window, stride = 64, 48
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        1 + F.ceil((n - window) / float(stride)).cast("int")
    )
    chunked = (
        docs.select(
            "doc_id",
            toks.alias("_toks"),
            n.alias("_n"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias(
                "chunk_id"
            ),
        )
        .withColumn("_start0", F.col("chunk_id") * stride)
        .withColumn(
            "_len",
            F.least(F.lit(window), F.col("_n") - F.col("_start0")),
        )
        .withColumn(
            "_chunk",
            F.slice(F.col("_toks"), F.col("_start0") + 1, F.col("_len")),
        )
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size("_chunk").alias("n_tokens"),
        F.element_at("_chunk", 1).alias("first_token"),
        F.element_at("_chunk", -1).alias("last_token"),
    ).orderBy("doc_id", "chunk_id")


def t24_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation DECISION layer: three independent quality signals
    (t01 composite score, t16 unigram entropy, t20 LM surprisal)
    joined per document and folded into one keep/drop verdict with a
    FIRST-FAILING-RULE reason — the policy table a production filter
    publishes so drops are attributable.  Composition, not
    recomputation: the t01/t16/t20 query bodies are reused verbatim
    (three scans today; one multi-output pass in a tuned pipeline),
    and the oracle assembles the same three already-verified oracle
    SQLs as CTEs — so this gates the JOIN/decision logic on top of
    signals whose cross-engine equality is independently proven.
    Thresholds (0.45 / 4.0 / 4.92) pinned from the corpus deciles so
    every reason class is non-empty."""
    q = t01_text_quality(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    e = t16_unigram_entropy(spark, sf_dir).select("doc_id", "entropy")
    s = t20_unigram_lm_score(spark, sf_dir).select(
        "doc_id", "mean_surprisal"
    )
    joined = q.join(e, "doc_id").join(s, "doc_id")
    reason = (
        F.when(F.col("quality_score") < 0.45, "low_quality")
        .when(F.col("entropy") < 4.0, "low_entropy")
        .when(F.col("mean_surprisal") > 4.92, "high_surprisal")
        .otherwise("kept")
    )
    return (
        joined.select(reason.alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("reason")
    )


def f20_wholetext_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``wholetext`` reading mode — one row per FILE, the shape
    document-per-file corpora arrive in (the text source's default
    one-row-per-line is wrong for them): five documents written as
    individual .txt files, read back whole, and length-accounted.
    Newlines inside a document must survive (they would become row
    splits under the default mode)."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 100 == 0
    )
    base = _scratch(spark, "f20")
    for r in docs.select("doc_id", "text").collect():  # bounded: n/100
        with open(
            os.path.join(base, f"doc_{r['doc_id']:06d}.txt", ),
            "w",
        ) as fh:
            fh.write(r["text"] + "\nTRAILER LINE")
    back = spark.read.text(base, wholetext=True)
    return back.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.length("value")).alias("total_chars"),
        F.count(
            F.when(F.col("value").endswith("TRAILER LINE"), 1)
        ).alias("n_with_trailer"),
    )


def m05_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level dedup across media payloads — m03's frame sampling
    composed with d01's hash-groupBy: identical sampled frames
    (byte at the sampled offset of the payload, the deterministic
    stand-in for a real frame digest) collapse across ALL payloads,
    yielding the cross-video duplicate-frame histogram a dedup pass
    over video corpora produces."""
    docs = _t(spark, sf_dir, "documents")
    frames = M.frame_sample(M.attach_binary_payload(docs), every_n_bytes=64)
    return (
        frames.groupBy("frame_token")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_frames") >= 2)
        .orderBy("frame_token")
    )


def q89_cbo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer statistics: ``ANALYZE TABLE`` computes
    row/size stats into the catalog, and with CBO enabled the
    planner uses them (instead of raw file size) to pick the
    broadcast side of a join — the mechanism that keeps 100 TB
    plans sane when file size is a bad cardinality proxy (heavy
    compression, wide-but-filtered dims).  The code asserts the
    analyzed stats are visible to the planner via the catalog's
    statistics API and that the join broadcasts; values hash-match
    the plain join oracle."""
    import os
    import shutil
    from urllib.parse import urlparse

    nation = _t(spark, sf_dir, "nation")
    sup = _t(spark, sf_dir, "supplier")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql("DROP TABLE IF EXISTS klss_q89_nation")
    shutil.rmtree(
        os.path.join(warehouse, "klss_q89_nation"), ignore_errors=True
    )
    nation.write.saveAsTable("klss_q89_nation")
    spark.sql("ANALYZE TABLE klss_q89_nation COMPUTE STATISTICS")
    stats = spark.sql(
        "DESCRIBE EXTENDED klss_q89_nation"
    ).filter(F.col("col_name") == "Statistics")
    if stats.count() != 1:
        raise RuntimeError("ANALYZE produced no catalog statistics")
    with _conf(spark, {"spark.sql.cbo.enabled": "true"}):
        out = (
            sup.join(
                spark.table("klss_q89_nation"),
                sup.s_nationkey == F.col("n_nationkey"),
            )
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n_suppliers"),
                F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
            )
            .orderBy("n_name")
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        if "BroadcastHashJoin" not in plan:
            raise RuntimeError(
                "expected the analyzed dim broadcast under CBO"
            )
        return out


def l13_errorlog_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SECOND canonical deployment — the Apache
    ErrorLog pipe (httpd.conf:182; main.go:48-50): error-format lines
    ``[ts] [level] [pid N] message`` built deterministically from
    error events, piped through the reference transform chain
    (T2 wrap under LogEntry + T4 LogFile=ErrorLog enrichment —
    `operators/transforms.py:wrap_line_as_json`), then ANALYZED back
    out: parse the wrapped JSON, regex the severity and pid, and
    roll up — the l-series treatment for the error-log data model
    (l01–l06 cover the access log)."""
    from kinesis_log_streamer_spark.operators.transforms import (
        wrap_line_as_json,
    )

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    )
    lvl = (
        F.when(F.col("event_id") % 3 == 0, "error")
        .when(F.col("event_id") % 3 == 1, "warn")
        .otherwise("notice")
    )
    lines = ev.select(
        F.concat(
            F.lit("["),
            F.date_format("ts", "EEE MMM dd HH:mm:ss yyyy"),
            F.lit("] ["),
            lvl,
            F.lit("] [pid "),
            F.col("user_id").cast("string"),
            F.lit("] event "),
            F.col("event_id").cast("string"),
            F.lit(" failed"),
        ).alias("value")
    )
    wrapped = wrap_line_as_json(
        lines, output_key="LogEntry", entries={"LogFile": "ErrorLog"}
    )
    parsed = wrapped.select(
        F.get_json_object("data", "$.LogEntry").alias("line"),
        F.get_json_object("data", "$.LogFile").alias("logfile"),
    )
    return (
        parsed.select(
            "logfile",
            F.regexp_extract("line", r"\] \[(\w+)\] \[pid", 1).alias(
                "level"
            ),
            F.regexp_extract("line", r"\[pid (\d+)\]", 1)
            .cast("long")
            .alias("pid"),
        )
        .groupBy("logfile", "level")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("pid").alias("n_pids"),
        )
        .orderBy("logfile", "level")
    )


def q90_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    statistic anomaly detection prefers over stddev (l09's z-scores
    break on heavy tails; MAD does not): two exact-median passes,
    the per-group median joined back for the deviation pass.  Both
    medians are exact interpolating percentiles (q50 proved the
    cross-engine equivalence)."""
    orders = _t(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    dev = orders.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("adev"),
        "med",
    )
    return (
        dev.groupBy("o_orderpriority")
        .agg(
            F.round(F.first("med"), 2).alias("median_price"),
            F.round(F.expr("percentile(adev, 0.5)"), 2).alias("mad"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def s14_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN label accuracy — the standard intrinsic
    embedding-quality eval (do nearest neighbors share labels?):
    over a bounded subset, each vector's nearest OTHER vector by
    exact cosine votes its label; accuracy is reported in integer
    per-mille.  Ranks come from the s13 sequential-fold cosine that
    DuckDB replays bit-identically, with a total-order tiebreak, so
    the n/correct/accuracy row hash-matches — an EVAL op, the
    piece that turns the s-family from search into measurement.

    Scale: fixed-k cohort (200 smallest vec_ids) → ≤39 800 ordered
    pairs at ANY corpus size; a modulus cohort's pair count would
    grow quadratically with the table."""
    emb = _t(spark, sf_dir, "embeddings").orderBy("vec_id").limit(200)

    def fold(col):
        return F.aggregate(
            col, F.lit(0.0), lambda acc, x: acc + x
        )

    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").cast("array<double>").alias("va"),
        F.col("label").alias("label_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").cast("array<double>").alias("vb"),
        F.col("label").alias("label_b"),
    )
    pairs = a.crossJoin(b).filter(F.col("id_a") != F.col("id_b"))
    cos = fold(
        F.zip_with("va", "vb", lambda x, y: x * y)
    ) / F.sqrt(
        fold(F.transform("va", lambda x: x * x))
        * fold(F.transform("vb", lambda x: x * x))
    )
    ranked = pairs.select(
        "id_a",
        "label_a",
        "label_b",
        F.row_number()
        .over(
            W.partitionBy("id_a").orderBy(F.desc(cos), F.asc("id_b"))
        )
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count(F.when(F.col("label_a") == F.col("label_b"), 1)).alias(
            "correct"
        ),
        F.expr(
            "(2*1000*count(CASE WHEN label_a = label_b THEN 1 END)"
            " + count(*)) div (2*count(*))"
        ).alias("acc_permille"),
    )


def q91_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy ROLLUP (year → month → day) with
    ``grouping_id`` — the calendar drill-down q13's dimension rollup
    doesn't cover, and the aggregate a date-partitioned 100 TB lake
    answers from partition metadata alone at the coarser levels.
    grouping_id disambiguates NULL-as-subtotal from NULL data on
    both engines."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            F.dayofmonth("ts").alias("d"),
            "value",
        )
        .rollup("y", "m", "d")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
        .orderBy("gid", "y", "m", "d")
    )


def q92_lag_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lag``/``lead`` with explicit OFFSETS and DEFAULT values —
    the frame-edge semantics q30's plain forms leave unpinned: a
    2-step lag with a sentinel default, and a lead default that must
    appear exactly on each partition's final rows (not as null)."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 53 == 0
    )
    w = W.partitionBy("o_orderpriority").orderBy("o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.lag("o_orderkey", 2, -1).over(w).alias("lag2_key"),
        F.lead("o_orderstatus", 1, "(end)").over(w).alias(
            "next_status"
        ),
    ).orderBy("o_orderpriority", "o_orderkey")


def q92b_comparator_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``array_sort`` with a CUSTOM COMPARATOR lambda (length-then-
    lexicographic) — the HOF shape plain ascending sort can't
    express.  DuckDB lacks comparator lambdas, so the oracle gets
    the same order via the decorate-sort-undecorate struct trick —
    proving the comparator semantics, not just the API."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    )
    toks = F.array_distinct(TX.tokens_col(F.col("text")))
    cmp_sorted = F.array_sort(
        toks,
        lambda l, r: F.when(F.length(l) < F.length(r), -1)
        .when(F.length(l) > F.length(r), 1)
        .otherwise(
            F.when(l < r, -1).when(l > r, 1).otherwise(0)
        ),
    )
    return docs.select(
        "doc_id",
        F.size(cmp_sorted).alias("n_tokens"),
        F.element_at(cmp_sorted, 1).alias("shortest_first"),
        F.element_at(cmp_sorted, -1).alias("longest_last"),
    ).orderBy("doc_id")


def q93_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregate surface: ``count_if``,
    ``bool_and``/``every``, ``bool_or``/``any`` — the predicates-as-
    aggregates family DQ rules compile to (p02 uses explicit counts;
    these are the idiomatic forms)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_discount") > 0.05).alias(
                "n_discounted"
            ),
            F.bool_and(F.col("l_quantity") > 0).alias("all_qty_pos"),
            F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def d11_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level DUPLICATE-SPAN statistics over hashed rolling token
    windows (size 8, stride 4) — the substring-duplication measure
    behind "Deduplicating Training Data Makes Language Models Better"
    (Lee et al. 2022), distinct from doc-level MinHash (d02) and
    containment (d07): it finds REPEATED PASSAGES, not similar docs.

    Scale: corpus-wide span occurrence counts come from ONE window
    count over a span-partitioned shuffle (at 100 TB: partition by a
    128-bit hash of the span text, never the text) — cheaper than the
    agg-then-join-back form by a full exchange — then one per-doc
    hash-agg.  Never a doc×doc comparison; shuffle volume is O(total
    windows).  dup_pct uses the repo's integer half-up rule so both
    engines round identically."""
    W_SZ, STRIDE = 8, 4
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= W_SZ
    )
    wins = base.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1), F.size("toks") - (W_SZ - 1), F.lit(STRIDE)
            )
        ).alias("s"),
        "toks",
    ).select(
        "doc_id",
        F.concat_ws(" ", F.slice("toks", F.col("s"), W_SZ)).alias("span"),
    )
    with_occ = wins.withColumn(
        "nocc", F.count(F.lit(1)).over(W.partitionBy("span"))
    )
    return (
        with_occ
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count_if(F.col("nocc") >= 2).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.expr(
                "(200 * n_dup_windows + n_windows) div (2 * n_windows)"
            ).alias("dup_pct"),
        )
        .orderBy("doc_id")
    )


def q94_lateral_view_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LATERAL VIEW OUTER explode`` SQL surface: rows whose
    generated array is EMPTY must survive with a NULL token (plain
    LATERAL VIEW would drop them) — the outer-generator semantics
    left unpinned by q31/q60."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 == 0)
    part.createOrReplaceTempView("klss_q94_part")
    return spark.sql(
        """
        SELECT p_partkey, tok
        FROM (
            SELECT p_partkey,
                   filter(split(p_name, ' '), x -> length(x) >= 8)
                       AS arr
            FROM klss_q94_part
        )
        LATERAL VIEW OUTER explode(arr) x AS tok
        ORDER BY p_partkey, tok
        """
    )


def q96_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates
    (``bitmap_bucket_number`` / ``bitmap_bit_position`` /
    ``bitmap_construct_agg`` / ``bitmap_count``, Spark 3.5+) — the
    mergeable-exact middle ground between COUNT(DISTINCT) (exact,
    re-shuffles raw keys) and HLL (mergeable, approximate).

    Scale: pass 1 shuffles (flag, bucket)→32 KiB bitmaps — partial
    construct_agg OR-combines map-side so the exchange carries one
    bitmap per group-bucket, not raw keys; pass 2 sums popcounts over
    |groups × buckets| rows.  Oracle pins it to COUNT(DISTINCT)."""
    li = _t(spark, sf_dir, "lineitem")
    per_bucket = (
        li.select(
            "l_returnflag",
            F.expr("bitmap_bucket_number(l_partkey)").alias("bkt"),
            F.expr(
                "bitmap_bit_position(l_partkey)"
            ).alias("pos"),
        )
        .groupBy("l_returnflag", "bkt")
        .agg(
            F.expr("bitmap_construct_agg(pos)").alias("bm"),
            F.count(F.lit(1)).alias("bucket_rows"),
        )
    )
    return (
        per_bucket.groupBy("l_returnflag")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).alias("nd_part"),
            F.sum("bucket_rows").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def q97_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption round trip: ``aes_encrypt`` →
    ``base64`` transport → ``unbase64`` → ``aes_decrypt`` (ECB/PKCS,
    deterministic).  The oracle pins BOTH the recovered plaintext and
    the ciphertext length (PKCS pads to the next 16-byte block), so a
    wrong mode/padding cannot sneak through on row counts."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 50 == 0)
    enc = F.expr(
        "aes_encrypt(p_name, '0123456789abcdef', 'ECB', 'PKCS')"
    )
    dec = F.expr(
        "cast(aes_decrypt(unbase64(base64(aes_encrypt("
        "p_name, '0123456789abcdef', 'ECB', 'PKCS'))), "
        "'0123456789abcdef', 'ECB', 'PKCS') as string)"
    )
    return part.select(
        "p_partkey",
        dec.alias("p_name_rt"),
        F.length(enc).alias("cipher_len"),
        (dec == F.col("p_name")).alias("ok"),
    ).orderBy("p_partkey")


def q98_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the web-corpus curation step
    that collapses tracking-parameter/case/trailing-slash variants of
    one logical URL (``parse_url`` HOST/PATH/QUERY-param extraction,
    then rebuild-and-count).  URLs are synthesized deterministically
    from events so the oracle can derive ground truth from the same
    columns without a URL parser.

    Scale: one projection (codegen) + one hash-agg on the canonical
    string; no joins, no UDFs."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 11 == 0)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    url = F.concat(
        F.lit("https://Shop"),
        (F.col("user_id") % 7).cast("string"),
        F.lit(".Example.COM/p/"),
        k.cast("string"),
        F.when(F.col("event_id") % 5 == 0, F.lit("/")).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(F.lit("?utm_source=x&id="), k.cast("string")),
        ).otherwise(F.concat(F.lit("?id="), k.cast("string"))),
    )
    with_url = ev.select(url.alias("url"))
    host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
    path = F.regexp_replace(
        F.parse_url(F.col("url"), F.lit("PATH")), r"/$", ""
    )
    ident = F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("id"))
    canon = F.concat(
        F.lit("https://"), host, path, F.lit("?id="), ident
    )
    return (
        with_url.select("url", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("url").alias("n_variants"),
        )
        .orderBy("canon_url")
    )


def q99_regexp_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp surface beyond q18's single extract:
    ``regexp_extract_all`` (pipe-joined per the atomic-columns rule),
    ``regexp_count``, first-match extract, and a boolean ``rlike`` —
    all against DuckDB's independent regex engine."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 11 == 0)
    pat = r"[a-z]{6,}"
    return part.select(
        "p_partkey",
        F.concat_ws(
            "|", F.regexp_extract_all("p_name", F.lit(pat), F.lit(0))
        ).alias("long_words"),
        F.regexp_count("p_name", F.lit(pat)).alias("n_long"),
        F.regexp_extract("p_name", pat, 0).alias("first_long"),
        F.col("p_name").rlike("red|blue").alias("has_color"),
    ).orderBy("p_partkey")


def q100_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unionByName(allowMissingColumns=True)`` — schema-aligned
    union across heterogeneous sources with NULL back-fill, the
    multi-source corpus-manifest merge shape.  Oracle: DuckDB's
    ``UNION ALL BY NAME``."""
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 67 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.round("o_totalprice", 2).alias("price"),
            F.lit("orders").alias("src"),
        )
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 13 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.round("c_acctbal", 2).alias("bal"),
            F.lit("customer").alias("src"),
        )
    )
    return orders.unionByName(cust, allowMissingColumns=True).orderBy(
        "src", "k"
    )


def q101_datetime_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic beyond q19's trunc/extract: ``add_months``
    (end-of-month clamping), ``last_day``, ``datediff``, ``date_sub``,
    ``quarter``, ``dayofyear`` — each with a clean ANSI twin so the
    oracle exercises DuckDB's independent calendar logic."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 83 == 0
    )
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.add_months(d, 3).alias("plus3m"),
        F.last_day(d).alias("month_end"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).alias(
            "days_to_eoy98"
        ),
        F.date_sub(d, 30).alias("minus30d"),
        F.quarter(d).cast("long").alias("qtr"),
        F.dayofyear(d).cast("long").alias("doy"),
    ).orderBy("o_orderkey")


def d13_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): SEMANTIC dedup via embedding
    clusters — assign every vector to its nearest of k=16 fixed
    centroids, then inside each cluster drop every vector that has a
    lower-id neighbor with cosine ≥ 0.2; only the cluster bounds the
    quadratic.  Complements d02 (lexical MinHash) and s04 (LSH
    near-dup pairs): this is the keep/drop DECISION layer over
    semantic similarity.

    Determinism: centroids are the 16 lowest vec_ids (no sampling —
    the oracle must reproduce them), cosines are rounded to 4
    decimals on both engines before every comparison (s06 precedent),
    and argmax tie-breaks on cell rank.

    Scale: the n×16 assignment is a broadcast nested loop over a
    16-row dim (model broadcast, scan-local); the within-cluster pair
    stage is an EQUI-join on cell — SemDeDup's core trick is that
    clustering caps the pair blow-up; at 100 TB you raise k so
    |cluster| stays bounded, and the argmax becomes s05's IVF
    assignment."""
    from kinesis_log_streamer_spark.functions.vector import cosine_sim

    sub = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 4 == 0)
        .select("vec_id", "embedding")
    )
    cents = (
        sub.orderBy("vec_id")
        .limit(16)
        .select(
            (F.row_number().over(W.orderBy("vec_id")) - 1).alias("cell"),
            F.col("embedding").alias("cvec"),
        )
    )
    scored = sub.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cell",
        F.round(cosine_sim(F.col("embedding"), F.col("cvec")), 4).alias(
            "cos"
        ),
    )
    # argmax as a map-side-combinable agg (max over struct(cos,
    # -cell): highest cosine, ties to the LOWEST cell) — the 16
    # candidate rows per vector collapse before the exchange, unlike
    # a window row_number which ships all 16.
    best = (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cos"), (-F.col("cell")).alias("negcell")
                )
            ).alias("m")
        )
        .select("vec_id", (-F.col("m.negcell")).alias("cell"))
    )
    withv = best.join(sub, "vec_id")
    a = withv.select(
        F.col("vec_id").alias("id_a"), "cell",
        F.col("embedding").alias("va"),
    )
    b = withv.select(
        F.col("vec_id").alias("id_b"), "cell",
        F.col("embedding").alias("vb"),
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(cosine_sim(F.col("va"), F.col("vb")), 4) >= 0.2
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        best.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("is_dropped").isNull().alias("keep"),
        )
        .orderBy("vec_id")
    )


def l15_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex score per handler (T = 100 ms): satisfied ≤ T,
    tolerating ≤ 4T, apdex = (satisfied + tolerating/2) / n — the
    standard user-satisfaction rollup an observability stack derives
    from the reference's Apache `%D` latency field
    (httpd.conf:198).  Emitted in integer per-mille via the repo's
    half-up rational rule, so no fp rounding can diverge."""
    acc = _access(spark, sf_dir)
    t_us = 100_000
    us = F.col("RequestTimeMicroseconds")
    return (
        acc.groupBy(F.col("RequestHandler").alias("handler"))
        .agg(
            F.count_if(us <= t_us).alias("n_satisfied"),
            F.count_if((us > t_us) & (us <= 4 * t_us)).alias(
                "n_tolerating"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "handler",
            "n_satisfied",
            "n_tolerating",
            "n",
            F.expr(
                "(2000 * (2 * n_satisfied + n_tolerating) + 2 * n)"
                " div (4 * n)"
            ).alias("apdex_pm"),
        )
        .orderBy("handler")
    )


def q102_string_pad_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width/positional string surface q18 doesn't touch:
    ``lpad``/``rpad``, ``repeat``, ``reverse``, ``left``/``right``,
    ``translate``, ``locate``⇌``strpos`` — the report-formatting and
    masking family, each against DuckDB's independent implementation."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 13 == 0)
    return part.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_lpad"),
        F.rpad("p_brand", 12, ".").alias("brand_rpad"),
        F.repeat(F.lit("-"), (F.col("p_size") % 5).cast("int")).alias(
            "dashes"
        ),
        F.reverse("p_name").alias("name_rev"),
        F.expr("left(p_name, 3)").alias("name_l3"),
        F.expr("right(p_name, 3)").alias("name_r3"),
        F.translate("p_name", "aeiou", "01234").alias("name_masked"),
        F.instr("p_name", "e").cast("long").alias("first_e"),
    ).orderBy("p_partkey")


def f21_nested_schema_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED-field schema pruning: a query that touches one leaf of
    a deep struct must scan ONLY that leaf — the plan's ReadSchema
    carries the pruned subtree (``info.geo.nat``), never the sibling
    fields.  At 100 TB of nested event payloads this is the
    difference between reading a 2-column sliver and deserializing
    every struct; the code raises if pruning regressed, and the
    values hash-match an oracle computed from the flat base table."""
    import re

    base = _scratch(spark, "f21")
    cust = _t(spark, sf_dir, "customer")
    nested = cust.select(
        "c_custkey",
        F.struct(
            F.col("c_mktsegment").alias("seg"),
            F.round("c_acctbal", 2).alias("bal"),
            F.struct(
                F.col("c_nationkey").alias("nat"),
                F.length("c_name").alias("name_len"),
            ).alias("geo"),
        ).alias("info"),
    )
    nested.write.mode("overwrite").parquet(base)
    out = (
        spark.read.parquet(base)
        .select("c_custkey", F.col("info.geo.nat").alias("nat"))
        .filter(F.col("c_custkey") % 9 == 0)
        .orderBy("c_custkey")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    rs = m.group(1) if m else ""
    if "nat" not in rs or "seg" in rs or "bal" in rs:
        raise RuntimeError(
            f"nested schema pruning regressed; scan reads {rs!r}"
        )
    return out


def q103_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``try_cast`` null-on-failure semantics (q75's arithmetic twin):
    malformed numerics, unparseable dates, and bigint→int overflow
    all become NULL instead of aborting the job — the ingest-
    robustness contract a 100 TB pipeline needs when a billion rows
    contain a handful of garbage values."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 59 == 0
    )
    s_num = F.when(
        F.col("o_orderkey") % 3 == 0, F.col("o_orderpriority")
    ).otherwise(F.round("o_totalprice", 2).cast("string"))
    s_date = F.when(
        F.col("o_orderkey") % 2 == 0, F.lit("not-a-date")
    ).otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
    return (
        orders.withColumn("s_num", s_num)
        .withColumn("s_date", s_date)
        .withColumn("big", F.col("o_orderkey") * F.lit(10_000_000_000))
        .select(
            "o_orderkey",
            F.expr("try_cast(s_num as double)").alias("num_or_null"),
            F.expr("try_cast(s_date as date)").alias("date_or_null"),
            F.expr("try_cast(big as int)").alias("int_or_null"),
        )
        .orderBy("o_orderkey")
    )


def q104_ignore_nulls_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``IGNORE NULLS`` across the full window-function family —
    lead/lag/first_value/last_value/nth_value skipping NULL gaps
    (q51's ffill uses last-ignorenulls; this pins the SQL surface
    for the offset functions, where the skip semantics are
    subtler)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") % 31 == 0) & (F.col("l_linenumber") <= 6)
    )
    li.withColumn(
        "val",
        F.when(F.col("l_linenumber") % 2 == 0, None).otherwise(
            F.round("l_quantity", 2)
        ),
    ).createOrReplaceTempView("klss_q104_li")
    # (l_orderkey, l_linenumber) is NOT unique in this corpus —
    # (… , l_partkey, l_suppkey) is; the window order must be total
    # or lead/lag is engine-dependent (house determinism rule).
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, l_partkey, val,
               lead(val) IGNORE NULLS OVER
                   (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_partkey, l_suppkey)
                   AS next_val,
               lag(val) IGNORE NULLS OVER
                   (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_partkey, l_suppkey)
                   AS prev_val,
               first_value(val) IGNORE NULLS OVER
                   (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_partkey, l_suppkey
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING)  AS first_val,
               last_value(val) IGNORE NULLS OVER
                   (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_partkey, l_suppkey
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING)  AS last_val
        FROM klss_q104_li
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
        """
    )


def q105_timestamp_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp arithmetic surface: ``timestampadd`` /
    ``timestampdiff`` / ``make_timestamp`` (rebuild truncated-to-hour
    from extracted parts) — the event-time math layer under every
    windowed rollup, against DuckDB's interval engine."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 37 == 0)
    return ev.select(
        "event_id",
        F.expr("timestampadd(HOUR, 6, ts)").alias("plus6h"),
        F.expr(
            "timestampdiff(MINUTE, ts,"
            " timestamp'2024-02-01 00:00:00')"
        ).alias("min_to_feb"),
        F.expr(
            "make_timestamp(year(ts), month(ts), day(ts),"
            " hour(ts), 0, 0)"
        ).alias("hour_floor"),
    ).orderBy("event_id")


def q106_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL COLUMN ALIAS (Spark 3.4+): a SELECT-list expression
    referencing an alias defined earlier in the SAME select —
    ``disc`` feeds ``tax`` feeds ``net`` without a subquery.  The
    oracle expands the chain, proving the sugar resolves to the same
    values.  The chain runs in exact DECIMAL (house rule: rounding
    that decides output never happens in binary double — double
    ``round(x*0.9, 2)`` flips at half-even boundaries between
    engines, surfaced by the sf0.1 sweep).  The FINAL values go on
    the wire as DOUBLE: scale-2 decimals below 2^53/100 round-trip
    to a unique correctly-rounded float64 on both engines, while a
    DECIMAL wire column fails the driver's pandas canonicalizer
    (q53's r03 lesson — Spark keeps Decimal objects, DuckDB coerces
    to float64)."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 71 == 0
    )
    orders.createOrReplaceTempView("klss_q106_orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(disc_d AS DOUBLE)          AS disc,
               CAST(tax_d AS DOUBLE)           AS tax,
               CAST(disc_d + tax_d AS DOUBLE)  AS net
        FROM (
            SELECT o_orderkey,
                   CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
                              * CAST(0.90 AS DECIMAL(3,2)), 2)
                        AS DECIMAL(18,2))                    AS disc_d,
                   CAST(round(disc_d * CAST(0.07 AS DECIMAL(3,2)), 2)
                        AS DECIMAL(18,2))                    AS tax_d
            FROM klss_q106_orders
        )
        ORDER BY o_orderkey
        """
    )


def q107_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.stat.crosstab`` — the contingency-table API
    (pair-frequency counts, one output column per distinct value of
    the second key).  Oracle: conditional counts pivoted by hand.
    Scale: crosstab is a single hash-agg on the pair plus a driver
    pivot of |distinct right values| columns — safe as long as the
    right side's cardinality is bounded (here: 2 line statuses)."""
    li = _t(spark, sf_dir, "lineitem")
    ct = li.stat.crosstab("l_returnflag", "l_linestatus")
    return ct.orderBy("l_returnflag_l_linestatus")


def d14_hash_prefilter_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate-membership dedup PRE-FILTER (the Bloom-filter
    pattern with an oracle-replicable sketch): the base corpus is
    summarized as its set of 16-bit truncated-md5 content buckets
    (≤65 536 values — broadcastable at ANY corpus size, like a Bloom
    bitset), the delta batch is probed by broadcast semi-join, and
    only flagged rows would reach the exact dedup join.  False
    negatives are impossible (equal text ⇒ equal bucket); false
    positives are bucket collisions.  Spark's real ``bloom_filter_agg``
    is Catalyst-internal (q65 asserts its injected form); this
    exposes the same contract as a first-class primitive whose
    flagged/missed/collision counts DuckDB reproduces EXACTLY.

    Scale: summary build is one distinct-agg capped at 65 536 rows;
    the probe is a broadcast semi-join (scan-local, no shuffle of the
    delta)."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast(
        "long"
    )
    base = docs.filter(F.col("doc_id") % 2 == 0).select(
        bucket.alias("bkt"), "text"
    )
    delta = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", bucket.alias("bkt"), "text"
    )
    base_buckets = base.select("bkt").distinct()
    flagged = delta.join(
        F.broadcast(base_buckets), "bkt", "left_semi"
    )
    true_dups = delta.join(
        base.select("text").distinct(), "text", "left_semi"
    )
    missed = true_dups.join(
        flagged.select("doc_id"), "doc_id", "left_anti"
    )
    return (
        delta.agg(F.count(F.lit(1)).alias("n_delta"))
        .crossJoin(flagged.agg(F.count(F.lit(1)).alias("n_flagged")))
        .crossJoin(true_dups.agg(F.count(F.lit(1)).alias("n_true")))
        .crossJoin(missed.agg(F.count(F.lit(1)).alias("fn_count")))
    )


def w03_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EPOCH-WISE corpus shuffle — the training-loader
    contract: each epoch visits the same corpus in a different but
    fully reproducible order (``md5(epoch:doc_id)`` rank), so a
    resumed or re-run job replays byte-identical batches.  Emits the
    first 10 docs of epochs 0–2.

    Scale: the per-epoch order is a sort by hash — at 100 TB it runs
    as shard-local sorts after hash-partitioning, never a global
    sort; top-10 here is a bounded rank window."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    epochs = docs.crossJoin(
        F.broadcast(
            spark.range(3).select(F.col("id").cast("int").alias("epoch"))
        )
    )
    ranked = epochs.select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("pos"),
    )
    w = W.partitionBy("epoch").orderBy("pos")
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("epoch", "rank", "doc_id", "pos")
        .orderBy("epoch", "rank")
    )


def t25_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / OOV-rate scoring: build the top-100
    corpus vocabulary by document frequency (ties → term asc), then
    score every doc by the fraction of its TOKEN OCCURRENCES outside
    the vocab — the tokenizer-fit metric that decides whether a
    corpus needs vocab retraining.  Integer per-mille (half-up) so
    both engines round identically.

    Scale: df counts are one hash-agg over distinct (doc, term)
    pairs; the vocab is 100 rows → broadcast; per-doc scoring is a
    broadcast left-semi-ish join on the token then one hash-agg —
    the t06 tf-idf shape without the log weights."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("term"),
    )
    df_counts = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    vocab = (
        df_counts.orderBy(F.desc("df"), "term")
        .limit(100)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("in_vocab").isNull()).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr(
                "(2000 * n_oov + n_tokens) div (2 * n_tokens)"
            ).alias("oov_pm"),
        )
        .orderBy("doc_id")
    )


def q108_equiheight_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equi-HEIGHT histogram (q41's equi-width sibling): ``ntile(8)``
    buckets over a totally-ordered price column, per-bucket count +
    exact bounds — the distribution summary query optimizers and
    drift monitors keep.

    Scale note: exact global ntile is a single-partition sort — fine
    on the bounded sample here; the production path at 100 TB swaps
    in approx-quantile boundaries (q61 pins that sketch's accuracy)
    and keeps this exact form as its oracle."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 7 == 0
    )
    w = W.orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey",
    )
    return (
        li.select(
            F.round("l_extendedprice", 2).alias("price"),
            F.ntile(8).over(w).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("price").alias("lo"),
            F.max("price").alias("hi"),
        )
        .orderBy("bucket")
    )


def q109_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (`operators/asof.py`,
    ``direction="nearest"``): each event annotated with the user's
    CLOSEST order in time — backward and forward candidates computed
    in one pass over one sort (two frames on the shared window
    exchange), ties to backward (pandas ``merge_asof`` semantics),
    3-day tolerance.  Completes the q23 (backward) / q68 (forward)
    family."""
    events = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = _t(spark, sf_dir, "orders")
    near = orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("odate"),
    ).agg(F.max("o_orderkey").alias("nearest_order_key"))
    return (
        asof_join(
            events,
            near,
            key="user_id",
            left_ts="ts",
            right_ts="odate",
            tolerance_seconds=3 * 86400.0,
            direction="nearest",
        )
        .select("event_id", "user_id", "nearest_order_key")
        .orderBy("event_id")
    )


def st13_update_mode_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UPDATE output mode (st01's complete-mode sibling): the sink
    receives only CHANGED window rows per micro-batch; the final
    state per key is the last update.  Counts are monotone across
    updates of one key, so ``max(struct(n, sum))`` per key recovers
    the final row, which must equal the batch aggregate — pinning
    update-mode's deliver-changes contract (the mode incremental
    dashboards consume).  A far-future watermark exercises the
    watermark+update plumbing without any drop risk."""
    from kinesis_log_streamer_spark.streaming.pipeline import (
        read_events_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 days")
        .groupBy(
            F.window("ts", "1 hour").start.alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    _drain_stream_to_table(agg, "st13_out", mode="update", no_data=False)
    return (
        spark.table("st13_out")
        .groupBy("bucket_start", "event_type")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("m"))
        .select(
            "bucket_start",
            "event_type",
            F.col("m.n_events").alias("n_events"),
            F.col("m.sum_value").alias("sum_value"),
        )
        .orderBy("bucket_start", "event_type")
    )


def q110_pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivoted value (q26 pivots
    one measure): count + quantity sum per line status, producing the
    ``{value}_{agg}`` column matrix."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .orderBy("l_returnflag")
    )


def l16_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget BURN-RATE alerting (the SRE multiwindow
    rule): with a 99 % success SLO, flag hours whose 1-hour burn
    rate ≥ 14.4× and whose trailing-6-hour burn ≥ 6× — the
    fast+slow pairing that pages on real incidents but not blips.
    All comparisons are integer cross-multiplications (burn =
    err/n/0.01 ≥ k  ⇔  1000·err ≥ 10·k·n), so no fp rounding can
    diverge.

    Scale: one hash-agg to hourly grains, then a RANGE window over
    the integer hour index — O(|hours|) state, no self-join."""
    acc = _access(spark, sf_dir)
    hourly = (
        acc.select(
            (F.unix_timestamp(F.to_timestamp("StartTime")) / 3600)
            .cast("long")
            .alias("hour_idx"),
            (F.col("Status") >= 500).cast("long").alias("is_err"),
        )
        .groupBy("hour_idx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_err").alias("n_err"),
        )
    )
    w6 = (
        W.orderBy("hour_idx").rangeBetween(-5, 0)
    )
    return (
        hourly.withColumn("n6", F.sum("n").over(w6))
        .withColumn("err6", F.sum("n_err").over(w6))
        .select(
            "hour_idx",
            "n",
            "n_err",
            (F.col("n_err") * 1000 >= F.col("n") * 144).alias(
                "fast_burn"
            ),
            (F.col("err6") * 1000 >= F.col("n6") * 60).alias(
                "slow_burn"
            ),
        )
        .orderBy("hour_idx")
    )


def g04_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths
    (`operators/graph.py:sssp_weighted`, distributed Bellman-Ford)
    over the q56/g02/g03 interaction graph with deterministic integer
    weights ``1 + (src+dst) % 5`` — the weighted completion of the
    iterative-graph family (CC, PageRank, BFS).  Oracle: DuckDB
    recursive CTE relaxing paths under a cost guard, min distance per
    node."""
    from kinesis_log_streamer_spark.operators.graph import sssp_weighted

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 100).alias("src"),
        (F.get_json_object("props", "$.k").cast("long") % 100).alias(
            "dst"
        ),
    )
    edges = (
        ev.na.drop()
        .filter(F.col("src") != F.col("dst"))
        .withColumn(
            "w", 1 + (F.col("src") + F.col("dst")) % 5
        )
    )
    return sssp_weighted(edges, source=0).orderBy("node")


def k03_kinesis_reshard_discovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shard SPLIT mid-stream through the custom Kinesis source: phase
    1 produces into a 2-shard stream and drains; phase 2 produces the
    next payload through a 4-SHARD client into the same stream (two
    NEW shard files appear — the dir: analog of a reshard) and
    resumes from the same checkpoint.  The source must (a) resume the
    surviving shards past their offsets with zero re-emission and (b)
    DISCOVER the new shards and read them from the start — k02's
    resume contract extended to a changing shard set, which is what
    production Kinesis consumers actually face."""
    from kinesis_log_streamer_spark.sources.kinesis_source import (
        DirKinesisClient,
        KinesisDataSource,
    )
    from kinesis_log_streamer_spark.streaming.kinesis_sink import (
        KinesisSink,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = _scratch(spark, "k03")
    ep, ckpt, outp = (
        os.path.join(base, d) for d in ("stream", "ckpt", "out")
    )
    os.makedirs(outp)

    ev = _t(spark, sf_dir, "events")

    def payload(mod3: int) -> DataFrame:
        return ev.filter(F.col("event_id") % 3 == mod3).select(
            F.to_json(
                F.struct("event_id", "event_type", "value")
            ).alias("data"),
            F.concat(
                F.lit("host-"), (F.col("user_id") % 8).cast("string")
            ).alias("partitionKey"),
        )

    spark.dataSource.register(KinesisDataSource)

    def append_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                F.from_json(
                    "data",
                    "event_id long, event_type string, value double",
                ).alias("r")
            )
            .groupBy(F.col("r.event_type").alias("event_type"))
            .agg(
                F.count(F.lit(1)).alias("n_partial"),
                F.sum("r.value").alias("v_partial"),
            )
            .write.mode("append")
            .parquet(outp)
        )

    def drain() -> None:
        _drain(
            spark.readStream.format("kinesis_py")
            .option("endpoint", f"dir:{ep}")
            .load()
            .writeStream.foreachBatch(append_partial)
            .option("checkpointLocation", ckpt)
        )

    sink2 = KinesisSink(
        "k03", client_factory=lambda: DirKinesisClient(ep, num_shards=2)
    )
    sink4 = KinesisSink(
        "k03", client_factory=lambda: DirKinesisClient(ep, num_shards=4)
    )
    sink2.write_batch(payload(0).coalesce(2), epoch_id=0)
    drain()  # phase 1: two shards
    sink4.write_batch(payload(1).coalesce(2), epoch_id=1)
    drain()  # phase 2: reshard to four — new shards discovered
    return (
        spark.read.parquet(outp)
        .groupBy("event_type")
        .agg(
            F.sum("n_partial").cast("long").alias("n_events"),
            F.round(F.sum("v_partial"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def k04_at_most_once_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's AT-MOST-ONCE delivery under the oracle: the
    strict-parity sink mode (`streaming/kinesis_sink.py:
    put_records_at_most_once` — one PutRecords call, zero retries,
    log-and-drop, basestreamer.go:64-87) pushed through a client that
    deterministically throttles every ``event_id % 10 == 0`` record
    (`sources/kinesis_source.py:ThrottlingDirKinesisClient`).  The
    stream is read back and aggregated; the oracle states the
    SURVIVOR set exactly (``event_id % 10 == 5`` of the %5 payload),
    so the hash fails if the mode retries (duplicates), drops more
    than the throttled records, or raises instead of dropping.
    ``n_events == n_distinct`` per group additionally pins
    no-duplication inside the surviving set."""
    from kinesis_log_streamer_spark.sources.kinesis_source import (
        ThrottlingDirKinesisClient,
    )
    from kinesis_log_streamer_spark.streaming.kinesis_sink import KinesisSink

    payload = _kinesis_payload(spark, sf_dir, 5)
    ep = _scratch(spark, "k04")
    sink = KinesisSink(
        "k04",
        client_factory=lambda: ThrottlingDirKinesisClient(ep, reject_mod=10),
        delivery="at_most_once",
    )
    sink.write_batch(payload.coalesce(2), epoch_id=0)

    raw = (
        spark.readStream.format("kinesis_py")
        .option("endpoint", f"dir:{ep}")
        .load()
    )
    _drain_stream_to_table(raw, "k04_out", mode="append")
    return _event_type_rollup(spark.table("k04_out"))


def k05_python_datasource_writer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The WRITE side of the Python Data Source API (Spark 4
    ``DataSourceWriter``): ``df.write.format("kinesis_py")`` ships
    (data, partitionKey) rows through the PutRecords contract
    executor-side — the declarative batch twin of the foreachBatch
    KinesisSink, completing source/sink symmetry on one DataSource
    class (`sources/kinesis_source.py:KinesisDataSourceWriter`).  The
    stream is read back through the SAME class's streaming reader and
    rolled up; the hash match proves the writer neither lost,
    duplicated, nor altered a record, and that hash-routing landed
    every record in exactly one shard."""
    payload = _kinesis_payload(spark, sf_dir, 23)
    ep = _scratch(spark, "k05")
    (
        payload.coalesce(2)
        .write.format("kinesis_py")
        .option("endpoint", f"dir:{ep}")
        .mode("append")
        .save()
    )

    raw = (
        spark.readStream.format("kinesis_py")
        .option("endpoint", f"dir:{ep}")
        .load()
    )
    _drain_stream_to_table(raw, "k05_out", mode="append")
    return _event_type_rollup(spark.table("k05_out"))


def s15_ivf_index_persist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANN index LIFECYCLE: build the IVF assignment once (d13's
    deterministic 16-centroid quantizer), PERSIST it as a parquet
    index table, then answer queries from the persisted index —
    probe the query's cell, exact-rerank inside it, top-5.  The
    build-once/query-many split is how a production vector store
    runs; every stage is deterministic (rounded cosines, rank
    tie-breaks), so DuckDB replays the whole lifecycle exactly.

    Scale: the index build is the d13 broadcast assignment; queries
    touch 1/16 of the corpus (their cell), and the rerank is a
    per-query rank window."""
    from kinesis_log_streamer_spark.functions.vector import cosine_sim

    idx_path = _scratch(spark, "s15")

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id", "embedding"
    )
    cents = (
        corpus.orderBy("vec_id")
        .limit(16)
        .select(
            (F.row_number().over(W.orderBy("vec_id")) - 1).alias(
                "cell"
            ),
            F.col("embedding").alias("cvec"),
        )
    )

    def assign(df: DataFrame) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "cell",
            F.round(
                cosine_sim(F.col("embedding"), F.col("cvec")), 4
            ).alias("cos"),
        )
        return (
            scored.groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("cos"), (-F.col("cell")).alias("negcell")
                    )
                ).alias("m")
            )
            .select("vec_id", (-F.col("m.negcell")).alias("cell"))
        )

    assign(corpus).write.mode("overwrite").parquet(idx_path)
    index = spark.read.parquet(idx_path)

    queries = emb.filter(F.col("vec_id").isin(1, 3, 5)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    q_cells = assign(
        queries.select(
            F.col("query_id").alias("vec_id"),
            F.col("qvec").alias("embedding"),
        )
    ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = (
        queries.join(F.broadcast(q_cells), "query_id")
        .join(index, "cell")
        .join(
            corpus.select(
                F.col("vec_id"), F.col("embedding").alias("cvec2")
            ),
            "vec_id",
        )
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_sim(F.col("qvec"), F.col("cvec2")), 4
            ).alias("cos"),
        )
    )
    wq = W.partitionBy("query_id").orderBy(
        F.desc("cos"), "vec_id"
    )
    return (
        cand.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "cos")
        .orderBy("query_id", "rank")
    )


def q111_interval_overlap_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTERVAL-overlap self-join (both sides are intervals — the
    theta-join shape q10/q36's point-in-interval forms don't cover):
    each event occupies [ts, ts+2h); count overlapping same-user
    event pairs.  Scale path: each interval explodes into its hour
    bins, candidates come from an EQUI-join on (user, bin) — never a
    per-user cartesian — then the exact overlap predicate verifies
    and pairs dedup (an interval pair can share several bins).
    Oracle: the quadratic overlap join written directly."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id") % 13 == 0
    )
    iv = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("ivs"),
        F.expr("ts + INTERVAL 2 HOURS").alias("ive"),
    )
    binned = iv.withColumn(
        "hbin",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "ivs"),
                F.date_trunc("hour", "ive"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    a = binned.select(
        "user_id", "hbin",
        F.col("event_id").alias("id_a"),
        F.col("ivs").alias("as_"), F.col("ive").alias("ae"),
    )
    b = binned.select(
        "user_id", "hbin",
        F.col("event_id").alias("id_b"),
        F.col("ivs").alias("bs"), F.col("ive").alias("be"),
    )
    pairs = (
        a.join(b, ["user_id", "hbin"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((F.col("as_") < F.col("be")) & (F.col("bs") < F.col("ae")))
        .select("user_id", "id_a", "id_b")
        .distinct()
    )
    return (
        pairs.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_overlapping_pairs"))
        .orderBy("user_id")
    )


def f22_ignore_corrupt_files(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FILE-level corruption resilience (the row-level quarantine
    family f08/f10/f17 can't cover): a partitioned parquet dataset
    with ONE partition's data file truncated to garbage, read back
    under ``spark.sql.files.ignoreCorruptFiles=true`` — the corrupted
    partition contributes nothing, every other partition stays exact,
    and the job completes instead of dying.  At 100 TB a single bad
    object must never kill the scan.  The corruption is constructed
    (the 'BUILDING' segment's file), so the oracle knows exactly
    which rows vanish."""
    import glob

    base = os.path.join(_scratch(spark, "f22"), "parts")
    cust = _t(spark, sf_dir, "customer")
    (
        cust.select("c_custkey", "c_acctbal", "c_mktsegment")
        .coalesce(1)
        .write.partitionBy("c_mktsegment")
        .parquet(base)
    )
    for f in glob.glob(
        os.path.join(base, "c_mktsegment=BUILDING", "*.parquet")
    ):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    with _conf(spark, {"spark.sql.files.ignoreCorruptFiles": "true"}):
        # Materialize INSIDE the conf window: the driver re-collects
        # the returned DataFrame after this function restores the
        # conf, and the scan must not re-run with the flag off.
        rows = (
            spark.read.parquet(base)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("c_acctbal"), 2).alias("bal"),
            )
            .orderBy("c_mktsegment")
            .collect()
        )
    return spark.createDataFrame(
        rows, "c_mktsegment string, n long, bal double"
    ).orderBy("c_mktsegment")


def u09_pandas_udaf_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grouped-agg pandas UDAF used as a WINDOW function (the u01
    UDAF over an unbounded frame instead of a groupBy) — every row
    carries its partition's quantity-weighted mean price.  The Arrow
    batch per frame is the API surface this pins; the oracle is the
    algebraic identity computed per partition and joined back."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 41 == 0
    )
    w = W.partitionBy("l_returnflag")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
            "l_returnflag",
            F.round(
                wavg("l_extendedprice", "l_quantity").over(w), 2
            ).alias("flag_wavg"),
        )
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    )


def q112_values_inline_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inline ``VALUES`` table as a first-class relation: a literal
    priority→weight mapping joined against orders — the SQL-surface
    idiom for small lookup tables that never touch storage (Catalyst
    folds it into a LocalRelation broadcast)."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 43 == 0
    )
    orders.createOrReplaceTempView("klss_q112_orders")
    return spark.sql(
        """
        SELECT w.weight,
               count(*) AS n_orders,
               round(sum(o.o_totalprice), 2) AS revenue
        FROM klss_q112_orders o
        JOIN (VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3),
                     ('4-NOT SPECIFIED', 2), ('5-LOW', 1))
             AS w(priority, weight)
          ON o.o_orderpriority = w.priority
        GROUP BY w.weight
        ORDER BY w.weight
        """
    )


def q113_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-language surface in one chain: a declarative SQL
    UDF (``CREATE FUNCTION … RETURN``, no Python in the hot path —
    the body inlines into the plan and stays in codegen), a session
    VARIABLE consumed by the query, and the final SELECT dispatched
    through ``EXECUTE IMMEDIATE`` with a positional parameter.  Money
    math runs in exact DECIMAL per the house rule; the UDF returns
    DOUBLE so no DECIMAL reaches the wire (q53's r03 lesson)."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("klss_q113_orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION klss_q113_tax(p DOUBLE)
        RETURNS DOUBLE
        RETURN CAST(CAST(round(CAST(p AS DECIMAL(18,2))
                               * CAST(0.07 AS DECIMAL(3,2)), 2)
                         AS DECIMAL(18,2)) AS DOUBLE)
        """
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE klss_q113_mod BIGINT DEFAULT 89"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT o_orderkey,
                klss_q113_tax(o_totalprice) AS tax,
                o_orderpriority
         FROM klss_q113_orders
         WHERE o_orderkey % klss_q113_mod = ?
         ORDER BY o_orderkey'
        USING 0
        """
    )


def q114_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DEFAULT`` column values on a catalog table: rows inserted
    without the column take the declared default at WRITE time (the
    ingest-contract feature that lets producers evolve independently
    of the schema).  Two inserts — one omitting both defaulted
    columns, one supplying one of them — then an aggregate proves
    which rows got which value."""
    import os
    import shutil

    cust = _t(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("klss_q114_cust")
    spark.sql("DROP TABLE IF EXISTS klss_q114_defaults")
    # A FRESH session's catalog does not know a table a previous
    # session created, so DROP IF EXISTS leaves the managed location
    # behind and CREATE fails with LOCATION_ALREADY_EXISTS — clear it.
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(
        os.path.join(wh, "klss_q114_defaults"), ignore_errors=True
    )
    spark.sql(
        """
        CREATE TABLE klss_q114_defaults (
            k BIGINT,
            seg STRING DEFAULT 'unknown',
            score BIGINT DEFAULT 50
        ) USING parquet
        """
    )
    spark.sql(
        """
        INSERT INTO klss_q114_defaults (k)
        SELECT c_custkey FROM klss_q114_cust WHERE c_custkey % 31 = 0
        """
    )
    spark.sql(
        """
        INSERT INTO klss_q114_defaults (k, seg)
        SELECT c_custkey, c_mktsegment
        FROM klss_q114_cust WHERE c_custkey % 37 = 0
        """
    )
    return spark.sql(
        """
        SELECT seg, score,
               count(*) AS n,
               sum(k) AS sum_k
        FROM klss_q114_defaults
        GROUP BY seg, score
        ORDER BY seg, score
        """
    )


def q115_window_group_limit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WindowGroupLimit optimization gate: a ``row_number() ≤ k``
    filter must compile to the group-limit physical operator (Spark
    3.5+), which keeps only k rows per partition key DURING the sort
    instead of ranking every row and discarding the rest — at 100 TB
    the difference between a bounded per-group heap and a full
    window materialization.  The code raises if the operator is
    missing; values hash-match the oracle's QUALIFY-style top-3."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    out = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_orderpriority",
            "rn",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_orderpriority", "rn")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "WindowGroupLimit" not in plan:
        raise RuntimeError(
            "rank<=k filter did not compile to WindowGroupLimit"
        )
    return out


def q116_safe_array_access(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Boundary-safe array access: ``try_element_at`` past the end
    (NULL, not an ANSI error), negative indices counting from the
    end, ``element_at`` on the valid range, and ``get()``'s 0-based
    NULL-on-miss contract — the defensive-access battery an ingest
    job needs when upstream array lengths aren't guaranteed."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 17 == 0)
    arr = F.split(F.col("p_name"), " ")
    return part.select(
        "p_partkey",
        F.element_at(arr, 1).alias("first_word"),
        F.element_at(arr, -1).alias("last_word"),
        F.try_element_at(arr, F.lit(99)).alias("oob_null"),
        F.get(arr, 0).alias("get0"),
        F.get(arr, 99).alias("get_oob"),
        F.size(arr).alias("n_words"),
    ).orderBy("p_partkey")


def w04_largest_remainder_quota(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT sample-budget apportionment via the largest-remainder
    (Hamilton) method: distribute a budget of 1000 docs across
    languages proportionally so the quotas sum to EXACTLY the budget
    — w02's floor quotas leak the residual; mixing recipes and eval
    splits need the exact total.  Floor quotas first, then the
    leftover seats go to the largest fractional remainders (ties →
    lang asc), all in integer arithmetic both engines replay.

    Scale: |languages| rows after one count agg — driver-free, two
    window functions over a tiny aggregate."""
    budget = 1000
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(F.sum("c").alias("t"))
    base = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "c",
        (F.col("c") * budget).alias("num"),
        "t",
    )
    quoted = base.select(
        "lang",
        "c",
        F.expr("num div t").alias("floor_q"),
        (F.col("num") % F.col("t")).alias("rem"),
        "t",
    )
    wsum = W.partitionBy(F.lit(1))
    wrank = W.orderBy(F.desc("rem"), "lang")
    return (
        quoted.withColumn(
            "leftover", F.lit(budget) - F.sum("floor_q").over(wsum)
        )
        .withColumn("rk", F.row_number().over(wrank))
        .select(
            "lang",
            "c",
            "floor_q",
            (
                F.col("floor_q")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            ).alias("quota"),
        )
        .orderBy("lang")
    )


def d15_tfidf_cosine_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPARSE-vector similarity join: near-dup doc pairs by tf-idf
    cosine through an INVERTED INDEX — candidates are pairs sharing
    at least one term (self-equi-join on term), the dot product sums
    only over shared terms, and no dense doc×doc stage ever exists.
    The lexical-weighted middle ground between d04's set Jaccard and
    s04's dense-embedding cosine.

    Determinism: weights are TRUNCATED to integers (⌊w·10⁴⌋) before
    any aggregation — integer dot products are associative, so
    partial-agg order can't shift the result, and the final cosine
    is computed from identical integers on both engines (IEEE sqrt /
    divide are correctly rounded).

    Scale: the term self-join is the inverted-index pattern of t13 —
    heavy-hitter stop terms would dominate, so terms in >40 % of the
    subset are dropped from the index (standard sparse-join
    optimization, mirrored in the oracle)."""
    from kinesis_log_streamer_spark.operators.text import tfidf

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    # The weighted-term table feeds FOUR consumers (document
    # frequency, norms, and both join sides); without materialization
    # each re-executes the whole tokenize→tf→idf subtree (r5 plan
    # audit: 24 scans / 63 shuffles for one query).  localCheckpoint
    # pins the narrow (doc_id, term, wi) longs once — the diamond-
    # reuse pattern, same as d05's edge list.
    w = (
        tfidf(docs)
        .select(
            "doc_id",
            "term",
            F.floor(F.col("tfidf") * 10000).cast("long").alias("wi"),
        )
        .localCheckpoint(eager=True)
    )
    n_docs = docs.count()
    dfreq = w.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    keep = dfreq.filter(
        F.col("df") * 10 <= F.lit(4 * n_docs)
    ).select("term")
    w = w.join(F.broadcast(keep), "term")
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("wi") * F.col("wi")).alias("n2")
    )
    a = w.select(
        "term", F.col("doc_id").alias("id_a"), F.col("wi").alias("wa")
    )
    b = w.select(
        "term", F.col("doc_id").alias("id_b"), F.col("wi").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("id_a"), F.col("n2").alias("na2")
    )
    nb = norms.select(
        F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2")
    )
    cos = F.round(
        F.col("dot")
        / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))),
        4,
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.35)
        .orderBy("id_a", "id_b")
    )


def l17_json_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON SCHEMA-DRIFT profile over a log stream: group records by
    their exact KEY SET (``json_object_keys``, sorted and joined) and
    count each shape — how an ingest pipeline detects producers
    adding/dropping fields.  Records are synthesized with
    deterministically varying shapes (two optional fields keyed off
    event_id) so the oracle knows the exact shape census."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    rec = F.to_json(
        F.struct(
            "event_id",
            "event_type",
            F.when(F.col("event_id") % 2 == 0, F.col("value")).alias(
                "value"
            ),
            F.when(F.col("event_id") % 3 == 0, F.col("user_id")).alias(
                "user_id"
            ),
        )
    )
    return (
        ev.select(rec.alias("rec"))
        .select(
            F.concat_ws(
                "|", F.sort_array(F.json_object_keys("rec"))
            ).alias("key_set")
        )
        .groupBy("key_set")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .orderBy("key_set")
    )


def q117_take_ordered_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TakeOrderedAndProject gate: ``ORDER BY … LIMIT k`` must
    compile to the per-partition top-k + merge operator, NOT a full
    global sort — at 100 TB the difference between each task keeping
    a k-row heap and a whole-table exchange-and-sort.  Raises if the
    operator is missing; values hash-match the oracle."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
            F.round("l_extendedprice", 2).alias("price"),
        )
        .orderBy(
            F.desc("price"), "l_orderkey", "l_linenumber",
            "l_partkey", "l_suppkey",
        )
        .limit(25)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "TakeOrderedAndProject" not in plan:
        raise RuntimeError(
            "ORDER BY + LIMIT did not compile to TakeOrderedAndProject"
        )
    return out


def p06_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit profile — the fraud/anomaly
    screen auditors run over money columns: observed count per
    leading digit of ``o_totalprice`` plus its per-mille share
    (integer half-up) to compare against the Benford expectation
    (log10(1+1/d)).  One narrow projection + a 9-group hash-agg."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("long")
    counts = orders.select(digit.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("n")
    )
    wtot = W.partitionBy(F.lit(1))
    return (
        counts.withColumn("tot", F.sum("n").over(wtot))
        .select(
            "d",
            "n",
            F.expr("(2000 * n + tot) div (2 * tot)").alias("share_pm"),
        )
        .orderBy("d")
    )


def q118_complex_type_ordering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORDERING over COMPLEX types: rows ranked by an ARRAY key
    (lexicographic element-wise, shorter-prefix-first) and a STRUCT
    key (field-order comparison) — the semantics every
    sort/window/join on nested data inherits.  DuckDB lists and
    structs compare the same way, making the contract checkable."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 23 == 0)
    arr_key = F.slice(F.split(F.col("p_name"), " "), 1, 2)
    struct_key = F.struct(
        F.col("p_type").alias("t"), F.col("p_size").alias("s")
    )
    w = W.orderBy(arr_key, struct_key, "p_partkey")
    return part.select(
        "p_partkey",
        F.concat_ws("|", arr_key).alias("akey"),
        F.row_number().over(w).alias("rk"),
    ).orderBy("rk")


def st14_chained_window_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAINED stateful streaming (Spark 3.5+ multiple stateful
    operators): hourly windowed aggregation feeding a SECOND
    event-time window aggregation (6-hour rollup over
    ``window_time``) in ONE streaming query — the
    coarse-over-fine rollup a metrics pipeline runs without a
    second job.  st06's far-future sentinel batch pushes the
    watermark past every real window so BOTH stateful layers flush
    in append mode; the sentinel's own far-future bucket is cut by
    the driver-known max timestamp.  Final counts/sums must match
    the batch 6-hour aggregate."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tmp = _scratch(spark, "st14")
    ev = _t(spark, sf_dir, "events")
    _write_single_parquet(ev, os.path.join(tmp, "b1"))
    max_us = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
    _write_sentinel_parquet(
        os.path.join(tmp, "b2"), -2, max_us + 86_400_000_000
    )
    now = os.path.getmtime(os.path.join(tmp, "b1"))
    for i, d in enumerate(("b1", "b2"), start=1):
        os.utime(os.path.join(tmp, d), (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema(_EVENTS_TS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(f"{tmp}/b*")
    )
    hourly = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n1"),
            F.sum("value").alias("v1"),
        )
    )
    six = (
        hourly.groupBy(
            F.window(F.window_time("window"), "6 hours").alias("w6")
        )
        .agg(
            F.sum("n1").alias("n_events"),
            F.round(F.sum("v1"), 2).alias("sum_value"),
        )
        .select(
            F.col("w6.start").alias("bucket_start"),
            "n_events",
            "sum_value",
        )
    )
    _drain_stream_to_table(six, "st14_out", mode="append")
    return (
        spark.table("st14_out")
        .filter(F.unix_micros("bucket_start") <= max_us)
        .orderBy("bucket_start")
    )


def _phased_running_totals(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    mod: int,
    n_keys: int,
    n_phases: int,
    partitions: int | None = None,
    ttl_ms: int | None = None,
) -> DataFrame:
    """st15/st16/st19's restart drill.  The ``event_id % mod == 0``
    slice becomes (key = user_id % n_keys, phase = event_id %
    n_phases, value); drain p appends exactly the phase-p rows as one
    new file and runs `streaming/stateful.py:running_totals_with_state`
    to completion, every drain on the SAME checkpoint.  The union of
    the drains' emissions equals the per-(key, phase) PREFIX totals
    only if each drain restored the earlier drains' state from the
    state store.  ``partitions`` (None: the session's own) sets the
    shuffle partitions, i.e. the state-store tasks, for the drains;
    per-key prefix sums do not depend on it.  Returns a frame over
    the collected rows; the scratch dir is removed."""
    import shutil

    from kinesis_log_streamer_spark.streaming.stateful import (
        running_totals_with_state,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = _scratch(spark, name)
    indir = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    outp = os.path.join(base, "out")
    os.makedirs(indir)
    os.makedirs(outp)

    payload = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % mod == 0)
        .select(
            (F.col("user_id") % n_keys).cast("int").alias("key"),
            (F.col("event_id") % n_phases).cast("int").alias("phase"),
            "value",
        )
    )
    window = (
        {} if partitions is None
        else {"spark.sql.shuffle.partitions": str(partitions)}
    )
    with _conf(spark, window):
        for p in range(n_phases):
            payload.filter(F.col("phase") == p).coalesce(1).write.mode(
                "append"
            ).parquet(indir)
            stream = (
                spark.readStream.schema("key int, phase int, value double")
                .format("parquet")
                .load(indir)
            )
            _drain(
                running_totals_with_state(stream, ttl_ms)
                .writeStream.foreachBatch(
                    lambda df, _id: df.write.mode("append").parquet(outp)
                )
                .option("checkpointLocation", ckpt)
                .outputMode("update")
            )

    # Materialize before dropping the dir (the driver re-collects the
    # returned frame after this function exits).
    rows = (
        spark.read.parquet(outp)
        .select("key", "phase", "running_n", "running_sum")
        .orderBy("key", "phase")
        .collect()
    )
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        rows, "key int, phase int, running_n long, running_sum double"
    ).orderBy("key", "phase")


def st15_state_across_restarts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arbitrary stateful streaming with its defining property under
    the oracle: state that survives QUERY RESTARTS.  Three sequential
    drains share one checkpoint (`_phased_running_totals`); the
    operator (`streaming/stateful.py:running_totals_with_state`,
    applyInPandasWithState) folds each batch into per-key running
    (count, sum) GroupState, so the union of the emissions equals the
    per-(key, phase) PREFIX aggregates only if phase-0/1 state was
    durably restored into drains 1/2.  Slice: event_id % 7 == 0,
    key = user_id % 50, phase = event_id % 3, the session's shuffle
    partitions.

    Scale: per-key state is three scalars in the state-store
    partitions; the same shape holds at any key cardinality."""
    return _phased_running_totals(spark, sf_dir, "st15", 7, 50, 3)


def st16_transform_with_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """st15's prefix-aggregate restart drill on a second slice with
    two drains: event_id % 11 == 0, key = user_id % 40, phase =
    event_id % 2, 8 state-store tasks instead of 32 for a 40-key
    state space (the prefix totals are per-key sums, partition-count
    invariant).  The name is kept because it is the registry and
    oracle key; the operator is
    `streaming/stateful.py:running_totals_with_state`
    (applyInPandasWithState).  Spark's transformWithState API speaks
    protobuf to the JVM state server, and google.protobuf is not in
    this image, so it has no path here.

    Scale: per-key state is three scalars in state-store partitions;
    shape holds at any key cardinality."""
    return _phased_running_totals(
        spark, sf_dir, "st16", 11, 40, 2, partitions=8
    )


def q121_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4.0): a per-returnflag metrics
    table flipped so each METRIC becomes a row keyed by the original
    column name, with one column per returnflag value — the
    wide-report orientation analysts export.  Spark coerces the value
    cells to the least-common type (double here); the oracle builds
    the identical transposed table by hand with conditional
    aggregation.  Scale note: transpose materializes |columns| rows
    from |rows| columns, so it is only for already-aggregated,
    bounded frames like this one — never a fact table."""
    li = _t(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n_items"),
        F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )
    return stats.transpose().orderBy("key")


def q123_lateral_join_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.lateralJoin`` (Spark 4.0) — the DataFrame-API twin
    of q60's SQL ``LATERAL``: for each filtered order, the top-2 line
    items by price from a correlated subquery
    (``F.col(...).outer()`` marks the outer reference) with ORDER BY
    + LIMIT evaluated PER OUTER ROW.  Catalyst decorrelates this to
    the same ranked-window plan the oracle states, so the sugar is
    plan-equivalent, not row-at-a-time."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 97 == 0
    ).select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    top2 = (
        li.where(F.col("o_orderkey").outer() == F.col("l_orderkey"))
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_linenumber"))
        .limit(2)
    )
    return (
        orders.lateralJoin(top2)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
        )
        .orderBy("o_orderkey", F.col("price").desc(), "l_linenumber")
    )


def q124_argminmax_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument-extrema aggregate surface: ``max_by``/``min_by`` (the
    SQL:2023 arg-extremum aggregates), ``mode`` and ``any_value`` —
    the "which row holds the extreme" family the rest of the registry
    only reaches via ranked windows (q42's max-by-window).  Tie-proof
    by construction: the extremum key packs (cents, orderkey) into
    one BIGINT so no two rows compare equal, mode targets
    o_orderstatus whose per-priority counts are far apart at every
    scale, and any_value reads an expression constant within the
    group.  One hash aggregate, no window, no shuffle beyond the
    group-by."""
    orders = _t(spark, sf_dir, "orders")
    # Pack in DECIMAL(38,0): cents (<= 10 digits, price is not
    # scale-dependent) * 1e18 + orderkey stays collision-free for any
    # orderkey < 1e18 — a BIGINT pack with a fixed 1e7 multiplier
    # breaks once orderkeys pass 10M (sf >= ~2) and ties go
    # nondeterministic across engines.
    packed = F.expr(
        "cast(round(o_totalprice * 100) as decimal(38,0))"
        " * 1000000000000000000 + o_orderkey"
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", packed).alias("priciest_order"),
            F.min_by("o_orderkey", packed).alias("cheapest_order"),
            F.mode("o_orderstatus").alias("modal_status"),
            F.any_value(F.substring("o_orderpriority", 1, 1)).alias(
                "prio_digit"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def q125_null_format_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-dispatch and locale-format scalar surface the q18/q102
    batteries don't touch: ``nvl2`` (three-way null dispatch),
    ``equal_null`` (null-safe equality as a FUNCTION, the expression
    form of q49's ``<=>`` join), ``initcap`` (word capitalization),
    and ``format_number`` (grouped thousands + fixed decimals).
    DuckDB has none of the last two natively, so the oracle states
    their SEMANTICS from scratch — initcap as a split/upper/lower
    rebuild, format_number as exact integer cents decomposed into
    grouped integer part and zero-padded fraction — which makes this
    a cross-implementation spec test, not a name-for-name alias
    check."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 101 == 0
    )
    opt_status = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return orders.select(
        "o_orderkey",
        F.expr("nvl2(nullif(o_orderstatus, 'O'), 'closed', 'open')").alias(
            "state"
        ),
        F.equal_null(opt_status, F.lit(None)).alias("is_open"),
        F.initcap(
            F.lower(
                F.concat_ws(
                    " ", F.col("o_orderpriority"), F.col("o_orderstatus"),
                    F.lit("of order"),
                )
            )
        ).alias("comment_title"),
        F.format_number(F.col("o_totalprice"), 2).alias("price_fmt"),
    ).orderBy("o_orderkey")


def q126_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4.0 ``BEGIN … END`` compound statements:
    session variables, WHILE control flow, scalar-subquery SET) doing
    real iterative work: double a price threshold until fewer than
    100 orders exceed it — the adaptive-cutoff search a report
    auto-scaler runs.  Every iterate is thr = 1000·2^k (exact float
    doubling), so the DuckDB oracle states the closed form: the
    smallest k whose exceed-count drops under 100, computed in one
    grouped FILTER aggregate.  The script's loop body runs whole
    Spark SQL statements — control flow on the driver, data flow
    distributed — which is the right split at any scale."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("klss_q126_orders")
    with _conf(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE thr DOUBLE DEFAULT 1000.0;
              DECLARE n BIGINT DEFAULT -1;
              SET n = (SELECT count(*) FROM klss_q126_orders
                       WHERE o_totalprice > thr);
              WHILE n >= 100 DO
                SET thr = thr * 2;
                SET n = (SELECT count(*) FROM klss_q126_orders
                         WHERE o_totalprice > thr);
              END WHILE;
              SELECT thr AS threshold, n AS n_above;
            END
            """
        )


def q127_generator_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER generator semantics (``posexplode_outer``): orders whose
    heavy-lineitem array is EMPTY must still emit one all-null row —
    the left-join-shaped explode an enrichment pipeline needs so
    parents without children survive the fan-out.  The array is
    ``array_sort``-ed before exploding (collect_list order is
    partition-dependent; sorting is what makes pos deterministic),
    and the oracle rebuilds pos with a ranked left join."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 89 == 0
    ).select("o_orderkey")
    heavy = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= 48
    ).select("l_orderkey", "l_linenumber", "l_quantity")
    # collect_list skips NULL elements but NOT structs of nulls — the
    # left join's no-match rows must collapse to a true NULL so
    # childless orders end with an EMPTY array (the outer case).
    item = F.when(
        F.col("l_orderkey").isNotNull(),
        F.struct("l_linenumber", "l_quantity"),
    )
    arr = (
        orders.join(heavy, orders.o_orderkey == heavy.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(F.array_sort(F.collect_list(item)).alias("items"))
    )
    return (
        arr.select(
            "o_orderkey", F.posexplode_outer("items").alias("pos", "it")
        )
        .select(
            "o_orderkey",
            "pos",
            F.col("it.l_linenumber").alias("l_linenumber"),
            F.round("it.l_quantity", 2).alias("qty"),
        )
        .orderBy("o_orderkey", "pos")
    )


def p07_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift monitor — the distribution-
    shift check a training-data pipeline runs between a baseline and
    a current batch before trusting new data: events split by id
    parity into baseline/current, values binned into 10 fixed-width
    buckets, PSI = Σ (p−q)·ln(p/q) over Laplace-smoothed shares
    ((cnt+1)/(n+10) — no zero bins, fully deterministic).  One
    grouped aggregate per half plus a 10-row join; at 100 TB the
    shuffle carries |event_types|·10 rows.  Rounded to 4 decimals
    (10-term float sum association — ACCEPTED-FP-RISK, see u04)."""
    ev = _t(spark, sf_dir, "events")
    binned = ev.select(
        "event_type",
        (F.col("event_id") % 2 == 0).alias("is_base"),
        F.least(F.floor(F.col("value") / 50).cast("int"), F.lit(9)).alias(
            "bin"
        ),
    )
    cnts = binned.groupBy("event_type", "bin").agg(
        F.count_if(F.col("is_base")).alias("nb"),
        F.count_if(~F.col("is_base")).alias("nc"),
    )
    tots = cnts.groupBy("event_type").agg(
        F.sum("nb").alias("tb"), F.sum("nc").alias("tc")
    )
    p = (F.col("nb") + 1) / (F.col("tb") + 10)
    q = (F.col("nc") + 1) / (F.col("tc") + 10)
    return (
        cnts.join(tots, "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.sum((p - q) * F.log(p / q)), 4).alias("psi"),
            F.sum("nb").alias("n_base"),
            F.sum("nc").alias("n_cur"),
        )
        .orderBy("event_type")
    )


def t26_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per source — the corpus-health diagnostic a
    text-pipeline audit runs (natural language tracks slope ≈ −1 in
    log-log rank/frequency; generated or corrupted text drifts): term
    frequencies ranked (freq desc, term asc — deterministic at tie
    boundaries), top-100 head, then ``regr_slope``/``regr_r2`` of
    ln(freq) on ln(rank).  One explode-count shuffle + one tiny
    window; the regression runs over ≤100 rows per source.  Rounded
    to 3 (regression sums reassociate across engines — q119's
    ACCEPTED-FP-RISK)."""
    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        "source", F.explode(D.tokens_col(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    freqs = terms.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("freq")
    )
    w = W.partitionBy("source").orderBy(F.desc("freq"), F.asc("term"))
    head = freqs.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 100
    )
    x = F.log(F.col("rk").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    return (
        head.groupBy("source")
        .agg(
            F.round(F.regr_slope(y, x), 3).alias("zipf_slope"),
            F.round(F.regr_r2(y, x), 3).alias("fit_r2"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .orderBy("source")
    )


def w06_decay_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decay weighted aggregates — the freshness weighting a
    training-data mixer applies (half-life 30 days): weight =
    2^(−age_days/30) with age in EXACT integer days from the corpus
    max timestamp (integer µs arithmetic — no float date math), so
    the only cross-engine float work is one exp2 per distinct age and
    the rounded weighted sums.  Shape: a broadcast scalar anchor + one
    hash aggregate; identical at any scale."""
    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.unix_micros("ts")).alias("amax"))
    aged = ev.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        "value",
        F.expr("(amax - unix_micros(ts)) DIV 86400000000").alias("age_d"),
    )
    wgt = F.pow(F.lit(2.0), -F.col("age_d").cast("double") / 30.0)
    return (
        aged.groupBy("event_type")
        .agg(
            F.round(F.sum(F.col("value") * wgt), 2).alias("weighted_sum"),
            F.round(F.sum(wgt), 2).alias("effective_n"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


def q128_try_parse_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant PARSING (the ingest face of q75/q103's
    error-tolerant arithmetic): ``try_to_timestamp`` with an explicit
    pattern and ``try_to_number`` with a grouped money format, each
    fed a deterministic mix of valid and corrupted strings built from
    the data itself — invalid inputs must yield NULL, never raise.
    The oracle parses with DuckDB's independent implementations
    (``try_strptime``; comma-strip + TRY_CAST), so the two engines'
    notions of 'parseable' are pinned against each other on every
    row."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 17 == 0
    )
    s_date = F.when(
        F.col("o_orderkey") % 3 == 0,
        F.concat(F.lit("99/99/"), F.date_format("o_orderdate", "yyyy")),
    ).otherwise(F.date_format("o_orderdate", "dd/MM/yyyy"))
    s_num = F.when(
        F.col("o_orderkey") % 5 == 0,
        F.concat(F.lit("x"), F.format_number(F.col("o_totalprice"), 2)),
    ).otherwise(F.format_number(F.col("o_totalprice"), 2))
    parsed = F.try_to_timestamp(s_date, F.lit("dd/MM/yyyy"))
    amount = F.try_to_number(s_num, F.lit("999,999,999.99")).cast("double")
    return orders.select(
        "o_orderkey",
        parsed.alias("parsed_date"),
        amount.alias("amount"),
        parsed.isNotNull().cast("int").alias("ok_date"),
        amount.isNotNull().cast("int").alias("ok_num"),
    ).orderBy("o_orderkey")


def w07_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED percentiles — the quantile a pipeline needs once
    rows carry importance weights (sampling corrections, duplication
    counts): ``percentile(value, p, frequency)`` with a deterministic
    integer weight, per event type.  Spark computes it directly from
    (value, weight) pairs; the oracle EXPANDS each row ``w`` times and
    takes plain ``quantile_cont`` — the two formulations are
    definitionally equal, so the hash match pins Spark's frequency
    semantics against the multiset definition rather than against a
    re-implementation of itself.  Scale: the direct form shuffles one
    (value, weight) pair per row; the expansion exists only on the
    oracle side."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "value",
        ((F.col("event_id") % 3) + 1).cast("int").alias("w"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5, w)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9, w)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99, w)"), 4).alias("p99"),
            F.sum("w").alias("total_weight"),
        )
        .orderBy("event_type")
    )


def q129_nested_struct_update(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """In-place NESTED-STRUCT evolution (``Column.withField`` /
    ``dropFields``, incl. dotted paths into sub-structs) — how a
    pipeline amends one leaf of a deep schema without exploding and
    rebuilding the whole tree (the rebuild is what breaks nested
    column pruning at scale, f21's concern).  The evolved struct goes
    on the wire as ``to_json``, so field ORDER, the appended field,
    the updated nested leaf, and the DROPPED leaf are all pinned
    byte-for-byte; every field is a string, so the oracle constructs
    the exact JSON text from scratch."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 31 == 0
    )
    price_str = F.col("o_totalprice").cast("decimal(18,2)").cast("string")
    s = F.struct(
        F.col("o_orderkey").cast("string").alias("id"),
        price_str.alias("price"),
        F.struct(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderstatus").alias("status"),
        ).alias("meta"),
    )
    evolved = (
        s.withField("meta.prio", F.lower(F.col("o_orderpriority")))
        .withField("tier", F.substring("o_orderpriority", 1, 1))
        .dropFields("meta.status")
    )
    return orders.select(
        "o_orderkey", F.to_json(evolved).alias("shape")
    ).orderBy("o_orderkey")


def u10_table_arg_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF with a TABLE ARGUMENT (Spark 3.5 table-valued function
    input): ``PARTITION BY`` routes each event-type partition through
    one UDTF instance, which aggregates in ``eval`` and emits its
    summary from ``terminate`` — the Python escape hatch for
    whole-partition logic the SQL aggregate surface can't express
    (here deliberately an oracle-checkable count/sum)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="event_type string, n long, sum_k long")
    class TypeStats:
        def __init__(self) -> None:
            self._n = 0
            self._s = 0
            self._t = None

        def eval(self, row) -> None:
            self._t = row["event_type"]
            self._n += 1
            if row["k"] is not None:
                self._s += int(row["k"])

        def terminate(self):
            if self._t is not None:
                yield (self._t, self._n, self._s)

    spark.udtf.register("klss_u10_stats", TypeStats)
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    ev.createOrReplaceTempView("klss_u10_events")
    return spark.sql(
        """
        SELECT event_type, n, sum_k
        FROM klss_u10_stats(TABLE(klss_u10_events)
                            PARTITION BY event_type)
        ORDER BY event_type
        """
    )


def m06_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-shaped multimodal pass: per-FRAME energy
    (`operators/multimodal.py:audio_frame_energy`, Arrow
    ``mapInPandas``) over binary payloads — 8-sample frames, integer
    sum-of-squares.  The payload is the md5 digest text (m01–m05
    convention), so the oracle recomputes every frame energy from
    the ASCII codes of the digest text — the full binary→Python→
    Arrow→rows plumbing is exercised with hash-exact output."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    ).withColumn("payload_src", F.md5(F.col("text")))
    media = M.attach_binary_payload(
        docs, text_col="payload_src", kind="digest"
    )
    return M.audio_frame_energy(media, frame_bytes=8).orderBy(
        "doc_id", "frame_no"
    )


def s17_random_projection_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Random-projection DIMENSIONALITY REDUCTION (64→16) with a
    Johnson-Lindenstrauss distortion gate — the cheap dim-reduce an
    embedding pipeline runs before ANN indexing.  The projection
    matrix is ±1 entries derived from md5 parity (both engines build
    the SAME matrix), vectors are quantized to integers (⌊x·1000⌋),
    so projections, squared distances, and the per-pair distortion
    ratio (per-mille of d²proj/(16·d²orig)) are EXACT integers —
    no fp can diverge.

    Scale: the sign matrix is 64×16 = 1024 rows broadcast; the
    projection is posexplode + equi-join + hash-agg (never a
    driver-side matrix op); the exact-distance verifier leg is capped
    at a FIXED k=50 ids → 1 225 pairs at ANY corpus scale."""
    emb = _t(spark, sf_dir, "embeddings").orderBy("vec_id").limit(50)
    vq = emb.select(
        "vec_id",
        # float→double FIRST (exact), then ×1000 in double — float
        # arithmetic would round differently from DuckDB's doubles.
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000).cast("long"),
        ).alias("v"),
    )
    signs = (
        spark.range(64)
        .select(F.col("id").cast("int").alias("j"))
        .crossJoin(
            spark.range(16).select(F.col("id").cast("int").alias("k"))
        )
        .select(
            "j",
            "k",
            (
                1
                - 2
                * (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    F.col("j").cast("string"),
                                    F.col("k").cast("string"),
                                )
                            ),
                            32,
                            1,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 2
                )
            ).alias("s"),
        )
    )
    long_v = vq.select(
        "vec_id", F.posexplode("v").alias("j", "x")
    )
    proj = (
        long_v.join(F.broadcast(signs), "j")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("x") * F.col("s")).alias("y"))
    )
    pa = proj.select(
        F.col("vec_id").alias("id_a"), "k", F.col("y").alias("ya")
    )
    pb = proj.select(
        F.col("vec_id").alias("id_b"), "k", F.col("y").alias("yb")
    )
    dproj = (
        pa.join(pb, "k")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                (F.col("ya") - F.col("yb"))
                * (F.col("ya") - F.col("yb"))
            ).alias("dproj2")
        )
    )
    va = vq.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = vq.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    dorig = (
        va.crossJoin(vb)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.aggregate(
                F.zip_with(
                    "va", "vb", lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dorig2"),
        )
    )
    return (
        dproj.join(dorig, ["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            "dorig2",
            "dproj2",
            F.expr(
                "(2000 * dproj2 + 16 * dorig2) div (32 * dorig2)"
            ).alias("ratio_pm"),
        )
        .orderBy("id_a", "id_b")
    )


def d16_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-cluster SIZE DISTRIBUTION — the dedup-run telemetry
    a corpus build publishes (how much of the corpus sits in
    2-member families vs large boilerplate blobs): d05's full
    LSH→verify→connected-components pipeline, rolled up to
    |clusters| per size.  Two extra |clusters|-sized hash-aggs on
    top of the verified pipeline; the oracle reuses the identical
    recursive-CTE clustering."""
    docs = _t(spark, sf_dir, "documents")
    edges = D.portable_minhash_star_edges(docs)
    clusters = G.dedup_clusters(edges, docs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


def q119_regression_aggregates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear-regression aggregate family (q40's second half):
    ``regr_slope`` / ``regr_intercept`` / ``regr_r2`` /
    ``regr_count`` of price on quantity per return flag — the
    one-pass OLS the SQL standard ships, against DuckDB's
    independent implementation (rounded like q40's moments)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.regr_slope("l_extendedprice", "l_quantity"), 4
            ).alias("slope"),
            F.round(
                F.regr_intercept("l_extendedprice", "l_quantity"), 4
            ).alias("intercept"),
            F.round(
                F.regr_r2("l_extendedprice", "l_quantity"), 6
            ).alias("r2"),
            F.regr_count("l_extendedprice", "l_quantity").alias(
                "n_pairs"
            ),
        )
        .orderBy("l_returnflag")
    )


def q120_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4.0 ``|>`` operators): the linear
    FROM → WHERE → AGGREGATE → ORDER BY chain — the
    dataflow-reading-order dialect.  Must produce exactly what the
    classic nested form (the oracle) produces: the sugar parses to
    the same plan."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("klss_q120_li")
    return spark.sql(
        """
        FROM klss_q120_li
        |> WHERE l_quantity >= 30
        |> AGGREGATE count(*) AS n,
                     round(sum(l_extendedprice), 2) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

class _PartFilesStream:
    """Byte stream over written part files — bounded reads only,
    mirroring a stdin pipe (shared by i07 and the l20 composition)."""

    def __init__(self, d: str) -> None:
        import os

        self._paths = sorted(
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.startswith("part-")
        )
        self._fh = None

    def read(self, n: int) -> bytes:
        while True:
            if self._fh is None:
                if not self._paths:
                    return b""
                self._fh = open(self._paths.pop(0), "rb")  # noqa: SIM115
            chunk = self._fh.read(n)
            if chunk:
                return chunk
            self._fh.close()
            self._fh = None


def i07_stdin_spool_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLI data path's spool stage under the oracle gate
    (round-5 C1 fix; `streaming/stdin_spool.py`): a concatenated-JSON
    byte stream is fed to ``StdinSpooler`` in 97-byte chunks — far
    smaller than most records, so nearly every record is split across
    chunk boundaries and the splitter's carry
    (``json_source.split_json_values``, jsonstreamer.go:34-49's loop)
    is exercised on every value.  The
    spooled landing files are then read back DISTRIBUTED
    (``spark.read.text``), parsed, and aggregated; the oracle computes
    the same rollup from the events table directly, so one torn,
    dropped, or duplicated record anywhere in chunk→carry→land→scan
    breaks the hash.

    Scale: the spool stage is the CLI driver's stdin tail — inherently
    single-stream (one pipe) and O(chunk) memory; everything after the
    landing dir is ordinary distributed scan."""
    from kinesis_log_streamer_spark.streaming.stdin_spool import StdinSpooler

    base = _scratch(spark, "i07")
    src = os.path.join(base, "src")
    landing = os.path.join(base, "landing")
    os.makedirs(landing)

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    payload = ev.select(
        F.to_json(F.struct("event_id", "event_type", "value")).alias("value")
    )
    payload.write.text(src)

    StdinSpooler(
        _PartFilesStream(src), landing, fmt="json", chunk_bytes=97
    ).run()

    parsed = spark.read.text(landing).select(
        F.from_json(
            "value", "event_id long, event_type string, value double"
        ).alias("r")
    )
    return (
        parsed.groupBy(F.col("r.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("r.event_id").alias("n_distinct"),
            F.round(F.sum("r.value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def p08_dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DATA-QUALITY RULE SUITE — the constraint-validation
    pass (great-expectations style) a production pipeline runs before
    publishing a table: each rule is a boolean expression, and ONE
    full scan per table evaluates every rule as a conditional
    aggregate (no per-rule re-scan, no shuffle beyond the final
    1-row-per-rule union).  Reported per rule: rows checked,
    violations, and pass/fail against a zero-violation policy.

    Scale: sum(CASE WHEN ...) folds map-side; adding a rule adds one
    aggregate expression, not one pass — exactly how a 100 TB table
    gets 50 rules for the price of one scan."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")

    def suite(df, table, rules):
        aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
        for name, cond in rules:
            aggs.append(
                F.sum(F.when(~cond, 1).otherwise(0))
                .cast("long")
                .alias(name)
            )
        row = df.agg(*aggs)
        # Unpivot the single metrics row with stack() — a union of
        # per-rule selects would re-execute the aggregate and scan
        # the table once PER RULE (the r5 plan audit caught exactly
        # that: 8 scans); stack keeps it at one scan per table.
        pairs = ", ".join(f"'{name}', {name}" for name, _ in rules)
        return row.selectExpr(
            f"'{table}' as table_name",
            f"stack({len(rules)}, {pairs}) as (rule, violations)",
            "n_rows",
        ).select(
            "table_name",
            "rule",
            "n_rows",
            "violations",
            (F.col("violations") == 0).cast("int").alias("passed"),
        )

    li_rules = [
        ("qty_in_range", F.col("l_quantity").between(1, 50)),
        (
            "shipdate_in_range",
            F.col("l_shipdate").between("1992-01-01", "1998-12-31"),
        ),
        ("discount_in_range", F.col("l_discount").between(0.0, 0.1)),
        ("price_positive", F.col("l_extendedprice") > 0),
        ("tax_lt_discounted", F.col("l_tax") < 1.0),
    ]
    o_rules = [
        ("total_positive", F.col("o_totalprice") > 0),
        ("status_known", F.col("o_orderstatus").isin("O", "F", "P")),
        ("priority_wellformed", F.col("o_orderpriority").rlike("^[1-5]-")),
    ]
    return (
        suite(li, "lineitem", li_rules)
        .unionAll(suite(orders, "orders", o_rules))
        .orderBy("table_name", "rule")
    )


def q130_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``listagg(... ORDER BY ...)`` — the SQL:2023 ordered string
    aggregation added in Spark 4: per region, the alphabetized
    nation roster as one delimited string, plus listagg over an
    expression with a non-default separator.  Deterministic by the
    explicit WITHIN GROUP order (an unordered listagg would be
    partition-order-dependent and unhashable cross-engine).

    Scale: ordered listagg needs the group's values together — a sort
    within each hash-agg group, fine for enum-sized rosters; at 100 TB
    you'd cap group cardinality first (it is a presentation
    aggregate, not an analytic one)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr(
                "listagg(n_name, ',') within group (order by n_name)"
            ).alias("nations"),
            F.expr(
                "listagg(lower(n_name), '|')"
                " within group (order by n_nationkey desc)"
            ).alias("nations_by_key_desc"),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("r_name")
    )


def q131_time_grid_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAP-FILLED time series (the timescale-style ``time_bucket_
    gapfill`` + LOCF shape): per event_type, a complete daily grid is
    generated with ``sequence``/``explode`` over the observed span,
    left-joined to the daily rollup, then missing days get count 0
    and a LOCF (last-observation-carried-forward) value via
    ``last_value(..., ignoreNulls)`` over an unbounded-preceding
    window.  The missing-day flag is reported so the oracle pins both
    the grid completeness and the fill semantics.

    Scale: the grid explodes ~span/day rows per type (tiny), the join
    is grid⋈rollup on (type, day) — both sides pre-aggregated, and
    the LOCF window partitions by type so state never crosses keys."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("day_value"),
    )
    span = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "event_type",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day"),
    )
    joined = grid.join(daily, ["event_type", "day"], "left")
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "event_type",
        "day",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        F.col("n").isNull().cast("int").alias("gap_filled"),
        F.last("day_value", ignorenulls=True).over(w).alias("locf_value"),
    ).orderBy("event_type", "day")


def d19_lsh_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH RECALL measured against exact truth — the eval that
    closes the dedup family's last open question: d04 proves the
    exact Jaccard, d05 hash-verifies the banding mechanics, the t17
    gate bounds the estimator — but none of them MEASURES how many
    true near-dup pairs the 3-band × 2-row banding actually catches.
    Over the fixed-k cohort (500 smallest doc_ids — wide enough that
    the corpus's uniformly-spread dup partners co-occur): truth = all
    cohort pairs with 3-gram Jaccard ≥ 0.5; caught =
    `portable_minhash_pairs` output (banded candidates ∩ truth by
    construction, since its verify stage applies the same ≥ 0.5
    filter).  Reports integer per-mille recall and a gate at the
    theoretical single-pair floor 1−(1−J²)³ |_{J=0.5} ≈ 578 ‰ (the
    truth distribution skews to high-J planted dups, so measured
    recall sits at 1000 ‰ on this corpus).  n_true thins as the
    corpus outgrows the fixed cohort (28 pairs at sf0.001 → 1 at
    sf0.1); the division is guarded and an empty truth set passes
    vacuously — the gate's evidentiary weight lives at the small SFs.

    Scale: truth is the O(k²)-capped verifier leg (≤124 750 pairs at
    ANY corpus size); caught is the production equi-join pipeline."""
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id").limit(500)
    caught = D.portable_minhash_pairs(docs)
    tok = D.tokens_col(F.col("text"))
    with_sh = docs.filter(F.size(tok) >= 3).select(
        F.col("doc_id").alias("id"),
        F.array_distinct(D.shingles_col(tok, 3)).alias("sh"),
    )
    a = with_sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = with_sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b")))
    # Exact-safe size prefilter: J >= 0.5 forces |A|/|B| within 2x
    # (J <= min/max), so the cheap length test short-circuits the
    # set intersection on the overwhelming majority of pairs.  A
    # semantic no-op — the oracle needs no mirror.
    sizes_ok = (
        F.size("sh_a") <= 2 * F.size("sh_b")
    ) & (F.size("sh_b") <= 2 * F.size("sh_a"))
    truth = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(sizes_ok)
        .filter(inter.cast("double") / union >= 0.5)
        .select("id_a", "id_b")
    )
    hit = truth.join(caught, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).alias("n_true"))
    h = hit.agg(F.count(F.lit(1)).alias("n_caught"))
    pm = "(2*1000*n_caught + n_true) div (2*greatest(n_true, 1))"
    return t.crossJoin(h).select(
        "n_true",
        "n_caught",
        F.expr(pm).alias("recall_pm"),
        F.expr(
            f"cast(n_true = 0 or {pm} >= 578 as int)"
        ).alias("recall_ok"),
    )


def g06_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous LABEL PROPAGATION
    (`operators/graph.py:label_propagation`) over the q56/g02–g05
    interaction graph — the graph family's clustering member (CC finds
    connectivity; LPA finds dense communities WITHIN a component).
    Three fixed synchronous rounds: each node adopts its neighbors'
    most frequent label, ties to the smallest label — deterministic
    by construction (fixed horizon + total-order tie-break), so the
    oracle unrolls the identical three rounds as plain SQL and the
    full 100-node assignment hash-matches.

    Scale: per round one equi-join + hash-agg + per-node top-1
    window, all partitioned on node id; state is one long per node."""
    from kinesis_log_streamer_spark.operators.graph import label_propagation

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 100).alias("src"),
        (F.get_json_object("props", "$.k").cast("long") % 100).alias(
            "dst"
        ),
    )
    edges = ev.na.drop().filter(F.col("src") != F.col("dst"))
    out = label_propagation(edges, iterations=3)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    ).orderBy("node")


def l18_clf_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache COMBINED-LOG-FORMAT round trip — the reference's
    flagship upstream schema (README.md:13-24, httpd.conf:192-204
    pipe the CustomLog straight into the tool): each event is
    rendered as one combined-log line (``format_string``, pure JVM),
    parsed back by the canonical one-regexp CLF parser
    (``regexp_extract`` groups: ip, identity, user, ts, method, path,
    proto, status, bytes, referer, agent), and rolled up per
    (handler, status).  The oracle computes the identical rollup
    DIRECTLY from events — so one mis-grouped regexp capture, a
    locale-shifted timestamp render, or a dropped quote anywhere in
    build→parse breaks the hash.

    Scale: both legs are scan-local projections inside whole-stage
    codegen; the only shuffle is the final aggregation on
    (handler, status) — the same plan at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    status = F.when(F.col("event_type") == "error", 500 + F.col("event_id") % 3).otherwise(
        F.when(F.col("event_id") % 7 == 0, F.lit(404)).otherwise(F.lit(200))
    ).cast("int")
    line = F.format_string(
        '10.0.%d.%d - user%d [%s] "GET /%s/%d HTTP/1.1" %d %d "-" "agent/%d"',
        F.col("user_id") % 256,
        F.col("event_id") % 256,
        F.col("user_id"),
        F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss Z"),
        F.col("event_type"),
        F.col("event_id") % 100,
        status,
        F.round(F.col("value") * 100).cast("long"),
        F.col("user_id") % 7,
    )
    logs = ev.select(line.alias("log_line"))
    clf = (
        r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "(\S+) (\S+) (\S+)" '
        r'(\d{3}) (\d+|-) "([^"]*)" "([^"]*)"$'
    )
    g = lambda i: F.regexp_extract("log_line", clf, i)  # noqa: E731
    parsed = logs.select(
        g(1).alias("ip"),
        g(5).alias("method"),
        F.regexp_extract(g(6), r"^/([^/]+)/", 1).alias("handler"),
        g(8).cast("int").alias("status"),
        g(9).cast("long").alias("bytes"),
        g(11).alias("agent"),
    )
    return (
        parsed.groupBy("handler", "status")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum("bytes").alias("total_bytes"),
            F.countDistinct("ip").alias("n_ips"),
            F.countDistinct("agent").alias("n_agents"),
        )
        .orderBy("handler", "status")
    )


def d20_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs WITHOUT any all-pairs
    stage: PPJoin-style PREFIX FILTERING (Xiao et al., "Efficient
    Similarity Joins for Near Duplicate Detection", WWW'08).  For
    threshold t, two shingle sets with J ≥ t must share at least one
    element among each set's first ``|d| − ⌈t·|d|⌉ + 1`` shingles
    when every document orders its shingles by the SAME global rank
    (rarest first) — so candidates come from an equi-join on PREFIX
    shingles only, then the exact Jaccard (array_intersect on the
    full sets) verifies.  Completeness is guaranteed by the prefix
    lemma; the oracle recomputes truth by brute force from the raw
    text, so a wrong prefix length or rank ordering shows up as a
    missing pair.

    This is the exact-dedup complement to the estimators: d02/d19
    (MinHash LSH) trade recall for speed; d20 keeps exactness and
    still never goes O(n²).

    COMPARATOR CHOICE: the lemma holds for ANY corpus-wide total
    order, so the prefix is computed SCAN-LOCALLY (array_sort +
    slice — zero shuffles, no global state) under the lexicographic
    order.  The classic rarest-first (global-df) order minimizes
    prefix-join fan-out but costs a full shingle aggregation plus a
    join; measured here it is 3-5x slower end-to-end while producing
    the identical pair set (both variants timed at sf0.1, round 6).
    On a skewed 100 TB corpus where boilerplate shingles would make
    lexicographic prefixes hot, swap the sort key to (global df, s)
    — one extra agg + broadcast join, same lemma, same verify.

    Scale: prefix build is embarrassingly parallel in the scan; the
    candidate equi-join shuffles on the shingle (the inverted
    index); the exact verify touches candidate pairs only."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 13 == 0)
    t = 0.6
    tok = D.tokens_col(F.col("text"))
    sh = docs.filter(F.size(tok) >= 3).select(
        F.col("doc_id").alias("id"),
        F.array_sort(F.array_distinct(D.shingles_col(tok, 3))).alias("sh"),
    )
    # prefix length |d| - ceil(t*|d|) + 1, sliced off the sorted set
    plen = F.size("sh") - F.ceil(F.lit(t) * F.size("sh")) + 1
    prefix = sh.select("id", F.explode(F.slice("sh", 1, plen)).alias("s"))
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .distinct()
    )
    full = sh.select(F.col("id"), F.col("sh"))
    pairs = (
        cand.join(full.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(full.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    # Threshold on the RAW ratio (rounding only for display): a pair
    # at J = 0.5999 must fail identically here and in the oracle.
    return (
        pairs.filter(inter / union >= t)
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


def q132_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET-OPERATION cardinality (Spark 4.1 Apache
    DataSketches surface: ``theta_sketch_agg`` / ``theta_union`` /
    ``theta_intersection`` / ``theta_difference``) under an exactness
    gate — the capability HLL (q64) structurally lacks: HLL unions
    merge, but only theta retains enough hash structure to estimate
    INTERSECTIONS and DIFFERENCES of distinct sets, the shape "how
    many customers are in both cohorts" takes at 100 TB without a
    distinct-join.  Two order cohorts (URGENT priority; high-value),
    one sketch each built by partial agg (partition-invariant —
    verified by construction of the KMV retention), then |A|, |B|,
    |A∪B|, |A∩B|, |A∖B| estimated from the two sketches alone and
    gated against the exact counts the oracle recomputes.  Tolerances
    follow the theta error model (ADVICE r06): direct estimates
    (A, B, A∪B) get 3σ of their OWN cardinality (RSE ≈ 1/√k, k=4096
    at the default lgK 12 → ~4.7 %); intersection/difference
    estimation error scales with the UNION's cardinality, not the
    result's — two large cohorts with a small true overlap
    legitimately miss by a multiple of the overlap — so A∩B and A∖B
    are gated at 3σ of |A∪B| (max(5, …) floors tiny sets).  Output =
    exact counts + gate booleans (estimates themselves are
    engine-internal, so the hashable surface is the gate contract,
    q61/q64's pattern).

    Scale: each cohort collapses to one ≤4 KiB sketch; set algebra on
    sketches is O(k); the exact twin (distinct + intersect) exists
    only as the gate's reference leg."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_totalprice") > 150000).select("o_custkey")
    ska = a.agg(F.theta_sketch_agg("o_custkey").alias("ska"))
    skb = b.agg(F.theta_sketch_agg("o_custkey").alias("skb"))
    est = ska.crossJoin(skb).select(
        F.theta_sketch_estimate("ska").alias("est_a"),
        F.theta_sketch_estimate("skb").alias("est_b"),
        F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias("est_u"),
        F.theta_sketch_estimate(F.theta_intersection("ska", "skb")).alias(
            "est_i"
        ),
        F.theta_sketch_estimate(F.theta_difference("ska", "skb")).alias(
            "est_d"
        ),
    )
    # Exact reference leg: full-outer join of the two distinct
    # cohorts, then membership-flag counts — and ONE driver action for
    # the whole query (exact 1-row x estimate 1-row crossJoin), not a
    # separate job per leg.
    exact = (
        a.distinct()
        .withColumn("ia", F.lit(1))
        .join(
            b.distinct().withColumn("ib", F.lit(1)),
            "o_custkey",
            "full_outer",
        )
        .agg(
            F.count("ia").alias("na"),
            F.count("ib").alias("nb"),
            F.count(
                F.when(F.col("ia").isNotNull() & F.col("ib").isNotNull(), 1)
            ).alias("ni"),
        )
    )
    r = exact.crossJoin(est).collect()[0]
    na, nb, ni = r.na, r.nb, r.ni
    nu = na + nb - ni
    nd = na - ni

    three_sigma = 3.0 / (4096.0 ** 0.5)  # default lgK=12 → k=4096

    def ok(e: int, x: int, scale: int) -> int:
        return int(abs(e - x) <= max(5.0, three_sigma * scale))

    return spark.createDataFrame(
        [
            (
                na, nb, nu, ni, nd,
                ok(r.est_a, na, na), ok(r.est_b, nb, nb),
                ok(r.est_u, nu, nu),
                ok(r.est_i, ni, nu), ok(r.est_d, nd, nu),
            )
        ],
        "n_a long, n_b long, n_union long, n_inter long, n_diff long, "
        "ok_a int, ok_b int, ok_union int, ok_inter int, ok_diff int",
    )


def q133_file_metadata_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hidden ``_metadata`` FILE column (Spark's per-file
    provenance: path, name, size, modification time) driving a
    files-per-partition audit — the lineage query a 100 TB lakehouse
    runs to map logical partitions onto physical files without
    touching a catalog.  Events are laid out as date-partitioned
    parquet (one file per date by construction), read back with
    ``_metadata`` selected, and each row's file is attributed back to
    its partition by parsing ``event_date=`` out of
    ``_metadata.file_path``; per-date (n_files, n_rows, rows=file
    rows) must then reconcile exactly with the oracle's direct
    per-date aggregate — a misattributed file or a row split across
    files breaks the hash.

    Scale: ``_metadata`` is populated by the scan itself (no extra
    I/O); the audit is one aggregation on the partition key."""
    import shutil

    base = _scratch(spark, "q133")
    out = os.path.join(base, "ev")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.to_date("ts").alias("event_date"), "value"
    )
    (
        ev.repartition("event_date")
        .sortWithinPartitions("event_date")
        .write.partitionBy("event_date")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        F.col("event_id"),
        F.regexp_extract(
            F.col("_metadata.file_path"), r"event_date=([0-9-]+)/", 1
        ).alias("event_date"),
        F.col("_metadata.file_name").alias("file_name"),
    )
    result = (
        back.groupBy("event_date")
        .agg(
            F.countDistinct("file_name").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
        )
        .orderBy("event_date")
    )
    rows = result.collect()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "event_date string, n_files long, n_rows long, "
        "min_event long, max_event long",
    ).orderBy("event_date")


def q134_scalar_subquery_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.scalar()`` (Spark 4.1) — the DataFrame-API scalar
    subquery: an aggregate DataFrame used directly AS A COLUMN inside
    another query's expressions, the declarative twin of SQL's
    ``(SELECT avg(...) FROM ...)``.  Orders priced above 1.5x the
    global average order price, bucketed per priority with each
    bucket's lift over that same scalar — Catalyst plans the scalar
    once (subquery reuse), not per consumer.

    Scale: the scalar is a 1-row broadcast; no shape change at any
    corpus size."""
    o = _t(spark, sf_dir, "orders")
    avg_price = o.agg(F.avg("o_totalprice"))
    picked = o.filter(
        F.col("o_totalprice") > 1.5 * avg_price.scalar()
    )
    return (
        picked.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.avg(F.col("o_totalprice") / avg_price.scalar()), 4
            ).alias("avg_lift"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Codec round-trip, statestore reader, approx_top_k
# ---------------------------------------------------------------------------


def f24_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec round-trip on the sink-record shape: each order is packed
    into a struct, serialized to a BINARY wire column, deserialized
    back, and the rollup is computed from the PARSED columns only — a
    corrupted byte, a dropped field, or a schema drift in the
    round-trip breaks the oracle hash.

    The codec is JSON (`to_json` cast to binary, `from_json` over the
    string cast).  The name is kept because it is the registry and
    oracle key: this image ships avro-core but not the spark-avro
    connector, so `to_avro` fails analysis here.

    Scale: serialization is a narrow per-row projection inside
    whole-stage codegen; the only shuffle is the 5-group rollup."""
    rec = F.struct(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.col("o_totalprice").alias("v"),
    )
    wire = _t(spark, sf_dir, "orders").select(
        F.to_json(rec).cast("binary").alias("bin")
    )
    parsed = wire.select(
        F.from_json(
            F.col("bin").cast("string"), "k long, p string, v double"
        ).alias("r")
    )
    return (
        parsed.select("r.k", "r.p", "r.v")
        .groupBy(F.col("p").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("k").alias("n_keys"),
            F.round(F.sum("v"), 2).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


def _statestore_reconcile(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    mod: int | None = None,
    settings: dict | None = None,
) -> DataFrame:
    """st17/st18's drill: drain a checkpointed per-event_type count
    over the events stream (``event_id % mod == 0`` when ``mod`` is
    given) into the memory sink ``<name>_out``, read the checkpoint's
    state rows BACK with ``spark.read.format("statestore")``, and join
    them to the batch count.  ``state_ok`` is 1 where the persisted
    count equals the batch count.  The drain and the read run in one
    conf window: 8 shuffle partitions (state-store tasks) plus
    ``settings``.  The checkpoint is removed before returning."""
    import shutil

    from kinesis_log_streamer_spark.streaming.pipeline import (
        read_events_stream,
    )

    def sliced(df: DataFrame) -> DataFrame:
        return df if mod is None else df.filter(F.col("event_id") % mod == 0)

    agg = (
        sliced(read_events_stream(spark, sf_dir))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ckpt = _scratch(spark, name)
    sink = name + "_out"
    spark.catalog.dropTempView(sink)
    window = {"spark.sql.shuffle.partitions": "8", **(settings or {})}
    try:
        with _conf(spark, window):
            _drain(
                agg.writeStream.format("memory")
                .queryName(sink)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
            )
            state_rows = [
                (r.event_type, r.state_n)
                for r in spark.read.format("statestore")
                .load(ckpt)
                .select(
                    F.col("key.event_type").alias("event_type"),
                    F.col("value.count").alias("state_n"),
                )
                .collect()
            ]
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    state_df = spark.createDataFrame(
        state_rows, "event_type string, state_n long"
    )
    batch = (
        sliced(_t(spark, sf_dir, "events"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        batch.join(F.broadcast(state_df), "event_type", "left")
        .select(
            "event_type",
            "n_events",
            # coalesce: a batch key absent from the state rows must read
            # state_ok=0 (the documented bad marker), not NULL — the left
            # join would otherwise null the comparison (ADVICE r8 low #3).
            F.coalesce(
                (F.col("state_n") == F.col("n_events")).cast("int"),
                F.lit(0),
            ).alias("state_ok"),
        )
        .orderBy("event_type")
    )


def st17_statestore_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 STATE STORE READER (`spark.read.format(
    "statestore")`) — the operational debugging surface for every
    stateful query shipped in the st-family: drain a checkpointed
    streaming count over events, then read the checkpoint's state
    rows BACK from disk and reconcile them against the batch
    aggregate (`_statestore_reconcile`).  A state row the engine
    persisted wrong, or a key lost by the store, breaks the oracle
    hash — this is the "is my state what I think it is" query every
    streaming user eventually runs.  Output comes FROM THE STATE ROWS
    (key.event_type, value.count), not the memory sink.

    Scale: state-reader scans are per-partition parallel reads of the
    HDFS state store; the reconcile is a 5-row broadcast join."""
    return _statestore_reconcile(spark, sf_dir, "st17")


def q135_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches FREQUENT-ITEMS top-k (`approx_top_k`, the Spark
    4.1 SQL surface beside the q61/q64/q132 sketch gates — VERDICT
    r06 #8): per-handler event counts, top 10 by frequency.  The
    whole output hash-matches DuckDB's exact top-10 because of two
    deliberate choices documented here:

    * CAPACITY-EXACTNESS: the key space (event_type × user_id%20,
      ≤100 distinct at any SF) sits far under the sketch's default
      maxItemsTracked=10000, so no item is ever evicted and every
      reported count is EXACT — the gate asserts the sketch's
      no-eviction contract, the same way q132 gates theta exactness.
    * TIE-STABLE CUT: the sketch's own tie order at its k-cut is
      unspecified, so the query requests k=25, explodes, re-ranks by
      the total order (count desc, item asc) and keeps rank ≤ 10.
      The cut is engine-stable as long as every item tied at the
      10-boundary is inside the returned 25 (measured: boundary ties
      span ≤ 3 items at sf0.001/0.01/0.1, margin 15).

    Scale: the sketch is partial-mergeable — each partition ships one
    bounded map, the driver merges k entries; no exact-distinct
    shuffle.  (The exact twin exists only as the DuckDB oracle.)"""
    ev = _t(spark, sf_dir, "events")
    handler = F.concat_ws(
        "/", "event_type", (F.col("user_id") % 20).cast("string")
    )
    sk = ev.select(handler.alias("k")).agg(
        F.expr("approx_top_k(k, 25)").alias("top")
    )
    w = W.orderBy(F.desc("cnt"), F.asc("item"))
    return (
        sk.select(F.explode("top").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("cnt"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("rnk", "item", "cnt")
        .orderBy("rnk")
    )


def t27_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Okapi / Lucene form) — the standard scorer every
    RAG / decontamination / data-curation pipeline ranks passages with;
    the corpus already has tf-idf (t06) but BM25's saturating tf and
    length normalization are the shape actually used in production
    retrieval.  Four fixed probe queries, top-5 documents each.

    ``idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))``,
    ``contrib(t, d) = idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``
    with k1 = 1.2, b = 0.75.

    Scale shape (100 TB): tokens explode → ``isin`` filter to the ≤12
    probe terms BEFORE the (doc, term) aggregation, so the only
    token-granular shuffle carries probe-term rows only; document
    frequency derives from that small tf table and is broadcast back;
    corpus N/avgdl ride along as a 1-row crossJoin (single-stage agg,
    no driver collect); final per-query top-5 is a bounded window.

    DETERMINISM: each probe term carries its position (1..3) and the
    per-document score is built as ``s1 + s2 + s3`` — every ``sum`` has
    at most one input row, so the floating-point addition ORDER is
    fixed and identical in DuckDB; no arbitrary-order double sum is on
    the wire (the r02 lesson).  ACCEPTED-FP-RISK on round(…, 4): ln of
    identical doubles on JVM vs libm (t06 precedent, driver-green)."""
    docs = _t(spark, sf_dir, "documents")
    probes = [
        ("q1", ["spark", "join", "table"]),
        ("q2", ["window", "agg", "scan"]),
        ("q3", ["customer", "order", "value"]),
        ("q4", ["hash", "merge", "sort"]),
    ]
    probe_rows = [
        (qid, pos + 1, term)
        for qid, terms in probes
        for pos, term in enumerate(terms)
    ]
    probe_df = spark.createDataFrame(
        probe_rows, "qid string, pos int, term string"
    )
    all_terms = sorted({t for _, _, t in probe_rows})
    # Probe-term occurrences via ONE anchored-alternation regex (the
    # operators/text._stopword_pattern trick — exact whole-token
    # equality over the \s+ split without building token rows): the
    # r14 rewrite of the previous explode-all-tokens + isin form,
    # which generated a row per corpus token to keep ≤12 terms.  At
    # most one alternative matches per position (the lookahead
    # requires the full token), so counts equal the token-explode
    # form exactly.  The local sf0.1 timing is stage-count bound and
    # barely moves (~2.6 s); the win is the scan stage no longer
    # materializing |corpus tokens| rows — the term that grows with
    # corpus size.  Same hash at sf0.01/sf0.1.
    # re.escape each alternative (ADVICE r14 low #1, the
    # _stopword_pattern idiom): a no-op for today's alphanumeric
    # terms, but a future term containing a regex metacharacter would
    # otherwise silently change matching semantics.
    import re as _re

    pat = (
        "(?:^|\\s)("
        + "|".join(_re.escape(t) for t in all_terms)
        + ")(?=\\s|$)"
    )
    toks = docs.select(
        "doc_id",
        F.size(TX.tokens_col(F.col("text"))).alias("dl"),
        F.explode(
            F.regexp_extract_all(F.lower(F.trim("text")), F.lit(pat), 1)
        ).alias("term"),
    )
    tf = (
        toks.groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(TX.tokens_col(F.col("text")))).alias("avgdl"),
    )
    k1, b = 1.2, 0.75
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") / F.col("avgdl")
    )
    contrib = (idf * F.col("tf") * (k1 + 1.0) / denom).alias("contrib")
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(probe_df), "term")
        .crossJoin(F.broadcast(stats))
        .select("qid", "doc_id", "pos", contrib)
    )
    per_doc = scored.groupBy("qid", "doc_id").agg(
        *[
            F.sum(F.when(F.col("pos") == p, F.col("contrib"))).alias(
                f"s{p}"
            )
            for p in (1, 2, 3)
        ],
        F.count(F.lit(1)).alias("n_terms"),
    )
    score_r = F.round(
        F.coalesce(F.col("s1"), F.lit(0.0))
        + F.coalesce(F.col("s2"), F.lit(0.0))
        + F.coalesce(F.col("s3"), F.lit(0.0)),
        4,
    ).alias("score")
    w = W.partitionBy("qid").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        per_doc.select("qid", "doc_id", "n_terms", score_r)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("qid", "rnk", "doc_id", "n_terms", "score")
        .orderBy("qid", "rnk")
    )


def s19_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversity rerank (Carbonell &
    Goldstein, SIGIR'98) — the selection step RAG pipelines run AFTER
    retrieval so the k passages handed to the model aren't five
    near-copies of the best hit: greedily pick
    ``argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)`` (λ = 0.7, k = 5)
    from a top-12 candidate pool for probe vector vec_id = 0.

    Scale shape: candidate generation is the DISTRIBUTED stage and is
    exactly s01's plan (broadcast probe, corpus never shuffled,
    bounded window top-k).  The rerank itself is O(k·|pool|) on the
    ≤12-row candidate set — reranking is ALWAYS a tiny-candidate-set
    stage in production (the pool is whatever the ANN index returned),
    so the bounded driver loop here is the honest cost model, not a
    scalability escape hatch (graph ≤250k-edge precedent).

    Determinism: rel is Spark round(cos, 6) (s01's driver-proven
    parity with DuckDB round); pairwise candidate sims are sequential-
    fold float64 (bit-comparable with list_cosine_similarity);
    selection compares raw doubles with vec_id tiebreak; only the
    OUTPUT is rounded to 4 (half-away, matching both engines'
    round()).  The oracle unrolls the same 5 greedy steps as CTEs."""
    from kinesis_log_streamer_spark.functions.vector import l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    cv = F.col("embedding").cast("array<double>")
    corpus = emb.select(
        "vec_id", cv.alias("v"), l2_norm(cv).alias("nrm")
    )
    from kinesis_log_streamer_spark.functions.vector import dot as vdot

    d = vdot(F.col("v"), F.col("qv"))
    denom = F.col("nrm") * l2_norm(F.col("qv"))
    cos = F.when(denom > 0, d / denom).otherwise(F.lit(0.0))
    w = W.orderBy(F.desc("rel"), F.asc("vec_id"))
    cand_df = (
        corpus.join(F.broadcast(probe), F.col("vec_id") != 0)
        .select("vec_id", "v", F.round(cos, 6).alias("rel"))
        .withColumn("crnk", F.row_number().over(w))
        .filter(F.col("crnk") <= 12)
        .select("vec_id", "v", "rel")
    )
    cands = [
        (int(r.vec_id), list(r.v), float(r.rel))
        for r in cand_df.collect()
    ]

    def _cos(a: list, b: list) -> float:
        # Sequential folds, matching list_cosine_similarity's shape.
        s = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            s += x * y
            na += x * x
            nb += y * y
        n = math.sqrt(na) * math.sqrt(nb)
        return s / n if n > 0 else 0.0

    def _round_away(x: float, nd: int) -> float:
        # Half-away-from-zero, the round() both engines print with
        # (Python's builtin round is half-even — do not use it here).
        m = 10.0**nd
        return math.copysign(math.floor(abs(x) * m + 0.5), x) / m

    lam = 0.7
    selected_vecs: list[list] = []
    pool = {vid: (vec, rel) for vid, vec, rel in cands}
    out_rows = []
    for rnk in range(1, 6):
        best = None
        for vid, (vec, rel) in pool.items():
            # Rounded to 6 (like rel) BEFORE forming the key: the raw
            # sequential-fold double was assumed bit-identical to
            # DuckDB's list_cosine_similarity, and a ulp flip on a
            # near-tie would change the SELECTED SET, not a printed
            # digit (ADVICE r7 low #4).  _round_away is the proven
            # DuckDB-round twin (driver-green at nd=4 output).
            max_sim = _round_away(
                max(
                    (_cos(vec, svec) for svec in selected_vecs),
                    default=0.0,
                ),
                6,
            )
            # 0.3 as a LITERAL, matching the oracle: (1.0 - 0.7)
            # evaluates to 0.30000000000000004, one ulp off the SQL
            # constant, and that ulp is a selection tiebreak hazard.
            key = lam * rel - 0.3 * max_sim
            if best is None or (key, -vid) > (best[0], -best[1]):
                best = (key, vid, vec, rel)
        if best is None:
            break  # <5 candidates (no probe row / tiny corpus) —
            # return the short result instead of a TypeError unpack
            # (ADVICE r7 low #4).
        key, vid, vec, rel = best
        selected_vecs.append(vec)
        del pool[vid]
        out_rows.append(
            (rnk, vid, _round_away(rel, 4), _round_away(key, 4))
        )
    return spark.createDataFrame(
        out_rows, "rnk int, vec_id bigint, rel double, mmr double"
    ).orderBy("rnk")


def st18_rocksdb_statestore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st17's drain + state-reader reconciliation against the ROCKSDB
    state-store provider (st17 exercises only the default HDFS-backed
    provider): ``spark.sql.streaming.stateStore.providerClass =
    RocksDBStateStoreProvider`` for the drain and the read-back.
    RocksDB is the provider every large-state production deployment
    runs (bounded executor heap, incremental checkpoints) — a state
    row it persists wrong breaks this hash.  The provider conf is set
    only inside the helper's conf window, so later queries see the
    session's own.  Slice differs from st17 (event_id % 3 == 0) so
    the two queries can't mask each other's fixtures.

    Scale: RocksDB state scans are per-partition parallel reads; the
    reconcile is a bounded broadcast join (distinct event types).
    Reference parity: the reference has no stateful surface (it is an
    ingest pipe, linestreamer.go); this is analytics-layer breadth."""
    return _statestore_reconcile(
        spark,
        sf_dir,
        "st18",
        mod=3,
        settings={
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            )
        },
    )


def st19_state_ttl_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running totals on TTL-configured state: st16's
    two-drain prefix-aggregate shape, but the state carries a 1-hour
    TTL (`running_totals_with_state(df, ttl_ms)`: state not refreshed
    within ttl_ms of processing time reads as absent) — the hygiene
    knob that keeps an unbounded key space (IPs, session ids) from
    growing the state store forever.  Within the drains nothing
    expires (TTL >> drain wall-clock), so the output is the
    DETERMINISTIC prefix-total table the oracle states; the EXPIRY
    itself is wall-clock-dependent and is pinned by
    `tests/test_stateful.py::TestStateTTL` (a sleep past a 1 s TTL
    resets the totals), not by an oracle hash.  Slice: event_id %
    13 == 0, key = user_id % 30, phase = event_id % 2, 8 state-store
    tasks (at 32, st19 was the most expensive headline query, 9.4 s
    median at sf0.1).

    Scale: per-key state is three scalars; TTL eviction is the
    mechanism that BOUNDS total state at high key cardinality."""
    return _phased_running_totals(
        spark, sf_dir, "st19", 13, 30, 2, partitions=8, ttl_ms=3_600_000
    )


def d21_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the MOSS algorithm): hash every k-gram (k=4 tokens),
    slide a window of w=5 consecutive gram hashes, keep the MINIMUM
    hash per window.  Winnowing GUARANTEES any shared substring of
    length ≥ w+k-1 grams contributes at least one common fingerprint
    while storing only ~2/(w+1) of all gram hashes — the bounded-
    density substring-match index d11's raw stride sampling can't
    promise (a stride can step OVER a short shared span; winnowing
    cannot).  Per doc: gram/window counts, distinct selected
    fingerprints, and the lexicographic min fingerprint.

    Hash family is the repo's ENGINE-PORTABLE md5-prefix pattern
    (`operators/dedup.portable_minhash_pairs`): 12 lowercase hex chars
    compare lexicographically the same in Spark and DuckDB, so the
    selected fingerprint SET (not just counts) is oracle-reproducible.
    Ties between equal 48-bit prefixes are broken by the window min
    itself — at ~2^-48 per gram pair they are absent at any tested sf.

    Scale: tokens never shuffle — the gram hash is computed in the
    scan-side projection (explode + slice + md5) and only
    (doc_id, pos, 12-char hash) enters the ONE doc_id-partitioned
    shuffle feeding the sliding-window min; state per window is w rows.
    At 100 TB this is the d11 span shape with a 6x lighter shuffle
    payload (12-byte fp vs 8-token span text)."""
    docs = _t(spark, sf_dir, "documents")
    sel = D.winnowing_fingerprints(docs, k=4, window=5)
    return (
        sel.withColumnRenamed("id", "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count(F.lit(1)).alias("n_windows"),
            F.countDistinct("fp").alias("n_fp"),
            F.min("fp").alias("min_fp"),
        )
        .orderBy("doc_id")
    )


def d22_winnowing_shared_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document shared-fingerprint detection over the winnowing
    index — d21's actual use-case (MOSS-style contamination /
    plagiarism pairs): invert the selected fingerprints, equi-join
    docs sharing one, count DISTINCT shared fingerprints per pair, and
    emit the top-20 pairs (shared count ≥ 2, desc with (id_a, id_b)
    tiebreak).  The winnowing guarantee makes this a DETECTION
    contract, not a sample: any two docs sharing a token run of
    ≥ w+k-1 = 8 tokens MUST surface with ≥ 1 shared fingerprint —
    stride sampling (d11) or doc-level banding (d02) can miss such a
    pair; this index cannot.

    Scale: the inverted-index self-join is the d07/d15 shape — the
    shuffle carries (fp, doc_id) rows only.  The boilerplate guard
    drops STOP-FINGERPRINTS first (fps in > 50 distinct docs — a
    header shared by everything would otherwise quadratically blow
    the bucket; same df-cap rule as d15's tf-idf and t06's max-df),
    so bucket fan-out is bounded.  Pair counting is one hash-agg on
    (id_a, id_b); top-20 is a TakeOrdered, never a full sort."""
    docs = _t(spark, sf_dir, "documents")
    fps = (
        D.winnowing_fingerprints(docs, k=4, window=5)
        .select("id", "fp")
        .distinct()
    )
    # df guard as a WINDOW over the fp partitioning (fps is already
    # distinct, so count(1) per fp = distinct docs — no second agg +
    # join-back shuffle), then ONE eager localCheckpoint: the
    # fingerprint build (explode + md5 + sliding min over every gram)
    # is the expensive leg and the self-join references it twice — an
    # uncheckpointed plan recomputed it 4x (audited).  The checkpoint
    # stores only (id, 12-char fp) rows, the slimmest form; at 100 TB
    # a production pipeline persists this index as a table instead.
    kept = (
        fps.withColumn(
            "df", F.count(F.lit(1)).over(W.partitionBy("fp"))
        )
        .filter(F.col("df") <= 50)
        .select("id", "fp")
        .localCheckpoint(eager=True)
    )
    pairs = (
        kept.alias("a")
        .join(kept.alias("b"), "fp")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.countDistinct("fp").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    return pairs.orderBy(
        F.desc("n_shared"), "id_a", "id_b"
    ).limit(20)


def s20_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim retrieval (the ColBERT scoring form,
    Khattab & Zaharia, SIGIR 2020): each vector is treated as FOUR
    16-dim token subvectors; score(q, d) = Σ over query tokens of the
    MAX inner product against any doc token.  This is the multi-vector
    objective single-vector cosine (s01) and MIPS (s18) cannot
    express — a doc matching each query token with a DIFFERENT region
    outranks a doc that is merely close on average.

    Plan shape: ONE broadcast join (5-query side × corpus) and the
    whole 4×4 max-of-dots lattice as nested codegen column
    expressions — zero explodes, zero extra shuffles; only the final
    bounded window top-k ranks.  Per-token dots are integer-quantized
    (round(dot·10⁴) as BIGINT) so the max/sum lattice is exact
    integer arithmetic on both engines — no float association order
    in the ranking key.

    Scale: linear in corpus rows like s01; at 100 TB the candidate
    set comes from the s03/s05 ANN index first and this exact MaxSim
    reranks the bounded pool (the production late-interaction serving
    shape — ANN retrieve, MaxSim rerank)."""
    from kinesis_log_streamer_spark.functions.vector import dot

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n_tok, dim = 4, 16

    def _idot(a, b):
        return F.round(dot(a, b) * 10000).cast("long")

    d_subs = [
        F.slice(F.col("v"), j * dim + 1, dim) for j in range(n_tok)
    ]
    q_subs = [
        F.slice(F.col("qv"), i * dim + 1, dim) for i in range(n_tok)
    ]
    score = None
    for qs in q_subs:
        best = F.greatest(*[_idot(qs, ds) for ds in d_subs])
        score = best if score is None else score + best
    scored = corpus.join(
        F.broadcast(queries), F.col("vec_id") != F.col("qid")
    ).select("qid", "vec_id", score.alias("score"))
    w = W.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("qid", "rnk")
    )


def d23_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring REMOVAL telemetry (the ExactSubstr dedup step of
    Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better") — the step AFTER d11's span statistics: mark every
    token position covered by any 8-token window that occurs ≥ 2
    times CORPUS-WIDE (stride 1, so detection is guaranteed — d11's
    stride-4 sampling can miss a window), and report per document the
    removal effect a cleaning pass would apply: tokens removed, tokens
    kept, and the number of MAXIMAL removed runs (gaps-and-islands
    over covered positions).

    Scale: one window count over a span-partitioned shuffle (at
    100 TB: partition by a 128-bit span hash, never the text), one
    coverage explode bounded by 8× the duplicated-window count, one
    per-doc sort for the islands pass.  Never doc×doc; shuffle volume
    is O(total windows)."""
    w_sz = 8
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = docs.select(
        "doc_id", toks.alias("toks")
    ).filter(F.size("toks") >= w_sz)
    wins = base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("toks") - (w_sz - 1))
        ).alias("s"),
        "toks",
    ).select(
        "doc_id",
        "s",
        F.concat_ws(" ", F.slice("toks", F.col("s"), w_sz)).alias("span"),
    )
    dup = wins.withColumn(
        "nocc", F.count(F.lit(1)).over(W.partitionBy("span"))
    ).filter(F.col("nocc") >= 2)
    cov = dup.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("s"), F.col("s") + (w_sz - 1))
        ).alias("p"),
    ).distinct()
    wl = W.partitionBy("doc_id").orderBy("p")
    isl = cov.withColumn(
        "strt",
        F.when(F.col("p") - F.lag("p").over(wl) == 1, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    agg = isl.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_removed"),
        F.sum("strt").alias("n_spans"),
    )
    return (
        base.select("doc_id", F.size("toks").cast("long").alias("n_toks"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            (
                F.col("n_toks") - F.coalesce("n_removed", F.lit(0))
            ).alias("n_kept"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        )
        .orderBy("doc_id")
    )


def d24_simhash_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup with LINEAR-in-duplication candidate volume —
    the d03/d17→d24 twin of the d02/d05 star-edge relationship
    (VERDICT r12 #4: d03's pair contract is quadratic in the
    duplication factor; SCALING measured 6.72× time for 10× rows on
    the replica corpus).  `operators/dedup.portable_simhash_star_edges`
    collapses sig-identical documents to one representative FIRST
    (hamming-0 star edges, linear in copies), then emits min-id star
    edges per pigeonhole bucket over the representatives only — a
    spanning edge set whose connected components match the pair
    emitter's on duplicate clusters.

    The corpus carries almost no byte-identical duplicates, so every
    tenth document is unioned back TWICE under offset ids — the
    replica-heavy shape this operator exists for: those 3-cliques must
    come out as two hamming-0 star edges each, never enter banding,
    and the near-dup leg must match d17's components over the
    representatives.  DuckDB replays signature, sig-collapse, bucket
    reps, and verification bit-for-bit."""
    off = 1_000_000
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    rep = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.unionByName(
        rep.select((F.col("doc_id") + off).alias("doc_id"), "text")
    ).unionByName(
        rep.select((F.col("doc_id") + 2 * off).alias("doc_id"), "text")
    )
    return D.portable_simhash_star_edges(corpus, max_hamming=3).orderBy(
        "id_a", "id_b"
    )


def p09_join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key SKEW profile — the pre-join diagnosis that decides
    whether a shuffle join needs salting (`operators/skew.py`) or an
    AQE skew split before it runs at scale: per candidate join key,
    the per-key row distribution summarized as exact integer
    telemetry.  One row per profiled key with rows, distinct keys,
    max rows under one key, the EXACT p99 per-key count (value at
    ordered position ⌈0.99·k⌉ with a (count, key) total order — not an
    interpolated quantile, which engines compute differently),
    top-1-key share (per-million) and max/mean skew factor
    (per-mille).  skew_x_pm ≈ 1000 means uniform; orders of magnitude
    above says "salt this key".

    Scale: each profile is one partial-agg count per key plus one
    bounded window over the (much smaller) per-key count table; the
    three profiles are independent and union cheaply.  All-integer
    output — no float crosses the wire."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    out = (
        _skew_profile(li, "l_orderkey", "lineitem.l_orderkey")
        .unionByName(_skew_profile(od, "o_custkey", "orders.o_custkey"))
        .unionByName(_skew_profile(ev, "event_type", "events.event_type"))
    )
    return out.orderBy("key_name")


def _skew_profile(df: DataFrame, key: str, label: str) -> DataFrame:
    """One p09 profile row for ``key`` — reusable on ANY key column:
    the exact-p99 prefix sum is two-level (see below), so even a
    degenerate histogram (one distinct per-key count per key) never
    funnels into a single-partition window (VERDICT r10 #6)."""
    cnts = df.groupBy(F.col(key).cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # Histogram of per-key counts: the cumulative pass runs over
    # DISTINCT count values — tiny for join keys, but VERDICT r10
    # #6 flags the degenerate case (every key a distinct count,
    # e.g. someone reusing _profile on a continuous-valued or
    # rank-like key) where it holds one row per key.  So the
    # prefix sum is TWO-LEVEL instead of one global-order window:
    # within-bucket cumulative partitioned by floor(log2(cnt))
    # (parallel, and ordered buckets ⊂ [0, 64)) plus a ≤64-row
    # bucket-offset pass — exact at every histogram size, never a
    # single-partition window over n_keys rows.
    hist = cnts.groupBy("cnt").agg(F.count(F.lit(1)).alias("freq"))
    hist = hist.withColumn(
        "bkt", F.floor(F.log2(F.col("cnt").cast("double"))).cast("int")
    )
    wb = W.partitionBy("bkt").orderBy("cnt").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    btot = hist.groupBy("bkt").agg(F.sum("freq").alias("bfreq"))
    wo = W.orderBy("bkt").rowsBetween(
        W.unboundedPreceding, -1
    )
    boff = btot.select(
        "bkt",
        F.coalesce(F.sum("bfreq").over(wo), F.lit(0)).alias("boff"),
        F.sum("bfreq").over(
            W.orderBy("bkt").rangeBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("k_total"),
    )
    hist = hist.join(F.broadcast(boff), "bkt").select(
        "cnt",
        "freq",
        (F.col("boff") + F.sum("freq").over(wb)).alias("cum"),
        "k_total",
    )
    stats = hist.agg(
        F.sum(F.col("cnt") * F.col("freq")).alias("n_rows"),
        F.sum("freq").alias("n_keys"),
        F.max("cnt").alias("max_per_key"),
        # exact p99: smallest count whose cumulative key coverage
        # reaches ceil(0.99 * n_keys) — the value at ordered
        # position ceil(0.99 * k), computed without a total order
        # over the key table.
        F.min(
            F.when(
                F.col("cum") * 100 >= F.col("k_total") * 99,
                F.col("cnt"),
            )
        ).alias("p99_per_key"),
    )
    return stats.select(
        F.lit(label).alias("key_name"),
        "n_rows",
        "n_keys",
        "max_per_key",
        "p99_per_key",
        F.expr("n_rows * 1000 div n_keys").alias("avg_pm"),
        F.expr("max_per_key * 1000000 div n_rows").alias(
            "top1_share_pm"
        ),
        F.expr("max_per_key * 1000 * n_keys div n_rows").alias(
            "skew_x_pm"
        ),
    )



def s21_ivf_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The late-interaction SERVING path end-to-end: IVF candidate
    generation → exact MaxSim rerank — the production shape s20's
    docstring points at (ANN retrieve, MaxSim rerank), composed from
    s15's deterministic index lifecycle and s20's integer-quantized
    scoring lattice so DuckDB replays the WHOLE pipeline, probe to
    rank.

    Stages: (1) coarse quantizer = the 16 smallest-vec_id vectors
    (s15's SQL-replayable centroid rule); (2) corpus assignment =
    argmax rounded cosine per vector (tie → lowest cell); (3) each
    query (vec_id < 5) probes its nprobe=2 best cells; (4) candidates
    = corpus vectors in probed cells, self excluded; (5) exact MaxSim
    (4×16-dim token subvectors, integer-quantized dots — s20's
    lattice) reranks ONLY the candidates; top-5 per query, (score
    desc, vec_id) order.

    Scale: the assignment is one broadcast(16) pass over the corpus —
    built once per index epoch and persisted (s15 shows the on-disk
    form); per query the rerank touches ~2/16 of the corpus instead
    of all of it, which is the entire point of IVF candidate
    generation — and the expensive MaxSim lattice runs on that
    bounded candidate set only.

    r14: cell selection is SCAN-LOCAL — the 16 centroids are a
    collected driver-side model (the bounded-broadcast pattern of
    `operators/similarity.sample_centroids`) embedded as literals,
    and each vector picks its top cells by ``array_sort`` over 16
    (−cos, cell) structs inside the scan.  The previous form
    crossJoined the centroid DataFrame (16× row blowup) and ranked
    with a row_number window — one extra Exchange plus a 16n-row
    sort per leg, for an argmax a projection can do.  Per-pair
    arithmetic is IDENTICAL (same fold order, same float64 cast,
    same round-4, ties to the lowest cell; −0.0 canonicalized via
    +0.0 before the sort key, cos itself is never output):
    2.6 s → 1.5 s at sf0.1, same hash."""
    import math

    from kinesis_log_streamer_spark.functions.vector import dot, l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "embedding")
    cent_rows = (
        corpus.orderBy("vec_id").limit(16).select("embedding").collect()
    )
    # Python floats are IEEE doubles: the left-fold sum + sqrt below
    # reproduce l2_norm()'s JVM arithmetic bit-for-bit on the same
    # float32-widened values.
    cents_py: list[tuple[list[float], float]] = []
    for r in cent_rows:
        cvec = [float(x) for x in r.embedding]
        acc = 0.0
        for x in cvec:
            acc += x * x
        cents_py.append((cvec, math.sqrt(acc)))

    # The model travels as ONE constant array<struct<cvec, cnorm>>
    # (ConstantFolding collapses it to a single Literal) scored by a
    # SINGLE indexed-transform lambda — per-cell expression trees (16
    # dots × 2 legs) measured ~4 s of Catalyst lambda analysis per
    # plan build.
    # One F.expr call, not 16 × 65 F.lit calls: each Column call is a
    # py4j round trip and the per-literal form measured ~1 s of pure
    # driver-side plan BUILD per run.  repr() is shortest-roundtrip,
    # so the SQL parser recovers bit-identical doubles.
    def _d(x: float) -> str:
        # Fail loud on NaN/Inf (ADVICE r14 low #3): a non-finite
        # centroid component would render as nanD/infD and surface as
        # an obscure SQL parse error at plan build.
        if not math.isfinite(x):
            raise ValueError(
                f"s21: non-finite centroid component {x!r} — embeddings "
                "contain NaN/Inf"
            )
        return repr(x) + "D"

    cents_lit = F.expr(
        "array("
        + ",".join(
            "named_struct('cvec', array("
            + ",".join(_d(v) for v in cvec)
            + f"), 'cnorm', {_d(cnorm)})"
            for cvec, cnorm in cents_py
        )
        + ")"
    )

    def cells(df: DataFrame, n: int) -> DataFrame:
        # Both legs score in float64 (ADVICE r10 low #1): the oracle
        # casts to DOUBLE[] throughout, so a round(cos, 4) boundary
        # flip could diverge cell assignment cross-engine.
        staged = df.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("__v"),
        ).select("vec_id", "__v", l2_norm(F.col("__v")).alias("__nv"))

        def _entry(c, i):
            d = dot(F.col("__v"), c["cvec"])
            nn = F.col("__nv") * c["cnorm"]
            cos = F.round(F.when(nn > 0, d / nn).otherwise(F.lit(0.0)), 4)
            return F.struct(
                (-(cos + F.lit(0.0))).alias("negcos"),
                i.cast("int").alias("cell"),
            )

        top = F.slice(
            F.array_sort(F.transform(cents_lit, _entry)), 1, n
        )
        return staged.select(
            "vec_id", F.explode(top).alias("sc")
        ).select("vec_id", F.col("sc.cell").alias("cell"))

    assign = cells(corpus, 1)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    probed = cells(
        queries.select(F.col("qid").alias("vec_id"), F.col("qv").alias("embedding")),
        2,
    ).select(F.col("vec_id").alias("qid"), "cell")
    cand = (
        probed.join(assign, "cell")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id")
    )
    n_tok, dim = 4, 16

    def _idot(a, b):
        return F.round(dot(a, b) * 10000).cast("long")

    d_subs = [F.slice(F.col("v"), j * dim + 1, dim) for j in range(n_tok)]
    q_subs = [F.slice(F.col("qv"), i * dim + 1, dim) for i in range(n_tok)]
    score = None
    for qs in q_subs:
        best = F.greatest(*[_idot(qs, ds) for ds in d_subs])
        score = best if score is None else score + best
    scored = (
        cand.join(
            corpus.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            ),
            "vec_id",
        )
        .join(F.broadcast(queries), "qid")
        .select("qid", "vec_id", score.alias("score"))
    )
    w = W.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("qid", "rnk")
    )


def l19_log_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log TEMPLATE mining (the Drain/Spell family's core move): mask
    the variable fields of each rendered log message — digit runs →
    ``<N>`` — and aggregate the survivors into templates, the
    operational census that turns millions of distinct log lines into
    the dozen shapes a human can read.  Messages are rendered from
    the events schema the reference's upstream emits (README.md:13-24
    — handler/status log lines; l18 renders the full CLF form), with
    a retry suffix branching on the payload so masking genuinely
    merges distinct lines into shared templates.

    Output: top-10 templates by (events desc, template asc) with
    event count, distinct-user count, and the earliest event id as
    the exemplar pointer.

    Scale: one scan → per-row regexp mask (codegen) → hash-agg on
    BOUNDED template cardinality (partial map-side agg; templates
    number in the dozens however many events exist) → TakeOrdered
    top-10.  No joins, no windows, one shuffle."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    msg = F.concat(
        F.col("event_type"),
        F.lit(" user="),
        F.col("user_id").cast("string"),
        F.lit(" v="),
        F.floor(F.col("value")).cast("long").cast("string"),
        F.when(k % 3 == 0, F.lit(" retry")).otherwise(F.lit("")),
    )
    tmpl = F.regexp_replace(msg, "[0-9]+", "<N>")
    return (
        ev.select(
            tmpl.alias("template"),
            "user_id",
            "event_id",
        )
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("first_event"),
        )
        .orderBy(F.desc("n_events"), "template")
        .limit(10)
    )


def l20_ingest_rollup_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's ACTUAL deployment shape, end to end in ONE
    oracle-gated query (VERDICT r10 #3): Apache renders accessjson
    lines (functest/apachelogs/httpd.conf:192-204's ``LogFormat`` →
    ``CustomLog "|kinesis-log-streamer --format json"``), the
    streamer consumes them as a chunked byte stream with the
    concatenated-JSON carry (jsonstreamer.go:34-49 ≙
    ``StdinSpooler``), enriches each object with static entries under
    entry-wins overwrite while splitting, as the CLI does
    (--add-entry, jsonstreamer.go:49-56 / main.go:102-122 ≙
    ``StdinSpooler(entries=...)`` → ``json_source.render_record`` — note
    the entry map here is a FIXTURE choice exercising the --add-entry
    mechanism: httpd.conf:203's json CustomLog pipe carries no
    --add-entry flags, only the ErrorLog line at :182 does, and the
    LogFile/RequestHandler constants are gate-invented), and the
    consumer side runs the l01 status-class rollup over the typed
    parse — previously proven only in two halves (i07 = ingest, l01 =
    analytics).

    The rollup keys include the enriched fields: ``log_file`` is a
    NEW key added by the entry map, ``handler`` is an EXISTING key
    the entry map OVERWRITES — both constants the DuckDB oracle
    asserts, so a dropped/torn record anywhere in chunk→carry→
    enrich→land→scan→parse breaks the hash, and so does broken
    overwrite semantics.

    Scale: the spool stage is the CLI driver's stdin tail (one pipe,
    O(chunk) memory); everything after the landing dir is an ordinary
    distributed scan → codegen JSON parse → partial-agg rollup.
    Chunk size 4096 ≪ the reference's 64 KiB keeps ~1 carry per chunk
    live in the gate without i07's per-record-file torture cost."""
    from kinesis_log_streamer_spark.streaming.stdin_spool import StdinSpooler

    base = _scratch(spark, "l20")
    src = os.path.join(base, "src")
    landing = os.path.join(base, "landing")
    os.makedirs(landing)

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    LA.access_records_from_events(ev).write.text(src)

    StdinSpooler(
        _PartFilesStream(src),
        landing,
        fmt="json",
        chunk_bytes=4096,
        entries={"LogFile": "HTTPAccessLog", "RequestHandler": "piped"},
    ).run()

    parsed = LA.parse_access_logs(spark.read.text(landing))
    # LogFile is outside APACHE_ACCESS_SCHEMA (it only exists because
    # the entry map added it); read it from the raw record the parser
    # carries alongside the typed struct.
    acc = parsed.filter(~F.col("is_corrupt")).withColumn(
        "log_file", F.get_json_object("_raw", "$.LogFile")
    )
    cls = F.concat(
        (F.col("Status") / 100).cast("int").cast("string"), F.lit("xx")
    )
    return (
        acc.groupBy(
            cls.alias("status_class"),
            F.col("RequestHandler").alias("handler"),
            F.col("log_file"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum("ResponseBodySize").alias("bytes_sent"),
            F.round(F.avg("RequestTimeMicroseconds"), 1).alias("avg_us"),
        )
        .orderBy("status_class")
    )


def l21_errorlog_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OTHER deployment pipe, end to end: ``ErrorLog
    "|kinesis-log-streamer --format line --output-format json
    --add-entry LogFile=HTTPErrorLog"`` (functest/apachelogs/
    httpd.conf:182) — plain error-log LINES through the chunked
    line-mode spool (S2's last-newline carry, linestreamer.go:49-57 ≙
    ``StdinSpooler(fmt='line')``), then the full line-mode transform
    chain: CR strip (linestreamer.go:64-69), empty-line drop
    (linestreamer.go:86), wrap-under-LogEntry + static entries
    (linestreamer.go:92-99 ≙ ``transforms.wrap_line_as_json``), then
    consumer-side severity analytics over the wrapped records.
    l20 composes the CustomLog/json pipe; this composes the
    ErrorLog/line pipe, so both httpd.conf dataflows carry a
    single-query oracle gate.

    The rendered lines exercise the edge rules under the gate: every
    third line arrives CRLF-terminated, and the ``event_id % 11``
    cohort renders as BLANK lines that F1 must drop — the DuckDB
    oracle applies the same exclusion, so a kept blank, a dropped
    real line, or a CR leaking into the payload breaks the hash.

    Scale: spool = one pipe (O(chunk) memory); the analytics leg is
    scan → codegen regexp over the wrapped JSON → partial-agg rollup
    on |levels| × 1 groups."""
    from kinesis_log_streamer_spark.operators import transforms as T
    from kinesis_log_streamer_spark.streaming.stdin_spool import StdinSpooler

    base = _scratch(spark, "l21")
    src = os.path.join(base, "src")
    landing = os.path.join(base, "landing")
    os.makedirs(landing)

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    level = (
        F.when(F.col("event_id") % 4 == 0, "error")
        .when(F.col("event_id") % 4 == 1, "warn")
        .when(F.col("event_id") % 4 == 2, "notice")
        .otherwise("crit")
    )
    line = F.concat(
        F.lit("["),
        level,
        F.lit("] client 10.0."),
        (F.col("user_id") % 256).cast("string"),
        F.lit(".1 "),
        F.col("event_type"),
        F.lit(" err="),
        F.col("event_id").cast("string"),
    )
    rendered = ev.select(
        F.when(F.col("event_id") % 11 == 0, F.lit(""))
        .otherwise(
            F.when(
                F.col("event_id") % 3 == 0, F.concat(line, F.lit("\r"))
            ).otherwise(line)
        )
        .alias("value")
    )
    rendered.write.text(src)

    StdinSpooler(
        _PartFilesStream(src), landing, fmt="line", chunk_bytes=4096
    ).run()

    raw = spark.read.text(landing)
    # S2 CR strip + F1 empty drop + T2/T4 wrap — the exact line-mode
    # chain (the text reader may already strip a trailing CR; the
    # explicit strip keeps transform parity with the reference).
    wrapped = T.wrap_line_as_json(
        T.filter_empty_lines(T.strip_cr(raw)),
        entries={"LogFile": "HTTPErrorLog"},
    )
    rec = wrapped.select(
        F.get_json_object("data", "$.LogEntry").alias("entry"),
        F.get_json_object("data", "$.LogFile").alias("log_file"),
    )
    return (
        rec.select(
            F.regexp_extract("entry", r"^\[([a-z]+)\]", 1).alias("level"),
            "log_file",
            F.regexp_extract("entry", r"client 10\.0\.([0-9]+)\.1", 1)
            .cast("long")
            .alias("octet"),
            F.regexp_extract("entry", r"err=([0-9]+)$", 1)
            .cast("long")
            .alias("err_id"),
        )
        .groupBy("level", "log_file")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("octet").alias("n_clients"),
            F.min("err_id").alias("first_err"),
            F.max("err_id").alias("last_err"),
        )
        .orderBy("level")
    )


def w08_leak_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe TRAIN/VAL split — the assignment step every
    training pipeline runs after dedup, done so that no exact
    duplicate ever straddles the split (train/test contamination, the
    failure t13 measures against external benchmarks, applied to the
    pipeline's OWN eval set): documents are grouped by content
    fingerprint (md5), the group KEEPER's hash — not the member's —
    decides the split (hash-bucket sampling, t09's engine-portable
    md5-prefix rule, ~80 % train at prefix < 'cc' = 204/256), and
    every member inherits it.

    Gate columns: ``exact_leak`` = fingerprint groups spanning both
    splits (structurally 0 — any nonzero means the co-assignment
    machinery broke); ``n_true_pairs``/``cohort_leak`` = the d02
    truth cohort's NEAR-dup pairs (500-smallest-doc, 3-gram string
    Jaccard ≥ 0.8) and how many of them straddle the split — honest
    telemetry: exact-group co-assignment does NOT co-assign near-dups
    with differing bytes, and this is the number that tells an
    operator whether to upgrade the split key to d05's near-dup
    cluster representative.

    Scale: one md5-group shuffle over (doc_id, fp) — never the text —
    plus a window min per group; the split decision is scan-local
    arithmetic on the keeper id; the cohort legs are the fixed-size
    memoized verifier shared with d02/d03."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp")
    )
    asg = docs.withColumn(
        "keeper", F.min("doc_id").over(W.partitionBy("fp"))
    ).withColumn(
        "split",
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("split:"), F.col("keeper").cast("string")
                    )
                ),
                1,
                2,
            )
            < F.lit("cc"),
            F.lit("train"),
        ).otherwise(F.lit("val")),
    )
    # cache + unpersist in the finally (the d02 pattern) rather than an
    # eager localCheckpoint: the gate row is collected before return,
    # so nothing downstream needs the blocks, and a checkpoint would
    # linger until GC across 325-query sweeps (ADVICE r11).  Lazy
    # cache measured equal to a forced pre-materialization here
    # (1.0-1.6 s warm at sf0.1 either way): any duplicated compute
    # from the three gate legs racing the first fill is under the
    # noise floor, so the version without the extra count() job wins.
    asg = asg.cache()
    tots = asg.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("split") == "train").cast("long")).alias("n_train"),
        F.sum((F.col("split") == "val").cast("long")).alias("n_val"),
    )
    ex = (
        asg.groupBy("fp")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(
            F.coalesce(
                F.sum((F.col("ns") > 1).cast("long")), F.lit(0)
            ).alias("exact_leak")
        )
    )
    truth = spark.createDataFrame(
        [
            (ia, ib)
            for ia, ib, j in _cohort_truth_pairs(spark, sf_dir)
            if j >= 0.8
        ]
        or [],
        "id_a long, id_b long",
    )
    leak = (
        truth.join(
            asg.select(
                F.col("doc_id").alias("id_a"),
                F.col("split").alias("split_a"),
            ),
            "id_a",
        )
        .join(
            asg.select(
                F.col("doc_id").alias("id_b"),
                F.col("split").alias("split_b"),
            ),
            "id_b",
        )
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.coalesce(
                F.sum(
                    (F.col("split_a") != F.col("split_b")).cast("long")
                ),
                F.lit(0),
            ).alias("cohort_leak"),
        )
    )
    gate = (
        tots.crossJoin(ex)
        .crossJoin(leak)
        .select(
            "n_docs",
            "n_train",
            "n_val",
            F.expr("n_train * 1000 div n_docs").alias("train_pm"),
            "exact_leak",
            "n_true_pairs",
            "cohort_leak",
        )
    )
    try:
        return _eager_gate_row(gate)
    finally:
        asg.unpersist()


def w09_point_in_time_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time TRAINING-MATRIX assembly — the feature-store
    join every supervised pipeline runs: each labeled example is
    enriched with the latest value of every feature STRICTLY AS OF
    its own timestamp, never after it (future leakage is the w08
    failure mode on the time axis).  Two temporal feature sources at
    different cadences join the label stream via the as-of operator
    (`operators/asof.py` — union + last(ignorenulls), one shuffle,
    no join explosion): the user's most recent order value, and the
    user's most recent shipment-day quantity (lineitem⋈orders).

    Contract columns the oracle pins: ``f1`` is NULLED when the
    matched feature is older than 90 days (staleness tolerance —
    applied in a post-projection on the carried feature timestamp so
    both engines share one rule), ``f1_age_days`` exposes the
    freshness the null rule used, and ``leak_viol`` asserts no
    matched feature postdates its example (structurally 0 — the
    as-of direction is backward).

    Scale: each as-of is the q23 union trick (shuffle carries
    labels + |distinct (user, day)| feature rows, O(1) window state
    per key); features pre-aggregate to unique (key, ts) so
    equal-timestamp ties cannot flip across engines."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 == 0)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("event_type").alias("label"),
        )
    )
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    f1src = (
        od.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("fts"),
        )
        .agg(F.round(F.max("o_totalprice"), 2).alias("f1_raw"))
        .select("user_id", "fts", "f1_raw", F.col("fts").alias("f1_ts"))
    )
    f2src = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_shipdate").alias("fts"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("f2"))
        .select("user_id", "fts", "f2", F.col("fts").alias("f2_ts"))
    )
    m1 = asof_join(ev, f1src, key="user_id", left_ts="ts", right_ts="fts")
    m2 = asof_join(m1, f2src, key="user_id", left_ts="ts", right_ts="fts")
    age = F.datediff(F.col("ts").cast("date"), F.col("f1_ts").cast("date"))
    viol = (
        F.coalesce((F.col("f1_ts") > F.col("ts")).cast("int"), F.lit(0))
        + F.coalesce((F.col("f2_ts") > F.col("ts")).cast("int"), F.lit(0))
    )
    return m2.select(
        "event_id",
        "user_id",
        "label",
        F.when(age <= 90, F.col("f1_raw")).alias("f1"),
        F.when(F.col("f1_ts").isNotNull(), age).alias("f1_age_days"),
        "f2",
        (viol > 0).cast("int").alias("leak_viol"),
    ).orderBy("event_id")


def k06_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kinesis SHARD-BALANCE diagnosis — the operational gotcha the
    reference's design bakes in: its partition key is the HOST
    identity (linestreamer.go:102, hostid.go:22-199), so every record
    one host produces lands on ONE shard (Kinesis routes by
    MD5(partition_key) over the hash-key range) and a single chatty
    Apache box hot-shards the stream no matter how many shards it
    has.  This query quantifies that for both keying modes over the
    same records: ``host`` mode (one literal key, the reference's
    default) vs ``per_user`` mode (partition key = user id, the
    fan-out a consumer-side aggregator needs).

    Shard model: 8 equal hash ranges; shard_no = first hex nibble of
    md5(key) div 2 — the same prefix-range routing Kinesis applies to
    the 128-bit space, engine-portable via the t09 md5 rule.  Output
    per (mode, shard_no): records + that shard's per-mille share,
    plus the mode's hottest-shard share — host mode reads 1000 ‰ on
    one shard (the diagnosis), per_user mode reads ~125 ‰ × 8.

    Scale: one scan per mode, partial-agg on ≤8 groups; the md5
    routing is scan-local codegen."""
    ev = _t(spark, sf_dir, "events")

    def _mode(key_col, label):
        nib = F.substring(F.md5(key_col), 1, 1)
        shard = (
            (F.instr(F.lit("0123456789abcdef"), nib) - 1) / 2
        ).cast("int")
        per = ev.select(shard.alias("shard_no")).groupBy("shard_no").agg(
            F.count(F.lit(1)).alias("n_records")
        )
        return per.select(
            F.lit(label).alias("mode"),
            "shard_no",
            "n_records",
            F.expr(
                "n_records * 1000 div (sum(n_records) over ())"
            ).alias("share_pm"),
            F.expr(
                "max(n_records) over () * 1000"
                " div (sum(n_records) over ())"
            ).alias("hottest_pm"),
        )

    out = _mode(F.lit("i-0abc.example.internal"), "host").unionByName(
        _mode(F.col("user_id").cast("string"), "per_user")
    )
    return out.orderBy("mode", "shard_no")


def p11_join_size_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join OUTPUT-SIZE pre-flight — the planner arithmetic that
    decides broadcast vs shuffle vs salt BEFORE paying for the join
    (p09 profiles per-key skew; this computes the other number the
    decision needs): ``|A ⋈ B on k| = Σ_k cnt_A(k)·cnt_B(k)`` from the
    two per-key count histograms, plus the single hottest key's share
    of the output.  The gate also RUNS each equi-join and reports the
    actual row count with a match flag, so the formula itself is
    oracle-verified — est_rows must equal actual_rows exactly on every
    pair, in both engines.

    Scale: per side one partial-agg count per key; the histogram join
    shuffles |distinct keys| rows, never the fact rows — at 100 TB
    this costs two scans and a key-sized join while the real join it
    predicts costs the full shuffle.  (The verification leg that runs
    the actual join exists for the gate; a production pre-flight emits
    only the estimate.)"""

    def _pair(left, lk, right, rk, label):
        cl = left.groupBy(F.col(lk).alias("k")).agg(
            F.count(F.lit(1)).alias("ca")
        )
        cr = right.groupBy(F.col(rk).alias("k")).agg(
            F.count(F.lit(1)).alias("cb")
        )
        est = cl.join(cr, "k").agg(
            F.count(F.lit(1)).alias("n_common_keys"),
            F.sum(F.col("ca") * F.col("cb")).alias("est_rows"),
            F.max(F.col("ca") * F.col("cb")).alias("max_key_rows"),
        )
        actual = left.select(F.col(lk).alias("k")).join(
            right.select(F.col(rk).alias("k")), "k"
        ).agg(F.count(F.lit(1)).alias("actual_rows"))
        return est.crossJoin(actual).select(
            F.lit(label).alias("pair"),
            "n_common_keys",
            "est_rows",
            F.expr(
                "max_key_rows * 1000000 div greatest(est_rows, 1)"
            ).alias("top_key_share_pm"),
            "actual_rows",
            (F.col("est_rows") == F.col("actual_rows"))
            .cast("int")
            .alias("match"),
        )

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    out = (
        _pair(li, "l_orderkey", od, "o_orderkey", "lineitem*orders")
        .unionByName(
            _pair(ev, "user_id", ev, "user_id", "events*events")
        )
        .unionByName(
            _pair(od, "o_custkey", ev, "user_id", "orders*events")
        )
    )
    return out.orderBy("pair")


def i08_live_spool_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLI data path's LIVE concurrency under the oracle gate
    (``cli.run_streaming``): the spooler thread lands 64 KiB chunks
    (the reference's read size, linestreamer.go:34) WHILE a
    ``processingTime`` micro-batch query tails the landing directory,
    taking at most 16 files per batch (``maxFilesPerTrigger``), and
    ``cleanSource=delete`` keeps the listing bounded;
    ``drain_and_stop`` stops the query at EOF once every landed file
    is committed (basestreamer.go:27-33).  i07 proves the chunk-carry
    SPLIT is correct synchronously; this proves the concurrent
    land/list/clean machinery drops or duplicates nothing — the
    oracle recomputes the rollup from events, so one lost or re-read
    landing file breaks the hash.

    Scale: the spool is the single-stream CLI tail; the query side is
    the ordinary file-source micro-batch engine — the same pipeline
    shape that runs against a never-EOF Apache pipe in production."""
    from kinesis_log_streamer_spark.streaming.stdin_spool import (
        StdinSpooler,
        drain_and_stop,
    )

    base = _scratch(spark, "i08")
    src = os.path.join(base, "src")
    landing = os.path.join(base, "landing")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(landing)

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 9 == 0)
    ev.select(
        F.to_json(F.struct("event_id", "event_type", "value")).alias("value")
    ).write.text(src)

    raw = (
        spark.readStream.schema("value string")
        .format("text")
        .option("maxFilesPerTrigger", "16")
        .option("cleanSource", "delete")
        .load(landing)
    )
    parsed = raw.select(
        F.from_json(
            "value", "event_id long, event_type string, value double"
        ).alias("r")
    )
    # countDistinct is unsupported in streaming aggregation; min/max
    # ids plus exact counts give the same lost/duplicated signal.
    agg = parsed.groupBy(F.col("r.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.min("r.event_id").alias("min_id"),
        F.max("r.event_id").alias("max_id"),
        F.round(F.sum("r.value"), 2).alias("sum_value"),
    )
    spark.catalog.dropTempView("i08_out")
    q = (
        agg.writeStream.format("memory")
        .queryName("i08_out")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    spooler = StdinSpooler(_PartFilesStream(src), landing, fmt="json")
    try:
        spooler.start_thread()
        drain_and_stop(q, spooler)
    finally:
        if q.isActive:
            q.stop()
    if spooler.error is not None:
        raise spooler.error
    return spark.table("i08_out").orderBy("event_type")


def p10_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION planner — the table-maintenance pass a
    100 TB lakehouse runs nightly (Delta OPTIMIZE / Iceberg rewrite's
    planning step): given a file inventory, emit bin-packed merge
    groups targeting a fixed output size, so millions of
    streaming-landed small files become scan-efficient ~32 MiB
    objects.  The inventory here is derived deterministically from
    ``events`` (file per event, size = integer function of the id,
    directory = the event_type partition) so DuckDB replays the
    whole plan.

    Packing rule (engine-portable, one window pass): within each
    directory order files largest-first (FFD's ordering) and assign
    ``group_no = preceding_fill div target`` off the running byte
    sum — the streaming bin-fill used by AQE partition coalescing,
    deterministic and exactly replayable, unlike true FFD whose
    per-bin state is inherently sequential.

    Scale: the only shuffle is the per-DIRECTORY window (directories
    = date/type partitions, thousands at 100 TB → full parallelism;
    never a global order over the inventory); the group rollup is a
    partial agg on (dir, group)."""
    target = 32 * 1024 * 1024
    ev = _t(spark, sf_dir, "events")
    inv = ev.select(
        F.col("event_type").alias("dir"),
        F.col("event_id").alias("file_id"),
        ((F.col("event_id") * 7919) % 262144 + 1024).alias("size_bytes"),
    )
    w = (
        W.partitionBy("dir")
        .orderBy(F.desc("size_bytes"), F.asc("file_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    planned = inv.withColumn(
        "cum", F.sum("size_bytes").over(w)
    ).withColumn(
        "group_no", F.expr(f"(cum - size_bytes) div {target}L")
    )
    return (
        planned.groupBy("dir", "group_no")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size_bytes").alias("group_bytes"),
            F.max("size_bytes").alias("largest"),
            F.min("size_bytes").alias("smallest"),
        )
        .orderBy("dir", "group_no")
    )


def k07_reshard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kinesis RESHARD planner — what UpdateShardCount arithmetic
    would do to the reference's stream, computed per keying mode over
    the same records (companion to k06's balance diagnosis): route by
    md5 first-nibble over 8 equal hash ranges (linestreamer.go:102
    partition key → Kinesis MD5 hash-range routing), measure per-shard
    load INCLUDING the zero-load shards, then emit the plan a capacity
    manager applies — ``split`` a shard over 2× the mean (into
    ``least(4, ceil(load/mean))`` children), ``merge`` one under
    mean/4 (pairwise, so k merges yield ceil(k/2) shards), ``keep``
    otherwise, and the projected post-plan shard count.

    The two modes are the diagnosis: ``host`` mode (the reference's
    host-identity key, hostid.go:22-199) concentrates 1000 ‰ on one
    shard and the planner maxes out its split — which is FUTILE,
    because a single partition key occupies a point in the hash range
    and every child inherits all of it; resharding fixes shard-count
    problems, never key-design problems (k06's lesson).  ``by_type``
    mode (5 keys) shows the complement: balanced-enough shards plus
    empty ones the plan merges away.

    Scale: one scan per mode with scan-local md5 routing, partial agg
    to ≤8 groups, an 8-row shard dimension left-joined so empty
    shards surface; all window math runs over ≤16 rows."""
    ev = _t(spark, sf_dir, "events")

    def _loads(key_col, label):
        nib = F.substring(F.md5(key_col), 1, 1)
        shard = (
            (F.instr(F.lit("0123456789abcdef"), nib) - 1) / 2
        ).cast("int")
        return ev.select(
            F.lit(label).alias("mode"), shard.alias("shard_no")
        ).groupBy("mode", "shard_no").agg(
            F.count(F.lit(1)).alias("n")
        )

    loads = _loads(F.lit("i-0abc.example.internal"), "host").unionByName(
        _loads(F.col("event_type"), "by_type")
    )
    dim = loads.select("mode").distinct().crossJoin(
        F.broadcast(spark.range(8).select(F.col("id").alias("shard_no")))
    )
    shards = (
        dim.join(loads, ["mode", "shard_no"], "left")
        .select(
            "mode",
            F.col("shard_no").cast("int").alias("shard_no"),
            F.coalesce("n", F.lit(0)).alias("n_records"),
        )
    )
    tot = "sum(n_records) over (partition by mode)"
    acted = shards.select(
        "mode",
        "shard_no",
        "n_records",
        F.expr(f"n_records * 1000 div ({tot})").alias("share_pm"),
        F.expr(
            f"case when n_records * 8 > 2 * ({tot}) then 'split'"
            f" when n_records * 32 < ({tot}) then 'merge'"
            " else 'keep' end"
        ).alias("action"),
        F.expr(
            f"cast(case when n_records * 8 > 2 * ({tot})"
            f" then least(4, (n_records * 8 + ({tot}) - 1) div ({tot}))"
            " else 1 end as int)"
        ).alias("n_children"),
    )
    return acted.select(
        "mode",
        "shard_no",
        "n_records",
        "share_pm",
        "action",
        "n_children",
        F.expr(
            "sum(case when action <> 'merge' then n_children else 0 end)"
            " over (partition by mode)"
            " + (sum(case when action = 'merge' then 1 else 0 end)"
            " over (partition by mode) + 1) div 2"
        ).alias("plan_total_shards"),
    ).orderBy("mode", "shard_no")


# Credentials and region of the in-process moto service; the names are
# both KinesisSink's keyword arguments and the kinesis_py source's
# option names.
_MOTO_AUTH = {
    "region": "us-east-1",
    "access_key": "testing",
    "secret_key": "testing",
}


@contextmanager
def _moto_kinesis(name: str):
    """An in-process moto Kinesis server (real boto3 wire protocol over
    loopback HTTP) holding one new 2-shard stream; yields ``(stream,
    url)`` and stops the server on exit.  A setup failure raises.
    moto backends are module-global (they outlive the server object),
    so every call names a fresh stream."""
    import uuid

    from moto.server import ThreadedMotoServer  # noqa: PLC0415

    from kinesis_log_streamer_spark.sources.kinesis_source import (
        kinesis_client,
    )

    server = ThreadedMotoServer(port=0)
    server.start()
    try:
        # Public API (moto 5.x), not server._server.socket — the
        # private attr broke silently on moto refactors.
        host, port = server.get_host_and_port()
        url = f"http://{host}:{port}"
        stream = f"klss-{name}-{uuid.uuid4().hex[:8]}"
        kinesis_client(endpoint_url=url, **_MOTO_AUTH).create_stream(
            StreamName=stream, ShardCount=2
        )
        yield stream, url
    finally:
        server.stop()


def k08_aws_transport_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k01 no-loss/no-dup/no-alteration roundtrip through the REAL
    transport stack: events JSON-wrapped and shipped by
    `streaming/kinesis_sink.KinesisSink` through its real
    ``_boto3_factory`` (PutRecords over HTTP — request signing,
    serialization, 500-record sub-batching against a live wire
    protocol), then read back with `sources/kinesis_source.
    AwsKinesisStreamReader` (ListShards → GetShardIterator →
    GetRecords, per-shard arrival-time fence offsets, executor-side
    fetch) and rolled up.  The Kinesis service is an in-process moto
    server (`_moto_kinesis`) — real boto3 client end to end, no
    network beyond loopback.  A server that cannot start fails the
    query.

    A 1-in-20 slice: the roundtrip contract is row-for-row regardless
    of volume (k01's own argument) and every record crosses the HTTP
    wire once on the put and once on the executor fetch."""
    from kinesis_log_streamer_spark.streaming.kinesis_sink import KinesisSink

    payload = _kinesis_payload(spark, sf_dir, 20)
    with _moto_kinesis("k08") as (stream, url):
        sink = KinesisSink(stream, endpoint_url=url, **_MOTO_AUTH)
        # Two tasks feed the sink's one collect job (k01).
        sink.write_batch(payload.coalesce(2), epoch_id=0)
        raw = (
            spark.readStream.format("kinesis_py")
            .options(
                endpoint="aws",
                stream=stream,
                endpoint_url=url,
                **_MOTO_AUTH,
            )
            .load()
        )
        _drain_stream_to_table(raw, "k08_out", mode="append", no_data=False)
    return _event_type_rollup(spark.table("k08_out"))


def k09_aws_throttled_put(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k04's at-most-once drop contract AT THE WIRE: the strict-parity
    sink (one PutRecords, zero retries, log-and-drop —
    basestreamer.go:64-87) runs through a REAL boto3 client against a
    loopback throttling proxy (`sources/throttle_proxy.py`) fronting
    an in-process moto server (`_moto_kinesis`).  The proxy withholds
    every ``event_id % 10 == 0`` record and splices
    ``ProvisionedThroughputExceededException`` entries into the HTTP
    response, so botocore parses a genuine partial-failure PutRecords
    reply (``FailedRecordCount > 0`` + per-record ``ErrorCode``) — the
    branch moto alone can never produce — and the per-record handling
    of basestreamer.go:76-82 is pinned at the wire level.  Survivors
    are read back through the fence source and rolled up; the oracle
    states the survivor set exactly (``event_id % 10 == 5`` of the %5
    slice, identical to k04), so the hash fails on retries,
    over-drops, or raises.  A server or proxy that cannot start fails
    the query."""
    from kinesis_log_streamer_spark.sources.throttle_proxy import (
        ThrottlingKinesisProxy,
    )
    from kinesis_log_streamer_spark.streaming.kinesis_sink import KinesisSink

    payload = _kinesis_payload(spark, sf_dir, 5)
    with _moto_kinesis("k09") as (stream, moto_url):
        proxy = ThrottlingKinesisProxy(moto_url, reject_mod=10)
        proxy_url = proxy.start()
        try:
            sink = KinesisSink(
                stream,
                endpoint_url=proxy_url,  # producers go THROUGH the proxy
                delivery="at_most_once",
                **_MOTO_AUTH,
            )
            sink.write_batch(payload.coalesce(2), epoch_id=0)
            raw = (
                spark.readStream.format("kinesis_py")
                .options(
                    endpoint="aws",
                    stream=stream,
                    endpoint_url=moto_url,  # readers skip the proxy
                    fencelagms="0",
                    **_MOTO_AUTH,
                )
                .load()
            )
            _drain_stream_to_table(
                raw, "k09_out", mode="append", no_data=False
            )
        finally:
            proxy.stop()
    return _event_type_rollup(spark.table("k09_out"))


def f25_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map FILE-SKIPPING planner — the data-skipping arithmetic
    behind parquet row-group stats, Iceberg/Delta manifest pruning,
    and Spark's own partition pruning, made explicit and
    oracle-checked: model orders as half-year date-partitioned files
    (the layout a `partitionBy(date_trunc)` writer produces —
    scan-local bucketing, NOT a global ntile, which would be a total
    sort), build each file's two-column zone map (min/max orderdate,
    min/max totalprice, row count), then for a panel of probe
    predicates count prunable files and the rows a zone-aware scan
    still reads vs the rows that actually match.

    The panel is the lesson: date probes prune 12–14 of 14 files
    because the layout CLUSTERS the date column (h1_1998 reads
    exactly its matching rows — perfect alignment), while the
    price-only probe prunes ZERO files because price is unclustered
    within every file — zone maps only skip what the layout sorted.

    Scale: zone maps are one partial agg per file over min/max/count
    (metadata-sized — this is what a manifest stores); the pruning
    decision joins |files| × |probes| rows, never facts.  The truth
    leg scans facts once with the 5-probe literal broadcast — it
    exists for the gate; a production planner emits only the
    estimate."""
    probes = F.broadcast(
        spark.createDataFrame(
            [
                ("year_1996", "1996-01-01", "1996-12-31", 0.0, 1e9),
                ("h1_1998", "1998-01-01", "1998-06-30", 0.0, 1e9),
                ("day_1997_03_15", "1997-03-15", "1997-03-15", 0.0, 1e9),
                ("price_over_400k", "1992-01-01", "2001-12-31", 400000.0, 1e9),
                ("none_2005", "2005-01-01", "2005-12-31", 0.0, 1e9),
            ],
            "probe string, d_lo string, d_hi string, p_lo double, p_hi double",
        ).select(
            "probe",
            F.col("d_lo").cast("date").alias("d_lo"),
            F.col("d_hi").cast("date").alias("d_hi"),
            "p_lo",
            "p_hi",
        )
    )
    filed = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_totalprice").alias("p"),
        (
            (F.year("o_orderdate") - 1992) * 2
            + (F.month("o_orderdate") > 6).cast("int")
        ).alias("file_id"),
    )
    zones = filed.groupBy("file_id").agg(
        F.min("d").alias("d_min"),
        F.max("d").alias("d_max"),
        F.min("p").alias("p_min"),
        F.max("p").alias("p_max"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    pruned = (
        (F.col("d_max") < F.col("d_lo"))
        | (F.col("d_min") > F.col("d_hi"))
        | (F.col("p_max") < F.col("p_lo"))
        | (F.col("p_min") > F.col("p_hi"))
    )
    agg = (
        zones.crossJoin(probes)
        .groupBy("probe")
        .agg(
            F.count(F.lit(1)).alias("files_total"),
            F.sum(pruned.cast("long")).alias("files_pruned"),
            F.sum(
                F.when(pruned, F.lit(0)).otherwise(F.col("n_rows"))
            ).alias("rows_scanned"),
        )
    )
    truth = (
        filed.crossJoin(probes)
        .groupBy("probe")
        .agg(
            F.sum(
                (
                    F.col("d").between(F.col("d_lo"), F.col("d_hi"))
                    & F.col("p").between(F.col("p_lo"), F.col("p_hi"))
                ).cast("long")
            ).alias("rows_matching")
        )
    )
    # 5-row gate join: broadcast so the initial plan is a BHJ rather
    # than waiting for AQE to demote the SMJ at runtime.
    return agg.join(F.broadcast(truth), "probe").orderBy("probe")


def ts04_acf_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation-panel seasonality probe — the standard ACF
    diagnostic behind period detection in monitoring/forecasting
    pipelines: each user's activity becomes a dense 720-slot hourly
    series over the one-month window (zero-filled), the ACF is
    evaluated at the panel lags {1,2,3,6,12,24}, and the dominant
    lag is the first panel lag attaining the maximum rounded ACF
    (tie -> smallest lag, a total rule).

    Scale shape: one groupBy(user, slot) partial agg; the dense
    series materializes as a 720-slot array per user (scan-local
    transform), and the six lag covariances fold over that ARRAY in
    the same projection (one ``aggregate`` per lag; r14 — the
    previous posexplode → 6 × lag() window → re-groupBy ran a
    720-row-per-user sort plus a third aggregation exchange for
    sums a per-row array fold computes in place; the fold adds the
    identical terms in the identical slot order, including the
    when()-guarded +0.0 terms for slots < k, so the fp results are
    bit-equal: 1.6 s → 1.1 s at sf0.1, same hash) — parallel in
    users, O(720) state per task, no self-join (a lag-k self-join
    would shuffle the series six times).  Engine-parity
    determinism: slot sums round to 2 then lift to exact integer
    cents; the series mean divides an exact integer sum, so only
    the covariance folds are order-dependent (~1 ulp) and every
    ACF rounds to 3 before comparison; the dominant-lag rule
    compares ROUNDED values via greatest() + first-match CASE,
    identical in both engines."""
    lags = [1, 2, 3, 6, 12, 24]
    ev = _t(spark, sf_dir, "events")
    slot = ((F.dayofmonth("ts") - 1) * 24 + F.hour("ts")).alias("slot")
    sums = (
        ev.filter(F.col("user_id") < 30)
        .groupBy("user_id", slot)
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    per_user = sums.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("slot", "v")))
        ).alias("m")
    )
    dense = per_user.select(
        "user_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(719)),
            lambda i: F.round(
                F.coalesce(F.element_at("m", i.cast("int")), F.lit(0.0))
                * 100
            ).cast("long"),
        ).alias("c"),
    ).withColumn(
        "mu",
        F.aggregate("c", F.lit(0).cast("long"), lambda a, x: a + x)
        / F.lit(720.0),
    )
    def _dev(i):
        return F.element_at("c", (i + 1).cast("int")) - F.col("mu")

    slots = F.sequence(F.lit(0), F.lit(719))

    def _num_fold(k: int):
        # Slots below k contribute the same when()-guarded +0.0 term
        # the lag-window form summed, in the same ascending slot
        # order — the folds are fp-bit-equal.
        return lambda acc, i: acc + F.when(
            i >= k,
            _dev(i)
            * (F.element_at("c", (i - k + 1).cast("int")) - F.col("mu")),
        ).otherwise(F.lit(0.0))

    aggs = [
        F.aggregate(
            slots,
            F.lit(0.0),
            lambda acc, i: acc + _dev(i) * _dev(i),
        ).alias("den"),
    ] + [
        F.aggregate(slots, F.lit(0.0), _num_fold(k)).alias(f"num{k}")
        for k in lags
    ]
    acf = dense.select("user_id", *aggs)
    for k in lags:
        acf = acf.withColumn(
            f"r{k}",
            # + 0.0 canonicalizes IEEE -0.0 (round of a tiny negative
            # covariance) to +0.0 on both engines before the compare.
            F.round(
                F.coalesce(
                    F.col(f"num{k}") / F.nullif("den", F.lit(0.0)),
                    F.lit(0.0),
                ),
                3,
            )
            + F.lit(0.0),
        )
    g = F.greatest(*[F.col(f"r{k}") for k in lags])
    dom = F.lit(None).cast("int")
    for k in reversed(lags):
        dom = F.when(F.col(f"r{k}") == g, F.lit(k)).otherwise(dom)
    return acf.select(
        "user_id",
        *[f"r{k}" for k in lags],
        dom.alias("dominant_lag"),
    ).orderBy("user_id")


def ts02_paa_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAA + SAX symbolic discretization (Lin et al., DMKD 2007 —
    the standard time-series indexing sketch): each user's 24-slot
    hourly activity series is z-normalized, reduced to 6 Piecewise
    Aggregate Approximation segments (mean of 4 consecutive slots),
    and each segment mapped to a 4-letter alphabet by the Gaussian
    breakpoints (-0.6745, 0, 0.6745); the per-user SAX word is the
    symbolic sketch used for motif discovery / similarity indexing.

    Scale shape: ONE groupBy(user, slot) partial agg builds the
    series; everything downstream is scan-local array arithmetic
    (``transform``/``aggregate`` over a 24-slot array — built-in
    higher-order functions, no UDF, no second wide shuffle; the
    per-user regroup rides the same user_id hash).  Engine-parity
    determinism: slot sums are rounded to 2 then lifted to exact
    integer cents, so the series mean is an exact-integer sum and
    both engines divide identical numerators; z-scores are rounded
    to 3 before the breakpoint CASE so the only order-dependent
    float fold (the stddev sum of squares, ~1 ulp) cannot flip a
    symbol."""
    ev = _t(spark, sf_dir, "events")
    sums = (
        ev.filter(F.col("user_id") < 100)
        .groupBy("user_id", F.hour("ts").alias("slot"))
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    per_user = sums.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("slot", "v")))
        ).alias("m"),
        F.count(F.lit(1)).alias("slots_present"),
    )
    dense = per_user.select(
        "user_id",
        "slots_present",
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda i: F.coalesce(
                F.element_at("m", i.cast("int")), F.lit(0.0)
            ),
        ).alias("series"),
    )
    cents = F.transform(
        "series", lambda x: F.round(x * 100).cast("long")
    )
    st = (
        dense.select("user_id", "slots_present", cents.alias("c"))
        .withColumn(
            "mean_c",
            F.aggregate("c", F.lit(0).cast("long"), lambda a, x: a + x)
            / F.lit(24.0),
        )
        .withColumn(
            "sd_c",
            F.sqrt(
                F.aggregate(
                    "c",
                    F.lit(0.0),
                    lambda a, x: a
                    + (x - F.col("mean_c")) * (x - F.col("mean_c")),
                )
                / F.lit(24.0)
            ),
        )
        .withColumn(
            "paa",
            F.transform(
                F.sequence(F.lit(0), F.lit(5)),
                lambda k: F.aggregate(
                    F.slice("c", k * 4 + 1, 4),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                )
                / F.lit(4.0),
            ),
        )
        .withColumn(
            "z",
            F.transform(
                "paa",
                lambda p: F.when(
                    F.col("sd_c") == 0, F.lit(0.0)
                ).otherwise(
                    F.round((p - F.col("mean_c")) / F.col("sd_c"), 3)
                ),
            ),
        )
    )
    sym = F.transform(
        "z",
        lambda zz: F.when(zz < -0.6745, F.lit("a"))
        .when(zz < 0.0, F.lit("b"))
        .when(zz < 0.6745, F.lit("c"))
        .otherwise(F.lit("d")),
    )
    return st.select(
        "user_id",
        F.array_join(sym, "").alias("sax_word"),
        "slots_present",
    ).orderBy("user_id")


def ts03_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013),
    the standard visualization-grade series reducer, in its
    bucket-average-anchor PARALLEL variant: classic LTTB ranks each
    bucket's points by triangle area against the PREVIOUSLY SELECTED
    point (a sequential chain); anchoring on the neighbor buckets'
    average point instead makes every bucket's argmax independent —
    the form that distributes.  Per user: ntile(12) buckets over the
    time axis, keep the first/last raw points as anchors, and from
    each interior bucket keep the point with the largest triangle
    area spanned with the previous/next bucket averages.

    Scale shape: one window pass to bucket (partitioned by user —
    parallel in users), one partial-agg for bucket averages, one
    broadcast-sized neighbor join back, one per-bucket argmax window.
    No all-pairs stage; state per task is O(points per user).
    Engine-parity determinism: the time axis is exact integer
    MICROSECONDS and values are lifted to exact integer cents, so
    bucket sums are exact and both engines divide identical
    numerators — every downstream double (areas included) is
    bit-identical, with event_id as the total tiebreak."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    w = W.partitionBy("user_id").orderBy("x", "event_id")
    pts = (
        ev.select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("x"),
            F.round(F.col("value") * 100).cast("long").alias("yc"),
            "value",
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("nb", F.ntile(12).over(w))
    )
    # Bucket stats reduce to 12 rows per user at the partial-agg stage,
    # so the neighbor table is metadata-sized -> broadcast it back and
    # select every representative in ONE pass over pts (a union of
    # interior/anchor legs would re-run the scan+window subtree per
    # leg -- measured 4 scans / 14 exchanges before this form).
    b = pts.groupBy("user_id", "nb").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("x").alias("sx"),
        F.sum("yc").alias("sy"),
    )
    wb = W.partitionBy("user_id").orderBy("nb")
    b = b.withColumn(
        "bx", F.col("sx").cast("double") / F.col("cnt")
    ).withColumn("by", F.col("sy").cast("double") / F.col("cnt"))
    nbr = b.select(
        "user_id",
        "nb",
        F.lag("bx").over(wb).alias("bxp"),
        F.lag("by").over(wb).alias("byp"),
        F.lead("bx").over(wb).alias("bxn"),
        F.lead("by").over(wb).alias("byn"),
    )
    wu = W.partitionBy("user_id")
    j = (
        pts.join(F.broadcast(nbr), ["user_id", "nb"])
        .withColumn(
            "area",
            F.coalesce(
                F.abs(
                    (F.col("bxp") - F.col("bxn"))
                    * (F.col("yc") - F.col("byp"))
                    - (F.col("bxp") - F.col("x"))
                    * (F.col("byn") - F.col("byp"))
                ),
                F.lit(0.0),
            ),
        )
        .withColumn("nbmax", F.max("nb").over(wu))
        .withColumn("cmax", F.max("rn").over(wu))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("user_id", "nb").orderBy(
                    F.desc("area"), F.asc("event_id")
                )
            ),
        )
    )
    first_pt = (F.col("nb") == 1) & (F.col("rn") == 1)
    last_pt = (F.col("nb") == F.col("nbmax")) & (
        F.col("rn") == F.col("cmax")
    )
    interior_pt = (
        (F.col("nb") > 1)
        & (F.col("nb") < F.col("nbmax"))
        & (F.col("rk") == 1)
    )
    return (
        j.filter(first_pt | last_pt | interior_pt)
        .select(
            "user_id",
            F.col("nb").alias("bucket"),
            "event_id",
            F.round("value", 2).alias("val"),
            F.when(
                first_pt | last_pt, F.lit(0.0)
            ).otherwise(
                F.round(F.col("area") / F.lit(1.0e9), 3)
            ).alias("area_g"),
        )
        .orderBy("user_id", "bucket")
    )


def d25_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup (the FastCDC/gear-hash family —
    Xia et al., USENIX ATC 2016): split each document at positions
    where a rolling gear hash of the trailing 8 characters has its
    top 6 of 32 bits zero (expected chunk ~64 chars), then group the
    chunks by md5 — boundary-shift-immune duplicate detection, the
    storage-dedup complement to shingle methods (d02/d04): an edit
    moves at most the two chunks it touches, so shared runs between
    near-duplicate docs still collide on identical chunk hashes.

    The gear window is a FIXED 8, so the hash at position i is a
    pure function of chars i-7..i: h(i) = sum_j g(c[i-j])*2^j mod
    2^32 — position-independent and therefore computable per
    position with NO sequential carry (the classic h=(h<<1)+g
    recurrence shifts bytes out of a 32-bit lane after 32 steps; a
    short fixed window is the same idea made explicitly parallel).  The
    boundary test uses the HIGH bits (h < 2^26) — low bits would
    degenerate to a 6-char window since g*2^j mod 64 vanishes for
    j>=6.  g(c) = codepoint * 2654435761 mod 2^32 (Knuth
    multiplicative hash) — engine-portable integer arithmetic, max
    intermediate < 2^51, no overflow in a 64-bit lane.

    Scale shape: boundary detection and chunk slicing are scan-local
    higher-order-function arithmetic over the codepoint array (JVM
    expression eval, no UDF, no shuffle); the only wide stage is the
    final chunk-hash groupBy — a plain hash agg, linear at 100 TB.
    The 512-char probe head bounds suite cost; the operator is
    linear and runs uncapped in production (chunking never compares
    documents pairwise)."""
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    st1 = docs.select(
        "doc_id", F.substring("text", 1, 512).alias("head")
    )
    gv = F.transform(
        F.split("head", ""),
        lambda c: (F.ascii(c).cast("long") * F.lit(2654435761))
        % F.lit(4294967296),
    )
    st2 = st1.select(
        "doc_id", "head", gv.alias("g"), F.length("head").alias("n")
    )
    # The window sum is UNROLLED over the 8 fixed taps (r14): the
    # previous inner ``aggregate(sequence(0, 7), ...)`` allocated a
    # sequence array and ran a second interpreted lambda PER PROBE
    # POSITION (~8 element_at + fold overhead × ~505 positions per
    # doc); the unrolled form is the same left-associated integer sum
    # (exact at any association; max intermediate < 2^42) evaluated
    # as one flat expression per position.  3.1 s → 2.0 s at sf0.1,
    # identical boundaries.
    def _gear(i):
        h = F.element_at("g", i.cast("int"))
        for j in range(1, 8):
            h = h + F.element_at("g", (i - j).cast("int")) * (1 << j)
        return h

    bound = F.when(
        F.col("n") >= 8,
        F.filter(
            F.sequence(F.lit(8), F.col("n")),
            lambda i: (_gear(i) % F.lit(4294967296)) < F.lit(67108864),
        ),
    ).otherwise(F.array().cast("array<int>"))
    st3 = st2.withColumn("bpos", bound).withColumn(
        "cuts",
        F.array_sort(
            F.array_distinct(
                F.concat(
                    F.array(F.lit(0)),
                    F.col("bpos"),
                    F.array(F.col("n")),
                )
            )
        ),
    )
    chunks = F.transform(
        F.sequence(F.lit(2), F.size("cuts")),
        lambda t: F.col("head").substr(
            F.element_at("cuts", (t - 1).cast("int")) + F.lit(1),
            F.element_at("cuts", t.cast("int"))
            - F.element_at("cuts", (t - 1).cast("int")),
        ),
    )
    ex = st3.select("doc_id", F.explode(chunks).alias("chunk"))
    return (
        ex.groupBy(F.md5("chunk").alias("chunk_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(F.length("chunk")).alias("chunk_len"),
        )
        .orderBy(F.desc("n_occ"), F.asc("chunk_hash"))
        .limit(100)
    )


# Every query, in family order (alphabetical prefix, ascending number).
_BY_FAMILY = {
    "d01_exact_dedup": d01_exact_dedup,
    "d02_minhash_pairs": d02_minhash_pairs,
    "d03_simhash_pairs": d03_simhash_pairs,
    "d04_ngram_jaccard": d04_ngram_jaccard,
    "d05_dedup_clusters": d05_dedup_clusters,
    "d06_dedup_keep": d06_dedup_keep,
    "d07_containment_pairs": d07_containment_pairs,
    "d08_token_sort_dedup": d08_token_sort_dedup,
    "d09_lsh_band_sweep": d09_lsh_band_sweep,
    "d10_incremental_dedup": d10_incremental_dedup,
    "d11_dup_span_stats": d11_dup_span_stats,
    "d13_semdedup": d13_semdedup,
    "d14_hash_prefilter_dedup": d14_hash_prefilter_dedup,
    "d15_tfidf_cosine_pairs": d15_tfidf_cosine_pairs,
    "d16_cluster_size_histogram": d16_cluster_size_histogram,
    "d17_portable_simhash_pairs": d17_portable_simhash_pairs,
    "d18_normalized_dedup": d18_normalized_dedup,
    "d19_lsh_recall_gate": d19_lsh_recall_gate,
    "d20_prefix_filter_jaccard": d20_prefix_filter_jaccard,
    "d21_winnowing_fingerprints": d21_winnowing_fingerprints,
    "d22_winnowing_shared_pairs": d22_winnowing_shared_pairs,
    "d23_dup_span_removal": d23_dup_span_removal,
    "d24_simhash_star_edges": d24_simhash_star_edges,
    "d25_cdc_chunk_dedup": d25_cdc_chunk_dedup,

    "f01_csv_roundtrip": f01_csv_roundtrip,
    "f02_partitioned_parquet_roundtrip": f02_partitioned_parquet_roundtrip,
    "f03_orc_roundtrip": f03_orc_roundtrip,
    "f04_bucketed_join": f04_bucketed_join,
    "f05_zorder_layout": f05_zorder_layout,
    "f06_schema_evolution": f06_schema_evolution,
    "f07_compaction": f07_compaction,
    "f08_malformed_csv": f08_malformed_csv,
    "f09_jsonlines_nested_roundtrip": f09_jsonlines_nested_roundtrip,
    "f10_corrupt_json_permissive": f10_corrupt_json_permissive,
    "f11_csv_quoted_multiline": f11_csv_quoted_multiline,
    "f12_xml_roundtrip": f12_xml_roundtrip,
    "f13_variant_shred": f13_variant_shred,
    "f14_gzip_jsonl_scan": f14_gzip_jsonl_scan,
    "f15_dynamic_partition_overwrite": f15_dynamic_partition_overwrite,
    "f16_multiline_json_array": f16_multiline_json_array,
    "f17_failfast_json": f17_failfast_json,
    "f18_path_glob_recursive": f18_path_glob_recursive,
    "f19_parquet_codec_matrix": f19_parquet_codec_matrix,
    "f20_wholetext_scan": f20_wholetext_scan,
    "f21_nested_schema_pruning": f21_nested_schema_pruning,
    "f22_ignore_corrupt_files": f22_ignore_corrupt_files,
    "f23_max_records_per_file": f23_max_records_per_file,
    "f24_avro_roundtrip": f24_avro_roundtrip,
    "f25_zonemap_prune": f25_zonemap_prune,

    "g01_grid_neighbor_join": g01_grid_neighbor_join,
    "g02_triangle_count": g02_triangle_count,
    "g03_bfs_levels": g03_bfs_levels,
    "g04_weighted_sssp": g04_weighted_sssp,
    "g05_degree_stats": g05_degree_stats,
    "g06_label_propagation": g06_label_propagation,

    "i01_wrap_lines": i01_wrap_lines,
    "i02_enrich_json": i02_enrich_json,
    "i03_enrich_nested_json": i03_enrich_nested_json,
    "i04_line_pipeline_roundtrip": i04_line_pipeline_roundtrip,
    "i05_concat_json_decode": i05_concat_json_decode,
    "i06_json_seq_roundtrip": i06_json_seq_roundtrip,
    "i07_stdin_spool_pipeline": i07_stdin_spool_pipeline,
    "i08_live_spool_stream": i08_live_spool_stream,

    "k01_kinesis_roundtrip": k01_kinesis_roundtrip,
    "k02_kinesis_checkpoint_resume": k02_kinesis_checkpoint_resume,
    "k03_kinesis_reshard_discovery": k03_kinesis_reshard_discovery,
    "k04_at_most_once_drops": k04_at_most_once_drops,
    "k05_python_datasource_writer": k05_python_datasource_writer,
    "k06_shard_balance": k06_shard_balance,
    "k07_reshard_plan": k07_reshard_plan,
    "k08_aws_transport_roundtrip": k08_aws_transport_roundtrip,
    "k09_aws_throttled_put": k09_aws_throttled_put,

    "l01_status_rollup": l01_status_rollup,
    "l02_topk_urls": l02_topk_urls,
    "l03_windowed_error_rate": l03_windowed_error_rate,
    "l04_request_line_split": l04_request_line_split,
    "l05_latency_percentiles": l05_latency_percentiles,
    "l06_client_sessions": l06_client_sessions,
    "l07_funnel": l07_funnel,
    "l08_cohort_retention": l08_cohort_retention,
    "l09_rolling_anomaly": l09_rolling_anomaly,
    "l10_burst_clients": l10_burst_clients,
    "l11_ip_range_enrich": l11_ip_range_enrich,
    "l12_alert_transitions": l12_alert_transitions,
    "l13_errorlog_rollup": l13_errorlog_rollup,
    "l15_apdex": l15_apdex,
    "l16_slo_burn_rate": l16_slo_burn_rate,
    "l17_json_key_profile": l17_json_key_profile,
    "l18_clf_parse_roundtrip": l18_clf_parse_roundtrip,
    "l19_log_template_mining": l19_log_template_mining,
    "l20_ingest_rollup_pipeline": l20_ingest_rollup_pipeline,
    "l21_errorlog_pipeline": l21_errorlog_pipeline,

    "m01_multimodal_meta": m01_multimodal_meta,
    "m02_multimodal_decode": m02_multimodal_decode,
    "m03_frame_sample": m03_frame_sample,
    "m04_binary_file_scan": m04_binary_file_scan,
    "m05_frame_dedup": m05_frame_dedup,
    "m06_audio_frame_energy": m06_audio_frame_energy,
    "m07_image_resize": m07_image_resize,
    "m08_ppm_decode_stats": m08_ppm_decode_stats,
    "m09_wav_decode_stats": m09_wav_decode_stats,
    "m10_png_decode_stats": m10_png_decode_stats,

    "p01_table_profile": p01_table_profile,
    "p02_dq_checks": p02_dq_checks,
    "p03_observed_metrics": p03_observed_metrics,
    "p04_stream_progress_metrics": p04_stream_progress_metrics,
    "p05_pipeline_reconciliation": p05_pipeline_reconciliation,
    "p06_benford_profile": p06_benford_profile,
    "p07_psi_drift": p07_psi_drift,
    "p08_dq_rules": p08_dq_rules,
    "p09_join_skew_profile": p09_join_skew_profile,
    "p10_compaction_plan": p10_compaction_plan,
    "p11_join_size_preflight": p11_join_size_preflight,

    "q01_pricing_summary": q01_pricing_summary,
    "q02_filter_project": q02_filter_project,
    "q03_topk_orders": q03_topk_orders,
    "q04_broadcast_join": q04_broadcast_join,
    "q05_region_revenue": q05_region_revenue,
    "q06_semi_join": q06_semi_join,
    "q07_anti_join": q07_anti_join,
    "q08_outer_join": q08_outer_join,
    "q09_cross_join": q09_cross_join,
    "q10_range_join": q10_range_join,
    "q11_window_rank": q11_window_rank,
    "q12_window_running": q12_window_running,
    "q13_rollup": q13_rollup,
    "q14_cube": q14_cube,
    "q15_set_ops": q15_set_ops,
    "q16_distinct_agg": q16_distinct_agg,
    "q17_conditional_agg": q17_conditional_agg,
    "q18_string_funcs": q18_string_funcs,
    "q19_date_funcs": q19_date_funcs,
    "q20_json_funcs": q20_json_funcs,
    "q21_exists_subquery": q21_exists_subquery,
    "q22_scalar_subquery": q22_scalar_subquery,
    "q23_asof_join": q23_asof_join,
    "q24_tumbling_window": q24_tumbling_window,
    "q25_sessionize": q25_sessionize,
    "q26_pivot": q26_pivot,
    "q27_percentiles": q27_percentiles,
    "q28_approx_stats": q28_approx_stats,
    "q29_grouping_sets": q29_grouping_sets,
    "q30_lead_ntile": q30_lead_ntile,
    "q31_token_explode": q31_token_explode,
    "q32_array_funcs": q32_array_funcs,
    "q33_except_all": q33_except_all,
    "q34_map_funcs": q34_map_funcs,
    "q35_sliding_window": q35_sliding_window,
    "q36_binned_range_join": q36_binned_range_join,
    "q37_unpivot": q37_unpivot,
    "q38_salted_join": q38_salted_join,
    "q39_range_frame_window": q39_range_frame_window,
    "q40_stat_aggregates": q40_stat_aggregates,
    "q41_histogram": q41_histogram,
    "q42_upsert_merge": q42_upsert_merge,
    "q43_window_misc": q43_window_misc,
    "q44_running_distinct": q44_running_distinct,
    "q45_string_agg": q45_string_agg,
    "q46_recursive_cte": q46_recursive_cte,
    "q47_market_share": q47_market_share,
    "q48_fuzzy_join": q48_fuzzy_join,
    "q49_null_safe_join": q49_null_safe_join,
    "q50_median_quantiles": q50_median_quantiles,
    "q51_gap_fill": q51_gap_fill,
    "q52_join_hints": q52_join_hints,
    "q53_decimal_exact": q53_decimal_exact,
    "q54_scd2_join": q54_scd2_join,
    "q55_dynamic_partition_pruning": q55_dynamic_partition_pruning,
    "q56_pagerank": q56_pagerank,
    "q57_predicate_collect": q57_predicate_collect,
    "q58_not_in_null_semantics": q58_not_in_null_semantics,
    "q59_null_ordering": q59_null_ordering,
    "q60_lateral_topk": q60_lateral_topk,
    "q61_approx_quantile_gate": q61_approx_quantile_gate,
    "q62_correlated_scalar_subquery": q62_correlated_scalar_subquery,
    "q63_asof_tolerance": q63_asof_tolerance,
    "q64_hll_partial_union": q64_hll_partial_union,
    "q65_bloom_filter_join": q65_bloom_filter_join,
    "q66_snapshot_diff": q66_snapshot_diff,
    "q67_max_concurrency": q67_max_concurrency,
    "q68_asof_forward": q68_asof_forward,
    "q69_cached_branch_reuse": q69_cached_branch_reuse,
    "q70_bitwise_aggs": q70_bitwise_aggs,
    "q71_null_skew_join": q71_null_skew_join,
    "q72_scd2_build": q72_scd2_build,
    "q73_dynamic_sessionize": q73_dynamic_sessionize,
    "q74_rank_battery": q74_rank_battery,
    "q75_try_arithmetic": q75_try_arithmetic,
    "q76_multi_distinct_agg": q76_multi_distinct_agg,
    "q77_intersect_all": q77_intersect_all,
    "q78_json_tuple": q78_json_tuple,
    "q79_collation_group": q79_collation_group,
    "q80_parameterized_sql": q80_parameterized_sql,
    "q81_sql_pivot_unpivot": q81_sql_pivot_unpivot,
    "q82_offset_pagination": q82_offset_pagination,
    "q83_native_dynamic_session": q83_native_dynamic_session,
    "q84_approx_distinct_gate": q84_approx_distinct_gate,
    "q85_map_hof_battery": q85_map_hof_battery,
    "q86_incremental_rollup": q86_incremental_rollup,
    "q87_group_by_all": q87_group_by_all,
    "q88_filter_through_window": q88_filter_through_window,
    "q89_cbo_stats": q89_cbo_stats,
    "q90_mad": q90_mad,
    "q91_time_rollup": q91_time_rollup,
    "q92_lag_defaults": q92_lag_defaults,
    "q92b_comparator_sort": q92b_comparator_sort,
    "q93_bool_aggregates": q93_bool_aggregates,
    "q94_lateral_view_outer": q94_lateral_view_outer,
    "q96_bitmap_distinct": q96_bitmap_distinct,
    "q97_aes_roundtrip": q97_aes_roundtrip,
    "q98_url_canonicalize": q98_url_canonicalize,
    "q99_regexp_battery": q99_regexp_battery,
    "q100_union_by_name": q100_union_by_name,
    "q101_datetime_battery": q101_datetime_battery,
    "q102_string_pad_battery": q102_string_pad_battery,
    "q103_try_cast": q103_try_cast,
    "q104_ignore_nulls_window": q104_ignore_nulls_window,
    "q105_timestamp_arith": q105_timestamp_arith,
    "q106_lateral_alias": q106_lateral_alias,
    "q107_crosstab": q107_crosstab,
    "q108_equiheight_histogram": q108_equiheight_histogram,
    "q109_asof_nearest": q109_asof_nearest,
    "q110_pivot_multi_agg": q110_pivot_multi_agg,
    "q111_interval_overlap_join": q111_interval_overlap_join,
    "q112_values_inline_join": q112_values_inline_join,
    "q113_sql_udf": q113_sql_udf,
    "q114_column_defaults": q114_column_defaults,
    "q115_window_group_limit": q115_window_group_limit,
    "q116_safe_array_access": q116_safe_array_access,
    "q117_take_ordered_gate": q117_take_ordered_gate,
    "q118_complex_type_ordering": q118_complex_type_ordering,
    "q119_regression_aggregates": q119_regression_aggregates,
    "q120_sql_pipe_syntax": q120_sql_pipe_syntax,
    "q121_transpose": q121_transpose,
    "q123_lateral_join_api": q123_lateral_join_api,
    "q124_argminmax_battery": q124_argminmax_battery,
    "q125_null_format_battery": q125_null_format_battery,
    "q126_sql_scripting": q126_sql_scripting,
    "q127_generator_outer": q127_generator_outer,
    "q128_try_parse_battery": q128_try_parse_battery,
    "q129_nested_struct_update": q129_nested_struct_update,
    "q130_listagg": q130_listagg,
    "q131_time_grid_fill": q131_time_grid_fill,
    "q132_theta_sketch_setops": q132_theta_sketch_setops,
    "q133_file_metadata_scan": q133_file_metadata_scan,
    "q134_scalar_subquery_api": q134_scalar_subquery_api,
    "q135_approx_top_k": q135_approx_top_k,

    "s01_cosine_topk": s01_cosine_topk,
    "s02_norm_stats": s02_norm_stats,
    "s03_lsh_topk": s03_lsh_topk,
    "s04_embedding_near_dups": s04_embedding_near_dups,
    "s05_ivf_topk": s05_ivf_topk,
    "s06_cosine_pairs_exact": s06_cosine_pairs_exact,
    "s07_label_centroids": s07_label_centroids,
    "s08_pq_topk": s08_pq_topk,
    "s09_kmeans": s09_kmeans,
    "s10_int8_quant_gate": s10_int8_quant_gate,
    "s11_ivf_probe_sweep": s11_ivf_probe_sweep,
    "s12_dim_stats": s12_dim_stats,
    "s13_truncated_dim_eval": s13_truncated_dim_eval,
    "s14_knn_accuracy": s14_knn_accuracy,
    "s15_ivf_index_persist": s15_ivf_index_persist,
    "s17_random_projection_gate": s17_random_projection_gate,
    "s18_mips_topk": s18_mips_topk,
    "s19_mmr_rerank": s19_mmr_rerank,
    "s20_maxsim_topk": s20_maxsim_topk,
    "s21_ivf_maxsim_rerank": s21_ivf_maxsim_rerank,
    "s22_embedding_star_edges": s22_embedding_star_edges,

    "st01_stream_window_counts": st01_stream_window_counts,
    "st02_stream_session_counts": st02_stream_session_counts,
    "st03_stream_stream_join": st03_stream_stream_join,
    "st04_stream_dedup": st04_stream_dedup,
    "st05_event_time_sessions": st05_event_time_sessions,
    "st06_watermark_late_drop": st06_watermark_late_drop,
    "st07_stream_static_join": st07_stream_static_join,
    "st08_foreachbatch_upsert": st08_foreachbatch_upsert,
    "st09_checkpoint_resume": st09_checkpoint_resume,
    "st10_stream_left_outer_join": st10_stream_left_outer_join,
    "st11_stream_source_union": st11_stream_source_union,
    "st12_file_sink_log": st12_file_sink_log,
    "st13_update_mode_counts": st13_update_mode_counts,
    "st14_chained_window_rollup": st14_chained_window_rollup,
    "st15_state_across_restarts": st15_state_across_restarts,
    "st16_transform_with_state": st16_transform_with_state,
    "st17_statestore_reader": st17_statestore_reader,
    "st18_rocksdb_statestore": st18_rocksdb_statestore,
    "st19_state_ttl_totals": st19_state_ttl_totals,

    "t01_text_quality": t01_text_quality,
    "t02_lang_scores": t02_lang_scores,
    "t03_langid_pred": t03_langid_pred,
    "t04_token_stats": t04_token_stats,
    "t05_fingerprint": t05_fingerprint,
    "t06_tfidf_topterms": t06_tfidf_topterms,
    "t07_bigram_topk": t07_bigram_topk,
    "t08_quality_budget": t08_quality_budget,
    "t09_hash_sample": t09_hash_sample,
    "t10_sequence_packing": t10_sequence_packing,
    "t11_split_assignment": t11_split_assignment,
    "t12_winsorize": t12_winsorize,
    "t13_contamination": t13_contamination,
    "t14_pii_scrub": t14_pii_scrub,
    "t15_repetition_rules": t15_repetition_rules,
    "t16_unigram_entropy": t16_unigram_entropy,
    "t17_minhash_estimate_gate": t17_minhash_estimate_gate,
    "t18_stratified_sample": t18_stratified_sample,
    "t19_bpe_pair_stats": t19_bpe_pair_stats,
    "t20_unigram_lm_score": t20_unigram_lm_score,
    "t21_langid_confusion": t21_langid_confusion,
    "t22_ngram_novelty": t22_ngram_novelty,
    "t23_chunk_with_overlap": t23_chunk_with_overlap,
    "t24_quality_ensemble": t24_quality_ensemble,
    "t25_oov_rate": t25_oov_rate,
    "t26_zipf_fit": t26_zipf_fit,
    "t27_bm25_topk": t27_bm25_topk,

    "ts01_series_similarity": ts01_series_similarity,
    "ts02_paa_sax": ts02_paa_sax,
    "ts03_lttb_downsample": ts03_lttb_downsample,
    "ts04_acf_seasonality": ts04_acf_seasonality,

    "u01_pandas_udaf": u01_pandas_udaf,
    "u02_scalar_pandas_udf": u02_scalar_pandas_udf,
    "u03_udtf_kv_explode": u03_udtf_kv_explode,
    "u04_grouped_map_zscore": u04_grouped_map_zscore,
    "u05_map_in_arrow": u05_map_in_arrow,
    "u06_arrow_scalar_udf": u06_arrow_scalar_udf,
    "u07_scalar_iter_udf": u07_scalar_iter_udf,
    "u08_polymorphic_udtf": u08_polymorphic_udtf,
    "u09_pandas_udaf_window": u09_pandas_udaf_window,
    "u10_table_arg_udtf": u10_table_arg_udtf,

    "w01_weighted_sample": w01_weighted_sample,
    "w02_temperature_mix": w02_temperature_mix,
    "w03_epoch_shuffle": w03_epoch_shuffle,
    "w04_largest_remainder_quota": w04_largest_remainder_quota,
    "w06_decay_weighted": w06_decay_weighted,
    "w07_weighted_percentile": w07_weighted_percentile,
    "w08_leak_safe_split": w08_leak_safe_split,
    "w09_point_in_time_matrix": w09_point_in_time_matrix,
}

# The external driver verifies only the first 50 registry entries, so
# the names that most need a fresh verdict go first: queries whose code
# changed since their last verdict, then the stalest verdicts.
_FRONT = [
    "l09_rolling_anomaly", "t22_ngram_novelty", "d02_minhash_pairs",
    "s08_pq_topk", "t27_bm25_topk", "s21_ivf_maxsim_rerank", "s09_kmeans",
    "i05_concat_json_decode", "i07_stdin_spool_pipeline",
    "i08_live_spool_stream", "l20_ingest_rollup_pipeline",
    "l21_errorlog_pipeline", "m05_frame_dedup", "m06_audio_frame_energy",
    "st12_file_sink_log", "st14_chained_window_rollup",
    "g01_grid_neighbor_join", "g02_triangle_count", "g03_bfs_levels",
    "g04_weighted_sssp", "k02_kinesis_checkpoint_resume",
    "k03_kinesis_reshard_discovery", "u06_arrow_scalar_udf",
    "u07_scalar_iter_udf", "u08_polymorphic_udtf", "u09_pandas_udaf_window",
    "u10_table_arg_udtf", "f12_xml_roundtrip", "f13_variant_shred",
    "f14_gzip_jsonl_scan", "f15_dynamic_partition_overwrite",
    "f17_failfast_json", "f18_path_glob_recursive", "f19_parquet_codec_matrix",
    "f20_wholetext_scan", "f21_nested_schema_pruning",
    "f22_ignore_corrupt_files", "w01_weighted_sample", "w02_temperature_mix",
    "w03_epoch_shuffle", "w04_largest_remainder_quota",
    "p04_stream_progress_metrics", "p05_pipeline_reconciliation",
    "p06_benford_profile", "l11_ip_range_enrich", "l12_alert_transitions",
    "l13_errorlog_rollup", "l17_json_key_profile", "q64_hll_partial_union",
    "q65_bloom_filter_join",
]

REGISTRY = {**dict.fromkeys(_FRONT), **_BY_FAMILY}
assert len(REGISTRY) == 336
