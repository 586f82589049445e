"""Relational operator library — SURVEY.md §2 inventory over the driver
tables (/root/testdata/sf*/ — region nation customer supplier part orders
lineitem events).

Each function takes (spark, sf_dir) and returns a DataFrame; every computed
column is aliased so the DuckDB oracle (textextract_spark.operators.oracles)
produces identical column names. Floating aggregates are rounded in BOTH
engines to sidestep last-ulp summation-order differences.

Reference citations per operator are in the docstrings (SURVEY.md §2 ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.source import source


# Every scan here is deliberately unspread (r7): these aggregations are
# count/min/max-shaped with light map-side work, and an A/B at sf1.0
# measured the spread's round-robin repartition (which pays a local sort
# per evaluation) as a net LOSS — approx_stats 2.2 s -> 6.8 s,
# daily_counters 1.5 s -> 1.9 s. The heavy text operators spread in
# their own modules where compute dominates the exchange.


# -- scans / filters / projections ------------------------------------------

def filter_eq_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 equality filter + P8 narrow projection (models.py:71,83;
    column pruning reaches the parquet scan)."""
    return (source(spark, sf_dir, "customer", spread=False)
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey", "c_name", "c_acctbal")
            .orderBy("c_custkey"))


def range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 range predicate (gte/lte date window, models.py:145-150) —
    pushed down to the parquet scan / Iceberg partition pruning."""
    return (source(spark, sf_dir, "orders", spread=False)
            .filter(F.col("o_orderdate").between("1996-01-01", "1996-06-30"))
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .orderBy("o_orderkey"))


def quota_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 compound quota predicate (models.py:247-288): plan limit vs usage
    vs credit fallback as one CASE expression over a join."""
    orders = source(spark, sf_dir, "orders", spread=False)
    cust = source(spark, sf_dir, "customer", spread=False)
    usage = orders.groupBy("o_custkey").agg(
        F.count("*").alias("order_count"))
    return (cust.join(usage, cust.c_custkey == usage.o_custkey, "left")
            .withColumn("order_count",
                        F.coalesce(F.col("order_count"), F.lit(0)))
            .withColumn(
                "can_order",
                F.when(F.col("c_acctbal") < 0, F.lit("no:negative_balance"))
                 .when(F.col("order_count") >= 15, F.lit("no:quota_exceeded"))
                 .when(F.col("c_acctbal") > 5000, F.lit("yes:premium"))
                 .otherwise(F.lit("yes:standard")))
            .select("c_custkey", "order_count", "can_order")
            .orderBy("c_custkey"))


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14/F15 JSON parse (JSONB device_info analog, backend/auth.py:
    181-218; create_tables.sql:29): extract a typed field from the JSON
    props column with a schema'd from_json, then aggregate."""
    ev = source(spark, sf_dir, "events", spread=False)
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return (ev.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.min("k").alias("k_min"),
                 F.max("k").alias("k_max"),
                 F.round(F.avg("k"), 4).alias("k_avg"))
            .orderBy("event_type"))


# -- joins -------------------------------------------------------------------

def fk_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 FK lookups (models.py:614-637) as broadcast hash joins —
    nation/region are tiny dims, so no shuffle of the fact side."""
    cust = source(spark, sf_dir, "customer", spread=False)
    nation = source(spark, sf_dir, "nation", spread=False)
    region = source(spark, sf_dir, "region", spread=False)
    return (cust
            .join(F.broadcast(nation),
                  cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region),
                  nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name")
            .agg(F.count("*").alias("customer_count"),
                 F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"))
            .orderBy("r_name"))


def anti_join_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 correctness anti-join (clipboard verify analog,
    src/clipboard.py:32-34): customers with no high-value order — the
    missing-urls regression-diff shape."""
    cust = source(spark, sf_dir, "customer", spread=False)
    hi = (source(spark, sf_dir, "orders", spread=False)
          .filter(F.col("o_totalprice") > 300000))
    return (cust.join(hi, cust.c_custkey == hi.o_custkey, "left_anti")
            .select("c_custkey", "c_name")
            .orderBy("c_custkey"))


def semi_join_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi: suppliers that shipped at least one line item."""
    supp = source(spark, sf_dir, "supplier", spread=False)
    li = source(spark, sf_dir, "lineitem", spread=False)
    return (supp.join(li, supp.s_suppkey == li.l_suppkey, "left_semi")
            .select("s_suppkey", "s_name")
            .orderBy("s_suppkey"))


# -- aggregations ------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline hash-agg (TPC-H Q1 shape) — map-side partials + AQE;
    A1/A6 period-sum + stats analogs (models.py:144-157)."""
    li = source(spark, sf_dir, "lineitem", spread=False)
    return (li.filter(F.col("l_shipdate") <= "2025-09-01")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                  .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def period_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 period SUM (models.py:144-157): engine-side aggregation of the
    range-filtered window — the reference summed client-side; we don't."""
    ev = source(spark, sf_dir, "events", spread=False)
    return (ev.filter(F.col("ts").between("2024-01-01", "2024-02-01"))
            .groupBy("user_id")
            .agg(F.round(F.sum("value"), 2).alias("period_value"),
                 F.count("*").alias("period_events"))
            .orderBy("user_id"))


def daily_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 daily counter upsert (models.py:397-425): the UNIQUE(user,date)
    increment becomes one groupBy feeding a MERGE (merge tested in
    operators.maintenance)."""
    ev = source(spark, sf_dir, "events", spread=False)
    return (ev.groupBy(F.col("user_id"),
                       F.to_date("ts").cast("string").alias("event_date"))
            .agg(F.count("*").alias("requests_count"),
                 F.sum(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("billable_count"),
                 F.sum(F.when(F.col("event_type") == "error", 1)
                        .otherwise(0)).alias("error_count"))
            .orderBy("user_id", "event_date"))


def window_ratelimit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 rate-limit window count (auth_routes.py:88-120): tumbling
    15-minute windows per user."""
    ev = source(spark, sf_dir, "events", spread=False)
    return (ev.groupBy(
                F.window("ts", "15 minutes").start.cast("string")
                 .alias("window_start"),
                "user_id")
            .agg(F.count("*").alias("hits"))
            .filter(F.col("hits") >= 2)
            .orderBy("window_start", "user_id"))


def resp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 response-time stats (create_tables.sql:42-45): total/avg/error
    columns per event type."""
    ev = source(spark, sf_dir, "events", spread=False)
    return (ev.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value"),
                 F.round(F.avg("value"), 4).alias("avg_value"),
                 F.sum(F.when(F.col("event_type") == "error", 1)
                        .otherwise(0)).alias("error_count"))
            .orderBy("event_type"))


def month_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 calendar-month boundaries (models.py:134-143): month-bucketed
    totals via date truncation, not client-side boundary math."""
    orders = source(spark, sf_dir, "orders", spread=False)
    return (orders.groupBy(F.year("o_orderdate").alias("order_year"),
                           F.month("o_orderdate").alias("order_month"))
            .agg(F.count("*").alias("order_count"),
                 F.round(F.sum("o_totalprice"), 2).alias("month_total"))
            .orderBy("order_year", "order_month"))


def distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 exact counts + distinct agg for metrics QA."""
    ev = source(spark, sf_dir, "events", spread=False)
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("distinct_users"),
                 F.count("*").alias("events"))
            .orderBy("event_type"))


def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregations with SELF-CHECKED error bounds: HLL++ distinct
    counts (approx_count_distinct) and KLL-style approximate percentiles
    (percentile_approx) next to their exact twins, emitting per-group
    booleans asserting the approximation landed within tolerance.

    The 10^12-row story: countDistinct is expand+two-phase-shuffle on
    the full key set and exact percentile is a sort — both infeasible at
    crawl scale, where HLL (fixed ~kB mergeable sketch, map-side
    combinable) and approx percentiles are the standard replacements.
    The driver oracle recomputes the EXACT columns in DuckDB and
    hard-codes the booleans TRUE, so a sketch drifting out of its
    advertised bound turns the row red.
    """
    ev = source(spark, sf_dir, "events", spread=False)
    pct = F.expr("percentile_approx(value, array(0.5D, 0.95D), 10000)")
    agg = (ev.groupBy("event_type")
           .agg(F.countDistinct("user_id").alias("distinct_users"),
                F.approx_count_distinct("user_id", rsd=0.02)
                 .alias("__hll"),
                pct.alias("__ap"),
                F.count("*").alias("events")))
    hll_ok = (F.abs(F.col("__hll") - F.col("distinct_users"))
              / F.col("distinct_users") <= 0.05)
    # the approx-percentile guarantee is on RANK (within err*n of the
    # target), not value distance — verify it as such: the fraction of
    # values <= (resp. <) the returned value must bracket the target
    # quantile within 1% slack. One broadcast join back (the agg output
    # is tiny) + one more map-side-combinable count pass.
    probes = agg.select("event_type",
                        F.element_at("__ap", 1).alias("__p50"),
                        F.element_at("__ap", 2).alias("__p95"))
    v = F.col("value")
    ranks = (ev.join(F.broadcast(probes), "event_type")
             .groupBy("event_type")
             .agg(*[F.sum((cmp).cast("long")).alias(name)
                    for name, cmp in [
                        ("__le50", v <= F.col("__p50")),
                        ("__lt50", v < F.col("__p50")),
                        ("__le95", v <= F.col("__p95")),
                        ("__lt95", v < F.col("__p95"))]],
                  F.count("*").alias("__n")))
    n = F.col("__n").cast("double")

    def rank_ok(le, lt, q):
        return ((F.col(le) / n >= q - 0.01) & (F.col(lt) / n <= q + 0.01))
    return (agg.join(ranks, "event_type")
            .select("event_type", "distinct_users", "events",
                    hll_ok.alias("hll_within_5pct"),
                    rank_ok("__le50", "__lt50", 0.5)
                    .alias("p50_rank_within_1pct"),
                    rank_ok("__le95", "__lt95", 0.95)
                    .alias("p95_rank_within_1pct"))
            .orderBy("event_type"))


# -- windows / ranking / pagination -----------------------------------------

def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 latest-row-wins (models.py:571-583) — the same dedup-latest the
    extraction pipeline uses for crawled urls."""
    ev = source(spark, sf_dir, "events", spread=False)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"),
                                              F.desc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type")
            .orderBy("user_id"))


def top1_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 top-1 selection (update_routes.py:222-230): highest-value event
    per type via row_number, deterministic tiebreak."""
    ev = source(spark, sf_dir, "events", spread=False)
    w = Window.partitionBy("event_type").orderBy(F.desc("value"),
                                                 F.asc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("event_type", "event_id",
                    F.round("value", 2).alias("value"))
            .orderBy("event_type"))


def version_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 version ordering (update_routes.py:167-183): parse 'Brand#N'
    into its numeric part and rank — split+cast, no Python."""
    part = source(spark, sf_dir, "part", spread=False)
    parsed = (part.select("p_brand")
              .distinct()
              .withColumn("brand_num",
                          F.split(F.col("p_brand"), "#")[1].cast("int")))
    w = Window.orderBy("brand_num")
    return (parsed.withColumn("brand_rank", F.row_number().over(w))
            .select("p_brand", "brand_num", "brand_rank")
            .orderBy("brand_num"))


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 order-by + limit (user_routes.py:132-146): top-10 with a
    deterministic tiebreak (TakeOrderedAndProject, no full sort)."""
    orders = source(spark, sf_dir, "orders", spread=False)
    return (orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .select("o_orderkey",
                    F.round("o_totalprice", 2).alias("total_price"))
            .limit(10))


def pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 offset pagination (limit clamped, user_routes.py:132-146):
    page 3 of 20 by recency via row_number filter.

    Scale note: the unpartitioned row_number funnels the table through
    one task — offset pagination is inherently global. Offset pages are
    small in the reference (limit <= 100), so orderBy+limit(offset+n)
    (TakeOrderedAndProject) or keyset_pagination below is the form that
    survives 100x; this window form is kept as the API-exact analog.
    """
    orders = source(spark, sf_dir, "orders", spread=False)
    w = Window.orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
    return (orders.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") > 40) & (F.col("rn") <= 60))
            .select("rn", "o_orderkey", "o_custkey")
            .orderBy("rn"))


def keyset_pagination(spark: SparkSession, sf_dir: str,
                      last_date: str = "1998-06-15 00:00:00",
                      last_key: int = 4000,
                      page: int = 20) -> DataFrame:
    """O2 keyset ("seek") pagination — the 100-TB-safe page fetch: WHERE
    (o_orderdate, o_orderkey) after the last-seen row, ORDER BY, LIMIT n.
    The predicate prunes at the scan and the limit is a
    TakeOrderedAndProject — no global row_number, no single-task funnel
    (plan asserted in tests/test_plans.py)."""
    orders = source(spark, sf_dir, "orders", spread=False)
    d = F.lit(last_date).cast("timestamp")
    after = (F.col("o_orderdate") < d) | (
        (F.col("o_orderdate") == d) & (F.col("o_orderkey") > last_key))
    return (orders.filter(after)
            .orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
            .select("o_orderkey", "o_custkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
                     .alias("order_date"))
            .limit(page))


# -- set ops -----------------------------------------------------------------

def union_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 unionByName of format branches: high-value purchases vs errors,
    tagged and recombined (the html/pdf/text branch-union shape)."""
    ev = source(spark, sf_dir, "events", spread=False)
    purchases = (ev.filter((F.col("event_type") == "purchase")
                           & (F.col("value") > 100))
                 .withColumn("branch", F.lit("purchase_hi")))
    errors = (ev.filter(F.col("event_type") == "error")
              .withColumn("branch", F.lit("error")))
    return (purchases.unionByName(errors)
            .groupBy("branch")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("branch_value"))
            .orderBy("branch"))


# -- geometry / unit arithmetic ----------------------------------------------

def normalize_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 coordinate normalize + P2 min-size gate as one vectorized pass
    (src/ocr.py:126-141: swap so x1<x2 / y1<y2, reject selections
    narrower/shorter than 5px). Raw corner pairs are synthesized
    deterministically from event ids, so the operator sees unordered
    corners in every quadrant; least()/greatest() normalize without a
    branch and the gate is a CASE — all whole-stage codegen."""
    ev = source(spark, sf_dir, "events", spread=False).select("event_id")
    rx1 = (F.col("event_id") * 131) % 1920
    ry1 = (F.col("event_id") * 173) % 1080
    rx2 = (F.col("event_id") * 197) % 1920
    ry2 = (F.col("event_id") * 239) % 1080
    x1, x2 = F.least(rx1, rx2), F.greatest(rx1, rx2)
    y1, y2 = F.least(ry1, ry2), F.greatest(ry1, ry2)
    return (ev.select(
                "event_id",
                x1.alias("x1"), y1.alias("y1"),
                x2.alias("x2"), y2.alias("y2"),
                F.when((x2 - x1 < 5) | (y2 - y1 < 5),
                       F.lit("too_small"))
                 .otherwise(F.lit("ok")).alias("selection_status"))
            .orderBy("event_id"))


def asset_size_mb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 size-in-MB arithmetic with the reference's 2-decimal display
    rounding (updater.py:589 `file_size / (1024*1024):.2f`): per-part
    synthetic asset sizes -> MB, plus a SUM rollup the dashboard shape
    needs. Sizes derive from p_retailprice so values span 0-200MB."""
    part = source(spark, sf_dir, "part", spread=False)
    # explicit floor: Spark's cast-to-long truncates while DuckDB's CAST
    # rounds — floor() pins the same integer on both engines
    size_bytes = F.floor(F.col("p_retailprice") * 131072).cast("long")
    mb = F.round(size_bytes / F.lit(1024 * 1024), 2)
    return (part.select(
                "p_partkey",
                size_bytes.alias("size_bytes"),
                mb.alias("size_mb"))
            .orderBy("p_partkey"))
