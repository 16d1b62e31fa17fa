"""Relational query keys (SURVEY.md §2.B/C/D/G) with DuckDB oracles.

Each function is the driver-facing wrapper: it composes the pure
operators from ``operators/relational.py`` and applies the hash-match
canonicalization rules from ``queries/base.py`` (exact decimal
aggregation, DATE outputs, BIGINT derived ints, full-key tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.operators import relational as R
from flirt_consume_spark.queries.base import (
    davg,
    dsum,
    query,
    sql_davg,
    sql_dsum,
    t,
)

# --- P: projection / filter ------------------------------------------------


@query(
    "project_rename",
    oracle="""
    SELECT o_orderkey AS order_id,
           o_custkey AS customer_id,
           upper(o_orderstatus) AS status,
           round(o_totalprice, 2) AS total_price,
           CAST(o_orderdate AS DATE) AS order_date,
           concat_ws('-', 'PRI', o_orderpriority) AS priority_tag
    FROM orders
    """,
)
def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: projection + rename + computed columns (raw extract ->
    canonical schema, the reference's per-row normalization step)."""
    return R.project_rename(t(spark, sf_dir, "orders"))


@query(
    "filter_valid",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_discount, l_returnflag, l_linestatus,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    WHERE l_orderkey IS NOT NULL
      AND l_returnflag IN ('A','N','R')
      AND l_quantity > 0 AND l_extendedprice > 0
    """,
)
def filter_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: validity filter (missing endpoints / bad service type /
    zero seats -> modeled on lineitem domain predicates)."""
    return R.filter_valid(t(spark, sf_dir, "lineitem")).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        "l_linestatus",
        F.to_date("l_shipdate").alias("ship_date"),
    )


@query(
    "filter_codeshare",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts, event_id
      ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def filter_codeshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: codeshare dedup — keep the operating row per natural key
    (first event per (user_id, event_type)); deterministic rank-dedup,
    the reference's marketing-duplicate drop."""
    ev = R.first_per_key(
        t(spark, sf_dir, "events"), ["user_id", "event_type"], ["ts", "event_id"]
    )
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
    )


@query(
    "filter_predicates",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CASE WHEN o_totalprice >= 100000 THEN 'big'
                WHEN o_totalprice >= 10000 THEN 'mid'
                ELSE 'small' END AS size_class
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
      AND o_orderstatus IN ('O','F')
      AND o_orderpriority LIKE '%URGENT%'
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: BETWEEN / IN / LIKE / CASE WHEN — simulator-style date-window
    filter over the loaded data."""
    return R.filter_predicates(t(spark, sf_dir, "orders")).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        "size_class",
    )


# --- J: joins ---------------------------------------------------------------


@query(
    "join_enrich",
    oracle=f"""
    SELECT r_name, n_name,
           COUNT(*) AS order_cnt,
           {sql_dsum('o_totalprice', 'revenue', 2)}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast dimension enrichment (flight×airports twice in the
    reference; orders×customer×nation×region here) + A1 rollup."""
    j = R.enrich_dims(
        t(spark, sf_dir, "orders"),
        t(spark, sf_dir, "customer"),
        t(spark, sf_dir, "nation"),
        t(spark, sf_dir, "region"),
    )
    return j.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("order_cnt"),
        dsum("o_totalprice", "revenue", 2),
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: anti join — entities with no match (the reference's
    unknown-airport report)."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: semi join — keep rows whose key exists on the other side."""
    cust = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_outer",
    oracle=f"""
    SELECT c_custkey,
           COUNT(o_orderkey) AS order_cnt,
           {sql_dsum('o_totalprice', 'spend', 2)}
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: outer equi join (fact×dim with unmatched rows preserved);
    SUM over an all-NULL group stays NULL on both engines."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            dsum("o_totalprice", "spend", 2),
        )
    )


@query(
    "join_range",
    oracle="""
    SELECT a.user_id, COUNT(*) AS pair_cnt
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 10 MINUTE
    GROUP BY a.user_id
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: range/theta join bounded by an equi key — event pairs within
    a 10-minute window per user. The equi key (user_id) keeps this a
    hash join with a residual range predicate, the shape that survives
    a 100× scale-up (no nested-loop over the cross product)."""
    ev = t(spark, sf_dir, "events")
    a = ev.select("user_id", F.col("ts").alias("ts_a"), F.col("event_id").alias("id_a"))
    b = ev.select("user_id", F.col("ts").alias("ts_b"), F.col("event_id").alias("id_b"))
    pairs = a.join(b, "user_id").filter(
        (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 10 MINUTES"))
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("pair_cnt"))


# --- A: aggregation ---------------------------------------------------------


@query(
    "agg_route",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty', 2)},
           {sql_dsum('l_extendedprice', 'sum_base_price', 2)},
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price', 6)},
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge', 6)},
           {sql_davg('l_quantity', 'avg_qty', 2)},
           {sql_davg('l_extendedprice', 'avg_price', 2)},
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 flagship: hash group-by with multi-aggregation (TPC-H-Q1
    shape; the reference's seats-per-route-per-month rollup). Partial
    (map-side) aggregation + exact decimal sums -> order-independent."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty", 2),
        dsum("l_extendedprice", "sum_base_price", 2),
        dsum(disc_price, "sum_disc_price", 6),
        dsum(charge, "sum_charge", 6),
        davg("l_quantity", "avg_qty", 2),
        davg("l_extendedprice", "avg_price", 2),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS users,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: distinct / count-distinct per group."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("users"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_tol
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: approximate count-distinct (HLL++) — the 100-TB design point
    for cardinality. The sketch estimate itself is not hash-matchable,
    so the checked contract is the HLL++ accuracy guarantee: emit the
    exact distinct count alongside a Spark-side ``within_tol`` boolean
    (|approx - exact| / exact < 3*rsd with rsd=0.05) and oracle the
    exact count + TRUE. A wrong sketch breaks the hash; the estimate
    stays the Spark-side artifact. Default register size (rsd=0.05):
    the 1% sketch costs 6× more merge work for precision the design
    point doesn't need."""
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.greatest(F.col("exact_users"), F.lit(1))
            < F.lit(0.15)
        ).alias("within_tol"),
    )


@query(
    "agg_approx_percentile",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS exact_p50,
           TRUE AS within_rank_tol
    FROM events GROUP BY event_type
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3b: sketch percentile (Greenwald-Khanna approx_percentile) —
    the 100-TB path for quantiles (mergeable per-partition sketches,
    no global sort). Checked like agg_approx_distinct: the sketch's
    rank-error guarantee is verified Spark-side (the approx p50 must
    sit between the exact p40 and p60 — rank error 1/accuracy = 0.01
    ≪ 0.10 of tested slack) and the oracle pins the exact median +
    TRUE, so a broken sketch breaks the hash while the estimate stays
    the Spark-side artifact."""
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_percentile("value", F.lit(0.5), F.lit(100)).alias("ap50"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("exact_p50"),
        F.percentile("value", F.lit(0.4)).alias("p40"),
        F.percentile("value", F.lit(0.6)).alias("p60"),
    )
    return agg.select(
        "event_type",
        "exact_p50",
        # Vacuously TRUE only when the group has zero non-NULL values
        # (exact percentile NULL — nothing to verify, and the oracle's
        # literal TRUE must keep matching). A NULL sketch estimate on
        # a NON-empty group still yields NULL here and fails the hash:
        # that is a broken sketch, not a vacuous case.
        F.when(F.col("exact_p50").isNull(), F.lit(True))
        .otherwise(
            (F.col("ap50") >= F.col("p40")) & (F.col("ap50") <= F.col("p60"))
        )
        .alias("within_rank_tol"),
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS cnt,
           {sql_dsum('l_quantity', 'sum_qty', 2)}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: rollup with grouping id (route × month × carrier subtotal
    reports in the reference's domain)."""
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("cnt"),
        dsum("l_quantity", "sum_qty", 2),
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           COUNT(*) AS cnt,
           {sql_dsum('l_extendedprice', 'sum_price', 2)}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4b: full CUBE with grouping id — every subtotal combination
    (route × carrier × both margins in the reference's domain) in one
    pass; Catalyst expands the grouping sets, partial aggregation
    still applies map-side."""
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("cnt"),
        dsum("l_extendedprice", "sum_price", 2),
    )


@query(
    "agg_conditional",
    oracle=f"""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT)
             AS big_qty_cnt,
           {sql_dsum('CASE WHEN l_discount > 0.05 THEN l_extendedprice END',
                     'discounted_revenue', 2)}
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: filtered/conditional aggregation ('seats on direct flights
    only')."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0))
        .cast("bigint")
        .alias("big_qty_cnt"),
        dsum(
            F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")),
            "discounted_revenue",
            2,
        ),
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT event_type,
           round(median(value), 6) AS med_value,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.75), 6) AS p75,
           round(min(value), 6) AS min_v,
           round(max(value), 6) AS max_v
    FROM events GROUP BY event_type
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: exact percentiles/median (distribution reporting). Exact
    (not approx) so the oracle hash-matches; both engines interpolate
    on the same sorted doubles in the TWO-WEIGHT form
    ``(⌈h⌉−h)·lower + (h−⌊h⌋)·higher`` at h = (n−1)·p — Spark's
    ``Percentile.getPercentile`` association. DuckDB's quantile_cont
    uses the single-weight association, which can differ in the last
    ulp (a hypothesis property run found such a case), so the hash
    match is protected by the 6-dp rounding on both sides, not by a
    claimed bit identity.

    Scale path — ``operators/scale.grouped_percentiles``: order
    statistics over one distributed ``grouped_rank``, NOT the
    built-in exact ``F.percentile``/``F.median`` aggregates (those
    buffer a value→count map PER GROUP inside a single aggregation
    state — unbounded with near-continuous doubles at 100 TB). Each
    quantile needs only the rows at the two neighboring ranks,
    pulled by a broadcast rank-bounds join; min/max are p=0/p=1 on
    the same pass. Post-rank state is ≤10 rows per group however
    large the table."""
    from flirt_consume_spark.operators.scale import grouped_percentiles

    ev = t(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    pct = grouped_percentiles(
        ev,
        ["event_type"],
        "value",
        [F.col("event_id")],
        [0.5, 0.25, 0.75, 0.0, 1.0],
        ["_med", "_p25", "_p75", "_min", "_max"],
    )
    return pct.select(
        "event_type",
        F.round("_med", 6).alias("med_value"),
        F.round("_p25", 6).alias("p25"),
        F.round("_p75", 6).alias("p75"),
        F.round("_min", 6).alias("min_v"),
        F.round("_max", 6).alias("max_v"),
    )


@query(
    "agg_collect",
    oracle="""
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
    FROM events GROUP BY user_id
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: collect_set/array_agg per group, sorted + joined for a
    deterministic scalar representation. A group with NO non-NULL
    values yields NULL (the SQL string_agg convention), not '' —
    concat_ws alone would emit '' for the empty set, diverging from
    every SQL engine on all-NULL groups."""
    ev = t(spark, sf_dir, "events")
    arr = F.array_sort(F.collect_set("event_type"))
    return ev.groupBy("user_id").agg(
        F.when(F.size(arr) > 0, F.concat_ws(",", arr)).alias("types")
    )


# --- O: sort / limit / set ops ----------------------------------------------


@query(
    "sort_global",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk
    FROM orders
    """,
)
def sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: global total order, made hash-visible via a rank column.

    Scale path (operators/scale.global_rank): range-repartition on the
    sort key + parallel within-partition ranking + broadcast offset
    join — no single-reducer Window anywhere; the only sequential step
    is a running sum over num_partitions rows.
    """
    from flirt_consume_spark.operators.scale import global_rank

    orders = t(spark, sf_dir, "orders")
    ranked = global_rank(
        orders, [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    )
    return ranked.select("o_orderkey", "o_totalprice", "rnk")


@query(
    "topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: top-k with full-key tie-break — plans as
    TakeOrderedAndProject (per-partition heap + driver merge), never a
    global sort."""
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "set_union",
    oracle="""
    SELECT yr, COUNT(*) AS cnt FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders
      WHERE year(o_orderdate) = 1996
      UNION ALL
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders
      WHERE year(o_orderdate) = 1997
    ) GROUP BY yr
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: union of monthly/yearly extracts (appending consume batches,
    schema-aligned by name)."""
    orders = t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate").cast("bigint").alias("yr")
    a = orders.filter(F.year("o_orderdate") == 1996).select(yr)
    b = orders.filter(F.year("o_orderdate") == 1997).select(yr)
    return a.unionByName(b).groupBy("yr").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "set_diff",
    oracle="""
    SELECT 'only_1996' AS tag, o_custkey FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1997
    )
    UNION ALL
    SELECT 'both' AS tag, o_custkey FROM (
      SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996
      INTERSECT
      SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1997
    )
    """,
)
def set_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: intersect/except — month-over-month route-set diffing in the
    reference's domain (customer sets across years here). Both set
    operations come from ONE aggregation (r12 session 5, guide §2.4):
    per customer, a max-flag per year, then EXCEPT ⇔ (1996 ∧ ¬1997)
    and INTERSECT ⇔ (1996 ∧ 1997) — one scan and one map-side-partial
    exchange instead of four scans and two set-operator shuffles,
    with identical distinct-per-customer output."""
    orders = t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    flags = (
        orders.filter(yr.isin(1996, 1997))
        .groupBy("o_custkey")
        .agg(
            F.max((yr == 1996).cast("int")).alias("_h96"),
            F.max((yr == 1997).cast("int")).alias("_h97"),
        )
    )
    tag = (
        F.when((F.col("_h96") == 1) & (F.col("_h97") == 0), "only_1996")
        .when((F.col("_h96") == 1) & (F.col("_h97") == 1), "both")
    )
    return (
        flags.select(tag.alias("tag"), "o_custkey")
        .filter(F.col("tag").isNotNull())
    )


@query(
    "agg_pivot",
    oracle=f"""
    SELECT l_linestatus,
           {sql_dsum("CASE WHEN l_returnflag = 'A' THEN l_quantity END", 'qty_a', 2)},
           {sql_dsum("CASE WHEN l_returnflag = 'N' THEN l_quantity END", 'qty_n', 2)},
           {sql_dsum("CASE WHEN l_returnflag = 'R' THEN l_quantity END", 'qty_r', 2)}
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: pivot — wide per-category columns from a long table.
    Explicit value list so Spark skips the extra distinct-values job
    (at 100 TB an implicit pivot would scan the fact table twice);
    one shuffle on the groupBy key, same plan shape as a plain agg."""
    li = t(spark, sf_dir, "lineitem")
    piv = li.groupBy("l_linestatus").pivot("l_returnflag", ["A", "N", "R"]).agg(
        dsum("l_quantity", "q", 2)
    )
    return piv.select(
        "l_linestatus",
        F.col("A").alias("qty_a"),
        F.col("N").alias("qty_n"),
        F.col("R").alias("qty_r"),
    )


@query(
    "agg_stats",
    oracle="""
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(floor(value * 1e6) AS BIGINT)) AS sx,
             SUM(CAST(floor(value * 1e6) AS HUGEINT)
                 * CAST(floor(value * 1e6) AS HUGEINT)) AS sxx,
             SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS sy,
             SUM(CAST(json_extract(props, '$.k') AS HUGEINT)
                 * CAST(json_extract(props, '$.k') AS HUGEINT)) AS syy,
             SUM(CAST(floor(value * 1e6) AS HUGEINT)
                 * CAST(json_extract(props, '$.k') AS HUGEINT)) AS sxy
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           round(sqrt((CAST(sxx AS DOUBLE) / n)
                      - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                 / 1e6, 6) AS stddev_value,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS corr_vk
    FROM m
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: distribution statistics (stddev, correlation). Built-in
    stddev/corr use order-dependent streaming moments (Welford merges
    differ by partitioning, and differ from DuckDB), so they can never
    hash-match — instead: exact integer moments (n, Σx, Σx², Σy, Σy²,
    Σxy in 1e-6 units / DECIMAL(38)), then one deterministic double
    evaluation of the closed forms. Associative, parallelism-proof,
    and the final round(6) sits on irrational values (sqrt), where
    cross-engine ties have measure zero."""
    ev = t(spark, sf_dir, "events")
    x = F.floor(F.col("value") * 1e6).cast("long")
    y = F.get_json_object("props", "$.k").cast("long")
    m = ev.select("event_type", x.alias("x"), y.alias("y")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum((F.col("x").cast("decimal(38,0)") * F.col("x"))).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("y").cast("decimal(38,0)") * F.col("y"))).alias("syy"),
        F.sum((F.col("x").cast("decimal(38,0)") * F.col("y"))).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    stddev = F.round(F.sqrt(sxx / n - (sx / n) * (sx / n)) / 1e6, 6)
    # try_divide: a single-row or constant-valued group has zero
    # variance, so the correlation denominator is 0 and the statistic
    # is undefined — NULL, which is exactly what DuckDB's double
    # division by zero returns (ANSI / would raise). Identical to /
    # whenever the denominator is non-zero.
    corr = F.round(
        F.try_divide(
            n * sxy - sx * sy,
            F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy),
        ),
        6,
    )
    return m.select(
        "event_type", stddev.alias("stddev_value"), corr.alias("corr_vk")
    )


@query(
    "unpivot_long",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS metric_value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: unpivot/melt — wide metric columns to long (metric, value)
    rows, the inverse of A8. Narrow op (Expand node): each input row
    emits one row per metric with no shuffle."""
    part = t(spark, sf_dir, "part")
    return part.withColumn("p_size", F.col("p_size").cast("double")).unpivot(
        ["p_partkey"],
        ["p_size", "p_retailprice"],
        "metric",
        "metric_value",
    )
