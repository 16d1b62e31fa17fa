"""Classic multi-join analytics shapes (TPC-H Q3/Q5 style) — the
simulator read path composed at full complexity: selective filters on
two fact tables + dimension chain + aggregation + ranked cut. These
exercise join ordering, partial aggregation under joins, and
broadcast selection together (the combination the per-operator keys
test in isolation)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flirt_consume_spark.queries.base import dsum, query, sql_dsum, t


@query(
    "shape_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue', 6)},
           CAST(o_orderdate AS DATE) AS order_date
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
)
def shape_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: two selective fact filters, dim semi-filter,
    grouped revenue, top-k on the aggregate (full-key tie-break)."""
    cust = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-03-15"
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_date"))
        .agg(dsum(revenue, "revenue", 6))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(20)
        .select("l_orderkey", "revenue", "order_date")
    )


@query(
    "shape_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue', 6)}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def shape_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: five-way join with a same-nation co-location
    predicate and region filter — join-order and broadcast-selection
    stress; Catalyst/AQE pick the strategy, bounded dims broadcast.

    Scale gating (r13, guide §3.2): the transitive ASIA restriction
    (c_nationkey = s_nationkey = n_nationkey with n in the ASIA
    region) can prune customer and supplier before they shuffle, but
    the prune measured as a LOSS at test scale (r12: 1.45 s vs 1.32 —
    AQE already broadcasts the pruned side). It is therefore gated on
    the ``semi_prune_if_large`` static size probe: local plans are
    byte-identical to the ungated join, and at the design point the
    data-sized sides are cut ~4/5 before their exchange. supplier
    grows with the data, so it carries no broadcast hint: AQE
    broadcasts it from runtime stats while it fits."""
    from flirt_consume_spark.io import table_bytes
    from flirt_consume_spark.operators.scale import semi_prune_if_large

    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    supp_raw = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # Bounded ASIA nation-key set (nation/region are calendar-class
    # constant tables): the prune key both gated semi-joins share.
    asia_keys = nation.join(
        F.broadcast(region),
        nation.n_regionkey == region.r_regionkey,
        "left_semi",
    ).select(F.col("n_nationkey").alias("_ak"))
    cust = semi_prune_if_large(
        cust,
        asia_keys,
        F.col("c_nationkey") == F.col("_ak"),
        probe_bytes=table_bytes(sf_dir, "customer"),
    )
    supp = semi_prune_if_large(
        supp_raw,
        asia_keys,
        F.col("s_nationkey") == F.col("_ak"),
        probe_bytes=table_bytes(sf_dir, "supplier"),
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(orders, cust["c_custkey"] == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(nation), supp["s_nationkey"] == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue", 6))
    )


@query(
    "shape_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def shape_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join (the
    fact side streams through the semi probe once; no duplicate
    explosion, no distinct needed), then a small agg."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = t(spark, sf_dir, "lineitem")
    hit = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"]),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "shape_large_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(floor(l_quantity * 100) AS BIGINT)) > 300 * 100
    )
    SELECT c_name, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
           {sql_dsum('l_quantity', 'total_qty', 2)}
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
    """,
)
def shape_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING subquery as a semi-join pre-filter on
    the grouped fact (the aggregate runs once, its survivors prune the
    join inputs), then dim enrichment and ranked cut."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).alias("sq"))
        .filter(F.col("sq") > 300 * 100)
        .select("l_orderkey")
    )
    orders = t(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big["l_orderkey"], "left_semi"
    )
    cust = t(spark, sf_dir, "customer")
    joined = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, F.col("o_orderkey") == li["l_orderkey"])
    )
    agg = joined.groupBy("c_name", "o_orderkey", "o_orderdate").agg(
        dsum("l_quantity", "total_qty", 2)
    )
    return agg.select(
        "c_name",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "total_qty",
    ).orderBy(F.desc("total_qty"), "o_orderkey").limit(20)


@query(
    "shape_priority_shipping",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag
    """,
)
def shape_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact equi-join under a selective date
    range, dual conditional counts split by a dimension of the OTHER
    fact (urgent vs non-urgent orders per return flag). The shipdate
    predicate pushes to the lineitem scan; partial aggregation runs
    under the join output before the 3-group shuffle."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0))
            .cast("bigint")
            .alias("high_count"),
            F.sum(F.when(~urgent, 1).otherwise(0))
            .cast("bigint")
            .alias("low_count"),
        )
    )


@query(
    "shape_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum('volume', 'revenue', 6)}
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def shape_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade volume
    between two nations by ship year. Exercises a 4-fact/dim join
    chain with TWO roles for the same dimension (nation joined twice
    under different keys) and a disjunctive cross-nation predicate
    that must not defeat join planning — the nation pair filter
    applies after both broadcast enrichments, everything else stays a
    fact-side pipeline."""
    sup = t(spark, sf_dir, "supplier")
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        sup.join(li, sup.s_suppkey == li.l_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cn_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(dsum(vol, "revenue", 6))


@query(
    "shape_market_share",
    oracle="""
    SELECT o_year,
           floor(CAST(nation_cents AS DOUBLE) / total_cents * 1e6) / 1e6
             AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             SUM(CASE WHEN n2.n_name = 'NATION_3'
                 THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT) ELSE 0 END) AS nation_cents,
             SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                 AS BIGINT)) AS total_cents
      FROM part JOIN lineitem ON p_partkey = l_partkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
      GROUP BY o_year
    ) all_years
    """,
)
def shape_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one supplier nation's
    share of a region's ECONOMY-part revenue per order year. The
    conditional-numerator-over-total pattern computes the share in
    ONE aggregation pass (no self-join of the filtered against the
    unfiltered stream); six dims join around the lineitem spine, the
    region/type filters prune before the aggregate, and the share is
    an exact integer-cent rational.

    Scale gating (r13, guide §3.2): part carries no broadcast hint
    (AQE broadcasts the ECONOMY-filtered side from runtime stats
    while it fits), and the transitive ASIA restriction on customer
    (c_nationkey → n1 → region) is applied as a
    ``semi_prune_if_large`` prefilter that only engages when customer
    is estimated too big to broadcast — local plans unchanged,
    data-sized exchange cut ~4/5 at the design point."""
    from flirt_consume_spark.io import table_bytes
    from flirt_consume_spark.operators.scale import semi_prune_if_large

    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_cn"), F.col("n_regionkey").alias("_crk")
    )
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn"), F.col("n_name").alias("_sname")
    )
    asia_keys = (
        n1.join(
            F.broadcast(region),
            F.col("_crk") == F.col("r_regionkey"),
            "left_semi",
        ).select(F.col("_cn").alias("_ak"))
    )
    cust = semi_prune_if_large(
        cust,
        asia_keys,
        F.col("c_nationkey") == F.col("_ak"),
        probe_bytes=table_bytes(sf_dir, "customer"),
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    j = (
        part.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("_cn"))
        .join(
            F.broadcast(region), F.col("_crk") == F.col("r_regionkey")
        )
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("_sn"))
    )
    agg = j.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.sum(
            F.when(F.col("_sname") == "NATION_3", cents).otherwise(0)
        ).alias("_nat"),
        F.sum(cents).alias("_tot"),
    )
    return agg.select(
        "o_year",
        (
            F.floor(F.col("_nat").cast("double") / F.col("_tot") * 1e6)
            / 1e6
        ).alias("mkt_share"),
    )


@query(
    "shape_product_profit",
    oracle=f"""
    SELECT nation, o_year, {sql_dsum('amount', 'sum_profit', 4)}
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - p_retailprice * 0.1 * l_quantity AS amount
      FROM part JOIN lineitem ON p_partkey = l_partkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN nation ON s_nationkey = n_nationkey
      WHERE p_brand = 'Brand#1'
    ) profit
    GROUP BY nation, o_year
    """,
)
def shape_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per supplier-nation,
    per-year profit on one brand's parts — revenue minus a
    retail-price-derived unit cost (the fixture has no partsupp
    table, so ps_supplycost becomes 10% of p_retailprice; the join
    topology is Q9's). The brand filter broadcasts into the lineitem
    spine; profit aggregates with the exact integer-unit sum at 1e-4
    (the subtraction makes magnitudes larger than the revenue-only
    shapes)."""
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    nation = t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * 0.1 * F.col("l_quantity")
    j = (
        F.broadcast(part)
        .join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
    )
    return j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("o_year"),
    ).agg(dsum(amount, "sum_profit", 4))
