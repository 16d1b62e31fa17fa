"""Engine-facet operators (round-6, fifth wave).

Four unrelated-but-everyday facets of the engine surface:

- ``str_mask``: format-shape profiling via the built-in ``mask()``
  expression — uppercase→X, lowercase→x, digit→n — grouped into a
  shape histogram, the PII-safe "what formats live in this column"
  sweep (llm_redact's profiling sibling);
- ``scan_partitioned``: hive-layout partitioned parquet (…/o_year=N/)
  read through partition DISCOVERY with the predicate landing in
  PartitionFilters — the single most important scan optimization at
  100 TB (prune whole directories, not row groups);
- ``win_bollinger``: rolling mean ± 2σ bands over the bounded daily
  revenue series — trailing 7-row frame, exact integer moments in
  the window, σ via one IEEE sqrt (win_rolling's banded sibling);
- ``graph_assortativity``: degree assortativity of the bipartite
  user↔event-type graph — Pearson correlation between endpoint
  degrees across edges (do heavy users do popular things?), the
  one-number mixing summary on top of graph_node_jaccard's pairwise
  view.

Hash-match discipline as everywhere (SURVEY.md §4): exact integer
moments, single-sqrt/divide IEEE trees, deterministic grouping keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.io import cache_path
from flirt_consume_spark.queries.base import query, t

# --- format-shape profiling via mask() -----------------------------------


@query(
    "str_mask",
    oracle="""
    SELECT regexp_replace(regexp_replace(regexp_replace(
             props, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
             '[0-9]', 'n', 'g') AS shape,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT props) AS BIGINT) AS n_distinct,
           MIN(props) AS example
    FROM events
    GROUP BY 1
    """,
)
def str_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: format-shape profiling — collapse every props payload to
    its character-class shape with the built-in ``mask()`` (upper→X,
    lower→x, digit→n, punctuation kept) and histogram the shapes.
    The standard PII-safe way to discover mixed formats in a column
    (two date styles, stray empty strings) without looking at values.

    The fixture is ASCII so Spark's Unicode character classes and
    the oracle's [A-Z]/[a-z]/[0-9] ranges agree exactly. Scale: one
    zero-shuffle projection + one hash agg over few distinct shapes;
    min() keeps one deterministic exemplar per shape."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(F.mask("props").alias("shape")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("props").cast("bigint").alias("n_distinct"),
        F.min("props").alias("example"),
    )


# --- hive-partitioned scan with partition pruning ------------------------


def _partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per source fingerprint) the orders table as a
    hive-layout directory partitioned by order year, and return its
    root. Re-used by the query across bench reps — the fixture build
    is not part of the measured scan."""
    root = cache_path("hivepart", sf_dir, "orders")
    marker = os.path.join(root, "_SUCCESS")
    if not os.path.exists(marker):
        od = t(spark, sf_dir, "orders")
        (
            od.withColumn(
                "o_year", F.year(F.col("o_orderdate").cast("date")).cast("int")
            )
            .repartition("o_year")
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(root)
        )
    return root


@query(
    "scan_partitioned",
    oracle="""
    SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mo,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS rev_cents
    FROM orders
    WHERE year(CAST(o_orderdate AS DATE)) = 1996
    GROUP BY 1
    """,
)
def scan_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S20: hive-layout partition discovery + pruning — orders laid
    out as …/o_year=1996/part-*.parquet, read back through partition
    inference, filtered on the partition column. The o_year=1996
    predicate lands in the scan's PartitionFilters (directory-level
    pruning, verified in tests/test_plans.py): at 100 TB this is the
    difference between listing one directory and reading the lake.
    The oracle replays the same year filter on the flat table, so
    the round-trip also proves the partitioned write lost nothing.

    Layout note: one sub-directory per year (bounded cardinality) —
    the partition column must be low-cardinality or the lake drowns
    in tiny files; high-cardinality pruning belongs to sink_zorder."""
    root = _partitioned_orders(spark, sf_dir)
    # Explicit schema (analysis-only): inference throws on a fileless
    # partitioned dir, which is what a zero-row source writes — empty
    # partitions must read back as an empty frame, not an error.
    expected = (
        t(spark, sf_dir, "orders")
        .withColumn(
            "o_year", F.year(F.col("o_orderdate").cast("date")).cast("int")
        )
        .schema
    )
    df = spark.read.schema(expected).parquet(root)
    return (
        df.filter(F.col("o_year") == 1996)
        .groupBy(
            F.month(F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("mo")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("bigint")
            .alias("rev_cents"),
        )
    )


# --- Bollinger bands -----------------------------------------------------


@query(
    "win_bollinger",
    oracle="""
    WITH daily AS (
      SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
             CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT)
               AS rev
      FROM lineitem GROUP BY 1, 2
    ), w AS (
      SELECT flag, d, rev,
             CAST(COUNT(*) OVER win AS BIGINT) AS n,
             CAST(SUM(CAST(rev AS HUGEINT)) OVER win AS HUGEINT) AS s,
             CAST(SUM(CAST(rev AS HUGEINT) * rev) OVER win AS HUGEINT)
               AS ss
      FROM daily
      WINDOW win AS (PARTITION BY flag ORDER BY d
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT flag, d, rev, n,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mid,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
             - 2.0 * (sqrt(CAST(n * ss - s * s AS DOUBLE))
                      / CAST(n AS DOUBLE)) AS lower,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
             + 2.0 * (sqrt(CAST(n * ss - s * s AS DOUBLE))
                      / CAST(n AS DOUBLE)) AS upper
    FROM w
    """,
)
def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18: Bollinger bands — trailing-7-day rolling mean ± 2σ of
    daily revenue per returnflag, the volatility envelope every
    monitoring chart draws (win_rolling's mean + an exact second
    moment in the same frame).

    Exactness: the frame carries exact Σ and Σ² of whole-dollar
    daily revenue, run in decimal(38,0) on Spark / HUGEINT on the
    oracle (rev² passes int64 near sf17 — same widening recipe as
    the round-7 trio; headroom now ~1e38, past sf1e9); the
    population σ is sqrt(n·Σ²−Σ²)/n, one IEEE sqrt + division on
    the same exact integer, and mid/bands are identical expression
    trees on both engines.
    Scale: the fact table collapses to the calendar-bounded daily
    series first, so the windows run on constant-size partitions."""
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_shipdate").cast("date").alias("d"),
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice")).cast("long"))
        .cast("bigint")
        .alias("rev")
    )
    win = (
        Window.partitionBy("flag").orderBy("d").rowsBetween(-6, 0)
    )
    # rev lifted to decimal BEFORE the square: a long*long product is
    # the first thing to overflow (~sf17); the decimal(38,0) moments
    # are exact until n·ss ~ 1e38.
    rev_dec = F.col("rev").cast("decimal(19,0)")
    w = daily.select(
        "flag",
        "d",
        "rev",
        F.count(F.lit(1)).over(win).cast("bigint").alias("n"),
        F.sum(rev_dec).over(win).cast("decimal(38,0)").alias("s"),
        F.sum(rev_dec * F.col("rev")).over(win)
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    mid = F.col("s").cast("double") / F.col("n").cast("double")
    sd = F.sqrt(
        (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
    ) / F.col("n").cast("double")
    return w.select(
        "flag",
        "d",
        "rev",
        "n",
        mid.alias("mid"),
        (mid - 2.0 * sd).alias("lower"),
        (mid + 2.0 * sd).alias("upper"),
    )


# --- degree assortativity ------------------------------------------------


@query(
    "graph_assortativity",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS brand
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
    ), du AS (
      SELECT cust, CAST(COUNT(*) AS BIGINT) AS dx FROM e GROUP BY 1
    ), dt AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS dy FROM e GROUP BY 1
    ), xy AS (
      SELECT du.dx, dt.dy
      FROM e JOIN du ON e.cust = du.cust
             JOIN dt ON e.brand = dt.brand
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
             SUM(dx * dy) AS sxy,
             SUM(dx * dx) AS sxx,
             SUM(dy * dy) AS syy
      FROM xy
    )
    SELECT n AS n_edges, sx, sy,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS assortativity
    FROM m
    WHERE n * sxx - CAST(sx AS HUGEINT) * sx > 0
      AND n * syy - CAST(sy AS HUGEINT) * sy > 0
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: degree assortativity of the bipartite customer↔brand
    purchase graph — Pearson correlation between the customer-side
    and brand-side degrees across edges (Newman 2002's mixing
    coefficient, restricted to the bipartite orientation). Positive:
    broad-basket customers concentrate on widely-bought brands.
    (The user↔event-type graph is degenerate here — every user
    touches every type, zero degree variance — so the purchase graph
    is the meaningful instance.)

    Scale: edges come from the fact join (orderkey-colocated) + one
    distinct; the customer-degree join is keyed on cust (shuffle-
    colocated), the 25-row brand-degree table rides a broadcast, and
    everything collapses to one exact integer moment row — r is the
    time_crosscorr IEEE tree (two sqrts + one division of exact
    integers). Degenerate graphs are excluded by the integer
    variance guards."""
    od = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE collect_set hash agg keyed on cust replaces distinct + a
    # cust-keyed degree join (two shuffles saved — the basket-pairs
    # shape): dx = set size in-row, edges explode from the set, and
    # only the 25-row brand-degree table joins back (broadcast).
    sets = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(F.collect_set("p_brand").alias("bs"))
    )
    # e feeds TWO legs (the 25-row brand-degree agg and the moment
    # row); exchange reuse shares the shuffle below the collect_set.
    e = sets.select(
        F.size("bs").cast("bigint").alias("dx"),
        F.explode("bs").alias("brand"),
    )
    dt = e.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("dy")
    )
    xy = e.join(F.broadcast(dt), "brand").select("dx", "dy")
    # Moments in decimal(38,0): syy = Σ dy² grows as edges·(edges/25)²,
    # which already exceeds int64 at sf0.1 (sy² in the guard does too).
    # decimal(38,0) is exact past sf100 (n·syy ≈ 3e31 there); DuckDB's
    # SUM(BIGINT) widens to HUGEINT on its own, so the oracle needs no cast.
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    m = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(dec("dx") * F.col("dy")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec("dx") * F.col("dx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("dy") * F.col("dy")).cast("decimal(38,0)").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        F.sqrt(d("n") * d("sxx") - d("sx") * d("sx"))
        * F.sqrt(d("n") * d("syy") - d("sy") * d("sy"))
    )
    # Exact decimal variance guard — bigint·bigint would stay a long
    # multiply (sy² > int64 at sf0.1), so both operands are lifted to
    # decimal first; values stay < 1e32 through sf100.
    return m.filter(
        (dec("n") * F.col("sxx") - dec("sx") * F.col("sx") > 0)
        & (dec("n") * F.col("syy") - dec("sy") * F.col("sy") > 0)
    ).select(
        F.col("n").alias("n_edges"),
        "sx",
        "sy",
        r.alias("assortativity"),
    )
