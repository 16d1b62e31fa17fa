"""Trend-testing & association operators (round-6, fourth wave).

Seven families a monitoring/curation stack runs on top of the engine:

- ``time_theilsen``: Theil–Sen robust slope of the monthly revenue
  series — median of all pairwise slopes, the outlier-immune trend
  estimator (Sen 1968) every KPI dashboard wants instead of OLS when
  a single crazy month can swing the fit;
- ``time_mannkendall``: Mann–Kendall trend test on the same series —
  the non-parametric "is there a monotone trend at all?" S statistic
  with the exact tie-corrected variance (Kendall 1975);
- ``time_pettitt``: Pettitt (1979) changepoint test — rank-based
  single change-point localization, the distribution-free sibling of
  ``time_cusum``'s mean-shift detector;
- ``time_vwap``: volume-weighted average price per (returnflag,
  ship-month) — the canonical finance rollup (Σ notional / Σ volume)
  with exact integer-cent numerators;
- ``agg_basket_pairs``: market-basket co-occurrence over order
  baskets — support and lift per brand pair, the association-rule
  screening pass (pair work is per-basket quadratic, i.e. LINEAR in
  orders because basket size is bounded);
- ``graph_node_jaccard``: node-similarity by neighbor overlap —
  Jaccard between event types through their shared-user sets, the
  co-engagement matrix behind "users who did X also did Y";
- ``agg_subsample_ci``: deterministic subsample (bag-of-little-
  bootstraps-style) confidence interval for a mean — B=32 disjoint
  md5-assigned replicas, CI from the order statistics of the replica
  means; hash assignment makes it re-run/partition stable where a
  resampling bootstrap never is.

Hash-match discipline (SURVEY.md §4) as everywhere: exact integer
aggregation (floor-scaled cents), every emitted double is the SAME
IEEE expression tree on both engines (divisions / sqrt of identical
exact operands — both correctly rounded), no transcendentals, and
every selection-by-rank uses integer indices into a sorted array
(``sort_array``/``list_sort``), never interpolation.

Scale notes: the three trend tests collapse the fact table to its
bounded monthly series FIRST (one hash agg; the series length is
calendar-bounded, so every pairwise structure after it is constant
size — the time_crosscorr shape). Pair generation is a tiny
nested-loop join over those bounded tables, allowlisted in
tools/audit_plans.py, as are the 1-row count broadcasts of the
Theil–Sen and Mann–Kendall keys. Pettitt coalesces its bounded rank
table to one partition and takes its totals, running sum and peak as
windows over it. Nothing after the first aggregation is data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.queries.base import query, t

# Shared bounded monthly-revenue series: m = months since 1995-01
# (INT), rev = exact revenue cents (BIGINT). The series is calendar-
# bounded (~80 rows at any scale factor), so the pairwise joins the
# trend tests build on it are constant-size.
_MONTHLY_SQL = """
      SELECT CAST((year(CAST(o_orderdate AS DATE)) - 1995) * 12
                  + (month(CAST(o_orderdate AS DATE)) - 1) AS INTEGER) AS m,
             CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
"""


# Bounded monthly series (~80 rows): three trend keys (theilsen /
# mannkendall / pettitt) fan MULTIPLE plan legs out of it (count,
# broadcast pair side, main stream). A lazy PER-INVOCATION pin keeps
# each invocation to one orders scan + aggregation (guide §5) while
# every bench/oracle run still recomputes from parquet.
def _monthly_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    m = ((F.year(d) - 1995) * 12 + (F.month(d) - 1)).cast("int")
    return (
        od.groupBy(m.alias("m"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev")
        )
        .localCheckpoint(eager=False)
    )


def _month_pairs(monthly: DataFrame) -> DataFrame:
    """All (i < j) month pairs of the bounded series — a broadcast
    nested-loop over ≤~100 rows, constant in data size."""
    a = monthly.select(F.col("m").alias("ma"), F.col("rev").alias("ra"))
    b = monthly.select(F.col("m").alias("mb"), F.col("rev").alias("rb"))
    return a.join(F.broadcast(b), F.col("ma") < F.col("mb"))


# --- Theil–Sen robust slope ----------------------------------------------


@query(
    "time_theilsen",
    oracle=f"""
    WITH monthly AS ({_MONTHLY_SQL}),
    slopes AS (
      -- NULL-revenue months (payload NULLed upstream) are excluded
      -- on BOTH engines: Spark's collect_list drops NULL slopes
      -- while DuckDB's list() keeps them, so the filter keeps
      -- n_pairs consistent with the packed array. The filter is on
      -- the OPERANDS, not the slope: a predicate on s would be
      -- pushed below the pair-join condition and evaluate the
      -- division on ma = mb pairs — division by zero under ANSI.
      SELECT CAST(b.rev - a.rev AS DOUBLE)
             / CAST(b.m - a.m AS DOUBLE) AS s
      FROM monthly a JOIN monthly b ON a.m < b.m
      WHERE a.rev IS NOT NULL AND b.rev IS NOT NULL
    ), packed AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             list_sort(list(s)) AS arr
      FROM slopes
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM monthly) AS n_months,
           n_pairs,
           (list_extract(arr, CAST((n_pairs + 1) // 2 AS INTEGER))
            + list_extract(arr, CAST((n_pairs + 2) // 2 AS INTEGER)))
           / 2.0 AS slope_cents_per_month
    FROM packed
    """,
)
def time_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E28: Theil–Sen slope — median of all pairwise slopes of the
    monthly revenue series (cents/month). Robust to single-month
    outliers where OLS (agg_ols) is not.

    Exactness: each slope is ONE IEEE division of exact integers
    (identical on both engines); the median is selected by integer
    index from the sorted slope array (odd n: the middle element
    twice; even n: the two middles) and averaged with one add + one
    halving — no interpolation formulas. Scale: the fact table
    collapses to the calendar-bounded monthly series first; the pair
    join, sort, and selection all run on constant-size data."""
    monthly = _monthly_rev(spark, sf_dir)
    # NULL-revenue months (payload NULLed upstream) are excluded to
    # keep n_pairs consistent with the collected array — collect_list
    # silently drops NULLs, so counting them would index past the
    # array's end. Filter on the OPERANDS, not the computed slope: a
    # predicate on s gets pushed below the pair-join condition and
    # evaluates the division on ma == mb pairs — ANSI DIVIDE_BY_ZERO.
    # The oracle carries the identical operand filter.
    slopes = (
        _month_pairs(monthly)
        .filter(F.col("ra").isNotNull() & F.col("rb").isNotNull())
        .select(
            (
                (F.col("rb") - F.col("ra")).cast("double")
                / (F.col("mb") - F.col("ma")).cast("double")
            ).alias("s")
        )
    )
    packed = slopes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sort_array(F.collect_list("s")).alias("arr"),
    )
    n_months = monthly.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    lo = F.element_at("arr", ((F.col("n_pairs") + 1) / 2).cast("int"))
    hi = F.element_at("arr", ((F.col("n_pairs") + 2) / 2).cast("int"))
    # Guard the selection on n_pairs > 0: a 0- or 1-month series has
    # no pairwise slopes and the median index degenerates to 0, which
    # element_at rejects outright (INVALID_INDEX_OF_ZERO — even
    # try_element_at throws on 0). CASE short-circuits, so the
    # selection never evaluates on the empty branch; the slope is
    # NULL, matching the oracle's out-of-range list_extract.
    return packed.crossJoin(F.broadcast(n_months)).select(
        "n_months",
        "n_pairs",
        F.when(F.col("n_pairs") > 0, (lo + hi) / 2.0).alias(
            "slope_cents_per_month"
        ),
    )


# --- Mann–Kendall trend test ---------------------------------------------


@query(
    "time_mannkendall",
    oracle=f"""
    WITH monthly AS ({_MONTHLY_SQL}),
    s AS (
      SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                           WHEN b.rev < a.rev THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM monthly a JOIN monthly b ON a.m < b.m
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM monthly
    ), ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
             AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
            FROM monthly GROUP BY rev HAVING COUNT(*) > 1)
    )
    SELECT n.n AS n_months, s.s_stat AS s_stat,
           n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term AS var_num,
           CASE
             WHEN s.s_stat > 0 THEN
               CAST(s.s_stat - 1 AS DOUBLE)
               / sqrt(CAST(n.n * (n.n - 1) * (2 * n.n + 5)
                           - ties.tie_term AS DOUBLE) / 18.0)
             WHEN s.s_stat < 0 THEN
               CAST(s.s_stat + 1 AS DOUBLE)
               / sqrt(CAST(n.n * (n.n - 1) * (2 * n.n + 5)
                           - ties.tie_term AS DOUBLE) / 18.0)
             ELSE 0.0
           END AS z
    FROM s, n, ties
    """,
)
def time_mannkendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E29: Mann–Kendall monotone-trend test on the monthly revenue
    series: S = Σ_{i<j} sign(y_j − y_i) with the exact tie-corrected
    variance numerator n(n−1)(2n+5) − Σ t(t−1)(2t+5) (kept as a
    BIGINT; /18 happens once, in the double expression), and the
    continuity-corrected normal score z.

    Exactness: S, n, and the variance numerator are exact integers;
    z is the identical IEEE tree (cast → /18.0 → sqrt → divide) on
    both engines. Scale: everything past the monthly agg is
    constant-size (bounded-series pair join, 1-row broadcasts)."""
    monthly = _monthly_rev(spark, sf_dir)
    s = _month_pairs(monthly).agg(
        F.sum(
            F.when(F.col("rb") > F.col("ra"), 1)
            .when(F.col("rb") < F.col("ra"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    n = monthly.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        monthly.groupBy("rev")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var_num = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    )
    sd = F.sqrt(var_num.cast("double") / 18.0)
    z = (
        F.when(
            F.col("s_stat") > 0, (F.col("s_stat") - 1).cast("double") / sd
        )
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1).cast("double") / sd)
        .otherwise(F.lit(0.0))
    )
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("n").alias("n_months"),
            "s_stat",
            var_num.alias("var_num"),
            z.alias("z"),
        )
    )


# --- Pettitt changepoint test --------------------------------------------


@query(
    "time_pettitt",
    oracle=f"""
    WITH monthly AS ({_MONTHLY_SQL}),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM monthly),
    r AS (
      -- doubled midrank R2_i = 2·#{{y_j<y_i}} + #{{y_j=y_i, incl self}} + 1
      SELECT a.m,
             CAST(SUM(CASE WHEN b.rev < a.rev THEN 2
                           WHEN b.rev = a.rev THEN 1 ELSE 0 END) + 1
                  AS BIGINT) AS r2
      FROM monthly a JOIN monthly b ON TRUE
      GROUP BY a.m
    ), u AS (
      SELECT m,
             CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS tpos,
             SUM(r2) OVER (ORDER BY m
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_r2
      FROM r
    ), stat AS (
      SELECT u.m, u.tpos,
             u.tpos * (n.n + 1) - CAST(u.cum_r2 AS BIGINT) AS ut
      FROM u, n WHERE u.tpos < n.n
    )
    SELECT (SELECT n FROM n) AS n_months,
           CAST(MIN(CASE WHEN abs(ut) = pk THEN tpos END) AS BIGINT)
             AS t_star,
           CAST(MIN(CASE WHEN abs(ut) = pk THEN m END) AS INTEGER)
             AS m_star,
           CAST(pk AS BIGINT) AS k_stat
    FROM stat, (SELECT MAX(abs(ut)) AS pk FROM stat) p
    GROUP BY pk
    """,
)
def time_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E30: Pettitt single change-point test — the rank-based (hence
    distribution-free) localizer: U_t = Σ_{i≤t, j>t} sign(y_j − y_i),
    maximized over split points t. The reported K = max|U_t| and t*
    (smallest argmax) use DOUBLED midranks so every quantity stays an
    exact integer even under ties: with R2_i = 2·#{y_j<y_i} +
    #{y_j=y_i, incl self} + 1 the per-element sign sum is exactly
    Σ_j sign(y_j−y_i) = (n+1) − R2_i, hence
    U_t = t(n+1) − Σ_{i≤t} R2_i — integers throughout.

    Scale: monthly collapse first; the R2 ranks come from the bounded
    series' self-join, coalesced to one partition, and the position,
    running sum, series length and peak are windows over that one
    partition (the oracle's own shape) — no exchange after the ranks.
    The peak/argmax are integer comparisons."""
    monthly = _monthly_rev(spark, sf_dir)
    b = monthly.select(F.col("m").alias("mb"), F.col("rev").alias("rb"))
    r = (
        monthly.crossJoin(F.broadcast(b))
        .groupBy("m")
        .agg(
            (
                F.sum(
                    F.when(F.col("rb") < F.col("rev"), 2)
                    .when(F.col("rb") == F.col("rev"), 1)
                    .otherwise(0)
                )
                + 1
            )
            .cast("bigint")
            .alias("r2")
        )
        .coalesce(1)
    )
    whole, by_m = Window.partitionBy(), Window.orderBy("m")
    stat = r.withColumns(
        {
            "tpos": F.row_number().over(by_m).cast("bigint"),
            "cum_r2": F.sum("r2").over(
                by_m.rowsBetween(Window.unboundedPreceding, 0)
            ),
            "n": F.count(F.lit(1)).over(whole),
        }
    ).filter(F.col("tpos") < F.col("n"))
    ut = (F.col("tpos") * (F.col("n") + 1) - F.col("cum_r2")).cast("bigint")
    return (
        stat.withColumn("ut", ut)
        .withColumn("pk", F.max(F.abs(F.col("ut"))).over(whole))
        .filter(F.abs(F.col("ut")) == F.col("pk"))
        .groupBy("n", "pk")
        .agg(
            F.min("tpos").cast("bigint").alias("t_star"),
            F.min("m").cast("int").alias("m_star"),
        )
        .select(
            F.col("n").alias("n_months"),
            "t_star",
            "m_star",
            F.col("pk").cast("bigint").alias("k_stat"),
        )
    )


# --- volume-weighted average price ---------------------------------------


@query(
    "time_vwap",
    oracle="""
    SELECT l_returnflag,
           CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
             AS ship_month,
           CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
             AS volume,
           CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS notional_cents,
           CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT))
                AS DOUBLE)
           / CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS DOUBLE)
             AS vwap_cents
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def time_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E31: volume-weighted average price per (returnflag, ship
    month): Σ notional / Σ volume — the canonical finance rollup
    (and the degenerate case of agg_time_weighted with unit weights
    replaced by traded volume).

    Exactness: both sums are exact integers (floor-scaled cents /
    whole-unit quantities); vwap is ONE division of those identical
    integers. Scale: a single hash aggregation with map-side
    partials; group count is bounded (flags × calendar months)."""
    li = t(spark, sf_dir, "lineitem")
    g = li.groupBy(
        "l_returnflag",
        F.date_trunc("month", F.col("l_shipdate").cast("date"))
        .cast("date")
        .alias("ship_month"),
    ).agg(
        F.sum(F.floor(F.col("l_quantity")).cast("long"))
        .cast("bigint")
        .alias("volume"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
        .cast("bigint")
        .alias("notional_cents"),
    )
    return g.select(
        "l_returnflag",
        "ship_month",
        "volume",
        "notional_cents",
        (
            F.col("notional_cents").cast("double")
            / F.col("volume").cast("double")
        ).alias("vwap_cents"),
    )


# --- market-basket pair association --------------------------------------


@query(
    "agg_basket_pairs",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (
      SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM ob
    ), deg AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_b FROM ob GROUP BY 1
    ), pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT p.brand_a, p.brand_b, p.n_pair,
           da.n_b AS n_a, db.n_b AS n_b,
           CAST(p.n_pair AS DOUBLE) / CAST(n.n_orders AS DOUBLE)
             AS support,
           (CAST(p.n_pair AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
           / (CAST(da.n_b AS DOUBLE) * CAST(db.n_b AS DOUBLE)) AS lift
    FROM pairs p
    JOIN deg da ON da.brand = p.brand_a
    JOIN deg db ON db.brand = p.brand_b
    CROSS JOIN n
    """,
)
def agg_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A30: market-basket association screening — per brand pair
    co-occurring in the same order: raw count, support (share of
    orders) and lift (observed / independence-expected co-rate).

    Scale: baskets are BOUNDED (≤7 lineitems), so the order's brand
    set is collapsed with ONE collect_set hash agg keyed on
    l_orderkey — no distinct + self-join (the naive plan's three
    shuffles) — and pairs come from an in-row sorted-array
    combination expansion: per-basket quadratic = linear in orders,
    with zero join skew exposure. The part dim rides a broadcast;
    the degree table (25 brands) and the 1-row order count ride
    broadcasts into the constant-size (≤C(25,2)-row) pair frame.
    Every emitted double is one product-tree of exact integers."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    sets = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
    )
    # The basket frame feeds THREE readouts (order count, per-brand
    # degrees, pair counts). Instead of materializing the 600k-row
    # basket cache and re-scanning it per leg (r12 first cut), emit
    # every readout's unit rows from ONE in-row expansion — a NULL/
    # NULL sentinel per basket (order count), (brand, NULL) per
    # member (degrees), (a, b) per combination (pairs) — and count
    # them in ONE hash aggregation: the map-side partial collapses
    # each task to ≤ 1 + |brands| + C(|brands|,2) rows, so a single
    # tiny exchange replaces three passes over a data-sized cache.
    units = sets.select(
        F.explode(
            F.expr(
                "concat("
                "array(struct(CAST(NULL AS STRING) AS brand_a,"
                "             CAST(NULL AS STRING) AS brand_b)), "
                "transform(bs, a -> struct(a AS brand_a,"
                "                          CAST(NULL AS STRING) AS brand_b)), "
                "flatten(transform(bs, (a, i) -> "
                "transform(slice(bs, i + 2, size(bs)), "
                "b -> struct(a AS brand_a, b AS brand_b)))))"
            )
        ).alias("u")
    ).select("u.brand_a", "u.brand_b")
    # ≤ 1 + |brands| + C(|brands|,2) rows (326 here) — lazily
    # checkpoint so the three filter readouts below scan the tiny
    # frame, not the corpus (localCheckpoint, not persist: checkpoint
    # blocks are per-invocation, so bench reps can never reuse a
    # previous run's cache via CacheManager plan matching).
    counts = (
        units.groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    n = counts.filter(F.col("brand_a").isNull()).select(
        F.col("cnt").alias("n_orders")
    )
    deg = counts.filter(
        F.col("brand_a").isNotNull() & F.col("brand_b").isNull()
    ).select(F.col("brand_a").alias("brand"), F.col("cnt").alias("n_b"))
    pairs = counts.filter(F.col("brand_b").isNotNull()).select(
        "brand_a", "brand_b", F.col("cnt").alias("n_pair")
    )
    da = deg.select(F.col("brand").alias("_ba"), F.col("n_b").alias("n_a"))
    db = deg.select(F.col("brand").alias("_bb"), F.col("n_b").alias("n_b"))
    out = (
        pairs.join(F.broadcast(da), F.col("brand_a") == F.col("_ba"))
        .join(F.broadcast(db), F.col("brand_b") == F.col("_bb"))
        .crossJoin(F.broadcast(n))
    )
    return out.select(
        "brand_a",
        "brand_b",
        "n_pair",
        "n_a",
        "n_b",
        (
            F.col("n_pair").cast("double") / F.col("n_orders").cast("double")
        ).alias("support"),
        (
            (F.col("n_pair").cast("double") * F.col("n_orders").cast("double"))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("lift"),
    )


# --- node similarity by neighbor overlap ---------------------------------


@query(
    "graph_node_jaccard",
    oracle="""
    WITH ue AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), deg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d
      FROM ue GROUP BY 1
    ), common AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM ue a JOIN ue b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT c.type_a, c.type_b, c.n_common,
           da.d AS deg_a, db.d AS deg_b,
           CAST(c.n_common AS DOUBLE)
           / CAST(da.d + db.d - c.n_common AS DOUBLE) AS jaccard
    FROM common c
    JOIN deg da ON da.event_type = c.type_a
    JOIN deg db ON db.event_type = c.type_b
    """,
)
def graph_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: node-neighborhood Jaccard similarity on the bipartite
    user↔event-type graph — |users(A) ∩ users(B)| / |users(A) ∪
    users(B)| per type pair, the co-engagement screen behind "did X
    also did Y" (and the graph sibling of join_setsim's set-overlap
    join).

    Scale: the pair join is keyed on user_id, so common-neighbor
    work is per-user quadratic in that user's distinct types —
    bounded by the type vocabulary, hence linear in users. Degrees
    ride a broadcast into the constant-size pair frame; jaccard is
    one division of exact integers."""
    ev = t(spark, sf_dir, "events")
    # ONE collect_set hash agg per user replaces distinct + the
    # user-keyed common-neighbor self-join (the basket-pairs shape):
    # pair candidates expand in-row from the sorted type set —
    # per-user quadratic stays vocabulary-bounded, no join.
    sets = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("ts")
    )
    # r13 re-adjudication (VERDICT r12 task 1): the r12 one-pass
    # unit-counting rework measured SLOWER in the committed A/B (0.94
    # vs 0.66 s solo median, plans/r13/readjudicate_*.json) — the two
    # legs below build the IDENTICAL collect_set subtree, so exchange
    # reuse already dedups the expensive shuffle, and the unit explode
    # + pinned counts frame only added work. REVERTED to the r11
    # two-leg form.
    deg = sets.select(F.explode("ts").alias("event_type")).groupBy(
        "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    common = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ts, (a, i) -> "
                    "transform(slice(ts, i + 2, size(ts)), "
                    "b -> struct(a AS type_a, b AS type_b))))"
                )
            ).alias("p")
        )
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    da = deg.select(F.col("event_type").alias("_ta"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("event_type").alias("_tb"), F.col("d").alias("deg_b"))
    out = common.join(
        F.broadcast(da), F.col("type_a") == F.col("_ta")
    ).join(F.broadcast(db), F.col("type_b") == F.col("_tb"))
    return out.select(
        "type_a",
        "type_b",
        "n_common",
        "deg_a",
        "deg_b",
        (
            F.col("n_common").cast("double")
            / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")).cast(
                "double"
            )
        ).alias("jaccard"),
    )


# --- deterministic subsample confidence interval -------------------------

_N_REP = 32  # disjoint replicas; CI from the 2nd/31st order statistic

_REP_SQL = (
    "(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT"
    f" % {_N_REP})"
)


@query(
    "agg_subsample_ci",
    oracle=f"""
    WITH rep AS (
      SELECT {_REP_SQL} AS rep,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), packed AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_orders,
             CAST(COUNT(*) AS BIGINT) AS n_replicas,
             CAST(SUM(cents) AS BIGINT) AS tot_cents,
             list_sort(list(CAST(cents AS DOUBLE) / CAST(cnt AS DOUBLE)))
               AS means
      FROM rep
    )
    SELECT n_orders, n_replicas,
           CAST(tot_cents AS DOUBLE) / CAST(n_orders AS DOUBLE)
             AS mean_cents,
           list_extract(means, 2) AS lo_cents,
           list_extract(means, {_N_REP - 1}) AS hi_cents
    FROM packed
    """,
)
def agg_subsample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A31: deterministic subsample CI for the mean order value — the
    bag-of-little-bootstraps shape with md5 replica assignment
    instead of resampling: 32 disjoint replicas, each contributes
    one mean, and the interval is the (2nd, 31st) order statistic of
    the replica means (~94% nominal coverage for 32 replicas).
    Hash assignment is re-run / partition / insertion stable, which
    a Poisson-resampling bootstrap never is — the same determinism
    argument as split_assign.

    Exactness: replica sums/counts are exact integers; each mean is
    one IEEE division; selection is by integer index into the sorted
    32-element array. Scale: one hash agg to 32 rows (map-side
    partials), then constant-size packing — no second pass over the
    data, no window anywhere."""
    od = t(spark, sf_dir, "orders")
    rep = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % _N_REP
    )
    per = od.groupBy(rep.alias("rep")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("bigint")
        .alias("cents"),
    )
    packed = per.agg(
        F.sum("cnt").cast("bigint").alias("n_orders"),
        F.count(F.lit(1)).cast("bigint").alias("n_replicas"),
        F.sum("cents").cast("bigint").alias("tot_cents"),
        F.sort_array(
            F.collect_list(
                F.col("cents").cast("double") / F.col("cnt").cast("double")
            )
        ).alias("means"),
    )
    return packed.select(
        "n_orders",
        "n_replicas",
        (
            F.col("tot_cents").cast("double") / F.col("n_orders").cast("double")
        ).alias("mean_cents"),
        # try_element_at: fewer than 2 / 31 replicas (degenerate or
        # near-empty input) makes the order statistic undefined —
        # NULL, exactly DuckDB's out-of-range list_extract; on the
        # full 32-replica path the value is identical to element_at.
        F.try_element_at("means", F.lit(2)).alias("lo_cents"),
        F.try_element_at("means", F.lit(_N_REP - 1)).alias("hi_cents"),
    )
