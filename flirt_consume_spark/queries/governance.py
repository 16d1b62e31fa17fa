"""Governance / analytics / experimentation query keys.

Four families:
- data governance: referential-integrity audit, Benford first-digit
  screen, snapshot-style checks (`audit_*`);
- contribution & risk analytics: ABC Pareto classes, Gini
  concentration, maximum drawdown, sweep-line interval concurrency,
  LTTB downsampling, Markov transitions, largest-remainder
  allocation, bounded ancestor closure;
- experimentation: CUPED variance reduction and the
  sample-ratio-mismatch gate;
- sampling & temporal plumbing: A-ES weighted sampling, touch
  attribution, SCD2 temporal alignment.

Scale notes per key are in the docstrings; the shared theme is that
nothing here introduces a serialized stage — running totals/ranks go
through ``operators/scale.global_cumsum`` / ``global_rank``
(range-partition + per-partition window + broadcast offsets, no
single-reducer window), per-entity windows ride their natural key
shuffle, and top-k selections are TakeOrdered, not global sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.queries.base import dsum, query, sql_dsum, t

_FK_RELS = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
)


@query(
    "audit_fk",
    oracle="""
    SELECT * FROM (
    """
    + "\nUNION ALL\n".join(
        f"""
      SELECT '{f}.{fk}->{d}.{dk}' AS relationship,
             (SELECT COUNT(*) FROM {f}) AS n_rows,
             (SELECT COUNT(*) FROM {f}
              WHERE NOT EXISTS (SELECT 1 FROM {d} WHERE {dk} = {f}.{fk}))
               AS n_orphans
        """
        for f, fk, d, dk in _FK_RELS
    )
    + ")",
)
def audit_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan-row counts for every
    fact→dim foreign key in one result. Each fact table is scanned
    ONCE for ALL of its relationships (r12 session 5): its foreign-key
    columns are left-joined against the DISTINCT key set of each dim
    in one pass, and n_rows plus every per-relationship orphan count
    come out of a single conditional aggregation — the previous
    per-relationship anti-join + separate row-count plan scanned each
    fact twice per relationship (8 fact passes for 4 relationships;
    now 2). Distinct-ing the dim keys keeps the left join
    multiplicity-free, so "no match" is exactly the anti join's NOT
    EXISTS (a NULL foreign key matches nothing and counts as an
    orphan in both formulations).

    Join strategy (ADVICE r12, guide §3.1): the dims here are
    DATA-SIZED at the design point (orders.o_orderkey is one key per
    order; customer grows with the data), so their distinct key sets
    carry no broadcast hint: the planner (and AQE, from runtime
    stats) broadcasts them while they fit and shuffles otherwise."""
    by_fact: dict[str, list] = {}
    for fact, fk, dim, dk in _FK_RELS:
        by_fact.setdefault(fact, []).append((fk, dim, dk))
    out = None
    for fact, rels in by_fact.items():
        f_df = t(spark, sf_dir, fact).select(*[r[0] for r in rels])
        probe = f_df
        for i, (fk, dim, dk) in enumerate(rels):
            raw_keys = t(spark, sf_dir, dim).select(
                F.col(dk).alias(f"_dk{i}")
            )
            keys = raw_keys.distinct()
            probe = probe.join(
                keys, probe[fk] == keys[f"_dk{i}"], "left_outer"
            )
        agg = probe.agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.count(F.when(F.col(f"_dk{i}").isNull(), 1)).alias(
                    f"_orph{i}"
                )
                for i in range(len(rels))
            ],
        )
        rel_structs = F.array(
            *[
                F.struct(
                    F.lit(f"{fact}.{fk}->{dim}.{dk}").alias("relationship"),
                    F.col("n_rows"),
                    F.col(f"_orph{i}").alias("n_orphans"),
                )
                for i, (fk, dim, dk) in enumerate(rels)
            ]
        )
        rows = agg.select(F.explode(rel_structs).alias("_r")).select(
            "_r.relationship", "_r.n_rows", "_r.n_orphans"
        )
        out = rows if out is None else out.unionByName(rows)
    return out


@query(
    "agg_abc",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
                 AS BIGINT)) AS cents
      FROM lineitem GROUP BY l_partkey
    ), cum AS (
      SELECT l_partkey, cents,
             CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey)
                  AS BIGINT) AS cum_cents,
             (SELECT CAST(SUM(cents) AS BIGINT) FROM rev) AS tot
      FROM rev
    )
    SELECT CASE WHEN cum_cents * 5 <= tot * 4 THEN 'A'
                WHEN cum_cents * 20 <= tot * 19 THEN 'B'
                ELSE 'C' END AS abc_class,
           COUNT(*) AS n_parts,
           CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100 AS revenue
    FROM cum GROUP BY 1
    """,
)
def agg_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto-class analysis: parts ranked by revenue, class A =
    parts inside the first 80% of cumulative revenue, B to 95%, C the
    tail. The running share uses the distributed prefix sum
    (operators/scale.global_cumsum — range partition + per-partition
    window + broadcast offsets), NOT a partition-less window, so the
    plan has no single-reducer stage at any scale. Revenue is exact
    integer cents end-to-end; class boundaries are integer
    cross-multiplications (cum·5 <= tot·4), so no float compare sits
    on a class boundary."""
    from flirt_consume_spark.operators.scale import global_cumsum

    li = t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("cents")
    )
    cum = global_cumsum(
        rev, "cents", [F.col("cents").desc(), F.col("l_partkey")],
        cum_col="cum_cents",
    )
    tot = rev.agg(F.sum("cents").alias("_tot"))
    classed = cum.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("cum_cents") * 5 <= F.col("_tot") * 4, "A")
        .when(F.col("cum_cents") * 20 <= F.col("_tot") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        (F.sum("cents").cast("double") / 100).alias("revenue"),
    )


_SAMPLE_K = 100


@query(
    "sample_weighted",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderkey, o_totalprice,
             CAST(floor(o_totalprice * 100) AS BIGINT) * 8589934592 //
               (2 * ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                     1, 8))::BIGINT + 1) AS priority
      FROM orders WHERE o_totalprice > 0
    )
    SELECT o_orderkey, o_totalprice, priority
    FROM keyed ORDER BY priority DESC, o_orderkey LIMIT {_SAMPLE_K}
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement by priority sampling
    (Duffield–Lund–Thorup, JACM 2007): each row gets priority w/u
    with u uniform in (0,1); the k largest priorities are a weighted
    sample favouring heavy rows. u comes from an md5 slice of the key
    — deterministic, so retries/backfills resample identically and
    the oracle replays the construction.

    No transcendentals, no doubles: u = N/2^33 with N = 2·md5_32+1
    (odd, nonzero), w = integer cents, and the emitted priority is
    floor(w·2^33 / N) computed with 64-bit integer multiply + integer
    division (max product ~5e17 < 2^63). Both engines perform the
    identical exact integer arithmetic — no libm ulp or float-grid
    boundary can flip a value, unlike the previous ln(u)/w ranking
    where floor(ln(u)/w·1e9) could land within an ulp of a grid line.
    Top-k is orderBy+limit = TakeOrdered: per-partition heaps of k,
    no global sort."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    m = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    n_odd = (F.lit(2) * m + F.lit(1)).alias("n_odd")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    keyed = orders.select(
        "o_orderkey",
        "o_totalprice",
        (cents * F.lit(8589934592)).alias("scaled"),
        n_odd,
    )
    priority = F.expr("scaled div n_odd").alias("priority")
    return (
        keyed.select("o_orderkey", "o_totalprice", priority)
        .orderBy(F.col("priority").desc(), "o_orderkey")
        .limit(_SAMPLE_K)
    )


@query(
    "attribution_touch",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, value,
             first_value(CASE WHEN event_type <> 'purchase'
                              THEN event_type END IGNORE NULLS)
               OVER w AS ft,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER w AS lt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), conv AS (
      SELECT * FROM seq WHERE event_type = 'purchase' AND lt IS NOT NULL
    )
    SELECT 'first_touch' AS model, ft AS event_type,
           COUNT(*) AS n_conversions, {sql_dsum('value', 'revenue')}
    FROM conv GROUP BY ft
    UNION ALL
    SELECT 'last_touch' AS model, lt AS event_type,
           COUNT(*) AS n_conversions, {sql_dsum('value', 'revenue')}
    FROM conv GROUP BY lt
    """,
)
def attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch revenue attribution: each purchase's
    value is credited to the user's first (resp. most recent)
    non-purchase event strictly before it. ONE per-user window pass
    (frame end -1 enforces 'strictly before'; first/last with
    ignorenulls skip interleaved purchases) computes both touch
    columns, then two tiny aggregates read the purchases — the event
    stream is shuffled once, on user_id. Purchases with no preceding
    touch (first event of the user) are excluded in both models, so
    the two attributions sum to the same revenue."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    seq = ev.select(
        "user_id",
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(w).alias("ft"),
        F.last(touch, ignorenulls=True).over(w).alias("lt"),
    )
    conv = seq.filter(
        (F.col("event_type") == "purchase") & F.col("lt").isNotNull()
    )
    first = conv.groupBy(F.col("ft").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_conversions"),
        dsum("value", "revenue"),
    )
    last = conv.groupBy(F.col("lt").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_conversions"),
        dsum("value", "revenue"),
    )
    return first.select(
        F.lit("first_touch").alias("model"), "*"
    ).unionByName(last.select(F.lit("last_touch").alias("model"), "*"))


@query(
    "agg_concurrency",
    oracle="""
    WITH pts AS (
      SELECT o_orderdate AS d, 1 AS delta, o_orderkey FROM orders
      UNION ALL
      SELECT o_orderdate + INTERVAL 7 DAY AS d, -1 AS delta, o_orderkey
      FROM orders
    ), swept AS (
      SELECT d, delta,
             CAST(SUM(delta) OVER (ORDER BY d, delta, o_orderkey)
                  AS BIGINT) AS cur
      FROM pts
    )
    SELECT strftime(d, '%Y-%m') AS month_key,
           CAST(MAX(cur) AS BIGINT) AS peak_active
    FROM swept GROUP BY 1
    """,
)
def agg_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency per month via a distributed sweep
    line: each order contributes an 'active' interval
    [orderdate, orderdate+7d); starts emit +1, (exclusive) ends emit
    -1, and the running sum of deltas over the global (time, delta,
    key) order IS the number of concurrently-active intervals at each
    boundary — the classic sweep-line reduction of interval overlap
    counting, which never materializes overlapping PAIRS (quadratic)
    at all.

    r12 rework (guide §2.3 "aggregate before you shuffle"): event
    timestamps are calendar DATES, so the boundary stream collapses
    to per-date (starts, ends) counts BEFORE the range shuffle — a
    map-side-partial hash aggregate turns 2n boundary events into
    |distinct dates| rows (~2.4k here; bounded by the calendar, not
    the data, at any scale), and the ``global_cumsum`` sweep then
    runs over that tiny frame instead of every event. Per-date peak
    reconstruction is exact: with v1 = running net after date d and
    (s, e) that date's start/end counts, the sweep visits
    v0−1 … v0−e (ends first, v0 = v1 − s + e) then v0−e+1 … v1, so
    max(visited) = greatest(v0 − 1, v1) — when e = 0 only the rising
    leg exists but then v0 − 1 < v1, and when s = 0 only the falling
    leg exists with v1 ≤ v0 − 1, so the single formula covers all
    cases. Ordering (-1 before +1 at equal dates) is thereby encoded
    algebraically, matching the exclusive end.
    """
    from flirt_consume_spark.operators.scale import global_cumsum

    orders = t(spark, sf_dir, "orders")
    starts = orders.select(
        F.col("o_orderdate").alias("d"), F.lit(1).alias("delta")
    )
    ends = orders.select(
        F.date_add("o_orderdate", 7).alias("d"),
        F.lit(-1).alias("delta"),
    )
    byd = (
        starts.unionByName(ends)
        .groupBy("d")
        .agg(
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("long")
            .alias("s"),
            F.sum(F.when(F.col("delta") == -1, 1).otherwise(0))
            .cast("long")
            .alias("e"),
        )
    )
    swept = global_cumsum(
        byd.select("d", "s", "e", (F.col("s") - F.col("e")).alias("net")),
        "net",
        [F.col("d")],
        cum_col="v1",
    )
    peak = F.greatest(
        F.col("v1") - F.col("s") + F.col("e") - 1, F.col("v1")
    )
    return swept.groupBy(
        F.date_format("d", "yyyy-MM").alias("month_key")
    ).agg(F.max(peak).cast("bigint").alias("peak_active"))


@query(
    "temporal_align",
    oracle="""
    WITH pts AS (
      SELECT o_custkey AS k, o_orderdate AS d, o_orderkey AS id,
             o_orderpriority AS a_val, CAST(NULL AS VARCHAR) AS b_val
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_custkey, o_orderdate, o_orderkey,
             CAST(NULL AS VARCHAR), o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    ), seg AS (
      SELECT k, d, id,
             last_value(a_val IGNORE NULLS) OVER w AS a_cur,
             last_value(b_val IGNORE NULLS) OVER w AS b_cur,
             lead(d) OVER w2 AS d_next
      FROM pts
      WINDOW w AS (PARTITION BY k ORDER BY d, id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w2 AS (PARTITION BY k ORDER BY d, id)
    )
    SELECT k AS custkey, strftime(d, '%Y-%m-%d') AS seg_start,
           strftime(d_next, '%Y-%m-%d') AS seg_end, a_cur, b_cur
    FROM seg WHERE a_cur IS NOT NULL AND b_cur IS NOT NULL
    """,
)
def temporal_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal alignment of two per-key validity histories (the
    bitemporal 'align'/'normalize' op of temporal databases): merge
    both attribute streams into one per-key event sequence; at every
    boundary the running last-known value of EACH stream (ignorenulls
    last over the merged order) gives the combined segment, and
    lead() closes it — so N+M events produce their aligned segments
    in ONE window pass on ONE key shuffle, instead of the quadratic
    interval self-join the naive overlap formulation plans. Segments
    before both streams have reported are dropped (no fabricated
    values). The two histories here derive from disjoint halves of
    the orders stream (priority vs status), standing in for any two
    SCD2 dimension tables sharing a key."""
    orders = t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("a_val"),
        F.lit(None).cast("string").alias("b_val"),
    )
    b = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("id"),
        F.lit(None).cast("string").alias("a_val"),
        F.col("o_orderstatus").alias("b_val"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("d", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w2 = Window.partitionBy("k").orderBy("d", "id")
    seg = (
        a.unionByName(b)
        .select(
            "k",
            "d",
            F.last("a_val", ignorenulls=True).over(w).alias("a_cur"),
            F.last("b_val", ignorenulls=True).over(w).alias("b_cur"),
            F.lead("d").over(w2).alias("d_next"),
        )
        .filter(F.col("a_cur").isNotNull() & F.col("b_cur").isNotNull())
    )
    return seg.select(
        F.col("k").alias("custkey"),
        F.date_format("d", "yyyy-MM-dd").alias("seg_start"),
        F.date_format("d_next", "yyyy-MM-dd").alias("seg_end"),
        "a_cur",
        "b_cur",
    )


@query(
    "agg_gini",
    oracle="""
    WITH x AS (
      SELECT c_mktsegment AS segment,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), r AS (
      SELECT segment, cents,
             row_number() OVER (PARTITION BY segment
                                ORDER BY cents, o_orderkey) AS rnk
      FROM x
    )
    SELECT segment, COUNT(*) AS n_orders,
           floor(CAST(2 * SUM(rnk * cents) - (COUNT(*) + 1) * SUM(cents)
                      AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * SUM(cents)) * 1e6) / 1e6
             AS gini
    FROM r GROUP BY segment
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Gini coefficient of order-value concentration —
    the standard inequality readout (0 = uniform, →1 = concentrated),
    computed from the rank formulation
    G = (2·Σrᵢxᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) in exact integer cents.

    The per-group rank does NOT use a per-group window (one reducer
    per group — a serialized stage when a group is huge). It is ONE
    ``grouped_rank`` over (segment | cents, key) — range-partitioned
    rank with tiny per-(partition, segment) offsets on a broadcast
    (r12: the previous global_rank + min-rank-per-segment join-back
    paid an extra full-width aggregate and broadcast join for the
    same ranks; NULL-segment safety is inside grouped_rank now)."""
    from flirt_consume_spark.operators.scale import grouped_rank

    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    x = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    r = grouped_rank(
        x,
        ["segment"],
        [F.col("cents"), F.col("o_orderkey")],
        rank_col="rnk",
    ).select("segment", "cents", "rnk")
    n = F.count(F.lit(1))
    sx = F.sum("cents")
    # Σ rnk·cents grows ~sf² (rank ~ group size) and crosses int64
    # near sf2 (measured 3.1e16 at sf0.1, tools/audit_capacity.py) —
    # the product sum and the (n+1)·Σx term run in decimal(38,0),
    # exact past sf10⁹; DuckDB's SUM(BIGINT) is HUGEINT natively.
    srx = F.sum(F.col("rnk").cast("decimal(19,0)") * F.col("cents"))
    return r.groupBy("segment").agg(
        n.alias("n_orders"),
        (
            F.floor(
                (2 * srx - (n.cast("decimal(19,0)") + 1) * sx)
                .cast("double")
                / (n.cast("double") * sx)
                * 1e6
            )
            / F.lit(1e6)
        ).alias("gini"),
    )


@query(
    "win_drawdown",
    oracle="""
    WITH pnl AS (
      SELECT user_id, ts, event_id,
             SUM(CAST(floor(value * 1e6) AS BIGINT) - 50000000)
               OVER w AS cum
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), dd AS (
      SELECT user_id,
             MAX(cum) OVER w2 - cum AS drawdown
      FROM pnl
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           CAST(CAST(MAX(drawdown) AS DOUBLE) / 1e6 AS DOUBLE)
             AS max_drawdown
    FROM dd GROUP BY user_id
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over the centered value stream
    (value − 50 as a signed PnL): running sum, running max of that
    sum, max gap — the canonical risk statistic, and a window
    composition (cumsum → running max → agg) Spark executes in ONE
    per-user sort. Exact 1e-6 integer units end to end; both windows
    share the user_id partitioning so the stream shuffles once."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pnl = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(
            F.floor(F.col("value") * 1e6).cast("long") - F.lit(50000000)
        )
        .over(w)
        .alias("cum"),
    )
    dd = pnl.select(
        "user_id", (F.max("cum").over(w) - F.col("cum")).alias("drawdown")
    )
    return dd.groupBy("user_id").agg(
        (F.max("drawdown").cast("double") / 1e6).alias("max_drawdown")
    )


_DS_BUCKETS = 50


@query(
    "time_downsample",
    oracle=f"""
    WITH pts AS (
      SELECT event_type, epoch_us(ts) // 1000000 AS xs,
             CAST(floor(value * 1e6) AS BIGINT) AS yl, event_id
      FROM events
    ), n AS (SELECT event_type, COUNT(*) AS cnt FROM pts GROUP BY 1),
    rk AS (
      SELECT p.*, row_number() OVER (PARTITION BY p.event_type
                                     ORDER BY xs, event_id) AS r, cnt
      FROM pts p JOIN n USING (event_type)
    ), bk AS (
      SELECT *, ((r - 1) * {_DS_BUCKETS}) // cnt AS b FROM rk
    ), bm AS (
      SELECT event_type, b,
             CAST(SUM(xs) AS DOUBLE) / COUNT(*) AS mx,
             CAST(SUM(yl) AS DOUBLE) / COUNT(*) AS my
      FROM bk GROUP BY event_type, b
    ), anchors AS (
      SELECT event_type, b,
             coalesce(lag(mx)  OVER w, mx) AS px,
             coalesce(lag(my)  OVER w, my) AS py,
             coalesce(lead(mx) OVER w, mx) AS nx,
             coalesce(lead(my) OVER w, my) AS ny
      FROM bm WINDOW w AS (PARTITION BY event_type ORDER BY b)
    ), scored AS (
      SELECT bk.event_type, bk.b, bk.xs, bk.yl, bk.event_id,
             abs((px - nx) * (bk.yl - py) - (px - bk.xs) * (ny - py))
               AS area
      FROM bk JOIN anchors ON bk.event_type = anchors.event_type
                          AND bk.b = anchors.b
    ), pick AS (
      SELECT *, row_number() OVER (PARTITION BY event_type, b
                                   ORDER BY area DESC, event_id) AS pr
      FROM scored
    )
    SELECT event_type, b AS bucket, xs AS ts_sec,
           CAST(CAST(yl AS DOUBLE) / 1e6 AS DOUBLE) AS value
    FROM pick WHERE pr = 1
    """,
)
def time_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling for visualization, LTTB-style
    (largest-triangle-three-buckets, Steinarsson 2013) with FIXED
    bucket-mean anchors: per series, points fall into {nb} equal-count
    buckets; each bucket keeps the point forming the largest triangle
    against the neighboring buckets' mean points. The fixed-anchor
    variant drops LTTB's sequential previous-selected-point dependency
    — every bucket scores independently, so the whole downsample is
    joins + windows, embarrassingly parallel across series AND buckets
    (true LTTB is an inherently serial scan per series).

    Determinism: coordinates are integer (epoch seconds, 1e-6 value
    units); bucket index is pure integer math ((r−1)·nb DIV n); anchor
    means are integer-sum/count doubles; triangle areas are IEEE
    products of identical doubles on both engines; bucket winners
    order by (area DESC, event_id)."""
    ev = t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("xs"),
        F.floor(F.col("value") * 1e6).cast("long").alias("yl"),
        "event_id",
    )
    # grouped_rank, not Window.partitionBy(event_type): 5 types would
    # serialize the whole point stream into 5 reducers at scale.
    # count_col: per-series totals ride the rank's offsets broadcast
    # (r12) — the previous separate groupBy(event_type) count paid a
    # full extra scan of the point stream plus a join-back.
    from flirt_consume_spark.operators.scale import grouped_rank

    bk = grouped_rank(
        pts,
        ["event_type"],
        [F.col("xs"), F.col("event_id")],
        rank_col="r",
        count_col="cnt",
    ).withColumn("b", F.expr(f"((r - 1) * {_DS_BUCKETS}) div cnt"))
    bm = bk.groupBy("event_type", "b").agg(
        (F.sum("xs").cast("double") / F.count(F.lit(1))).alias("mx"),
        (F.sum("yl").cast("double") / F.count(F.lit(1))).alias("my"),
    )
    wb = Window.partitionBy("event_type").orderBy("b")
    anchors = bm.select(
        "event_type",
        "b",
        F.coalesce(F.lag("mx").over(wb), F.col("mx")).alias("px"),
        F.coalesce(F.lag("my").over(wb), F.col("my")).alias("py"),
        F.coalesce(F.lead("mx").over(wb), F.col("mx")).alias("nx"),
        F.coalesce(F.lead("my").over(wb), F.col("my")).alias("ny"),
    )
    # anchors is ≤ |types|·nb rows (1,250 here, bounded at any data
    # size) — broadcast it so the data-sized bk side is NOT hash-
    # shuffled + sorted into a SortMergeJoin (r12; the unhinted plan
    # chose SMJ because anchors' size ESTIMATE descends from a
    # data-sized aggregate, guide §3.1).
    scored = bk.join(F.broadcast(anchors), ["event_type", "b"]).withColumn(
        "area",
        F.abs(
            (F.col("px") - F.col("nx")) * (F.col("yl") - F.col("py"))
            - (F.col("px") - F.col("xs")) * (F.col("ny") - F.col("py"))
        ),
    )
    # Bucket winner = argmax by (area DESC, event_id ASC) as ONE
    # max_by hash aggregation, not a per-(type, bucket) row_number
    # window: the window shuffles the whole scored frame into
    # |types|·|buckets| reducers, each sorting its n/250 slice; the
    # agg's map-side partial collapses every task to ≤250 rows before
    # the shuffle. The (area, −event_id) ordinal is unique (event_id
    # is), so the argmax is deterministic.
    picked = scored.groupBy("event_type", "b").agg(
        F.max_by(
            F.struct("xs", "yl"),
            F.struct(F.col("area"), (-F.col("event_id")).alias("nid")),
        ).alias("s")
    )
    return picked.select(
        "event_type",
        F.col("b").alias("bucket"),
        F.col("s.xs").alias("ts_sec"),
        (F.col("s.yl").cast("double") / 1e6).alias("value"),
    )


time_downsample.__doc__ = time_downsample.__doc__.format(nb=_DS_BUCKETS)


@query(
    "agg_cuped",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             CAST(SUM(CASE WHEN day(ts) <= 15
                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS x,
             CAST(SUM(CASE WHEN day(ts) > 15
                  THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS y
      FROM events GROUP BY user_id
    ), pooled AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM per_user
    ), arms AS (
      SELECT arm, COUNT(*) AS an,
             CAST(SUM(x) AS BIGINT) AS ax, CAST(SUM(y) AS BIGINT) AS ay
      FROM per_user GROUP BY arm
    )
    SELECT arm, an AS n_users,
           floor(CAST(ay AS DOUBLE) / an / 100 * 1e6) / 1e6 AS mean_y,
           floor((CAST(ay AS DOUBLE) / an
                  - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                    * (CAST(ax AS DOUBLE) / an - CAST(sx AS DOUBLE) / n))
                 / 100 * 1e6) / 1e6 AS mean_y_cuped
    FROM arms CROSS JOIN pooled
    """,
)
def agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013) for an A/B
    readout: per-user pre-period value (x, days 1–15) predicts the
    post-period metric (y, days 16+); the adjusted metric
    y − θ(x − x̄) with θ = cov(x,y)/var(x) removes the predictable
    variance so arm deltas need far less traffic to resolve.

    Everything reduces to ONE per-user aggregation pass + one per-arm
    aggregate of exact integer moments (Σx, Σy, Σxy, Σx² in cents) on
    one partition, whose pooled moments are windows over the arm rows:
    θ and the per-arm adjusted means are pure algebra over them, so no
    second pass and no per-row adjustment materialization — and the
    doubles derived from those integers are bit-identical on both
    engines. Arms are the deterministic user_id parity."""
    ev = t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.dayofmonth("ts") <= 15, cents).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.dayofmonth("ts") > 15, cents).otherwise(0))
        .cast("long")
        .alias("y"),
    ).withColumn("arm", F.col("user_id") % 2)
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("an"),
        F.sum("x").alias("ax"),
        F.sum("y").alias("ay"),
        F.sum(F.col("x") * F.col("y")).alias("axy"),
        F.sum(F.col("x") * F.col("x")).alias("axx"),
    ).coalesce(1)
    pooled = ("n", "an"), ("sx", "ax"), ("sy", "ay"), ("sxy", "axy"), ("sxx", "axx")
    j = arms.withColumns(
        {p: F.sum(a).over(Window.partitionBy()) for p, a in pooled}
    )
    # try_divide: with a degenerate pre-period (all x identical —
    # e.g. one user, or every pre-period value NULLed upstream) the
    # variance denominator is 0 and θ is undefined — NULL, matching
    # DuckDB's division-by-zero NULL; identical to / otherwise.
    theta = F.try_divide(
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy"),
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx"),
    )
    mean_y = F.col("ay").cast("double") / F.col("an")
    mean_x = F.col("ax").cast("double") / F.col("an")
    pooled_x = F.col("sx").cast("double") / F.col("n")
    return j.select(
        "arm",
        F.col("an").alias("n_users"),
        (F.floor(mean_y / 100 * 1e6) / F.lit(1e6)).alias("mean_y"),
        (
            F.floor(
                (mean_y - theta * (mean_x - pooled_x)) / 100 * 1e6
            )
            / F.lit(1e6)
        ).alias("mean_y_cuped"),
    )


@query(
    "win_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), c AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           floor(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY prev_type) * 1e6) / 1e6
             AS prob
    FROM c
    """,
)
def win_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next | prev) with rational row-normalized
    probabilities — the sequence-model readout behind journey
    analysis and synthetic-session generation. One lag window on the
    user_id shuffle + one hash agg; the row normalization is a window
    over the |types|² count table (tiny), not over events."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n",
        (
            F.floor(F.col("n").cast("double") / F.sum("n").over(tot) * 1e6)
            / F.lit(1e6)
        ).alias("prob"),
    )


# Benford expected first-digit shares, precomputed as literals so no
# libm log10 enters either engine (floor to 1e-6 of log10(1 + 1/d)).
_BENFORD = {
    1: 0.301029, 2: 0.176091, 3: 0.124938, 4: 0.096910, 5: 0.079181,
    6: 0.066946, 7: 0.057991, 8: 0.051152, 9: 0.045757,
}


@query(
    "audit_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                         AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    )
    SELECT digit, COUNT(*) AS n,
           floor(CAST(COUNT(*) AS DOUBLE)
                 / (SELECT COUNT(*) FROM d) * 1e6) / 1e6 AS share,
           CASE digit """
    + " ".join(f"WHEN {k} THEN {v}" for k, v in _BENFORD.items())
    + """ END AS expected
    FROM d GROUP BY digit
    """,
)
def audit_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order values — the standard
    anomaly/fraud screen for 'organic' numeric populations. The first
    digit comes from the STRING form of exact integer cents (never
    log10: decimal float formatting differs across engines, integer
    formatting does not). Expected shares are precomputed literals;
    observed shares are rational. One narrow projection + one tiny
    agg on one partition, whose total is a window over the 9 digits."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = orders.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    expected = F.when(F.col("digit") == 1, F.lit(_BENFORD[1]))
    for k in range(2, 10):
        expected = expected.when(F.col("digit") == k, F.lit(_BENFORD[k]))
    # The total is its own column so the window sits directly on the
    # coalesced aggregate: selected next to the CASE, it would plan one
    # more projection (one more class to compile) below the window.
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .coalesce(1)
        .withColumn("tot", F.sum("n").over(Window.partitionBy()))
        .select(
            "digit",
            "n",
            (F.floor(F.col("n").cast("double") / F.col("tot") * 1e6) / 1e6)
            .alias("share"),
            expected.alias("expected"),
        )
    )


@query(
    "audit_srm",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id, user_id % 2 AS arm FROM events
    ), c AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM u
    )
    SELECT n_a, n_b,
           floor(((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
                  / ((n_a + n_b) / 2.0)
                  + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
                  / ((n_a + n_b) / 2.0)) * 1e6) / 1e6 AS chi2,
           CAST((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
                  / ((n_a + n_b) / 2.0)
                  + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
                  / ((n_a + n_b) / 2.0) > 3.841459 AS BOOLEAN) AS srm
    FROM c
    """,
)
def audit_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the first gate of every A/B
    readout (a skewed split invalidates the experiment before any
    metric is read): chi-square of observed arm counts against the
    50/50 design, flagged above the p=0.05 critical value 3.841459
    (a literal — no CDF evaluation in-engine). Pure integer counts
    into a fixed IEEE expression; pairs with agg_cuped."""
    ev = t(spark, sf_dir, "events")
    u = ev.select("user_id").distinct().select(
        (F.col("user_id") % 2).alias("arm")
    )
    c = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    e = (F.col("n_a") + F.col("n_b")) / F.lit(2.0)
    chi2 = (F.col("n_a") - e) * (F.col("n_a") - e) / e + (
        F.col("n_b") - e
    ) * (F.col("n_b") - e) / e
    return c.select(
        "n_a",
        "n_b",
        (F.floor(chi2 * 1e6) / F.lit(1e6)).alias("chi2"),
        (chi2 > F.lit(3.841459)).alias("srm"),
    )


_ANC_DEPTH = 8


@query(
    "graph_ancestors",
    oracle=f"""
    WITH RECURSIVE parents AS (
      SELECT p_partkey + 1 AS node,
             ('0x' || substr(md5(CAST(p_partkey + 1 AS VARCHAR)), 1, 8))::BIGINT
               % (p_partkey + 1) AS parent
      FROM part
    ), anc AS (
      SELECT node, parent AS ancestor, 1 AS depth
      FROM parents WHERE parent > 0
      UNION ALL
      SELECT a.node, p.parent, a.depth + 1
      FROM anc a JOIN parents p ON p.node = a.ancestor
      WHERE p.parent > 0 AND a.depth < {_ANC_DEPTH}
    )
    SELECT node, ancestor, depth FROM anc
    """,
)
def graph_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth ancestor closure over a DAG (BOM explosion / org
    roll-up shape): parent(p) = md5-uniform in [0, p) — strictly
    decreasing, so the parent map is a guaranteed DAG with ~log-depth
    chains — and the closure is {d} unrolled frontier⋈parent equi-join
    hops (the dataflow form of WITH RECURSIVE ... depth <= {d}).
    Each hop shuffles only the LIVE frontier (chains that hit the
    root drop out), so cost tracks the surviving-path count, not
    nodes × depth. The same md5 arithmetic replays in DuckDB's
    recursive CTE, making an iterative graph traversal
    hash-checkable end to end."""
    part = t(spark, sf_dir, "part")
    # p_partkey is 0-based; shift to 1-based node ids so parent =
    # hash % node is well-defined (mod 0 is an ANSI error) and every
    # chain terminates at the virtual root 0.
    node = F.col("p_partkey") + 1
    parents = part.select(
        node.alias("node"),
        (
            F.conv(
                F.substring(F.md5(node.cast("string")), 1, 8), 16, 10
            ).cast("long")
            % node
        ).alias("parent"),
    )
    pmap = parents.filter(F.col("parent") > 0)
    frontier = pmap.select(
        "node", F.col("parent").alias("ancestor"), F.lit(1).alias("depth")
    )
    out = frontier
    for d in range(2, _ANC_DEPTH + 1):
        nxt = pmap.select(
            F.col("node").alias("_pn"), F.col("parent").alias("_pp")
        )
        frontier = frontier.join(
            nxt, frontier["ancestor"] == nxt["_pn"]
        ).select(
            "node", F.col("_pp").alias("ancestor"), F.lit(d).alias("depth")
        )
        out = out.unionByName(frontier)
    return out


graph_ancestors.__doc__ = graph_ancestors.__doc__.format(d=_ANC_DEPTH)


@query(
    "alloc_remainder",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS q,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS total
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), w AS (
      SELECT l_orderkey, l_linenumber, q, total,
             CAST(SUM(q) OVER (PARTITION BY l_orderkey) AS BIGINT) AS qq
      FROM li
    ), base AS (
      SELECT *, total * q // qq AS b, (total * q) % qq AS frac
      FROM w
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY frac DESC, l_linenumber) AS rk,
             total - CAST(SUM(b) OVER (PARTITION BY l_orderkey) AS BIGINT)
               AS r
      FROM base
    )
    SELECT l_orderkey, l_linenumber,
           CAST(b + CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_cents
    FROM ranked
    """,
)
def alloc_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional allocation with largest-remainder rounding (the
    Hamilton apportionment used for invoice line splits, cost
    allocation, budget sharing): each order's exact cent total is
    distributed over its lineitems by quantity so that per-line cents
    are integers AND they sum EXACTLY to the order total — floor the
    proportional share, then hand the leftover cents to the largest
    fractional remainders (ties by line number). 100% integer
    arithmetic; the per-order windows ride one l_orderkey shuffle and
    groups are bounded by lines-per-order."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("total"),
    )
    wk = Window.partitionBy("l_orderkey")
    base = j.select(
        "l_orderkey",
        "l_linenumber",
        "total",
        F.expr("total * q div sum(q) OVER (PARTITION BY l_orderkey)")
        .alias("b"),
        ((F.col("total") * F.col("q")) % F.sum("q").over(wk)).alias("frac"),
    )
    rk = F.row_number().over(
        Window.partitionBy("l_orderkey").orderBy(
            F.col("frac").desc(), "l_linenumber"
        )
    )
    ranked = base.select(
        "l_orderkey",
        "l_linenumber",
        "b",
        rk.alias("rk"),
        (F.col("total") - F.sum("b").over(wk)).alias("r"),
    )
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("b") + F.when(F.col("rk") <= F.col("r"), 1).otherwise(0))
        .cast("long")
        .alias("alloc_cents"),
    )


@query(
    "time_seasonal",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST((CAST(ts AS DATE) - DATE '1970-01-05') % 7 AS BIGINT)
               AS dow,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ), dowm AS (
      SELECT dow, CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS dow_mean
      FROM daily GROUP BY dow
    ), resid AS (
      SELECT d, daily.dow, cents, dow_mean,
             cents - dow_mean AS r
      FROM daily JOIN dowm ON daily.dow = dowm.dow
    ), sigma AS (
      SELECT sqrt(
               CAST(SUM(CAST(floor(r * r) AS BIGINT)) AS DOUBLE)
                 / COUNT(*)
               - (CAST(SUM(CAST(floor(r * 1e3) AS BIGINT)) AS DOUBLE)
                  / 1e3 / COUNT(*))
                 * (CAST(SUM(CAST(floor(r * 1e3) AS BIGINT)) AS DOUBLE)
                    / 1e3 / COUNT(*))
             ) AS sd
      FROM resid
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(CAST(cents AS DOUBLE) / 100 AS DOUBLE) AS daily_value,
           dow,
           floor(dow_mean / 100 * 1e6) / 1e6 AS expected,
           floor(r / 100 * 1e6) / 1e6 AS residual,
           CAST(abs(r) > 3 * sd AS BOOLEAN) AS is_anomaly
    FROM resid CROSS JOIN sigma
    """,
)
def time_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly screen (the additive-decomposition
    core of STL-style monitoring): daily totals vs their day-of-week
    mean; residuals beyond 3σ flag anomalies. Day-of-week is computed
    as days-since-a-Monday-anchor mod 7 — NOT the engines'
    dayofweek(), whose 0/1-based Sunday conventions differ. One daily
    aggregation (exact integer cents), a 7-row seasonal-mean join
    back, and a 1-row pooled σ broadcast; σ's variance comes from
    floored integer-unit sums of the (cross-engine-identical)
    residual doubles, and sqrt is IEEE exactly-rounded, so even the
    3σ decision boundary is deterministic."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("d"),
        (
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05").cast("date"))
            % 7
        )
        .cast("long")
        .alias("dow"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
        # Pin the calendar-bounded daily rollup: its three consumers
        # (seasonal means, residual stream, pooled σ) each re-scanned
        # events and re-ran the daily aggregation (4 scans in the
        # plan → 1; r12 session 5, guide §5). Lazy, per-invocation.
    ).localCheckpoint(eager=False)
    dowm = daily.groupBy("dow").agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("dow_mean")
    )
    resid = daily.join(F.broadcast(dowm), "dow").withColumn(
        "r", F.col("cents") - F.col("dow_mean")
    )
    mean_r = (
        F.sum(F.floor(F.col("r") * 1e3).cast("long")).cast("double")
        / 1e3
        / F.count(F.lit(1))
    )
    sigma = resid.agg(
        F.sqrt(
            F.sum(F.floor(F.col("r") * F.col("r")).cast("long")).cast(
                "double"
            )
            / F.count(F.lit(1))
            - mean_r * mean_r
        ).alias("sd")
    )
    return resid.crossJoin(F.broadcast(sigma)).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (F.col("cents").cast("double") / 100).alias("daily_value"),
        "dow",
        (F.floor(F.col("dow_mean") / 100 * 1e6) / 1e6).alias("expected"),
        (F.floor(F.col("r") / 100 * 1e6) / 1e6).alias("residual"),
        (F.abs(F.col("r")) > 3 * F.col("sd")).alias("is_anomaly"),
    )


# Point-in-polygon ray cast over the quarter-grid synthetic coords,
# scaled x4 so every coordinate and every cross product is an exact
# integer. The polygon is a fixed irregular quadrilateral (no
# horizontal edges — the ray-cast degenerate case); per-edge crossing
# conditions are generated ONCE here with the division removed by
# cross-multiplication (inequality direction baked per edge sign), and
# the IDENTICAL SQL string evaluates in Spark (F.expr) and DuckDB.
_PIP_POLY = ((-400, -200), (400, -240), (520, 160), (-360, 240))


def _pip_inside_sql() -> str:
    terms = []
    n = len(_PIP_POLY)
    for k in range(n):
        x1, y1 = _PIP_POLY[k]
        x2, y2 = _PIP_POLY[(k + 1) % n]
        d = y2 - y1
        op = "<" if d > 0 else ">"
        xcond = (
            f"((lon4 - ({x1})) * ({d}) {op} ({x2 - x1}) * (lat4 - ({y1})))"
        )
        terms.append(
            f"(CASE WHEN ((({y1}) > lat4) <> (({y2}) > lat4)) AND {xcond}"
            " THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ") % 2 = 1"


_PIP_COORDS = """
      SELECT c_custkey, c_mktsegment,
             CAST(((c_custkey * 131) % 360 - 180) * 4 + 1 AS BIGINT)
               AS lon4,
             CAST(((c_custkey * 7) % 140 - 70) * 4 + 1 AS BIGINT) AS lat4
      FROM customer
"""


@query(
    "join_pointpoly",
    oracle=f"""
    WITH pts AS ({_PIP_COORDS}),
    flagged AS (
      SELECT c_mktsegment AS segment,
             CAST({_pip_inside_sql()} AS BOOLEAN) AS inside
      FROM pts
    )
    SELECT segment, inside, COUNT(*) AS n_customers
    FROM flagged GROUP BY segment, inside
    """,
)
def join_pointpoly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon classification (geofencing / service-area
    assignment) by ray casting — the scan-side geo primitive the
    radius join (join_geo) doesn't cover. The polygon is a broadcast-
    free LITERAL: each point evaluates a fixed per-edge crossing
    expression with the division replaced by sign-adjusted integer
    cross-multiplication, so the whole test is exact integer
    arithmetic inside whole-stage codegen — zero joins, zero shuffle
    before the final tiny aggregate, and the identical SQL text runs
    on DuckDB (single source of truth for the geometry). At scale the
    same construction extends to polygon SETS via a grid-cell
    broadcast (spatial.grid_within_radius's bucketing)."""
    cust = t(spark, sf_dir, "customer")
    pts = cust.select(
        "c_mktsegment",
        (((F.col("c_custkey") * 131) % 360 - 180) * 4 + 1)
        .cast("long")
        .alias("lon4"),
        (((F.col("c_custkey") * 7) % 140 - 70) * 4 + 1)
        .cast("long")
        .alias("lat4"),
    )
    flagged = pts.select(
        F.col("c_mktsegment").alias("segment"),
        F.expr(_pip_inside_sql()).cast("boolean").alias("inside"),
    )
    return flagged.groupBy("segment", "inside").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "agg_ols",
    oracle="""
    WITH xy AS (
      SELECT c_mktsegment AS segment,
             CAST(floor(c_acctbal) AS BIGINT) AS x,
             CAST(floor(o_totalprice) AS BIGINT) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), m AS (
      SELECT segment, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM xy GROUP BY segment
    )
    SELECT segment, n,
           floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 * 1e9) / 1e9 AS slope,
           floor((CAST(sy AS DOUBLE) / n
                  - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                    * (CAST(sx AS DOUBLE) / n)) * 1e6) / 1e6
             AS intercept,
           floor(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                 * 1e6) / 1e6 AS r2
    FROM m
    """,
)
def agg_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression (order value on customer
    balance, per market segment): slope, intercept, and R² from ONE
    pass of exact integer moments (n, Σx, Σy, Σxy, Σx², Σy²) — the
    closed-form OLS every warehouse needs before reaching for MLlib,
    and the same moment-algebra trick as agg_cuped: no residual
    second pass, doubles derived from exact integers are bit-identical
    cross-engine, outputs on floor grids. R² = corr² =
    (nΣxy−ΣxΣy)² / ((nΣxx−Σx²)(nΣyy−Σy²)) — one rational.

    Units: x/y are WHOLE currency units (per-row products stay far
    inside long), and the moment SUMS run in decimal(38,0) on Spark /
    HUGEINT on the oracle — Σy² in long alone crossed int64 near
    sf400 (capacity audit), the same widening recipe as agg_gini;
    headroom is now ~1e38 ≈ sf4e21. The slope/R² algebra stays in
    double off the exact sums, bit-identical cross-engine."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    xy = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal")).cast("long").alias("x"),
        F.floor(F.col("o_totalprice")).cast("long").alias("y"),
    )
    prod = lambda a, b: (F.col(a) * F.col(b)).cast("decimal(20,0)")  # noqa: E731
    m = xy.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(prod("x", "y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(prod("x", "x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(prod("y", "y")).cast("decimal(38,0)").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov_n = nd * F.col("sxy") - sxd * F.col("sy")
    var_x = nd * F.col("sxx") - sxd * F.col("sx")
    var_y = nd * F.col("syy") - syd * F.col("sy")
    # try_divide: a constant regressor (one hot customer owning every
    # order in a segment — the skew-mirror shape) has var_x = 0 and
    # the regression is undefined — NULL slope/intercept/R², exactly
    # DuckDB's division-by-zero NULL; identical to / otherwise.
    slope = F.try_divide(cov_n, var_x)
    return m.select(
        "segment",
        "n",
        (F.floor(slope * 1e9) / 1e9).alias("slope"),
        (
            F.floor((syd / F.col("n") - slope * (sxd / F.col("n"))) * 1e6)
            / 1e6
        ).alias("intercept"),
        (
            F.floor(F.try_divide(cov_n * cov_n, var_x * var_y) * 1e6) / 1e6
        ).alias("r2"),
    )


@query(
    "time_cusum",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ), mean AS (
      SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mu FROM daily
    ), dev AS (
      SELECT d, CAST(floor((cents - mu) * 1e3) AS BIGINT) AS dv
      FROM daily CROSS JOIN mean
    ), cusum AS (
      SELECT d, CAST(SUM(dv) OVER (ORDER BY d) AS BIGINT) AS cs
      FROM dev
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(CAST(cs AS DOUBLE) / 1e3 / 100 AS DOUBLE) AS cusum,
           CAST(abs(cs) = (SELECT MAX(abs(cs)) FROM cusum) AS BOOLEAN)
             AS is_changepoint
    FROM cusum
    """,
)
def time_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint localization (Page 1954, the classic
    mean-shift detector): cumulative sum of daily deviations from the
    series mean; the |CUSUM| peak estimates where the level shifted.
    The calendar-bounded daily series is coalesced to one partition,
    and the mean, the running sum of integer milli-cent deviations and
    the peak are windows over it (no exchange after the daily agg).
    The peak flag compares exact integers so the argmax is
    deterministic (equal-|CUSUM| ties all flag, identically on both
    engines)."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    ).coalesce(1)
    whole = Window.partitionBy()
    mu = F.sum("cents").over(whole).cast("double") / F.count(F.lit(1)).over(whole)
    dv = F.floor((F.col("cents") - mu) * 1e3).cast("long")
    running = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cusum = daily.select("d", dv.alias("dv")).withColumn(
        "cs", F.sum("dv").over(running)
    )
    peak = F.max(F.abs(F.col("cs"))).over(whole)
    return cusum.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (F.col("cs").cast("double") / 1e3 / 100).alias("cusum"),
        (F.abs(F.col("cs")) == peak).alias("is_changepoint"),
    )


@query(
    "agg_bucketed",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS n_lines,
           CAST(SUM(CAST(floor(l_extendedprice * 1e2) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM lineitem GROUP BY l_orderkey
    """,
)
def agg_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free aggregation on a pre-bucketed table — the
    aggregation twin of J11's co-located join: a table hash-bucketed
    on the grouping key satisfies the aggregate's clustering
    requirement from LAYOUT, so the per-key rollup plans with NO
    Exchange at all (asserted in tests) — at 100 TB this turns every
    repeated per-key aggregation over a standing fact table into a
    scan-side map pass. Shares J11's bucketed lineitem via
    operators/scale.colo_table — one owner of the cache
    name/fingerprint/schema contract, fingerprinting the table
    actually bucketed; the oracle aggregates the plain source view,
    proving bucketing is result-invariant."""
    from flirt_consume_spark.operators.scale import colo_table

    li = colo_table(
        spark,
        sf_dir,
        "lineitem",
        ("l_orderkey", "l_extendedprice"),
        "l_orderkey",
    )
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.floor(F.col("l_extendedprice") * 1e2).cast("long"))
        .cast("bigint")
        .alias("price_cents"),
    )
