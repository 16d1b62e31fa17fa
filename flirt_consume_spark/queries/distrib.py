"""Distributional / traversal operators (round-6 late additions).

Six families, one module:
- `audit_ks`: two-sample Kolmogorov–Smirnov distances between the
  order-status groups' price distributions — the drift gate a data
  pipeline runs before trusting a new snapshot;
- `time_interpolate`: linear interpolation between sparse anchor
  observations (the resampling sibling of `win_locf`'s step fill);
- `graph_bfs_dist`: multi-source BFS hop distances on an undirected
  graph — depth-capped min-plus relaxation, the shortest-path
  pattern the ancestor-closure keys don't need;
- `sample_reservoir`: per-group fixed-k deterministic reservoir
  sample via hierarchical (bucketed) top-k;
- `agg_cms`: Count-Min Sketch frequency estimation — constant-memory
  mergeable sketch, deterministic md5 hash rows, est ≥ exact pinned;
- `audit_mannwhitney`: tie-corrected Mann-Whitney U over the same
  shared multi-counter cumsum audit_ks rides — doubled midranks keep
  every rank statistic an exact integer.

Hash-match discipline (SURVEY.md §4): every emitted double is either
pass-through, a single division of exactly-representable integers, or
an identical IEEE expression tree on both engines — no transcendental
appears anywhere in this module (Shannon entropy was deliberately
rejected in favor of KS/Simpson/Gini for exactly that reason: ln()
differs by ulps across libm implementations; the U test's sqrt is
IEEE-754 correctly rounded, not a libm approximation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flirt_consume_spark.operators.scale import global_cumsum
from flirt_consume_spark.queries.base import md5_parent_map, query, t

# --- two-sample Kolmogorov–Smirnov audit ---------------------------------

_KS_PAIRS = (("F", "O"), ("F", "P"), ("O", "P"))

# Shared staged frame for audit_ks and audit_mannwhitney — per-value
# order-status counts plus the three-counter global cumulative sums
# over o_totalprice. Computed fresh PER INVOCATION (global_cumsum pins
# its output lazily, so one invocation's plan legs share one range
# shuffle); no cross-invocation memo — every bench/oracle run
# recomputes from parquet (r13: the session cache here was flagged).
def _status_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("g"),
        F.col("o_totalprice").alias("v"),
    )
    vc = od.groupBy("v").agg(
        *[
            F.sum(F.when(F.col("g") == s, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c_{s.lower()}")
            for s in ("F", "O", "P")
        ]
    )
    return global_cumsum(
        vc,
        ["c_f", "c_o", "c_p"],
        ["v"],
        ["cum_f", "cum_o", "cum_p"],
    )


@query(
    "audit_ks",
    oracle="""
    WITH vc AS (
      SELECT o_totalprice AS v,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_f,
             CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_o,
             CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_p
      FROM orders GROUP BY 1
    ), cum AS (
      SELECT SUM(c_f) OVER (ORDER BY v) AS cum_f,
             SUM(c_o) OVER (ORDER BY v) AS cum_o,
             SUM(c_p) OVER (ORDER BY v) AS cum_p
      FROM vc
    ), tot AS (
      SELECT CAST(SUM(c_f) AS BIGINT) AS n_f,
             CAST(SUM(c_o) AS BIGINT) AS n_o,
             CAST(SUM(c_p) AS BIGINT) AS n_p
      FROM vc
    ), d AS (
      SELECT CAST(MAX(ABS(cum_f * n_o - cum_o * n_f)) AS BIGINT) AS d_fo,
             CAST(MAX(ABS(cum_f * n_p - cum_p * n_f)) AS BIGINT) AS d_fp,
             CAST(MAX(ABS(cum_o * n_p - cum_p * n_o)) AS BIGINT) AS d_op
      FROM cum, tot
    )
    SELECT 'F' AS grp_a, 'O' AS grp_b, n_f AS n_a, n_o AS n_b,
           d_fo AS d_num,
           CAST(d_fo AS DOUBLE) / CAST(n_f * n_o AS DOUBLE) AS ks_stat
    FROM d, tot
    UNION ALL
    SELECT 'F', 'P', n_f, n_p, d_fp,
           CAST(d_fp AS DOUBLE) / CAST(n_f * n_p AS DOUBLE)
    FROM d, tot
    UNION ALL
    SELECT 'O', 'P', n_o, n_p, d_op,
           CAST(d_op AS DOUBLE) / CAST(n_o * n_p AS DOUBLE)
    FROM d, tot
    """,
)
def audit_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 audit family: two-sample Kolmogorov–Smirnov statistic
    between every pair of order-status groups over o_totalprice —
    D = max_v |ECDF_a(v) − ECDF_b(v)|, the standard drift screen for
    "did this snapshot's distribution shift?".

    Exactness: the max is taken over the INTEGER cross-multiplied
    form |cum_a·n_b − cum_b·n_a| (common denominator n_a·n_b), so the
    whole search is integer arithmetic; the only double op is one
    final division of exactly-representable ints — bit-identical on
    any engine. At 100 TB: one hash agg to per-value counts (≤ one
    row per distinct value), then ONE multi-counter
    ``global_cumsum`` (range shuffle amortized over all three ECDF
    counters — no single-reducer window, no per-group pass), then a
    3-cell global max folded map-side. The pair set is |groups|², a
    constant; data-sized work is two shuffles total.
    """
    cum = _status_ecdf(spark, sf_dir)
    # Totals come from the cumsum output itself (max of a running sum
    # == its total), NOT from a second aggregation over `vc` — that
    # leg would re-scan orders; this one is a map-side-combinable max
    # over the already-materialized checkpoint blocks.
    tot = cum.groupBy().agg(
        *[
            F.max(f"cum_{s.lower()}").cast("bigint").alias(f"n_{s.lower()}")
            for s in ("F", "O", "P")
        ]
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            *[
                F.max(
                    F.abs(
                        F.col(f"cum_{a.lower()}") * F.col(f"n_{b.lower()}")
                        - F.col(f"cum_{b.lower()}") * F.col(f"n_{a.lower()}")
                    )
                )
                .cast("bigint")
                .alias(f"d_{a.lower()}{b.lower()}")
                for a, b in _KS_PAIRS
            ]
        )
        .crossJoin(F.broadcast(tot))
    )
    # One explode, not a 3-way union of selects over `d`: a union
    # would evaluate the whole cumsum subtree once PER BRANCH.
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("grp_a"),
                F.lit(b).alias("grp_b"),
                F.col(f"n_{a.lower()}").alias("n_a"),
                F.col(f"n_{b.lower()}").alias("n_b"),
                F.col(f"d_{a.lower()}{b.lower()}").alias("d_num"),
            )
            for a, b in _KS_PAIRS
        ]
    )
    return (
        d.select(F.explode(pair_structs).alias("p"))
        .select("p.*")
        .withColumn(
            # try_divide, not /: with a group entirely absent (a
            # status column nulled by a bad upstream job) n_a*n_b is
            # 0 and the KS statistic is undefined — NULL, exactly
            # what DuckDB's double division by zero returns, so the
            # engines agree on degenerate input too (ANSI / raises).
            "ks_stat",
            F.try_divide(
                F.col("d_num").cast("double"),
                (F.col("n_a") * F.col("n_b")).cast("double"),
            ),
        )
    )


# --- linear interpolation between sparse anchors -------------------------


@query(
    "time_interpolate",
    oracle="""
    WITH f AS (
      SELECT event_id, user_id, event_type,
             epoch_us(ts) AS t,
             CASE WHEN event_type = 'purchase' THEN value END AS av
      FROM events
    ), b AS (
      SELECT event_id, user_id, event_type, t,
             last_value(av IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN av IS NOT NULL THEN t END IGNORE NULLS)
               OVER (
               PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(av IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN av IS NOT NULL THEN t END IGNORE NULLS)
               OVER (
               PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM f
    )
    SELECT event_id, user_id, event_type,
           CASE WHEN pt IS NULL OR nt IS NULL THEN NULL
                WHEN nt = pt THEN pv
                ELSE pv + (nv - pv) *
                     (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
           END AS interp_value
    FROM b
    """,
)
def time_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20: linear interpolation between sparse anchor observations —
    every event gets the straight-line estimate of the user's
    purchase `value` at its timestamp (NULL outside the first/last
    anchor; anchors reproduce their own value via the nt==pt branch,
    so no special-casing). The resampling sibling of `win_locf`'s
    step fill.

    Exactness: timestamps become INTEGER microseconds before any
    arithmetic; the interpolation expression is the identical IEEE
    tree on both engines (one int-difference ratio, one multiply, one
    add — no transcendentals). Scale: two window passes over the
    same (user_id) shuffle — Spark computes all four
    last/first-ignorenulls frames in ONE WindowExec each direction;
    no join, no second shuffle, anchors never leave their partition.
    """
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("t"),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("av"),
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bwd = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    at = F.when(F.col("av").isNotNull(), F.col("t"))
    b = (
        ev.withColumn("pv", F.last("av", ignorenulls=True).over(fwd))
        .withColumn("pt", F.last(at, ignorenulls=True).over(fwd))
        .withColumn("nv", F.first("av", ignorenulls=True).over(bwd))
        .withColumn("nt", F.first(at, ignorenulls=True).over(bwd))
    )
    interp = (
        F.when(F.col("pt").isNull() | F.col("nt").isNull(), F.lit(None))
        .when(F.col("nt") == F.col("pt"), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                (F.col("t") - F.col("pt")).cast("double")
                / (F.col("nt") - F.col("pt")).cast("double")
            )
        )
    )
    return b.select(
        "event_id",
        "user_id",
        "event_type",
        interp.cast("double").alias("interp_value"),
    )


# --- multi-source BFS hop distance ---------------------------------------

_BFS_MAX_DEPTH = 8
_BFS_SEED_MOD = 97


# One statement, so the traversal is analyzed once. ``adj`` takes one
# pass over the parent frame; the extra ``(0, NULL)`` row contributes
# only the root's self loop. The explicit null filter makes every
# round's ``adj`` subplan identical (left to inference, the last round's
# differs), so it is built once and reused. Round 1 must still run over
# the self loops: seeding from ``src % mod = 0`` would also seed parent
# ids that are not nodes.
_BFS_ROUNDS = ", ".join(
    f"""s{r} AS (
  SELECT a.dst AS node, MIN(s.dist + a.w) AS dist
  FROM s{r - 1} s JOIN adj a ON s.node = a.src
  GROUP BY a.dst
)"""
    for r in range(1, _BFS_MAX_DEPTH + 1)
)
_BFS_SQL = f"""
WITH adj AS (
  SELECT src, dst, w
  FROM (SELECT node, parent FROM {{p}} UNION ALL SELECT 0L, NULL)
  LATERAL VIEW INLINE(array(
    struct(node AS src, parent AS dst, 1 AS w),
    struct(parent AS src, node AS dst, 1 AS w),
    struct(node AS src, node AS dst,
           IF(node % {_BFS_SEED_MOD} = 0, 0, NULL) AS w)
  )) arc
  WHERE src IS NOT NULL AND dst IS NOT NULL AND w IS NOT NULL
), s0 AS (
  SELECT src AS node, CAST(0 AS BIGINT) AS dist FROM adj WHERE w = 0
), {_BFS_ROUNDS}
SELECT node, dist FROM s{_BFS_MAX_DEPTH}
"""


def bfs_dist(parents: DataFrame) -> DataFrame:
    """Hop distances from the seeds (vertices ≡ 0 mod `_BFS_SEED_MOD`)
    over the undirected graph of a ``(node, parent)`` frame plus the
    root 0; vertices past `_BFS_MAX_DEPTH` hops are absent.

    Min-plus relaxation as one SQL statement: ``adj`` holds both edge
    directions at ``w = 1`` and a ``w = 0`` self loop at each seed, and
    each round keeps ``min(dist + w)`` per far end. After round r the
    state holds the vertices with an r-step walk from a seed, at the
    fewest edges of any such walk; a path of d <= r hops waits r - d
    steps at its seed, so distances are exact.
    """
    return parents.sparkSession.sql(_BFS_SQL, p=parents)


@query(
    "graph_bfs_dist",
    oracle=f"""
    WITH RECURSIVE parents AS (
      SELECT CAST(c_custkey + 1 AS BIGINT) AS node,
             ('0x' || substr(md5(CAST(c_custkey + 1 AS VARCHAR)), 1, 8))
               ::BIGINT % (1 + (c_custkey + 1) // 8) AS parent
      FROM customer
    ), nodes AS (
      SELECT node FROM parents UNION SELECT CAST(0 AS BIGINT)
    ), edges AS (
      SELECT node AS src, parent AS dst FROM parents
      UNION ALL
      SELECT parent AS src, node AS dst FROM parents
    ), bfs AS (
      SELECT node, CAST(0 AS BIGINT) AS dist
      FROM nodes WHERE node % {_BFS_SEED_MOD} = 0
      UNION
      SELECT e.dst, b.dist + 1
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.dist < {_BFS_MAX_DEPTH}
    )
    SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
    FROM bfs GROUP BY node
    """,
)
def graph_bfs_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: multi-source BFS hop distance on an undirected graph — the
    shortest-path traversal the (directed, acyclic) ancestor-closure
    keys never need. Seeds are every node ≡ 0 mod 97; distances are
    capped at {depth} hops (unreached nodes are absent — mirrored in
    the oracle's recursion guard).

    Scale: past the table open, the body launches no job. `bfs_dist`
    states {depth} rounds of min-plus relaxation as one SQL statement,
    analyzed once, so the whole traversal runs in the caller's single
    action. Its edge list scans `customer` once and every round reuses
    it. The plan grows by one join and one aggregate per round,
    bounded by the depth cap, not the data. State rows are (node, dist)
    pairs only, and the integer output is exact under any partitioning.
    """
    return bfs_dist(md5_parent_map(spark, sf_dir))


graph_bfs_dist.__doc__ = graph_bfs_dist.__doc__.format(depth=_BFS_MAX_DEPTH)


# --- deterministic per-group reservoir sample ----------------------------

_RSV_K = 10
_RSV_SALT = "rsv1:"
_RSV_BUCKETS = 32


@query(
    "sample_reservoir",
    oracle=f"""
    SELECT source, doc_id, rk FROM (
      SELECT source, doc_id,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5('{_RSV_SALT}' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS BIGINT) AS rk
      FROM documents)
    WHERE rk <= {_RSV_K}
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L33: deterministic per-group reservoir sample — exactly k docs
    per source, selected by md5 priority (content-hash determinism:
    re-runs, retries, and any partitioning produce the same sample,
    unlike rand()-seeded reservoirs whose draw depends on row visit
    order).

    Implemented as HIERARCHICAL top-k: stage 1 ranks within
    (source, doc_id%{_RSV_BUCKETS}) sub-buckets and keeps k per
    bucket, stage 2 ranks the ≤ k·{_RSV_BUCKETS} survivors per
    source. Same result as one per-source window (min-k by priority
    is associative), but no single window ever sees a whole group —
    the shape that survives a source with 10⁹ documents where
    a per-source window serializes into one reducer per group.
    """
    pri = F.md5(F.concat(F.lit(_RSV_SALT), F.col("doc_id").cast("string")))
    docs = t(spark, sf_dir, "documents").select(
        "source", "doc_id", pri.alias("pri")
    )
    stage1 = (
        docs.withColumn("bkt", F.pmod(F.col("doc_id"), F.lit(_RSV_BUCKETS)))
        .withColumn(
            "rk1",
            F.row_number().over(
                Window.partitionBy("source", "bkt").orderBy("pri", "doc_id")
            ),
        )
        .filter(F.col("rk1") <= _RSV_K)
    )
    return (
        stage1.withColumn(
            "rk",
            F.row_number()
            .over(Window.partitionBy("source").orderBy("pri", "doc_id"))
            .cast("bigint"),
        )
        .filter(F.col("rk") <= _RSV_K)
        .select("source", "doc_id", "rk")
    )


# --- Count-Min Sketch frequency estimation -------------------------------

# Single source of truth lives in operators/sketch.py — the streaming
# mergeability test (cms_stream == batch cells) depends on both paths
# addressing identical cells.
from flirt_consume_spark.operators.sketch import (  # noqa: E402
    CMS_D as _CMS_D,
    CMS_W as _CMS_W,
)
_CMS_PROBE_MOD = 7


def _cms_bucket_sql(row: int, key: str) -> str:
    return (
        f"('0x' || substr(md5('cms{row}:' || CAST({key} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {_CMS_W}"
    )


@query(
    "agg_cms",
    oracle=f"""
    WITH cells AS (
      SELECT r.row_id,
             CASE r.row_id
               {' '.join(f"WHEN {i} THEN {_cms_bucket_sql(i, 'e.user_id')}"
                         for i in range(_CMS_D))}
             END AS bucket,
             COUNT(*) AS cnt
      FROM events e
      CROSS JOIN (SELECT * FROM generate_series(0, {_CMS_D - 1}) g(row_id)) r
      GROUP BY 1, 2
    ), probe AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM events
      WHERE user_id % {_CMS_PROBE_MOD} = 0
      GROUP BY 1
    )
    SELECT p.user_id,
           CAST(MIN(c.cnt) AS BIGINT) AS est_cnt,
           p.exact_cnt,
           MIN(c.cnt) >= p.exact_cnt AS lower_bound_ok
    FROM probe p
    JOIN cells c
      ON c.bucket = CASE c.row_id
           {' '.join(f"WHEN {i} THEN {_cms_bucket_sql(i, 'p.user_id')}"
                     for i in range(_CMS_D))}
         END
    GROUP BY p.user_id, p.exact_cnt
    """,
)
def agg_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28: Count-Min Sketch frequency estimation — the mergeable
    constant-memory sketch for "how often does key k occur?" at
    stream scale. d={d} deterministic md5 hash rows x w={w} buckets
    (w deliberately small here so collisions are REAL and the
    one-sided error actually shows); estimate = min over rows; the
    CMS guarantee est >= exact is deterministic and emitted as a
    pinned boolean per probe key.

    Scale: the sketch build is one hash agg to d·w = {cells} cells —
    CONSTANT size regardless of input rows (the whole point: the
    shuffle carries cell partials, map-side combined, never keys);
    probe estimation broadcasts the {cells}-cell sketch. Deterministic
    md5 bucketing (not Spark's seeded count_min_sketch() binary) is
    what makes the result engine-replayable — DuckDB rebuilds the
    identical sketch in SQL and the driver hash-matches it.
    """
    from flirt_consume_spark.operators.sketch import cms_bucket, cms_cells

    ev = t(spark, sf_dir, "events").select("user_id")
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(_CMS_D)])
    ).alias("row_id")
    # ONE pass over events builds per-user counts; both the sketch and
    # the probe derive from it (guide §2.3 "aggregate before you
    # shuffle" + §5 reuse): the d md5 bucket hashes — the dominant
    # per-row cost — are computed once per DISTINCT user instead of
    # once per raw event row, and the probe's exact counts reuse the
    # same shuffle instead of re-scanning events. Cells are identical:
    # the sketch is Σ over keys of their multiplicities either way.
    user_counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("_n"))
    cells = cms_cells(user_counts, "user_id", _CMS_D, _CMS_W, weight="_n")
    probe = user_counts.filter(
        F.col("user_id") % _CMS_PROBE_MOD == 0
    ).select("user_id", F.col("_n").cast("bigint").alias("exact_cnt"))
    # Explode each probe key into its d (row_id, bucket) addresses so
    # the sketch lookup is a TRUE equi-join on (row_id, bucket) — a
    # hash join against the broadcast cells, not a nested loop over a
    # mixed-side bucket expression.
    probe_cells = probe.select("user_id", "exact_cnt", rows).withColumn(
        "bucket", cms_bucket(F.col("row_id"), F.col("user_id"), _CMS_D, _CMS_W)
    )
    est = (
        probe_cells.join(F.broadcast(cells), ["row_id", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cnt").cast("bigint").alias("est_cnt"))
    )
    return est.select(
        "user_id",
        "est_cnt",
        "exact_cnt",
        (F.col("est_cnt") >= F.col("exact_cnt")).alias("lower_bound_ok"),
    )


agg_cms.__doc__ = agg_cms.__doc__.format(
    d=_CMS_D, w=_CMS_W, cells=_CMS_D * _CMS_W
)


# --- Mann-Whitney U rank test --------------------------------------------


@query(
    "audit_mannwhitney",
    oracle="""
    WITH vc AS (
      SELECT o_totalprice AS v,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_f,
             CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_o,
             CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_p
      FROM orders GROUP BY 1
    ), cum AS (
      SELECT c_f, c_o, c_p,
             SUM(c_f) OVER (ORDER BY v) AS cum_f,
             SUM(c_o) OVER (ORDER BY v) AS cum_o,
             SUM(c_p) OVER (ORDER BY v) AS cum_p
      FROM vc
    ), m AS (
      SELECT
        CAST(SUM(c_f * (2 * ((cum_f - c_f) + (cum_o - c_o))
                        + (c_f + c_o) + 1)) AS BIGINT) AS r2_fo,
        CAST(SUM((c_f + c_o) * (c_f + c_o) * (c_f + c_o) - (c_f + c_o))
             AS BIGINT) AS t_fo,
        CAST(SUM(c_f * (2 * ((cum_f - c_f) + (cum_p - c_p))
                        + (c_f + c_p) + 1)) AS BIGINT) AS r2_fp,
        CAST(SUM((c_f + c_p) * (c_f + c_p) * (c_f + c_p) - (c_f + c_p))
             AS BIGINT) AS t_fp,
        CAST(SUM(c_o * (2 * ((cum_o - c_o) + (cum_p - c_p))
                        + (c_o + c_p) + 1)) AS BIGINT) AS r2_op,
        CAST(SUM((c_o + c_p) * (c_o + c_p) * (c_o + c_p) - (c_o + c_p))
             AS BIGINT) AS t_op,
        CAST(MAX(cum_f) AS BIGINT) AS n_f,
        CAST(MAX(cum_o) AS BIGINT) AS n_o,
        CAST(MAX(cum_p) AS BIGINT) AS n_p
      FROM cum
    )
    SELECT 'F' AS grp_a, 'O' AS grp_b, n_f AS n_a, n_o AS n_b,
           r2_fo - n_f * (n_f + 1) AS u2,
           t_fo AS tie3,
           CAST(r2_fo - n_f * (n_f + 1) - n_f * n_o AS DOUBLE)
           / (2.0 * sqrt(
               (CAST(n_f AS DOUBLE) * CAST(n_o AS DOUBLE) / 12.0)
               * ((CAST(n_f + n_o AS DOUBLE) + 1.0)
                  - CAST(t_fo AS DOUBLE)
                    / (CAST(n_f + n_o AS DOUBLE)
                       * (CAST(n_f + n_o AS DOUBLE) - 1.0))))) AS z,
           CAST(r2_fo - n_f * (n_f + 1) AS DOUBLE)
           / (CAST(n_f AS DOUBLE) * CAST(n_o AS DOUBLE)) - 1.0
             AS rank_biserial
    FROM m
    UNION ALL
    SELECT 'F', 'P', n_f, n_p,
           r2_fp - n_f * (n_f + 1), t_fp,
           CAST(r2_fp - n_f * (n_f + 1) - n_f * n_p AS DOUBLE)
           / (2.0 * sqrt(
               (CAST(n_f AS DOUBLE) * CAST(n_p AS DOUBLE) / 12.0)
               * ((CAST(n_f + n_p AS DOUBLE) + 1.0)
                  - CAST(t_fp AS DOUBLE)
                    / (CAST(n_f + n_p AS DOUBLE)
                       * (CAST(n_f + n_p AS DOUBLE) - 1.0))))),
           CAST(r2_fp - n_f * (n_f + 1) AS DOUBLE)
           / (CAST(n_f AS DOUBLE) * CAST(n_p AS DOUBLE)) - 1.0
    FROM m
    UNION ALL
    SELECT 'O', 'P', n_o, n_p,
           r2_op - n_o * (n_o + 1), t_op,
           CAST(r2_op - n_o * (n_o + 1) - n_o * n_p AS DOUBLE)
           / (2.0 * sqrt(
               (CAST(n_o AS DOUBLE) * CAST(n_p AS DOUBLE) / 12.0)
               * ((CAST(n_o + n_p AS DOUBLE) + 1.0)
                  - CAST(t_op AS DOUBLE)
                    / (CAST(n_o + n_p AS DOUBLE)
                       * (CAST(n_o + n_p AS DOUBLE) - 1.0))))),
           CAST(r2_op - n_o * (n_o + 1) AS DOUBLE)
           / (CAST(n_o AS DOUBLE) * CAST(n_p AS DOUBLE)) - 1.0
    FROM m
    """,
)
def audit_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16: Mann-Whitney U rank test between every pair of
    order-status groups over o_totalprice — the nonparametric "did
    the distribution shift?" companion to audit_ks's ECDF distance,
    with the tie-corrected normal approximation z and the
    rank-biserial effect size.

    Exactness: midranks never materialize as fractions — for a value
    with c_a+c_b pooled ties after ``tot_before`` pooled smaller
    rows, DOUBLED midrank = 2·tot_before + (c_a+c_b) + 1 is an
    integer, so the doubled rank sum 2R_A, the doubled statistic
    u2 = 2U_A, and the tie term Σ(t³−t) are all exact BIGINTs; z and
    the effect size are fixed IEEE trees over them (sqrt is
    correctly-rounded hardware, not libm). Pair ranks pool ONLY the
    two groups involved: per-pair prefix counts are derived from the
    same three shared cumulative counters, so all three tests still
    ride ONE multi-counter ``global_cumsum`` (one range shuffle
    total) exactly like audit_ks. At 100 TB: two shuffles (value
    agg + range cumsum), constant-size tail. t³ products lift to
    DECIMAL(38) if per-value tie groups ever approach 2^21 rows."""
    cum = _status_ecdf(spark, sf_dir)

    def r2(a: str, b: str):
        ca, cb = F.col(f"c_{a}"), F.col(f"c_{b}")
        pa, pb = F.col(f"cum_{a}") - ca, F.col(f"cum_{b}") - cb
        return F.sum(ca * (2 * (pa + pb) + (ca + cb) + 1)).cast("bigint")

    def tie3(a: str, b: str):
        tt = F.col(f"c_{a}") + F.col(f"c_{b}")
        return F.sum(tt * tt * tt - tt).cast("bigint")

    pairs = [("f", "o"), ("f", "p"), ("o", "p")]
    m = cum.groupBy().agg(
        *[r2(a, b).alias(f"r2_{a}{b}") for a, b in pairs],
        *[tie3(a, b).alias(f"t_{a}{b}") for a, b in pairs],
        *[
            F.max(f"cum_{s}").cast("bigint").alias(f"n_{s}")
            for s in ("f", "o", "p")
        ],
    )
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(a.upper()).alias("grp_a"),
                F.lit(b.upper()).alias("grp_b"),
                F.col(f"n_{a}").alias("n_a"),
                F.col(f"n_{b}").alias("n_b"),
                (
                    F.col(f"r2_{a}{b}") - F.col(f"n_{a}") * (F.col(f"n_{a}") + 1)
                ).alias("u2"),
                F.col(f"t_{a}{b}").alias("tie3"),
            )
            for a, b in pairs
        ]
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n_tot = (F.col("n_a") + F.col("n_b")).cast("double")
    # try_divide throughout the statistic tail: an absent group
    # (n_a or n_b = 0, or a 1-row pool making n_tot·(n_tot−1) = 0)
    # leaves U/z/effect-size undefined — NULL, matching DuckDB's
    # division-by-zero NULL; bit-identical to / on non-degenerate
    # groups, so the sf-gates are unaffected.
    z = F.try_divide(
        (F.col("u2") - F.col("n_a") * F.col("n_b")).cast("double"),
        F.lit(2.0)
        * F.sqrt(
            (d("n_a") * d("n_b") / F.lit(12.0))
            * (
                (n_tot + F.lit(1.0))
                - F.try_divide(d("tie3"), n_tot * (n_tot - F.lit(1.0)))
            )
        ),
    )
    rb = F.try_divide(d("u2"), d("n_a") * d("n_b")) - F.lit(1.0)
    return (
        m.select(F.explode(pair_structs).alias("p"))
        .select("p.*")
        .withColumn("z", z)
        .withColumn("rank_biserial", rb)
    )


# --- Welch's t-test -------------------------------------------------------


@query(
    "audit_ttest",
    oracle="""
    WITH m AS (
      SELECT
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_f,
        CAST(SUM(CASE WHEN o_orderstatus = 'F'
                      THEN CAST(floor(o_totalprice) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS s1_f,
        CAST(SUM(CASE WHEN o_orderstatus = 'F'
                      THEN CAST(floor(o_totalprice) AS BIGINT)
                           * CAST(floor(o_totalprice) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS s2_f,
        CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_o,
        CAST(SUM(CASE WHEN o_orderstatus = 'O'
                      THEN CAST(floor(o_totalprice) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS s1_o,
        CAST(SUM(CASE WHEN o_orderstatus = 'O'
                      THEN CAST(floor(o_totalprice) AS BIGINT)
                           * CAST(floor(o_totalprice) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS s2_o,
        CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_p,
        CAST(SUM(CASE WHEN o_orderstatus = 'P'
                      THEN CAST(floor(o_totalprice) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS s1_p,
        CAST(SUM(CASE WHEN o_orderstatus = 'P'
                      THEN CAST(floor(o_totalprice) AS BIGINT)
                           * CAST(floor(o_totalprice) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS s2_p
      FROM orders
    ), pairs AS (
      SELECT 'F' AS grp_a, 'O' AS grp_b,
             n_f AS n_a, n_o AS n_b, s1_f AS s1_a, s1_o AS s1_b,
             s2_f AS s2_a, s2_o AS s2_b FROM m
      UNION ALL
      SELECT 'F', 'P', n_f, n_p, s1_f, s1_p, s2_f, s2_p FROM m
      UNION ALL
      SELECT 'O', 'P', n_o, n_p, s1_o, s1_p, s2_o, s2_p FROM m
    )
    SELECT grp_a, grp_b, n_a, n_b,
           CAST(s1_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(s1_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_diff_units,
           (CAST(s1_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(s1_b AS DOUBLE) / CAST(n_b AS DOUBLE))
           / sqrt(
               (CAST(n_a AS DOUBLE) * CAST(s2_a AS DOUBLE)
                 - CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE))
                 / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
                 / CAST(n_a AS DOUBLE)
               + (CAST(n_b AS DOUBLE) * CAST(s2_b AS DOUBLE)
                 - CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE))
                 / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
                 / CAST(n_b AS DOUBLE)
             ) AS t_stat,
           ((CAST(n_a AS DOUBLE) * CAST(s2_a AS DOUBLE)
                 - CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE))
              / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
              / CAST(n_a AS DOUBLE)
            + (CAST(n_b AS DOUBLE) * CAST(s2_b AS DOUBLE)
                 - CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE))
              / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
              / CAST(n_b AS DOUBLE))
           * ((CAST(n_a AS DOUBLE) * CAST(s2_a AS DOUBLE)
                 - CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE))
                / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
                / CAST(n_a AS DOUBLE)
              + (CAST(n_b AS DOUBLE) * CAST(s2_b AS DOUBLE)
                 - CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE))
                / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
                / CAST(n_b AS DOUBLE))
           / (((CAST(n_a AS DOUBLE) * CAST(s2_a AS DOUBLE)
                 - CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE))
                 / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
                 / CAST(n_a AS DOUBLE))
              * ((CAST(n_a AS DOUBLE) * CAST(s2_a AS DOUBLE)
                 - CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE))
                   / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
                   / CAST(n_a AS DOUBLE))
              / (CAST(n_a AS DOUBLE) - 1.0)
              + ((CAST(n_b AS DOUBLE) * CAST(s2_b AS DOUBLE)
                 - CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE))
                   / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
                   / CAST(n_b AS DOUBLE))
                * ((CAST(n_b AS DOUBLE) * CAST(s2_b AS DOUBLE)
                 - CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE))
                     / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
                     / CAST(n_b AS DOUBLE))
                / (CAST(n_b AS DOUBLE) - 1.0)) AS welch_df
    FROM pairs
    """,
)
def audit_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: Welch's unequal-variance t-test between every pair of
    order-status groups over o_totalprice (whole-unit grid) — the
    parametric companion to audit_mannwhitney, with the
    Welch-Satterthwaite degrees of freedom.

    Exactness: prices quantize to exact integers (floor to whole
    units — cents would push Σx² past 2^63 already at sf0.01); the
    per-group (n, Σx, Σx²) fold in ONE pass over orders (conditional
    sums — no per-group shuffle, 1 counter row) and are exact
    BIGINTs. The variance numerator n·Σx²−(Σx)² is evaluated in
    DOUBLE (at sf0.1 (Σx)² already exceeds 2⁶³; the subtraction has
    no catastrophic cancellation here because var/mean² is O(1) for
    this distribution), and t/df are fixed IEEE trees spelled
    identically on both engines so every intermediate rounds the
    same way. Scale: one map-combinable global agg — nothing
    downstream is data-sized. The Σx² SUM itself lifts to
    DECIMAL(38) if a group's squared price mass approaches 2^63."""
    od = t(spark, sf_dir, "orders")
    units = F.floor(F.col("o_totalprice")).cast("bigint")
    aggs = []
    for s in ("F", "O", "P"):
        is_s = F.col("o_orderstatus") == s
        lo = s.lower()
        aggs += [
            F.sum(F.when(is_s, 1).otherwise(0)).cast("bigint").alias(f"n_{lo}"),
            F.sum(F.when(is_s, units).otherwise(0))
            .cast("bigint")
            .alias(f"s1_{lo}"),
            F.sum(F.when(is_s, units * units).otherwise(0))
            .cast("bigint")
            .alias(f"s2_{lo}"),
        ]
    m = od.agg(*aggs)
    pairs = [("f", "o"), ("f", "p"), ("o", "p")]
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(a.upper()).alias("grp_a"),
                F.lit(b.upper()).alias("grp_b"),
                F.col(f"n_{a}").alias("n_a"),
                F.col(f"n_{b}").alias("n_b"),
                F.col(f"s1_{a}").alias("s1_a"),
                F.col(f"s1_{b}").alias("s1_b"),
                F.col(f"s2_{a}").alias("s2_a"),
                F.col(f"s2_{b}").alias("s2_b"),
            )
            for a, b in pairs
        ]
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731

    # try_divide throughout: a group with n ≤ 1 (absent status, or a
    # one-row table) has an undefined sample variance, and two
    # zero-variance groups make t undefined — NULL in every case,
    # matching DuckDB's division-by-zero NULL; bit-identical to /
    # whenever the denominators are non-zero.
    def sem(side: str):
        n, s1, s2 = f"n_{side}", f"s1_{side}", f"s2_{side}"
        return F.try_divide(
            F.try_divide(
                d(n) * d(s2) - d(s1) * d(s1),
                d(n) * (d(n) - F.lit(1.0)),
            ),
            d(n),
        )

    mean_diff = F.try_divide(d("s1_a"), d("n_a")) - F.try_divide(
        d("s1_b"), d("n_b")
    )
    va, vb = sem("a"), sem("b")
    t_stat = F.try_divide(mean_diff, F.sqrt(va + vb))
    df = F.try_divide(
        (va + vb) * (va + vb),
        F.try_divide(va * va, d("n_a") - F.lit(1.0))
        + F.try_divide(vb * vb, d("n_b") - F.lit(1.0)),
    )
    return (
        m.select(F.explode(pair_structs).alias("p"))
        .select("p.*")
        .select(
            "grp_a",
            "grp_b",
            "n_a",
            "n_b",
            mean_diff.alias("mean_diff_units"),
            t_stat.alias("t_stat"),
            df.alias("welch_df"),
        )
    )


# --- Kaplan-Meier survival curve -----------------------------------------


@query(
    "time_survival",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(MIN(ts) AS DATE) AS d0,
             CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                  AS DATE) AS dp,
             CAST(MAX(ts) AS DATE) AS dmax
      FROM events GROUP BY 1
    ), dur AS (
      SELECT user_id,
             CASE WHEN dp IS NOT NULL
                  THEN CAST(date_diff('day', d0, dp) AS BIGINT)
                  ELSE CAST(date_diff('day', d0, dmax) AS BIGINT)
             END AS dur,
             CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user
    ), byd AS (
      SELECT dur, CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(ev) AS BIGINT) AS d_events
      FROM dur GROUP BY 1
    ), cum AS (
      SELECT dur, n_total, d_events,
             CAST(SUM(n_total) OVER (ORDER BY dur) AS BIGINT) AS cum_n
      FROM byd
    ), tot AS (SELECT CAST(MAX(cum_n) AS BIGINT) AS n FROM cum),
    curve AS (
      SELECT dur, d_events,
             n - (cum_n - n_total) AS n_at_risk
      FROM cum, tot WHERE d_events > 0
    ), packed AS (
      SELECT list(
               {'dur': dur, 'd': d_events, 'n': n_at_risk} ORDER BY dur
             ) AS a
      FROM curve
    ), ex AS (
      SELECT unnest(a) AS s, generate_subscripts(a, 1) AS i, a
      FROM packed
    )
    SELECT s.dur AS dur_days, s.d AS d_events, s.n AS n_at_risk,
           CAST(s.n - s.d AS DOUBLE) / CAST(s.n AS DOUBLE) AS step_factor,
           list_reduce(
             list_transform(a[1:i],
               x -> CAST(x.n - x.d AS DOUBLE) / CAST(x.n AS DOUBLE)),
             (acc, x) -> acc * x
           ) AS survival
    FROM ex
    """,
)
def time_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23: Kaplan-Meier survival curve — time from a user's first
    event to first purchase, right-censored at their last observed
    event: Ŝ(t) = Π_{t_i ≤ t} (1 − d_i/n_i), the standard
    time-to-conversion estimator under incomplete observation.

    Exactness: durations are integer DAYS, the at-risk counts come
    from integer cumulative sums, each step factor is one division of
    exact BIGINTs, and the cumulative product is a SEQUENTIAL
    LEFT-TO-RIGHT fold over the ascending-time factor list on BOTH
    engines (Spark ``F.aggregate`` over a sorted array / DuckDB
    ``list_reduce`` over an ORDER BY list — same association, so the
    IEEE product is bit-identical; a windowed product's internal
    order would be implementation-defined). Scale: per-user fold +
    per-day agg are map-combinable hash aggs; the curve itself is
    BOUNDED (one row per distinct whole-day event duration), so the
    packed-array prefix fold is O(T²) over a constant-size table —
    the data-sized stages are two aggregations, nothing more. The
    ascending cumulative for at-risk counts is n_total's prefix sum,
    computed in-row on the packed bounded array (r12)."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts")).cast(
                "date"
            )
        ).alias("dp"),
        F.max(F.col("ts").cast("date")).alias("dmax"),
    )
    dur = per_user.select(
        F.when(
            F.col("dp").isNotNull(), F.datediff("dp", "d0")
        )
        .otherwise(F.datediff("dmax", "d0"))
        .cast("bigint")
        .alias("dur"),
        F.when(F.col("dp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    byd = dur.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("ev").cast("bigint").alias("d_events"),
    )
    # The per-day curve is BOUNDED (one row per distinct whole-day
    # duration) and the plan already collects it into one packed array
    # for the prefix product — so the at-risk prefix sums are computed
    # IN-ROW on that same sorted array instead of running the full
    # global_cumsum machinery (range shuffle + window +
    # offset broadcasts) plus a max-probe and cross join over a
    # few-hundred-row frame (r12 session 5). Integer adds in a fixed
    # left fold: exact, same values as the distributed prefix sum.
    packed = byd.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("dur", "n_total", "d_events"))
        ).alias("_b")
    )
    # n_at_risk(i) = N − cum_n(i) + n_total(i), with N = Σ n_total and
    # cum_n(i) the ascending-dur prefix sum INCLUDING row i.
    curve_arr = F.expr(
        "filter("
        "  transform(_b, (x, i) -> struct("
        "    x.dur AS dur,"
        "    x.d_events AS d,"
        "    aggregate(_b, 0L, (a, y) -> a + y.n_total)"
        "      - aggregate(slice(_b, 1, i + 1), 0L, (a, y) -> a + y.n_total)"
        "      + x.n_total AS n)),"
        "  s -> s.d > 0)"
    )
    packed = packed.select(curve_arr.alias("a"))
    factor = lambda x: (x["n"] - x["d"]).cast("double") / x["n"].cast(  # noqa: E731
        "double"
    )
    ex = packed.select(F.col("a"), F.posexplode("a").alias("i", "s"))
    return ex.select(
        F.col("s.dur").alias("dur_days"),
        F.col("s.d").alias("d_events"),
        F.col("s.n").alias("n_at_risk"),
        ((F.col("s.n") - F.col("s.d")).cast("double") / F.col("s.n").cast("double"))
        .alias("step_factor"),
        F.aggregate(
            F.transform(
                F.slice(F.col("a"), F.lit(1), F.col("i") + 1), factor
            ),
            F.lit(1.0),
            lambda acc, x: acc * x,
        ).alias("survival"),
    )


# --- Holt double-exponential smoothing -----------------------------------


@query(
    "time_holt",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             value AS x
      FROM events
    ), nn AS (
      SELECT user_id, CAST(MAX(rn) AS BIGINT) AS n FROM seq GROUP BY 1
    ), rec AS (
      SELECT user_id, rn, x AS l, CAST(0.0 AS DOUBLE) AS b
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn,
             0.5 * s.x + 0.5 * (r.l + r.b),
             0.5 * ((0.5 * s.x + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
      FROM rec r JOIN seq s
        ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT rec.user_id, n, l AS level, b AS trend,
           l + b AS forecast_1
    FROM rec JOIN nn ON nn.user_id = rec.user_id
    WHERE rn = n
    """,
)
def time_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24: Holt double-exponential smoothing (level + trend,
    α=β=1/2) folded over each user's event-value series, emitting the
    final state and the one-step-ahead forecast — the genuinely
    RECURSIVE time-series op (each state depends on the previous
    one; unlike win_ewma there is no closed form to unroll).

    Exactness: α=β=1/2 makes every smoothing multiplier exactly
    representable, and both engines execute the IDENTICAL sequence
    of IEEE ops in series order — Spark as a left fold
    (``F.aggregate`` with a struct accumulator over the per-user
    sorted array) and DuckDB as a recursive CTE stepping rn → rn+1 —
    so the final (level, trend) match bit-for-bit. Scale: one hash
    agg packs each user's BOUNDED history (collect_list keyed by the
    high-cardinality user id — embarrassingly parallel, no window,
    no cross-user state); the fold runs inside codegen per row. The
    oracle's recursive join is the same recurrence spelled
    relationally."""
    ev = t(spark, sf_dir, "events")
    arr = (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("us"),
                        F.col("event_id").alias("eid"),
                        F.col("value").alias("x"),
                    )
                )
            ).alias("sarr")
        )
        .select(
            "user_id",
            F.expr("transform(sarr, s -> s.x)").alias("xs"),
        )
    )
    new_l = "0.5 * x + 0.5 * (acc.l + acc.b)"
    # The zero's 'b' field must be NULLABLE: aggregate() takes the
    # accumulator schema (including nullability) from the zero
    # expression, and a non-nullable CAST(0.0 AS DOUBLE) makes Spark
    # store a NULL step result as 0.0 (the unsafe-row write into a
    # declared-non-null slot) — measured on an all-NULL value series:
    # the raw step expression is NULL but the fold emitted b = 0.0.
    # if(size(xs) >= 0, ...) is always-true yet not constant-foldable,
    # so the literal survives with nullable = true and NULL x values
    # propagate through the recurrence exactly as in the oracle.
    fold = F.expr(
        f"""aggregate(
              slice(xs, 2, greatest(size(xs) - 1, 0)),
              named_struct('l', xs[0],
                           'b', if(size(xs) >= 0, CAST(0.0 AS DOUBLE),
                                   CAST(NULL AS DOUBLE))),
              (acc, x) -> named_struct(
                'l', {new_l},
                'b', 0.5 * (({new_l}) - acc.l) + 0.5 * acc.b
              )
            )"""
    )
    return arr.select(
        "user_id",
        F.size("xs").cast("bigint").alias("n"),
        fold.alias("_st"),
    ).select(
        "user_id",
        "n",
        F.col("_st.l").alias("level"),
        F.col("_st.b").alias("trend"),
        (F.col("_st.l") + F.col("_st.b")).alias("forecast_1"),
    )


# --- local-level Kalman filter -------------------------------------------


@query(
    "time_kalman",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             value AS x
      FROM events
    ), nn AS (
      SELECT user_id, CAST(MAX(rn) AS BIGINT) AS n FROM seq GROUP BY 1
    ), rec AS (
      SELECT user_id, rn, x AS m, CAST(1.0 AS DOUBLE) AS p
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn,
             r.m + ((r.p + 1.0) / (r.p + 2.0)) * (s.x - r.m),
             (1.0 - ((r.p + 1.0) / (r.p + 2.0))) * (r.p + 1.0)
      FROM rec r JOIN seq s
        ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT rec.user_id, n, m AS state_mean, p AS state_var
    FROM rec JOIN nn ON nn.user_id = rec.user_id
    WHERE rn = n
    """,
)
def time_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E25: 1-D local-level Kalman filter (process noise q=1,
    observation noise r=1) over each user's event-value series — the
    optimal online denoiser for a drifting level, and with time_holt
    the second member of the genuinely-recursive smoother family
    (gain and variance both depend on the previous step; no closed
    form).

    Per step: predict p⁻ = p+q; gain k = p⁻/(p⁻+r); m += k(x−m);
    p = (1−k)p⁻. The gain expression is spelled ONCE and reused
    verbatim in both update lines on both engines, so every IEEE
    intermediate is shared and the final (mean, variance) match
    bit-for-bit — Spark folds the per-user sorted array in codegen,
    the oracle steps the identical recurrence as a recursive CTE.
    Scale story identical to time_holt: one user-keyed hash agg,
    bounded per-user history, zero cross-user state."""
    ev = t(spark, sf_dir, "events")
    arr = (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("us"),
                        F.col("event_id").alias("eid"),
                        F.col("value").alias("x"),
                    )
                )
            ).alias("sarr")
        )
        .select("user_id", F.expr("transform(sarr, s -> s.x)").alias("xs"))
    )
    gain = "((acc.p + 1.0) / (acc.p + 2.0))"
    fold = F.expr(
        f"""aggregate(
              slice(xs, 2, greatest(size(xs) - 1, 0)),
              named_struct('m', xs[0], 'p', CAST(1.0 AS DOUBLE)),
              (acc, x) -> named_struct(
                'm', acc.m + {gain} * (x - acc.m),
                'p', (1.0 - {gain}) * (acc.p + 1.0)
              )
            )"""
    )
    return arr.select(
        "user_id",
        F.size("xs").cast("bigint").alias("n"),
        fold.alias("_st"),
    ).select(
        "user_id",
        "n",
        F.col("_st.m").alias("state_mean"),
        F.col("_st.p").alias("state_var"),
    )


# --- lead-lag cross-correlation ------------------------------------------


@query(
    "time_crosscorr",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ), lags AS (
      SELECT unnest(generate_series(-3, 3)) AS lag
    ), paired AS (
      SELECT l.lag, a.x, b.y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d + CAST(l.lag AS INTEGER)
    ), m AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM paired GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag, n, sx, sy,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS xcorr
    FROM m
    WHERE n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def time_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E26: lead-lag cross-correlation — corr(view volume on day d,
    purchase volume on day d+L) for L ∈ [−3, 3], the screening stat
    for "does one series LEAD the other?" before any causal analysis
    (time_autocorr's two-series sibling).

    The event stream collapses to its daily two-counter table FIRST
    (one hash agg — the series length is bounded by the calendar, so
    everything after is constant-size); the 7 lags come from a
    broadcast explode joined back on shifted dates, and each lag's
    Pearson r uses the exact-BIGINT moment recipe (counts are
    integers; the only non-arithmetic op is IEEE sqrt). Degenerate
    (constant) series are excluded by the exact integer variance
    numerators. Nothing after the first agg is data-sized."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    b = daily.select(F.col("d").alias("d2"), F.col("y").alias("y2"))
    paired = (
        daily.crossJoin(F.broadcast(lags))
        .join(b, F.expr("d2 = date_add(d, lag)"))
        .select("lag", "x", F.col("y2").alias("y"))
    )
    m = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        F.sqrt(d("n") * d("sxx") - d("sx") * d("sx"))
        * F.sqrt(d("n") * d("syy") - d("sy") * d("sy"))
    )
    return (
        m.filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
        )
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            "n",
            "sx",
            "sy",
            r.alias("xcorr"),
        )
    )


# --- Viterbi burst decoding ----------------------------------------------

# Two-state gap model tuned to the fixture's inter-event cadence
# (gap deciles ~4.1e3 .. 9.0e4 s): slow ≈ a day apart (50000 s) vs
# fast / burst ≈ an hour apart (5000 s), switch penalty 20000. All
# costs are integer seconds, so the whole DP is exact integer
# arithmetic and both states genuinely appear in the decoded paths.
_VIT_GS = 50_000
_VIT_GF = 5_000
_VIT_SW = 20_000


@query(
    "time_viterbi",
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             epoch_us(ts) // 1000000 AS t
      FROM events
    ), gaps AS (
      SELECT a.user_id, a.rn AS gn, b.t - a.t AS g
      FROM seq a JOIN seq b
        ON b.user_id = a.user_id AND b.rn = a.rn + 1
    ), nn AS (
      SELECT user_id, CAST(MAX(gn) AS BIGINT) AS n FROM gaps GROUP BY 1
    ), rec AS (
      SELECT user_id, gn,
             abs(g - {_VIT_GS}) AS cs, abs(g - {_VIT_GF}) AS cf,
             'S' AS ps, 'F' AS pf
      FROM gaps WHERE gn = 1
      UNION ALL
      SELECT g2.user_id, g2.gn,
             LEAST(r.cs, r.cf + {_VIT_SW}) + abs(g2.g - {_VIT_GS}),
             LEAST(r.cf, r.cs + {_VIT_SW}) + abs(g2.g - {_VIT_GF}),
             CASE WHEN r.cs <= r.cf + {_VIT_SW}
                  THEN r.ps || 'S' ELSE r.pf || 'S' END,
             CASE WHEN r.cf <= r.cs + {_VIT_SW}
                  THEN r.pf || 'F' ELSE r.ps || 'F' END
      FROM rec r JOIN gaps g2
        ON g2.user_id = r.user_id AND g2.gn = r.gn + 1
    )
    SELECT rec.user_id, n AS n_gaps,
           CASE WHEN cs <= cf THEN cs ELSE cf END AS cost,
           CASE WHEN cs <= cf THEN ps ELSE pf END AS path,
           CAST(CASE WHEN (CASE WHEN cs <= cf THEN ps ELSE pf END)
                          LIKE 'F%' THEN 1 ELSE 0 END
                + length(CASE WHEN cs <= cf THEN ps ELSE pf END)
                - length(replace(CASE WHEN cs <= cf THEN ps ELSE pf END,
                                 'SF', 'x'))
                AS BIGINT) AS n_bursts
    FROM rec JOIN nn ON nn.user_id = rec.user_id
    WHERE gn = n
    """,
)
def time_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E27: Viterbi decoding — the exact min-cost state path of a
    two-state burst model (slow ≈600 s gaps vs fast ≈60 s, switch
    penalty 300) over each user's inter-event gaps: the optimal
    burst segmentation, not a heuristic threshold. Completes the
    recursion family (survival → Holt → Kalman → full DP with
    BACKTRACKING): both candidate paths travel WITH the fold, so no
    backward pass is needed.

    Everything is integer: gaps are whole epoch seconds, emission
    costs are absolute differences, the DP recurrence is LEAST over
    integer sums, and ties break deterministically toward staying
    (<=). Spark folds each user's gap array in codegen (struct
    accumulator carrying both running costs and both candidate path
    strings); the oracle steps the identical recurrence as a
    recursive CTE. Scale: one user-keyed window for gaps + one hash
    agg to pack; per-user history is bounded, state is O(history)
    for the carried paths — the documented trade for single-pass
    backtracking (cost-only decoding would be O(1) state)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            (F.unix_micros(F.col("ts")) / 1_000_000).cast("long").alias("t"),
            (
                F.lead((F.unix_micros(F.col("ts")) / 1_000_000).cast("long"))
                .over(w)
            ).alias("t2"),
        )
        .filter(F.col("t2").isNotNull())
        .select("user_id", (F.col("t2") - F.col("t")).alias("g"))
    )
    arr = gaps.groupBy("user_id").agg(
        F.collect_list("g").alias("_raw"),
    )
    # collect_list order is nondeterministic across partitions; rebuild
    # deterministically: sort events per user, diff adjacent — done in
    # the window above, but pack in order via sort_array over (ts,eid)
    arr = (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.expr("unix_micros(ts) div 1000000").alias("t"),
                        F.col("event_id").alias("eid"),
                    )
                )
            ).alias("sarr")
        )
        .select(
            "user_id",
            # 0-based bracket indexing: slice element i is original
            # element i+1, so its predecessor is sarr[i].
            F.expr(
                "transform(slice(sarr, 2, greatest(size(sarr) - 1, 0)), "
                "(s, i) -> s.t - sarr[i].t)"
            ).alias("gs"),
        )
        .filter(F.size("gs") >= 1)
    )
    step = (
        f"named_struct("
        f"'cs', least(acc.cs, acc.cf + {_VIT_SW}) + abs(g - {_VIT_GS}L), "
        f"'cf', least(acc.cf, acc.cs + {_VIT_SW}) + abs(g - {_VIT_GF}L), "
        f"'ps', CASE WHEN acc.cs <= acc.cf + {_VIT_SW} "
        f"THEN concat(acc.ps, 'S') ELSE concat(acc.pf, 'S') END, "
        f"'pf', CASE WHEN acc.cf <= acc.cs + {_VIT_SW} "
        f"THEN concat(acc.pf, 'F') ELSE concat(acc.ps, 'F') END)"
    )
    fold = F.expr(
        f"""aggregate(
              slice(gs, 2, greatest(size(gs) - 1, 0)),
              named_struct(
                'cs', abs(gs[0] - {_VIT_GS}L),
                'cf', abs(gs[0] - {_VIT_GF}L),
                'ps', 'S', 'pf', 'F'),
              (acc, g) -> {step}
            )"""
    )
    out = arr.select(
        "user_id",
        F.size("gs").cast("bigint").alias("n_gaps"),
        fold.alias("_v"),
    )
    best_path = F.when(
        F.col("_v.cs") <= F.col("_v.cf"), F.col("_v.ps")
    ).otherwise(F.col("_v.pf"))
    return out.select(
        "user_id",
        "n_gaps",
        F.when(F.col("_v.cs") <= F.col("_v.cf"), F.col("_v.cs"))
        .otherwise(F.col("_v.cf"))
        .cast("bigint")
        .alias("cost"),
        best_path.alias("path"),
        (
            best_path.startswith("F").cast("int")
            + F.length(best_path)
            - F.length(F.replace(best_path, F.lit("SF"), F.lit("x")))
        )
        .cast("bigint")
        .alias("n_bursts"),
    )
