"""Robust-statistics and bidirectional-temporal operators:
nearest-direction as-of join and MAD-based outlier detection.

`join_asof_nearest` completes the as-of family (J6 backward, J6b
forward): pandas' merge_asof(direction='nearest'), composed from the
two single-shuffle union+running-scan directions already in
operators/temporal.py — never a probe×version pair join.
`agg_mad_outliers` is the robust (median / median-absolute-deviation)
outlier detector — the screen quality pipelines run where mean/stddev
would be dragged by the very outliers being hunted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flirt_consume_spark.operators import temporal as T
from flirt_consume_spark.queries.base import query, t


@query(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT user_id, event_id, ts, epoch_us(ts) AS t_us
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, event_id AS click_id, ts, epoch_us(ts) AS c_us
          FROM events WHERE event_type = 'click'),
    back AS (
      SELECT * FROM (
        SELECT p.event_id, c.click_id, c.c_us,
               row_number() OVER (PARTITION BY p.event_id
                 ORDER BY c.ts DESC, c.click_id DESC) AS rn
        FROM p JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts)
      WHERE rn = 1),
    fwd AS (
      SELECT * FROM (
        SELECT p.event_id, c.click_id, c.c_us,
               row_number() OVER (PARTITION BY p.event_id
                 ORDER BY c.ts ASC, c.click_id ASC) AS rn
        FROM p JOIN c ON c.user_id = p.user_id AND c.ts >= p.ts)
      WHERE rn = 1)
    SELECT p.user_id, p.event_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           CASE WHEN b.click_id IS NOT NULL
                 AND (f.click_id IS NULL
                      OR p.t_us - b.c_us <= f.c_us - p.t_us)
                THEN b.click_id ELSE f.click_id END AS click_id,
           CASE WHEN b.click_id IS NOT NULL
                 AND (f.click_id IS NULL
                      OR p.t_us - b.c_us <= f.c_us - p.t_us)
                THEN p.t_us - b.c_us ELSE f.c_us - p.t_us END AS gap_us
    FROM p
    LEFT JOIN back b ON b.event_id = p.event_id
    LEFT JOIN fwd f ON f.event_id = p.event_id
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6c: NEAREST as-of join (pandas merge_asof direction=
    'nearest') — each purchase matched to the click closest in time
    for the same user, either direction, ties to the backward match.
    Composed from the backward + forward single-shuffle running-scan
    as-of operators and a per-probe gap comparison: two shuffles on
    the same user_id key, zero pair explosion — the oracle's
    join+rank form would materialize probe×version pairs at scale.
    Gaps are exact integer µs."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("c_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    common = dict(
        key="user_id",
        version_ts="ts",
        probe_ts="ts",
        version_cols=["click_id", "c_us"],
        probe_cols=["event_id"],
    )
    back = T.asof_join(versions=clicks, probes=purchases, **common).select(
        "user_id",
        "ts",
        "event_id",
        F.col("click_id").alias("_b_id"),
        F.col("c_us").alias("_b_us"),
    )
    fwd = T.asof_join_forward(
        versions=clicks, probes=purchases, **common
    ).select(
        F.col("event_id").alias("_f_event"),
        F.col("click_id").alias("_f_id"),
        F.col("c_us").alias("_f_us"),
    )
    j = back.join(fwd, back["event_id"] == fwd["_f_event"], "left")
    t_us = F.unix_micros("ts")
    bgap = t_us - F.col("_b_us")
    fgap = F.col("_f_us") - t_us
    pick_back = F.col("_b_id").isNotNull() & (
        F.col("_f_id").isNull() | (bgap <= fgap)
    )
    return j.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        F.when(pick_back, F.col("_b_id")).otherwise(F.col("_f_id")).alias(
            "click_id"
        ),
        F.when(pick_back, bgap).otherwise(fgap).alias("gap_us"),
    )


@query(
    "agg_mad_outliers",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(floor(value * 1e6) AS BIGINT) AS vq
      FROM events),
    med AS (
      SELECT event_type, median(vq) AS m FROM v GROUP BY event_type),
    dev AS (
      SELECT v.event_type, v.vq, abs(v.vq - med.m) AS ad
      FROM v JOIN med USING (event_type)),
    mad AS (
      SELECT event_type, median(ad) AS mad FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           any_value(med.m) AS med,
           any_value(mad.mad) AS mad,
           CAST(SUM(CASE WHEN d.ad > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN med USING (event_type) JOIN mad USING (event_type)
    GROUP BY d.event_type
    """,
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: flag values whose absolute deviation
    from the group MEDIAN exceeds 3× the median absolute deviation —
    the estimator quality screens use because mean/stddev are dragged
    by the outliers being hunted (50% breakdown point vs 0%). Three
    exact passes (median → deviations+MAD → threshold count), each a
    partial-aggregatable hash agg with the tiny per-group medians
    broadcast back; values quantized to 1e-6 integer units so both
    engines interpolate medians over identical doubles. At 100 TB
    swap the exact medians for GK sketches (agg_approx_percentile)
    and keep the same three-pass shape. The classical 1.4826
    consistency factor is omitted (threshold is 3·MAD directly)."""
    from flirt_consume_spark.queries.base import finite_or_fail

    ev = t(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.floor(finite_or_fail(F.col("value"), "agg_mad_outliers") * 1e6)
        .cast("bigint")
        .alias("vq"),
    )
    med = v.groupBy("event_type").agg(F.median("vq").alias("m"))
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type", "vq", F.abs(F.col("vq") - F.col("m")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(F.median("ad").alias("mad"))
    return (
        dev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.first("m").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
    )
